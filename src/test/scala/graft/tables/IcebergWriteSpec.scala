package graft.tables

import graft.SparkSpec
import graft.core.Filter
import org.apache.hadoop.fs.Path

/** Native Iceberg append: create-then-extend with the Hadoop-catalog
  * commit protocol, snapshot history, time travel to the first
  * commit, refusal semantics, and the commit race (two concurrent
  * writers must BOTH land).
  */
class IcebergWriteSpec extends SparkSpec {
  import spark.implicits._

  test("append creates the table; second append extends it; time travel sees v1") {
    val dir = tempDir("icew").toString + "/t"
    val s1 = IcebergWrite.append(spark,
      Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "part"), dir, Seq("part"))
    val s2 = IcebergWrite.append(spark,
      Seq((3L, "c", 1)).toDF("id", "v", "part"), dir) // partitioning from spec
    assert(s1 == 1L && s2 == 2L)

    val t = new IcebergTable("t", dir)
    assert(t(spark, ReadArgs.empty).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 1)))
    // identity pruning still works on written tables
    val p1 = t(spark, ReadArgs.where(Filter("part", "=", 1)))
    assert(p1.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // first snapshot via time travel
    assert(t(spark, ReadArgs(extra = Map(t.SnapshotIdKey -> s1)))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("staged files land under data/ in Hive layout (qualified listings relativized)") {
    val dir = tempDir("icew-layout").toString + "/t"
    IcebergWrite.append(spark,
      Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "part"), dir, Seq("part"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = IcebergMeta.load(fs, dir)
    val files = IcebergMeta.planFiles(fs, meta.snapshots.maxBy(_.id)).map(_.path)
    assert(files.nonEmpty)
    files.foreach { p =>
      // fs.listFiles returns scheme-qualified paths; a raw stripPrefix
      // against the unqualified staging path would leak "file:/..." and
      // the staging dir name into the table layout
      assert(!p.contains("file:"), s"qualified path leaked into layout: $p")
      assert(!p.contains("_staging"), s"staging dir leaked into layout: $p")
      val rel = p.stripPrefix(new org.apache.hadoop.fs.Path(dir).toUri.getPath)
        .stripPrefix("/")
      assert(rel.matches("data/part=\\d+/[^/]+\\.parquet"), s"unexpected layout: $rel")
    }
    // staging dir cleaned up
    assert(!fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith("_staging")))
  }

  test("deleteWhere writes position deletes the reader applies; time travel intact") {
    val dir = tempDir("icew-del").toString + "/t"
    val s1 = IcebergWrite.append(spark,
      Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1))
        .toDF("id", "v", "part"), dir, Seq("part"))
    val s2 = IcebergWrite.deleteWhere(spark, dir,
      graft.core.Filters.normalize(Seq(Filter("id", "in", Seq(2, 3)))))
    assert(s2 > s1)

    val t = new IcebergTable("t", dir)
    assert(t(spark, ReadArgs.empty).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 4L))
    // merge-on-read: NO data file rewritten — both partitions still
    // serve their original files, plus delete files in the plan
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = IcebergMeta.load(fs, dir)
    val files = IcebergMeta.planFiles(fs, meta.snapshots.maxBy(_.sequenceNumber))
    assert(files.count(_.content == 0) == files.filter(_.content == 0).map(_.path).distinct.size)
    assert(files.exists(_.content == 1), "expected a position delete file planned")
    // pre-delete snapshot still reads all rows
    assert(t(spark, ReadArgs(extra = Map(t.SnapshotIdKey -> s1)))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // a second delete composes; predicate touching partition col prunes
    IcebergWrite.deleteWhere(spark, dir,
      graft.core.Filters.normalize(Seq(Filter("part", "=", 1))))
    assert(t(spark, ReadArgs.empty).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // appended rows after a delete are untouched by it
    IcebergWrite.append(spark, Seq((5L, "e", 0)).toDF("id", "v", "part"), dir)
    assert(t(spark, ReadArgs.empty).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 5L))
    // no-match delete is a no-op (no new snapshot)
    val before = IcebergMeta.load(fs, dir).snapshots.size
    IcebergWrite.deleteWhere(spark, dir,
      graft.core.Filters.normalize(Seq(Filter("id", "=", 999))))
    assert(IcebergMeta.load(fs, dir).snapshots.size == before)
  }

  test("deleteWhere records the manifest-spelled file_path byte-for-byte (scheme-qualified tables)") {
    // a foreign writer that records scheme-qualified data-file paths:
    // external readers compare file_path EXACTLY, so the delete rows
    // must carry the manifest's spelling, not a normalized form
    val root = tempDir("icew-qual").toString + "/t"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    fs.mkdirs(metaDir)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(root + "/data")
    val st = fs.listStatus(new Path(root, "data"))
      .find(_.getPath.getName.endsWith(".parquet")).get
    val qualified = "file:" + st.getPath.toUri.getPath // the foreign spelling

    val entrySchema = IcebergManifests.manifestEntrySchema(Seq.empty)
    val manifestPath = new Path(metaDir, "m-data.avro")
    locally {
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](entrySchema))
      w.setMeta("format-version", "2"); w.setMeta("content", "data")
      w.create(entrySchema, fs.create(manifestPath, true))
      try {
        val dfSchema = entrySchema.getField("data_file").schema()
        val d = new org.apache.avro.generic.GenericData.Record(dfSchema)
        d.put("content", 0)
        d.put("file_path", qualified)
        d.put("file_format", "PARQUET")
        d.put("partition", new org.apache.avro.generic.GenericData.Record(
          dfSchema.getField("partition").schema()))
        d.put("record_count", 3L)
        d.put("file_size_in_bytes", st.getLen)
        val e = new org.apache.avro.generic.GenericData.Record(entrySchema)
        e.put("status", 1); e.put("snapshot_id", 1L)
        e.put("sequence_number", 1L); e.put("file_sequence_number", 1L)
        e.put("data_file", d)
        w.append(e)
      } finally w.close()
    }
    val listPath = new Path(metaDir, "snap-1.avro")
    locally {
      val s = IcebergManifests.manifestFileSchema
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](s))
        .create(s, fs.create(listPath, true))
      try {
        val r = new org.apache.avro.generic.GenericData.Record(s)
        r.put("manifest_path", manifestPath.toString)
        r.put("manifest_length", fs.getFileStatus(manifestPath).getLen)
        r.put("partition_spec_id", 0); r.put("content", 0)
        r.put("sequence_number", 1L); r.put("min_sequence_number", 1L)
        r.put("added_snapshot_id", 1L); r.put("added_files_count", 1)
        r.put("existing_files_count", 0); r.put("deleted_files_count", 0)
        r.put("added_rows_count", 3L); r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        w.append(r)
      } finally w.close()
    }
    val metaJson =
      s"""{"format-version":2,"table-uuid":"u","location":"$root",
         |"last-sequence-number":1,"last-updated-ms":1,"last-column-id":2,
         |"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"id","required":false,"type":"long"},
         |  {"id":2,"name":"v","required":false,"type":"string"}]}],
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"sequence-number":1,"timestamp-ms":1,
         |  "manifest-list":"$listPath","schema-id":0}]}""".stripMargin
    val out = fs.create(new Path(metaDir, "v1.metadata.json"), true)
    out.write(metaJson.getBytes("UTF-8")); out.close()

    IcebergWrite.deleteWhere(spark, root,
      graft.core.Filters.normalize(Seq(Filter("id", "=", 2))))

    // the staged position-delete parquet carries the qualified spelling
    val meta = IcebergMeta.load(fs, root)
    val delFiles = IcebergMeta.planFiles(fs, meta.snapshots.maxBy(_.sequenceNumber))
      .filter(_.content == 1)
    assert(delFiles.nonEmpty)
    val delRows = spark.read.parquet(delFiles.map(_.path): _*)
      .select("file_path").collect().map(_.getString(0)).toSeq
    assert(delRows.nonEmpty && delRows.forall(_ == qualified),
      s"delete rows must byte-match the manifest path $qualified, got $delRows")
    // and graft's own reader still applies them
    assert(new IcebergTable("t", root)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("appends interleave with exported Delta history refusals and schema checks") {
    val delta = tempDir("icew-delta").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), delta)
    val e1 = intercept[IllegalArgumentException] {
      IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), delta)
    }
    assert(e1.getMessage.contains("Delta table"))

    val dir = tempDir("icew-schema").toString + "/t"
    IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    // int-into-long casts up (evolution spec); an incompatible type refuses
    val e2 = intercept[IllegalArgumentException] {
      IcebergWrite.append(spark, Seq(("x", "a")).toDF("id", "v"), dir) // id: string, not long
    }
    assert(e2.getMessage.contains("schema mismatch"))
  }

  test("additive schema evolution: new columns append, old files read typed nulls, widening works") {
    val dir = tempDir("icew-evo").toString + "/t"
    IcebergWrite.append(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"), dir)

    // add a column: new schema id, old rows surface typed nulls
    IcebergWrite.append(spark,
      Seq((3, "c", 3.5)).toDF("id", "v", "score"), dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta1 = IcebergMeta.load(fs, dir)
    assert(meta1.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    val got1 = new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.get(2)))).toSeq
    assert(got1 == Seq((1, "a", None), (2, "b", None), (3, "c", Some(3.5))))

    // widen id int→long (a new schema id again); old int files upcast
    IcebergWrite.append(spark,
      Seq((4L, "d", Option.empty[Double])).toDF("id", "v", "score"), dir)
    val meta2 = IcebergMeta.load(fs, dir)
    assert(meta2.schema("id").dataType == org.apache.spark.sql.types.LongType)
    val got2 = new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .orderBy("id").select("id").collect().map(_.getLong(0)).toSeq
    assert(got2 == Seq(1L, 2L, 3L, 4L))
    // two evolutions = three schemas in metadata, fresh field id for score
    val root = IcebergWrite.readRoot(fs, new Path(dir, "metadata"),
      IcebergMeta.currentVersion(fs, dir))
    assert(IcebergMeta.elements(root.path("schemas")).size == 3)
    assert(root.path("last-column-id").asInt() == 3)
    assert(meta2.schemaFieldIds(3) == "score")

    // a NARROWER frame (int into the now-long id) casts up, no new schema
    IcebergWrite.append(spark,
      Seq((5, "e", 1.0)).toDF("id", "v", "score"), dir)
    assert(IcebergMeta.elements(IcebergWrite.readRoot(fs, new Path(dir, "metadata"),
      IcebergMeta.currentVersion(fs, dir)).path("schemas")).size == 3)
    assert(new IcebergTable("t", dir)(spark, ReadArgs.empty).count() == 5)

    // incompatible type and dropped column still refuse
    intercept[IllegalArgumentException] {
      IcebergWrite.append(spark, Seq(("x", "a", 1.0)).toDF("id", "v", "score"), dir)
    }
    intercept[IllegalArgumentException] {
      IcebergWrite.append(spark, Seq(Tuple1(9L)).toDF("id"), dir)
    }
  }

  test("two racing appends both commit (put-if-absent + retry)") {
    val dir = tempDir("icew-race").toString + "/t"
    IcebergWrite.append(spark, Seq((0L, "seed")).toDF("id", "v"), dir)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        try IcebergWrite.append(spark,
          Seq((i.toLong * 10, s"w$i")).toDF("id", "v"), dir)
        catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"racing append failed: ${errors.peek()}")
    val got = new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(0L, 10L, 20L))
    // three snapshots, strictly increasing sequence numbers
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = IcebergMeta.load(fs, dir)
    assert(meta.snapshots.size == 3)
    assert(meta.snapshots.map(_.sequenceNumber).sorted == Seq(1L, 2L, 3L))
  }

  /** Runs `maintain` on the table at `dir` while an append of `rows`
    * commits from another thread in between: after the maintenance
    * commit has read its base metadata and before it publishes (the
    * table is opened through [[PausingLocalFs]], whose first metadata
    * read waits for the append). The maintenance attempt so loses the
    * race to the append and must retry on top of it. Checks that both
    * commits land as two new, contiguous metadata versions, that no
    * metadata file committed before the maintenance publish changed,
    * and that metadata-log stays continuous. Returns the maintenance
    * result and the table's path through the pausing filesystem.
    */
  private def raceMaintenance[A](dir: String, rows: Seq[(Long, String)])(
      maintain: String => A): (A, String) = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.pausefs.impl", classOf[PausingLocalFs].getName)
    val paused = "pausefs://" + dir
    val fs = new Path(paused).getFileSystem(conf)
    val metaDir = new Path(paused, "metadata")
    val base = IcebergWrite.latestVersionByScan(fs, metaDir).get
    def metadataBytes(): Map[String, Seq[Byte]] =
      fs.listStatus(metaDir).map(_.getPath).filter(_.getName.endsWith(".metadata.json"))
        .map { p =>
          val in = fs.open(p)
          p.getName -> (try in.readAllBytes().toSeq finally in.close())
        }.toMap
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() =>
      try IcebergWrite.append(spark, rows.toDF("id", "v"), dir)
      catch { case t: Throwable => errors.add(t) })
    var beforePublish = Map.empty[String, Seq[Byte]]
    PausingLocalFs.onMetadataRead.set { () =>
      appender.start()
      appender.join()
      beforePublish = metadataBytes()
    }
    val result = try maintain(paused) finally PausingLocalFs.onMetadataRead.set(null)
    assert(errors.isEmpty, s"racing append failed: ${errors.peek()}")
    assert(beforePublish.size == base + 1, "the append did not commit inside the race window")
    val after = metadataBytes()
    assert(after.keySet == (1 to base + 2).map(v => s"v$v.metadata.json").toSet,
      s"metadata versions: ${after.keys.toSeq.sorted}")
    beforePublish.foreach { case (name, bytes) =>
      assert(after(name) == bytes, s"$name was overwritten")
    }
    IcebergMaintenanceSpec.assertMetadataLogContinuous(fs, paused)
    (result, paused)
  }

  test("an append racing expireSnapshots: both commit, the expiry replans") {
    val dir = tempDir("icew-race-exp").toString + "/t"
    val seeded = (1 to 3).map(i => IcebergWrite.append(spark, Seq((i.toLong, s"s$i")).toDF("id", "v"), dir))
    val (expired, paused) = raceMaintenance(dir, Seq((10L, "w"))) { t =>
      IcebergMaintenance.expireSnapshots(spark, t, keepLast = 1)
    }
    // the first attempt planned against v3 (expiring s1, s2); the
    // retry sees the append's snapshot as current and expires s3 too
    assert(expired == seeded)
    val fs = new Path(paused).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = IcebergMeta.load(fs, paused)
    assert(meta.snapshots.size == 1 && !seeded.contains(meta.currentSnapshotId.get))
    assert(new IcebergTable("t", paused)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 10L))
  }

  test("an append racing rewriteManifests: both commit, the rewrite replans") {
    val dir = tempDir("icew-race-rwm").toString + "/t"
    (1 to 3).foreach(i => IcebergWrite.append(spark, Seq((i.toLong, s"s$i")).toDF("id", "v"), dir))
    val (rewritten, paused) = raceMaintenance(dir, Seq((10L, "w"))) { t =>
      IcebergMaintenance.rewriteManifests(spark, t)
    }
    val fs = new Path(paused).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = IcebergMeta.load(fs, paused)
    assert(rewritten.nonEmpty && meta.currentSnapshotId == rewritten)
    // the retry consolidated the append's manifest too
    val snap = meta.snapshots.find(s => rewritten.contains(s.id)).get
    assert(IcebergMeta.readAvro(fs, new Path(snap.manifestList)).size == 1)
    assert(IcebergMeta.parse(IcebergWrite.readRoot(fs, new Path(paused, "metadata"), 5), paused)
      .snapshots.size == 5)
    assert(new IcebergTable("t", paused)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 10L))
  }

  test("a UniForm-exported table stays Delta-owned: IcebergWrite refuses") {
    val dir = tempDir("icew-dv").toString + "/t"
    // single-writer-per-format invariant: the Delta log is the source
    // of truth for exported tables; an Iceberg-side append would fork
    // the two histories
    DeltaWrite.append(spark, (1L to 4L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    graft.export.IcebergUniform.export(spark, dir)
    val e = intercept[IllegalArgumentException] {
      IcebergWrite.append(spark, Seq((9L, "x")).toDF("id", "v"), dir)
    }
    assert(e.getMessage.contains("Delta table"))
  }
}

/** The local filesystem under its own `pausefs` scheme, whose first
  * open of a `*.metadata.json` file after a test arms
  * [[PausingLocalFs.onMetadataRead]] runs that callback first: the
  * point where an Iceberg commit has found its base version and not
  * yet published the next one.
  */
class PausingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("pausefs:///")
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName.endsWith(".metadata.json"))
      Option(PausingLocalFs.onMetadataRead.getAndSet(null)).foreach(_.run())
    super.open(f, bufferSize)
  }
}

object PausingLocalFs {
  val onMetadataRead = new java.util.concurrent.atomic.AtomicReference[Runnable]()
}

package graft.tables

import graft.SparkSpec
import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** Iceberg v3 ecosystem: plain v3 tables read; snapshots carrying
  * Puffin DELETION VECTORS (spec fields 143–145) are READ — the
  * deletion-vector-v1 blob parsed at content_offset and applied as a
  * row-index anti-filter (r11) — while corrupt blobs and
  * field-incomplete DV entries refuse LOUDLY (misreading a Puffin
  * file would be silent garbage); v3 column `initial-default` values
  * fill pre-evolution files per-file — top-level AND struct-nested,
  * probed executor-side above a handful of files — while defaults
  * under list/map elements refuse loudly.
  */
class IcebergV3Spec extends SparkSpec {
  import spark.implicits._

  /** Entry schema with the v3 DV fields a foreign writer would add. */
  private val v3EntrySchema: AvroSchema = new AvroSchema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int","field-id":134},
      |{"name":"file_path","type":"string","field-id":100},
      |{"name":"file_format","type":"string","field-id":101},
      |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
      |{"name":"record_count","type":"long","field-id":103},
      |{"name":"file_size_in_bytes","type":"long","field-id":104},
      |{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
      |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
      |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}
      |]}}]}""".stripMargin)

  /** Build a v3 table: one parquet data file, optionally one
    * Puffin-DV delete entry referencing it (a REAL deletion-vector-v1
    * blob deleting row positions 1 — or corrupt bytes when
    * `corruptDv`, the loud-refusal shape).
    */
  private def buildV3(root: String, withDv: Boolean,
      schemaFieldsJson: String = defaultFields, corruptDv: Boolean = false,
      withW: Boolean = false,
      dataOverride: Seq[org.apache.spark.sql.DataFrame] = Seq.empty): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    fs.mkdirs(metaDir)
    val dataDfs =
      if (dataOverride.nonEmpty) dataOverride
      else if (!withW) Seq(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
      else Seq(Seq((1L, "a", Some(9L)), (2L, "b", None), (3L, "c", Some(5L)))
        .toDF("id", "v", "w"))
    val dataFiles = dataDfs.zipWithIndex.map { case (df, i) =>
      df.coalesce(1).write.mode("overwrite").parquet(root + s"/data$i")
      fs.listStatus(new Path(root + s"/data$i"))
        .find(_.getPath.getName.endsWith(".parquet")).get
    }
    val dataFile = dataFiles.head
    val puffin = new Path(root, "deletes/dv.puffin")
    var dvOffset = 4L
    var dvSize = 20L
    if (withDv) {
      fs.mkdirs(puffin.getParent)
      if (corruptDv) {
        val o = fs.create(puffin, true)
        o.write("PFA1not-actually-parquet".getBytes("UTF-8")); o.close()
        dvOffset = 4L; dvSize = 20L
      } else {
        val (off, size) = IcebergPuffin.writeDvPuffin(fs, puffin,
          RoaringBitmapArray.fromSorted(Array(1L)),
          dataFile.getPath.toUri.getPath)
        dvOffset = off; dvSize = size
      }
    }

    val mPath = new Path(metaDir, "m1.avro")
    locally {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](v3EntrySchema))
      w.setMeta("format-version", "2")
      w.create(v3EntrySchema, fs.create(mPath, true))
      val dfSchema = v3EntrySchema.getField("data_file").schema()
      def entry(path: String, content: Int, dv: Boolean): GenericRecord = {
        val d = new GenericData.Record(dfSchema)
        d.put("content", content)
        d.put("file_path", path)
        d.put("file_format", if (dv) "PUFFIN" else "PARQUET")
        d.put("partition", new GenericData.Record(dfSchema.getField("partition").schema()))
        d.put("record_count", 3L)
        d.put("file_size_in_bytes", 10L)
        if (dv) {
          d.put("referenced_data_file", dataFile.getPath.toUri.getPath)
          d.put("content_offset", dvOffset)
          d.put("content_size_in_bytes", dvSize)
        }
        val e = new GenericData.Record(v3EntrySchema)
        e.put("status", 1)
        e.put("snapshot_id", 1L)
        e.put("sequence_number", 1L)
        e.put("file_sequence_number", 1L)
        e.put("data_file", d)
        e
      }
      try {
        dataFiles.foreach(f => w.append(entry(f.getPath.toUri.getPath, 0, dv = false)))
        if (withDv) w.append(entry(puffin.toUri.getPath, 1, dv = true))
      } finally w.close()
    }
    val listPath = new Path(metaDir, "snap-1.avro")
    locally {
      val s = IcebergManifests.manifestFileSchema
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](s))
        .create(s, fs.create(listPath, true))
      val r = new GenericData.Record(s)
      r.put("manifest_path", mPath.toString)
      r.put("manifest_length", fs.getFileStatus(mPath).getLen)
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("sequence_number", 1L)
      r.put("min_sequence_number", 1L)
      r.put("added_snapshot_id", 1L)
      r.put("added_files_count", dataFiles.size + (if (withDv) 1 else 0))
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", 3L)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      try w.append(r) finally w.close()
    }
    val metaJson =
      s"""{"format-version":3,"table-uuid":"u","location":"$root",
         |"last-sequence-number":1,"last-updated-ms":1,"last-column-id":2,
         |"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[$schemaFieldsJson]}],
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"sequence-number":1,"timestamp-ms":1,
         |  "manifest-list":"$listPath","schema-id":0}]}""".stripMargin
    val out = fs.create(new Path(metaDir, "v1.metadata.json"), true)
    out.write(metaJson.getBytes("UTF-8")); out.close()
  }

  private val defaultFields =
    """{"id":1,"name":"id","required":false,"type":"long"},
      |{"id":2,"name":"v","required":false,"type":"string"}""".stripMargin

  test("changelog over DV commits: new and REPLACEMENT DVs emit exactly the newly-dead rows") {
    val root = tempDir("ice-v3-chg").toString + "/t"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    fs.mkdirs(metaDir)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(root + "/data")
    val dataPath = fs.listStatus(new Path(root + "/data"))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath.toUri.getPath
    // snap2 adds a DV deleting position 1; snap3 REPLACES it with a
    // DV deleting positions {1, 2} (per the v3 spec a new DV carries
    // the old one's positions) — the changelog must emit only the
    // newly-dead row per commit
    val p1 = new Path(root, "deletes/dv1.puffin")
    val (o1, s1) = IcebergPuffin.writeDvPuffin(fs, p1,
      RoaringBitmapArray.fromSorted(Array(1L)), dataPath)
    val p2 = new Path(root, "deletes/dv2.puffin")
    val (o2, s2) = IcebergPuffin.writeDvPuffin(fs, p2,
      RoaringBitmapArray.fromSorted(Array(1L, 2L)), dataPath)

    def mkEntry(path: String, content: Int, seq: Long,
        dv: Option[(Long, Long)]): GenericRecord = {
      val dfSchema = v3EntrySchema.getField("data_file").schema()
      val d = new GenericData.Record(dfSchema)
      d.put("content", content)
      d.put("file_path", path)
      d.put("file_format", if (dv.isDefined) "PUFFIN" else "PARQUET")
      d.put("partition", new GenericData.Record(dfSchema.getField("partition").schema()))
      d.put("record_count", 3L)
      d.put("file_size_in_bytes", 10L)
      dv.foreach { case (off, size) =>
        d.put("referenced_data_file", dataPath)
        d.put("content_offset", off)
        d.put("content_size_in_bytes", size)
      }
      val e = new GenericData.Record(v3EntrySchema)
      e.put("status", 1); e.put("snapshot_id", seq)
      e.put("sequence_number", seq); e.put("file_sequence_number", seq)
      e.put("data_file", d)
      e
    }
    def writeManifest(name: String, entries: Seq[GenericRecord]): Path = {
      val p = new Path(metaDir, name)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](v3EntrySchema))
      w.setMeta("format-version", "2")
      w.create(v3EntrySchema, fs.create(p, true))
      try entries.foreach(w.append) finally w.close()
      p
    }
    def writeList(name: String, manifests: Seq[(Path, Int, Long)]): Path = {
      val p = new Path(metaDir, name)
      val s = IcebergManifests.manifestFileSchema
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](s))
        .create(s, fs.create(p, true))
      try manifests.foreach { case (mp, content, seq) =>
        val r = new GenericData.Record(s)
        r.put("manifest_path", mp.toString)
        r.put("manifest_length", fs.getFileStatus(mp).getLen)
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", seq)
        r.put("added_snapshot_id", seq)
        r.put("added_files_count", 1)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", 3L)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        w.append(r)
      } finally w.close()
      p
    }
    val m1 = writeManifest("m1.avro", Seq(mkEntry(dataPath, 0, 1L, None)))
    val m2 = writeManifest("m2.avro", Seq(mkEntry(p1.toUri.getPath, 1, 2L, Some((o1, s1)))))
    val m3 = writeManifest("m3.avro", Seq(mkEntry(p2.toUri.getPath, 1, 3L, Some((o2, s2)))))
    val l1 = writeList("snap-1.avro", Seq((m1, 0, 1L)))
    val l2 = writeList("snap-2.avro", Seq((m1, 0, 1L), (m2, 1, 2L)))
    val l3 = writeList("snap-3.avro", Seq((m1, 0, 1L), (m3, 1, 3L)))
    val metaJson =
      s"""{"format-version":3,"table-uuid":"u","location":"$root",
         |"last-sequence-number":3,"last-updated-ms":3,"last-column-id":2,
         |"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[$defaultFields]}],
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,"current-snapshot-id":3,
         |"snapshots":[
         | {"snapshot-id":1,"sequence-number":1,"timestamp-ms":1,
         |  "manifest-list":"$l1","schema-id":0},
         | {"snapshot-id":2,"sequence-number":2,"timestamp-ms":2,
         |  "parent-snapshot-id":1,"manifest-list":"$l2","schema-id":0},
         | {"snapshot-id":3,"sequence-number":3,"timestamp-ms":3,
         |  "parent-snapshot-id":2,"manifest-list":"$l3","schema-id":0}]}""".stripMargin
    val out = fs.create(new Path(metaDir, "v1.metadata.json"), true)
    out.write(metaJson.getBytes("UTF-8")); out.close()

    val t = new IcebergTable("t", root)
    // snapshot read at head applies the replacement DV
    assert(t(spark, ReadArgs.empty).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L))
    val got = t.changes(spark, 1L, 3L)
      .select(col("id").as[Long],
        col(IcebergTable.ChangeTypeCol).as[String],
        col(IcebergTable.ChangeOrdinalCol).as[Int])
      .collect().toSet
    assert(got == Set((2L, "delete", 1), (3L, "delete", 2)), got)
  }

  test("deleteWhereDv round-trips: write → snapshot read → changelog → replacement") {
    import graft.core.{Filter, Filters}
    val root = tempDir("ice-dvw").toString + "/t"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val s0 = IcebergWrite.append(spark,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), root)
    def ids(): Seq[Long] = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .select("id").as[Long].collect().sorted.toSeq

    val s1 = IcebergWrite.deleteWhereDv(spark, root,
      Filters.normalize(Seq(Filter("id", "<=", 3L))))
    assert(s1 != s0)
    assert(ids() == (4L to 10L))
    val meta1 = IcebergMeta.load(fs, root)
    assert(meta1.formatVersion == 3)
    val dvs1 = IcebergMeta.planFiles(fs,
      meta1.snapshots.find(_.id == s1).get).filter(_.isDeletionVector)
    assert(dvs1.size == 1 && dvs1.head.fileFormat == "PUFFIN")
    assert(dvs1.head.recordCount == 3L)
    assert(dvs1.head.referencedDataFile.isDefined)
    // changelog emits exactly the newly-dead rows
    val t = new IcebergTable("t", root)
    assert(t.changes(spark, s0, s1)
      .select(col("id").as[Long], col(IcebergTable.ChangeTypeCol).as[String])
      .collect().toSet == (1L to 3L).map((_, "delete")).toSet)

    // second delete of the SAME file → replacement: still exactly one
    // DV, carrying the union of old + new positions
    val s2 = IcebergWrite.deleteWhereDv(spark, root,
      Filters.normalize(Seq(Filter("id", "<=", 5L))))
    assert(ids() == (6L to 10L))
    val meta2 = IcebergMeta.load(fs, root)
    val dvs2 = IcebergMeta.planFiles(fs,
      meta2.snapshots.find(_.id == s2).get).filter(_.isDeletionVector)
    assert(dvs2.size == 1, s"expected ONE dv after replacement, got ${dvs2.size}")
    assert(dvs2.head.recordCount == 5L)
    // the changelog sees only the NEWLY-dead rows of the replacement
    assert(t.changes(spark, s1, s2)
      .select(col("id").as[Long], col(IcebergTable.ChangeTypeCol).as[String])
      .collect().toSet == Set((4L, "delete"), (5L, "delete")))

    // v2 deleteWhere on the now-v3 table AUTO-ROUTES to the DV writer
    // (the spec forbids new position-delete files there; refusing
    // outright would dead-end SQL DELETE after the first DV commit)
    val s3 = IcebergWrite.deleteWhere(spark, root,
      Filters.normalize(Seq(Filter("id", "=", 9L))))
    assert(s3 > s2)
    assert(new IcebergTable("t", root)(spark, ReadArgs.empty)
      .select(col("id").as[Long]).collect().toSet.intersect(Set(9L)).isEmpty)
    // the routed delete wrote a DV (a content=1 entry addressing a
    // Puffin blob per the v3 spec), never a position-delete PARQUET
    assert(IcebergMetaTables.files(spark, root)
      .where(col("content") === 1).select("file_path")
      .collect().forall(!_.getString(0).endsWith(".parquet")),
      "a v3 routed delete must never add position-delete parquet files")
    // no-match predicates commit nothing
    assert(IcebergWrite.deleteWhereDv(spark, root,
      Filters.normalize(Seq(Filter("id", ">", 99L)))) == s3)
  }

  test("deleteWhereDv across partitions: one Puffin container, one DV per file") {
    import graft.core.{Filter, Filters}
    val root = tempDir("ice-dvw-p").toString + "/t"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val s0 = IcebergWrite.append(spark,
      (1L to 20L).map(i => (i, (i % 2).toInt, s"v$i")).toDF("id", "p", "v"),
      root, partitionBy = Seq("p"))
    val s1 = IcebergWrite.deleteWhereDv(spark, root,
      Filters.normalize(Seq(Filter("id", "<=", 4L))))
    val t = new IcebergTable("t", root)
    assert(t(spark, ReadArgs.empty).select("id").as[Long].collect().sorted.toSeq ==
      (5L to 20L))
    val meta = IcebergMeta.load(fs, root)
    val dvs = IcebergMeta.planFiles(fs,
      meta.snapshots.find(_.id == s1).get).filter(_.isDeletionVector)
    // ids 1..4 live in both parity partitions → one DV per data file,
    // all blobs in ONE Puffin container
    assert(dvs.size == 2, s"expected 2 DVs, got ${dvs.size}")
    assert(dvs.map(_.path).distinct.size == 1, "expected one shared Puffin container")
    assert(dvs.map(_.recordCount).sum == 4L)
    // partition tuples rode along (DV entries are partition-scoped)
    assert(dvs.flatMap(_.partition.get("p")).toSet == Set(0, 1))
    // partition-pruned read composes with the DVs
    val even = t(spark, ReadArgs(filters = Filters.normalize(Seq(Filter("p", "=", 0)))))
      .select("id").as[Long].collect().sorted.toSeq
    assert(even == (6L to 20L by 2))
  }

  test("a plain v3 table (no DVs, no defaults) reads fine") {
    val root = tempDir("ice-v3-plain").toString + "/t"
    buildV3(root, withDv = false)
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("a v3 deletion-vector snapshot READS: the DV's positions drop") {
    val root = tempDir("ice-v3-dv").toString + "/t"
    buildV3(root, withDv = true)
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .select("id", "v").as[(Long, String)].collect().sorted.toSeq
    // position 1 (id 2) is deleted by the Puffin bitmap
    assert(got == Seq((1L, "a"), (3L, "c")))
    // filters/projections compose over the DV-filtered scan
    val filtered = new IcebergTable("t", root)(spark, ReadArgs(
      filters = graft.core.Filters.normalize(Seq(graft.core.Filter("id", ">=", 2L))),
      columns = Some(Seq("id"))))
      .as[Long].collect().sorted.toSeq
    assert(filtered == Seq(3L))
  }

  test("a corrupt deletion-vector-v1 blob refuses loudly, file named") {
    val root = tempDir("ice-v3-dvc").toString + "/t"
    buildV3(root, withDv = true, corruptDv = true)
    val e = intercept[IllegalArgumentException] {
      new IcebergTable("t", root)(spark, ReadArgs.empty).collect()
    }
    assert(e.getMessage.contains("deletion-vector-v1") &&
      e.getMessage.contains("dv.puffin"), e.getMessage)
  }

  test("the DV blob round-trips through the Puffin codec bit-exactly") {
    val fs = new Path(tempDir("ice-v3-rt").toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(tempDir("ice-v3-rt2").toString, "x.puffin")
    val bm = RoaringBitmapArray.fromSorted(
      Array(0L, 5L, 65536L, (1L << 32) + 7L, (1L << 33)))
    val (off, size) = IcebergPuffin.writeDvPuffin(fs, p, bm, "/data/f.parquet")
    val back = RoaringBitmapArray.deserialize(IcebergPuffin.readDvBlob(fs, p, off, size))
    assert(back.toArray.toSeq == bm.toArray.toSeq)
    assert(back.cardinality == 5)
  }

  private val defaultWFields =
    """{"id":1,"name":"id","required":false,"type":"long"},
      |{"id":2,"name":"v","required":false,"type":"string"},
      |{"id":3,"name":"w","required":false,"type":"long","initial-default":7}""".stripMargin

  test("v3 initial-default: pre-evolution files read the default, not null") {
    val root = tempDir("ice-v3-def").toString + "/t"
    // the data file carries only (id, v) — column w postdates it
    buildV3(root, withDv = false, schemaFieldsJson = defaultWFields)
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .select("id", "w").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 7L), (2L, 7L), (3L, 7L)))
  }

  test("v3 initial-default: files that CARRY the field keep stored values, nulls included") {
    val root = tempDir("ice-v3-defw").toString + "/t"
    // the data file has w with an explicit null — the default must NOT
    // overwrite genuine post-evolution nulls
    buildV3(root, withDv = false, schemaFieldsJson = defaultWFields, withW = true)
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .select("id", "w").as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, Some(9L)), (2L, None), (3L, Some(5L))))
  }

  test("v3 initial-default on a STRUCT-NESTED field fills pre-evolution files") {
    val root = tempDir("ice-v3-defn").toString + "/t"
    // the data file's struct s carries only y — subfield x postdates
    // it and must read its default 7 wherever s itself is non-null
    // (a null STRUCT stays null: the struct's absence, not the
    // field's); the second file carries x with an explicit null that
    // the default must NOT overwrite
    val pre = Seq((1L, Some(10L)), (2L, None))
      .toDF("id", "y")
      .selectExpr("id", "if(y is null, null, named_struct('y', y)) as s")
    val post = Seq((3L, 30L, Some(77L)), (4L, 40L, None))
      .toDF("id", "y", "x").selectExpr("id", "named_struct('y', y, 'x', x) as s")
    buildV3(root, withDv = false, schemaFieldsJson =
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"s","required":false,"type":{"type":"struct","fields":[
        |  {"id":3,"name":"y","required":false,"type":"long"},
        |  {"id":4,"name":"x","required":false,"type":"long","initial-default":7}]}}""".stripMargin,
      dataOverride = Seq(pre, post))
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .select(col("id"), col("s.y"), col("s.x"))
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Some(10L), Some(7L)), // pre-evolution: default fills
      (2L, None, None),          // null struct stays null
      (3L, Some(30L), Some(77L)),// stored value wins
      (4L, Some(40L), None)))    // genuine post-evolution null kept
  }

  test("v3 initial-default TWO struct levels deep fills via the dotted path") {
    val root = tempDir("ice-v3-defn2").toString + "/t"
    val pre = Seq((1L, Some(10L)), (2L, None)).toDF("id", "y").selectExpr(
      "id",
      "if(y is null, null, named_struct('inner', named_struct('y', y))) as s")
    buildV3(root, withDv = false, schemaFieldsJson =
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"s","required":false,"type":{"type":"struct","fields":[
        |  {"id":3,"name":"inner","required":false,"type":{"type":"struct","fields":[
        |    {"id":4,"name":"y","required":false,"type":"long"},
        |    {"id":5,"name":"x","required":false,"type":"long","initial-default":7}]}}]}}""".stripMargin,
      dataOverride = Seq(pre))
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .select(col("id"), col("s.inner.y"), col("s.inner.x"))
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Some(10L), Some(7L)), // pre-evolution: default fills 2 deep
      (2L, None, None)))         // null outer struct stays null
  }

  test("v3 initial-default under a LIST element fills per element (r15)") {
    val root = tempDir("ice-v3-defl").toString + "/t"
    import org.apache.spark.sql.functions.{col, expr}
    // pre-evolution file: elements carry only y; x postdates it
    val pre = Seq((1L, Seq(10L, 20L)), (2L, Seq.empty[Long])).toDF("id", "ys")
      .select(col("id"), expr("transform(ys, t -> named_struct('y', t))").as("a"))
    // post-evolution file: x present, one element with an EXPLICIT null
    val post = Seq(3L).toDF("id").select(col("id"),
      expr("array(named_struct('y', 1L, 'x', 100L), " +
        "named_struct('y', 2L, 'x', cast(null as long)))").as("a"))
    buildV3(root, withDv = false, schemaFieldsJson =
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"a","required":false,"type":{"type":"list","element-id":3,
        |  "element":{"type":"struct","fields":[
        |    {"id":4,"name":"y","required":false,"type":"long"},
        |    {"id":5,"name":"x","required":false,"type":"long","initial-default":7}]}}}""".stripMargin,
      dataOverride = Seq(pre, post))
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .selectExpr("id", "transform(a, e -> e.x) AS xs")
      .as[(Long, Seq[Option[Long]])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Seq(Some(7L), Some(7L))),   // pre-evolution: default per element
      (2L, Seq.empty),                  // empty array stays empty
      (3L, Seq(Some(100L), None))),     // stored values win, explicit null kept
      got.toString)
  }

  test("v3 initial-default under a MAP value fills per entry (r15)") {
    val root = tempDir("ice-v3-defm").toString + "/t"
    import org.apache.spark.sql.functions.{col, expr}
    val pre = Seq(1L).toDF("id").select(col("id"),
      expr("map('k1', named_struct('y', 10L), 'k2', named_struct('y', 20L))").as("m"))
    val post = Seq(2L).toDF("id").select(col("id"),
      expr("map('k3', named_struct('y', 1L, 'x', 100L))").as("m"))
    buildV3(root, withDv = false, schemaFieldsJson =
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"m","required":false,"type":{"type":"map","key-id":3,"value-id":4,
        |  "key":"string",
        |  "value":{"type":"struct","fields":[
        |    {"id":5,"name":"y","required":false,"type":"long"},
        |    {"id":6,"name":"x","required":false,"type":"long","initial-default":7}]}}}""".stripMargin,
      dataOverride = Seq(pre, post))
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .selectExpr("id", "transform_values(m, (k, v) -> v.x) AS xs")
      .as[(Long, Map[String, Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Map("k1" -> 7L, "k2" -> 7L)),
      (2L, Map("k3" -> 100L))), got.toString)
  }

  test("v3 initial-default under a MAP KEY refuses loudly (filling would rewrite keys)") {
    val root = tempDir("ice-v3-defk").toString + "/t"
    buildV3(root, withDv = false, schemaFieldsJson =
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"m","required":false,"type":{"type":"map","key-id":3,"value-id":4,
        |  "key":{"type":"struct","fields":[
        |    {"id":5,"name":"x","required":false,"type":"long","initial-default":7}]},
        |  "value":"string"}}""".stripMargin)
    val e = intercept[UnsupportedOperationException] {
      new IcebergTable("t", root)(spark, ReadArgs.empty).collect()
    }
    assert(e.getMessage.contains("map-KEY"), e.getMessage)
  }

  test("writer-side scans refuse files predating a defaulted column (no silent null)") {
    val root = tempDir("ice-v3-defdel").toString + "/t"
    buildV3(root, withDv = false, schemaFieldsJson = defaultWFields)
    // deleteWhere's candidate scan would read w as NULL for the
    // pre-evolution file — predicate silently misses; refuse instead
    val e = intercept[UnsupportedOperationException] {
      IcebergWrite.deleteWhere(spark, root,
        graft.core.Filters.normalize(Seq(graft.core.Filter("w", "=", 7L))))
    }
    assert(e.getMessage.contains("initial-default") &&
      e.getMessage.contains("rewriteDataFiles"), e.getMessage)
    // the named exit works: the unscoped rewrite reads through the
    // FILLING read path, materializes the default, then DML proceeds
    IcebergMaintenance.rewriteDataFiles(spark, root)
    IcebergWrite.deleteWhere(spark, root,
      graft.core.Filters.normalize(Seq(graft.core.Filter("id", "=", 2L))))
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .select("id", "w").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 7L), (3L, 7L)))
  }

  test("v3 initial-default under TWO collection levels fills per inner element (r15)") {
    val root = tempDir("ice-v3-defll").toString + "/t"
    import org.apache.spark.sql.functions.{col, expr}
    val pre = Seq(1L).toDF("id").select(col("id"),
      expr("array(array(named_struct('y', 10L)), array(), array(named_struct('y', 20L)))")
        .as("a"))
    val post = Seq(2L).toDF("id").select(col("id"),
      expr("array(array(named_struct('y', 1L, 'x', 100L)))").as("a"))
    buildV3(root, withDv = false, schemaFieldsJson =
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"a","required":false,"type":{"type":"list","element-id":3,
        |  "element":{"type":"list","element-id":4,
        |    "element":{"type":"struct","fields":[
        |      {"id":5,"name":"y","required":false,"type":"long"},
        |      {"id":6,"name":"x","required":false,"type":"long","initial-default":7}]}}}}""".stripMargin,
      dataOverride = Seq(pre, post))
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .selectExpr("id",
        "transform(a, inner -> transform(inner, e -> e.x)) AS xs")
      .as[(Long, Seq[Seq[Option[Long]]])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Seq(Seq(Some(7L)), Seq.empty, Seq(Some(7L)))), // default per inner element
      (2L, Seq(Seq(Some(100L))))),                        // stored values win
      got.toString)
  }

  test("v3 initial-default under a MAP-of-LIST chain fills per element (r15)") {
    val root = tempDir("ice-v3-defml").toString + "/t"
    import org.apache.spark.sql.functions.{col, expr}
    val pre = Seq(1L).toDF("id").select(col("id"),
      expr("map('k', array(named_struct('y', 10L)))").as("m"))
    val post = Seq(2L).toDF("id").select(col("id"),
      expr("map('k2', array(named_struct('y', 1L, 'x', 100L)))").as("m"))
    buildV3(root, withDv = false, schemaFieldsJson =
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"m","required":false,"type":{"type":"map","key-id":3,"value-id":4,
        |  "key":"string",
        |  "value":{"type":"list","element-id":5,
        |    "element":{"type":"struct","fields":[
        |      {"id":6,"name":"y","required":false,"type":"long"},
        |      {"id":7,"name":"x","required":false,"type":"long","initial-default":7}]}}}}""".stripMargin,
      dataOverride = Seq(pre, post))
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .selectExpr("id",
        "transform_values(m, (k, v) -> transform(v, e -> e.x)) AS xs")
      .as[(Long, Map[String, Seq[Option[Long]]])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Map("k" -> Seq(Some(7L)))),
      (2L, Map("k2" -> Seq(Some(100L))))), got.toString)
  }

  test("many-file defaulted table: footer probe runs EXECUTOR-side (zero driver opens)") {
    val root = tempDir("ice-v3-defm").toString + "/t"
    // 6 files (> DriverFooterProbeMax): 3 pre-evolution (no w), 3 with w
    val dfs = (0 until 6).map { i =>
      if (i < 3) Seq((i.toLong, s"v$i")).toDF("id", "v")
      else Seq((i.toLong, s"v$i", i.toLong * 100)).toDF("id", "v", "w")
    }
    buildV3(root, withDv = false, schemaFieldsJson = defaultWFields,
      dataOverride = dfs)
    val before = IcebergTable.driverFooterProbes.get()
    val got = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .select("id", "w").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 7L), (1L, 7L), (2L, 7L),
      (3L, 300L), (4L, 400L), (5L, 500L)))
    assert(IcebergTable.driverFooterProbes.get() == before,
      "a >DriverFooterProbeMax-file defaulted table must probe footers " +
        "executor-side, never on the driver")
    // second read: the per-(field set, file) cache answers — still no
    // driver opens, and correctness unchanged
    val again = new IcebergTable("t", root)(spark, ReadArgs.empty)
      .select("id", "w").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(again == got)
    assert(IcebergTable.driverFooterProbes.get() == before)
  }
}

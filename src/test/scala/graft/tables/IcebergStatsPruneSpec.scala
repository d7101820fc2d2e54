package graft.tables

import graft.SparkSpec
import graft.core.{Filter, Filters}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.{ByteBuffer, ByteOrder}

/** Iceberg manifest COLUMN-BOUNDS file skipping (R49): graft-written
  * bounds (append, sort orders, add_files, manifest rewrites) and a
  * hand-built foreign fixture both prune non-partition predicates at
  * the manifest level — asserted with inputFiles — and the
  * distributed planner returns byte-identical plans with ZERO driver
  * content-file materializations.
  */
class IcebergStatsPruneSpec extends SparkSpec {
  import spark.implicits._

  private def readFiles(dir: String, fs: Seq[Filter]): Seq[String] =
    new IcebergTable("t", dir)(spark, ReadArgs(filters = Filters.normalize(fs)))
      .inputFiles.toSeq

  test("non-partition predicate prunes whole data files via written bounds") {
    val dir = tempDir("ice-stats").toString + "/t"
    IcebergWrite.append(spark,
      (1L to 100L).map(i => (i, f"v$i%04d")).toDF("id", "v").repartition(1), dir)
    IcebergWrite.append(spark,
      (101L to 200L).map(i => (i, f"v$i%04d")).toDF("id", "v").repartition(1), dir)

    val all = readFiles(dir, Seq.empty)
    assert(all.size == 2)
    val hi = readFiles(dir, Seq(Filter("id", ">", 150L)))
    assert(hi.size == 1, s"bounds must prune the 1–100 file, got $hi")
    val none = readFiles(dir, Seq(Filter("id", ">", 500L)))
    assert(none.isEmpty, s"bounds must prune everything, got $none")
    // values still exact
    val got = new IcebergTable("t", dir)(spark,
      ReadArgs.where(Filter("id", ">", 150L))).count()
    assert(got == 50L)
    // string bounds prune too
    assert(readFiles(dir, Seq(Filter("v", "=", "v0150"))).size == 1)
  }

  test("sorted table: a range probe opens one file of many") {
    val dir = tempDir("ice-sorted").toString + "/t"
    val df = (1L to 1000L).map(i => (i, i % 7)).toDF("id", "grp")
      .repartitionByRange(5, col("id"))
    IcebergWrite.append(spark, df, dir, sortBy = Seq("id"))
    assert(readFiles(dir, Seq.empty).size == 5)
    val probe = readFiles(dir, Seq(Filter("id", "=", 42L)))
    assert(probe.size == 1, s"range probe must open exactly one sorted file, got $probe")
  }

  test("timestamp bounds prune range probes on a time-sorted table") {
    val dir = tempDir("ice-ts").toString + "/t"
    val rows = (0 until 240).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${i / 10 + 1}%02d 0${i % 10}:00:00"))
    }.toDF("id", "ts").repartitionByRange(4, col("ts"))
    IcebergWrite.append(spark, rows, dir, sortBy = Seq("ts"))
    assert(readFiles(dir, Seq.empty).size == 4)
    // the engine's session-UTC literal spelling, exactly as the
    // Filter algebra carries it (see q_iceberg_transform)
    val probe = readFiles(dir, Seq(
      Filter("ts", ">=", "2024-01-20 00:00:00"),
      Filter("ts", "<", "2024-01-21 00:00:00")))
    assert(probe.size == 1, s"ts bounds must prune to one sorted file, got $probe")
    val got = new IcebergTable("t", dir)(spark, ReadArgs(
      filters = Filters.normalize(Seq(
        Filter("ts", ">=", "2024-01-20 00:00:00"),
        Filter("ts", "<", "2024-01-21 00:00:00"))))).count()
    assert(got == 10L)
  }

  test("all-null file prunes for null-rejecting operators; fail-open without stats") {
    val dir = tempDir("ice-nulls").toString + "/t"
    IcebergWrite.append(spark,
      Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
        .toDF("id", "v").repartition(1), dir)
    IcebergWrite.append(spark,
      Seq((3L, Option("x"))).toDF("id", "v").repartition(1), dir)
    val eq = readFiles(dir, Seq(Filter("v", "=", "x")))
    assert(eq.size == 1, s"the all-null file must prune for v = 'x', got $eq")
    // NULL != x is never TRUE: the all-null file prunes for Neq too
    assert(readFiles(dir, Seq(Filter("v", "!=", "zzz"))).size == 1)
  }

  test("string bounds truncate at 16 code points with incremented upper") {
    assert(IcebergStats.truncateLower("a" * 20) == "a" * 16)
    assert(IcebergStats.truncateUpper("a" * 20).contains("a" * 15 + "b"))
    assert(IcebergStats.truncateUpper("short").contains("short"))
    assert(IcebergStats.truncateUpper("a" * 16).contains("a" * 16)) // exact: no truncation
    // carry past an unincrementable max code point
    val max = new String(Character.toChars(0x10FFFF))
    assert(IcebergStats.truncateUpper("a" * 15 + max + "tail").contains("a" * 14 + "b"))
    assert(IcebergStats.truncateUpper(max * 16 + "tail").isEmpty)
    // surrogate block skipped
    assert(IcebergStats.truncateUpper("b" * 15 + "퟿" + "tail")
      .contains("b" * 15 + ""))

    val dir = tempDir("ice-trunc").toString + "/t"
    val prefix = "a" * 16
    IcebergWrite.append(spark,
      (1 to 9).map(i => (i.toLong, s"$prefix$i suffix")).toDF("id", "v").repartition(1), dir)
    IcebergWrite.append(spark,
      Seq((10L, "zzz")).toDF("id", "v").repartition(1), dir)
    // every long value < "aaaaaaaaaaaaaaab": Gt on the incremented
    // upper bound prunes the file; an in-range probe keeps it
    assert(readFiles(dir, Seq(Filter("v", ">", "a" * 15 + "b"))).size == 1)
    assert(readFiles(dir, Seq(Filter("v", "=", s"${prefix}5 suffix"))).size == 1)
    val got = new IcebergTable("t", dir)(spark,
      ReadArgs.where(Filter("v", "=", s"${prefix}5 suffix"))).count()
    assert(got == 1L)
  }

  test("manifest-list partition summaries skip whole manifests (proof by corruption)") {
    val dir = tempDir("ice-msum").toString + "/t"
    // two appends, disjoint identity partition values → two manifests
    // whose list rows carry per-field [lower, upper] summaries
    IcebergWrite.append(spark,
      Seq((1L, "a", 0), (2L, "b", 0)).toDF("id", "v", "p"), dir, Seq("p"))
    IcebergWrite.append(spark,
      Seq((3L, "c", 1), (4L, "d", 1)).toDF("id", "v", "p"), dir, Seq("p"))
    val fsys = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = IcebergMeta.load(fsys, dir)
    val snap = IcebergMeta.selectSnapshot(meta, None, None)
    val infos = IcebergMeta.manifestInfos(fsys, snap)
    assert(infos.size == 2 && infos.forall(_.summaries.exists(_.nonEmpty)))

    // DESTROY the p=0 manifest: a p=1 read must never open it — the
    // summary prunes it at the LIST level, before any Avro read
    val p0Manifest = infos.find(mi =>
      IcebergMeta.contentFilesOfManifest(fsys, mi)
        .exists(_.partition.get("p").contains(0))).get
    fsys.delete(new Path(p0Manifest.path), false)
    val got = new IcebergTable("t", dir)(spark,
      ReadArgs.where(Filter("p", "=", 1))).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(3L, 4L))
    // an id probe (non-partition column) can't use the summaries and
    // must fail on the destroyed manifest — proving the skip above
    // was the summary, not luck
    intercept[Exception] {
      new IcebergTable("t", dir)(spark,
        ReadArgs.where(Filter("id", "=", 4L))).collect()
    }
  }

  test("rewriteManifests and scoped rewriteDataFiles record exact partition summaries (proof by corruption)") {
    // appends with p in {0, 1}, {0, 1} and {2}: three manifests
    def table(name: String): String = {
      val dir = tempDir(name).toString + "/t"
      IcebergWrite.append(spark, Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "p"), dir, Seq("p"))
      IcebergWrite.append(spark, Seq((3L, "c", 0), (4L, "d", 1)).toDF("id", "v", "p"), dir, Seq("p"))
      IcebergWrite.append(spark, Seq((5L, "e", 2), (6L, "f", 2)).toDF("id", "v", "p"), dir, Seq("p"))
      dir
    }
    def read(dir: String, f: Filter): Seq[Long] =
      new IcebergTable("t", dir)(spark, ReadArgs.where(f)).collect().map(_.getLong(0)).sorted.toSeq
    val probes = Seq(Filter("p", "=", 0), Filter("p", "=", 1), Filter("p", "=", 2), Filter("p", ">", 0))
    val fsys = new Path(tempDir("ice-msum-fs").toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every data manifest's summary is [min, max] of its live tuples
    def exactSummaries(dir: String): Seq[(IcebergMeta.ManifestInfo, Seq[Int])] = {
      val snap = IcebergMeta.selectSnapshot(IcebergMeta.load(fsys, dir), None, None)
      IcebergMeta.manifestInfos(fsys, snap).filter(_.content == 0).map { mi =>
        val ps = IcebergMeta.contentFilesOfManifest(fsys, mi).map(_.partition("p").asInstanceOf[Int])
        val sum = mi.summaries.getOrElse(fail(s"${mi.path} has no partition summaries"))
        def bound(b: Option[Array[Byte]]) = b.flatMap(IcebergStats.decodeSingle(IntegerType, _))
        assert(sum.size == 1 && !sum.head.containsNull, mi.path)
        assert(bound(sum.head.lower).contains(ps.min) && bound(sum.head.upper).contains(ps.max),
          s"${mi.path}: summary is not [${ps.min}, ${ps.max}]")
        mi -> ps
      }
    }

    val consolidated = table("ice-msum-rwm")
    val before = probes.map(read(consolidated, _))
    assert(IcebergMaintenance.rewriteManifests(spark, consolidated).isDefined)
    val Seq((only, _)) = exactSummaries(consolidated)
    assert(probes.map(read(consolidated, _)) == before)
    // DESTROY the one manifest: a probe outside [0, 2] must skip it
    fsys.delete(new Path(only.path), false)
    assert(read(consolidated, Filter("p", "=", 5)).isEmpty)
    intercept[Exception](read(consolidated, Filter("p", "=", 1)))

    val scoped = table("ice-msum-rwd")
    assert(probes.map(read(scoped, _)) == before)
    IcebergMaintenance.rewriteDataFiles(spark, scoped, Filters.normalize(Seq(Filter("p", "=", 0))))
    val manifests = exactSummaries(scoped)
    // the compacted p=0 manifest, two rewritten p=1 survivors, and
    // the untouched p=2 manifest
    assert(manifests.map(_._2.distinct).sortBy(_.head) == Seq(Seq(0), Seq(1), Seq(1), Seq(2)))
    assert(probes.map(read(scoped, _)) == before)
    // DESTROY every manifest the rewrite wrote: a p=2 probe must
    // never open them
    manifests.filterNot(_._2.contains(2)).foreach(m => fsys.delete(new Path(m._1.path), false))
    assert(read(scoped, Filter("p", "=", 2)) == Seq(5L, 6L))
    intercept[Exception](read(scoped, Filter("p", "=", 1)))
  }

  test("foreign field_summary shapes carry by NAME (no positional re-serialization crash)") {
    // an Iceberg <= 0.10-era summary record: no contains_nan, and the
    // bounds ordered differently — carrying it verbatim would
    // serialize by graft-schema POSITION and crash the commit
    val foreignList = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"partitions","type":["null",{"type":"array","items":{"type":"record","name":"fs0","fields":[
        |{"name":"upper_bound","type":["null","bytes"],"default":null},
        |{"name":"contains_null","type":"boolean"},
        |{"name":"lower_bound","type":["null","bytes"],"default":null}
        |]}}],"default":null}
        |]}""".stripMargin)
    val sum = new GenericData.Record(
      foreignList.getField("partitions").schema().getTypes.get(1).getElementType)
    sum.put("contains_null", false)
    sum.put("lower_bound", java.nio.ByteBuffer.wrap(Array[Byte](1, 0, 0, 0)))
    sum.put("upper_bound", java.nio.ByteBuffer.wrap(Array[Byte](5, 0, 0, 0)))
    val prev = new GenericData.Record(foreignList)
    prev.put("manifest_path", "m.avro")
    prev.put("manifest_length", 10L)
    prev.put("partition_spec_id", 0)
    prev.put("partitions", java.util.Collections.singletonList(sum))

    val ls = IcebergManifests.manifestFileSchema
    val copied = IcebergManifests.copyListRecord(prev)
    // serializing through graft's schema must succeed end-to-end
    val bos = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](ls))
      .create(ls, bos)
    w.append(copied); w.close()
    // and the rebuilt summary keeps its values by NAME
    val r = copied.get("partitions").asInstanceOf[java.util.List[_]]
      .get(0).asInstanceOf[GenericRecord]
    assert(r.get("contains_null") == false && r.get("contains_nan") == null)
    assert(r.get("lower_bound").asInstanceOf[java.nio.ByteBuffer].get(0) == 1)
    assert(r.get("upper_bound").asInstanceOf[java.nio.ByteBuffer].get(0) == 5)
  }

  test("foreign-written bounds fixture prunes; missing stats fail open") {
    val root = tempDir("ice-fstats").toString + "/t"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    fs.mkdirs(metaDir)
    def oneParquet(dir: String, df: org.apache.spark.sql.DataFrame): (String, Long) = {
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      val f = fs.listStatus(new Path(dir)).find(_.getPath.getName.endsWith(".parquet")).get
      (f.getPath.toUri.getPath, f.getLen)
    }
    val (lowPath, lowLen) = oneParquet(root + "/d1", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    val (hiPath, hiLen) = oneParquet(root + "/d2", (11L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    val (noStatsPath, noStatsLen) = oneParquet(root + "/d3", Seq((21L, "w")).toDF("id", "v"))

    def longLe(v: Long): ByteBuffer =
      ByteBuffer.wrap(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array())
    val entrySchema = IcebergManifests.manifestEntrySchema(Seq.empty)
    val dfSchema = entrySchema.getField("data_file").schema()
    def kv(field: String, k: Int, v: Any): java.util.List[GenericData.Record] = {
      val is = dfSchema.getField(field).schema().getTypes.get(1).getElementType
      val r = new GenericData.Record(is); r.put("key", k); r.put("value", v)
      java.util.Collections.singletonList(r)
    }
    val mPath = new Path(metaDir, "m-data.avro")
    locally {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](entrySchema))
      w.setMeta("format-version", "2")
      w.setMeta("content", "data")
      w.create(entrySchema, fs.create(mPath, true))
      try Seq(
        (lowPath, lowLen, 10L, Some((1L, 10L))),
        (hiPath, hiLen, 10L, Some((11L, 20L))),
        (noStatsPath, noStatsLen, 1L, None)
      ).foreach { case (path, len, rows, bounds) =>
        val d = new GenericData.Record(dfSchema)
        d.put("content", 0)
        d.put("file_path", path)
        d.put("file_format", "PARQUET")
        d.put("partition", new GenericData.Record(dfSchema.getField("partition").schema()))
        d.put("record_count", rows)
        d.put("file_size_in_bytes", len)
        bounds.foreach { case (lo, hi) =>
          d.put("lower_bounds", kv("lower_bounds", 1, longLe(lo)))
          d.put("upper_bounds", kv("upper_bounds", 1, longLe(hi)))
          d.put("null_value_counts", kv("null_value_counts", 1, 0L))
          d.put("value_counts", kv("value_counts", 1, rows))
        }
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", 1L)
        e.put("sequence_number", 1L)
        e.put("file_sequence_number", 1L)
        e.put("data_file", d)
        w.append(e)
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
      r.put("added_files_count", 3)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", 21L)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      try w.append(r) finally w.close()
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

    // id > 15: the low file prunes by its foreign bounds; the
    // stats-less file MUST stay (fail-open)
    val opened = readFiles(root, Seq(Filter("id", ">", 15L)))
    assert(opened.size == 2 && !opened.exists(_.contains("/d1")),
      s"expected d2 + stats-less d3 only, got $opened")
    val got = new IcebergTable("t", root)(spark,
      ReadArgs.where(Filter("id", ">", 15L))).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == ((16L to 21L)))
  }

  test("UniForm export translates Delta stats into bounds that prune") {
    val dir = tempDir("ice-uniform-stats").toString + "/t"
    DeltaWrite.append(spark,
      (1L to 100L).map(i => (i, f"v$i%04d")).toDF("id", "v").repartition(1), dir)
    DeltaWrite.append(spark,
      (101L to 200L).map(i => (i, f"v$i%04d")).toDF("id", "v").repartition(1), dir)
    graft.export.IcebergUniform.export(spark, dir)
    assert(readFiles(dir, Seq.empty).size == 2)
    // long bounds translated from the Delta stats JSON
    val hi = readFiles(dir, Seq(Filter("id", ">", 150L)))
    assert(hi.size == 1, s"exported bounds must prune the 1–100 file, got $hi")
    // string bounds too (Delta truncation re-truncated soundly)
    assert(readFiles(dir, Seq(Filter("v", "=", "v0150"))).size == 1)
    assert(new IcebergTable("t", dir)(spark,
      ReadArgs.where(Filter("id", ">", 150L))).count() == 50L)
  }

  test("rewrite_manifests carries bounds; pruning survives the rewrite") {
    val dir = tempDir("ice-rwstats").toString + "/t"
    IcebergWrite.append(spark,
      (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v").repartition(1), dir)
    IcebergWrite.append(spark,
      (51L to 99L).map(i => (i, s"v$i")).toDF("id", "v").repartition(1), dir)
    IcebergMaintenance.rewriteManifests(spark, dir)
    val opened = readFiles(dir, Seq(Filter("id", ">=", 60L)))
    assert(opened.size == 1, s"bounds must survive rewrite_manifests, got $opened")
    assert(new IcebergTable("t", dir)(spark,
      ReadArgs.where(Filter("id", ">=", 60L))).count() == 40L)
  }

  test("distributed planning: parity with the driver plan, zero driver file plans") {
    val dir = tempDir("ice-dplan").toString + "/t"
    def events(r: Range) = r.map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${i % 27 + 1}%02d 10:00:00"), i % 11L))
      .toDF("event_id", "ts", "user_id")
    // MULTI-SPEC: spec 0 = days(ts), evolved spec 1 = identity
    // user_id, then a position delete — the planner must agree with
    // the driver across spec ids and delete files
    IcebergWrite.append(spark, events(1 to 150), dir, Seq("days(ts)"))
    IcebergWrite.append(spark, events(151 to 300), dir, Seq("user_id"))
    IcebergWrite.deleteWhere(spark, dir,
      Filters.normalize(Seq(Filter("event_id", "<", 10L))))

    val t = new IcebergTable("t", dir)
    val filters = Filters.normalize(Seq(Filter("user_id", "=", 3L)))
    val driver = t(spark, ReadArgs(
      filters = filters, extra = Map(t.DistributedPlanningKey -> false)))
    val before = IcebergMeta.driverContentFilePlans.get()
    val dist = t(spark, ReadArgs(
      filters = filters, extra = Map(t.DistributedPlanningKey -> true)))
    val planned = dist.inputFiles.toSet
    assert(IcebergMeta.driverContentFilePlans.get() == before,
      "distributed planning must not materialize content files on the driver")
    assert(planned == driver.inputFiles.toSet)
    assert(dist.orderBy("event_id").collect().toSeq ==
      driver.orderBy("event_id").collect().toSeq)
    assert(dist.count() > 0)

    // auto gate: threshold 0 routes distributed without the extra arg
    spark.conf.set(IcebergTable.AutoDistributedThresholdConf, "0")
    try {
      val b2 = IcebergMeta.driverContentFilePlans.get()
      val auto = t(spark, ReadArgs(filters = filters))
      assert(auto.inputFiles.toSet == planned)
      assert(IcebergMeta.driverContentFilePlans.get() == b2)
    } finally spark.conf.unset(IcebergTable.AutoDistributedThresholdConf)
  }

  test("single-value codec round-trips every pruned type") {
    def rt(dt: DataType, v: Any): Option[Any] =
      IcebergStats.encodeSingle(dt, v).flatMap(IcebergStats.decodeSingle(dt, _))
    assert(rt(LongType, 42L).contains(BigDecimal(42)))
    assert(rt(IntegerType, -7).contains(BigDecimal(-7)))
    assert(rt(DoubleType, 2.5).contains(BigDecimal(2.5)))
    assert(rt(FloatType, -1.25f).contains(BigDecimal(-1.25)))
    assert(rt(StringType, "héllo").contains("héllo"))
    assert(rt(DateType, java.sql.Date.valueOf("2024-03-01")).contains("2024-03-01"))
    assert(rt(DecimalType(10, 2), new java.math.BigDecimal("123.45"))
      .contains(BigDecimal("123.45")))
    assert(rt(DecimalType(10, 2), new java.math.BigDecimal("-0.01"))
      .contains(BigDecimal("-0.01")))
    // timestamps decode to Micros and compare against string literals
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:00:00")
    val m = rt(TimestampType, ts).get.asInstanceOf[IcebergStats.Micros]
    assert(m.toString == "2024-03-01T12:00:00Z")
    // NaN never becomes a bound
    assert(IcebergStats.encodeSingle(DoubleType, Double.NaN).isEmpty)
    // code-point compare equals UTF-8 byte order above the BMP
    val g = new String(Character.toChars(0x10400)) // supplementary
    assert(IcebergStats.codePointCompare("", g) < 0) // UTF-16 would say >
  }
}

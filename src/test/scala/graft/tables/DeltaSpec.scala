package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.core.Filter
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class DeltaSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `df` as a single parquet file at tableDir/relPath. */
  private def putFile(df: DataFrame, tableDir: String, relPath: String): Long = {
    val tmp = tempDir("deltafile").toString + "/out"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val f = fs(tmp)
    val part = f.listStatus(new Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val dest = new Path(tableDir, relPath)
    f.mkdirs(dest.getParent)
    f.rename(part, dest)
    f.getFileStatus(dest).getLen
  }

  private def putCommit(tableDir: String, version: Long, lines: Seq[String]): Unit = {
    val dir = new Path(tableDir, "_delta_log")
    val f = fs(tableDir)
    f.mkdirs(dir)
    val out = f.create(new Path(dir, f"$version%020d.json"), true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def metaDataJson(schema: StructType, partitionColumns: Seq[String]): String = {
    val m = mapper.createObjectNode()
    m.put("id", "11111111-2222-3333-4444-555555555555")
    m.putObject("format").put("provider", "parquet")
    m.put("schemaString", schema.json)
    val pc = m.putArray("partitionColumns")
    partitionColumns.foreach(pc.add)
    m.putObject("configuration")
    s"""{"metaData":${mapper.writeValueAsString(m)}}"""
  }

  private def addJson(path: String, pv: Map[String, String], size: Long,
                      stats: Option[String] = None): String = {
    val a = mapper.createObjectNode()
    a.put("path", path)
    val p = a.putObject("partitionValues")
    pv.foreach { case (k, v) => p.put(k, v) }
    a.put("size", size)
    a.put("modificationTime", 0L)
    a.put("dataChange", true)
    stats.foreach(s => a.put("stats", s))
    s"""{"add":${mapper.writeValueAsString(a)}}"""
  }

  private def removeJson(path: String): String =
    s"""{"remove":{"path":"$path","deletionTimestamp":0,"dataChange":true}}"""

  // ---------------------------------------------------------------
  // hand-authored log: tests the FORMAT (what delta-rs would write),
  // not our writer's dialect
  // ---------------------------------------------------------------

  private def handAuthoredTable(): String = {
    val dir = tempDir("delta-hand").toString + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("part", IntegerType)))
    val dataSchema = Seq("id", "v")
    val s0 = putFile(Seq((1L, "a"), (2L, "b")).toDF(dataSchema: _*), dir, "part=0/f0.parquet")
    val s1 = putFile(Seq((3L, "c")).toDF(dataSchema: _*), dir, "part=1/f1.parquet")
    val s2 = putFile(Seq((4L, "d")).toDF(dataSchema: _*), dir, "part=1/f2.parquet")

    putCommit(dir, 0, Seq(
      """{"commitInfo":{"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaDataJson(schema, Seq("part")),
      addJson("part=0/f0.parquet", Map("part" -> "0"), s0,
        Some("""{"numRecords":2,"minValues":{"id":1,"v":"a"},"maxValues":{"id":2,"v":"b"},"nullCount":{"id":0,"v":0}}""")),
      addJson("part=1/f1.parquet", Map("part" -> "1"), s1,
        Some("""{"numRecords":1,"minValues":{"id":3,"v":"c"},"maxValues":{"id":3,"v":"c"},"nullCount":{"id":0,"v":0}}"""))))
    // v1: replace f1 with f2 inside part=1
    putCommit(dir, 1, Seq(
      removeJson("part=1/f1.parquet"),
      addJson("part=1/f2.parquet", Map("part" -> "1"), s2,
        Some("""{"numRecords":1,"minValues":{"id":4,"v":"d"},"maxValues":{"id":4,"v":"d"},"nullCount":{"id":0,"v":0}}"""))))
    dir
  }

  test("replay: latest snapshot applies adds and removes in order") {
    val dir = handAuthoredTable()
    val t = new DeltaTable("t", dir)
    val got = t(spark).select("id", "v", "part").as[(Long, String, Int)].collect().toSet
    assert(got == Set((1L, "a", 0), (2L, "b", 0), (4L, "d", 1)))
  }

  test("time travel: versionAsOf=0 sees the pre-remove state") {
    val dir = handAuthoredTable()
    val t = new DeltaTable("t", dir)
    val got = t(spark, ReadArgs(extra = Map(t.VersionKey -> 0L)))
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }

  test("partition pruning: only matching files are opened") {
    val dir = handAuthoredTable()
    val t = new DeltaTable("t", dir)
    val df = t(spark, ReadArgs.where(Filter("part", "=", 0)))
    assert(df.inputFiles.forall(_.contains("part=0")), df.inputFiles.mkString(","))
    assert(df.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("stats skipping: min/max prunes files; result still exact") {
    val dir = handAuthoredTable()
    val t = new DeltaTable("t", dir)
    val df = t(spark, ReadArgs.where(Filter("id", ">=", 4L)))
    assert(df.inputFiles.length == 1 && df.inputFiles.head.contains("f2"),
      df.inputFiles.mkString(","))
    assert(df.select("v").as[String].collect().toSeq == Seq("d"))
    // DNF: either branch keeps its files
    val dnf = t(spark, ReadArgs.dnf(Seq(
      Seq(Filter("id", "=", 1L)), Seq(Filter("id", "=", 4L)))))
    assert(dnf.inputFiles.length == 2)
    assert(dnf.select("id").as[Long].collect().toSet == Set(1L, 4L))
  }

  test("stats skipping compares strings by CODE POINT, never UTF-16 units") {
    // the file's single value is a supplementary-plane char
    // (U+10400 > U+E000 by code point / UTF-8 byte order — the order
    // the stats were min/max'd under), but its UTF-16 lead surrogate
    // 0xD801 sorts BELOW 0xE000: a compareTo-based matcher would
    // wrongly prune the file for v > ''
    val dir = tempDir("delta-cp").toString + "/t"
    val sup = new String(Character.toChars(0x10400))
    DeltaWrite.append(spark, Seq((1L, sup)).toDF("id", "v"), dir)
    val got = new DeltaTable("t", dir)(spark,
      ReadArgs.where(Filter("v", ">", "")))
    assert(got.count() == 1L, "code-point order must keep the supplementary-plane file")
  }

  test("string stats are prefix-capped: multi-KB text never reaches the log JSON") {
    val dir = tempDir("delta-cap").toString + "/t"
    val big = "aaaa " * 2000 // ~10KB document body
    DeltaWrite.append(spark,
      Seq((1L, big + "alpha"), (2L, big + "omega")).toDF("id", "text").repartition(1), dir)
    DeltaWrite.append(spark,
      Seq((3L, "zzz tiny")).toDF("id", "text").repartition(1), dir)
    val snap = DeltaLog.snapshot(spark, dir)
    val stats = snap.files.flatMap(_.stats)
    assert(stats.nonEmpty && stats.forall(_.length < 500),
      s"stats JSON must stay small, got ${stats.map(_.length)}")
    // pruning still works through the capped bounds: the big-text
    // file's upper is an incremented 32-cp prefix, so a probe above
    // it opens only the zzz file; an in-prefix probe keeps the file
    val t = new DeltaTable("t", dir)
    val hi = t(spark, ReadArgs.where(Filter("text", ">", "b")))
    assert(hi.inputFiles.length == 1 && hi.count() == 1)
    val in = t(spark, ReadArgs.where(Filter("text", "=", big + "alpha")))
    assert(in.count() == 1)
  }

  test("unsupported protocol is refused loudly") {
    val dir = tempDir("delta-proto").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType)))
    val size = putFile(Seq(Tuple1(1L)).toDF("id"), dir, "f.parquet")
    // deletionVectors alone is supported now; v2Checkpoint is not
    putCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","v2Checkpoint"]}}""",
      metaDataJson(schema, Seq.empty),
      addJson("f.parquet", Map.empty, size)))
    intercept[IllegalArgumentException] { new DeltaTable("t", dir)(spark) }
  }

  test("schema evolution: old files yield typed nulls for new columns") {
    val dir = tempDir("delta-evo").toString + "/t"
    val v0Schema = StructType(Seq(StructField("id", LongType)))
    val v1Schema = StructType(Seq(StructField("id", LongType), StructField("extra", StringType)))
    val s0 = putFile(Seq(Tuple1(1L)).toDF("id"), dir, "f0.parquet")
    val s1 = putFile(Seq((2L, "x")).toDF("id", "extra"), dir, "f1.parquet")
    putCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaDataJson(v0Schema, Seq.empty),
      addJson("f0.parquet", Map.empty, s0)))
    putCommit(dir, 1, Seq(
      metaDataJson(v1Schema, Seq.empty),
      addJson("f1.parquet", Map.empty, s1)))
    val got = new DeltaTable("t", dir)(spark)
      .select("id", "extra").as[(Long, Option[String])].collect().toSet
    assert(got == Set((1L, None), (2L, Some("x"))))
  }

  // ---------------------------------------------------------------
  // writer round-trips
  // ---------------------------------------------------------------

  test("append/overwrite round-trip with per-commit versions") {
    val dir = tempDir("delta-rt").toString + "/t"
    val d1 = Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "part")
    val d2 = Seq((3L, "c", 1)).toDF("id", "v", "part")

    val r1 = DeltaWrite.append(spark, d1, dir, partitionBy = Seq("part"))
    assert(r1.version == 0 && r1.filesAdded == 2)
    val r2 = DeltaWrite.append(spark, d2, dir, partitionBy = Seq("part"))
    assert(r2.version == 1)

    val t = new DeltaTable("t", dir)
    assert(t(spark).count() == 3)
    assert(t(spark, ReadArgs(extra = Map(t.VersionKey -> 0L))).count() == 2)

    val r3 = DeltaWrite.overwrite(spark, Seq((9L, "z", 7)).toDF("id", "v", "part"),
      dir, partitionBy = Seq("part"))
    assert(r3.version == 2 && r3.filesRemoved == 3)
    val after = t(spark).select("id", "v", "part").as[(Long, String, Int)].collect().toSet
    assert(after == Set((9L, "z", 7)))
    // time travel still sees the pre-overwrite data
    assert(t(spark, ReadArgs(extra = Map(t.VersionKey -> 1L))).count() == 3)
  }

  test("writer stats enable file skipping on read") {
    val dir = tempDir("delta-stats").toString + "/t"
    // two appends → two files with disjoint id ranges
    DeltaWrite.append(spark, Seq((1L, "lo"), (2L, "lo")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, Seq((100L, "hi")).toDF("id", "v"), dir)
    val t = new DeltaTable("t", dir)
    val df = t(spark, ReadArgs.where(Filter("id", ">", 50L)))
    assert(df.inputFiles.length == 1, df.inputFiles.mkString(","))
    assert(df.select("v").as[String].collect().toSeq == Seq("hi"))
  }

  test("checkpoint replaces the JSON prefix") {
    val dir = tempDir("delta-cp").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), dir)
    val cpV = DeltaWrite.checkpoint(spark, dir)
    assert(cpV == 1)
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), dir)

    // simulate log cleanup: delete the JSON commits covered by the
    // checkpoint — replay must come from checkpoint + later JSON only
    val f = fs(dir)
    (0L to cpV).foreach(v =>
      f.delete(new Path(dir + "/_delta_log", f"$v%020d.json"), false))
    val got = new DeltaTable("t", dir)(spark).select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }

  test("multi-part checkpoint + _last_checkpoint replay an aged-out JSON prefix") {
    val dir = tempDir("delta-mp").toString + "/t"
    DeltaWrite.append(spark, (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, (51 to 60).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    val cpV = DeltaWrite.checkpoint(spark, dir, parts = 3)
    val logDir = new Path(dir, "_delta_log")
    val f = fs(dir)
    assert(f.listStatus(logDir).count(
      _.getPath.getName.matches(raw"\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet")) == 3)

    (0L to cpV).foreach(v => f.delete(new Path(logDir, f"$v%020d.json"), false))
    DeltaWrite.append(spark, (61 to 65).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)

    // _last_checkpoint path
    assert(new DeltaTable("t", dir)(spark).count() == 65)
    // listing fallback: same result without the hint file
    f.delete(new Path(logDir, "_last_checkpoint"), false)
    assert(new DeltaTable("t", dir)(spark).count() == 65)
  }

  test("incomplete multi-part checkpoint over an aged prefix is refused, not misread") {
    val dir = tempDir("delta-mpbad").toString + "/t"
    DeltaWrite.append(spark, (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, (21 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    val cpV = DeltaWrite.checkpoint(spark, dir, parts = 3)
    val logDir = new Path(dir, "_delta_log")
    val f = fs(dir)
    (0L to cpV).foreach(v => f.delete(new Path(logDir, f"$v%020d.json"), false))
    // lose one part of the set: the checkpoint is unusable, and the
    // JSON prefix it replaced is gone → loud refusal, never a partial
    // file list
    val part2 = f.listStatus(logDir).map(_.getPath)
      .find(_.getName.matches(raw"\d{20}\.checkpoint\.0000000002\.\d{10}\.parquet")).get
    f.delete(part2, false)
    val e = intercept[IllegalArgumentException] { new DeltaTable("t", dir)(spark) }
    assert(e.getMessage.contains("missing or incomplete"))
  }

  test("a hole in the JSON log is refused, not silently skipped") {
    val dir = tempDir("delta-gap").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), dir)
    fs(dir).delete(new Path(dir + "/_delta_log", f"${1L}%020d.json"), false)
    val e = intercept[IllegalArgumentException] { new DeltaTable("t", dir)(spark) }
    assert(e.getMessage.contains("no commits"))
  }

  test("optimize compacts small files, materializes DV deletes; vacuum reclaims") {
    val dir = tempDir("delta-opt").toString + "/t"
    // three small appends → three files per partition value
    (0 until 3).foreach { i =>
      DeltaWrite.append(spark,
        (1 to 10).map(j => ((i * 10 + j).toLong, s"v$i-$j", i % 2)).toDF("id", "v", "p"),
        dir, partitionBy = Seq("p"))
    }
    DeltaWrite.deleteWhereDv(spark, dir,
      graft.core.Filters.normalize(Seq(graft.core.Filter("id", "<=", 5L))))
    val preOptVersion = DeltaLog.latestVersion(spark, dir).get
    val preFiles = DeltaLog.snapshot(spark, dir).files.size
    assert(preFiles >= 6, s"fixture should have many small files, got $preFiles")
    val expected = new DeltaTable("t", dir)(spark)
      .select("id").as[Long].collect().sorted.toSeq
    assert(expected.size == 25)

    val res = DeltaWrite.optimize(spark, dir)
    assert(res.filesRemoved == preFiles && res.filesAdded == 2,
      s"expected $preFiles small files -> 2 (one per partition), got $res")
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.forall(_.dv.isEmpty), "optimize must purge DVs")
    val got = new DeltaTable("t", dir)(spark).select("id").as[Long].collect().sorted.toSeq
    assert(got == expected)
    // pre-optimize version still readable (old files remain on disk)
    val tt = new DeltaTable("t", dir)
    assert(tt(spark, ReadArgs(extra = Map(tt.VersionKey -> preOptVersion)))
      .count() == 25)

    // vacuum with zero retention reclaims the replaced files + old DV
    val deleted = DeltaWrite.vacuum(spark, dir, retentionMs = 0L)
    assert(deleted >= preFiles, s"expected >=$preFiles reclaimed files, got $deleted")
    assert(new DeltaTable("t", dir)(spark).select("id").as[Long].collect().sorted.toSeq
      == expected, "current snapshot must survive vacuum")
  }

  test("timestampAsOf resolves against commit modification times") {
    val dir = tempDir("delta-tsasof").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), dir)
    // pin deterministic commit times instead of sleeping
    val f = fs(dir)
    val j0 = new Path(dir + "/_delta_log", f"${0L}%020d.json")
    val j1 = new Path(dir + "/_delta_log", f"${1L}%020d.json")
    f.setTimes(j0, 1000000L, -1)
    f.setTimes(j1, 2000000L, -1)

    val t = new DeltaTable("t", dir)
    assert(t(spark, ReadArgs(extra = Map(t.TimestampKey -> 1500000L))).count() == 1)
    assert(t(spark, ReadArgs(extra = Map(t.TimestampKey -> 2000000L))).count() == 2)
    assert(t(spark, ReadArgs(extra =
      Map(t.TimestampKey -> "1970-01-01T00:25:00Z"))).count() == 1) // 1.5e6 ms
    val e = intercept[IllegalArgumentException] {
      t(spark, ReadArgs(extra = Map(t.TimestampKey -> 999999L))).count()
    }
    assert(e.getMessage.contains("no commit"))
    val both = intercept[IllegalArgumentException] {
      t(spark, ReadArgs(extra = Map(t.TimestampKey -> 1500000L, t.VersionKey -> 0L)))
    }
    assert(both.getMessage.contains("mutually exclusive"))
  }

  test("restore rewinds deletes via a metadata-only commit") {
    val dir = tempDir("delta-restore").toString + "/t"
    DeltaWrite.append(spark,
      (1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    DeltaWrite.deleteWhereDv(spark, dir,
      graft.core.Filters.normalize(Seq(graft.core.Filter("id", "<=", 10L))))
    DeltaWrite.deleteWhere(spark, dir,
      graft.core.Filters.normalize(Seq(graft.core.Filter("id", ">", 25L))))
    assert(new DeltaTable("t", dir)(spark).count() == 15)

    val dataBefore = dataFileSet(dir)
    val res = DeltaWrite.restore(spark, dir, version = 0L)
    assert(res.version == 3)
    assert(dataFileSet(dir) == dataBefore, "restore must not copy/write data files")
    assert(new DeltaTable("t", dir)(spark).count() == 30)
    // and the restored state itself is time-travelable history
    val t = new DeltaTable("t", dir)
    assert(t(spark, ReadArgs(extra = Map(t.VersionKey -> 2L))).count() == 15)

    // a vacuumed target version refuses
    DeltaWrite.optimize(spark, dir, smallFileBytes = Long.MaxValue)
    DeltaWrite.vacuum(spark, dir, retentionMs = 0L)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.restore(spark, dir, version = 0L)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  private def dataFileSet(dir: String): Set[String] = {
    val it = fs(dir).listFiles(new Path(dir), true)
    val out = Set.newBuilder[String]
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && !s.getPath.toString.contains("_delta_log")
          && s.getPath.getName.endsWith(".parquet"))
        out += s.getPath.toString
    }
    out.result()
  }

  test("timestampNtz reader feature is accepted and reads natively") {
    val dir = tempDir("delta-ntz").toString + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampNTZType)))
    val df = Seq(
      (1L, java.time.LocalDateTime.parse("2024-06-01T12:30:00")),
      (2L, java.time.LocalDateTime.parse("2024-06-02T01:00:00"))).toDF("id", "ts")
    val size = putFile(df, dir, "f0.parquet")
    putCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""",
      metaDataJson(schema, Seq.empty),
      addJson("f0.parquet", Map.empty, size)))
    val got = new DeltaTable("t", dir)(spark)
    assert(got.schema("ts").dataType == TimestampNTZType)
    assert(got.count() == 2)
  }

  test("vacuum retention runs on the tombstone clock, not file mtime") {
    val dir = tempDir("delta-vacts").toString + "/t"
    DeltaWrite.append(spark, (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    val before = dataFileSet(dir)
    // remove every file from the table NOW (all rows match)
    DeltaWrite.deleteWhere(spark, dir,
      graft.core.Filters.normalize(Seq(Filter("id", ">", 0L))))
    // age the orphaned data files far past any retention window: under
    // an mtime-based vacuum they would be reclaimed immediately
    val f = fs(dir)
    before.foreach(p => f.setTimes(new Path(p), 1000L, -1))
    assert(DeltaWrite.vacuum(spark, dir, retentionMs = 3600L * 1000) == 0,
      "files removed a moment ago must survive the retention window")
    val t = new DeltaTable("t", dir)
    assert(t(spark, ReadArgs(extra = Map(t.VersionKey -> 0L))).count() == 10,
      "time travel within the retention window must keep working")
    // expired tombstones reclaim
    assert(DeltaWrite.vacuum(spark, dir, retentionMs = 0L) >= before.size)
  }

  test("checkpoint preserves the table's real protocol and identity") {
    val dir = tempDir("delta-cpproto").toString + "/t"
    DeltaWrite.append(spark, (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    DeltaWrite.deleteWhereDv(spark, dir,
      graft.core.Filters.normalize(Seq(Filter("id", "<=", 3L)))) // protocol → reader 3
    DeltaWrite.optimize(spark, dir) // purges every DV; protocol action stays in effect
    val snap0 = DeltaLog.snapshot(spark, dir)
    assert(snap0.files.forall(_.dv.isEmpty))
    assert(snap0.protocol.minReaderVersion == 3)
    assert(snap0.metadata.id.nonEmpty)

    val cpV = DeltaWrite.checkpoint(spark, dir)
    // drop the whole JSON prefix: replay must come from the checkpoint
    val f = fs(dir)
    (0L to cpV).foreach(v =>
      f.delete(new Path(dir + "/_delta_log", f"$v%020d.json"), false))
    val snap1 = DeltaLog.snapshot(spark, dir)
    assert(snap1.protocol == snap0.protocol,
      "checkpoint must not downgrade a DV-purged table's protocol")
    assert(snap1.metadata.id == snap0.metadata.id,
      "checkpoint must not change table identity")
    assert(snap1.metadata.createdTime == snap0.metadata.createdTime)
    assert(new DeltaTable("t", dir)(spark).count() == 17)
    // tombstones survived into the checkpoint: though every remove
    // JSON is gone, recently-removed files still get their retention
    assert(DeltaWrite.vacuum(spark, dir, retentionMs = 3600L * 1000) == 0)
    assert(DeltaWrite.vacuum(spark, dir, retentionMs = 0L) > 0)
    assert(new DeltaTable("t", dir)(spark).count() == 17)
  }

  test("foreign schemaString formatting does not wipe config on a DV delete") {
    // a table written by another engine: schemaString key order differs
    // from Spark's own json round-trip, and configuration is non-empty
    val dir = tempDir("delta-foreignschema").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val size = putFile(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir, "f0.parquet")
    val foreignSchemaString =
      """{"fields":[{"metadata":{},"name":"id","nullable":true,"type":"long"},""" +
        """{"metadata":{},"name":"v","nullable":true,"type":"string"}],"type":"struct"}"""
    assert(DataType.fromJson(foreignSchemaString).asInstanceOf[StructType].json
      != foreignSchemaString, "fixture must differ textually from the round-trip")
    val m = mapper.createObjectNode()
    m.put("id", "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee")
    m.putObject("format").put("provider", "parquet")
    m.put("schemaString", foreignSchemaString)
    m.putArray("partitionColumns")
    m.putObject("configuration").put("delta.appendOnly", "false")
    m.put("createdTime", 123456789L)
    putCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":${mapper.writeValueAsString(m)}}""",
      addJson("f0.parquet", Map.empty, size)))

    DeltaWrite.deleteWhereDv(spark, dir,
      graft.core.Filters.normalize(Seq(Filter("id", "=", 2L))))
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.metadata.id == "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee",
      "table identity must survive a pure DV delete")
    assert(snap.metadata.configuration.get("delta.appendOnly").contains("false"),
      "table configuration must survive a pure DV delete")
    assert(snap.metadata.createdTime.contains(123456789L))
    assert(new DeltaTable("t", dir)(spark).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (3L, "c")))
  }

  test("v2 checkpoint: manifest + sidecars replay an aged-out JSON prefix") {
    val dir = tempDir("delta-v2cp").toString + "/t"
    (0 until 3).foreach { i =>
      DeltaWrite.append(spark,
        (1 to 10).map(j => ((i * 10 + j).toLong, s"v$i-$j")).toDF("id", "v"), dir)
    }
    DeltaWrite.deleteWhereDv(spark, dir,
      graft.core.Filters.normalize(Seq(Filter("id", "<=", 5L))))
    val expected = new DeltaTable("t", dir)(spark)
      .select("id").as[Long].collect().sorted.toSeq
    assert(expected.size == 25)

    val cpV = DeltaWrite.checkpointV2(spark, dir, sidecars = 2)
    val f = fs(dir)
    assert(f.listStatus(DeltaLog.sidecarDir(dir)).count(_.getPath.getName.endsWith(".parquet")) == 2)
    // drop the whole JSON prefix: replay must come from manifest + sidecars
    (0L to cpV).foreach(v =>
      f.delete(new Path(dir + "/_delta_log", f"$v%020d.json"), false))
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version == cpV)
    assert(snap.protocol.readerFeatures.exists(_.contains("v2Checkpoints")))
    assert(snap.protocol.readerFeatures.exists(_.contains("deletionVectors")),
      "DV feature must survive the v2 protocol widening")
    val got = new DeltaTable("t", dir)(spark).select("id").as[Long].collect().sorted.toSeq
    assert(got == expected)
    // sidecar tombstones still guard vacuum retention
    assert(DeltaWrite.vacuum(spark, dir, retentionMs = 3600L * 1000) == 0)

    // a manifest whose sidecar is missing refuses rather than
    // silently dropping files
    val sc = f.listStatus(DeltaLog.sidecarDir(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    f.delete(sc, false)
    val e = intercept[IllegalArgumentException] { DeltaLog.snapshot(spark, dir) }
    assert(e.getMessage.contains("sidecar"))
  }

  test("a v2 checkpoint of a legacy writer-4 table keeps the legacy writer features") {
    val dir = tempDir("delta-v2legacy").toString + "/t"
    DeltaWrite.append(spark, (1 to 5).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    DeltaWrite.setTableProperties(spark, dir, Map("delta.enableChangeDataFeed" -> "true"))
    assert(DeltaLog.snapshot(spark, dir).protocol == DeltaLog.Protocol(1, 4, None, None))
    val cpV = DeltaWrite.checkpointV2(spark, dir)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version == cpV)
    val pr = snap.protocol
    assert(pr.minReaderVersion == 3 && pr.minWriterVersion == 7, pr)
    assert(pr.readerFeatures.contains(Seq("v2Checkpoints")), pr)
    assert(pr.writerFeatures.map(_.toSet).contains(Set("appendOnly", "invariants",
      "checkConstraints", "changeDataFeed", "generatedColumns", "v2Checkpoints")), pr)
  }

  test("an append without partitionBy keeps the table's partitioning") {
    val dir = tempDir("delta-keepparts").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "p"), dir,
      partitionBy = Seq("p"))
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "p"), dir)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.metadata.partitionColumns == List("p"))
    assert(snap.files.forall(_.partitionValues.keySet == Set("p")), snap.files)
    val rows = new DeltaTable("t", dir)(spark).select("id", "p").as[(Long, String)]
      .collect().sorted.toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // a different partitioning is refused, and the table is untouched
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((4L, "d")).toDF("id", "p"), dir, partitionBy = Seq("id"))
    }
    assert(e.getMessage.contains("partitioning"), e.getMessage)
    assert(DeltaLog.snapshot(spark, dir).version == snap.version)
  }

  test("DV commits keep every protocol feature the table declared") {
    val dir = tempDir("delta-dvfeatures").toString + "/t"
    DeltaWrite.append(spark, (1 to 6).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    DeltaWrite.setTableProperties(spark, dir, Map(
      "delta.enableInCommitTimestamps" -> "true",
      "delta.enableChangeDataFeed" -> "true",
      "delta.enableRowTracking" -> "true"))
    DeltaDdl.addCheckConstraint(spark, dir, "pos", "id > 0")
    DeltaDdl.clusterBy(spark, dir, Seq("id"))
    def features(): (Set[String], Set[String]) = {
      val p = DeltaLog.snapshot(spark, dir).protocol
      (p.readerFeatures.toSeq.flatten.toSet, p.writerFeatures.toSeq.flatten.toSet)
    }
    val (reader0, writer0) = features()
    assert(Set("inCommitTimestamp", "changeDataFeed", "checkConstraints", "clustering",
      "rowTracking", "domainMetadata").subsetOf(writer0), writer0)
    def assertKept(op: String): Unit = {
      val (reader, writer) = features()
      assert((reader0 + "deletionVectors").subsetOf(reader), s"$op: reader $reader")
      assert((writer0 + "deletionVectors").subsetOf(writer), s"$op: writer $writer")
    }
    DeltaWrite.deleteWhereDv(spark, dir, graft.core.Filters.normalize(Seq(Filter("id", "=", 1L))))
    assertKept("deleteWhereDv")
    DeltaWrite.updateWhereDv(spark, dir,
      graft.core.Filters.normalize(Seq(Filter("id", "=", 2L))), Seq("v" -> "'z'"))
    assertKept("updateWhereDv")
    DeltaWrite.mergeDv(spark, dir, Seq((3L, "m"), (9L, "n")).toDF("id", "v"), Seq("id"))
    assertKept("mergeDv")
    val withDvs = DeltaLog.snapshot(spark, dir)
    assert(withDvs.files.exists(_.dv.isDefined))
    // an overwrite drops the DV-bearing files; restoring re-adds them
    DeltaWrite.overwrite(spark, Seq((7L, "o")).toDF("id", "v"), dir)
    DeltaWrite.restore(spark, dir, withDvs.version)
    assert(DeltaLog.snapshot(spark, dir).files.exists(_.dv.isDefined))
    assertKept("restore")
    val ids = new DeltaTable("t", dir)(spark).select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(2L, 3L, 4L, 5L, 6L, 9L))
  }

  test("v2 JSON-lines manifest with inline actions reads") {
    val dir = tempDir("delta-v2json").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val size = putFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, "f0.parquet")
    // hand-authored manifest, as a foreign writer would leave it
    val lines = Seq(
      """{"checkpointMetadata":{"version":1,"tags":null}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoints"],"writerFeatures":["v2Checkpoints"]}}""",
      metaDataJson(schema, Seq.empty),
      addJson("f0.parquet", Map.empty, size))
    val f = fs(dir)
    f.mkdirs(new Path(dir, "_delta_log"))
    val mf = new Path(dir + "/_delta_log",
      f"${1L}%020d.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.json")
    val out = f.create(mf, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // no JSON commits at all — the manifest alone carries the state
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version == 1L)
    assert(new DeltaTable("t", dir)(spark).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")))
  }

  test("schema evolution keeps table id and configuration") {
    val dir = tempDir("delta-evolveid").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    val id0 = DeltaLog.snapshot(spark, dir).metadata.id
    assert(id0.nonEmpty)
    DeltaWrite.append(spark, Seq((2L, "b", 7)).toDF("id", "v", "extra"), dir)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.metadata.id == id0, "schema change is the same table")
    assert(snap.schema.fieldNames.contains("extra"))
  }

  test("delta table with lakehouse semantics: dedup + extra cols + predicate") {
    val dir = tempDir("delta-sem").toString + "/t"
    DeltaWrite.append(spark,
      Seq((1L, "first", 1), (1L, "second", 2), (2L, "only", 1)).toDF("id", "v", "ord"), dir)
    val t = new DeltaTable("t", dir,
      uniqueColumns = Some(Seq("id")), orderColumn = Some("ord"),
      extraCols = Seq((length(col("v")).cast("int"), "v_len", "int")))
    val got = t(spark).select("id", "v", "v_len").as[(Long, String, Int)].collect().toSet
    assert(got == Set((1L, "first", 5), (2L, "only", 4)))
    val pred = t(spark, ReadArgs(extra = Map(t.PredicateKey -> "id = 2")))
    assert(pred.select("v").as[String].collect().toSeq == Seq("only"))
  }

  test("deleteWhere rewrites only affected files; NULL predicate rows survive") {
    val dir = tempDir("delta-del").toString + "/t"
    DeltaWrite.append(spark,
      Seq((1L, Some("keep"), 0), (2L, Some("drop"), 0), (3L, None, 0)).toDF("id", "v", "part"),
      dir, partitionBy = Seq("part"))
    DeltaWrite.append(spark,
      Seq((4L, Some("keep"), 1)).toDF("id", "v", "part"), dir, partitionBy = Seq("part"))

    import graft.core.{Filter => F, Filters}
    val r = DeltaWrite.deleteWhere(spark, dir, Filters.normalize(Seq(F("v", "=", "drop"))))
    assert(r.filesRemoved == 1, s"only part=0's file may be rewritten, got $r") // part=1 untouched
    val t = new DeltaTable("t", dir)
    val got = t(spark).select("id").as[Long].collect().toSet
    assert(got == Set(1L, 3L, 4L)) // id=3 has v=NULL: 'v = drop' is NULL → row kept

    // partition-pruned delete: no candidate files → no-op commit
    val before = DeltaLog.latestVersion(spark, dir).get
    val r2 = DeltaWrite.deleteWhere(spark, dir, Filters.normalize(Seq(F("part", "=", 99))))
    assert(r2.filesAdded == 0 && r2.filesRemoved == 0)
    assert(DeltaLog.latestVersion(spark, dir).get == before)
  }

  test("null partition values prune for every operator") {
    val dir = tempDir("delta-nullpart").toString + "/t"
    val df = Seq((1L, Some("x")), (2L, None)).toDF("id", "part")
    DeltaWrite.append(spark, df, dir, partitionBy = Seq("part"))
    val t = new DeltaTable("t", dir)
    assert(t(spark).count() == 2)
    val eq = t(spark, ReadArgs.where(Filter("part", "=", "x")))
    assert(eq.inputFiles.length == 1)
    assert(eq.select("id").as[Long].collect().toSeq == Seq(1L))
    val neq = t(spark, ReadArgs.where(Filter("part", "!=", "zzz")))
    assert(neq.inputFiles.length == 1) // null-partition file pruned: NULL != x is not TRUE
    assert(neq.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("concurrent appends race to distinct versions, no rows lost") {
    val dir = tempDir("delta-race").toString + "/t"
    DeltaWrite.append(spark, Seq((0L, "seed")).toDF("id", "tag"), dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 4).map { i =>
      Future(DeltaWrite.append(spark, Seq((i.toLong, s"w$i")).toDF("id", "tag"), dir))
    }
    val results = Await.result(Future.sequence(writers), 120.seconds)
    // every writer won a distinct version via put-if-absent + retry
    assert(results.map(_.version).toSet.size == 4, results.map(_.version))
    val t = new DeltaTable("t", dir)
    assert(t(spark).select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
  }

  test("a blind-retry append refuses to revert a concurrent schema evolution") {
    val dir = tempDir("delta-retrymeta").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir) // v0
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // same-shape append: snapshot-independent actions, so no
    // concurrency base — the blind-retry path under test
    val fut = Future(DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), dir))
    // the appender freezes its snapshot BEFORE staging; once the
    // staging dir exists its schemaJson is locked to the v0 schema
    val tdir = new java.io.File(dir)
    val deadline = System.currentTimeMillis() + 30000
    while (!Option(tdir.listFiles()).exists(_.exists(_.getName.startsWith("_staging_"))) &&
           System.currentTimeMillis() < deadline) Thread.sleep(5)
    assert(tdir.listFiles().exists(_.getName.startsWith("_staging_")))
    // a concurrent writer wins version 1 with a schema evolution
    // (pure-metadata commit, written raw so it lands in microseconds —
    // well inside the appender's staging+stats window)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val m = om.createObjectNode()
    m.put("id", java.util.UUID.randomUUID().toString)
    m.putObject("format").put("provider", "parquet").putObject("options")
    m.put("schemaString", Seq.empty[(Long, String, Long)].toDF("id", "v", "w").schema.json)
    m.putArray("partitionColumns")
    m.putObject("configuration")
    m.put("createdTime", 1L)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_delta_log", f"${1L}%020d.json"),
      (s"""{"metaData":${om.writeValueAsString(m)}}""" + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    // the appender loses the v1 race; its retry sees the evolved
    // schema and MUST refuse rather than re-emit the frozen metadata
    intercept[DeltaWrite.ConcurrentWriteException] {
      Await.result(fut, 120.seconds)
    }
    val t = new DeltaTable("t", dir)
    assert(t(spark).columns.toSeq == Seq("id", "v", "w")) // evolution survived
    assert(t(spark).select("id").as[Long].collect().toSeq == Seq(1L)) // no partial commit
  }

  test("delta.checkpointInterval writes periodic checkpoints with _last_checkpoint") {
    val dir = tempDir("delta-ckint").toString + "/t"
    DeltaWrite.append(spark, Seq((0L, "a")).toDF("id", "tag"), dir)                // v0
    DeltaWrite.setTableProperties(spark, dir, Map("delta.checkpointInterval" -> "3")) // v1
    (1 to 5).foreach(i =>
      DeltaWrite.append(spark, Seq((i.toLong, "x")).toDF("id", "tag"), dir))      // v2..v6
    val log = new java.io.File(dir, "_delta_log")
    val cps = log.listFiles().map(_.getName).filter(_.contains("checkpoint")).sorted
    // versions 3 and 6 are multiples of the interval
    assert(cps.exists(_.startsWith("00000000000000000003")), cps.toSeq)
    assert(cps.exists(_.startsWith("00000000000000000006")), cps.toSeq)
    assert(new java.io.File(log, "_last_checkpoint").exists)
    // replay works purely from the newest checkpoint once JSON is aged out
    (0L to 6L).foreach { v =>
      new java.io.File(log, f"$v%020d.json").delete()
    }
    val t = new DeltaTable("t", dir)
    assert(t(spark).select("id").as[Long].collect().sorted.toSeq == (0L to 5L))
  }

  test("appends evolve the schema additively only, preserving field metadata") {
    val dir = tempDir("delta-addevo").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    DeltaDdl.addCheckConstraint(spark, dir, "id_pos", "id > 0")

    // widening: the new column lands, old rows read it as null, and
    // the constraint (stored in configuration) still applies
    DeltaWrite.append(spark, Seq((2L, "b", 7L)).toDF("id", "v", "extra"), dir)
    val t0 = new DeltaTable("t", dir)
    val got = t0(spark).select("id", "extra").as[(Long, Option[Long])].collect().toSet
    assert(got == Set((1L, None), (2L, Some(7L))))
    intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((-5L, "x", 1L)).toDF("id", "v", "extra"), dir)
    }

    // narrowing refuses loudly instead of hiding columns
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq(Tuple1(3L)).toDF("id"), dir)
    }
    assert(e.getMessage.contains("never drop"))
    // retyping refuses too
    intercept[IllegalArgumentException] {
      DeltaWrite.append(spark,
        Seq(("3", "c", 1L)).toDF("id", "v", "extra"), dir)
    }
    // overwrite may still replace the schema outright
    DeltaWrite.overwrite(spark, Seq(Tuple1(9L)).toDF("id"), dir)
    assert(new DeltaTable("t", dir)(spark).columns.toSeq == Seq("id"))
  }

  test("evolved-in columns are nullable; case-only renames refuse") {
    val dir = tempDir("delta-addevo2").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    // the frame declares extra as non-nullable (tuple encoder), but
    // pre-evolution rows read it as null — the merged schema must
    // relax it or the table would violate its own NOT NULL contract
    DeltaWrite.append(spark, Seq((2L, "b", 7L)).toDF("id", "v", "extra"), dir)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.schema("extra").nullable, "evolved-in column must be nullable")
    // ...so a later rewrite touching pre-evolution rows still works
    DeltaWrite.updateWhere(spark, dir,
      graft.core.Filters.normalize(Seq(graft.core.Filter("id", "=", 1L))),
      Seq("v" -> "'upd'"))
    assert(new DeltaTable("t", dir)(spark).count() == 2)

    // a column differing only in case is a refusal, not a new column
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((3L, "c", 1L)).toDF("id", "V", "extra"), dir)
    }
    assert(e.getMessage.contains("case"))
  }

  test("log replay is robust to protocol-legal oddities and loud on corruption") {
    import org.apache.hadoop.fs.Path
    val dir = tempDir("delta-robust").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    val logDir = new Path(dir + "/_delta_log")
    val f = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(version: Long, body: String): Unit = {
      val out = f.create(new Path(logDir, f"$version%020d.json"), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    // protocol-legal oddities: unknown top-level action, unknown extra
    // fields on known actions, a remove for a path never added,
    // a commitInfo-only commit — all must replay cleanly
    put(1L, Seq(
      """{"someFutureAction":{"x":1}}""",
      """{"commitInfo":{"operation":"NOOP"}}""",
      """{"remove":{"path":"never-added.parquet","dataChange":true}}""",
      """{"add":{"path":"extra.parquet","partitionValues":{},"size":0,"dataChange":true,"unknownField":7,"stats":null}}"""
    ).mkString("\n") + "\n")
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version == 1L)
    assert(snap.files.exists(_.path == "extra.parquet"))

    // corruption (a truncated JSON line) refuses loudly, never a
    // silent partial replay
    put(2L, """{"add":{"path":"half.parquet","partitionValues""")
    intercept[Exception] { DeltaLog.snapshot(spark, dir) }
  }

  test("delta.checkpointPolicy=v2 makes periodic checkpoints manifest+sidecar flavored") {
    val dir = tempDir("delta-ckpol").toString + "/t"
    DeltaWrite.append(spark, Seq((0L, "a")).toDF("id", "tag"), dir)               // v0
    DeltaWrite.setTableProperties(spark, dir,
      Map("delta.checkpointInterval" -> "2", "delta.checkpointPolicy" -> "v2"))   // v1
    DeltaWrite.append(spark, Seq((1L, "b")).toDF("id", "tag"), dir)               // v2 -> cp
    val log = new java.io.File(dir, "_delta_log")
    val cps = log.listFiles().map(_.getName).filter(_.contains("checkpoint"))
    // UUID-named manifest, not the classic %020d.checkpoint.parquet
    assert(cps.exists(n => n.startsWith("00000000000000000002.checkpoint.")
      && n != "00000000000000000002.checkpoint.parquet"), cps.toSeq)
    assert(new java.io.File(log, "_sidecars").isDirectory)
    // replay from the v2 checkpoint after aging out the JSON prefix
    (0L to 2L).foreach(v => new java.io.File(log, f"$v%020d.json").delete())
    val t = new DeltaTable("t", dir)
    assert(t(spark).select("id").as[Long].collect().sorted.toSeq == Seq(0L, 1L))
  }
}

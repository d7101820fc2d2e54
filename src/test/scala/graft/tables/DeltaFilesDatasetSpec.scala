package graft.tables

import graft.SparkSpec
import graft.core.{Filter, Filters}
import org.apache.spark.sql.functions._

/** Parity between the distributed file-state reconstruction
  * ([[DeltaFilesDataset.filesDataset]]) and the driver-side replay
  * ([[DeltaLog.snapshot]]) across the log shapes that exercise every
  * reconciliation rule: plain appends, copy-on-write DELETE (remove
  * wins), DV DELETE (same-version remove+re-add — add wins), OPTIMIZE
  * rewrites, row-tracking ids, classic and v2 checkpoints, time
  * travel.
  */
class DeltaFilesDatasetSpec extends SparkSpec {
  import spark.implicits._

  private def key(f: DeltaLog.AddFile): (String, Long, Option[String], Long, Option[Long]) =
    (f.path, f.size, f.dv.map(d => s"${d.storageType}:${d.pathOrInlineDv}:${d.cardinality}"),
      f.dv.map(_.cardinality).getOrElse(0L), f.baseRowId)

  private def datasetKeys(path: String, versionAsOf: Option[Long] = None) =
    DeltaFilesDataset.filesDataset(spark, path, versionAsOf)
      .select("path", "size", "deletionVector.storageType",
        "deletionVector.pathOrInlineDv", "deletionVector.cardinality", "baseRowId")
      .collect()
      .map(r => (
        r.getString(0), r.getLong(1),
        Option(r.getString(2)).map(st => s"$st:${r.getString(3)}:${r.getLong(4)}"),
        if (r.isNullAt(4)) 0L else r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
      .toSet

  private def snapshotKeys(path: String, versionAsOf: Option[Long] = None) =
    DeltaLog.snapshot(spark, path, versionAsOf).files.map(key).toSet

  private def assertParity(path: String, versionAsOf: Option[Long] = None): Unit = {
    val ds = datasetKeys(path, versionAsOf)
    val snap = snapshotKeys(path, versionAsOf)
    assert(ds == snap,
      s"dataset-vs-replay mismatch at $path (v=$versionAsOf):\n  only dataset: " +
        s"${ds -- snap}\n  only replay: ${snap -- ds}")
    assert(ds.nonEmpty || snap.isEmpty)
  }

  test("parity across appends, cow delete, DV delete, optimize, checkpoint") {
    val dir = tempDir("fds-core").toString + "/t"
    (0 until 4).foreach(i =>
      DeltaWrite.append(spark,
        Seq.tabulate(50)(j => (i * 50L + j, s"v$i-$j")).toDF("id", "v"), dir))
    assertParity(dir)

    // copy-on-write DELETE: removes + rewrites
    DeltaWrite.deleteWhere(spark, dir, Filters.normalize(Seq(Filter("id", "<", 20))))
    assertParity(dir)

    // DV DELETE: same-version remove + re-add of the same path (add wins)
    DeltaWrite.deleteWhereDv(spark, dir, Filters.normalize(Seq(Filter("id", "<", 60))))
    assertParity(dir)

    // second DV delete replaces descriptors
    DeltaWrite.deleteWhereDv(spark, dir, Filters.normalize(Seq(Filter("id", "<", 80))))
    assertParity(dir)

    // OPTIMIZE: rewrite with dataChange=false (purges DVs)
    DeltaWrite.optimize(spark, dir)
    assertParity(dir)

    // classic checkpoint, then more commits on top
    DeltaWrite.checkpoint(spark, dir)
    DeltaWrite.append(spark, Seq((999L, "tail")).toDF("id", "v"), dir)
    assertParity(dir)

    // time travel to every version the log still covers
    val latest = DeltaLog.latestVersion(spark, dir).get
    (0L to latest).foreach(v => assertParity(dir, Some(v)))
  }

  test("parity on a row-tracked table (baseRowId carried through)") {
    val dir = tempDir("fds-rt").toString + "/t"
    DeltaDdl.createTable(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))),
      configuration = Map(
        "delta.enableRowTracking" -> "true",
        "delta.rowTracking.materializedRowIdColumnName" -> "_mat_rid",
        "delta.rowTracking.materializedRowCommitVersionColumnName" -> "_mat_rcv"))
    DeltaWrite.append(spark, Seq(1L, 2L, 3L).toDF("id"), dir)
    DeltaWrite.append(spark, Seq(4L, 5L).toDF("id"), dir)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.files.forall(_.baseRowId.isDefined))
    assertParity(dir)
  }

  test("parity through a v2 manifest+sidecar checkpoint") {
    val dir = tempDir("fds-v2").toString + "/t"
    (0 until 3).foreach(i =>
      DeltaWrite.append(spark, Seq((i.toLong, s"x$i")).toDF("id", "v"), dir))
    DeltaWrite.checkpointV2(spark, dir)
    DeltaWrite.append(spark, Seq((99L, "after")).toDF("id", "v"), dir)
    assertParity(dir)
    // aged-out JSON prefix: both paths enter through the checkpoint
    val log = new java.io.File(dir, "_delta_log")
    (0L to 2L).foreach(v => new java.io.File(log, f"$v%020d.json").delete())
    assertParity(dir)
  }

  test("path decoding parity on adversarial encodings") {
    // hand-written log: neither reconstruction reads the data files, so
    // the paths need not exist. Covers an encoded colon in the first
    // segment (no scheme — decode must not conjure one), a plus sign
    // (URI path decoding keeps it), a percent-encoded space, an
    // absolute s3 URI, and a malformed escape (raw fallback).
    val dir = tempDir("fds-enc").toString + "/t"
    val log = new java.io.File(dir, "_delta_log")
    log.mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    val meta = s"""{"metaData":{"id":"t-enc","format":{"provider":"parquet","options":{}},"schemaString":${com.fasterxml.jackson.databind.json.JsonMapper.builder.build.writeValueAsString(schema)},"partitionColumns":[],"configuration":{},"createdTime":0}}"""
    val protocol = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    val paths = Seq(
      "a%3Ab/part-0.parquet",        // encoded colon, first segment
      "sp+ace/part-1.parquet",       // '+' survives URI path decoding
      "enc%20oded/part-2.parquet",   // encoded space
      "s3://bucket/abs/part-3.parquet", // absolute URI: scheme+authority stripped
      "bad%zzescape.parquet")        // malformed: raw fallback
    val adds = paths.zipWithIndex.map { case (p, i) =>
      s"""{"add":{"path":"$p","partitionValues":{},"size":${100 + i},"modificationTime":0,"dataChange":true}}"""
    }
    java.nio.file.Files.write(
      new java.io.File(log, f"${0L}%020d.json").toPath,
      (Seq(protocol, meta) ++ adds).mkString("", "\n", "\n").getBytes("UTF-8"))
    assertParity(dir)
    val got = datasetKeys(dir).map(_._1)
    assert(got == Set(
      "a:b/part-0.parquet", "sp+ace/part-1.parquet", "enc oded/part-2.parquet",
      "/abs/part-3.parquet", "bad%zzescape.parquet"), got)
  }

  test("distributed pruning parity with driver-side file skipping") {
    val dir = tempDir("fds-prune").toString + "/t"
    // partitioned by a string column (incl. an all-NULL partition),
    // data columns covering the numeric / string / date compare paths,
    // with per-column nulls so nullCount skipping is exercised
    def batch(cat: String, base: Long, nullNames: Boolean = false) =
      Seq.tabulate(20) { j =>
        val id = base + j
        (Option(cat).orNull, id,
          if (nullNames || j % 7 == 0) null else s"name-${id % 13}",
          java.sql.Date.valueOf(f"2024-01-${id % 27 + 1}%02d"))
      }.toDF("cat", "id", "name", "d")
    Seq("a" -> 0L, "b" -> 100L, "a" -> 200L, null.asInstanceOf[String] -> 300L)
      .foreach { case (c, b) => DeltaWrite.append(spark, batch(c, b), dir, Seq("cat")) }
    // partition 'c' holds files whose `name` column is all null
    DeltaWrite.append(spark, batch("c", 400L, nullNames = true), dir, Seq("cat"))

    val snap = DeltaLog.snapshot(spark, dir)
    import graft.core.{Filter, Filters}
    val cases: Seq[Seq[Filter]] = Seq(
      Seq(Filter("cat", "=", "a")),
      Seq(Filter("cat", "!=", "a")),
      Seq(Filter("cat", "in", Seq("b", "zzz"))),
      Seq(Filter("cat", "not in", Seq("a", "b"))),
      Seq(Filter("cat", "contains", "a")),
      Seq(Filter("id", "=", 105L)),
      Seq(Filter("id", "<", 50L)),
      Seq(Filter("id", "<=", 99L)),
      Seq(Filter("id", ">", 250L)),
      Seq(Filter("id", ">=", 300L)),
      Seq(Filter("id", "!=", 0L)),
      Seq(Filter("id", "in", Seq(5L, 205L))),
      Seq(Filter("id", "not in", Seq(5L))),
      Seq(Filter("name", "=", "name-3")),
      Seq(Filter("name", ">", "name-9")),
      Seq(Filter("d", "<", "2024-01-05")),
      Seq(Filter("d", ">=", java.sql.Date.valueOf("2024-01-20"))),
      Seq(Filter("cat", "=", "a"), Filter("id", ">", 150L)), // conjunction
      Seq(Filter("nosuch", "=", 1)), // unknown column: never prunes
      Seq(Filter("id", "=", "garbage"))) // uncomparable value: fails open
    cases.foreach { conj =>
      val dnf = Filters.normalize(conj)
      val driver = snap.files
        .filter(f => DeltaFileSkipping.mayMatch(f, dnf, snap.metadata))
        .map(_.path).toSet
      val dist = DeltaFilesDataset.prunedFiles(spark, dir, dnf)
        .select("path").collect().map(_.getString(0)).toSet
      assert(dist == driver,
        s"pruning mismatch for $conj:\n  only distributed: ${dist -- driver}" +
          s"\n  only driver: ${driver -- dist}")
    }
    // a real disjunction (normalize(Seq) builds one conjunction, so
    // hand-build the DNF) and pruning effectiveness
    val dnfOr: Filters.Normalized =
      Seq(Seq(Filter("cat", "=", "a")), Seq(Filter("id", ">=", 300L)))
    val driverOr = snap.files
      .filter(f => DeltaFileSkipping.mayMatch(f, dnfOr, snap.metadata)).map(_.path).toSet
    val distOr = DeltaFilesDataset.prunedFiles(spark, dir, dnfOr)
      .select("path").collect().map(_.getString(0)).toSet
    assert(distOr == driverOr)
    assert(driverOr.nonEmpty && driverOr.size < snap.files.size,
      "disjunction case should actually prune")
    val pruned = DeltaFilesDataset
      .prunedFiles(spark, dir, Filters.normalize(Seq(Filter("cat", "=", "b"))))
      .count()
    assert(pruned < snap.files.size, "partition pruning should drop files")

    // an all-null column fails every null-rejecting operator, so both
    // paths prune those files under !=, not in and contains too, and
    // read the same files and rows
    val allNull = snap.files.filter(_.partitionValues.get("cat").flatten.contains("c"))
      .map(_.path).toSet
    assert(allNull.nonEmpty)
    val t = new DeltaTable("t", dir)
    Seq(Filter("name", "!=", "name-3"), Filter("name", "not in", Seq("name-3")),
      Filter("name", "contains", "name")).foreach { f =>
      val dnf = Filters.normalize(Seq(f))
      val driver = snap.files
        .filter(DeltaFileSkipping.mayMatch(_, dnf, snap.metadata)).map(_.path).toSet
      val dist = DeltaFilesDataset.prunedFiles(spark, dir, dnf)
        .select("path").collect().map(_.getString(0)).toSet
      assert(dist == driver, s"pruning mismatch for $f")
      assert((driver intersect allNull).isEmpty, s"$f kept an all-null file")
      val args = ReadArgs(filters = dnf)
      val onDriver = t(spark, args)
      val distributed = t(spark, args.copy(extra = args.extra + (t.DistributedPlanningKey -> true)))
      assert(onDriver.inputFiles.toSet == distributed.inputFiles.toSet)
      val rows = onDriver.collect().toSet
      assert(rows.nonEmpty && rows == distributed.collect().toSet)
    }
  }

  test("metadata-only replay matches the full replay, without the files") {
    val dir = tempDir("fds-meta").toString + "/t"
    DeltaDdl.createTable(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cat",
          org.apache.spark.sql.types.StringType))),
      partitionBy = Seq("cat"),
      configuration = Map("delta.appendOnly" -> "false", "graft.note" -> "x"))
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "cat"), dir,
      Seq("cat"), txn = Some(("app-1", 7L)))
    DeltaWrite.checkpoint(spark, dir)
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "cat"), dir, Seq("cat"))

    val full = DeltaLog.snapshot(spark, dir)
    val metaOnly = DeltaLog.snapshot(spark, dir, None, withFiles = false)
    assert(metaOnly.files.isEmpty)
    assert(metaOnly.version == full.version)
    assert(metaOnly.metadata == full.metadata)
    assert(metaOnly.protocol == full.protocol)
    assert(metaOnly.txns == full.txns)
    assert(metaOnly.domains == full.domains)
  }

  test("distributedPlanning read arg returns the same rows as the replay") {
    val dir = tempDir("fds-dp").toString + "/t"
    (0 until 3).foreach(i =>
      DeltaWrite.append(spark,
        Seq.tabulate(30)(j => (s"p$i", i * 30L + j)).toDF("cat", "id"), dir, Seq("cat")))
    val t = new DeltaTable("t", dir)
    import graft.core.Filter
    val args = ReadArgs.where(Filter("cat", "=", "p1"), Filter("id", "<", 50L))
    val base = t(spark, args).orderBy("id").collect().toSeq
    val dp = t(spark, args.copy(extra = args.extra + (t.DistributedPlanningKey -> true)))
      .orderBy("id").collect().toSeq
    assert(base == dp)
    assert(base.nonEmpty)
  }

  test("auto-gate: large estimated file count plans distributedly with no driver add-collect") {
    val dir = tempDir("fds-auto").toString + "/t"
    (0 until 3).foreach(i =>
      DeltaWrite.append(spark,
        Seq.tabulate(30)(j => (s"p$i", i * 30L + j)).toDF("cat", "id"), dir, Seq("cat")))
    DeltaWrite.checkpoint(spark, dir)
    DeltaWrite.append(spark, Seq(("p1", 999L)).toDF("cat", "id"), dir, Seq("cat"))
    assert(DeltaLog.estimateFileCount(spark, dir) >= 3L) // cheap gate input
    val t = new DeltaTable("t", dir)
    val args = ReadArgs.where(Filter("cat", "=", "p1"), Filter("id", "<", 50L))
    val expected = t(spark, args).orderBy("id").collect().toSeq

    try {
      spark.conf.set(DeltaTable.AutoDistributedThresholdConf, "1")
      val before = DeltaLog.driverFileReplays.get()
      val got = t(spark, args) // no distributedPlanning arg — the gate decides
      val planned = DeltaLog.driverFileReplays.get()
      assert(planned == before,
        "auto-gated read materialized the file list on the driver")
      assert(got.orderBy("id").collect().toSeq == expected)
      // collecting the result must not fall back to a driver replay
      assert(DeltaLog.driverFileReplays.get() == before)

      // an explicit false overrides the gate even above threshold
      t(spark, args.copy(extra = args.extra + (t.DistributedPlanningKey -> false)))
        .collect()
      assert(DeltaLog.driverFileReplays.get() > before)
    } finally spark.conf.unset(DeltaTable.AutoDistributedThresholdConf)

    // below the default threshold the driver path is used (cheap for
    // small tables — no extra Spark jobs for planning)
    val b2 = DeltaLog.driverFileReplays.get()
    t(spark, args).collect()
    assert(DeltaLog.driverFileReplays.get() > b2)
  }

  test("DELETE/UPDATE/DV-delete under distributed planning match driver planning") {
    import graft.core.{Filter, Filters}
    def mk(tag: String): String = {
      val dir = tempDir(s"fds-wr-$tag").toString + "/t"
      (0 until 3).foreach(i =>
        DeltaWrite.append(spark,
          Seq.tabulate(40)(j => (s"p$i", i * 40L + j)).toDF("cat", "id"), dir, Seq("cat")))
      dir
    }
    def rows(dir: String): Set[(String, Long)] = {
      val t = new DeltaTable("t", dir)
      t(spark).select("cat", "id").as[(String, Long)].collect().toSet
    }
    val f = Filters.normalize(Seq(Filter("id", "<", 60L)))

    val (d1, d2) = (mk("del"), mk("del2"))
    DeltaWrite.deleteWhere(spark, d1, f)
    DeltaWrite.deleteWhere(spark, d2, f, distributedPlanning = true)
    assert(rows(d1) == rows(d2) && rows(d2).forall(_._2 >= 60L))

    val (u1, u2) = (mk("upd"), mk("upd2"))
    DeltaWrite.updateWhere(spark, u1, f, Seq("id" -> "id + 1000"))
    DeltaWrite.updateWhere(spark, u2, f, Seq("id" -> "id + 1000"),
      distributedPlanning = true)
    assert(rows(u1) == rows(u2) && rows(u2).count(_._2 >= 1000L) == 60)

    val (v1, v2) = (mk("dv"), mk("dv2"))
    DeltaWrite.deleteWhereDv(spark, v1, f)
    DeltaWrite.deleteWhereDv(spark, v2, f, distributedPlanning = true)
    assert(rows(v1) == rows(v2) && rows(v2).size == 60)
    // and the DV path really produced deletion vectors, not rewrites
    assert(DeltaLog.snapshot(spark, v2).files.exists(_.dv.isDefined))
  }

  test("refuses a log hole exactly like the replay") {
    val dir = tempDir("fds-hole").toString + "/t"
    (0 until 3).foreach(i =>
      DeltaWrite.append(spark, Seq((i.toLong, "x")).toDF("id", "v"), dir))
    new java.io.File(new java.io.File(dir, "_delta_log"), f"${1L}%020d.json").delete()
    val e = intercept[IllegalArgumentException] {
      DeltaFilesDataset.filesDataset(spark, dir).collect()
    }
    assert(e.getMessage.contains("no commits for versions"))
  }
}

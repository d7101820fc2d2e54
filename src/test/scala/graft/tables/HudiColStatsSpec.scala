package graft.tables

import graft.SparkSpec
import graft.core.{Filter, Filters}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** Per-file-group DATA-COLUMN [min,max] ranges in the commit
  * metadata (the r9 record-key ranges generalized): a selective data
  * predicate opens only the file groups whose recorded ranges may
  * hold matches — proven by deleting the pruned group's base file
  * from disk and reading anyway. MOR semantics: data logs contribute
  * their added rows' ranges (union), delete logs contribute nothing
  * (present-empty), foreign stats-less commits poison the slice's
  * stats so absence never prunes.
  */
class HudiColStatsSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readWhere(dir: String, f: Filter*) =
    new HudiTable("t", dir)(spark, ReadArgs(filters = Filters.normalize(f)))

  private def vRange(s: HudiWrite.FileSlice): Option[HudiWrite.ColRange] =
    s.colStats.flatMap(_.get("v"))

  test("COW: a data predicate never opens out-of-range groups (proof by removal)") {
    val dir = tempDir("hudi-cs").toString + "/t"
    // two file groups with disjoint value ranges in ONE partition
    HudiWrite.bulkInsert(spark,
      (1 to 100).map(i => (f"a$i%03d", i)).toDF("k", "v")
        .repartitionByRange(2, col("v")), dir, "k")
    val fs = fsOf(dir)
    val slices = HudiWrite.latestSlices(fs, dir, None)
    assert(slices.size == 2)
    assert(slices.forall(s => vRange(s).isDefined))

    // destroy the low group's base file: a read filtered to the high
    // range must succeed without ever opening it
    val low = slices.find(s => vRange(s).exists(_.min == "1")).get
    fs.delete(new Path(dir, low.relPath), false)
    val got = readWhere(dir, Filter("v", ">", 80)).select("k", "v")
      .collect().map(_.getInt(1)).sorted.toSeq
    assert(got == (81 to 100))
    // the unfiltered read DOES need the destroyed file
    intercept[Exception] { readWhere(dir).count() }
  }

  test("MOR: log ranges union in; delete logs keep base ranges; pruning stays sound") {
    val dir = tempDir("hudi-cs-mor").toString + "/t"
    HudiWrite.bulkInsert(spark,
      (1 to 20).map(i => (f"k$i%03d", i)).toDF("k", "v").repartition(1),
      dir, "k", tableType = "MERGE_ON_READ")
    val fs = fsOf(dir)
    assert(vRange(HudiWrite.latestSlices(fs, dir, None).head)
      .contains(HudiWrite.ColRange(isNumeric = true, "1", "20")))

    // a log update pushes one key's value to 500: the union range
    // must widen, and a filter matching ONLY the log value still
    // returns the merged row
    HudiWrite.upsert(spark, Seq(("k005", 500)).toDF("k", "v"), dir)
    val logged = HudiWrite.latestSlices(fs, dir, None).find(_.logFiles.nonEmpty).get
    assert(vRange(logged).contains(HudiWrite.ColRange(isNumeric = true, "1", "500")))
    assert(readWhere(dir, Filter("v", ">", 400)).select("k").as[String]
      .collect().toSeq == Seq("k005"))
    // out of the union range: the slice prunes (declared-empty frame)
    assert(readWhere(dir, Filter("v", ">", 600)).count() == 0)

    // a DELETE log adds no values: ranges survive, pruning unchanged
    HudiWrite.delete(spark, Seq("k001").toDF("k"), dir)
    val afterDel = HudiWrite.latestSlices(fs, dir, None).find(_.logFiles.nonEmpty).get
    assert(vRange(afterDel).contains(HudiWrite.ColRange(isNumeric = true, "1", "500")))
    assert(readWhere(dir, Filter("v", ">", 600)).count() == 0)
    assert(readWhere(dir, Filter("v", "=", 2)).count() == 1)
  }

  test("NaN endpoints poison a file's stats instead of reading as all-null") {
    // base group: d's max is NaN (Spark sorts NaN greatest) — d has
    // REAL values we cannot bound, so the file must record NO stats;
    // a later log range for d must NOT shadow the live base rows
    val dir = tempDir("hudi-cs-nan").toString + "/t"
    HudiWrite.bulkInsert(spark,
      Seq(("k001", 7.0), ("k002", Double.NaN)).toDF("k", "d").repartition(1),
      dir, "k", tableType = "MERGE_ON_READ")
    val fs = fsOf(dir)
    assert(HudiWrite.latestSlices(fs, dir, None).head.colStats.isEmpty,
      "NaN endpoints must poison the file's stats map")
    HudiWrite.upsert(spark, Seq(("k001", 1.5)).toDF("k", "d"), dir)
    // union with a poisoned contributor stays poisoned: the filter
    // d = NaN-free probe must still scan the group (k001 was updated
    // to 1.5, so d = 1.5 lives ONLY in the log)
    assert(HudiWrite.latestSlices(fs, dir, None)
      .find(_.logFiles.nonEmpty).get.colStats.isEmpty)
    assert(readWhere(dir, Filter("d", "=", 1.5)).count() == 1L)
  }

  test("stats-less foreign commit poisons the slice's stats (fail-open)") {
    val dir = tempDir("hudi-cs-f").toString + "/t"
    HudiWrite.bulkInsert(spark,
      (1 to 10).map(i => (f"k$i%03d", i)).toDF("k", "v").repartition(1), dir, "k")
    val fs = fsOf(dir)
    // strip columnStats from the commit JSON, as a foreign writer
    // that never recorded them
    val hoodie = new Path(dir, ".hoodie")
    val commit = fs.listStatus(hoodie).map(_.getPath)
      .find(_.getName.endsWith(".commit")).get
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = {
      val in = fs.open(commit)
      try mapper.readTree(in) finally in.close()
    }
    val stats = root.path("partitionToWriteStats")
    stats.fieldNames().forEachRemaining { part =>
      stats.path(part).forEach {
        case o: com.fasterxml.jackson.databind.node.ObjectNode =>
          o.remove("columnStats"); ()
        case _ => ()
      }
    }
    val out = fs.create(commit, true)
    out.write(mapper.writeValueAsBytes(root)); out.close()

    val s = HudiWrite.latestSlices(fs, dir, None).head
    assert(s.colStats.isEmpty)
    // absent stats never prune: the out-of-range filter still scans
    // (and finds nothing), the in-range one still answers
    assert(readWhere(dir, Filter("v", ">", 600)).count() == 0)
    assert(readWhere(dir, Filter("v", "=", 3)).count() == 1)
  }

  test("distributed slice planning: parity with the driver fold across logs/deletes/compaction") {
    val dir = tempDir("hudi-dplan").toString + "/t"
    HudiWrite.bulkInsert(spark,
      (1 to 40).map(i => (f"k$i%03d", i, i % 2)).toDF("k", "v", "p")
        .repartition(col("p")), dir, "k", Seq("p"), tableType = "MERGE_ON_READ")
    // log-borne update + insert (new group), a tombstone, and a
    // partition-scoped compaction (replacecommit machinery)
    HudiWrite.upsert(spark, Seq(("k005", 500, 1), ("k900", 9, 0)).toDF("k", "v", "p"), dir)
    HudiWrite.delete(spark, Seq("k002").toDF("k"), dir)
    HudiWrite.compact(spark, dir, partitions = Some(Seq("p=1")))
    val fs = fsOf(dir)

    // planner-level parity, unpruned
    val driver = HudiWrite.latestSlices(fs, dir, None)
    val (dist, sample) = HudiWrite.latestSlicesDistributed(spark, dir, None, _ => true)
    assert(dist == driver)
    assert(sample.isEmpty) // survivors nonempty: no sample fetched

    // read-level parity with pruning filters, both forced paths
    val t = new HudiTable("t", dir)
    def rows(distributed: Boolean) = t(spark, ReadArgs(
      filters = Filters.normalize(Seq(Filter("v", ">", 3))),
      extra = Map(t.DistributedPlanningKey -> distributed)))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(rows(true) == rows(false) && rows(true).nonEmpty)

    // the byte gate routes automatically
    spark.conf.set(HudiTable.AutoDistributedBytesConf, "0")
    try assert(t(spark, ReadArgs.empty).count() ==
      t(spark, ReadArgs(extra = Map(t.DistributedPlanningKey -> false))).count())
    finally spark.conf.unset(HudiTable.AutoDistributedBytesConf)

    // all-pruned distributed read still yields the declared-empty
    // frame with the real schema (sample path)
    val empty = t(spark, ReadArgs(
      filters = Filters.normalize(Seq(Filter("v", ">", 10000))),
      extra = Map(t.DistributedPlanningKey -> true)))
    assert(empty.columns.toSeq == Seq("k", "v", "p") && empty.count() == 0)
  }

  test("unionColStats and colStatsMayMatch semantics") {
    import HudiWrite._
    val a = Map("v" -> ColRange(true, "1", "10"), "s" -> ColRange(false, "a", "c"))
    val b = Map("v" -> ColRange(true, "5", "20"))
    // key union: 's' only in a (b was all-null there) keeps a's range
    assert(unionColStats(Some(a), Some(b)) == Some(Map(
      "v" -> ColRange(true, "1", "20"), "s" -> ColRange(false, "a", "c"))))
    assert(unionColStats(Some(a), None).isEmpty)
    assert(unionColStats(Some(a), Some(Map.empty)) == Some(a))
    // numeric compare is numeric, not lexical: 9 < 10
    assert(unionColStats(
      Some(Map("v" -> ColRange(true, "9", "9"))),
      Some(Map("v" -> ColRange(true, "10", "10"))))
      == Some(Map("v" -> ColRange(true, "9", "10"))))

    def f(op: String, v: Any) = Filters.normalize(Seq(Filter("v", op, v)))
    // a slice's column ranges prune through FileSkipping (keepSlice)
    def colStatsMayMatch(st: Option[Map[String, ColRange]], fs: Filters.Normalized) =
      HudiTable.keepSlice(fs)(FileSlice("", "fg", "0", "fg.parquet", colStats = st))
    val st = Some(Map("v" -> ColRange(true, "10", "20")))
    assert(!colStatsMayMatch(st, f("=", 25)))
    assert(colStatsMayMatch(st, f("=", 15)))
    assert(!colStatsMayMatch(st, f("<", 10)))
    assert(colStatsMayMatch(st, f("<=", 10)))
    assert(!colStatsMayMatch(st, f(">", 20)))
    assert(colStatsMayMatch(st, f(">=", 20)))
    assert(colStatsMayMatch(st, f("in", Seq(1, 15))))
    assert(!colStatsMayMatch(st, f("in", Seq(1, 2))))
    // != never prunes (no null counts); unknown columns fail open
    assert(colStatsMayMatch(st, f("!=", 15)))
    assert(colStatsMayMatch(st, Filters.normalize(Seq(Filter("w", "=", 1)))))
    assert(colStatsMayMatch(None, f("=", 999)))
  }
}

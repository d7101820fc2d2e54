package graft.tables

import graft.SparkSpec
import graft.core.{Filter, Filters}
import org.apache.spark.sql.functions._

class DeltaCdfSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(rows: Seq[(Long, String)], partitioned: Boolean = false): String = {
    val dir = tempDir("delta-cdf").toString + "/t"
    val df = rows.toDF("id", "grp")
    DeltaWrite.append(spark, df, dir,
      partitionBy = if (partitioned) Seq("grp") else Seq.empty)
    dir
  }

  private def changeSet(dir: String, from: Long, to: Long = Long.MaxValue) =
    DeltaChanges.between(spark, dir, from, to)
      .select(col("id"), col("grp"), col(DeltaChanges.ChangeTypeCol),
        col(DeltaChanges.CommitVersionCol))
      .as[(Long, String, String, Long)].collect().toSet

  test("setTableProperties merges config and bumps the writer protocol for CDF") {
    val dir = freshTable(Seq((1L, "a")))
    val res = DeltaWrite.setTableProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))
    assert(res.version == 1L)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.metadata.configuration("delta.enableChangeDataFeed") == "true")
    assert(snap.protocol.minWriterVersion == 4)
    assert(snap.metadata.id == DeltaLog.snapshot(spark, dir, Some(0L)).metadata.id,
      "a properties commit must not change table identity")
    // idempotent: same props again → no new commit
    assert(DeltaWrite.setTableProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true")).version == 1L)
  }

  test("inserts derive from add actions; deletes come from cdc files") {
    val dir = freshTable(Seq((1L, "a"), (2L, "b"), (3L, "a")))            // v0
    DeltaWrite.setTableProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))                        // v1
    DeltaWrite.append(spark, Seq((4L, "b")).toDF("id", "grp"), dir)       // v2
    DeltaWrite.deleteWhere(spark, dir,
      Filters.normalize(Seq(Filter("grp", "=", "a"))))                    // v3 (cdc)

    val got = changeSet(dir, 0)
    assert(got == Set(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L), (3L, "a", "insert", 0L),
      (4L, "b", "insert", 2L),
      (1L, "a", "delete", 3L), (3L, "a", "delete", 3L)), s"got $got")

    // the delete commit rewrote files — surviving rows must NOT appear
    // as inserts (cdc takes precedence over add/remove)
    assert(!got.contains((2L, "b", "insert", 3L)))
    // the cdc file physically lives under _change_data/
    val cd = new java.io.File(dir, "_change_data")
    assert(cd.exists && cd.listFiles().nonEmpty, "expected _change_data files")

    // subrange read
    assert(changeSet(dir, 2, 2) == Set((4L, "b", "insert", 2L)))
    // empty range past head clamps cleanly
    assert(changeSet(dir, 4) == Set.empty)
  }

  test("merge-on-read DV delete emits cdc rows for exactly the new deletes") {
    val dir = freshTable(Seq((1L, "a"), (2L, "a"), (3L, "b")), partitioned = true)
    DeltaWrite.setTableProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))                        // v1
    DeltaWrite.deleteWhereDv(spark, dir,
      Filters.normalize(Seq(Filter("id", "=", 1L))))                      // v2
    // second DV delete: id=2 — rows already hidden by v2's DV must not
    // reappear in v3's change rows
    DeltaWrite.deleteWhereDv(spark, dir,
      Filters.normalize(Seq(Filter("id", "<=", 2L))))                     // v3

    val got = changeSet(dir, 2)
    assert(got == Set((1L, "a", "delete", 2L), (2L, "a", "delete", 3L)), s"got $got")
    // protocol: DV features + changeDataFeed writer feature coexist
    val pr = DeltaLog.snapshot(spark, dir).protocol
    assert(pr.writerFeatures.exists(_.contains("deletionVectors")), pr)
    assert(pr.writerFeatures.exists(_.contains("changeDataFeed")), pr)
    // table state agrees
    val t = new DeltaTable("t", dir)
    assert(t(spark, ReadArgs()).select("id").as[Long].collect().sorted.toSeq == Seq(3L))
  }

  test("enabling CDF on a feature-versioned table appends the writer feature") {
    val dir = freshTable(Seq((1L, "a"), (2L, "b")))
    DeltaWrite.deleteWhereDv(spark, dir,
      Filters.normalize(Seq(Filter("id", "=", 1L))))  // → protocol 3/7
    DeltaWrite.setTableProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))
    val pr = DeltaLog.snapshot(spark, dir).protocol
    assert(pr.minWriterVersion == 7)
    assert(pr.writerFeatures.exists(_.contains("changeDataFeed")), pr)
    assert(pr.readerFeatures.exists(_.contains("deletionVectors")), pr)
  }

  test("a rewrite commit without cdc actions refuses loudly") {
    val dir = freshTable(Seq((1L, "a"), (2L, "b")))
    // delete BEFORE CDF is on → remove+add commit with no cdc
    DeltaWrite.deleteWhere(spark, dir,
      Filters.normalize(Seq(Filter("id", "=", 1L))))                      // v1
    DeltaWrite.setTableProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))                        // v2
    val e = intercept[IllegalArgumentException] { changeSet(dir, 0) }
    assert(e.getMessage.contains("cannot be derived"), e.getMessage)
    // but a range that skips the rewrite works
    assert(changeSet(dir, 2) == Set.empty)
  }

  test("OPTIMIZE commits are dataChange=false and invisible to the feed") {
    val dir = freshTable(Seq((1L, "a"), (2L, "a"), (3L, "a")))
    DeltaWrite.setTableProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))                        // v1
    // several tiny files to compact
    DeltaWrite.append(spark, Seq((4L, "a")).toDF("id", "grp"), dir)       // v2
    DeltaWrite.append(spark, Seq((5L, "a")).toDF("id", "grp"), dir)       // v3
    val res = DeltaWrite.optimize(spark, dir, smallFileBytes = 1L << 30)  // v4 rewrite
    assert(res.filesRemoved > 0)
    // the feed replays cleanly across the rewrite and emits nothing for it
    val got = changeSet(dir, 0)
    assert(got.forall(_._4 != res.version), s"optimize leaked into the feed: $got")
    assert(got.count(_._3 == "insert") == 5)
  }

  test("CDF overwrite records old rows as deletes and new rows as inserts") {
    val dir = freshTable(Seq((1L, "a"), (2L, "b")))
    DeltaWrite.setTableProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))                        // v1
    DeltaWrite.overwrite(spark, Seq((9L, "z")).toDF("id", "grp"), dir)    // v2
    val got = changeSet(dir, 2)
    assert(got == Set(
      (1L, "a", "delete", 2L), (2L, "b", "delete", 2L),
      (9L, "z", "insert", 2L)), s"got $got")
  }

  test("CDF read requires the table property") {
    val dir = freshTable(Seq((1L, "a")))
    val e = intercept[IllegalArgumentException] {
      DeltaChanges.between(spark, dir, 0)
    }
    assert(e.getMessage.contains("enableChangeDataFeed"))
  }

  test("changeActionsIter parses commits lazily (bounded prefix work)") {
    val dir = freshTable(Seq((1L, "a")))
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "grp"), dir)
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "grp"), dir)
    // corrupt the LAST commit: a rate-limited consumer that stops
    // before it must never parse it
    val p = new org.apache.hadoop.fs.Path(dir + "/_delta_log", f"${2L}%020d.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write("{not json".getBytes("UTF-8")) finally out.close()

    val it = DeltaLog.changeActionsIter(spark, dir, 0L, 2L)
    assert(it.next().version == 0L) // fine: version 2 untouched
    assert(it.next().version == 1L)
    intercept[Exception] { it.next() } // only reached when consumed
  }
}

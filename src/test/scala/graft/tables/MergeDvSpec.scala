package graft.tables

import graft.SparkSpec
import graft.core.{Filter, Filters}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Deletion-vector MERGE ([[DeltaWrite.mergeDv]]): semantics identical
  * to the rewrite merge, but matched/deleted target rows die via
  * per-file bitmaps while kept rows (and their files, stats, row ids)
  * never move — only the source rows append.
  */
class MergeDvSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(dir: String): Set[String] =
    DeltaLog.snapshot(spark, dir).files.map(_.path).toSet

  private def readState(dir: String): Set[(Long, String, Long)] =
    new DeltaTable("t", dir)(spark).select("id", "name", "v")
      .as[(Long, String, Long)].collect().toSet

  private def mkTable(tag: String, conf: Map[String, String] = Map.empty): String = {
    val dir = tempDir(s"mergedv-$tag").toString + "/t"
    DeltaDdl.createTable(spark, dir, StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("v", LongType))), configuration = conf)
    DeltaWrite.append(spark,
      Seq.tabulate(20)(i => (i.toLong, s"n$i", i.toLong * 10)).toDF("id", "name", "v"),
      dir)
    dir
  }

  test("upsert via DV: no data file rewritten, kept rows intact, state matches merge") {
    val dvDir = mkTable("basic")
    val rwDir = mkTable("basic-rw")
    val src = Seq((3L, "UPD", 999L), (100L, "NEW", 1L)).toDF("id", "name", "v")

    val before = dataFiles(dvDir)
    val res = DeltaWrite.mergeDv(spark, dvDir, src, Seq("id"))
    DeltaWrite.merge(spark, rwDir, src, Seq("id"))

    assert(readState(dvDir) == readState(rwDir), "DV merge diverged from rewrite merge")
    assert(readState(dvDir).exists(r => r._1 == 3L && r._2 == "UPD"))
    // the original files all survive (plus new source files)
    assert(before.subsetOf(dataFiles(dvDir)), "a candidate file was dropped")
    assert(res.filesRemoved > 0, "the DV'd file must re-add with its pre-image removed")
    // a DV .bin landed
    assert(fsOf(dvDir).listStatus(new Path(dvDir))
      .exists(_.getPath.getName.endsWith(".bin")))
    // the matched file's snapshot entry now carries a DV
    assert(DeltaLog.snapshot(spark, dvDir).files.exists(_.dv.nonEmpty))
  }

  test("deleteKeys and deleteWhenMatched die via the DV in the same commit") {
    val dir = mkTable("deletes")
    val vBefore = DeltaLog.snapshot(spark, dir, withFiles = false).version
    val src = Seq((1L, "DELME", 0L), (2L, "UP", 22L)).toDF("id", "name", "v")
    DeltaWrite.mergeDv(spark, dir, src, Seq("id"),
      deleteWhenMatched = Some("name = 'DELME'"),
      deleteKeys = Some(Seq(5L, 6L, 777L).toDF("id"))) // 777 absent: ignored
    assert(DeltaLog.snapshot(spark, dir, withFiles = false).version == vBefore + 1,
      "upserts + deletes + DVs must ride ONE commit")
    val got = readState(dir)
    assert(!got.exists(r => Set(1L, 5L, 6L).contains(r._1)))
    assert(got.exists(r => r._1 == 2L && r._3 == 22L))
    assert(!got.exists(_._1 == 777L))
    assert(got.size == 20 - 3 + 1 - 1) // -deleted(1,5,6) +nothing new, 2 updated
  }

  test("CDF classification matches the rewrite merge exactly") {
    val conf = Map("delta.enableChangeDataFeed" -> "true")
    val dvDir = mkTable("cdf", conf)
    val rwDir = mkTable("cdf-rw", conf)
    val src = Seq((4L, "U4", 44L), (200L, "NEW", 2L), (7L, "DEL", 0L))
      .toDF("id", "name", "v")
    def apply(dir: String, f: (org.apache.spark.sql.SparkSession, String,
        org.apache.spark.sql.DataFrame, Seq[String], Option[String], Option[(String, Long)],
        Option[Long], Option[org.apache.spark.sql.DataFrame]) => DeltaWrite.CommitResult) =
      f(spark, dir, src, Seq("id"), Some("name = 'DEL'"), None, None,
        Some(Seq(9L).toDF("id")))
    apply(dvDir, DeltaWrite.mergeDv)
    apply(rwDir, DeltaWrite.merge)
    def cdc(dir: String) = {
      val v = DeltaLog.snapshot(spark, dir, withFiles = false).version
      DeltaChanges.between(spark, dir, v, v)
        .select(col("id").as[Long], col("_change_type").as[String]).collect().toSet
    }
    assert(cdc(dvDir) == cdc(rwDir), s"${cdc(dvDir)} vs ${cdc(rwDir)}")
    assert(cdc(dvDir).contains((7L, "delete")) && cdc(dvDir).contains((9L, "delete")))
    assert(cdc(dvDir).contains((4L, "update_preimage")))
    assert(cdc(dvDir).contains((200L, "insert")))
  }

  test("row tracking: kept rows keep ids WITHOUT a rewrite; updated rows carry old ids") {
    val dir = tempDir("mergedv-rt").toString + "/t"
    DeltaWrite.append(spark,
      Seq.empty[(Long, String, Long)].toDF("id", "name", "v"), dir)
    DeltaWrite.setTableProperties(spark, dir, Map("delta.enableRowTracking" -> "true"))
    DeltaWrite.append(spark,
      Seq.tabulate(10)(i => (i.toLong, s"n$i", i.toLong)).toDF("id", "name", "v"), dir)
    def ids(): Map[Long, Long] = {
      val snap = DeltaLog.snapshot(spark, dir)
      DeltaRead.readFiles(spark, dir, snap.metadata, snap.files, withRowIds = true)
        .select(col("id").as[Long], col(DeltaRead.RowIdCol).as[Long])
        .collect().toMap
    }
    val before = ids()
    val filesBefore = dataFiles(dir)
    DeltaWrite.mergeDv(spark, dir,
      Seq((3L, "UP", 33L), (50L, "NEW", 5L)).toDF("id", "name", "v"), Seq("id"))
    val after = ids()
    // kept rows: same ids, same files (no rewrite = stability for free)
    before.keySet.filterNot(_ == 3L).foreach { k =>
      assert(after(k) == before(k), s"kept row $k changed id")
    }
    assert(after(3L) == before(3L), "updated row must carry its old row id")
    assert(filesBefore.subsetOf(dataFiles(dir)))
    assert(after.contains(50L) && !before.values.toSet.contains(after(50L)))
  }

  test("a second mergeDv touching the same file replaces the DV with the union") {
    val dir = mkTable("union")
    DeltaWrite.mergeDv(spark, dir, Seq((2L, "A", 1L)).toDF("id", "name", "v"), Seq("id"))
    DeltaWrite.mergeDv(spark, dir, Seq((4L, "B", 2L)).toDF("id", "name", "v"), Seq("id"))
    val got = readState(dir)
    assert(got.exists(r => r._1 == 2L && r._2 == "A"))
    assert(got.exists(r => r._1 == 4L && r._2 == "B"))
    assert(got.size == 20, "updates never change the row count")
    // rows dead under the first DV never resurface or re-classify
    assert(got.count(_._1 == 2L) == 1 && got.count(_._1 == 4L) == 1)
  }

  test("updateWhereDv: no rewrite, parity with updateWhere, CDF pre/post, DV on file") {
    val conf = Map("delta.enableChangeDataFeed" -> "true")
    val dvDir = mkTable("upd", conf)
    val rwDir = mkTable("upd-rw", conf)
    val f = Filters.normalize(Seq(Filter("id", "<", 5)))
    val set = Seq("name" -> "'UPDATED'", "v" -> "v + 1000")

    val before = dataFiles(dvDir)
    DeltaWrite.updateWhereDv(spark, dvDir, f, set)
    DeltaWrite.updateWhere(spark, rwDir, f, set)
    assert(readState(dvDir) == readState(rwDir))
    assert(readState(dvDir).count(_._2 == "UPDATED") == 5)
    assert(before.subsetOf(dataFiles(dvDir)), "updateWhereDv must not rewrite files")
    assert(DeltaLog.snapshot(spark, dvDir).files.exists(_.dv.nonEmpty))

    def cdc(dir: String) = {
      val v = DeltaLog.snapshot(spark, dir, withFiles = false).version
      DeltaChanges.between(spark, dir, v, v)
        .select(col("id").as[Long], col("name").as[String],
          col("_change_type").as[String]).collect().toSet
    }
    assert(cdc(dvDir) == cdc(rwDir))

    // a second DV update over an overlapping range: dead rows never
    // resurrect as updates; the replacement bitmap unions
    DeltaWrite.updateWhereDv(spark, dvDir,
      Filters.normalize(Seq(Filter("id", "<", 8))), Seq("v" -> "v + 1"))
    DeltaWrite.updateWhere(spark, rwDir,
      Filters.normalize(Seq(Filter("id", "<", 8))), Seq("v" -> "v + 1"))
    assert(readState(dvDir) == readState(rwDir))
    assert(readState(dvDir).size == 20)
    // no-match predicate: commitless no-op
    val v0 = DeltaLog.snapshot(spark, dvDir, withFiles = false).version
    DeltaWrite.updateWhereDv(spark, dvDir,
      Filters.normalize(Seq(Filter("id", "=", 99999))), set)
    assert(DeltaLog.snapshot(spark, dvDir, withFiles = false).version == v0)
  }

  test("updateWhereDv preserves row ids on row-tracked tables") {
    val dir = tempDir("mergedv-updrt").toString + "/t"
    DeltaWrite.append(spark,
      Seq.empty[(Long, String, Long)].toDF("id", "name", "v"), dir)
    DeltaWrite.setTableProperties(spark, dir, Map("delta.enableRowTracking" -> "true"))
    DeltaWrite.append(spark,
      Seq.tabulate(10)(i => (i.toLong, s"n$i", i.toLong)).toDF("id", "name", "v"), dir)
    def ids(): Map[Long, Long] = {
      val snap = DeltaLog.snapshot(spark, dir)
      DeltaRead.readFiles(spark, dir, snap.metadata, snap.files, withRowIds = true)
        .select(col("id").as[Long], col(DeltaRead.RowIdCol).as[Long])
        .collect().toMap
    }
    val before = ids()
    DeltaWrite.updateWhereDv(spark, dir,
      Filters.normalize(Seq(Filter("id", "=", 4))), Seq("name" -> "'X'"))
    val after = ids()
    assert(after == before, "every row id (kept AND updated) must survive a DV update")
  }

  test("delta.enableDeletionVectors routes DELETE/UPDATE/MERGE through DVs") {
    val dir = mkTable("routing",
      Map("delta.enableDeletionVectors" -> "true"))
    val before = dataFiles(dir)
    DeltaWrite.merge(spark, dir,
      Seq((3L, "M", 33L)).toDF("id", "name", "v"), Seq("id"))
    DeltaWrite.updateWhere(spark, dir,
      Filters.normalize(Seq(Filter("id", "=", 5))), Seq("name" -> "'U'"))
    DeltaWrite.deleteWhere(spark, dir,
      Filters.normalize(Seq(Filter("id", "=", 7))))
    assert(before.subsetOf(dataFiles(dir)),
      "flagged-table DML must never rewrite a data file")
    assert(DeltaLog.snapshot(spark, dir).files.exists(_.dv.nonEmpty))
    val got = readState(dir)
    assert(got.exists(r => r._1 == 3L && r._2 == "M"))
    assert(got.exists(r => r._1 == 5L && r._2 == "U"))
    assert(!got.exists(_._1 == 7L))
    assert(got.size == 19)
  }

  test("an all-absent-keys DV merge still commits its txn marker (CDC watermark)") {
    val dir = mkTable("wm")
    val v0 = DeltaLog.snapshot(spark, dir, withFiles = false).version
    // nothing stages: no survivors, delete keys match no target row —
    // the marker must land anyway or a replicator refolds forever
    DeltaWrite.mergeDv(spark, dir,
      Seq.empty[(Long, String, Long)].toDF("id", "name", "v"), Seq("id"),
      txn = Some("wm-app" -> 42L),
      deleteKeys = Some(Seq(777L, 888L).toDF("id")))
    val snap = DeltaLog.snapshot(spark, dir, withFiles = false)
    assert(snap.version == v0 + 1)
    assert(snap.txns.get("wm-app").contains(42L))
    assert(readState(dir).size == 20, "no rows may change")
  }

  test("checkpoint + VACUUM after DV merges: state survives, replaced DVs reclaimed") {
    val dir = mkTable("ckpt")
    DeltaWrite.mergeDv(spark, dir, Seq((2L, "A", 1L)).toDF("id", "name", "v"), Seq("id"))
    DeltaWrite.mergeDv(spark, dir, Seq((2L, "B", 2L)).toDF("id", "name", "v"), Seq("id"),
      deleteKeys = Some(Seq(11L).toDF("id")))
    val expected = readState(dir)
    DeltaWrite.checkpoint(spark, dir)
    assert(readState(dir) == expected, "checkpointed DV state must round-trip")
    val reclaimed = DeltaWrite.vacuum(spark, dir, retentionMs = 0L)
    assert(readState(dir) == expected, "vacuum must keep live DVs and files")
    assert(reclaimed > 0, "the replaced first-merge DV file must be reclaimable")
  }

  test("PARITY property: random merges via DV and rewrite converge identically") {
    // twin tables with CDF and row tracking on, one of them flagged
    // delta.enableDeletionVectors, driven through the SAME public
    // deleteWhere/updateWhere/merge calls (the flag routes the DV twin)
    def twin(tag: String, dv: Boolean): String = {
      val dir = tempDir(s"mergedv-prop-$tag").toString + "/t"
      DeltaWrite.append(spark, Seq.empty[(Long, String, java.lang.Long,
        java.lang.Long, Int)].toDF("id", "name", "v", "w", "p"), dir, partitionBy = Seq("p"))
      DeltaWrite.setTableProperties(spark, dir, Map(
        "delta.enableRowTracking" -> "true", "delta.enableChangeDataFeed" -> "true") ++
        (if (dv) Map("delta.enableDeletionVectors" -> "true") else Map.empty))
      DeltaWrite.append(spark, Seq.tabulate(24)(i => (i.toLong, s"n$i",
        java.lang.Long.valueOf(i * 10L),
        if (i % 4 == 0) null else java.lang.Long.valueOf(i * 7L % 50), i % 3))
        .toDF("id", "name", "v", "w", "p"), dir)
      dir
    }
    val rwDir = twin("rw", dv = false)
    val dvDir = twin("dv", dv = true)
    val v0 = DeltaLog.snapshot(spark, rwDir, withFiles = false).version
    assert(DeltaLog.snapshot(spark, dvDir, withFiles = false).version == v0)
    type Row5 = (Long, String, Option[Long], Option[Long], Int)
    def rows(dir: String): Seq[Row5] =
      new DeltaTable("t", dir)(spark).select("id", "name", "v", "w", "p").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]), r.getInt(4))).toSeq.sorted
    def rowIds(dir: String): Map[Long, Long] = {
      val t = new DeltaTable("t", dir)
      t(spark, ReadArgs(extra = Map(t.RowIdsKey -> true)))
        .select(col("id").as[Long], col("_row_id").as[Long]).collect().toMap
    }
    val startIds = rowIds(rwDir)
    assert(rowIds(dvDir) == startIds)
    var living = startIds.keySet

    val rnd = new scala.util.Random(17)
    (1 to 12).foreach { step =>
      val op = rnd.nextInt(3)
      def both(f: String => Unit): Unit = { f(rwDir); f(dvDir) }
      op match {
        case 0 =>
          // the predicate is NULL where w is null: those rows survive
          val hi = 8 + rnd.nextInt(30)
          val t = rnd.nextInt(50)
          both(d => DeltaWrite.deleteWhere(spark, d,
            Filters.normalize(Seq(Filter("id", "<", hi))),
            predicateSql = Some(s"id < $hi AND w > $t")))
        case 1 =>
          // a swapped pair (every SET reads the old row) and a move to
          // another partition
          val lo = rnd.nextInt(30)
          both(d => DeltaWrite.updateWhere(spark, d,
            Filters.normalize(Seq(Filter("id", ">=", lo))), Seq("v" -> "w", "w" -> "v",
              "p" -> "(p + 1) % 3", "name" -> s"concat(name, '-u$step')")))
        case _ =>
          val keys = rnd.shuffle((0L until 40L).toList)
          val ups = keys.take(4).map(k => (k, if (rnd.nextBoolean()) "DEL" else s"m$step",
            java.lang.Long.valueOf(rnd.nextInt(1000).toLong),
            if (rnd.nextBoolean()) null else java.lang.Long.valueOf(rnd.nextInt(50).toLong),
            (k % 3).toInt))
          // delete keys disjoint from the source, some absent
          val dels = keys.slice(4, 6) :+ (1000L + step)
          both(d => DeltaWrite.merge(spark, d,
            ups.toDF("id", "name", "v", "w", "p"), Seq("id"),
            deleteWhenMatched = Some("name = 'DEL'"), deleteKeys = Some(dels.toDF("id"))))
      }
      val got = rows(dvDir)
      assert(got == rows(rwDir), s"divergence after step $step (op $op)")
      living = living.intersect(got.map(_._1).toSet)
      val (rwIds, dvIds) = (rowIds(rwDir), rowIds(dvDir))
      living.foreach { id =>
        assert(rwIds(id) == startIds(id) && dvIds(id) == startIds(id),
          s"row $id changed its row id after step $step (op $op)")
      }
    }
    def feed(dir: String): Map[(Row5, String), Int] =
      DeltaChanges.between(spark, dir, v0 + 1)
        .select("id", "name", "v", "w", "p", "_change_type").collect()
        .map(r => ((r.getLong(0), r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]), r.getInt(4)), r.getString(5)))
        .groupBy(identity).map { case (k, v) => k -> v.length }
    assert(feed(dvDir) == feed(rwDir), "the change feeds differ")
    // the DV table still prunes and time-travels
    val t = new DeltaTable("t", dvDir)
    assert(t(spark, ReadArgs(extra = Map(t.VersionKey -> v0))).count() == 24)
    val f = Filters.normalize(Seq(Filter("id", "<", 5)))
    assert(t(spark, ReadArgs(filters = f)).count() == rows(dvDir).count(_._1 < 5))
  }
}

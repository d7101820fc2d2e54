package graft.tables

import graft.SparkSpec
import graft.core.Filter
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampNTZType

/** rewrite_manifests: manifest consolidation that changes planning
  * cost and NOTHING else — reads, time travel, delete gating, and
  * partition pruning must be byte-identical before and after.
  */
class IcebergRewriteManifestsSpec extends SparkSpec {
  import spark.implicits._

  private def listEntriesOf(root: String) = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = IcebergMeta.load(fs, root)
    val snap = meta.snapshots.find(s => meta.currentSnapshotId.contains(s.id)).get
    IcebergMeta.readAvro(fs, new Path(snap.manifestList))
  }

  test("consolidates many manifests to one; reads, deletes and pruning unchanged") {
    val root = tempDir("ice-rw").toString + "/t"
    IcebergWrite.append(spark, Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "part"),
      root, Seq("part"))
    IcebergWrite.append(spark, Seq((3L, "c", 0)).toDF("id", "v", "part"), root)
    IcebergWrite.append(spark, Seq((4L, "d", 1)).toDF("id", "v", "part"), root)
    IcebergWrite.deleteWhere(spark, root,
      graft.core.Filters.normalize(Seq(Filter("id", "=", 2L))))
    assert(listEntriesOf(root).count(m =>
      m.get("content").asInstanceOf[Number].intValue() == 0) == 3)

    val t = new IcebergTable("t", root)
    val before = t(spark, ReadArgs.empty).select("id").as[Long].collect().sorted.toSeq
    assert(before == Seq(1L, 3L, 4L))
    val preRwSnap = {
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      IcebergMeta.load(fs, root).currentSnapshotId.get
    }

    val rw = IcebergMaintenance.rewriteManifests(spark, root)
    assert(rw.nonEmpty)
    val entries = listEntriesOf(root)
    assert(entries.count(m => m.get("content").asInstanceOf[Number].intValue() == 0) == 1,
      "data manifests must consolidate to one")
    assert(entries.count(m => m.get("content").asInstanceOf[Number].intValue() == 1) == 1,
      "the delete manifest carries verbatim")

    // identical reads; the position delete still applies (seq
    // materialization preserved the gating)
    assert(t(spark, ReadArgs.empty).select("id").as[Long].collect().sorted.toSeq == before)
    // time travel to the pre-rewrite snapshot still works
    assert(t(spark, ReadArgs(extra = Map(t.SnapshotIdKey -> preRwSnap)))
      .select("id").as[Long].collect().sorted.toSeq == before)
    // partition pruning is intact post-consolidation (the position
    // DELETE file legitimately scans regardless of partition — only
    // DATA inputs must prune)
    val fs2 = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta2 = IcebergMeta.load(fs2, root)
    val snap2 = meta2.snapshots.find(s => meta2.currentSnapshotId.contains(s.id)).get
    val deletePaths = IcebergMeta.planFiles(fs2, snap2)
      .filter(_.content != 0).map(f => new Path(f.path).getName).toSet
    val pruned = t(spark, ReadArgs.where(Filter("part", "=", 0)))
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    val dataInputs = pruned.inputFiles.filterNot(f => deletePaths(new Path(f).getName))
    assert(dataInputs.nonEmpty && dataInputs.forall(_.contains("part=0")), pruned.inputFiles.toSeq)

    // idempotent; appends after the rewrite compose
    assert(IcebergMaintenance.rewriteManifests(spark, root).isEmpty)
    IcebergWrite.append(spark, Seq((5L, "e", 0)).toDF("id", "v", "part"), root)
    assert(t(spark, ReadArgs.empty).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L))
  }

  test("the rewrite commit extends metadata-log like every writer commit") {
    val root = tempDir("ice-rw-mlog").toString + "/t"
    (1 to 3).foreach(i => IcebergWrite.append(spark, Seq((i.toLong, "x")).toDF("id", "v"), root))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(IcebergMaintenance.rewriteManifests(spark, root).nonEmpty)
    assert(IcebergMeta.currentVersion(fs, root) == 4)
    IcebergMaintenanceSpec.assertMetadataLogContinuous(fs, root)
    IcebergWrite.append(spark, Seq((4L, "y")).toDF("id", "v"), root)
    IcebergMaintenanceSpec.assertMetadataLogContinuous(fs, root)
  }

  test("multi-spec tables consolidate per spec and keep per-generation pruning") {
    val root = tempDir("ice-rw-spec").toString + "/t"
    def tsDf(rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "ts", "v").select(
        col("id"), col("ts").cast(TimestampNTZType).as("ts"), col("v"))
    IcebergWrite.append(spark, tsDf(Seq((1L, "2024-01-05 01:00:00", "x"))), root, Seq("v"))
    IcebergWrite.append(spark, tsDf(Seq((2L, "2024-01-06 02:00:00", "y"))), root)
    IcebergWrite.append(spark, tsDf(Seq((3L, "2024-01-07 03:00:00", "x"))), root,
      Seq("days(ts)"))
    IcebergWrite.append(spark, tsDf(Seq((4L, "2024-01-08 04:00:00", "y"))), root)

    assert(IcebergMaintenance.rewriteManifests(spark, root).nonEmpty)
    val entries = listEntriesOf(root)
    assert(entries.size == 2, "one consolidated manifest per spec id")
    assert(entries.map(_.get("partition_spec_id").asInstanceOf[Number].intValue()).toSet.size == 2)

    val t = new IcebergTable("t", root)
    assert(t(spark, ReadArgs.empty).count() == 4)
    // identity-gen pruning
    val vx = t(spark, ReadArgs.where(Filter("v", "=", "x")))
    assert(vx.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // transform-gen pruning
    val day = t(spark, ReadArgs.where(Filter("ts", ">=", "2024-01-08 00:00:00")))
    assert(day.collect().map(_.getLong(0)).toSeq == Seq(4L))
    assert(day.inputFiles.count(_.contains("ts_day=")) == 1, day.inputFiles.toSeq)
  }
}

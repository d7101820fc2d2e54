package graft.tables

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Iceberg maintenance: overwrite snapshots, snapshot expiration with
  * shared-file safety, Delta-owned metadata-only expiration, and
  * distributed orphan-file removal.
  */
class IcebergMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dataFiles(dir: String, s: IcebergMeta.SnapshotInfo): Seq[String] =
    IcebergMeta.planFiles(fsOf(dir), s).map(_.path)

  test("overwrite replaces contents; old snapshot still time-travels") {
    val dir = tempDir("icem-ow").toString + "/t"
    val s1 = IcebergWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    val s2 = IcebergWrite.overwrite(spark, Seq((10L, "x")).toDF("id", "v"), dir)
    val t = new IcebergTable("t", dir)
    assert(t(spark, ReadArgs.empty).collect().map(_.getLong(0)).sorted.toSeq == Seq(10L))
    assert(t(spark, ReadArgs(extra = Map(t.SnapshotIdKey -> s1)))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val meta = IcebergMeta.load(fsOf(dir), dir)
    assert(meta.snapshots.map(_.id).sorted == Seq(s1, s2))
    assert(meta.snapshots.find(_.id == s2).flatMap(_.operation).contains("overwrite"))
  }

  test("expire after overwrite deletes only the files no retained snapshot pins") {
    val dir = tempDir("icem-exp").toString + "/t"
    val s1 = IcebergWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    IcebergWrite.overwrite(spark, Seq((10L, "x")).toDF("id", "v"), dir)
    val fs = fsOf(dir)
    val metaBefore = IcebergMeta.load(fs, dir)
    val oldFiles = dataFiles(dir, metaBefore.snapshots.find(_.id == s1).get)
    val newFiles = dataFiles(dir, metaBefore.snapshots.find(_.id != s1).get)
    assert(oldFiles.nonEmpty && oldFiles.forall(p => fs.exists(new Path(p))))

    // the R45 discipline: expire's content-file reachability must run
    // as Spark jobs, never as a driver planFiles materialization
    val plansBefore = IcebergMeta.driverContentFilePlans.get()
    val expired = IcebergMaintenance.expireSnapshots(spark, dir, keepLast = 1)
    assert(IcebergMeta.driverContentFilePlans.get() == plansBefore,
      "expireSnapshots materialized content files on the driver")
    assert(expired == Seq(s1))
    val meta = IcebergMeta.load(fs, dir)
    assert(meta.snapshots.map(_.id) == Seq(metaBefore.currentSnapshotId.get))
    // v1's uniquely-referenced data files + manifests physically gone
    assert(oldFiles.forall(p => !fs.exists(new Path(p))))
    assert(!fs.exists(new Path(metaBefore.snapshots.find(_.id == s1).get.manifestList)))
    // the survivor still reads
    assert(newFiles.forall(p => fs.exists(new Path(p))))
    assert(new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).toSeq == Seq(10L))
    // expiring again is a no-op (no new metadata version)
    val vBefore = IcebergMeta.currentVersion(fs, dir)
    assert(IcebergMaintenance.expireSnapshots(spark, dir, keepLast = 1).isEmpty)
    assert(IcebergMeta.currentVersion(fs, dir) == vBefore)
  }

  test("expire on an append-only chain never deletes shared data files") {
    val dir = tempDir("icem-shared").toString + "/t"
    IcebergWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), dir)
    val fs = fsOf(dir)
    val all = dataFiles(dir, IcebergMeta.load(fs, dir).snapshots.maxBy(_.sequenceNumber))
    val expired = IcebergMaintenance.expireSnapshots(spark, dir, keepLast = 1)
    assert(expired.size == 1)
    // snapshot 2 carries snapshot 1's files forward — all still live
    assert(all.forall(p => fs.exists(new Path(p))))
    assert(new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("expire on a Delta-owned export prunes Iceberg metadata but never data") {
    val dir = tempDir("icem-delta").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    graft.export.IcebergUniform.export(spark, dir)
    DeltaWrite.overwrite(spark, Seq((10L, "x")).toDF("id", "v"), dir)
    graft.export.IcebergUniform.export(spark, dir)
    val fs = fsOf(dir)
    val metaBefore = IcebergMeta.load(fs, dir)
    assert(metaBefore.snapshots.size == 2)
    val oldSnap = metaBefore.snapshots.minBy(_.sequenceNumber)
    val oldDeltaFiles = dataFiles(dir, oldSnap)

    val expired = IcebergMaintenance.expireSnapshots(spark, dir, keepLast = 1)
    assert(expired == Seq(oldSnap.id))
    // Delta owns the data: the pre-overwrite parquet survives for
    // Delta time travel; only the Iceberg manifest list goes
    assert(oldDeltaFiles.forall(p => fs.exists(new Path(p))))
    assert(!fs.exists(new Path(oldSnap.manifestList)))
    // Delta history intact
    val dt = new DeltaTable("t", dir)
    val v0 = dt(spark, ReadArgs(extra = Map(dt.VersionKey -> 0L)))
    assert(v0.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("rewrite_data_files merges position deletes away; table becomes convertible") {
    val dir = tempDir("icem-rw").toString + "/t"
    IcebergWrite.append(spark,
      Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1)).toDF("id", "v", "part"),
      dir, Seq("part"))
    IcebergWrite.deleteWhere(spark, dir,
      graft.core.Filters.normalize(Seq(graft.core.Filter("id", "=", 2))))
    val fs = fsOf(dir)
    assert(IcebergMeta.planFiles(fs,
      IcebergMeta.load(fs, dir).snapshots.maxBy(_.sequenceNumber))
      .exists(_.content == 1))

    IcebergMaintenance.rewriteDataFiles(spark, dir)
    val after = IcebergMeta.planFiles(fs,
      IcebergMeta.load(fs, dir).snapshots.maxBy(_.sequenceNumber))
    assert(after.forall(_.content == 0), "compacted snapshot must carry no delete files")
    assert(new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // the MoR-refusing conversion now accepts the table
    DeltaConvert.fromIceberg(spark, dir)
    assert(new DeltaTable("t", dir)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("scoped rewrite compacts only the matching partitions; others carry untouched") {
    import graft.core.{Filter, Filters}
    val dir = tempDir("icem-srw").toString + "/t"
    // two appends -> two small files in each of partitions a and b
    (1 to 2).foreach { i =>
      IcebergWrite.append(spark,
        Seq((i.toLong, "a"), (i + 10L, "b")).toDF("id", "p"), dir, Seq("p"))
    }
    val fs = fsOf(dir)
    def filesOf(p: String): Seq[String] = {
      val m = IcebergMeta.load(fs, dir)
      IcebergMeta.planFiles(fs, m.snapshots.maxBy(_.sequenceNumber))
        .filter(_.partition.get("p").exists(v => String.valueOf(v) == p)).map(_.path)
    }
    val bBefore = filesOf("b").sorted
    assert(filesOf("a").size == 2 && bBefore.size == 2)

    val sid = IcebergMaintenance.rewriteDataFiles(spark, dir,
      where = Filters.normalize(Seq(Filter("p", "=", "a"))))
    assert(filesOf("a").size == 1, "partition a compacts to one file")
    assert(filesOf("b").sorted == bBefore, "partition b's files carry byte-identically")
    val got = new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 11L, 12L))
    // the replace snapshot committed on top of the append chain
    val meta = IcebergMeta.load(fs, dir)
    assert(meta.currentSnapshotId.contains(sid))
    assert(meta.snapshots.find(_.id == sid).flatMap(_.operation).contains("replace"))
    // partition-filtered reads still prune under the rewritten metadata
    val onlyA = new IcebergTable("t", dir)(
      spark, ReadArgs.where(Filter("p", "=", "a")))
    assert(onlyA.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(onlyA.inputFiles.length == 1)

    // refusals: non-partition filter; delete-carrying snapshot
    intercept[IllegalArgumentException] {
      IcebergMaintenance.rewriteDataFiles(spark, dir,
        where = Filters.normalize(Seq(Filter("id", "=", 1))))
    }
    IcebergWrite.deleteWhere(spark, dir,
      Filters.normalize(Seq(Filter("id", "=", 11))))
    intercept[IllegalArgumentException] {
      IcebergMaintenance.rewriteDataFiles(spark, dir,
        where = Filters.normalize(Seq(Filter("p", "=", "b"))))
    }
  }

  test("export after expire bumps past the expire's metadata version (no clobber)") {
    val dir = tempDir("icem-interleave").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)         // Delta v0
    graft.export.IcebergUniform.export(spark, dir)                        // Iceberg v1
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), dir)         // Delta v1
    graft.export.IcebergUniform.export(spark, dir)                        // Iceberg v2
    val fs = fsOf(dir)
    IcebergMaintenance.expireSnapshots(spark, dir, keepLast = 1)          // Iceberg v3
    val metaDir = new Path(dir, "metadata")
    val expireV = IcebergMeta.currentVersion(fs, dir)
    val expireBytes = {
      val in = fs.open(new Path(metaDir, s"v$expireV.metadata.json"))
      try in.readAllBytes().toSeq finally in.close()
    }

    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), dir)         // Delta v2
    val ex = graft.export.IcebergUniform.export(spark, dir)
    // naive versioning would be snap.version+1 = 3 — the expire's file.
    // The commit must land ABOVE it, leaving the expire bytes intact.
    val newV = IcebergMeta.currentVersion(fs, dir)
    assert(newV > expireV, s"export landed at $newV, not past expire's $expireV")
    val after = {
      val in = fs.open(new Path(metaDir, s"v$expireV.metadata.json"))
      try in.readAllBytes().toSeq finally in.close()
    }
    assert(after == expireBytes, "export overwrote the expire's committed metadata")
    // the carry is based on the EXPIRED state: only the retained + new
    // snapshots remain, and the reader sees all three appends' rows
    val meta = IcebergMeta.load(fs, dir)
    assert(meta.snapshots.size == 2)
    assert(meta.currentSnapshotId.contains(ex.snapshotId))
    assert(new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("metadata-log stays continuous across rewrites, UPDATE and expiry") {
    import graft.core.{Filter, Filters}
    import IcebergMaintenanceSpec.assertMetadataLogContinuous
    val dir = tempDir("icem-mlog").toString + "/t"
    (1 to 2).foreach { i =>
      IcebergWrite.append(spark,
        Seq((i.toLong, "a"), (i + 10L, "b")).toDF("id", "p"), dir, Seq("p"))
    }
    val fs = fsOf(dir)
    assertMetadataLogContinuous(fs, dir)
    IcebergMaintenance.rewriteDataFiles(spark, dir,
      where = Filters.normalize(Seq(Filter("p", "=", "a"))))
    assertMetadataLogContinuous(fs, dir)
    IcebergWrite.updateWhere(spark, dir,
      Filters.normalize(Seq(Filter("id", "=", 11L))), Seq("id" -> "id + 100"))
    assertMetadataLogContinuous(fs, dir)
    IcebergMaintenance.rewriteDataFiles(spark, dir)
    assertMetadataLogContinuous(fs, dir)
    assert(IcebergMaintenance.expireSnapshots(spark, dir, keepLast = 1).nonEmpty)
    assertMetadataLogContinuous(fs, dir)
    assert(IcebergMeta.currentVersion(fs, dir) == 6)
    assert(new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 12L, 111L))
  }

  test("removeOrphanFiles deletes only unreferenced files older than the cutoff") {
    val dir = tempDir("icem-orph").toString + "/t"
    IcebergWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    val fs = fsOf(dir)
    // plant orphans: a stray parquet under data/ and a crashed staging dir
    val stray = new Path(dir, "data/stray-orphan.parquet")
    val out = fs.create(stray, true); out.write(Array[Byte](1, 2, 3)); out.close()
    val staged = new Path(dir, "_staging_iceberg_dead/part-0.parquet")
    val out2 = fs.create(staged, true); out2.write(Array[Byte](4, 5)); out2.close()
    // crashed PARTITIONED staging dir: the orphan file sits in a
    // subdirectory, so the sweep must check emptiness recursively or
    // the staging dir survives every run
    val stagedPart = new Path(dir, "_staging_iceberg_dead2/part=0/part-0.parquet")
    val out3 = fs.create(stagedPart, true); out3.write(Array[Byte](6)); out3.close()

    // cutoff in the past: nothing is old enough → nothing deleted
    assert(IcebergMaintenance.removeOrphanFiles(spark, dir, olderThanMs = 0L).isEmpty)
    assert(fs.exists(stray) && fs.exists(staged))

    // cutoff in the future: orphans go, live files stay — and the
    // keep-side content files never materialize on the driver
    val plansBefore = IcebergMeta.driverContentFilePlans.get()
    // dry run reports the same orphan set without touching anything
    val dry = IcebergMaintenance.removeOrphanFiles(
      spark, dir, olderThanMs = System.currentTimeMillis() + 60000, dryRun = true)
    assert(fs.exists(stray) && fs.exists(staged) && fs.exists(stagedPart))
    val deleted = IcebergMaintenance.removeOrphanFiles(
      spark, dir, olderThanMs = System.currentTimeMillis() + 60000)
    assert(dry.toSet == deleted.toSet)
    assert(IcebergMeta.driverContentFilePlans.get() == plansBefore,
      "removeOrphanFiles materialized content files on the driver")
    assert(deleted.toSet ==
      Set(stray.toUri.getPath, staged.toUri.getPath, stagedPart.toUri.getPath))
    assert(!fs.exists(stray) && !fs.exists(staged.getParent))
    assert(!fs.exists(stagedPart.getParent.getParent))
    val live = dataFiles(dir, IcebergMeta.load(fs, dir).snapshots.head)
    assert(live.nonEmpty && live.forall(p => fs.exists(new Path(p))))
    assert(new IcebergTable("t", dir)(spark, ReadArgs.empty)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // second run: nothing left to delete
    assert(IcebergMaintenance.removeOrphanFiles(
      spark, dir, olderThanMs = System.currentTimeMillis() + 60000).isEmpty)
  }

  test("removeOrphanFiles refuses Delta-owned tables") {
    val dir = tempDir("icem-refuse").toString + "/t"
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    graft.export.IcebergUniform.export(spark, dir)
    val e = intercept[IllegalArgumentException] {
      IcebergMaintenance.removeOrphanFiles(spark, dir, Long.MaxValue)
    }
    assert(e.getMessage.contains("Delta-owned"))
  }
}

object IcebergMaintenanceSpec {
  import org.scalatest.Assertions._

  /** The current metadata's `metadata-log` names every earlier metadata
    * file in order, v1 to v(N-1): the spec's record for
    * metadata-version time travel, which every commit must extend.
    */
  def assertMetadataLogContinuous(fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val v = IcebergMeta.currentVersion(fs, dir)
    val root = IcebergWrite.readRoot(fs, new Path(dir, "metadata"), v)
    val files = IcebergMeta.elements(root.path("metadata-log"))
      .map(e => new Path(e.path("metadata-file").asText()).getName)
    assert(files == (1 until v).map(i => s"v$i.metadata.json"),
      s"metadata-log of v$v: ${files.mkString(", ")}")
  }
}

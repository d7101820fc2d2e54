package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hudi table maintenance — the CLEANER (public `hoodie.cleaner`
  * KEEP_LATEST_COMMITS semantics): copy-on-write rewrites leave every
  * superseded base file on disk for time travel; the cleaner deletes
  * base files that no snapshot within the retention window can reach,
  * bounding storage growth. The third leg of the janitor triad
  * (Delta VACUUM R28/R45, Iceberg expireSnapshots/orphans R52).
  *
  * Retention = the latest `retainLast` completed instants: every file
  * slice reachable from the snapshot AS OF each retained instant
  * survives; everything else written by the timeline is deleted.
  * Time travel OLDER than the window stops working — the same
  * contract as Delta VACUUM beyond its retention.
  *
  * Scale shape: reachability is O(timeline metadata) driver work (the
  * same commit-JSON parses every other Hudi path does); the DELETE
  * pass runs as a Spark job over the parallelized dead-file list (the
  * R45 distributed-VACUUM discipline).
  */
object HudiMaintenance {

  private val mapper = new ObjectMapper()

  /** SAVEPOINT an instant (the public Hudi savepoint action): a
    * `<instant>.savepoint` timeline marker that [[clean]] honors —
    * every file slice reachable AS OF a savepointed instant survives
    * cleaning regardless of the retention count (the Hudi analog of
    * an Iceberg tag, R57: "the exact table this model trained on").
    */
  def savepoint(spark: SparkSession, tablePath: String, instant: String): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    HudiWrite.readProps(fs, tablePath)
    require(HudiWrite.completedInstants(fs, tablePath, None).exists(_._1 == instant),
      s"instant $instant is not a completed commit of $tablePath")
    val p = new Path(new Path(tablePath, ".hoodie"), s"$instant.savepoint")
    require(LakeFiles.putIfAbsent(fs, p,
      s"""{"savepointedAt":${System.currentTimeMillis()}}""".getBytes("UTF-8")),
      s"instant $instant is already savepointed")
  }

  def deleteSavepoint(spark: SparkSession, tablePath: String, instant: String): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(new Path(tablePath, ".hoodie"), s"$instant.savepoint")
    require(fs.delete(p, false), s"no savepoint at $instant under $tablePath")
  }

  private[tables] def savepointedInstants(
      fs: FileSystem, tablePath: String): Seq[String] = {
    val Sp = "(\\d{17})\\.savepoint".r
    fs.listStatus(new Path(tablePath, ".hoodie")).map(_.getPath.getName).collect {
      case Sp(i) => i
    }.toSeq.sorted
  }

  /** RESTORE the table to `instant` (the public Hudi restore action):
    * every commit completed AFTER it rolls back — its data files
    * (base and log, from the commit stats) delete, its timeline
    * entries and markers delete — so the next read serves exactly the
    * as-of-`instant` snapshot and new commits continue from there.
    * Refuses when a LATER savepoint exists (delete it first) — the
    * same guard upstream applies. NOT concurrency-safe: stop writers
    * first (as in Hudi itself).
    */
  def restore(spark: SparkSession, tablePath: String, instant: String): Seq[String] = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    HudiWrite.readProps(fs, tablePath)
    val all = HudiWrite.completedInstants(fs, tablePath, None)
    require(all.exists(_._1 == instant),
      s"instant $instant is not a completed commit of $tablePath")
    require(!savepointedInstants(fs, tablePath).exists(_ > instant),
      s"a savepoint later than $instant exists; delete it before restoring")
    val doomed = all.filter(_._1 > instant)
    if (doomed.isEmpty) return Seq.empty
    // the target snapshot must still be materialized: a clean() may
    // have removed its slices (savepoint the instant to protect it)
    val targetMissing = HudiWrite.latestSlices(fs, tablePath, Some(instant))
      .flatMap(s => s.relPath +: s.logFiles.map(_._2))
      .filterNot(rel => fs.exists(new Path(tablePath, rel)))
    require(targetMissing.isEmpty,
      s"cannot restore $tablePath to $instant: ${targetMissing.size} of its file(s) " +
        s"were cleaned (e.g. ${targetMissing.take(2).mkString(", ")}); " +
        "savepoint instants you may need to restore to")

    val hoodieDir = new Path(tablePath, ".hoodie")
    // data files first, DISTRIBUTED (a big rolled-back commit can
    // reference millions of files — R45 discipline); a crash
    // mid-restore re-runs to completion because the timeline entries
    // go LAST, so readers never see a completed commit with missing
    // files more than transiently
    val rels: Seq[String] = doomed.flatMap { case (i, action) =>
      val in = fs.open(new Path(hoodieDir, s"$i.$action"))
      val root = try mapper.readTree(in) finally in.close()
      val parts = root.path("partitionToWriteStats")
      val b = Seq.newBuilder[String]
      parts.fieldNames().forEachRemaining { part =>
        IcebergMeta.elements(parts.path(part)).foreach(st => b += st.path("path").asText())
      }
      b.result()
    }
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val deletedFiles = spark.sparkContext
      .parallelize(rels, math.max(1, math.min(rels.size, 32)))
      .mapPartitions { it =>
        val dfs = new Path(tablePath).getFileSystem(conf.value)
        it.filter(rel => dfs.delete(new Path(tablePath, rel), false))
      }.collect().toSeq
    doomed.foreach { case (i, action) =>
      fs.delete(new Path(hoodieDir, s"$i.$action"), false)
      Seq(s"$i.$action.requested", s"$i.inflight", s"$i.$action.inflight",
        s"$i.commit.requested").foreach(n => fs.delete(new Path(hoodieDir, n), false))
    }
    deletedFiles ++ doomed.map { case (i, action) => s".hoodie/$i.$action" }
  }

  /** Roll back CRASHED writes: timeline markers whose instant never
    * completed, data files no completed commit references, and
    * abandoned staging dirs — all older than `olderThanMs` (the age
    * guard protecting in-flight writers, the Hudi rollback/Iceberg
    * orphan-removal analog). Crashed writes are INVISIBLE to readers
    * (slices plan from completed commits only); this bounds the
    * storage they leak. Returns the deleted table-relative paths.
    *
    * Scale shape: candidate dirs BFS driver-side at DIRECTORY
    * granularity; per-dir listing + age filter run executor-side;
    * the referenced-file keep-set joins as a DataFrame anti-join
    * (the R45 discipline — on-disk files never collect).
    */
  def rollbackPending(
      spark: SparkSession, tablePath: String, olderThanMs: Long): Seq[String] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    HudiWrite.readProps(fs, tablePath) // refuses non-Hudi paths
    val hoodieDir = new Path(tablePath, ".hoodie")
    val cutoff = System.currentTimeMillis() - olderThanMs

    val timeline = fs.listStatus(hoodieDir)
    val Completed = "(\\d{17})\\.(commit|replacecommit|deltacommit)".r
    val Marker = "(\\d{17})\\.(?:[a-z]+\\.)?(?:requested|inflight)".r
    val done: Set[String] = timeline.map(_.getPath.getName).collect {
      case Completed(i, _) => i
    }.toSet
    // stale pending instants: marked, never completed, old enough
    val stalePending: Set[String] = timeline.collect {
      case st if st.getModificationTime < cutoff =>
        st.getPath.getName match {
          case Marker(i) if !done.contains(i) => Some(i)
          case _ => None
        }
    }.flatten.toSet

    // abandoned staging dirs go whole
    val staleStaging = fs.listStatus(new Path(tablePath)).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("_staging_hoodie_") &&
        st.getModificationTime < cutoff)
    staleStaging.foreach(st => fs.delete(st.getPath, true))

    // orphan data files: on-disk, unreferenced by ANY completed
    // commit, old enough — exactly the crashed writes' moved files
    val dirs = scala.collection.mutable.ArrayBuffer[String]()
    def bfs(p: Path): Unit = {
      dirs += p.toString
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory && st.getPath.getName != ".hoodie" &&
          !st.getPath.getName.startsWith("_staging_hoodie_")) bfs(st.getPath)
      }
    }
    bfs(new Path(tablePath))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val tableUri = new Path(tablePath).toUri.getPath
    val onDisk = spark.sparkContext
      .parallelize(dirs.toSeq, math.max(1, math.min(dirs.size, 32)))
      .flatMap { d =>
        val dfs = new Path(d).getFileSystem(conf.value)
        dfs.listStatus(new Path(d)).iterator
          .filter(st => st.isFile && st.getModificationTime < cutoff)
          .map(_.getPath.toUri.getPath)
          .filter(p => p.endsWith(".parquet") || p.contains(".log."))
      }.toDF("p")
    val referenced = HudiWrite.allWrittenPaths(fs, tablePath).distinct
      .map(rel => s"$tableUri/$rel").toDF("p")
    val orphans = onDisk.join(referenced, Seq("p"), "left_anti")
      .as[String].collect().toSeq
    orphans.foreach(p => fs.delete(new Path(p), false))

    // finally the stale markers themselves
    timeline.foreach { st =>
      st.getPath.getName match {
        case Marker(i) if stalePending.contains(i) => fs.delete(st.getPath, false)
        case _ => ()
      }
    }

    (staleStaging.map(_.getPath.getName) ++
      orphans.map(_.stripPrefix(s"$tableUri/")) ++
      stalePending.toSeq.sorted.map(i => s".hoodie/$i.* (markers)")).toSeq
  }

  /** Delete base AND log files unreachable from the latest
    * `retainLast` snapshots (a compacted MOR group's superseded
    * `.log` files age out exactly like superseded base files).
    * Returns the deleted table-relative paths.
    */
  def clean(
      spark: SparkSession, tablePath: String, retainLast: Int,
      /** Report the would-delete relative paths without deleting. */
      dryRun: Boolean = false): Seq[String] = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    HudiWrite.readProps(fs, tablePath) // refuses non-Hudi paths
    val instants = HudiWrite.completedInstants(fs, tablePath, None).map(_._1)
    if (instants.isEmpty) return Seq.empty
    // savepointed instants survive regardless of the retention count
    val retained = (instants.takeRight(retainLast) ++
      savepointedInstants(fs, tablePath)).distinct
    val keep: Set[String] = retained
      .flatMap(i => HudiWrite.latestSlices(fs, tablePath, Some(i))
        .flatMap(s => s.relPath +: s.logFiles.map(_._2)))
      .toSet
    val dead = HudiWrite.allWrittenPaths(fs, tablePath)
      .distinct.filterNot(keep)
    if (dead.isEmpty) return Seq.empty
    // a dry run still reports only files that exist on disk (repeated
    // cleans converge to empty, like the real pass)
    if (dryRun) return dead.filter(rel => fs.exists(new Path(tablePath, rel)))

    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // report only files this run actually removed (delete returns
    // false for already-gone paths), so repeated cleans are no-ops
    spark.sparkContext
      .parallelize(dead, math.max(1, math.min(dead.size, 32)))
      .mapPartitions { it =>
        val dfs = new Path(tablePath).getFileSystem(conf.value)
        it.filter(rel => dfs.delete(new Path(tablePath, rel), false))
      }
      .collect().toSeq
  }
}

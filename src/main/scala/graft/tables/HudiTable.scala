package graft.tables

import graft.core._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Native Apache Hudi snapshot reader (COPY_ON_WRITE and
  * MERGE_ON_READ) — plans file slices from the `.hoodie/` timeline
  * alone (never a directory listing: the cloud-storage discipline
  * the format exists for), then reads them as one distributed
  * parquet scan with Catalyst pushdown; MOR slices with `.log`
  * files serve latest-per-key over base ∪ logs
  * ([[HudiWrite.readSlicesMerged]]) while log-free groups keep the
  * plain-parquet fast path.
  *
  *  - Snapshot = latest file slice per file group across completed
  *    commits (base file + any deltacommit logs);
  *    `extra(AsOfInstantKey)` time-travels to the slices as of an
  *    instant (inclusive), logs included.
  *  - Hive-style partition directories are pruned DRIVER-SIDE from
  *    the commit metadata's partition paths before any file opens:
  *    equality / IN filters on partition columns drop whole
  *    partitions (conservative may-match on everything else), and
  *    Spark's `basePath` discovery re-attaches the partition columns
  *    for the residual scan.
  *  - [[incremental]] is the Hudi incremental query: rows whose
  *    `_hoodie_commit_time` falls in (from, to] over the latest
  *    slices as of `to` — updates included, exactly-once per key,
  *    because rewrites preserve untouched rows' commit times
  *    ([[HudiWrite]]).
  *
  * Meta columns are dropped from `apply` output (schema = user data),
  * and kept by `incremental` callers only internally.
  */
class HudiTable(
    val name: String,
    val uri: String,
    description: String = "",
    docsFilters: Seq[Filter] = Seq.empty
) extends TableProtocol {

  override val tableMetadata: TableMetadata =
    TableMetadata("HUDI", description, docsFilters)

  val AsOfInstantKey = "asOfInstant"

  /** Boolean: force slice planning distributed (true) or driver-side
    * (false); unset = automatic above
    * [[HudiTable.AutoDistributedBytesConf]] of completed commit JSON.
    */
  val DistributedPlanningKey = "distributedPlanning"

  override def apply(spark: SparkSession, args: ReadArgs): DataFrame = {
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    HudiWrite.readProps(fs, uri) // refuses non-Hudi paths
    val asOf = args.extra.get(AsOfInstantKey).map(_.toString)
    // the driver's planning cost is parsing the commit JSONs, and
    // their total size is an O(1) listing away — above the byte gate
    // commits parse in parallel tasks, the replay shards by file
    // group, pruning runs executor-side, and only surviving slices
    // ever reach the driver (the R40 discipline for the third format)
    val distributed = planDistributed(spark, fs, args)
    var df =
      if (!distributed) read(spark, fs, HudiWrite.latestSlices(fs, uri, asOf), args)
      else {
        val (pruned, sample) =
          HudiWrite.latestSlicesDistributed(spark, uri, asOf, HudiTable.keepSlice(args.filters))
        if (pruned.isEmpty) {
          val schemaSource = sample.orElse(anyHistoricalSlice(fs))
            .getOrElse(throw new IllegalArgumentException(
              s"Hudi table $uri has no completed commits with data"))
          HudiWrite.readSlices(spark, uri, Seq(schemaSource)).limit(0)
        } else HudiWrite.readSlicesMerged(spark, uri, pruned)
      }
    df = df.drop(HudiWrite.CommitTimeCol, HudiWrite.RecordKeyCol)
    Filters.toColumn(args.filters).foreach(p => df = df.filter(p))
    args.columns.foreach(cols => df = df.select(cols.map(col): _*))
    df
  }

  /** Incremental query: rows committed in `(fromInstant, toInstant]`
    * (commit-time strings as returned by the writer; `toInstant`
    * None = latest). Updates surface with their NEW values; the
    * result keeps `_hoodie_commit_time` so callers can checkpoint.
    */
  def incremental(
      spark: SparkSession,
      fromInstant: String,
      toInstant: Option[String] = None,
      args: ReadArgs = ReadArgs()
  ): DataFrame = {
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    HudiWrite.readProps(fs, uri)
    // only file groups TOUCHED in the range can hold in-range rows:
    // slices at `to` whose base OR any attached log was written >
    // from. Above the timeline byte gate the touched-set resolves
    // DISTRIBUTED, with partition/stats pruning composed in — the
    // tailing poller's planning stays O(survivors) on the driver
    val distributed = planDistributed(spark, fs, args)
    val (touched, sample) =
      if (distributed)
        HudiWrite.latestSlicesDistributed(spark, uri, toInstant,
          HudiTable.incrementalKeep(fromInstant, args.filters))
      else {
        val all = HudiWrite.latestSlices(fs, uri, toInstant)
        (all.filter(HudiTable.incrementalKeep(fromInstant, args.filters)),
          all.headOption)
      }
    if (touched.isEmpty) {
      // nothing changed in the range (or everything pruned):
      // declared-empty frame with the table's schema
      val src = sample
        .orElse(HudiWrite.allWrittenSlices(fs, uri).headOption)
        .getOrElse(throw new IllegalArgumentException(
          s"Hudi table $uri has no completed commits with data"))
      var empty = HudiWrite.readSlices(spark, uri, Seq(src)).limit(0)
        .drop(HudiWrite.RecordKeyCol)
      args.columns.foreach(cols => empty = empty.select(cols.map(col): _*))
      return empty
    }
    var df = HudiWrite.readSlicesMerged(spark, uri, touched)
      .where(col(HudiWrite.CommitTimeCol) > fromInstant)
    toInstant.foreach(to => df = df.where(col(HudiWrite.CommitTimeCol) <= to))
    df = df.drop(HudiWrite.RecordKeyCol)
    Filters.toColumn(args.filters).foreach(p => df = df.filter(p))
    args.columns.foreach(cols => df = df.select(cols.map(col): _*))
    df
  }

  /** Typed CHANGELOG read — the Hudi leg of the triad's CDF contract
    * ([[DeltaChanges.between]] / [[IcebergTable.changes]]): every
    * row-level change committed in `(fromInstant, toInstant]` as
    * table rows plus `_change_type` ∈ {insert, delete},
    * `_commit_instant`, `_change_ordinal` and `_commit_timestamp`.
    * Updates surface as pre-image delete + post-image insert.
    *
    * Per-commit derivation is a KEY DIFF of the commit's touched
    * file groups only (the commit JSON names them): rows of the
    * post-commit slice state stamped with this instant's
    * `_hoodie_commit_time` are the post-images (COW rewrites
    * preserve untouched rows' commit times; MOR log records carry
    * their deltacommit instant — so the stamp identifies exactly the
    * written rows); keys present before but absent after are deletes
    * (COW rewrites dropping rows, MOR tombstones, retired groups in
    * `partitionToReplaceFileIds`); pre-images of changed keys come
    * from the pre-commit state of the same groups. Compaction and
    * clustering rewrite files but preserve both keys and commit
    * times, so they contribute nothing — no operation flag needed.
    *
    * Scale shape: each commit reads only its touched file groups,
    * twice (before/after states) — cost ∝ changed data, never table
    * size. Timeline parsing is one pass over the range's commit
    * JSONs (the same driver-side metadata cost every Hudi reader
    * here pays).
    */
  def changes(
      spark: SparkSession,
      fromInstant: String,
      toInstant: Option[String] = None,
      /** Commits per analyzed sub-plan PAGE (see
        * [[IcebergTable.changes]]'s twin parameter): wider ranges
        * materialize each page before the cross-page union, bounding
        * plan width on a whole-history `DESCRIBE CHANGES` while a
        * normal poll never pages.
        */
      pageCommits: Int = IcebergTable.DefaultChangePageCommits
  ): DataFrame = {
    import HudiTable.{ChangeOrdinalCol, ChangeTypeCol, CommitInstantCol, CommitTimestampCol}
    require(pageCommits >= 1, s"pageCommits must be >= 1, got $pageCommits")
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    HudiWrite.readProps(fs, uri)
    val all = HudiWrite.completedInstants(fs, uri, toInstant)
    toInstant.foreach(to => require(all.exists(_._1 == to),
      s"toInstant $to is not a completed instant of $uri"))
    // one parse per commit JSON across the whole timeline ≤ to; the
    // per-commit folds below filter this list, never re-read it
    val eventsByInstant: Seq[(String, Seq[HudiWrite.SliceEvent])] =
      all.map { case (i, action) =>
        i -> HudiWrite.instantEvents(fs, uri, i, action)
      }
    val inRange = eventsByInstant.filter(_._1 > fromInstant)
    val metaCols = Seq(HudiWrite.CommitTimeCol, HudiWrite.RecordKeyCol)
    // events indexed by file group ONCE (ascending instant preserved),
    // so each commit's before/after folds touch O(its groups' events),
    // not O(timeline) — the shape that keeps a short poll over a long
    // timeline cheap
    val byGroup: Map[(String, String), Seq[HudiWrite.SliceEvent]] =
      eventsByInstant.flatMap(_._2).groupBy(e => (e.part, e.fileId))

    val commitFrames: Seq[Seq[DataFrame]] = inRange.zipWithIndex.map { case ((instant, events), ord) =>
      val touched = events.map(e => (e.part, e.fileId)).toSet
      if (touched.isEmpty) Seq.empty[DataFrame]
      else {
        val beforeEvents = touched.toSeq.sorted.flatMap(g =>
          byGroup.getOrElse(g, Seq.empty).filter(_.instant < instant))
        val beforeSlices = HudiWrite.foldSlices(beforeEvents)
        val afterSlices = HudiWrite.foldSlices(beforeEvents ++ events)
        val after =
          if (afterSlices.isEmpty) None
          else Some(HudiWrite.readSlicesMerged(spark, uri, afterSlices))
        val before =
          if (beforeSlices.isEmpty) None
          else Some(HudiWrite.readSlicesMerged(spark, uri, beforeSlices))
        val posts = after.map(_.where(col(HudiWrite.CommitTimeCol) === instant))
        val dataCols: Seq[String] = after.orElse(before)
          .map(_.columns.toSeq.filterNot(metaCols.contains))
          .getOrElse(Seq.empty)
        // instant → epoch millis on the DRIVER (instants are UTC
        // yyyyMMddHHmmssSSS); an executor-side to_timestamp parse
        // trips streaming microbatches' stricter parser policy
        val instantMs = java.time.LocalDateTime
          .parse(instant, HudiTable.InstantFormat)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        def stamp(df: DataFrame, changeType: String): DataFrame =
          df.select(dataCols.map(col): _*)
            .withColumn(ChangeTypeCol, lit(changeType))
            .withColumn(CommitInstantCol, lit(instant))
            .withColumn(ChangeOrdinalCol, lit(ord + 1))
            .withColumn(CommitTimestampCol, timestamp_millis(lit(instantMs)))
        val b = Seq.newBuilder[DataFrame]
        posts.foreach(p => b += stamp(p, "insert"))
        before.foreach { bf =>
          val changedKeys = posts.map(_.select(col(HudiWrite.RecordKeyCol)))
          val deletedKeys = after match {
            case Some(a) => bf.select(col(HudiWrite.RecordKeyCol))
              .join(a.select(col(HudiWrite.RecordKeyCol)),
                Seq(HudiWrite.RecordKeyCol), "left_anti")
            case None => bf.select(col(HudiWrite.RecordKeyCol))
          }
          val keys = changedKeys
            .map(_.unionByName(deletedKeys)).getOrElse(deletedKeys).distinct()
          b += stamp(bf.join(keys, Seq(HudiWrite.RecordKeyCol), "left_semi"),
            "delete")
        }
        b.result()
      }
    }
    val frames = commitFrames.flatten
    if (frames.nonEmpty) {
      // DECLARED evolution contract: a range crossing an ADDITIVE
      // schema change (commits whose file groups carry new columns —
      // e.g. new-key upserts with a wider frame, or a foreign
      // writer's evolution) emits under the WIDEST in-range schema:
      // frames union by NAME with pre-evolution rows null-filled in
      // the newer columns, data columns ordered by first appearance
      // (= evolution order), change columns last. Ranges that DROP a
      // column just null-fill it on the post-drop rows — the union is
      // total either way, never a mid-range analysis error.
      val changeCols =
        Seq(ChangeTypeCol, CommitInstantCol, ChangeOrdinalCol, CommitTimestampCol)
      val dataOrder =
        frames.flatMap(_.columns).distinct.filterNot(changeCols.contains)
      val unioned =
        if (commitFrames.size <= pageCommits)
          frames.reduce(_.unionByName(_, allowMissingColumns = true))
        else commitFrames.grouped(pageCommits).toSeq
          .flatMap { page =>
            val fs0 = page.flatten
            if (fs0.isEmpty) None
            else Some(fs0.reduce(_.unionByName(_, allowMissingColumns = true))
              .localCheckpoint())
          }
          .reduce(_.unionByName(_, allowMissingColumns = true))
      unioned.select((dataOrder ++ changeCols).map(col): _*)
    } else {
      // empty range: a declared-empty frame with the table's schema
      val src = HudiWrite.allWrittenSlices(fs, uri).headOption
        .getOrElse(throw new IllegalArgumentException(
          s"Hudi table $uri has no completed commits with data"))
      HudiWrite.readSlices(spark, uri, Seq(src)).limit(0)
        .drop(metaCols: _*)
        .withColumn(ChangeTypeCol, lit(null).cast("string"))
        .withColumn(CommitInstantCol, lit(null).cast("string"))
        .withColumn(ChangeOrdinalCol, lit(null).cast("int"))
        .withColumn(CommitTimestampCol, lit(null).cast("timestamp"))
    }
  }

  override def getSchema(spark: SparkSession): TableSchema = {
    val df = apply(spark, ReadArgs.empty)
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partitions = partitionFields(fs).flatMap(c =>
      df.schema.fields.find(_.name == c).map(f =>
        TablePartition(c, f.dataType.simpleString, "")))
    TableSchema(partitions, TableSchema.columnsOf(df.schema))
  }

  // ------------------------------------------------------ internals

  /** The plan-mode decision shared by `apply` and `incremental`: an
    * explicit `extra(DistributedPlanningKey)` always wins; otherwise
    * distributed above the timeline byte gate.
    */
  private def planDistributed(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      args: ReadArgs): Boolean =
    args.extra.get(DistributedPlanningKey).map {
      case b: Boolean => b
      case s: String  => s.toBoolean
      case other => throw new IllegalArgumentException(
        s"bad $DistributedPlanningKey: $other")
    }.getOrElse {
      val threshold = spark.conf.getOption(HudiTable.AutoDistributedBytesConf)
        .map(_.toLong).getOrElse(HudiTable.DefaultAutoDistributedBytes)
      HudiWrite.timelineBytes(fs, uri) > threshold
    }

  private def partitionFields(fs: org.apache.hadoop.fs.FileSystem): Seq[String] =
    HudiWrite.readProps(fs, uri).get("hoodie.table.partition.fields")
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty)

  private def read(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      slices: Seq[HudiWrite.FileSlice],
      args: ReadArgs
  ): DataFrame = {
    // partition-path pruning + per-slice data-column range skipping
    // (the r9 key-range commit stats generalized): a selective data
    // predicate opens only the file groups whose recorded [min,max]
    // may hold matches — stats-less slices always read
    val pruned = slices.filter(HudiTable.keepSlice(args.filters))
    if (pruned.isEmpty) {
      // declared-empty frame with the table's real schema: zero rows
      // of any live slice — or, when every file group has been
      // deleted (a fully-emptied table is a legitimate state), zero
      // rows of any HISTORICAL slice — or, on a table that has never
      // held a data file (a freshly CREATEd empty table), the writer
      // schema the commit metadata declares
      slices.headOption.orElse(anyHistoricalSlice(fs)) match {
        case Some(src) =>
          return HudiWrite.readSlices(spark, uri, Seq(src)).limit(0)
        case None =>
          val declared = HudiWrite.latestTableSchema(fs, uri)
            .getOrElse(throw new IllegalArgumentException(
              s"Hudi table $uri has no completed commits with data"))
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
      }
    }
    // merged: MOR slices serve latest-per-key over base ∪ logs; COW
    // slices (no logs) take the plain parquet fast path
    HudiWrite.readSlicesMerged(spark, uri, pruned)
  }

  /** Any base file from any completed commit — schema source for a
    * table whose live slice set is empty.
    */
  private def anyHistoricalSlice(
      fs: org.apache.hadoop.fs.FileSystem): Option[HudiWrite.FileSlice] =
    HudiWrite.allWrittenSlices(fs, uri).headOption

  /** Driver-side partition pruning on the hive `k=v` path segments
    * from the commit metadata: equality and IN filters on partition
    * columns compare against the RAW segment value string
    * (conservative: any parse ambiguity keeps the partition; the
    * exact predicate is re-applied on rows either way).
    */
}

object HudiTable {

  /** Changelog column names — `_change_type` shared across the triad
    * ([[DeltaChanges]] / [[IcebergTable]]) so IncrementalView reads
    * one contract; the commit key is the instant string.
    */
  val ChangeTypeCol = DeltaChanges.ChangeTypeCol
  val CommitInstantCol = "_commit_instant"
  val ChangeOrdinalCol = "_change_ordinal"
  val CommitTimestampCol = DeltaChanges.CommitTimestampCol

  /** UTC instant parser (the writer's yyyyMMddHHmmssSSS). */
  private[tables] val InstantFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")

  /** Partition + column-stats pruning of one slice — the SAME
    * predicate the driver path filters with and the distributed
    * planner evaluates executor-side (the partition-path matcher of
    * [[HudiWrite]], and [[FileSkipping]] over the slice's decoded
    * column ranges, so the two paths cannot drift). Lives on
    * the companion so the partial application captures only the
    * filters, never a table instance (task serialization).
    */
  private[tables] def keepSlice(filters: Filters.Normalized)(s: HudiWrite.FileSlice): Boolean =
    HudiWrite.partitionMayMatch(s.partition, filters) &&
      s.colStats.forall(m => FileSkipping.mayMatch(filters)(f =>
        m.get(f.column).forall(r => FileSkipping.statsMayMatch(f, HudiWrite.bounds(r)))))

  /** The incremental query's slice predicate: the file group was
    * TOUCHED in the range (base or any log written after `from`) AND
    * survives partition/stats pruning — companion-hosted for the
    * same task-serialization reason as [[keepSlice]].
    */
  private[tables] def incrementalKeep(
      fromInstant: String, filters: Filters.Normalized)(
      s: HudiWrite.FileSlice): Boolean =
    (s.instant > fromInstant || s.logFiles.exists(_._1 > fromInstant)) &&
      keepSlice(filters)(s)

  /** Completed-commit-JSON byte total above which slice planning goes
    * distributed automatically: stats entries are proportional to
    * those bytes, and 64 MiB of write stats (~hundreds of thousands
    * of file entries) is where a driver-side parse stops being free.
    * The same role as [[DeltaTable.AutoDistributedThresholdConf]] /
    * [[IcebergTable.AutoDistributedThresholdConf]], expressed in the
    * unit this format can estimate with one listing.
    */
  val AutoDistributedBytesConf = "spark.graft.hudi.autoDistributedPlanningBytes"
  val DefaultAutoDistributedBytes: Long = 64L * 1024 * 1024
}

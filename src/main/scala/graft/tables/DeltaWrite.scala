package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta-format writes: append / overwrite commits and checkpoints,
  * from the public protocol spec (github.com/delta-io/delta
  * PROTOCOL.md). Gives the engine the write half of the reference's
  * Delta surface (its tables are produced by delta-rs writers;
  * deltalake_table.py only reads).
  *
  * Commit protocol: data files are staged inside the table directory
  * (same filesystem → rename is a move, not a copy), then a single
  * JSON commit `_delta_log/%020d.json` is created with
  * create-if-absent semantics — on HDFS/local this IS the atomic
  * put-if-absent the protocol requires; two racing writers get one
  * winner and one retry at the next version. Per-file stats
  * (numRecords, min/max, nullCount) are collected by the write tasks
  * themselves ([[LakeFiles.writeStaged]]), so file skipping works on
  * read ([[DeltaFileSkipping]]).
  *
  * The write surface spans append/overwrite (plain and column-mapped,
  * name and id mode), DELETE/UPDATE/MERGE (copy-on-write or
  * deletion vectors), OPTIMIZE (+ZORDER), VACUUM, RESTORE,
  * checkpoints (classic, multi-part, v2 manifest+sidecars), CDF, ICT,
  * domain metadata and row tracking — see the section headers below.
  */
object DeltaWrite {

  /** A snapshot-derived commit lost its optimistic-concurrency race:
    * the table changed between reading the snapshot and committing.
    * The operation made no commit; re-run it against the new state.
    */
  final class ConcurrentWriteException(msg: String)
      extends RuntimeException(msg)

  private val mapper = new ObjectMapper()

  final case class CommitResult(version: Long, filesAdded: Int, filesRemoved: Int)

  /** Put-if-absent of commit file `version` with `actions` (one JSON
    * action per line; [[LakeFiles.putIfAbsent]] makes the content
    * atomic). Returns false if the version already exists: the caller
    * lost an optimistic-concurrency race and should re-read and
    * retry. Shared by the DDL surface ([[DeltaDdl]]).
    */
  private[tables] def writeCommitFile(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      actions: Seq[DeltaActions.Action]
  ): Boolean = {
    val logDir = DeltaLog.logDir(tablePath)
    LakeFiles.putIfAbsent(logDir.getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(logDir, f"$version%020d.json"),
      actions.map(DeltaActions.json(_) + "\n").mkString.getBytes("UTF-8"))
  }

  /** The next attempt number after a lost commit race, or the
    * failure once the retries are used up.
    */
  private def lostRace(tablePath: String, attempt: Int): Int =
    if (attempt < 10) attempt + 1
    else throw new java.io.IOException(
      s"could not commit to $tablePath: lost ${attempt + 1} commit races in a row")

  /** Append `df` to (or create) the delta table at `tablePath`.
    * `txn` (appId → transaction version) commits a SetTransaction
    * action alongside the data: the protocol's idempotent-writer
    * mechanism — re-running a batch whose version is already recorded
    * under the appId can be detected and skipped
    * (`snapshot.txns`), which is how the streaming sink gets
    * exactly-once delivery.
    */
  def append(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None
  ): CommitResult = commit(spark, df, tablePath, partitionBy, overwrite = false, txn)

  /** Replace the table's entire contents with `df`. `requireBase`
    * makes the replacement CONDITIONAL on the table still being at
    * that version (compare-and-swap): a concurrent commit in between
    * raises [[ConcurrentWriteException]] instead of clobbering state
    * derived from a stale read — the read-modify-write guard
    * incremental view refresh builds on.
    */
  def overwrite(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None,
      requireBase: Option[Long] = None
  ): CommitResult =
    commit(spark, df, tablePath, partitionBy, overwrite = true, txn, requireBase)

  private def txnAction(txn: Option[(String, Long)]): Seq[DeltaActions.Action] =
    txn.map { case (appId, v) =>
      DeltaActions.Txn(appId, v, Some(System.currentTimeMillis()))
    }.toSeq

  // ---- row-level DML: DELETE, UPDATE, MERGE ----------------------------
  //
  // Each op is written once. Its body states which target rows die and
  // which rows it writes. How the dying rows are retired — a rewrite of
  // the candidate files, or deletion vectors — is a value chosen once per
  // call ([[retire]]): the `*Dv` entry, or a table that sets
  // `delta.enableDeletionVectors` (the public writer contract: same
  // semantics, O(changed rows) writes).

  /** `delta.enableDeletionVectors=true` routes DELETE / UPDATE / MERGE
    * through deletion vectors (the `*Dv` methods stay directly callable
    * for per-statement choice on un-flagged tables).
    */
  private def dvRoutingEnabled(meta: DeltaLog.Metadata): Boolean =
    meta.configuration.get("delta.enableDeletionVectors").contains("true")

  /** The materialized (row id, row commit version) column names of a
    * row-tracked table, None on an untracked one. A tracked table that
    * names none is refused: `op` would re-mint its row ids.
    */
  private def materializedIds(
      meta: DeltaLog.Metadata, tablePath: String, op: String): Option[(String, String)] =
    if (!rowTrackingEnabled(meta)) None
    else {
      val conf = meta.configuration
      require(conf.contains(MatRowIdKey) && conf.contains(MatRcvKey),
        s"row-tracked table $tablePath names no materialized row-id columns; " +
          s"refusing to $op (row ids would be re-minted)")
      Some((conf(MatRowIdKey), conf(MatRcvKey)))
    }

  /** The hidden materialized row-id columns: written to the files, kept
    * out of the per-file stats (they are not part of the schema).
    */
  private def statsExcluded(ids: Option[(String, String)]): Set[String] =
    ids.map { case (id, rcv) => Set(id, rcv) }.getOrElse(Set.empty)

  /** Rewrite source for a file rewrite: on a row-tracked table the
    * candidates are read WITH row ids, renamed to the table's
    * materialized physical columns (config-named, per the protocol)
    * so the rewritten files preserve the original ids — readers
    * coalesce materialized-first. Rows from pre-feature files (null
    * ids) acquire fresh ids on rewrite: backfill-on-rewrite, the
    * REORG semantic. Returns the frame + the hidden column names to
    * exclude from per-file stats.
    */
  private def readForRewrite(
      spark: SparkSession,
      tablePath: String,
      snap: DeltaLog.Snapshot,
      candidates: Seq[DeltaLog.AddFile]
  ): (DataFrame, Set[String]) =
    materializedIds(snap.metadata, tablePath, "rewrite files") match {
      case None =>
        (DeltaRead.readFiles(spark, tablePath, snap.metadata, candidates), Set.empty)
      case ids @ Some((matId, matRcv)) =>
        val df = DeltaRead
          .readFiles(spark, tablePath, snap.metadata, candidates, withRowIds = true)
          .withColumnRenamed(DeltaRead.RowIdCol, matId)
          .withColumnRenamed(DeltaRead.RowCommitVersionCol, matRcv)
        (df, statsExcluded(ids))
    }

  /** Rewrite-candidate files for a predicate: driver-side skipping
    * over the snapshot's list, or — under `distributedPlanning`, for
    * tables whose file list outgrows the driver — the Spark-side
    * pruning of [[DeltaFilesDataset.prunedFiles]], pinned to the
    * snapshot's version so the optimistic-concurrency base
    * (`requireBase = snap.version`) still guards the commit.
    */
  private def candidateFiles(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      snap: DeltaLog.Snapshot,
      distributedPlanning: Boolean
  ): Seq[DeltaLog.AddFile] =
    if (distributedPlanning)
      DeltaFilesDataset.collectPruned(spark, tablePath, filters, Some(snap.version))
    else {
      val skipFilters = GeneratedPruning.withDerived(spark, filters, snap.metadata)
      snap.files.filter(f => DeltaFileSkipping.mayMatch(f, skipFilters, snap.metadata))
    }

  /** ONE positional scan over candidate files — the frame the DV form
    * of every DML op filters for its dying (file, row) pairs: data
    * columns + partition columns (per-file constants via
    * [[FileConstAttr]], keyed on `_metadata.file_path`) +
    * `__graft_file`/`__graft_row`. One parquet relation regardless of
    * partition cardinality — the DeltaRead plan-width discipline on
    * the write side. `physName` maps logical→physical for
    * column-mapped tables (partitionValues keys are physical). The
    * scan is raw: a row already dead under the file's DV may match
    * again, and re-marking it is a no-op under the union with that DV.
    */
  private def positionalScan(
      spark: SparkSession,
      base: String,
      meta: DeltaLog.Metadata,
      candidates: Seq[DeltaLog.AddFile]
  ): DataFrame = {
    val schema = meta.schema
    val partCols = meta.partitionColumns
    // files store PHYSICAL names under column mapping: read
    // physically, rename to the logical schema after the scan
    if (meta.columnMappingMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val physPart = partCols.map(meta.physicalName).toSet
    val physData = StructType(
      meta.physicalSchema.fields.filterNot(f => physPart.contains(f.name)))
    val logData = schema.fields.filterNot(f => partCols.contains(f.name))
    var df = spark.read.schema(physData)
      .parquet(candidates.map(f => DeltaLog.resolvePath(base, f.path)): _*)
      .withColumn("__graft_file", col("_metadata.file_path"))
      .withColumn("__graft_row", col("_metadata.row_index"))
    val zone = PartitionAttach.sessionZone(spark)
    // one shared path→tuple map for ALL partition columns
    val pvFields = StructType(partCols.map(c => StructField(c, schema(c).dataType)))
    val pvPhys = partCols.map(meta.physicalName)
    val pvTuple: Map[String, Any] =
      if (partCols.isEmpty) Map.empty
      else candidates.map { f =>
        val vs = partCols.zip(pvPhys).map { case (c, phys) =>
          f.partitionValues.get(phys).flatten
            .map(v => PartitionAttach.fromString(v, schema(c).dataType, zone)).orNull
        }
        DvDeleted.normalizePath(DeltaLog.resolvePath(base, f.path)) ->
          PartitionAttach.tupleRow(vs)
      }.toMap
    partCols.zipWithIndex.foreach { case (c, i) =>
      df = df.withColumn(c, PartitionAttach.tupleField(pvTuple, pvFields, i))
    }
    if (!meta.isColumnMapped) df
    else df.select(logData.zip(physData.fields).map {
      case (lf, pf) => col(pf.name).cast(lf.dataType).as(lf.name)
    }.toSeq ++ partCols.map(col) ++
      Seq(col("__graft_file"), col("__graft_row")): _*)
  }

  /** The candidate files a row-level DML op retires: `rewritten` ones
    * are removed whole, `hits` keep their bytes and take the paired
    * bitmap as their new DV.
    */
  private final case class Retired(
      rewritten: Seq[DeltaLog.AddFile], hits: Seq[(DeltaLog.AddFile, RoaringBitmapArray)]) {
    def removes: Seq[DeltaLog.AddFile] = rewritten ++ hits.map(_._1)
  }

  /** Retire the dying rows of `candidates` in the op's form.
    *
    *  - Rewrite: every candidate is removed; the op stages its
    *    surviving rows in the same write as its new rows.
    *  - Deletion vectors: `dying` picks the dying rows out of the
    *    [[positionalScan]]; their positions fold into one bitmap per
    *    file in one Spark job, unioned with the file's existing DV
    *    ([[DeletionVectors.foldPositions]]). Files with no dying row
    *    are untouched; [[commitDml]] writes the bitmaps to one DV file.
    */
  private def retire(
      spark: SparkSession,
      tablePath: String,
      snap: DeltaLog.Snapshot,
      candidates: Seq[DeltaLog.AddFile],
      viaDv: Boolean
  )(dying: DataFrame => DataFrame): Retired =
    if (!viaDv || candidates.isEmpty) Retired(candidates, Seq.empty)
    else {
      val base = tablePath.stripSuffix("/")
      val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // keyed by scheme-stripped absolute path (bare names collide: one
      // partitioned write emits the same part-file name per partition dir)
      val byPath = candidates.map(f =>
        DvDeleted.normalizePath(DeltaLog.resolvePath(base, f.path)) -> f).toMap
      Retired(Seq.empty, DeletionVectors.foldPositions(
        dying(positionalScan(spark, base, snap.metadata, candidates))
          .select(col("__graft_file"), col("__graft_row")),
        key => byPath(key).dv.map(_.readData(fs, base)))
        .map { case (key, bm) => byPath(key) -> bm })
    }

  /** The protocol a DV-writing commit states: the table's own, with
    * the DV reader+writer feature added, so every feature the table
    * declared stays declared.
    */
  private def dvProtocol(snap: DeltaLog.Snapshot): DeltaLog.Protocol =
    snap.protocol.withFeatures(Seq("deletionVectors"), Seq("deletionVectors"))

  /** Commit a row-level DML op against its snapshot: the rows `stage`
    * writes, the retired files, the change-data files `cdc` and `txn`'s
    * marker. The hits' bitmaps go to one DV file; each hit file is
    * re-added with its new DV — the file, its stats and its
    * `baseRowId` survive — and removed as its pre-image (old DV
    * descriptor, so a replaced DV file gets its own tombstone for
    * vacuum retention). On a change-feed table an op that stages no
    * change row changed no row: it then stages and retires nothing (a
    * bare rewrite or DV re-add would leave a version whose change rows
    * cannot be derived). An op left with nothing to add, remove or
    * mark makes no commit.
    */
  private def commitDml(
      spark: SparkSession,
      tablePath: String,
      snap: DeltaLog.Snapshot,
      viaDv: Boolean,
      retired: Retired,
      cdc: Seq[DeltaActions.Action],
      txn: Option[(String, Long)] = None,
      // identity columns whose high-water marks the staged rows advance
      idSpecs: Seq[DeltaPolicy.IdentitySpec] = Seq.empty
  )(stage: => Seq[DeltaLog.AddFile]): CommitResult = {
    val meta = snap.metadata
    val changed = !cdfEnabled(meta) || cdc.nonEmpty
    val staged = if (changed) stage else Seq.empty
    val effective = if (changed) retired else Retired(Seq.empty, Seq.empty)
    if (staged.isEmpty && effective.removes.isEmpty && txn.isEmpty)
      return CommitResult(snap.version, 0, 0)
    val reAdds =
      if (effective.hits.isEmpty) Seq.empty
      else {
        val base = tablePath.stripSuffix("/")
        val descriptors = DeletionVectors.writeDvFile(
          new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration), base,
          effective.hits.map { case (f, bm) => f.path -> bm })
        effective.hits.map { case (f, _) => f.copy(dv = Some(descriptors(f.path))) }
      }
    commitLoop(spark, tablePath, staged ++ reAdds, effective.removes,
      bumpIdentityHwm(meta.schemaString, idSpecs, staged, meta.physicalName),
      meta.partitionColumns, overwrite = false,
      extraActions = (if (viaDv) Seq(dvProtocol(snap)) else Seq.empty) ++
        txnAction(txn) ++ cdc,
      allowMapped = true, requireBase = Some(snap.version))
  }

  /** Format-level DELETE of the rows where the predicate IS TRUE (rows
    * where it evaluates to NULL are kept). Files that cannot contain
    * matching rows are untouched: file skipping bounds the work to the
    * affected partitions/files. The candidates are rewritten without
    * the matching rows (remove + add in one commit, the standard
    * copy-on-write delete), or, on a table that sets
    * `delta.enableDeletionVectors`, keep their bytes and gain DVs
    * ([[deleteWhereDv]]). On CDF tables the commit records exactly the
    * rows it removes; on row-tracked tables survivors keep their ids.
    */
  def deleteWhere(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      distributedPlanning: Boolean = false,
      predicateSql: Option[String] = None
  ): CommitResult =
    delete(spark, tablePath, filters, distributedPlanning, predicateSql, dv = false)

  /** Merge-on-read DELETE: instead of rewriting files, write a
    * deletion-vector bitmap of the matching physical row indexes per
    * file and re-add each affected file with its DV — the 100 TB
    * DELETE shape (bytes written ∝ deleted-row COUNT, not ∝ the size
    * of files containing them). Existing DVs are unioned in; the file
    * and its `baseRowId` survive, so row ids stay stable. The commit
    * adds the `deletionVectors` reader+writer feature to the table's
    * protocol, per the public protocol.
    */
  def deleteWhereDv(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      distributedPlanning: Boolean = false,
      predicateSql: Option[String] = None
  ): CommitResult =
    delete(spark, tablePath, filters, distributedPlanning, predicateSql, dv = true)

  private def delete(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      distributedPlanning: Boolean,
      predicateSql: Option[String],
      dv: Boolean
  ): CommitResult = {
    val snap = DeltaLog.snapshot(spark, tablePath, withFiles = !distributedPlanning)
    val viaDv = dv || dvRoutingEnabled(snap.metadata)
    DeltaPolicy.requireNotAppendOnly(snap.metadata, "DELETE", tablePath)
    val predicate = graft.core.Filters.rowPredicate(filters, predicateSql)
    val dies = coalesce(predicate, lit(false))
    val candidates = candidateFiles(spark, tablePath, filters, snap, distributedPlanning)
    if (candidates.isEmpty) return CommitResult(snap.version, 0, 0)

    val retired = retire(spark, tablePath, snap, candidates, viaDv)(_.filter(dies))
    if (retired.removes.isEmpty) return CommitResult(snap.version, 0, 0)
    // a rewrite's surviving rows (existing DVs applied by the shared
    // scan path; row-tracked tables keep their ids via materialized columns)
    val kept = if (viaDv) None else Some(readForRewrite(spark, tablePath, snap, candidates))
    // CDF: the visible rows of the retired files that die, staged
    // before the new DVs take effect
    val cdc =
      if (cdfEnabled(snap.metadata))
        stageCdcDeletes(spark, tablePath, snap, retired.removes, predicate)
      else Seq.empty
    commitDml(spark, tablePath, snap, viaDv, retired, cdc)(kept.map { case (src, matEx) =>
      stageFilesFor(spark, src.filter(!dies), tablePath, snap.metadata, statsExclude = matEx)
    }.getOrElse(Seq.empty))
  }

  /** UPDATE ... SET: applies the SET expressions (SQL strings over the
    * OLD row — all assignments see pre-update values, per SQL UPDATE
    * semantics) to exactly the rows where the predicate is TRUE.
    * Stats-pruned like DELETE: untouched files are never read. The
    * candidates are rewritten whole (copy-on-write), or, on a table
    * that sets `delta.enableDeletionVectors`, only the updated rows
    * are written ([[updateWhereDv]]). Table policies (constraints,
    * invariants, generated-column equations) are validated on the
    * written rows. On CDF tables the commit carries
    * update_preimage/update_postimage rows; on row-tracked tables
    * updated rows keep their row id and pick up this commit's version
    * (null materialized rcv), untouched rows keep both.
    */
  def updateWhere(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      set: Seq[(String, String)],
      distributedPlanning: Boolean = false,
      predicateSql: Option[String] = None
  ): CommitResult =
    update(spark, tablePath, filters, set, distributedPlanning, predicateSql, dv = false)

  /** UPDATE via DELETION VECTORS — [[updateWhere]]'s
    * low-write-amplification form (the same trade [[mergeDv]] makes
    * against [[merge]]): the matched rows' positions fold into
    * per-file bitmaps and ONLY their updated versions append; the
    * candidate files — and every unmatched row in them, stats, and
    * `baseRowId`s — survive untouched. A selective UPDATE on wide
    * files writes O(matched rows), not O(candidate file bytes).
    * Updated versions are computed from the DV-APPLIED read, so rows
    * already dead under an existing DV never resurrect as updates.
    * Same CDF pre/post classification, policies, identity refusals
    * and row-id preservation as the rewrite. The commit stamps the
    * `deletionVectors` feature.
    */
  def updateWhereDv(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      set: Seq[(String, String)],
      distributedPlanning: Boolean = false,
      predicateSql: Option[String] = None
  ): CommitResult =
    update(spark, tablePath, filters, set, distributedPlanning, predicateSql, dv = true)

  private def update(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      set: Seq[(String, String)],
      distributedPlanning: Boolean,
      predicateSql: Option[String],
      dv: Boolean
  ): CommitResult = {
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    val snap = DeltaLog.snapshot(spark, tablePath, withFiles = !distributedPlanning)
    val meta = snap.metadata
    val viaDv = dv || dvRoutingEnabled(meta)
    val schema = snap.schema
    DeltaPolicy.requireNotAppendOnly(meta, "UPDATE", tablePath)
    val idCols = DeltaPolicy.identityColumns(meta).map(_.column).toSet
    set.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c), s"SET column $c is not in the table schema")
      require(!idCols.contains(c), s"cannot UPDATE identity column $c")
    }
    require(set.map(_._1).distinct.size == set.size, "duplicate SET column")
    val setMap = set.toMap
    val matched = coalesce(graft.core.Filters.rowPredicate(filters, predicateSql), lit(false))

    val candidates = candidateFiles(spark, tablePath, filters, snap, distributedPlanning)
    if (candidates.isEmpty) return CommitResult(snap.version, 0, 0)

    val ids = materializedIds(meta, tablePath, "UPDATE")
    val t = DeltaRead.readFiles(spark, tablePath, meta, candidates, withRowIds = ids.isDefined)
    // all SETs evaluate against the OLD row (select, not chained
    // withColumn, so one assignment cannot see another's result),
    // guarded so unmatched rows pass through as they are
    val updatedCols: Seq[org.apache.spark.sql.Column] = schema.fieldNames.toSeq.map { c =>
      setMap.get(c) match {
        case Some(sql) =>
          when(matched, expr(sql).cast(schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }
    // the rewrite writes every candidate row, the DV form only the
    // updated ones
    val written = if (viaDv) t.where(matched) else t
    val content = DeltaPolicy.prepare(ids match {
      case None => written.select(updatedCols: _*)
      case Some((matId, matRcv)) =>
        written.select(updatedCols ++ Seq(
          col(DeltaRead.RowIdCol).as(matId),
          // updated rows take this commit's version via the default
          when(matched, lit(null).cast(LongType))
            .otherwise(col(DeltaRead.RowCommitVersionCol)).as(matRcv)): _*)
    }, meta, tablePath)

    val retired = retire(spark, tablePath, snap, candidates, viaDv)(_.filter(matched))
    if (retired.removes.isEmpty) return CommitResult(snap.version, 0, 0)
    val cdc =
      if (!cdfEnabled(meta)) Seq.empty
      else {
        val pre = t.where(matched).select(schema.fieldNames.map(col).toSeq: _*)
          .withColumn(DeltaChanges.ChangeTypeCol, lit("update_preimage"))
        val post = t.where(matched).select(updatedCols: _*)
          .withColumn(DeltaChanges.ChangeTypeCol, lit("update_postimage"))
        stageFilesFor(spark, pre.unionByName(post), tablePath, meta,
          destPrefix = "_change_data/", withStats = false).map(cdcAction)
      }
    commitDml(spark, tablePath, snap, viaDv, retired, cdc)(
      stageFilesFor(spark, content, tablePath, meta, statsExclude = statsExcluded(ids)))
  }

  /** MERGE (upsert): rows of `source` replace target rows with the
    * same key; unmatched source rows are inserted. The standard
    * last-writer-wins MERGE INTO every ingestion pipeline runs.
    *
    * Scale shape: only files that MAY hold a matching key are
    * candidates (single-column keys prune on per-file min/max stats
    * against the source key range — one tiny driver-side agg of the
    * source). The candidates are rewritten as kept-rows ∪ source, one
    * shuffle join on the key, or, on a table that sets
    * `delta.enableDeletionVectors`, keep their bytes while the dying
    * rows gain DVs ([[mergeDv]]). Unmatched-file data is never read
    * or written. `source` must be unique per key (the caller dedupes
    * — at scale that is one ExtremumBy pass, see operators/Upsert).
    *
    * On CDF-enabled tables the commit carries cdc files classifying
    * every change: `update_preimage`/`update_postimage` for matched
    * keys, `insert` for new keys, `delete` for delete-matched keys —
    * which also disambiguates the add+remove rewrite for change
    * readers.
    *
    * `deleteWhenMatched` adds the standard `WHEN MATCHED AND <cond>
    * THEN DELETE` clause: a SQL boolean over the source row's columns;
    * TRUE deletes the matched target row instead of updating it (a
    * FALSE/NULL condition falls through to the update clause, an
    * unmatched delete-condition row to the insert clause). `txn`
    * attaches a SetTransaction marker to the commit (exactly-once
    * refreshers); `requireBase` makes the whole merge conditional on
    * the table still being at that version — the read-modify-write
    * guard incremental view refresh pins its CDF watermark with.
    * An empty source returns without committing (no txn marker).
    *
    * `deleteKeys` is the CDC-apply delete clause (the shape a change
    * replicator needs, where a deleted key has NO row values to put in
    * `source`): a frame of exactly the key columns whose matched
    * target rows are removed in the SAME atomic commit as the upsert —
    * and, unlike a `deleteWhenMatched` row, a delete key absent from
    * the target is IGNORED (no insert fallthrough; a replayed delete
    * is a no-op). Null key values never match (standard `ON t.k = s.k`
    * semantics). Single-column key pruning spans source ∪ deleteKeys,
    * and an empty source with non-empty deleteKeys still commits.
    */
  def merge(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      keyCols: Seq[String],
      deleteWhenMatched: Option[String] = None,
      txn: Option[(String, Long)] = None,
      requireBase: Option[Long] = None,
      deleteKeys: Option[DataFrame] = None
  ): CommitResult =
    mergeRows(spark, tablePath, source, keyCols, deleteWhenMatched, txn, requireBase,
      deleteKeys, dv = false)

  /** MERGE via DELETION VECTORS — the low-write-amplification merge
    * (upstream's "low-shuffle merge" shape): instead of REWRITING
    * every candidate file (write cost ∝ file size × touched files),
    * the matched target rows' positions fold into per-file roaring
    * bitmaps and ONLY the source rows append as new files. Identical
    * semantics to [[merge]] — same clauses (`deleteWhenMatched`,
    * `deleteKeys`), same CDF classification, same policies — but:
    * kept rows never move (their files, stats and `baseRowId`s
    * survive untouched — row-tracked tables keep kept-row ids stable
    * FOR FREE, where the rewrite must re-materialize them), and
    * write amplification is O(source rows + matched-row bitmaps).
    * Choose this for sparse upserts into wide files (the CDC-apply
    * shape); choose [[merge]] when most of every candidate file
    * changes (a DV'd file still scans its dead rows until OPTIMIZE
    * rewrites it). The commit stamps the `deletionVectors` feature.
    * Rows already dead under a PRE-existing DV never classify as
    * matches (reads apply DVs). A merge that writes and retires
    * nothing commits only when it carries a `txn` marker (a CDC
    * replicator whose batch nets to deletes of absent keys must
    * still advance its watermark).
    */
  def mergeDv(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      keyCols: Seq[String],
      deleteWhenMatched: Option[String] = None,
      txn: Option[(String, Long)] = None,
      requireBase: Option[Long] = None,
      deleteKeys: Option[DataFrame] = None
  ): CommitResult =
    mergeRows(spark, tablePath, source, keyCols, deleteWhenMatched, txn, requireBase,
      deleteKeys, dv = true)

  private def mergeRows(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      keyCols: Seq[String],
      deleteWhenMatched: Option[String],
      txn: Option[(String, Long)],
      requireBase: Option[Long],
      deleteKeys: Option[DataFrame],
      dv: Boolean
  ): CommitResult = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    deleteKeys.foreach(dk => require(dk.columns.toSet == keyCols.toSet,
      s"deleteKeys columns ${dk.columns.mkString(",")} must be exactly the " +
        s"merge keys (${keyCols.mkString(",")})"))
    val snap = DeltaLog.snapshot(spark, tablePath)
    requireBase.foreach { base =>
      if (snap.version != base)
        throw new ConcurrentWriteException(
          s"table $tablePath is at version ${snap.version}, caller required $base")
    }
    val meta = snap.metadata
    val viaDv = dv || dvRoutingEnabled(meta)
    // MERGE retires matched rows (data-removing change)
    DeltaPolicy.requireNotAppendOnly(meta, "MERGE", tablePath)
    val ids = materializedIds(meta, tablePath, "MERGE")
    require(source.columns.toSet == meta.schema.fieldNames.toSet,
      s"merge source schema ${source.columns.mkString(",")} must match the table " +
        s"(${meta.schema.fieldNames.mkString(",")})")
    // a merge source carries every column, so identity values arrive
    // explicit — legal only when the declaration allows it
    val idSpecs = DeltaPolicy.identityColumns(meta)
    idSpecs.foreach { spec =>
      require(spec.allowExplicitInsert,
        s"MERGE into $tablePath provides explicit values for identity column " +
          s"${spec.column}, which is GENERATED ALWAYS (allowExplicitInsert=false)")
    }
    // incoming rows are subject to the table's policies (constraints,
    // invariants, generated-column validation); surviving target rows
    // satisfied them when they were written
    val src = DeltaPolicy.prepare(source, meta, tablePath)
      .select(meta.schema.fieldNames.map(col).toSeq: _*)
    // delete keys cast to the table's key types, deduped (a CDC
    // replicator's key frame arrives in the SOURCE table's types)
    val dk = deleteKeys.map(d => d.select(keyCols.map(c =>
      col(c).cast(meta.schema(c).dataType).as(c)): _*).distinct())
    // WHEN MATCHED AND <cond> THEN DELETE: the clause fires only when
    // the condition is TRUE (SQL clause semantics — null falls through
    // to the update clause). Evaluated over the source row, whose
    // columns span the full schema. A delete-condition row that
    // matches no target row follows the standard NOT MATCHED clause
    // and inserts.
    val delCond = deleteWhenMatched.map(c => coalesce(expr(c), lit(false)))
    val upsertSrc = delCond.map(c => src.where(!c)).getOrElse(src)
    val delSrc = delCond.map(c => src.where(c))

    // candidate pruning: single-column keys bound the source key range
    // once (driver-side min/max) and skip files whose stats exclude it
    val candidates: Seq[DeltaLog.AddFile] = keyCols match {
      case Seq(k) =>
        // the key range spans source ∪ deleteKeys: a file holding only
        // delete-matched keys must stay a candidate
        val keyVals = dk.map(d => src.select(col(k)).unionByName(d))
          .getOrElse(src.select(col(k)))
        val r = keyVals.agg(min(col(k)), max(col(k)), count(lit(1))).head()
        if (r.getLong(2) == 0L) return CommitResult(snap.version, 0, 0) // empty source
        // all-null keys: SQL equality never matches → pure insert
        else if (r.isNullAt(0)) Seq.empty
        else {
          import graft.core.{Filter, Filters}
          val f = Filters.normalize(Seq(
            Filter(k, ">=", r.get(0)), Filter(k, "<=", r.get(1))))
          snap.files.filter(f0 => DeltaFileSkipping.mayMatch(f0, f, meta))
        }
      case _ => snap.files
    }

    val targetRaw =
      if (candidates.isEmpty) None
      else Some(DeltaRead.readFiles(spark, tablePath, meta, candidates,
        withRowIds = ids.isDefined))
    // cdc/classification joins see the plain schema (no row-id cols)
    val target = targetRaw.map(t =>
      if (ids.isDefined) t.drop(DeltaRead.RowIdCol, DeltaRead.RowCommitVersionCol) else t)
    val keySeq = keyCols.toSeq

    // rows WRITTEN as new content: updates + inserts. Delete-matched
    // rows vanish; a delete-condition row without a target match falls
    // through to the insert clause.
    val writeSrc = (delSrc, target) match {
      case (Some(d), Some(t)) => upsertSrc.unionByName(d.join(t, keySeq, "left_anti"))
      case (Some(d), None)    => upsertSrc.unionByName(d)
      case _                  => upsertSrc
    }
    // Row tracking: updated rows materialize the matched key's old row
    // id with a NULL commit version (readers then pick up the new
    // file's default — exactly "same row, updated at this version";
    // min-id tie-break if the target held duplicate keys; all-null-id
    // matches behave as inserts — the backfill semantic); inserts
    // materialize neither and mint fresh ids.
    val upserts = (targetRaw, ids) match {
      case (Some(traw), Some((matId, matRcv))) =>
        val keyIds = traw
          .groupBy(keySeq.map(col): _*)
          .agg(min(col(DeltaRead.RowIdCol)).as(matId))
        writeSrc.join(keyIds, keySeq, "left")
          .withColumn(matRcv, lit(null).cast(LongType))
      case _ => writeSrc
    }
    // the rewrite also writes the kept rows: target rows whose key has
    // no replacement and is not delete-matched (a deleted key's row id
    // dies with the row, like copy-on-write DELETE); on a row-tracked
    // table they materialize BOTH old ids. The DV form leaves them in
    // place, their files and baseRowIds untouched.
    val content = targetRaw match {
      case Some(traw) if !viaDv =>
        val notReplaced = traw.join(src, keySeq, "left_anti")
        val kept = dk.map(notReplaced.join(_, keySeq, "left_anti")).getOrElse(notReplaced)
        ids.fold(kept) { case (matId, matRcv) =>
          kept.withColumnRenamed(DeltaRead.RowIdCol, matId)
            .withColumnRenamed(DeltaRead.RowCommitVersionCol, matRcv)
        }.unionByName(upserts)
      case _ => upserts
    }

    // DYING target rows: every visible row whose key the source
    // matches (updates kill the old version), is delete-matched, or
    // is a present delete key
    val retired = retire(spark, tablePath, snap, candidates, viaDv) { scan =>
      val dyingKeys = dk.foldLeft(src.select(keySeq.map(col): _*))(_.unionByName(_)).distinct()
      scan.join(dyingKeys, keySeq, "left_semi")
    }

    val cdc =
      if (!cdfEnabled(meta)) Seq.empty
      else {
        val changeRows = target match {
          case Some(t) =>
            val pre = t.join(upsertSrc, keySeq, "left_semi")
              .withColumn(DeltaChanges.ChangeTypeCol, lit("update_preimage"))
            val post = upsertSrc.join(t, keySeq, "left_semi")
              .withColumn(DeltaChanges.ChangeTypeCol, lit("update_postimage"))
            val ins = writeSrc.join(t, keySeq, "left_anti")
              .withColumn(DeltaChanges.ChangeTypeCol, lit("insert"))
            val del1 = delSrc.map(d => t.join(d, keySeq, "left_semi")
              .withColumn(DeltaChanges.ChangeTypeCol, lit("delete")))
            val del2 = dk.map(d => t.join(d, keySeq, "left_semi")
              .withColumn(DeltaChanges.ChangeTypeCol, lit("delete")))
            (Seq(pre.unionByName(post).unionByName(ins)) ++ del1 ++ del2)
              .reduce(_.unionByName(_))
          case None =>
            writeSrc.withColumn(DeltaChanges.ChangeTypeCol, lit("insert"))
        }
        stageFilesFor(spark, changeRows, tablePath, meta,
          destPrefix = "_change_data/", withStats = false).map(cdcAction)
      }

    commitDml(spark, tablePath, snap, viaDv, retired, cdc, txn, idSpecs)(
      stageFilesFor(spark, content, tablePath, meta, statsExclude = statsExcluded(ids)))
  }

  /** Predicate-scoped overwrite (the `replaceWhere` surface of the
    * public delta-spark writer): ONE atomic commit that deletes the
    * rows matching `filters` and inserts `df` in their place. Files
    * that cannot hold matching rows are untouched (stats/partition
    * pruning picks the rewrite candidates, exactly as DELETE);
    * candidate files keep their non-matching rows via the same
    * copy-on-write rewrite. Every incoming row must satisfy the
    * predicate — validated against the STAGED bytes, not a
    * re-evaluation of `df` (which may be non-deterministic), so the
    * "replace only WHERE …" contract cannot silently widen; a
    * violation aborts before the commit (the staged orphans are
    * uncommitted and swept by VACUUM, the same failure shape as a
    * lost commit race). Table policies (constraints, invariants,
    * generated columns) apply to the new rows; identity columns mint
    * as in append; on CDF tables the commit carries delete rows for
    * the replaced slice and insert rows for the new data; on
    * row-tracked tables survivors keep their ids (materialized
    * columns) while new rows mint fresh ones at commit.
    */
  def replaceWhere(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      distributedPlanning: Boolean = false
  ): CommitResult = {
    import graft.core.Filters
    val snap = DeltaLog.snapshot(spark, tablePath, withFiles = !distributedPlanning)
    val meta = snap.metadata
    val partCols = meta.partitionColumns
    val predicate = Filters.toColumn(filters).getOrElse(lit(true))

    DeltaPolicy.requireNotAppendOnly(meta, "replaceWhere", tablePath)

    // incoming rows go through the same preparation as append
    val idSpecs = DeltaPolicy.identityColumns(meta)
    val prepared = prepareIncoming(df, snap, tablePath)
    // structural comparison: mapped tables carry field ids/physical
    // names as NESTED field metadata, which exact equality would trip
    require(prepared.schema.fieldNames.toSeq == snap.schema.fieldNames.toSeq &&
      DataType.equalsStructurally(prepared.schema, snap.schema, ignoreNullability = true),
      s"replaceWhere into $tablePath cannot change the table schema")

    val candidates = candidateFiles(spark, tablePath, filters, snap, distributedPlanning)

    val newAdds = stageFilesFor(spark, prepared, tablePath, meta)
    val stagedNew = DeltaRead.readFiles(spark, tablePath, meta,
      newAdds)
    val outside = stagedNew.filter(!coalesce(predicate, lit(false))).limit(1).count()
    require(outside == 0L,
      s"replaceWhere into $tablePath: incoming rows fall outside the predicate; " +
        "every written row must satisfy it")

    // survivors: candidate rows the predicate does NOT delete (rows
    // where it evaluates NULL survive, as in DELETE)
    val survivorAdds =
      if (candidates.isEmpty) Seq.empty
      else {
        val (src, matEx) = readForRewrite(spark, tablePath, snap, candidates)
        stageFilesFor(spark, src.filter(!coalesce(predicate, lit(false))),
          tablePath, meta, statsExclude = matEx)
      }

    val cdcActions =
      if (!cdfEnabled(meta)) Seq.empty
      else {
        val deletes =
          if (candidates.isEmpty) Seq.empty
          else stageCdcDeletes(spark, tablePath, snap, candidates, predicate)
        val inserts = stagedNew.withColumn(DeltaChanges.ChangeTypeCol, lit("insert"))
        deletes ++ stageFilesFor(spark, inserts, tablePath, meta,
          destPrefix = "_change_data/", withStats = false).map(cdcAction)
      }

    val schemaJson = bumpIdentityHwm(meta.schemaString, idSpecs, newAdds,
      meta.physicalName)
    commitLoop(spark, tablePath, newAdds ++ survivorAdds, candidates,
      schemaJson, partCols, overwrite = false,
      extraActions = cdcActions, allowMapped = true,
      requireBase = Some(snap.version))
  }

  private def commit(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      requestedPartitionBy: Seq[String],
      overwrite: Boolean,
      txn: Option[(String, Long)] = None,
      callerBase: Option[Long] = None
  ): CommitResult = {
    val txnActions = txnAction(txn)
    val snapOpt = DeltaLog.latestVersion(spark, tablePath)
      .map(_ => DeltaLog.snapshot(spark, tablePath))
    // an append keeps the table's partitioning: no partitionBy means
    // "as the table is", and a different one is refused, as delta-spark
    // refuses it (re-partitioning the metadata would make every earlier
    // file's partition column read null)
    val partitionBy = snapOpt match {
      case Some(snap) if !overwrite =>
        val tableParts = snap.metadata.partitionColumns
        require(requestedPartitionBy.isEmpty || requestedPartitionBy == tableParts,
          s"append to $tablePath cannot change its partitioning from " +
            s"(${tableParts.mkString(", ")}) to (${requestedPartitionBy.mkString(", ")})")
        tableParts
      case _ => requestedPartitionBy
    }
    // partition values live in directory names and partitionValues
    // strings, compared byte-wise by prefix pushdown and file
    // skipping — collation-aware equality cannot reach them, so a
    // collated partition column would silently change which rows a
    // partition filter matches. Refuse loudly.
    partitionBy.foreach { c =>
      df.schema.fields.find(_.name == c).foreach { f =>
        f.dataType match {
          case st: org.apache.spark.sql.types.StringType
              if st != org.apache.spark.sql.types.StringType =>
            throw new IllegalArgumentException(
              s"partition column $c of $tablePath has a non-default collation " +
                s"(${st.typeName}); partition values compare as raw bytes — " +
                "partition on a binary-collated copy instead")
          case _ => ()
        }
      }
    }
    // overwriting away existing rows is a data-removing change —
    // refused on append-only tables (appends to them stay legal)
    if (overwrite) snapOpt.filter(_.files.nonEmpty).foreach(s =>
      DeltaPolicy.requireNotAppendOnly(s.metadata, "overwrite", tablePath))
    snapOpt.filter(_.metadata.isColumnMapped) match {
      case Some(snap) =>
        // identity minting happens on the LOGICAL frame, exactly as on
        // unmapped tables; the physical translation follows inside
        // commitMapped and the high-water mark bump reads the staged
        // stats under the PHYSICAL key
        commitMapped(spark, prepareIncoming(df, snap, tablePath), tablePath, snap,
          partitionBy, overwrite, txnActions, requireBase = callerBase)
      case None =>
        val idSpecs = snapOpt.map(s => DeltaPolicy.identityColumns(s.metadata))
          .getOrElse(Seq.empty)
        val prepared = snapOpt.map(prepareIncoming(df, _, tablePath)).getOrElse(df)
        // an overwrite that replaces the schema would emit a
        // frame-derived schemaString and silently drop the identity
        // declaration — refuse
        snapOpt.foreach { snap =>
          if (idSpecs.nonEmpty && overwrite)
            require(prepared.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
              snap.schema.fields.map(f => (f.name, f.dataType)).toSeq,
              s"overwrite of identity-bearing table $tablePath cannot change the schema")
        }
        val adds = stageFiles(spark, prepared, tablePath, partitionBy)
        // a CDF-enabled overwrite is a full data change: old rows leave
        // as deletes, new rows enter as inserts — without cdc the
        // remove+add commit would make the feed underivable. Minted
        // identity values come from a NON-deterministic expression
        // (monotonically_increasing_id), so the change rows must come
        // from the staged files themselves — re-evaluating `prepared`
        // in the cdc job would mint different values than the table
        // holds (the union stage renumbers partition indexes).
        val minted = idSpecs.exists(s => !df.columns.contains(s.column))
        val cdcActions = snapOpt match {
          case Some(snap) if overwrite && cdfEnabled(snap.metadata) =>
            val inserted =
              if (!minted) prepared
              else DeltaRead.readFiles(spark, tablePath, snap.metadata,
                adds)
            val newRows = inserted.withColumn(DeltaChanges.ChangeTypeCol, lit("insert"))
            val changes =
              if (snap.files.isEmpty) newRows
              else {
                require(prepared.columns.toSet == snap.schema.fieldNames.toSet,
                  s"CDF-enabled overwrite of $tablePath cannot change the schema " +
                    "(the change feed needs one row shape)")
                DeltaRead.readFiles(spark, tablePath, snap.metadata, snap.files)
                  .withColumn(DeltaChanges.ChangeTypeCol, lit("delete"))
                  .unionByName(newRows)
              }
            stageFiles(spark, changes, tablePath, partitionBy,
              destPrefix = "_change_data/", withStats = false).map(cdcAction)
          case _ => Seq.empty
        }
        // same logical shape as the declared schema → carry the stored
        // schemaString forward, preserving field metadata (generation
        // expressions, invariants) a frame-derived schema JSON lacks.
        // An APPEND may evolve the schema ADDITIVELY only: dropping or
        // retyping columns refuses loudly (silently narrowing the
        // schema would hide existing data), and widening merges the
        // new fields onto the stored schema so existing field
        // metadata survives. Overwrite replaces contents, so it may
        // replace the schema outright.
        val schemaJson = snapOpt match {
          case Some(s) if s.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
              prepared.schema.fields.map(f => (f.name, f.dataType)).toSeq =>
            s.metadata.schemaString
          case Some(s) if !overwrite =>
            val table = s.schema
            // Spark resolves columns case-insensitively by default, so
            // match case-insensitively and refuse case-only mismatches
            // loudly (silently adding "V" beside "v" would make every
            // later select of the column ambiguous)
            val byLower = prepared.schema.fields.map(f => f.name.toLowerCase -> f).toMap
            val tableLower = table.fields.map(_.name.toLowerCase).toSet
            val missing = table.fields.map(_.name)
              .filterNot(n => byLower.contains(n.toLowerCase))
            require(missing.isEmpty,
              s"append to $tablePath is missing columns ${missing.mkString(", ")}: " +
                "appends may ADD columns, never drop them (overwrite replaces the schema)")
            table.fields.foreach { tf =>
              val ff = byLower(tf.name.toLowerCase)
              require(ff.name == tf.name,
                s"append to $tablePath renames ${tf.name} to ${ff.name} (case-only " +
                  "differences are refused: Spark resolves names case-insensitively)")
              require(ff.dataType == tf.dataType,
                s"append to $tablePath changes the type of ${tf.name}: " +
                  s"${tf.dataType.simpleString} -> ${ff.dataType.simpleString}")
            }
            // evolved-in columns MUST be nullable: every pre-evolution
            // row reads them as null, so a frame-declared NOT NULL
            // would contradict the table's own contents
            val added = prepared.schema.fields
              .filterNot(f => tableLower.contains(f.name.toLowerCase))
              .map(_.copy(nullable = true))
            org.apache.spark.sql.types.StructType(table.fields ++ added).json
          case _ => prepared.schema.json
        }
        // identity high-water marks advance from the staged files'
        // stats (driver arithmetic over per-file max/min — the same
        // no-extra-job shape row tracking uses); a bumped mark makes
        // the commit schema-changing, so it picks up the concurrency
        // base below and a racing identity writer refuses rather than
        // minting overlapping values
        val schemaJsonF = bumpIdentityHwm(schemaJson, idSpecs, adds)
        // a SCHEMA-CHANGING commit derives its metaData from the
        // snapshot: a blind retry after a lost race would write a
        // stale schema over a concurrent writer's evolution (silently
        // dropping their column). Plain same-shape appends keep the
        // blind retry — their actions are snapshot-independent.
        val evolving = snapOpt.exists(sn =>
          sn.metadata.schemaString != schemaJsonF ||
            sn.metadata.partitionColumns != partitionBy)
        commitLoop(spark, tablePath, adds, Seq.empty, schemaJsonF, partitionBy,
          overwrite, extraActions = txnActions ++ cdcActions, snapHint = snapOpt,
          requireBase =
            callerBase.orElse(if (evolving) snapOpt.map(_.version) else None))
    }
  }

  /** Incoming rows prepared for a write into the table of `snap`:
    * policy validation, generated columns, identity minting, and the
    * declared column order (generated columns materialize at the end
    * of the frame otherwise).
    */
  private def prepareIncoming(
      df: DataFrame, snap: DeltaLog.Snapshot, tablePath: String): DataFrame = {
    val p = assignIdentity(DeltaPolicy.prepare(df, snap.metadata, tablePath),
      DeltaPolicy.identityColumns(snap.metadata), tablePath)
    val names = snap.schema.fieldNames.toSeq
    if (p.columns.toSet == names.toSet && p.columns.toSeq != names) p.select(names.map(col): _*)
    else p
  }

  /** Mint identity values (writer v6 / `identityColumns`, per the
    * public protocol): absent identity columns get
    * `base + step · monotonically_increasing_id()` — every value is a
    * step-multiple from `start` (base ≡ start mod step by induction),
    * unique, and beyond the high-water mark; gaps are explicitly legal,
    * which is what makes assignment a pure scan with no shuffle or
    * count job. Provided values require `allowExplicitInsert`.
    */
  private def assignIdentity(
      df: DataFrame,
      specs: Seq[DeltaPolicy.IdentitySpec],
      tablePath: String
  ): DataFrame =
    specs.foldLeft(df) { (d, spec) =>
      if (d.columns.contains(spec.column)) {
        require(spec.allowExplicitInsert,
          s"identity column ${spec.column} of $tablePath is GENERATED ALWAYS " +
            "(delta.identity.allowExplicitInsert=false): omit it and let the writer " +
            "assign values")
        d
      } else {
        val base = spec.highWaterMark.map(_ + spec.step).getOrElse(spec.start)
        d.withColumn(spec.column,
          lit(base) + lit(spec.step) * monotonically_increasing_id())
      }
    }

  /** Advance each identity column's `delta.identity.highWaterMark` to
    * the furthest value (in step direction) present in the staged
    * files' stats. Returns the (possibly updated) schema JSON.
    */
  private def bumpIdentityHwm(
      schemaJson: String,
      specs: Seq[DeltaPolicy.IdentitySpec],
      adds: Seq[DeltaLog.AddFile],
      // stats are keyed by PHYSICAL column name under column mapping;
      // identity on unmapped tables passes the identity function
      statsName: String => String = identity
  ): String = {
    if (specs.isEmpty || adds.isEmpty) return schemaJson
    var schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    var changed = false
    specs.foreach { spec =>
      val statsKey = if (spec.step > 0) "maxValues" else "minValues"
      val extremes = adds.flatMap(_.stats).flatMap { s =>
        Option(mapper.readTree(s).path(statsKey).get(statsName(spec.column)))
          .filterNot(_.isNull).map(_.asLong())
      }
      if (extremes.nonEmpty) {
        val extreme = if (spec.step > 0) extremes.max else extremes.min
        val advances = spec.highWaterMark.forall(h =>
          if (spec.step > 0) extreme > h else extreme < h)
        if (advances) {
          changed = true
          schema = StructType(schema.fields.map { f =>
            if (f.name != spec.column) f
            else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong(DeltaPolicy.IdentityHwmKey, extreme).build())
          })
        }
      }
    }
    if (changed) schema.json else schemaJson
  }

  /** Append/overwrite into a column-mapped table (name OR id mode):
    * the incoming frame arrives with LOGICAL column names; data files,
    * partition directory names, partitionValues keys and stats must
    * all use the table's PHYSICAL names (and, under id mode, carry
    * `parquet.field.id` so id-mode readers can match columns). Schema
    * evolution is refused loudly — evolving a mapped schema means
    * assigning fresh physical names/ids, which only the table's
    * managing writer should do.
    */
  private def commitMapped(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      snap: DeltaLog.Snapshot,
      partitionBy: Seq[String],
      overwrite: Boolean,
      extraActions: Seq[DeltaActions.Action] = Seq.empty,
      requireBase: Option[Long] = None
  ): CommitResult = {
    val meta = snap.metadata
    require(partitionBy.isEmpty || partitionBy == meta.partitionColumns,
      s"a column-mapped table's partitioning is fixed by its metadata " +
        s"(${meta.partitionColumns.mkString(",")}); got ${partitionBy.mkString(",")}")
    // field ids land in the parquet footers via schema metadata; the
    // conf is default-true but cheap to pin for id-mode round trips
    if (meta.columnMappingMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val physDf = toPhysicalDf(df, meta)
    val physParts = meta.partitionColumns.map(meta.physicalName)
    val adds = stageFiles(spark, physDf, tablePath, physParts)
    val schemaJson = bumpIdentityHwm(meta.schemaString,
      DeltaPolicy.identityColumns(meta), adds, meta.physicalName)
    commitLoop(spark, tablePath, adds, Seq.empty,
      schemaJson, meta.partitionColumns, overwrite,
      extraActions = extraActions, allowMapped = true, snapHint = Some(snap),
      requireBase = requireBase)
  }

  /** Logical → physical frame: columns reordered to the declared
    * schema, cast to the declared types, then the whole row is cast to
    * the physical schema (a struct cast renames every nested field
    * positionally and carries the target type's metadata — including
    * `parquet.field.id` — into the write schema).
    */
  private def toPhysicalDf(df: DataFrame, meta: DeltaLog.Metadata): DataFrame =
    toPhysicalKeep(df, meta, Seq.empty)

  /** [[toPhysicalDf]] with PASS-THROUGH columns that are not schema
    * columns — materialized row-id columns and `_change_type` are
    * written under their own (unmapped) names, exactly as the read
    * path expects them (DeltaRead matCols, DeltaChanges fileSchema).
    */
  private def toPhysicalKeep(
      df: DataFrame, meta: DeltaLog.Metadata, passthrough: Seq[String]): DataFrame = {
    val logical = meta.schema
    require(df.columns.toSet -- passthrough == logical.fieldNames.toSet,
      s"schema evolution on a column-mapped Delta table is not supported: " +
        s"table has ${logical.fieldNames.mkString(",")}, frame has ${df.columns.mkString(",")}")
    // cast target must be nullable throughout: a table schema with
    // NOT NULL fields (normal for upgraded tables whose appends
    // inferred non-null) would otherwise fail the struct cast —
    // nullability is enforced by DeltaPolicy, not by this rename
    def nullSafe(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullSafe(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = nullSafe(a.elementType))
      case m: MapType   => m.copy(valueType = nullSafe(m.valueType))
      case other        => other
    }
    val phys = meta.physicalSchema
    val packed = struct(logical.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
      .cast(nullSafe(phys)).as("_graft_row")
    df.select(packed +: passthrough.map(col): _*)
      .select(phys.fields.map(pf =>
        col(s"_graft_row.${pf.name}").as(pf.name, pf.metadata)).toSeq ++
        passthrough.map(col): _*)
  }

  /** [[stageFiles]] for a table that MAY be column-mapped: mapped
    * frames translate logical→physical first (column names, partition
    * directory names, partitionValues keys and stats keys all use
    * physical names — the commitMapped discipline, applied to the DML
    * rewrite/CDC legs), while non-schema columns pass through
    * unmapped. Unmapped tables stage exactly as before.
    */
  private def stageFilesFor(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      meta: DeltaLog.Metadata,
      destPrefix: String = "",
      withStats: Boolean = true,
      statsExclude: Set[String] = Set.empty
  ): Seq[DeltaLog.AddFile] =
    if (!meta.isColumnMapped)
      stageFiles(spark, df, tablePath, meta.partitionColumns,
        destPrefix, withStats, statsExclude)
    else {
      if (meta.columnMappingMode == "id")
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      val passthrough = df.columns.filterNot(meta.schema.fieldNames.contains).toSeq
      stageFiles(spark, toPhysicalKeep(df, meta, passthrough), tablePath,
        meta.partitionColumns.map(meta.physicalName),
        destPrefix, withStats, statsExclude)
    }

  /** `delta.enableRowTracking`: stable per-row ids. Appends and DV
    * DML preserve them via the per-file `baseRowId`; file rewrites
    * (DELETE/UPDATE/MERGE, OPTIMIZE, ZORDER) and the rows UPDATE and
    * MERGE write MATERIALIZE the old ids into hidden physical columns
    * (named by the two config keys below, per the protocol) which
    * readers prefer over baseRowId + index.
    */
  private[tables] def rowTrackingEnabled(meta: DeltaLog.Metadata): Boolean =
    meta.configuration.get("delta.enableRowTracking").contains("true")

  private[tables] val MatRowIdKey =
    "delta.rowTracking.materializedRowIdColumnName"
  private[tables] val MatRcvKey =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  private def cdfEnabled(meta: DeltaLog.Metadata): Boolean =
    meta.configuration.get("delta.enableChangeDataFeed").contains("true")

  private[tables] val IctKey = "delta.enableInCommitTimestamps"

  /** The commitInfo action carrying this commit's in-commit timestamp,
    * for tables with the `inCommitTimestamp` feature enabled (the
    * commit's logical time then comes from the log itself, immune to
    * file-mtime loss on copy/restore, per the public protocol).
    */
  private[tables] def ictAction(
      spark: SparkSession,
      tablePath: String,
      metaOpt: Option[DeltaLog.Metadata],
      prevVersion: Option[Long],
      operation: String
  ): Option[DeltaActions.Action] =
    metaOpt.filter(_.configuration.get(IctKey).contains("true")).map { _ =>
      val ict = DeltaLog.nextInCommitTimestamp(spark, tablePath, prevVersion)
      DeltaActions.CommitInfo(operation, ict, Some(ict))
    }

  /** A staged change-data file as a `cdc` action. */
  private def cdcAction(f: DeltaLog.AddFile): DeltaActions.Action =
    DeltaActions.Cdc(DeltaLog.CdcFile(f.path, f.partitionValues, f.size))

  /** Stage the predicate-matched (visible) rows of `candidates` as
    * change-data files under `_change_data/` and return the cdc
    * actions for the commit. Rows already hidden by existing DVs are
    * excluded (readFiles applies them), so the change feed records
    * exactly the rows THIS delete removes.
    */
  private def stageCdcDeletes(
      spark: SparkSession,
      tablePath: String,
      snap: DeltaLog.Snapshot,
      candidates: Seq[DeltaLog.AddFile],
      predicate: org.apache.spark.sql.Column
  ): Seq[DeltaActions.Action] = {
    val deleted = DeltaRead.readFiles(spark, tablePath, snap.metadata, candidates)
      .filter(coalesce(predicate, lit(false)))
      .withColumn(DeltaChanges.ChangeTypeCol, lit("delete"))
    stageFilesFor(spark, deleted, tablePath, snap.metadata,
      destPrefix = "_change_data/", withStats = false)
      .map(cdcAction)
  }

  /** ALTER TABLE SET TBLPROPERTIES: a metadata-only commit merging
    * `props` into the table configuration (schema, partitioning and
    * table identity untouched). Enabling the change data feed also
    * bumps the writer protocol: legacy writer version 4, or the
    * `changeDataFeed` writer feature on feature-versioned tables —
    * per the public protocol's feature table.
    */
  def setTableProperties(
      spark: SparkSession,
      tablePath: String,
      props: Map[String, String],
      /** Keys to REMOVE in the same commit (ALTER TABLE UNSET
        * TBLPROPERTIES). Mapping keys refuse: dropping the mode or
        * maxColumnId from a mapped table would corrupt every read
        * (physical names would stop resolving) and re-minting ids.
        */
      remove: Set[String] = Set.empty
  ): CommitResult = {
    remove.find(_.startsWith("delta.columnMapping.")).foreach(k =>
      throw new IllegalArgumentException(
        s"cannot UNSET $k: column-mapping configuration is load-bearing " +
          "for every read of a mapped table"))
    var attempt = 0
    while (true) {
      val snap = DeltaLog.snapshot(spark, tablePath)
      val meta = snap.metadata
      var newConf = meta.configuration ++ props -- remove
      if (newConf == meta.configuration) return CommitResult(snap.version, 0, 0)
      val version = snap.version + 1

      val actions = Seq.newBuilder[DeltaActions.Action]
      var protocol = snap.protocol
      // in-commit timestamps: enabling (or having enabled) the feature
      // stamps this commit; enablement also records the provenance
      // configs the protocol requires so readers know where the
      // ICT-timestamped suffix of the history begins
      val enablingIct = props.get(IctKey).contains("true") &&
        !meta.configuration.get(IctKey).contains("true")
      if (enablingIct || meta.configuration.get(IctKey).contains("true")) {
        val ict = DeltaLog.nextInCommitTimestamp(spark, tablePath, Some(snap.version))
        actions += DeltaActions.CommitInfo("SET TBLPROPERTIES", ict, Some(ict))
        if (enablingIct) {
          newConf += ("delta.inCommitTimestampEnablementVersion" -> version.toString)
          newConf += ("delta.inCommitTimestampEnablementTimestamp" -> ict.toString)
          protocol = protocol.withFeatures(Seq.empty, Seq("inCommitTimestamp"))
        }
      }
      if (props.get("delta.enableChangeDataFeed").contains("true"))
        protocol = protocol.withFeatures(Seq.empty, Seq("changeDataFeed"))
      if (props.get("delta.enableRowTracking").contains("true")) {
        // enablement also names the materialized-row-id columns file
        // rewrites preserve ids through (random suffix so they can
        // never collide with user columns, recorded in config per the
        // protocol so other engines resolve the same physical names)
        val suffix = java.util.UUID.randomUUID().toString.take(8)
        if (!newConf.contains(MatRowIdKey))
          newConf += (MatRowIdKey -> s"_row_id_$suffix")
        if (!newConf.contains(MatRcvKey))
          newConf += (MatRcvKey -> s"_row_commit_version_$suffix")
        // rowTracking + its domainMetadata dependency are writer
        // features (feature protocol only — no legacy version encodes
        // them); readers ignore them, so minReaderVersion is untouched
        protocol = protocol.withFeatures(Seq.empty, Seq("rowTracking", "domainMetadata"))
      }
      if (protocol != snap.protocol) actions += protocol
      actions += meta.copy(configuration = newConf,
        id = Option(meta.id).filter(_.nonEmpty).getOrElse(java.util.UUID.randomUUID().toString),
        createdTime = meta.createdTime.orElse(Some(System.currentTimeMillis())))

      if (writeCommitFile(spark, tablePath, version, actions.result()))
        return CommitResult(version, 0, 0)
      attempt = lostRace(tablePath, attempt) // re-read and retry
    }
    throw new IllegalStateException("unreachable")
  }

  /** RESTORE: make the table's latest state equal an earlier version
    * via one metadata-only commit (remove files added since, re-add
    * files removed since — data files are never copied). Refuses if
    * any file of the target version no longer exists on disk (vacuumed
    * past the retention window), rather than committing a state that
    * cannot be read.
    */
  def restore(spark: SparkSession, tablePath: String, version: Long): CommitResult = {
    val cur = DeltaLog.snapshot(spark, tablePath)
    // restoring to an earlier version removes later data
    DeltaPolicy.requireNotAppendOnly(cur.metadata, "RESTORE", tablePath)
    val old = DeltaLog.snapshot(spark, tablePath, Some(version))
    val base = tablePath.stripSuffix("/")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

    val missing = old.files.filterNot(f => fs.exists(new Path(base, f.path)))
    require(missing.isEmpty,
      s"cannot restore $tablePath to version $version: " +
        s"${missing.size} data file(s) were vacuumed (first: ${missing.head.path})")

    val curByPath = cur.files.map(f => f.path -> f).toMap
    val oldByPath = old.files.map(f => f.path -> f).toMap
    // re-add anything whose content differs (path present in old but
    // absent now, or same path with a different DV)
    val adds = old.files.filter(f => !curByPath.get(f.path).contains(f))
    val removes = cur.files.filterNot(f => oldByPath.contains(f.path))
    if (adds.isEmpty && removes.isEmpty && cur.metadata == old.metadata)
      return CommitResult(cur.version, 0, 0)
    // DV-bearing re-adds need the feature protocol in case the table
    // was created before DVs appeared
    val extra = if (adds.exists(_.dv.isDefined)) Seq(dvProtocol(cur)) else Seq.empty
    commitLoop(spark, tablePath, adds, removes,
      old.metadata.schemaString, old.metadata.partitionColumns,
      overwrite = false, extraActions = extra,
      // RESTORE never transforms data — re-adding the old version's
      // files is mapping-agnostic, so mapped tables restore too
      allowMapped = true,
      requireBase = Some(cur.version),
      // RESTORE recreates the old version's whole metadata action —
      // configuration included (delta-spark RestoreTableCommand parity)
      configOverride = Some(old.metadata.configuration))
  }

  /** OPTIMIZE: bin-pack each partition's small files (and any
    * DV-bearing file, whose deletes get materialized — the DV is
    * purged) into fresh files via one remove+add commit. Only
    * partitions with something to gain are rewritten; big clean files
    * are untouched. The standard small-file compaction every
    * streaming-ingest table needs — at 100 TB the rewrite is bounded
    * by the small-file fraction, not the table size.
    */
  def optimize(
      spark: SparkSession,
      tablePath: String,
      smallFileBytes: Long = 64L << 20,
      where: graft.core.Filters.Normalized = Seq.empty
  ): CommitResult = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    val partCols = snap.metadata.partitionColumns

    // OPTIMIZE WHERE scopes the rewrite to matching PARTITIONS (the
    // upstream contract): a data-column predicate can't scope a
    // whole-file rewrite, so it refuses rather than over-rewriting.
    // On partition columns alone, mayMatch is exact, not may-match.
    val nonPart = where.flatten.map(_.column).distinct.filterNot(partCols.contains)
    require(nonPart.isEmpty,
      s"OPTIMIZE WHERE must reference partition columns only; got ${nonPart.mkString(", ")}")
    val inScope =
      if (where.isEmpty) snap.files
      else snap.files.filter(f => DeltaFileSkipping.mayMatch(f, where, snap.metadata))

    val candidates = inScope.groupBy(_.partitionValues).values.flatMap { fs =>
      val rewritable = fs.filter(f =>
        f.size < smallFileBytes || f.dv.exists(_.cardinality > 0))
      // rewriting a lone small file with no DV buys nothing
      if (rewritable.size > 1 || rewritable.exists(_.dv.exists(_.cardinality > 0)))
        rewritable
      else Seq.empty
    }.toSeq
    if (candidates.isEmpty) return CommitResult(snap.version, 0, 0)

    var (kept, matEx) = readForRewrite(spark, tablePath, snap, candidates)
    // one output file per partition dir (the compaction goal); for an
    // unpartitioned table aim at the size target instead
    kept =
      if (partCols.nonEmpty) kept.repartition(partCols.map(col): _*)
      else kept.coalesce(
        math.max(1, (candidates.map(_.size).sum / math.max(1L, smallFileBytes)).toInt))
    val adds = stageFilesFor(spark, kept, tablePath, snap.metadata, statsExclude = matEx)
    commitLoop(spark, tablePath, adds, candidates,
      snap.metadata.schemaString, partCols, overwrite = false,
      allowMapped = true, dataChange = false, requireBase = Some(snap.version))
  }

  /** OPTIMIZE ZORDER BY: rewrite the table (all partitions' files)
    * with rows clustered along the Morton curve of `zorderBy`, so
    * per-file min/max stats become selective in EVERY z-ordered
    * dimension at once and multi-column box filters prune most files
    * ([[graft.operators.ZOrder]]). One remove+add commit, same
    * put-if-absent protocol as every other write. Partitioned tables
    * range-partition on (partition cols, z-value) so each partition's
    * rows stay contiguous and land in their own files.
    */
  /** Tag marking a file as written by OPTIMIZE ZORDER BY, carrying
    * the clustering spec (`cols:bits`) so incremental runs know which
    * files are already clustered under the CURRENT spec.
    */
  private[tables] val ZOrderTag = "graft.zorder"

  /** Parameterless OPTIMIZE of a clustered table: reads the
    * clustering columns from the `delta.clustering` domain
    * ([[DeltaDdl.clusterBy]]) and runs INCREMENTAL ZORDER over them —
    * only files not yet clustered under the current spec (plus
    * DV-bearing ones) are rewritten, so steady-state maintenance cost
    * is proportional to NEW data, not table size. Changing the
    * clustering spec makes every file "unclustered" relative to the
    * new spec tag, so the next OPTIMIZE migrates lazily — the
    * liquid-clustering behavior.
    */
  def optimizeClustered(
      spark: SparkSession,
      tablePath: String,
      targetFileBytes: Long = 128L << 20,
      bits: Int = 8
  ): CommitResult = {
    val cols = DeltaDdl.clusteringColumns(DeltaLog.snapshot(spark, tablePath, withFiles = false))
    require(cols.nonEmpty,
      s"$tablePath is not a clustered table (no delta.clustering domain); " +
        "use DeltaDdl.clusterBy first or call optimizeZorder with explicit columns")
    optimizeZorder(spark, tablePath, cols, targetFileBytes, bits, incremental = true)
  }

  def optimizeZorder(
      spark: SparkSession,
      tablePath: String,
      zorderBy: Seq[String],
      targetFileBytes: Long = 128L << 20,
      bits: Int = 8,
      // incremental (liquid-clustering-style) mode: only files NOT
      // yet clustered under this spec (plus DV-bearing ones, whose
      // stats went stale) are rewritten — the steady-state cost of
      // keeping a 100 TB ingest table clustered is then proportional
      // to NEW data, not table size. Already-clustered files keep
      // their layout; box filters prune across both sets via stats.
      incremental: Boolean = false
  ): CommitResult = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    val partCols = snap.metadata.partitionColumns
    require(zorderBy.nonEmpty, "optimizeZorder needs at least one column")
    zorderBy.foreach(c => require(snap.schema.fieldNames.contains(c),
      s"zorder column $c is not in the table schema"))
    zorderBy.foreach(c => require(!partCols.contains(c),
      s"zorder column $c is a partition column — already clustered by layout"))

    val spec = zorderBy.mkString(",") + ":" + bits
    val candidates =
      if (!incremental) snap.files
      else snap.files.filter(f =>
        !f.tags.get(ZOrderTag).contains(spec) || f.dv.exists(_.cardinality > 0))
    if (candidates.isEmpty) return CommitResult(snap.version, 0, 0)

    val (kept, matEx) = readForRewrite(spark, tablePath, snap, candidates)
    val numFiles = math.max(1,
      math.ceil(candidates.map(_.size).sum.toDouble / targetFileBytes).toInt)
    val keyed = kept.withColumn("_graft_zval",
      graft.operators.ZOrder.zvalue(kept, zorderBy, bits))
    val rangeCols = partCols.map(col) :+ col("_graft_zval")
    val clustered = keyed
      .repartitionByRange(numFiles, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .drop("_graft_zval")
    val adds = stageFilesFor(spark, clustered, tablePath, snap.metadata, statsExclude = matEx)
      .map(_.copy(tags = Map(ZOrderTag -> spec)))
    commitLoop(spark, tablePath, adds, candidates,
      snap.metadata.schemaString, partCols, overwrite = false,
      allowMapped = true, dataChange = false, requireBase = Some(snap.version))
  }

  /** VACUUM: physically delete data files (and DV files) under the
    * table that are no longer referenced by the CURRENT snapshot and
    * whose REMOVAL predates the retention window. Returns the number
    * of deleted files. Time travel to versions whose files were
    * vacuumed stops working — the same contract as every Delta
    * implementation; the retention window is the guard (default 7
    * days).
    *
    * The retention clock is the remove action's `deletionTimestamp`
    * (the tombstone), NOT the data file's mtime: a file written months
    * ago but removed from the table a second ago (e.g. by OPTIMIZE)
    * must survive the full window so concurrent readers of the old
    * snapshot and time travel to recent versions keep working. Files
    * with no tombstone at all (crashed staging leftovers the log never
    * referenced) fall back to their own mtime.
    */
  def vacuum(
      spark: SparkSession,
      tablePath: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      /** Report what WOULD be deleted without touching anything —
        * the upstream VACUUM DRY RUN safety valve. */
      dryRun: Boolean = false
  ): Int = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    val base = tablePath.stripSuffix("/")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

    val active: Set[String] =
      snap.files.map(f => new Path(base, f.path).toUri.getPath).toSet ++
        snap.files.flatMap(_.dv.flatMap(_.filePath(base)))
          .map(_.toUri.getPath).toSet

    // scheme-stripped absolute path → latest removal time (data files
    // and the DV files their removed entries referenced)
    val tombstoneAge: Map[String, Long] = DeltaLog.tombstones(spark, tablePath)
      .flatMap { t =>
        (Seq(new Path(base, t.path).toUri.getPath) ++
          t.dv.flatMap(_.filePath(base)).map(_.toUri.getPath).toSeq)
          .map(_ -> t.deletionTimestamp)
      }
      .groupMapReduce(_._1)(_._2)(math.max)

    val cutoff = System.currentTimeMillis() - retentionMs
    val it = fs.listFiles(new Path(base), true)
    var deleted = 0
    while (it.hasNext) {
      val s = it.next()
      val p = s.getPath
      // _delta_log is the table's own metadata; _iceberg holds the
      // UniForm export's position-delete files — referenced by Iceberg
      // manifests, invisible to the Delta log, never vacuum's to take
      val inLog = p.toString.contains("_delta_log") || p.toString.contains("/_iceberg/")
      val isData = s.isFile && !inLog &&
        (p.getName.endsWith(".parquet") || p.getName.endsWith(".bin"))
      if (isData && !active.contains(p.toUri.getPath)) {
        val removedAt = tombstoneAge.get(p.toUri.getPath)
        val expired = removedAt match {
          case Some(ts) => ts <= cutoff           // tombstone governs retention
          case None     => s.getModificationTime <= cutoff // untracked stray file
        }
        if (expired && (dryRun || fs.delete(p, false))) deleted += 1
      }
    }
    deleted
  }

  /** Distributed VACUUM — the 10⁷-file shape of [[vacuum]], where
    * neither the file LISTING nor the ACTIVE set ever materializes on
    * the driver:
    *  - listing: the directory tree is walked on the driver at
    *    DIRECTORY granularity only (O(partition dirs) memory), then
    *    each directory's files are listed EXECUTOR-side over a
    *    parallelized dir dataset;
    *  - active set: [[DeltaFilesDataset.filesDataset]] (one
    *    ExtremumBy shuffle, no driver file list) plus per-row DV path
    *    derivation;
    *  - tombstones: [[DeltaLog.tombstones]] — O(recent removes), not
    *    O(table files) (checkpoints carry only UNEXPIRED tombstones
    *    forward), joined distributed;
    *  - decision + delete: one anti-join against the active set, a
    *    left join for tombstone retention, deletes executed
    *    executor-side per partition. Same semantics as [[vacuum]]
    *    (spec-enforced parity): tombstone timestamp governs
    *    retention, untracked strays age by mtime, `_delta_log` and
    *    non-data files untouched.
    */
  def vacuumDistributed(
      spark: SparkSession,
      tablePath: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      dryRun: Boolean = false
  ): Long = {
    import spark.implicits._
    val base = tablePath.stripSuffix("/")
    val hadoop = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base).getFileSystem(hadoop)

    // directory skeleton (BFS, driver): partition dirs only — file
    // listing happens on executors
    val dirs = scala.collection.mutable.ArrayBuffer(base)
    var frontier = Seq(new Path(base))
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap { d =>
        // _staging_ dirs stay IN scope: aged orphans from crashed
        // writes are exactly what vacuum reclaims (mtime retention
        // protects in-flight staging, as in the driver-side vacuum).
        // _iceberg (UniForm export's delete files) is out of scope,
        // like _delta_log — lives outside the Delta log's knowledge.
        fs.listStatus(d).toSeq
          .filter(s => s.isDirectory && s.getPath.getName != "_delta_log" &&
            s.getPath.getName != "_iceberg")
          .map(_.getPath)
      }
      dirs ++= frontier.map(_.toString)
    }

    val conf = new org.apache.spark.util.SerializableConfiguration(hadoop)
    val bc = spark.sparkContext.broadcast(conf)
    val listed = spark.createDataset(dirs.toSeq)
      .repartition(math.min(dirs.size, 64))
      .mapPartitions { ds =>
        val c = bc.value.value
        ds.flatMap { d =>
          val p = new Path(d)
          val dfs = p.getFileSystem(c)
          dfs.listStatus(p).iterator.filter(_.isFile).map { s =>
            (s.getPath.toUri.getPath, s.getPath.getName, s.getModificationTime)
          }
        }
      }
      .toDF("abs_path", "name", "mtime")
      .where(col("name").endsWith(".parquet") || col("name").endsWith(".bin"))

    // active data + DV files, distributed; DV path derivation runs
    // per row (the same DvDescriptor logic the reader uses)
    val active = DeltaFilesDataset.filesDataset(spark, tablePath)
      .select(col("path"),
        col("deletionVector.storageType"), col("deletionVector.pathOrInlineDv"))
      .as[(String, Option[String], Option[String])]
      .flatMap { case (rel, st, pod) =>
        val dataPath = new Path(base + "/" + rel).toUri.getPath
        val dvPath = (st, pod) match {
          // offset/size/cardinality don't participate in path derivation
          case (Some(s), Some(p)) =>
            DeletionVectors.DvDescriptor(s, p, None, 0, 0L)
              .filePath(base).map(_.toUri.getPath)
          case _ => None
        }
        Seq(dataPath) ++ dvPath.toSeq
      }.toDF("abs_path").distinct()

    // tombstone retention: path -> latest removal timestamp
    val tombstones = DeltaLog.tombstones(spark, tablePath)
      .flatMap { t =>
        (Seq(new Path(base, t.path).toUri.getPath) ++
          t.dv.flatMap(_.filePath(base)).map(_.toUri.getPath).toSeq)
          .map(_ -> t.deletionTimestamp)
      }
      .groupMapReduce(_._1)(_._2)(math.max).toSeq
      .toDF("abs_path", "removed_at")

    val cutoff = System.currentTimeMillis() - retentionMs
    val candidates = listed
      .join(active, Seq("abs_path"), "left_anti")
      .join(tombstones, Seq("abs_path"), "left")
      .where(coalesce(col("removed_at"), col("mtime")) <= cutoff)
      .select(col("abs_path"))

    if (dryRun) return candidates.count()
    // delete executor-side; one FileSystem per partition (the driver
    // sees only per-partition counts)
    candidates.as[String].mapPartitions { paths =>
      val c = bc.value.value
      var n = 0L
      paths.foreach { p =>
        val hp = new Path(p)
        if (hp.getFileSystem(c).delete(hp, false)) n += 1
      }
      Iterator.single(n)
    }.collect().sum
  }

  /** Stage `df` as parquet files inside the table directory and move
    * them into place; returns the add-action payloads, with the
    * per-file stats the write tasks collected.
    */
  private def stageFiles(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String],
      destPrefix: String = "",
      withStats: Boolean = true,
      // hidden materialized row-id columns: written to the files but
      // kept out of the stats JSON (they are not part of the schema)
      statsExclude: Set[String] = Set.empty
  ): Seq[DeltaLog.AddFile] = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(DeltaLog.logDir(tablePath))

    val staging = new Path(table, s"_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    // per-file stats (partition columns excluded — their values live in
    // partitionValues, not stats; change-data files carry none)
    val statsCols =
      if (!withStats) Seq.empty
      else statsFields(df.schema.fields.filterNot(f =>
        partitionBy.contains(f.name) || statsExclude.contains(f.name)).toSeq)
    val staged = LakeFiles.writeStaged(spark, df, staging, partitionBy, statsCols.map(_.name))

    val adds = staged.map { file =>
      val dest = new Path(table, destPrefix + file.relPath)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(new Path(staging, file.relPath), dest))
        throw new IllegalStateException(s"could not move staged file ${file.relPath} to $dest")
      DeltaLog.AddFile(destPrefix + file.relPath, file.partitionValues,
        fs.getFileStatus(dest).getLen,
        if (withStats) statsJson(statsCols, file.numRecords, file.columns) else None)
    }
    fs.delete(staging, true)
    adds
  }

  private def commitLoop(
      spark: SparkSession,
      tablePath: String,
      adds: Seq[DeltaLog.AddFile],
      explicitRemoves: Seq[DeltaLog.AddFile],
      schemaJson: String,
      partitionBy: Seq[String],
      overwrite: Boolean,
      extraActions: Seq[DeltaActions.Action] = Seq.empty,
      allowMapped: Boolean = false,
      // false for pure rewrites (OPTIMIZE/ZORDER): per the protocol,
      // readers deriving a change feed skip dataChange=false actions
      dataChange: Boolean = true,
      // a snapshot the caller already replayed (first attempt only;
      // a lost commit race re-reads)
      snapHint: Option[DeltaLog.Snapshot] = None,
      // optimistic-concurrency base: commits whose actions were
      // DERIVED from a snapshot (rewrites, deletes, merges, cdc) must
      // not blind-retry onto a table someone else changed — when set,
      // losing the race throws ConcurrentWriteException instead of
      // silently committing stale removes/change rows
      requireBase: Option[Long] = None,
      // RESTORE restores table CONFIGURATION too (delta-spark
      // RestoreTableCommand restores the whole metadata action);
      // every other caller carries the current configuration forward
      configOverride: Option[Map[String, String]] = None
  ): CommitResult = {
    var attempt = 0
    while (true) {
      val hinted = if (attempt == 0) snapHint else None
      val current = hinted.map(_.version).orElse(DeltaLog.latestVersion(spark, tablePath))
      requireBase.foreach { base =>
        if (!current.contains(base))
          throw new ConcurrentWriteException(
            s"table $tablePath moved from version $base to ${current.getOrElse(-1L)} " +
              "while this operation was computing its actions; re-read and retry")
      }
      val version = current.map(_ + 1).getOrElse(0L)
      val snapOpt = hinted.orElse(current.map(_ => DeltaLog.snapshot(spark, tablePath)))
      // append/overwrite translate to physical names upstream
      // (commitMapped); every other op still refuses mapped tables
      snapOpt.foreach(s => require(allowMapped || !s.metadata.isColumnMapped,
        s"this operation is not supported on column-mapped Delta tables ($tablePath)"))
      val needMeta = snapOpt.forall(s =>
        s.metadata.schemaString != schemaJson || s.metadata.partitionColumns != partitionBy ||
          configOverride.exists(_ != s.metadata.configuration))
      // A blind retry (no concurrency base) is only safe because its
      // actions are snapshot-independent — which stops being true the
      // moment it would emit a metaData action: schemaJson was frozen
      // from the pre-race snapshot, so needMeta flipping true on a
      // retry means a concurrent writer evolved the schema (or
      // repartitioned), and re-emitting the frozen metadata would
      // silently revert their change. Refuse loudly instead.
      if (attempt > 0 && needMeta && requireBase.isEmpty)
        throw new ConcurrentWriteException(
          s"table $tablePath changed its schema or partitioning while this " +
            "write was retrying a lost commit race; re-read and retry the write")
      val removes: Seq[DeltaLog.AddFile] =
        if (overwrite) snapOpt.map(_.files).getOrElse(Seq.empty)
        else explicitRemoves

      val actions = Seq.newBuilder[DeltaActions.Action]
      // in-commit timestamp rides first, when the table enables it
      ictAction(spark, tablePath, snapOpt.map(_.metadata), current, "WRITE")
        .foreach(actions += _)
      // type-derived table features (public protocol feature table):
      // VARIANT columns require `variantType`, TIMESTAMP WITHOUT TIME
      // ZONE requires `timestampNtz` — both reader+writer features, so
      // a foreign reader that cannot decode the physical encoding
      // refuses instead of misreading; writer-only features
      // (collations) leave the reader protocol alone. A new table
      // states its protocol; schema evolution that introduces a
      // feature-gated type upgrades it in the SAME commit.
      val typeFeatures = schemaTypeFeatures(schemaJson)
      val writerOnly = schemaWriterOnlyFeatures(schemaJson)
      val base = snapOpt.map(_.protocol).getOrElse(DeltaLog.Protocol.Base)
      val protocol = base.withFeatures(typeFeatures, typeFeatures ++ writerOnly)
      if (current.isEmpty || (needMeta && protocol != base)) actions += protocol
      actions ++= extraActions
      if (needMeta) {
        // a schema change is still the SAME table: carry the existing
        // id, configuration and createdTime forward — a fresh metaData
        // must not wipe table identity or configuration
        val prev = snapOpt.map(_.metadata)
        actions += DeltaLog.Metadata(schemaJson, partitionBy,
          configOverride.orElse(prev.map(_.configuration)).getOrElse(Map.empty),
          prev.map(_.id).filter(_.nonEmpty).getOrElse(java.util.UUID.randomUUID().toString),
          prev.flatMap(_.createdTime).orElse(Some(System.currentTimeMillis())))
      }
      // row tracking: fresh files get contiguous base row ids above
      // the table's high-water mark; the bumped mark commits in the
      // SAME version as a domainMetadata action. Runs inside the
      // commit race — a lost race re-reads the mark and re-assigns.
      val tracked = snapOpt.exists(s => rowTrackingEnabled(s.metadata))
      val rowAdds: Seq[DeltaLog.AddFile] =
        if (!tracked) adds
        else {
          val hwm0 = snapOpt.map(_.rowIdHighWaterMark).getOrElse(-1L)
          var hwm = hwm0
          val assigned = adds.map { add =>
            if (add.baseRowId.isDefined) add // re-add preserves its ids
            else {
              val n = add.stats
                .map(s => mapper.readTree(s).path("numRecords").asLong(-1L))
                .getOrElse(-1L)
              require(n >= 0,
                s"row tracking on $tablePath requires per-file numRecords stats " +
                  "to assign base row ids")
              val base = hwm + 1
              hwm += n
              add.copy(baseRowId = Some(base), defaultRowCommitVersion = Some(version))
            }
          }
          if (hwm != hwm0)
            actions += DeltaActions.DomainMetadata(
              DeltaLog.RowTrackingDomain, s"""{"rowIdHighWaterMark":$hwm}""")
          assigned
        }

      val now = System.currentTimeMillis()
      actions ++= removes.map(f => DeltaActions.Remove(
        f.path, Some(now), dataChange, f.partitionValues, f.size, f.dv))
      actions ++= rowAdds.map(DeltaActions.Add(_, now, dataChange))

      if (writeCommitFile(spark, tablePath, version, actions.result())) {
        // delta.checkpointInterval (when the table sets it): write a
        // checkpoint every N commits so log replay stays O(interval)
        // and the JSON prefix becomes cleanable. A checkpoint failure
        // never fails the commit (the data is durable) but IS
        // surfaced — the next interval multiple tries again.
        snapOpt.map(_.metadata)
          .flatMap(_.configuration.get("delta.checkpointInterval"))
          .flatMap(s => scala.util.Try(s.toLong).toOption)
          .filter(n => n > 0 && version > 0 && version % n == 0)
          .foreach { _ =>
            // delta.checkpointPolicy=v2 selects the manifest+sidecar
            // flavor (the huge-table layout); classic is the default
            val v2 = snapOpt.map(_.metadata)
              .exists(_.configuration.get("delta.checkpointPolicy").contains("v2"))
            try if (v2) checkpointV2(spark, tablePath) else checkpoint(spark, tablePath)
            catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(
                  s"[graft] periodic checkpoint of $tablePath at version $version failed: $e")
            }
          }
        // a committed (possibly schema-evolving) write makes any cached
        // footer schema for this location stale — purge before returning
        SchemaCache.invalidate(tablePath)
        return CommitResult(version, adds.size, removes.size)
      }
      attempt = lostRace(tablePath, attempt) // recompute version and retry
    }
    throw new IllegalStateException("unreachable")
  }

  /** Metadata cleanup (`delta.logRetentionDuration` semantics): delete
    * JSON commits and superseded checkpoints that are (a) at or below
    * the newest complete checkpoint version — replay never needs them
    * — AND (b) older than the retention window. Time travel to the
    * cleaned-up versions stops working (the standard Delta contract);
    * the newest checkpoint, every commit after it, and
    * `_last_checkpoint` are never touched, so current reads and the
    * aged-prefix replay path are unaffected. Returns files deleted.
    */
  def cleanupLog(
      spark: SparkSession,
      tablePath: String,
      retentionMs: Long = 30L * 24 * 3600 * 1000
  ): Int = {
    val dir = DeltaLog.logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (jsons, cps) = DeltaLog.listLog(spark, tablePath)
    val cutoff = System.currentTimeMillis() - retentionMs
    def expired(p: Path): Boolean = fs.getFileStatus(p).getModificationTime < cutoff
    // crashed writers can strand ._commit_*.json.tmp files (the
    // normal path reclaims them in a finally) — sweep old ones even
    // when no checkpoint exists yet
    val strandedTmp =
      (if (!fs.exists(dir)) Seq.empty
       else fs.listStatus(dir).toSeq
         .filter(st => st.isFile && st.getPath.getName.startsWith("._commit_") &&
           st.getPath.getName.endsWith(".json.tmp") &&
           st.getModificationTime < cutoff)
         .map(_.getPath))
    val cpV = cps.keys.maxOption.getOrElse {
      return strandedTmp.count(p => fs.delete(p, false))
    }
    // the newest commit always survives: the next writer's in-commit
    // timestamp reads the previous commit's ICT from it (clock-skew
    // monotonicity), and timestamp time travel needs ≥1 anchor
    val newest = jsons.keys.maxOption
    val oldCps = cps.filter { case (v, ps) => v < cpV && ps.forall(expired) }
      .values.flatten.toSeq
    // a superseded V2 manifest owns UUID-named sidecar files nothing
    // else references — delete them with it or they accumulate forever.
    // Only UUID-named v2 manifests can reference sidecars; classic
    // %020d.checkpoint.parquet and multi-part %020d.checkpoint.N.M
    // files never do, so don't pay a Spark read probing them.
    val v2Manifest = """^\d{20}\.checkpoint\.[0-9a-fA-F]{8}-[0-9a-fA-F-]{27}\.parquet$""".r
    val sidecars = oldCps.filter(p => v2Manifest.matches(p.getName))
      .flatMap { manifest =>
        scala.util.Try {
          val df = spark.read.parquet(manifest.toString)
          if (!df.columns.contains("sidecar")) Seq.empty[Path]
          else df.select("sidecar.path").where("sidecar IS NOT NULL")
            .collect().map(r => new Path(DeltaLog.sidecarDir(tablePath), r.getString(0))).toSeq
        }.getOrElse(Seq.empty)
      }
    val deletable =
      jsons.filter { case (v, p) =>
        v <= cpV && !newest.contains(v) && expired(p)
      }.values.toSeq ++ oldCps ++ sidecars ++ strandedTmp
    deletable.count(p => fs.delete(p, false))
  }

  /** Write a checkpoint of the current snapshot
    * (`%020d.checkpoint.parquet` + `_last_checkpoint`), allowing
    * readers to replay O(commits since checkpoint) instead of the full
    * history, and the aged JSON prefix to be cleaned up.
    *
    * `parts > 1` writes a multi-part checkpoint
    * (`%020d.checkpoint.%010d.%010d.parquet`, actions distributed
    * round-robin — the protocol permits any distribution) with
    * `"parts"` recorded in `_last_checkpoint`; the shape huge tables
    * use so no single checkpoint file becomes a write/read bottleneck.
    */
  def checkpoint(spark: SparkSession, tablePath: String, parts: Int = 1): Long = {
    import spark.implicits._
    val snap = DeltaLog.snapshot(spark, tablePath)

    // preserve the table's ACTUAL latest protocol action — a
    // column-mapped or timestampNtz table must not be downgraded to
    // reader 1, and a reader-3 table whose DVs were all purged must
    // not lose its declared features. Defensive widening only: if a
    // DV-bearing file somehow exists under a pre-feature protocol,
    // checkpointing reader v1 would be silently wrong, so add the
    // feature.
    val dv = if (snap.files.exists(_.dv.isDefined)) Seq("deletionVectors") else Seq.empty
    val rows: Seq[DeltaActions.ActionRow] =
      (Seq(snap.protocol.withFeatures(dv, dv), checkpointMeta(snap.metadata)) ++
        snap.files.map(checkpointAdd) ++ liveTombstones(spark, tablePath, None) ++
        checkpointTxns(snap) ++ checkpointDomains(snap)).map(DeltaActions.row)

    val destPaths = DeltaLog.checkpointPaths(tablePath, snap.version, parts)
    val groups: Seq[Seq[DeltaActions.ActionRow]] =
      if (parts <= 1) Seq(rows)
      else {
        val g = Array.fill(parts)(Seq.newBuilder[DeltaActions.ActionRow])
        rows.zipWithIndex.foreach { case (r, i) => g(i % parts) += r }
        g.toSeq.map(_.result())
      }

    groups.zip(destPaths).zipWithIndex.foreach { case ((group, cpPath), i) =>
      writeSingleParquet(spark, layout(group.toDS(), DeltaActions.ClassicCheckpoint), cpPath,
        s"_cp_tmp_${snap.version}_$i")
    }
    writeLastCheckpoint(spark, tablePath, snap.version, rows.size, parts)
  }

  /** The metaData a checkpoint restates: the same table — same id,
    * same createdTime (a random id here would change table identity
    * for every reader replaying from the checkpoint) — configuration
    * included (column mapping mode etc.), or replay-from-checkpoint
    * would misread a mapped table as unmapped.
    */
  private def checkpointMeta(m: DeltaLog.Metadata): DeltaLog.Metadata =
    if (m.id.nonEmpty) m else m.copy(id = java.util.UUID.randomUUID().toString)

  private def checkpointAdd(f: DeltaLog.AddFile): DeltaActions.Action =
    DeltaActions.Add(f, modificationTime = 0L, dataChange = false)

  /** txn high-water marks survive log cleanup, or idempotent writers
    * would re-commit old batches after a checkpoint.
    */
  private def checkpointTxns(snap: DeltaLog.Snapshot): Seq[DeltaActions.Action] =
    snap.txns.toSeq.sortBy(_._1).map { case (appId, v) => DeltaActions.Txn(appId, v) }

  /** Live domains (row-id high-water mark etc.) must survive log
    * cleanup like txn marks do; removed domains are gone from the
    * snapshot and stay gone.
    */
  private def checkpointDomains(snap: DeltaLog.Snapshot): Seq[DeltaActions.Action] =
    snap.domains.toSeq.sortBy(_._1).map { case (d, c) => DeltaActions.DomainMetadata(d, c) }

  /** Unexpired tombstones, carried forward: once the JSON prefix is
    * cleaned up, the checkpoint is the only place vacuum can learn
    * WHEN a file was removed. Expired ones are dropped (vacuum may
    * reclaim them at any time; keeping them would grow checkpoints
    * without bound).
    */
  private def liveTombstones(
      spark: SparkSession, tablePath: String, versionAsOf: Option[Long]): Seq[DeltaActions.Action] = {
    val cutoff = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
    DeltaLog.tombstones(spark, tablePath, versionAsOf).filter(_.deletionTimestamp > cutoff)
      .map(t => DeltaActions.Remove(t.path, Some(t.deletionTimestamp), dataChange = false, dv = t.dv))
  }

  /** A checkpoint file's columns: the layout's subset of the action
    * rows, in the layout's order.
    */
  private def layout(
      rows: org.apache.spark.sql.Dataset[DeltaActions.ActionRow], columns: Seq[String]): DataFrame =
    rows.select(columns.map(col): _*)

  /** Point `_last_checkpoint` at the checkpoint of `version`
    * (`size` actions in `parts` files); returns the version.
    */
  private def writeLastCheckpoint(
      spark: SparkSession, tablePath: String, version: Long, size: Long, parts: Int = 1): Long = {
    val lc = new Path(DeltaLog.logDir(tablePath), "_last_checkpoint")
    val partsField = if (parts <= 1) "" else s""","parts":$parts"""
    val out = lc.getFileSystem(spark.sparkContext.hadoopConfiguration).create(lc, true)
    try out.write(s"""{"version":$version,"size":$size$partsField}""".getBytes("UTF-8"))
    finally out.close()
    version
  }

  /** Write a V2 checkpoint (`v2Checkpoints` table feature): a
    * UUID-named parquet manifest `%020d.checkpoint.<uuid>.parquet`
    * holding protocol, metaData, checkpointMetadata and `sidecar`
    * references, with the file actions split across `sidecars` parquet
    * files under `_delta_log/_sidecars/` — the shape huge tables use
    * so no single checkpoint file becomes a read/write bottleneck and
    * racing writers never clobber each other (unique names).
    */
  def checkpointV2(spark: SparkSession, tablePath: String, sidecars: Int = 2): Long = {
    import spark.implicits._
    val snap = DeltaLog.snapshot(spark, tablePath)
    val fs = DeltaLog.logDir(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

    val fileRows = (snap.files.map(checkpointAdd) ++ liveTombstones(spark, tablePath, None))
      .map(DeltaActions.row)
    val n = math.max(1, sidecars)
    val groups = Array.fill(n)(Seq.newBuilder[DeltaActions.ActionRow])
    fileRows.zipWithIndex.foreach { case (r, i) => groups(i % n) += r }
    fs.mkdirs(DeltaLog.sidecarDir(tablePath))
    val sidecarRefs = groups.toSeq.map(_.result()).filter(_.nonEmpty).zipWithIndex
      .map { case (g, i) =>
        val name = s"${java.util.UUID.randomUUID()}.parquet"
        val dest = new Path(DeltaLog.sidecarDir(tablePath), name)
        writeSingleParquet(spark, layout(g.toDS(), DeltaActions.V2Sidecar), dest,
          s"_sc_tmp_${java.util.UUID.randomUUID().toString.take(8)}_${snap.version}_$i")
        val st = fs.getFileStatus(dest)
        DeltaActions.Sidecar(name, st.getLen, st.getModificationTime)
      }
    writeV2Manifest(spark, tablePath, snap, snap.files.exists(_.dv.isDefined),
      sidecarRefs, fileRows.size)
  }

  /** The manifest of a v2 checkpoint of `snap`, referencing `sidecars`
    * (which hold `fileActions` file actions), and `_last_checkpoint`
    * pointing at it. Non-file actions live in the manifest per the v2
    * layout (incl. txn marks — without them a v2 checkpoint after log
    * cleanup would let idempotent writers re-commit old batches). Its
    * protocol gains the `v2Checkpoints` feature (and
    * `deletionVectors` when files carry DVs), since replaying from
    * this checkpoint requires it.
    */
  private def writeV2Manifest(
      spark: SparkSession,
      tablePath: String,
      snap: DeltaLog.Snapshot,
      hasDv: Boolean,
      sidecars: Seq[DeltaActions.Sidecar],
      fileActions: Long
  ): Long = {
    import spark.implicits._
    val needed = "v2Checkpoints" +: (if (hasDv) Seq("deletionVectors") else Seq.empty)
    val manifest: Seq[DeltaActions.Action] =
      Seq(snap.protocol.withFeatures(needed, needed), checkpointMeta(snap.metadata),
        DeltaActions.CheckpointMetadata(snap.version)) ++
        checkpointDomains(snap) ++ checkpointTxns(snap) ++ sidecars
    val uuid = java.util.UUID.randomUUID().toString
    writeSingleParquet(spark, layout(manifest.map(DeltaActions.row).toDS(), DeltaActions.V2Manifest),
      new Path(DeltaLog.logDir(tablePath), f"${snap.version}%020d.checkpoint.$uuid.parquet"),
      s"_cp2_tmp_${uuid.take(8)}_${snap.version}")
    writeLastCheckpoint(spark, tablePath, snap.version, manifest.size + fileActions)
  }

  /** Distributed V2 checkpoint — the 10⁷-file shape of
    * [[checkpointV2]]: the snapshot is replayed WITHOUT a driver file
    * list (`withFiles = false`), sidecar rows come straight from the
    * distributed file-state DataFrame ([[DeltaFilesDataset]], one
    * ExtremumBy shuffle), and the sidecar parquet files are written
    * by the executors — the driver handles only the O(1) manifest,
    * O(sidecars) renames and the bounded unexpired-tombstone set.
    * Same layout and replay semantics as [[checkpointV2]]
    * (parity-asserted by spec).
    */
  def checkpointV2Distributed(
      spark: SparkSession,
      tablePath: String,
      sidecars: Int = 8
  ): Long = {
    import spark.implicits._
    val snap = DeltaLog.snapshot(spark, tablePath, withFiles = false)
    val fs = DeltaLog.logDir(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pin the file state AND the tombstone walk to the snapshot's
    // version: a concurrent commit landing between the snapshot and
    // these re-listings would otherwise produce a checkpoint whose
    // manifest claims version N while the sidecars carry N+1's files
    val files = DeltaFilesDataset.filesDataset(spark, tablePath, versionAsOf = Some(snap.version))
    // one scalar job instead of a driver scan of the file list
    val hasDv = !files.where(col("deletionVector").isNotNull).isEmpty
    val addRows = files.map(r => DeltaActions.row(checkpointAdd(DeltaActions.fileOfRow(r))))
    val tombRows = liveTombstones(spark, tablePath, Some(snap.version)).map(DeltaActions.row)
    val combined = layout(addRows.union(tombRows.toDS()), DeltaActions.V2Sidecar)

    // executors write the sidecar parts; the driver renames them into
    // uuid sidecar names (O(sidecars) metadata work)
    fs.mkdirs(DeltaLog.sidecarDir(tablePath))
    val tmp = new Path(DeltaLog.sidecarDir(tablePath),
      s"_scd_tmp_${java.util.UUID.randomUUID().toString.take(8)}_${snap.version}")
    combined.repartition(math.max(1, sidecars))
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val parts = LakeFiles.listByExt(fs, tmp)
    val sidecarRefs = parts.map { p =>
      val name = s"${java.util.UUID.randomUUID()}.parquet"
      val dest = new Path(DeltaLog.sidecarDir(tablePath), name)
      if (!fs.rename(p, dest))
        throw new IllegalStateException(s"could not move sidecar into place at $dest")
      val st = fs.getFileStatus(dest)
      DeltaActions.Sidecar(name, st.getLen, st.getModificationTime)
    }
    fs.delete(tmp, true)
    writeV2Manifest(spark, tablePath, snap, hasDv, sidecarRefs, combined.count())
  }

  /** Write `ds` as exactly one parquet file at `dest` (tmp dir +
    * rename; parquet writers emit directories).
    */
  private def writeSingleParquet(
      spark: SparkSession,
      ds: org.apache.spark.sql.Dataset[_],
      dest: Path,
      tmpName: String
  ): Unit = {
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest.getParent, tmpName)
    ds.repartition(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val part = LakeFiles.listByExt(fs, tmp).headOption
      .getOrElse(throw new IllegalStateException(s"write produced no parquet file for $dest"))
    fs.delete(dest, false)
    if (!fs.rename(part, dest))
      throw new IllegalStateException(s"could not move checkpoint file into place at $dest")
    fs.delete(tmp, true)
  }

  /** One aggregation job over the staged files: group by file name,
    * min/max/nullCount per leaf column of a stats-friendly type.
    */
  /** Reader+writer table features REQUIRED by the schema's types, per
    * the public protocol's feature table: `variant` → `variantType`,
    * `timestamp_ntz` → `timestampNtz`. Walked recursively so a
    * variant nested inside an array/map/struct still gates.
    */
  private[tables] def schemaTypeFeatures(schemaJson: String): Seq[String] = {
    def walk(dt: DataType): Seq[String] = dt match {
      case s: StructType => s.fields.toSeq.flatMap(f => walk(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => walk(a.elementType)
      case m: org.apache.spark.sql.types.MapType => walk(m.keyType) ++ walk(m.valueType)
      case _: org.apache.spark.sql.types.VariantType => Seq("variantType")
      case org.apache.spark.sql.types.TimestampNTZType => Seq("timestampNtz")
      case _ => Seq.empty
    }
    walk(DataType.fromJson(schemaJson)).distinct
  }

  /** WRITER-only features required by the schema's types, per the
    * public protocol's collated-strings preview: any (nested) string
    * field with a non-default collation requires `collations-preview`.
    * It gates WRITERS only — the physical encoding is a plain string,
    * the collation rides the schema's `__COLLATIONS` field metadata
    * (the exact shape Spark 4's `StructType.json` emits and
    * `DataType.fromJson` round-trips), and a reader that predates the
    * feature just compares binary — so the reader protocol must NOT
    * be raised.
    */
  private[tables] def schemaWriterOnlyFeatures(schemaJson: String): Seq[String] = {
    import org.apache.spark.sql.types.StringType
    def walk(dt: DataType): Seq[String] = dt match {
      case s: StructType => s.fields.toSeq.flatMap(f => walk(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => walk(a.elementType)
      case m: org.apache.spark.sql.types.MapType => walk(m.keyType) ++ walk(m.valueType)
      case st: StringType if st != StringType => Seq("collations-preview")
      case _ => Seq.empty
    }
    walk(DataType.fromJson(schemaJson)).distinct
  }

  /** String stats prefix width (code points) — the public
    * delta-spark dataSkippingStringPrefixLength default.
    */
  private[tables] val StringStatsPrefix = 32

  /** The fields Delta keeps per-file stats for. */
  private def statsFields(fields: Seq[StructField]): Seq[StructField] =
    fields.filter(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
          StringType | DateType | TimestampType | BooleanType | _: DecimalType => true
      case _ => false
    })

  /** Per-file stats of files this writer did not write (a converted
    * parquet table), in one grouped job over `paths`, keyed by
    * normalized full path.
    */
  private[tables] def computeStats(
      spark: SparkSession,
      paths: Seq[String],
      fields: Seq[StructField]
  ): Map[String, String] = {
    val statable = statsFields(fields)
    val aggs =
      Seq(count(lit(1)).as("_nr")) ++
        statable.flatMap { f =>
          // strings ride as (cap+1)-code-point prefixes — bound-
          // equivalent (IcebergStats.prefixCapped) and it keeps a
          // multi-KB text column out of the shuffle and the log JSON
          val c = IcebergStats.prefixCapped(
            col(f.name), f.dataType, StringStatsPrefix)
          Seq(
            min(c).as(s"_min_${f.name}"),
            max(c).as(s"_max_${f.name}"),
            sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"_nc_${f.name}"))
        }
    val statRows = spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()

    statRows.flatMap { r =>
      val fileUri = r.getAs[String]("_file")
      // keyed by NORMALIZED FULL PATH: foreign layouts legitimately
      // reuse basenames across partition dirs (part=0/data_0.parquet,
      // part=1/data_0.parquet) and a name key would collide, pinning
      // one file's min/max on both — silent wrong skipping.
      // input_file_name() is URI-ENCODED (a Hive-escaped dir like
      // part=a%3Ab arrives as part=a%253Ab); callers look up with
      // fs-listed RAW paths, so decode before normalizing or every
      // special-char partition misses its stats
      val decoded =
        try new java.net.URI(fileUri).getPath
        catch { case _: java.net.URISyntaxException => fileUri }
      val cols = statable.map { f =>
        f.name -> LakeFiles.ColumnStats(
          Option(r.getAs[Any](s"_min_${f.name}")), Option(r.getAs[Any](s"_max_${f.name}")),
          r.getAs[Long](s"_nc_${f.name}"))
      }.toMap
      statsJson(statable, r.getAs[Long]("_nr"), cols)
        .map(DvDeleted.normalizePath(decoded) -> _)
    }.toMap
  }

  /** One file's stats JSON (`numRecords`, `minValues`, `maxValues`,
    * `nullCount`) over `fields`; a zero-row file records none.
    */
  private[tables] def statsJson(
      fields: Seq[StructField],
      numRecords: Long,
      columns: Map[String, LakeFiles.ColumnStats]
  ): Option[String] =
    if (numRecords == 0) None
    else {
      val node = mapper.createObjectNode()
      node.put("numRecords", numRecords)
      val minV = node.putObject("minValues")
      val maxV = node.putObject("maxValues")
      val nullC = node.putObject("nullCount")
      fields.foreach { f =>
        columns.get(f.name).foreach { c =>
          (c.min, c.max) match {
            case (Some(lo: String), Some(hi: String)) =>
              // the delta-spark string discipline: 32-code-point lower
              // prefix; upper incremented at the cap, OMITTED when no
              // increment exists (absent max = unbounded, fail-open)
              minV.put(f.name, IcebergStats.truncateLower(lo, StringStatsPrefix))
              IcebergStats.truncateUpper(hi, StringStatsPrefix)
                .foreach(u => maxV.put(f.name, u))
            case (lo, hi) =>
              lo.foreach(putStat(minV, f, _))
              hi.foreach(putStat(maxV, f, _))
          }
          nullC.put(f.name, c.nullCount)
        }
      }
      Some(mapper.writeValueAsString(node))
    }

  private def putStat(node: ObjectNode, f: StructField, v: Any): Unit = v match {
    case b: Byte              => node.put(f.name, b.toInt)
    case s: Short             => node.put(f.name, s.toInt)
    case i: Int               => node.put(f.name, i)
    case l: Long              => node.put(f.name, l)
    case fl: Float            => node.put(f.name, fl)
    case d: Double            => node.put(f.name, d)
    case d: java.math.BigDecimal => node.put(f.name, d)
    case b: Boolean           => node.put(f.name, b)
    case other                => node.put(f.name, other.toString) // string/date/timestamp
  }
}

package graft.tables

import graft.core._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native Iceberg read path (v1/v2, filesystem-catalog layout): the
  * interop complement of [[graft.export.IcebergUniform]] — a table
  * whose metadata was written by ANY Iceberg writer reads straight
  * into a DataFrame with the catalog's filter/column semantics.
  *
  * Spark-first shape, mirroring [[DeltaTable]]:
  *  - metadata (manifest list + manifests) is driver-side,
  *    bounded work; the data scan is a plain distributed parquet read
  *    with Catalyst pushdown,
  *  - partition pruning runs on manifest entries before any data file
  *    opens (exact may-match through [[FileSkipping]], the evaluator
  *    Delta and Hudi prune with): identity transforms compare recorded
  *    values; bucket/truncate/year/month/day/hour evaluate the
  *    transform on the filter literals ([[IcebergTransforms]]) —
  *    equality pruning for bucket, range pruning for the ordered
  *    transforms — and the exact predicate is always re-applied on
  *    rows,
  *  - v2 merge-on-read DELETES are applied distributedly: position
  *    delete files anti-join on (file_path, pos) against the scan's
  *    `_metadata` columns, equality delete files anti-join on their
  *    equality columns — both gated by Iceberg's sequence-number
  *    rules (position: delete seq ≥ data seq; equality: delete seq >
  *    data seq), with per-data-file sequence numbers attached by a
  *    scan-time [[FileConstAttr]] (driver metadata in the expression,
  *    no extra shuffle on the data side),
  *  - partition columns absent from the data files (e.g. files
  *    exported from a Delta table, which never stores them) are
  *    re-attached from the manifest's partition tuple as PER-FILE
  *    constants under `coalesce` (r13: one relation per content
  *    format, plan width flat in partition cardinality) — files that
  *    DO store them (normal Iceberg writers) win.
  *
  * Columns are resolved by FIELD ID wherever the file records ids —
  * parquet footers via Spark's native `parquet.field.id` matching,
  * Avro via the embedded writer schema's `field-id` props — so
  * renamed columns (and column-mapped Delta exports, whose files
  * carry physical names + ids) read their pre-rename data correctly.
  * Files WITHOUT recorded ids (add_files imports from non-Iceberg
  * writers) fall back to name resolution per file; when the metadata's
  * schema history shows a rename, that fallback would be silently
  * wrong, so id-less files on renamed tables refuse loudly — as do
  * ORC content files (Spark's ORC reader is name-only) and
  * Avro-nested renames (alias resolution is top-level).
  *
  * Snapshot selection: `extra(SnapshotIdKey)` pins a snapshot id,
  * `extra(TimestampKey)` reads the last snapshot committed at or
  * before an epoch-millis instant.
  */
class IcebergTable(
    val name: String,
    val uri: String,
    description: String = "",
    docsFilters: Seq[Filter] = Seq.empty,
    /** Exact metadata JSON to read (what a Hive/REST catalog returns
      * as the table's `metadata-location`) — overrides the
      * filesystem-catalog discovery (version-hint / v<N> scan), so
      * foreign deployments whose metadata files carry UUID names are
      * readable once a [[graft.catalog.MetadataResolver]] names them.
      */
    val metadataLocation: Option[String] = None
) extends TableProtocol {

  override val tableMetadata: TableMetadata =
    TableMetadata("ICEBERG", description, docsFilters)

  private def loadMeta(fs: org.apache.hadoop.fs.FileSystem): IcebergMeta.TableMeta =
    metadataLocation.fold(IcebergMeta.load(fs, uri))(
      IcebergMeta.loadAt(fs, uri, _))

  val SnapshotIdKey = "snapshotId"
  val TimestampKey = "asOfTimestampMs"

  /** Named snapshot ref (the spec's `refs` map): `extra(RefKey)` =
    * a tag or branch name written by [[IcebergWrite.setRef]] or any
    * foreign Iceberg writer.
    */
  val RefKey = "ref"

  /** Boolean: force scan planning distributed (true) or driver-side
    * (false); unset = automatic above
    * [[IcebergTable.AutoDistributedThresholdConf]].
    */
  val DistributedPlanningKey = "distributedPlanning"

  override def apply(spark: SparkSession, args: ReadArgs): DataFrame = {
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = loadMeta(fs)
    val refId: Option[Long] = args.extra.get(RefKey).map { n =>
      meta.refs.getOrElse(n.toString, throw new IllegalArgumentException(
        s"ref '$n' not found in $uri (have ${meta.refs.keys.mkString(", ")})")).snapshotId
    }
    require(refId.isEmpty || !args.extra.contains(SnapshotIdKey),
      s"$RefKey and $SnapshotIdKey are mutually exclusive")
    val snapshotId = args.extra.get(SnapshotIdKey).map(longArg(SnapshotIdKey))
      .orElse(refId)
    val asOf = args.extra.get(TimestampKey).map(longArg(TimestampKey))
    val snap = IcebergMeta.selectSnapshot(meta, snapshotId, asOf)
    val (pruned, deleteFiles) = planPruned(spark, fs, meta, snap, args)
    var df = readLive(spark, fs, meta, pruned, deleteFiles)
    Filters.toColumn(args.filters).foreach(p => df = df.filter(p))
    args.columns.foreach(cols => df = df.select(cols.map(col): _*))
    df
  }

  /** The schema-shaped LIVE rows of `files` — every delete kind the
    * snapshot carries (Puffin DVs, position deletes, equality deletes)
    * applied. The shared read core behind [[apply]], and the
    * writer-side read for copy-on-write rewrites
    * ([[IcebergWrite.updateWhere]] must rewrite exactly the rows a
    * reader would see — re-materializing an already-deleted row would
    * resurrect it).
    */
  private[tables] def readLive(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      meta: IcebergMeta.TableMeta,
      files: Seq[IcebergMeta.ContentFile],
      deleteFiles: Seq[IcebergMeta.ContentFile]): DataFrame = {
    val (dvs, v2Deletes) = deleteFiles.partition(_.isDeletionVector)
    refuseUnreadableDvs(meta, dvs)
    var df = readData(spark, meta, files, withDeletes = deleteFiles.nonEmpty)
    if (deleteFiles.nonEmpty) {
      if (files.nonEmpty) {
        df = applyDeletionVectors(spark, fs, df, files, dvs)
        df = applyPositionDeletes(spark, meta, df, files, v2Deletes.filter(_.content == 1))
        df = applyEqualityDeletes(spark, df, meta, v2Deletes.filter(_.content == 2))
      }
      df = df.select(meta.schema.fieldNames.map(col).toSeq: _*)
    }
    df
  }

  /** Incremental snapshot-diff read: the rows APPENDED after snapshot
    * `fromSnapshotId` (exclusive) up to `toSnapshotId` (inclusive) —
    * the Iceberg analog of the Delta change-data-feed insert stream,
    * and the primitive an incremental pipeline polls instead of
    * re-reading the table.
    *
    * Planned as a manifest-level FILE-SET DIFF (driver-side, bounded
    * by manifest size like every other metadata path here): data
    * files present at `to` but not at `from` are the appended rows;
    * the actual read of those files is the same distributed
    * partition-grouped parquet scan `apply` uses. The range must be
    * append-only — verified from the diff itself, not the snapshots'
    * summary strings (which some writers mislabel): any data file
    * REMOVED across the range, or any delete file ADDED, means an
    * overwrite/delete happened and the append diff would be wrong, so
    * the read refuses — unless `allowNewDeletes` opts into the
    * net-rows contract (v2 delete fold where it suffices, changelog
    * fold for rewrites and deletion vectors).
    */
  def incremental(
      spark: SparkSession,
      fromSnapshotId: Long,
      toSnapshotId: Long,
      args: ReadArgs = ReadArgs(),
      /** Tolerate NON-append commit shapes in the range: the result is
        * the range's NET NEW rows — exactly the latest version of
        * every row that changed, what a key-upserting downstream
        * consumer needs. Plain new-delete ranges (the equality-upsert
        * commit shape) keep the cheap v2 path (added files' rows with
        * the range's own deletes applied); ranges the v2 fold cannot
        * serve — removed data files (overwrites, rewrites), v3
        * deletion vectors — fall back to the typed changelog
        * ([[changes]]) folded to net rows (inserts ∖ deletes as a
        * full-row multiset difference), instead of refusing.
        */
      allowNewDeletes: Boolean = false
  ): DataFrame = {
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = loadMeta(fs)
    val from = IcebergMeta.selectSnapshot(meta, Some(fromSnapshotId), None)
    val to = IcebergMeta.selectSnapshot(meta, Some(toSnapshotId), None)
    require(from.sequenceNumber <= to.sequenceNumber,
      s"from snapshot $fromSnapshotId (seq ${from.sequenceNumber}) is newer than " +
        s"to snapshot $toSnapshotId (seq ${to.sequenceNumber})")

    // MANIFEST-LEVEL DIFF fast path: manifests are immutable and
    // content-addressed, so when every `from` manifest is still in
    // `to`'s list the shared ones contribute NOTHING to the diff —
    // no data file they carry was removed (removal requires dropping
    // or rewriting its manifest), and every entry of a NEW manifest
    // is new. An incremental poll between adjacent snapshots then
    // reads O(delta) manifests instead of planning BOTH snapshots in
    // full — the shape the streaming source's tailing loop needs at
    // 10⁷ files. Any dropped/rewritten manifest (overwrite, expire,
    // rewrite_manifests, compaction) falls back to the exact
    // full-set diff.
    val fromInfos = IcebergMeta.manifestInfos(fs, from)
    val toInfos = IcebergMeta.manifestInfos(fs, to)
    val fromPaths = fromInfos.map(_.path).toSet
    val diff: Option[(Seq[IcebergMeta.ContentFile], Seq[IcebergMeta.ContentFile])] =
      if (fromPaths.subsetOf(toInfos.map(_.path).toSet)) {
        val newFiles = toInfos.filterNot(mi => fromPaths(mi.path))
          .flatMap(IcebergMeta.contentFilesOfManifest(fs, _))
        Some((newFiles.filter(_.content == 0), newFiles.filter(_.content != 0)))
      } else {
        // exact full-set diff, reusing the already-read lists
        IcebergMeta.driverContentFilePlans.addAndGet(2)
        val fromFiles = fromInfos.flatMap(IcebergMeta.contentFilesOfManifest(fs, _))
        val toFiles = toInfos.flatMap(IcebergMeta.contentFilesOfManifest(fs, _))
        val fromData = fromFiles.filter(_.content == 0).map(_.path).toSet
        val fromDeletes = fromFiles.filter(_.content != 0).map(_.path).toSet
        val removedData = fromData -- toFiles.filter(_.content == 0).map(_.path).toSet
        if (removedData.nonEmpty && allowNewDeletes)
          None // rewrite-bearing range: fold the changelog to net rows
        else {
          require(removedData.isEmpty,
            s"snapshot range ($fromSnapshotId, $toSnapshotId] is not append-only: " +
              s"${removedData.size} data file(s) removed (overwrite/compaction)")
          Some((toFiles.filter(f => f.content == 0 && !fromData(f.path)),
            toFiles.filter(f => f.content != 0 && !fromDeletes(f.path))))
        }
      }
    if (diff.isEmpty)
      return netChangedRows(spark, meta, fromSnapshotId, toSnapshotId, args)
    val (added, addedDeletes) = diff.get
    require(allowNewDeletes || addedDeletes.isEmpty,
      s"snapshot range ($fromSnapshotId, $toSnapshotId] is not append-only: " +
        s"${addedDeletes.size} delete file(s) added (upserts/deletes); pass " +
        "allowNewDeletes=true to read the added rows with the range's deletes applied")

    if (addedDeletes.exists(_.isDeletionVector)) {
      // allowNewDeletes is true here (the require above fired
      // otherwise): the v2 fold can't apply Puffin DVs to an
      // adds-only frame, but the changelog derives exact rows —
      // fold it to net rows instead of refusing
      return netChangedRows(spark, meta, fromSnapshotId, toSnapshotId, args)
    }
    val pruned = added.filter(f =>
      IcebergMeta.mayMatch(
        f, meta.specs.getOrElse(f.specId, Seq.empty), meta, args.filters))
    val withDel = allowNewDeletes && addedDeletes.nonEmpty && pruned.nonEmpty
    var df = readData(spark, meta, pruned, withDeletes = withDel)
    if (withDel) {
      // a row upserted twice WITHIN the range is superseded by the
      // later commit's equality delete (delete seq > data seq), so
      // exactly one — the latest — version of each changed key emits
      df = applyPositionDeletes(spark, meta, df, pruned, addedDeletes.filter(_.content == 1))
      df = applyEqualityDeletes(spark, df, meta, addedDeletes.filter(_.content == 2))
      df = df.select(meta.schema.fieldNames.map(col).toSeq: _*)
    }
    Filters.toColumn(args.filters).foreach(p => df = df.filter(p))
    args.columns.foreach(cols => df = df.select(cols.map(col): _*))
    df
  }

  /** Typed CHANGELOG read — the Iceberg analog of
    * [[DeltaChanges.between]] and the upstream changelog scan's
    * contract: every row-level change committed in
    * `(fromSnapshotId, toSnapshotId]` as table rows plus
    * `_change_type` ∈ {insert, delete}, `_commit_snapshot_id`,
    * `_change_ordinal` (1-based position of the commit in the range)
    * and `_commit_timestamp`. An update surfaces as its delete
    * (pre-image) + insert (post-image) pair, so a signed-delta
    * consumer ([[graft.operators.IncrementalView]]) applies changes
    * without re-reading the table.
    *
    * Per-commit derivation (snapshot lineage walked through
    * parent-snapshot-id, [[IcebergMeta.lineage]]):
    *  - `replace` snapshots (compaction, rewrite_manifests) change
    *    files, not rows — they contribute nothing;
    *  - added data files → inserts, net of same-commit POSITION
    *    deletes (seq ≥ data seq; same-commit equality deletes are
    *    strictly-greater-gated and never hit their own commit's
    *    rows — the atomic-upsert shape);
    *  - removed data files → deletes, restricted to rows still live
    *    at the parent snapshot (its delete files applied first);
    *  - added delete files → deletes of retained-file rows they
    *    kill: position deletes read ONLY the files they reference;
    *    equality deletes prune candidate files by a min/max box
    *    computed from the delete rows (one tiny agg) before any data
    *    file opens. Rows already dead at the parent never re-emit,
    *    and a row killed by several delete files emits once (the
    *    dead set is live-before ∖ live-after on (file, pos)).
    *
    * Scale shape: metadata is the same bounded manifest walk every
    * reader here uses (pure-append commits take the new-manifest
    * fast path); data reads are ∝ changed rows + candidate files
    * overlapping the deleted key range — never ∝ table size.
    */
  def changes(
      spark: SparkSession,
      fromSnapshotId: Long,
      toSnapshotId: Long,
      /** Commits per analyzed sub-plan PAGE: a range wider than this
        * materializes each page (`localCheckpoint`) before the
        * cross-page union, so plan WIDTH — and Catalyst analysis
        * time — stays bounded on a 1000-commit
        * `DESCRIBE CHANGES … AFTER 0` instead of growing O(commits)
        * joins+unions in one tree. Total work is unchanged (∝ changed
        * data — every page's rows compute either way); only eagerness
        * moves to page boundaries.
        */
      pageCommits: Int = IcebergTable.DefaultChangePageCommits
  ): DataFrame = {
    import IcebergTable._
    require(pageCommits >= 1, s"pageCommits must be >= 1, got $pageCommits")
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = loadMeta(fs)
    val fromSnap = IcebergMeta.selectSnapshot(meta, Some(fromSnapshotId), None)
    val chain = IcebergMeta.lineage(meta, fromSnapshotId, toSnapshotId)
    val commitFrames: Seq[Seq[DataFrame]] = chain.zipWithIndex.map { case (snap, i) =>
      val prev = if (i == 0) fromSnap else chain(i - 1)
      commitChangeFrames(spark, fs, meta, prev, snap).map(_
        .withColumn(CommitSnapshotCol, lit(snap.id))
        .withColumn(ChangeOrdinalCol, lit(i + 1))
        .withColumn(CommitTimestampCol, timestamp_millis(lit(snap.timestampMs))))
    }
    val frames = commitFrames.flatten
    if (frames.isEmpty) {
      val empty = StructType(meta.schema.fields ++ Seq(
        StructField(ChangeTypeCol, StringType),
        StructField(CommitSnapshotCol, LongType),
        StructField(ChangeOrdinalCol, IntegerType),
        StructField(CommitTimestampCol, TimestampType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    } else if (commitFrames.size <= pageCommits) frames.reduce(_.unionByName(_))
    else commitFrames.grouped(pageCommits).toSeq
      .flatMap { page =>
        val fs0 = page.flatten
        if (fs0.isEmpty) None
        else Some(fs0.reduce(_.unionByName(_)).localCheckpoint())
      }
      .reduce(_.unionByName(_))
  }

  /** Net NEW rows over an arbitrary range, derived from the typed
    * changelog: inserts ∖ deletes as a FULL-ROW multiset difference
    * (group on every data column, keep groups whose insert count
    * exceeds their delete count, re-expand the surplus). Serves the
    * ranges the v2 adds-only fold refuses — removed data files,
    * deletion vectors — with the same consumer contract: exactly the
    * latest version of every row that changed; a row inserted and
    * deleted within the range nets out, a delete of a pre-existing
    * row (no matching in-range insert) contributes nothing.
    *
    * Scale shape: the changelog's reads are ∝ changed rows; the fold
    * adds ONE shuffle on the changed rows only — never ∝ table size.
    */
  private def netChangedRows(
      spark: SparkSession,
      meta: IcebergMeta.TableMeta,
      fromSnapshotId: Long,
      toSnapshotId: Long,
      args: ReadArgs
  ): DataFrame = {
    import IcebergTable.ChangeTypeCol
    meta.schema.fields.find(_.dataType.isInstanceOf[MapType]).foreach(f =>
      throw new UnsupportedOperationException(
        s"$uri: net-rows incremental folds group on every data column, and map " +
          s"column '${f.name}' is not groupable — read changes() directly"))
    val dataCols = meta.schema.fieldNames.toSeq
    val sign = when(col(ChangeTypeCol) === "insert", lit(1L)).otherwise(lit(-1L))
    var df = changes(spark, fromSnapshotId, toSnapshotId)
      .groupBy(dataCols.map(col): _*)
      .agg(sum(sign).as("_net"))
      .where(col("_net") > 0)
      .withColumn("_dup", explode(sequence(lit(1L), col("_net"))))
      .select(dataCols.map(col): _*)
    Filters.toColumn(args.filters).foreach(p => df = df.filter(p))
    args.columns.foreach(cols => df = df.select(cols.map(col): _*))
    df
  }

  /** One commit's change frames (each already carries `_change_type`;
    * the caller stamps commit id/ordinal/timestamp).
    */
  private def commitChangeFrames(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      meta: IcebergMeta.TableMeta,
      prev: IcebergMeta.SnapshotInfo,
      cur: IcebergMeta.SnapshotInfo
  ): Seq[DataFrame] = {
    import IcebergTable.ChangeTypeCol
    if (cur.operation.contains("replace")) return Seq.empty
    val prevInfos = IcebergMeta.manifestInfos(fs, prev)
    val curInfos = IcebergMeta.manifestInfos(fs, cur)
    val prevPaths = prevInfos.map(_.path).toSet
    // full prev content-file list only materializes when this commit
    // removed or deleted something — a pure-append poll never pays it
    lazy val prevFiles: Seq[IcebergMeta.ContentFile] = {
      IcebergMeta.driverContentFilePlans.incrementAndGet()
      prevInfos.flatMap(IcebergMeta.contentFilesOfManifest(fs, _))
    }
    val (addedData, addedDeletes, removedData) =
      if (prevPaths.subsetOf(curInfos.map(_.path).toSet)) {
        // manifest fast path: immutable manifests carried forward
        // contribute nothing; every entry of a new manifest is new
        val newFiles = curInfos.filterNot(mi => prevPaths(mi.path))
          .flatMap(IcebergMeta.contentFilesOfManifest(fs, _))
        (newFiles.filter(_.content == 0), newFiles.filter(_.content != 0),
          Seq.empty[IcebergMeta.ContentFile])
      } else {
        IcebergMeta.driverContentFilePlans.incrementAndGet()
        val curFiles = curInfos.flatMap(IcebergMeta.contentFilesOfManifest(fs, _))
        val prevDataPaths = prevFiles.filter(_.content == 0).map(_.path).toSet
        val prevDelPaths = prevFiles.filter(_.content != 0).map(_.path).toSet
        val curPaths = curFiles.map(_.path).toSet
        (curFiles.filter(f => f.content == 0 && !prevDataPaths(f.path)),
          curFiles.filter(f => f.content != 0 && !prevDelPaths(f.path)),
          prevFiles.filter(f => f.content == 0 && !curPaths(f.path)))
      }
    // v3 deletion vectors participate in the diff: an added DV is a
    // position-delete by reference (a REPLACEMENT DV carries the old
    // DV's positions, so live-before ∖ live-after emits exactly the
    // newly-dead rows); unreadable DV shapes still refuse
    val addedDvs = addedDeletes.filter(_.isDeletionVector)
    refuseUnreadableDvs(meta, addedDvs)
    val addedPos = addedDeletes.filter(f => f.content == 1 && !f.isDeletionVector)
    val addedEq = addedDeletes.filter(f => f.content == 2 && !f.isDeletionVector)
    val schemaCols = meta.schema.fieldNames.map(col).toSeq
    val frames = Seq.newBuilder[DataFrame]

    if (addedData.nonEmpty) {
      val needDel = addedPos.nonEmpty || addedDvs.nonEmpty
      var ins = readData(spark, meta, addedData, withDeletes = needDel)
      if (needDel) {
        ins = applyDeletionVectors(spark, fs, ins, addedData, addedDvs)
        ins = applyPositionDeletes(spark, meta, ins, addedData, addedPos)
          .select(schemaCols: _*)
      }
      frames += ins.withColumn(ChangeTypeCol, lit("insert"))
    }

    // prev's delete files, split once: applied wherever "live at the
    // parent" must be established
    lazy val prevDeletes = prevFiles.filter(_.content != 0)
    lazy val prevDvs = prevDeletes.filter(_.isDeletionVector)
    lazy val prevPos = prevDeletes.filter(f => f.content == 1 && !f.isDeletionVector)
    lazy val prevEq = prevDeletes.filter(f => f.content == 2 && !f.isDeletionVector)
    def liveAtPrev(df: DataFrame, files: Seq[IcebergMeta.ContentFile]): DataFrame = {
      refuseUnreadableDvs(meta, prevDvs)
      var d = applyDeletionVectors(spark, fs, df, files, prevDvs)
      d = applyPositionDeletes(spark, meta, d, files, prevPos)
      applyEqualityDeletes(spark, d, meta, prevEq)
    }

    if (removedData.nonEmpty) {
      var d = readData(spark, meta, removedData, withDeletes = prevDeletes.nonEmpty)
      if (prevDeletes.nonEmpty)
        d = liveAtPrev(d, removedData).select(schemaCols: _*)
      frames += d.withColumn(ChangeTypeCol, lit("delete"))
    }

    if (addedDeletes.nonEmpty) {
      val removedPaths = removedData.map(_.path).toSet
      val prevData = prevFiles.filter(f => f.content == 0 && !removedPaths(f.path))
      val posCandidates: Seq[IcebergMeta.ContentFile] =
        if (addedPos.isEmpty) Seq.empty
        else {
          val refPaths = contentScan(spark, meta, addedPos,
            StructType(Seq(StructField("file_path", StringType))), withSeq = false)
            .select("file_path").distinct().collect()
            .map(r => normalizePathStr(r.getString(0))).toSet
          prevData.filter(f => refPaths(normalizePathStr(f.path)))
        }
      val eqCandidates =
        if (addedEq.isEmpty) Seq.empty
        else eqDeleteCandidates(spark, meta, prevData, addedEq)
      // DVs name their target file in the manifest — no data read
      val dvRefs = addedDvs.flatMap(_.referencedDataFile).map(normalizePathStr).toSet
      val dvCandidates = prevData.filter(f => dvRefs(normalizePathStr(f.path)))
      val candidates = (posCandidates ++ eqCandidates ++ dvCandidates).distinctBy(_.path)
      if (candidates.nonEmpty) {
        val live = liveAtPrev(
          readData(spark, meta, candidates, withDeletes = true), candidates)
        var after = applyDeletionVectors(spark, fs, live, candidates, addedDvs)
        after = applyPositionDeletes(spark, meta, after, candidates, addedPos)
        after = applyEqualityDeletes(spark, after, meta, addedEq)
        val dead = live.join(
          after.select(col(PathCol).as("_s_path"), col(PosCol).as("_s_pos")),
          live(PathCol) === col("_s_path") && live(PosCol) === col("_s_pos"),
          "left_anti")
        frames += dead.select(schemaCols: _*)
          .withColumn(ChangeTypeCol, lit("delete"))
      }
    }
    frames.result()
  }

  /** Candidate retained files an equality-delete commit could touch:
    * pruned by a min/max box over the delete rows' prunable columns
    * (one driver row) evaluated against manifest stats/partitions —
    * fail-open to all retained files when no column is prunable.
    */
  private def eqDeleteCandidates(
      spark: SparkSession,
      meta: IcebergMeta.TableMeta,
      prevData: Seq[IcebergMeta.ContentFile],
      eqDel: Seq[IcebergMeta.ContentFile]
  ): Seq[IcebergMeta.ContentFile] = {
    eqDel.groupBy(_.equalityIds).toSeq.flatMap { case (ids, files) =>
      val cols = ids.flatMap(id => meta.schemaFieldIds.get(id))
      val prunable = cols.filter(c => meta.schema.fields.find(_.name == c)
        .exists(f => f.dataType match {
          case IntegerType | LongType | ShortType | ByteType |
               FloatType | DoubleType | StringType => true
          case _ => false
        }))
      if (prunable.isEmpty) prevData
      else {
        val delSchema = StructType(
          prunable.map(c => meta.schema(c).copy(metadata = Metadata.empty)))
        val aggs = prunable.flatMap(c => Seq(min(col(c)), max(col(c))))
        val row = contentScan(spark, meta, files, delSchema, withSeq = false)
          .agg(aggs.head, aggs.drop(1): _*).head()
        val bounds = graft.core.Filters.normalize(
          prunable.zipWithIndex.flatMap { case (c, i) =>
            val lo = row.get(2 * i); val hi = row.get(2 * i + 1)
            if (lo == null || hi == null) Seq.empty
            else Seq(Filter(c, ">=", lo), Filter(c, "<=", hi))
          })
        if (bounds.isEmpty) prevData
        else prevData.filter(f => IcebergMeta.mayMatch(
          f, meta.specs.getOrElse(f.specId, Seq.empty), meta, bounds))
      }
    }
  }

  /** v3 Puffin deletion vectors (data_file fields 143–145) READ —
    * snapshot scans apply them like Delta DVs: one portable roaring
    * bitmap per referenced data file, loaded driver-side for the
    * PRUNED survivors only ([[IcebergPuffin.readDvBlob]] — direct
    * content_offset access, no footer parse), applied as a
    * [[DvDeleted]] row-index anti-filter on the scan's normalized
    * (path, pos) helper columns — no join, no shuffle, no rewrite.
    * The position-delete sequence rule still gates (dv seq ≥ data
    * seq). DVs referencing pruned-away files never load.
    */
  private def applyDeletionVectors(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      data: DataFrame,
      dataFiles: Seq[IcebergMeta.ContentFile],
      dvs: Seq[IcebergMeta.ContentFile]
  ): DataFrame = {
    if (dvs.isEmpty) return data
    // DVs address rows by PHYSICAL POSITION exactly like position
    // deletes: a non-parquet data file reads PosCol as null, and the
    // null-gated filter below would then drop EVERY row of that file
    // (not just deleted ones) — and a DV whose referenced path no
    // longer matches a (converted) survivor would silently resurrect
    // its deleted rows. Refuse loudly whenever a DV-bearing snapshot
    // scans non-parquet data, same contract as [[applyPositionDeletes]].
    dataFiles.find(_.fileFormat != "PARQUET").foreach(f =>
      throw new UnsupportedOperationException(
        s"$uri has deletion vectors AND ${f.fileFormat} data files " +
          s"(e.g. ${f.path}); deletion vectors address rows by parquet " +
          "row index — rewrite_data_files first"))
    val survivorSeq: Map[String, Long] =
      dataFiles.map(f => normalizePathStr(f.path) -> f.sequenceNumber).toMap
    val dvBytes: Map[String, Array[Byte]] = dvs.flatMap { d =>
      val ref = normalizePathStr(d.referencedDataFile.get)
      survivorSeq.get(ref) match {
        // DvDeleted decodes the path it probes with, as it would
        // `_metadata.file_path`; PathCol holds the raw manifest
        // spelling, so the key takes the same decoding (a directory
        // escaped as `p=x%23y` must not miss)
        case Some(dataSeq) if d.sequenceNumber >= dataSeq =>
          Some(DvDeleted.decodeMetadataPath(ref) -> IcebergPuffin.readDvBlob(fs,
            new Path(d.path), d.contentOffset.get, d.contentSizeInBytes.get))
        case _ => None
      }
    }.toMap
    if (dvBytes.isEmpty) return data
    val deleted = Bridge.column(DvDeleted(
      Bridge.expression(col(PathCol)),
      Bridge.expression(col(PosCol)),
      dvBytes))
    data.where(!deleted)
  }

  /** A DV entry missing any of its three fields cannot be read —
    * refuse LOUDLY with the file named (the pre-r11 refusal, kept
    * for malformed shapes). Snapshot scans, [[changes]] and (via the
    * changelog net-rows fold) [[incremental]] all read well-formed
    * DVs.
    */
  private def refuseUnreadableDvs(
      meta: IcebergMeta.TableMeta,
      dvs: Seq[IcebergMeta.ContentFile]): Unit =
    dvs.find(d => d.referencedDataFile.isEmpty || d.contentOffset.isEmpty ||
      d.contentSizeInBytes.isEmpty).foreach { d =>
      throw new UnsupportedOperationException(
        s"$uri (format-version ${meta.formatVersion}) carries a Puffin " +
          s"deletion vector missing referenced_data_file/content_offset/" +
          s"content_size_in_bytes (${d.path}) — unreadable v3 shape")
    }

  /** Content files outside the readable set (PARQUET + ORC + AVRO —
    * all three legal Iceberg content formats — via Spark's native
    * readers) refuse LOUDLY at plan time with the file, role and
    * format named, instead of dying inside a footer reader — the same
    * honesty discipline as the v3 Puffin refusal above (DVs get that
    * message, not this one).
    */
  private def requireReadable(files: Seq[IcebergMeta.ContentFile], role: String): Unit =
    files.find(f => !IcebergTable.ReadableFormats.contains(f.fileFormat) &&
        !f.isDeletionVector).foreach(f =>
      throw new UnsupportedOperationException(
        s"$uri stores ${f.fileFormat} $role files (e.g. ${f.path}); this reader " +
          "scans PARQUET, ORC and AVRO content only — rewrite_data_files with a " +
          "parquet-writing engine first"))

  /** Avro files embed their writer schema: files group by DISTINCT
    * writer schema (header probe, executor-side + cached above a
    * handful — mixed-writer-schema groups from separate add_files
    * imports each align independently) and each group's columns
    * resolve by ICEBERG FIELD ID via the schema's `field-id` props
    * (required of Iceberg Avro writers): a renamed column reads its
    * values from the file's old name, a field id the file predates
    * null-fills, types cast. A writer schema with NO `field-id`
    * props (an add_files import from a non-Iceberg writer) falls
    * back to name resolution — refused loudly when the metadata's
    * schema history shows renames, because a pre-rename file would
    * silently null-fill. Nested renames/reorders refuse (alias
    * resolution is the top-level projection; the nested struct cast
    * is positional). Shared by the data-scan and delete-file legs.
    */
  private def avroAligned(
      spark: SparkSession,
      paths: Seq[String],
      schema: StructType,
      meta: IcebergMeta.TableMeta): DataFrame = {
    val writerJsons = IcebergTable.probeAvroWriterSchemas(spark, paths)
    val renamed = IcebergTable.renamedFields(meta.fieldNameHistory, schema)
    val groups = paths.groupBy(p => writerJsons(DvDeleted.normalizePath(p)))
    groups.toSeq.sortBy(_._1).map { case (wjson, ps) =>
      val writer = new org.apache.avro.Schema.Parser().parse(wjson)
      val raw = spark.read.format(IcebergTable.AvroProvider).load(ps: _*)
      raw.select(
        IcebergTable.avroProjection(writer, schema, renamed, uri, ps.head): _*)
    }.reduce(_.unionByName(_))
  }

  /** Parquet files split by FOOTER-ID presence into the two read
    * legs: files recording ids (Iceberg writers are required to, and
    * graft stamps its own) read through the id-resolving relation —
    * Spark's `parquet.field.id` matching, which keeps renamed columns
    * and physical-name files (column-mapped Delta exports) correct —
    * while id-less files (add_files imports, pre-r15 graft tables)
    * keep the proven name-resolving relation. Spark has no per-file
    * fallback between the two (an id-bearing read schema over an
    * id-less file yields nulls or an error, never a name match), so
    * the split is decided up front by the cached footer probe
    * ([[IcebergTable.probeMissingFooterIds]]).
    *
    * Rename refusals live here too: when any REQUESTED field carried
    * a different name in the schema history, ORC files (name-only
    * reader) and id-less parquet files (provenance unknowable: a
    * pre-rename file holds the old name = silent null-fill) refuse
    * loudly, naming rewrite_data_files.
    */
  private def splitParquetByFooterIds(
      spark: SparkSession,
      meta: IcebergMeta.TableMeta,
      schema: StructType,
      files: Seq[IcebergMeta.ContentFile],
      role: String
  ): (Seq[IcebergMeta.ContentFile], Seq[IcebergMeta.ContentFile]) = {
    val renamed = IcebergTable.renamedFields(meta.fieldNameHistory, schema)
    lazy val what = renamed.map { case (id, path, old) =>
      s"$path (field id $id, formerly ${old.mkString("/")})"
    }.mkString(", ")
    if (renamed.nonEmpty)
      files.find(f => f.fileFormat == "ORC" && !f.isDeletionVector).foreach(f =>
        throw new UnsupportedOperationException(
          s"$uri renamed column(s) $what and stores ORC $role files (e.g. " +
            s"${f.path}): Spark's ORC reader resolves columns by NAME, so a " +
            "pre-rename file would silently null-fill — rewrite_data_files " +
            "with a parquet-writing engine first"))
    val parq = files.filter(_.fileFormat == "PARQUET")
    if (parq.isEmpty || !IcebergTable.hasFieldIds(schema))
      return (Seq.empty, parq)
    val idless =
      IcebergTable.probeMissingFooterIds(spark, parq.map(_.path)).toSet
    if (renamed.nonEmpty && idless.nonEmpty)
      throw new UnsupportedOperationException(
        s"$uri renamed column(s) $what, but ${idless.size} parquet $role " +
          s"file(s) carry no footer field ids (e.g. ${idless.head}) — " +
          "written before the rename such a file holds the OLD name " +
          "(silent null-fill under the new one) and nothing records which " +
          "side of the rename it came from; rewrite_data_files first")
    parq.partition(f => !idless(f.path))
  }

  /** One relation per CONTENT FORMAT present (≤3, flat in file count)
    * over same-schema content files — the shared scan for delete
    * files and candidate probes. Parquet/ORC take the schema as a
    * reader projection (parquet matching by FIELD ID when the schema
    * carries ids — [[IcebergTable.stampParquetFieldIds]]); Avro files
    * resolve per writer schema ([[avroAligned]]). `withSeq` rides
    * each file's sequence number as a per-file constant `_del_seq`.
    */
  private def contentScan(
      spark: SparkSession,
      meta: IcebergMeta.TableMeta,
      files: Seq[IcebergMeta.ContentFile],
      schema: StructType,
      withSeq: Boolean): DataFrame = {
    val (pqId, pqNoId) =
      splitParquetByFooterIds(spark, meta, schema, files, "delete")
    val stamped = IcebergTable.stampParquetFieldIds(schema)
    if (pqId.nonEmpty) IcebergTable.enableFieldIdRead(spark)
    def leg(group: Seq[IcebergMeta.ContentFile], fmt: String): DataFrame = {
      var df = fmt match {
        case "ORC"     => spark.read.schema(schema).orc(group.map(_.path): _*)
        case "AVRO"    => avroAligned(spark, group.map(_.path), schema, meta)
        case "PQ_ID"   => spark.read.schema(stamped).parquet(group.map(_.path): _*)
        case _ => spark.read.schema(schema).parquet(group.map(_.path): _*)
      }
      if (withSeq) {
        val delSeq: Map[String, Any] = group.map(f =>
          DvDeleted.normalizePath(f.path) -> (f.sequenceNumber: Any)).toMap
        df = df.withColumn("_del_seq", PartitionAttach.constCol(delSeq, LongType))
      }
      df.select((schema.fieldNames.toSeq ++
        (if (withSeq) Seq("_del_seq") else Seq.empty)).map(col): _*)
    }
    (files.filterNot(_.fileFormat == "PARQUET").groupBy(_.fileFormat).toSeq ++
      Seq("PQ_ID" -> pqId, "PARQUET" -> pqNoId).filter(_._2.nonEmpty))
      .sortBy(_._1)
      .map { case (fmt, g) => leg(g, fmt) }
      .reduce(_.unionByName(_))
  }

  /** Scan planning with the R40 discipline: BELOW the file gate the
    * driver loops manifests ([[IcebergMeta.planFiles]]); ABOVE it —
    * where even the content-file LIST outgrows the driver (10⁷ files
    * is gigabytes of heap) — manifests parallelize across executors,
    * each task reads its manifest's entries and applies the SAME
    * [[IcebergMeta.mayMatch]] (partition transforms + column bounds),
    * and only SURVIVORS return to the driver. The gate reads the
    * manifest list's added/existing file counts — O(manifests), no
    * manifest opens — so deciding costs nothing; an explicit
    * `extra(DistributedPlanningKey)` boolean overrides it either way.
    * Returns (pruned data files, delete files).
    */
  private def planPruned(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      meta: IcebergMeta.TableMeta,
      snap: IcebergMeta.SnapshotInfo,
      args: ReadArgs
  ): (Seq[IcebergMeta.ContentFile], Seq[IcebergMeta.ContentFile]) = {
    // FIRST pruning level: manifest-list partition summaries drop
    // whole manifests before any of them opens (delete manifests and
    // summary-less rows always survive — fail-open)
    val infos = IcebergMeta.manifestInfos(fs, snap).filter(mi =>
      IcebergMeta.manifestMayMatch(
        mi, meta.specs.getOrElse(mi.specId, Seq.empty), meta, args.filters))
    val estimated = infos.map(mi =>
      (mi.addedFiles.getOrElse(0).toLong + mi.existingFiles.getOrElse(0).toLong)).sum
    val distributed = args.extra.get(DistributedPlanningKey).map {
      case b: Boolean => b
      case s: String  => s.toBoolean
      case other => throw new IllegalArgumentException(
        s"bad $DistributedPlanningKey: $other")
    }.getOrElse {
      val threshold = spark.conf.getOption(IcebergTable.AutoDistributedThresholdConf)
        .map(_.toLong).getOrElse(IcebergTable.DefaultAutoDistributedThreshold)
      estimated > threshold
    }
    val files: Seq[IcebergMeta.ContentFile] =
      if (!distributed) {
        // the counter still ticks (this IS a driver plan) but the
        // manifest list read above is reused, not re-fetched
        IcebergMeta.driverContentFilePlans.incrementAndGet()
        infos.flatMap(IcebergMeta.contentFilesOfManifest(fs, _))
      }
      else if (infos.isEmpty) Seq.empty
      else {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        val metaB = meta
        val filtersB = args.filters
        spark.sparkContext
          .parallelize(infos, math.max(1, math.min(infos.size, 32)))
          .flatMap { mi =>
            val efs = new org.apache.hadoop.fs.Path(mi.path).getFileSystem(conf.value)
            IcebergMeta.contentFilesOfManifest(efs, mi).filter(f =>
              f.content != 0 || IcebergMeta.mayMatch(
                f, metaB.specs.getOrElse(f.specId, Seq.empty), metaB, filtersB))
          }.collect().toSeq
      }
    val (deleteFiles, dataFiles) = files.partition(_.content != 0)
    val prunedData =
      if (distributed) dataFiles // already pruned executor-side
      else dataFiles.filter(f => IcebergMeta.mayMatch(
        f, meta.specs.getOrElse(f.specId, Seq.empty), meta, args.filters))
    (prunedData, deleteFiles)
  }

  /** One parquet scan per (spec, partition tuple) group so pruned
    * partition values can re-attach as typed literals; groups union.
    * With deletes pending, every row also carries its normalized file
    * path, row index, and data sequence number.
    */
  private def readData(
      spark: SparkSession,
      meta: IcebergMeta.TableMeta,
      files: Seq[IcebergMeta.ContentFile],
      withDeletes: Boolean
  ): DataFrame = {
    val schema = meta.schema
    val helperFields = Seq(
      StructField(PathCol, StringType), StructField(PosCol, LongType),
      StructField(SeqCol, LongType))
    requireReadable(files, "data")
    // field-id parquet resolution: footer-id-bearing files read
    // through a relation whose schema carries each column's Iceberg
    // field id as `parquet.field.id` (Spark matches by ID — renamed
    // columns and physical-name files read correctly); id-less files
    // keep the name-resolving relation ([[splitParquetByFooterIds]]).
    val (pqIdFiles, pqNoIdFiles) =
      splitParquetByFooterIds(spark, meta, schema, files, "data")
    val stamped = IcebergTable.stampParquetFieldIds(schema)
    if (pqIdFiles.nonEmpty) IcebergTable.enableFieldIdRead(spark)
    val outSchema =
      if (!withDeletes) schema else StructType(schema.fields ++ helperFields)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)

    // ONE relation PER CONTENT FORMAT (parquet / ORC / Avro — at
    // most three, flat in both partition and file count). Identity
    // partition values from the manifests back-fill columns the data
    // files don't store, riding the scan as per-file constants
    // ([[FileConstAttr]] keyed on _metadata.file_path); stored values
    // win via coalesce, and a file whose spec lacks the identity
    // field contributes null. Sequence numbers attach the same way
    // (no _metadata.row_index dependence, so the ORC/Avro legs carry
    // them too); the physical row POSITION is parquet-only — other
    // legs read PosCol as null, and [[applyPositionDeletes]] refuses
    // before that could lose a delete.
    val zone = PartitionAttach.sessionZone(spark)
    val specIdentity: Map[Int, Set[String]] = meta.specs.map { case (id, fs) =>
      id -> fs.filter(_.transform == "identity").map(_.name).toSet
    }
    val byFormat = files.groupBy(_.fileFormat)
    val parqFiles = byFormat.getOrElse("PARQUET", Seq.empty)

    val defaulted = IcebergTable.defaultedFields(schema)
    files.find(f => f.fileFormat != "PARQUET" && defaulted.nonEmpty).foreach(f =>
      throw new UnsupportedOperationException(
        s"$uri declares v3 initial-default columns AND stores " +
          s"${f.fileFormat} data files (e.g. ${f.path}); per-file default " +
          "fill reads parquet footers only"))

    // v3 initial-default support data: which surviving parquet files
    // LACK each defaulted field (by field id, falling back to the
    // dotted name whenever the id is absent — id-less or mixed
    // writers store columns by name). Probing is executor-side above
    // a handful of files and cached per (field set, file) —
    // see [[IcebergTable.probeFooterAbsence]].
    val defaultProbes = defaulted.map { case (fpath, sf) =>
      (fpath, sf, IcebergTable.FieldProbe(
        if (sf.metadata.contains(DeltaLog.FieldIdKey))
          Some(sf.metadata.getLong(DeltaLog.FieldIdKey).toInt) else None,
        IcebergTable.probeNameOf(fpath)))
    }
    val absentByFile: Map[String, Set[String]] =
      IcebergTable.probeFooterAbsence(
        spark, parqFiles.map(_.path), defaultProbes.map(_._3))

    def leg(group: Seq[IcebergMeta.ContentFile], fmt: String): DataFrame = {
      var df = fmt match {
        case "ORC"   => spark.read.schema(schema).orc(group.map(_.path): _*)
        case "AVRO"  => avroAligned(spark, group.map(_.path), schema, meta)
        case "PQ_ID" => spark.read.schema(stamped).parquet(group.map(_.path): _*)
        case _ => spark.read.schema(schema).parquet(group.map(_.path): _*)
      }
      val idCols = group.flatMap(f => specIdentity.getOrElse(f.specId, Set.empty))
        .distinct.filter(c => schema.fieldNames.contains(c))
      // ONE path→tuple map per leg carries every identity column plus
      // (under deletes) the manifest path spelling and sequence number
      // — k+2 struct extractions from one shared map object instead of
      // k+2 maps each keyed by the full path string
      val tupleFields = StructType(
        idCols.map(c => StructField(c, schema(c).dataType)) ++
          (if (withDeletes)
            Seq(StructField(PathCol, StringType), StructField(SeqCol, LongType))
          else Seq.empty))
      val tuple: Map[String, Any] =
        if (tupleFields.isEmpty) Map.empty
        else group.map { f =>
          val idVals = idCols.map { c =>
            if (specIdentity.getOrElse(f.specId, Set.empty).contains(c))
              PartitionAttach.fromAvro(
                f.partition.get(c).orNull, schema(c).dataType, zone)
            else null
          }
          val extra =
            if (!withDeletes) Seq.empty
            else Seq(
              org.apache.spark.unsafe.types.UTF8String.fromString(
                normalizePathStr(f.path)),
              f.sequenceNumber: Any)
          DvDeleted.normalizePath(f.path) ->
            PartitionAttach.tupleRow(idVals ++ extra)
        }.toMap
      idCols.zipWithIndex.foreach { case (c, i) =>
        df = df.withColumn(c,
          coalesce(col(c), PartitionAttach.tupleField(tuple, tupleFields, i)))
      }
      // v3 initial-default columns: a file that PREDATES the field
      // (footer lacks it) reads the declared default for every row;
      // files that carry the field keep their stored values, nulls
      // included — the per-file constant under coalesce, the identity
      // back-fill mechanism. Struct-nested defaults rebuild only the
      // affected subfield via withField (a row whose whole struct is
      // null stays null — the struct's absence, not the field's);
      // defaults under list/map hops — any depth — fill per ELEMENT
      // via nested transform/transform_values lambdas, null elements
      // and null containers preserved the same way (r15).
      defaultProbes.foreach { case (fpath, sf, probe) =>
        val dvVal = PartitionAttach.fromString(
          sf.metadata.getString(IcebergMeta.InitialDefaultKey), sf.dataType, zone)
        val attrs: Map[String, Any] = group.flatMap { f =>
          val key = DvDeleted.normalizePath(f.path)
          if (absentByFile.getOrElse(key, Set.empty).contains(probe.key))
            Some(key -> dvVal)
          else None
        }.toMap
        if (attrs.nonEmpty) {
          import IcebergTable.PathStep._
          val dv = PartitionAttach.constCol(attrs, sf.dataType)
          def build(cur: Column, rest: List[IcebergTable.PathStep]): Column =
            rest match {
              case F(leaf) :: Nil =>
                cur.withField(leaf, coalesce(cur.getField(leaf), dv))
              case F(n) :: more => cur.withField(n, build(cur.getField(n), more))
              case ListElem :: more => transform(cur, x => build(x, more))
              case MapVal :: more => transform_values(cur, (_, v) => build(v, more))
              case Nil => cur
            }
          df = fpath.toList match {
            case F(top) :: Nil  => df.withColumn(top, coalesce(col(top), dv))
            case F(top) :: more => df.withColumn(top, build(col(top), more))
            case other => throw new IllegalStateException(
              s"default path must start at a column, got $other")
          }
        }
      }
      if (withDeletes) {
        // PathCol carries the MANIFEST's (scheme-stripped) spelling of
        // each file, attached per-file — delete rows spell data-file
        // paths the way the writing engine's manifests do, so matching
        // against the manifest spelling is exact even where the
        // URI-encoded _metadata rendering would drift (escaped dirs)
        df = df
          .withColumn(PathCol,
            PartitionAttach.tupleField(tuple, tupleFields, idCols.size))
          .withColumn(PosCol,
            // both parquet legs (id-resolving and name-resolving)
            // surface the physical row position
            if (fmt == "PQ_ID" || fmt == "PARQUET") col("_metadata.row_index")
            else lit(null).cast(LongType))
          .withColumn(SeqCol,
            PartitionAttach.tupleField(tuple, tupleFields, idCols.size + 1))
      }
      df.select(outSchema.fieldNames.map(col).toSeq: _*)
    }

    (byFormat.view.filterKeys(_ != "PARQUET").toSeq ++
      Seq("PQ_ID" -> pqIdFiles, "PARQUET" -> pqNoIdFiles).filter(_._2.nonEmpty))
      .sortBy(_._1)
      .map { case (fmt, g) => leg(g, fmt) }
      .reduce(_.unionByName(_))
  }

  /** Position delete files are parquet (file_path, pos) at data
    * scale: applied as a distributed LEFT ANTI join on
    * (file_path, pos), delete rows pre-gated to `delete seq ≥ data
    * seq` against the broadcastable (path, seq) file list.
    */
  private def applyPositionDeletes(
      spark: SparkSession,
      meta: IcebergMeta.TableMeta,
      data: DataFrame,
      dataFiles: Seq[IcebergMeta.ContentFile],
      posDeletes: Seq[IcebergMeta.ContentFile]
  ): DataFrame = {
    if (posDeletes.isEmpty) return data
    requireReadable(posDeletes, "position-delete")
    // position deletes address rows by PHYSICAL POSITION, which the
    // scan surfaces via parquet's _metadata.row_index — an ORC data
    // file has no row_index, so applying a position delete to it
    // would silently keep deleted rows: refuse loudly instead
    dataFiles.find(_.fileFormat != "PARQUET").foreach(f =>
      throw new UnsupportedOperationException(
        s"$uri has position-delete files AND ${f.fileFormat} data files " +
          s"(e.g. ${f.path}); position deletes need parquet row indexes — " +
          "rewrite_data_files first"))
    import spark.implicits._
    val delSchema = StructType(Seq(
      StructField("file_path", StringType), StructField("pos", LongType)))
    // one scan PER FORMAT over the position-delete files; each delete
    // row's sequence number rides as a per-file constant instead of
    // one union branch per delete file
    val dels = contentScan(spark, meta, posDeletes, delSchema, withSeq = true)
      .withColumn("file_path", normalizePathCol(col("file_path")))
    val fileSeq = dataFiles
      .map(f => (normalizePathStr(f.path), f.sequenceNumber))
      .toDF("_t_path", "_t_seq")
    val applicable = dels
      .join(broadcast(fileSeq),
        dels("file_path") === col("_t_path") && col("_del_seq") >= col("_t_seq"))
      .select(col("file_path"), col("pos"))
    data.join(applicable,
      data(PathCol) === applicable("file_path") && data(PosCol) === applicable("pos"),
      "left_anti")
  }

  /** Equality delete files hold rows of their declared equality
    * columns: a data row is deleted when an equality row with a
    * STRICTLY larger sequence number matches null-safely on every
    * equality column. One anti-join per distinct equality-id set.
    */
  private def applyEqualityDeletes(
      spark: SparkSession,
      data: DataFrame,
      meta: IcebergMeta.TableMeta,
      eqDeletes: Seq[IcebergMeta.ContentFile]
  ): DataFrame = {
    if (eqDeletes.isEmpty) return data
    requireReadable(eqDeletes, "equality-delete")
    eqDeletes.groupBy(_.equalityIds).foldLeft(data) { case (df, (ids, files)) =>
      require(ids.nonEmpty, s"equality delete file ${files.head.path} has no equality ids")
      val cols = ids.map(id => meta.schemaFieldIds.getOrElse(id,
        throw new IllegalArgumentException(s"equality field id $id not in schema")))
      // delete-file columns carry the SAME field ids as the table
      // schema (spec): keep the id so the parquet/Avro legs resolve
      // renamed equality columns; other metadata (defaults) drops
      val delSchema = StructType(cols.map { c =>
        val f = meta.schema(c)
        val mb = new MetadataBuilder()
        if (f.metadata.contains(DeltaLog.FieldIdKey))
          mb.putLong(DeltaLog.FieldIdKey, f.metadata.getLong(DeltaLog.FieldIdKey))
        f.copy(metadata = mb.build())
      })
      // one scan per distinct (equality-id set, format) — both
      // schema-bounded, never per file: sequence numbers ride as
      // per-file constants
      val dels = contentScan(spark, meta, files, delSchema, withSeq = true)
      val cond = cols.map(c => df(c) <=> dels(c))
        .reduce(_ && _) && dels("_del_seq") > df(SeqCol)
      df.join(dels, cond, "left_anti")
    }
  }

  override def getSchema(spark: SparkSession): TableSchema = {
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = loadMeta(fs)
    val spec = meta.specs.getOrElse(meta.defaultSpecId, Seq.empty)
    val partitions = spec.flatMap(sf =>
      meta.schema.fields.find(_.name == sf.name).map(f =>
        TablePartition(sf.name, f.dataType.simpleString, "")))
    TableSchema(partitions, TableSchema.columnsOf(meta.schema, Set.empty))
  }

  private val PathCol = "_ice_path"
  private val PosCol = "_ice_pos"
  private val SeqCol = "_ice_seq"

  /** `file:///tmp/x` / `file:/tmp/x` → `/tmp/x`: one scheme-stripping
    * rule applied to EVERY path that participates in position-delete
    * matching (the scan's `_metadata.file_path`, delete-row
    * `file_path` values, and the driver-side manifest paths via
    * [[normalizePathStr]]) — a consistent comparison key regardless
    * of which spelling each writer used.
    */
  private def normalizePathCol(c: Column): Column = PathNorm.normalizeCol(c)

  private def normalizePathStr(p: String): String = PathNorm.normalize(p)

  private def longArg(key: String)(v: Any): Long = v match {
    case l: Long   => l
    case i: Int    => i.toLong
    case s: String => s.toLong
    case other     => throw new IllegalArgumentException(s"bad $key: $other")
  }
}

object IcebergTable {

  /** Changelog column names — `_change_type` shared with
    * [[DeltaChanges]] so a format-dispatching consumer
    * ([[graft.operators.IncrementalView]]) reads one contract;
    * ordinal/snapshot-id names follow the upstream changelog scan.
    */
  val ChangeTypeCol = DeltaChanges.ChangeTypeCol
  val CommitSnapshotCol = "_commit_snapshot_id"
  val ChangeOrdinalCol = "_change_ordinal"
  val CommitTimestampCol = DeltaChanges.CommitTimestampCol

  /** File-count estimate (manifest-list added+existing counts) above
    * which scan planning goes distributed automatically — same
    * default as the Delta side
    * ([[DeltaTable.AutoDistributedThresholdConf]]): below it the
    * driver loop is faster (no job overhead), above it the driver
    * must never materialize the content-file list.
    */
  val AutoDistributedThresholdConf = "spark.graft.iceberg.autoDistributedPlanningThreshold"
  val DefaultAutoDistributedThreshold = 100000L

  /** Content formats this reader scans natively (spec §Appendix:
    * PARQUET, ORC, AVRO are the three legal Iceberg content formats).
    */
  private[tables] val ReadableFormats = Set("PARQUET", "ORC", "AVRO")

  /** Spark's bundled Avro FileFormat, addressed by CLASS — the `avro`
    * short name only resolves when the separate spark-avro artifact
    * registers it (same addressing as the R19 generic source).
    */
  private[graft] val AvroProvider = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Default [[IcebergTable.changes]] page size (commits per analyzed
    * sub-plan) — shared by the Hudi leg. 16 keeps a page's
    * union+join tree comfortably inside Catalyst's comfort zone while
    * a typical CDC poll (a handful of commits) never pages at all.
    */
  val DefaultChangePageCommits = 16

  // ------------------------------------ v3 initial-default probing

  /** One hop of a defaulted field's path: a struct field by name, a
    * list-element descent, or a map-value descent — the fill builder
    * turns the collection hops into `transform` / `transform_values`
    * lambdas (per-ELEMENT fill), struct hops into `withField`.
    */
  private[tables] sealed trait PathStep
  private[tables] object PathStep {
    final case class F(name: String) extends PathStep
    case object ListElem extends PathStep
    case object MapVal extends PathStep
  }

  /** How one defaulted field is looked up in a parquet footer: by
    * field id when the footer carries ids, falling back to the dotted
    * name whenever the SPECIFIC id is absent (a file can store this
    * column by name next to id-bearing columns). The name spelling
    * for collection hops is parquet's STANDARD encoding
    * (`list.element` / `key_value.value`); legacy 2-level writers
    * don't match by name — their files carry ids in practice.
    */
  private[tables] final case class FieldProbe(fid: Option[Int], path: Seq[String]) {
    def key: String = fid.map(_.toString).getOrElse("-") + ":" + path.mkString(".")
  }

  private[tables] def probeNameOf(steps: Seq[PathStep]): Seq[String] =
    steps.flatMap {
      case PathStep.F(n)      => Seq(n)
      case PathStep.ListElem  => Seq("list", "element")
      case PathStep.MapVal    => Seq("key_value", "value")
    }

  /** Every schema field carrying a v3 `initial-default`, with its
    * path — struct chains under any depth of list/map nesting, the
    * shapes the parse admits ([[IcebergMeta.schemaFromJson]]; map
    * keys carry no defaults).
    */
  private[tables] def defaultedFields(
      schema: StructType): Seq[(Seq[PathStep], StructField)] = {
    import PathStep._
    def descend(dt: DataType, prefix: Seq[PathStep]): Seq[(Seq[PathStep], StructField)] =
      dt match {
        case s: StructType    => walk(s, prefix)
        case ArrayType(e, _)  => descend(e, prefix :+ ListElem)
        case MapType(_, v, _) => descend(v, prefix :+ MapVal)
        case _                => Seq.empty
      }
    def walk(st: StructType, prefix: Seq[PathStep]): Seq[(Seq[PathStep], StructField)] =
      st.fields.toSeq.flatMap { f =>
        val here = prefix :+ F(f.name)
        val self =
          if (f.metadata.contains(IcebergMeta.InitialDefaultKey))
            Seq((here, f)) else Seq.empty
        self ++ descend(f.dataType, here)
      }
    walk(schema, Seq.empty)
  }

  /** Driver-side footer opens (taken only when ≤
    * [[DriverFooterProbeMax]] uncached files need probing) — specs
    * assert this stays ZERO on many-file defaulted tables, the same
    * counter discipline as [[IcebergMeta.driverContentFilePlans]].
    */
  private[tables] val driverFooterProbes = new java.util.concurrent.atomic.AtomicLong
  private[tables] val DriverFooterProbeMax = 4

  private val FooterCacheMax = 200000

  /** Insertion-order-bounded concurrent cache: at the capacity
    * boundary the OLDEST entries evict one by one (never a wholesale
    * clear — a scan fleet hovering at the boundary keeps its working
    * set instead of re-probing everything). Entries are immutable
    * facts about immutable files, so there is no invalidation.
    */
  private[tables] final class BoundedCache[V](max: Int) {
    private val map = new java.util.concurrent.ConcurrentHashMap[String, V]()
    private val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def contains(k: String): Boolean = map.containsKey(k)
    def get(k: String): Option[V] = Option(map.get(k))
    def put(k: String, v: V): Unit =
      if (map.put(k, v) == null) {
        order.add(k)
        while (map.size() > max) {
          val old = order.poll()
          if (old == null) return else map.remove(old)
        }
      }
    def size: Int = map.size()
  }

  /** Probe-job width: the session's default parallelism, never a
    * literal — a small local session shouldn't fan 32 tasks over 5
    * files, a big cluster shouldn't cap at 32.
    */
  private def probeParallelism(spark: org.apache.spark.sql.SparkSession, n: Int): Int =
    math.max(1, math.min(n, spark.sparkContext.defaultParallelism))

  /** `(probe-set signature | normalized path)` → probe keys ABSENT
    * from that file's footer. Iceberg data files are immutable, so an
    * entry never invalidates — queries and snapshots share it.
    */
  private val footerAbsence = new BoundedCache[Set[String]](FooterCacheMax)

  /** Which defaulted fields are MISSING from which surviving parquet
    * files — the per-file gate for v3 initial-default fill, keyed by
    * normalized path, values = absent [[FieldProbe]] keys (files with
    * nothing absent are omitted). A handful of uncached files probe
    * on the driver (cheaper than a job); above that the file list
    * parallelizes across executors and ONLY absences return —
    * O(absent) driver transfer, so a defaulted 100k-file table costs
    * one executor job instead of 100k sequential driver footer reads.
    */
  private[tables] def probeFooterAbsence(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String],
      probes: Seq[FieldProbe]): Map[String, Set[String]] = {
    if (paths.isEmpty || probes.isEmpty) return Map.empty
    val sig = probes.map(_.key).sorted.mkString(";")
    def ck(np: String) = sig + "|" + np
    val norm = paths.map(p => p -> DvDeleted.normalizePath(p))
    val unknown = norm.collect {
      case (p, np) if !footerAbsence.contains(ck(np)) => (p, np)
    }
    if (unknown.nonEmpty) {
      val found: Map[String, Set[String]] =
        if (unknown.size <= DriverFooterProbeMax) {
          driverFooterProbes.addAndGet(unknown.size.toLong)
          val conf = spark.sparkContext.hadoopConfiguration
          unknown.map { case (p, np) => np -> footerAbsentIn(p, conf, probes) }
            .filter(_._2.nonEmpty).toMap
        } else {
          val conf = new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration)
          val probesB = probes
          spark.sparkContext
            .parallelize(unknown, probeParallelism(spark, unknown.size))
            .flatMap { case (p, np) =>
              val a = footerAbsentIn(p, conf.value, probesB)
              if (a.isEmpty) None else Some(np -> a)
            }.collect().toMap
        }
      unknown.foreach { case (_, np) =>
        footerAbsence.put(ck(np), found.getOrElse(np, Set.empty))
      }
    }
    norm.flatMap { case (_, np) =>
      footerAbsence.get(ck(np)).filter(_.nonEmpty).map(np -> _)
    }.toMap
  }

  /** Open ONE parquet footer and report which probes it lacks —
    * runs driver- or executor-side; ids and dotted names collected
    * over the FULL schema tree (struct-nested defaults probe by
    * their dotted path).
    */
  private def footerAbsentIn(
      pathStr: String,
      conf: org.apache.hadoop.conf.Configuration,
      probes: Seq[FieldProbe]): Set[String] = {
    import scala.jdk.CollectionConverters._
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(pathStr), conf))
    try {
      val ids = scala.collection.mutable.Set[Int]()
      val names = scala.collection.mutable.Set[String]()
      def walk(t: org.apache.parquet.schema.Type, prefix: String): Unit = {
        Option(t.getId).foreach(id => ids += id.intValue())
        val full = if (prefix.isEmpty) t.getName else prefix + "." + t.getName
        names += full
        t match {
          case g: org.apache.parquet.schema.GroupType =>
            g.getFields.asScala.foreach(walk(_, full))
          case _ => ()
        }
      }
      rd.getFileMetaData.getSchema.getFields.asScala.foreach(walk(_, ""))
      probes.filterNot(p =>
        p.fid.exists(ids.contains) || names.contains(p.path.mkString(".")))
        .map(_.key).toSet
    } finally rd.close()
  }

  // ------------------------------ field-id column resolution (r15)

  /** Copy each field's Iceberg id ([[DeltaLog.FieldIdKey]] metadata,
    * stashed by the schema parse) to Spark's `parquet.field.id` key,
    * recursively — with `spark.sql.parquet.fieldId.read.enabled` the
    * parquet reader then matches columns by ID wherever the footer
    * records ids, which is how renamed columns keep reading their
    * pre-rename data. Returns the SAME instance when no field carries
    * an id (nothing to resolve; callers skip the conf).
    */
  private[tables] def stampParquetFieldIds(schema: StructType): StructType = {
    var changed = false
    def walk(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val md =
          if (f.metadata.contains(DeltaLog.FieldIdKey)) {
            changed = true
            new MetadataBuilder().withMetadata(f.metadata)
              .putLong(DeltaLog.ParquetFieldIdKey,
                f.metadata.getLong(DeltaLog.FieldIdKey)).build()
          } else f.metadata
        f.copy(dataType = walk(f.dataType), metadata = md)
      })
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType =>
        m.copy(keyType = walk(m.keyType), valueType = walk(m.valueType))
      case other => other
    }
    val out = walk(schema).asInstanceOf[StructType]
    if (changed) out else schema
  }

  /** Enable Spark's parquet field-id matching for this session. The
    * conf only affects scans whose READ SCHEMA carries
    * `parquet.field.id` metadata — graft's Iceberg id-leg scans and
    * Delta id-mode scans (which set the same conf,
    * DeltaTable.readFiles) — so setting it session-wide is
    * side-effect-free for every other scan. `ignoreMissing` stays at
    * its FALSE default deliberately: the id leg only ever receives
    * footer-id-bearing files (probe-verified), and if that invariant
    * ever broke, Spark erroring loudly beats the conf's alternative
    * of silently nulling every column.
    */
  private[tables] def enableFieldIdRead(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Whether any (nested) field carries an Iceberg field id. */
  private[tables] def hasFieldIds(schema: StructType): Boolean = {
    def any(dt: DataType): Boolean = dt match {
      case st: StructType => st.fields.exists(f =>
        f.metadata.contains(DeltaLog.FieldIdKey) || any(f.dataType))
      case a: ArrayType => any(a.elementType)
      case m: MapType   => any(m.keyType) || any(m.valueType)
      case _            => false
    }
    any(schema)
  }

  /** Requested fields whose id carried a DIFFERENT leaf name anywhere
    * in the metadata's schema history: (field id, dotted path in the
    * current schema, the former names). Walks struct chains and the
    * structs under list/map (parquet resolves those by id too).
    */
  private[tables] def renamedFields(
      history: Map[Int, Set[String]],
      schema: StructType): Seq[(Int, String, Set[String])] = {
    if (history.isEmpty) return Seq.empty
    val out = Seq.newBuilder[(Int, String, Set[String])]
    def walk(st: StructType, prefix: String): Unit = st.fields.foreach { f =>
      val dotted = if (prefix.isEmpty) f.name else prefix + "." + f.name
      if (f.metadata.contains(DeltaLog.FieldIdKey)) {
        val id = f.metadata.getLong(DeltaLog.FieldIdKey).toInt
        val others = history.getOrElse(id, Set.empty) - f.name
        if (others.nonEmpty) out += ((id, dotted, others))
      }
      f.dataType match {
        case s: StructType                 => walk(s, dotted)
        case ArrayType(s: StructType, _)   => walk(s, dotted + ".element")
        case MapType(_, s: StructType, _)  => walk(s, dotted + ".value")
        case _                             => ()
      }
    }
    walk(schema, "")
    out.result()
  }

  /** Original paths of parquet files whose footers record NO field
    * ids at all — the population that must stay on the name-resolving
    * leg ([[splitParquetByFooterIds]]). Runs on every id-bearing scan,
    * so its cost discipline is tighter than the defaults probe's:
    * per-file cached forever (files are immutable), a BOUNDED
    * driver fast path (≤ [[DriverIdProbeMax]] uncached files open on
    * the driver through a small thread pool — no job for the
    * interactive/small-table case, still O(1) in table size), and ONE
    * executor job above that where only the (rare) id-less survivors
    * return — O(id-less) driver transfer. Its own counter
    * ([[driverIdProbes]]) keeps the defaults-probe discipline
    * independently assertable.
    */
  private val footerNoIds = new BoundedCache[Boolean](FooterCacheMax)
  private[tables] val driverIdProbes = new java.util.concurrent.atomic.AtomicLong
  private[tables] val DriverIdProbeMax = 32
  private[graft] def probeMissingFooterIds(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): Seq[String] = {
    if (paths.isEmpty) return Seq.empty
    val norm = paths.map(p => p -> DvDeleted.normalizePath(p))
    val unknown = norm.filterNot { case (_, np) => footerNoIds.contains(np) }
    if (unknown.nonEmpty) {
      val idless: Set[String] =
        if (unknown.size <= DriverIdProbeMax) {
          driverIdProbes.addAndGet(unknown.size.toLong)
          val conf = spark.sparkContext.hadoopConfiguration
          if (unknown.size == 1) {
            val (p, np) = unknown.head
            if (footerHasAnyIds(p, conf)) Set.empty else Set(np)
          } else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(8, unknown.size))
            try {
              implicit val ec: scala.concurrent.ExecutionContext =
                scala.concurrent.ExecutionContext.fromExecutor(pool)
              val fut = scala.concurrent.Future.traverse(unknown) { case (p, np) =>
                scala.concurrent.Future(
                  if (footerHasAnyIds(p, conf)) None else Some(np))
              }
              scala.concurrent.Await
                .result(fut, scala.concurrent.duration.Duration.Inf)
                .flatten.toSet
            } finally pool.shutdown()
          }
        } else {
          val conf = new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration)
          spark.sparkContext
            .parallelize(unknown, probeParallelism(spark, unknown.size))
            .flatMap { case (p, np) =>
              if (footerHasAnyIds(p, conf.value)) None else Some(np)
            }.collect().toSet
        }
      unknown.foreach { case (_, np) => footerNoIds.put(np, !idless(np)) }
    }
    norm.collect { case (p, np) if !footerNoIds.get(np).getOrElse(true) => p }
  }

  private def footerHasAnyIds(
      pathStr: String,
      conf: org.apache.hadoop.conf.Configuration): Boolean = {
    import scala.jdk.CollectionConverters._
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(pathStr), conf))
    try {
      def walk(t: org.apache.parquet.schema.Type): Boolean =
        t.getId != null || (t match {
          case g: org.apache.parquet.schema.GroupType =>
            g.getFields.asScala.exists(walk)
          case _ => false
        })
      rd.getFileMetaData.getSchema.getFields.asScala.exists(walk)
    } finally rd.close()
  }

  /** WRITER-side candidate scan with the SAME field-id discipline as
    * the read path: id-bearing parquet files read through the stamped
    * schema (renamed columns and physical-name files bind their
    * predicates correctly), id-less files by name, id-less files on
    * RENAMED tables refuse loudly — a deleteWhere predicate that
    * silently misses pre-rename rows would be wrong data by omission.
    * `decorate` attaches `_metadata`-derived columns per leg BEFORE
    * the union (metadata columns only exist on the scan relation).
    * Parquet only: the writer-side scans (deleteWhere, deleteWhereDv,
    * scoped rewrite) already refuse non-parquet candidates upstream.
    */
  private[graft] def writerSplitScan(
      spark: org.apache.spark.sql.SparkSession,
      meta: IcebergMeta.TableMeta,
      files: Seq[IcebergMeta.ContentFile],
      uri: String)(
      decorate: DataFrame => DataFrame): DataFrame = {
    val renamed = renamedFields(meta.fieldNameHistory, meta.schema)
    val idless = probeMissingFooterIds(spark, files.map(_.path)).toSet
    if (renamed.nonEmpty && idless.nonEmpty)
      throw new UnsupportedOperationException(
        s"$uri renamed column(s) ${renamed.map(_._2).mkString(", ")}, but " +
          s"${idless.size} candidate parquet file(s) carry no footer field " +
          s"ids (e.g. ${idless.head}) — a pre-rename file holds the OLD " +
          "column name, so this operation could silently miss its rows; " +
          "rewrite_data_files first")
    // v3 initial-defaults: the writer-side scan does NOT apply the
    // per-file default fill, so a candidate file predating a
    // defaulted column would evaluate predicates against null — and a
    // compaction would MATERIALIZE nulls over the default into the
    // rewritten files. Refuse loudly with the exit named: the
    // unscoped rewriteDataFiles reads through the full (filling) read
    // path and materializes the defaults.
    val defaulted = defaultedFields(meta.schema)
    if (defaulted.nonEmpty) {
      val probes = defaulted.map { case (steps, sf) =>
        FieldProbe(
          if (sf.metadata.contains(DeltaLog.FieldIdKey))
            Some(sf.metadata.getLong(DeltaLog.FieldIdKey).toInt) else None,
          probeNameOf(steps))
      }
      val absent = probeFooterAbsence(spark, files.map(_.path), probes)
      if (absent.nonEmpty)
        throw new UnsupportedOperationException(
          s"$uri declares initial-default column(s) " +
            s"${defaulted.map(d => probeNameOf(d._1).mkString(".")).mkString(", ")} " +
            s"and ${absent.size} candidate file(s) predate them — this " +
            "operation would read the default as NULL (and a rewrite would " +
            "materialize that null); run rewriteDataFiles without a filter " +
            "first (the full read path fills defaults)")
    }
    val stamped = stampParquetFieldIds(meta.schema)
    val (noid, withId) = files.partition(f => idless(f.path))
    if (withId.nonEmpty && (stamped ne meta.schema)) enableFieldIdRead(spark)
    Seq(withId -> stamped, noid -> meta.schema)
      .filter(_._1.nonEmpty)
      .map { case (g, sch) =>
        decorate(spark.read.schema(sch).parquet(g.map(_.path): _*))
      }
      .reduce(_.unionByName(_))
  }

  // ---------------------------------- Avro writer-schema resolution

  /** normalized path → embedded writer-schema JSON for a set of Avro
    * content files (the container header's `avro.schema` entry) —
    * cached per immutable file; driver-side for a handful, one
    * executor job above that. Unlike the parquet absence probes the
    * transfer is O(files) by necessity (each file's group assignment
    * must come back), so schema TEXT is deduplicated per task
    * partition: files ship a digest, each distinct schema ships once
    * per partition.
    */
  private val avroWriterSchemaCache = new BoundedCache[String](20000)
  private[tables] def probeAvroWriterSchemas(
      spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): Map[String, String] = {
    if (paths.isEmpty) return Map.empty
    val norm = paths.map(p => p -> DvDeleted.normalizePath(p))
    val unknown = norm.filterNot { case (_, np) => avroWriterSchemaCache.contains(np) }
    if (unknown.nonEmpty) {
      if (unknown.size <= DriverFooterProbeMax) {
        driverFooterProbes.addAndGet(unknown.size.toLong)
        val conf = spark.sparkContext.hadoopConfiguration
        unknown.foreach { case (p, np) =>
          avroWriterSchemaCache.put(np, avroSchemaOf(p, conf))
        }
      } else {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        val rows: Array[(String, String, Option[String])] = spark.sparkContext
          .parallelize(unknown, probeParallelism(spark, unknown.size))
          .mapPartitions { it =>
            val seen = scala.collection.mutable.Map.empty[String, String]
            val assigned = it.map { case (p, np) =>
              val json = avroSchemaOf(p, conf.value)
              val digest = java.util.UUID.nameUUIDFromBytes(
                json.getBytes("UTF-8")).toString
              val first = if (seen.contains(digest)) None else Some(json)
              seen(digest) = json
              (np, digest, first)
            }.toVector
            assigned.iterator
          }.collect()
        val byDigest: Map[String, String] =
          rows.flatMap { case (_, d, j) => j.map(d -> _) }.toMap
        rows.foreach { case (np, d, _) =>
          avroWriterSchemaCache.put(np, byDigest(d))
        }
      }
    }
    norm.map { case (p, np) =>
      np -> avroWriterSchemaCache.get(np).getOrElse(
        avroSchemaOf(p, spark.sparkContext.hadoopConfiguration))
    }.toMap
  }

  private def avroSchemaOf(
      pathStr: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val path = new org.apache.hadoop.fs.Path(pathStr)
    val in = path.getFileSystem(conf).open(path)
    val stream = new org.apache.avro.file.DataFileStream(
      in, new org.apache.avro.generic.GenericDatumReader[AnyRef]())
    try stream.getSchema.toString
    finally stream.close() // closes `in`
  }

  /** The projection aligning ONE writer-schema group to the requested
    * schema. Writer schemas WITH `field-id` props (required of
    * Iceberg Avro writers) resolve per Spark's parquet semantics —
    * by id for every field, a missing id null-fills (the field
    * postdates the file), nested trees must align by id (else refuse:
    * the struct cast is positional). Writer schemas with NO props
    * fall back by name — refused when the table's history shows
    * renames (a pre-rename file would silently null-fill).
    */
  private[tables] def avroProjection(
      writer: org.apache.avro.Schema,
      schema: StructType,
      renamed: Seq[(Int, String, Set[String])],
      uri: String,
      samplePath: String): Seq[org.apache.spark.sql.Column] = {
    import scala.jdk.CollectionConverters._
    require(writer.getType == org.apache.avro.Schema.Type.RECORD,
      s"Avro content file $samplePath is not a record: ${writer.getType}")
    val wFields = writer.getFields.asScala.toSeq
    val hasIds = wFields.exists(f => avroFieldId(f).isDefined)
    if (!hasIds && renamed.nonEmpty)
      throw new UnsupportedOperationException(
        s"$uri renamed column(s) ${renamed.map(_._2).mkString(", ")}, but " +
          s"Avro file $samplePath embeds a writer schema with no field-id " +
          "props — written before the rename it holds the OLD name (silent " +
          "null-fill under the new one); rewrite_data_files first")
    schema.fields.toSeq.map { rf =>
      val rid =
        if (rf.metadata.contains(DeltaLog.FieldIdKey))
          Some(rf.metadata.getLong(DeltaLog.FieldIdKey).toInt)
        else None
      // a requested field WITHOUT an id resolves by name even in an
      // id-bearing file: position-delete schemas (file_path/pos —
      // spec-fixed names, no ids in the requested projection) must
      // keep matching Avro delete files that stamp the reserved ids
      val src =
        if (hasIds && rid.isDefined)
          wFields.find(f => avroFieldId(f).contains(rid.get))
        else wFields.find(_.name == rf.name)
      src match {
        case None => lit(null).cast(rf.dataType).as(rf.name)
        case Some(wf) =>
          requireAvroNestedAligned(wf.schema(), rf.dataType, rf.name, uri, samplePath)
          col(wf.name).cast(rf.dataType).as(rf.name)
      }
    }
  }

  private def avroFieldId(f: org.apache.avro.Schema.Field): Option[Int] =
    Option(f.getObjectProp("field-id")).collect { case n: Number => n.intValue }

  /** The nested guard behind [[avroProjection]]'s positional struct
    * cast: writer and requested struct trees must pair up field by
    * field — equal ids when both sides record them, equal names
    * otherwise (a POSITION-aligned id match is a nested rename and
    * reads correctly through the cast). Any reorder, drop, add or
    * un-inferable pairing refuses loudly.
    */
  private def requireAvroNestedAligned(
      w: org.apache.avro.Schema,
      r: DataType,
      path: String,
      uri: String,
      samplePath: String): Unit = {
    import scala.jdk.CollectionConverters._
    def unwrap(s: org.apache.avro.Schema): org.apache.avro.Schema =
      if (s.getType == org.apache.avro.Schema.Type.UNION)
        s.getTypes.asScala.find(_.getType != org.apache.avro.Schema.Type.NULL)
          .getOrElse(s)
      else s
    def refuse(why: String): Nothing =
      throw new UnsupportedOperationException(
        s"$uri: Avro content file $samplePath cannot align nested field " +
          s"'$path' with the table schema ($why) — rewrite_data_files first")
    (unwrap(w).getType, r) match {
      case (org.apache.avro.Schema.Type.RECORD, st: StructType) =>
        val wf = unwrap(w).getFields.asScala.toSeq
        if (wf.size != st.fields.length)
          refuse(s"writer has ${wf.size} subfields, schema has ${st.fields.length}")
        wf.zip(st.fields.toSeq).foreach { case (a, b) =>
          val aid = avroFieldId(a)
          val bid =
            if (b.metadata.contains(DeltaLog.FieldIdKey))
              Some(b.metadata.getLong(DeltaLog.FieldIdKey).toInt)
            else None
          (aid, bid) match {
            case (Some(x), Some(y)) if x != y =>
              refuse(s"subfield '${a.name}' has field id $x, schema expects $y")
            case (Some(_), Some(_)) => () // id-aligned (rename-safe)
            case _ if a.name == b.name => ()
            case _ => refuse(s"subfield '${a.name}' vs '${b.name}' with no ids")
          }
          requireAvroNestedAligned(a.schema(), b.dataType, path + "." + b.name,
            uri, samplePath)
        }
      case (org.apache.avro.Schema.Type.ARRAY, at: ArrayType) =>
        requireAvroNestedAligned(
          unwrap(w).getElementType, at.elementType, path + ".element", uri, samplePath)
      case (org.apache.avro.Schema.Type.MAP, mt: MapType) =>
        requireAvroNestedAligned(
          unwrap(w).getValueType, mt.valueType, path + ".value", uri, samplePath)
      case _ => () // primitives: the cast handles type promotion
    }
  }
}

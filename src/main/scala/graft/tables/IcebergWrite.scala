package graft.tables

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.export.IcebergUniform
import org.apache.avro.generic.GenericRecord
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, element_at, lit, regexp_replace, typedLit}
import org.apache.spark.sql.types.StructType

/** Native Iceberg APPEND with the Hadoop-catalog commit protocol —
  * the write half of the interop loop ([[IcebergTable]] reads,
  * [[graft.export.IcebergUniform]] exports Delta): create or extend
  * an Iceberg v2 table that any Iceberg reader can plan.
  *
  * Commit protocol (the public HadoopTableOperations shape): stage
  * data + uuid-named Avro manifests, then publish
  * `v<N+1>.metadata.json` PUT-IF-ABSENT (local FS: link(2), which
  * fails loudly if a racing writer won) and retry the whole metadata
  * build on a lost race — the manifest list carries the winner's
  * snapshot forward, so no commit is ever dropped. `version-hint.text`
  * is advisory (last-wins, as in Iceberg); the commit loop trusts
  * only the v*.metadata.json scan.
  *
  * Scale shape: one distributed write + ONE job for per-file record
  * counts (grouped on `_metadata.file_path`); everything else is
  * O(manifests) driver metadata. Appended files get a fresh sequence
  * number, so carried-forward position/equality delete manifests
  * (seq-gated) can never touch the new rows.
  *
  * Hive-style layout: partition columns live in directory names, not
  * the data files (Spark's partitionBy). [[IcebergTable]] re-attaches
  * them from manifest partition tuples; id-binding readers see them
  * as identity-transform constants per Iceberg's metadata-column
  * rules.
  *
  * Schema evolution is ADDITIVE per the Iceberg spec: appending a
  * frame with new columns commits a new schema id (old files read
  * back with typed nulls), int→long / float→double widen, a narrower
  * frame casts up. Refusals: a `_delta_log` table is Delta-owned
  * (append with [[DeltaWrite]] and re-export); incompatible column
  * types, dropped columns, and partition-column widening refuse.
  */
object IcebergWrite {

  private val mapper = new ObjectMapper()
  private val MaxAttempts = 10

  /** Append `df`, creating the table if absent. Returns the committed
    * snapshot id.
    */
  def append(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None,
      sortBy: Seq[String] = Seq.empty
  ): Long = commit(spark, df, tablePath, partitionBy, carryBase = true, txn = txn,
    sortBy = sortBy)

  /** Import an existing (optionally hive-partitioned) parquet, ORC
    * or Avro directory into an Iceberg table IN PLACE — the public
    * `add_files` migration action: the data files are NOT copied or
    * rewritten, a new snapshot's manifest simply references them at
    * their original absolute paths (with their original encoding as
    * the manifest's file_format — all three legal Iceberg content
    * formats). At lake scale this is the difference between a
    * metadata-only migration and rewriting 100 TB. Identity
    * partitioning only (transform layouts need a rewrite by
    * definition); partition values parse from the hive path segments;
    * per-file record counts come from ONE grouped metadata job.
    * Create-or-extend with the same schema rules as [[append]].
    * NOTE (as upstream): the files become table-managed — snapshot
    * expiration may delete them once unreferenced.
    */
  def addFiles(
      spark: SparkSession,
      srcDir: String,
      tablePath: String,
      partitionBy: Seq[String] = Seq.empty,
      format: String = "PARQUET"
  ): Long = {
    partitionBy.foreach(p => require(!p.contains("("),
      s"addFiles imports the existing layout — identity partitioning only, got $p"))
    val fmt = format.toUpperCase
    require(Set("PARQUET", "ORC", "AVRO").contains(fmt),
      s"addFiles imports PARQUET, ORC or AVRO layouts, got $format")
    val src = new Path(srcDir)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(src), s"source directory $srcDir not found")
    require(!fs.exists(new Path(src, "_delta_log")),
      s"$srcDir is a Delta table; use CONVERT or export, not addFiles")
    val df = fmt match {
      case "ORC"  => spark.read.orc(srcDir)
      case "AVRO" => spark.read.format(IcebergTable.AvroProvider).load(srcDir)
      case _      => spark.read.parquet(srcDir)
    }
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"partition column $c not found in $srcDir (have ${df.columns.mkString(", ")})"))
    // skip hidden/_-prefixed segments (_temporary leftovers, _SUCCESS
    // dirs): the format reader excludes them from the counts job, so
    // importing them would stage phantom files with record_count 0
    val files = LakeFiles.listByExt(fs, src, "." + fmt.toLowerCase).filter { f =>
      val rel = LakeFiles.relativize(src, f)
      rel.split('/').forall(seg => !seg.startsWith("_") && !seg.startsWith("."))
    }
    require(files.nonEmpty, s"no ${fmt.toLowerCase} files under $srcDir")
    // counts AND column bounds in the same grouped metadata job, so
    // in-place imports get file skipping like native appends
    val dataFields = df.schema.fields.filterNot(f => partitionBy.contains(f.name)).toSeq
    val aggs = count(lit(1)).as("_n") +: IcebergStats.aggColumns(dataFields)
    val stats: Map[String, (Long, Map[String, LakeFiles.ColumnStats])] = df
      .groupBy(col("_metadata.file_path").as("_p")).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val total = r.getLong(r.fieldIndex("_n"))
        DvDeleted.decodeMetadataPath(r.getString(r.fieldIndex("_p"))) ->
          (total, IcebergStats.statsOfRow(r, dataFields, total))
      }.toMap
    val staged = files.map { f =>
      val rel = LakeFiles.relativize(src, f)
      val (n, cs) = stats.getOrElse(
        DvDeleted.normalizePath(f.toString), (0L, Map.empty[String, LakeFiles.ColumnStats]))
      StagedFile(
        f.toUri.getPath,
        fs.getFileStatus(f).getLen,
        n,
        LakeFiles.partitionValuesOf(rel, partitionBy),
        colStats = cs,
        fileFormat = fmt)
    }
    commit(spark, df, tablePath, partitionBy, carryBase = true,
      preStaged = Some(staged))
  }

  /** REPLACE the table contents with `df` (Iceberg overwrite
    * semantics): the new snapshot's manifest list carries ONLY the
    * new manifest, so a read of it sees just the new rows — previous
    * files stay referenced by (and readable through) earlier
    * snapshots until [[IcebergMaintenance.expireSnapshots]] retires
    * them. Same commit protocol and refusals as [[append]].
    */
  def overwrite(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String] = Seq.empty,
      /** Snapshot summary operation: `rewriteDataFiles` stamps
        * "replace" (rows preserved — a changelog read skips the
        * commit); a semantic overwrite keeps the default.
        */
      operation: Option[String] = None
  ): Long = commit(spark, df, tablePath, partitionBy, carryBase = false,
    operationOverride = operation)

  /** Row-level UPDATE as a COPY-ON-WRITE rewrite of the matched data
    * files, committed as ONE snapshot: the candidate files (exact
    * manifest pruning on the predicate, partition tuples + column
    * bounds) are read through the full delete-applying read path —
    * Puffin DVs, position deletes and equality deletes materialize
    * into the rewrite, so an already-deleted row can never resurrect
    * — their LIVE rows re-written with the SET expressions applied
    * where the predicate holds, and the snapshot drops the old files
    * and adds the new ones at one fresh sequence number
    * ([[IcebergMaintenance.replaceFilesCommit]], the scoped-rewrite
    * commit shape). Files the predicate cannot touch are never read
    * or rewritten. Every assignment sees the PRE-update row (SQL
    * UPDATE semantics); expressions are Spark SQL over the table's
    * columns, cast to the column type. The commit re-validates per
    * attempt that the candidates are still live AND the delete-file
    * set is unchanged (both were materialized into the staged rows) —
    * a race aborts loudly, never silently drops a concurrent delete.
    * Returns the committed snapshot id, or the current one when no
    * file can match.
    */
  def updateWhere(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      set: Seq[(String, String)],
      predicateSql: Option[String] = None): Long = {
    require(set.nonEmpty, "updateWhere needs at least one SET assignment")
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(table, "_delta_log")),
      s"$tablePath is a Delta table; update via DeltaWrite")
    val metaDir = new Path(table, "metadata")
    val meta0 = IcebergMeta.load(fs, tablePath)
    val snap0 = meta0.currentSnapshotId
      .flatMap(id => meta0.snapshots.find(_.id == id))
      .getOrElse(throw new IllegalArgumentException(s"$tablePath has no current snapshot"))
    val spec = meta0.specs.getOrElse(meta0.defaultSpecId, Seq.empty)
    require(spec.forall(_.transform == "identity"),
      "updateWhere supports identity partition specs only")
    val partCols = spec.map(_.name)
    val schema = meta0.schema
    set.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"SET column $c is not a column of $tablePath")
    }

    val all0 = IcebergMeta.planFiles(fs, snap0)
    require(all0.forall(_.specId == meta0.defaultSpecId),
      "updateWhere requires every file under the current partition spec; " +
        "run rewriteDataFiles to unify spec generations first")
    val deleteFiles0 = all0.filter(_.content != 0)
    val candidates = all0.filter(f =>
      f.content == 0 && IcebergMeta.mayMatch(f, spec, meta0, filters))
    if (candidates.isEmpty) return snap0.id
    val scopePaths = candidates.map(_.path).toSet

    val live = new IcebergTable("update", tablePath)
      .readLive(spark, fs, meta0, candidates, deleteFiles0)
    val pred = graft.core.Filters.rowPredicate(filters, predicateSql)
    val setMap = set.toMap
    val stamped = IcebergTable.stampParquetFieldIds(schema)
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val updated = live.select(stamped.fields.toSeq.map { f =>
      setMap.get(f.name)
        .map(e => org.apache.spark.sql.functions
          .when(pred, org.apache.spark.sql.functions.expr(e).cast(f.dataType))
          .otherwise(col(f.name)).as(f.name, f.metadata))
        .getOrElse(col(f.name).as(f.name, f.metadata))
    }: _*)
    val stagingDf =
      if (partCols.isEmpty) updated
      else updated.sortWithinPartitions(partCols.map(col): _*)
    val staged = stage(spark, stagingDf, fs, table, partCols)

    val partFields = partCols.map(c => schema.fields.find(_.name == c).get)
    val entryPartFields = spec.map { sf =>
      val srcName = meta0.schemaFieldIds.getOrElse(sf.sourceId, sf.name)
      val srcType = schema.fields.find(_.name == srcName).get.dataType
      org.apache.spark.sql.types.StructField(sf.name,
        transformResultType(sf.transform, srcType))
    }
    val deletePaths0 = deleteFiles0.map(_.path).toSet
    IcebergMaintenance.replaceFilesCommit(fs, tablePath, metaDir,
      scopePaths, staged,
      spec0 = spec, specId0 = meta0.defaultSpecId,
      partFields = partFields, entryPartFields = entryPartFields,
      // data CHANGES (unlike compaction's "replace"), so changelog and
      // incremental readers must treat this snapshot as an overwrite
      operation = "overwrite",
      summaryExtras = Seq(
        "updated-data-files" -> scopePaths.size.toString,
        "added-data-files" -> staged.size.toString),
      validateBase = (_, cur) =>
        if (!scopePaths.subsetOf(cur.filter(_.content == 0).map(_.path).toSet))
          Some("a matched file was rewritten")
        else if (cur.filter(_.content != 0).map(_.path).toSet != deletePaths0)
          Some("the delete-file set changed (its effect is already " +
            "materialized in the staged rows)")
        else None,
      what = "updateWhere")
  }

  /** Row-level DELETE as merge-on-read POSITION DELETE files (the
    * Iceberg v2 write path [[IcebergTable]] already reads): matching
    * rows' (file_path, pos) pairs are computed by ONE distributed
    * scan of the partition-pruned candidate files, staged as
    * spec-sorted position-delete parquet (one file per partition
    * tuple via the same staging the append uses), and committed as a
    * content=1 manifest at a fresh sequence number — data rewrites
    * cost nothing, readers apply the deletes where delete seq ≥ data
    * seq. Snapshot-isolation caveat (as in Iceberg itself without a
    * lock service): rows appended concurrently with the delete's scan
    * are not affected even if they match the predicate.
    *
    * Returns the committed snapshot id — or the CURRENT snapshot id
    * unchanged when nothing matches (no empty commits).
    */
  def deleteWhere(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      predicateSql: Option[String] = None
  ): Long = {
    val plan = planDelete(spark, tablePath, filters, predicateSql, "deleteWhere")
    // the v3 spec forbids ADDING position-delete files (deletion
    // vectors replace them); ROUTE v3 tables to the DV writer — the
    // same auto-dispatch shape as Delta's enableDeletionVectors, so
    // callers (incl. SQL DELETE) keep working after the first
    // deleteWhereDv stamps the table v3. Existing v2 deletes keep
    // applying independently per the upgrade contract.
    if (plan.meta0.formatVersion >= 3) return deleteByDv(spark, plan)
    import spark.implicits._
    import plan.{fs, metaDir, partCols, partFields, predicate, pruned, snap0, table}
    if (pruned.isEmpty) return snap0.id

    // delete rows must record the MANIFEST-spelled data-file path
    // byte-for-byte: external Iceberg readers compare file_path
    // exactly, so a scheme-stripped normalization (file:/ → /) would
    // make them silently skip the deletes on scheme-qualified tables.
    // The normalized _del_path maps back through a broadcast
    // (normalized → manifest path) frame — map-side, order-preserving
    val pathBack = pruned.map(f => (PathNorm.normalize(f.path), f.path))
      .toDF("_del_path", "_mani_path")
    // spec ordering: position delete rows sort by (file_path, pos);
    // partition columns lead so the staged write's dynamic-partition
    // ordering requirement is already satisfied
    val matches = candidateScan(spark, plan).where(predicate)
      .join(broadcast(pathBack), "_del_path")
      .select(
        Seq(col("_mani_path").as("file_path"), col("_del_pos").as("pos")) ++
          partFields.map(pf => col(pf.name)): _*)
      .sortWithinPartitions(
        partFields.map(pf => col(pf.name)) ++ Seq(col("file_path"), col("pos")): _*)

    // ONE distributed scan total: stage directly and decide the
    // no-op from the staged output (an isEmpty probe would re-run
    // the predicate scan just to check)
    val staged = stage(spark, matches, fs, table, partCols)
    if (staged.isEmpty || staged.forall(_.recordCount == 0L)) {
      staged.foreach(sf => fs.delete(new Path(sf.path), false))
      return snap0.id
    }

    // ---- optimistic commit (delete manifest + carried base) --------
    publishLoop(fs, metaDir, tablePath, "delete") { (baseVOpt, baseRootOpt) =>
      val baseRoot = baseRootOpt
        .getOrElse(throw new IllegalStateException(s"metadata vanished under $metaDir"))
      val uuid = java.util.UUID.randomUUID().toString
      val nowMs = System.currentTimeMillis()
      val prevSnapshots = IcebergMeta.elements(baseRoot.path("snapshots"))
      val snapshotId = prevSnapshots.map(_.path("snapshot-id").asLong()).maxOption.getOrElse(0L) + 1
      val seq = baseRoot.path("last-sequence-number").asLong(0L) + 1

      // rebase validation (the RowDelta rule): every data file the
      // delete rows TARGET must still be live in the base we commit
      // onto — a concurrent overwrite/compaction that rewrote them
      // would make this delete a silent no-op that reports success
      val baseMeta = IcebergMeta.parse(baseRoot, tablePath)
      val baseSnap = baseMeta.currentSnapshotId
        .flatMap(id => baseMeta.snapshots.find(_.id == id))
        .getOrElse(throw new java.util.ConcurrentModificationException(
          s"$tablePath lost its current snapshot while deleting"))
      val live = IcebergMeta.planFiles(fs, baseSnap)
        .filter(_.content == 0).map(f => PathNorm.normalize(f.path)).toSet
      val vanished = pruned.map(f => PathNorm.normalize(f.path)).filterNot(live)
      if (vanished.nonEmpty) {
        staged.foreach(sf => fs.delete(new Path(sf.path), false))
        throw new java.util.ConcurrentModificationException(
          s"deleteWhere on $tablePath raced a rewrite of ${vanished.size} " +
            "candidate file(s); replan against the new snapshot")
      }

      val format = IcebergManifests.formatOf(baseRoot)
      val manifest = IcebergManifests.write(fs,
        new Path(metaDir, s"delete-manifest-$snapshotId-$uuid.avro"),
        IcebergManifests.manifestEntrySchema(partFields, format.specFieldIds),
        format, deletes = true, snapshotId, seq) { w =>
        staged.foreach(w.addStaged(_, partFields, content = 1)) // position deletes
      }
      val listPath = new Path(metaDir, s"snap-$snapshotId-$uuid.avro")
      IcebergManifests.writeList(fs, listPath,
        currentManifestList(fs, baseRoot).map(IcebergManifests.copyListRecord) :+
          IcebergManifests.listRow(manifest))

      val root = baseRoot.deepCopy[ObjectNode]()
      appendSnapshotToRoot(root, snapshotId, seq, nowMs, listPath,
        operation = "delete",
        summaryExtras = Seq(
          "added-delete-files" -> staged.size.toString,
          "added-position-deletes" -> staged.map(_.recordCount).sum.toString),
        parentId = Option(baseRoot.path("current-snapshot-id").asLong(-1L)).filter(_ >= 0))
      Some((root, Seq(manifest.path, listPath), snapshotId))
    }.get
  }

  /** Row-level DELETE as Iceberg v3 PUFFIN DELETION VECTORS — the
    * format's headline O(deleted-rows) delete shape (public v3 spec:
    * data_file fields 143–145 + the Puffin `deletion-vector-v1` blob
    * type; the Delta analog is [[DeltaWrite.deleteWhereDv]]):
    *
    *  - ONE distributed scan of the partition-pruned candidates folds
    *    matching row positions into a compressed roaring bitmap PER
    *    file on the executors ([[DvBitmapAgg]]) — the driver collects
    *    O(affected files) serialized bitmaps, never raw positions;
    *  - all bitmaps write into ONE Puffin container
    *    ([[IcebergPuffin.writeDvPuffinMulti]]), each addressed by its
    *    manifest entry's content_offset/content_size_in_bytes;
    *  - REPLACEMENT semantics per the spec's at-most-one-DV-per-file
    *    rule: a file deleted from again gets a new DV carrying the
    *    UNION of old + new positions, and the superseded DV's
    *    manifest entry is dropped in the same commit (its manifest
    *    rewritten — kept entries carried as EXISTING with explicit
    *    sequence numbers, the superseded one recorded DELETED);
    *  - the commit stamps `format-version: 3` (DVs are v3-only) and
    *    rebase-validates both the target files' liveness AND that no
    *    racing writer replaced a DV this delete merged from.
    *
    * Pre-existing v2 position/equality delete files keep applying
    * independently (readers union all delete shapes), as the v3
    * upgrade path prescribes. Returns the committed snapshot id — or
    * the current one unchanged when nothing matches.
    */
  def deleteWhereDv(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      predicateSql: Option[String] = None
  ): Long =
    deleteByDv(spark, planDelete(spark, tablePath, filters, predicateSql, "deleteWhereDv"))

  /** What a row-level DELETE works on: the table's current snapshot,
    * its identity partition spec, every live content file, and the
    * data files the filters may match.
    */
  private final case class DeletePlan(
      tablePath: String,
      fs: FileSystem,
      table: Path,
      metaDir: Path,
      meta0: IcebergMeta.TableMeta,
      snap0: IcebergMeta.SnapshotInfo,
      partCols: Seq[String],
      partFields: Seq[org.apache.spark.sql.types.StructField],
      all0: Seq[IcebergMeta.ContentFile],
      pruned: Seq[IcebergMeta.ContentFile],
      predicate: org.apache.spark.sql.Column)

  private def planDelete(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      predicateSql: Option[String],
      what: String
  ): DeletePlan = {
    require(filters.nonEmpty || predicateSql.isDefined,
      s"$what requires a predicate; use overwrite to replace all rows")
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(table, "_delta_log")),
      s"$tablePath is a Delta table; delete via DeltaWrite")
    val meta0 = IcebergMeta.load(fs, tablePath)
    val snap0 = meta0.currentSnapshotId
      .flatMap(id => meta0.snapshots.find(_.id == id))
      .getOrElse(throw new IllegalArgumentException(s"$tablePath has no current snapshot"))
    val spec = meta0.specs.getOrElse(meta0.defaultSpecId, Seq.empty)
    require(spec.forall(_.transform == "identity"),
      s"$what supports identity partition specs only")
    val partCols = spec.map(_.name)
    val all0 = IcebergMeta.planFiles(fs, snap0)
    DeletePlan(tablePath, fs, table, new Path(table, "metadata"), meta0, snap0, partCols,
      partCols.map(c => meta0.schema.fields.find(_.name == c).get), all0,
      all0.filter(f => f.content == 0 && IcebergMeta.mayMatch(f, spec, meta0, filters)),
      graft.core.Filters.rowPredicate(filters, predicateSql))
  }

  /** ONE scan of a DELETE's candidate files, with each row's
    * normalized file path (`_del_path`) and position (`_del_pos`).
    * Partition columns are re-attached from the manifest tuples per
    * file (coalesce: files that STORE the column — foreign writers —
    * win; graft-staged hive files don't store it, so an
    * all-or-nothing schema check would null them out in mixed
    * tables). The scan follows the read path's field-id discipline
    * (id-bearing files via the stamped schema — renamed columns bind
    * the predicate correctly; id-less files by name, refused on
    * renamed tables): a name-only scan would silently MISS
    * pre-rename rows.
    */
  private def candidateScan(spark: SparkSession, plan: DeletePlan): DataFrame = {
    import plan._
    partFields.foldLeft(IcebergTable
      .writerSplitScan(spark, meta0, pruned, tablePath) { base =>
        base
          .withColumn("_del_path", PathNorm.normalizeCol(col("_metadata.file_path")))
          .withColumn("_del_pos", col("_metadata.row_index"))
      }) { (scan, pf) =>
      val m: Map[String, String] = pruned.map { f =>
        PathNorm.normalize(f.path) -> renderPartition(pf.dataType, f.partition.get(pf.name).orNull)
      }.toMap
      val attached = element_at(typedLit(m), col("_del_path")).cast(pf.dataType)
      scan.withColumn(pf.name, org.apache.spark.sql.functions.coalesce(col(pf.name), attached))
    }
  }

  private def deleteByDv(spark: SparkSession, plan: DeletePlan): Long = {
    import plan._
    if (pruned.isEmpty) return snap0.id
    require(pruned.forall(_.specId == meta0.defaultSpecId),
      s"deleteWhereDv targets files under evolved partition specs in $tablePath; " +
        "rewrite them to the current spec first")

    // replacement: the new DV of a file carries its CURRENT DV's
    // positions too (at most one DV per file after the commit)
    val dvByRef: Map[String, IcebergMeta.ContentFile] = all0
      .filter(_.isDeletionVector)
      .flatMap(d => d.referencedDataFile.map(r => PathNorm.normalize(r) -> d)).toMap
    def dvBytesOf(d: IcebergMeta.ContentFile): Array[Byte] = {
      require(d.contentOffset.isDefined && d.contentSizeInBytes.isDefined,
        s"unreadable deletion vector entry ${d.path} (missing offset/size)")
      IcebergPuffin.readDvBlob(fs, new Path(d.path),
        d.contentOffset.get, d.contentSizeInBytes.get)
    }
    // one job: matching (file, row_index) → per-file roaring bitmaps
    // on the executors, each unioned with the file's current DV
    val prunedByNorm = pruned.map(f => PathNorm.normalize(f.path) -> f).toMap
    val targets: Seq[(IcebergMeta.ContentFile, RoaringBitmapArray)] =
      DeletionVectors.foldPositions(
        candidateScan(spark, plan).where(predicate).select(col("_del_path"), col("_del_pos")),
        key => dvByRef.get(key).map(dvBytesOf))
        .map { case (key, bm) => prunedByNorm(key) -> bm }
    if (targets.isEmpty) return snap0.id
    val targetKeys = targets.map { case (f, _) => PathNorm.normalize(f.path) }.toSet

    // ---- optimistic commit --------------------------------------
    publishLoop(fs, metaDir, tablePath, "delete-dv") { (baseVOpt, baseRootOpt) =>
      val baseRoot = baseRootOpt
        .getOrElse(throw new IllegalStateException(s"metadata vanished under $metaDir"))
      val uuid = java.util.UUID.randomUUID().toString
      val nowMs = System.currentTimeMillis()
      val prevSnapshots = IcebergMeta.elements(baseRoot.path("snapshots"))
      val snapshotId = prevSnapshots.map(_.path("snapshot-id").asLong()).maxOption.getOrElse(0L) + 1
      val seq = baseRoot.path("last-sequence-number").asLong(0L) + 1

      // rebase validation: every targeted data file must still be
      // live, AND its current DV must still be the one this delete
      // merged from (a racing DV write would otherwise be lost)
      val baseMeta = IcebergMeta.parse(baseRoot, tablePath)
      val baseSnap = baseMeta.currentSnapshotId
        .flatMap(id => baseMeta.snapshots.find(_.id == id))
        .getOrElse(throw new java.util.ConcurrentModificationException(
          s"$tablePath lost its current snapshot while deleting"))
      val baseFiles = IcebergMeta.planFiles(fs, baseSnap)
      val live = baseFiles.filter(_.content == 0)
        .map(f => PathNorm.normalize(f.path)).toSet
      val vanished = targets.map { case (f, _) => PathNorm.normalize(f.path) }
        .filterNot(live)
      if (vanished.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"deleteWhereDv on $tablePath raced a rewrite of ${vanished.size} " +
            "candidate file(s); replan against the new snapshot")
      val baseDvByRef = baseFiles.filter(_.isDeletionVector)
        .flatMap(d => d.referencedDataFile.map(r => PathNorm.normalize(r) -> d)).toMap
      targets.foreach { case (f, _) =>
        val key = PathNorm.normalize(f.path)
        val sameDv = (dvByRef.get(key), baseDvByRef.get(key)) match {
          case (Some(a), Some(b)) =>
            a.path == b.path && a.contentOffset == b.contentOffset
          case (None, None) => true
          case _            => false
        }
        if (!sameDv)
          throw new java.util.ConcurrentModificationException(
            s"deleteWhereDv on $tablePath raced another deletion-vector " +
              s"write for ${f.path}; replan against the new snapshot")
      }

      // one Puffin container for the whole commit
      val puffinPath = new Path(table, s"data/dv-$snapshotId-$uuid.puffin")
      val offs = IcebergPuffin.writeDvPuffinMulti(fs, puffinPath,
        targets.map { case (f, bm) => f.path -> bm }, snapshotId, seq)
      val puffinLen = fs.getFileStatus(puffinPath).getLen

      val format = IcebergManifests.formatOf(baseRoot)
      val manifest = IcebergManifests.write(fs,
        new Path(metaDir, s"dv-manifest-$snapshotId-$uuid.avro"),
        IcebergManifests.manifestEntrySchema(partFields, format.specFieldIds,
          withDvFields = true),
        format, deletes = true, snapshotId, seq) { w =>
        targets.foreach { case (f, bm) =>
          val (off, size) = offs(f.path)
          // DVs are position deletes by reference
          w.add(1, puffinPath.toString, "PUFFIN",
            partFields.map(pf => IcebergManifests.partitionValue(pf.dataType,
              Option(renderPartition(pf.dataType, f.partition.get(pf.name).orNull)))),
            bm.cardinality, puffinLen) { df =>
            df.put("referenced_data_file", f.path)
            df.put("content_offset", off)
            df.put("content_size_in_bytes", size)
          }
        }
      }

      // superseded DVs drop in the same commit: rewrite every delete
      // manifest carrying a DV for a targeted file (kept entries ride
      // as EXISTING with explicit sequence numbers, superseded ones
      // recorded DELETED)
      def refOf(e: GenericRecord): Option[String] = {
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        if (df.getSchema.getField("referenced_data_file") == null) None
        else Option(df.get("referenced_data_file")).map(_.toString)
      }
      def statusOf(e: GenericRecord): Int =
        Option(e.get("status")).map(_.asInstanceOf[Number].intValue).getOrElse(0)
      val carried: Seq[(GenericRecord, Option[Path])] =
        currentManifestList(fs, baseRoot).map { prev =>
          val row = IcebergManifests.copyListRecord(prev)
          val mPath = row.get("manifest_path").toString
          val raws =
            if (row.get("content") == 1) IcebergMeta.readAvro(fs, new Path(mPath))
            else Seq.empty
          val (drop, keep) = raws.partition(e => statusOf(e) != 2 &&
            refOf(e).exists(r => targetKeys(PathNorm.normalize(r))))
          if (drop.isEmpty) (row, None)
          else {
            val mSeq = row.get("sequence_number").asInstanceOf[Long]
            // explicit sequence numbers first: EXISTING/DELETED
            // entries don't inherit the rewritten manifest's — and
            // the spec permits a null file_sequence_number only on
            // ADDED entries, so the inherited value (the sequence
            // number of the manifest that added the file) must be
            // materialized here too or a conforming foreign reader
            // would re-inherit the NEW snapshot's
            def fixSeq(e: GenericRecord): Unit = {
              if (e.get("sequence_number") == null) e.put("sequence_number", mSeq)
              if (e.get("file_sequence_number") == null) e.put("file_sequence_number", mSeq)
            }
            // the rewritten manifest keeps the list row's spec, added
            // snapshot and sequence number
            val m = IcebergManifests.write(fs,
              new Path(metaDir, s"rw-manifest-$snapshotId-$uuid-${mPath.hashCode.toHexString}.avro"),
              raws.head.getSchema,
              format.copy(specId = row.get("partition_spec_id").asInstanceOf[Int]),
              deletes = true, row.get("added_snapshot_id").asInstanceOf[Long], mSeq) { w =>
              keep.filter(statusOf(_) != 2).foreach { e =>
                fixSeq(e); e.put("status", 0); w.append(e)
              }
              drop.foreach { e =>
                fixSeq(e); e.put("status", 2)
                e.put("snapshot_id", snapshotId) // the deleting snapshot
                w.append(e)
              }
            }
            (IcebergManifests.listRow(m), Some(m.path))
          }
        }
      val listPath = new Path(metaDir, s"snap-$snapshotId-$uuid.avro")
      IcebergManifests.writeList(fs, listPath,
        carried.map(_._1) :+ IcebergManifests.listRow(manifest))

      val root = baseRoot.deepCopy[ObjectNode]()
      root.put("format-version", 3) // DVs are an Iceberg v3 feature
      appendSnapshotToRoot(root, snapshotId, seq, nowMs, listPath,
        operation = "delete",
        summaryExtras = Seq(
          "added-dvs" -> targets.size.toString,
          "added-position-deletes" -> targets.map(_._2.cardinality).sum.toString),
        parentId = Option(baseRoot.path("current-snapshot-id").asLong(-1L)).filter(_ >= 0))
      Some((root, Seq(puffinPath, manifest.path, listPath) ++
        carried.flatMap(_._2), snapshotId))
    }.get
  }

  /** Row-level DELETE as EQUALITY DELETE files (Iceberg v2
    * content=2) — the cheap-delete shape streaming upserts use: no
    * scan of the existing data at all. `keys` holds the equality
    * columns (any subset of the table schema); every table row whose
    * values match ANY key tuple is deleted. Readers apply the delete
    * to data files with `data seq < delete seq` — exactly the
    * sequence gating [[IcebergTable.applyEqualityDeletes]] already
    * implements, so graft round-trips its own deletes and foreign
    * v2 readers apply them too.
    *
    * These are GLOBAL deletes, committed under an UNPARTITIONED spec
    * (reused if the table has one, otherwise appended to
    * partition-specs WITHOUT changing the default) per the public
    * spec's rule that partition-scoped deletes must carry their
    * spec's partition tuple.
    *
    * Scale shape: one distributed write of the key tuples; no data
    * scan; O(manifests) driver metadata.
    */
  def deleteEquality(
      spark: SparkSession,
      tablePath: String,
      keys: DataFrame,
      txn: Option[(String, Long)] = None): Long = {
    require(keys.columns.nonEmpty, "deleteEquality requires at least one key column")
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(table, "_delta_log")),
      s"$tablePath is a Delta table; delete via DeltaWrite")
    val metaDir = new Path(table, "metadata")
    val meta0 = IcebergMeta.load(fs, tablePath)
    require(meta0.currentSnapshotId.nonEmpty, s"$tablePath has no current snapshot")
    val keyCols = keys.columns.toSeq
    keyCols.foreach(c => require(meta0.schema.fieldNames.contains(c),
      s"equality column $c is not a column of $tablePath"))
    // delete files carry the SAME field ids as the columns they
    // address (spec) — stamp the staged footers like data appends do
    val stamped = IcebergTable.stampParquetFieldIds(
      StructType(keyCols.map(c => meta0.schema(c))))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val casted = keys.select(keyCols.map(c =>
      col(c).cast(meta0.schema(c).dataType).as(c, stamped(c).metadata)): _*)
      .distinct()

    val staged = stage(spark, casted, fs, table, Seq.empty)
    if (staged.isEmpty || staged.forall(_.recordCount == 0L)) {
      staged.foreach(sf => fs.delete(new Path(sf.path), false))
      return meta0.currentSnapshotId.get
    }

    publishLoop(fs, metaDir, tablePath, "delete") { (baseVOpt, baseRootOpt) =>
      val baseRoot = baseRootOpt
        .getOrElse(throw new IllegalStateException(s"metadata vanished under $metaDir"))
      val uuid = java.util.UUID.randomUUID().toString
      val nowMs = System.currentTimeMillis()
      val prevSnapshots = IcebergMeta.elements(baseRoot.path("snapshots"))
      val snapshotId = prevSnapshots.map(_.path("snapshot-id").asLong()).maxOption.getOrElse(0L) + 1
      val seq = baseRoot.path("last-sequence-number").asLong(0L) + 1

      val (manifest, newSpecMinted) = writeEqualityManifest(fs, metaDir, baseRoot,
        IcebergManifests.currentSchema(baseRoot), tablePath, snapshotId, seq, uuid, keyCols, staged)
      val listPath = new Path(metaDir, s"snap-$snapshotId-$uuid.avro")
      IcebergManifests.writeList(fs, listPath,
        currentManifestList(fs, baseRoot).map(IcebergManifests.copyListRecord) :+
          IcebergManifests.listRow(manifest))

      val root = baseRoot.deepCopy[ObjectNode]()
      if (newSpecMinted) appendEmptySpec(root, manifest.specId)
      appendSnapshotToRoot(root, snapshotId, seq, nowMs, listPath,
        operation = "delete",
        summaryExtras = Seq(
          "added-delete-files" -> staged.size.toString,
          "added-equality-deletes" -> staged.map(_.recordCount).sum.toString) ++
          txn.toSeq.flatMap { case (app, id) => Seq(
            TxnAppKey -> app, TxnBatchKey -> id.toString) },
        parentId = Option(baseRoot.path("current-snapshot-id").asLong(-1L)).filter(_ >= 0))
      Some((root, Seq(manifest.path, listPath), snapshotId))
    }.get
  }

  /** Atomic Iceberg UPSERT — the streaming-sink shape (e.g. the
    * public Flink Iceberg connector's upsert mode): ONE snapshot
    * carries BOTH an equality-delete manifest for the incoming rows'
    * key tuples AND the data manifest with the new rows, at the same
    * sequence number. Readers gated `delete seq > data seq` apply
    * the deletes to all PRIOR data and never to the same-commit
    * inserts, so the table converges to latest-per-key WITHOUT any
    * scan of existing data — cost ∝ the delta, the property that
    * makes minute-cadence upserts on a 100 TB table affordable
    * (compaction pays the read debt down asynchronously, R52).
    * Creating commit (no previous snapshot) is a plain append.
    * Returns the committed snapshot id.
    */
  def upsertEquality(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      keyCols: Seq[String],
      txn: Option[(String, Long)] = None
  ): Long = {
    require(keyCols.nonEmpty, "upsertEquality requires at least one key column")
    keyCols.foreach(c => require(df.columns.contains(c),
      s"key column $c missing from the frame"))
    commit(spark, df, tablePath, Seq.empty, carryBase = true,
      eqDeleteKeys = Some(keyCols), txn = txn)
  }

  /** Snapshot-summary keys carrying the streaming sink's idempotence
    * marker (the Delta SetTransaction shape expressed as summary
    * properties — any Iceberg reader sees them, nothing else
    * interprets them).
    */
  val TxnAppKey = "graft.txn-app-id"
  val TxnBatchKey = "graft.txn-batch-id"

  /** Highest batch id any snapshot summary records for `appId` —
    * None when the table is absent or no snapshot carries the
    * marker. CAVEAT (as with any summary-borne marker): expiring the
    * snapshot that holds the newest marker forgets it; keep the
    * retention window longer than the restart window.
    */
  def lastCommittedBatch(
      spark: SparkSession, tablePath: String, appId: String): Option[Long] = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(table, "metadata")
    latestVersionByScan(fs, metaDir).flatMap { v =>
      val root = readRoot(fs, metaDir, v)
      IcebergMeta.elements(root.path("snapshots")).flatMap { sn =>
        val sum = sn.path("summary")
        if (sum.path(TxnAppKey).asText("") == appId)
          Some(sum.path(TxnBatchKey).asText("-1").toLong).filter(_ >= 0)
        else None
      }.maxOption
    }
  }

  /** Append an UNPARTITIONED spec entry (carrier for global equality
    * deletes) to a metadata root.
    */
  private def appendEmptySpec(root: ObjectNode, specId: Int): Unit = {
    val sp = mapper.createObjectNode()
    sp.put("spec-id", specId)
    sp.set[ObjectNode]("fields", mapper.readTree("[]"))
    root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("partition-specs")
      .add(sp)
  }

  /** Write a content=2 equality-delete manifest for staged key files
    * under an unpartitioned spec resolved against `baseRoot` (reused
    * when one exists, otherwise a fresh id the CALLER must append via
    * [[appendEmptySpec]]). The manifest binds `schema`, the schema the
    * commit makes current (an upsert that adds columns commits a new
    * one), and field ids resolve by name against it. Returns the
    * manifest and whether its spec was newly minted.
    */
  private def writeEqualityManifest(
      fs: FileSystem,
      metaDir: Path,
      baseRoot: JsonNode,
      schema: JsonNode,
      tablePath: String,
      snapshotId: Long,
      seq: Long,
      uuid: String,
      keyCols: Seq[String],
      staged: Seq[StagedFile]
  ): (IcebergManifests.Written, Boolean) = {
    val idsByName = IcebergMeta.elements(schema.path("fields"))
      .map(f => f.path("name").asText() -> f.path("id").asInt()).toMap
    val eqIds = keyCols.map(c => idsByName.getOrElse(c,
      throw new IllegalArgumentException(
        s"equality column $c vanished from $tablePath under a concurrent commit")))

    val specs = baseRoot.path("partition-specs")
    val emptySpec = IcebergMeta.elements(specs)
      .find(sn => IcebergMeta.elements(sn.path("fields")).isEmpty)
    val specId = emptySpec.map(_.path("spec-id").asInt(0)).getOrElse(
      IcebergMeta.elements(specs).map(_.path("spec-id").asInt(0)).maxOption.getOrElse(-1) + 1)

    val manifest = IcebergManifests.write(fs,
      new Path(metaDir, s"eq-delete-manifest-$snapshotId-$uuid.avro"),
      IcebergManifests.manifestEntrySchema(Seq.empty),
      IcebergManifests.Format(mapper.writeValueAsString(schema), specId, "[]"),
      deletes = true, snapshotId, seq) { w =>
      staged.foreach(w.addStaged(_, Seq.empty, content = 2, equalityIds = eqIds))
    }
    (manifest, emptySpec.isEmpty)
  }

  /** Create or move a named snapshot REF (the public spec's `refs`
    * map): a `tag` pins a snapshot immutably (audit/reproducibility
    * — "the exact table the model trained on"), a `branch` names a
    * movable head. Defaults to the current snapshot.
    * [[IcebergMaintenance.expireSnapshots]] keeps ref-pinned
    * snapshots alive regardless of the retention count. Returns the
    * referenced snapshot id.
    */
  def setRef(
      spark: SparkSession,
      tablePath: String,
      name: String,
      refType: String = "tag",
      snapshotId: Option[Long] = None
  ): Long = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be tag or branch, got $refType")
    require(name.nonEmpty, "ref name must be non-empty")
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(table, "metadata")
    publishLoop(fs, metaDir, tablePath, "set-ref") { (baseVOpt, baseRootOpt) =>
      val baseRoot = baseRootOpt
        .getOrElse(throw new IllegalStateException(s"no Iceberg metadata under $metaDir"))
      val meta = IcebergMeta.parse(baseRoot, tablePath)
      val id = snapshotId.orElse(meta.currentSnapshotId)
        .getOrElse(throw new IllegalArgumentException(s"$tablePath has no current snapshot"))
      require(meta.snapshots.exists(_.id == id),
        s"snapshot $id not found in $tablePath")
      val root = baseRoot.deepCopy[ObjectNode]()
      val refsNode = root.path("refs") match {
        case o: ObjectNode => o
        case _ =>
          val o = mapper.createObjectNode()
          root.set[ObjectNode]("refs", o)
          o
      }
      val entry = mapper.createObjectNode()
      entry.put("snapshot-id", id)
      entry.put("type", refType)
      refsNode.set[ObjectNode](name, entry)
      root.put("last-updated-ms", System.currentTimeMillis())
      Some((root, Seq.empty, id))
    }.get
  }

  /** Append `df` to a named BRANCH (write-audit-publish staging):
    * the new snapshot bases on and advances only `refs[branch]` —
    * main's head, history, and every plain read stay untouched until
    * [[fastForward]] publishes the branch. A missing branch is
    * created forking from the current head. Read the branch with
    * `extra(IcebergTable.RefKey -> branch)` for the audit step.
    * Same staging, schema-evolution, and optimistic-commit machinery
    * as [[append]].
    */
  def appendToBranch(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      branch: String,
      partitionBy: Seq[String] = Seq.empty
  ): Long =
    commit(spark, df, tablePath, partitionBy, carryBase = true, branch = Some(branch))

  /** Publish a branch (the WAP "publish" step): move main's head to
    * the branch head, REQUIRING main's current head to be an ancestor
    * of it (a pure fast-forward — divergent histories refuse rather
    * than silently dropping main's commits). The branch ref stays;
    * drop it with [[dropRef]] when done. Returns the published
    * snapshot id.
    */
  def fastForward(spark: SparkSession, tablePath: String, branch: String): Long = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(table, "metadata")
    publishLoop(fs, metaDir, tablePath, "fast-forward") { (_, baseRootOpt) =>
      val baseRoot = baseRootOpt
        .getOrElse(throw new IllegalStateException(s"no Iceberg metadata under $metaDir"))
      val meta = IcebergMeta.parse(baseRoot, tablePath)
      val ref = meta.refs.getOrElse(branch, throw new IllegalArgumentException(
        s"branch '$branch' not found in $tablePath (have ${meta.refs.keys.mkString(", ")})"))
      require(ref.refType == "branch",
        s"ref '$branch' is a ${ref.refType}, not a branch")
      val target = ref.snapshotId
      val cur = baseRoot.path("current-snapshot-id").asLong(-1L)
      if (cur >= 0 && cur != target) {
        // ancestor walk target → ... → cur via parent-snapshot-id
        require(IcebergMeta.isAncestor(baseRoot, target, cur),
          s"cannot fast-forward $tablePath to branch '$branch': main's head $cur is not " +
            s"an ancestor of the branch head $target (histories diverged — rebase the branch)")
      }
      val root = baseRoot.deepCopy[ObjectNode]()
      val nowMs = System.currentTimeMillis()
      root.put("current-snapshot-id", target)
      root.put("last-updated-ms", nowMs)
      root.path("refs") match {
        case o: ObjectNode if o.has("main") =>
          val m = mapper.createObjectNode()
          m.put("snapshot-id", target)
          m.put("type", "branch")
          o.set[ObjectNode]("main", m)
        case _ => ()
      }
      if (cur != target) {
        if (!root.has("snapshot-log"))
          root.set[ObjectNode]("snapshot-log", mapper.createArrayNode())
        val logEntry = mapper.createObjectNode()
        logEntry.put("timestamp-ms", nowMs)
        logEntry.put("snapshot-id", target)
        root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshot-log")
          .add(logEntry)
      }
      Some((root, Seq.empty, target))
    }.get
  }

  /** RENAME a top-level column — a METADATA-ONLY schema-evolution
    * commit per the spec's evolution rules: the field keeps its id,
    * a new schema (fresh schema-id) joins the `schemas` history and
    * becomes current. No data rewrites: readers resolve pre-rename
    * files through recorded field ids (parquet footers / Avro header
    * props — [[IcebergTable]]'s r15 contract), and id-less imported
    * files refuse loudly at read rather than null-fill. Refuses when
    * the column sources any partition-spec field (the spec field's
    * NAME would go stale against identity back-fill and pruning —
    * evolve the spec away from the column first) and when `newName`
    * already names a column.
    */
  def renameColumn(
      spark: SparkSession,
      tablePath: String,
      oldName: String,
      newName: String): Unit = {
    require(oldName != newName, s"rename to the same name: $oldName")
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(table, "metadata")
    publishLoop(fs, metaDir, tablePath, "rename column") { (_, baseRootOpt) =>
      val baseRoot = baseRootOpt.getOrElse(throw new IllegalArgumentException(
        s"$tablePath is not an Iceberg table (no metadata)"))
      require(baseRoot.has("schemas"),
        s"$tablePath uses the v1 single-`schema` metadata layout; rename " +
          "needs the `schemas` history list (readers detect renames from it)")
      val root = baseRoot.deepCopy[ObjectNode]()
      val schemas = root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("schemas")
      val cur = root.path("current-schema-id").asInt(0)
      val sj = IcebergMeta.elements(schemas)
        .find(_.path("schema-id").asInt(-1) == cur)
        .getOrElse(throw new IllegalArgumentException(
          s"current-schema-id $cur not found in $tablePath schemas"))
      val names = IcebergMeta.elements(sj.path("fields")).map(_.path("name").asText())
      require(names.contains(oldName),
        s"no column '$oldName' in $tablePath (have ${names.mkString(", ")})")
      require(!names.contains(newName),
        s"column '$newName' already exists in $tablePath")
      val copy = sj.deepCopy[ObjectNode]()
      var renamedId = -1
      IcebergMeta.elements(copy.path("fields")).foreach {
        case f: ObjectNode if f.path("name").asText() == oldName =>
          renamedId = f.path("id").asInt(-1)
          f.put("name", newName)
        case _ => ()
      }
      IcebergMeta.elements(root.path("partition-specs")).foreach { sp =>
        IcebergMeta.elements(sp.path("fields")).foreach { f =>
          require(f.path("source-id").asInt(-1) != renamedId,
            s"cannot rename $oldName: partition spec ${sp.path("spec-id").asInt(0)} " +
              s"field '${f.path("name").asText()}' sources it — partition-field " +
              "names do not follow column renames, so identity back-fill and " +
              "pruning would go stale; evolve the partitioning off the column first")
        }
      }
      val newSid = IcebergMeta.elements(schemas)
        .map(_.path("schema-id").asInt(0)).max + 1
      copy.put("schema-id", newSid)
      schemas.add(copy)
      root.put("current-schema-id", newSid)
      root.put("last-updated-ms", System.currentTimeMillis())
      Some((root, Seq.empty, root.path("current-snapshot-id").asLong(-1L)))
    }
    ()
  }

  /** (dotted field path → Iceberg field id) over a parsed schema —
    * the staged-footer-vs-committed-schema verification key set.
    */
  private[tables] def dottedFieldIds(schema: StructType): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(st: StructType, prefix: String): Unit = st.fields.foreach { f =>
      val dotted = if (prefix.isEmpty) f.name else prefix + "." + f.name
      if (f.metadata.contains(DeltaLog.FieldIdKey))
        out += dotted -> f.metadata.getLong(DeltaLog.FieldIdKey)
      f.dataType match {
        case s: StructType => walk(s, dotted)
        case org.apache.spark.sql.types.ArrayType(s: StructType, _) =>
          walk(s, dotted + ".element")
        case org.apache.spark.sql.types.MapType(_, s: StructType, _) =>
          walk(s, dotted + ".value")
        case _ => ()
      }
    }
    walk(schema, "")
    out.result()
  }

  /** Copy [[DeltaLog.FieldIdKey]] metadata from `src` onto the
    * SHAPE-IDENTICAL `dst` field by position — `src` is the
    * round-trip parse of the schema JSON a fresh table is about to
    * commit (authoritative ids) and `dst` keeps the exact Spark types
    * of the frame being staged (the round trip narrows e.g.
    * short→int, which must not leak into the written files).
    */
  private[tables] def copyFieldIdsByPosition(
      src: StructType, dst: StructType): StructType =
    StructType(src.fields.zip(dst.fields).map { case (sf, df) =>
      val md =
        if (sf.metadata.contains(DeltaLog.FieldIdKey))
          new org.apache.spark.sql.types.MetadataBuilder().withMetadata(df.metadata)
            .putLong(DeltaLog.FieldIdKey, sf.metadata.getLong(DeltaLog.FieldIdKey))
            .build()
        else df.metadata
      val dt = (sf.dataType, df.dataType) match {
        case (ss: StructType, ds: StructType) => copyFieldIdsByPosition(ss, ds)
        case (sa: org.apache.spark.sql.types.ArrayType,
              da: org.apache.spark.sql.types.ArrayType) =>
          (sa.elementType, da.elementType) match {
            case (ss: StructType, ds: StructType) =>
              da.copy(elementType = copyFieldIdsByPosition(ss, ds))
            case _ => da
          }
        case (sm: org.apache.spark.sql.types.MapType,
              dm: org.apache.spark.sql.types.MapType) =>
          (sm.valueType, dm.valueType) match {
            case (ss: StructType, ds: StructType) =>
              dm.copy(valueType = copyFieldIdsByPosition(ss, ds))
            case _ => dm
          }
        case _ => df.dataType
      }
      df.copy(dataType = dt, metadata = md)
    })

  /** Remove a named ref; returns the snapshot id it pointed at. */
  def dropRef(spark: SparkSession, tablePath: String, name: String): Long = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(table, "metadata")
    publishLoop(fs, metaDir, tablePath, "drop-ref") { (baseVOpt, baseRootOpt) =>
      val baseRoot = baseRootOpt
        .getOrElse(throw new IllegalStateException(s"no Iceberg metadata under $metaDir"))
      val meta = IcebergMeta.parse(baseRoot, tablePath)
      val ref = meta.refs.getOrElse(name, throw new IllegalArgumentException(
        s"ref '$name' not found in $tablePath (have ${meta.refs.keys.mkString(", ")})"))
      val root = baseRoot.deepCopy[ObjectNode]()
      root.path("refs") match {
        case o: ObjectNode => o.remove(name)
        case _ => ()
      }
      root.put("last-updated-ms", System.currentTimeMillis())
      Some((root, Seq.empty, ref.snapshotId))
    }.get
  }

  /** Manifest partition value → the string Spark's partitionBy
    * renders for the SAME typed value (so staged dirs and
    * re-derived partition tuples round-trip, dates included).
    */
  private[tables] def renderPartition(dt: org.apache.spark.sql.types.DataType, v: Any): String =
    (dt, v) match {
      case (_, null) => null
      case (org.apache.spark.sql.types.DateType, n) =>
        java.time.LocalDate.ofEpochDay(n.toString.toLong).toString
      case (_, other) => String.valueOf(other)
    }

  private def commit(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String],
      carryBase: Boolean,
      eqDeleteKeys: Option[Seq[String]] = None,
      txn: Option[(String, Long)] = None,
      branch: Option[String] = None,
      preStaged: Option[Seq[StagedFile]] = None,
      sortBy: Seq[String] = Seq.empty,
      operationOverride: Option[String] = None
  ): Long = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(table, "_delta_log")),
      s"$tablePath is a Delta table; append via DeltaWrite and IcebergUniform.export")
    require(branch.isEmpty || eqDeleteKeys.isEmpty,
      "equality upserts to a branch are not supported; append, then fastForward")
    branch.foreach(b => require(b != "main", "write to main by omitting the branch"))
    val metaDir = new Path(table, "metadata")
    fs.mkdirs(metaDir)

    // resolve schema + partitioning against the existing table (if
    // any), with ADDITIVE evolution per the Iceberg spec's
    // schema-evolution rules: new columns append (fresh field ids, a
    // new schema id), existing columns may widen int→long /
    // float→double (readers upcast old files), a NARROWER dataframe
    // column casts up with no schema change. Everything else refuses.
    val existingV = latestVersionByScan(fs, metaDir)
    val existing = existingV.map(v => readRoot(fs, metaDir, v))
    val (schema, partCols, stampableIds) = existing match {
      case Some(root) =>
        val meta = IcebergMeta.parse(root, tablePath)
        val byName = df.schema.fields.map(f => f.name -> f).toMap
        val missing = meta.schema.fieldNames.filterNot(byName.contains)
        require(missing.isEmpty,
          s"schema mismatch appending to $tablePath: dataframe lacks ${missing.mkString(", ")}")
        val widenedB = Map.newBuilder[String, org.apache.spark.sql.types.DataType]
        val evolvedExisting = meta.schema.fields.map { tf =>
          val dfT = byName(tf.name).dataType
          if (dfT == tf.dataType) tf
          else if (promotes(tf.dataType, dfT)) { widenedB += tf.name -> dfT; tf.copy(dataType = dfT) }
          else if (promotes(dfT, tf.dataType)) tf // narrower frame casts up
          else throw new IllegalArgumentException(
            s"schema mismatch appending to $tablePath: column ${tf.name} is " +
              s"${tf.dataType.simpleString} in the table, ${dfT.simpleString} in the dataframe")
        }
        val added = df.schema.fields
          .filterNot(f => meta.schema.fieldNames.contains(f.name))
          .map(_.copy(nullable = true)).toSeq
        val widened = widenedB.result()
        // effective partitioning: the requested spec (spec EVOLUTION
        // when it differs from the table's — committed as a new spec
        // id per the public spec's partition-evolution rules), or the
        // table's current default when none requested
        val curSpec = meta.specs.getOrElse(meta.defaultSpecId, Seq.empty).map { sf =>
          ReqSpecField(sf.name, sf.transform,
            meta.schemaFieldIds.getOrElse(sf.sourceId, sf.name))
        }
        val reqSpec = partitionBy.map(parsePartitionField)
        val effective = if (reqSpec.isEmpty) curSpec else reqSpec
        // manifests carry TYPED partition tuples; widening a partition
        // source would strand the old tuples' type
        val srcCols = effective.map(_.sourceCol)
        require(srcCols.forall(c => !widened.contains(c)),
          s"cannot widen partition column(s) ${srcCols.filter(widened.contains).mkString(", ")}")
        (StructType(evolvedExisting ++ added), effective, added.isEmpty)
      case None =>
        (df.schema, partitionBy.map(parsePartitionField), true)
    }
    partCols.foreach { f =>
      require(schema.fieldNames.contains(f.sourceCol),
        s"partition source column ${f.sourceCol} missing from the schema")
      if (f.transform != "identity")
        require(!schema.fieldNames.contains(f.name),
          s"derived partition field ${f.name} collides with a data column")
    }
    val ordered = df.select(
      schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

    // effective write sort: an explicit sortBy, else the table's
    // DECLARED default sort order — upstream writers honor the table
    // sort order on every append, so once a sort is declared, every
    // writer produces min/max-tight files without re-passing the flag
    val effectiveSort: Seq[String] =
      if (sortBy.nonEmpty) sortBy
      else existing.toSeq.flatMap { r =>
        val defId = r.path("default-sort-order-id").asInt(0)
        if (defId == 0) Seq.empty
        else {
          val names = IcebergMeta.parse(r, tablePath).schemaFieldIds
          IcebergMeta.elements(r.path("sort-orders"))
            .find(_.path("order-id").asInt(0) == defId).toSeq
            .flatMap(o => IcebergMeta.elements(o.path("fields")).map { f =>
              require(f.path("transform").asText("identity") == "identity",
                s"cannot apply non-identity sort transform " +
                  s"${f.path("transform").asText()} appending to $tablePath")
              names.getOrElse(f.path("source-id").asInt(),
                throw new IllegalArgumentException(
                  s"sort order $defId references dropped column id " +
                    f.path("source-id").asInt()))
            })
        }
      }
    effectiveSort.foreach(c => require(schema.fieldNames.contains(c),
      s"sort column $c is not a column of $tablePath"))

    // ---- stage data files + per-file record counts (one job) -------
    // non-identity fields stage under a DERIVED column (computed by
    // the same transform definitions the reader prunes with);
    // partitionBy strips it from the data files, so only the source
    // column lands on disk — exactly the upstream layout
    val derived = partCols.filter(_.transform != "identity").foldLeft(ordered) {
      (acc, f) => acc.withColumn(f.name,
        transformColumn(f.transform, schema.fields.find(_.name == f.sourceCol).get))
    }
    // parquet footer FIELD IDS (spec: required of Iceberg writers):
    // staged footers record each column's Iceberg field id, so
    // field-id readers (IcebergTable r15, upstream engines) keep
    // resolving these files correctly across column RENAMES. Ids come
    // from the committed metadata (existing table) or the
    // deterministic FieldIds assignment a fresh table is about to
    // commit; an append that ADDS columns skips stamping entirely —
    // the new ids mint inside the publish attempt, and a PARTIALLY
    // id'd footer would null-fill its id-less columns under id
    // resolution, so those files stay on the whole-file name fallback.
    val stampedSchema: Option[StructType] =
      if (!stampableIds) None
      else {
        val withIds =
          if (existing.isDefined) schema
          else {
            val ids = new IcebergUniform.FieldIds(schema)
            copyFieldIdsByPosition(
              IcebergMeta.schemaFromJson(
                mapper.readTree(ids.icebergSchemaJson(0)))._1, schema)
          }
        Some(IcebergTable.stampParquetFieldIds(withIds)).filter(_ ne withIds)
      }
    val assumedIds: Option[Map[String, Long]] = stampedSchema.map(dottedFieldIds)
    stampedSchema.foreach(_ =>
      // default-true; pinned for the round trip, same as DeltaWrite's
      // id-mode commits — only schemas carrying the metadata react
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true"))
    def stampDf(d: DataFrame): DataFrame = stampedSchema.fold(d) { st =>
      val extra = d.columns.filterNot(st.fieldNames.contains).toSeq.map(col)
      d.select(st.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name, f.metadata)) ++ extra: _*)
    }
    // partition columns LEAD the sort so the staged write's own
    // dynamic-partition ordering requirement is already satisfied and
    // Spark's writer inserts no tie-reordering sort of its own
    val stampedDerived = stampDf(derived)
    val stagingDf =
      if (effectiveSort.isEmpty) stampedDerived
      else stampedDerived.sortWithinPartitions(
        (partCols.map(_.name) ++ effectiveSort).distinct.map(col): _*)
    val partFields = partCols.map(f => org.apache.spark.sql.types.StructField(f.name,
      transformResultType(f.transform, schema.fields.find(_.name == f.sourceCol).get.dataType)))
    // add_files import: the files already exist (and stay) outside the
    // staging flow — the manifest will reference them in place
    val staged = preStaged.getOrElse(
      stage(spark, stagingDf, fs, table, partCols.map(_.name)))
    // upsert mode: the incoming rows' DISTINCT key tuples stage as
    // equality-delete files (skipped on a creating commit — nothing
    // prior to delete)
    val eqStaged: Seq[StagedFile] = eqDeleteKeys match {
      case Some(cols) if existing.isDefined =>
        cols.foreach(c => require(schema.fieldNames.contains(c),
          s"key column $c is not a column of $tablePath"))
        // equality-delete files carry the same field ids as the
        // table columns they address (spec) — stamp them too
        val keys = df.select(cols.map { c =>
          val f = stampedSchema.map(_(c)).getOrElse(schema(c))
          col(c).cast(f.dataType).as(c, f.metadata)
        }: _*).distinct()
        stage(spark, keys, fs, table, Seq.empty)
      case _ => Seq.empty
    }

    // ---- optimistic commit (shared publish loop) -------------------
    publishLoop(fs, metaDir, tablePath,
      if (carryBase) "append" else "overwrite") { (baseVOpt, baseRoot) =>
      val uuid = java.util.UUID.randomUUID().toString
      val nowMs = System.currentTimeMillis()
      val prevSnapshots = baseRoot.map(r => IcebergMeta.elements(r.path("snapshots")))
        .getOrElse(Seq.empty)
      val snapshotId = prevSnapshots.map(_.path("snapshot-id").asLong()).maxOption.getOrElse(0L) + 1
      val seq = baseRoot.map(_.path("last-sequence-number").asLong(0L)).getOrElse(0L) + 1

      // evolvedSchema: Some((node json, schema id, last column id))
      // when this append ADDS or WIDENS columns — recomputed per
      // attempt against the freshest base so a raced commit's schema
      // history is preserved
      val (schemaJson, specFieldsJson, specId, newSpec, manifestFieldIds, lastColumnId, evolvedSchema) =
        baseRoot match {
          case Some(r) =>
            val schemas = r.path("schemas")
            val sj = IcebergManifests.currentSchema(r)
            val specs = r.path("partition-specs")
            val baseLast = r.path("last-column-id").asInt()
            // the added/widened diff is recomputed HERE, against the
            // freshest base of this publish attempt — a racing append
            // may have already added/widened the same column, and
            // replaying the pre-loop diff would append a duplicate
            // field (same name, new id) into the schema history
            val curByName = IcebergMeta.parse(r, tablePath).schema.fields
              .map(f => f.name -> f.dataType).toMap
            val addedCols = schema.fields
              .filterNot(f => curByName.contains(f.name))
              .map(_.copy(nullable = true)).toSeq
            val widenedCols: Map[String, org.apache.spark.sql.types.DataType] =
              schema.fields.flatMap { f =>
                curByName.get(f.name) match {
                  case Some(curT) if curT == f.dataType => None
                  case Some(curT) if promotes(curT, f.dataType) => Some(f.name -> f.dataType)
                  case Some(curT) if promotes(f.dataType, curT) => None // raced wider; files upcast
                  case Some(curT) => throw new IllegalArgumentException(
                    s"schema mismatch appending to $tablePath: column ${f.name} became " +
                      s"${curT.simpleString} under a concurrent commit, incompatible with " +
                      f.dataType.simpleString)
                  case None => None
                }
              }.toMap
            require(partCols.map(_.sourceCol).forall(c => !widenedCols.contains(c)),
              s"cannot widen partition column(s) " +
                partCols.map(_.sourceCol).filter(widenedCols.contains).mkString(", "))
            val evolved: Option[(String, Int, Int)] =
              if (addedCols.isEmpty && widenedCols.isEmpty) None
              else {
                val fieldJsons = IcebergMeta.elements(sj.path("fields")).map { f =>
                  widenedCols.get(f.path("name").asText()) match {
                    case Some(dt) =>
                      val o = f.deepCopy[ObjectNode]()
                      o.set[ObjectNode]("type",
                        mapper.readTree(IcebergUniform.primitiveJson(dt)))
                      mapper.writeValueAsString(o)
                    case None => mapper.writeValueAsString(f)
                  }
                }
                val (addedJson, newLast) =
                  IcebergUniform.appendFieldsJson(addedCols, baseLast)
                val sid = IcebergMeta.elements(schemas)
                  .map(_.path("schema-id").asInt(0)).max + 1
                val allFields =
                  (fieldJsons ++ (if (addedJson.isEmpty) Seq.empty else Seq(addedJson)))
                    .mkString(",")
                Some((s"""{"type":"struct","schema-id":$sid,"fields":[$allFields]}""",
                  sid, newLast))
              }
            // resolve the effective partitioning against THIS
            // attempt's specs: reuse a matching spec id (usually the
            // default), or mint a NEW spec id (partition-spec
            // evolution) with field-ids continuing last-partition-id
            val schemaIdsByName: Map[String, Int] =
              IcebergMeta.elements(sj.path("fields"))
                .map(f => f.path("name").asText() -> f.path("id").asInt()).toMap
            val want: Seq[(String, String, Int)] = partCols.map { f =>
              val sid = schemaIdsByName.getOrElse(f.sourceCol,
                throw new IllegalArgumentException(
                  s"cannot partition $tablePath by ${f.sourceCol}: not an existing table column"))
              (f.name, f.transform, sid)
            }
            def triples(sn: JsonNode): Seq[(String, String, Int)] =
              IcebergMeta.elements(sn.path("fields")).map(f =>
                (f.path("name").asText(), f.path("transform").asText(),
                  f.path("source-id").asInt()))
            val matchedSpec = IcebergMeta.elements(specs).find(sn => triples(sn) == want)
            val (sid2, newSpecOpt, fids, sfj) = matchedSpec match {
              case Some(sn) =>
                (sn.path("spec-id").asInt(0), None,
                  IcebergMeta.elements(sn.path("fields")).map(_.path("field-id").asInt()),
                  mapper.writeValueAsString(sn.path("fields")))
              case None =>
                val nid = IcebergMeta.elements(specs)
                  .map(_.path("spec-id").asInt(0)).maxOption.getOrElse(-1) + 1
                val lastPid = r.path("last-partition-id").asInt(999)
                val ids = partCols.indices.map(lastPid + 1 + _)
                val json = want.zip(ids).map { case ((n, t, s), fid) =>
                  s"""{"name":"$n","transform":"$t","source-id":$s,"field-id":$fid}"""
                }.mkString("[", ",", "]")
                (nid, Some((json, ids.maxOption.getOrElse(lastPid))), ids, json)
            }
            (evolved.map(_._1).getOrElse(mapper.writeValueAsString(sj)),
              sfj, sid2, newSpecOpt, fids,
              evolved.map(_._3).getOrElse(baseLast),
              evolved)
          case None =>
            val ids = new IcebergUniform.FieldIds(schema)
            val sj = ids.icebergSchemaJson(schemaId = 0)
            val fieldsJson = partCols.zipWithIndex.map { case (f, i) =>
              s"""{"name":"${f.name}","transform":"${f.transform}","source-id":${ids.idOf(f.sourceCol)},"field-id":${1000 + i}}"""
            }.mkString("[", ",", "]")
            (sj, fieldsJson, 0, None, partCols.indices.map(1000 + _),
              ids.lastColumnId, None)
        }

      // staged footers were stamped with PRE-LOOP id assumptions; a
      // raced concurrent commit (another writer created the table
      // first with a different column order) could make them stale,
      // and a stale footer id binds columns WRONGLY under field-id
      // readers — verify against the schema actually being committed
      // and abort loudly, never silently
      assumedIds.foreach { assumed =>
        val committed = dottedFieldIds(
          IcebergMeta.schemaFromJson(mapper.readTree(schemaJson))._1)
        val bad = assumed.filter { case (fp, id) => !committed.get(fp).contains(id) }
        require(bad.isEmpty,
          s"concurrent schema change on $tablePath invalidated the staged " +
            s"files' parquet field ids (${bad.keys.mkString(", ")}); retry the write")
      }

      // new data manifest (uuid-named: attempts never collide)
      val manifest = IcebergManifests.write(fs,
        new Path(metaDir, s"manifest-$snapshotId-$uuid.avro"),
        IcebergManifests.manifestEntrySchema(partFields, manifestFieldIds),
        IcebergManifests.Format(schemaJson, specId, specFieldsJson),
        deletes = false, snapshotId, seq) { w =>
        staged.foreach(w.addStaged(_, partFields))
      }
      val eqManifest: Option[(IcebergManifests.Written, Boolean)] =
        if (eqStaged.isEmpty) None
        else Some(writeEqualityManifest(fs, metaDir, baseRoot.get, mapper.readTree(schemaJson),
          tablePath, snapshotId, seq, uuid, eqDeleteKeys.get, eqStaged))

      // manifest list: the base snapshot's manifests carried verbatim
      // + the new ones; an append bases on the BRANCH head when
      // writing to a branch (a missing branch forks from the current
      // head)
      val carried =
        if (!carryBase) Seq.empty
        else baseRoot.toSeq.flatMap(r => manifestListOf(fs, r, headIdFor(r, branch)))
      val listPath = new Path(metaDir, s"snap-$snapshotId-$uuid.avro")
      IcebergManifests.writeList(fs, listPath,
        carried.map(IcebergManifests.copyListRecord) ++
          (manifest +: eqManifest.map(_._1).toSeq).map(IcebergManifests.listRow))

      // metadata JSON: mutate a copy of the base (preserves schemas,
      // specs, history from ANY previous writer) or build fresh
      val root: ObjectNode = baseRoot match {
        case Some(r) =>
          val c = r.deepCopy[ObjectNode]()
          evolvedSchema.foreach { case (nodeJson, sid, last) =>
            c.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("schemas")
              .add(mapper.readTree(nodeJson))
            c.put("current-schema-id", sid)
            c.put("last-column-id", last)
          }
          // partition-spec evolution: the new spec id joins the spec
          // list and becomes the default; older files keep pruning
          // under their own spec (the reader keys by manifest spec id)
          newSpec.foreach { case (fieldsJson, maxFieldId) =>
            val sp = mapper.createObjectNode()
            sp.put("spec-id", specId)
            sp.set[ObjectNode]("fields", mapper.readTree(fieldsJson))
            c.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("partition-specs")
              .add(sp)
            c.put("last-partition-id",
              math.max(c.path("last-partition-id").asInt(999), maxFieldId))
          }
          if (c.path("default-spec-id").asInt(0) != specId)
            c.put("default-spec-id", specId)
          eqManifest.foreach { case (m, minted) =>
            if (minted) appendEmptySpec(c, m.specId)
          }
          c
        case None =>
          val r = mapper.createObjectNode()
          r.put("format-version", 2)
          r.put("table-uuid", java.util.UUID.randomUUID().toString)
          r.put("location", tablePath)
          r.put("last-column-id", lastColumnId)
          r.put("current-schema-id", 0)
          r.set[ObjectNode]("schemas",
            mapper.createArrayNode().add(mapper.readTree(schemaJson)))
          val spec = mapper.createObjectNode()
          spec.put("spec-id", 0)
          spec.set[ObjectNode]("fields", mapper.readTree(specFieldsJson))
          r.set[ObjectNode]("partition-specs", mapper.createArrayNode().add(spec))
          r.put("default-spec-id", 0)
          r.put("last-partition-id", 1000 + math.max(partCols.size - 1, -1))
          val order = mapper.createObjectNode()
          order.put("order-id", 0)
          order.set[ObjectNode]("fields", mapper.createArrayNode())
          r.set[ObjectNode]("sort-orders", mapper.createArrayNode().add(order))
          r.put("default-sort-order-id", 0)
          r.set[ObjectNode]("snapshots", mapper.createArrayNode())
          r.set[ObjectNode]("snapshot-log", mapper.createArrayNode())
          r
      }
      // an EXPLICIT sortBy declares (or reuses) a table sort order and
      // makes it the default — subsequent appends honor it without
      // the flag (effectiveSort above)
      if (sortBy.nonEmpty) {
        val fieldIds = IcebergMeta.parse(root, tablePath).schemaFieldIds
          .map { case (id, n) => n -> id }
        ensureSortOrder(root, sortBy, c => fieldIds.getOrElse(c,
          throw new IllegalArgumentException(s"sort column $c not in $tablePath schema")))
      }
      appendSnapshotToRoot(root, snapshotId, seq, nowMs, listPath,
        // an upsert both adds and logically replaces rows: overwrite
        operation = operationOverride.getOrElse(
          if (eqStaged.nonEmpty) "overwrite"
          else if (carryBase) "append" else "overwrite"),
        summaryExtras = Seq(
          "added-data-files" -> staged.size.toString,
          "added-records" -> staged.map(_.recordCount).sum.toString) ++
          (if (eqStaged.isEmpty) Seq.empty else Seq(
            "added-delete-files" -> eqStaged.size.toString,
            "added-equality-deletes" -> eqStaged.map(_.recordCount).sum.toString)) ++
          txn.toSeq.flatMap { case (app, id) => Seq(
            TxnAppKey -> app, TxnBatchKey -> id.toString) },
        branch = branch,
        parentId = baseRoot.map(r => headIdFor(r, branch)).filter(_ >= 0))
      Some((root, eqManifest.map(_._1.path).toSeq ++ Seq(manifest.path, listPath), snapshotId))
    }.get
  }

  /** The optimistic Hadoop-catalog publish loop behind every Iceberg
    * metadata commit (writes, deletes, ref and schema changes, and
    * [[IcebergMaintenance]]'s rewrites and expiry): each attempt
    * re-reads the latest committed metadata by scan and asks
    * `attemptFn` for the new root, the temp files to discard on a lost
    * race and the attempt's result; the root is published
    * put-if-absent at scanMax+1. `attemptFn` returns None when there
    * is nothing to commit, and may throw to abort the whole commit
    * (e.g. rebase validation). Returns the winning attempt's result;
    * `MaxAttempts` lost races throw ConcurrentModificationException.
    */
  private[tables] def publishLoop[A](
      fs: FileSystem,
      metaDir: Path,
      tablePath: String,
      what: String
  )(attemptFn: (Option[Int], Option[JsonNode]) => Option[(ObjectNode, Seq[Path], A)]): Option[A] = {
    var attempt = 0
    while (true) {
      attempt += 1
      val baseV = latestVersionByScan(fs, metaDir)
      val baseRoot = baseV.map(v => readRoot(fs, metaDir, v))
      val next = attemptFn(baseV, baseRoot)
      if (next.isEmpty) return None
      val (root, temps, result) = next.get
      val newV = baseV.getOrElse(0) + 1
      // metadata-log: record the PREVIOUS metadata file per the spec
      // (foreign readers use it for metadata-version time travel)
      baseV.foreach { v =>
        if (!root.has("metadata-log"))
          root.set[ObjectNode]("metadata-log", mapper.createArrayNode())
        val entry = mapper.createObjectNode()
        entry.put("timestamp-ms",
          baseRoot.map(_.path("last-updated-ms").asLong(0L))
            .filter(_ > 0).getOrElse(System.currentTimeMillis()))
        entry.put("metadata-file", new Path(metaDir, s"v$v.metadata.json").toString)
        root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("metadata-log")
          .add(entry)
      }
      val target = new Path(metaDir, s"v$newV.metadata.json")
      if (LakeFiles.putIfAbsent(fs, target,
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))) {
        val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
        try hint.write(newV.toString.getBytes("UTF-8")) finally hint.close()
        // committed (possibly schema-evolving) write: purge any cached
        // footer schema covering this location
        SchemaCache.invalidate(tablePath)
        return Some(result)
      }
      temps.foreach(fs.delete(_, false))
      if (attempt >= MaxAttempts)
        throw new java.util.ConcurrentModificationException(
          s"could not commit $what to $tablePath after $MaxAttempts attempts")
    }
    throw new IllegalStateException("unreachable")
  }

  /** Find-or-add an identity asc/nulls-first sort order for `cols`
    * and make it the table default (the public spec's sort-orders
    * metadata — readers/planners see which files are min/max-tight).
    */
  private def ensureSortOrder(
      root: ObjectNode, cols: Seq[String], fieldIdOf: String => Int): Unit = {
    val ordersNode = root.path("sort-orders") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode => a
      case _ =>
        val a = mapper.createArrayNode()
        root.set[ObjectNode]("sort-orders", a)
        a
    }
    val want = cols.map(fieldIdOf)
    val matching = IcebergMeta.elements(ordersNode).find { o =>
      val fs = IcebergMeta.elements(o.path("fields"))
      fs.size == want.size && fs.zip(want).forall { case (f, id) =>
        f.path("transform").asText("identity") == "identity" &&
          f.path("source-id").asInt() == id &&
          f.path("direction").asText("asc") == "asc"
      }
    }
    val oid = matching.map(_.path("order-id").asInt()).getOrElse {
      val nid = IcebergMeta.elements(ordersNode)
        .map(_.path("order-id").asInt(0)).maxOption.getOrElse(-1) + 1
      val fieldsJson = want.map(id =>
        s"""{"transform":"identity","source-id":$id,"direction":"asc","null-order":"nulls-first"}""")
        .mkString("[", ",", "]")
      val o = mapper.createObjectNode()
      o.put("order-id", nid)
      o.set[ObjectNode]("fields", mapper.readTree(fieldsJson))
      ordersNode.add(o)
      nid
    }
    root.put("default-sort-order-id", oid)
  }

  /** Mutate a metadata root in place: bump watermark fields and add
    * the snapshot + log entry (shared by append/overwrite and
    * deleteWhere commits).
    */
  private[tables] def appendSnapshotToRoot(
      root: ObjectNode,
      snapshotId: Long,
      seq: Long,
      nowMs: Long,
      listPath: Path,
      operation: String,
      summaryExtras: Seq[(String, String)],
      branch: Option[String] = None,
      parentId: Option[Long] = None
  ): Unit = {
    if (!root.has("snapshot-log")) root.set[ObjectNode]("snapshot-log", mapper.createArrayNode())
    root.put("last-updated-ms", nowMs)
    root.put("last-sequence-number", seq)
    branch match {
      case None =>
        root.put("current-snapshot-id", snapshotId)
      case Some(b) =>
        // branch commit: main's head does not move — only the branch
        // ref advances (the snapshot stays reachable through it)
        val refsNode = root.path("refs") match {
          case o: ObjectNode => o
          case _ =>
            val o = mapper.createObjectNode()
            root.set[ObjectNode]("refs", o)
            o
        }
        val entry = mapper.createObjectNode()
        entry.put("snapshot-id", snapshotId)
        entry.put("type", "branch")
        refsNode.set[ObjectNode](b, entry)
    }
    val sn = mapper.createObjectNode()
    sn.put("snapshot-id", snapshotId)
    parentId.foreach(p => sn.put("parent-snapshot-id", p))
    sn.put("sequence-number", seq)
    sn.put("timestamp-ms", nowMs)
    sn.put("manifest-list", listPath.toString)
    sn.put("schema-id", root.path("current-schema-id").asInt(0))
    val summary = mapper.createObjectNode()
    summary.put("operation", operation)
    summaryExtras.foreach { case (k, v) => summary.put(k, v) }
    sn.set[ObjectNode]("summary", summary)
    root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots").add(sn)
    // snapshot-log is the history of current-snapshot-id per the
    // spec — branch commits don't move it, so they don't log
    if (branch.isEmpty) {
      val logEntry = mapper.createObjectNode()
      logEntry.put("timestamp-ms", nowMs)
      logEntry.put("snapshot-id", snapshotId)
      root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshot-log").add(logEntry)
    }
  }

  // ------------------------------------------------------ internals

  /** Spec-legal primitive type promotions (Iceberg schema evolution):
    * int→long and float→double. Readers upcast old files in the
    * parquet scan (the same widening Delta R41 leans on).
    */
  private def promotes(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = (from, to) match {
    case (org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType) => true
    case (org.apache.spark.sql.types.FloatType, org.apache.spark.sql.types.DoubleType) => true
    case _ => false
  }

  private[tables] final case class StagedFile(
      path: String,
      size: Long,
      recordCount: Long,
      partitionValues: Map[String, Option[String]],
      /** Per-data-column min/max/null-count from the staging job —
        * becomes the manifest's lower/upper_bounds + null_value_counts
        * ([[IcebergStats]]); empty for delete-file staging.
        */
      colStats: Map[String, LakeFiles.ColumnStats] = Map.empty,
      /** Manifest file_format: native staging always writes PARQUET;
        * [[addFiles]] imports keep their source encoding (ORC/AVRO).
        */
      fileFormat: String = "PARQUET")

  /** Write `df` under a staging dir, compute per-file record counts
    * in ONE grouped job, then move files under `data/`.
    */
  /** One requested partition field: the Iceberg spec-field `name`
    * (upstream builder naming — `col`, `col_bucket`, `col_trunc`,
    * `col_year/_month/_day/_hour`), the spec `transform` string, and
    * the source column.
    */
  private[tables] final case class ReqSpecField(
      name: String, transform: String, sourceCol: String)

  private val BucketArgRe = """bucket\(\s*(\d+)\s*,\s*([^)\s]+)\s*\)""".r
  private val TruncArgRe = """truncate\(\s*(\d+)\s*,\s*([^)\s]+)\s*\)""".r
  private val UnaryArgRe = """(years?|months?|days?|hours?)\(\s*([^)\s]+)\s*\)""".r

  /** Parse one `partitionBy` entry: a bare column name is identity;
    * `days(ts)`, `bucket(16, id)`, `truncate(4, v)` etc. request the
    * Iceberg partition transforms.
    */
  private[tables] def parsePartitionField(s: String): ReqSpecField = s.trim match {
    case BucketArgRe(n, c) => ReqSpecField(s"${c}_bucket", s"bucket[$n]", c)
    case TruncArgRe(w, c)  => ReqSpecField(s"${c}_trunc", s"truncate[$w]", c)
    case UnaryArgRe(t, c)  =>
      val canon = t.stripSuffix("s")
      ReqSpecField(s"${c}_$canon", canon, c)
    case c => ReqSpecField(c, "identity", c)
  }

  private val BucketN = "bucket\\[(\\d+)\\]".r
  private val TruncW = "truncate\\[(\\d+)\\]".r

  /** Manifest partition-tuple type of a transform output. */
  private[tables] def transformResultType(
      transform: String,
      src: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    transform match {
      case "identity" => src
      case "day" => DateType
      case "year" | "month" | "hour" => IntegerType
      case BucketN(_) => IntegerType
      case TruncW(_) => src
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform $other for writing")
    }
  }

  /** Staging column computing the transform output — the SAME
    * definitions [[IcebergTransforms]] prunes reads with, expressed
    * over Spark built-ins (plus the native [[graft.functions
    * .IcebergBucket]] murmur3 expression), so writer placement and
    * reader pruning can never disagree.
    */
  private[tables] def transformColumn(
      transform: String,
      src: org.apache.spark.sql.types.StructField): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{month, pmod, substring, to_date, year}
    import org.apache.spark.sql.types._
    val c = col(src.name)
    (transform, src.dataType) match {
      case ("identity", _) => c
      case ("day", DateType) => c
      case ("day", TimestampType | TimestampNTZType) => to_date(c)
      case ("year", DateType | TimestampType | TimestampNTZType) =>
        (year(c) - lit(1970)).cast(IntegerType)
      case ("month", DateType | TimestampType | TimestampNTZType) =>
        ((year(c) - lit(1970)) * lit(12) + month(c) - lit(1)).cast(IntegerType)
      case ("hour", TimestampType | TimestampNTZType) =>
        // exact long floor-division via pmod (no double rounding)
        locally {
          val us = graft.functions.TimeFns.tsUs(c)
          ((us - pmod(us, lit(3600000000L))) / lit(3600000000L)).cast(IntegerType)
        }
      case (BucketN(n), _) => graft.functions.IcebergBucket(c, n.toInt)
      case (TruncW(w), IntegerType | LongType | ShortType | ByteType) =>
        (c - pmod(c, lit(w.toLong))).cast(src.dataType)
      case (TruncW(w), StringType) => substring(c, 1, w.toInt)
      case (t, dt) => throw new UnsupportedOperationException(
        s"partition transform $t is unsupported for ${dt.simpleString} column ${src.name} on write")
    }
  }

  /** Write `df` as data files under `table/data` and return them with
    * their record counts and the per-column min/max/null-counts that
    * become the manifest's bounds ([[IcebergStats]]), collected inside
    * the write tasks. Data columns only: partition values prune via
    * the partition tuple already.
    */
  private[tables] def stage(
      spark: SparkSession,
      df: DataFrame,
      fs: FileSystem,
      table: Path,
      partCols: Seq[String]
  ): Seq[StagedFile] = {
    val staging = new Path(table,
      s"_staging_iceberg_${java.util.UUID.randomUUID().toString.take(8)}")
    val statsCols = df.schema.fields
      .filter(f => !partCols.contains(f.name) && IcebergStats.eligible(f.dataType))
      .map(_.name).toSeq
    val out = LakeFiles.writeStaged(spark, df, staging, partCols, statsCols).map { f =>
      val dest = new Path(table, s"data/${f.relPath}")
      fs.mkdirs(dest.getParent)
      if (!fs.rename(new Path(staging, f.relPath), dest))
        throw new IllegalStateException(s"could not move staged file ${f.relPath} to $dest")
      StagedFile(
        dest.toUri.getPath,
        fs.getFileStatus(dest).getLen,
        f.numRecords,
        f.partitionValues,
        colStats = f.columns)
    }
    fs.delete(staging, true)
    out
  }

  /** Highest v<N>.metadata.json by DIRECTORY SCAN — the commit loop
    * must never trust the advisory (possibly stale) version hint.
    */
  private[graft] def latestVersionByScan(fs: FileSystem, metaDir: Path): Option[Int] = {
    if (!fs.exists(metaDir)) return None
    val vs = fs.listStatus(metaDir).map(_.getPath.getName).collect {
      case VersionedMetadata(n) => n.toInt
    }
    if (vs.isEmpty) None else Some(vs.max)
  }

  private val VersionedMetadata = "v(\\d+)\\.metadata\\.json".r

  private[tables] def readRoot(fs: FileSystem, metaDir: Path, v: Int): JsonNode = {
    val in = fs.open(new Path(metaDir, s"v$v.metadata.json"))
    try mapper.readTree(in) finally in.close()
  }

  /** The base metadata's current snapshot's manifest-list records
    * (empty when the base has no current snapshot).
    */
  private def currentManifestList(fs: FileSystem, root: JsonNode): Seq[GenericRecord] =
    manifestListOf(fs, root, root.path("current-snapshot-id").asLong(-1L))

  private def manifestListOf(fs: FileSystem, root: JsonNode, id: Long): Seq[GenericRecord] = {
    if (id < 0) return Seq.empty
    IcebergMeta.elements(root.path("snapshots"))
      .find(_.path("snapshot-id").asLong() == id)
      .map(sn => IcebergMeta.readAvro(fs, new Path(sn.path("manifest-list").asText())))
      .getOrElse(Seq.empty)
  }

  /** The snapshot id a commit bases on: the branch head when writing
    * to an existing branch (refusing tags), else the current (main)
    * head; a missing branch forks from the current head.
    */
  private def headIdFor(root: JsonNode, branch: Option[String]): Long = {
    val cur = root.path("current-snapshot-id").asLong(-1L)
    branch match {
      case Some(b) if root.path("refs").has(b) =>
        val e = root.path("refs").path(b)
        require(e.path("type").asText("branch") == "branch",
          s"ref '$b' is a ${e.path("type").asText()}, not a writable branch")
        e.path("snapshot-id").asLong()
      case _ => cur
    }
  }
}

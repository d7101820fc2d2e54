package graft.tables

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Iceberg table maintenance: snapshot expiration and orphan-file
  * removal — the Iceberg half of the engine's lakehouse-janitor
  * surface (Delta's is OPTIMIZE/VACUUM, R28/R45).
  *
  * Both operations follow the public Iceberg semantics
  * (ExpireSnapshots / DeleteOrphanFiles actions):
  *
  *  - [[expireSnapshots]] retires old snapshots from the metadata via
  *    the same PUT-IF-ABSENT versioned-JSON commit loop the writer
  *    uses (a racing append and an expire can both land; neither is
  *    dropped), then deletes the files ONLY expired snapshots
  *    reference: their manifest lists, manifests no retained snapshot
  *    carries, and — for natively-owned tables — data/delete files
  *    unreachable from every retained snapshot. On a Delta-owned
  *    table (UniForm export) data files belong to the DELTA log and
  *    its VACUUM; expiration prunes Iceberg metadata only.
  *  - [[removeOrphanFiles]] deletes files under the table location
  *    that no snapshot references and that are older than the cutoff
  *    (protecting in-flight writes) — crashed staging dirs, files
  *    from failed commits.
  *
  * Scale shape: only MANIFEST-level reachability (manifest lists +
  * manifest paths, O(manifests)) is driver work. CONTENT-file
  * reachability — O(files), the set that outgrows a driver at 10⁷
  * files — is a distributed dataset end-to-end: manifest paths
  * parallelize, executors read the Avro entries, and both expire's
  * dead-diff and orphan removal's keep-check are anti-diffs
  * (`except`) between datasets, mirroring the distributed VACUUM
  * discipline (R45). The orphan LISTING and all DELETE passes are
  * Spark jobs too; [[IcebergMeta.driverContentFilePlans]] stays flat
  * across maintenance (spec-asserted).
  */
object IcebergMaintenance {

  private def intOf(r: org.apache.avro.generic.GenericRecord, f: String, d: Int): Int =
    Option(r.get(f)).map(_.asInstanceOf[Number].intValue()).getOrElse(d)
  private def longOf(r: org.apache.avro.generic.GenericRecord, f: String): Option[Long] =
    Option(r.get(f)).map(_.asInstanceOf[Number].longValue())

  /** REWRITE MANIFESTS (the public `rewrite_manifests` maintenance
    * action): consolidate the current snapshot's DATA manifests into
    * ONE manifest per partition spec — planning cost is O(manifests
    * opened), and a long append history leaves hundreds of tiny
    * manifests that dominate it. Entries rewrite as status=EXISTING
    * with their sequence numbers MATERIALIZED (inherited seqs pinned
    * before the manifest they inherited from disappears), so
    * seq-gated position/equality deletes keep applying exactly as
    * before; delete manifests carry verbatim. Data files are
    * untouched — this is a metadata-only commit through the same
    * put-if-absent loop as every writer. Returns the new snapshot
    * id, or None when there is nothing to consolidate.
    */
  def rewriteManifests(spark: SparkSession, tablePath: String): Option[Long] = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(table, "metadata")
    IcebergWrite.publishLoop(fs, metaDir, tablePath, "rewriteManifests") { (_, baseRoot) =>
      val root = baseRoot
        .getOrElse(throw new IllegalArgumentException(s"no Iceberg metadata under $metaDir"))
      val meta = IcebergMeta.parse(root, tablePath)
      val current = meta.currentSnapshotId.flatMap(id => meta.snapshots.find(_.id == id))
      val (dataManifests, deleteManifests) = current.toSeq
        .flatMap(s => IcebergMeta.readAvro(fs, new Path(s.manifestList)))
        .partition(m => intOf(m, "content", 0) == 0)
      // one data manifest (or none) is already consolidated: no commit
      current.filter(_ => dataManifests.size > 1).map { snap =>
        val uuid = java.util.UUID.randomUUID().toString
        val nowMs = System.currentTimeMillis()
        val snapshotId = meta.snapshots.map(_.id).maxOption.getOrElse(0L) + 1
        val seq = root.path("last-sequence-number").asLong(0L) + 1

        // one consolidated manifest per spec id
        val bySpec = dataManifests.groupBy(m => intOf(m, "partition_spec_id", 0))
        val newManifests = bySpec.toSeq.sortBy(_._1).map { case (specId, group) =>
          val spec = meta.specs.getOrElse(specId, throw new IllegalArgumentException(
            s"manifest references unknown partition spec $specId in $tablePath"))
          val partFields = spec.map { sf =>
            val srcName = meta.schemaFieldIds.getOrElse(sf.sourceId,
              throw new IllegalArgumentException(
                s"spec $specId field ${sf.name} references dropped column id ${sf.sourceId}"))
            val srcType = meta.schema.fields.find(_.name == srcName).map(_.dataType)
              .getOrElse(throw new IllegalArgumentException(
                s"spec $specId source column $srcName missing from the current schema"))
            org.apache.spark.sql.types.StructField(sf.name,
              IcebergWrite.transformResultType(sf.transform, srcType))
          }
          IcebergManifests.write(fs,
            new Path(metaDir, s"manifest-rw-$snapshotId-$specId-$uuid.avro"),
            IcebergManifests.manifestEntrySchema(partFields, spec.map(_.fieldId)),
            IcebergManifests.formatOf(root, Some(specId)),
            deletes = false, snapshotId, seq) { w =>
            group.foreach { m =>
              val mSeq = longOf(m, "sequence_number").getOrElse(0L)
              IcebergMeta.readAvro(fs, new Path(m.get("manifest_path").toString)).foreach { e =>
                if (intOf(e, "status", 0) != 2) w.addExisting(e, mSeq, snap.id)
              }
            }
          }
        }

        // manifest list: consolidated data manifests + delete manifests
        val listPath = new Path(metaDir, s"snap-$snapshotId-$uuid.avro")
        IcebergManifests.writeList(fs, listPath,
          newManifests.map(IcebergManifests.listRow) ++
            deleteManifests.map(IcebergManifests.copyListRecord))

        val root2 = root.deepCopy[ObjectNode]()
        IcebergWrite.appendSnapshotToRoot(root2, snapshotId, seq, nowMs, listPath,
          operation = "replace",
          summaryExtras = Seq(
            "manifests-replaced" -> dataManifests.size.toString,
            "manifests-created" -> newManifests.size.toString),
          parentId = Option(root.path("current-snapshot-id").asLong(-1L)).filter(_ >= 0))
        (root2, newManifests.map(_.path) :+ listPath, snapshotId)
      }
    }
  }

  /** METADATA a snapshot set pins — manifest lists and manifest
    * paths, O(manifests) driver work. Content-file reachability is
    * deliberately NOT here: content paths are O(files), not
    * O(metadata), so they only ever exist as the distributed
    * [[contentPaths]] dataset (the R45/R39 discipline; Delta's
    * distributed VACUUM active set is the same shape).
    */
  private final case class MetaReachable(manifestLists: Set[String], manifests: Set[String])

  private def metaReachable(
      fs: FileSystem, snapshots: Seq[IcebergMeta.SnapshotInfo]): MetaReachable = {
    val lists = snapshots.map(_.manifestList).toSet
    val manifests = snapshots.flatMap { s =>
      IcebergMeta.readAvro(fs, new Path(s.manifestList)).map(_.get("manifest_path").toString)
    }.toSet
    MetaReachable(lists, manifests)
  }

  /** The content-file paths (URI-path normalized) the given manifests
    * carry, as a DISTRIBUTED dataset: manifest paths parallelize,
    * each executor task reads its manifests' Avro entries — at the
    * 10⁷-file scale the file set never touches the driver
    * ([[IcebergMeta.driverContentFilePlans]] stays flat; the
    * maintenance spec asserts it).
    */
  private def contentPaths(
      spark: SparkSession, manifests: Seq[String]): org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    val distinct = manifests.distinct
    if (distinct.isEmpty) return spark.emptyDataset[String]
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.sparkContext
      .parallelize(distinct, math.max(1, math.min(distinct.size, 32)))
      .flatMap { m =>
        val p = new Path(m)
        IcebergMeta.manifestContentPaths(p.getFileSystem(conf.value), p)
          .map(cp => new Path(cp).toUri.getPath)
      }.toDS()
  }

  private def distributedDelete(spark: SparkSession, tableRoot: String, paths: Seq[String]): Unit =
    if (paths.nonEmpty) {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext
        .parallelize(paths, math.max(1, math.min(paths.size, 32)))
        .foreachPartition { it =>
          val fs = new Path(tableRoot).getFileSystem(conf.value)
          it.foreach(p => fs.delete(new Path(p), false))
        }
    }

  /** Compaction (the public `rewrite_data_files` action): read the
    * CURRENT snapshot through the reader — position/equality deletes
    * applied — and overwrite the table with the merged rows, so the
    * new snapshot carries plain data files and no delete files. The
    * merge-on-read debt ([[IcebergWrite.deleteWhere]]) is paid here
    * once, instead of on every read; afterwards
    * [[expireSnapshots]] reclaims the old files and
    * [[DeltaConvert.fromIceberg]] (which refuses delete-carrying
    * snapshots) accepts the table. Returns the committed snapshot id.
    */
  /** `zorderBy`: rewrite with rows laid on the Morton curve of the
    * given columns within each partition (the upstream sort-strategy
    * z-order rewrite; Delta OPTIMIZE ZORDER / Hudi zorder clustering
    * analog) — per-file min/max stats become selective in every
    * z-ordered dimension at once. The sort is staged
    * sortWithinPartitions with partition columns leading, so the
    * writer inserts no tie-reordering sort of its own.
    */
  def rewriteDataFiles(
      spark: SparkSession,
      tablePath: String,
      where: graft.core.Filters.Normalized = Seq.empty,
      zorderBy: Seq[String] = Nil
  ): Long = {
    if (where.nonEmpty) return scopedRewrite(spark, tablePath, where, zorderBy)
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = IcebergMeta.load(fs, tablePath)
    val spec = meta.specs.getOrElse(meta.defaultSpecId, Seq.empty)
    require(spec.forall(_.transform == "identity"),
      "rewrite_data_files supports identity partition specs only")
    val partCols = spec.map(_.name)
    val current = new IcebergTable("compact", tablePath)(spark, ReadArgs.empty)
      .select(meta.schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    IcebergWrite.overwrite(spark,
      zorderSorted(current, partCols, zorderBy), tablePath, partCols,
      operation = Some("replace"))
  }

  /** Rows routed one-reducer-per-partition and z-sorted within it (a
    * no-op pass-through when no z-order columns are given).
    */
  private def zorderSorted(
      df: org.apache.spark.sql.DataFrame,
      partCols: Seq[String],
      zorderBy: Seq[String]
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    if (zorderBy.isEmpty) return df
    val routed =
      if (partCols.isEmpty) df.repartition(1) else df.repartition(partCols.map(col): _*)
    routed
      .withColumn("_graft_zval", graft.operators.ZOrder.zvalue(df, zorderBy))
      .sortWithinPartitions((partCols.map(col) :+ col("_graft_zval")): _*)
      .drop("_graft_zval")
  }

  /** SCOPED compaction (`rewrite_data_files` with a filter): rewrite
    * only the data files of PARTITIONS matching `where`, carrying
    * every other file untouched — at 100 TB you compact yesterday's
    * partition, not the table (the Delta OPTIMIZE WHERE counterpart).
    * The filter must reference identity partition columns only, so
    * file selection is exact, never may-match. Untouched manifests
    * carry verbatim into the new snapshot's list; manifests that lose
    * files are rewritten with their kept entries as EXISTING (per-
    * entry sequence numbers preserved); the compacted rows land as
    * ADDED entries of one fresh manifest. Declared limits, refused
    * loudly: a delete-carrying snapshot (run the unscoped rewrite
    * first — it pays the merge-on-read debt) and multi-spec file
    * generations.
    */
  private def scopedRewrite(
      spark: SparkSession,
      tablePath: String,
      where: graft.core.Filters.Normalized,
      zorderBy: Seq[String] = Nil
  ): Long = {
    import org.apache.spark.sql.functions._
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(table, "metadata")
    val baseV0 = IcebergWrite.latestVersionByScan(fs, metaDir)
      .getOrElse(throw new IllegalArgumentException(s"no Iceberg metadata under $metaDir"))
    val meta0 = IcebergMeta.parse(IcebergWrite.readRoot(fs, metaDir, baseV0), tablePath)
    val snap0 = meta0.currentSnapshotId
      .flatMap(id => meta0.snapshots.find(_.id == id))
      .getOrElse(throw new IllegalArgumentException(s"$tablePath has no current snapshot"))
    val spec = meta0.specs.getOrElse(meta0.defaultSpecId, Seq.empty)
    require(spec.nonEmpty && spec.forall(_.transform == "identity"),
      "scoped rewrite_data_files supports identity partition specs only")
    val partCols = spec.map(_.name)
    val bad = where.flatten.map(_.column).distinct.filterNot(partCols.contains)
    require(bad.isEmpty,
      s"rewrite filter must reference partition columns only; got ${bad.mkString(", ")}")
    val partFields = partCols.map(c => meta0.schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"partition column $c missing from the schema")))

    val all0 = IcebergMeta.planFiles(fs, snap0)
    require(!all0.exists(_.content != 0),
      s"scoped rewrite requires a delete-free snapshot at $tablePath; run " +
        "rewriteDataFiles without a filter first (it pays the merge-on-read debt)")
    require(all0.forall(_.specId == meta0.defaultSpecId),
      "scoped rewrite requires every file under the current partition spec; " +
        "run the unscoped rewrite to unify spec generations first")
    val inScope = all0.filter(f => IcebergMeta.mayMatch(f, spec, meta0, where))
    // a single file is already compact — but a z-order request must
    // still rewrite it (the layout, not the file count, is the goal)
    if (inScope.isEmpty || (inScope.size == 1 && zorderBy.isEmpty)) return snap0.id
    val scopePaths = inScope.map(_.path).toSet

    // ---- read in-scope rows once; partition columns re-attached from
    // the manifest tuples (graft-staged hive files don't store them);
    // one output file per partition — the compaction goal ----
    // r15: the compaction scan follows the read path's field-id
    // discipline (id-bearing files via the stamped schema — renamed /
    // physical-name columns keep their values through the rewrite;
    // id-less files by name, refused on renamed tables): an
    // inferred-schema read would silently null-fill a renamed column
    // INTO the rewritten files — data loss, not just a wrong read
    var rows: org.apache.spark.sql.DataFrame =
      IcebergTable
        .writerSplitScan(spark, meta0, inScope, tablePath)(
          _.withColumn("_rw_path", PathNorm.normalizeCol(col("_metadata.file_path"))))
    partFields.foreach { pf =>
      val m: Map[String, String] = inScope.map(f =>
        PathNorm.normalize(f.path) ->
          IcebergWrite.renderPartition(pf.dataType, f.partition.get(pf.name).orNull)).toMap
      val attached = element_at(typedLit(m), col("_rw_path")).cast(pf.dataType)
      rows = rows.withColumn(pf.name, coalesce(col(pf.name), attached))
    }
    val stagingDf = zorderSorted(
      rows.select(
        meta0.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
        .repartition(partCols.map(col): _*),
      partCols, zorderBy)
    val staged = IcebergWrite.stage(spark, stagingDf, fs, table, partCols)

    val entryPartFields = spec.map { sf =>
      val srcName = meta0.schemaFieldIds.getOrElse(sf.sourceId, sf.name)
      val srcType = meta0.schema.fields.find(_.name == srcName).get.dataType
      org.apache.spark.sql.types.StructField(sf.name,
        IcebergWrite.transformResultType(sf.transform, srcType))
    }

    replaceFilesCommit(fs, tablePath, metaDir, scopePaths, staged,
      spec0 = spec, specId0 = meta0.defaultSpecId,
      partFields = partFields, entryPartFields = entryPartFields,
      operation = "replace",
      summaryExtras = Seq(
        "rewritten-data-files" -> scopePaths.size.toString,
        "added-data-files" -> staged.size.toString),
      // the staged rows must still be the truth for the in-scope
      // files: a concurrent delete/overwrite voids the compaction plan
      validateBase = (_, cur) =>
        if (cur.exists(_.content != 0)) Some("a delete file appeared")
        else if (!scopePaths.subsetOf(cur.filter(_.content == 0).map(_.path).toSet))
          Some("an in-scope file was rewritten")
        else None,
      what = "the scoped rewrite")
  }

  /** The shared REPLACE commit behind [[scopedRewrite]] and
    * [[IcebergWrite.updateWhere]]: one snapshot that drops
    * `scopePaths` and adds `staged` — untouched manifests carry
    * verbatim into the new manifest list (delete manifests always
    * carry: their entries are delete files, never in scope), manifests
    * that lose files are rewritten with kept entries as EXISTING
    * (per-entry sequence numbers preserved), and the staged files land
    * as ADDED entries of one fresh manifest at the new sequence
    * number. Each optimistic attempt of [[IcebergWrite.publishLoop]]
    * re-validates against the freshest base: the built-in spec-stability check plus the
    * caller's `validateBase` (Some(reason) aborts loudly — never a
    * silent no-op).
    */
  private[tables] def replaceFilesCommit(
      fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String,
      metaDir: Path,
      scopePaths: Set[String],
      staged: Seq[IcebergWrite.StagedFile],
      spec0: Seq[IcebergMeta.SpecField],
      specId0: Int,
      partFields: Seq[org.apache.spark.sql.types.StructField],
      entryPartFields: Seq[org.apache.spark.sql.types.StructField],
      operation: String,
      summaryExtras: Seq[(String, String)],
      validateBase: (IcebergMeta.TableMeta, Seq[IcebergMeta.ContentFile]) => Option[String],
      what: String
  ): Long =
    try IcebergWrite.publishLoop(fs, metaDir, tablePath, what) { (_, baseRoot) =>
      val root = baseRoot
        .getOrElse(throw new IllegalArgumentException(s"no Iceberg metadata under $metaDir"))
      val meta = IcebergMeta.parse(root, tablePath)
      val snap = meta.currentSnapshotId
        .flatMap(id => meta.snapshots.find(_.id == id))
        .getOrElse(throw new IllegalStateException(s"$tablePath lost its current snapshot"))
      // the spec must not have evolved: the staged partition records
      // and field ids were minted under the planning spec — stamping
      // them with a new default-spec-id would bind partition tuples
      // to the wrong spec
      val cur = IcebergMeta.planFiles(fs, snap)
      def abortStale(why: String): Nothing =
        throw new java.util.ConcurrentModificationException(
          s"a concurrent commit invalidated $what on $tablePath ($why); " +
            "replan against the new snapshot")
      if (meta.defaultSpecId != specId0 ||
        meta.specs.getOrElse(meta.defaultSpecId, Seq.empty) != spec0)
        abortStale("the partition spec evolved")
      validateBase(meta, cur).foreach(abortStale)

      val uuid = java.util.UUID.randomUUID().toString
      val nowMs = System.currentTimeMillis()
      val snapshotId = meta.snapshots.map(_.id).maxOption.getOrElse(0L) + 1
      val seq = root.path("last-sequence-number").asLong(0L) + 1
      val entrySchema = IcebergManifests.manifestEntrySchema(
        entryPartFields, spec0.map(_.fieldId))
      val format = IcebergManifests.formatOf(root)
      def writeManifest(name: String)(body: IcebergManifests.ManifestWriter => Unit) =
        IcebergManifests.write(fs, new Path(metaDir, name), entrySchema, format,
          deletes = false, snapshotId, seq)(body)

      // the compacted rows: one fresh ADDED manifest
      val added = writeManifest(s"manifest-cp-$snapshotId-$uuid.avro") { w =>
        staged.foreach(w.addStaged(_, partFields))
      }

      // carried list rows: untouched manifests verbatim; manifests
      // losing files rewritten with kept entries as EXISTING
      val carried: Seq[(org.apache.avro.generic.GenericRecord, Option[Path])] =
        IcebergMeta.readAvro(fs, new Path(snap.manifestList)).zipWithIndex.flatMap { case (m, i) =>
          val mSeq = longOf(m, "sequence_number").getOrElse(0L)
          val entries = IcebergMeta.readAvro(fs, new Path(m.get("manifest_path").toString))
            .filter(e => intOf(e, "status", 0) != 2)
          val (dropped, kept) = entries.partition { e =>
            val df = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
            scopePaths.contains(df.get("file_path").toString)
          }
          if (dropped.isEmpty) // untouched: carry verbatim
            Some((IcebergManifests.copyListRecord(m), None))
          else if (kept.nonEmpty) { // rewrite with survivors
            val rw = writeManifest(s"manifest-cp-keep-$snapshotId-$uuid-$i.avro") { w =>
              kept.foreach(w.addExisting(_, mSeq, snap.id))
            }
            Some((IcebergManifests.listRow(rw), Some(rw.path)))
          } else None // fully-rewritten manifest: simply not carried
        }
      val listPath = new Path(metaDir, s"snap-$snapshotId-$uuid.avro")
      IcebergManifests.writeList(fs, listPath,
        IcebergManifests.listRow(added) +: carried.map(_._1))

      val root2 = root.deepCopy[ObjectNode]()
      IcebergWrite.appendSnapshotToRoot(root2, snapshotId, seq, nowMs, listPath,
        operation = operation,
        summaryExtras = summaryExtras,
        parentId = Option(root.path("current-snapshot-id").asLong(-1L)).filter(_ >= 0))
      Some((root2, (added.path +: carried.flatMap(_._2)) :+ listPath, snapshotId))
    }.get
    catch {
      // a stale plan or lost retries: the staged files will never be
      // referenced
      case e: java.util.ConcurrentModificationException =>
        staged.foreach(sf => fs.delete(new Path(sf.path), false))
        throw e
    }

  /** Time-based retention (the upstream `expireOlderThan` shape):
    * retire snapshots whose commit timestamp is before `olderThanMs`,
    * always keeping the current snapshot and ref-pinned ones.
    */
  def expireSnapshotsOlderThan(
      spark: SparkSession, tablePath: String, olderThanMs: Long): Seq[Long] = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = IcebergMeta.load(fs, tablePath)
    // translate the cutoff into a keep-count: snapshots at/after the
    // cutoff all survive, so keepLast = their count (≥1 for current)
    val keep = math.max(1, meta.snapshots.count(_.timestampMs >= olderThanMs))
    expireSnapshots(spark, tablePath, keep)
  }

  /** Retire all but the newest `keepLast` snapshots (the current
    * snapshot is always retained). Returns the expired snapshot ids;
    * no-op (no new metadata version) when nothing expires.
    */
  def expireSnapshots(spark: SparkSession, tablePath: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(table, "metadata")
    val deltaOwned = fs.exists(new Path(table, "_delta_log"))

    IcebergWrite.publishLoop(fs, metaDir, tablePath, "expire") { (_, baseRoot) =>
      val root = baseRoot
        .getOrElse(throw new IllegalArgumentException(s"no Iceberg metadata under $metaDir"))
        .deepCopy[ObjectNode]()
      val meta = IcebergMeta.parse(root, tablePath)

      val ordered = meta.snapshots.sortBy(s => (s.timestampMs, s.id))
      // ref-pinned snapshots (tags/branches) survive regardless of
      // the retention count — a tag IS the request to keep it
      val keepIds = (ordered.takeRight(keepLast).map(_.id) ++
        meta.currentSnapshotId ++ meta.refs.values.map(_.snapshotId)).toSet
      val (retained, expired) = ordered.partition(s => keepIds.contains(s.id))
      Option.when(expired.nonEmpty) {
        val expiredIds = expired.map(_.id).toSet
        def prune(field: String, idField: String): Unit = root.path(field) match {
          case arr: ArrayNode =>
            val kept = IcebergMeta.elements(arr)
              .filterNot(n => expiredIds.contains(n.path(idField).asLong()))
            arr.removeAll()
            kept.foreach(arr.add)
          case _ => ()
        }
        prune("snapshots", "snapshot-id")
        prune("snapshot-log", "snapshot-id")
        root.put("last-updated-ms", System.currentTimeMillis())
        (root, Nil, (retained, expired))
      }
    }.fold(Seq.empty[Long]) { case (retained, expired) =>
      // ---- physical cleanup: only what NO retained snapshot pins.
      // Shared files are the norm (append carries manifests forward)
      // — the set difference, not the expired set, is what deletes.
      val live = metaReachable(fs, retained)
      val dead = metaReachable(fs, expired)
      val deadLists = (dead.manifestLists -- live.manifestLists).toSeq
      val deadManifests = (dead.manifests -- live.manifests).toSeq
      if (!deltaOwned) { // Delta VACUUM owns a Delta-owned table's data
        // content diff runs distributed end-to-end: a manifest the
        // live side shares contributes nothing (all its files are
        // live), so only dead-ONLY manifests are even read; the
        // anti-diff against every live manifest's files catches
        // file-level sharing across rewritten manifests. Content
        // deletes MUST land before the manifests they were read
        // from are deleted (except is lazy until foreachPartition).
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        contentPaths(spark, deadManifests)
          .except(contentPaths(spark, live.manifests.toSeq))
          .foreachPartition { (it: Iterator[String]) =>
            val dfs = new Path(tablePath).getFileSystem(conf.value)
            it.foreach(p => dfs.delete(new Path(p), false))
          }
      }
      distributedDelete(spark, tablePath, deadLists ++ deadManifests)
      expired.map(_.id)
    }
  }

  /** Delete files under the table location that no snapshot of the
    * CURRENT metadata references and whose modification time is older
    * than `olderThanMs` (protects in-flight commits and stages).
    * Metadata versions, manifests and the version hint are always
    * kept. Returns the deleted paths.
    *
    * Refuses Delta-owned tables: there the Delta log is the source of
    * truth and [[DeltaWrite.vacuum]] is the janitor.
    */
  def removeOrphanFiles(
      spark: SparkSession, tablePath: String, olderThanMs: Long,
      /** Report the orphan paths without deleting anything. */
      dryRun: Boolean = false): Seq[String] = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(table, "_delta_log")),
      s"$tablePath is Delta-owned; orphan cleanup belongs to DeltaWrite.vacuum")
    val metaDir = new Path(table, "metadata")
    require(fs.exists(metaDir), s"no Iceberg metadata under $metaDir")

    val meta = IcebergMeta.load(fs, tablePath)
    val live = metaReachable(fs, meta.snapshots)
    val metaFiles = fs.listStatus(metaDir).map(_.getPath.toUri.getPath).toSet
    // METADATA keep-set only — O(manifests), broadcastable by design.
    // Content files are the O(files) side and stay a distributed
    // anti-join below, never a driver set.
    val keepMeta: Set[String] =
      live.manifestLists.map(p => new Path(p).toUri.getPath) ++
        live.manifests.map(p => new Path(p).toUri.getPath) ++
        metaFiles

    // candidate dirs driver-side at DIRECTORY granularity (R45's BFS
    // shape); per-dir file listing + age filter run executor-side
    val dirs = scala.collection.mutable.ArrayBuffer[String]()
    def bfs(p: Path): Unit = {
      dirs += p.toString
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory && st.getPath.getName != "metadata") bfs(st.getPath)
      }
    }
    bfs(table)

    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val keepB = spark.sparkContext.broadcast(keepMeta)
    val cutoff = olderThanMs
    import spark.implicits._
    val candidates = spark.sparkContext
      .parallelize(dirs.toSeq, math.max(1, math.min(dirs.size, 32)))
      .flatMap { d =>
        val dfs = new Path(d).getFileSystem(conf.value)
        dfs.listStatus(new Path(d)).iterator
          .filter(st => st.isFile && st.getModificationTime < cutoff &&
            !keepB.value.contains(st.getPath.toUri.getPath))
          .map(_.getPath.toUri.getPath).toSeq
      }.toDS()
    // referenced content files drop out via distributed anti-diff;
    // what survives is orphaned by definition (and aged past cutoff)
    val orphans = candidates.except(contentPaths(spark, live.manifests.toSeq))
    if (dryRun) return orphans.collect().toSeq
    val deleted = orphans
      .mapPartitions { it =>
        val dfs = new Path(tablePath).getFileSystem(conf.value)
        it.map { p => dfs.delete(new Path(p), false); p }
      }
      .collect().toSeq

    // sweep aged staging dirs that hold no files (bounded by the dir
    // list). "No files" is checked RECURSIVELY — a crashed partitioned
    // append leaves `_staging_iceberg_x/part=0/` whose direct listing
    // stays non-empty (the subdir) even after its orphan parquet was
    // deleted above, so a shallow isEmpty check would keep it forever.
    // The age guard protects an in-flight write that has made dirs but
    // not yet written files.
    dirs.toSeq.reverse.foreach { d =>
      val p = new Path(d)
      if (p.getName.startsWith("_staging_iceberg_") && fs.exists(p) &&
        fs.getFileStatus(p).getModificationTime < cutoff &&
        !fs.listFiles(p, true).hasNext) fs.delete(p, true)
    }
    deleted
  }
}

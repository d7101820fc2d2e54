package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Native Apache Hudi COPY_ON_WRITE writer (public table spec:
  * hudi.apache.org/tech-specs — `.hoodie/` timeline of instants,
  * base files named `<fileId>_<writeToken>_<instantTime>.parquet`,
  * record-key meta columns): the third leg of the lakehouse interop
  * triad (Delta [[DeltaWrite]], Iceberg [[IcebergWrite]], Hudi).
  *
  *  - [[bulkInsert]] creates the table (hoodie.properties) and new
  *    file groups;
  *  - [[upsert]] is the Hudi primitive: merge by record key — file
  *    groups holding matched keys are REWRITTEN at the new instant
  *    (copy-on-write), the old slice stays readable for time travel,
  *    unmatched keys open new file groups per partition.
  *
  * Rows carry the Hudi meta columns `_hoodie_commit_time` and
  * `_hoodie_record_key`; untouched rows KEEP their original commit
  * time through rewrites (the Hudi contract that makes incremental
  * reads — filter on commit time over the latest slices — return
  * exactly the changed rows).
  *
  * Timeline protocol: `<instant>.commit.requested` → `.inflight` →
  * `<instant>.commit` (completion marker) published PUT-IF-ABSENT;
  * a clashing instant re-mints and retries, so two racing writers
  * never share an instant. The commit JSON carries
  * `partitionToWriteStats`, and the READER plans file slices from the
  * timeline alone — no directory listing ([[HudiTable]]).
  *
  * Scale shape: ONE staged distributed write per commit (rows routed
  * to their target file group by a single repartition on fileId); the
  * upsert's key→file-group index is a distributed join against the
  * latest slices (keys never collect); driver work is O(file groups)
  * metadata — the same bound as the Delta/Iceberg paths. Record keys
  * must be globally unique (the simplification vs Hudi's pluggable
  * index: a global unique-key index).
  */
object HudiWrite {

  private val mapper = new ObjectMapper()
  val CommitTimeCol = "_hoodie_commit_time"
  val RecordKeyCol = "_hoodie_record_key"
  private val WriteToken = "0-0-0"

  /** Create the table if absent and write `df` as new file groups.
    * Returns the completed instant time.
    */
  def bulkInsert(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      recordKeyCol: String,
      partitionBy: Seq[String] = Seq.empty,
      tableType: String = "COPY_ON_WRITE",
      txn: Option[(String, Long)] = None
  ): String = {
    require(tableType == "COPY_ON_WRITE" || tableType == "MERGE_ON_READ",
      s"unknown Hudi table type $tableType")
    val (fs, props) = ensureTable(spark, tablePath, recordKeyCol, partitionBy, df, tableType)
    require(props("hoodie.table.recordkey.fields") == recordKeyCol,
      s"table $tablePath has record key ${props("hoodie.table.recordkey.fields")}, got $recordKeyCol")
    // a MOR table's ingest commits are deltacommits (base parquet
    // files for the new groups, logs for updates); COW commits plain
    val action = if (isMor(props)) "deltacommit" else "commit"
    val instant = mintInstant(fs, new Path(tablePath, ".hoodie"), action)
    val prepared = withMeta(df, recordKeyCol, instant)
    val written = stageByGroup(spark, prepared, fs, tablePath, partitionBy,
      instant, freshGroupPerLeaf = true)
    completeCommit(fs, tablePath, instant, "bulkinsert", written,
      actionOverride = Some(action),
      extraMetadata = txnMeta(txn) ++ schemaMeta(df))
    instant
  }

  private[tables] def isMor(props: Map[String, String]): Boolean =
    props.get("hoodie.table.type").contains("MERGE_ON_READ")

  /** Merge `df` into the table by record key (COPY_ON_WRITE):
    * matched keys replace their previous version inside a rewritten
    * file group; unmatched keys start new file groups in their
    * partition. Returns the completed instant time.
    */
  def upsert(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      txn: Option[(String, Long)] = None): String =
    retryOnConflict("upsert", tablePath)(upsertOnce(spark, df, tablePath, txn))

  private def upsertOnce(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      txn: Option[(String, Long)]): String = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val props = readProps(fs, tablePath)
    if (isMor(props)) return morUpsertOnce(spark, df, tablePath, fs, props, txn)
    val keyCol = props("hoodie.table.recordkey.fields")
    val partCols = props.get("hoodie.table.partition.fields")
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty)
    require(df.columns.contains(keyCol), s"upsert frame lacks record key column $keyCol")

    val hoodieDir = new Path(tablePath, ".hoodie")
    val base = completedInstants(fs, tablePath, None).lastOption.map(_._1)
    val slices = latestSlices(fs, tablePath, None)
    val instant = mintInstant(fs, hoodieDir)

    if (slices.isEmpty) {
      val prepared = withMeta(df, keyCol, instant)
      val written = stageByGroup(spark, prepared, fs, tablePath, partCols,
        instant, freshGroupPerLeaf = true)
      completeCommit(fs, tablePath, instant, "upsert", written,
        extraMetadata = txnMeta(txn) ++ schemaMeta(df))
      return instant
    }

    // key → file-group index over the latest slices: a COLUMN-PRUNED
    // distributed scan (record key + file path only; keys never
    // collect), range-pruned to the groups whose recorded key
    // [min,max] overlaps the incoming keys' bounds.
    val incomingKeys = df.select(col(keyCol).cast("string").as("_k")).distinct()
    val affected = affectedGroups(spark, tablePath, slices, incomingKeys,
      keyBounds(df, keyCol))
    // only the affected groups are rewritten (copy-on-write); their
    // rows are the only existing data read in full
    val affectedSlices = slices.filter(sl => affected(sl.fileId))

    val incomingPrepared = withMeta(df, keyCol, instant)
    val dataCols = incomingPrepared.columns.toSeq // meta + data, no _fg

    if (affectedSlices.isEmpty) {
      // pure insert: no groups rewritten, new groups only
      val written = stageByGroup(spark, incomingPrepared, fs, tablePath,
        partCols, instant, freshGroupPerLeaf = true)
      completeCommit(fs, tablePath, instant, "upsert", written,
        extraMetadata = txnMeta(txn) ++ schemaMeta(df))
      return instant
    }

    val affectedRaw = readSlicesMerged(spark, tablePath, affectedSlices, withFg = true)
    // ADDITIVE evolution: the incoming frame may ADD columns — the
    // rewritten groups' pre-existing rows null-fill them, and the
    // commit records the widened writer schema so un-rewritten
    // groups' reads widen too (readSlices declared-schema path).
    // DROPPING a table column refuses loudly: the copy-on-write
    // rewrite would silently lose the column from every surviving
    // row of the affected groups.
    locally {
      val missing = affectedRaw.columns
        .filterNot(c => c == "_fg" || incomingPrepared.columns.contains(c))
      require(missing.isEmpty,
        s"upsert frame is missing table column(s) ${missing.mkString(", ")}: " +
          "upserts may ADD columns, never drop them")
    }
    val affectedDf = incomingPrepared.schema.fields
      .filterNot(f => affectedRaw.columns.contains(f.name))
      .foldLeft(affectedRaw)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
    // a matched key's group is affected by construction, so the
    // affected groups alone decide matched vs unmatched
    val matchedKeys = affectedDf.select(col(RecordKeyCol).as("_k")).distinct()
    val unmatched = incomingPrepared.join(matchedKeys,
      incomingPrepared(RecordKeyCol) === matchedKeys("_k"), "leftanti")
    val matchedIncoming = incomingPrepared.join(matchedKeys,
      incomingPrepared(RecordKeyCol) === matchedKeys("_k"), "leftsemi")

    // new-group minting per partition of unmatched incoming rows:
    // bounded by #partitions
    val newGroupByPart: Map[Seq[String], String] =
      (if (partCols.isEmpty) {
        if (unmatched.isEmpty) Map.empty
        else Map(Seq.empty[String] -> java.util.UUID.randomUUID().toString)
      } else {
        // NULL partition values render as the \u0000 sentinel on BOTH
        // sides of the lookup (concat_ws would silently skip nulls)
        unmatched.select(partCols.map(c => col(c).cast("string")): _*)
          .distinct().collect()
          .map(r => partCols.indices.map(i =>
            Option(r.getString(i)).getOrElse("\u0000")).toSeq ->
            java.util.UUID.randomUUID().toString).toMap
      })

    // survivors of affected groups (keys not being updated) keep
    // their original commit time; updated + new rows carry `instant`
    val survivors = affectedDf
      .join(incomingKeys, affectedDf(RecordKeyCol) === incomingKeys("_k"), "leftanti")
      .select(dataCols.map(col) :+ col("_fg"): _*)
    val updatedTarget = {
      // matched incoming rows adopt their key's existing file group
      val keyToFg = affectedDf.select(col(RecordKeyCol).as("_k0"), col("_fg"))
      matchedIncoming.join(keyToFg,
        matchedIncoming(RecordKeyCol) === col("_k0"))
        .select(dataCols.map(matchedIncoming(_)) :+ col("_fg"): _*)
    }
    val newTarget = {
      val fgExpr =
        if (partCols.isEmpty)
          lit(newGroupByPart.getOrElse(Seq.empty, ""))
        else
          element_at(typedLit(newGroupByPart.map { case (k, v) => k.mkString("\u0001") -> v }),
            concat_ws("\u0001", partCols.map(c =>
              coalesce(col(c).cast("string"), lit("\u0000"))): _*))
      unmatched.select(dataCols.map(col) :+ fgExpr.as("_fg"): _*)
    }

    requirePartitionStable(updatedTarget, affectedSlices, partCols, tablePath)
    val out = survivors.unionByName(updatedTarget).unionByName(newTarget)
    val written = stageByGroup(spark, out, fs, tablePath, partCols, instant,
      freshGroupPerLeaf = false)
    completeCommitGuarded(fs, tablePath, base, instant, "upsert", written, Map.empty,
      extraMetadata = txnMeta(txn) ++ schemaMeta(df))
    instant
  }

  /** MERGE_ON_READ upsert: matched keys APPEND to their owning file
    * group as upstream-format `.log` files (no base rewrite — the
    * write amortizes to O(delta), the reason MOR exists); unmatched
    * keys open new base-file groups. Both land in ONE `deltacommit`.
    * The snapshot reader ([[readSlicesMerged]]) serves latest-per-key
    * over base ∪ logs until [[compact]] folds the logs down.
    */
  /** Refuse an upsert that MOVES an existing key to a different
    * partition path. Routing is by key (global-index semantics), so
    * the update lands in its original file group while its partition
    * columns say otherwise — COW staging would then rewrite the
    * group's base into the NEW partition directory leaving the old
    * base live under (oldPart, fileId), and a MOR log record would
    * serve correct snapshots only until compaction re-partitions the
    * row the same way: either way the key DUPLICATES (caught by the
    * changelog replay-invariant property). Upstream Hudi's global
    * index refuses the same shape unless partition-path updating is
    * explicitly enabled; here it refuses loudly — delete the key,
    * then insert. Rendering mismatches refuse too (a false refusal
    * is loud and safe; a false acceptance re-creates the duplicate).
    */
  private def requirePartitionStable(
      matchedWithFg: DataFrame,
      affectedSlices: Seq[FileSlice],
      partCols: Seq[String],
      tablePath: String): Unit = {
    if (partCols.isEmpty || affectedSlices.isEmpty) return
    // one owner map PER COLUMN (never a delimiter-joined encoding: a
    // delimiter inside a partition value could make a moved row encode
    // like its owner); a null/absent owner value is absent from the
    // map, element_at yields null, and the null-safe compare handles
    // it. Cost note: one extra bounded job re-running the matched join
    // (limit-1 short-circuited); folding the check into the staged
    // write's own metadata would be free but needs rollback plumbing —
    // acceptable while upserts stay O(delta)
    val ownerByCol: Seq[Map[String, String]] = partCols.map { c =>
      affectedSlices.flatMap { sl =>
        partitionValueOf(sl.partition, c).map(v => sl.fileId -> v)
      }.toMap
    }
    val movedCond = partCols.zip(ownerByCol).map { case (c, owners) =>
      !(col(c).cast("string") <=> element_at(typedLit(owners), col("_fg")))
    }.reduce(_ || _)
    val moved = matchedWithFg
      .where(movedCond)
      .select(col(RecordKeyCol).cast("string"))
      .limit(1).collect()
    moved.headOption.foreach { r =>
      throw new UnsupportedOperationException(
        s"upsert into $tablePath changes the partition path of existing " +
          s"key '${r.getString(0)}'; partition-path updates are " +
          "unsupported (keys route to their original file group) — " +
          "delete the key, then insert it under the new partition")
    }
  }

  /** One partition column's VALUE in a hive partition path, rendered
    * the way `col.cast("string")` renders it; None for null/absent —
    * the per-column comparison key [[requirePartitionStable]] uses.
    */
  private def partitionValueOf(partitionPath: String, partCol: String): Option[String] =
    partitionPath.split('/').toSeq.flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) if k == partCol => Some(
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v))
        case _ => None
      }
    }.headOption.filter(_ != "__HIVE_DEFAULT_PARTITION__")

  private def morUpsertOnce(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      fs: FileSystem,
      props: Map[String, String],
      txn: Option[(String, Long)]
  ): String = {
    val keyCol = props("hoodie.table.recordkey.fields")
    val partCols = props.get("hoodie.table.partition.fields")
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty)
    require(df.columns.contains(keyCol), s"upsert frame lacks record key column $keyCol")

    val hoodieDir = new Path(tablePath, ".hoodie")
    val base = completedInstants(fs, tablePath, None).lastOption.map(_._1)
    val slices = latestSlices(fs, tablePath, None)
    val instant = mintInstant(fs, hoodieDir, "deltacommit")

    if (slices.isEmpty) {
      val prepared = withMeta(df, keyCol, instant)
      val written = stageByGroup(spark, prepared, fs, tablePath, partCols,
        instant, freshGroupPerLeaf = true)
      completeCommit(fs, tablePath, instant, "upsert", written,
        actionOverride = Some("deltacommit"), extraMetadata = txnMeta(txn) ++ schemaMeta(df))
      return instant
    }

    // key → owning file group over base AND log records (a key the
    // last deltacommit inserted via log must route to its group),
    // range-pruned against the incoming keys' bounds
    val incomingKeys = df.select(col(keyCol).cast("string").as("_k")).distinct()
    val affected = affectedGroups(spark, tablePath, slices, incomingKeys,
      keyBounds(df, keyCol))
    val affectedSlices = slices.filter(sl => affected(sl.fileId))

    val incomingPrepared = withMeta(df, keyCol, instant)
    val dataCols = incomingPrepared.columns.toSeq

    if (affectedSlices.isEmpty) {
      val written = stageByGroup(spark, incomingPrepared, fs, tablePath,
        partCols, instant, freshGroupPerLeaf = true)
      completeCommit(fs, tablePath, instant, "upsert", written,
        actionOverride = Some("deltacommit"), extraMetadata = txnMeta(txn) ++ schemaMeta(df))
      return instant
    }

    // log records decode BY NAME against the declared read schema:
    // EXTRA incoming columns are ADDITIVE evolution (the log's writer
    // schema carries them, this commit records the widened schema,
    // and the declared-schema read path serves pre-evolution rows as
    // null) — but a frame MISSING a table column refuses loudly (its
    // log records would silently null the column for every key they
    // update).
    locally {
      val tableCols = readSlices(spark, tablePath, affectedSlices.take(1))
        .schema.fieldNames.toSet
      val missing = tableCols -- incomingPrepared.columns.toSet
      require(missing.isEmpty,
        s"MOR upsert frame is missing table column(s) ${missing.mkString(", ")}: " +
          "upserts may ADD columns, never drop them")
    }

    // distinct: a key updated by an earlier log AND present in base
    // appears twice in the index but owns ONE group
    val keyToFg = sliceKeys(spark, tablePath, affectedSlices)
      .select(col(RecordKeyCol).as("_k0"), col("_fg")).distinct()
    val matchedIncoming = incomingPrepared.join(keyToFg,
      incomingPrepared(RecordKeyCol) === col("_k0"))
      .select(dataCols.map(incomingPrepared(_)) :+ col("_fg"): _*)
    val unmatched = incomingPrepared.join(keyToFg,
      incomingPrepared(RecordKeyCol) === col("_k0"), "leftanti")

    requirePartitionStable(matchedIncoming, affectedSlices, partCols, tablePath)
    val logWritten = writeLogFiles(spark, matchedIncoming, tablePath,
      affectedSlices, instant)
    val newWritten =
      if (unmatched.isEmpty) Seq.empty[WrittenFile]
      else stageByGroup(spark, unmatched, fs, tablePath, partCols,
        instant, freshGroupPerLeaf = true)
    completeCommitGuarded(fs, tablePath, base, instant, "upsert",
      logWritten ++ newWritten, Map.empty, actionOverride = Some("deltacommit"),
      extraMetadata = txnMeta(txn) ++ schemaMeta(df))
    instant
  }

  /** MERGE_ON_READ delete: matched keys append as DELETE_BLOCK
    * tombstones to their owning group's log (O(delta) write, no base
    * rewrite); the merged read drops a key whose latest version is a
    * tombstone, and [[compact]] retires fully-emptied groups. Keys
    * absent from the table are ignored.
    */
  private def morDeleteOnce(
      spark: SparkSession,
      keys: DataFrame,
      tablePath: String,
      fs: FileSystem,
      props: Map[String, String],
      txn: Option[(String, Long)]
  ): String = {
    require(keys.columns.length == 1,
      s"delete takes a single-column key frame, got ${keys.columns.mkString(", ")}")
    val base = completedInstants(fs, tablePath, None).lastOption.map(_._1)
    val slices = latestSlices(fs, tablePath, None)
    val instant = mintInstant(fs, new Path(tablePath, ".hoodie"), "deltacommit")
    if (slices.isEmpty) {
      completeCommit(fs, tablePath, instant, "delete", Seq.empty,
        actionOverride = Some("deltacommit"), extraMetadata = txnMeta(txn))
      return instant
    }
    val delKeys = keys.select(col(keys.columns.head).cast("string").as("_k")).distinct()
    val affected = affectedGroups(spark, tablePath, slices, delKeys,
      keyBounds(keys, keys.columns.head))
    val affectedSlices = slices.filter(sl => affected(sl.fileId))
    if (affectedSlices.isEmpty) {
      completeCommit(fs, tablePath, instant, "delete", Seq.empty,
        actionOverride = Some("deltacommit"), extraMetadata = txnMeta(txn))
      return instant
    }
    // only keys that actually exist tombstone (their owning group is
    // known); unmatched delete keys are no-ops
    val keyToFg = sliceKeys(spark, tablePath, affectedSlices)
      .select(col(RecordKeyCol).as("_k0"), col("_fg")).distinct()
    val targets = delKeys.join(keyToFg, col("_k") === col("_k0"))
      .select(col("_k").as(RecordKeyCol), col("_fg"))
    val written = writeDeleteLogs(spark, targets, tablePath, affectedSlices, instant)
    completeCommitGuarded(fs, tablePath, base, instant, "delete", written,
      Map.empty, actionOverride = Some("deltacommit"), extraMetadata = txnMeta(txn))
    instant
  }

  /** Fold every log-bearing file group's slice (base ∪ logs, merged
    * latest-per-key) into a NEW base file of the SAME file group at a
    * fresh `commit` instant — the Hudi compaction action. Row commit
    * times are PRESERVED (the upstream contract: compaction is a pure
    * layout change, invisible to incremental consumers). Log-free
    * groups are untouched. Returns the instant, None when there was
    * nothing to compact.
    */
  /** `partitions`: scope compaction to the given partition paths
    * (same contract as [[cluster]]'s selector — unknown paths refuse;
    * only the selected partitions' logged slices fold into new base
    * files, everything else carries untouched).
    */
  def compact(
      spark: SparkSession, tablePath: String,
      partitions: Option[Seq[String]] = None): Option[String] = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val slices = latestSlices(fs, tablePath, None) // one timeline read
    partitions.foreach { sel =>
      require(sel.nonEmpty, "compact: PARTITIONS selection is empty")
      val known = slices.map(_.partition).toSet
      val missing = sel.filterNot(known.contains)
      require(missing.isEmpty,
        s"selected partition path(s) not in $tablePath: ${missing.mkString(", ")}")
    }
    val hasLogs = slices.exists(s =>
      s.logFiles.nonEmpty && partitions.forall(_.contains(s.partition)))
    if (!hasLogs) None
    else Some(retryOnConflict("compact", tablePath)(
      compactOnce(spark, tablePath, fs, partitions)))
  }

  private def compactOnce(
      spark: SparkSession, tablePath: String, fs: FileSystem,
      partitions: Option[Seq[String]] = None): String = {
    val props = readProps(fs, tablePath)
    val partCols = props.get("hoodie.table.partition.fields")
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty)
    val base = completedInstants(fs, tablePath, None).lastOption.map(_._1)
    val logged = latestSlices(fs, tablePath, None)
      .filter(s => s.logFiles.nonEmpty && partitions.forall(_.contains(s.partition)))
    val instant = mintInstant(fs, new Path(tablePath, ".hoodie"))
    if (logged.isEmpty) { // raced away
      completeCommit(fs, tablePath, instant, "compact", Seq.empty)
      return instant
    }
    val merged = readSlicesMerged(spark, tablePath, logged, withFg = true)
    val written =
      if (merged.isEmpty) Seq.empty[WrittenFile]
      else stageByGroup(spark, merged, fs, tablePath, partCols,
        instant, freshGroupPerLeaf = false)
    // a group whose every record is tombstoned compacts to NOTHING:
    // retire it via the replacecommit action so the planner drops it
    val rewritten = written.map(_.fileId).toSet
    val replaced = logged.filterNot(sl => rewritten(sl.fileId))
      .groupBy(_.partition).map { case (part, sls) => part -> sls.map(_.fileId) }
    completeCommitGuarded(fs, tablePath, base, instant, "compact", written, replaced)
    instant
  }

  /** Delete records by key (COPY_ON_WRITE): file groups holding
    * matched keys are rewritten WITHOUT those rows at the new
    * instant; a group whose every record is deleted is retired via a
    * `replacecommit` listing it in `partitionToReplaceFileIds` (the
    * public Hudi action for replaced file groups) so the reader drops
    * it. Unmatched keys are ignored. Old slices stay time-travelable.
    * Returns the completed instant time.
    */
  def delete(
      spark: SparkSession,
      keys: DataFrame,
      tablePath: String,
      txn: Option[(String, Long)] = None): String =
    retryOnConflict("delete", tablePath)(deleteOnce(spark, keys, tablePath, txn))

  /** Read the record keys matching `filters` (plus the optional
    * residual predicate — the r15 seam: filters then only PRUNE) and
    * issue the key-deleting replacecommit. The ONE delete-by-predicate
    * route shared by the DSv2 SupportsDelete path, the catalog DML
    * strategy and the string SQL front door. Refuses composite record
    * keys (the key-delete writer addresses one key column).
    */
  def deleteMatching(
      spark: SparkSession,
      tablePath: String,
      filters: graft.core.Filters.Normalized,
      predicateSql: Option[String] = None): String = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keyCol = readProps(fs, tablePath)
      .getOrElse("hoodie.table.recordkey.fields",
        throw new IllegalArgumentException(
          s"$tablePath has no hoodie.table.recordkey.fields"))
    require(!keyCol.contains(","), s"composite record keys unsupported: $keyCol")
    val base = new HudiTable(tablePath.split('/').last, tablePath)(
      spark, ReadArgs(filters = filters))
    val rows = predicateSql.map(ps =>
      base.where(coalesce(expr(ps), lit(false)))).getOrElse(base)
    delete(spark, rows.select(col(keyCol)).distinct(), tablePath)
  }

  private def deleteOnce(
      spark: SparkSession,
      keys: DataFrame,
      tablePath: String,
      txn: Option[(String, Long)]): String = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val props = readProps(fs, tablePath)
    if (isMor(props)) return morDeleteOnce(spark, keys, tablePath, fs, props, txn)
    val keyCol = props("hoodie.table.recordkey.fields")
    val partCols = props.get("hoodie.table.partition.fields")
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty)
    require(keys.columns.length == 1,
      s"delete takes a single-column key frame, got ${keys.columns.mkString(", ")}")

    val base = completedInstants(fs, tablePath, None).lastOption.map(_._1)
    val slices = latestSlices(fs, tablePath, None)
    val instant = mintInstant(fs, new Path(tablePath, ".hoodie"))
    if (slices.isEmpty) {
      completeCommit(fs, tablePath, instant, "delete", Seq.empty,
        extraMetadata = txnMeta(txn))
      return instant
    }

    val delKeys = keys.select(col(keys.columns.head).cast("string").as("_k")).distinct()
    val affected = affectedGroups(spark, tablePath, slices, delKeys,
      keyBounds(keys, keys.columns.head))
    val affectedSlices = slices.filter(sl => affected(sl.fileId))
    if (affectedSlices.isEmpty) {
      completeCommit(fs, tablePath, instant, "delete", Seq.empty,
        extraMetadata = txnMeta(txn))
      return instant
    }

    // merged read: on MOR slices the survivors INCLUDE log-borne
    // versions (a base-only read would silently resurrect stale rows
    // and drop log inserts when the rewrite replaces the slice)
    val affectedDf = readSlicesMerged(spark, tablePath, affectedSlices, withFg = true)
    val survivors = affectedDf
      .join(delKeys, affectedDf(RecordKeyCol) === delKeys("_k"), "leftanti")
    // an all-rows-deleted commit stages nothing; guard the staged
    // read (schema inference on an empty dir refuses)
    val written =
      if (survivors.isEmpty) Seq.empty[WrittenFile]
      else stageByGroup(spark, survivors, fs, tablePath, partCols,
        instant, freshGroupPerLeaf = false)
    // affected groups with no surviving rows were fully deleted:
    // retire them via replacecommit
    val rewritten = written.map(_.fileId).toSet
    val replaced = affectedSlices.filterNot(sl => rewritten(sl.fileId))
      .groupBy(_.partition).map { case (part, sls) => part -> sls.map(_.fileId) }
    completeCommitGuarded(fs, tablePath, base, instant, "delete", written, replaced,
      extraMetadata = txnMeta(txn))
    instant
  }

  /** Clustering (the Hudi layout-maintenance action): rewrite every
    * latest file slice into NEW file groups sorted by `sortCols`
    * (one group per partition), committing a `replacecommit` that
    * retires all prior groups — point/range scans on the sort columns
    * then prune via parquet min/max the way OPTIMIZE ZORDER does for
    * Delta (R28). Row commit times are preserved, so incremental
    * consumers see no phantom changes from a pure layout rewrite.
    * Returns the completed instant.
    */
  /** `partitions`: scope the clustering to the given PARTITION PATHS
    * (relative dirs, e.g. `"p=1"`) — the upstream
    * `hoodie.clustering.plan.strategy.partition.selected` shape. Only
    * the selected partitions' file groups rewrite and retire; every
    * other group carries untouched — at 100 TB you cluster yesterday's
    * partition, not the table. Unknown paths refuse loudly (a typo
    * must not silently cluster nothing).
    */
  def cluster(
      spark: SparkSession, tablePath: String, sortCols: Seq[String],
      zorder: Boolean = false, partitions: Option[Seq[String]] = None): String =
    retryOnConflict("cluster", tablePath)(
      clusterOnce(spark, tablePath, sortCols, zorder, partitions))

  private def clusterOnce(
      spark: SparkSession, tablePath: String, sortCols: Seq[String],
      zorder: Boolean = false, partitions: Option[Seq[String]] = None): String = {
    require(sortCols.nonEmpty, "at least one sort column required")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val props = readProps(fs, tablePath)
    val partCols = props.get("hoodie.table.partition.fields")
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty)
    val base = completedInstants(fs, tablePath, None).lastOption.map(_._1)
    val allSlices = latestSlices(fs, tablePath, None)
    partitions.foreach { sel =>
      require(sel.nonEmpty,
        "cluster: PARTITIONS selection is empty — a filtered-to-nothing list " +
          "would mint a no-op replacecommit instead of clustering")
      val known = allSlices.map(_.partition).toSet
      val missing = sel.filterNot(known.contains)
      require(missing.isEmpty,
        s"selected partition path(s) not in $tablePath: ${missing.mkString(", ")} " +
          s"(known: ${known.toSeq.sorted.mkString(", ")})")
    }
    val slices = partitions match {
      case Some(sel) => allSlices.filter(s => sel.contains(s.partition))
      case None      => allSlices
    }
    // clustering always completes as a replacecommit (every prior
    // group retires), so mint the markers under that name up front
    val instant = mintInstant(fs, new Path(tablePath, ".hoodie"), "replacecommit")
    if (slices.isEmpty) {
      completeCommit(fs, tablePath, instant, "cluster", Seq.empty)
      return instant
    }
    // one fresh group per partition, rows sorted within it: route by
    // partition (one reducer each), sort within, stage, retire ALL
    // previous groups
    // merged: clustering a MOR table folds its logs into the new
    // layout (the replacecommit retires every prior group)
    val current = readSlicesMerged(spark, tablePath, slices)
    val routed =
      if (partCols.isEmpty) current.repartition(1)
      else current.repartition(partCols.map(col): _*)
    // partition columns lead the sort so the staged write's own
    // dynamic-partition ordering requirement is already satisfied and
    // Spark's writer inserts no tie-reordering sort of its own.
    // zorder: rows sort on the Morton curve of the chosen columns
    // instead of lexicographically — multi-column box filters prune
    // row groups inside the rewritten base files (the Delta
    // OPTIMIZE ZORDER analog, same operators/ZOrder machinery)
    val sorted =
      if (zorder) {
        val z = graft.operators.ZOrder.zvalue(current, sortCols)
        routed.withColumn("_graft_zval", z)
          .sortWithinPartitions((partCols.map(col) :+ col("_graft_zval")): _*)
          .drop("_graft_zval")
      } else routed.sortWithinPartitions((partCols ++ sortCols).map(col): _*)
    val written = stageByGroup(spark, sorted, fs, tablePath, partCols,
      instant, freshGroupPerLeaf = true)
    val replaced = slices.groupBy(_.partition)
      .map { case (part, sls) => part -> sls.map(_.fileId) }
    completeCommitGuarded(fs, tablePath, base, instant, "cluster", written, replaced)
    instant
  }

  /** Optimistic concurrency (the Hudi OCC shape without a lock
    * provider): a commit that REWRITES or REPLACES existing file
    * groups validates, just before publishing its completion marker,
    * that no commit completed after its base snapshot touched the
    * same groups — two racing upserts of one group would otherwise
    * silently drop the earlier writer's changes (the later instant
    * wins slice selection). On conflict the staged files and timeline
    * markers roll back and the whole operation replans against the
    * fresh snapshot. Commits that only CREATE groups (bulk insert,
    * pure-insert upserts) can't conflict — fresh uuids. The
    * check-then-publish window is not atomic without a lock service;
    * like Hudi itself, strict multi-writer safety needs an external
    * lock, and this detection is the best filesystem-only effort.
    */
  private final class HudiConflict(msg: String) extends RuntimeException(msg)

  private def retryOnConflict(op: String, tablePath: String)(body: => String): String = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return body
      catch {
        case e: HudiConflict if attempt < 5 => // replan from the new snapshot
        case e: HudiConflict =>
          throw new java.io.IOException(
            s"$op on $tablePath lost $attempt concurrency races; giving up", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** (partition, fileId) pairs touched by commits completed AFTER
    * `base` — written slices and replaced groups both count.
    */
  private def touchedGroupsSince(
      fs: FileSystem, tablePath: String, base: Option[String]): Set[(String, String)] = {
    val hoodieDir = new Path(tablePath, ".hoodie")
    completedInstants(fs, tablePath, None)
      .filter { case (i, _) => base.forall(i > _) }
      .flatMap { case (i, action) =>
        val in = fs.open(new Path(hoodieDir, s"$i.$action"))
        val root = try mapper.readTree(in) finally in.close()
        val stats = root.path("partitionToWriteStats")
        val written = scala.collection.mutable.Buffer.empty[(String, String)]
        stats.fieldNames().forEachRemaining { part =>
          IcebergMeta.elements(stats.path(part)).foreach { st =>
            written += ((part, st.path("fileId").asText()))
          }
        }
        val rep = root.path("partitionToReplaceFileIds")
        rep.fieldNames().forEachRemaining { part =>
          IcebergMeta.elements(rep.path(part)).foreach { fid =>
            written += ((part, fid.asText()))
          }
        }
        written
      }.toSet
  }

  private[tables] def completeCommitGuarded(
      fs: FileSystem,
      tablePath: String,
      base: Option[String],
      instant: String,
      operation: String,
      written: Seq[WrittenFile],
      replaced: Map[String, Seq[String]],
      actionOverride: Option[String] = None,
      extraMetadata: Map[String, String] = Map.empty
  ): Unit = {
    val mine: Set[(String, String)] =
      written.map(w => (w.partition, w.fileId)).toSet ++
        replaced.flatMap { case (part, fids) => fids.map((part, _)) }
    val clash = touchedGroupsSince(fs, tablePath, base) & mine
    if (clash.nonEmpty) {
      // roll back: the moved-but-uncommitted base files and this
      // instant's timeline markers
      val hoodieDir = new Path(tablePath, ".hoodie")
      written.foreach(w => fs.delete(new Path(tablePath, w.relPath), false))
      deleteMarkers(fs, hoodieDir, instant)
      throw new HudiConflict(
        s"concurrent commit touched ${clash.size} file group(s) of $operation $instant")
    }
    completeCommit(fs, tablePath, instant, operation, written, replaced,
      actionOverride, extraMetadata)
  }

  // ------------------------------------------------------ internals

  /** Create `.hoodie/hoodie.properties` if absent; validate the
    * declared record key / partitioning when present.
    */
  private def ensureTable(
      spark: SparkSession,
      tablePath: String,
      recordKeyCol: String,
      partitionBy: Seq[String],
      df: DataFrame,
      tableType: String
  ): (FileSystem, Map[String, String]) = {
    require(df.columns.contains(recordKeyCol),
      s"record key column $recordKeyCol missing from the frame")
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"partition column $c missing from the frame"))
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hoodieDir = new Path(tablePath, ".hoodie")
    val propsPath = new Path(hoodieDir, "hoodie.properties")
    if (!fs.exists(propsPath)) {
      fs.mkdirs(hoodieDir)
      val props = new java.util.Properties()
      props.setProperty("hoodie.table.name",
        new Path(tablePath).getName)
      props.setProperty("hoodie.table.type", tableType)
      props.setProperty("hoodie.table.version", "6")
      props.setProperty("hoodie.table.recordkey.fields", recordKeyCol)
      props.setProperty("hoodie.table.partition.fields", partitionBy.mkString(","))
      props.setProperty("hoodie.datasource.write.hive_style_partitioning", "true")
      props.setProperty("hoodie.timeline.layout.version", "1")
      val out = fs.create(propsPath, false)
      try props.store(out, "graft") finally out.close()
    }
    val props = readProps(fs, tablePath)
    val declaredParts = props.get("hoodie.table.partition.fields")
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty)
    require(declaredParts == partitionBy,
      s"table $tablePath is partitioned by ${declaredParts.mkString(",")}, " +
        s"got ${partitionBy.mkString(",")}")
    (fs, props)
  }

  /** One comparison rule for every path that participates in the
    * key→file-group lookup: scheme AND authority stripped on both the
    * driver side ([[DvDeleted.normalizePath]] = `Path.toUri.getPath`)
    * and the scan's `_metadata.file_path` column — a scheme-less
    * `tablePath` against an authority-rendering filesystem
    * (`hdfs://nn:8020/...`) must still resolve, or upserts would
    * silently become duplicate-key inserts.
    */
  private[tables] val SchemeAuthorityPattern = "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/]*/"
  private[tables] val SchemePattern = "^[A-Za-z][A-Za-z0-9+.\\-]*:/+"
  private[tables] def normalizeScheme(p: String): String =
    DvDeleted.normalizePath(p)
  private[tables] def normalizePathCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(c, SchemeAuthorityPattern, "/"), SchemePattern, "/")

  /** Per-column [min,max] of one written file (the r9 record-key
    * range generalized to DATA columns — the upstream col-stats
    * metadata-table idea carried in the commit JSON our timeline
    * already replays). `isNumeric` tags how the endpoints compare:
    * BigDecimal for numeric columns, code-point order for
    * strings/dates (dates render ISO, so lexical = chronological).
    * Only min/max are recorded — null counts are NOT sound to union
    * under MOR key-replacement, and a range is: merged rows ⊆
    * base ∪ log rows, so the union range always contains them.
    */
  private[tables] final case class ColRange(
      isNumeric: Boolean, min: String, max: String)

  private[tables] final case class WrittenFile(
      partition: String, fileId: String, relPath: String, numWrites: Long,
      keyRange: Option[(String, String)] = None,
      /** None = writer recorded nothing (foreign/pre-stats commits —
        * drops the whole slice's stats); Some(m) = m covers every
        * eligible column with a non-null value in this file, so a
        * column ABSENT from a present map means all-null here and the
        * other contributors' ranges stay sound. Some(empty) is how a
        * delete log says "adds no values".
        */
      colStats: Option[Map[String, ColRange]] = None)

  /** A file group's latest slice: the base file plus the
    * (deltacommit instant, log path) pairs appended since it —
    * non-empty only on MERGE_ON_READ tables. `keyRange` is the
    * [min,max] record key over base AND logs (None when any
    * contributing commit lacks the stats — e.g. foreign writers — so
    * absence can never prune); `colStats` the per-data-column union
    * ranges under the same absence rule, applied per column.
    */
  private[tables] final case class FileSlice(
      partition: String, fileId: String, instant: String, relPath: String,
      logFiles: Seq[(String, String)] = Seq.empty,
      keyRange: Option[(String, String)] = None,
      colStats: Option[Map[String, ColRange]] = None)

  private[tables] def withMeta(df: DataFrame, keyCol: String, instant: String): DataFrame = {
    require(!df.columns.contains(CommitTimeCol),
      s"input frame already carries $CommitTimeCol")
    require(!df.columns.contains(RecordKeyCol),
      s"input frame already carries $RecordKeyCol")
    df.select(
      lit(instant).as(CommitTimeCol) +:
        col(keyCol).cast("string").as(RecordKeyCol) +:
        df.columns.map(col).toSeq: _*)
  }

  /** Stage `df` (which carries `_fg`) partitioned by partition cols,
    * one reducer per file group, then move each staged leaf to its
    * Hudi base-file name. Returns the written-file stats for the
    * commit metadata.
    */
  private[tables] def stageByGroup(
      spark: SparkSession,
      df: DataFrame,
      fs: FileSystem,
      tablePath: String,
      partCols: Seq[String],
      instant: String,
      freshGroupPerLeaf: Boolean
  ): Seq[WrittenFile] = {
    val table = new Path(tablePath)
    val staging = new Path(table,
      s"_staging_hoodie_${java.util.UUID.randomUUID().toString.take(8)}")
    // fresh mode: each staged leaf FILE becomes a new file group;
    // grouped mode: rows are routed so each `_fg` leaf dir holds
    // exactly one file (a group's rows all land in one reducer)
    val routed = if (freshGroupPerLeaf) df else df.repartition(col("_fg"))
    val stagePartCols = if (freshGroupPerLeaf) partCols else partCols :+ "_fg"
    // per-file count, record-key range AND per-data-column min/max,
    // collected by the write tasks — the key range feeds the upsert
    // index's group pruning ([[rangePruned]]), the column ranges the
    // read path's data-predicate slice skipping ([[HudiTable.keepSlice]])
    val statFields = statFieldsOf(df.schema, stagePartCols)
    val staged = LakeFiles.writeStaged(spark, routed, staging, stagePartCols,
      RecordKeyCol +: statFields.map(_.name), fullStrings = Set(RecordKeyCol))

    // a zero-row staged file gets NO file group: an empty, rangeless
    // group would join every future upsert's index scan and can never
    // be range-pruned
    val out = staged.filter(_.numRecords > 0).map { f =>
      val segs = f.relPath.split('/').toSeq
      val (partSegs, fileId) =
        if (freshGroupPerLeaf)
          (segs.dropRight(1), java.util.UUID.randomUUID().toString)
        else {
          val fgSeg = segs(segs.length - 2)
          require(fgSeg.startsWith("_fg="), s"unexpected staged layout: ${f.relPath}")
          (segs.dropRight(2), org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(fgSeg.drop(4)))
        }
      val partition = partSegs.mkString("/")
      val relOut = (partSegs :+ s"${fileId}_${WriteToken}_$instant.parquet").mkString("/")
      val dest = new Path(table, relOut)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(new Path(staging, f.relPath), dest))
        throw new IllegalStateException(s"could not move staged file ${f.relPath} to $dest")
      val (n, range, ranges) = fileStatsOf(statFields, f)
      WrittenFile(partition, fileId, relOut, n, range, ranges)
    }
    fs.delete(staging, true)
    out
  }

  /** The data columns a staged write keeps ranges for: every column
    * of a tracked type except the staging partition columns and the
    * two meta columns.
    */
  private[tables] def statFieldsOf(
      schema: org.apache.spark.sql.types.StructType,
      stagePartCols: Seq[String]): Seq[org.apache.spark.sql.types.StructField] =
    schema.fields
      .filterNot(f => stagePartCols.contains(f.name) ||
        f.name == CommitTimeCol || f.name == RecordKeyCol)
      .filter(f => colRangeKind(f.dataType).isDefined)
      .toSeq

  /** One staged file's record count, record-key range and
    * [[colRangesOf]] column ranges over `statFields`.
    */
  private[tables] def fileStatsOf(
      statFields: Seq[org.apache.spark.sql.types.StructField],
      f: LakeFiles.StagedFile
  ): (Long, Option[(String, String)], Option[Map[String, ColRange]]) = {
    val key = f.columns(RecordKeyCol)
    (f.numRecords,
      for (lo <- key.min; hi <- key.max) yield (lo.toString, hi.toString),
      colRangesOf(statFields, n => {
        val c = f.columns(n)
        (c.min.orNull, c.max.orNull)
      }))
  }

  /** Upstream marker names: `<instant>.<action>.requested` for every
    * action; the inflight is the historical extension-less
    * `<instant>.inflight` for `commit` and `<instant>.<action>
    * .inflight` otherwise — real Hudi tooling reconciles pending
    * instants by exactly these names.
    */
  private def requestedMarker(hoodieDir: Path, instant: String, action: String): Path =
    new Path(hoodieDir, s"$instant.$action.requested")

  private def inflightMarker(hoodieDir: Path, instant: String, action: String): Path =
    if (action == "commit") new Path(hoodieDir, s"$instant.inflight")
    else new Path(hoodieDir, s"$instant.$action.inflight")

  /** Timeline instants are millisecond timestamps formatted
    * yyyyMMddHHmmssSSS (the Hudi convention); the `.requested` marker
    * is published put-if-absent, so clashing writers re-mint.
    * `action` names the markers (cluster mints `replacecommit`
    * directly; a delete that ends up retiring groups is re-marked at
    * completion by [[completeCommit]]).
    */
  private[tables] val TimelineActions = Seq("commit", "deltacommit", "replacecommit")

  private[tables] def mintInstant(
      fs: FileSystem, hoodieDir: Path, action: String = "commit"): String = {
    val fmt = new java.text.SimpleDateFormat("yyyyMMddHHmmssSSS")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    var attempt = 0
    while (true) {
      attempt += 1
      val instant = fmt.format(new java.util.Date())
      if (LakeFiles.putIfAbsent(fs,
        requestedMarker(hoodieDir, instant, action), Array.emptyByteArray)) {
        // uniqueness must hold ACROSS action spellings: a cluster
        // (replacecommit.requested) and an ingest (commit.requested)
        // minting in the same millisecond both win their own
        // put-if-absent. Publish-then-check, and back off if ANY
        // rival spelling exists: a writer that proceeds saw no rival
        // at check time, so every rival published later and — having
        // published before its own check — WILL see this writer's
        // marker and roll back. At most one writer keeps an instant
        // (possibly none; both re-mint a millisecond later).
        val rivals = TimelineActions.filter(a => a != action &&
          fs.exists(requestedMarker(hoodieDir, instant, a)))
        if (rivals.isEmpty) {
          val inflight = fs.create(inflightMarker(hoodieDir, instant, action), true)
          inflight.close()
          return instant
        }
        fs.delete(requestedMarker(hoodieDir, instant, action), false)
      }
      require(attempt < 1000, s"could not mint a unique instant under $hoodieDir")
      Thread.sleep(1L)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Remove every marker spelling this instant may carry (rollback
    * path — covers both the minted and any re-marked action name).
    */
  private def deleteMarkers(fs: FileSystem, hoodieDir: Path, instant: String): Unit =
    Seq("commit", "replacecommit", "deltacommit").foreach { a =>
      fs.delete(requestedMarker(hoodieDir, instant, a), false)
      fs.delete(inflightMarker(hoodieDir, instant, a), false)
    }

  private[tables] def completeCommit(
      fs: FileSystem,
      tablePath: String,
      instant: String,
      operation: String,
      written: Seq[WrittenFile],
      replaced: Map[String, Seq[String]] = Map.empty,
      actionOverride: Option[String] = None,
      extraMetadata: Map[String, String] = Map.empty
  ): Unit = {
    val root = mapper.createObjectNode()
    root.put("operationType", operation.toUpperCase)
    if (extraMetadata.nonEmpty) {
      // the upstream commit-JSON carrier for writer checkpoints
      // (deltastreamer's own checkpoint key lives here)
      val em = mapper.createObjectNode()
      extraMetadata.foreach { case (k, v) => em.put(k, v) }
      root.set[ObjectNode]("extraMetadata", em)
    }
    if (replaced.nonEmpty) {
      val rep = mapper.createObjectNode()
      replaced.foreach { case (part, fids) =>
        val arr = mapper.createArrayNode()
        fids.foreach(arr.add)
        rep.set[ObjectNode](part, arr)
      }
      root.set[ObjectNode]("partitionToReplaceFileIds", rep)
    }
    val stats = mapper.createObjectNode()
    written.groupBy(_.partition).foreach { case (part, fls) =>
      val arr = mapper.createArrayNode()
      fls.foreach { w =>
        val n = mapper.createObjectNode()
        n.put("fileId", w.fileId)
        n.put("path", w.relPath)
        n.put("numWrites", w.numWrites)
        // per-file record-key range (the upstream HoodieWriteStat
        // minEventTime shape applied to keys): lets upserts prune
        // whole file groups before the key-index scan
        w.keyRange.foreach { case (lo, hi) =>
          n.put("minRecordKey", lo)
          n.put("maxRecordKey", hi)
        }
        // per-data-column [min,max]: the read path's slice skipping
        // (an EMPTY present object is meaningful: "adds no values")
        w.colStats.foreach { m =>
          val cs = mapper.createObjectNode()
          m.toSeq.sortBy(_._1).foreach { case (c, r) =>
            val o = mapper.createObjectNode()
            if (r.isNumeric) {
              o.put("min", new java.math.BigDecimal(r.min))
              o.put("max", new java.math.BigDecimal(r.max))
            } else {
              o.put("min", r.min)
              o.put("max", r.max)
            }
            cs.set[ObjectNode](c, o)
          }
          n.set[ObjectNode]("columnStats", cs)
        }
        arr.add(n)
      }
      stats.set[ObjectNode](part, arr)
    }
    root.set[ObjectNode]("partitionToWriteStats", stats)
    val action = actionOverride.getOrElse(
      if (replaced.nonEmpty) "replacecommit" else "commit")
    // re-mark when the minted action differs from how the op completed
    // (a delete only learns it retires whole groups at the end):
    // tooling reconciles requested/inflight by the COMPLETED action's
    // naming, so a mismatched pair would read as pending forever
    val hoodieDir = new Path(tablePath, ".hoodie")
    if (!fs.exists(requestedMarker(hoodieDir, instant, action))) {
      TimelineActions.filter(_ != action)
        .find(a => fs.exists(requestedMarker(hoodieDir, instant, a)))
        .foreach { other =>
          LakeFiles.putIfAbsent(fs,
            requestedMarker(hoodieDir, instant, action), Array.emptyByteArray)
          fs.create(inflightMarker(hoodieDir, instant, action), true).close()
          fs.delete(requestedMarker(hoodieDir, instant, other), false)
          fs.delete(inflightMarker(hoodieDir, instant, other), false)
        }
    }
    val target = new Path(new Path(tablePath, ".hoodie"), s"$instant.$action")
    require(LakeFiles.putIfAbsent(fs, target,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)),
      s"instant $instant already completed under $tablePath")
    // committed (possibly schema-evolving) write: purge any cached
    // footer schema covering this location
    SchemaCache.invalidate(tablePath)
  }

  /** Commit extraMetadata keys carrying the streaming sink's
    * idempotence marker (the upstream deltastreamer-checkpoint
    * shape: writer state rides the commit JSON's extraMetadata).
    */
  val TxnAppKey = "graft.txn-app-id"
  val TxnBatchKey = "graft.txn-batch-id"

  private def txnMeta(txn: Option[(String, Long)]): Map[String, String] =
    txn.map { case (app, id) =>
      Map(TxnAppKey -> app, TxnBatchKey -> id.toString)
    }.getOrElse(Map.empty)

  /** Commit-metadata key recording the writer's Avro schema —
    * upstream HoodieCommitMetadata's own `SCHEMA_KEY`, so foreign
    * Hudi readers see the table's declared schema where they expect
    * it and foreign-written tables feed [[latestTableSchema]].
    */
  val SchemaKey = "schema"

  /** The writer-schema entry data-bearing commits record: the frame's
    * DATA columns (hoodie meta columns excluded, matching upstream's
    * data-schema intent) rendered as the Avro record schema. Avro has
    * no 8/16-bit integers, so byte/short surface as int in the
    * declared schema — the documented round-trip loss.
    */
  private def schemaMeta(df: DataFrame): Map[String, String] =
    Map(SchemaKey -> HudiLog.avroSchema(org.apache.spark.sql.types.StructType(
      df.schema.fields.filterNot(_.name.startsWith("_hoodie_")))).toString)

  /** The table's DECLARED data schema: the newest completed commit
    * recording a writer schema (ours or a foreign writer's). `None`
    * on tables whose timeline never recorded one — readers then fall
    * back to parquet-sampled schemas, the pre-evolution behavior.
    * Driver cost: newest-first commit-JSON reads, normally ONE — and
    * CACHED per (table, newest instant): commit JSONs are immutable,
    * so the same timeline state always resolves the same answer; a
    * schema-LESS table (pre-feature graft) pays its full walk once
    * per commit, not once per read.
    */
  def latestTableSchema(
      fs: FileSystem, tablePath: String): Option[org.apache.spark.sql.types.StructType] = {
    val instants = completedInstants(fs, tablePath, None)
    val cacheKey = (tablePath, instants.lastOption.map(_._1).getOrElse(""))
    val cached = declaredSchemaCache.get(cacheKey)
    if (cached != null) return cached
    val hoodieDir = new Path(tablePath, ".hoodie")
    val resolved = instants.reverseIterator.flatMap {
      case (instant, action) =>
        val in = fs.open(new Path(hoodieDir, s"$instant.$action"))
        val root = try mapper.readTree(in) finally in.close()
        Option(root.path("extraMetadata").path(SchemaKey).asText(null))
          .filter(_.nonEmpty)
    }.take(1).toSeq.headOption.map { s =>
      HudiLog.structType(new org.apache.avro.Schema.Parser().parse(s))
    }
    if (declaredSchemaCache.size > 512) declaredSchemaCache.clear() // bound
    declaredSchemaCache.put(cacheKey, resolved)
    resolved
  }

  private val declaredSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, String), Option[org.apache.spark.sql.types.StructType]]()

  /** Highest batch id any completed instant's extraMetadata records
    * for `appId` — None when the table is absent or unmarked.
    */
  def lastCommittedBatch(
      spark: SparkSession, tablePath: String, appId: String): Option[Long] = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(new Path(tablePath, ".hoodie"), "hoodie.properties")))
      return None
    completedInstants(fs, tablePath, None).flatMap { case (instant, action) =>
      val in = fs.open(new Path(new Path(tablePath, ".hoodie"), s"$instant.$action"))
      val root = try mapper.readTree(in) finally in.close()
      val em = root.path("extraMetadata")
      if (em.path(TxnAppKey).asText("") == appId)
        Some(em.path(TxnBatchKey).asText("-1").toLong).filter(_ >= 0)
      else None
    }.maxOption
  }

  // ------------------------------------------------- timeline reads

  private[graft] def readProps(fs: FileSystem, tablePath: String): Map[String, String] = {
    val p = new Path(new Path(tablePath, ".hoodie"), "hoodie.properties")
    require(fs.exists(p), s"$tablePath is not a Hudi table (no hoodie.properties)")
    val in = fs.open(p)
    val props = new java.util.Properties()
    try props.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    props.asScala.toMap
  }

  /** Completed instants ≤ `asOf` (all when None), ascending. */
  /** Completed instants ≤ `asOf` with their action kind: `.commit`
    * (insert/upsert) or `.replacecommit` (file groups replaced —
    * delete of whole groups), ascending.
    */
  /** The incremental-read FENCE: the greatest completed instant
    * strictly below every PENDING instant (a requested/inflight
    * marker without its completed action). A consumer advancing its
    * watermark to the bare max completed instant can permanently
    * skip a racing writer whose LOWER instant completes later —
    * changelog/incremental reads filter `instant > from`, so the
    * late commit would never surface (upstream Hudi's
    * earliest-pending fence). Crashed writers' stale markers hold
    * the fence until [[HudiMaintenance.rollbackPending]] clears them
    * — liveness deferred to maintenance, never a silent skip.
    */
  private[graft] def safeHeadInstant(fs: FileSystem, tablePath: String): Option[String] =
    fencedTimeline(fs, tablePath)._1

  /** ONE `.hoodie` listing → (the fence instant, the completed
    * timeline AT OR BELOW it, ascending with actions) — so pollers
    * (streaming getOffset, ChangeFeed.head + versions) never pay a
    * second directory list, and the completed/pending grammars live
    * beside each other instead of drifting apart. A `None` fence
    * means NOTHING is safely consumable yet (no completed instants,
    * or a pending marker below every completed one) — callers must
    * treat it as "no new offset", NEVER as "unfenced".
    */
  private[graft] def fencedTimeline(
      fs: FileSystem, tablePath: String): (Option[String], Seq[(String, String)]) = {
    val hoodieDir = new Path(tablePath, ".hoodie")
    val names = fs.listStatus(hoodieDir).map(_.getPath.getName)
    val Completed = "(\\d{17})\\.(commit|replacecommit|deltacommit)".r
    // pending = a requested/inflight marker for an instant with NO
    // completed action; matches any action spelling (the same
    // open grammar HudiMaintenance.rollbackPending reconciles)
    val Pending = "(\\d{17})\\.(?:[a-z]+\\.)?(?:requested|inflight)".r
    val completed = names.collect { case Completed(i, a) => (i, a) }.sortBy(_._1)
    val done = completed.map(_._1).toSet
    val pendingMin = names.collect {
      case Pending(i) if !done(i) => i
    }.minOption
    val eligible = pendingMin match {
      case Some(p) => completed.filter(_._1 < p)
      case None    => completed
    }
    (eligible.lastOption.map(_._1), eligible)
  }

  private[graft] def completedInstants(
      fs: FileSystem, tablePath: String, asOf: Option[String]): Seq[(String, String)] = {
    val hoodieDir = new Path(tablePath, ".hoodie")
    val Commit = "(\\d{17})\\.(commit|replacecommit|deltacommit)".r
    fs.listStatus(hoodieDir).toSeq.map(_.getPath.getName).collect {
      case Commit(i, action) if asOf.forall(i <= _) => (i, action)
    }.sortBy(_._1)
  }

  /** One timeline event in slice reconstruction: `kind` 0 = the
    * file group was REPLACED at this instant (replacecommit — sorts
    * before same-instant writes, as the driver fold applies removes
    * first), 1 = a base or log file was written.
    */
  private[tables] final case class SliceEvent(
      instant: String, kind: Int, part: String, fileId: String,
      path: String, isLog: Boolean,
      keyRange: Option[(String, String)],
      colStats: Option[Map[String, ColRange]])

  /** Parse ONE completed instant's commit JSON into slice events —
    * the executor-safe primitive both the driver fold and the
    * distributed planner share, so their semantics cannot drift.
    */
  private[tables] def commitEvents(
      root: com.fasterxml.jackson.databind.JsonNode,
      action: String, instant: String): Seq[SliceEvent] = {
    val out = Seq.newBuilder[SliceEvent]
    val replaced = root.path("partitionToReplaceFileIds")
    replaced.fieldNames().forEachRemaining { part =>
      IcebergMeta.elements(replaced.path(part)).foreach { fid =>
        out += SliceEvent(instant, 0, part, fid.asText(), "", isLog = false, None, None)
      }
    }
    val parts = root.path("partitionToWriteStats")
    parts.fieldNames().forEachRemaining { part =>
      IcebergMeta.elements(parts.path(part)).foreach { st =>
        val p = st.path("path").asText()
        val range: Option[(String, String)] =
          if (st.has("minRecordKey") && st.has("maxRecordKey"))
            Some((st.path("minRecordKey").asText(), st.path("maxRecordKey").asText()))
          else None
        val ranges: Option[Map[String, ColRange]] =
          if (!st.has("columnStats")) None
          else Some {
            val b = Map.newBuilder[String, ColRange]
            val cs = st.path("columnStats")
            cs.fieldNames().forEachRemaining { c =>
              val o = cs.path(c)
              if (o.has("min") && o.has("max"))
                b += c -> ColRange(o.path("min").isNumber,
                  o.path("min").asText(), o.path("max").asText())
            }
            b.result()
          }
        out += SliceEvent(instant, 1, part, st.path("fileId").asText(), p,
          isLog = action == "deltacommit" && p.contains(".log."),
          keyRange = range, colStats = ranges)
      }
    }
    out.result()
  }

  /** Replay slice events (ascending instant, removes before writes
    * within an instant) into latest file slices. Touches only
    * per-(partition, fileId) state, so replaying ONE group's events
    * gives exactly that group's global-fold result — what lets the
    * distributed planner shard the replay by group.
    */
  private[tables] def foldSlices(events: IterableOnce[SliceEvent]): Seq[FileSlice] = {
    val slices = scala.collection.mutable.Map.empty[(String, String), FileSlice]
    events.iterator.foreach { e =>
      if (e.kind == 0) {
        // replacecommit: the file group ceases to exist at this
        // instant (all its records were deleted)
        slices.remove((e.part, e.fileId)); ()
      } else if (e.isLog) {
        // MOR log file: attaches to the group's current base slice
        // (a later base — compaction — resets the list)
        val s = slices.getOrElse((e.part, e.fileId),
          throw new UnsupportedOperationException(
            s"Hudi MERGE_ON_READ log-only file groups are unsupported: deltacommit " +
              s"${e.instant} logs to file group ${e.fileId} in '${e.part}' which has no base " +
              "file (bucket/HBase-index log-only inserts); compact the table first"))
        slices((e.part, e.fileId)) = s.copy(
          logFiles = s.logFiles :+ (e.instant -> e.path),
          keyRange = unionRange(s.keyRange, e.keyRange),
          colStats = unionColStats(s.colStats, e.colStats))
      } else {
        // ascending instant order: later slices simply replace
        slices((e.part, e.fileId)) = FileSlice(e.part, e.fileId, e.instant, e.path,
          keyRange = e.keyRange, colStats = e.colStats)
      }
    }
    slices.values.toSeq.sortBy(s => (s.partition, s.fileId))
  }

  /** Latest file slice per file group from the timeline metadata
    * alone (no directory listing): for each (partition, fileId) the
    * base file written at the greatest completed instant ≤ `asOf`.
    * Driver-side — O(total write-stat entries); above
    * [[HudiTable.AutoDistributedBytesConf]] the read path uses
    * [[latestSlicesDistributed]] instead.
    */
  private[tables] def latestSlices(
      fs: FileSystem, tablePath: String, asOf: Option[String]): Seq[FileSlice] =
    foldSlices(completedInstants(fs, tablePath, asOf).iterator.flatMap {
      case (instant, action) => instantEvents(fs, tablePath, instant, action)
    })

  /** One completed instant's slice events (commit JSON parsed here,
    * [[commitEvents]] decoded) — shared by [[latestSlices]] and the
    * changelog read's per-commit walk.
    */
  private[tables] def instantEvents(
      fs: FileSystem, tablePath: String,
      instant: String, action: String): Seq[SliceEvent] = {
    val in = fs.open(new Path(new Path(tablePath, ".hoodie"), s"$instant.$action"))
    val root = try mapper.readTree(in) finally in.close()
    commitEvents(root, action, instant)
  }

  /** Total bytes of completed commit JSONs — the O(1)-to-estimate
    * proxy for driver slice-planning cost (stats entries ∝ bytes).
    */
  private[tables] def timelineBytes(fs: FileSystem, tablePath: String): Long = {
    val Commit = "(\\d{17})\\.(commit|replacecommit|deltacommit)".r
    fs.listStatus(new Path(tablePath, ".hoodie")).collect {
      case s if Commit.matches(s.getPath.getName) => s.getLen
    }.sum
  }

  /** DISTRIBUTED slice planning (the R40/Iceberg-planner discipline
    * for the third format): commit JSONs parse in parallel tasks,
    * events shuffle once by (partition, fileId), each group replays
    * its own fold, and only slices passing `keep` (partition +
    * column-stats pruning, evaluated executor-side) return to the
    * driver — at 10⁷ file groups the driver never materializes the
    * slice list. Returns (survivors, sample) where `sample` is an
    * arbitrary live slice fetched ONLY when survivors are empty (the
    * declared-empty read's schema source).
    */
  private[tables] def latestSlicesDistributed(
      spark: SparkSession,
      tablePath: String,
      asOf: Option[String],
      keep: FileSlice => Boolean): (Seq[FileSlice], Option[FileSlice]) = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val instants = completedInstants(fs, tablePath, asOf)
    if (instants.isEmpty) return (Seq.empty, None)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val tp = tablePath
    def slicesRdd = spark.sparkContext
      .parallelize(instants, math.max(1, math.min(instants.size, 32)))
      .flatMap { case (instant, action) =>
        val efs = new Path(tp).getFileSystem(conf.value)
        val in = efs.open(new Path(new Path(tp, ".hoodie"), s"$instant.$action"))
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = try m.readTree(in) finally in.close()
        commitEvents(root, action, instant)
      }
      .groupBy(e => (e.part, e.fileId))
      .flatMap { case (_, evs) =>
        // tertiary key: a commit can write a BASE and a LOG for the
        // same file group at one instant (foreign deltacommit) —
        // (instant, kind) alone orders those two nondeterministically
        // after the shuffle, and log-before-base would either throw
        // the log-only error or attach the log to a stale base. Base
        // writes sort first, matching the driver fold's
        // commit-JSON order.
        foldSlices(evs.toSeq.sortBy(e => (e.instant, e.kind, e.isLog)))
      }
    // ONE job: survivors plus at most one non-survivor per partition
    // (the schema sample for an all-pruned read) — never a second
    // full parse+shuffle of the timeline
    val collected = slicesRdd.mapPartitions { it =>
      var sample: Option[FileSlice] = None
      val out = Seq.newBuilder[(Boolean, FileSlice)]
      it.foreach { sl =>
        if (keep(sl)) out += ((true, sl))
        else if (sample.isEmpty) sample = Some(sl)
      }
      (out.result() ++ sample.map((false, _))).iterator
    }.collect()
    val survivors = collected.collect { case (true, sl) => sl }.toSeq
      .sortBy(s => (s.partition, s.fileId))
    val sample =
      if (survivors.nonEmpty) None
      else collected.collectFirst { case (false, sl) => sl }
    (survivors, sample)
  }

  /** EVERY base file any completed commit ever wrote (including
    * since-replaced ones, ascending instant order) — the schema
    * fallback for tables whose live slice set is empty.
    */
  private[tables] def allWrittenSlices(
      fs: FileSystem, tablePath: String): Seq[FileSlice] = {
    val out = scala.collection.mutable.Buffer.empty[FileSlice]
    completedInstants(fs, tablePath, None).foreach { case (instant, action) =>
      val in = fs.open(new Path(new Path(tablePath, ".hoodie"), s"$instant.$action"))
      val root = try mapper.readTree(in) finally in.close()
      val parts = root.path("partitionToWriteStats")
      parts.fieldNames().forEachRemaining { part =>
        IcebergMeta.elements(parts.path(part)).foreach { st =>
          val p = st.path("path").asText()
          if (!p.contains(".log.")) // base files only — callers parquet-read these
            out += FileSlice(part, st.path("fileId").asText(), instant, p)
        }
      }
    }
    out.toSeq
  }

  /** EVERY data path any completed commit ever recorded — base
    * parquet AND `.log` files — in stats order; the cleaner's
    * candidate universe.
    */
  private[tables] def allWrittenPaths(
      fs: FileSystem, tablePath: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer.empty[String]
    completedInstants(fs, tablePath, None).foreach { case (instant, action) =>
      val in = fs.open(new Path(new Path(tablePath, ".hoodie"), s"$instant.$action"))
      val root = try mapper.readTree(in) finally in.close()
      val parts = root.path("partitionToWriteStats")
      parts.fieldNames().forEachRemaining { part =>
        IcebergMeta.elements(parts.path(part)).foreach { st =>
          out += st.path("path").asText()
        }
      }
    }
    out.toSeq
  }

  private[tables] def readSlices(
      spark: SparkSession, tablePath: String, slices: Seq[FileSlice]): DataFrame = {
    require(slices.nonEmpty, "no slices to read")
    // parquet AND orc base files read natively (one relation per
    // format — at most two, flat in slice count); anything else
    // (HFile — legal Hudi, written by foreign engines) refuses
    // LOUDLY with the file and format named instead of dying inside
    // a footer reader
    slices.find(s => !s.relPath.endsWith(".parquet") && !s.relPath.endsWith(".orc"))
      .foreach { s =>
        val ext = s.relPath.split('.').lastOption.getOrElse("?").toUpperCase
        throw new UnsupportedOperationException(
          s"$tablePath stores a non-parquet ($ext) base file for file group " +
            s"${s.fileId}: ${s.relPath}; this reader scans PARQUET and ORC only")
      }
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val declared = latestTableSchema(fs, tablePath)
    def legOf(group: Seq[FileSlice], orc: Boolean): DataFrame = {
      val paths = group.map(s => s"$tablePath/${s.relPath}")
      def rd = spark.read.option("basePath", tablePath)
      def scan(schema: Option[org.apache.spark.sql.types.StructType]) = {
        val r = schema.fold(rd)(rd.schema)
        if (orc) r.orc(paths: _*) else r.parquet(paths: _*)
      }
      val sampled = scan(None)
      // DECLARED-SCHEMA read: after an additive evolution the sampled
      // footer may come from a PRE-evolution file, which would
      // silently drop the new columns from every file. When the
      // timeline records a writer schema (this engine's commits;
      // upstream writers record the same key) with columns the sample
      // lacks, re-read under the widened schema — both readers
      // null-fill requested columns a file doesn't store, so
      // mixed-schema slices read correctly.
      declared match {
        case Some(d) =>
          val have = sampled.schema.fieldNames.toSet
          val extras = d.fields.filterNot(f => have(f.name))
          if (extras.isEmpty) sampled
          else scan(Some(org.apache.spark.sql.types.StructType(
            sampled.schema.fields ++ extras.map(_.copy(nullable = true)))))
        case None => sampled
      }
    }
    val (orcSlices, parqSlices) = slices.partition(_.relPath.endsWith(".orc"))
    Seq((parqSlices, false), (orcSlices, true)).filter(_._1.nonEmpty)
      .map { case (g, orc) => legOf(g, orc) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** MERGE_ON_READ snapshot read: groups WITHOUT logs stream straight
    * from parquet (the COW fast path — zero overhead, full Catalyst
    * pushdown); groups WITH logs union their base scan with the
    * distributed Avro log parse and keep the latest version per
    * record key, ordered by (commit time, intra-commit sequence).
    * Only log-bearing groups pay the per-key shuffle. `withFg`
    * retains the owning file-group id as `_fg`.
    */
  private[tables] def readSlicesMerged(
      spark: SparkSession,
      tablePath: String,
      slices: Seq[FileSlice],
      withFg: Boolean = false
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (logged, plain) = slices.partition(_.logFiles.nonEmpty)
    def withGroup(df: DataFrame, sls: Seq[FileSlice]) =
      if (withFg) withFileGroup(spark, df, sls, tablePath) else df
    if (logged.isEmpty) return withGroup(readSlices(spark, tablePath, slices), slices)

    val baseScan = readSlices(spark, tablePath, logged)
    val dataSchema = baseScan.schema
    val logDf = readLogRows(spark, tablePath, logged, dataSchema)
    val merged = withFileGroup(spark, baseScan, logged, tablePath)
      .withColumn("_seq", lit(0L))
      .withColumn("_del", lit(false))
      .unionByName(logDf)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(RecordKeyCol))
          .orderBy(col(CommitTimeCol).desc, col("_seq").desc)))
      .where(col("_rn") === 1)
      // a key whose LATEST version is a tombstone is deleted
      .where(!col("_del"))
      .drop("_rn", "_seq", "_del")
    val out = if (withFg) merged else merged.drop("_fg")
    if (plain.isEmpty) out
    else withGroup(readSlices(spark, tablePath, plain), plain).unionByName(out)
  }

  /** Distributed parse of the logged slices' `.log` files into rows
    * of `dataSchema` + `_fg` (owning group) + `_seq` (order within a
    * commit: log-file ordinal within the slice × 2³² + record index —
    * later log files of one group carry later instants, so (commit
    * time, _seq) totally orders a key's versions).
    */
  private def readLogRows(
      spark: SparkSession,
      tablePath: String,
      logged: Seq[FileSlice],
      dataSchema: org.apache.spark.sql.types.StructType
  ): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val entries: Seq[(String, String, String, Long)] = logged.flatMap { s =>
      s.logFiles.zipWithIndex.map { case ((instant, rel), i) =>
        (s.fileId, s"$tablePath/$rel", instant, i.toLong << 32)
      }
    }
    val keyIdx = dataSchema.fieldIndex(RecordKeyCol)
    val timeIdx = dataSchema.fieldIndex(CommitTimeCol)
    val width = dataSchema.size
    val logSchema = StructType(dataSchema.fields ++ Seq(
      StructField("_fg", StringType), StructField("_seq", LongType),
      StructField("_del", BooleanType, nullable = false)))
    val rdd = spark.sparkContext
      .parallelize(entries, math.max(1, math.min(entries.size,
        spark.sparkContext.defaultParallelism)))
      .flatMap { case (fg, path, instant, fileBase) =>
        HudiLog.readEntries(conf.value, path, dataSchema).iterator.zipWithIndex.map {
          case (HudiLog.DataEntry(r), i) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(fg, fileBase + i, false))
          case (HudiLog.DeleteEntry(key), i) =>
            // tombstone: only the key + the deltacommit instant (the
            // ordering fields the merge needs); data columns null
            val vals = Array.fill[Any](width)(null)
            vals(keyIdx) = key
            vals(timeIdx) = instant
            org.apache.spark.sql.Row.fromSeq(vals.toSeq ++ Seq(fg, fileBase + i, true))
        }
      }
    spark.createDataFrame(rdd, logSchema)
  }

  /** `(record key, owning file group)` over base files AND log
    * records — the upsert/delete routing index. The base side is a
    * column-pruned parquet scan; the log side projects keys out of
    * the distributed parse. Keys are unique per table, so no merge
    * is needed to resolve ownership.
    */
  private[tables] def sliceKeys(
      spark: SparkSession, tablePath: String, slices: Seq[FileSlice]): DataFrame = {
    val baseKeys = withFileGroup(spark, readSlices(spark, tablePath, slices),
      slices, tablePath)
      .select(col(RecordKeyCol), col("_fg"))
    val logged = slices.filter(_.logFiles.nonEmpty)
    if (logged.isEmpty) baseKeys
    else {
      val dataSchema = readSlices(spark, tablePath, logged).schema
      val logKeys = readLogRows(spark, tablePath, logged, dataSchema)
        .select(col(RecordKeyCol), col("_fg"))
      baseKeys.unionByName(logKeys)
    }
  }

  /** File groups among `slices` holding any incoming key (`_k`
    * column): range-prune the slices against the incoming bounds
    * (groups whose recorded [min,max] cannot hold any incoming key
    * never scan — the bloom-index shape without a metadata table),
    * then ONE distributed semi-join over the survivors' key index.
    */
  private def affectedGroups(
      spark: SparkSession,
      tablePath: String,
      slices: Seq[FileSlice],
      incomingKeys: DataFrame,
      bounds: Option[(String, String)]
  ): Set[String] = {
    val indexSlices = bounds
      .map { case (lo, hi) => rangePruned(slices, lo, hi) }
      .getOrElse(slices)
    if (indexSlices.isEmpty) return Set.empty
    val keyIndex = sliceKeys(spark, tablePath, indexSlices)
    val affected = keyIndex
      .join(incomingKeys, keyIndex(RecordKeyCol) === incomingKeys("_k"), "leftsemi")
      .select("_fg").distinct().collect().map(_.getString(0)).toSet
    require(!affected.contains(null),
      s"file-group lookup failed to resolve scan paths for $tablePath — " +
        "path normalization mismatch between tablePath and _metadata.file_path")
    affected
  }

  /** Union of two optional key ranges; None poisons (an
    * unknown-range contribution may hold any key, so the group can
    * never be pruned).
    */
  private[tables] def unionRange(
      a: Option[(String, String)], b: Option[(String, String)]): Option[(String, String)] =
    (a, b) match {
      case (Some((al, ah)), Some((bl, bh))) =>
        Some((if (al <= bl) al else bl, if (ah >= bh) ah else bh))
      case _ => None
    }

  /** Exact partition-path pruning on hive-style `k=v` segments
    * (equality/IN; conservative may-match otherwise) — DNF over the
    * Filter algebra, executor-safe (the distributed planner evaluates
    * it inside tasks).
    */
  private[tables] def partitionMayMatch(
      partitionPath: String,
      filters: graft.core.Filters.Normalized): Boolean = {
    import graft.core.FilterOp
    if (partitionPath.isEmpty || filters.isEmpty) return true
    val values: Map[String, String] = partitionPath.split('/').flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(k ->
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v))
        case _ => None
      }
    }.toMap
    FileSkipping.mayMatch(filters) { f =>
      values.get(f.column) match {
        case None => true // not a partition column (or missing) — keep
        case Some(v) =>
          f.op match {
            case FilterOp.Eq => segmentMayEqual(v, f.value)
            case FilterOp.In => IcebergStats.inValues(f.value).exists(segmentMayEqual(v, _))
            case _ => true // conservative may-match
          }
      }
    }
  }

  /** TYPED may-equal of a raw partition path segment against a filter
    * literal: a `String.valueOf` compare wrongly prunes when the
    * renderings differ (filter 1.0 against an int-rendered segment
    * '1'), and a wrongly-pruned partition is silent row loss in every
    * composed path (snapshot read, incremental poll, executor-side
    * planner). Numeric literals compare as decimals (so 1.0 == '1'
    * and '1.10' == 1.1); strings/booleans/dates compare by their
    * canonical rendering; an unparseable segment under a numeric
    * filter — or an unrecognized literal type — fails OPEN (the exact
    * predicate is re-applied on rows either way).
    */
  private def segmentMayEqual(seg: String, value: Any): Boolean = value match {
    case null => true // Eq-null matches no rows; keeping is harmless
    case s: String => seg == s
    case b: java.lang.Boolean => seg.equalsIgnoreCase(b.toString)
    case d: java.sql.Date => seg == d.toString
    case d: java.time.LocalDate => seg == d.toString
    case n @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
        _: java.lang.Byte | _: java.lang.Float | _: java.lang.Double |
        _: java.math.BigDecimal | _: scala.math.BigDecimal | _: scala.math.BigInt) =>
      try new java.math.BigDecimal(seg)
        .compareTo(new java.math.BigDecimal(n.toString)) == 0
      catch { case _: NumberFormatException => true }
    case _ => true // unrecognized literal type: ambiguous — keep
  }

  // -------------------------------------------- column statistics

  /** Whether (and how) a column type participates in [[ColRange]]
    * stats: Some(true) = numeric compare, Some(false) = code-point
    * compare (strings; dates render ISO so lexical = chronological),
    * None = not tracked (timestamps, booleans, nested).
    */
  private[tables] def colRangeKind(
      dt: org.apache.spark.sql.types.DataType): Option[Boolean] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
          _: DecimalType => Some(true)
      case StringType | DateType => Some(false)
      case _ => None
    }
  }

  /** String range prefix width (code points) — commit JSON carries
    * prefixes, never multi-KB document bodies.
    */
  private[tables] val StringRangePrefix = 32

  /** Render one file's (min, max) agg values as a [[ColRange]].
    * Outer None = POISON (un-normalizable endpoints, e.g. NaN/Inf —
    * the column has real values we cannot bound); inner None =
    * all-null (no values at all). The distinction matters: absence
    * from a PRESENT stats map is read as all-null and lets MOR unions
    * keep the other contributor's range, so conflating NaN with
    * all-null would let a log's range shadow live base rows. Strings
    * record [[StringRangePrefix]]-code-point prefixed bounds; an
    * unincrementable upper poisons too.
    */
  private[tables] def colRangeOf(
      dt: org.apache.spark.sql.types.DataType,
      lo: Any, hi: Any): Option[Option[ColRange]] =
    colRangeKind(dt) match {
      case None => Some(None) // untracked type: nothing to record
      case Some(numeric) =>
        if (lo == null || hi == null) Some(None) // all-null file
        else if (numeric)
          try Some(Some(ColRange(isNumeric = true,
            BigDecimal(lo.toString).toString, BigDecimal(hi.toString).toString)))
          catch { case _: NumberFormatException => None } // NaN/Inf: poison
        else {
          // strings: prefix lower + incremented upper (the Iceberg
          // truncation discipline); an unincrementable upper poisons
          // — the column has values we cannot bound
          val lower = IcebergStats.truncateLower(lo.toString, StringRangePrefix)
          IcebergStats.truncateUpper(hi.toString, StringRangePrefix) match {
            case Some(upper) => Some(Some(ColRange(isNumeric = false, lower, upper)))
            case None        => None // poison
          }
        }
    }

  /** Build one file's stats map from per-column (lo, hi) endpoints:
    * Some(map) omitting all-null columns, or None when ANY column
    * poisons (the whole file records no stats — sound, never
    * fast-wrong).
    */
  private[tables] def colRangesOf(
      fields: Seq[org.apache.spark.sql.types.StructField],
      endpoint: String => (Any, Any)): Option[Map[String, ColRange]] = {
    val b = Map.newBuilder[String, ColRange]
    fields.foreach { f =>
      val (lo, hi) = endpoint(f.name)
      colRangeOf(f.dataType, lo, hi) match {
        case None          => return None // poison the file's stats
        case Some(Some(r)) => b += f.name -> r
        case Some(None)    => () // all-null: omit
      }
    }
    Some(b.result())
  }

  /** Per-column union for MOR slices: merged rows ⊆ base ∪ log rows,
    * so each column's union range contains them. None on either side
    * (a contributor recorded nothing) poisons the slice; within two
    * PRESENT maps a column on one side only keeps that range (the
    * other contributor was all-null in it — see [[WrittenFile]]), and
    * a kind clash drops just that column.
    */
  private[tables] def unionColStats(
      a: Option[Map[String, ColRange]],
      b: Option[Map[String, ColRange]]): Option[Map[String, ColRange]] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(
        (x.keySet ++ y.keySet).flatMap { c =>
          (x.get(c), y.get(c)) match {
            case (Some(p), Some(q)) =>
              if (p.isNumeric != q.isNumeric) None
              else Some(c -> ColRange(p.isNumeric,
                if (cmpBound(p, p.min, q.min) <= 0) p.min else q.min,
                if (cmpBound(p, p.max, q.max) >= 0) p.max else q.max))
            case (only, other) => (only orElse other).map(c -> _)
          }
        }.toMap)
      case _ => None
    }

  private def cmpBound(r: ColRange, a: String, b: String): Int =
    if (r.isNumeric) BigDecimal(a).compare(BigDecimal(b))
    else IcebergStats.codePointCompare(a, b)

  /** Hudi's decoder for [[FileSkipping.statsMayMatch]]: a slice's
    * recorded column range, with no null or row count (null counts
    * are not sound to union under MOR), so Neq/NotIn/Contains never
    * prune here.
    */
  private[tables] def bounds(r: ColRange): FileSkipping.Bounds = {
    def value(s: String): Option[Any] =
      if (!r.isNumeric) Some(s)
      else try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    FileSkipping.Bounds(value(r.min), value(r.max), nullCount = None, rowCount = None)
  }

  /** Slices whose key range may intersect `[lo, hi]` — the
    * bloom-index shape without a metadata table: a narrow-key upsert
    * or delete only SCANS the groups whose recorded [min,max] record
    * keys overlap the incoming keys' bounds; rangeless slices
    * (foreign writers, pre-stats commits) always scan.
    */
  private[tables] def rangePruned(
      slices: Seq[FileSlice], lo: String, hi: String): Seq[FileSlice] =
    slices.filter(_.keyRange.forall { case (gl, gh) => gl <= hi && lo <= gh })

  /** Incoming keys' [min, max] as strings (None for an empty frame):
    * one column-pruned job over the DELTA, which is what it saves on
    * the full table's key-index scan.
    */
  private def keyBounds(
      df: DataFrame, keyCol: String): Option[(String, String)] = {
    val r = df.agg(
      min(col(keyCol).cast("string")).as("_lo"),
      max(col(keyCol).cast("string")).as("_hi")).head()
    if (r.isNullAt(0) || r.isNullAt(1)) None else Some((r.getString(0), r.getString(1)))
  }

  /** Records per AVRO_DATA_BLOCK the log writer emits — bounds a
    * write task's memory to one block.
    */
  private[tables] val LogBlockRecords = 10000

  private val LogVersionRe = "\\.log\\.(\\d+)_".r

  private[tables] def nextLogVersion(s: FileSlice): Int =
    s.logFiles.flatMap { case (_, rel) =>
      LogVersionRe.findFirstMatchIn(rel).map(_.group(1).toInt)
    }.maxOption.getOrElse(0) + 1

  /** Write delete tombstones (`targets`: RecordKeyCol + `_fg`) as
    * ONE upstream-format log file per affected group, each holding
    * DELETE_BLOCKs of ≤[[LogBlockRecords]] keys — the same
    * distributed consecutive-group streaming as [[writeLogFiles]].
    */
  private def writeDeleteLogs(
      spark: SparkSession,
      targets: DataFrame,
      tablePath: String,
      affectedSlices: Seq[FileSlice],
      instant: String
  ): Seq[WrittenFile] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val naming: Map[String, (String, String, Int)] = affectedSlices.map { sl =>
      sl.fileId -> ((sl.partition, sl.instant, nextLogVersion(sl)))
    }.toMap
    val namingB = spark.sparkContext.broadcast(naming)
    val table = tablePath

    val written = targets.repartition(col("_fg")).sortWithinPartitions("_fg")
      .rdd.mapPartitions { it =>
        val out = Seq.newBuilder[(String, String, String, Long, String, String)]
        var curFg: String = null
        var writer: HudiLog.Writer = null
        var count = 0L
        var kLo: String = null
        var kHi: String = null
        var rel: String = null
        var part: String = null
        val buf = scala.collection.mutable.Buffer.empty[String]
        def flushBlock(): Unit = if (buf.nonEmpty) {
          writer.append(HudiLog.LogBlock(HudiLog.DeleteBlock,
            Map(HudiLog.InstantTimeKey -> instant),
            HudiLog.deleteContent(buf.toSeq, part)))
          count += buf.size
          buf.clear()
        }
        def closeGroup(): Unit = if (writer != null) {
          flushBlock()
          writer.close()
          out += ((curFg, part, rel, count, kLo, kHi))
          writer = null
          count = 0L
          kLo = null
          kHi = null
        }
        it.foreach { row =>
          val fg = row.getString(1)
          if (fg != curFg) {
            closeGroup()
            curFg = fg
            val (p, baseInstant, v) = namingB.value(fg)
            part = p
            val name = s".${fg}_$baseInstant.log.${v}_$WriteToken"
            rel = if (p.isEmpty) name else s"$p/$name"
            val fs = new Path(table).getFileSystem(conf.value)
            val dest = new Path(table, rel)
            fs.mkdirs(dest.getParent)
            writer = new HudiLog.Writer(fs, dest)
          }
          val k = row.getString(0)
          if (k != null) {
            if (kLo == null || k < kLo) kLo = k
            if (kHi == null || k > kHi) kHi = k
            buf += k
            if (buf.size >= LogBlockRecords) flushBlock()
          }
          ()
        }
        closeGroup()
        out.result().iterator
      }.collect().toSeq

    written.map { case (fg, part, rel, n, lo, hi) =>
      WrittenFile(part, fg, rel, n,
        if (lo == null || hi == null) None else Some((lo, hi)),
        // a delete log ADDS no values: present-empty stats keep the
        // base ranges sound (merged rows shrink, never grow)
        colStats = Some(Map.empty))
    }
  }

  /** Write `updates` (meta + data + `_fg`) as ONE upstream-format
    * log file per affected file group, distributed: rows route to
    * their group's reducer (hash on `_fg`, sorted within so groups
    * stream consecutively), each task encodes Avro data blocks of
    * ≤[[LogBlockRecords]] records straight to the filesystem. Driver
    * work is O(affected groups) naming metadata.
    */
  private def writeLogFiles(
      spark: SparkSession,
      updates: DataFrame,
      tablePath: String,
      affectedSlices: Seq[FileSlice],
      instant: String
  ): Seq[WrittenFile] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dataSchema = org.apache.spark.sql.types.StructType(
      updates.schema.fields.filterNot(_.name == "_fg"))
    val avroJson = HudiLog.avroSchema(dataSchema).toString
    // fileId → (partition dir, base instant for the name, log version)
    val naming: Map[String, (String, String, Int)] = affectedSlices.map { s =>
      s.fileId -> ((s.partition, s.instant, nextLogVersion(s)))
    }.toMap
    val namingB = spark.sparkContext.broadcast(naming)
    val fgIdx = updates.schema.fieldIndex("_fg")
    val dataIdx = dataSchema.fieldNames.map(updates.schema.fieldIndex).toSeq
    val table = tablePath

    val keyIdx = updates.schema.fieldIndex(RecordKeyCol)
    val written = updates.repartition(col("_fg")).sortWithinPartitions("_fg")
      .rdd.mapPartitions { it =>
        val avro = new org.apache.avro.Schema.Parser().parse(avroJson)
        val out = Seq.newBuilder[(String, String, String, Long, String, String)]
        var curFg: String = null
        var writer: HudiLog.Writer = null
        var count = 0L
        var kLo: String = null
        var kHi: String = null
        var rel: String = null
        var part: String = null
        val buf = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
        def flushBlock(): Unit = if (buf.nonEmpty) {
          writer.append(HudiLog.LogBlock(HudiLog.AvroDataBlock,
            Map(HudiLog.InstantTimeKey -> instant, HudiLog.SchemaKey -> avroJson),
            HudiLog.avroContent(buf.iterator, dataSchema, avro)))
          count += buf.size
          buf.clear()
        }
        def closeGroup(): Unit = if (writer != null) {
          flushBlock()
          writer.close()
          out += ((curFg, part, rel, count, kLo, kHi))
          writer = null
          count = 0L
          kLo = null
          kHi = null
        }
        it.foreach { row =>
          val fg = row.getString(fgIdx)
          if (fg != curFg) {
            closeGroup()
            curFg = fg
            val (p, baseInstant, v) = namingB.value(fg)
            part = p
            val name = s".${fg}_$baseInstant.log.${v}_$WriteToken"
            rel = if (p.isEmpty) name else s"$p/$name"
            val fs = new Path(table).getFileSystem(conf.value)
            val dest = new Path(table, rel)
            fs.mkdirs(dest.getParent)
            writer = new HudiLog.Writer(fs, dest)
          }
          val k = row.getString(keyIdx)
          if (k != null) {
            if (kLo == null || k < kLo) kLo = k
            if (kHi == null || k > kHi) kHi = k
          }
          buf += org.apache.spark.sql.Row.fromSeq(dataIdx.map(row.get))
          if (buf.size >= LogBlockRecords) flushBlock()
        }
        closeGroup()
        out.result().iterator
      }.collect().toSeq

    // per-column ranges of the log's ADDED rows — one grouped job
    // over the update set (small next to the log write itself), so
    // MOR slices keep data-column skipping after upserts
    val statFields = dataSchema.fields
      .filterNot(f => f.name == CommitTimeCol || f.name == RecordKeyCol)
      .filter(f => colRangeKind(f.dataType).isDefined).toSeq
    val logRanges: Map[String, Option[Map[String, ColRange]]] =
      if (statFields.isEmpty) Map.empty
      else {
        val aggs = statFields.flatMap { f =>
          val c = IcebergStats.prefixCapped(
            col("`" + f.name + "`"), f.dataType, StringRangePrefix)
          Seq(min(c).as(s"_lo_${f.name}"), max(c).as(s"_hi_${f.name}"))
        }
        updates.groupBy(col("_fg")).agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            r.getString(0) -> colRangesOf(statFields, n =>
              (r.get(r.fieldIndex(s"_lo_$n")), r.get(r.fieldIndex(s"_hi_$n"))))
          }.toMap
      }
    written.map { case (fg, part, rel, n, lo, hi) =>
      WrittenFile(part, fg, rel, n,
        if (lo == null || hi == null) None else Some((lo, hi)),
        colStats = logRanges.getOrElse(fg, Some(Map.empty)))
    }
  }

  /** Above this many file groups the path→fileId mapping stops being
    * a plan literal: a 10⁵–10⁶-group table would embed an
    * equally-sized map in EVERY task's serialized plan.
    */
  private[tables] val FgLiteralMax = 1000

  /** Attach `_fg` (the owning file-group id) to a slice scan. Small
    * tables ship the (normalized path → fileId) mapping as a map
    * literal (no join at all); above [[FgLiteralMax]] groups it
    * becomes a BROADCAST left join against a (path, fileId) frame —
    * same null-on-unknown-path semantics, map-side and
    * order-preserving, without the plan bloat.
    */
  private[tables] def withFileGroup(
      spark: SparkSession,
      scan: DataFrame,
      slices: Seq[FileSlice],
      tablePath: String,
      literalMax: Int = FgLiteralMax
  ): DataFrame = {
    val pairs = slices.map(s => (normalizeScheme(s"$tablePath/${s.relPath}"), s.fileId))
    // _metadata.file_path is URI-ENCODED while timeline relPaths keep
    // the raw on-disk spelling: decode the column once so escaped
    // partition directories resolve their file group (the same probe
    // discipline as DvDeleted/FileConstAttr)
    import org.apache.spark.sql.graftbridge.Bridge
    val pathCol = Bridge.column(MetadataPathDecode(
      Bridge.expression(col("_metadata.file_path"))))
    if (pairs.size <= literalMax)
      scan.withColumn("_fg", element_at(typedLit(pairs.toMap), pathCol))
    else {
      import spark.implicits._
      scan.withColumn("_fg_path", pathCol)
        .join(broadcast(pairs.toDF("_fg_path", "_fg")), Seq("_fg_path"), "left")
        .drop("_fg_path")
    }
  }
}

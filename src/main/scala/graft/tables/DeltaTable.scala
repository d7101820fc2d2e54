package graft.tables

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta-format table: transaction-log replay + file skipping +
  * the reference's DeltalakeTable dataframe semantics (schema
  * normalization, keep-first dedup, computed columns, raw-SQL
  * predicate) — deltalake_table.py:69-304, with `versionAsOf` time
  * travel mirroring `delta_table(version=...)`
  * (deltalake_table.py:286-300).
  *
  * Scale shape: the log replay and file-level pruning happen on the
  * driver over log metadata only (exactly what delta-rs does); data
  * files are opened only after partition-value pruning AND min/max
  * stats skipping. Surviving files are read as one parquet scan per
  * distinct partition-value tuple (partition columns re-attached as
  * typed literals — they are not stored in the data files), unioned;
  * each scan still gets Catalyst's filter/projection pushdown.
  */
class DeltaTable(
    val name: String,
    val uri: String,
    description: String = "",
    docsFilters: Seq[Filter] = Seq.empty,
    val uniqueColumns: Option[Seq[String]] = None,
    val orderColumn: Option[String] = None,
    val extraCols: Seq[(Column, String, String)] = Seq.empty,
    val statsCols: Seq[String] = Seq.empty
) extends TableProtocol {

  override val tableMetadata: TableMetadata =
    TableMetadata("DELTA_LAKE", description, docsFilters)

  val PredicateKey = "predicate"
  /** args.extra key for time travel (Long/Int/String version). */
  val VersionKey = "versionAsOf"
  /** args.extra key for timestamp time travel: epoch millis (Long) or
    * an ISO-8601 instant string; resolves to the last version
    * committed at or before it ([[DeltaLog.versionAtTimestamp]]).
    */
  val TimestampKey = "timestampAsOf"
  /** args.extra key (Boolean): materialize row tracking's `_row_id` /
    * `_row_commit_version` columns (null for files written before the
    * `rowTracking` feature was enabled).
    */
  val RowIdsKey = "withRowIds"
  /** args.extra key (Boolean): plan the scan distributedly — file
    * state reconstruction AND pruning run as Spark jobs
    * ([[DeltaFilesDataset.prunedFiles]]) and the driver collects only
    * the SURVIVING files plus O(commits) metadata. Same result rows as
    * the default driver-side replay (spec-enforced); the right mode
    * for tables whose file LIST outgrows the driver.
    *
    * When the key is ABSENT the mode is chosen automatically: a cheap
    * O(commits) estimate of the live file count
    * ([[DeltaLog.estimateFileCount]] — `_last_checkpoint` action count
    * + JSON tail bytes, no add rows materialized) is compared against
    * [[DeltaTable.AutoDistributedThresholdConf]] (default
    * [[DeltaTable.DefaultAutoDistributedThreshold]] files). A user
    * who never heard of the flag gets the distributed path before a
    * 10⁷-file table can kill the driver; an explicit true/false always
    * wins.
    */
  val DistributedPlanningKey = "distributedPlanning"

  override def apply(spark: SparkSession, args: ReadArgs): DataFrame = {
    require(!(args.extra.contains(VersionKey) && args.extra.contains(TimestampKey)),
      s"$VersionKey and $TimestampKey are mutually exclusive")
    val version = args.extra.get(VersionKey).map {
      case v: Long   => v
      case v: Int    => v.toLong
      case v: String => v.toLong
      case other     => throw new IllegalArgumentException(s"bad $VersionKey: $other")
    }.orElse(args.extra.get(TimestampKey).map { t =>
      val millis = t match {
        case ms: Long  => ms
        case s: String => java.time.Instant.parse(s).toEpochMilli
        case other     => throw new IllegalArgumentException(s"bad $TimestampKey: $other")
      }
      DeltaLog.versionAtTimestamp(spark, uri, millis)
    })
    val distributedPlanning = args.extra.get(DistributedPlanningKey).map {
      case b: Boolean => b
      case s: String  => s.toBoolean
      case other => throw new IllegalArgumentException(s"bad $DistributedPlanningKey: $other")
    }.getOrElse {
      val threshold = spark.conf.getOption(DeltaTable.AutoDistributedThresholdConf)
        .map(_.toLong).getOrElse(DeltaTable.DefaultAutoDistributedThreshold)
      threshold >= 0 && DeltaLog.estimateFileCount(spark, uri, version) >= threshold
    }
    // distributed planning never materializes the full file list on
    // the driver: metadata-only replay + Spark-side pruning, then
    // collect only the survivors
    val (meta, survivors) =
      if (distributedPlanning)
        (DeltaLog.snapshot(spark, uri, version, withFiles = false).metadata,
          DeltaFilesDataset.collectPruned(spark, uri, args.filters, version))
      else {
        val snap = DeltaLog.snapshot(spark, uri, version)
        // base-column filters also prune generated-column partitions
        // ([[GeneratedPruning]]); the exact residual predicate below
        // still applies to surviving rows
        val skipFilters = GeneratedPruning.withDerived(spark, args.filters, snap.metadata)
        (snap.metadata, snap.files.filter(f =>
          DeltaFileSkipping.mayMatch(f, skipFilters, snap.metadata)))
      }
    val schema = meta.schema
    val partCols = meta.partitionColumns

    val withRowIds = args.extra.get(RowIdsKey).exists {
      case b: Boolean => b
      case s: String  => s.toBoolean
      case other      => throw new IllegalArgumentException(s"bad $RowIdsKey: $other")
    }
    var df = DeltaRead.readFiles(spark, uri, meta, survivors, withRowIds)

    // Residual predicate on data (file skipping is only a may-match
    // prefilter; the exact predicate always applies).
    args.extra.get(PredicateKey) match {
      case Some(sql: String) => df = df.where(expr(sql))
      case _                 => Filters.toColumn(args.filters).foreach(p => df = df.filter(p))
    }

    extraCols.foreach { case (c, alias, _) => df = df.withColumn(alias, c) }
    uniqueColumns.filter(_.nonEmpty) match {
      case Some(keys) =>
        df = graft.operators.Dedup.keepFirstProjected(df, keys, orderColumn, args.columns)
      case None =>
        args.columns.foreach(cols => df = df.select(cols.map(col): _*))
    }
    df
  }

  /** Reference `fetch_df_by_partition` (deltalake_table.py:302-340):
    * the rows of exactly the partitions matching `partition` — a
    * conjunction of filters over partition columns only (the
    * reference's `dt.files(partition_filters=...)` contract; a
    * non-partition column refuses loudly). Partition-value matching
    * is exact, so this never opens a non-matching file; missing
    * partitions yield an EMPTY frame with the normalized schema, not
    * an error (reference `_empty_normalized_df`). Like the reference,
    * this is a direct fetch: `uniqueColumns`/`extraCols` query
    * semantics do not apply.
    */
  def byPartitions(
      spark: SparkSession,
      partition: Seq[Filter],
      versionAsOf: Option[Long] = None
  ): DataFrame = {
    val snap = DeltaLog.snapshot(spark, uri, versionAsOf)
    val partCols = snap.metadata.partitionColumns.toSet
    val bad = partition.map(_.column).distinct.filterNot(partCols.contains)
    require(bad.isEmpty,
      s"byPartitions filters must reference partition columns of $name only; " +
        s"got ${bad.mkString(", ")} (partitions: ${partCols.mkString(", ")})")
    val norm = Filters.normalize(partition)
    val survivors = snap.files.filter(f =>
      DeltaFileSkipping.mayMatch(f, norm, snap.metadata))
    var df = DeltaRead.readFiles(spark, uri, snap.metadata, survivors)
    // partition pruning is exact for the algebra's ops, but re-apply
    // the predicate on rows anyway — belt-and-braces at zero cost
    // (Catalyst folds a literal-true partition predicate away)
    Filters.toColumn(norm).foreach(p => df = df.filter(p))
    df
  }

  /** Reference `fetch_dfs_by_paths` (deltalake_table.py:343-376)
    * scoped to this table: read exactly `paths` (absolute or
    * table-relative) as one frame — schema-normalized, partition
    * columns re-attached, deletion vectors honored. Paths that are
    * not live files of the snapshot refuse loudly (reading a
    * vacuumed/removed file would silently resurrect dead rows).
    */
  def byPaths(
      spark: SparkSession,
      paths: Seq[String],
      versionAsOf: Option[Long] = None
  ): DataFrame = {
    val snap = DeltaLog.snapshot(spark, uri, versionAsOf)
    val base = uri.stripSuffix("/") + "/"
    val rel = paths.map(p => if (p.startsWith(base)) p.substring(base.length) else p)
    val live = snap.files.map(f => f.path -> f).toMap
    val missing = rel.filterNot(live.contains)
    require(missing.isEmpty,
      s"paths are not live files of $name at version ${snap.version}: " +
        missing.take(5).mkString(", "))
    DeltaRead.readFiles(spark, uri, snap.metadata, rel.distinct.map(live))
  }

  override def getSchema(spark: SparkSession): TableSchema = {
    val snap = DeltaLog.snapshot(spark, uri, withFiles = false)
    val partitions = snap.metadata.partitionColumns.map(c =>
      TablePartition(c, snap.schema(c).dataType.simpleString, ""))
    val cols = TableSchema.columnsOf(snap.schema, statsCols.toSet) ++
      extraCols.map { case (_, alias, t) => TableColumn(alias, t, readonly = true) }
    TableSchema(partitions, cols)
  }
}

object DeltaTable {
  /** Session conf: live-file-count estimate at which a read with no
    * explicit `distributedPlanning` arg switches to distributed scan
    * planning. Set to a negative value to disable the auto-gate.
    */
  val AutoDistributedThresholdConf = "spark.graft.delta.autoDistributedPlanningThreshold"

  /** 100k add entries with stats ≈ hundreds of MB of driver heap once
    * materialized as [[DeltaLog.AddFile]]s — past this, planning the
    * scan as Spark jobs is the safe default at any executor count.
    */
  val DefaultAutoDistributedThreshold = 100000L
}

/** Shared scan path over replayed `add` files — used by DeltaTable
  * reads AND DeltaWrite's copy-on-write rewrite (so a rewrite of a
  * DV-bearing file cannot resurrect its deleted rows).
  *
  * One parquet scan per distinct partition-value tuple (partition
  * columns are not stored in the data files — they are re-attached as
  * typed literals), DV-bearing files split into their own scan where
  * the deletion bitmap is applied as a `_metadata.row_index`
  * anti-filter inside the scan: no join, no shuffle. Bitmaps are
  * driver-loaded metadata (like the stats JSON) and ship to tasks in
  * the filter expression.
  */
private[graft] object DeltaRead {

  /** Row-tracking output columns ([[DeltaLog.AddFile.baseRowId]]). */
  val RowIdCol = "_row_id"
  val RowCommitVersionCol = "_row_commit_version"

  def readFiles(
      spark: SparkSession,
      tableUri: String,
      meta: DeltaLog.Metadata,
      files: Seq[DeltaLog.AddFile],
      withRowIds: Boolean = false
  ): DataFrame = {
    val schema = meta.schema
    val partCols = meta.partitionColumns
    val outSchema =
      if (!withRowIds) schema
      else StructType(schema.fields ++ Seq(
        StructField(RowIdCol, org.apache.spark.sql.types.LongType),
        StructField(RowCommitVersionCol, org.apache.spark.sql.types.LongType)))
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    // id-mode mapping: parquet columns are matched by FIELD ID (the
    // physicalSchema carries parquet.field.id metadata); the conf only
    // affects schemas that carry field ids, so enabling it session-wide
    // is side-effect-free for every other scan
    if (meta.columnMappingMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    // files store PHYSICAL column names under column mapping; read
    // physically, rename to the logical schema after the scan
    val physPart = partCols.map(meta.physicalName).toSet
    val physDataSchema = StructType(
      meta.physicalSchema.fields.filterNot(f => physPart.contains(f.name)))
    val logDataFields = schema.fields.filterNot(f => partCols.contains(f.name))
    val base = tableUri.stripSuffix("/")

    // physical → logical: alias top-level names, cast nested structs
    // (cast renames struct fields positionally — the physical and
    // logical trees are shape-identical by construction)
    def toLogical(df: DataFrame): DataFrame =
      if (!meta.isColumnMapped) df
      else {
        val extras = df.columns
          .filter(c => c == RowIdCol || c == RowCommitVersionCol ||
            partCols.contains(c)).toSeq.map(col)
        df.select(logDataFields.zip(physDataSchema.fields).map {
          case (lf, pf) => col(pf.name).cast(lf.dataType).as(lf.name)
        }.toSeq ++ extras: _*)
      }

    // row tracking: per-file baseRowId / defaultRowCommitVersion ride
    // the scan like the DV bitmaps do — driver metadata resolved
    // against _metadata.file_path, row id = base + physical row index
    // (stable under DV deletes by construction; null for pre-feature
    // files, which have no ids). Files REWRITTEN by optimize/delete
    // carry the original ids in hidden materialized columns (named in
    // the table config, per the protocol), which take precedence; the
    // extra fields read as null from files that lack them.
    import org.apache.spark.sql.graftbridge.Bridge
    val baseIds: Map[String, Long] =
      if (!withRowIds) Map.empty
      else files.flatMap(f => f.baseRowId.map(b =>
        DvDeleted.normalizePath(DeltaLog.resolvePath(base, f.path)) -> b)).toMap
    val commitVers: Map[String, Long] =
      if (!withRowIds) Map.empty
      else files.flatMap(f => f.defaultRowCommitVersion.map(v =>
        DvDeleted.normalizePath(DeltaLog.resolvePath(base, f.path)) -> v)).toMap
    val matCols: Seq[String] =
      if (!withRowIds) Seq.empty
      else Seq(meta.configuration.get(DeltaWrite.MatRowIdKey),
        meta.configuration.get(DeltaWrite.MatRcvKey)).flatten
    val readSchema =
      if (matCols.isEmpty) physDataSchema
      else StructType(physDataSchema.fields ++
        matCols.map(StructField(_, org.apache.spark.sql.types.LongType)))
    def attachRowIds(df: DataFrame): DataFrame =
      if (!withRowIds) df
      else {
        val fresh = Bridge.column(FileLongAttr(
          Bridge.expression(col("_metadata.file_path")),
          Bridge.expression(col("_metadata.row_index")),
          baseIds, addIndex = true))
        val freshVer = Bridge.column(FileLongAttr(
          Bridge.expression(col("_metadata.file_path")),
          Bridge.expression(col("_metadata.row_index")),
          commitVers, addIndex = false))
        val rid = meta.configuration.get(DeltaWrite.MatRowIdKey)
          .map(m => coalesce(col(m), fresh)).getOrElse(fresh)
        val rcv = meta.configuration.get(DeltaWrite.MatRcvKey)
          .map(m => coalesce(col(m), freshVer)).getOrElse(freshVer)
        df.withColumn(RowIdCol, rid).withColumn(RowCommitVersionCol, rcv)
      }
    val dataCols: Seq[String] =
      physDataSchema.fieldNames.toSeq ++
        (if (withRowIds) Seq(RowIdCol, RowCommitVersionCol) else Seq.empty)

    // Partition values ride the scan as per-file constants resolved
    // against _metadata.file_path ([[FileConstAttr]]): partitionValues
    // are keyed by PHYSICAL name under mapping, converted once on the
    // driver with the same string→type cast the old per-partition
    // literal column did. The whole snapshot reads as AT MOST TWO
    // parquet relations (plain + DV-bearing) — plan width is flat in
    // partition cardinality, so Catalyst analysis cost no longer grows
    // with the table's partition count.
    val zone = PartitionAttach.sessionZone(spark)
    // ONE path→partition-tuple map per scan (not one map per
    // partition column): k columns extract struct fields from the
    // same shared map object, so driver heap and closure weight stay
    // O(files) however many partition columns the table has
    val pvFields = StructType(partCols.map(c => StructField(c, schema(c).dataType)))
    val pvPhys = partCols.map(meta.physicalName)
    val pvTuple: Map[String, Any] =
      if (partCols.isEmpty) Map.empty
      else files.map { f =>
        val vs = partCols.zip(pvPhys).map { case (c, phys) =>
          f.partitionValues.get(phys).flatten
            .map(v => PartitionAttach.fromString(v, schema(c).dataType, zone)).orNull
        }
        DvDeleted.normalizePath(DeltaLog.resolvePath(base, f.path)) ->
          PartitionAttach.tupleRow(vs)
      }.toMap
    def attachParts(df: DataFrame): DataFrame =
      partCols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
        d.withColumn(c, PartitionAttach.tupleField(pvTuple, pvFields, i))
      }
    def oneScan(group: Seq[DeltaLog.AddFile], dvFilter: Option[Column]): DataFrame = {
      var df: DataFrame = spark.read.schema(readSchema)
        .parquet(group.map(f => DeltaLog.resolvePath(base, f.path)): _*)
      df = attachRowIds(df)
      dvFilter.foreach(p => df = df.where(p))
      toLogical(attachParts(df).select((dataCols ++ partCols).map(col): _*))
        .select(outSchema.fieldNames.map(col).toSeq: _*)
    }

    val (dvFiles, plainFiles) = files.partition(_.dv.exists(_.cardinality > 0))
    val scans = Seq.newBuilder[DataFrame]
    if (plainFiles.nonEmpty) scans += oneScan(plainFiles, None)
    if (dvFiles.nonEmpty) {
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dvBytes: Map[String, Array[Byte]] = dvFiles.map { f =>
        DvDeleted.normalizePath(DeltaLog.resolvePath(base, f.path)) ->
          f.dv.get.readData(fs, base)
      }.toMap
      val deleted = Bridge.column(DvDeleted(
        Bridge.expression(col("_metadata.file_path")),
        Bridge.expression(col("_metadata.row_index")),
        dvBytes))
      scans += oneScan(dvFiles, Some(!deleted))
    }
    scans.result().reduce(_.unionByName(_))
  }
}

/** Delta's decoder for [[FileSkipping]]: partition values and the
  * per-file `stats` JSON (numRecords/minValues/maxValues/nullCount,
  * keyed by PHYSICAL column name) of an `add`, evaluated for the
  * replayed list on the driver and for [[DeltaFilesDataset]] rows
  * inside the distributed planner's tasks. Numerics decode as
  * BigDecimal (floats as Float), strings and ISO dates as text;
  * timestamps are left undecoded and never prune.
  */
object DeltaFileSkipping {

  private val mapper = new ObjectMapper()

  def mayMatch(
      file: DeltaLog.AddFile,
      filters: Filters.Normalized,
      meta: DeltaLog.Metadata
  ): Boolean = mayMatch(file.partitionValues, file.stats, filters, meta)

  /** [[mayMatch]] over the two fields of an `add` that pruning reads. */
  def mayMatch(
      partitionValues: Map[String, Option[String]],
      stats: Option[String],
      filters: Filters.Normalized,
      meta: DeltaLog.Metadata
  ): Boolean = {
    lazy val root = stats.flatMap(s =>
      try Option(mapper.readTree(s)) catch { case _: Exception => None })
    FileSkipping.mayMatch(filters) { f =>
      // unknown column: never prune here
      meta.schema.fields.find(_.name == f.column).forall { field =>
        // partitionValues and stats are keyed by PHYSICAL column name
        val phys = meta.physicalName(f.column)
        if (meta.partitionColumns.contains(f.column))
          // no value recorded in the log: don't prune
          partitionValues.get(phys).forall(FileSkipping.partitionMayMatch(_, f, field.dataType))
        else root.forall(s => FileSkipping.statsMayMatch(f, bounds(s, phys, field.dataType)))
      }
    }
  }

  private def bounds(stats: JsonNode, phys: String, dt: DataType): FileSkipping.Bounds = {
    def bound(section: String): Option[Any] =
      Option(stats.path(section).get(phys)).filterNot(_.isNull)
        .flatMap(n => FileSkipping.decodeText(dt, n.asText()))
    FileSkipping.Bounds(bound("minValues"), bound("maxValues"),
      Option(stats.path("nullCount").get(phys)).map(_.asLong()),
      Option(stats.get("numRecords")).map(_.asLong()))
  }
}

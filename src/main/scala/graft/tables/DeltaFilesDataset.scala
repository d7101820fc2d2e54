package graft.tables

import graft.core.Filters
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed reconstruction of a Delta table's LIVE file state —
  * the scale path for tables whose logs outgrow driver-side replay
  * (10⁷-file tables: [[DeltaLog.snapshot]] collects every action on
  * the driver, which is exactly what delta-rs does and is bounded by
  * checkpoints, but at some table size the file LIST itself stops
  * fitting driver memory; this surface keeps it a DataFrame end to
  * end).
  *
  * Same sources as the driver replay — newest usable checkpoint
  * (classic, multi-part, or v2 manifest + sidecars) plus the JSON
  * commit tail — but the add/remove reconciliation runs as a Spark
  * job: per path, the latest action wins (version, then add-beats-
  * remove within a version, matching commit line order where removes
  * precede the re-add of a DV rewrite). Checkpoint rows enter at the
  * checkpoint version; checkpoint `remove` tombstones are vacuum
  * metadata, not liveness, and are ignored exactly like the replay
  * does. One ExtremumBy shuffle on the path key — no driver
  * materialization at any point.
  *
  * Parity with `snapshot(...).files` is spec-enforced across plain,
  * DV-bearing, row-tracked, OPTIMIZEd and checkpointed tables
  * (DeltaFilesDatasetSpec).
  */
object DeltaFilesDataset {

  /** DvDescriptor fields as a null-safe struct column type. */
  private val DvType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", LongType),
    StructField("sizeInBytes", LongType),
    StructField("cardinality", LongType)))

  private val PvType = MapType(StringType, StringType, valueContainsNull = true)

  /** Live `add` entries at `versionAsOf` (default: latest) as a
    * DataFrame: `path` (decoded), `partitionValues`, `size`, `stats`,
    * `deletionVector`, `baseRowId`, `defaultRowCommitVersion`,
    * `tags`, `version` (the commit that last (re-)added the file;
    * checkpoint-era files carry the checkpoint version).
    */
  def filesDataset(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None
  ): DataFrame = {
    val fs = DeltaLog.logDir(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (jsons, cps) = DeltaLog.listLog(spark, tablePath)
    val known = jsons.keySet ++ cps.keySet
    require(known.nonEmpty, s"$tablePath has no Delta log")
    val target = versionAsOf.getOrElse(known.max)
    require(known.exists(_ <= target), s"version $target predates the log in $tablePath")

    val cpChoice = DeltaLog.checkpointChoice(fs, tablePath, cps, target)
    val cpVersion = cpChoice.map(_._1)

    // same aged-prefix hole refusal as the driver replay
    val replayFrom = cpVersion.map(_ + 1L).getOrElse(0L)
    val missing = (replayFrom to target).filterNot(jsons.contains)
    require(missing.isEmpty,
      s"Delta log of $tablePath has no commits for versions " +
        s"${missing.mkString(", ")} and no complete checkpoint covers them")

    // ---- checkpoint adds (parquet rows or v2 manifest + sidecars) ----
    val cpAdds: Option[DataFrame] = cpChoice.map { case (cpV, paths) =>
      val isV2Json = paths.size == 1 && paths.head.getName.endsWith(".json")
      val base =
        if (isV2Json) spark.read.json(paths.head.toString)
        else spark.read.parquet(paths.map(_.toString): _*)
      val sidecarNames: Seq[String] =
        if (!base.columns.contains("sidecar")) Seq.empty
        else base.select("sidecar.path").where("sidecar IS NOT NULL")
          .collect().map(_.getString(0)).toSeq // O(sidecar files), driver-safe
      val frames = Seq(base).filter(_.columns.contains("add")) ++
        (if (sidecarNames.isEmpty) Seq.empty
         else {
           val scPaths = sidecarNames.map(n => new Path(DeltaLog.sidecarDir(tablePath), n))
           scPaths.foreach(p => require(fs.exists(p),
             s"v2 checkpoint of $tablePath references a missing sidecar file: $p"))
           Seq(spark.read.parquet(scPaths.map(_.toString): _*))
         })
      frames.map(df => normalizedAdds(df, lit(cpV)))
        .reduceOption(_.unionByName(_))
        .getOrElse(emptyActions(spark))
    }

    // ---- JSON tail: adds + removes with the commit version ----
    val tailPaths = (replayFrom to target).flatMap(jsons.get).map(_.toString)
    val tail: Option[(DataFrame, DataFrame)] =
      if (tailPaths.isEmpty) None
      else {
        val raw = spark.read.json(tailPaths: _*)
          .withColumn("version",
            regexp_extract(col("_metadata.file_path"), "(\\d{20})\\.json$", 1)
              .cast(LongType))
        val adds =
          if (!raw.columns.contains("add")) emptyActions(spark)
          else normalizedAdds(raw.where(col("add").isNotNull), col("version"))
        val removes =
          if (!raw.columns.contains("remove")) emptyActions(spark).limit(0)
          else raw.where(col("remove").isNotNull).select(
            decodedPath(col("remove.path")).as("path"),
            col("version"),
            lit(0).as("isAdd"),
            lit(null).cast(PvType).as("partitionValues"),
            lit(null).cast(LongType).as("size"),
            lit(null).cast(StringType).as("stats"),
            lit(null).cast(DvType).as("deletionVector"),
            lit(null).cast(LongType).as("baseRowId"),
            lit(null).cast(LongType).as("defaultRowCommitVersion"),
            lit(null).cast(PvType).as("tags"))
        Some((adds, removes))
      }

    val actions = (cpAdds.toSeq ++ tail.toSeq.flatMap(t => Seq(t._1, t._2)))
      .reduceOption(_.unionByName(_))
      .getOrElse(emptyActions(spark))

    // latest action per path wins; at equal versions the add wins
    // (commit line order: removes precede the re-add of a DV rewrite)
    val payload = struct(
      col("path"), col("partitionValues"), col("size"), col("stats"),
      col("deletionVector"), col("baseRowId"), col("defaultRowCommitVersion"),
      col("tags"), col("version"), col("isAdd"))
    actions
      .groupBy(col("path"))
      .agg(graft.functions.ExtremumBy.maxBy(
        payload, struct(col("version"), col("isAdd"))).as("_last"))
      .where(col("_last.isAdd") === 1)
      .select(
        col("path"),
        col("_last.partitionValues").as("partitionValues"),
        col("_last.size").as("size"),
        col("_last.stats").as("stats"),
        col("_last.deletionVector").as("deletionVector"),
        col("_last.baseRowId").as("baseRowId"),
        col("_last.defaultRowCommitVersion").as("defaultRowCommitVersion"),
        col("_last.tags").as("tags"),
        col("_last.version").as("version"))
  }

  /** [[filesDataset]] filtered to the files that MAY contain rows
    * matching `filters` — the distributed form of the driver-side
    * pruning over the replayed list, completing the 10⁷-file scale
    * path: listing, reconciliation AND pruning run as Spark jobs, so
    * the driver only ever holds the SURVIVING files (plus O(commits)
    * metadata from the metadata-only replay). The tasks evaluate the
    * same predicate the driver does ([[DeltaFileSkipping.mayMatch]]
    * over each row's partition values and stats JSON), as Iceberg's
    * and Hudi's distributed planners do. Base-column filters prune
    * generated-column partitions here too ([[GeneratedPruning]]).
    */
  def prunedFiles(
      spark: SparkSession,
      tablePath: String,
      filters: Filters.Normalized,
      versionAsOf: Option[Long] = None
  ): DataFrame = {
    val meta = DeltaLog.snapshot(spark, tablePath, versionAsOf, withFiles = false).metadata
    val derived = GeneratedPruning.withDerived(spark, filters, meta)
    val files = filesDataset(spark, tablePath, versionAsOf)
    if (derived.isEmpty) files
    else files.filter((r: Row) => DeltaFileSkipping.mayMatch(
      partitionValuesOf(r), Option(r.getAs[String]("stats")), derived, meta))
  }

  /** [[prunedFiles]] collected back to replay form — O(surviving
    * files) driver memory, the hand-off point into the shared scan
    * path ([[DeltaRead.readFiles]]).
    */
  def collectPruned(
      spark: SparkSession,
      tablePath: String,
      filters: Filters.Normalized,
      versionAsOf: Option[Long] = None
  ): Seq[DeltaLog.AddFile] =
    prunedFiles(spark, tablePath, filters, versionAsOf).collect().toSeq.map { r =>
      def optLong(field: String): Option[Long] = {
        val i = r.fieldIndex(field)
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      }
      val dv = Option(r.getAs[Row]("deletionVector")).map(d =>
        DeletionVectors.DvDescriptor(
          d.getAs[String]("storageType"),
          d.getAs[String]("pathOrInlineDv"),
          Option(d.getAs[Any]("offset")).map { case l: Long => l },
          d.getAs[Long]("sizeInBytes").toInt,
          d.getAs[Long]("cardinality")))
      DeltaLog.AddFile(
        r.getAs[String]("path"),
        partitionValuesOf(r),
        r.getAs[Long]("size"),
        Option(r.getAs[String]("stats")),
        dv,
        Option(r.getAs[scala.collection.Map[String, String]]("tags"))
          .map(_.toMap).getOrElse(Map.empty),
        baseRowId = optLong("baseRowId"),
        defaultRowCommitVersion = optLong("defaultRowCommitVersion"))
    }

  /** A [[filesDataset]] row's partition values in replay form (a
    * null value — every row NULL in the column — as None).
    */
  private def partitionValuesOf(r: Row): Map[String, Option[String]] =
    Option(r.getAs[scala.collection.Map[String, String]]("partitionValues"))
      .map(_.toMap.map { case (k, v) => k -> Option(v) })
      .getOrElse(Map.empty)

  /** `add.path` decoding with URI semantics, declaratively: '+' is
    * protected (URI path decoding does not space-ify it), %XX decodes,
    * and an absolute-URI scheme+authority prefix is stripped — the
    * distributed twin of the replay's `URI.create(p).getPath`.
    *
    * Order matters for parity: the scheme is parsed on the RAW string
    * (a relative path whose first segment holds an ENCODED colon, like
    * `a%3Ab/f.parquet`, has no scheme — decoding first would conjure
    * one), and a malformed escape falls back to the raw path exactly
    * like the replay's IllegalArgumentException catch.
    */
  private def decodedPath(p: Column): Column = {
    val stripped = regexp_replace(p, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:(//[^/]*)?", "")
    coalesce(try_url_decode(regexp_replace(stripped, "\\+", "%2B")), p)
  }

  /** Normalize an `add`-bearing frame (parquet checkpoint, sidecar, or
    * inferred JSON) to one fixed action schema. JSON inference yields
    * structs for partitionValues/tags — converted to maps via
    * to_json/from_json with nulls preserved (a null partition value
    * means "all rows NULL", which prunes differently than absence).
    */
  private def normalizedAdds(df: DataFrame, version: Column): DataFrame = {
    val a = col("add")
    val addType = df.schema("add").dataType.asInstanceOf[StructType]
    def has(field: String) = addType.fieldNames.contains(field)
    def mapCol(field: String): Column =
      if (!has(field)) lit(null).cast(PvType)
      else addType(field).dataType match {
        case _: MapType => a.getField(field).cast(PvType)
        case _ => from_json(
          to_json(a.getField(field), Map("ignoreNullFields" -> "false")), PvType)
      }
    def optLong(field: String): Column =
      if (has(field)) a.getField(field).cast(LongType) else lit(null).cast(LongType)
    val dv: Column =
      if (!has("deletionVector")) lit(null).cast(DvType)
      else when(a.getField("deletionVector").isNotNull, struct(
        a.getField("deletionVector").getField("storageType").cast(StringType).as("storageType"),
        a.getField("deletionVector").getField("pathOrInlineDv").cast(StringType).as("pathOrInlineDv"),
        dvField(addType, a, "offset").as("offset"),
        dvField(addType, a, "sizeInBytes").as("sizeInBytes"),
        dvField(addType, a, "cardinality").as("cardinality")))
    df.where(a.isNotNull).select(
      decodedPath(a.getField("path")).as("path"),
      version.cast(LongType).as("version"),
      lit(1).as("isAdd"),
      mapCol("partitionValues").as("partitionValues"),
      a.getField("size").cast(LongType).as("size"),
      (if (has("stats")) a.getField("stats").cast(StringType)
       else lit(null).cast(StringType)).as("stats"),
      dv.as("deletionVector"),
      optLong("baseRowId").as("baseRowId"),
      optLong("defaultRowCommitVersion").as("defaultRowCommitVersion"),
      mapCol("tags").as("tags"))
  }

  private def dvField(addType: StructType, a: Column, field: String): Column = {
    val dvType = addType("deletionVector").dataType.asInstanceOf[StructType]
    if (dvType.fieldNames.contains(field))
      a.getField("deletionVector").getField(field).cast(LongType)
    else lit(null).cast(LongType)
  }

  private def emptyActions(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("path", StringType),
      StructField("version", LongType),
      StructField("isAdd", IntegerType),
      StructField("partitionValues", PvType),
      StructField("size", LongType),
      StructField("stats", StringType),
      StructField("deletionVector", DvType),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType),
      StructField("tags", PvType)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}

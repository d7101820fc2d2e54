package graft.tables

import graft.core.{Filter, Filters}
import org.apache.avro.generic.GenericData
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Test oracle for the soundness of file skipping: a file that
  * [[FileSkipping]] prunes must hold no row matching the filter,
  * whichever format recorded its statistics — Delta's stats JSON and
  * partition values, Iceberg's manifest bounds, counts and identity
  * partition tuple, or Hudi's commit column ranges and partition
  * path.
  */
object SkippingSoundnessOracle {

  /** Stage `df` under `staging` (the statistics every writer collects
    * in its tasks), encode each file's statistics the three ways, and
    * return every (format, file, filter) where the file was pruned but
    * holds a row matching the filter (empty when pruning is sound).
    */
  def violations(
      spark: SparkSession, df: DataFrame, staging: Path, partitionBy: Seq[String],
      filters: Seq[Filter]
  ): Seq[String] = {
    val schema = df.schema
    val dataFields = schema.fields.filterNot(f => partitionBy.contains(f.name)).toSeq
    val staged = LakeFiles.writeStaged(spark, df, staging, partitionBy,
      dataFields.map(_.name), fullStrings = Set(HudiWrite.RecordKeyCol))
      .filter(_.numRecords > 0)
    if (staged.isEmpty || filters.isEmpty) return Seq.empty

    // the truth: which filters each written file holds a matching row for
    val read = spark.read.schema(schema).parquet(staging.toString)
    val hits = filters.indices.map(i =>
      max(when(Filters.toColumn(filters(i)), lit(1))).as(s"_h$i"))
    val matching: Map[String, Set[Int]] = read
      .groupBy(col("_metadata.file_path")).agg(hits.head, hits.tail: _*)
      .collect().map { r =>
        DvDeleted.decodeMetadataPath(r.getString(0)) ->
          filters.indices.filterNot(i => r.isNullAt(i + 1)).toSet
      }.toMap

    val delta = DeltaLog.Metadata(schema.json, partitionBy)
    val ice = icebergFiles(schema, partitionBy, staged)
    val statFields = HudiWrite.statFieldsOf(schema, partitionBy)
    for {
      f <- staged
      held = matching.getOrElse(DvDeleted.normalizePath(new Path(staging, f.relPath).toString),
        Set.empty[Int])
      (filter, i) <- filters.zipWithIndex if held(i)
      dnf = Filters.normalize(Seq(filter))
      (format, kept) <- Seq(
        "delta" -> DeltaFileSkipping.mayMatch(f.partitionValues,
          DeltaWrite.statsJson(dataFields, f.numRecords, f.columns), dnf, delta),
        "iceberg" -> IcebergMeta.mayMatch(ice.files(f.relPath), ice.spec, ice.meta, dnf),
        "hudi" -> HudiTable.keepSlice(dnf)(HudiWrite.FileSlice(
          f.relPath.split('/').dropRight(1).mkString("/"), "fg", "0", f.relPath,
          colStats = HudiWrite.fileStatsOf(statFields, f)._3)))
      if !kept
    } yield s"$format pruned ${f.relPath} under $filter, which it holds a row for " +
      s"(${f.numRecords} rows, stats ${f.columns.get(filter.column)})"
  }

  private final case class Iceberg(
      meta: IcebergMeta.TableMeta,
      spec: Seq[IcebergMeta.SpecField],
      files: Map[String, IcebergMeta.ContentFile])

  /** The staged files as Iceberg plans them: bounds and counts written
    * into a manifest `data_file` record by the writer's encoder and
    * parsed back by the reader's, under an identity spec.
    */
  private def icebergFiles(
      schema: StructType, partitionBy: Seq[String], staged: Seq[LakeFiles.StagedFile]
  ): Iceberg = {
    val ids = schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    val withIds = StructType(schema.fields.map(f => f.copy(metadata =
      new MetadataBuilder().withMetadata(f.metadata)
        .putLong(DeltaLog.FieldIdKey, ids(f.name).toLong).build())))
    val partFields = partitionBy.map(schema(_))
    val spec = partFields.zipWithIndex.map { case (pf, i) =>
      IcebergMeta.SpecField(pf.name, "identity", ids(pf.name), 1000 + i)
    }
    val meta = IcebergMeta.TableMeta("", 2, None, withIds, ids.map(_.swap),
      Map(0 -> spec), 0, Seq.empty)
    val dfSchema = IcebergManifests.manifestEntrySchema(partFields)
      .getField("data_file").schema()
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val files = staged.map { f =>
      val record = new GenericData.Record(dfSchema)
      IcebergStats.putStatsFields(record, dfSchema,
        f.columns.filter { case (n, _) => IcebergStats.eligible(types(n)) },
        ids, types, f.numRecords)
      val partition: Map[String, Any] = partFields.map { pf =>
        pf.name -> f.partitionValues(pf.name).map(v =>
          if (pf.dataType == IntegerType) v.toInt else v).orNull
      }.toMap
      f.relPath -> IcebergMeta.ContentFile(0, f.relPath, partition, f.numRecords, 0L, 0,
        Seq.empty,
        lowerBounds = IcebergStats.boundsOf(record, "lower_bounds"),
        upperBounds = IcebergStats.boundsOf(record, "upper_bounds"),
        nullCounts = IcebergStats.countsOf(record, "null_value_counts"),
        valueCounts = IcebergStats.countsOf(record, "value_counts"))
    }.toMap
    Iceberg(meta, spec, files)
  }
}

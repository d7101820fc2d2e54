package graft.tables

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Test oracle for the statistics a staged write collects in its
  * tasks ([[LakeFiles.writeStaged]]): each writer's encoding of them
  * must equal what its grouped read-back aggregate over the staged
  * files produced before the write collected them.
  */
object StagedStatsOracle {

  private val mapper = new ObjectMapper()

  /** Stage `df` under `staging` with statistics for every column (the
    * Hudi record key uncapped, as `HudiWrite` stages it) and compare
    * the Delta stats JSON, the Iceberg column bounds and the Hudi key
    * and column ranges of every file with the aggregates over the
    * written files. Returns the mismatches (empty when all agree).
    */
  def mismatches(
      spark: SparkSession, df: DataFrame, staging: Path, partitionBy: Seq[String]
  ): Seq[String] = {
    val dataFields = df.schema.fields.filterNot(f => partitionBy.contains(f.name)).toSeq
    val staged = LakeFiles.writeStaged(spark, df, staging, partitionBy,
      dataFields.map(_.name), fullStrings = Set(HudiWrite.RecordKeyCol))
    val byFile = staged.map(f => DvDeleted.normalizePath(new Path(staging, f.relPath).toString) -> f)
    val listed = LakeFiles.listByExt(
      staging.getFileSystem(spark.sparkContext.hadoopConfiguration), staging)
      .map(p => DvDeleted.normalizePath(p.toString)).sorted
    // every written file is reported once, and only written files
    if (listed != byFile.map(_._1).sorted)
      return Seq(s"files: written $listed, reported ${byFile.map(_._1)}")
    // an empty partitioned write writes no file, and nothing to read back
    if (listed.isEmpty) return Seq.empty

    // Delta: the stats JSON against the aggregate DeltaConvert still runs
    val deltaOracle = DeltaWrite.computeStats(spark, Seq(staging.toString), dataFields)
    val delta = byFile.flatMap { case (key, f) =>
      val got = DeltaWrite.statsJson(dataFields, f.numRecords, f.columns)
      val want = deltaOracle.get(key)
      if (sameJson(got.map(mapper.readTree), want.map(mapper.readTree))) None
      else Some(s"delta ${f.relPath}: write-time $got, aggregate $want")
    }

    // Iceberg: the column bounds against the aggregate addFiles still runs
    val iceFields = dataFields.filter(f => IcebergStats.eligible(f.dataType))
    val iceAggs = count(lit(1)).as("_n") +: IcebergStats.aggColumns(iceFields)
    val iceOracle = readBack(spark, staging, Some(StructType(dataFields)))
      .agg(iceAggs.head, iceAggs.tail: _*).collect().map { r =>
        val total = r.getLong(r.fieldIndex("_n"))
        DvDeleted.decodeMetadataPath(r.getString(0)) -> (total, IcebergStats.statsOfRow(r, iceFields, total))
      }.toMap
    val iceberg = byFile.flatMap { case (key, f) =>
      val got = (f.numRecords,
        f.columns.filter { case (n, _) => iceFields.exists(_.name == n) })
      val want = iceOracle.getOrElse(key, (0L, Map.empty[String, LakeFiles.ColumnStats]))
      if (got._1 == want._1 && got._2.keySet == want._2.keySet &&
        got._2.forall { case (n, c) => sameBounds(c, want._2(n)) }) None
      else Some(s"iceberg ${f.relPath}: write-time $got, aggregate $want")
    }

    // Hudi: the removed grouped read-back of HudiWrite.stageByGroup
    val hudi =
      if (!dataFields.exists(_.name == HudiWrite.RecordKeyCol)) Seq.empty
      else {
        val statFields = HudiWrite.statFieldsOf(df.schema, partitionBy)
        val key = col(HudiWrite.RecordKeyCol)
        val aggs = Seq(count(lit(1)).as("_n"), min(key).as("_kmin"), max(key).as("_kmax")) ++
          statFields.flatMap { f =>
            val c = IcebergStats.prefixCapped(
              col("`" + f.name + "`"), f.dataType, HudiWrite.StringRangePrefix)
            Seq(min(c).as(s"_lo_${f.name}"), max(c).as(s"_hi_${f.name}"))
          }
        val oracle = readBack(spark, staging, None).agg(aggs.head, aggs.tail: _*).collect().map { r =>
          val ranges = HudiWrite.colRangesOf(statFields, n =>
            (r.get(r.fieldIndex(s"_lo_$n")), r.get(r.fieldIndex(s"_hi_$n"))))
          DvDeleted.decodeMetadataPath(r.getString(0)) ->
            ((r.getLong(r.fieldIndex("_n")),
              if (r.isNullAt(r.fieldIndex("_kmin")) || r.isNullAt(r.fieldIndex("_kmax"))) None
              else Some((r.getString(r.fieldIndex("_kmin")), r.getString(r.fieldIndex("_kmax")))),
              ranges))
        }.toMap
        // zero-row files get no file group, so no stats
        byFile.filter(_._2.numRecords > 0).flatMap { case (k, f) =>
          val got = HudiWrite.fileStatsOf(statFields, f)
          val want = oracle.get(k)
          if (want.contains(got)) None
          else Some(s"hudi ${f.relPath}: write-time $got, aggregate $want")
        }
      }

    delta ++ iceberg ++ hudi
  }

  private def readBack(spark: SparkSession, staging: Path, schema: Option[StructType]) = {
    val reader = schema.fold(spark.read)(spark.read.schema)
    reader.parquet(staging.toString).groupBy(col("_metadata.file_path").as("_p"))
  }

  /** Bounds compare by Spark's ordering: -0.0 = 0.0 and NaN = NaN. */
  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y) == 0
    case (x: Float, y: Float) => SQLOrderingUtil.compareFloats(x, y) == 0
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case _ => a == b
  }

  /** Iceberg bounds compare as the manifest writes them: strings
    * truncated to the bound width.
    */
  private def sameBounds(a: LakeFiles.ColumnStats, b: LakeFiles.ColumnStats): Boolean = {
    def lower(v: Option[Any]) = v.map { case s: String => IcebergStats.truncateLower(s); case o => o }
    def upper(v: Option[Any]) = v.map { case s: String => IcebergStats.truncateUpper(s); case o => o }
    def same(x: Option[Any], y: Option[Any]) = (x, y) match {
      case (Some(p), Some(q)) => sameValue(p, q)
      case _ => x.isEmpty && y.isEmpty
    }
    a.nullCount == b.nullCount && same(lower(a.min), lower(b.min)) &&
      same(upper(a.max), upper(b.max))
  }

  private def sameJson(a: Option[JsonNode], b: Option[JsonNode]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => sameNode(x, y)
    case _ => a.isEmpty && b.isEmpty
  }

  private def sameNode(a: JsonNode, b: JsonNode): Boolean =
    if (a.isNumber && b.isNumber) a.decimalValue.compareTo(b.decimalValue) == 0
    else if (a.isObject && b.isObject) {
      import scala.jdk.CollectionConverters._
      val names = a.fieldNames.asScala.toSet
      names == b.fieldNames.asScala.toSet && names.forall(n => sameNode(a.get(n), b.get(n)))
    } else a == b
}

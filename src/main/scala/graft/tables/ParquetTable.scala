package graft.tables

import graft.core._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Partition column declaration, analog of the reference's
  * `Partition(column, col_type)` (datarepo/core/tables/util.py:41-43).
  */
final case class Partition(column: String, dataType: DataType)

/** Physical layout of partition directories
  * (util.py:PartitioningScheme):
  *  - Directory: `uri/5956/2024-03-24`
  *  - Hive:      `uri/implant_id=5956/date=2024-03-24`
  */
sealed trait PartitioningScheme
object PartitioningScheme {
  case object Directory extends PartitioningScheme
  case object Hive      extends PartitioningScheme
}

/** Parquet-backed table with partition-prefix pushdown.
  *
  * Re-expresses `ParquetTable` (datarepo/core/tables/parquet_table.py:
  * 152-424) Spark-first. The reference's key optimization — building
  * the longest URI prefix from equality filters so the object-store
  * List() call is narrow (parquet_table.py:_build_uri_from_filters) —
  * is kept: we walk the ordered partitions and, while every DNF
  * conjunction pins the partition with exactly one equality filter
  * (all agreeing), we extend the read path. Pinned partition columns
  * are re-attached as typed literal columns. For the Hive layout the
  * remaining partition columns come back via Spark's built-in
  * partition discovery, and any remaining filters on them are pruned
  * by Catalyst at *planning* time (never a full-data scan). For the
  * Directory layout (no `col=` names in the path), remaining
  * partition levels are enumerated via the filesystem, pruned
  * driver-side against the filters — the same listing pyarrow would
  * do, minus the pruned-out subtrees — and read as a union of
  * leaf scans with literal partition columns.
  */
class ParquetTable(
    val name: String,
    val uri: String,
    val partitioning: Seq[Partition],
    val partitioningScheme: PartitioningScheme = PartitioningScheme.Hive,
    description: String = "",
    docsFilters: Seq[Filter] = Seq.empty,
    docsColumns: Option[Seq[String]] = None,
    val parquetFileName: String = "df.parquet"
) extends TableProtocol {

  override val tableMetadata: TableMetadata =
    TableMetadata("PARQUET", description, docsFilters, docsColumns)

  /** Result of prefix construction: read root, partitions not pinned,
    * residual filters, and the pinned (applied) equality filters.
    */
  final case class PrefixPlan(
      prefix: String,
      remaining: Seq[Partition],
      residual: Filters.Normalized,
      applied: Seq[Filter]
  )

  /** Longest-prefix construction from equality filters; mirrors
    * parquet_table.py:_build_uri_from_filters including the
    * trailing-slash-exactness concern (we match directories exactly,
    * not string prefixes).
    */
  def buildPrefix(filters: Filters.Normalized): PrefixPlan = {
    if (filters.isEmpty || partitioning.isEmpty)
      return PrefixPlan(uri, partitioning, filters, Seq.empty)

    var prefix = uri
    var residual: Seq[scala.collection.mutable.Buffer[Filter]] =
      filters.map(_.toBuffer)
    val applied = scala.collection.mutable.Buffer.empty[Filter]
    var remaining = partitioning

    var continue = true
    while (continue && remaining.nonEmpty) {
      val part = remaining.head
      val perConj = residual.map(conj => exactlyOneEquality(part, conj.toSeq))
      if (perConj.isEmpty || perConj.exists(_.isEmpty) ||
          !perConj.forall(_ == perConj.head)) {
        continue = false
      } else {
        val f = perConj.head.get
        val component = partitioningScheme match {
          case PartitioningScheme.Directory => f.value.toString
          case PartitioningScheme.Hive      => s"${part.column}=${f.value}"
        }
        prefix = s"${prefix.stripSuffix("/")}/$component"
        residual.foreach(conj => conj -= f)
        applied += f
        remaining = remaining.tail
      }
    }
    // A conjunction left empty here is TRUE for every row under the
    // pinned prefix (all of its filters were consumed by pinning, or
    // it was empty to begin with) — it makes the whole residual
    // disjunction TRUE, so no residual filter may be applied at all.
    // (Stripping just the empty conjunction, as the reference does,
    // would silently drop rows matched by that disjunct.)
    val residualSeqs = residual.map(_.toSeq)
    val residualDnf = if (residualSeqs.exists(_.isEmpty)) Seq.empty else residualSeqs
    PrefixPlan(prefix, remaining, residualDnf, applied.toSeq)
  }

  /** Exactly-one-strict-equality check per partition per conjunction
    * (util.py:exactly_one_equality_filter).
    */
  private def exactlyOneEquality(part: Partition, conj: Seq[Filter]): Option[Filter] = {
    val onCol = conj.filter(_.column == part.column)
    onCol match {
      case Seq(f) if f.op == FilterOp.Eq => Some(f)
      case _                             => None
    }
  }

  override def apply(spark: SparkSession, args: ReadArgs): DataFrame =
    read(spark, args, allowEmpty = false)

  /** Reference `fetch_df_by_partition` (deltalake_table.py:302-340)
    * for parquet layouts: the rows of exactly the partitions matching
    * `partition` — a conjunction of filters over DECLARED partition
    * columns only (anything else refuses loudly). A partition with no
    * data yields an EMPTY frame with the table's normalized schema,
    * not an error (reference `_empty_normalized_df`) — the one
    * behavioral difference from `apply`, which treats a nonexistent
    * pinned path as a user error.
    */
  def byPartitions(spark: SparkSession, partition: Seq[Filter]): DataFrame = {
    val declared = partitioning.map(_.column).toSet
    val bad = partition.map(_.column).distinct.filterNot(declared.contains)
    require(bad.isEmpty,
      s"byPartitions filters must reference partition columns of $name only; " +
        s"got ${bad.mkString(", ")} (partitions: ${declared.mkString(", ")})")
    read(spark, ReadArgs(filters = Filters.normalize(partition)), allowEmpty = true)
  }

  /** Reference `fetch_dfs_by_paths` (deltalake_table.py:343-376)
    * scoped to this table: read exactly `paths` (absolute or
    * table-relative parquet files) as one frame. Partition columns are
    * re-derived from each file's directory components per the layout
    * (Hive `col=v` names, path-unescaped the way Spark's own
    * partition discovery unescapes them; Directory positionally, with
    * the directory depth required to match the declared partition
    * count) and re-attached as typed literals; schemas are normalized
    * across files by name with missing columns null (reference
    * `_normalize_df`).
    *
    * Paths are normalized through Hadoop `Path` before the
    * under-the-root test, so `file:` spellings and redundant slashes
    * compare equal; an absolute path outside the table root refuses
    * loudly instead of being silently concatenated onto the base, and
    * each path must name an actual FILE — a directory would silently
    * widen "read exactly these files" to everything under it.
    */
  def byPaths(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, s"byPaths of $name needs at least one path")
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qBase = fs.makeQualified(new Path(uri))
    val basePrefix = qBase.toString.stripSuffix("/") + "/"
    val frames = paths.distinct.map { p =>
      val cand = new Path(p)
      // Dot-segment normalization BEFORE the prefix test: Hadoop
      // keeps ".." verbatim in absolute paths, so un-normalized
      // "root/../elsewhere" would pass a raw startsWith check and
      // escape the root at the filesystem level. (Relative paths
      // normalize in the Path(parent, child) constructor already.)
      val abs =
        if (cand.isAbsolute || cand.toUri.getScheme != null)
          new Path(fs.makeQualified(cand).toUri.normalize())
        else new Path(qBase, p)
      require(abs.toString.startsWith(basePrefix),
        s"$p resolves to $abs, outside the root of $name ($uri)")
      val st =
        try fs.getFileStatus(abs)
        catch {
          case _: java.io.FileNotFoundException =>
            throw new IllegalArgumentException(s"$abs is not a file of $name")
        }
      require(st.isFile,
        s"$abs is a directory, not a file of $name — byPaths reads exactly the named files")
      val rel = abs.toString.substring(basePrefix.length)
      val dirs = rel.split('/').dropRight(1).toSeq
      val values: Seq[(Partition, String)] = partitioningScheme match {
        case PartitioningScheme.Hive =>
          dirs.flatMap { seg =>
            seg.split("=", 2) match {
              case Array(k, v) =>
                partitioning.find(_.column == k)
                  .map(_ -> org.apache.spark.sql.catalyst.catalog
                    .ExternalCatalogUtils.unescapePathName(v))
              case _ => None
            }
          }
        case PartitioningScheme.Directory =>
          require(dirs.length == partitioning.length,
            s"$abs sits $rel under $name, whose Directory layout declares " +
              s"${partitioning.length} partition level(s) (${partitioning.map(_.column).mkString(", ")}) " +
              s"but the path has ${dirs.length}")
          partitioning.zip(dirs)
      }
      var d = spark.read.parquet(abs.toString)
      values.foreach { case (part, v) =>
        d = d.withColumn(part.column, lit(v).cast(part.dataType))
      }
      d
    }
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def read(spark: SparkSession, args: ReadArgs, allowEmpty: Boolean): DataFrame = {
    val plan = buildPrefix(args.filters)

    // a fully/partially pinned prefix that does not exist on disk is a
    // missing partition: byPartitions yields the empty normalized
    // frame (reference semantics); apply keeps refusing loudly
    if (allowEmpty) {
      val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new Path(plan.prefix)))
        return emptyNormalized(spark)
    }

    var df: DataFrame = partitioningScheme match {
      case PartitioningScheme.Hive =>
        // basePath keeps pinned partition columns out of the data;
        // remaining ones are discovered and pruned by Catalyst.
        if (plan.remaining.nonEmpty)
          spark.read.option("basePath", plan.prefix).parquet(plan.prefix)
        else
          readCachingSchema(spark, plan.prefix)
      case PartitioningScheme.Directory =>
        readDirectoryLayout(spark, plan) match {
          case Some(d) => d
          case None =>
            if (allowEmpty) return emptyNormalized(spark)
            else throw new IllegalArgumentException(
              s"No partitions of $name match the given filters under ${plan.prefix}")
        }
    }

    // Hive partition-type inference may differ from the declaration —
    // cast discovered partition columns to their declared types.
    if (partitioningScheme == PartitioningScheme.Hive) {
      val present = df.columns.toSet
      plan.remaining.filter(p => present.contains(p.column)).foreach { p =>
        df = df.withColumn(p.column, col(p.column).cast(p.dataType))
      }
    }

    // Re-attach pinned partition columns as typed literals
    // (parquet_table.py:316-330).
    plan.applied.foreach { f =>
      val t = partitioning.find(_.column == f.column).get.dataType
      df = df.withColumn(f.column, lit(f.value).cast(t))
    }

    Filters.toColumn(plan.residual).foreach(pred => df = df.filter(pred))
    args.columns.foreach(cols => df = df.select(cols.map(col): _*))
    df
  }

  /** Footer-schema caching read for the unpartitioned fast path —
    * rationale on [[SchemaCache]].
    */
  private def readCachingSchema(spark: SparkSession, prefix: String): DataFrame =
    SchemaCache.readParquet(spark, prefix)

  /** Directory layout: enumerate remaining partition levels, prune
    * against remaining filters driver-side (this is partition pruning
    * on path metadata, not data), then union leaf scans annotated
    * with their partition values.
    */
  private def readDirectoryLayout(spark: SparkSession, plan: PrefixPlan): Option[DataFrame] = {
    if (plan.remaining.isEmpty) return Some(spark.read.parquet(plan.prefix))

    val fs = new Path(plan.prefix).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Enumerate leaves: (path, partitionValues aligned with plan.remaining)
    def expand(p: Path, levels: Seq[Partition]): Seq[(Path, Seq[String])] =
      levels match {
        case Nil => Seq((p, Seq.empty))
        case _ +: rest =>
          fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
            expand(st.getPath, rest).map { case (leaf, vs) =>
              (leaf, st.getPath.getName +: vs)
            }
          }
      }

    val leaves = expand(new Path(plan.prefix), plan.remaining)

    // Prune leaves whose partition values cannot satisfy the residual
    // filters (only equality/in filters on partition cols are used for
    // pruning; the full residual predicate is still applied on data).
    val partCols = plan.remaining.map(_.column)
    def mayMatch(values: Seq[String]): Boolean = {
      val byCol = partCols.zip(values).toMap
      plan.residual.isEmpty || plan.residual.exists { conj =>
        conj.forall { f =>
          byCol.get(f.column) match {
            case None => true
            case Some(v) =>
              f.op match {
                case FilterOp.Eq    => v == f.value.toString
                case FilterOp.Neq   => v != f.value.toString
                case FilterOp.In    => IcebergStats.inValues(f.value).exists(_.toString == v)
                case FilterOp.NotIn => !IcebergStats.inValues(f.value).exists(_.toString == v)
                case _              => true // range ops on strings: don't prune
              }
          }
        }
      }
    }

    val kept = leaves.filter { case (_, vs) => mayMatch(vs) }
    if (kept.isEmpty) return None

    Some(kept
      .map { case (leaf, vs) =>
        var d = spark.read.parquet(leaf.toString)
        partCols.zip(vs).zip(plan.remaining).foreach { case ((c, v), p) =>
          d = d.withColumn(c, lit(v).cast(p.dataType))
        }
        d
      }
      .reduce(_.unionByName(_)))
  }

  /** Empty frame with the table's normalized schema (reference
    * `_empty_normalized_df`): data columns plus every declared
    * partition column at its declared type, zero rows.
    *
    * The schema comes from ONE leaf file's footer (first file found
    * walking the layout) plus the declared partitioning — not from an
    * unfiltered full read, which would fail on a table whose root
    * exists but holds no partitions yet, and for the Directory layout
    * would enumerate and union every leaf just to throw the rows away.
    * A fully-empty table yields its partition columns alone (the only
    * schema that exists before the first file lands).
    */
  private def emptyNormalized(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val fs = new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def firstLeaf(p: Path): Option[Path] = {
      val sts =
        try fs.listStatus(p).toSeq
        catch { case _: java.io.FileNotFoundException => return None }
      val (dirs, files) = sts.partition(_.isDirectory)
      files.map(_.getPath).sortBy(_.getName)
        .find(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .orElse(dirs.map(_.getPath).sortBy(_.getName).view.flatMap(firstLeaf).headOption)
    }
    val dataSchema: StructType = firstLeaf(new Path(uri)) match {
      case Some(f) => spark.read.parquet(f.toString).schema
      case None    => new StructType()
    }
    val partFields = partitioning
      .filterNot(p => dataSchema.fieldNames.contains(p.column))
      .map(p => StructField(p.column, p.dataType))
    val schema = StructType(dataSchema.fields ++ partFields)
    require(schema.nonEmpty,
      s"$name is empty and declares no partitions — no schema to normalize to")
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
  }

  /** Fully-pinned leaf file path (parquet_table.py:build_file_fragment). */
  def buildFileFragment(filters: Seq[Filter]): String = {
    val plan = buildPrefix(Filters.normalize(filters))
    if (plan.remaining.nonEmpty)
      throw new IllegalArgumentException(
        s"Not enough partitions specified, missing: ${plan.remaining.map(_.column)}")
    s"${plan.prefix.stripSuffix("/")}/$parquetFileName"
  }

  override def getSchema(spark: SparkSession): TableSchema = {
    val partitions = docsFilters.map(f =>
      TablePartition(f.column, f.value.getClass.getSimpleName, f.value))
    val df = apply(spark, ReadArgs(filters = Filters.normalize(docsFilters)))
    TableSchema(partitions, TableSchema.columnsOf(df.schema))
  }
}

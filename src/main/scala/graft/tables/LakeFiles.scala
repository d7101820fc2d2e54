package graft.tables

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{
  FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** File primitives the Delta, Iceberg and Hudi writers share: the
  * put-if-absent publish every commit rests on (a Delta log entry, an
  * Iceberg `v<N>.metadata.json`, a Hudi timeline instant), the staged
  * parquet write with its per-file statistics, and the recursive
  * lister.
  */
private[graft] object LakeFiles {

  // serializes the exists-check + publish window for in-process writers
  private val publishLock = new Object

  /** Put-if-absent of `target` with ATOMIC CONTENT: the bytes are
    * written to a dot-temp file beside it, then linked into place, so
    * a concurrent reader never lists a partially written file. On a
    * local filesystem link(2) is both content-atomic and exclusive
    * ACROSS processes: it fails if the target exists, unlike
    * rename(2), which would silently replace a racing process's file.
    * Other filesystems fall back to rename, which is content-atomic
    * but put-if-absent only best-effort without a locking store. The
    * JVM-wide lock serializes in-process writers (local[n]).
    *
    * Returns false when `target` already exists: the caller lost an
    * optimistic-concurrency race and should re-read and retry. A real
    * I/O error propagates.
    */
  def putIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Boolean =
    publishLock.synchronized {
      !fs.exists(target) && {
        val tmp = new Path(target.getParent,
          s"._commit_${java.util.UUID.randomUUID().toString.take(8)}.json.tmp")
        try {
          val out = fs.create(tmp, false)
          try out.write(bytes) finally out.close()
          fs match {
            case _: LocalFileSystem | _: RawLocalFileSystem =>
              try {
                java.nio.file.Files.createLink(
                  new java.io.File(target.toUri.getPath).toPath,
                  new java.io.File(tmp.toUri.getPath).toPath)
                true
              } catch { case _: java.nio.file.FileAlreadyExistsException => false }
            case _ => fs.rename(tmp, target)
          }
        } finally fs.delete(tmp, false) // harmless once renamed away
      }
    }

  /** Every file under `dir` (recursively) whose name ends with `ext`. */
  def listByExt(fs: FileSystem, dir: Path, ext: String = ".parquet"): Seq[Path] = {
    val b = Seq.newBuilder[Path]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(ext)) b += s.getPath
    }
    b.result()
  }

  /** `file`'s path below `base`, compared as URI paths: listings return
    * scheme-qualified paths ("file:/...") while `base` is usually
    * unqualified, so a string prefix strip would never match.
    */
  def relativize(base: Path, file: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val f = file.toUri.getPath
    require(f.startsWith(b + "/"), s"$file not under $base")
    f.drop(b.length + 1)
  }

  // ------------------------------------------------ staged writes

  /** Per-column statistics of one written file: Spark's own `min` and
    * `max` (its type ordering: NaN above every double, code-point
    * order for strings; None when every value is null) as external
    * values, exactly what a `min`/`max` aggregate collects, and the
    * null count.
    */
  final case class ColumnStats(min: Option[Any], max: Option[Any], nullCount: Long)

  /** One file of a staged write: its path below the staging directory,
    * the partition values its directory names (unescaped; the Hive
    * null sentinel as None), its row count and the statistics of the
    * requested columns. A zero-row file carries no column statistics.
    */
  final case class StagedFile(
      relPath: String,
      partitionValues: Map[String, Option[String]],
      numRecords: Long,
      columns: Map[String, ColumnStats])

  /** String bounds keep at most this many code points: wider than any
    * writer's bound prefix plus the one code point that tells a capped
    * value from a short one (Delta and Hudi 32, Iceberg 16). Capping
    * is monotone in code-point order, so the capped min and max are
    * the min and max of the capped values.
    */
  private val StringBoundPrefix = 64

  /** Write `df` as parquet under `staging` (Hive-style directories for
    * `partitionBy`) and return every written file with the statistics
    * of `statsColumns`, collected inside the write tasks by a
    * [[WriteTaskStatsTracker]] and returned with each committed task's
    * result, so no query reads the files back. String bounds are
    * capped at [[StringBoundPrefix]] code points except for the
    * columns in `fullStrings`.
    */
  def writeStaged(
      spark: SparkSession,
      df: DataFrame,
      staging: Path,
      partitionBy: Seq[String],
      statsColumns: Seq[String],
      fullStrings: Set[String] = Set.empty
  ): Seq[StagedFile] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val state = session.sessionState
    // a fresh execution of the analyzed plan, as DataFrameWriter plans
    // its write command
    val qe = state.executePlan(df.queryExecution.analyzed)
    val plan = qe.executedPlan
    def attr(name: String) = plan.output.find(a => state.conf.resolver(a.name, name))
      .getOrElse(throw new IllegalArgumentException(
        s"column $name is not in ${plan.output.map(_.name).mkString(", ")}"))
    val partAttrs = partitionBy.map(attr)
    val dataAttrs = plan.output.filterNot(a => partAttrs.exists(_.exprId == a.exprId))
    require(dataAttrs.nonEmpty, s"cannot partition by every column (${partitionBy.mkString(", ")})")
    val tracked = statsColumns.map { c =>
      val a = attr(c)
      val ordinal = dataAttrs.indexWhere(_.exprId == a.exprId)
      require(ordinal >= 0, s"stats column $c is a partition column")
      TrackedColumn(c, ordinal, a.dataType, capped = !fullStrings.contains(c))
    }
    val hadoopConf = state.newHadoopConf()
    val out = staging.getFileSystem(hadoopConf).makeQualified(staging)
    val committer = FileCommitProtocol.instantiate(
      state.conf.fileCommitProtocolClass, java.util.UUID.randomUUID().toString, out.toString)
    val stats = new FileStatsJobTracker(tracked, partitionBy.size)
    SQLExecution.withNewExecutionId(qe, Some(s"staged write $out")) {
      FileFormatWriter.write(session, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(out.toString, Map.empty, plan.output), hadoopConf,
        partAttrs, None, Seq(Bridge.basicWriteStatsTracker(hadoopConf), stats), Map.empty)
    }
    val toScala = tracked.map(t => CatalystTypeConverters.createToScalaConverter(t.dataType))
    stats.collected.map { f =>
      StagedFile(f.relPath, partitionValuesOf(f.relPath, partitionBy), f.numRecords,
        if (f.numRecords == 0) Map.empty
        else tracked.indices.map { i =>
          val conv = toScala(i)
          tracked(i).name -> ColumnStats(
            Option(f.min(i)).map(conv), Option(f.max(i)).map(conv), f.nullCount(i))
        }.toMap)
    }
  }

  /** Hive-style `col=value` directory segments of `rel` → the values
    * of `partitionBy`, unescaped per Spark's writer, the
    * `__HIVE_DEFAULT_PARTITION__` sentinel as None.
    */
  def partitionValuesOf(rel: String, partitionBy: Seq[String]): Map[String, Option[String]] = {
    val fromPath = rel.split('/').dropRight(1).flatMap { s =>
      s.split("=", 2) match {
        case Array(k, v) =>
          val dec = ExternalCatalogUtils.unescapePathName(v)
          Some(k -> (if (dec == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None else Some(dec)))
        case _ => None
      }
    }.toMap
    partitionBy.map(c => c -> fromPath.getOrElse(c, None)).toMap
  }

  /** A column the write tasks keep statistics for: its name, its
    * ordinal in the rows handed to the writer (partition columns
    * excluded) and whether string bounds are capped.
    */
  private final case class TrackedColumn(
      name: String, ordinal: Int, dataType: DataType, capped: Boolean)

  /** Statistics of one file in Catalyst's internal values. */
  private final case class FileStats(
      relPath: String, numRecords: Long,
      min: Array[Any], max: Array[Any], nullCount: Array[Long])

  private final case class TaskFileStats(files: Seq[FileStats]) extends WriteTaskStats

  /** Driver side: ships the column specs to every write task and
    * gathers the committed tasks' file statistics.
    */
  private final class FileStatsJobTracker(columns: Seq[TrackedColumn], partitionDepth: Int)
      extends WriteJobStatsTracker {
    @transient private var files: Seq[FileStats] = Seq.empty
    def collected: Seq[FileStats] = files
    override def newTaskInstance(): WriteTaskStatsTracker =
      new FileStatsTaskTracker(columns, partitionDepth)
    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      files = stats.flatMap { case t: TaskFileStats => t.files }
  }

  /** Task side: counts the rows of every file the task opens and keeps
    * each tracked column's null count, min and max under Spark's type
    * ordering. Rows arrive in reused buffers, so a kept bound is
    * copied out of its row.
    */
  private final class FileStatsTaskTracker(columns: Seq[TrackedColumn], partitionDepth: Int)
      extends WriteTaskStatsTracker {
    private final class Acc(val path: String) {
      var rows = 0L
      val min = new Array[Any](columns.size)
      val max = new Array[Any](columns.size)
      val nulls = new Array[Long](columns.size)
    }
    private val getters = columns.map(c => InternalRow.getAccessor(c.dataType)).toArray
    private val orderings = columns.map(c => TypeUtils.getInterpretedOrdering(c.dataType)).toArray
    private val ordinals = columns.map(_.ordinal).toArray
    private val open = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
    private var current: Acc = _

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = {
      current = new Acc(filePath)
      open(filePath) = current
    }
    override def closeFile(filePath: String): Unit = ()
    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (current.path != filePath) current = open(filePath)
      val acc = current
      acc.rows += 1
      var i = 0
      while (i < ordinals.length) {
        if (row.isNullAt(ordinals(i))) acc.nulls(i) += 1
        else {
          val v = getters(i)(row, ordinals(i))
          if (acc.min(i) == null || orderings(i).lt(v, acc.min(i)))
            acc.min(i) = InternalRow.copyValue(v)
          if (acc.max(i) == null || orderings(i).gt(v, acc.max(i)))
            acc.max(i) = InternalRow.copyValue(v)
        }
        i += 1
      }
    }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFileStats(open.values.map { a =>
        // the file's path below the output directory: one directory
        // segment per partition column (Spark escapes '/' in values)
        val rel = a.path.split('/').takeRight(partitionDepth + 1).mkString("/")
        FileStats(rel, a.rows, a.min.indices.map(i => cap(i, a.min(i))).toArray,
          a.max.indices.map(i => cap(i, a.max(i))).toArray, a.nulls)
      }.toSeq)

    private def cap(i: Int, v: Any): Any = v match {
      case s: UTF8String if columns(i).capped && s.numChars > StringBoundPrefix =>
        s.substring(0, StringBoundPrefix)
      case other => other
    }
  }
}

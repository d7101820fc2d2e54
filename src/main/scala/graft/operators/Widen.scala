package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Scale-adaptive parallelism repair for CPU-heavy stages fed by
  * narrow scans.
  *
  * The bench corpus (and any small import) arrives as single-row-group
  * parquet: Spark assigns a row group to the one split holding its
  * midpoint, so no `maxPartitionBytes` setting can spread the scan —
  * the whole fused scan+aggregate stage runs on ONE core while the
  * other 31 idle (measured: q_dedup_unique's 0.98 s 1-effective-task
  * partial aggregate; guide §2.5 "input skew … repartition immediately
  * after the read"). On a real cluster layout (many files, ≥128 MB row
  * groups) scans arrive wider than the core count and these helpers
  * no-op — the check is on the plan's static layout, never a constant,
  * so the 100 TB shape gains no extra shuffle.
  *
  * [[byKeys]] repartitions by the downstream grouping keys: the
  * explicit numbered exchange REPLACES the ENSURE_REQUIREMENTS
  * exchange the grouping needs anyway (same exchange count) and, being
  * REPARTITION_BY_NUM, is exempt from AQE's byte-based coalescing —
  * right for aggregates whose per-row work (struct extremum buffers,
  * md5) dwarfs their shuffle bytes. The trade is partial aggregation:
  * rows shuffle un-reduced. Worth it exactly when the input is
  * narrower than the session — the reduction itself was the
  * single-core bottleneck — and skipped otherwise.
  *
  * Narrowness is derived STATICALLY from the logical plan (scan file
  * bytes and count, split the way Spark's `FilePartition` sizes
  * splits; explicit repartition counts): the r15
  * implementation read `df.rdd.getNumPartitions`, which under AQE
  * builds the *executed* plan at query-construction time — a full
  * analysis+planning pass per call, and on a shuffle- or
  * broadcast-bearing input it would run real jobs during construction.
  * The static walk launches zero jobs (WidenSpec listener-counts it).
  *
  * The widen is additionally BYTE-BOUNDED: because rows shuffle
  * un-reduced, a narrow-but-large input (one fat single-row-group
  * file) would turn a partially-aggregated shuffle into a full-data
  * shuffle. [[byKeys]] therefore widens only when the input's
  * estimated bytes fit what the session's scan parallelism can chew —
  * `maxPartitionBytes × defaultParallelism` — which by construction
  * keeps every widened partition under `maxPartitionBytes` of
  * un-reduced rows (guide §5 spill budget). Oversized inputs keep
  * their ENSURE_REQUIREMENTS exchange and map-side partial
  * aggregation.
  */
object Widen {

  /** Statically planned layout of a logical plan: (planned partition
    * count, scan bytes), each None when not derivable without physical
    * planning. No jobs, no optimizer run — the analyzed plan already
    * exists on any DataFrame.
    */
  private[graft] def plannedLayout(
      spark: SparkSession, plan: LogicalPlan): (Option[Long], Option[BigInt]) = {
    val conf = spark.sessionState.conf
    val par = spark.sparkContext.defaultParallelism.toLong

    def splitsOf(bytes: BigInt, nFiles: Int): Long = {
      // mirrors FilePartition packing: each file charged openCostInBytes,
      // splits sized like FilePartition.maxSplitBytes — small inputs
      // split by bytes per core, not by maxPartitionBytes
      val openCost = BigInt(conf.filesOpenCostInBytes)
      val padded = bytes + openCost * math.max(nFiles, 1)
      val minParts = conf.filesMinPartitionNum.getOrElse(
        conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM).getOrElse(par.toInt))
      val maxSplit = BigInt(conf.filesMaxPartitionBytes).min(openCost.max(padded / minParts)).max(1)
      // a split holding no row-group midpoint reads nothing, and a file
      // may be a single row group: never plan more partitions than files
      ((padded + maxSplit - 1) / maxSplit).min(math.max(nFiles, 1)).max(1).toLong
    }

    plan match {
      case l: LogicalRelation =>
        l.relation match {
          case fs: HadoopFsRelation =>
            val bytes = BigInt(fs.location.sizeInBytes)
            (Some(splitsOf(bytes, fs.location.inputFiles.length)), Some(bytes))
          case _ => (None, None)
        }
      case loc: LocalRelation =>
        // LocalTableScanExec parallelism: min(max(rows,1), cores)
        (Some(math.min(math.max(loc.data.length, 1).toLong, par)), None)
      case r: Range =>
        (Some(r.numSlices.getOrElse(spark.sparkContext.defaultParallelism).toLong), None)
      case Repartition(n, shuffle, child) =>
        // partition count is pinned (a coalesce never raises its
        // child's); bytes still flow from the child (a coalesce(1) of a
        // large scan is the narrow-but-OVERSIZED shape the byte bound
        // exists for)
        val (childParts, childBytes) = plannedLayout(spark, child)
        (Some(if (shuffle) n.toLong else childParts.fold(n.toLong)(math.min(n.toLong, _))), childBytes)
      case r: RepartitionByExpression =>
        (Some(r.optNumPartitions.getOrElse(conf.numShufflePartitions).toLong),
          plannedLayout(spark, r.child)._2)
      case u: Union =>
        val kids = u.children.map(plannedLayout(spark, _))
        val parts =
          if (kids.forall(_._1.isDefined)) Some(kids.flatMap(_._1).sum) else None
        val bytes =
          if (kids.forall(_._2.isDefined)) Some(kids.flatMap(_._2).sum) else None
        (parts, bytes)
      // operators that imply their own exchange: the input arrives at
      // the session's shuffle width — never narrow in practice, and
      // widening ON TOP of a shuffle is always wrong
      case _: Aggregate | _: Join | _: Window | _: Sort =>
        (Some(conf.numShufflePartitions.toLong), None)
      case un: UnaryNode => plannedLayout(spark, un.child)
      case _ => (None, None)
    }
  }

  /** Input's statically planned partition count is below the session
    * parallelism AND its bytes (when knowable) fit the session's scan
    * capacity — see the byte-bound rationale in the object doc.
    * Unknown layout (no derivable count) is treated as wide: the safe
    * side is no extra shuffle.
    */
  def isNarrow(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism.toLong
    val (parts, bytes) = plannedLayout(spark, df.queryExecution.analyzed)
    val budget = BigInt(spark.sessionState.conf.filesMaxPartitionBytes) * par
    parts.exists(_ < par) && bytes.forall(_ <= budget)
  }

  /** Repartition a narrow input to the session parallelism by the
    * downstream grouping keys; identity on already-wide (or oversized
    * — byte bound above) inputs.
    */
  def byKeys(df: DataFrame, keys: Seq[Column]): DataFrame =
    if (isNarrow(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
    else df

  /** Round-robin widen of a narrow input to the session parallelism
    * (for CPU-bound per-row stages with no downstream key); identity
    * on wide or oversized inputs.
    */
  def toParallelism(df: DataFrame): DataFrame =
    if (isNarrow(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  /** Total file bytes of the plan's parquet scans — None when any leaf
    * is not a file relation. Used to scale shuffle widths with input
    * size without running jobs.
    */
  private[graft] def scanBytes(df: DataFrame): Option[BigInt] = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val sizes = leaves.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        BigInt(l.relation.asInstanceOf[HadoopFsRelation].location.sizeInBytes)
    }
    if (sizes.length == leaves.length && sizes.nonEmpty) Some(sizes.sum) else None
  }
}

package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, InterpretedOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Connected components of a pair graph — graft's one cluster-labelling
  * implementation ([[NearDup.dupClusters]] delegates here).
  *
  * The pairs (typically an expensive LSH verify plan) are materialized
  * once, and their size picks the path:
  *
  *  - small: rows × Spark's per-row size estimate within
  *    `spark.sql.autoBroadcastJoinThreshold` (a relation small enough to
  *    broadcast is small enough to collect). The pairs are collected
  *    and labelled by a driver-side union-find into a local relation:
  *    two Spark jobs whatever the diameter.
  *  - distributed: bigger graphs, or a threshold of -1, alternate
  *    large-star (a node's larger neighbors re-attach to the minimum of
  *    its closed neighborhood) and small-star (a node and its smaller
  *    neighbors re-attach to that set's minimum) rounds — Kiveris et
  *    al., "Connected Components in MapReduce and Beyond", SoCC 2014.
  *    They converge to per-component stars in O(log n) rounds whatever
  *    the diameter; each round is two groupBy shuffles over the current
  *    edge set, which only shrinks, and hubs re-point in one round.
  *    Round edge sets are localCheckpointed (plan depth O(1)), and each
  *    round frees the previous round's blocks.
  *
  * Refuses (IllegalStateException) instead of returning possibly
  * non-minimal labels if `maxIter` distributed rounds do not converge.
  */
object ConnectedComponents {

  /** Component labels for every endpoint in `pairs`: (id, cluster_id)
    * where cluster_id is the component minimum under Spark's ordering
    * of the id type (the ordering `min()` uses). A node that appears
    * only in a self-loop pair is its own cluster; a null endpoint
    * links nothing and is labelled null.
    *
    * On the distributed path the labels read checkpoint blocks that
    * stay in NearDup's frame registry: consume them before
    * [[NearDup.releaseCaches]], which frees those blocks.
    */
  def labels(pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 50): DataFrame =
    labelsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[labels]] plus the number of distributed rounds (0 on the small path). */
  private[graft] def labelsWithRounds(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int
  ): (DataFrame, Int) = {
    val sel = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
    val idType = TypeCoercion.findWiderTypeForTwo(sel.schema("u").dataType, sel.schema("v").dataType)
      .getOrElse(throw new IllegalArgumentException(s"id columns share no type: ${sel.schema}"))
    val base = sel.select(col("u").cast(idType).as("u"), col("v").cast(idType).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one shuffle-free job: counting the rows materializes the cache
    val rows = base.queryExecution.toRdd.count()
    val threshold = pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val bytes = EstimationUtils.getSizePerRow(base.queryExecution.analyzed.output) * rows
    try {
      if (threshold >= 0 && bytes <= threshold) (driverLabels(base), 0)
      else starRounds(base, maxIter)
    } finally base.unpersist(blocking = false)
  }

  /** Union-find over the collected pairs. The smaller root adopts the
    * larger, so every root is its component's minimum and a node's
    * label is its root.
    */
  private def driverLabels(base: DataFrame): DataFrame = {
    val idType = base.schema("u").dataType
    val order = InterpretedOrdering.forSchema(Seq(idType))
    // one-field UnsafeRow keys: byte equality is Spark's grouping
    // equality for integral, string and binary ids (not -0.0 vs 0.0)
    val keyOf = Seq(0, 1).map(i =>
      UnsafeProjection.create(BoundReference(i, idType, nullable = true)))
    val index = mutable.HashMap.empty[UnsafeRow, Int]
    val keys = mutable.ArrayBuffer.empty[UnsafeRow]
    val parent = mutable.ArrayBuffer.empty[Int]
    var sawNull = false
    def node(pair: InternalRow, side: Int): Int =
      if (pair.isNullAt(side)) { sawNull = true; -1 }
      else {
        val k = keyOf(side)(pair).copy()
        index.getOrElseUpdate(k, { keys += k; parent += parent.size; parent.size - 1 })
      }
    def find(n: Int): Int = {
      var x = n
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    base.queryExecution.executedPlan.executeCollect().foreach { pair =>
      val (a, b) = (node(pair, 0), node(pair, 1))
      if (a >= 0 && b >= 0) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) if (order.lt(keys(ra), keys(rb))) parent(rb) = ra else parent(ra) = rb
      }
    }
    val labelled = keys.indices.map(n => InternalRow(keys(n).get(0, idType), keys(find(n)).get(0, idType)))
    val out = Seq(AttributeReference("id", idType)(), AttributeReference("cluster_id", idType)())
    Bridge.ofRows(base.sparkSession,
      LocalRelation(out, if (sawNull) labelled :+ InternalRow(null, null) else labelled))
  }

  private def starRounds(base: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // checkpointed from the MATERIALIZED pairs, so the checkpoint
    // carries their real size into the round joins' planning
    val pairsT = base.distinct().localCheckpoint(true)
    NearDup.registerCheckpoint(pairsT) // the labels read it; releaseCaches frees it
    // every endpoint, fixed up front: star contraction drops nodes
    // from the edge set as they become roots, but each keeps a label
    val nodes = pairsT.select(col("u").as("id"))
      .unionByName(pairsT.select(col("v").as("id")))
      .distinct()
    var edges = pairsT.where(col("u") =!= col("v"))
    // carried across rounds: this round's edge count IS next round's
    var edgeCount = edges.count()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIter) {
      // large-star: center u over its symmetric closed neighborhood;
      // m = min(neighbors ∪ {u}); larger neighbors re-attach to m.
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()

      // small-star: orient (hi, lo); m = min of hi's smaller
      // neighborhood; everything in {hi} ∪ Γ≤(hi) except m re-attaches
      val oriented = large
        .select(greatest(col("u"), col("v")).as("hi"), least(col("u"), col("v")).as("lo"))
        .distinct()
      val smallMins = oriented.groupBy("hi").agg(min(col("lo")).as("m"))
      val withM = oriented.join(smallMins, "hi")
      // LAZY checkpoint: the count below materializes it — one job
      // per round instead of an eager-checkpoint job plus a count job
      val small = withM
        .where(col("lo") =!= col("m"))
        .select(col("lo").as("u"), col("m").as("v"))
        .unionByName(withM.select(col("hi").as("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(false)
      val smallCount = small.count()

      // fixpoint: both star ops leave minimum-rooted stars unchanged;
      // for distinct sets, equal counts plus an empty one-sided
      // difference proves equality (A⊆B ∧ |A|=|B|)
      converged = smallCount == edgeCount && small.exceptAll(edges).isEmpty
      if (rounds > 0) NearDup.freeCheckpoint(edges)
      edges = small
      edgeCount = smallCount
      rounds += 1
    }
    if (rounds > 0) NearDup.registerCheckpoint(edges)
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter alternating rounds")
    // final edges are (node, componentMin) stars; roots carry no edge
    val out = nodes.join(edges.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("cluster_id"))
    (out, rounds)
  }
}

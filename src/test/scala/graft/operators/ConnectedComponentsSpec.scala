package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference: union-find over the pair list, each node
    * labelled with its component minimum.
    */
  private def reference[T](pairs: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ord.lt(ra, rb)) parent(rb) = ra else if (ord.lt(rb, ra)) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Runs `f` with the broadcast threshold at `threshold`, restoring it after. */
  private def withThreshold[T](threshold: String)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, threshold)
    try f finally spark.conf.set(key, prev)
  }

  /** Collects `label(df)` on the small (driver) path and on the
    * distributed path (broadcast threshold -1).
    */
  private def bothPaths(df: DataFrame)(label: DataFrame => DataFrame): Seq[(String, Map[Any, Any])] = {
    def run() = label(df).collect().map(r => r.get(0) -> r.get(1)).toMap[Any, Any]
    val small = run()
    val distributed = withThreshold("-1")(run())
    NearDup.releaseCaches()
    Seq("small" -> small, "distributed" -> distributed)
  }

  private def assertBothPaths[T: Ordering](pairs: Seq[(T, T)], df: DataFrame): Unit = {
    val want = reference(pairs).toMap[Any, Any]
    for ((path, got) <- bothPaths(df)(ConnectedComponents.labels(_, "a", "b")))
      assert(got == want, s"$path path diverged")
  }

  test("stars, cliques, chains, and isolated pairs get component-min labels") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), // clique {1,2,3}
      (10L, 11L), (11L, 12L),       // chain {10,11,12}
      (20L, 21L)                    // pair
    )
    assert(reference(pairs) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    assertBothPaths(pairs, pairs.toDF("a", "b"))
  }

  test("both paths match an in-test union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 20
      val pairs = Seq.fill(n)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      assertBothPaths(pairs, pairs.toDF("a", "b"))
    }
  }

  test("a 256-node path and a 500-spoke hub label correctly on both paths") {
    val path = (0L until 255L).map(i => (i, i + 1))
    assertBothPaths(path, path.toDF("a", "b"))
    val hub = (1L to 500L).map(v => (250L, v))
    assertBothPaths(hub, hub.toDF("a", "b"))
  }

  test("long path converges in O(log n) rounds, far under the diameter") {
    val n = 256
    val path = (0L until (n - 1)).map(i => (i, i + 1))
    withThreshold("-1") {
      val (df, rounds) = ConnectedComponents.labelsWithRounds(
        path.toDF("a", "b"), "a", "b", maxIter = 50)
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == (0L until n).map(_ -> 0L).toMap)
      assert(rounds > 0 && rounds <= 15, s"took $rounds rounds on a diameter-$n path")
    }
    NearDup.releaseCaches()
  }

  test("high-degree hub re-attaches in few rounds") {
    val hub = (1L to 500L).map(v => (250L, v)).filter(p => p._1 != p._2)
    withThreshold("-1") {
      val (df, rounds) = ConnectedComponents.labelsWithRounds(
        hub.toDF("a", "b"), "a", "b", maxIter = 50)
      val labels = df.select(countDistinct("cluster_id")).as[Long].head()
      assert(labels == 1L)
      assert(df.where(col("cluster_id") =!= 1L).count() == 0)
      assert(rounds > 0 && rounds <= 6)
    }
    NearDup.releaseCaches()
  }

  test("string ids work (ordering is lexicographic)") {
    val pairs = Seq(("docB", "docA"), ("docB", "docC"), ("docX", "docY"))
    assert(reference(pairs) == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
      "docX" -> "docX", "docY" -> "docX"))
    assertBothPaths(pairs, pairs.toDF("a", "b"))
  }

  test("dupClusters labels self-loop-only docs and keeps null ids unlinked") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), // chain {1,2,3}
      (Some(4L), Some(4L)),                       // self-loop only
      (Some(5L), None), (None, Some(1L)), (None, None))
    val df = pairs.toDF("a_id", "b_id")
    val want = Map[Any, Any](1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, (null, null))
    for ((path, got) <- bothPaths(df)(NearDup.dupClusters(_, "a_id", "b_id")))
      assert(got == want, s"$path path diverged")
  }

  test("the small path launches at most 2 jobs whatever the diameter") {
    val jobs = new AtomicInteger(0)
    val sentinelSeen = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse("")
        if (g == "cc-small-path") jobs.incrementAndGet()
        if (g == "cc-sentinel") sentinelSeen.incrementAndGet()
      }
    }
    val graphs = Seq(
      (0L until 255L).map(i => (i, i + 1)).toDF("a", "b"), // diameter 255
      (1L to 500L).map(v => (250L, v)).toDF("a", "b"))     // diameter 2
    spark.sparkContext.addSparkListener(listener)
    try {
      for (g <- graphs) {
        jobs.set(0)
        sentinelSeen.set(0)
        spark.sparkContext.setJobGroup("cc-small-path", "labels")
        val (labels, rounds) = ConnectedComponents.labelsWithRounds(g, "a", "b", maxIter = 50)
        assert(rounds == 0)
        labels.collect()
        // the listener bus is FIFO: once the sentinel lands, every job
        // the labelling launched has been counted
        spark.sparkContext.setJobGroup("cc-sentinel", "sentinel")
        spark.range(1).count()
        val deadline = System.nanoTime() + 10e9.toLong
        while (sentinelSeen.get() < 1 && System.nanoTime() < deadline) Thread.sleep(10)
        assert(sentinelSeen.get() >= 1)
        assert(jobs.get() <= 2, s"small path launched ${jobs.get()} jobs")
      }
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("releaseCaches frees the distributed path's checkpoint blocks") {
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val sc = spark.sparkContext
    NearDup.releaseCaches()
    val before = sc.getPersistentRDDs.size
    withThreshold("-1") {
      val (labels, rounds) = ConnectedComponents.labelsWithRounds(path, "a", "b", maxIter = 50)
      assert(rounds > 0)
      assert(labels.collect().forall(_.getLong(1) == 0L))
      assert(sc.getPersistentRDDs.size > before, "the labels read registered checkpoints")
    }
    NearDup.releaseCaches()
    assert(sc.getPersistentRDDs.size == before)
  }
}

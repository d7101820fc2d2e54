package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The r15 optimization round's parallelism-repair internals:
  * [[Widen.byKeys]] (narrow keyed aggregates), NearDup's pinned
  * candidate-pair shuffles, and the footer-schema cache — the plan
  * changes must never change results, and the widen must be
  * scale-adaptive (no-op on wide inputs), never a local[4] constant.
  */
class WidenSpec extends SparkSpec {
  import spark.implicits._

  test("byKeys widens a narrow input to defaultParallelism") {
    val narrow = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1)
    val wide = Widen.byKeys(narrow, Seq(col("k")))
    assert(wide.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(wide.collect().toSet == narrow.collect().toSet)
  }

  test("byKeys is identity on already-wide inputs (the cluster shape)") {
    val p = spark.sparkContext.defaultParallelism
    val wide = spark.range(100).toDF("k").repartition(p + 2)
    assert(Widen.byKeys(wide, Seq(col("k"))) eq wide)
  }

  test("keepFirst results are unchanged by the widen (narrow vs wide input)") {
    val rows = Seq(
      (1L, 2, "x"), (1L, 1, "y"), (2L, 5, "z"), (2L, 4, "w"), (3L, 9, "q"))
    val narrow = rows.toDF("k", "ord", "v").coalesce(1)
    val wide = rows.toDF("k", "ord", "v")
      .repartition(spark.sparkContext.defaultParallelism + 2, col("k"))
    val a = Dedup.keepFirst(narrow, Seq("k"), Some("ord")).collect().toSet
    val b = Dedup.keepFirst(wide, Seq("k"), Some("ord")).collect().toSet
    assert(a == b)
    assert(a.map(r => (r.getLong(0), r.getInt(1))) ==
      Set((1L, 1), (2L, 4), (3L, 9)))
  }

  test("Upsert.merge results are unchanged by the widen") {
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p").coalesce(1)
    val upd = Seq((2L, 99.0), (3L, 30.0)).toDF("k", "p").coalesce(1)
    val merged = Upsert.merge(base, upd, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(merged == Set((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }

  test("minhashPairs candidate shuffle is pinned (REPARTITION_BY_NUM, not coalescible)") {
    val docs = (1 to 40).map(i => (i.toLong, s"shared prefix text $i padding"))
      .toDF("doc_id", "text")
    val pairs = NearDup.minhashPairs(docs, "doc_id", "text",
      k = 5, numHashes = 8, bands = 2, threshold = 0.5)
    pairs.count() // AQE-finalize
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"candidate-pair exchange must be exempt from AQE coalescing; plan:\n$plan")
  }

  test("byKeys construction launches zero Spark jobs (no Dataset.rdd probe)") {
    val dir = tempDir("widen-nojobs").toString
    spark.range(200).selectExpr("id as k", "id * 3 as v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    // resolve the inputs BEFORE counting: footer inference may itself
    // schedule work — the claim under test is about Widen, not read
    val scan = spark.read.parquet(s"$dir/t.parquet")
    val joined = scan.as("a").join(scan.as("b"), "k")
    // job-group attribution (not a raw counter): unrelated background
    // work in the shared test session must not fail the assertion, and
    // any job launched BY construction runs on this thread and
    // inherits its group
    val probeJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id", "")).getOrElse("")
        if (g == "widen-construction-probe") probeJobs.incrementAndGet()
        if (g == "widen-sentinel") sentinelSeen.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("widen-construction-probe", "probe")
      val widened = Widen.byKeys(scan, Seq(col("k")))
      assert(widened.queryExecution.analyzed ne null)
      // shuffle/broadcast-bearing input: the r15 .rdd probe would have
      // materialized stages here under AQE; the static walk must not
      Widen.byKeys(joined, Seq(col("k")))
      // sentinel job: the listener bus is FIFO, so once it lands, any
      // construction-launched job would already have been counted
      spark.sparkContext.setJobGroup("widen-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 10e9.toLong
      while (sentinelSeen.get() < 1 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen.get() >= 1) // flush marker only (AQE may split it)
      assert(probeJobs.get() == 0,
        s"query construction must launch zero jobs, saw ${probeJobs.get()}")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("byKeys byte bound: a narrow-but-oversized input keeps its plan") {
    val dir = tempDir("widen-bound").toString
    spark.range(60000)
      .selectExpr("id as k", "repeat('x', 40) as pad")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(key)
    try {
      // budget = maxPartitionBytes * defaultParallelism; shrink it
      // under the file size so the coalesced scan is narrow (1 planned
      // partition) yet oversized — the widen must refuse (the shuffle
      // would carry every row un-reduced, guide §5)
      spark.conf.set(key, "8k")
      val narrowOversized = spark.read.parquet(s"$dir/t.parquet").coalesce(1)
      assert(Widen.byKeys(narrowOversized, Seq(col("k"))) eq narrowOversized)
      // with the budget restored the same input widens again
      spark.conf.set(key, saved)
      val widened = Widen.byKeys(
        spark.read.parquet(s"$dir/t.parquet").coalesce(1), Seq(col("k")))
      assert(widened.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
    } finally spark.conf.set(key, saved)
  }

  test("splits sized like Spark's: several small files plan wide, one file plans narrow") {
    val dir = tempDir("widen-splits").toString
    val par = spark.sparkContext.defaultParallelism
    spark.range(400).selectExpr("id as k").repartition(par)
      .write.mode("overwrite").parquet(s"$dir/many.parquet")
    spark.range(400).selectExpr("id as k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/one.parquet")
    // small files pack by bytes per core, not by maxPartitionBytes: the
    // scan already runs at full width, so no round-robin exchange
    val many = spark.read.parquet(s"$dir/many.parquet")
    assert(many.rdd.getNumPartitions >= par)
    assert(Widen.toParallelism(many) eq many)
    // one file may be one row group: at most one partition reads rows
    val one = spark.read.parquet(s"$dir/one.parquet")
    assert(Widen.toParallelism(one).rdd.getNumPartitions == par)
  }

  test("a coalesce never plans more partitions than its input") {
    val dir = tempDir("widen-coalesce").toString
    val par = spark.sparkContext.defaultParallelism
    spark.range(400).selectExpr("id as k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/one.parquet")
    val coalesced = spark.read.parquet(s"$dir/one.parquet").coalesce(par)
    assert(coalesced.rdd.getNumPartitions == 1)
    assert(Widen.toParallelism(coalesced).rdd.getNumPartitions == par)
    // a shuffling repartition keeps its own count
    val shuffled = spark.read.parquet(s"$dir/one.parquet").repartition(par)
    assert(Widen.toParallelism(shuffled) eq shuffled)
  }

  test("spreadPairs width: defaultParallelism floor at bench scale, scan-byte scaling above") {
    val dir = tempDir("spread").toString
    spark.range(500).selectExpr("id as a_id", "id + 1 as b_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/p.parquet")
    val pairs = spark.read.parquet(s"$dir/p.parquet")
    // bench-scale input: the floor binds — exactly defaultParallelism
    val spread = NearDup.spreadPairs(pairs, "a_id", "b_id")
    assert(spread.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // the byte-derived width: scanBytes sums the leaf file sizes, and
    // the spread adds one partition per 2 GB of corpus above the floor
    val bytes = Widen.scanBytes(pairs)
    assert(bytes.isDefined && bytes.get > 0)
    val par = spark.sparkContext.defaultParallelism.toLong
    assert(math.max(par, (bytes.get / (2L * 1024 * 1024 * 1024)).toLong) == par,
      "a KB-scale input must stay at the parallelism floor")
  }

  test("SchemaCache invalidation: a committed write purges the stale footer schema") {
    val dir = tempDir("schemacache-inval").toString
    val p = s"$dir/t"
    spark.range(5).selectExpr("id", "id * 2 as a").write.parquet(p)
    val first = graft.tables.SchemaCache.readParquet(spark, p)
    assert(first.schema.fieldNames.toSeq == Seq("id", "a"))
    assert(graft.tables.SchemaCache.cachedSchema(spark, p).isDefined)
    // a Delta commit to the same location purges the cached entry
    graft.tables.DeltaWrite.append(
      spark, spark.range(5).selectExpr("id", "id * 2 as a", "id * 3 as b"), p)
    assert(graft.tables.SchemaCache.cachedSchema(spark, p).isEmpty,
      "commit must invalidate the cached footer schema for its location")
    // an explicit invalidate + rewrite is re-inferred (schema B visible)
    val q = s"$dir/u"
    spark.range(3).selectExpr("id").write.parquet(q)
    assert(graft.tables.SchemaCache.readParquet(spark, q)
      .schema.fieldNames.toSeq == Seq("id"))
    spark.range(3).selectExpr("id", "id * 5 as c")
      .write.mode("overwrite").parquet(q)
    graft.tables.SchemaCache.invalidate(q)
    assert(graft.tables.SchemaCache.readParquet(spark, q)
      .schema.fieldNames.toSeq == Seq("id", "c"))
  }

  test("SchemaCache: cached read returns identical schema and rows") {
    val dir = tempDir("schemacache").toString
    spark.range(10).selectExpr("id", "id * 2 as d").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    val first = graft.tables.SchemaCache.readParquet(spark, s"$dir/t.parquet")
    val second = graft.tables.SchemaCache.readParquet(spark, s"$dir/t.parquet")
    assert(first.schema == second.schema)
    assert(second.count() == 10)
    assert(second.agg(sum("d")).as[Long].head() == 90L)
  }
}

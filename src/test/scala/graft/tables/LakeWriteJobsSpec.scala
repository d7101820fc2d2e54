package graft.tables

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs launched by an append and an upsert on each lake format,
  * and by the row-level DELETE/UPDATE/MERGE of Delta (rewrite and
  * deletion-vector forms) and the Iceberg DELETE (v2 position deletes
  * and v3 deletion vectors). Per-file statistics ride the write job
  * itself ([[LakeFiles.writeStaged]]), so a query that reads the
  * staged files back shows up here as extra jobs. The budgets are the
  * counts measured on this code; an op may come in under its budget.
  * (With the read-back the append/upsert ones were 6, 9, 3, 7, 4 and
  * 21.)
  */
class LakeWriteJobsSpec extends SparkSpec {
  import spark.implicits._

  private def batch(from: Int, n: Int) =
    (from until from + n).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "p")

  /** Jobs `body` launches, counted by job group: once a sentinel job
    * of a second group reaches the (FIFO) listener bus, every job of
    * `body` has been counted.
    */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinel = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse("") match {
          case "lake-write-jobs" => jobs.incrementAndGet()
          case "lake-write-sentinel" => sentinel.incrementAndGet()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("lake-write-jobs", "counted write")
      body
      sc.setJobGroup("lake-write-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 10e9.toLong
      while (sentinel.get() < 1 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinel.get() >= 1, "the listener bus did not deliver the sentinel job")
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def assertWithin(op: String, budget: Int)(body: => Unit): Unit = {
    val n = jobsOf(body)
    info(s"$op: $n jobs (budget $budget)")
    assert(n <= budget, s"$op launched $n Spark jobs, budget $budget")
  }

  test("Delta append and merge launch no stats read-back job") {
    val dir = tempDir("jobs-delta").toString + "/t"
    DeltaWrite.append(spark, batch(0, 40), dir)
    assertWithin("delta append", 3)(DeltaWrite.append(spark, batch(40, 20), dir))
    assertWithin("delta merge", 6)(DeltaWrite.merge(spark, dir, batch(30, 20), Seq("id")))
    assert(new DeltaTable("t", dir)(spark).count() == 60)
  }

  test("Iceberg append and upsertEquality launch no stats read-back job") {
    val dir = tempDir("jobs-iceberg").toString + "/t"
    IcebergWrite.append(spark, batch(0, 40), dir)
    assertWithin("iceberg append", 1)(IcebergWrite.append(spark, batch(40, 20), dir))
    assertWithin("iceberg upsertEquality", 3)(
      IcebergWrite.upsertEquality(spark, batch(30, 20), dir, Seq("id")))
    assert(new IcebergTable("t", dir)(spark).count() == 60)
  }

  test("Hudi bulk insert and upsert launch no stats read-back job") {
    val dir = tempDir("jobs-hudi").toString + "/t"
    HudiWrite.bulkInsert(spark, batch(0, 40), dir, "id")
    assertWithin("hudi bulkInsert", 1)(HudiWrite.bulkInsert(spark, batch(40, 20), dir, "id"))
    assertWithin("hudi upsert", 18)(HudiWrite.upsert(spark, batch(30, 20), dir))
    assert(new HudiTable("t", dir)(spark).count() == 60)
  }

  test("Delta DELETE, UPDATE and MERGE in the rewrite and deletion-vector forms") {
    import graft.core.{Filter, Filters}
    val dir = tempDir("jobs-delta-dml").toString + "/t"
    DeltaWrite.append(spark, batch(0, 40), dir)
    DeltaWrite.append(spark, batch(40, 40), dir)
    def lt(n: Int) = Filters.normalize(Seq(Filter("id", "<", n)))
    def ge(n: Int) = Filters.normalize(Seq(Filter("id", ">=", n)))
    assertWithin("delta deleteWhere", 1)(DeltaWrite.deleteWhere(spark, dir, lt(5)))
    assertWithin("delta updateWhere", 3)(
      DeltaWrite.updateWhere(spark, dir, lt(10), Seq("v" -> "upper(v)")))
    assertWithin("delta deleteWhereDv", 2)(DeltaWrite.deleteWhereDv(spark, dir, ge(75)))
    assertWithin("delta updateWhereDv", 5)(
      DeltaWrite.updateWhereDv(spark, dir, ge(70), Seq("v" -> "lower(v)")))
    assertWithin("delta mergeDv", 9)(
      DeltaWrite.mergeDv(spark, dir, batch(60, 20), Seq("id")))
    assert(new DeltaTable("t", dir)(spark).count() == 75)
  }

  test("Iceberg v2 position-delete and v3 deletion-vector DELETE") {
    import graft.core.{Filter, Filters}
    val dir = tempDir("jobs-iceberg-dml").toString + "/t"
    IcebergWrite.append(spark, batch(0, 40), dir)
    IcebergWrite.append(spark, batch(40, 40), dir)
    assertWithin("iceberg deleteWhere", 2)(IcebergWrite.deleteWhere(spark, dir,
      Filters.normalize(Seq(Filter("id", "<", 5)))))
    assertWithin("iceberg deleteWhereDv", 2)(IcebergWrite.deleteWhereDv(spark, dir,
      Filters.normalize(Seq(Filter("id", ">=", 75)))))
    assert(new IcebergTable("t", dir)(spark).count() == 70)
  }
}

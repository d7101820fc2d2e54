package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.queries.QueryCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: write `.explain("formatted")` for named queries to files
  * (the r15 optimization round's plan evidence — plans/r15/<q>_<tag>.txt).
  *
  * Usage: runMain graft.tools.DumpPlans <sfDir> <outDir> <tag> [q,...]
  * (default queries: the headline set). Each file carries the
  * formatted plan AND the AQE-final executed plan after one run, so
  * Exchange counts / join strategies / PushedFilters are checkable
  * without running Spark, plus the number of Spark jobs building and
  * running the query launched (operators such as dupClusters run jobs
  * while the plan is built). Session confs mirror Bench exactly.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r15")
    val tag = args.lift(2).getOrElse("before")
    val names = args.lift(3).map(_.split(",").toSeq)
      .getOrElse(QueryCatalog.headlineNames :+ "q_topk_window")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // real catalog statistics for the bench tables (queries.Tables
      // registers + ANALYZEs them once per session) — fixes the
      // estimate-driven backwards broadcast side in q03/q05
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val sc = spark.sparkContext
    // jobs by group; the listener bus is FIFO, so once a sentinel job
    // lands every job the query launched has been counted
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    })
    // the noop write runs its own QueryExecution, so `df`'s executed
    // plan never finalizes: take the plan the write ran. The execution
    // listener bus shares the job listener's FIFO queue, so the write
    // is recorded by the time the sentinel job is seen.
    val writes = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) writes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { n =>
      sc.setJobGroup(n, "dump")
      val df = QueryCatalog.queries(n)(spark, sfDir)
      val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      df.write.format("noop").mode("overwrite").save() // AQE finalizes
      sc.setJobGroup(s"$n-sentinel", "sentinel")
      spark.range(1).count()
      while (!jobs.containsKey(s"$n-sentinel")) Thread.sleep(10)
      sc.clearJobGroup()
      val written = Option(writes.poll())
        .getOrElse(sys.error(s"no noop write of $n was recorded")).executedPlan
      val finalPlan = written.collectFirst { case a: AdaptiveSparkPlanExec => a }
        .getOrElse(written).toString
      val text = s"==== $n ($tag) — jobs to build and run: ${jobs.getOrDefault(n, 0)} ====\n" +
        s"==== $n ($tag) — explain(formatted) ====\n$formatted\n" +
        s"==== $n ($tag) — AQE-final executed plan ====\n$finalPlan\n"
      Files.write(Paths.get(outDir, s"${n}_$tag.txt"),
        text.getBytes(StandardCharsets.UTF_8))
      println(s"[plans] wrote $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}

package graftbench

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Benchmark main: one client, closed loop.
  *
  * A run reads the workload's generated inputs (untimed), sets up
  * [[Main.SetupReps]] times (session start, then the workload's table
  * builds or first pass) and reports the median, warms the op kinds
  * set-up left cold (untimed), then issues ops of the seeded mix back to
  * back for the given seconds, rounded up to whole passes of the mix, and
  * checks every op's output afterwards. With `--trace 0` it reports the
  * end-to-end metrics. With `--trace 1` it runs each op of the mix twice,
  * once untraced and once traced, with equal parameters and in
  * alternating order, reports the per-layer metrics of the traced ops and
  * the tracing overhead, and writes the spans to `--trace-out`.
  * `--generate 1` only writes the inputs, in a JVM of its own.
  *
  * The last line is `RESULT {"correct", "attempted", "failed", "values"}`;
  * `run.py` turns the values into the metrics `BENCHMARK.json` lists.
  */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, nproc: Int, work: String, inputs: String,
                        generate: Boolean, traceOut: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "1").toInt,
      m.get("trace").contains("1"), m("cores").toInt, m.getOrElse("nproc", m("cores")).toInt,
      m("work"), m("inputs"), m.get("generate").contains("1"), m.get("trace-out"))
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "lakehouse" => new Lakehouse(seed)
    case "dedup_pipeline" => new DedupPipeline(seed)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.spark.GraftCatalog")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def seconds(t0: Long) = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workload(a.workload, a.seed)
    if (a.generate) {
      // a JVM of its own, before the measured one: every measured run
      // starts from written inputs and the same JVM state
      val spark = session(a.cores, a.work)
      Steps("generate") { w.generate(spark, a.inputs) }
      spark.stop()
      println("GENERATED")
      return
    }
    val load0 = Host.loadavg()
    val (jiffies0, steal0) = Host.cpuJiffies()

    Steps("load") { w.load(a.inputs) }
    var spark: SparkSession = null

    // a traced run reports no setup_s, so it sets up once
    val reps = if (a.trace) 1 else SetupReps
    val setups = (1 to reps).map { rep =>
      val t0 = System.nanoTime()
      spark = Steps("session") { session(a.cores, a.work) }
      w.setup(spark, s"${a.work}/setup$rep")
      val t = seconds(t0)
      if (rep < reps) {
        spark.stop()
        Files.deleteRecursively(new java.io.File(s"${a.work}/setup$rep"))
      }
      t
    }
    w.warmUp()

    // the timed section
    val sc = spark.sparkContext
    val collector = new Collector
    def traceOn(): Unit = {
      sc.addSparkListener(collector)
      spark.listenerManager.register(collector)
      Trace.enable(sc)
    }
    def traceOff(): Unit = {
      Trace.disable()
      Bus.drain(sc)
      sc.removeSparkListener(collector)
      spark.listenerManager.unregister(collector)
    }
    val deck = new Deck(new Rng(a.seed), w.deck, w.shuffleDeck)
    val draws = new Rng(a.seed ^ 0xD4A3L)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val checks = mutable.ArrayBuffer.empty[() => Option[String]]
    def issue(op: Op, traced: Boolean): Unit = {
      val spanId = Trace.spans.size
      val t0 = System.nanoTime()
      val outcome = try Right(Trace.span(s"op.${op.kind}")(op.run()))
        catch { case e: Throwable => Left(s"${op.kind} threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val t = seconds(t0)
      println(f"op ${records.size} ${op.kind} $t%.4f")
      records += OpRecord(records.size, op.kind, op.units, t, traced,
        if (traced) spanId else -1, outcome.left.toOption)
      checks += outcome.fold(_ => () => None, identity)
    }
    Host.resetHeapPeak()
    val cpu0 = Host.processCpuSeconds()
    val gc0 = Host.gcSeconds()
    val start = System.nanoTime()
    val deadline = start + a.seconds * 1000000000L
    // whole passes of the mix, so every run has the same op proportions
    var issued = 0
    val pairsOfKind = mutable.Map.empty[String, Int].withDefaultValue(0)
    while (System.nanoTime() < deadline || issued % w.deck.size != 0) {
      val kind = deck.next()
      val draw = draws.long()
      if (!a.trace) issue(w.op(kind, new Rng(draw)), traced = false)
      else {
        // a pair: the same kind and parameters untraced and traced. Which
        // goes first alternates from one pair of a kind to the next, from a
        // start that alternates across kinds: the first op of a pair can
        // pay for its predecessor (a containment pass after a minhash
        // pipeline), and a fixed deck must not always trace that one
        val tracedFirst = (pairsOfKind(kind) + w.kinds.indexOf(kind)) % 2 == 1
        pairsOfKind(kind) += 1
        for (variant <- 0 to 1) {
          val traced = (variant == 0) == tracedFirst
          val op = w.op(kind, new Rng(draw), variant)
          if (traced) traceOn()
          w.beforeOp(op)
          issue(op, traced)
          w.afterOp(op)
          if (traced) traceOff()
        }
      }
      issued += 1
    }
    val wall = seconds(start)
    val cpu = Host.processCpuSeconds() - cpu0
    val gc = Host.gcSeconds() - gc0
    val heapPeak = Host.heapPeakMb()
    val peakRss = Host.peakRssMb()

    // correctness: every op's check, then the workload's whole-state checks
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    val checkStart = System.nanoTime()
    val finalsF = Future(try w.finalChecks() catch { case e: Throwable => Seq(s"final check threw $e") })
    val checked = Await.result(Future.sequence(records.toSeq.zip(checks).map { case (r, c) =>
      Future(r.error.orElse(try c() catch {
        case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }).map(e => s"op ${r.index} ${r.kind}: $e"))
    }), scala.concurrent.duration.Duration.Inf)
    val finals = Await.result(finalsF, scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    println(f"step checks ${seconds(checkStart)}%.3f s")
    println(f"step timed ${wall}%.3f s")
    val errors = checked.flatten ++ finals
    val failed = math.min(records.size, checked.count(_.isDefined) + finals.size)
    errors.take(20).foreach(e => println(s"error $e"))

    val (jiffies1, steal1) = Host.cpuJiffies()
    val host = Map[String, Double](
      "host.nproc" -> a.nproc, "host.cores" -> a.cores, "host.loadavg" -> Host.loadavg(),
      "host.steal_pct" -> (if (jiffies1 > jiffies0) 100.0 * (steal1 - steal0) / (jiffies1 - jiffies0) else 0.0))
    println(f"host nproc=${a.nproc} cores=${a.cores} loadavg=$load0%.2f->${host("host.loadavg")}%.2f " +
      f"steal_pct=${host("host.steal_pct")}%.2f setup_reps_s=${setups.map(x => f"$x%.3f").mkString(",")}")

    val ops = records.toSeq
    val lat = ops.map(_.seconds)
    val untraced = ops.filterNot(_.traced)
    val errorRate = failed.toDouble / math.max(1, ops.size)
    // p90 is reported beside the metrics, not as one: a run has tens of
    // ops, too few samples beyond the 90th percentile to bound it
    val extras = w.extras(untraced, if (a.trace) untraced.map(_.seconds).sum else wall) +
      ("error_rate" -> errorRate) + ("op_p90_s" -> Stats.quantile(untraced.map(_.seconds), 0.9))

    val values: Map[String, Double] =
      if (!a.trace) {
        extras.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"extra $k = $v%.6f") }
        Map(
          "setup_s" -> Stats.median(setups),
          "op_p50_s" -> Stats.median(lat),
          "ops_per_s" -> ops.size / wall,
          "cpu_s_per_op" -> cpu / ops.size,
          "peak_rss_mb" -> peakRss)
      } else {
        val layers = perLayer(w, ops, sc.defaultParallelism, collector, gc, heapPeak) ++ host ++
          extras.map { case (k, v) => s"e2e.$k" -> v }
        a.traceOut.foreach(writeTrace(_, a, ops, collector, layers))
        layers
      }
    spark.stop()
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> ops.size, "failed" -> failed,
      "values" -> mutable.LinkedHashMap(values.toSeq.sortBy(_._1): _*))
    println("RESULT " + Json.render(result))
  }

  /** Spans whose per-op time is a per-layer metric, named as the metric. */
  val LayerSpans: Seq[String] = Seq("core.normalize_s", "catalog.lookup_s", "tables.scan_plan_s",
    "tables.delta_commit_s", "tables.iceberg_commit_s", "tables.hudi_commit_s", "spark.dml_sql_s",
    "operators.minhash_pairs_s", "operators.dup_clusters_s", "operators.cc_labels_s",
    "operators.soft_dedup_s", "operators.containment_pairs_s", "operators.srp_pairs_s")

  /** Counts recorded at layer boundaries that are per-layer metrics. */
  val Counters: Seq[String] = Seq("tables.files_scanned", "tables.files_total", "tables.scan_mb",
    "tables.files_added", "tables.files_removed", "operators.pairs_out", "operators.clusters_out",
    "operators.persisted_rdds_left", "operators.storage_mb_left")

  /** Per-layer figures of the traced ops (see README for each definition). */
  def perLayer(w: Workload, ops: Seq[OpRecord], cores: Int, c: Collector,
               gc: Double, heapPeak: Double): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val untraced = ops.filterNot(_.traced)
    val spans = Trace.spans.toSeq
    val aggs = Attribution.perOp(spans, c)
    val per = traced.map(r => r -> aggs.getOrElse(r.rootSpan, OpAgg()))
    def med(f: OpAgg => Double) = Stats.medianOr0(per.map(p => f(p._2)))
    def avg(f: OpAgg => Double) = Stats.mean(per.map(p => f(p._2)))
    val layerTimes = LayerSpans.map { n =>
      val byOp = Attribution.layerSeconds(spans, n.stripSuffix("_s"))
      n -> Stats.medianOr0(traced.flatMap(r => byOp.get(r.rootSpan)))
    }
    val counters = Counters.map { n =>
      val vs = traced.flatMap(r => Trace.counters.get((r.rootSpan, n)))
      n -> (if (n.endsWith("_left")) vs.lastOption.getOrElse(0.0) else Stats.mean(vs))
    }
    def rate(rs: Seq[OpRecord]) = rs.size / math.max(1e-9, rs.map(_.seconds).sum)
    val busy = per.map(_._2.jobBusyS).sum
    val engine = Map(
      "engine.analysis_s" -> med(_.analysisS),
      "engine.optimizer_s" -> med(_.optimizerS),
      "engine.planning_s" -> med(_.planningS),
      "engine.jobs_per_op" -> avg(_.jobs),
      "engine.stages_per_op" -> avg(_.stages),
      "engine.tasks_per_op" -> avg(_.tasks),
      "engine.driver_gap_s" -> Stats.medianOr0(per.map { case (r, g) => math.max(0, r.seconds - g.jobBusyS) }),
      "engine.scheduler_delay_s" -> med(_.schedDelayS),
      "engine.task_run_s" -> med(_.taskRunS),
      "engine.task_cpu_s" -> med(_.taskCpuS),
      "engine.core_util" -> (if (busy > 0) per.map(_._2.taskRunS).sum / (busy * cores) else 0.0),
      "engine.shuffle_write_mb" -> avg(_.shuffleWriteMb),
      "engine.shuffle_read_mb" -> avg(_.shuffleReadMb),
      "engine.fetch_wait_s" -> avg(_.fetchWaitS),
      "engine.spill_mb" -> avg(_.spillMb),
      "engine.output_mb" -> avg(_.outputMb),
      "jvm.gc_s" -> gc / math.max(1, ops.size),
      "jvm.heap_peak_mb" -> heapPeak,
      "trace.overhead" -> (if (untraced.nonEmpty && traced.nonEmpty) rate(traced) / rate(untraced) else 0.0))
    val kinds = w.kinds.map(k => s"op.$k.p50_s" ->
      Stats.medianOr0(traced.filter(_.kind == k).map(_.seconds)))
    (layerTimes ++ counters ++ engine ++ kinds).toMap ++ w.layerExtras(traced)
  }

  private def writeTrace(path: String, a: Args, ops: Seq[OpRecord], c: Collector,
                         layers: Map[String, Double]): Unit = {
    val aggs = Attribution.perOp(Trace.spans.toSeq, c)
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "metrics" -> layers.toSeq.sortBy(_._1).toMap,
      "ops" -> ops.map(r => mutable.LinkedHashMap[String, Any]("index" -> r.index, "kind" -> r.kind,
        "seconds" -> r.seconds, "traced" -> r.traced, "span" -> r.rootSpan, "units" -> r.units,
        "error" -> r.error, "engine" -> aggs.get(r.rootSpan).map(_.toString))),
      "spans" -> Trace.spans.map(s => Seq(s.id, s.name, s.parent, s.root, s.ms0, s.ms1, s.seconds)),
      "counters" -> Trace.counters.toSeq.map { case ((op, n), v) => Seq(op, n, v) })
    val out = new java.io.File(path)
    out.getParentFile.mkdirs()
    val wr = new java.io.PrintWriter(out, "UTF-8")
    try wr.write(Json.render(doc)) finally wr.close()
  }
}

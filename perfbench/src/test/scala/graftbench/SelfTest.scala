package graftbench

import org.apache.spark.sql.Row

/** The benchmark's own tests: percentiles, span attribution, and the
  * correctness checks, the last on inputs at TPC-H scale factor 0.001.
  * Run with `python3 perfbench/run.py --self-test`; prints `SELFTEST OK`
  * as its last line when every test passes.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  /** Runs one op of every kind of `w` (each twice, as a traced run's pair
    * does, when `pairs`), returning the failures their checks report.
    */
  private def drive(w: Workload, pairs: Boolean = false): Seq[String] =
    w.kinds.zipWithIndex.flatMap { case (k, i) =>
      (0 to (if (pairs) 1 else 0)).map(v => w.op(k, new Rng(i), v).run())
    }.flatMap(c => c())

  def main(args: Array[String]): Unit = {
    val work = args.sliding(2).collectFirst { case Array("--work", d) => d }.get

    test("quantile interpolates between order statistics") {
      check(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5, "median of 1..4")
      check(Stats.quantile((1 to 11).map(_.toDouble), 0.9) == 10.0, "p90 of 1..11")
      check(Stats.quantile(Seq(7.0), 0.9) == 7.0, "single sample")
      check(Stats.quantile(Nil, 0.5).isNaN && Stats.medianOr0(Nil) == 0.0, "empty")
    }

    test("covered merges overlapping intervals and clips them") {
      check(Attribution.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 25L) == 20L, "union")
      check(Attribution.covered(Seq((30L, 40L)), 0L, 25L) == 0L, "outside")
    }

    test("jobs, tasks and Catalyst phases attribute to the op that caused them") {
      def span(id: Int, parent: Int, root: Int, ms0: Long, ms1: Long) = {
        val s = new Span(id, if (parent < 0) "op.x" else "tables.scan_plan", parent, root, 0L, ms0)
        s.ms1 = ms1; s
      }
      val spans = Seq(span(0, -1, 0, 1000, 2000), span(1, 0, 0, 1100, 1500), span(2, -1, 2, 3000, 4000))
      val c = new Collector
      c.jobs(7) = JobRec(7, 1, 1200, 1400)  // submitted under span 1, op 0
      c.jobs(8) = JobRec(8, 2, 3100, 3900)  // op 2
      c.stageJob ++= Seq(70 -> 7, 80 -> 8)
      c.stagesRun ++= Seq((70, 7), (80, 8))
      c.tasks += TaskRec(7, 50, 40000000L, 5, 1048576, 0, 3, 0, 0, 0)
      c.tasks += TaskRec(8, 500, 0, 0, 0, 2097152, 0, 0, 0, 0)
      c.qes += QeRec(1050, 4, 5, 6)
      c.qes += QeRec(5000, 1, 1, 1) // outside every op
      val agg = Attribution.perOp(spans, c)
      check(agg.keySet == Set(0, 2), s"ops ${agg.keySet}")
      val a = agg(0)
      check(a.jobs == 1 && a.stages == 1 && a.tasks == 1, s"counts $a")
      check(a.taskRunS == 0.05 && a.taskCpuS == 0.04 && a.shuffleWriteMb == 1.0, s"task sums $a")
      check(a.jobBusyS == 0.2 && a.analysisS == 0.004 && a.planningS == 0.006, s"times $a")
      check(agg(2).shuffleReadMb == 2.0 && agg(2).analysisS == 0.0, s"op 2 ${agg(2)}")
    }

    test("cluster check compares labels with a union-find") {
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L))
      check(Checks.clusters(pairs, Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)).isEmpty, "good")
      check(Checks.clusters(pairs, Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 7L -> 7L, 9L -> 7L)).nonEmpty, "split")
    }

    test("pair checks recompute Jaccard, containment and cosine") {
      val texts = IndexedSeq("abcdefgh", "abcdefgx", "zzzzzzzz")
      // shingles {abcde,bcdef,cdefg,defgh} vs {..., defgx}: 3 / 5
      check(Checks.jaccard(texts, Seq((0L, 1L, 0.6)), 0.5).isEmpty, "exact")
      check(Checks.jaccard(texts, Seq((0L, 1L, 0.7)), 0.5).nonEmpty, "wrong value")
      check(Checks.jaccard(texts, Seq((0L, 1L, 0.6)), 0.65).nonEmpty, "under threshold")
      check(Checks.containment(texts, Seq((0L, 1L, 0.75)), 0.7).isEmpty, "containment")
      val v = IndexedSeq(Array(1f, 0f), Array(1f, 1f))
      check(Checks.cosine(v, Seq((0L, 1L, 0.7071)), 0.7).isEmpty, "cosine")
      check(Checks.cosine(v, Seq((0L, 1L, 0.8)), 0.7).nonEmpty, "wrong cosine")
    }

    test("soft-dedup check keeps unclustered docs and gates clustered ones") {
      val slice = Set(1L, 2L, 3L, 4L)
      val labels = Map(2L -> 2L, 3L -> 2L)
      val gate = (id: Long) => Checks.md5Mod(s"soft|$id") * 2 < 2147483647L
      val kept = Set(1L, 4L) ++ Set(2L, 3L).filter(gate)
      check(Checks.softDedup(slice, labels, kept).isEmpty, "model")
      check(Checks.softDedup(slice, labels, kept - 1L).nonEmpty, "dropped an unclustered doc")
    }

    test("row comparison tolerates summation order only") {
      check(Compare.rows(Seq(Row("a", 1L, 0.1 + 0.2)), Seq(Row("a", 1L, 0.3))).isEmpty, "rounding")
      check(Compare.rows(Seq(Row("a", 1L, 0.31)), Seq(Row("a", 1L, 0.3))).nonEmpty, "value")
      check(Compare.rows(Nil, Seq(Row(1))).nonEmpty, "size")
    }

    val spark = Main.session(2, s"$work/spark")
    test("lakehouse reads match plain reads and the model at sf0.001; a lost write is caught") {
      val w = new Lakehouse(1, sf = 0.001)
      w.generate(spark, s"$work/lake-input")
      w.load(s"$work/lake-input")
      w.setup(spark, s"$work/lake")
      val errs = drive(w) ++ drive(w, pairs = true)
      check(errs.isEmpty, errs.mkString("; "))
      check(w.finalChecks().isEmpty, w.finalChecks().mkString("; "))
      // the model applies writes the tables never see
      w.op("delta_append", new Rng(99))
      check(w.finalChecks().nonEmpty, "final check missed lost writes")
    }

    test("a replayed lake delete still finds rows to delete") {
      val w = new Lakehouse(1, sf = 0.001)
      w.load(s"$work/lake-input")
      w.setup(spark, s"$work/replay")
      val table = new graft.tables.DeltaTable("orders_delta", s"$work/replay/orders_delta")
      def count() = table.apply(spark, graft.tables.ReadArgs.empty).count()
      val countBefore = count()
      w.op("delta_delete", new Rng(5)).run()
      val afterFirst = count()
      w.op("delta_delete", new Rng(5), variant = 1).run()
      val afterReplay = count()
      check(w.finalChecks().isEmpty, w.finalChecks().mkString("; "))
      check(countBefore > afterFirst && afterFirst > afterReplay,
        s"rows $countBefore -> $afterFirst -> $afterReplay")
    }

    test("near-dup outputs pass their driver-side checks on a small corpus") {
      val w = new DedupPipeline(1, docs = 300, vecs = 200)
      w.generate(spark, s"$work/dedup-input")
      w.load(s"$work/dedup-input")
      w.setup(spark, s"$work/dedup")
      val errs = drive(w)
      check(errs.isEmpty, errs.mkString("; "))
    }
    spark.stop()

    println(if (failures == 0) "SELFTEST OK" else s"SELFTEST FAILED ($failures)")
  }
}

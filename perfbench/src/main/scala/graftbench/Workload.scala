package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One operation of a workload. `units` counts the documents or rows the
  * op handles. `run` is the timed part; it returns the op's correctness
  * check, which runs after the timed section (None = correct).
  */
trait Op {
  def kind: String
  def units: Long = 0L
  def run(): () => Option[String]
}

/** A benchmark workload: inputs, set-up, and the ops of its mix. */
trait Workload {
  def name: String

  /** Every op kind of the mix. */
  def kinds: Seq[String]

  /** One pass of the mix: every kind at its weight. A run issues whole passes. */
  def deck: Seq[String] = kinds

  /** Whether each pass runs the deck in a seeded order, or as listed. */
  def shuffleDeck: Boolean = true

  /** Writes the workload's data set under `dir`. It is derived from
    * [[Gen.DataSeed]], not from the run's seed, so one generation serves
    * every run in a checkout; the run's seed draws the op stream.
    */
  def generate(spark: SparkSession, dir: String): Unit

  /** Reads what the run needs of the data set under `dir`, without Spark (untimed). */
  def load(dir: String): Unit

  /** One set-up repetition, into `dir`: the workload's table builds, or,
    * for a workload that builds none, one small pass.
    */
  def setup(spark: SparkSession, dir: String): Unit

  /** Untimed, after set-up: one op of each kind set-up leaves cold, so the
    * timed section starts warm.
    */
  def warmUp(): Unit = ()

  /** An op of `kind`, its parameters drawn from `rng`. Built just before it
    * runs (it applies itself to the workload's model). Two ops built from
    * equal `rng`s do the same work; `variant` 1 marks the second of such a
    * pair, for op kinds whose replay would otherwise find no work left.
    */
  def op(kind: String, rng: Rng, variant: Int = 0): Op

  /** Around every op of a traced run, outside the timed part. */
  def beforeOp(op: Op): Unit = ()
  def afterOp(op: Op): Unit = ()

  /** Whole-state checks after the timed section; one message per failure. */
  def finalChecks(): Seq[String] = Nil

  /** Workload-specific end-to-end figures, from `ops` measured over `wallS`. */
  def extras(ops: Seq[OpRecord], wallS: Double): Map[String, Double] = Map.empty

  /** Workload-specific per-layer figures of the traced ops. */
  def layerExtras(traced: Seq[OpRecord]): Map[String, Double] = Map.empty
}

final case class OpRecord(index: Int, kind: String, units: Long, seconds: Double,
                          traced: Boolean, rootSpan: Int, error: Option[String])

/** A seeded mix that keeps each kind's share fixed: the deck holds every
  * kind at its weight and is reshuffled (unless `shuffle` is off) each
  * time it runs out, so a run of any length sees the same proportions
  * whatever the seed.
  */
final class Deck[T](rng: Rng, cards: Seq[T], shuffle: Boolean = true) {
  private var left: List[T] = Nil
  def next(): T = {
    if (left.isEmpty) left = (if (shuffle) rng.shuffle(cards) else cards).toList
    val c = left.head
    left = left.tail
    c
  }
}

/** A filter condition as the benchmark states it. The graft route turns
  * it into a `graft.core.Filter`; the check route compiles it straight to
  * a Spark column, without graft.
  */
final case class Cond(column: String, op: String, value: Any) {
  def toFilter: graft.core.Filter = graft.core.Filter(column, op, value)
  def toColumn: Column = {
    val c = col(column)
    op match {
      case "=" => c === lit(value)
      case "<" => c < lit(value)
      case "<=" => c <= lit(value)
      case ">" => c > lit(value)
      case ">=" => c >= lit(value)
    }
  }
}

object Compare {
  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  /** None when the two row lists are equal (doubles to 1e-9 relative). */
  def rows(got: Seq[Row], want: Seq[Row]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g.length != w.length ||
          (0 until g.length).exists(k => !close(g.get(k), w.get(k))) =>
        s"row $i is $g, expected $w"
    }
}

/** Scan statistics from an executed plan (files read, bytes of files). */
object Plans {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Nil
    case s: FileSourceScanExec => Seq(s)
    case o => (o.children ++ o.subqueries).flatMap(scans)
  }

  /** (files scanned, bytes of those files) of an executed DataFrame. */
  def scanned(df: DataFrame): (Long, Long) = {
    val ss = scans(df.queryExecution.executedPlan)
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).fold(0L)(_.value)
    (ss.map(m(_, "numFiles")).sum, ss.map(m(_, "filesSize")).sum)
  }

  /** Data files of a table root, skipping each format's metadata dirs. */
  def dataFiles(root: String): Seq[java.io.File] =
    Files.walk(new java.io.File(root)).filter { f =>
      val p = f.getPath
      f.getName.endsWith(".parquet") && !p.contains("/_delta_log/") &&
        !p.contains("/.hoodie/") && !p.contains("/metadata/")
    }
}

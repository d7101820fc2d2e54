package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** [[NearDup.containmentPairs]] against an in-test brute force: every
  * pair of rows with non-null ids `a < b` that shares a shingle of
  * document frequency in [2, maxDf] (null-id rows counted), with exact
  * containment rounded to 4 decimals ≥ threshold.
  */
class ContainmentPairsSpec extends SparkSpec {

  private def shingles(t: String, k: Int): Set[String] =
    if (t.length < k) Set(t) else (0 to t.length - k).map(i => t.substring(i, i + k)).toSet

  /** Spark's round(x, 4) on a double. */
  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def bruteForce(rows: Seq[(Option[Long], Option[String])], k: Int,
                         threshold: Double, maxDf: Int): Set[(Long, Long, Double)] = {
    val sets = rows.map { case (id, t) => (id, t.map(shingles(_, k)).getOrElse(Set.empty[String])) }
    val df = sets.flatMap(_._2.toSeq).groupBy(identity).map { case (g, gs) => g -> gs.size }
    (for {
      (Some(a), sa) <- sets
      (Some(b), sb) <- sets
      if a < b && sa.nonEmpty && sb.nonEmpty
      shared = sa intersect sb
      if shared.exists(g => df(g) >= 2 && df(g) <= maxDf)
      c = round4(shared.size.toDouble / math.min(sa.size, sb.size))
      if c >= threshold
    } yield (a, b, c)).toSet
  }

  private def frame(rows: Seq[(Option[Long], Option[String])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, t) =>
        org.apache.spark.sql.Row(id.map(Long.box).orNull, t.orNull)
      }, 3),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def pairs(rows: Seq[(Option[Long], Option[String])], k: Int,
                    threshold: Double, maxDf: Int): Set[(Long, Long, Double)] =
    try NearDup.containmentPairs(frame(rows), "doc_id", "text", k, threshold, maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    finally NearDup.releaseCaches()

  private def check(rows: Seq[(Option[Long], Option[String])], k: Int,
                    threshold: Double, maxDf: Int): Set[(Long, Long, Double)] = {
    val got = pairs(rows, k, threshold, maxDf)
    val want = bruteForce(rows, k, threshold, maxDf)
    assert(got == want, s"k=$k threshold=$threshold maxDf=$maxDf\n" +
      s"missing ${want diff got}\nextra ${got diff want}")
    got
  }

  /** A run of one CJK char per doc: its shingles occur in no other doc. */
  private def tail(i: Long): String = new String(Character.toChars(0x4E00 + i.toInt)) * 7

  test("matches the brute force on random corpora") {
    val rng = new scala.util.Random(20231)
    val found = (0 until 6).map { round =>
      val passages = Seq.fill(6)(Seq.fill(8 + rng.nextInt(24))("abcdefgh "(rng.nextInt(9))).mkString)
      val rows = (0L until 20L + rng.nextInt(20)).map { i =>
        val text = Seq.fill(1 + rng.nextInt(3))(passages(rng.nextInt(passages.size))).mkString +
          (if (rng.nextBoolean()) tail(i) else "")
        (if (rng.nextInt(15) == 0) None else Some(i), if (rng.nextInt(15) == 0) None else Some(text))
      }
      val k = Seq(3, 5)(round % 2)
      val threshold = Seq(0.5, 0.8, 1.0)(round % 3)
      val maxDf = Seq(2, 5, 20)(rng.nextInt(3))
      check(rows, k, threshold, maxDf).size
    }
    assert(found.count(_ > 0) >= 3, s"pairs per corpus: $found")
  }

  test("a pair at the threshold, exactly (4 of 5 shingles) or by rounding, is kept") {
    // doc 1 has 5 shingles; doc 2 shares 4 of them
    val rows = Seq(Some(1L) -> Some("abcdefghi"), Some(2L) -> Some("abcdefgh" + tail(2)))
    assert(check(rows, 5, 0.8, 20) == Set((1L, 2L, 0.8)))
    assert(check(rows, 5, 0.8001, 20).isEmpty)
    // 2 of 3 is 0.666…, below 0.66667 but rounded to 0.6667 above it:
    // the bounded verify must not drop a pair the rounding lets pass
    val third = Seq(Some(1L) -> Some("abcdefg"), Some(2L) -> Some("abcdef" + tail(2)))
    assert(check(third, 5, 0.66667, 20) == Set((1L, 2L, 0.6667)))
  }

  test("a null id counts toward document frequency but never pairs; a null text never pairs") {
    val passage = "the shared passage text"
    val rows = Seq(
      Some(1L) -> Some(passage + tail(1)),
      Some(2L) -> Some(passage + tail(2)),
      None -> Some(passage),
      Some(3L) -> None)
    // df of the passage's shingles is 3 with the null-id row
    assert(check(rows, 5, 0.5, 3).map(p => (p._1, p._2)) == Set((1L, 2L)))
    assert(check(rows, 5, 0.5, 2).isEmpty)
  }

  test("shingles at document frequency maxDf block pairs, at maxDf + 1 they do not") {
    val maxDf = 4
    val atCap = (1L to maxDf.toLong).map(i => Some(i) -> Some("first passage here" + tail(i)))
    val overCap = (11L to 11L + maxDf).map(i => Some(i) -> Some("other passage text" + tail(i)))
    val got = check(atCap ++ overCap, 5, 0.5, maxDf)
    assert(got.map(p => (p._1, p._2)) ==
      (for (a <- 1L to maxDf.toLong; b <- a + 1 to maxDf.toLong) yield (a, b)).toSet)
  }

  test("one call runs at most 10 Spark jobs") {
    val rows = (0L until 60L).map(i => Some(i) -> Some(s"passage ${i % 7} is shared" + tail(i)))
    val docs = frame(rows)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinel = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse("") match {
          case "containment-jobs" => jobs.incrementAndGet()
          case "containment-sentinel" => sentinel.incrementAndGet()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("containment-jobs", "containment")
      val got = NearDup.containmentPairs(docs, "doc_id", "text", threshold = 0.5).collect()
      assert(got.nonEmpty)
      // the listener bus is FIFO: once the sentinel lands, every job
      // of the call has been counted
      sc.setJobGroup("containment-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 10e9.toLong
      while (sentinel.get() < 1 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinel.get() >= 1)
      assert(jobs.get() <= 10, s"containmentPairs ran ${jobs.get()} jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      NearDup.releaseCaches()
    }
  }
}

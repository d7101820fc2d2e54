package graftbench

import scala.collection.mutable

/** Wall time of named set-up steps, printed with the report. */
object Steps {
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally println(f"step $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }
}

/** Order statistics used by every metric. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of `xs`; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median, or 0 when there is nothing to take it over. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** JSON for the result line and the trace file (Jackson, from Spark's classpath). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}

/** Host facts recorded beside every result, so each run can be judged on
  * its own: cores, load and hypervisor steal over the run.
  */
object Host {
  private def firstLine(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().nextOption() finally src.close()
    } catch { case _: Throwable => None }

  def loadavg(): Double =
    firstLine("/proc/loadavg").map(_.split(" ")(0).toDouble).getOrElse(-1.0)

  /** (total jiffies, steal jiffies) across all CPUs. */
  def cpuJiffies(): (Long, Long) =
    firstLine("/proc/stat").map { l =>
      val p = l.trim.split("\\s+").drop(1).map(_.toLong)
      (p.take(8).sum, if (p.length > 7) p(7) else 0L)
    }.getOrElse((0L, 0L))

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }

  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def resetHeapPeak(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}

/** Deterministic draws from the workload seed. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def long(): Long = r.nextLong()
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def double(): Double = r.nextDouble()
  def gaussian(): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on every JDK
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** Recursive directory size and file listings, for space accounting. */
object Files {
  def walk(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))

  def bytes(dir: String): Long = walk(new java.io.File(dir)).map(_.length).sum

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}

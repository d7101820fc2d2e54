package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a hash of (row key, seed,
  * salt), so a seed gives the same inputs under any partitioning.
  */
object Gen {
  /** Seed of every data set: fixed, so inputs are generated once per
    * checkout and runs differ only in the op stream their seed draws.
    */
  val DataSeed = 1L
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations: Seq[(String, Int)] = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1, "EGYPT" -> 4,
    "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2,
    "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0,
    "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")
  val StartDate: java.sql.Date = java.sql.Date.valueOf("1992-01-01")
  /** Line items shipped after this date are open ('O', flag 'N'). */
  val CurrentDate = "1995-06-17"
  val Parts = 4

  /** Sizes at scale factor `sf` (TPC-H proportions). */
  final case class Sizes(sf: Double) {
    val customers: Long = math.max(100L, (150000 * sf).toLong)
    val suppliers: Long = math.max(10L, (10000 * sf).toLong)
    val orders: Long = math.max(1000L, (1500000 * sf).toLong)
  }

  private def h(seed: Long, salt: Int, keys: Column*): Column =
    xxhash64((keys :+ lit(seed) :+ lit(salt)): _*)

  private def u(seed: Long, salt: Int, n: Long, keys: Column*): Column =
    pmod(h(seed, salt, keys: _*), lit(n))

  private def pickOf(values: Seq[String], idx: Column): Column =
    element_at(typedLit(values), (idx + 1).cast("int"))

  def orders(spark: SparkSession, seed: Long, sz: Sizes): DataFrame = {
    val id = col("id")
    spark.range(1, sz.orders + 1, 1, Parts).select(
      id.as("o_orderkey"),
      (u(seed, 1, sz.customers, id) + 1).as("o_custkey"),
      pickOf(Statuses, u(seed, 2, 3, id)).as("o_orderstatus"),
      round((u(seed, 3, 50000000L, id) + 90000) / 100.0, 2).as("o_totalprice"),
      date_add(lit(StartDate), u(seed, 4, 2405, id).cast("int")).as("o_orderdate"),
      pickOf(Priorities, u(seed, 5, 5, id)).as("o_orderpriority"))
  }

  /** Writes region, nation, customer, supplier, orders and lineitem. */
  def relational(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    val sz = Sizes(sf)
    import spark.implicits._
    Regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
      .coalesce(1).write.parquet(s"$dir/region.parquet")
    Nations.zipWithIndex.map { case ((n, r), i) => (i, n, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.parquet(s"$dir/nation.parquet")
    val id = col("id")
    spark.range(1, sz.customers + 1, 1, Parts).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(seed, 11, 25, id).cast("int").as("c_nationkey"),
      round((u(seed, 12, 1100000, id) - 100000) / 100.0, 2).as("c_acctbal"),
      pickOf(Segments, u(seed, 13, 5, id)).as("c_mktsegment"))
      .write.parquet(s"$dir/customer.parquet")
    spark.range(1, sz.suppliers + 1, 1, Parts).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      u(seed, 21, 25, id).cast("int").as("s_nationkey"),
      round((u(seed, 22, 1100000, id) - 100000) / 100.0, 2).as("s_acctbal"))
      .write.parquet(s"$dir/supplier.parquet")
    val o = orders(spark, seed, sz)
    o.write.parquet(s"$dir/orders.parquet")

    val k = col("o_orderkey")
    val ln = col("l_linenumber")
    val ship = date_add(col("o_orderdate"), (u(seed, 37, 121, k, ln) + 1).cast("int"))
    val closed = ship <= to_date(lit(CurrentDate))
    o.select(k, col("o_orderdate"),
        explode(sequence(lit(1), (u(seed, 30, 7, k) + 1).cast("int"))).as("l_linenumber"))
      .select(
        k.as("l_orderkey"),
        (u(seed, 31, math.max(200L, (200000 * sf).toLong), k, ln) + 1).as("l_partkey"),
        (u(seed, 32, sz.suppliers, k, ln) + 1).as("l_suppkey"),
        ln,
        (u(seed, 33, 50, k, ln) + 1).cast("double").as("l_quantity"),
        round((u(seed, 33, 50, k, ln) + 1) * ((u(seed, 34, 100000, k, ln) + 90000) / 100.0), 2)
          .as("l_extendedprice"),
        (u(seed, 35, 11, k, ln) / 100.0).as("l_discount"),
        (u(seed, 36, 9, k, ln) / 100.0).as("l_tax"),
        when(closed, when(u(seed, 38, 2, k, ln) === 0, "R").otherwise("A"))
          .otherwise("N").as("l_returnflag"),
        when(closed, "F").otherwise("O").as("l_linestatus"),
        ship.as("l_shipdate"),
        year(ship).as("l_shipyear"))
      .write.parquet(s"$dir/lineitem.parquet")
  }

  /** A text corpus with near-duplicate families and quoted passages. */
  final case class Corpus(texts: IndexedSeq[String], masks: IndexedSeq[Long])

  /** Slice membership: bit j of a row's mask puts it in slice j (~60%). */
  def masks(rng: Rng, n: Int, slices: Int): IndexedSeq[Long] =
    IndexedSeq.fill(n)((0 until slices).foldLeft(0L)((m, j) =>
      if (rng.int(10) < 6) m | (1L << j) else m))

  def corpus(seed: Long, n: Int, slices: Int): Corpus = {
    val rng = new Rng(seed * 7919 + 1)
    val syll = Seq("ka", "to", "ri", "mu", "se", "la", "no", "vi", "pe", "do", "gu", "ha",
      "zi", "be", "fo", "ny", "qua", "ost", "el", "um")
    val vocab = Iterator.continually(
      (1 to rng.between(2, 3)).map(_ => rng.pick(syll)).mkString).distinct.take(400).toIndexedSeq
    def words(k: Int) = IndexedSeq.fill(k)(rng.pick(vocab))
    val originals = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val docs = (0 until n).map { i =>
      val r = rng.double()
      val w =
        if (originals.isEmpty || r < 0.55) {
          val d = words(rng.between(30, 70)); originals += d; d
        } else if (r < 0.9) {
          // near duplicate: 5-10% of the words replaced
          val base = originals(rng.int(originals.size))
          val p = 0.05 + 0.05 * rng.double()
          base.map(x => if (rng.double() < p) rng.pick(vocab) else x)
        } else {
          // quote: a passage of an original inside new text
          val base = originals(rng.int(originals.size))
          val len = math.max(8, base.size * 6 / 10)
          val at = rng.int(base.size - len + 1)
          words(rng.between(2, 6)) ++ base.slice(at, at + len) ++ words(rng.between(2, 6))
        }
      w.mkString(" ")
    }
    Corpus(docs, masks(rng, n, slices))
  }

  def writeDocuments(spark: SparkSession, c: Corpus, path: String): Unit = {
    val rows = c.texts.indices.map(i => Row(i.toLong, c.texts(i),
      Seq("en", "de", "fr", "es", "zh")(i % 5), s"src${i % 20}", c.masks(i)))
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("slice_mask", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Parts), schema)
      .write.parquet(path)
  }

  /** Unit vectors in clusters: 70% fresh directions, 30% small
    * perturbations of an earlier one (cosine above 0.95).
    */
  final case class Vectors(vecs: IndexedSeq[Array[Float]], masks: IndexedSeq[Long])

  def vectors(seed: Long, n: Int, dim: Int, slices: Int): Vectors = {
    val rng = new Rng(seed * 104729 + 3)
    def unit(v: Array[Double]) = { val nr = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / nr).toFloat) }
    val bases = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val vs = (0 until n).map { _ =>
      if (bases.isEmpty || rng.double() < 0.7) {
        val b = unit(Array.fill(dim)(rng.gaussian())); bases += b; b
      } else {
        val b = bases(rng.int(bases.size))
        unit(b.map(x => x + 0.03 * rng.gaussian()))
      }
    }
    Vectors(vs, masks(rng, n, slices))
  }

  def writeEmbeddings(spark: SparkSession, v: Vectors, path: String): Unit = {
    val rows = v.vecs.indices.map(i => Row(i.toLong, v.vecs(i).toSeq, i % 10, v.masks(i)))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType), StructField("slice_mask", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Parts), schema)
      .write.parquet(path)
  }
}

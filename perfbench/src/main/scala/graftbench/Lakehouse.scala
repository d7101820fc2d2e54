package graftbench

import graft.catalog.{Catalog, MapDatabase}
import graft.core.Filters
import graft.tables._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Catalog reads and lake writes on one set of tables.
  *
  * Reads: TPC-H style templates over the catalog's parquet tables, reads
  * of a Hive-partitioned lineitem, and stats-pruned key-range probes on
  * Delta, Iceberg and Hudi copies of orders, which read the writes back.
  * Writes: key-range upserts on all three copies; on Delta and Iceberg
  * also appends and predicate deletes through the writer APIs and one DML
  * statement through the `graft` SQL catalog. Every read of a lake table
  * is checked against an in-memory model of the table.
  */
final class Lakehouse(seed: Long, sf: Double = Lakehouse.Sf) extends Workload {
  import Lakehouse._
  val name = "lakehouse"
  val Formats = Seq("delta", "iceberg", "hudi")
  /** Delta and Iceberg take their DML through both routes, the writer API
    * and one statement through the SQL catalog. Hudi takes only the upsert
    * (its appends are timed in set-up): a Hudi write costs 2-3 s, and a run
    * has to fit its time budget.
    */
  private val SqlKinds = Seq("delta_sql_merge", "iceberg_sql_delete")
  val kinds: Seq[String] = Seq("q01", "q03", "q05", "q06", "part_scan") ++
    Formats.map(f => s"${f}_probe") ++ Seq("delta_append", "iceberg_append") ++
    Formats.map(f => s"${f}_upsert") ++ Seq("delta_delete", "iceberg_delete") ++ SqlKinds

  /** Catalog reads twice per pass: 13 reads to 9 writes, so the median op
    * falls among the many reads and light writes of 0.5-0.7 s, not in the
    * sparser 0.7-1 s band above them, where it would move with each op's
    * noise and each seed's parameters.
    */
  override def deck: Seq[String] =
    kinds.flatMap(k => if (isWrite(k) || k.endsWith("_probe")) Seq(k) else Seq(k, k))

  private val Tpch = Seq("region", "nation", "customer", "supplier", "orders", "lineitem")

  final case class Order(key: Long, cust: Long, status: String, price: Double,
                         date: java.sql.Date, prio: String) {
    def row: Row = Row(key, cust, status, price, date, prio)
  }
  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))

  private var spark: SparkSession = _
  private var input: String = _
  private var dir: String = _
  private var initial: Seq[Order] = Nil
  private var catalog: Catalog = _
  private var filesTotal = Map.empty[String, Long]
  private val models = mutable.Map.empty[String, mutable.TreeMap[Long, Order]]
  private var nextKey = 0L

  private def rawPath(table: String): String = table match {
    case "lineitem_part" => s"$input/lineitem_part"
    case t => s"$input/$t.parquet"
  }
  private def path(format: String) = s"$dir/orders_$format"

  def generate(s: SparkSession, d: String): Unit = {
    input = d
    Gen.relational(s, Gen.DataSeed, sf, d)
    s.read.parquet(rawPath("lineitem")).write.partitionBy("l_shipyear").parquet(rawPath("lineitem_part"))
    // the model's starting rows, as text, so a run reads them without a Spark job
    val rows = s.read.parquet(rawPath("orders")).collect().map(r => (0 until r.length).map(r.get).mkString("|"))
    java.nio.file.Files.write(java.nio.file.Paths.get(d, OrderRows), (rows.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def load(d: String): Unit = {
    input = d
    initial = scala.io.Source.fromFile(s"$d/$OrderRows", "UTF-8").getLines().map(_.split('|')).map(f =>
      Order(f(0).toLong, f(1).toLong, f(2), f(3).toDouble, java.sql.Date.valueOf(f(4)), f(5))).toSeq
    filesTotal = (Tpch :+ "lineitem_part").map(t => t -> Plans.dataFiles(rawPath(t)).size.toLong).toMap
  }

  def setup(s: SparkSession, d: String): Unit = {
    spark = s
    dir = d
    val orders = s.read.parquet(rawPath("orders"))
      .repartitionByRange(LakeFiles, col("o_orderkey")).sortWithinPartitions("o_orderkey")
    Steps("delta_build") { DeltaWrite.append(s, orders, path("delta")) }
    Steps("iceberg_build") { IcebergWrite.append(s, orders, path("iceberg")) }
    Steps("hudi_build") { HudiWrite.bulkInsert(s, orders, path("hudi"), "o_orderkey") }
    def pt(n: String) = n -> new ParquetTable(n, rawPath(n), partitioning = Seq.empty)
    val lake: Map[String, TableProtocol] = Map(
      "lineitem_part" -> new ParquetTable("lineitem_part", rawPath("lineitem_part"),
        Seq(Partition("l_shipyear", IntegerType))),
      "orders_delta" -> new DeltaTable("orders_delta", path("delta")),
      "orders_iceberg" -> new IcebergTable("orders_iceberg", path("iceberg")),
      "orders_hudi" -> new HudiTable("orders_hudi", path("hudi")))
    catalog = new Catalog(Map("tpch" -> new MapDatabase(Tpch.map(pt).toMap),
      "lake" -> new MapDatabase(lake)))
    Formats.foreach(f => models(f) = mutable.TreeMap.from(initial.map(o => o.key -> o)))
    nextKey = initial.map(_.key).max + 1
  }

  /** Every read kind, once: the first read of a kind in a JVM took up to
    * twice as long as the next, and the median op falls among the reads.
    * Of the writes, the Delta and Iceberg API upserts and deletes, whose
    * first run costs most. Set-up ran the append paths, the SQL statements
    * share the API's, and the Hudi upsert (4-5 s cold) is left to the
    * timed section, where it costs less than its warm-up would.
    */
  override def warmUp(): Unit = {
    val rng = new Rng(seed ^ 0xA11L)
    (kinds.filterNot(isWrite) ++ Seq("delta_upsert", "iceberg_upsert", "delta_delete", "iceberg_delete"))
      .foreach(k => Steps(s"warmup_$k") { op(k, rng).run() })
  }

  private def formatOf(kind: String) = kind.takeWhile(_ != '_')
  private def isWrite(kind: String) =
    Seq("_append", "_upsert", "_sql_merge", "_delete", "_sql_delete").exists(kind.endsWith)
  private def isLakeRead(kind: String) = kind.endsWith("_probe")
  private def batchRows(kind: String) = Seq("_append", "_upsert", "_sql_merge").exists(kind.endsWith)

  /** Table access: `graft` goes through the catalog; the check reads raw files. */
  private type Src = (String, String, Seq[Cond]) => DataFrame

  private val graftSrc: Src = (db, table, conds) => {
    val filters = Trace.span("core.normalize") { Filters.normalize(conds.map(_.toFilter)) }
    val tp = Trace.span("catalog.lookup") { catalog.db(db).getTables(showDeprecated = true)(table) }
    Trace.span("tables.scan_plan") { tp.apply(spark, ReadArgs(filters = filters)) }
  }

  private val plainSrc: Src = (_, table, conds) => {
    val df = spark.read.parquet(rawPath(table))
    conds.map(_.toColumn).reduceOption(_ && _).fold(df)(df.filter)
  }

  private def date(s: String) = java.sql.Date.valueOf(s)
  private def revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))

  private def q01(t: Src, delta: Int): DataFrame =
    t("tpch", "lineitem", Seq(Cond("l_shipdate", "<=",
        java.sql.Date.valueOf(java.time.LocalDate.parse("1998-12-01").minusDays(delta)))))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), sum("l_extendedprice").as("sum_base"),
        sum(revenue).as("sum_disc"), sum(revenue * (lit(1) + col("l_tax"))).as("sum_charge"),
        avg("l_discount").as("avg_disc"), count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  private def q03(t: Src, segment: String, d: java.sql.Date): DataFrame =
    t("tpch", "customer", Seq(Cond("c_mktsegment", "=", segment)))
      .join(t("tpch", "orders", Seq(Cond("o_orderdate", "<", d))), col("c_custkey") === col("o_custkey"))
      .join(t("tpch", "lineitem", Seq(Cond("l_shipdate", ">", d))), col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(sum(revenue), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)

  private def q05(t: Src, region: String, year: Int): DataFrame =
    t("tpch", "orders", Seq(Cond("o_orderdate", ">=", date(s"$year-01-01")),
        Cond("o_orderdate", "<", date(s"${year + 1}-01-01"))))
      .join(t("tpch", "lineitem", Nil), col("o_orderkey") === col("l_orderkey"))
      .join(t("tpch", "supplier", Nil), col("l_suppkey") === col("s_suppkey"))
      .join(t("tpch", "customer", Nil),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t("tpch", "nation", Nil)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t("tpch", "region", Seq(Cond("r_name", "=", region)))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name").agg(round(sum(revenue), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  private def q06(t: Src, year: Int, disc: Double, qty: Double): DataFrame =
    t("tpch", "lineitem", Seq(Cond("l_shipdate", ">=", date(s"$year-01-01")),
        Cond("l_shipdate", "<", date(s"${year + 1}-01-01")),
        Cond("l_discount", ">=", disc - 0.011), Cond("l_discount", "<=", disc + 0.011),
        Cond("l_quantity", "<", qty)))
      .agg(sum(col("l_extendedprice") * col("l_discount")).as("revenue"), count(lit(1)).as("n"))

  private def partScan(t: Src, conds: Seq[Cond]): DataFrame =
    t("lake", "lineitem_part", conds)
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("price"), sum("l_quantity").as("qty"))
      .orderBy("l_linestatus")

  /** Draws a template's parameters and binds them into a query over any source. */
  private def template(kind: String, rng: Rng): Src => DataFrame = kind match {
    case "q01" => val d = rng.between(60, 120); t => q01(t, d)
    case "q03" =>
      val seg = rng.pick(Gen.Segments)
      val d = date(f"1995-03-${rng.between(1, 31)}%02d")
      t => q03(t, seg, d)
    case "q05" =>
      val reg = rng.pick(Gen.Regions); val y = rng.between(1993, 1997)
      t => q05(t, reg, y)
    case "q06" =>
      val y = rng.between(1993, 1997); val d = rng.between(2, 9) / 100.0
      val q = rng.between(24, 25).toDouble
      t => q06(t, y, d, q)
    case "part_scan" =>
      val y = rng.between(1992, 1998)
      val flag = if (rng.int(2) == 0) Seq(Cond("l_returnflag", "=", rng.pick(Seq("A", "N", "R")))) else Nil
      val conds = Seq(Cond("l_shipyear", "=", y)) ++ flag ++
        Seq(Cond("l_quantity", "<", rng.between(10, 40).toDouble),
          Cond("l_discount", ">=", rng.between(0, 6) / 100.0))
      t => partScan(t, conds)
  }

  private def opOf(k: String, n: Long)(body: => () => Option[String]): Op = new Op {
    val kind = k
    override val units: Long = n
    def run(): () => Option[String] = body
  }

  /** After a scan, the files it read, from the executed plan (traced runs). */
  private def countScan(df: DataFrame, tables: Seq[String]): Unit = if (Trace.enabled) {
    val (files, bytes) = Plans.scanned(df)
    Trace.count("tables.files_scanned", files.toDouble)
    Trace.count("tables.scan_mb", bytes / 1048576.0)
    tables.flatMap(filesTotal.get).foreach(n => Trace.count("tables.files_total", n.toDouble))
  }

  private def freshRows(keys: Seq[Long], rng: Rng): Seq[Order] = keys.map(k => Order(k,
    1L + rng.int(7500), rng.pick(Gen.Statuses), rng.between(90000, 50000000) / 100.0,
    java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1).plusDays(rng.int(2405))),
    rng.pick(Gen.Priorities)))

  private def frame(rows: Seq[Order]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(_.row).asJava, schema)
  }

  private def sql(s: String): Unit = Trace.span("spark.dml_sql") { spark.sql(s) }

  private def commit[T](format: String)(body: => T): T =
    Trace.span(s"tables.${format}_commit")(body)

  /** Builds the op, drawing its parameters and applying it to the model.
    * A replayed delete (`variant` 1) takes the next order status over the
    * same key range, so it deletes rows too.
    */
  def op(k: String, rng: Rng, variant: Int = 0): Op = {
    if (!k.contains('_') || k == "part_scan") {
      val q = template(k, rng)
      return opOf(k, 0) {
        val used = mutable.Buffer.empty[String]
        val df = q((db, t, cs) => { used += t; graftSrc(db, t, cs) })
        val got = df.collect().toSeq
        countScan(df, used.distinct.toSeq)
        () => Compare.rows(got, q(plainSrc).collect().toSeq)
      }
    }
    val format = formatOf(k)
    val action = k.drop(format.length + 1)
    val model = models(format)
    val p = path(format)
    val ok: () => Option[String] = () => None
    action match {
      case "probe" =>
        // a key range over 1 to 4 of the LakeFiles initial range-sorted files
        val w = initial.size / LakeFiles
        val n = rng.between(1, 4)
        val first = rng.int(LakeFiles - n + 1)
        val lo = (first * w + 1 + rng.int(w / 4)).toLong
        val hi = ((first + n - 1) * w + w / 2 + rng.int(w / 4)).toLong
        val in = model.range(lo, hi).values.toSeq
        val want = Seq(if (in.isEmpty) Row(0L, null, null, null)
          else Row(in.size.toLong, in.map(_.price).sum, in.map(_.date).minBy(_.getTime),
            in.map(_.date).maxBy(_.getTime)))
        opOf(k, 0) {
          val df = graftSrc("lake", s"orders_$format",
              Seq(Cond("o_orderkey", ">=", lo), Cond("o_orderkey", "<", hi)))
            .agg(count(lit(1)), sum("o_totalprice"), min("o_orderdate"), max("o_orderdate"))
          val got = df.collect().toSeq
          countScan(df, Nil)
          () => Compare.rows(got, want).map(e => s"$format probe [$lo, $hi): $e")
        }
      case "append" =>
        val rows = freshRows(nextKey until nextKey + Batch, rng)
        nextKey += Batch
        rows.foreach(o => model(o.key) = o)
        opOf(k, rows.size) {
          val df = frame(rows)
          commit(format)(format match {
            case "delta" => DeltaWrite.append(spark, df, p)
            case "iceberg" => IcebergWrite.append(spark, df, p)
          })
          ok
        }
      case "upsert" | "sql_merge" =>
        val lo = 1L + rng.int((nextKey - Batch).toInt)
        val rows = freshRows(lo until lo + Batch, rng)
        rows.foreach(o => model(o.key) = o)
        opOf(k, rows.size) {
          val df = frame(rows)
          if (action == "upsert") commit(format)(format match {
            case "delta" => DeltaWrite.merge(spark, p, df, Seq("o_orderkey"))
            case "iceberg" => IcebergWrite.upsertEquality(spark, df, p, Seq("o_orderkey"))
            case "hudi" => HudiWrite.upsert(spark, df, p)
          }) else {
            df.createOrReplaceTempView("lake_src")
            sql(s"MERGE INTO graft.`$p` t USING lake_src s ON t.o_orderkey = s.o_orderkey " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
          }
          ok
        }
      case "delete" | "sql_delete" =>
        val lo = 1L + rng.int((nextKey - DeleteSpan).toInt)
        val hi = lo + DeleteSpan
        val status = Gen.Statuses((rng.int(Gen.Statuses.size) + variant) % Gen.Statuses.size)
        model.range(lo, hi).filter(_._2.status == status).keys.toList.foreach(model.remove)
        opOf(k, 0) {
          if (action == "delete") {
            val filters = Trace.span("core.normalize") {
              Filters.normalize(Seq(Cond("o_orderkey", ">=", lo), Cond("o_orderkey", "<", hi),
                Cond("o_orderstatus", "=", status)).map(_.toFilter))
            }
            commit(format)(format match {
              case "delta" => DeltaWrite.deleteWhere(spark, p, filters)
              case "iceberg" => IcebergWrite.deleteWhere(spark, p, filters)
            })
          } else sql(s"DELETE FROM graft.`$p` WHERE o_orderkey >= $lo AND o_orderkey < $hi " +
            s"AND o_orderstatus = '$status'")
          ok
        }
    }
  }

  private def table(format: String): DataFrame =
    catalog.db("lake").getTables(showDeprecated = true)(s"orders_$format").apply(spark, ReadArgs.empty)

  private def liveFiles(format: String): Set[String] = table(format).inputFiles.toSet

  private var before: Set[String] = Set.empty

  // Snapshot loads around every op of a traced run, traced or not, so both
  // ops of a pair run after the same extra table loads; the counts are
  // kept for traced ops only.
  override def beforeOp(o: Op): Unit =
    if (isWrite(o.kind)) before = liveFiles(formatOf(o.kind))

  override def afterOp(o: Op): Unit = {
    if (o.kind.endsWith("_probe"))
      Trace.count("tables.files_total", liveFiles(formatOf(o.kind)).size.toDouble)
    if (isWrite(o.kind)) {
      val now = liveFiles(formatOf(o.kind))
      val added = now -- before
      Trace.count("tables.files_added", added.size.toDouble)
      Trace.count("tables.files_removed", (before -- now).size.toDouble)
      Trace.count("tables.bytes_written",
        added.toSeq.map(f => new java.io.File(new java.net.URI(f).getPath).length).sum.toDouble)
      Trace.count("tables.rows_written", o.units.toDouble)
    }
  }

  override def finalChecks(): Seq[String] = Formats.flatMap { f =>
    val got = table(f).select(schema.fieldNames.map(col): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    val want = models(f)
    if (got.size != want.size) Some(s"$f final table has ${got.size} rows, model ${want.size}")
    else want.values.find(o => !got.get(o.key).contains(o.row))
      .map(o => s"$f final row ${got.get(o.key)} differs from model ${o.row}")
  }

  /** Bytes of the live rows written once as compact parquet. */
  private def compactBytes(): Long = {
    val out = s"$dir/compact"
    Formats.foreach(f => frame(models(f).values.toSeq).coalesce(1).write.parquet(s"$out/$f"))
    Plans.dataFiles(out).map(_.length).sum
  }

  private def metadataFiles(): Seq[java.io.File] =
    Seq("delta/_delta_log", "iceberg/metadata", "hudi/.hoodie")
      .flatMap(m => Files.walk(new java.io.File(s"$dir/orders_$m")))

  override def extras(ops: Seq[OpRecord], wallS: Double): Map[String, Double] = {
    val writes = ops.filter(r => isWrite(r.kind)).map(_.seconds)
    val tableBytes = Formats.map(f => Files.bytes(path(f))).sum.toDouble
    Map(
      "rows_written_per_s" -> ops.filter(r => batchRows(r.kind)).map(_.units).sum / wallS,
      "commit_p50_s" -> Stats.medianOr0(writes),
      "commit_p90_s" -> (if (writes.isEmpty) 0.0 else Stats.quantile(writes, 0.9)),
      "read_p50_s" -> Stats.medianOr0(ops.filter(r => isLakeRead(r.kind)).map(_.seconds)),
      "space_amp" -> tableBytes / compactBytes())
  }

  override def layerExtras(traced: Seq[OpRecord]): Map[String, Double] = {
    def total(n: String) = traced.map(r => Trace.counters.getOrElse((r.rootSpan, n), 0.0)).sum
    val files = total("tables.files_total")
    val rows = total("tables.rows_written")
    // snapshot-load time of lake reads, last quarter of the run over the first
    val loads = Attribution.layerSeconds(Trace.spans.toSeq, "tables.scan_plan")
    val readLoads = traced.filter(r => isLakeRead(r.kind)).flatMap(r => loads.get(r.rootSpan))
    val q = math.max(1, readLoads.size / 4)
    val growth = if (readLoads.size < 2) 0.0
      else Stats.median(readLoads.takeRight(q)) / Stats.median(readLoads.take(q))
    // SQL route over API route for the same format and DML kind, p50 of each
    def p50(kind: String) = Stats.medianOr0(traced.filter(_.kind == kind).map(_.seconds))
    val ratios = for (viaSql <- SqlKinds; api = viaSql.replace("sql_merge", "upsert").replace("sql_", "")
      if p50(api) > 0 && p50(viaSql) > 0) yield p50(viaSql) / p50(api)
    val meta = metadataFiles()
    Map(
      "tables.prune_ratio" -> (if (files > 0) 1 - total("tables.files_scanned") / files else 0.0),
      "tables.bytes_written_per_row" -> (if (rows > 0) total("tables.bytes_written") / rows else 0.0),
      "tables.metadata_mb" -> meta.map(_.length).sum / 1048576.0,
      "tables.metadata_files" -> meta.size.toDouble,
      "tables.snapshot_growth" -> growth,
      "spark.dml_sql_overhead" -> Stats.medianOr0(ratios))
  }
}

object Lakehouse {
  /** Scale factor of the generated TPC-H tables (lineitem ~ 6M x sf rows). */
  val Sf = 0.005
  /** Files of each lake copy of orders at the start, range-sorted by key. */
  val LakeFiles = 8
  /** Rows per append and per upsert batch. */
  val Batch = 100
  /** Text copy of the generated orders, one `|`-separated row per line. */
  val OrderRows = "orders_rows.txt"
  /** Width of the key range a predicate delete covers. */
  val DeleteSpan = 300
}

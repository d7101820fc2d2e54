package graft

import graft.core.{Filter, Filters}
import graft.functions.{PortableHash, Text, TextHashExpressions}
import graft.operators.Sampling
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants over random inputs (ScalaCheck driving
  * real Spark evaluation in small batches).
  */
object GraftProperties extends Properties("graft") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(10)

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)

  property("RoaringBitmapArray round-trips arbitrary row-index sets") = {
    val rowIndexes = Gen.listOf(Gen.frequency(
      8 -> Gen.chooseNum(0L, 5000L),          // dense low range
      2 -> Gen.chooseNum(0L, 200000L),        // several 16-bit keys
      1 -> Gen.chooseNum(0L, 1L << 34)))      // multiple 32-bit bitmaps
    forAll(rowIndexes, rowIndexes) { (ixs: List[Long], more: List[Long]) =>
      import graft.tables.RoaringBitmapArray
      val sorted = ixs.distinct.sorted.toArray
      val bm = RoaringBitmapArray.fromSorted(sorted)
      val back = RoaringBitmapArray.deserialize(bm.serialize)
      // the union a DV replacement writes equals the set union
      val union = back.union(RoaringBitmapArray.fromSorted(more.distinct.sorted.toArray))
      back.cardinality == sorted.length &&
        back.toArray.toSeq == sorted.toSeq &&
        sorted.forall(back.contains) &&
        !back.contains(if (sorted.isEmpty) 7L else sorted.max + 1) &&
        union.toArray.toSeq == (ixs ++ more).distinct.sorted &&
        union.cardinality == (ixs ++ more).distinct.size
    }
  }

  property("eq/neq filters partition any dataset") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-50, 50)), Gen.chooseNum(-50, 50)) {
      (xs: List[Int], pivot: Int) =>
        val df = xs.toDF("x")
        val eq = df.filter(Filters.toColumn(Filter("x", "=", pivot))).count()
        val ne = df.filter(Filters.toColumn(Filter("x", "!=", pivot))).count()
        eq + ne == xs.size
    }

  property("shingle count is max(1, len - k + 1)") =
    forAll(word, Gen.chooseNum(1, 8)) { (s: String, k: Int) =>
      val n = Seq(s).toDF("t").select(size(Text.shingles(col("t"), k))).as[Int].head()
      n == math.max(1, s.length - k + 1)
    }

  property("portable hash stays within [0, Prime)") =
    forAll(Gen.nonEmptyListOf(word)) { (ws: List[String]) =>
      val hs = ws.toDF("t").select(PortableHash.md5Mod(col("t"))).as[Long].collect()
      hs.forall(h => h >= 0 && h < PortableHash.Prime)
    }

  property("sorted intersect count equals set-intersection cardinality") = {
    val sortedArr = Gen.listOf(Gen.chooseNum(0L, 30L)).map(_.distinct.sorted)
    forAll(sortedArr, sortedArr) { (a: List[Long], b: List[Long]) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(TextHashExpressions.sortedIntersectCount(col("a"), col("b")))
        .as[Int].head()
      got == (a.toSet & b.toSet).size
    }
  }

  property("bounded sorted intersect count: exact at or above the ratio, -1 only below, codegen = interpreted") = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    // b mostly overlaps a, so counts land on both sides of the ratio and
    // on it; the ratio is compiled into the generated code, so a fixed
    // set of ratios keeps the code cache warm across 50 cases per run
    val pair = for {
      a <- Gen.listOf(Gen.chooseNum(0L, 60L)).map(_.distinct.sorted)
      keep <- Gen.listOfN(a.size, Gen.oneOf(true, true, true, false))
      extra <- Gen.listOf(Gen.chooseNum(0L, 60L))
    } yield (a, (a.zip(keep).collect { case (x, true) => x } ++ extra).distinct.sorted)
    val ratio = Gen.oneOf(0.0, 0.3, 0.5, 0.75, 0.7999, 0.8, 0.9, 1.0, 1.5)
    val arr = ArrayType(LongType, containsNull = false)
    forAll(Gen.listOfN(50, Gen.zip(pair, ratio))) { cases =>
      cases.forall { case ((a, b), r) =>
        val expr = graft.functions.SortedIntersectCount(
          BoundReference(0, arr, nullable = false), BoundReference(1, arr, nullable = false), r)
        val row = InternalRow(new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
        val interpreted = expr.eval(row).asInstanceOf[Int]
        val generated = GenerateUnsafeProjection.generate(Seq(expr)).apply(row).getInt(0)
        val count = (a.toSet & b.toSet).size
        val below = count < r * math.min(a.size, b.size)
        interpreted == generated && interpreted == (if (below) -1 else count)
      }
    }
  }

  property("split labels cover every row exactly once for any weight mix") =
    forAll(Gen.chooseNum(0.1, 0.9)) { (w: Double) =>
      val splits = Seq("a" -> w, "b" -> (1.0 - w))
      val labeled = (1L to 200L).toDF("id")
        .withColumn("s", Sampling.splitLabel(col("id"), splits))
      labeled.where(col("s").isin("a", "b")).count() == 200
    }

  property("slidingChunks reconstruct the input when stride == size") =
    forAll(Gen.alphaNumStr.map(_.take(200)), Gen.chooseNum(1, 12)) { (s: String, size: Int) =>
      val chunks = Seq(s).toDF("t")
        .select(Text.slidingChunks(col("t"), size, size).as("c"))
        .as[Seq[String]].head()
      chunks.mkString == s
    }

  property("slidingChunks cover every character and respect the stride grid") =
    forAll(Gen.alphaNumStr.map(_.take(300)), Gen.chooseNum(2, 20), Gen.chooseNum(1, 20)) {
      (s: String, size: Int, strideRaw: Int) =>
        val stride = math.min(strideRaw, size)
        val chunks = Seq(s).toDF("t")
          .select(Text.slidingChunks(col("t"), size, stride).as("c"))
          .as[Seq[String]].head()
        val starts = chunks.indices.map(_ * stride)
        val covered = starts.zip(chunks).flatMap { case (st, c) => st until (st + c.length) }
        chunks.nonEmpty &&
          chunks.init.forall(_.length == size) &&              // only the tail may be short
          covered.toSet == s.indices.toSet &&                  // full coverage, no gaps
          starts.zip(chunks).forall { case (st, c) => s.slice(st, st + c.length) == c }
    }

  property("concatChunks spans partition the token stream exactly") =
    forAll(
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 50L)).map(_.take(40)),
      Gen.chooseNum(1L, 64L)) { (tokens: List[Long], budget: Long) =>
      val df = tokens.zipWithIndex.map { case (n, i) => ("s", i.toLong, n) }
        .toDF("src", "id", "n")
      val rows = graft.operators.Packing.concatChunks(df, "src", "id", "n", budget)
        .orderBy("id").select("tok_start", "n", "chunk_first", "chunk_last")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val cum = tokens.scanLeft(0L)(_ + _)
      rows.zipWithIndex.forall { case ((start, n, cf, cl), i) =>
        start == cum(i) &&                                     // spans tile the stream
          cf == start / budget &&
          cl == math.max(start, start + n - 1) / budget &&     // end-inclusive chunk
          cf <= cl
      }
    }

  // Generated-column pruning SOUNDNESS: a derived partition conjunct
  // must never reject a row the original predicate accepts — a pruned
  // file is never read, so an unsound derivation silently loses data.
  // Checked by evaluating original vs original+derived DNFs with
  // Spark itself over random data and random filters, for the three
  // derivation families (date cast, year, string prefix).
  property("generated-column pruning derives only implied predicates") = {
    import graft.tables.{DeltaLog, GeneratedPruning}
    import org.apache.spark.sql.types._

    def meta(baseCol: String, baseType: DataType, partCol: String,
        partType: DataType, genSql: String): DeltaLog.Metadata = {
      val md = new MetadataBuilder()
        .putString("delta.generationExpression", genSql).build()
      DeltaLog.Metadata(StructType(Seq(
        StructField(baseCol, baseType),
        StructField(partCol, partType, nullable = true, md))).json,
        Seq(partCol))
    }
    val tsMeta = meta("ts", TimestampType, "day", DateType, "CAST(ts AS DATE)")
    val yrMeta = meta("ts", TimestampType, "yr", IntegerType, "year(ts)")
    val pfxMeta = meta("nm", StringType, "pfx", StringType, "substring(nm, 1, 2)")

    val epoch = Gen.chooseNum(631152000L, 1893456000L) // 1990..2030
    val opG = Gen.oneOf("=", "!=", "<", "<=", ">", ">=", "in")

    val tsCase = for {
      data <- Gen.nonEmptyListOf(epoch).map(_.take(40))
      op <- opG
      // filter values drawn from the data half the time so equality
      // and IN actually select rows
      v <- Gen.frequency(1 -> epoch, 1 -> Gen.oneOf(data))
      extra <- Gen.listOfN(2, Gen.oneOf(data))
    } yield (data, op, v, extra)

    forAll(tsCase, Gen.oneOf("day", "yr"), Gen.nonEmptyListOf(word).map(_.take(20))) {
      case ((data, op, v, extra), shape, words) =>
        def t(s: Long) = new java.sql.Timestamp(s * 1000L)
        val m = if (shape == "day") tsMeta else yrMeta
        val gen = if (shape == "day") "CAST(ts AS DATE)" else "year(ts)"
        val df = data.map(t).toDF("ts")
          .withColumn(if (shape == "day") "day" else "yr", expr(gen))
        val f =
          if (op == "in") Filter("ts", "in", (v :: extra).map(t))
          else Filter("ts", op, t(v))
        val dnf = Filters.normalize(Seq(f))
        val derived = GeneratedPruning.withDerived(spark, dnf, m)
        val a = df.filter(Filters.toColumn(dnf).get).count()
        val b = df.filter(Filters.toColumn(derived).get).count()

        // string-prefix family in the same pass
        val wdf = words.toDF("nm").withColumn("pfx", expr("substring(nm, 1, 2)"))
        val wf = Filter("nm", op,
          if (op == "in") words.take(2) else words.head)
        val wdnf = Filters.normalize(Seq(wf))
        val wDerived = GeneratedPruning.withDerived(spark, wdnf, pfxMeta)
        val wa = wdf.filter(Filters.toColumn(wdnf).get).count()
        val wb = wdf.filter(Filters.toColumn(wDerived).get).count()

        a == b && wa == wb
    }
  }

  // The unsound family: a STRING base under a date-shaped generation
  // expression. Lexicographic string order does not survive date
  // parsing ('2020-1-5' > '2020-01-09' as strings, the other way as
  // dates) and unparseable strings null the partition value, so range
  // derivation must refuse; equality/IN stay sound for any base type
  // because generation is deterministic. Adversarial data mixes
  // canonical dates, loosely-formatted dates, and garbage.
  property("no range derivation through date shapes over a string base") = {
    import graft.tables.{DeltaLog, GeneratedPruning}
    import org.apache.spark.sql.types._
    val md = new MetadataBuilder()
      .putString("delta.generationExpression", "to_date(s)").build()
    val strMeta = DeltaLog.Metadata(StructType(Seq(
      StructField("s", StringType),
      StructField("day", DateType, nullable = true, md))).json,
      Seq("day"))
    val strVal = Gen.oneOf(
      Gen.chooseNum(1, 28).map(d => f"2020-01-$d%02d"),
      Gen.chooseNum(1, 28).map(d => s"2020-1-$d"), // loose format, parses earlier than it sorts
      Gen.oneOf("zzz-not-a-date", "2020", "x"))
    forAll(
      Gen.nonEmptyListOf(strVal).map(_.take(40)),
      Gen.oneOf("=", "<", "<=", ">", ">=", "in"),
      strVal) { (data, op, v) =>
      // try_to_date: a non-ANSI writer (or another engine) leaves a
      // null partition value for garbage; ANSI to_date would throw
      // here in the harness rather than model that state
      val df = data.toDF("s").withColumn("day", expr("try_to_date(s)"))
      val f =
        if (op == "in") Filter("s", "in", Seq(v, data.head))
        else Filter("s", op, v)
      val dnf = Filters.normalize(Seq(f))
      val derived = GeneratedPruning.withDerived(spark, dnf, strMeta)
      val a = df.filter(Filters.toColumn(dnf).get).count()
      val b = df.filter(Filters.toColumn(derived).get).count()
      val rangeRefused =
        !Set("<", "<=", ">", ">=").contains(op) ||
          derived == dnf // range ops must derive nothing on a string base
      a == b && rangeRefused
    }
  }

  property("Misra-Gries guarantees hold for arbitrary skewed streams") =
    forAll(
      Gen.nonEmptyListOf(Gen.frequency(
        5 -> Gen.const("hot"),
        3 -> Gen.oneOf("w1", "w2"),
        2 -> Gen.chooseNum(1, 50).map(i => s"t$i"))).map(_.take(400)),
      Gen.chooseNum(2, 12)) { (items: List[String], k: Int) =>
      import graft.operators.Sketches
      val df = items.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "item")
      val got = df
        .agg(Sketches.approxHeavyHitters(col("item"), k).as("hh"))
        .select(explode(col("hh")).as("h")).select("h.item", "h.est")
        .as[(String, Long)].collect().toMap
      val n = items.size.toLong
      val bound = n / (k + 1)
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val mustHave = exact.filter(_._2 > bound).keySet
      mustHave.subsetOf(got.keySet) &&
        got.size <= k &&
        got.forall { case (item, est) =>
          val ex = exact.getOrElse(item, 0L)
          est <= ex && ex <= est + bound
        }
    }

  // ---- SQL WHERE ⇄ filter algebra round trip ----
  // The engine renders its Filter algebra to SQL (Filters.toSql, the
  // R8 surface) and parses SQL WHERE clauses back into the algebra
  // (DeltaSql.parseWhere, the E53 surface). The two must be exact
  // inverses up to predicate equivalence: for random DNF trees and
  // random data, the round-tripped predicate selects IDENTICAL rows.
  private val rtSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))

  private val genCmpOp = Gen.oneOf("=", "!=", "<", "<=", ">", ">=")
  private val genLongFilter = for {
    op <- genCmpOp; v <- Gen.chooseNum(-5L, 5L)
  } yield Filter("a", op, v)
  private val genStrFilter = for {
    op <- Gen.oneOf("=", "!="); v <- Gen.oneOf("x", "y", "z'q") // quote in value
  } yield Filter("s", op, v)
  private val genInFilter = for {
    op <- Gen.oneOf("in", "not in")
    vs <- Gen.nonEmptyListOf(Gen.chooseNum(-5L, 5L)).map(_.take(4))
  } yield Filter("a", op, vs)
  private val genFilter = Gen.oneOf(genLongFilter, genStrFilter, genInFilter)
  private val genDnf: Gen[Filters.Normalized] =
    Gen.nonEmptyListOf(Gen.nonEmptyListOf(genFilter).map(_.take(3)))
      .map(_.take(3))

  /** Hudi copy-on-write vs an in-memory Map: any sequence of
    * upsert/delete batches must leave the snapshot equal to the
    * model, and the incremental read over the whole history equal to
    * the final state of keys whose last operation was an upsert.
    */
  private sealed trait HudiOp
  private case class Up(rows: Map[Long, String]) extends HudiOp
  private case class Del(keys: Set[Long]) extends HudiOp
  private val genHudiOp: Gen[HudiOp] = Gen.frequency(
    3 -> Gen.mapOf(Gen.zip(Gen.chooseNum(0L, 12L), word)).map(m => Up(m.take(5))),
    1 -> Gen.listOf(Gen.chooseNum(0L, 12L)).map(ks => Del(ks.take(4).toSet)))

  /** WebDataset tar shards: arbitrary binary payloads — including
    * 0/511/512/513-byte block-boundary sizes — round-trip exactly,
    * with None payloads skipped.
    */
  property("WebDataset tar shards round-trip arbitrary payloads") =
    forAll(Gen.listOf(Gen.zip(
      Gen.oneOf(0, 1, 7, 511, 512, 513, 1024),
      Gen.chooseNum(Long.MinValue, Long.MaxValue),
      Gen.oneOf(true, false))).map(_.take(6))) {
      (rows: List[(Int, Long, Boolean)]) =>
        import graft.sinks.WebDataset
        val data = rows.zipWithIndex.map { case ((size, seed, some), i) =>
          val payload =
            if (!some) None
            else {
              val b = new Array[Byte](size)
              val r = new java.util.Random(seed)
              r.nextBytes(b)
              Some(b)
            }
          (i.toLong, payload)
        }
        val dir = java.nio.file.Files.createTempDirectory("wds-prop").toString
        WebDataset.writeShards(data.toDF("id", "payload"), dir, "id",
          Seq("bin" -> "payload"), numShards = 2)
        val back = WebDataset.readShards(spark, dir)
          .select(col("key"), col("payload"))
          .as[(String, Array[Byte])].collect()
          .map { case (k, p) => k.toLong -> p.toSeq }.toMap
        val want = data.collect { case (id, Some(p)) => id -> p.toSeq }.toMap
        back == want
    }

  property("Hudi upsert/delete sequences replay an in-memory model") =
    forAll(Gen.listOf(genHudiOp).map(_.take(5))) { (ops: List[HudiOp]) =>
      import graft.tables.{HudiTable, HudiWrite, ReadArgs}
      val dir = java.nio.file.Files.createTempDirectory("hudi-prop").toString + "/t"
      var model = Map.empty[Long, String]
      var first: Option[String] = None
      ops.foreach {
        case Up(rows) if rows.nonEmpty =>
          val df = rows.toSeq.toDF("id", "v")
          val i =
            if (first.isEmpty) HudiWrite.bulkInsert(spark, df, dir, "id")
            else HudiWrite.upsert(spark, df, dir)
          if (first.isEmpty) first = Some(i)
          model ++= rows
        case Del(keys) if keys.nonEmpty && first.nonEmpty =>
          HudiWrite.delete(spark, keys.toSeq.toDF("id"), dir)
          model --= keys
        case _ => ()
      }
      first.isEmpty || {
        val t = new HudiTable("t", dir)
        val snap = t(spark, ReadArgs.empty)
          .as[(Long, String)].collect().toMap
        snap == model
      }
    }

  property("Hudi MOR op sequences (upsert/delete/compact/cluster) replay an in-memory model") = {
    sealed trait MorOp
    case class MUp(rows: Map[Long, String]) extends MorOp
    case class MDel(keys: Set[Long]) extends MorOp
    case object MCompact extends MorOp
    case object MCluster extends MorOp
    val genRows = Gen.mapOf(Gen.zip(Gen.chooseNum(0L, 12L), Gen.alphaLowerStr.map(_.take(4))))
    val genOp: Gen[MorOp] = Gen.frequency(
      5 -> genRows.map(MUp),
      3 -> Gen.containerOf[Set, Long](Gen.chooseNum(0L, 12L)).map(MDel),
      1 -> Gen.const(MCompact),
      1 -> Gen.const(MCluster))
    forAll(Gen.listOf(genOp).map(_.take(6))) { (ops: List[MorOp]) =>
      import graft.tables.{HudiTable, HudiWrite, ReadArgs}
      val dir = java.nio.file.Files.createTempDirectory("hudi-mor-prop").toString + "/t"
      var model = Map.empty[Long, String]
      var created = false
      ops.foreach {
        case MUp(rows) if rows.nonEmpty =>
          val df = rows.toSeq.toDF("id", "v")
          if (!created) {
            HudiWrite.bulkInsert(spark, df, dir, "id", tableType = "MERGE_ON_READ")
            created = true
          } else HudiWrite.upsert(spark, df, dir)
          model ++= rows
        case MDel(keys) if keys.nonEmpty && created =>
          HudiWrite.delete(spark, keys.toSeq.toDF("id"), dir)
          model --= keys
        case MCompact if created =>
          HudiWrite.compact(spark, dir)
        case MCluster if created && model.nonEmpty =>
          HudiWrite.cluster(spark, dir, Seq("id"))
        case _ => ()
      }
      !created || {
        val t = new HudiTable("t", dir)
        val snap = t(spark, ReadArgs.empty).as[(Long, String)].collect().toMap
        snap == model
      }
    }
  }

  property("Iceberg op sequences (append/upsert/eq-delete/compact/expire/WAP) replay a model") = {
    sealed trait IceOp
    case class IApp(rows: Map[Long, String]) extends IceOp
    case class IUp(rows: Map[Long, String]) extends IceOp
    case class IDel(keys: Set[Long]) extends IceOp
    case object ICompact extends IceOp
    case object IExpire extends IceOp
    case class IWap(rows: Map[Long, String]) extends IceOp
    val genRows = Gen.mapOf(Gen.zip(Gen.chooseNum(0L, 12L), Gen.alphaLowerStr.map(_.take(4))))
    val genOp: Gen[IceOp] = Gen.frequency(
      3 -> genRows.map(IApp),
      4 -> genRows.map(IUp),
      3 -> Gen.containerOf[Set, Long](Gen.chooseNum(0L, 12L)).map(IDel),
      1 -> Gen.const(ICompact),
      1 -> Gen.const(IExpire),
      2 -> genRows.map(IWap))
    forAll(Gen.listOf(genOp).map(_.take(6))) { (ops: List[IceOp]) =>
      import graft.tables.{IcebergMaintenance, IcebergTable, IcebergWrite, ReadArgs}
      val dir = java.nio.file.Files.createTempDirectory("ice-prop").toString + "/t"
      // appends are multiset adds; upserts replace by key — model the
      // multiset as key → value list (reads compare as a sorted bag)
      var model = Map.empty[Long, List[String]]
      var created = false
      ops.foreach {
        case IApp(rows) if rows.nonEmpty =>
          IcebergWrite.append(spark, rows.toSeq.toDF("id", "v"), dir)
          created = true
          rows.foreach { case (k, v) => model += k -> (model.getOrElse(k, Nil) :+ v) }
        case IUp(rows) if rows.nonEmpty =>
          if (!created) {
            IcebergWrite.append(spark, rows.toSeq.toDF("id", "v"), dir)
            created = true
          } else IcebergWrite.upsertEquality(spark, rows.toSeq.toDF("id", "v"), dir, Seq("id"))
          rows.foreach { case (k, v) => model += k -> List(v) }
        case IDel(keys) if keys.nonEmpty && created =>
          IcebergWrite.deleteEquality(spark, dir, keys.toSeq.toDF("id"))
          model --= keys
        case ICompact if created =>
          IcebergMaintenance.rewriteDataFiles(spark, dir)
        case IExpire if created =>
          IcebergMaintenance.expireSnapshots(spark, dir, keepLast = 1)
        case IWap(rows) if rows.nonEmpty && created =>
          // stage on a branch, audit-read it, publish, drop the ref
          IcebergWrite.appendToBranch(spark, rows.toSeq.toDF("id", "v"), dir, "wap")
          IcebergWrite.fastForward(spark, dir, "wap")
          IcebergWrite.dropRef(spark, dir, "wap")
          rows.foreach { case (k, v) => model += k -> (model.getOrElse(k, Nil) :+ v) }
        case _ => ()
      }
      !created || {
        val snap = new IcebergTable("t", dir)(spark, ReadArgs.empty)
          .as[(Long, String)].collect().toSeq
        val got = snap.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
        got == model.view.mapValues(_.sorted).toMap.filter(_._2.nonEmpty)
      }
    }
  }

  property("WHERE-clause parse inverts Filters.toSql row-for-row") =
    forAll(genDnf, Gen.listOf(Gen.zip(Gen.chooseNum(-6L, 6L), Gen.oneOf("x", "y", "z'q", "w")))) {
      (filters: Filters.Normalized, rows: List[(Long, String)]) =>
        import graft.tables.DeltaSql
        val sql = Filters.toSql(rtSchema, filters)
        val parsed = DeltaSql.parseWhere(spark, sql)
        val df = rows.toDF("a", "s")
        def sel(f: Filters.Normalized): Set[(Long, String)] =
          df.filter(Filters.toColumn(f).getOrElse(lit(true)))
            .as[(Long, String)].collect().toSet
        sel(parsed) == sel(filters)
    }

  property("triad writers round-trip one dataset identically (Delta/Iceberg/Hudi)") = {
    // the same random typed, partitioned dataset written natively to
    // all three formats must read back identically through each
    // native reader — any writer/reader asymmetry (null handling,
    // partition-value encoding, date rendering) surfaces as a diff
    val genRow = for {
      s <- Gen.option(Gen.alphaNumStr.map(_.take(8)))
      n <- Gen.option(Gen.chooseNum(-1000, 1000))
      d <- Gen.option(Gen.chooseNum(-1e6, 1e6))
      days <- Gen.option(Gen.chooseNum(-3000, 30000))
      p <- Gen.chooseNum(0, 2)
    } yield (s, n, d, days.map(x => java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(x.toLong))), p)
    forAll(Gen.nonEmptyListOf(genRow).map(_.take(20))) { rows =>
      import graft.tables._
      val data: Seq[(Long, Option[String], Option[Int], Option[Double], Option[java.sql.Date], Int)] =
        rows.zipWithIndex.map { case ((s, n, d, dt, p), i) =>
          (i.toLong, s, n, d, dt, p)
        }
      val df = data.toDF("id", "s", "n", "d", "dt", "p")
      val base = java.nio.file.Files.createTempDirectory("triad-prop").toString
      DeltaWrite.append(spark, df, s"$base/delta", partitionBy = Seq("p"))
      IcebergWrite.append(spark, df, s"$base/iceberg", Seq("p"))
      HudiWrite.bulkInsert(spark, df, s"$base/hudi", "id", Seq("p"))
      val cols = Seq("id", "s", "n", "d", "dt", "p")
      def readBack(t: org.apache.spark.sql.DataFrame) =
        t.select(cols.map(col): _*)
          .as[(Long, Option[String], Option[Int], Option[Double], Option[java.sql.Date], Int)]
          .collect().toSet
      val fromDelta = readBack(new DeltaTable("t", s"$base/delta")(spark, ReadArgs.empty))
      val fromIce = readBack(new IcebergTable("t", s"$base/iceberg")(spark, ReadArgs.empty))
      val fromHudi = readBack(new HudiTable("t", s"$base/hudi")(spark, ReadArgs.empty))
      val expected = data.toSet
      fromDelta == expected && fromIce == expected && fromHudi == expected
    }
  }

  private val lineText: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> word, 1 -> Gen.const("\n"))).map(_.mkString(" "))

  property("repetition metrics stay in [0,1] and line dedup is idempotent") =
    forAll(Gen.listOf(lineText).map(_.take(8))) { (texts: List[String]) =>
      import graft.functions.{Repetition, Text}
      texts.isEmpty || {
        val df = texts.toDF("text")
          .withColumn("toks", Text.wsTokens(col("text")))
        val rows = df.select(
          Repetition.dupLineFrac(col("text")).as("a"),
          Repetition.dupLineCharFrac(col("text")).as("b"),
          Repetition.topNgramCharFrac(col("toks"), 2).as("c"),
          Repetition.dropRepeatedLines(col("text")).as("d"))
          .collect()
        // line fractions are true ratios in [0,1]; the n-gram char
        // fractions count overlapping occurrences by declaration
        // ("a a a" -> top 2-gram covers 6/5 chars) so they are only
        // bounded below
        rows.forall { r =>
          Seq(0, 1).forall { i =>
            val v = r.getDouble(i); v >= 0.0 && v <= 1.0001
          } && r.getDouble(2) >= 0.0
        } && {
          // dedup is idempotent and leaves zero duplicate lines
          val once = rows.map(_.getString(3)).toSeq
          val again = once.toDF("text").select(
            Repetition.dropRepeatedLines(col("text")).as("d"),
            Repetition.dupLineFrac(col("text")).as("f")).collect()
          once.zip(again).forall { case (o, r2) =>
            r2.getString(0) == o && r2.getDouble(1) == 0.0
          }
        }
      }
    }

  property("recallAtK of a table against itself is 1.0 for every query") =
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1L, 5L), Gen.chooseNum(1L, 50L))).map(_.distinct.take(30))) {
      (pairs: List[(Long, Long)]) =>
        import graft.operators.Similarity
        // build a well-formed neighbor table: per query, ranked 1..n
        val ranked = pairs.groupBy(_._1).toSeq.flatMap { case (q, ns) =>
          ns.map(_._2).distinct.zipWithIndex.map { case (n, i) =>
            (q, n, (i + 1).toLong)
          }
        }
        val df = ranked.toDF("query_id", "neighbor_id", "rank")
        Similarity.recallAtK(df, df, k = 3).collect()
          .forall(r => r.getDouble(3) == 1.0 && r.getLong(1) == r.getLong(2))
    }

  property("excising with an unrelated probe corpus changes nothing") =
    forAll(Gen.nonEmptyListOf(Gen.listOfN(6, word).map(_.mkString(" "))).map(_.take(6))) {
      (texts: List[String]) =>
        import graft.operators.SpanDedup
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        // probe vocabulary is digits-only: disjoint from alpha words
        val probes = Seq((0L, "11 22 33 44 55 66 77 88")).toDF("doc_id", "text")
        val out = SpanDedup.exciseProbeSpans(docs, "doc_id", "text",
          probes, "text", spanWords = 3)
          .as[(Long, String)].collect().toMap
        texts.zipWithIndex.forall { case (t, i) => out(i.toLong) == t }
    }

  property("Hudi log-file Avro codec round-trips arbitrary typed rows") = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("n", IntegerType),
      StructField("d", DoubleType),
      StructField("b", BooleanType),
      StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("dec", DecimalType(10, 2)),
      StructField("xs", ArrayType(IntegerType)),
      StructField("kv", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(
        StructField("a", IntegerType), StructField("bb", StringType))))))
    val genRow: Gen[Row] = for {
      id <- Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
      str <- Gen.option(Gen.asciiPrintableStr)
      n <- Gen.option(Gen.chooseNum(Int.MinValue, Int.MaxValue))
      d <- Gen.option(Gen.chooseNum(-1e12, 1e12))
      b <- Gen.option(Gen.oneOf(true, false))
      days <- Gen.option(Gen.chooseNum(-30000, 60000))
      us <- Gen.option(Gen.chooseNum(-2000000000000L, 4000000000000000L))
      unscaled <- Gen.option(Gen.chooseNum(-99999999L, 99999999L))
      xs <- Gen.option(Gen.listOf(Gen.chooseNum(-100, 100)))
      kv <- Gen.option(Gen.mapOf(Gen.zip(
        Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString), Gen.long)))
      sa <- Gen.option(Gen.chooseNum(-5, 5))
    } yield Row(
      id,
      str.orNull,
      n.map(Int.box).orNull,
      d.map(Double.box).orNull,
      b.map(Boolean.box).orNull,
      days.map(x => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.toLong))).orNull,
      us.map { x =>
        val t = new java.sql.Timestamp(Math.floorDiv(x, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(x, 1000000L) * 1000L).toInt)
        t
      }.orNull,
      unscaled.map(u => new java.math.BigDecimal(
        java.math.BigInteger.valueOf(u), 2)).orNull,
      xs.map(_.toSeq).orNull,
      kv.orNull,
      sa.map(a => Row(a, s"v$a")).orNull)

    forAll(Gen.listOf(genRow)) { (rows: List[Row]) =>
      import graft.tables.HudiLog
      val avro = HudiLog.avroSchema(schema)
      val bytes = HudiLog.avroContent(rows.iterator, schema, avro)
      val back = HudiLog.avroRows(bytes, avro.toString, schema)
      back.size == rows.size && back.zip(rows).forall { case (g, w) => g == w }
    }
  }

  property("Iceberg bound codec orders like the source values") = {
    import graft.tables.IcebergStats
    import org.apache.spark.sql.types._
    // encode→decode→compare must agree with direct comparison for
    // every pruned type — the soundness kernel of manifest skipping
    val longs = forAll(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2),
      Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)) { (a: Long, b: Long) =>
      val da = IcebergStats.encodeSingle(LongType, a)
        .flatMap(IcebergStats.decodeSingle(LongType, _)).get.asInstanceOf[BigDecimal]
      da.compare(BigDecimal(b)).sign == java.lang.Long.compare(a, b).sign
    }
    val micros = forAll(Gen.chooseNum(-4000000000000L, 4000000000000L),
      Gen.chooseNum(-4000000000000L, 4000000000000L)) { (ams: Long, bms: Long) =>
      val a = new java.sql.Timestamp(ams)
      val bound = IcebergStats.encodeSingle(TimestampType, a).get
      val m = IcebergStats.decodeSingle(TimestampType, bound)
        .get.asInstanceOf[IcebergStats.Micros]
      // the floorDiv discipline holds even pre-1970, and the ISO
      // rendering round-trips the instant exactly
      val roundTrip = m.us == ams * 1000L &&
        java.time.Instant.parse(m.toString).toEpochMilli == ams
      // Eq may-match of a single-value file against the LITERAL path
      // (ISO string, as the Filter algebra carries it) is true iff
      // the instants are equal
      val viaLiteral = IcebergStats.statsMayMatch(
        Filter("c", "=", new java.sql.Timestamp(bms).toInstant.toString),
        TimestampType, 1, Map(1 -> bound), Map(1 -> bound),
        Map(1 -> 0L), Map(1 -> 1L), 1L)
      roundTrip && viaLiteral == (ams == bms)
    }
    longs && micros
  }

  property("string bound truncation brackets every string (code-point order)") = {
    import graft.tables.IcebergStats
    // strings with supplementary-plane chars and long tails
    val anyChar = Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('é', '中', '', '퟿'),
      1 -> Gen.const('\uD801')) // paired below into a valid surrogate
    val str = Gen.listOf(anyChar).map { cs =>
      // make lone high surrogates valid pairs so codePoints() is sane
      cs.mkString.replace("\uD801", new String(Character.toChars(0x10401)))
    }
    forAll(str) { s: String =>
      val lower = IcebergStats.truncateLower(s)
      val upperOk = IcebergStats.truncateUpper(s).forall(u =>
        IcebergStats.codePointCompare(u, s) >= 0)
      IcebergStats.codePointCompare(lower, s) <= 0 && upperOk &&
        lower.codePointCount(0, lower.length) <= IcebergStats.TruncateWidth
    }
  }

  property("Delta log actions round-trip through JSON lines and checkpoint rows") = {
    import graft.tables.{DeletionVectors, DeltaActions => A, DeltaLog}
    // text that needs percent-encoding in a path: space, '%', ':' and
    // non-ASCII (valid UTF-16 only, so UTF-8 round-trips)
    val text = Gen.frequency(
      4 -> Gen.asciiPrintableStr.map(_.take(12)),
      1 -> Gen.oneOf("a b", "100%", "x%3Ay", "ünï", "中文", "k:v", "\u2603", ""))
    val segment = Gen.frequency(3 -> Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(8)),
      1 -> text.suchThat(_.nonEmpty))
    val path = Gen.nonEmptyListOf(segment).map(_.take(4).mkString("/"))
    val long = Gen.chooseNum(0L, Long.MaxValue)
    val values = Gen.mapOf(Gen.zip(Gen.oneOf("p", "q", "d t", "ü"), Gen.option(text)))
    val strings = Gen.mapOf(Gen.zip(Gen.alphaStr.map(_.take(6)), text))
    val dv = for {
      st <- Gen.oneOf("u", "i", "p"); pod <- text; off <- Gen.option(long)
      size <- Gen.chooseNum(0, Int.MaxValue); card <- long
    } yield DeletionVectors.DvDescriptor(st, pod, off, size, card)
    val file = for {
      p <- path; pv <- values; size <- long; stats <- Gen.option(text)
      d <- Gen.option(dv); tags <- strings; base <- Gen.option(long); rcv <- Gen.option(long)
    } yield DeltaLog.AddFile(p, pv, size, stats, d, tags, base, rcv)
    val features = Gen.option(Gen.listOf(Gen.oneOf(
      "deletionVectors", "columnMapping", "v2Checkpoints", "appendOnly", "rowTracking")))
    // actions a checkpoint row holds in full (a tombstone row keeps
    // path, timestamp and DV; a txn row drops lastUpdated)
    val rowAction: Gen[A.Action] = Gen.oneOf(
      for (f <- file; t <- long; dc <- Gen.oneOf(true, false)) yield A.Add(f, t, dc),
      for (p <- path; t <- long; d <- Gen.option(dv)) yield
        A.Remove(p, Some(t), dataChange = false, dv = d),
      for {
        schema <- text; parts <- Gen.listOf(text); conf <- strings; id <- text
        created <- Gen.option(long)
      } yield DeltaLog.Metadata(schema, parts, conf, id, created),
      for (r <- Gen.chooseNum(1, 3); w <- Gen.chooseNum(1, 7); rf <- features; wf <- features)
        yield DeltaLog.Protocol(r, w, rf, wf),
      for (app <- text; v <- long) yield A.Txn(app, v),
      for (d <- text; c <- text; rm <- Gen.oneOf(true, false)) yield A.DomainMetadata(d, c, rm),
      long.map(A.CheckpointMetadata(_)),
      for (p <- text; n <- long; t <- long) yield A.Sidecar(p, n, t))
    val lineOnly: Gen[A.Action] = Gen.oneOf(
      for (p <- path; t <- Gen.option(long); dc <- Gen.oneOf(true, false); pv <- values;
           size <- long; d <- Gen.option(dv)) yield A.Remove(p, t, dc, pv, size, d),
      for (p <- path; pv <- values; size <- long) yield A.Cdc(DeltaLog.CdcFile(p, pv, size)),
      for (op <- text; t <- long; ict <- Gen.option(long); params <- strings)
        yield A.CommitInfo(op, t, ict, params),
      for (app <- text; v <- long; u <- Gen.option(long)) yield A.Txn(app, v, u))
    forAll(Gen.listOfN(6, rowAction), Gen.listOfN(4, lineOnly)) { (rowForm, other) =>
      val linesOk = (rowForm ++ other).forall(a => A.parseLine(A.json(a)) == Seq(a))
      val rows = spark.createDataset(rowForm.map(A.row)).toDF().collect().toSeq
      val fromRows = rows.map(r => r.schema.fieldNames.indices.collectFirst {
        case i if !r.isNullAt(i) => A.fromRow(r.schema.fieldNames(i), r.getStruct(i))
      }.flatten)
      linesOk && fromRows == rowForm.map(a => A.parseLine(A.json(a)).headOption)
    }
  }

  property("write-time file stats equal the read-back aggregates (Delta/Iceberg/Hudi)") = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.scalacheck.Prop.propBoolean
    // strings: short ASCII, past the 32/33-code-point caps in 2- and
    // 3-byte UTF-8, surrogate pairs, and the empty string
    val text = Gen.frequency(
      4 -> Gen.alphaNumStr.map(_.take(8)),
      2 -> Gen.chooseNum(30, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'é', '中', 'z')))
        .map(_.mkString),
      1 -> Gen.chooseNum(15, 40).map(n => new String(Character.toChars(0x1F600)) * n),
      1 -> Gen.const(""))
    def orNull[A](g: Gen[A]): Gen[Any] = Gen.frequency(4 -> g, 1 -> Gen.const(null))
    val dbl = Gen.frequency(6 -> Gen.chooseNum(-1e6, 1e6),
      2 -> Gen.oneOf(Double.NaN, -0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity))
    val flt = Gen.frequency(6 -> Gen.chooseNum(-1e3f, 1e3f), 2 -> Gen.oneOf(Float.NaN, -0.0f, 0.0f))
    // partition values that Hive-style directory names escape or keep
    // (ASCII: a JVM without a UTF-8 file-name encoding cannot create
    // non-ASCII directory names)
    val part = Gen.oneOf("a b", "x%y", "k=v", "plain", "")
    val schema = StructType(Seq(
      StructField("_hoodie_record_key", StringType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("b", ByteType), StructField("sh", ShortType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("dec", DecimalType(12, 3)), StructField("bool", BooleanType),
      StructField("none", IntegerType), StructField("p", StringType), StructField("q", IntegerType)))
    val row = for {
      key <- orNull(text); s <- orNull(text); d <- orNull(dbl); f <- orNull(flt)
      i <- orNull(Gen.chooseNum(Int.MinValue, Int.MaxValue))
      l <- orNull(Gen.chooseNum(Long.MinValue, Long.MaxValue))
      b <- orNull(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      sh <- orNull(Gen.chooseNum(Short.MinValue, Short.MaxValue))
      dt <- orNull(Gen.chooseNum(-30000L, 30000L).map(n =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n))))
      ts <- orNull(Gen.chooseNum(-2000000000000L, 2000000000000L).map(new java.sql.Timestamp(_)))
      dec <- orNull(Gen.chooseNum(-999999999L, 999999999L).map(java.math.BigDecimal.valueOf(_, 3)))
      bool <- orNull(Gen.oneOf(true, false))
      p <- orNull(part); q <- orNull(Gen.chooseNum(0, 2))
    } yield Row(key, s, d, f, i, l, b, sh, dt, ts, dec, bool, null, p, q)
    val partitionings = Gen.oneOf(Seq.empty[String], Seq("p"), Seq("p", "q"))
    // more tasks than rows leaves tasks with zero rows
    forAll(Gen.listOf(row), partitionings, Gen.chooseNum(1, 6)) {
      (rows: List[Row], parts: Seq[String], tasks: Int) =>
        val dir = java.nio.file.Files.createTempDirectory("staged-stats")
        // the shuffle hands rows to the writer in reused buffers
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
          .repartition(tasks)
        try {
          val bad = graft.tables.StagedStatsOracle.mismatches(
            spark, df, new Path(dir.toString, "staging"), parts)
          bad.isEmpty :| bad.mkString("\n")
        } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}

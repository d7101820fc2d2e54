package graftbench

import graft.catalog.{Catalog, MapDatabase}
import graft.operators.{ConnectedComponents, NearDup, Similarity}
import graft.tables.{ParquetTable, ReadArgs}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Near-dup passes over seeded ~60% slices of a document corpus and an
  * embedding set. Slices come from a pool of [[DedupPipeline.Slices]],
  * larger than NearDup's 8-frame cache registry, so most ops miss it.
  */
final class DedupPipeline(seed: Long, docs: Int = DedupPipeline.Docs,
                          vecs: Int = DedupPipeline.Vecs) extends Workload {
  import DedupPipeline._
  val name = "dedup_pipeline"
  /** soft_dedup runs minhashPairs -> dupClusters -> softDedup, minhash_cc
    * minhashPairs -> ConnectedComponents.labels.
    */
  val kinds: Seq[String] = Seq("soft_dedup", "minhash_cc", "containment", "srp")

  /** A pass in a fixed order. An op right after a minhash pipeline runs
    * slower (a containment pass takes ~3 s there and ~1.6 s elsewhere,
    * also when NearDup's frame registry is emptied in between), so a
    * shuffled order would make each op's cost depend on its place in the
    * pass. Here both containment passes follow a pipeline, so every run
    * pays that cost the same way, and with two srp passes (~1 s) below
    * them and the two pipelines (5-7 s) above, the median op of a pass is
    * the mean of the two containment passes, not a point on a gap between
    * two kinds, where it would jump with every op's noise. The seed draws
    * each op's slice.
    */
  override def deck: Seq[String] =
    Seq("soft_dedup", "containment", "minhash_cc", "containment", "srp", "srp")
  override def shuffleDeck: Boolean = false

  private var spark: SparkSession = _
  private var corpus: Gen.Corpus = _
  private var vectors: Gen.Vectors = _
  private var catalog: Catalog = _

  def generate(s: SparkSession, dir: String): Unit = {
    load(dir)
    Gen.writeDocuments(s, corpus, s"$dir/documents.parquet")
    Gen.writeEmbeddings(s, vectors, s"$dir/embeddings.parquet")
  }

  /** The corpus and vectors are rebuilt in memory (driver-side, cheap) for the checks. */
  def load(dir: String): Unit = {
    corpus = Gen.corpus(Gen.DataSeed, docs, Slices)
    vectors = Gen.vectors(Gen.DataSeed, vecs, Dim, Slices)
    catalog = new Catalog(Map("pipeline" -> new MapDatabase(Seq("documents", "embeddings").map(n =>
      n -> new ParquetTable(n, s"$dir/$n.parquet", partitioning = Seq.empty)).toMap)))
  }

  def setup(s: SparkSession, dir: String): Unit = {
    spark = s
    // the cheapest kind (a minhash pipeline costs ~30 jobs and several
    // seconds at any input size, too much to repeat per set-up), then drop
    // its caches
    Steps("first_srp") { pass("srp", new Rng(seed ^ 0x5EEDL)).run() }
    NearDup.releaseCaches()
  }

  /** The minhash pipeline and containment, on slices of the size the
    * timed ops read. `minhash_cc` shares minhashPairs with `soft_dedup`
    * and leaves only ConnectedComponents cold, which the timed section
    * pays for less than a warm-up would.
    */
  override def warmUp(): Unit = {
    val rng = new Rng(seed ^ 0xA11L)
    Seq("soft_dedup", "containment")
      .foreach(k => Steps(s"warmup_$k") { pass(k, rng).run() })
    NearDup.releaseCaches()
  }

  def op(kind: String, rng: Rng, variant: Int = 0): Op = pass(kind, rng)

  /** Both ops of a traced pair start with NearDup's frame registry empty. */
  override def beforeOp(o: Op): Unit = NearDup.releaseCaches()

  override def extras(ops: Seq[OpRecord], wallS: Double): Map[String, Double] =
    Map("docs_per_s" -> ops.map(_.units).sum / wallS)

  private def slice(table: String, j: Int): DataFrame = {
    val tp = Trace.span("catalog.lookup") { catalog.db("pipeline").getTables(true)(table) }
    val df = Trace.span("tables.scan_plan") { tp.apply(spark, ReadArgs.empty) }
    df.where(shiftright(col("slice_mask"), j).bitwiseAND(1) === 1)
  }

  private def members(masks: IndexedSeq[Long], j: Int): Set[Long] =
    masks.indices.filter(i => (masks(i) >> j & 1L) == 1L).map(_.toLong).toSet

  /** Storage still held once an op's own frames are dropped. */
  private def recordLeftovers(): Unit = if (Trace.enabled) {
    val sc = spark.sparkContext
    Trace.count("operators.persisted_rdds_left", sc.getPersistentRDDs.size.toDouble)
    Trace.count("operators.storage_mb_left",
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  private def pairsOf(rows: Seq[Row]): Seq[(Long, Long, Double)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  private def pass(k: String, rng: Rng): Op = {
    val j = rng.int(Slices)
    val docSlice = members(corpus.masks, j)
    val n = if (k == "srp") members(vectors.masks, j).size else docSlice.size
    new Op {
      val kind = k
      override val units: Long = n.toLong
      def run(): () => Option[String] = {
        val check: () => Option[String] = k match {
          case "containment" =>
            val got = Trace.span("operators.containment_pairs") {
              NearDup.containmentPairs(slice("documents", j), "doc_id", "text",
                threshold = ContainmentThreshold).collect().toSeq
            }
            Trace.count("operators.pairs_out", got.size.toDouble)
            () => Checks.containment(corpus.texts, pairsOf(got), ContainmentThreshold)
          case "srp" =>
            val got = Trace.span("operators.srp_pairs") {
              Similarity.srpPairs(slice("embeddings", j), "vec_id", "embedding", Dim,
                threshold = CosineThreshold).collect().toSeq
            }
            Trace.count("operators.pairs_out", got.size.toDouble)
            () => Checks.cosine(vectors.vecs, pairsOf(got), CosineThreshold)
          case _ =>
            val docsDf = slice("documents", j)
            val (pairs, pairRows) = Trace.span("operators.minhash_pairs") {
              val p = NearDup.minhashPairs(docsDf, "doc_id", "text", threshold = JaccardThreshold)
                .persist(StorageLevel.MEMORY_AND_DISK)
              (p, p.collect().toSeq)
            }
            val hashed = pairRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
            def labelled(cs: DataFrame) = (cs, cs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
            val (clustersDf, labels) =
              if (k == "minhash_cc") Trace.span("operators.cc_labels") {
                labelled(ConnectedComponents.labels(pairs, "a_id", "b_id"))
              } else Trace.span("operators.dup_clusters") {
                labelled(NearDup.dupClusters(pairs, "a_id", "b_id"))
              }
            val kept = if (k == "soft_dedup") Trace.span("operators.soft_dedup") {
              Some(NearDup.softDedup(docsDf, "doc_id", clustersDf).select("doc_id")
                .collect().map(_.getLong(0)).toSet)
            } else None
            pairs.unpersist(blocking = true)
            Trace.count("operators.pairs_out", hashed.size.toDouble)
            Trace.count("operators.clusters_out", labels.values.toSet.size.toDouble)
            () => {
              val es = hashed.collect { case (a, b, _, true) => s"star edge ($a, $b) in a corpus without hot buckets" } ++
                Checks.jaccard(corpus.texts, hashed.map(p => (p._1, p._2, p._3)), JaccardThreshold).toSeq ++
                Checks.clusters(hashed.map(p => (p._1, p._2)), labels).toSeq ++
                kept.flatMap(Checks.softDedup(docSlice, labels, _)).toSeq
              es.headOption
            }
        }
        recordLeftovers()
        check
      }
    }
  }
}

object DedupPipeline {
  /** Corpus and embedding pool sizes; each op reads one ~60% slice. */
  val Docs = 1500
  val Vecs = 1000
  val Dim = 64
  /** Slice pool, above NearDup's 8-frame cache registry. */
  val Slices = 12
  val JaccardThreshold = 0.5
  val ContainmentThreshold = 0.8
  val CosineThreshold = 0.9
}

/** Driver-side recomputation of near-dup outputs, without Spark or graft. */
object Checks {
  def shingles(text: String, k: Int = 5): Set[String] =
    if (text.length < k) Set(text) else (0 to text.length - k).map(i => text.substring(i, i + k)).toSet

  private def round4(x: Double) = math.round(x * 1e4) / 1e4

  /** Each pair's reported Jaccard equals the exact shingle Jaccard and passes the threshold. */
  def jaccard(texts: IndexedSeq[String], pairs: Seq[(Long, Long, Double)], threshold: Double): Option[String] =
    pairs.iterator.map { case (a, b, got) =>
      val (x, y) = (shingles(texts(a.toInt)), shingles(texts(b.toInt)))
      val inter = (x intersect y).size.toDouble
      val want = round4(inter / (x.size + y.size - inter))
      if (math.abs(want - got) > 1.5e-4 || got < threshold)
        Some(s"pair ($a, $b) jaccard $got, exact $want, threshold $threshold") else None
    }.collectFirst { case Some(e) => e }

  def containment(texts: IndexedSeq[String], pairs: Seq[(Long, Long, Double)], threshold: Double): Option[String] =
    pairs.iterator.map { case (a, b, got) =>
      val (x, y) = (shingles(texts(a.toInt)), shingles(texts(b.toInt)))
      val want = round4((x intersect y).size.toDouble / math.min(x.size, y.size))
      if (math.abs(want - got) > 1.5e-4 || got < threshold)
        Some(s"pair ($a, $b) containment $got, exact $want") else None
    }.collectFirst { case Some(e) => e }

  def cosine(vecs: IndexedSeq[Array[Float]], pairs: Seq[(Long, Long, Double)], threshold: Double): Option[String] =
    pairs.iterator.map { case (a, b, got) =>
      val (x, y) = (vecs(a.toInt), vecs(b.toInt))
      val dot = x.indices.map(i => x(i).toDouble * y(i)).sum
      val want = dot / math.sqrt(x.map(v => v.toDouble * v).sum * y.map(v => v.toDouble * v).sum)
      if (math.abs(want - got) > 1.5e-4 || got < threshold)
        Some(s"pair ($a, $b) cosine $got, exact $want") else None
    }.collectFirst { case Some(e) => e }

  /** Component label of every endpoint: the minimum id of its component. */
  def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  def clusters(pairs: Seq[(Long, Long)], labels: Map[Long, Long]): Option[String] = {
    val want = unionFind(pairs)
    if (want == labels) None
    else {
      val bad = (want.keySet ++ labels.keySet).find(k => want.get(k) != labels.get(k)).get
      Some(s"node $bad labelled ${labels.get(bad)}, union-find gives ${want.get(bad)}")
    }
  }

  /** md5(salt|id) as NearDup's portable hash reduces it: 48 bits, mod 2^31-1. */
  def md5Mod(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val hex = d.map(b => f"${b & 0xff}%02x").mkString.take(12)
    java.lang.Long.parseLong(hex, 16) % 2147483647L
  }

  /** Survivors: every unclustered doc, and a clustered doc when its hash
    * passes 1/|cluster|.
    */
  def softDedup(slice: Set[Long], labels: Map[Long, Long], kept: Set[Long],
                salt: String = "soft"): Option[String] = {
    val size = labels.values.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    val want = slice.filter(id => labels.get(id).forall(c =>
      md5Mod(s"$salt|$id") * size(c) < 2147483647L))
    if (want == kept) None
    else Some(s"softDedup kept ${kept.size} docs, expected ${want.size} " +
      s"(first difference ${((want diff kept) ++ (kept diff want)).min})")
  }
}

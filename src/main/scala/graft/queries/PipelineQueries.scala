package graft.queries

import graft.functions.Text
import graft.functions.TimeFns.tsUs
import graft.multimodal.Multimodal
import graft.operators.{ConnectedComponents, Dedup, NearDup, Sessionize, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Num.{d4, dsum}

/** LLM-pipeline query inventory (SURVEY.md §2 P1–P13, E8–E9, E12–E13). */
object PipelineQueries {

  /** Shared with the oracle generator so boundary doubles are identical. */
  val SplitWeights: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  val MixRates: Map[String, Double] =
    Map("src1" -> 1.0, "src2" -> 0.25, "src3" -> 0.1)

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  /** The documents corpus widened to session parallelism when its scan
    * is narrow (single-row-group files): the md5 shingle pass otherwise
    * runs entirely inside a one-core scan stage. No-op on a
    * cluster-shaped corpus layout (operators.Widen); keyed by doc_id so
    * the spread is uniform. Used only where the per-row work outweighs
    * the extra exchange (q_minhash measured 0.29→0.17 s; the lighter
    * token/quality scans measured WORSE with it and stay unwidened).
    */
  private def widedocs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Widen.byKeys(t(s, dir, "documents"), Seq(col("doc_id")))

  /** E8: gap-based sessionization of the event log (30-min gap).
    * Timestamps exported as epoch micros (engine-neutral).
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.rollup(t(s, dir, "events"), "user_id", "ts", "value", gapSeconds = 1800)
      .withColumn("start_us", tsUs(col("session_start")))
      .withColumn("end_us", tsUs(col("session_end")))
      .select("user_id", "session_seq", "start_us", "end_us", "n_events", "sum_value")
      .orderBy("user_id", "session_seq")

  /** E9: tumbling-hour event aggregation. */
  def qEventBuckets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("bucket_us", tsUs(date_trunc("hour", col("ts"))))
      .groupBy(col("bucket_us"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(d4(col("value"))).as("sum_value"))
      .orderBy("bucket_us", "event_type")

  /** P1: exact content dedup — survivors per language. */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactByContent(t(s, dir, "documents"), "text", "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_unique_docs"))
      .orderBy("lang")

  /** P12 + P11: per-document fingerprint and token/char counts. */
  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        Text.fingerprint(col("text")).as("fp"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("len_chars"))
      .orderBy("doc_id")

  /** P11: corpus token accounting by source. */
  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("source"),
        size(Text.wsTokens(col("text"))).as("n_ws"),
        size(Text.wordTokens(col("text"))).as("n_words"),
        length(col("text")).as("n_ch"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("ws_tokens"),
        sum(col("n_words")).as("word_tokens"),
        sum(col("n_ch")).as("total_chars"))
      .orderBy("source")

  /** P10: quality signals aggregated per language. Ratios are rounded
    * per-doc then summed as decimals (order-independent).
    */
  def qTextStats(s: SparkSession, dir: String): DataFrame = {
    val d8 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(8, 4))
    // tokens + component ratios materialized once and shared (HOF
    // splits are interpreted per element — recomputation is the cost)
    t(s, dir, "documents")
      .withColumn("toks", Text.wsTokens(col("text")))
      .withColumn("punct", Text.punctRatio(col("text")))
      .withColumn("digit", Text.digitRatio(col("text")))
      .withColumn("stop", Text.stopwordRatioOf(col("toks")))
      .withColumn("mtl", Text.meanTokenLenOf(col("toks")))
      .withColumn("q",
        Text.qualityScoreOf(col("text"), col("punct"), col("digit"), col("stop")))
      .select(col("lang"), col("punct"), col("stop"), col("mtl"), col("q"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(d8(col("punct"))).cast(DoubleType) / count(lit(1)), 4).as("avg_punct"),
        round(sum(d8(col("stop"))).cast(DoubleType) / count(lit(1)), 4).as("avg_stopword"),
        round(sum(d8(col("mtl"))).cast(DoubleType) / count(lit(1)), 4).as("avg_token_len"),
        round(sum(d8(col("q"))).cast(DoubleType) / count(lit(1)), 4).as("avg_quality"))
      .orderBy("lang")
  }

  /** P9: heuristic language ID — confusion counts vs the labeled lang. */
  def qLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), Text.langId(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")

  /** P3: MinHash signatures (8 hashes over 5-char shingles). */
  def qMinhash(s: SparkSession, dir: String): DataFrame =
    NearDup.minhashSignatures(widedocs(s, dir), "text", k = 5, numHashes = 8)
      .select((col("doc_id") +: (0 until 8).map(j => col(NearDup.sigCol(j)))): _*)
      .orderBy("doc_id")

  /** P4+P5: LSH-banded near-duplicate pairs with exact Jaccard verify.
    * The star tag is projected away: no sf-corpus bucket exceeds the
    * guard, so these are all threshold-verified pairs (the oracle
    * replays exactly that).
    */
  def qMinhashPairs(s: SparkSession, dir: String): DataFrame =
    NearDup.minhashPairs(
      t(s, dir, "documents"), "doc_id", "text",
      k = 5, numHashes = 8, bands = 2, threshold = 0.5)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")

  /** Dedup clustering: connected components of the near-dup pair
    * graph; each doc labeled with its cluster's min doc id.
    */
  def qDupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = NearDup.minhashPairs(
      t(s, dir, "documents"), "doc_id", "text",
      k = 5, numHashes = 8, bands = 2, threshold = 0.5)
    NearDup.dupClusters(pairs, "a_id", "b_id").orderBy("id")
  }

  /** P18: the SAME near-dup pair graph labeled by calling
    * [[graft.operators.ConnectedComponents]] directly — identical
    * contract to [[qDupClusters]] (the oracle is the same recursive
    * CTE). A graph within the broadcast threshold is labelled by one
    * driver-side union-find; a bigger one by large-star/small-star
    * contraction in O(log n) rounds independent of graph diameter.
    */
  def qCcLabels(s: SparkSession, dir: String): DataFrame = {
    val pairs = NearDup.minhashPairs(
      t(s, dir, "documents"), "doc_id", "text",
      k = 5, numHashes = 8, bands = 2, threshold = 0.5)
    ConnectedComponents.labels(pairs, "a_id", "b_id").orderBy("id")
  }

  /** P75: leakage-safe split over the near-dup cluster map — per
    * split: doc counts, clustered-doc counts, and the STRADDLE count
    * (clusters spanning more than one split), which must be zero by
    * construction and is pinned by the oracle's identical replay.
    */
  def qLeakSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = t(s, dir, "documents")
    val pairs = NearDup.minhashPairs(docs, "doc_id", "text",
      k = 5, numHashes = 8, bands = 2, threshold = 0.5)
    val clusters = ConnectedComponents.labels(pairs, "a_id", "b_id")
    val withRep = Sampling.leakageSafeSplit(
      docs.select(col("doc_id")), "doc_id", clusters, SplitWeights,
      keepRepAs = Some("rep"))
    // straddle count: a 1-row scalar frame cross-joined onto the rollup
    val straddle = withRep.groupBy(col("rep"))
      .agg(countDistinct(col("split")).as("_k"))
      .agg(sum(when(col("_k") > 1, 1L).otherwise(0L)).as("n_straddle"))
    withRep.groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rep") =!= col("doc_id"), 1L).otherwise(0L)).as("n_clustered"))
      .crossJoin(straddle)
      .orderBy("split")
  }

  /** Shared with the oracle. */
  object ContainParams { val K = 5; val Threshold = 0.5; val MaxDf = 10 }

  /** P68: asymmetric containment near-dups over the rare-shingle
    * inverted index — the subset/quote duplication Jaccard misses.
    */
  def qContainmentDups(s: SparkSession, dir: String): DataFrame = {
    import ContainParams._
    NearDup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
      k = K, threshold = Threshold, maxDf = MaxDf)
      .orderBy("a_id", "b_id")
  }

  /** P6: SimHash values + hamming-near pairs within small buckets are
    * covered in tests; this exports the per-doc simhash (16-bit).
    */
  def qSimhash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), NearDup.simhash(col("text"), bits = 16).as("simhash"))
      .orderBy("doc_id")

  /** P7: brute-force cosine top-5 for query vectors (vec_id < 20). */
  def qKnnBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(
      corpus = emb, queries = emb.where(col("vec_id") < 20),
      idCol = "vec_id", vecCol = "embedding", k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** P8: IVF-bucketed ANN — deterministic centroids (vec_id % 100 == 0),
    * top-3 within bucket for query vectors vec_id < 20.
    */
  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", stride = 100)
    Similarity.ivfTopK(assigned, "vec_id", "embedding",
      queryIds = emb.where(col("vec_id") < 20).select("vec_id"), k = 3)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** P71: repeated-line REMOVAL (keep-first) — multi-line documents
    * synthesized from each user's event-type stream (the corpus docs
    * are single-line, q_redact precedent), deduped with
    * [[graft.functions.Repetition.dropRepeatedLines]]; per-user line
    * counts before/after + an md5 digest of the rebuilt text pin the
    * kept lines AND their order.
    */
  def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{PortableHash, Repetition}
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        tsUs(col("ts")).as("us"), col("event_id"), col("event_type")))).as("ev"))
      .select(
        col("user_id"),
        array_join(transform(col("ev"), e => e.getField("event_type")), "\n").as("txt"))
      .select(
        col("user_id"),
        size(split(col("txt"), "\n")).cast("long").as("n_lines"),
        Repetition.dropRepeatedLines(col("txt")).as("ded"))
      .select(
        col("user_id"),
        col("n_lines"),
        size(split(col("ded"), "\n")).cast("long").as("n_kept"),
        PortableHash.md5Long(col("ded")).as("digest"))
      .orderBy("user_id")
  }

  /** P72: corpus-wide boilerplate mining — the top-20 3-grams by
    * DOCUMENT FREQUENCY (distinct docs containing the gram), the list
    * a curation pipeline turns into a blocklist (P54) or a C4-style
    * span filter. Shuffle carries only distinct (doc, gram) pairs;
    * ranking ties break on the gram for a total order.
    */
  def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Repetition
    val top = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(Repetition.ngrams(Text.wsTokens(col("text")), 3)).as("gram"))
      .distinct() // per-doc gram set: document frequency, not term frequency
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"))
      // global top-k as orderBy+limit: Spark plans TakeOrderedAndProject
      // (per-partition heaps merged on the driver), never a
      // single-reducer window over every distinct gram
      .orderBy(col("n_docs").desc, col("gram"))
      .limit(20)
    // rank assigned on the 20 surviving rows only
    top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("n_docs").desc, col("gram"))).cast("long"))
      .orderBy("rank")
  }

  /** P70: recall@3 of the IVF search against the brute-force exact
    * top-k — [[qAnnIvf]] and [[qKnnBrute]] composed through
    * [[Similarity.recallAtK]]; only id-pairs shuffle.
    */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame =
    Similarity.recallAtK(qAnnIvf(s, dir), qKnnBrute(s, dir), k = 3)

  /** Repetition/diversity metrics: lexical diversity and modal-token
    * share per source (boilerplate and degenerate-repetition flags).
    */
  def qRepetition(s: SparkSession, dir: String): DataFrame = {
    val d8 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(8, 4))
    t(s, dir, "documents")
      .withColumn("toks", Text.wsTokens(col("text")))
      .select(
        col("source"),
        Text.uniqueTokenRatio(col("toks")).as("uniq"),
        Text.topTokenShare(col("toks")).as("top"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(d8(col("uniq"))).cast(DoubleType) / count(lit(1)), 4).as("avg_unique_ratio"),
        round(sum(d8(col("top"))).cast(DoubleType) / count(lit(1)), 4).as("avg_top_share"))
      .orderBy("source")
  }

  /** P69: Gopher repetition filters (Rae et al. 2021 A1.1) — dup-line
    * fraction + char fraction, top-2/3-gram char coverage, dup-2-gram
    * char coverage (the corpus' repeats are 2/3-grams; the API serves
    * the full 2..10 ladder). Flags splice the shared thresholds.
    * Map-only scan: every metric is a per-row sort+fold expression.
    */
  def qGopherRep(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Repetition
    val d8 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(8, 4))
    def avg4(c: String, as: String) =
      round(sum(d8(col(c))).cast(DoubleType) / count(lit(1)), 4).as(as)
    t(s, dir, "documents")
      .withColumn("toks", Text.wsTokens(col("text")))
      .select(
        col("source"),
        Repetition.dupLineFrac(col("text")).as("dlf"),
        Repetition.dupLineCharFrac(col("text")).as("dlcf"),
        Repetition.topNgramCharFrac(col("toks"), 2).as("t2"),
        Repetition.topNgramCharFrac(col("toks"), 3).as("t3"),
        Repetition.dupNgramCharFrac(col("toks"), 2).as("d2"))
      .withColumn("flagged",
        (col("dlf") > Repetition.DupLineFracMax ||
          col("dlcf") > Repetition.DupLineCharFracMax ||
          col("t2") > Repetition.TopNgramCharFracMax(2) ||
          col("t3") > Repetition.TopNgramCharFracMax(3)).cast("long"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("flagged")).as("n_flagged"),
        avg4("dlf", "avg_dup_line_frac"),
        avg4("dlcf", "avg_dup_line_char_frac"),
        avg4("t2", "avg_top2_char_frac"),
        avg4("t3", "avg_top3_char_frac"),
        avg4("d2", "avg_dup2_char_frac"))
      .orderBy("source")
  }

  /** E61: interval-OVERLAP join — each session interval joined to the
    * per-user HOUR-grid intervals it touches (the interval x interval
    * case [[qRangeJoin]]'s point-in-interval shape can't express).
    * Bucketed equi-join, one emission per overlapping pair.
    */
  def qIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val H = 3600L * 1000000L
    val sessions = Sessionize.rollup(ev, "user_id", "ts", "value", gapSeconds = 1800)
      .select(col("user_id"), col("session_seq"),
        tsUs(col("session_start")).as("s_start"),
        tsUs(col("session_end")).as("s_end"))
    val hours = ev
      .select(col("user_id"),
        (floor(tsUs(col("ts")).cast(DoubleType) / H).cast(LongType) * H).as("h_start"))
      .distinct()
      .withColumn("h_end", col("h_start") + (H - 1))
    graft.operators.RangeJoin.intervalOverlap(sessions, hours, "user_id",
      "s_start", "s_end", "h_start", "h_end", bucketWidth = H)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_hours"))
      .orderBy("user_id", "session_seq")
  }

  /** Range join: events bucket-joined back into their session
    * intervals — every event lands in exactly its own session, so the
    * per-session match counts reproduce the sessionization rollup.
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val sessions = graft.operators.Sessionize
      .rollup(ev, "user_id", "ts", "value", gapSeconds = 1800)
      .select(col("user_id"), col("session_seq"), col("session_start"), col("session_end"))
    graft.operators.RangeJoin.pointInInterval(
      ev.select(col("user_id"), col("ts"), col("event_id")), sessions,
      key = "user_id", tsCol = "ts",
      startCol = "session_start", endCol = "session_end",
      bucketWidthUs = 1800L * 1000000L)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_matched"))
      .orderBy("user_id", "session_seq")
  }

  /** Deterministic hash-gated Bernoulli sample (engine-portable,
    * scan-only — no RNG, no shuffle).
    */
  def qSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .where(graft.operators.Sampling.sampledBy(col("doc_id"), 0.2))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang")

  /** Deterministic train/val/test split assignment. */
  def qSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("split", graft.operators.Sampling.splitLabel(col("doc_id"),
        PipelineQueries.SplitWeights))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("split", "lang")

  /** Domain mixing: per-source deterministic sampling rates. */
  def qStratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      t(s, dir, "documents"), "doc_id", "source",
      rates = PipelineQueries.MixRates, defaultRate = 0.5)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source")

  /** P23: passage-level exact dedup — each doc is segmented into
    * non-overlapping 8-word chunks; a chunk is a duplicate when its
    * text occurs more than once corpus-wide. Per-source counts.
    * Scale shape: one shuffle to count chunks, one join back, one
    * source aggregate — all hash-partitioned on bounded keys, the same
    * passage-dedup pass a training pipeline runs before training.
    */
  def qPassageDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val chunked = docs.select(col("doc_id"), col("source"),
      explode(graft.functions.TextHashExpressions.wordChunks(col("text"), 8)).as("chunk"))
    val counts = chunked.groupBy(col("chunk")).agg(count(lit(1)).as("_cnt"))
    chunked.join(counts, Seq("chunk"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("_cnt") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .orderBy("source")
  }

  /** P24: benchmark decontamination — overlapping word 8-grams of each
    * corpus doc checked against the gram set of a deterministic probe
    * ("benchmark") subset (doc_id % 50 == 0). Per-source doc and gram
    * hit counts. Scale shape: the probe gram set is small by nature
    * (benchmarks are), so it broadcasts; the corpus is scanned once
    * and aggregated per doc then per source. Gram identity via the
    * engine-portable md5 hash (same construction as the oracle).
    */
  def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def grams = graft.functions.TextHashExpressions.wordGramHashes(col("text"), 8)
    val probe = docs.where(col("doc_id") % 50 === 0)
      .select(explode(grams).as("h")).distinct()
    val perDoc = docs.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("source"), explode(grams).as("h"))
      .join(broadcast(probe.withColumn("_hit", lit(1))), Seq("h"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(coalesce(col("_hit"), lit(0))).as("n_hits"))
    perDoc.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_contaminated"),
        sum(col("n_hits")).as("gram_hits"))
      .orderBy("source")
  }

  /** P42: gram-level decontamination FILTER at probe scale — the
    * surviving corpus after removing every non-probe doc sharing any
    * word 8-gram with the probe subset, via the two-phase Bloom path
    * ([[graft.operators.ProbeFilter.bloomJoin]]): the probe gram set
    * aggregates into a fixed-size broadcast filter (not an exact
    * broadcast that grows with the benchmark suite), filter-misses
    * bypass the confirm join entirely, and only the may-hit sliver
    * shuffles. Result is EXACTLY the exact-join answer (no false
    * negatives + exact confirm), so it oracle-checks; docs under 8
    * tokens carry no grams and trivially survive.
    */
  def qDecontamFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def grams = graft.functions.TextHashExpressions.wordGramHashes(col("text"), 8)
    val probeGrams = docs.where(col("doc_id") % 50 === 0)
      .select(explode(grams).as("h"))
    val corpusGrams = docs.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(grams).as("h"))
    val contaminated = graft.operators.ProbeFilter
      .bloomJoin(corpusGrams, probeGrams, "h",
        graft.operators.ProbeFilter.bitsFor(4096))
      .select("doc_id").distinct()
    docs.where(col("doc_id") % 50 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_clean"),
        sum(size(grams)).cast("long").as("clean_grams"))
      .orderBy("source")
  }

  /** P25: Gopher-style quality-rule suite — per-source pass and
    * per-rule fail counts. One scan, no shuffle beyond the final
    * bounded per-source aggregate; signals materialized once and
    * shared (HOF splits are not CSE'd).
    */
  def qQualityRules(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.QualityRules
    val d8 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(8, 4))
    val signals = t(s, dir, "documents")
      .withColumn("toks", Text.wsTokens(col("text")))
      .withColumn("wtoks", Text.wordTokens(col("text")))
      .withColumn("ls", QualityRules.lines(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("mwl", Text.meanTokenLenOf(col("toks")))
      .withColumn("symr", QualityRules.symbolRatio(col("text"), col("toks")))
      .withColumn("bulr", QualityRules.bulletRatio(col("ls")))
      .withColumn("ellr", QualityRules.ellipsisRatio(col("ls")))
      .withColumn("alpr", QualityRules.alphaRatio(col("toks")))
      .withColumn("stoph", QualityRules.stopHits(col("wtoks")))
    QualityRules.failFlags(signals)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("pass")).as("n_pass"),
        sum(col("f_words")).as("f_words"),
        sum(col("f_mwl")).as("f_mwl"),
        sum(col("f_symbol")).as("f_symbol"),
        sum(col("f_bullet")).as("f_bullet"),
        sum(col("f_ellipsis")).as("f_ellipsis"),
        sum(col("f_alpha")).as("f_alpha"),
        sum(col("f_stop")).as("f_stop"),
        round(sum(d8(col("alpr"))).cast(DoubleType) / count(lit(1)), 4).as("avg_alpha"),
        round(sum(d8(col("mwl"))).cast(DoubleType) / count(lit(1)), 4).as("avg_mwl"))
      .orderBy("source")
  }

  /** P27: SRP-LSH cosine near-dup pairs over the embeddings table —
    * hash-verified end-to-end (signatures, banding, candidate join,
    * exact-cosine verify all mirrored in the oracle SQL).
    */
  def qSrpPairs(s: SparkSession, dir: String): DataFrame =
    Similarity.srpPairs(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, nbits = 16, bands = 4, threshold = 0.4)
      .orderBy("a_id", "b_id")

  /** P26: ranked vocabulary over the corpus (min frequency 5).
    * Count shuffle over tokens; ranking only on the bounded vocab.
    */
  def qVocab(s: SparkSession, dir: String): DataFrame =
    graft.operators.Vocab.build(t(s, dir, "documents"), "text", minCount = 5)
      .select(col("vocab_id"), col("token"), col("freq"))
      .orderBy("vocab_id")

  /** P28: PII redaction — emails/IPs/phone numbers replaced with
    * typed tags. The corpus has no PII, so the query derives realistic
    * text deterministically FROM the events table (both engines build
    * the identical strings from the same rows), then redacts and
    * digests the results. Patterns live in functions/TextClean and are
    * spliced into the oracle from the same constants.
    */
  def qRedact(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{PortableHash, TextClean}
    val txt = concat(
      lit("contact user"), col("user_id"), lit("@mail.example.com or 10.0."),
      col("user_id") % 256, lit("."), col("event_id") % 256,
      lit(" phone 555-"), lpad((col("user_id") % 1000).cast("string"), 3, "0"),
      lit("-"), lpad((col("event_id") % 10000).cast("string"), 4, "0"),
      lit(" type "), col("event_type"))
    t(s, dir, "events")
      .withColumn("txt", txt)
      .withColumn("red", TextClean.redactPii(col("txt")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(TextClean.countMatches(col("txt"), TextClean.EmailRe)).as("emails"),
        sum(TextClean.countMatches(col("txt"), TextClean.Ipv4Re)).as("ips"),
        sum(TextClean.countMatches(col("txt"), TextClean.PhoneRe)).as("phones"),
        sum(TextClean.countMatches(col("red"), TextClean.EmailRe)).as("residual"),
        sum(PortableHash.md5Long(col("red"))).as("digest"))
      .orderBy("event_type")
  }

  /** P29: URL host + domain extraction with per-domain stats — the
    * domain-filtering pass of a web-corpus pipeline. URLs derived
    * deterministically from events (same construction on both sides).
    */
  def qUrlExtract(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextClean
    val tld = element_at(
      array(lit("com"), lit("org"), lit("net")),
      ((col("user_id") % 3) + 1).cast("int"))
    val txt = concat(
      lit("see https://sub"), col("user_id") % 50,
      lit(".site"), col("user_id") % 7, lit("."), tld,
      lit("/p/"), col("event_id"), lit(" end"))
    t(s, dir, "events")
      .withColumn("host", TextClean.urlHost(txt))
      .withColumn("domain", TextClean.domainOf(col("host")))
      .groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_urls"),
        countDistinct(col("host")).as("n_hosts"))
      .orderBy("domain")
  }

  /** P30: unicode + whitespace normalization (NFC, control strip,
    * whitespace collapse) — the canonicalization before content
    * hashing. Digest proves byte-identical output across engines.
    */
  def qNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{PortableHash, TextClean}
    t(s, dir, "documents")
      .withColumn("norm", TextClean.normalizeText(col("text")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("norm"))).as("n_chars"),
        sum(PortableHash.md5Long(col("norm"))).as("digest"))
      .orderBy("source")
  }

  /** E40 oracle: z-value histogram of lineitem over (l_quantity,
    * l_extendedprice) with FIXED literal boundaries (spliced into both
    * engines), hash-verifying the SearchSorted binning + Morton
    * interleave arithmetic end-to-end. 3 bits per dimension → 64
    * buckets.
    */
  val ZQtyBounds: Array[Double] = Array(7.0, 14.0, 20.0, 26.0, 32.0, 38.0, 44.0)
  val ZPriceBounds: Array[Double] =
    Array(8000.0, 16000.0, 24000.0, 32000.0, 42000.0, 54000.0, 70000.0)

  def qZorderHist(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ZOrder
    val z = ZOrder.interleave(Seq(
      ZOrder.bucketOf(col("l_quantity"), ZQtyBounds),
      ZOrder.bucketOf(col("l_extendedprice"), ZPriceBounds)), bits = 3)
    t(s, dir, "lineitem")
      .withColumn("z", z)
      .groupBy(col("z"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("z")
  }

  /** P13: multimodal payload plumbing — oracle-checkable byte stats
    * over the binary payload column.
    */
  def qBinaryFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.payloadStats(Multimodal.asBinaryPayload(t(s, dir, "documents"), "text"))
      .withColumn("digest", col("digest"))
      .select(col("doc_id"), col("n_bytes"), col("digest"))
      .orderBy("doc_id")
}

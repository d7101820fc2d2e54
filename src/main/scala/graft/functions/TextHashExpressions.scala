package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the *hashed shingle set* of a text —
  * sorted distinct 48-bit md5 hashes (PortableHash.md5Mod semantics)
  * of the char k-shingles. Equivalent to
  * `list_sort(list_distinct(list_transform(shingles(text,k), md5Mod)))`
  * in the DuckDB oracle; a tight loop here because interpreting that
  * per shingle dominates near-dup verification at corpus scale.
  * Downstream set operations (Jaccard) work on sorted longs, which is
  * both engine-portable (identical cardinalities — any 48-bit
  * collision collides identically in both engines) and merge-walkable.
  */
case class ShingleHashSet(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashset"

  @transient private lazy val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val digest = md.get()
    val out16 = new Array[Byte](16)

    // md5 of a byte slice into a REUSED output buffer — same value as
    // digest(sh.getBytes), without the per-shingle String/array churn
    // (this expression is the corpus-wide hash pass: its constant
    // factor IS the near-dup pipeline's floor)
    def h48(bytes: Array[Byte], off: Int, len: Int): Long = {
      digest.reset()
      digest.update(bytes, off, len)
      digest.digest(out16, 0, 16)
      var h = 0L
      var i = 0
      while (i < 6) { h = (h << 8) | (out16(i) & 0xffL); i += 1 }
      h % PortableHash.Prime
    }

    // primitive sort + in-place dedup replaces the boxed TreeSet
    def finish(arr: Array[Long], m: Int): GenericArrayData = {
      java.util.Arrays.sort(arr, 0, m)
      var w = 0
      var i = 0
      while (i < m) {
        if (w == 0 || arr(w - 1) != arr(i)) { arr(w) = arr(i); w += 1 }
        i += 1
      }
      val res = new Array[Long](w)
      System.arraycopy(arr, 0, res, 0, w)
      new GenericArrayData(res)
    }

    val n = s.length
    var hasSurrogate = false
    var si = 0
    while (si < n && !hasSurrogate) {
      if (Character.isSurrogate(s.charAt(si))) hasSurrogate = true
      si += 1
    }
    if (!hasSurrogate && n >= k) {
      // fast path (no surrogates, i.e. virtually all corpus text): one
      // UTF-8 encode of the whole string + per-char byte offsets, each
      // k-char window hashed as a byte SLICE — byte-identical to
      // substring(i, i+k).getBytes because BMP chars encode
      // independently; zero per-shingle allocation
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val offs = new Array[Int](n + 1)
      var i = 0
      var b = 0
      while (i < n) {
        val c = s.charAt(i)
        b += (if (c < 0x80) 1 else if (c < 0x800) 2 else 3)
        i += 1
        offs(i) = b
      }
      val m = n - k + 1
      val hs = new Array[Long](m)
      i = 0
      while (i < m) { hs(i) = h48(bytes, offs(i), offs(i + k) - offs(i)); i += 1 }
      finish(hs, m)
    } else if (n >= k) {
      // surrogate text: substring windows (a window may split a pair,
      // whose getBytes replacement-char encoding the hash must match)
      val m = n - k + 1
      val hs = new Array[Long](m)
      var i = 0
      while (i < m) {
        val sb = s.substring(i, i + k).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        hs(i) = h48(sb, 0, sb.length)
        i += 1
      }
      finish(hs, m)
    } else {
      val sb = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      finish(Array(h48(sb, 0, sb.length)), 1)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashSet =
    copy(child = newChild)
}

/** Intersection cardinality of two SORTED distinct long arrays via a
  * single merge walk — O(|a|+|b|) with zero allocation, vs the
  * hash-set build generic array_intersect does per row. Value equals
  * `len(list_intersect(a, b))` on the same lists.
  *
  * Full codegen (r16): this is the near-dup VERIFY hot loop, evaluated
  * once per candidate pair; as a CodegenFallback it paid interpreted
  * dispatch + boxed results per row inside the pipeline's hottest
  * stage (guide: prefer whole-stage-codegen-friendly expressions in
  * the hot path).
  *
  * `minRatio` > 0 turns the walk into a bounded verify: the result is
  * the count when `count ≥ minRatio · min(|a|, |b|)` and -1 otherwise.
  * The walk stops as soon as the count plus the shorter remainder —
  * the most it can still reach — falls below that need, so a candidate
  * that misses a containment threshold usually costs a prefix of the
  * walk (most blocked candidates share one rare shingle and fail
  * early). `minRatio` ≤ 0 (the default) is the plain walk.
  *
  * The generated step is branch-free (both cursors advance by
  * comparison results, the bound is re-checked every step): on hashed
  * sets `x < y` is a coin flip, and the mispredicted branch of an
  * if/else walk cost about a third more CPU in the verify stage.
  */
case class SortedIntersectCount(left: Expression, right: Expression, minRatio: Double = 0.0)
    extends BinaryExpression {

  require(!minRatio.isNaN && !minRatio.isInfinite, s"minRatio must be finite, got $minRatio")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0
    val xn = xs.numElements(); val yn = ys.numElements()
    val need = if (minRatio <= 0) 0 else math.ceil(minRatio * math.min(xn, yn)).toInt
    var reach = math.min(xn, yn) // n + the shorter remainder
    while (i < xn && j < yn && reach >= need) {
      val x = xs.getLong(i); val y = ys.getLong(j)
      if (x <= y) i += 1
      if (y <= x) j += 1
      if (x == y) n += 1
      reach = n + math.min(xn - i, yn - j)
    }
    if (reach < need) -1 else n
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val xn = ctx.freshName("xn")
      val yn = ctx.freshName("yn")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val need = ctx.freshName("need")
      val reach = ctx.freshName("reach")
      s"""
         |int $i = 0, $j = 0, $n = 0;
         |final int $xn = $a.numElements(), $yn = $b.numElements();
         |final int $need = ${if (minRatio <= 0) "0" else s"(int) Math.ceil(${minRatio}d * Math.min($xn, $yn))"};
         |int $reach = Math.min($xn, $yn);
         |while ($i < $xn && $j < $yn && $reach >= $need) {
         |  final long $x = $a.getLong($i);
         |  final long $y = $b.getLong($j);
         |  $i += $x <= $y ? 1 : 0;
         |  $j += $y <= $x ? 1 : 0;
         |  $n += $x == $y ? 1 : 0;
         |  $reach = $n + Math.min($xn - $i, $yn - $j);
         |}
         |${ev.value} = $reach < $need ? -1 : $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** Shared tokenization for the word-gram expressions: EXACTLY Spark's
  * `split(trim(text), "\\s+")` — trim strips ASCII spaces only, split
  * runs with limit -1 (keeps trailing empty matches) — so these
  * expressions are drop-in equals of the declarative formulation the
  * oracles were blessed against.
  */
private[functions] object WordGrams {
  def wsTokens(s: String): Array[String] = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e).split("\\s+", -1)
  }

  val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** PortableHash.md5Mod of a string: first 6 md5 bytes % Prime. */
  def h48(digest: java.security.MessageDigest, s: String): Long = {
    digest.reset()
    val d = digest.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 6) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h % PortableHash.Prime
  }
}

/** Portable md5 hashes of the OVERLAPPING word n-grams of a text —
  * one tokenization + one digest per gram, vs the declarative
  * `transform(sequence(...), i -> md5Mod(array_join(slice(...))))`
  * whose lambda interprets per element (the decontamination hot loop
  * at corpus scale). Equal by construction; equality is spec-tested.
  */
case class WordGramHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word_gram_hashes"

  override def nullSafeEval(input: Any): Any = {
    val toks = WordGrams.wsTokens(input.asInstanceOf[UTF8String].toString)
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val digest = WordGrams.md.get()
    val out = new Array[Long](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < out.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = WordGrams.h48(digest, sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordGramHashes =
    copy(child = newChild)
}

/** The words [[WordChunks]] leaves behind — the trailing partial
  * chunk (fewer than `n` words), joined by single spaces, "" when the
  * token count divides evenly. `chunks + tail` reconstructs the
  * whitespace-normalized text exactly, which span-level dedup relies
  * on ([[graft.operators.SpanDedup]]).
  */
case class WordTail(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_word_tail"

  override def nullSafeEval(input: Any): Any = {
    val toks = WordGrams.wsTokens(input.asInstanceOf[UTF8String].toString)
    val from = (toks.length / n) * n
    if (from >= toks.length || (toks.length == 1 && toks(0).isEmpty))
      UTF8String.EMPTY_UTF8
    else UTF8String.fromString(toks.drop(from).mkString(" "))
  }

  override protected def withNewChildInternal(newChild: Expression): WordTail =
    copy(child = newChild)
}

/** NON-overlapping n-word chunks of a text (passage segmentation for
  * passage-level dedup); the native twin of the chunked
  * `transform(sequence(...), i -> array_join(slice(...)))`.
  */
case class WordChunks(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_chunks"

  override def nullSafeEval(input: Any): Any = {
    val toks = WordGrams.wsTokens(input.asInstanceOf[UTF8String].toString)
    val m = toks.length / n
    val out = new Array[AnyRef](m)
    val sb = new java.lang.StringBuilder
    var c = 0
    while (c < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(c * n + j))
        j += 1
      }
      out(c) = UTF8String.fromString(sb.toString)
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordChunks =
    copy(child = newChild)
}

/** Portable md5 hash (PortableHash.md5Mod semantics) of the char
  * k-gram at EVERY position of the text, in position order — the raw
  * material of substring-level duplicate detection (Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better", find
  * repeated spans; cf. reference parquet_table.py's content hashing at
  * row granularity). Equal by construction to
  * `list_transform(range(0, length(t)-k+1), i -> md5Mod(substr(t,i+1,k)))`
  * in the DuckDB oracle; empty when the text is shorter than k.
  */
case class CharGramHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_gram_hashes"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val digest = WordGrams.md.get()
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i + k <= n) {
      out(i) = WordGrams.h48(digest, s.substring(i, i + k))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CharGramHashes =
    copy(child = newChild)
}

/** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting"): over
  * the k-gram hash sequence, slide a window of `w` grams and select
  * the minimum hash of each window (rightmost occurrence on ties);
  * consecutive windows sharing a selection record it once. Guarantees
  * that any substring match of length ≥ w + k - 1 contributes at
  * least one shared fingerprint, at expected density 2/(w+1) — the
  * scale path of substring dedup: instead of shuffling every gram
  * position of a 100 TB corpus, shuffle only the winnowed ~2/(w+1)
  * sample with the detection guarantee intact.
  *
  * Output: array<struct<pos:int, hash:long>> in position order
  * (positions are 0-based gram offsets). Texts shorter than k yield
  * an empty array; gram sequences shorter than w yield the single
  * global minimum.
  */
case class WinnowHashes(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("hash", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_winnow_hashes"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.length
    if (n < k) return new GenericArrayData(Array.empty[AnyRef])
    val digest = WordGrams.md.get()
    val m = n - k + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) { hs(i) = WordGrams.h48(digest, s.substring(i, i + k)); i += 1 }

    val sel = new scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    def rightmostMin(lo: Int, hi: Int): Int = { // inclusive bounds
      var best = lo
      var j = lo + 1
      while (j <= hi) { if (hs(j) <= hs(best)) best = j; j += 1 }
      best
    }
    if (m <= w) {
      val b = rightmostMin(0, m - 1)
      sel += ((b, hs(b)))
    } else {
      var last = -1
      var start = 0
      while (start + w <= m) {
        val end = start + w - 1
        val b =
          if (last >= start) { // previous selection still in window:
            // only a new strictly-right minimum can displace it
            if (hs(end) <= hs(last)) rightmostMin(start, end) else last
          } else rightmostMin(start, end)
        if (b != last) { sel += ((b, hs(b))); last = b }
        start += 1
      }
    }
    val rows = sel.map { case (p, h) =>
      org.apache.spark.sql.catalyst.InternalRow(p, h): AnyRef
    }.toArray
    new GenericArrayData(rows)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
}

object TextHashExpressions {
  def shingleHashSet(text: Column, k: Int): Column =
    Bridge.column(ShingleHashSet(Bridge.expression(text), k))

  /** See [[SortedIntersectCount]]: with `minRatio` > 0, -1 for a count
    * below `minRatio · min(|a|, |b|)`.
    */
  def sortedIntersectCount(a: Column, b: Column, minRatio: Double = 0.0): Column =
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b), minRatio))

  def wordGramHashes(text: Column, n: Int): Column =
    Bridge.column(WordGramHashes(Bridge.expression(text), n))

  def wordChunks(text: Column, n: Int): Column =
    Bridge.column(WordChunks(Bridge.expression(text), n))

  def wordTail(text: Column, n: Int): Column =
    Bridge.column(WordTail(Bridge.expression(text), n))

  def charGramHashes(text: Column, k: Int): Column =
    Bridge.column(CharGramHashes(Bridge.expression(text), k))

  def winnowHashes(text: Column, k: Int, w: Int): Column =
    Bridge.column(WinnowHashes(Bridge.expression(text), k, w))
}

package graft.tables

import graft.core.{Filter, FilterOp, Filters}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions.{expr, lit}

import scala.util.control.NonFatal
import scala.util.matching.Regex

/** Partition pruning through generated columns: when a table is
  * partitioned by a column with a `delta.generationExpression` over a
  * single base column (`day DATE GENERATED ALWAYS AS (CAST(ts AS
  * DATE))` being the canonical shape), a reader filtering on the BASE
  * column gets partition predicates derived for it — the same trick
  * the reference's ParquetTable plays building URI prefixes from
  * equality filters (reference/src/datarepo/core/tables/
  * parquet_table.py:236-424), applied to the Delta log's
  * partitionValues instead of directory names.
  *
  * Soundness rules (derived conjuncts must IMPLY nothing false — a
  * pruned file is never read, so there is no residual-predicate
  * safety net at the file level):
  *  - `c = v`  ⇒ `p = g(v)` for ANY deterministic g (evaluated by
  *    Spark itself on a one-row plan, so the derivation has exactly
  *    engine semantics); `c in (v…)` ⇒ `p in (g(v)…)`.
  *  - Range filters derive only for g recognized as MONOTONE
  *    non-decreasing: identity, CAST(c AS DATE), to_date(c),
  *    date_trunc('unit', c), year(c), substring(c, 1, n) / left(c, n)
  *    (string prefix). Then `c < v` ⇒ `p <= g(v)` (note: strict
  *    comparisons widen to inclusive — g collapses distinct inputs),
  *    `c > v` ⇒ `p >= g(v)`.
  *  - `!=` / `not in` derive nothing (g is not injective).
  *
  * Everything here is driver-side metadata work, O(filters ×
  * generated partitions) tiny local plans — never a distributed job.
  */
object GeneratedPruning {

  /** `filters` with derived partition conjuncts appended inside every
    * disjunct (a conjunct added to each branch of the DNF preserves
    * the predicate's meaning on surviving rows, and may only shrink
    * the may-match file set).
    */
  def withDerived(
      spark: SparkSession,
      filters: Filters.Normalized,
      meta: DeltaLog.Metadata
  ): Filters.Normalized = {
    if (filters.isEmpty) return filters
    val gens = partitionGenerations(meta)
    if (gens.isEmpty) return filters
    filters.map { conj =>
      conj ++ conj.flatMap(f => gens.collect {
        case (p, base, sql, monotone) if base == f.column && !conj.exists(_.column == p) =>
          derive(spark, meta, p, sql, base, monotone, f)
      }.flatten)
    }
  }

  /** Generated PARTITION columns over exactly one base column:
    * (partition col, base col, generation sql, monotone?).
    */
  private def partitionGenerations(
      meta: DeltaLog.Metadata
  ): Seq[(String, String, String, Boolean)] =
    DeltaPolicy.generationExpressions(meta).toSeq.collect {
      case (p, sql) if meta.partitionColumns.contains(p) && deterministic(sql) =>
        singleBaseColumn(sql).map(base => (p, base, sql, isMonotone(meta, sql, base)))
    }.flatten

  /** The one column `sql` references, if exactly one and it parses.
    * Parsed with the catalyst parser directly — `functions.expr` wraps
    * a lazily-parsed SqlExpression node with no tree to walk.
    */
  private def singleBaseColumn(sql: String): Option[String] =
    try {
      val parsed =
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
      val refs = parsed.collect {
        case a: UnresolvedAttribute => a.name
      }.distinct
      refs match { case Seq(one) => Some(one); case _ => None }
    } catch { case NonFatal(_) => None }

  /** Generated columns are required to be deterministic by the
    * protocol; refuse derivation anyway if the SQL smells otherwise.
    */
  private def deterministic(sql: String): Boolean = {
    val l = sql.toLowerCase
    !Seq("rand", "uuid", "shuffle", "current_", "now(", "unix_timestamp()")
      .exists(l.contains)
  }

  private def quoted(c: String): String = Regex.quote(c)

  /** Monotone non-decreasing shapes (base `c`): identity, date
    * truncations, year, string prefix.
    *
    * Each shape is monotone only when the BASE column's type orders
    * the same way the generation expression does. A string-typed base
    * compares in binary UTF-8 order, which date parsing does NOT
    * preserve (`'2020-1-5' > '2020-01-09'` lexicographically while
    * the parsed dates order the other way), and an unparseable string
    * nulls the partition value while still satisfying the range
    * predicate — so date shapes require a date/timestamp base, and
    * prefix shapes (where Spark would implicitly cast an int base to
    * string, un-ordering `9` vs `10`) require a string base. Identity
    * is monotone for every type.
    */
  private def isMonotone(meta: DeltaLog.Metadata, sql: String, c: String): Boolean = {
    import org.apache.spark.sql.types.{DateType, StringType, TimestampNTZType, TimestampType}
    val s = sql.trim
    val q = quoted(c)
    val baseType = meta.schema.fields.find(_.name == c).map(_.dataType)
    val temporalBase =
      baseType.exists(t => t == DateType || t == TimestampType || t == TimestampNTZType)
    val stringBase = baseType.contains(StringType)
    val identityShapes = Seq(s"(?i)^`?$q`?$$")
    val temporalShapes = Seq(
      s"(?i)^cast\\s*\\(\\s*`?$q`?\\s+as\\s+date\\s*\\)$$",
      s"(?i)^to_date\\s*\\(\\s*`?$q`?\\s*\\)$$",
      s"(?i)^date_trunc\\s*\\(\\s*'[a-z]+'\\s*,\\s*`?$q`?\\s*\\)$$",
      s"(?i)^year\\s*\\(\\s*`?$q`?\\s*\\)$$")
    val prefixShapes = Seq(
      s"(?i)^substring\\s*\\(\\s*`?$q`?\\s*,\\s*1\\s*,\\s*\\d+\\s*\\)$$",
      s"(?i)^left\\s*\\(\\s*`?$q`?\\s*,\\s*\\d+\\s*\\)$$")
    identityShapes.exists(s.matches) ||
    (temporalBase && temporalShapes.exists(s.matches)) ||
    (stringBase && prefixShapes.exists(s.matches))
  }

  /** Derived partition filters implied by `f` (on the base column)
    * through generation expression `sql`.
    */
  private def derive(
      spark: SparkSession,
      meta: DeltaLog.Metadata,
      partCol: String,
      sql: String,
      base: String,
      monotone: Boolean,
      f: Filter
  ): Seq[Filter] = {
    def g(v: Any): Option[Any] = evalGen(spark, meta, sql, base, v)
    f.op match {
      case FilterOp.Eq => g(f.value).map(Filter(partCol, FilterOp.Eq, _)).toSeq
      case FilterOp.In =>
        val vs = IcebergStats.inValues(f.value).map(g)
        // all members must evaluate, else the derived IN would wrongly
        // exclude partitions of the unevaluated members
        if (vs.nonEmpty && vs.forall(_.isDefined))
          Seq(Filter(partCol, FilterOp.In, vs.flatten))
        else Seq.empty
      case FilterOp.Lt | FilterOp.Le if monotone =>
        g(f.value).map(Filter(partCol, FilterOp.Le, _)).toSeq
      case FilterOp.Gt | FilterOp.Ge if monotone =>
        g(f.value).map(Filter(partCol, FilterOp.Ge, _)).toSeq
      case _ => Seq.empty
    }
  }

  /** g(v) with Spark's own evaluation semantics: a one-row local plan
    * `SELECT <sql> FROM (SELECT CAST(v AS baseType) AS base)`. None
    * when v does not literal-ize, the expression fails, or the result
    * is NULL (no sound derivation from a null).
    */
  private def evalGen(
      spark: SparkSession,
      meta: DeltaLog.Metadata,
      sql: String,
      base: String,
      v: Any
  ): Option[Any] =
    try {
      val baseType = meta.schema.fields.find(_.name == base).map(_.dataType)
      baseType.flatMap { t =>
        val row = spark.range(1).select(lit(v).cast(t).as(base)).select(expr(sql)).head()
        if (row.isNullAt(0)) None else Option(row.get(0))
      }
    } catch { case NonFatal(_) => None }
}

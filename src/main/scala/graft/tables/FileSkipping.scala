package graft.tables

import graft.core.{Filter, FilterOp, Filters}
import org.apache.spark.sql.types._

/** THE file-skipping evaluator: may a file hold a row matching a
  * filter of the algebra, given what its format recorded about it?
  * Delta, Iceberg and Hudi differ only in how they DECODE their
  * stats into [[Bounds]] — Delta's stats JSON through [[decodeText]]
  * ([[DeltaFileSkipping]]), Iceberg's manifest bounds through
  * [[IcebergStats.decodeSingle]] ([[IcebergStats.bounds]]), Hudi's
  * commit [[HudiWrite.ColRange]] ([[HudiWrite.bounds]]) — and prune
  * through the same two functions, on the driver and inside the
  * distributed planners' tasks alike.
  *
  * Everything is MAY-MATCH and fail-open: an unknown column, a
  * missing or undecodable bound, or a literal that does not compare
  * keeps the file; the exact predicate is always re-applied to the
  * surviving rows. DNF: a file survives if ANY conjunction may match;
  * an empty conjunction means TRUE (consistent with Filters.toColumn).
  *
  * Comparable values: BigDecimal for integral, decimal and double
  * columns; Float for float columns (compared as Spark widens the
  * pair: with the double value of a float, double or decimal
  * literal, exactly with an integral one); String for strings and
  * ISO dates, in CODE-POINT order (the unsigned UTF-8 order every
  * writer min/max'd under — UTF-16 `compareTo` disagrees above the
  * BMP and could prune a matching file); [[IcebergStats.Micros]] for
  * timestamps.
  */
object FileSkipping {

  /** One file's decoded stats for one column: min/max bounds as
    * comparable values, the null count and the row count when the
    * format recorded them.
    */
  final case class Bounds(
      min: Option[Any],
      max: Option[Any],
      nullCount: Option[Long],
      rowCount: Option[Long])

  /** DNF may-match over per-filter answers. */
  def mayMatch(filters: Filters.Normalized)(filterMayMatch: Filter => Boolean): Boolean =
    filters.isEmpty || filters.exists(_.forall(filterMayMatch))

  /** May-match of ONE filter against a file's column stats: `Lt`
    * needs some row < v ⇔ min < v, `Neq` prunes only a no-null
    * constant file, and an all-null file fails every null-rejecting
    * operator (NULL op x is never TRUE) — Neq/NotIn/Contains
    * included. The includes* operators keep every file.
    */
  def statsMayMatch(f: Filter, s: Bounds): Boolean = {
    val allNull = (for { n <- s.rowCount; nc <- s.nullCount } yield nc >= n).getOrElse(false)
    def cmp(bound: Option[Any], v: Any): Option[Int] = bound.flatMap(compareValues(_, v))
    def inRange(v: Any): Boolean = cmp(s.min, v).forall(_ <= 0) && cmp(s.max, v).forall(_ >= 0)
    def constant(v: Any): Boolean =
      s.nullCount.contains(0L) && cmp(s.min, v).contains(0) && cmp(s.max, v).contains(0)
    f.op match {
      case FilterOp.Includes | FilterOp.IncludesAny | FilterOp.IncludesAll => true
      // NOT (NULL IN ()) is TRUE: only an empty list keeps an all-null file
      case FilterOp.NotIn if allNull => IcebergStats.inValues(f.value).isEmpty
      case _ if allNull => false
      case FilterOp.Eq => inRange(f.value)
      case FilterOp.In => IcebergStats.inValues(f.value).exists(inRange)
      case FilterOp.Lt => cmp(s.min, f.value).forall(_ < 0)
      case FilterOp.Le => cmp(s.min, f.value).forall(_ <= 0)
      case FilterOp.Gt => cmp(s.max, f.value).forall(_ > 0)
      case FilterOp.Ge => cmp(s.max, f.value).forall(_ >= 0)
      case FilterOp.Neq => !constant(f.value)
      case FilterOp.NotIn => !IcebergStats.inValues(f.value).exists(constant)
      case _ => true // contains: no bounds semantics
    }
  }

  /** Exact evaluation on a single partition value, stringified as the
    * Delta log records it (Iceberg identity transforms stringify to
    * the same form): a file whose every row holds the value, so
    * min = max = value with no nulls; None means every row has SQL
    * NULL in the column (an all-null file). `contains` on a string
    * partition tests the value itself.
    */
  def partitionMayMatch(pv: Option[String], f: Filter, dt: DataType): Boolean =
    pv match {
      case Some(v) if f.op == FilterOp.Contains && dt == StringType =>
        v.contains(f.value.toString)
      case _ =>
        val value = pv.flatMap(decodeText(dt, _))
        statsMayMatch(f, Bounds(value, value, Some(if (pv.isEmpty) 1L else 0L), Some(1L)))
    }

  /** A value recorded as text (Delta stats JSON scalars, partition
    * values) → a comparable value; None = a type this evaluator does
    * not prune on (timestamps, booleans, nested) or unparseable text.
    */
  def decodeText(dt: DataType, s: String): Option[Any] =
    try dt match {
      case FloatType => Some(s.toFloat).filterNot(x => x.isNaN || x.isInfinite)
      case ByteType | ShortType | IntegerType | LongType | DoubleType | _: DecimalType =>
        Some(BigDecimal(s))
      case StringType | DateType => Some(s) // ISO dates compare lexically
      case _ => None
    } catch { case _: NumberFormatException => None }

  /** compare(decoded bound, filter literal) sign; None = not
    * comparable → never prune.
    */
  private def compareValues(bound: Any, fv: Any): Option[Int] =
    try (bound, fv) match {
      case (b: BigDecimal, v) => Some(b.compare(BigDecimal(v.toString)))
      case (b: Float, v)      => floatLiteral(v).map(BigDecimal(b.toDouble).compare(_))
      case (b: String, v)     => Some(IcebergStats.codePointCompare(b, v.toString))
      case (IcebergStats.Micros(b, _), v) => literalMicros(v).map(java.lang.Long.compare(b, _))
      case _                  => None
    } catch { case _: Exception => None }

  /** A literal against a float column, widened to double the way
    * Spark coerces the two: float, double and decimal literals compare
    * as double, integral ones exactly (never rounded to float);
    * anything else does not compare.
    */
  private def floatLiteral(v: Any): Option[BigDecimal] = v match {
    case x: Float => Some(BigDecimal(x.toDouble))
    case x @ (_: Byte | _: Short | _: Int | _: Long) =>
      Some(BigDecimal(x.asInstanceOf[Number].longValue()))
    case x: Double => Some(BigDecimal(x))
    case x: java.math.BigDecimal => Some(BigDecimal(x.doubleValue()))
    case x: BigDecimal => Some(BigDecimal(x.toDouble))
    case _ => None
  }

  /** Filter literal → epoch micros; None = unparseable (fail-open).
    * Strings accept ISO instants and the engine's session-UTC
    * `yyyy-MM-dd HH:mm:ss[.fff]` spelling.
    */
  private def literalMicros(v: Any): Option[Long] =
    try v match {
      case t: java.sql.Timestamp =>
        Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
      case i: java.time.Instant =>
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case l: java.time.LocalDateTime =>
        Some(l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000L)
      case s: String =>
        val t = s.trim
        val inst =
          try java.time.Instant.parse(t)
          catch {
            case _: Exception =>
              java.time.LocalDateTime.parse(t.replace(' ', 'T'))
                .toInstant(java.time.ZoneOffset.UTC)
          }
        Some(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
      case _ => None
    } catch { case _: Exception => None }
}

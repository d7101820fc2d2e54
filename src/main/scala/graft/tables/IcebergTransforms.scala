package graft.tables

import graft.core.{Filter, FilterOp}
import org.apache.spark.sql.types._

/** Iceberg partition transforms, evaluated on FILTER LITERALS so the
  * native reader can prune manifest entries of `bucket`/`truncate`/
  * `year`/`month`/`day`/`hour`-partitioned tables — the layouts most
  * foreign Iceberg lakes actually use — with the same may-match
  * discipline as identity pruning (reference analog: the URI-prefix
  * pushdown trick, parquet_table.py:236-424 — evaluate the partition
  * shape on the predicate, skip what cannot match).
  *
  * All definitions follow the public Apache Iceberg table spec
  * ("Partition Transforms" + Appendix B):
  *  - `bucket[N]`: murmur3_x86_32 (seed 0) of the value's canonical
  *    byte form, `(hash & Int.MaxValue) % N`. Equality-only pruning —
  *    the transform is many-to-one and unordered.
  *  - `truncate[W]`: ints/longs floor to a multiple of W; decimals
  *    floor the unscaled value; strings keep the first W code points.
  *    Order-preserving, so range filters prune too.
  *  - `year`/`month`/`day` (date or timestamp) and `hour` (timestamp):
  *    ordinals since the epoch, floor semantics for pre-1970 values.
  *    Order-preserving.
  *
  * Everything here is DRIVER-side work on O(filters × spec-fields)
  * literals — the data scan never sees it; an unevaluable value or an
  * unknown transform simply never prunes (correct, never fast-wrong).
  */
object IcebergTransforms {

  sealed trait Transform
  case object Identity extends Transform
  final case class Bucket(n: Int) extends Transform
  final case class Truncate(w: Int) extends Transform
  case object Year extends Transform
  case object Month extends Transform
  case object Day extends Transform
  case object Hour extends Transform
  case object Void extends Transform

  private val BucketRe = "bucket\\[(\\d+)\\]".r
  private val TruncateRe = "truncate\\[(\\d+)\\]".r

  /** Spec transform string → Transform; None = unknown (never prune). */
  def parse(s: String): Option[Transform] = s match {
    case "identity"     => Some(Identity)
    case "year"  | "years"  => Some(Year)
    case "month" | "months" => Some(Month)
    case "day"   | "days" | "date" => Some(Day)
    case "hour"  | "hours" | "date_hour" => Some(Hour)
    case "void"         => Some(Void)
    case BucketRe(n)    => Some(Bucket(n.toInt))
    case TruncateRe(w)  => Some(Truncate(w.toInt))
    case _              => None
  }

  // ------------------------------------------------- murmur3_x86_32
  // The public 32-bit x86 MurmurHash3 (Austin Appleby, public domain),
  // seed 0, as required by the Iceberg spec's bucket transform.

  def murmur3(data: Array[Byte], seed: Int = 0): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h = seed
    val len = data.length
    val nblocks = len / 4
    var i = 0
    while (i < nblocks) {
      val base = 4 * i
      var k = (data(base) & 0xff) | ((data(base + 1) & 0xff) << 8) |
        ((data(base + 2) & 0xff) << 16) | ((data(base + 3) & 0xff) << 24)
      k *= c1
      k = Integer.rotateLeft(k, 15)
      k *= c2
      h ^= k
      h = Integer.rotateLeft(h, 13)
      h = h * 5 + 0xe6546b64
      i += 1
    }
    var k1 = 0
    val tail = nblocks * 4
    if ((len & 3) >= 3) k1 ^= (data(tail + 2) & 0xff) << 16
    if ((len & 3) >= 2) k1 ^= (data(tail + 1) & 0xff) << 8
    if ((len & 3) >= 1) {
      k1 ^= data(tail) & 0xff
      k1 *= c1
      k1 = Integer.rotateLeft(k1, 15)
      k1 *= c2
      h ^= k1
    }
    h ^= len
    h ^= h >>> 16
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^= h >>> 16
    h
  }

  /** ints/longs/dates/timestamps hash their value widened to long,
    * serialized little-endian (spec Appendix B).
    */
  def hashLong(v: Long): Int = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    murmur3(b)
  }

  def hashString(s: String): Int = murmur3(s.getBytes("UTF-8"))

  /** Decimals hash the minimal two's-complement big-endian bytes of
    * the unscaled value (spec Appendix B).
    */
  def hashDecimal(d: java.math.BigDecimal): Int =
    murmur3(d.unscaledValue().toByteArray)

  def hashBytes(b: Array[Byte]): Int = murmur3(b)

  // ------------------------------------------------- filter coercion

  private val MicrosPerDay = 86400000000L
  private val MicrosPerHour = 3600000000L

  /** A filter literal coerced into the source column's value domain:
    * Long for integral/date (epoch days)/timestamp (epoch micros),
    * String for strings, BigDecimal for decimals. None = not coercible
    * (never prune on it).
    */
  private[tables] def toSourceDomain(dt: DataType, v: Any): Option[Any] =
    try {
      (dt, v) match {
        case (_, null) => None
        case (ByteType | ShortType | IntegerType | LongType, n: Number) => Some(n.longValue())
        case (ByteType | ShortType | IntegerType | LongType, s: String) => Some(s.trim.toLong)
        case (DateType, d: java.sql.Date)        => Some(d.toLocalDate.toEpochDay)
        case (DateType, d: java.time.LocalDate)  => Some(d.toEpochDay)
        case (DateType, s: String)               => Some(java.time.LocalDate.parse(s.trim).toEpochDay)
        case (TimestampType | TimestampNTZType, t: java.sql.Timestamp) =>
          Some(t.getTime * 1000L + (t.getNanos % 1000000) / 1000L)
        case (TimestampType | TimestampNTZType, i: java.time.Instant) =>
          Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
        case (TimestampType | TimestampNTZType, l: java.time.LocalDateTime) =>
          Some(l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000L)
        case (TimestampType | TimestampNTZType, s: String) => parseTsMicros(s.trim)
        case (StringType, s)                     => Some(s.toString)
        case (_: DecimalType, d: java.math.BigDecimal) => Some(d)
        case (_: DecimalType, d: BigDecimal)     => Some(d.bigDecimal)
        case (_: DecimalType, n: Number)         => Some(new java.math.BigDecimal(n.toString))
        case (_: DecimalType, s: String)         => Some(new java.math.BigDecimal(s.trim))
        case _ => None
      }
    } catch { case _: RuntimeException => None }

  /** ISO timestamp string (with 'T' or space separator, optional
    * offset/zone, or a bare date) → epoch micros. NTZ strings read as
    * UTC — consistent with how the catalog's oracle treats NTZ values.
    */
  private def parseTsMicros(s: String): Option[Long] = {
    val t = s.replace(' ', 'T')
    def fromInstant(i: java.time.Instant) =
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    try Some(fromInstant(java.time.OffsetDateTime.parse(t).toInstant))
    catch {
      case _: java.time.format.DateTimeParseException =>
        try Some(fromInstant(
          java.time.LocalDateTime.parse(t).toInstant(java.time.ZoneOffset.UTC)))
        catch {
          case _: java.time.format.DateTimeParseException =>
            try Some(java.time.LocalDate.parse(t).toEpochDay * MicrosPerDay)
            catch { case _: java.time.format.DateTimeParseException => None }
        }
    }
  }

  // ------------------------------------------------- application

  /** Apply `t` to a source-domain value (from [[toSourceDomain]]).
    * Returns the transform-output-domain value: Long for bucket/
    * year/month/day/hour and numeric truncate, String for string
    * truncate, BigDecimal for decimal truncate. None = transform not
    * defined for the type (never prune).
    */
  private[tables] def apply(t: Transform, dt: DataType, v: Any): Option[Any] = t match {
    case Identity => Some(v)
    case Void     => None
    case Bucket(n) =>
      val h: Option[Int] = (dt, v) match {
        case (ByteType | ShortType | IntegerType | LongType | DateType |
              TimestampType | TimestampNTZType, l: Long) => Some(hashLong(l))
        case (StringType, s: String)                     => Some(hashString(s))
        case (_: DecimalType, d: java.math.BigDecimal)   => Some(hashDecimal(d))
        case _                                           => None
      }
      h.map(x => ((x & Int.MaxValue) % n).toLong)
    case Truncate(w) =>
      (dt, v) match {
        case (ByteType | ShortType | IntegerType | LongType, l: Long) =>
          Some(l - Math.floorMod(l, w.toLong))
        case (StringType, s: String) =>
          val cps = s.codePointCount(0, s.length)
          Some(if (cps <= w) s else s.substring(0, s.offsetByCodePoints(0, w)))
        case (ddt: DecimalType, d: java.math.BigDecimal) =>
          val unscaled = d.unscaledValue()
          val wB = java.math.BigInteger.valueOf(w.toLong)
          val rem = unscaled.mod(wB) // BigInteger.mod is always non-negative
          Some(new java.math.BigDecimal(unscaled.subtract(rem), ddt.scale))
        case _ => None
      }
    case Year | Month | Day =>
      val epochDay: Option[Long] = dt match {
        case DateType => v match { case l: Long => Some(l); case _ => None }
        case TimestampType | TimestampNTZType =>
          v match { case l: Long => Some(Math.floorDiv(l, MicrosPerDay)); case _ => None }
        case _ => None
      }
      epochDay.map { ed =>
        t match {
          case Day => ed
          case Year => (java.time.LocalDate.ofEpochDay(ed).getYear - 1970).toLong
          case Month =>
            val ld = java.time.LocalDate.ofEpochDay(ed)
            (ld.getYear - 1970).toLong * 12L + (ld.getMonthValue - 1)
          case _ => throw new IllegalStateException("unreachable")
        }
      }
    case Hour =>
      (dt, v) match {
        case (TimestampType | TimestampNTZType, l: Long) => Some(Math.floorDiv(l, MicrosPerHour))
        case _ => None
      }
  }

  /** Code-point (= UTF-8 byte) string order — the order Iceberg and
    * Parquet record string bounds in. Java's `String.compareTo` is
    * UTF-16 code-UNIT order, which ranks supplementary characters
    * (surrogate pairs, 0xD800-0xDFFF units) BELOW U+E000..U+FFFF;
    * pruning with it could drop a file that contains matching rows.
    */
  private[tables] def compareCodePoints(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Whether range filters can prune on `t` (order-preserving). */
  private def ordered(t: Transform): Boolean = t match {
    case Truncate(_) | Year | Month | Day | Hour => true
    case _ => false
  }

  /** Compare a manifest-recorded partition value `p` (Avro-decoded:
    * Int/Long for numerics and date/time ordinals, String, ByteBuffer
    * for decimals) against a transform output `tv` from [[apply]].
    * None = not comparable (never prune).
    */
  private[tables] def comparePartition(p: Any, tv: Any, dt: DataType): Option[Int] =
    (p, tv) match {
      case (pi: Int, l: Long)    => Some(java.lang.Long.compare(pi.toLong, l))
      case (pl: Long, l: Long)   => Some(java.lang.Long.compare(pl, l))
      case (ps: String, s: String) => Some(compareCodePoints(ps, s))
      case (pb: java.nio.ByteBuffer, d: java.math.BigDecimal) =>
        val bytes = new Array[Byte](pb.remaining())
        pb.duplicate().get(bytes)
        dt match {
          case ddt: DecimalType =>
            Some(new java.math.BigDecimal(new java.math.BigInteger(bytes), ddt.scale)
              .compareTo(d))
          case _ => None
        }
      case (pd: java.math.BigDecimal, d: java.math.BigDecimal) => Some(pd.compareTo(d))
      case _ => None
    }

  /** May-match of one filter against one transformed partition value.
    * `p` is the recorded partition value (null = every source row in
    * the file is SQL NULL in the column — transforms preserve null —
    * so null-rejecting operators prune the file, matching the identity
    * path's semantics). `dt` is the SOURCE column type.
    */
  private[tables] def mayMatch(t: Transform, dt: DataType, p: Any, f: Filter): Boolean = {
    if (t == Void) return true
    if (p == null) return false // NULL op x is never TRUE for every op we prune on
    def out(value: Any): Option[Any] = toSourceDomain(dt, value).flatMap(v => apply(t, dt, v))
    def cmp(value: Any): Option[Int] = out(value).flatMap(tv => comparePartition(p, tv, dt))
    f.op match {
      case FilterOp.Eq => cmp(f.value).forall(_ == 0)
      case FilterOp.In => IcebergStats.inValues(f.value).exists(x => cmp(x).forall(_ == 0))
      case FilterOp.Lt | FilterOp.Le if ordered(t) => cmp(f.value).forall(_ <= 0)
      case FilterOp.Gt | FilterOp.Ge if ordered(t) => cmp(f.value).forall(_ >= 0)
      case _ => true // Neq/NotIn (many-to-one), contains/includes, unordered ranges
    }
  }
}

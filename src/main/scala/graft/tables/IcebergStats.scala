package graft.tables

import graft.core.{Filter, FilterOp}
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Iceberg per-file COLUMN STATISTICS: the manifest `data_file`
  * fields `value_counts` (109), `null_value_counts` (110),
  * `lower_bounds` (125) and `upper_bounds` (128) of the public
  * Iceberg table spec, written by [[IcebergWrite]] and evaluated by
  * [[IcebergMeta.mayMatch]] so a selective NON-partition predicate
  * prunes data files before any of them opens — the format-parity
  * complement of Delta's per-file stats skipping
  * ([[DeltaFileSkipping]], R23). On a sorted table (R50 sort orders)
  * a range probe collapses to the few files whose bounds overlap it.
  *
  * Bounds use the spec's single-value binary serialization
  * (Appendix D): little-endian fixed width for int/long/float/double
  * (dates as days, timestamps as micros), UTF-8 for strings, unscaled
  * big-endian two's-complement for decimals. String bounds truncate
  * to [[TruncateWidth]] code points — the lower bound by plain prefix
  * (a prefix sorts ≤ the value), the upper bound by prefix with its
  * last code point incremented (yielding a value ≥ every truncated
  * string), omitted entirely when no increment exists.
  *
  * Everything here is FAIL-OPEN: a missing field, an unknown type, an
  * undecodable buffer, or a NaN all mean "may match" — pruning can
  * only remove files proven irrelevant, never rows.
  *
  * String comparison is by CODE POINT (identical to the unsigned
  * UTF-8 byte order the bounds were min/max'd under, both by Spark's
  * UTF8String ordering and by foreign writers following the spec) —
  * `String.compareTo`'s UTF-16 order disagrees above the BMP and
  * could prune a matching file.
  */
object IcebergStats {

  /** Spec-recommended truncation width for string bounds. */
  val TruncateWidth = 16

  /** Types stats are collected and evaluated for (timestamps compare
    * as epoch micros against parsed literals — see [[Micros]]).
    */
  def eligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        StringType | BooleanType | DateType | TimestampType | TimestampNTZType =>
      true
    case _: DecimalType => true
    case _ => false
  }

  // ------------------------------------------------ write: agg job

  /** Aggregation columns computing (min, max, non-null count) for
    * every eligible field, to ride the SAME grouped job that counts
    * records per staged file — zero extra passes over the data.
    */
  def aggColumns(fields: Seq[StructField]): Seq[Column] =
    fields.filter(f => eligible(f.dataType)).flatMap { f =>
      val c = prefixCapped(col("`" + f.name + "`"), f.dataType)
      Seq(
        min(c).as(s"_lo_${f.name}"),
        max(c).as(s"_hi_${f.name}"),
        count(c).as(s"_nn_${f.name}"))
    }

  /** Extract the per-column stats from one row of the grouped job
    * (schema: the grouped key + `_n` + [[aggColumns]] output read by
    * NAME), given the file's total record count.
    */
  def statsOfRow(row: org.apache.spark.sql.Row, fields: Seq[StructField], total: Long): Map[String, LakeFiles.ColumnStats] =
    fields.filter(f => eligible(f.dataType)).map { f =>
      val lo = Option(row.get(row.fieldIndex(s"_lo_${f.name}")))
      val hi = Option(row.get(row.fieldIndex(s"_hi_${f.name}")))
      val nn = row.getLong(row.fieldIndex(s"_nn_${f.name}"))
      f.name -> LakeFiles.ColumnStats(lo, hi, total - nn)
    }.toMap

  // ------------------------------------------- single-value codec

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** Spec Appendix-D single-value serialization of a Spark value.
    * None = not encodable (unknown type, NaN) → the bound is omitted.
    */
  def encodeSingle(dt: DataType, v: Any): Option[Array[Byte]] = (dt, v) match {
    case (_, null) => None
    case (BooleanType, b: Boolean) => Some(Array(if (b) 1.toByte else 0.toByte))
    case (ByteType | ShortType | IntegerType, n: Number) =>
      Some(le(4).putInt(n.intValue()).array())
    case (LongType, n: Number) => Some(le(8).putLong(n.longValue()).array())
    case (FloatType, f: Float) =>
      if (f.isNaN) None else Some(le(4).putFloat(f).array())
    case (DoubleType, d: Double) =>
      if (d.isNaN) None else Some(le(8).putDouble(d).array())
    case (DateType, d: java.sql.Date) =>
      Some(le(4).putInt(d.toLocalDate.toEpochDay.toInt).array())
    case (DateType, d: java.time.LocalDate) =>
      Some(le(4).putInt(d.toEpochDay.toInt).array())
    case (TimestampType, t: java.sql.Timestamp) =>
      // floorDiv, not /: getTime/1000 truncates toward zero and shifts
      // pre-1970 sub-second values one second late
      val us = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      Some(le(8).putLong(us).array())
    case (TimestampType, t: java.time.Instant) =>
      Some(le(8).putLong(t.getEpochSecond * 1000000L + t.getNano / 1000L).array())
    case (TimestampNTZType, t: java.time.LocalDateTime) =>
      val us = t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
      Some(le(8).putLong(us).array())
    case (StringType, s: String) => Some(s.getBytes(StandardCharsets.UTF_8))
    case (dec: DecimalType, d: java.math.BigDecimal) =>
      Some(d.setScale(dec.scale).unscaledValue().toByteArray)
    case (dec: DecimalType, d: BigDecimal) =>
      Some(d.underlying().setScale(dec.scale).unscaledValue().toByteArray)
    case _ => None
  }

  /** A decoded timestamp bound: epoch micros with a comparison type
    * of its own, so filter literals parse as TIMESTAMPS (never as
    * bare numbers) and the readable rendering is ISO.
    */
  final case class Micros(us: Long, ntz: Boolean = false) {
    override def toString: String = {
      val inst = java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
      // NTZ values carry NO zone: render local (no 'Z'), or a user
      // reading the files metadata table mis-shifts them as instants
      if (ntz) java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC).toString
      else inst.toString
    }
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

  /** Decode a bound buffer to a COMPARABLE value: BigDecimal for
    * numerics, [[Micros]] for timestamps, ISO string for dates,
    * String for strings. None = type this reader does not prune on
    * (booleans, unknowns).
    */
  def decodeSingle(dt: DataType, bytes: Array[Byte]): Option[Any] =
    try dt match {
      case TimestampType | TimestampNTZType =>
        Some(Micros(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getLong,
          ntz = dt == TimestampNTZType))
      case ByteType | ShortType | IntegerType =>
        Some(BigDecimal(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt))
      case LongType =>
        Some(BigDecimal(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getLong))
      case FloatType =>
        val f = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getFloat
        if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toDouble))
      case DoubleType =>
        val d = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getDouble
        if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
      case dec: DecimalType =>
        Some(BigDecimal(BigInt(bytes), dec.scale))
      case DateType =>
        Some(java.time.LocalDate.ofEpochDay(
          ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong).toString)
      case StringType => Some(new String(bytes, StandardCharsets.UTF_8))
      case _ => None
    } catch { case _: Exception => None }

  // ------------------------------------------------- truncation

  /** Lower-bound truncation: the first `width` code points (a strict
    * prefix sorts ≤ the full value in code-point order).
    */
  def truncateLower(s: String, width: Int = TruncateWidth): String = {
    val cps = s.codePoints().toArray
    if (cps.length <= width) s
    else new String(cps, 0, width)
  }

  /** Upper-bound truncation: `width`-code-point prefix with the last
    * representable code point incremented (skipping the surrogate
    * block), so the result sorts ≥ every string sharing the prefix.
    * None when every prefix code point is U+10FFFF.
    */
  def truncateUpper(s: String, width: Int = TruncateWidth): Option[String] = {
    val cps = s.codePoints().toArray
    if (cps.length <= width) return Some(s)
    val prefix = cps.take(width)
    var i = width - 1
    while (i >= 0) {
      val next =
        if (prefix(i) == 0xD7FF) 0xE000 // skip the surrogate block
        else prefix(i) + 1
      if (next <= 0x10FFFF) {
        prefix(i) = next
        return Some(new String(prefix, 0, i + 1))
      }
      i -= 1
    }
    None
  }

  /** Agg-side string cap: shipping a `width+1`-code-point PREFIX
    * through min/max is bound-equivalent to the full value — prefix
    * truncation is monotone in code-point order, so
    * min(prefix(x)) = prefix(min x) ≤ min x, and the post-agg
    * [[truncateUpper]] at `width` increments exactly when the prefix
    * exceeds it, i.e. exactly when the true max did. Keeps multi-KB
    * text columns (a training corpus' document bodies) out of the
    * stats shuffle, the driver, and the metadata JSON.
    */
  def prefixCapped(c: Column, dt: DataType, width: Int = TruncateWidth): Column =
    dt match {
      case StringType => substring(c, 1, width + 1)
      case _          => c
    }

  // ----------------------------------- manifest-list summaries

  /** Encode one PARTITION-TUPLE value in its Avro manifest form
    * (Int/Long/String/Boolean — dates are already epoch-day ints) as
    * a summary bound. None = unbound (fail-open).
    */
  def encodePartitionBound(v: Any): Option[Array[Byte]] = v match {
    case i: Int     => encodeSingle(IntegerType, i)
    case l: Long    => encodeSingle(LongType, l)
    case s: String  => encodeSingle(StringType, s)
    case b: Boolean => encodeSingle(BooleanType, b)
    case _          => None
  }

  /** Total order over the partition-tuple value forms (numeric,
    * code-point strings, false < true) for summary min/max.
    */
  def comparePartitionValues(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Int, y: Int)         => Some(Integer.compare(x, y))
    case (x: Long, y: Long)       => Some(java.lang.Long.compare(x, y))
    case (x: Int, y: Long)        => Some(java.lang.Long.compare(x.toLong, y))
    case (x: Long, y: Int)        => Some(java.lang.Long.compare(x, y.toLong))
    case (x: String, y: String)   => Some(codePointCompare(x, y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _                        => None
  }

  // -------------------------------------------- manifest plumbing

  /** The four optional stats fields appended to the `data_file` Avro
    * record ([[IcebergManifests.manifestEntrySchema]]),
    * with the spec's field ids and required k-v array encoding for
    * non-string-keyed maps.
    */
  val manifestFieldsJson: String =
    """{"name":"value_counts","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k119_v120","fields":[{"name":"key","type":"int","field-id":119},{"name":"value","type":"long","field-id":120}]}}],"default":null,"field-id":109},
      |{"name":"null_value_counts","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k121_v122","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]}}],"default":null,"field-id":110},
      |{"name":"lower_bounds","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]}}],"default":null,"field-id":125},
      |{"name":"upper_bounds","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]}}],"default":null,"field-id":128}""".stripMargin

  private def kvList(
      dfSchema: org.apache.avro.Schema,
      field: String,
      entries: Seq[(Int, Any)]): java.util.List[GenericData.Record] = {
    val itemSchema = dfSchema.getField(field).schema().getTypes.get(1).getElementType
    val out = new java.util.ArrayList[GenericData.Record](entries.size)
    entries.foreach { case (k, v) =>
      val r = new GenericData.Record(itemSchema)
      r.put("key", k)
      r.put("value", v)
      out.add(r)
    }
    out
  }

  /** Write the four stats fields into a `data_file` record being
    * appended: bounds encoded per column type (strings truncated),
    * value_counts = record_count for every tracked top-level field.
    */
  def putStatsFields(
      dfr: GenericData.Record,
      dfSchema: org.apache.avro.Schema,
      stats: Map[String, LakeFiles.ColumnStats],
      fieldIdByName: Map[String, Int],
      typeByName: Map[String, DataType],
      recordCount: Long): Unit = {
    if (dfSchema.getField("lower_bounds") == null) return
    val tracked = stats.toSeq
      .flatMap { case (name, st) =>
        for { id <- fieldIdByName.get(name); dt <- typeByName.get(name) }
          yield (id, dt, st)
      }
      .sortBy(_._1)
    if (tracked.isEmpty) return
    val lowers = tracked.flatMap { case (id, dt, st) =>
      st.min
        .map { case s: String => truncateLower(s); case v => v }
        .flatMap(v => encodeSingle(dt, v))
        .map(b => id -> (ByteBuffer.wrap(b): Any))
    }
    val uppers = tracked.flatMap { case (id, dt, st) =>
      st.max
        .flatMap { case s: String => truncateUpper(s); case v => Some(v) }
        .flatMap(v => encodeSingle(dt, v))
        .map(b => id -> (ByteBuffer.wrap(b): Any))
    }
    val nulls = tracked.map { case (id, _, st) => id -> (st.nullCount: Any) }
    val values = tracked.map { case (id, _, _) => id -> (recordCount: Any) }
    dfr.put("value_counts", kvList(dfSchema, "value_counts", values))
    dfr.put("null_value_counts", kvList(dfSchema, "null_value_counts", nulls))
    if (lowers.nonEmpty) dfr.put("lower_bounds", kvList(dfSchema, "lower_bounds", lowers))
    if (uppers.nonEmpty) dfr.put("upper_bounds", kvList(dfSchema, "upper_bounds", uppers))
  }

  /** Translate one Delta AddFile's per-file stats JSON
    * (numRecords/minValues/maxValues/nullCount, keyed by PHYSICAL
    * column name) into the Iceberg bounds fields of an exported
    * manifest entry — UniForm-exported tables skip files like native
    * ones. Delta string maxValues may already be truncated+
    * incremented; [[truncateUpper]] of a valid upper bound is still
    * ≥ it (an incremented prefix exceeds everything sharing the
    * prefix), so re-truncation stays sound. Unparseable pieces are
    * skipped (fail-open), never fatal.
    */
  def putDeltaStatsFields(
      dfr: GenericData.Record,
      dfSchema: org.apache.avro.Schema,
      statsJson: Option[String],
      schema: StructType,
      physOf: String => String,
      idOf: String => Int): Unit = {
    if (dfSchema.getField("lower_bounds") == null) return
    val root = statsJson.flatMap { s =>
      try Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(s))
      catch { case _: Exception => None }
    }.getOrElse(return)
    val numRecords = Option(root.get("numRecords")).map(_.asLong())
    def jsonValue(dt: DataType, n: com.fasterxml.jackson.databind.JsonNode): Option[Any] =
      try {
        if (n == null || n.isNull) None
        else dt match {
          case ByteType | ShortType | IntegerType => Some(n.asInt())
          case LongType => Some(n.asLong())
          case FloatType =>
            Some(n.asText().toFloat).filterNot(f => f.isNaN)
          case DoubleType =>
            Some(n.asText().toDouble).filterNot(d => d.isNaN)
          case _: DecimalType => Some(new java.math.BigDecimal(n.asText()))
          case StringType => Some(n.asText())
          case BooleanType => Some(n.asBoolean())
          case DateType => Some(java.time.LocalDate.parse(n.asText()))
          case TimestampType =>
            // Delta renders instants ISO-8601 (with or without zone)
            val t = n.asText()
            Some(try java.time.Instant.parse(t)
            catch {
              case _: Exception =>
                java.time.LocalDateTime.parse(t.replace(' ', 'T'))
                  .toInstant(java.time.ZoneOffset.UTC)
            })
          case TimestampNTZType =>
            Some(java.time.LocalDateTime.parse(n.asText().replace(' ', 'T')))
          case _ => None
        }
      } catch { case _: Exception => None }
    val tracked = schema.fields.toSeq.filter(f => eligible(f.dataType)).flatMap { f =>
      val phys = physOf(f.name)
      val lo = jsonValue(f.dataType, root.path("minValues").get(phys))
      val hi = jsonValue(f.dataType, root.path("maxValues").get(phys))
      val nulls = Option(root.path("nullCount").get(phys))
        .filter(_.isNumber).map(_.asLong())
      if (lo.isEmpty && hi.isEmpty && nulls.isEmpty) None
      else Some((idOf(f.name), f.dataType, LakeFiles.ColumnStats(lo, hi, nulls.getOrElse(-1L))))
    }.sortBy(_._1)
    if (tracked.isEmpty) return
    val lowers = tracked.flatMap { case (id, dt, st) =>
      st.min.map { case s: String => truncateLower(s); case v => v }
        .flatMap(v => encodeSingle(dt, v)).map(b => id -> (ByteBuffer.wrap(b): Any))
    }
    val uppers = tracked.flatMap { case (id, dt, st) =>
      st.max.flatMap { case s: String => truncateUpper(s); case v => Some(v) }
        .flatMap(v => encodeSingle(dt, v)).map(b => id -> (ByteBuffer.wrap(b): Any))
    }
    val nulls = tracked.collect { case (id, _, st) if st.nullCount >= 0 =>
      id -> (st.nullCount: Any)
    }
    val values = numRecords.toSeq.flatMap(n => tracked.map { case (id, _, _) =>
      id -> (n: Any)
    })
    if (values.nonEmpty) dfr.put("value_counts", kvList(dfSchema, "value_counts", values))
    if (nulls.nonEmpty)
      dfr.put("null_value_counts", kvList(dfSchema, "null_value_counts", nulls))
    if (lowers.nonEmpty) dfr.put("lower_bounds", kvList(dfSchema, "lower_bounds", lowers))
    if (uppers.nonEmpty) dfr.put("upper_bounds", kvList(dfSchema, "upper_bounds", uppers))
  }

  /** Carry the four stats fields from a read entry into a rewritten
    * one (maintenance EXISTING entries): k-v records are REBUILT
    * against the destination schema so rewrites never depend on the
    * source writer's exact Avro object shapes. Absent or unparseable
    * source fields carry as absent.
    */
  def copyStatsFields(
      src: GenericRecord,
      dfr: GenericData.Record,
      dfSchema: org.apache.avro.Schema): Unit = {
    if (dfSchema.getField("lower_bounds") == null) return
    def carry(field: String, toValue: Any => Any): Unit = {
      val parsed = parseKv(src, field)
      if (parsed.nonEmpty)
        dfr.put(field, kvList(dfSchema, field, parsed.map { case (k, v) => k -> toValue(v) }))
    }
    carry("value_counts", identity)
    carry("null_value_counts", identity)
    carry("lower_bounds", { case b: Array[Byte] => ByteBuffer.wrap(b); case v => v })
    carry("upper_bounds", { case b: Array[Byte] => ByteBuffer.wrap(b); case v => v })
  }

  // ---------------------------------------------- read: parsing

  private[tables] def toBytes(v: Any): Any = v match {
    case b: ByteBuffer =>
      val d = b.duplicate()
      val out = new Array[Byte](d.remaining())
      d.get(out)
      out
    case other => other
  }

  /** Parse one stats map field off a read `data_file` record: the
    * spec's k-v array form, or (leniently) an Avro string-keyed map
    * from nonconforming writers. Bounds values land as Array[Byte],
    * counts as Long. Missing/unparseable → empty (fail-open).
    */
  def parseKv(df: GenericRecord, field: String): Seq[(Int, Any)] =
    try {
      if (df.getSchema.getField(field) == null) return Seq.empty
      df.get(field) match {
        case l: java.util.List[_] =>
          val b = Seq.newBuilder[(Int, Any)]
          l.forEach {
            case r: GenericRecord =>
              (r.get("key"), r.get("value")) match {
                case (k: Number, v) if v != null => b += k.intValue() -> toBytes(v)
                case _ => ()
              }
            case _ => ()
          }
          b.result()
        case m: java.util.Map[_, _] =>
          val b = Seq.newBuilder[(Int, Any)]
          m.forEach { (k, v) =>
            k.toString.toIntOption.foreach(id => if (v != null) b += id -> toBytes(v))
          }
          b.result()
        case _ => Seq.empty
      }
    } catch { case _: Exception => Seq.empty }

  def boundsOf(df: GenericRecord, field: String): Map[Int, Array[Byte]] =
    parseKv(df, field).collect { case (k, v: Array[Byte]) => k -> v }.toMap

  def countsOf(df: GenericRecord, field: String): Map[Int, Long] =
    parseKv(df, field).collect { case (k, v: Number) => k -> v.longValue() }.toMap

  // ---------------------------------------------- read: pruning

  /** Code-point lexicographic compare — equals unsigned UTF-8 byte
    * order, the order string bounds were computed under.
    */
  private[graft] def codePointCompare(a: String, b: String): Int = {
    val x = a.codePoints().toArray
    val y = b.codePoints().toArray
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      if (x(i) != y(i)) return Integer.compare(x(i), y(i))
      i += 1
    }
    Integer.compare(x.length, y.length)
  }

  /** compare(decoded bound, filter literal) sign; None = not
    * comparable → never prune. Same coercions as
    * [[DeltaFileSkipping]] (numerics via BigDecimal, ISO dates
    * lexically), strings by code point.
    */
  private def compareValues(bound: Any, fv: Any): Option[Int] =
    try (bound, fv) match {
      case (b: BigDecimal, v) => Some(b.compare(BigDecimal(v.toString)))
      case (b: String, v)     => Some(codePointCompare(b, v.toString))
      case (Micros(b, _), v)  => literalMicros(v).map(java.lang.Long.compare(b, _))
      case _                  => None
    } catch { case _: Exception => None }

  /** IN-list coercion shared by every stats matcher (Delta, Iceberg,
    * Hudi) so the engines cannot drift on list-shaped literals.
    */
  private[tables] def inValues(v: Any): Seq[Any] = v match {
    case xs: Seq[_]      => xs
    case xs: Array[_]    => xs.toSeq
    case xs: Iterable[_] => xs.toSeq
    case other           => Seq(other)
  }

  /** May-match of ONE filter against a file's recorded bounds/counts.
    * Exactly [[DeltaFileSkipping]]'s stats semantics: `Lt` needs some
    * row < v ⇔ min < v, `Neq` prunes only a no-null constant file,
    * all-null files fail every null-rejecting operator. `Contains`
    * prunes by bounds when the PREFIX-FREE part allows: skipped here
    * (no stats semantics), kept may-match.
    */
  def statsMayMatch(
      f: Filter,
      dt: DataType,
      fieldId: Int,
      lowerBounds: Map[Int, Array[Byte]],
      upperBounds: Map[Int, Array[Byte]],
      nullCounts: Map[Int, Long],
      valueCounts: Map[Int, Long],
      recordCount: Long): Boolean = {
    val minV = lowerBounds.get(fieldId).flatMap(decodeSingle(dt, _))
    val maxV = upperBounds.get(fieldId).flatMap(decodeSingle(dt, _))
    val nullCount = nullCounts.get(fieldId)
    val total = valueCounts.get(fieldId).orElse(Option(recordCount).filter(_ >= 0))
    val allNull = (for { n <- total; nc <- nullCount } yield nc >= n).getOrElse(false)
    def inRange(v: Any): Boolean =
      minV.flatMap(compareValues(_, v)).forall(_ <= 0) &&
        maxV.flatMap(compareValues(_, v)).forall(_ >= 0)
    f.op match {
      // every operator of the filter algebra is null-rejecting (NULL
      // op x is never TRUE), so an all-null file fails them ALL —
      // including Neq/NotIn/Contains, which min/max can rarely prune
      case FilterOp.Eq | FilterOp.Lt | FilterOp.Le | FilterOp.Gt | FilterOp.Ge |
          FilterOp.In | FilterOp.Neq | FilterOp.NotIn | FilterOp.Contains
          if allNull => false
      case FilterOp.Eq => inRange(f.value)
      case FilterOp.In => inValues(f.value).exists(inRange)
      case FilterOp.Lt => minV.flatMap(compareValues(_, f.value)).forall(_ < 0)
      case FilterOp.Le => minV.flatMap(compareValues(_, f.value)).forall(_ <= 0)
      case FilterOp.Gt => maxV.flatMap(compareValues(_, f.value)).forall(_ > 0)
      case FilterOp.Ge => maxV.flatMap(compareValues(_, f.value)).forall(_ >= 0)
      case FilterOp.Neq =>
        !(nullCount.contains(0L) &&
          minV.flatMap(compareValues(_, f.value)).contains(0) &&
          maxV.flatMap(compareValues(_, f.value)).contains(0))
      case FilterOp.NotIn =>
        !(nullCount.contains(0L) && inValues(f.value).exists(v =>
          minV.flatMap(compareValues(_, v)).contains(0) &&
            maxV.flatMap(compareValues(_, v)).contains(0)))
      case _ => true
    }
  }
}

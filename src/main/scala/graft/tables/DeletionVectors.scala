package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID
import java.util.zip.CRC32

/** Delta deletion vectors (merge-on-read DELETE), from the public
  * protocol spec (github.com/delta-io/delta PROTOCOL.md, "Deletion
  * Vectors" + "Deletion Vector Format" sections; the reference reads
  * DV tables transparently via delta-rs, deltalake_table.py:286-300).
  *
  * A DV marks physical row indexes of one parquet file as deleted
  * without rewriting the file. On-disk format:
  *
  *   - descriptor in the `add` action: `{storageType, pathOrInlineDv,
  *     offset?, sizeInBytes, cardinality}`; storageType `u` = relative
  *     file derived from a Z85-encoded UUID, `p` = absolute path,
  *     `i` = bitmap inlined as Z85 text;
  *   - DV file: 1 version byte (=1), then per stored DV:
  *     `<dataSize:int32 BE><data:dataSize bytes><crc32:int32 BE>`,
  *     with `offset` pointing at the dataSize word;
  *   - `data` is a RoaringBitmapArray in "portable" serialization:
  *     magic 1681511377 (int32 LE), number of 32-bit bitmaps
  *     (int64 LE), then each bitmap in the standard interoperable
  *     roaring format (github.com/RoaringBitmap/RoaringFormatSpec):
  *     cookie 12346 (sorted-array/bitset containers, with offset
  *     header) or 12347 (adds run containers + run flag bitset),
  *     u16 key / u16 cardinality-1 descriptive pairs, container data.
  *
  * Scale shape: bitmaps are loaded driver-side per surviving file
  * (they are metadata — KBs per file, like the stats JSON), shipped
  * to executors inside the filter expression, and applied as a
  * row-index anti-filter during the scan itself via
  * `_metadata.row_index` — no join, no shuffle, no file rewrite.
  */
object DeletionVectors {

  /** Z85 codec (the 4-byte-aligned base85 variant Delta uses for DV
    * UUIDs and inline bitmaps).
    */
  object Z85 {
    private val Alphabet =
      "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
    private val Dec: Array[Int] = {
      val a = Array.fill(128)(-1)
      Alphabet.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
      a
    }

    /** Encode; input is zero-padded to a 4-byte multiple (callers
      * carry the true length out of band, e.g. `sizeInBytes`).
      */
    def encode(bytes: Array[Byte]): String = {
      val padded =
        if (bytes.length % 4 == 0) bytes
        else bytes ++ Array.fill[Byte](4 - bytes.length % 4)(0)
      val sb = new java.lang.StringBuilder(padded.length / 4 * 5)
      var i = 0
      while (i < padded.length) {
        var v = 0L
        var j = 0
        while (j < 4) { v = (v << 8) | (padded(i + j) & 0xffL); j += 1 }
        val block = new Array[Char](5)
        j = 4
        while (j >= 0) { block(j) = Alphabet((v % 85).toInt); v /= 85; j -= 1 }
        sb.append(block)
        i += 4
      }
      sb.toString
    }

    def decode(s: String): Array[Byte] = {
      require(s.length % 5 == 0, s"Z85 input length ${s.length} not a multiple of 5")
      val out = new Array[Byte](s.length / 5 * 4)
      var i = 0
      while (i < s.length) {
        var v = 0L
        var j = 0
        while (j < 5) {
          val c = s.charAt(i + j)
          val d = if (c < 128) Dec(c.toInt) else -1
          require(d >= 0, s"invalid Z85 character '$c'")
          v = v * 85 + d
          j += 1
        }
        val o = i / 5 * 4
        out(o) = (v >>> 24).toByte
        out(o + 1) = (v >>> 16).toByte
        out(o + 2) = (v >>> 8).toByte
        out(o + 3) = v.toByte
        i += 5
      }
      out
    }
  }

  /** The `deletionVector` descriptor of an `add` action. */
  final case class DvDescriptor(
      storageType: String,
      pathOrInlineDv: String,
      offset: Option[Long],
      sizeInBytes: Int,
      cardinality: Long
  ) {

    /** On-disk location for storageType u/p (None for inline). */
    def filePath(tableUri: String): Option[Path] = storageType match {
      case "p" => Some(new Path(pathOrInlineDv))
      case "u" =>
        // last 20 chars = Z85 of the 16-byte UUID; any preceding chars
        // are a random directory prefix
        val prefix = pathOrInlineDv.dropRight(20)
        val bb = ByteBuffer.wrap(Z85.decode(pathOrInlineDv.takeRight(20)))
        val uuid = new UUID(bb.getLong, bb.getLong)
        val dir =
          if (prefix.isEmpty) new Path(tableUri) else new Path(tableUri, prefix)
        Some(new Path(dir, s"deletion_vector_$uuid.bin"))
      case "i" => None
      case other =>
        throw new IllegalArgumentException(s"unknown DV storageType '$other'")
    }

    /** The serialized RoaringBitmapArray bytes of this DV. */
    def readData(fs: FileSystem, tableUri: String): Array[Byte] = storageType match {
      case "i" => Z85.decode(pathOrInlineDv).take(sizeInBytes)
      case _ =>
        val p = filePath(tableUri).get
        val in = fs.open(p)
        try {
          require(in.readByte() == 1, s"unsupported DV file format version in $p")
          val off = offset.getOrElse(
            throw new IllegalArgumentException(s"DV descriptor for $p has no offset"))
          in.seek(off)
          val len = in.readInt() // big-endian
          require(len == sizeInBytes,
            s"DV size mismatch in $p: stored $len, descriptor $sizeInBytes")
          val data = new Array[Byte](len)
          in.readFully(data)
          val crc = in.readInt()
          val c = new CRC32; c.update(data)
          require(crc == c.getValue.toInt, s"DV checksum mismatch in $p at offset $off")
          data
        } finally in.close()
    }
  }

  /** Fold dying rows' positions into one deletion bitmap per file, in
    * ONE Spark job — the shared step of every DV-writing DML (Delta
    * DELETE/UPDATE/MERGE, the Iceberg v3 DELETE). `positions` holds
    * (file, row index) pairs, the file as `_metadata.file_path` spells
    * it. The pairs fold into compressed roaring bitmaps on the
    * executors ([[DvBitmapAgg]]), so the driver collects O(hit files)
    * bitmaps, never raw positions. Each bitmap is keyed by the file's
    * normalized path ([[DvDeleted.decodeMetadataPath]]) and unioned
    * with the file's existing DV, read through `oldDv`: a file holds
    * at most one DV, so the new one carries the old positions too.
    */
  private[tables] def foldPositions(
      positions: DataFrame,
      oldDv: String => Option[Array[Byte]]
  ): Seq[(String, RoaringBitmapArray)] =
    positions.toDF("file", "pos")
      .groupBy(col("file"))
      .agg(DvBitmapAgg.bitmap(col("pos")).as("dv"))
      .select(col("file"), col("dv.dv"))
      .collect().toSeq
      .map { r =>
        val key = DvDeleted.decodeMetadataPath(r.getString(0))
        val fresh = RoaringBitmapArray.deserialize(r.getAs[Array[Byte]](1))
        key -> oldDv(key).fold(fresh)(RoaringBitmapArray.deserialize(_).union(fresh))
      }

  /** Write one DV file holding a bitmap per (parquet file); returns
    * the descriptor for each input key. One file per commit — the
    * protocol explicitly supports many DVs at offsets within a file.
    */
  def writeDvFile(
      fs: FileSystem,
      tableUri: String,
      bitmaps: Seq[(String, RoaringBitmapArray)]
  ): Map[String, DvDescriptor] = {
    val uuid = UUID.randomUUID()
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits)
    val path = new Path(tableUri, s"deletion_vector_$uuid.bin")
    val out = fs.create(path, false)
    val result = Map.newBuilder[String, DvDescriptor]
    try {
      out.writeByte(1) // format version
      var pos = 1L
      bitmaps.foreach { case (key, bm) =>
        val data = bm.serialize
        val crc = new CRC32; crc.update(data)
        out.writeInt(data.length)
        out.write(data)
        out.writeInt(crc.getValue.toInt)
        result += key -> DvDescriptor(
          "u", Z85.encode(bb.array()), Some(pos), data.length, bm.cardinality)
        pos += 4L + data.length + 4L
      }
    } finally out.close()
    result.result()
  }
}

/** Immutable RoaringBitmapArray: a list of 32-bit roaring bitmaps,
  * index i covering row ids [i·2³², (i+1)·2³²). Supports the portable
  * serialization both ways; the writer always emits cookie 12346
  * (array/bitset containers), the reader additionally understands run
  * containers (cookie 12347) so bitmaps from other writers load.
  */
final class RoaringBitmapArray private[tables] (
    private val bitmaps: Array[RoaringBitmapArray.Bitmap32]) extends Serializable {
  import RoaringBitmapArray._

  def contains(rowIndex: Long): Boolean = {
    val high = (rowIndex >>> 32).toInt
    high < bitmaps.length && high >= 0 && bitmaps(high).contains((rowIndex & 0xffffffffL).toInt)
  }

  def cardinality: Long = bitmaps.map(_.cardinality).sum

  /** All set row indexes, ascending (test/merge helper; DV
    * cardinalities are bounded by rows-per-file).
    */
  def toArray: Array[Long] = {
    val out = Array.newBuilder[Long]
    bitmaps.zipWithIndex.foreach { case (bm, hi) =>
      bm.foreach(low => out += (hi.toLong << 32) | (low & 0xffffffffL))
    }
    out.result()
  }

  /** The set union with `other`: one linear merge of the two ascending
    * position lists.
    */
  private[graft] def union(other: RoaringBitmapArray): RoaringBitmapArray = {
    val a = toArray
    val b = other.toArray
    val out = new Array[Long](a.length + b.length)
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length || j < b.length) {
      val v = if (j == b.length || (i < a.length && a(i) <= b(j))) a(i) else b(j)
      if (i < a.length && a(i) == v) i += 1
      if (j < b.length && b(j) == v) j += 1
      out(n) = v
      n += 1
    }
    fromSorted(java.util.Arrays.copyOf(out, n))
  }

  def serialize: Array[Byte] = {
    val bodies = bitmaps.map(_.serialize)
    val bb = ByteBuffer.allocate(4 + 8 + bodies.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(Magic)
    bb.putLong(bitmaps.length.toLong)
    bodies.foreach(bb.put)
    bb.array()
  }
}

object RoaringBitmapArray {

  val Magic = 1681511377

  /** Build from distinct, ascending row indexes. */
  def fromSorted(indexes: Array[Long]): RoaringBitmapArray = {
    require(indexes.isEmpty || indexes.last >= 0, "row indexes must be non-negative")
    val n = if (indexes.isEmpty) 0 else (indexes.last >>> 32).toInt + 1
    val byHigh = Array.fill(n)(Array.newBuilder[Int])
    indexes.foreach { ix =>
      byHigh((ix >>> 32).toInt) += (ix & 0xffffffffL).toInt
    }
    new RoaringBitmapArray(byHigh.map(b => Bitmap32.fromSorted(b.result())))
  }

  def deserialize(bytes: Array[Byte]): RoaringBitmapArray = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == Magic,
      s"bad RoaringBitmapArray magic $magic (only the portable format is supported)")
    val n = bb.getLong
    require(n >= 0 && n <= Int.MaxValue, s"implausible bitmap count $n")
    new RoaringBitmapArray(Array.fill(n.toInt)(Bitmap32.read(bb)))
  }

  // ---- 32-bit roaring bitmap ----

  private val CookieNoRun = 12346
  private val CookieRun = 12347
  private val NoOffsetThreshold = 4
  private val ArrayMaxCard = 4096

  sealed trait Container extends Serializable {
    def contains(low: Char): Boolean
    def cardinality: Int
    def foreach(f: Char => Unit): Unit
  }

  final case class ArrayContainer(values: Array[Char]) extends Container {
    def contains(low: Char): Boolean = java.util.Arrays.binarySearch(values, low) >= 0
    def cardinality: Int = values.length
    def foreach(f: Char => Unit): Unit = values.foreach(f)
  }

  final case class BitsetContainer(words: Array[Long], cardinality: Int) extends Container {
    def contains(low: Char): Boolean =
      (words(low >>> 6) & (1L << (low & 63))) != 0
    def foreach(f: Char => Unit): Unit = {
      var i = 0
      while (i < 65536) { if (contains(i.toChar)) f(i.toChar); i += 1 }
    }
  }

  /** runs: value in [starts(i), starts(i)+lengths(i)] (inclusive). */
  final case class RunContainer(starts: Array[Char], lengths: Array[Char]) extends Container {
    def contains(low: Char): Boolean = {
      var i = java.util.Arrays.binarySearch(starts, low)
      if (i >= 0) return true
      i = -i - 2 // last run starting before low
      i >= 0 && low <= starts(i) + lengths(i)
    }
    def cardinality: Int = starts.indices.map(i => lengths(i) + 1).sum
    def foreach(f: Char => Unit): Unit = starts.indices.foreach { i =>
      (starts(i).toInt to starts(i).toInt + lengths(i).toInt).foreach(v => f(v.toChar))
    }
  }

  final case class Bitmap32(keys: Array[Char], containers: Array[Container])
      extends Serializable {

    def contains(v: Int): Boolean = {
      val i = java.util.Arrays.binarySearch(keys, ((v >>> 16) & 0xffff).toChar)
      i >= 0 && containers(i).contains((v & 0xffff).toChar)
    }

    def cardinality: Long = containers.map(_.cardinality.toLong).sum

    def foreach(f: Int => Unit): Unit = keys.indices.foreach { i =>
      containers(i).foreach(low => f((keys(i) << 16) | low))
    }

    /** Standard portable serialization, cookie 12346. The no-run
      * cookie admits only array/bitset bodies, so a run container
      * (possible after deserializing another writer's bitmap) is
      * converted to its array/bitset equivalent first — writing a run
      * body under cookie 12346 would corrupt the stream.
      */
    def serialize: Array[Byte] = {
      val normalized: Array[Container] = containers.map {
        case rc: RunContainer =>
          val vs = Array.newBuilder[Char]
          rc.foreach(vs += _)
          val lows = vs.result()
          if (lows.length <= ArrayMaxCard) ArrayContainer(lows)
          else {
            val words = new Array[Long](1024)
            lows.foreach(l => words(l >>> 6) |= (1L << (l & 63)))
            BitsetContainer(words, lows.length)
          }
        case other => other
      }
      val bodies: Array[Array[Byte]] = normalized.map {
        case ArrayContainer(vs) =>
          val b = ByteBuffer.allocate(vs.length * 2).order(ByteOrder.LITTLE_ENDIAN)
          vs.foreach(v => b.putShort(v.toShort))
          b.array()
        case BitsetContainer(words, _) =>
          val b = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
          words.foreach(b.putLong)
          b.array()
        case _: RunContainer => throw new IllegalStateException("normalized above")
      }
      val size = keys.length
      val headerLen = 8 + size * 4 + size * 4 // cookie+size, desc pairs, offsets
      val bb = ByteBuffer.allocate(headerLen + bodies.map(_.length).sum)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(CookieNoRun)
      bb.putInt(size)
      keys.indices.foreach { i =>
        bb.putShort(keys(i).toShort)
        bb.putShort((normalized(i).cardinality - 1).toShort)
      }
      var off = headerLen
      bodies.foreach { body => bb.putInt(off); off += body.length }
      bodies.foreach(bb.put)
      bb.array()
    }
  }

  object Bitmap32 {

    def fromSorted(vals: Array[Int]): Bitmap32 = {
      val keys = Array.newBuilder[Char]
      val containers = Array.newBuilder[Container]
      var i = 0
      while (i < vals.length) {
        val key = ((vals(i) >>> 16) & 0xffff).toChar
        var j = i
        while (j < vals.length && (((vals(j) >>> 16) & 0xffff).toChar == key)) j += 1
        val lows = java.util.Arrays.copyOfRange(vals, i, j).map(v => (v & 0xffff).toChar)
        keys += key
        containers += (
          if (lows.length <= ArrayMaxCard) ArrayContainer(lows)
          else {
            val words = new Array[Long](1024)
            lows.foreach(l => words(l >>> 6) |= (1L << (l & 63)))
            BitsetContainer(words, lows.length)
          })
        i = j
      }
      Bitmap32(keys.result(), containers.result())
    }

    /** Read one bitmap in the interoperable format (both cookies). */
    def read(bb: ByteBuffer): Bitmap32 = {
      val cookie = bb.getInt
      val (size, runFlags): (Int, Array[Byte]) =
        if ((cookie & 0xffff) == CookieRun) {
          val s = (cookie >>> 16) + 1
          val flags = new Array[Byte]((s + 7) / 8)
          bb.get(flags)
          (s, flags)
        } else if (cookie == CookieNoRun) (bb.getInt, null)
        else throw new IllegalArgumentException(s"bad roaring cookie $cookie")

      val keys = new Array[Char](size)
      val cards = new Array[Int](size)
      var i = 0
      while (i < size) {
        keys(i) = (bb.getShort & 0xffff).toChar
        cards(i) = (bb.getShort & 0xffff) + 1
        i += 1
      }
      // offset header present for cookie 12346 always, for 12347 only
      // with >= NoOffsetThreshold containers; sequential read → skip it
      if (runFlags == null || size >= NoOffsetThreshold)
        bb.position(bb.position() + size * 4)

      def isRun(i: Int): Boolean =
        runFlags != null && (runFlags(i / 8) & (1 << (i % 8))) != 0

      val containers = new Array[Container](size)
      i = 0
      while (i < size) {
        containers(i) =
          if (isRun(i)) {
            val n = bb.getShort & 0xffff
            val starts = new Array[Char](n)
            val lengths = new Array[Char](n)
            var r = 0
            while (r < n) {
              starts(r) = (bb.getShort & 0xffff).toChar
              lengths(r) = (bb.getShort & 0xffff).toChar
              r += 1
            }
            RunContainer(starts, lengths)
          } else if (cards(i) <= ArrayMaxCard) {
            val vs = new Array[Char](cards(i))
            var v = 0
            while (v < cards(i)) { vs(v) = (bb.getShort & 0xffff).toChar; v += 1 }
            ArrayContainer(vs)
          } else {
            val words = new Array[Long](1024)
            var w = 0
            while (w < 1024) { words(w) = bb.getLong; w += 1 }
            BitsetContainer(words, cards(i))
          }
        i += 1
      }
      Bitmap32(keys, containers)
    }
  }
}

/** Native filter predicate: is (file, rowIndex) marked deleted by the
  * table's DVs? `file` is `_metadata.file_path`; lookup keys are
  * scheme-stripped absolute paths ([[DvDeleted.normalizePath]]) — NOT
  * bare file names, because one partitioned write job emits the same
  * part-file name into every partition directory. Serialized roaring
  * bytes ship with the expression to every task; parsed once per task
  * via the transient lazy val, and the path→bitmap resolution is
  * memoized per file (metadata file_path repeats for every row of a
  * file). CODEGEN'D (r14): the generated code keeps the per-file
  * cached bitmap in mutable state — a path-equality branch plus a
  * bitmap probe per row, inside the whole-stage span, so DV-bearing
  * scans stay fused with the rest of the stage.
  */
case class DvDeleted(
    file: Expression,
    rowIndex: Expression,
    dvBytes: Map[String, Array[Byte]]
) extends BinaryExpression {

  override def left: Expression = file
  override def right: Expression = rowIndex
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_dv_deleted"

  @transient private lazy val parsed: Map[String, RoaringBitmapArray] =
    dvBytes.map { case (k, v) => k -> RoaringBitmapArray.deserialize(v) }

  /** Per-file resolution, called once per distinct file_path (from
    * both the interpreted memo and the generated code's cached
    * branch); null = no DV for the file.
    */
  def bitmapFor(path: UTF8String): RoaringBitmapArray =
    parsed.get(DvDeleted.decodeMetadataPath(path.toString)).orNull

  // single-entry memo: scans feed rows file-by-file, so the same
  // file_path string arrives millions of times in a row
  @transient private var lastPath: String = null
  @transient private var lastBitmap: RoaringBitmapArray = null

  override def nullSafeEval(fileAny: Any, idxAny: Any): Any = {
    val path = fileAny.asInstanceOf[UTF8String].toString
    if (path != lastPath) {
      lastPath = path
      lastBitmap = parsed.getOrElse(DvDeleted.decodeMetadataPath(path), null)
    }
    lastBitmap != null && lastBitmap.contains(idxAny.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fileEv = file.genCode(ctx)
    val idxEv = rowIndex.genCode(ctx)
    val self = ctx.addReferenceObj("dvDeleted", this, classOf[DvDeleted].getName)
    val lastPath = ctx.addMutableState(
      "org.apache.spark.unsafe.types.UTF8String", "dvLastPath")
    val lastBm = ctx.addMutableState("Object", "dvLastBm")
    val bm = classOf[RoaringBitmapArray].getName
    // lastPath is CLONED: the scan may reuse the UTF8String buffer,
    // and a stale reference into it would defeat the equality check
    ev.copy(code = code"""
      ${fileEv.code}
      ${idxEv.code}
      boolean ${ev.isNull} = ${fileEv.isNull} || ${idxEv.isNull};
      boolean ${ev.value} = false;
      if (!${ev.isNull}) {
        if ($lastPath == null || !$lastPath.equals(${fileEv.value})) {
          $lastPath = ${fileEv.value}.clone();
          $lastBm = $self.bitmapFor(${fileEv.value});
        }
        ${ev.value} = $lastBm != null && (($bm) $lastBm).contains(${idxEv.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(file = newLeft, rowIndex = newRight)
}

/** Per-file CONSTANT attribute attached at scan time — the any-typed
  * sibling of [[FileLongAttr]]: resolves the normalized
  * `_metadata.file_path` to a pre-computed CATALYST value (partition
  * values for the file, which the data files of Delta/Iceberg tables
  * do not store). This is what lets the scan assembly read ALL
  * surviving files in ONE parquet relation instead of one union
  * branch per distinct partition tuple: the plan width stays flat as
  * partition count grows, and the per-row cost is a memoized map
  * probe (metadata file_path repeats for every row of a file).
  * CODEGEN'D (r14): the map reference and per-file cached value live
  * in the generated class's state — steady-state rows pay one
  * UTF8String equality check and a cast, inside the whole-stage span.
  * k columns attached through [[PartitionAttach.tupleField]] share
  * ONE map object (struct-typed tuple, one probe, k field reads).
  */
case class FileConstAttr(
    file: Expression,
    attrs: Map[String, Any],
    override val dataType: DataType
) extends UnaryExpression {

  override def child: Expression = file
  override def nullable: Boolean = true
  override def prettyName: String = "graft_file_const_attr"

  /** Per-file resolution, once per distinct file_path. */
  def lookup(path: UTF8String): Any =
    attrs.getOrElse(DvDeleted.decodeMetadataPath(path.toString), null)

  @transient private var lastPath: String = null
  @transient private var lastVal: Any = null

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val fileAny = file.eval(input)
    if (fileAny == null) return null
    val path = fileAny.asInstanceOf[UTF8String].toString
    if (path != lastPath) {
      lastPath = path
      lastVal = attrs.getOrElse(DvDeleted.decodeMetadataPath(path), null)
    }
    lastVal
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fileEv = file.genCode(ctx)
    val self = ctx.addReferenceObj("fileConst", this, classOf[FileConstAttr].getName)
    val lastPath = ctx.addMutableState(
      "org.apache.spark.unsafe.types.UTF8String", "fcaLastPath")
    val lastVal = ctx.addMutableState("Object", "fcaLastVal")
    val javaType = CodeGenerator.javaType(dataType)
    val extract =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) $lastVal).${javaType}Value()"
      else s"($javaType) $lastVal"
    ev.copy(code = code"""
      ${fileEv.code}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${fileEv.isNull}) {
        if ($lastPath == null || !$lastPath.equals(${fileEv.value})) {
          $lastPath = ${fileEv.value}.clone();
          $lastVal = $self.lookup(${fileEv.value});
        }
        if ($lastVal != null) {
          ${ev.isNull} = false;
          ${ev.value} = $extract;
        }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(file = newChild)
}

/** Column form of [[DvDeleted.decodeMetadataPath]]: the scan's
  * URI-ENCODED `_metadata.file_path` decoded to the raw on-disk
  * spelling (scheme-stripped), so string comparisons against
  * log/timeline paths match even for escaped partition directories.
  * Apply ONLY to metadata-derived columns — decoding a raw path that
  * happens to contain literal '%XX' would corrupt it.
  */
case class MetadataPathDecode(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_metadata_path_decode"

  /** Per-file decode, once per distinct file_path. */
  def decoded(path: UTF8String): UTF8String =
    UTF8String.fromString(DvDeleted.decodeMetadataPath(path.toString))

  @transient private var lastPath: String = null
  @transient private var lastVal: UTF8String = null

  override def nullSafeEval(input: Any): Any = {
    val path = input.asInstanceOf[UTF8String].toString
    if (path != lastPath) {
      lastPath = path
      lastVal = UTF8String.fromString(DvDeleted.decodeMetadataPath(path))
    }
    lastVal
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childEv = child.genCode(ctx)
    val self = ctx.addReferenceObj("pathDecode", this, classOf[MetadataPathDecode].getName)
    val lastPath = ctx.addMutableState(
      "org.apache.spark.unsafe.types.UTF8String", "mpdLastPath")
    val lastVal = ctx.addMutableState(
      "org.apache.spark.unsafe.types.UTF8String", "mpdLastVal")
    ev.copy(code = code"""
      ${childEv.code}
      boolean ${ev.isNull} = ${childEv.isNull};
      org.apache.spark.unsafe.types.UTF8String ${ev.value} = null;
      if (!${ev.isNull}) {
        if ($lastPath == null || !$lastPath.equals(${childEv.value})) {
          $lastPath = ${childEv.value}.clone();
          $lastVal = $self.decoded(${childEv.value});
        }
        ${ev.value} = $lastVal;
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DvDeleted {
  /** `file:///tmp/t/seg=1/part-0.parquet` → `/tmp/t/seg=1/part-0.parquet`:
    * both the metadata column and add-action paths reduce to the same
    * key regardless of URI scheme/authority rendering.
    */
  def normalizePath(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** `_metadata.file_path` strings are URI-ENCODED (a directory named
    * `part=c d` arrives as `part=c%20d`), while log/manifest paths
    * keep the raw on-disk spelling — so the PROBE side of every
    * file-keyed map must percent-decode ONCE to land on the same key
    * [[normalizePath]] produced from the raw path. Strict URI
    * decoding ('%XX' only — '+' stays '+', unlike URLDecoder).
    */
  def decodeMetadataPath(p: String): String =
    try new java.net.URI(p).getPath
    catch { case _: java.net.URISyntaxException => normalizePath(p) }
}

/** Per-file long attribute attached at scan time, keyed like
  * [[DvDeleted]] on the normalized `_metadata.file_path`: resolves to
  * `attrs(file) + row_index` when `addIndex` (row tracking's fresh
  * row id = baseRowId + position in file) or the bare `attrs(file)`
  * otherwise (`defaultRowCommitVersion`). Null for files absent from
  * the map — files written before row tracking was enabled have no
  * ids, and surfacing null is honest where inventing ids would not
  * be. Driver-side metadata in the expression, no join, no shuffle.
  */
case class FileLongAttr(
    file: Expression,
    rowIndex: Expression,
    attrs: Map[String, Long],
    addIndex: Boolean
) extends BinaryExpression {

  override def left: Expression = file
  override def right: Expression = rowIndex
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_file_long_attr"

  /** Per-file resolution, once per distinct file_path. */
  def lookup(path: UTF8String): java.lang.Long =
    attrs.get(DvDeleted.decodeMetadataPath(path.toString))
      .map(java.lang.Long.valueOf).orNull

  @transient private var lastPath: String = null
  @transient private var lastAttr: java.lang.Long = null

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val fileAny = file.eval(input)
    if (fileAny == null) return null
    val path = fileAny.asInstanceOf[UTF8String].toString
    if (path != lastPath) {
      lastPath = path
      lastAttr = attrs.get(DvDeleted.decodeMetadataPath(path))
        .map(java.lang.Long.valueOf).orNull
    }
    if (lastAttr == null) null
    else if (addIndex) {
      val idx = rowIndex.eval(input)
      if (idx == null) null else lastAttr.longValue() + idx.asInstanceOf[Long]
    } else lastAttr.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fileEv = file.genCode(ctx)
    val idxEv = rowIndex.genCode(ctx)
    val self = ctx.addReferenceObj("fileLong", this, classOf[FileLongAttr].getName)
    val lastPath = ctx.addMutableState(
      "org.apache.spark.unsafe.types.UTF8String", "flaLastPath")
    val lastVal = ctx.addMutableState("java.lang.Long", "flaLastVal")
    // mirror eval: the row index gates the result only when addIndex
    val idxCode = if (addIndex) idxEv.code else EmptyBlock
    val compute =
      if (addIndex)
        code"""
        if ($lastVal == null || ${idxEv.isNull}) { ${ev.isNull} = true; }
        else { ${ev.value} = $lastVal.longValue() + ${idxEv.value}; }"""
      else
        code"""
        if ($lastVal == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $lastVal.longValue(); }"""
    ev.copy(code = code"""
      ${fileEv.code}
      $idxCode
      boolean ${ev.isNull} = ${fileEv.isNull};
      long ${ev.value} = -1L;
      if (!${ev.isNull}) {
        if ($lastPath == null || !$lastPath.equals(${fileEv.value})) {
          $lastPath = ${fileEv.value}.clone();
          $lastVal = $self.lookup(${fileEv.value});
        }
        $compute
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(file = newLeft, rowIndex = newRight)
}

package graft.tables

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Aggregates physical row indexes into a serialized portable
  * [[RoaringBitmapArray]] — the executor-side half of every
  * deletion-vector write ([[DeletionVectors.foldPositions]]).
  *
  * Grouped by file, this turns the matched `(file, row_index)` pairs
  * into one `(dv bytes, cardinality)` row per file ON THE EXECUTORS,
  * so the driver collects a payload of O(affected files) compressed
  * bitmaps instead of O(deleted rows) raw longs — the difference
  * between a wide DELETE surviving on a 100 TB table and the driver
  * dying. The partial→final shuffle payload is the same compressed
  * bitmap (see [[serialize]]), so a skewed file's indexes never cross
  * the wire uncompressed either.
  *
  * The fourth TypedImperativeAggregate in the engine (TopKRows,
  * ExtremumBy, FrequentItemsSketch) — same ObjectHashAggregate
  * eligibility, no per-partition sort.
  */
case class DvBitmapAgg(
    rowIndex: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[DvBitmapAgg.Buffer] {

  override def children: Seq[Expression] = Seq(rowIndex)
  override def nullable: Boolean = false
  override def dataType: DataType = DvBitmapAgg.resultSchema
  override def prettyName: String = "graft_dv_bitmap"

  override def createAggregationBuffer(): DvBitmapAgg.Buffer = new DvBitmapAgg.Buffer

  override def update(buf: DvBitmapAgg.Buffer, input: InternalRow): DvBitmapAgg.Buffer = {
    val v = rowIndex.eval(input)
    if (v != null) buf.rows += v.asInstanceOf[Long]
    buf
  }

  override def merge(buf: DvBitmapAgg.Buffer, other: DvBitmapAgg.Buffer): DvBitmapAgg.Buffer = {
    buf.rows ++= other.rows
    buf
  }

  override def eval(buf: DvBitmapAgg.Buffer): Any = {
    val bm = RoaringBitmapArray.fromSorted(buf.sortedDistinct)
    new GenericInternalRow(Array[Any](bm.serialize, bm.cardinality))
  }

  // the spill/shuffle wire format IS the compressed bitmap
  override def serialize(buf: DvBitmapAgg.Buffer): Array[Byte] =
    RoaringBitmapArray.fromSorted(buf.sortedDistinct).serialize

  override def deserialize(bytes: Array[Byte]): DvBitmapAgg.Buffer = {
    val b = new DvBitmapAgg.Buffer
    b.rows ++= RoaringBitmapArray.deserialize(bytes).toArray
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): DvBitmapAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): DvBitmapAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(children: IndexedSeq[Expression]): DvBitmapAgg =
    copy(rowIndex = children(0))
}

object DvBitmapAgg {

  /** Row-index accumulator; deduped + sorted once, at serialize/eval. */
  final class Buffer {
    val rows: ArrayBuffer[Long] = ArrayBuffer.empty[Long]
    def sortedDistinct: Array[Long] = rows.toArray.distinct.sorted
  }

  val resultSchema: StructType = StructType(Seq(
    StructField("dv", BinaryType), StructField("cardinality", LongType)))

  /** `struct(dv: binary, cardinality: bigint)` of the group's row
    * indexes as a portable roaring bitmap.
    */
  def bitmap(rowIndex: Column): Column =
    Bridge.column(DvBitmapAgg(Bridge.expression(rowIndex)).toAggregateExpression())
}

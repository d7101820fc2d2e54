package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Inverted-index blocking as one aggregate: grouped by a token, the
  * `(a, b)` pairs of ids with `a < b` among the group's rows — when
  * the group's row count (null ids included) is in `[2, maxDf]`, and
  * an empty array otherwise. Null ids count toward that document
  * frequency but never pair, so the result equals the self-join
  * `blocked a JOIN blocked b ON a.tok = b.tok AND a.id < b.id` over
  * the tokens of frequency in `[2, maxDf]`, per group.
  *
  * Scale shape: the posting list is capped while it is built. A buffer
  * holds at most `maxDf` ids; once its count passes `maxDf` the ids are
  * dropped and only the count travels on, so a stop-token shared by
  * millions of rows is a counter, never one huge row. Partial buffers
  * merge map-side, so one shuffle on the token does the df count and
  * the posting list together.
  */
case class PostingPairs(
    child: Expression,
    maxDf: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[PostingPairs.Buffer] {

  require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", child.dataType, nullable = false),
    StructField("b", child.dataType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_posting_pairs"

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(child.dataType)
  @transient private lazy val bufferProjection =
    UnsafeProjection.create(Array[DataType](LongType, ArrayType(child.dataType)))

  override def createAggregationBuffer(): PostingPairs.Buffer = new PostingPairs.Buffer()

  override def update(buf: PostingPairs.Buffer, input: InternalRow): PostingPairs.Buffer = {
    buf.n += 1
    if (buf.n > maxDf) buf.ids.clear()
    else {
      val v = child.eval(input)
      if (v != null) buf.ids += InternalRow.copyValue(v)
    }
    buf
  }

  override def merge(buf: PostingPairs.Buffer, other: PostingPairs.Buffer): PostingPairs.Buffer = {
    buf.n += other.n
    if (buf.n > maxDf) buf.ids.clear() else buf.ids ++= other.ids
    buf
  }

  override def eval(buf: PostingPairs.Buffer): Any =
    if (buf.n < 2 || buf.n > maxDf) new GenericArrayData(Array.empty[Any])
    else {
      val ids = buf.ids.toArray.sorted(ordering)
      val out = Array.newBuilder[Any]
      var p = 0
      while (p < ids.length) {
        var q = p + 1
        while (q < ids.length) {
          // equal ids (a duplicated id) never pair, as with a strict `<`
          if (ordering.lt(ids(p), ids(q))) out += new GenericInternalRow(Array[Any](ids(p), ids(q)))
          q += 1
        }
        p += 1
      }
      new GenericArrayData(out.result())
    }

  override def serialize(buf: PostingPairs.Buffer): Array[Byte] =
    bufferProjection(InternalRow(buf.n, new GenericArrayData(buf.ids.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): PostingPairs.Buffer = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val buf = new PostingPairs.Buffer()
    buf.n = row.getLong(0)
    val ids = row.getArray(1)
    var i = 0
    while (i < ids.numElements()) {
      buf.ids += InternalRow.copyValue(ids.get(i, child.dataType))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): PostingPairs =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): PostingPairs =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(children: IndexedSeq[Expression]): PostingPairs =
    copy(child = children.head)
}

object PostingPairs {
  /** Rows seen (null ids included) and the non-null ids, kept only
    * while the count is at most `maxDf`.
    */
  final class Buffer {
    var n: Long = 0L
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
  }

  def postingPairs(id: Column, maxDf: Int): Column =
    Bridge.column(PostingPairs(Bridge.expression(id), maxDf).toAggregateExpression())
}

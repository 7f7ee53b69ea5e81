package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** capped_collect(entry, cap): the group's entries as an array, or NULL
  * when the group has more than `cap` rows — a bounded collect_list and
  * the mega-bucket guard of the near-dup core (`Dedup.bandJoin`) in one
  * aggregate.
  *
  * The buffer holds at most cap + 1 entries, in update and in merge: a
  * group's buffer holds min(rows, cap + 1) entries, so "more than cap
  * rows" is decided exactly (on row count, null entries included) while
  * a mega-bucket's memory stays bounded however many rows it has. `cap`
  * must be a non-negative integer literal. Entry order follows input and
  * merge order; callers that need an order sort the result.
  */
case class CappedCollect(child: Expression, capExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[Any]]
    with BinaryLike[Expression] {

  override def left: Expression = child
  override def right: Expression = capExpr
  override def prettyName: String = "capped_collect"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(child.dataType, child.nullable)

  private lazy val cap: Int = capExpr.eval().asInstanceOf[Int]

  override def checkInputDataTypes(): TypeCheckResult =
    if (capExpr.dataType == IntegerType && capExpr.foldable &&
        capExpr.eval() != null && cap >= 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a non-negative integer literal cap, got ${capExpr.sql}")

  override def createAggregationBuffer(): ArrayBuffer[Any] = ArrayBuffer.empty

  override def update(buf: ArrayBuffer[Any], input: InternalRow): ArrayBuffer[Any] = {
    if (buf.length <= cap) buf += InternalRow.copyValue(child.eval(input))
    buf
  }

  override def merge(buf: ArrayBuffer[Any], other: ArrayBuffer[Any]): ArrayBuffer[Any] = {
    val it = other.iterator
    while (buf.length <= cap && it.hasNext) buf += it.next()
    buf
  }

  override def eval(buf: ArrayBuffer[Any]): Any =
    if (buf.length > cap) null else new GenericArrayData(buf.toArray)

  private lazy val projection =
    UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(buf: ArrayBuffer[Any]): Array[Byte] =
    projection(InternalRow(new GenericArrayData(buf.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Any] = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val buf = createAggregationBuffer()
    row.getArray(0).foreach(child.dataType, (_, x) => buf += x)
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): CappedCollect =
    copy(mutableAggBufferOffset = n)

  override def withNewInputAggBufferOffset(n: Int): CappedCollect =
    copy(inputAggBufferOffset = n)

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : CappedCollect = copy(child = l, capExpr = r)
}

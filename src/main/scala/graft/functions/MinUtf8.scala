package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `min` over a string column as a [[TypedImperativeAggregate]] — the
  * ObjectHashAggregate-eligible twin of the builtin `min(string)`.
  *
  * Why it exists (r20, guide "expressions and codegen"): a var-length
  * string cannot live in HashAggregate's fixed-width UnsafeRow buffer, so
  * ONE `min(redacted)` in q_pii_scan's aggregate forced the whole
  * operator to SortAggregate — both aggregation levels paid a full Sort
  * of their input (the partial level sorts every scanned row) for a
  * 6-function aggregate whose other five are plain longs. Typed
  * imperative aggregates ride ObjectHashAggregateExec, which hash-groups
  * with object buffers: no sort on either level, and the co-grouped
  * declarative sums keep their fast path.
  *
  * Semantics are EXACTLY the builtin's: the minimum under UTF8String's
  * binary comparison (the UTF8_BINARY collation — bytewise unsigned,
  * which for valid UTF-8 equals code-point order), nulls skipped, empty
  * group → null. Pinned against `min(...)` itself in MinUtf8Spec.
  */
case class MinUtf8Agg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[UTF8String] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "min_utf8"

  override def createAggregationBuffer(): UTF8String = null

  override def update(buf: UTF8String, input: InternalRow): UTF8String = {
    val v = child.eval(input).asInstanceOf[UTF8String]
    if (v == null) buf
    // clone: the input row's UTF8String views a reused scan/codegen buffer
    else if (buf == null || v.compareTo(buf) < 0) v.clone()
    else buf
  }

  override def merge(buf: UTF8String, other: UTF8String): UTF8String =
    if (other == null) buf
    else if (buf == null || other.compareTo(buf) < 0) other
    else buf

  override def eval(buf: UTF8String): Any = buf

  // presence byte distinguishes "no value seen" from the empty string
  override def serialize(buf: UTF8String): Array[Byte] =
    if (buf == null) Array[Byte](0)
    else {
      val b = buf.getBytes
      val out = new Array[Byte](b.length + 1)
      out(0) = 1
      System.arraycopy(b, 0, out, 1, b.length)
      out
    }

  override def deserialize(bytes: Array[Byte]): UTF8String =
    if (bytes(0) == 0) null
    else UTF8String.fromBytes(bytes, 1, bytes.length - 1)

  override def withNewMutableAggBufferOffset(o: Int): MinUtf8Agg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinUtf8Agg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): MinUtf8Agg = copy(child = c.head)
}

object MinUtf8 {
  def apply(c: Column): Column =
    ColumnBridge.toColumn(
      MinUtf8Agg(ColumnBridge.toExpression(c)).toAggregateExpression())
}

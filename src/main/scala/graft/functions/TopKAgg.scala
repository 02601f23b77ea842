package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `top_vals(x, k)`: the k LARGEST double values of the group, as an
  * array sorted descending — an exact top-k AGGREGATE with a bounded
  * buffer (a k-element min-heap per partial), where the equivalent
  * declarative forms either materialize the whole group
  * (`slice(sort_array(collect_list(x)), …)` — unbounded executor state,
  * OOM bait on a hot group) or window-rank the raw rows (a full shuffle
  * of every row to its group's partition). As a TypedImperativeAggregate
  * it participates in partial aggregation: each map task sends at most k
  * doubles per group up the exchange, so the shuffle volume is
  * groups × k regardless of input size — the same reason sum() scales.
  *
  * Determinism: the result is the VALUE multiset of the k largest
  * elements — heap insertion order never affects it, so any partition
  * order and any merge tree produce identical output (ties are by value;
  * equal doubles are interchangeable). NaNs follow Spark's total order
  * (NaN sorts above all values, as in sort_array desc), so the
  * slice(sort_array(collect_list…)) reference is bit-identical. Nulls are skipped, like every Spark aggregate.
  */
case class TopVals(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[java.lang.Double]] {

  // k is a query-shape constant (like percentile's fraction): foldable only
  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, kExpr.foldable) match {
      case (DoubleType, true) =>
        if (kExpr.eval().asInstanceOf[Number].intValue > 0) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("top_vals k must be a positive literal")
      case (DoubleType, false) =>
        TypeCheckResult.TypeCheckFailure("top_vals k must be a literal")
      case (t, _) =>
        TypeCheckResult.TypeCheckFailure(s"top_vals expects a double column, got ${t.simpleString}")
    }

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "top_vals"

  // min-heap under Spark's double TOTAL order (NaN greatest, -0 < 0), so
  // the kept set matches sort_array(desc)'s prefix exactly
  private def newHeap() = new java.util.PriorityQueue[java.lang.Double](
    k + 1,
    (a: java.lang.Double, b: java.lang.Double) =>
      java.lang.Double.compare(a.doubleValue, b.doubleValue))

  override def createAggregationBuffer(): java.util.PriorityQueue[java.lang.Double] =
    newHeap()

  override def update(
      buf: java.util.PriorityQueue[java.lang.Double],
      input: InternalRow): java.util.PriorityQueue[java.lang.Double] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Double])
    buf
  }

  private def offer(
      buf: java.util.PriorityQueue[java.lang.Double], v: Double): Unit = {
    if (buf.size < k) buf.offer(v)
    else if (java.lang.Double.compare(v, buf.peek.doubleValue) > 0) {
      buf.poll(); buf.offer(v)
    }
  }

  override def merge(
      a: java.util.PriorityQueue[java.lang.Double],
      b: java.util.PriorityQueue[java.lang.Double]): java.util.PriorityQueue[java.lang.Double] = {
    val it = b.iterator()
    while (it.hasNext) offer(a, it.next().doubleValue)
    a
  }

  override def eval(buf: java.util.PriorityQueue[java.lang.Double]): Any = {
    val arr = new Array[Double](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { arr(i) = it.next().doubleValue; i += 1 }
    // descending under the same total order the heap kept
    java.util.Arrays.sort(arr)
    val out = new Array[Double](arr.length)
    var j = 0
    while (j < arr.length) { out(j) = arr(arr.length - 1 - j); j += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.PriorityQueue[java.lang.Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putDouble(it.next().doubleValue)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[java.lang.Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val heap = newHeap()
    var i = 0
    while (i < n) { heap.offer(bb.getDouble); i += 1 }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopVals =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopVals =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopVals =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: keeps the k SMALLEST `ord` values seen (a
  * k-bounded binary heap) and returns their `payload`s as an array in
  * ascending `ord` order.
  *
  * This is the rerank primitive every ANN path needs: the round-5
  * plans ranked candidates with `row_number().over(partitionBy(
  * query_id))`, which SHUFFLES every candidate row to rank them and
  * then discards all but k — at 100 TB the rerank exchange is
  * candidate-sized. As a TypedImperativeAggregate the heap combines
  * map-side: each task ships at most k×groups buffered rows, so the
  * exchange is k×partitions per group, independent of candidate count.
  *
  * Determinism: selection of the least k under a TOTAL order is
  * merge-order-insensitive, so callers must make `ord` total — the ANN
  * paths use struct(−score, neighbor_id) (score desc, id tie-break),
  * which is exactly the window ordering they replaced; results are
  * bit-identical. Rows whose `ord` is null or NaN — for a struct
  * `ord`, whose leading field is — are dropped: the ANN reranks order
  * by struct(−score, id) and a null/NaN score (a zero-norm vector's
  * cosine) must not rank, and dropping it here rather than in a filter
  * keeps the score from being evaluated again in the filter.
  */
case class BoundedTopK(ord: Expression, payload: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.PriorityQueue[Array[Any]]]
    with BinaryLike[Expression] {
  require(k >= 1, "need k >= 1")

  override def left: Expression = ord
  override def right: Expression = payload
  override def prettyName: String = "bounded_topk"
  // containsNull tracks the payload: a nullable payload column CAN put
  // nulls in the result array, and claiming otherwise lets the
  // optimizer elide null checks downstream
  override def dataType: DataType =
    ArrayType(payload.dataType, containsNull = payload.nullable)
  override def nullable: Boolean = false

  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(ord.dataType)
  // max-at-head: the heap root is the WORST kept element, evicted when
  // a better candidate arrives on a full heap
  @transient private lazy val cmp = new java.util.Comparator[Array[Any]] {
    override def compare(a: Array[Any], b: Array[Any]): Int =
      ordering.compare(b(0), a(0))
  }

  override def createAggregationBuffer(): java.util.PriorityQueue[Array[Any]] =
    // small initial capacity: with millions of groups, eagerly sizing
    // every buffer to k+1 slots wastes O(k) pointers per 1-row group;
    // the queue grows to k only for groups that actually fill it
    new java.util.PriorityQueue[Array[Any]](math.min(k + 1, 16), cmp)

  private def insert(buf: java.util.PriorityQueue[Array[Any]],
                     o: Any, p: Any): Unit = {
    if (buf.size < k) {
      buf.offer(Array(o, p))
    } else if (ordering.compare(o, buf.peek()(0)) < 0) {
      buf.poll()
      buf.offer(Array(o, p))
    }
  }

  // the value whose null or NaN drops a row: a struct ord's leading
  // field, else the ord itself
  @transient private lazy val leadOf: Any => Any = ord.dataType match {
    case s: StructType if s.nonEmpty =>
      val t = s.head.dataType
      (o: Any) => {
        val r = o.asInstanceOf[InternalRow]
        if (r.isNullAt(0)) null else r.get(0, t)
      }
    case _ => (o: Any) => o
  }

  private def unranked(o: Any): Boolean = o == null || (leadOf(o) match {
    case null => true
    case d: Double => d.isNaN
    case f: Float => f.isNaN
    case _ => false
  })

  override def update(buf: java.util.PriorityQueue[Array[Any]],
                      input: InternalRow): java.util.PriorityQueue[Array[Any]] = {
    val o = ord.eval(input)
    if (!unranked(o)) {
      // fast reject without copying: only the k best rows of a task
      // ever allocate (UnsafeRow-backed values must be copied to
      // outlive the input row)
      if (buf.size < k || ordering.compare(o, buf.peek()(0)) < 0) {
        insert(buf, InternalRow.copyValue(o), InternalRow.copyValue(payload.eval(input)))
      }
    }
    buf
  }

  override def merge(buf: java.util.PriorityQueue[Array[Any]],
                     other: java.util.PriorityQueue[Array[Any]])
  : java.util.PriorityQueue[Array[Any]] = {
    val it = other.iterator()
    while (it.hasNext) { val e = it.next(); insert(buf, e(0), e(1)) }
    buf
  }

  override def eval(buf: java.util.PriorityQueue[Array[Any]]): Any = {
    val arr = buf.toArray(new Array[Array[Any]](buf.size))
    java.util.Arrays.sort(arr, (a: Array[Any], b: Array[Any]) => ordering.compare(a(0), b(0)))
    new GenericArrayData(arr.map(_(1)))
  }

  @transient private lazy val pairProjection =
    UnsafeProjection.create(Array(ord.dataType, payload.dataType))

  override def serialize(buf: java.util.PriorityQueue[Array[Any]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val e = it.next()
      val row = pairProjection.apply(InternalRow(e(0), e(1)))
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, null)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[Array[Any]] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(2)
      row.pointTo(rowBytes, len)
      buf.offer(Array(row.get(0, ord.dataType), row.get(1, payload.dataType)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BoundedTopK =
    copy(ord = l, payload = r)
}

object TopKAggregate {
  /** Column entry point: array of the k payloads with the smallest
    * `ord` values, ascending. Make `ord` a total order (tie-break
    * column) for deterministic results. */
  def bounded_topk(ord: Column, payload: Column, k: Int): Column =
    ColumnBridge.column(BoundedTopK(ColumnBridge.expression(ord),
      ColumnBridge.expression(payload), k).toAggregateExpression())
}

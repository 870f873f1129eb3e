package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native bounded top-k aggregate: `graft_topk(score, id, k)` keeps
  * the k best (score DESC, id ASC — a total order) pairs per group in
  * a k-bounded heap and emits them best-first as
  * `ARRAY<STRUCT<score DOUBLE, id BIGINT>>`.
  *
  * This is the SCALABLE grouped top-k: the window-rank formulation
  * (`row_number() OVER (PARTITION BY g ORDER BY …) <= k`) must
  * shuffle and SORT every candidate row — with few groups (ANN
  * probes!) that is all-rows-to-few-tasks. As a
  * [[TypedImperativeAggregate]] the heap is PARTIAL-aggregable:
  * every map task reduces its slice to ≤ k pairs per group before
  * the exchange, the shuffle carries ≤ k·maps rows, and the merge is
  * heap-union. Same reason sketches aggregate map-side — top-k IS a
  * mergeable sketch with exact semantics.
  *
  * Determinism: the (−score, id) ordering is total, so heap content
  * and emission order are independent of partitioning and merge
  * order. Null score/id pairs are skipped.
  */
case class BoundedTopK(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  // worst element dequeues first: smaller score (tie: larger id) is worse
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.by((t: (Double, Long)) => (-t._1, t._2))

  lazy val k: Int = kExpr.eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"graft_topk: k must be an INT literal, got $other")
  }

  override def children: Seq[Expression] = Seq(score, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_topk"

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType, kExpr) match {
      case (DoubleType, LongType, Literal(i: Int, IntegerType)) if i >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_topk expects (DOUBLE, BIGINT, positive INT literal), got " +
          s"(${score.dataType}, ${id.dataType}, $kExpr)")
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val cand = (s.asInstanceOf[Double], i.asInstanceOf[Long])
      if (buf.size < k) buf.enqueue(cand)
      else if (worstFirst.lt(cand, buf.head)) { buf.dequeue(); buf.enqueue(cand) }
    }
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach { cand =>
      if (buf.size < k) buf.enqueue(cand)
      else if (worstFirst.lt(cand, buf.head)) { buf.dequeue(); buf.enqueue(cand) }
    }
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    // ascending in worstFirst == descending score == best-first
    val best = buf.toArray.sorted(worstFirst)
    new GenericArrayData(best.map(t => InternalRow(t._1, t._2)))
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.enqueue((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BoundedTopK =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedTopK =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native KMV (k-minimum-values / bottom-k) sketch aggregate:
  * `graft_kmv(h, k)` keeps the k SMALLEST DISTINCT values of a BIGINT
  * hash column per group and emits them ascending as `ARRAY<BIGINT>`.
  *
  * The canonical distinct-value synopsis (Bar-Yossef et al. 2002;
  * Beyer et al. SIGMOD'07; Cohen & Kaplan's bottom-k sketches): a
  * bottom-k of a uniform hash is a fixed-size uniform sample of the
  * DISTINCT set, mergeable by union-and-truncate — so set overlap
  * between corpora is estimable from two k-long arrays, no pairwise
  * document join. Unlike [[BoundedTopK]] (a multiset top-k over
  * (score, id) pairs) this DEDUPLICATES: re-observed hashes do not
  * occupy additional slots, which is exactly what makes the bottom-k a
  * distinct-sample.
  *
  * Scale: a [[TypedImperativeAggregate]], so every map task reduces
  * its slice to ≤ k longs per group before the exchange — the corpus
  * never needs a (group, hash) pre-distinct shuffle; merge is bounded
  * union. Deterministic: sketch content is a pure function of the
  * distinct hash SET (order-free), and emission is ascending.
  */
case class KmvSketch(
    hash: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  lazy val k: Int = kExpr.eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"graft_kmv: k must be an INT literal, got $other")
  }

  override def children: Seq[Expression] = Seq(hash, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_kmv"

  override def checkInputDataTypes(): TypeCheckResult =
    (hash.dataType, kExpr) match {
      case (LongType, Literal(i: Int, IntegerType)) if i >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_kmv expects (BIGINT, positive INT literal), got " +
          s"(${hash.dataType}, $kExpr)")
    }

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def add(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last) {
      if (buf.add(v)) { buf.pollLast(); () }
    }
  }

  override def update(
      buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val h = hash.eval(input)
    if (h != null) add(buf, h.asInstanceOf[Long])
    buf
  }

  override def merge(
      buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): KmvSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvSketch =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketch =
    copy(hash = newChildren(0), kExpr = newChildren(1))
}

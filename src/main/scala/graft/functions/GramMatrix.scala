package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native single-pass raw-moment aggregate over a dense vector column:
  * `graft_gram(v)` accumulates, for a `ARRAY<DOUBLE>` column of fixed
  * dimension d, the per-dimension sums Σxᵢ and the upper-triangular
  * second moments Σxᵢxⱼ (i ≤ j) — everything PCA/whitening needs from
  * the corpus in ONE pass of FIXED-SIZE state (d + d(d+1)/2 longs,
  * 16 KB at d = 64).
  *
  * This is the scalable covariance shape: the naive formulation
  * (posexplode to (i, xᵢ) then a self-join to (i, j, xᵢxⱼ) pairs)
  * shuffles n·d²/2 rows — a 2000× data expansion at d = 64. As a
  * [[TypedImperativeAggregate]] the moment matrix is PARTIAL-aggregable:
  * every map task folds its slice into one 16 KB buffer, the exchange
  * carries ONE buffer per task, and merge is elementwise add — the same
  * reason sketches aggregate map-side. On a 1000-executor cluster the
  * whole corpus reduces to ~#tasks buffers regardless of row count.
  *
  * Cross-engine determinism: each contribution is quantized to 9 dp
  * away-from-zero (`std::round(x·1e9)` — DuckDB's
  * `CAST(ROUND(x*1e9, 0) AS BIGINT)`) and accumulated as an exact
  * scaled Long, so the sum is associative (partition-order free) and
  * bit-identical to the oracle's BIGINT sum. The rounding is computed
  * by exact truncate-and-compare (`frac >= 0.5` on the exactly
  * representable fractional part), not `floor(x + 0.5)` whose double
  * add can misround values one ulp below .5.
  *
  * Bounds: with |x| ≤ B the scaled contribution is ≤ B²·1e9, so the
  * Long accumulator is exact up to n ≈ 9.2e18/(B²·1e9) rows per final
  * merge (B = 5 → 3.7e8 vectors). `Math.addExact` turns a breach into
  * a loud ArithmeticException instead of silent wraparound; a corpus
  * past that bound shards the aggregation (two-level: per-shard gram,
  * then exact BigDecimal combine) — documented, not needed at any
  * gated scale.
  *
  * Output layout: `ARRAY<BIGINT>` = [d, Σx₀…Σx_{d−1}, Σx₀x₀, Σx₀x₁, …
  * Σx_{d−1}x_{d−1}] (triangle row-major, i ≤ j), scaled by 1e9.
  */
case class GramMatrix(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gram expects ARRAY<DOUBLE>, got $other")
  }

  /** std::round(x·1e9) as an exact Long — away-from-zero half-up. */
  private def q9(x: Double): Long = {
    val s = x * 1e9
    val a = math.abs(s)
    val t = a.toLong
    val n = if (a - t >= 0.5) t + 1 else t
    if (s < 0) -n else n
  }

  // empty sentinel until the first row reveals d
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val arr = child.eval(input)
    if (arr == null) return buf
    val v = arr.asInstanceOf[ArrayData].toDoubleArray()
    val d = v.length
    val b =
      if (buf.isEmpty) {
        val nb = new Array[Long](1 + d + d * (d + 1) / 2)
        nb(0) = d.toLong
        nb
      } else {
        require(buf(0) == d.toLong,
          s"graft_gram: inconsistent vector dimension (${buf(0)} vs $d)")
        buf
      }
    var i = 0
    var idx = 1 + d
    while (i < d) {
      b(1 + i) = Math.addExact(b(1 + i), q9(v(i)))
      var j = i
      while (j < d) {
        b(idx) = Math.addExact(b(idx), q9(v(i) * v(j)))
        idx += 1
        j += 1
      }
      i += 1
    }
    b
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    if (other.isEmpty) return buf
    if (buf.isEmpty) return other
    require(buf.length == other.length,
      s"graft_gram: merging buffers of different dimension")
    var i = 1
    while (i < buf.length) {
      buf(i) = Math.addExact(buf(i), other(i))
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.length)
    bb.putInt(buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    Array.fill(n)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(offset: Int): GramMatrix =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): GramMatrix =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GramMatrix =
    copy(child = newChildren(0))
}

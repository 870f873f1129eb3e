package graft.similarity

import graft.funcs.r6
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Compact-representation ANN: two candidate→rerank retrieval shapes
  * whose FIRST pass runs on a cheap compressed view of the vectors and
  * whose SECOND pass reranks only the survivors with the exact
  * full-dimension cosine — the standard way modern vector stacks make
  * the first pass bandwidth-bound instead of FLOP-bound:
  *
  *  - [[mrlTopK]] — Matryoshka prefix retrieval (Kusupati et al.
  *    2022 "Matryoshka Representation Learning"; the "adaptive
  *    retrieval" funnel of §4.3): the coarse pass scores cosine on
  *    the first 16 of 64 dims (4× less arithmetic AND 4× fewer bytes
  *    if the prefix is stored column-separate), keeps top-C per
  *    probe, exact-reranks those.
  *  - [[bqTopK]] — 1-bit binary quantization: each 64-dim vector
  *    collapses to ONE 64-bit word of sign bits (32× compression);
  *    the coarse pass is XOR + popcount (`bit_count`, codegen'd
  *    integer ops — no floating point at all), keep top-C by Hamming
  *    distance, exact-rerank. This is the BBQ/bit-vector prefilter
  *    production vector stores run over billions of vectors.
  *
  * Scale notes (100 TB): both coarse passes broadcast the probes and
  * stream the corpus — the corpus never shuffles; the only exchange
  * carries C candidates per probe (constant-size) into the rerank.
  * The compressed representation is computed per corpus ROW (not per
  * probe×row pair) before the join. Exactness of the END-TO-END
  * result is the candidate set's business — C trades recall for
  * cost exactly as in IVF's nprobe; the driver oracle runs the
  * identical two-stage query, so what is gated is the funnel
  * semantics, not a recall claim.
  *
  * Determinism: the coarse score is rounded ([[r6]]) or integral
  * (Hamming), and every rank is totally ordered with `neighbor_id`
  * as the final tiebreak, so the candidate set — and therefore the
  * reranked answer — is identical across engines and partitionings.
  */
object AnnCompact {

  private def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  private val PrefixDims = 16
  private val Candidates = 50
  private val K = 10

  // ------------------------------------------------------------ #34c
  /** Matryoshka funnel: coarse top-C on the 16-dim prefix cosine,
    * exact top-k full-dim rerank. Prefix vectors and their norms are
    * computed once per row before the probe join. */
  def mrlTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Embeddings.vecs(spark, dir)
      .withColumn("vp", expr(s"graft_dense(slice(v, 1, $PrefixDims))"))
      .withColumn("pnorm2", dot("vp", "vp"))
    val probes = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("v_a"), col("norm2").as("norm2_a"),
        col("vp").as("vp_a"), col("pnorm2").as("pnorm2_a"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("v").as("v_b"), col("norm2").as("norm2_b"),
      col("vp").as("vp_b"), col("pnorm2").as("pnorm2_b"))
    val wCoarse = Window.partitionBy("probe_id").orderBy(col("pcos").desc, col("neighbor_id"))
    val wExact = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(corpus, col("probe_id") =!= col("neighbor_id"))
      .withColumn("pcos", r6(dot("vp_a", "vp_b") / (sqrt(col("pnorm2_a")) * sqrt(col("pnorm2_b")))))
      .withColumn("crank", row_number().over(wCoarse))
      .where(col("crank") <= Candidates)
      .withColumn("cos", r6(dot("v_a", "v_b") / (sqrt(col("norm2_a")) * sqrt(col("norm2_b")))))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= K)
      .select("probe_id", "neighbor_id", "cos", "rank")
      .orderBy("probe_id", "rank")
  }

  private val pcosSql =
    s"""(ROUND(list_reduce(list_transform(range(1, ${PrefixDims + 1}), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
       | / (SQRT(a.pnorm2) * SQRT(b.pnorm2)), 6) + 0.0)""".stripMargin

  val mrlTopKOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, v, norm2,
       |    list_reduce(list_transform(range(1, ${PrefixDims + 1}), i -> v[i] * v[i]), (x, y) -> x + y) AS pnorm2
       |  FROM (${Embeddings.vecsSql})
       |), coarse AS (
       |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, a.v AS va, a.norm2 AS na,
       |    b.v AS vb, b.norm2 AS nb, $pcosSql AS pcos
       |  FROM e a JOIN e b ON a.vec_id < 5 AND a.vec_id <> b.vec_id
       |), cand AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY pcos DESC, neighbor_id) AS crank
       |    FROM coarse)
       |  WHERE crank <= $Candidates
       |), exact AS (
       |  SELECT probe_id, neighbor_id,
       |    (ROUND(list_reduce(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i]), (x, y) -> x + y)
       |     / (SQRT(na) * SQRT(nb)), 6) + 0.0) AS cos
       |  FROM cand
       |)
       |SELECT probe_id, neighbor_id, cos, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM exact)
       |WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin

  // ------------------------------------------------------------ #34d
  /** Binary-quantization funnel: 64 sign bits per vector packed into
    * two 32-bit half-words (the oracle engine's checked `<<` rejects a
    * 63-bit shift, so both engines pack 32 bits per word — the layout
    * a >64-dim corpus needs anyway: ceil(dims/32) words), coarse top-C
    * by Hamming distance (XOR + popcount per word), exact top-k
    * rerank. Bit i is set iff v[i] > 0 (a strict test, so exact zeros
    * land on the same side in both engines). */
  def bqTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Embeddings.vecs(spark, dir)
      .withColumn("sig_lo", expr(
        "aggregate(sequence(1, 32), 0L, (acc, i) -> acc | IF(element_at(v, i) > 0D, shiftleft(1L, i - 1), 0L))"))
      .withColumn("sig_hi", expr(
        "aggregate(sequence(33, 64), 0L, (acc, i) -> acc | IF(element_at(v, i) > 0D, shiftleft(1L, i - 33), 0L))"))
    val probes = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("v_a"), col("norm2").as("norm2_a"),
        col("sig_lo").as("lo_a"), col("sig_hi").as("hi_a"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("v").as("v_b"), col("norm2").as("norm2_b"),
      col("sig_lo").as("lo_b"), col("sig_hi").as("hi_b"))
    val wCoarse = Window.partitionBy("probe_id").orderBy(col("hamming"), col("neighbor_id"))
    val wExact = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(corpus, col("probe_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
          bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("long"))
      .withColumn("crank", row_number().over(wCoarse))
      .where(col("crank") <= Candidates)
      .withColumn("cos", r6(dot("v_a", "v_b") / (sqrt(col("norm2_a")) * sqrt(col("norm2_b")))))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= K)
      .select("probe_id", "neighbor_id", "hamming", "cos", "rank")
      .orderBy("probe_id", "rank")
  }

  val bqTopKOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, v, norm2,
       |    list_reduce(list_transform(range(1, 33),
       |      i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END),
       |      (x, y) -> x | y) AS sig_lo,
       |    list_reduce(list_transform(range(33, 65),
       |      i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END),
       |      (x, y) -> x | y) AS sig_hi
       |  FROM (${Embeddings.vecsSql})
       |), coarse AS (
       |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, a.v AS va, a.norm2 AS na,
       |    b.v AS vb, b.norm2 AS nb,
       |    CAST(bit_count(xor(a.sig_lo, b.sig_lo)) + bit_count(xor(a.sig_hi, b.sig_hi)) AS BIGINT) AS hamming
       |  FROM e a JOIN e b ON a.vec_id < 5 AND a.vec_id <> b.vec_id
       |), cand AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY hamming, neighbor_id) AS crank
       |    FROM coarse)
       |  WHERE crank <= $Candidates
       |), exact AS (
       |  SELECT probe_id, neighbor_id, hamming,
       |    (ROUND(list_reduce(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i]), (x, y) -> x + y)
       |     / (SQRT(na) * SQRT(nb)), 6) + 0.0) AS cos
       |  FROM cand
       |)
       |SELECT probe_id, neighbor_id, hamming, cos, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM exact)
       |WHERE rank <= $K ORDER BY probe_id, rank""".stripMargin

  // ------------------------------------------------------------ #34e
  /** [[Embeddings.annTopK]]'s exact semantics through the native
    * bounded-heap aggregate [[graft.functions.BoundedTopK]] instead
    * of a window rank: `groupBy(probe).agg(graft_topk(cos, id, 10))`.
    * Where the window formulation shuffles and SORTS every scored
    * candidate into as many tasks as there are probes, the aggregate
    * reduces each map slice to ≤ k pairs per probe BEFORE the
    * exchange (partial_graft_topk, plan-pinned) — the shuffle carries
    * k·maps rows instead of the corpus, which is the difference
    * between an ANN scan that survives 100 TB and one that funnels
    * the corpus through |probes| sort tasks. Same oracle as ann_topk:
    * the (−score, id) total order makes heap and window answers
    * identical. */
  def topKAgg(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val e = Embeddings.vecs(spark, dir)
    val probes = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("v_a"), col("norm2").as("norm2_a"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("v").as("v_b"), col("norm2").as("norm2_b"))
    broadcast(probes).join(corpus, col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", Embeddings.cosine)
      .groupBy("probe_id")
      .agg(expr("graft_topk(cos, neighbor_id, 10)").as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cos"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("probe_id", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_mrl_topk" -> (mrlTopK _),
    "ann_bq_topk" -> (bqTopK _),
    "ann_topk_agg" -> (topKAgg _))

  val oracles: Map[String, String] = Map(
    "ann_mrl_topk" -> mrlTopKOracle,
    "ann_bq_topk" -> bqTopKOracle,
    "ann_topk_agg" -> Embeddings.annTopKOracle)
}

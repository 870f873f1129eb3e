package graft.text

import graft.Tables
import graft.funcs.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact-k PPS (probability-proportional-to-size) sampling WITHOUT
  * replacement, per language: each language contributes exactly k
  * documents drawn with probability ∝ document weight (here
  * n_chars+1 — "token-uniform from doc-level draws"), reproducibly.
  * The Efraimidis–Spirakis reservoir key in its Gumbel form: rank by
  * ln(w) + Gumbel(md5(doc_id)) descending ⇒ exact weighted k-sample
  * without replacement, no sequential sampler. Completes the sampling
  * triad: [[Holdout]] is uniform exact-k, [[Dsir]] is corpus-global
  * distribution-matching — this is per-stratum weighted exact-k.
  *
  * Scale design: same shape as [[Holdout.holdoutK]] — the per-language
  * selection is the native bounded-heap aggregate
  * [[graft.functions.BoundedTopK graft_topk]], so map tasks reduce to
  * ≤ k candidates per language before the exchange and shuffle traffic
  * is O(k · languages · map tasks), corpus-size independent; no
  * row_number shuffle-and-sort.
  *
  * Determinism: weight key = ROUND(ln(n_chars+1), 6) (single ln, 6dp —
  * libm last-ulp rule) + the [[Dsir]] Gumbel construction from a
  * SALTED md5(doc_id‖':wk') uniform in [7.6e-6, 0.999993] (salted so
  * this sample is independent of the holdout carve; content-free so
  * text edits cannot move a doc in or out). (gkey DESC, doc_id ASC)
  * is total; gkey can in principle round to a signed zero, so the
  * oracle carries the +0.0 guard.
  */
object WeightedSample {

  private val K = 30
  private val Salt = ":wk"

  // --------------------------------------------------------------- #97
  /** Exactly k docs per language, PPS by n_chars+1, with rank and the
    * selection key. */
  def weightedK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"), lit(Salt))), 1, 4),
      16, 10).cast("double") + lit(0.5)) / lit(65536.0)
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        r6(log((col("n_chars") + 1).cast("double"))).as("lw"),
        r6(-log(-r6(log(u)))).as("g"))
      .withColumn("gkey", r6(col("lw") + col("g")))
      .groupBy("lang")
      .agg(expr(s"graft_topk(gkey, doc_id, $K)").as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("gkey"))
      .orderBy("lang", "rank")
  }

  val weightedKOracle: String = {
    val h = s"md5(CAST(doc_id AS VARCHAR) || '$Salt')"
    def nib(i: Int) = s"(strpos('0123456789abcdef', substr($h,$i,1))-1)"
    s"""WITH keyed AS (
       |  SELECT lang, doc_id,
       |    ROUND(ROUND(ln(CAST(n_chars + 1 AS DOUBLE)), 6)
       |      + ROUND(-ln(-ROUND(ln(
       |          ((4096*${nib(1)} + 256*${nib(2)} + 16*${nib(3)} + ${nib(4)})
       |           + 0.5) / 65536.0), 6)), 6), 6) AS gkey
       |  FROM documents
       |), r AS (
       |  SELECT lang, doc_id, gkey,
       |    row_number() OVER (PARTITION BY lang ORDER BY gkey DESC, doc_id) AS rank
       |  FROM keyed
       |)
       |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, gkey + 0.0 AS gkey
       |FROM r WHERE rank <= $K ORDER BY lang, rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_weighted_k" -> (weightedK _))

  val oracles: Map[String, String] = Map(
    "sample_weighted_k" -> weightedKOracle)
}

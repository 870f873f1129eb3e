package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic EXACT-k evaluation-holdout carving: every language
  * contributes exactly k documents, chosen by a salted content-free
  * hash order — the "carve a fixed-size eval set per language before
  * training, reproducibly, regardless of corpus layout" primitive.
  * Complements the RATE-based samplers (`sample_hash` keeps a
  * proportion; `sample_stratified`/`sample_temperature`/
  * `sample_token_budget` reweight shares): an eval set must be an
  * exact count, and must not move when the corpus is re-partitioned
  * or appended upstream of the carve.
  *
  * Scale design: the naive formulation is `row_number() OVER
  * (PARTITION BY lang ORDER BY hash) <= k` — a full shuffle AND SORT
  * of the corpus into |languages| tasks. Here the per-language
  * selection is the native bounded-heap aggregate
  * [[graft.functions.BoundedTopK graft_topk]]: every map task reduces
  * its slice to ≤ k candidates per language BEFORE the exchange
  * (partial_graft_topk), so the shuffle carries ≤ k·maps rows and the
  * reduce side merges k-bounded heaps — the corpus itself is scanned
  * once and never sorted. Same plan at 100 TB: the exchange traffic
  * is O(k · languages · map tasks), independent of corpus size.
  *
  * Determinism: rank order is (hash ASC, doc_id ASC) — a total order;
  * the hash is `graft_polyhash(md5(doc_id || ':holdout'), 31)`
  * (salted so a different split re-keys, content-free so editing a
  * doc's text cannot move it across the train/eval boundary).
  */
object Holdout {

  private val K = 50
  private val Salt = ":holdout"

  // --------------------------------------------------------------- #59
  /** Exactly k doc_ids per language with their 1-based rank in the
    * deterministic hash order. */
  def holdoutK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        expr(s"graft_polyhash(md5(concat(CAST(doc_id AS STRING), '$Salt')), 31)").as("h"))
      // graft_topk keeps k best by (score DESC, id ASC); negate the
      // hash so "best" = smallest hash, tie-broken by doc_id ASC.
      .groupBy("lang")
      .agg(expr(s"graft_topk(CAST(-h AS DOUBLE), doc_id, $K)").as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"))
      .orderBy("lang", "rank")
  }

  val holdoutKOracle: String =
    s"""WITH h AS (
       |  SELECT lang, doc_id,
       |    ${TextOps.polyHashSql(s"md5(CAST(doc_id AS VARCHAR) || '$Salt')", 31)} AS h
       |  FROM documents
       |), r AS (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rank
       |  FROM h
       |)
       |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id
       |FROM r WHERE rank <= $K ORDER BY lang, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_holdout_k" -> (holdoutK _))

  val oracles: Map[String, String] = Map(
    "sample_holdout_k" -> holdoutKOracle)
}

package graft.similarity

import graft.funcs.r6
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998) —
  * the diversity-aware exemplar picker a curation pipeline runs where
  * plain top-k returns five near-copies of the same document: greedily
  * select k = 5 vectors maximizing `λ·rel − (1−λ)·max-sim-to-selected`
  * (λ = 0.7), rel = cosine to a query vector (vec 0), candidate pool a
  * deterministic corpus slice (vec_id % 7 = 3).
  *
  * Scale shape — the kmeans_fit pattern: the algorithm is inherently
  * sequential in k, so it runs as k = 5 DRIVER ROUNDS, each ONE
  * distributed pass over the (localCheckpointed — cosine computed
  * once) relevance pool with the selected set broadcast (k × 64
  * doubles — bytes); per-round argmax is a TakeOrdered (per-partition
  * heaps, no global sort). Total cost O(k·|pool|) distance evals with
  * the corpus never shuffled — the exact cost of the algorithm, and at
  * 100 TB the standard composition is ANN-assisted MMR: the pool is
  * the top-N of an IVFADC search ([[StoredIndex]]), so |pool| is
  * result-sized, not corpus-sized.
  *
  * Cross-engine determinism: each cosine is rounded to 6 dp (the +0.0
  * signed-zero guard on the oracle side, §5a #25) before the pure-
  * double λ-combination, and the argmax breaks ties on the lower
  * vec_id — a total order, so the greedy trajectory is engine-exact.
  * Oracle: a recursive CTE replaying the same greedy (DuckDB's
  * `list_dot_product` measured bit-equal to the index-ordered
  * list_reduce fold — the same IEEE order as `graft_dot`).
  *
  * Reference: signalk-parquet has no curation surface; this is the
  * training-pipeline extension beside the dedup/sampling family.
  */
object Mmr {

  private val K = 5
  private val Lambda = 0.7

  /** The relevance-scored candidate pool (vec_id, v, norm2, rel) —
    * split out so MmrSpec can compare the greedy trajectory against
    * plain top-k over the same rounded cosines. */
  private[graft] def relevancePool(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val e = Embeddings.vecs(spark, dir)
    val pool = e.where(col("vec_id") % 7 === 3).select("vec_id", "v", "norm2")
    val q = e.where(col("vec_id") === 0)
      .select(col("v").as("vq"), col("norm2").as("nq"))
    pool.crossJoin(broadcast(q))
      .withColumn("rel",
        r6(expr("graft_dot(v, vq)") / (sqrt(col("norm2")) * sqrt(col("nq")))))
      .select("vec_id", "v", "norm2", "rel")
  }

  // --------------------------------------------------------------- #67
  def mmrSelect(spark: SparkSession, dir: String): DataFrame = {
    val rel = relevancePool(spark, dir).localCheckpoint()
    case class Pick(rank: Long, vecId: Long, rel: Double,
        maxSim: Option[Double], score: Double, v: Seq[Double], norm2: Double)
    val picks = scala.collection.mutable.ArrayBuffer[Pick]()
    while (picks.size < K) {
      val cand =
        if (picks.isEmpty) rel
        else rel.where(!col("vec_id").isin(picks.map(_.vecId).toSeq: _*))
      val scored =
        if (picks.isEmpty)
          cand.withColumn("max_sim", lit(null).cast("double"))
            .withColumn("score", col("rel"))
        else {
          import spark.implicits._
          val sel = picks.map(p => (p.vecId, p.v, p.norm2)).toSeq
            .toDF("sid", "sv", "snorm2")
          cand.crossJoin(broadcast(sel))
            .withColumn("sim",
              r6(expr("graft_dot(v, sv)") / (sqrt(col("norm2")) * sqrt(col("snorm2")))))
            .groupBy("vec_id", "rel")
            .agg(max("sim").as("max_sim"))
            .withColumn("score",
              lit(Lambda) * col("rel") - lit(1.0 - Lambda) * col("max_sim"))
        }
      val top = scored.select("vec_id", "rel", "max_sim", "score")
        .orderBy(col("score").desc, col("vec_id")).limit(1).head()
      val id = top.getLong(0)
      val row = rel.where(col("vec_id") === id)
        .select("v", "norm2").head()
      picks += Pick(picks.size + 1L, id, top.getDouble(1),
        if (top.isNullAt(2)) None else Some(top.getDouble(2)),
        top.getDouble(3), row.getSeq[Double](0), row.getDouble(1))
    }
    val schema = StructType(Seq(
      StructField("rank", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("rel", DoubleType, nullable = false),
      StructField("max_sim", DoubleType, nullable = true),
      StructField("score", DoubleType, nullable = false)))
    val rows: java.util.List[Row] = java.util.Arrays.asList(picks.toSeq.map(p =>
      Row(p.rank, p.vecId, p.rel, p.maxSim.map(Double.box).orNull, p.score)): _*)
    spark.createDataFrame(rows, schema).orderBy("rank")
  }

  private def cosDot(a: String, b: String, na: String, nb: String): String =
    s"(ROUND(list_dot_product($a, $b) / (SQRT($na) * SQRT($nb)), 6) + 0.0)"

  val mmrSelectOracle: String =
    s"""WITH RECURSIVE e AS (${Embeddings.vecsSql}),
       |pool AS (SELECT vec_id, v, norm2 FROM e WHERE vec_id % 7 = 3),
       |q AS (SELECT v AS vq, norm2 AS nq FROM e WHERE vec_id = 0),
       |rel AS (
       |  SELECT p.vec_id, p.v, p.norm2, ${cosDot("p.v", "q.vq", "p.norm2", "q.nq")} AS rel
       |  FROM pool p, q
       |),
       |sel AS (
       |  SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel,
       |    CAST(NULL AS DOUBLE) AS max_sim, rel AS score, [vec_id] AS chosen
       |  FROM (SELECT * FROM rel ORDER BY rel DESC, vec_id LIMIT 1)
       |  UNION ALL
       |  SELECT s.rank + 1, t.vec_id, t.rel, t.max_sim, t.score,
       |    list_append(s.chosen, t.vec_id)
       |  FROM sel s JOIN LATERAL (
       |    SELECT c.vec_id, c.rel,
       |      (SELECT MAX(${cosDot("c.v", "sv.v", "c.norm2", "sv.norm2")})
       |       FROM rel sv WHERE list_contains(s.chosen, sv.vec_id)) AS max_sim,
       |      $Lambda * c.rel - ${1.0 - Lambda} *
       |        (SELECT MAX(${cosDot("c.v", "sv.v", "c.norm2", "sv.norm2")})
       |         FROM rel sv WHERE list_contains(s.chosen, sv.vec_id)) AS score
       |    FROM rel c
       |    WHERE NOT list_contains(s.chosen, c.vec_id)
       |    ORDER BY score DESC, c.vec_id LIMIT 1
       |  ) t ON true
       |  WHERE s.rank < $K
       |)
       |SELECT rank, vec_id, rel, max_sim, score FROM sel ORDER BY rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_mmr_select" -> (mmrSelect _))

  val oracles: Map[String, String] = Map(
    "embed_mmr_select" -> mmrSelectOracle)
}

package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-nearest-neighbor graph construction over the embedding corpus —
  * the backbone structure for graph-based clustering, semantic-dedup
  * audit trails and kNN-classifier training sets in an LLM data
  * pipeline (the mutual-kNN edge set is the standard "strong
  * neighbor" filter: an edge survives only if each endpoint ranks the
  * other in ITS top k, pruning hub vectors' one-way fans).
  *
  * Scale shape: candidate pairs are generated INSIDE label blocks
  * (the same blocking [[Embeddings.embeddingDedup]] uses — at
  * warehouse scale the block key is the IVF cell / shard id, and
  * growing the cell count with the corpus holds per-block pair work
  * constant, the SemDeDup argument). Per-node top-k then runs as the
  * native bounded-heap aggregate `graft_topk`
  * ([[graft.functions.BoundedTopK]]) — a partial-aggregable O(k)
  * state per node, NOT a rank window over the full candidate set
  * (which would sort every block's n² pairs); the mutual filter is an
  * equi-join of the ≤ k·n edge table against its own swap, vanishing
  * next to candidate scoring.
  */
object KnnGraph {

  /** The src side of the blocked candidate join. */
  private[graft] def srcSide(e: DataFrame): DataFrame =
    e.select(col("label"), col("vec_id").as("src_id"),
      col("v").as("v_a"), col("norm2").as("norm2_a"))

  /** The dst side of the blocked candidate join. */
  private[graft] def dstSide(e: DataFrame): DataFrame =
    e.select(col("label"), col("vec_id").as("dst_id"),
      col("v").as("v_b"), col("norm2").as("norm2_b"))

  /** Label-blocked candidate scoring: (label, src_id, dst_id, cos). */
  private[graft] def scoredPairs(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, Seq("label"))
      .where(col("src_id") =!= col("dst_id"))
      .withColumn("cos", Embeddings.cosine)
      .select("label", "src_id", "dst_id", "cos")

  /** Per-node directed top-5 over a scored candidate frame — the
    * bounded-heap collapse. Because scores are static, this is a
    * MERGEABLE synopsis: top5(S ∪ B) = top5(top5(S) ∪ scores(·,B)),
    * which is what makes the incremental maintenance of
    * [[graft.streaming.GraphStream]] exact. */
  private[graft] def directedTopk(cand: DataFrame): DataFrame =
    cand.groupBy("label", "src_id")
      .agg(expr("graft_topk(cos, dst_id, 5)").as("top"))
      .select(col("label"), col("src_id"), posexplode(col("top")))
      .select(col("label"), col("src_id"), col("col.id").as("dst_id"),
        col("col.score").as("cos"), (col("pos") + 1).cast("int").as("rank"))

  /** The mutual filter over a directed top-k table — node-scale,
    * vanishing next to candidate scoring. */
  private[graft] def mutualEdges(edges: DataFrame): DataFrame =
    edges.as("x").join(edges.as("y"),
        col("x.src_id") === col("y.dst_id") && col("x.dst_id") === col("y.src_id"))
      .where(col("x.src_id") < col("x.dst_id"))
      .select(col("x.label").as("label"), col("x.src_id").as("id_a"),
        col("x.dst_id").as("id_b"), col("x.cos").as("cos"),
        col("x.rank").as("rank_ab"), col("y.rank").as("rank_ba"))

  /** Mutual-kNN edges (k = 5) within label blocks: one row per
    * unordered pair where BOTH endpoints rank each other top-5, with
    * the rounded cosine and both directed ranks. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val e = Embeddings.vecs(spark, dir)
    mutualEdges(directedTopk(scoredPairs(srcSide(e), dstSide(e))))
      .orderBy("id_a", "id_b")
  }

  /** Oracle scores each unordered pair once and mirrors it (half the
    * fold work of the naive a≠b join — the 10× gate's DuckDB budget is
    * the constraint, not correctness). */
  val knnGraphOracle: String =
    s"""WITH e AS (${Embeddings.vecsSql}),
       |pairs AS (
       |  SELECT a.label, a.vec_id AS src_id, b.vec_id AS dst_id, ${Embeddings.cosSql} AS cos
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |), scored AS (
       |  SELECT * FROM pairs
       |  UNION ALL SELECT label, dst_id, src_id, cos FROM pairs
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cos DESC, dst_id) AS rank
       |  FROM scored
       |), edges AS (
       |  SELECT * FROM ranked WHERE rank <= 5
       |)
       |SELECT x.label, x.src_id AS id_a, x.dst_id AS id_b, x.cos,
       |  CAST(x.rank AS INT) AS rank_ab, CAST(y.rank AS INT) AS rank_ba
       |FROM edges x JOIN edges y ON x.src_id = y.dst_id AND x.dst_id = y.src_id
       |WHERE x.src_id < x.dst_id
       |ORDER BY id_a, id_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_knn_graph" -> (knnGraph _))

  val oracles: Map[String, String] = Map(
    "embed_knn_graph" -> knnGraphOracle)
}

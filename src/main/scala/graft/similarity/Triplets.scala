package graft.similarity

import graft.funcs.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Triplet mining for contrastive training — for each anchor vector,
  * the hardest positive (most-similar SAME-label vector) and the
  * hardest negative (most-similar OTHER-label vector, the classic
  * hard-negative of FaceNet/SimCLR-style pipelines), with the
  * pos−neg margin a curriculum scheduler sorts by. The training-data
  * op that turns a labeled embedding corpus into contrastive pairs.
  */
object Triplets {

  // --------------------------------------------------------------- #80
  /** Anchors are a deterministic corpus slice (vec_id % 11 = 4);
    * candidates are the whole corpus. Emits (anchor, hardest
    * positive, hardest negative, margin); anchors whose label has no
    * second member drop (no positive exists) — identically in both
    * engines.
    *
    * Scale shape — the ann_topk discipline: the anchor slice
    * BROADCASTS and the corpus never shuffles; both per-anchor
    * argmaxes run as the native bounded-heap `graft_topk` (k = 1)
    * partial aggregate, so each map task reduces its corpus slice to
    * one candidate per (anchor, side) before the exchange — the
    * shuffle carries O(anchors · maps), not the scored pairs. At
    * 100 TB anchors come in broadcast-sized waves and the hard-negative
    * scan composes with IVF pruning exactly like ann_ivf_topk.
    *
    * Determinism: cosines 6-dp rounded, graft_topk breaks ties on the
    * lower cand_id — both argmaxes engine-exact; the margin can be
    * negative (a harder negative than positive — the informative
    * triplets!) so the oracle carries the +0.0 guard. */
  def triplets(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val e = Embeddings.vecs(spark, dir)
    val anchors = e.where(col("vec_id") % 11 === 4)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("v").as("v_a"), col("norm2").as("norm2_a"))
    val corpus = e.select(col("vec_id").as("cand_id"), col("label").as("c_label"),
      col("v").as("v_b"), col("norm2").as("norm2_b"))
    val scored = broadcast(anchors)
      .join(corpus, col("anchor_id") =!= col("cand_id"))
      .withColumn("cos", Embeddings.cosine)
    def top1(side: DataFrame, idName: String, cosName: String): DataFrame =
      side.groupBy("anchor_id")
        .agg(expr("graft_topk(cos, cand_id, 1)").as("t"))
        .select(col("anchor_id"), col("t")(0).getField("id").as(idName),
          col("t")(0).getField("score").as(cosName))
    val pos = top1(scored.where(col("a_label") === col("c_label")), "pos_id", "pos_cos")
    val neg = top1(scored.where(col("a_label") =!= col("c_label")), "neg_id", "neg_cos")
    pos.join(neg, "anchor_id")
      .select(col("anchor_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        r6(col("pos_cos") - col("neg_cos")).as("margin"))
      .orderBy("anchor_id")
  }

  val tripletsOracle: String =
    s"""WITH e AS (${Embeddings.vecsSql}),
       |scored AS (
       |  SELECT a.vec_id AS anchor_id, a.label AS a_label,
       |    b.vec_id AS cand_id, b.label AS c_label, ${Embeddings.cosSql} AS cos
       |  FROM e a JOIN e b ON a.vec_id % 11 = 4 AND a.vec_id <> b.vec_id
       |), pos AS (
       |  SELECT anchor_id, cand_id AS pos_id, cos AS pos_cos,
       |    ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos DESC, cand_id) AS rn
       |  FROM scored WHERE a_label = c_label
       |), neg AS (
       |  SELECT anchor_id, cand_id AS neg_id, cos AS neg_cos,
       |    ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos DESC, cand_id) AS rn
       |  FROM scored WHERE a_label <> c_label
       |)
       |SELECT p.anchor_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
       |  ROUND(p.pos_cos - n.neg_cos, 6) + 0.0 AS margin
       |FROM pos p JOIN neg n USING (anchor_id)
       |WHERE p.rn = 1 AND n.rn = 1
       |ORDER BY p.anchor_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_triplets" -> (triplets _))

  val oracles: Map[String, String] = Map(
    "embed_triplets" -> tripletsOracle)
}

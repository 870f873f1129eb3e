package graft.similarity

import graft.sources.Staging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED form of the mutual-kNN graph — the steady-state a
  * production graph-analytics path serves from. [[KnnGraph.knnGraph]]
  * proves the construction and [[Graph2.pageRank]] the iteration, but
  * both rebuild the edge set from raw embedding vectors on every call:
  * a full label-blocked candidate scoring pass (the dominant cost —
  * 12.3 s of graph_pagerank's 12.6 s at sf0.1 is the inline kNN
  * rebuild). At 100 TB that rebuild IS the corpus scan the graph
  * exists to avoid; a warehouse stages the edge table once at ingest
  * and every downstream consumer (PageRank, components, label prop,
  * hub pruning) SCANS it.
  *
  * Staged tables ([[Staging.stagedDir]], fingerprint-idempotent across
  * JVMs):
  *   - `edges`      — one row per mutual unordered pair
  *                    (label, id_a, id_b, cos, rank_ab, rank_ba): the
  *                    [[KnnGraph.knnGraph]] output verbatim;
  *   - `edges_dir`  — the DIRECTED expansion with each source's degree
  *                    folded in (src, dst, deg): exactly the
  *                    per-iteration join input of
  *                    [[Graph2.pageRankIterate]], so the degree join is
  *                    paid once at ingest, never per query;
  *   - `degrees`    — (src, deg), the node table.
  *
  * At warehouse scale `edges_dir` is written BUCKETED on src (the
  * [[graft.sources.HiveStore]] layout), so each PageRank iteration's
  * join against the node-sized rank table exchanges ONLY the rank
  * table; here the store is plain parquet (the bucketed-join shape is
  * proven separately by q_bucketed_join) and the win measured is the
  * removed rebuild. Results are bit-identical to the inline twins:
  * the staged tables are deterministic functions of the corpus and
  * BIGINT/DOUBLE round-trip parquet losslessly (spec-pinned, plus a
  * plan pin that the query path never scans the embeddings parquet).
  *
  * Reference: signalk-parquet has no graph surface; this is the
  * training-pipeline family's index-store pattern (29d, 40ae2) applied
  * to the graph.
  */
object GraphStore {

  // ------------------------------------------------------------- #70a
  /** Stage the three graph tables once per (fingerprint, sf dir). */
  private[graft] def stageKnnGraph(spark: SparkSession, dir: String): String =
    Staging.stagedDir("graft_knn_graph_store", dir, "v1:mutual-knn-k5:edges+dir+deg", "embeddings") { root =>
      val g = KnnGraph.knnGraph(spark, dir)
      g.write.parquet(s"$root/edges")
      // read BACK the staged edges for the derived tables: the kNN
      // construction (the expensive part) runs exactly once
      val e = spark.read.parquet(s"$root/edges").select("id_a", "id_b")
      val edges = e.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(e.select(col("id_b").as("src"), col("id_a").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      deg.write.parquet(s"$root/degrees")
      edges.join(deg, "src").write.parquet(s"$root/edges_dir")
    }

  /** Mutual-kNN edges from the STAGED store: same output contract as
    * `embed_knn_graph` (the construction cost moved to ingest). */
  def knnGraphStored(spark: SparkSession, dir: String): DataFrame = {
    val root = stageKnnGraph(spark, dir)
    spark.read.parquet(s"$root/edges")
      .select("label", "id_a", "id_b", "cos", "rank_ab", "rank_ba")
      .orderBy("id_a", "id_b")
  }

  /** PageRank from the STAGED edge/degree tables: the iteration core
    * of [[Graph2.pageRank]] fed by store scans — no raw embedding
    * vector is touched on the query path (plan-pinned). */
  def pageRankStored(spark: SparkSession, dir: String): DataFrame = {
    val root = stageKnnGraph(spark, dir)
    val edgesDeg = spark.read.parquet(s"$root/edges_dir")
      .select("src", "dst", "deg").localCheckpoint()
    val deg = spark.read.parquet(s"$root/degrees")
      .select("src", "deg").localCheckpoint()
    Graph2.pageRankIterate(edgesDeg, deg)
  }

  // ------------------------------------------------------------- #70b
  /** Semantic clusters: connected components over the STAGED
    * mutual-kNN graph — the graph analytics trio completed (edges,
    * centrality, clusters) on the same persisted store. Mutual-kNN
    * components are the standard "semantic island" clustering a
    * curation pipeline samples across (each component = one tight
    * semantic neighborhood; the mutual filter keeps hub vectors from
    * gluing everything together). Reuses the dedup family's
    * path-halving label propagation ([[graft.dedup.Components
    * .connectedComponents]]) verbatim — the store supplies the edge
    * list, no raw vector is touched (the 33e plan pin covers the
    * shared staged read). Output is the per-component summary
    * (component id = min vec id, size, id sum, max id — the
    * dedup_components contract). */
  def knnComponentsStored(spark: SparkSession, dir: String): DataFrame = {
    val root = stageKnnGraph(spark, dir)
    val edges = spark.read.parquet(s"$root/edges")
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    graft.dedup.Components.connectedComponents(edges)
      .groupBy("component_id")
      .agg(count(lit(1)).as("n_members"),
        sum("id").as("id_sum"),
        max("id").as("max_id"))
      .orderBy("component_id")
  }

  /** Same reach-CTE oracle shape as dedup_components, over the
    * MATERIALIZED kNN edge set (the pagerank oracle's 10×-budget
    * move). */
  val knnComponentsOracle: String =
    s"""WITH RECURSIVE g AS MATERIALIZED (
       |  ${KnnGraph.knnGraphOracle.replace("ORDER BY id_a, id_b", "")}
       |),
       |e AS (
       |  SELECT id_a AS src, id_b AS dst FROM g
       |  UNION ALL SELECT id_b, id_a FROM g
       |),
       |n AS (SELECT DISTINCT src AS id FROM e),
       |reach AS (
       |  SELECT id, id AS lbl FROM n
       |  UNION
       |  SELECT e.dst AS id, r.lbl FROM reach r JOIN e ON e.src = r.id WHERE r.lbl < e.dst
       |),
       |comp AS (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY 1)
       |SELECT component_id, COUNT(*) AS n_members,
       |  CAST(SUM(id) AS BIGINT) AS id_sum, MAX(id) AS max_id
       |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- #70c
  /** One ingest batch's EXACT repair of the directed top-5 lists — the
    * state [[graft.streaming.GraphStream]] maintains. Three candidate
    * sources, unioned into ONE bounded-heap collapse:
    *   - new nodes: batch × (store ∪ batch), label-blocked — the only
    *     corpus-touching work, O(|batch| · block) per trigger, never
    *     corpus × corpus;
    *   - affected old nodes: store × batch scores (a new vector can
    *     enter an old node's top-5 and evict its 5th — the "repaired
    *     mutual ranks" case);
    *   - carried state: each old node's stored top-5 rows re-entered
    *     as candidates — exact because scores are static, so
    *     top5(S ∪ B) = top5(top5(S) ∪ scores(·,B)) (the bounded heap
    *     is a mergeable synopsis; KnnGraph.directedTopk).
    * The three sources are (src, dst)-disjoint (batch ids are
    * append-only), so no candidate is double-counted.
    *
    * Candidates never cross label blocks, so lists of labels absent
    * from the batch are fixed points — [[graft.streaming.GraphStream]]
    * exploits this by passing ONLY the touched label partitions of the
    * stored vectors/lists here and leaving every other partition's
    * files untouched on disk.
    *
    * The three sources are (src, dst)-disjoint on a normal trigger
    * (batch ids are append-only) — but foreachBatch runs
    * AT-LEAST-ONCE: a crash after the topk swap but before the
    * checkpoint commit re-delivers the batch, and then the carried
    * state already contains the batch's rows, duplicating the
    * recomputed candidates. The bounded heap does not dedup ids, so a
    * duplicated (src, dst, cos) would fill two of the five slots and
    * evict a true neighbor. The pre-heap dropDuplicates makes the
    * repair idempotent under re-delivery (scores are deterministic, so
    * duplicate rows are identical and any survivor is exact) — one
    * extra candidate-frame exchange per trigger, the price of
    * exactly-once semantics over an at-least-once callback
    * (GraphStreamSpec pins double delivery ≡ single delivery). */
  private[graft] def repairedTopk(storedTopk: DataFrame, storedVecs: DataFrame,
      batchVecs: DataFrame): DataFrame = {
    val newCand = KnnGraph.scoredPairs(KnnGraph.srcSide(batchVecs),
      KnnGraph.dstSide(storedVecs.unionByName(batchVecs)))
    val repairCand = KnnGraph.scoredPairs(
      KnnGraph.srcSide(storedVecs), KnnGraph.dstSide(batchVecs))
    val carried = storedTopk.select("label", "src_id", "dst_id", "cos")
    KnnGraph.directedTopk(
      newCand.unionByName(repairCand).unionByName(carried)
        .dropDuplicates("label", "src_id", "dst_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_knn_graph_stored" -> (knnGraphStored _),
    "graph_pagerank_stored" -> (pageRankStored _),
    "graph_components_stored" -> (knnComponentsStored _))

  /** The store is result-invisible: both oracles are the full-recompute
    * SQL of the inline twins. */
  val oracles: Map[String, String] = Map(
    "embed_knn_graph_stored" -> KnnGraph.knnGraphOracle,
    "graph_pagerank_stored" -> Graph2.pageRankOracle,
    "graph_components_stored" -> knnComponentsOracle)
}

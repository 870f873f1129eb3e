package graft.dedup

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: connected components over the
  * near-duplicate pair graph.
  *
  * Pairwise dedup (Jaccard/MinHash/SimHash) yields EDGES; a training
  * pipeline needs CLUSTERS — "keep one doc per component" — so the
  * final step is connected components over the pair graph. Implemented
  * as iterative hash-min label propagation: every node starts labeled
  * with itself, each round every node takes the min label among itself
  * and its neighbors, repeat to fixpoint. Rounds = graph diameter;
  * near-dup graphs are dense clusters with tiny diameters, so this
  * converges in a handful of rounds (a 20-round cap guards pathological
  * chains — the large-star/small-star variant would bound rounds at
  * O(log n) if chains ever mattered).
  *
  * Scale: each round is one shuffle (edge⋈label join + min-agg on the
  * node id) over data proportional to |E| — the same cost class as one
  * dedup verify pass, run O(diameter) times. Lineage is truncated per
  * round with localCheckpoint so the plan stays constant-size (at
  * cluster scale, `checkpoint` to durable storage instead).
  * Convergence is detected by the Σlabel checksum: min-propagation
  * only ever decreases labels, so an unchanged sum means a fixpoint —
  * one tiny aggregate per round instead of a join against the previous
  * labels.
  */
object Components {

  /** Connected components of an undirected edge list (src, dst).
    * Returns (id, component_id = min node id in the component). */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    // Pre-partition the (static) edge list on the join key once: every
    // propagation round joins on e.src, and labels come out of a
    // groupBy("id") with the same hash partitioning, so no round ever
    // re-shuffles the edge list — the largest dataset in the loop.
    // The undirected flip is a single-scan explode, NOT a self-union:
    // union branches evaluate their (possibly expensive, un-cached)
    // upstream once each — measured 2× the whole Jaccard verify pass
    // when fed straight from nearDupComponents (SURVEY §5a #4).
    val e = edges.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("p"))
      .select(col("p.s").as("src"), col("p.d").as("dst"))
      .repartition(col("src"))
      .localCheckpoint()
    // Seed with the round-0 propagation for free: every node's initial
    // label is min(self, direct neighbors) straight off the grouped
    // edge list — no join. On the dense near-clique graphs dedup
    // produces, the component min is usually a direct neighbor, so
    // this alone is often the fixpoint and the loop just confirms it.
    // Lazy checkpoints: materialization folds into the checksum action
    // (one job per round instead of checkpoint-job + checksum-job);
    // the lineage cut still happens at first evaluation.
    var labels = e.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("lbl"))
      .localCheckpoint(false)
    def checksum(df: DataFrame): Long =
      df.agg(coalesce(sum("lbl"), lit(0L))).head.getLong(0)
    var prev = checksum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val prop = e.join(labels, e("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"))
      // lazy checkpoint: the hop self-join below references stepped on
      // both sides — without the cut it would recompute the whole
      // propagation twice per round
      val stepped = labels.unionByName(prop)
        .groupBy("id").agg(min("lbl").as("lbl"))
        .localCheckpoint(false)
      // Pointer jumping (path halving): follow each label one more hop
      // to ITS label — lbl' = min(lbl, lbl[lbl]). Labels only ever move
      // to a smaller id inside the same component, so correctness is
      // untouched, but chain-shaped components now collapse in
      // O(log diameter) rounds instead of O(diameter) — at scale each
      // round is a full |E| shuffle, so halving the round count is the
      // lever (measured here: 8 rounds → 4 on the sf0.1 near-dup graph).
      val hop = stepped.select(col("id").as("jid"), col("lbl").as("jlbl"))
      labels = stepped.join(hop, stepped("lbl") === hop("jid"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(false)
      val cur = checksum(labels)
      converged = cur == prev
      prev = cur
      round += 1
    }
    labels.select(col("id"), col("lbl").as("component_id"))
  }

  /** Near-dup clusters over documents: blocked exact-Jaccard ≥ 0.8
    * pairs as edges, then components, summarized per cluster. The 0.8
    * threshold (vs 0.95 for pair dedup) links the looser "same family"
    * docs a cluster-level keeper policy wants to see together.
    *
    * Identical token-sets are collapsed to one graph node first (the
    * same move that fixed the MinHash band join, SURVEY §5a): docs
    * sharing (lang, size bucket, token set) are pairwise Jaccard-1
    * edges — already one cluster — so the quotient graph over one
    * representative per distinct set has identical components and is
    * dramatically smaller on a duplicate-saturated corpus. Members are
    * re-expanded after propagation; component ids (min doc id) are
    * unchanged because each representative is its group's min. */
  def nearDupComponents(spark: SparkSession, dir: String): DataFrame =
    clusterAssignments(spark, dir)
      .groupBy("component_id")
      .agg(count(lit(1)).as("n_members"),
        sum("doc_id").as("id_sum"),
        max("doc_id").as("max_id"))
      .orderBy("component_id")

  /** (component_id, doc_id) assignment for every doc that belongs to a
    * near-dup cluster (component_id = min doc id in the cluster); docs
    * with no near-duplicate don't appear. Shared by the cluster
    * summary ([[nearDupComponents]]) and the keeper policy
    * ([[resolveClusters]]). */
  def clusterAssignments(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    clusterAssignmentsOn(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / 50).cast("long").as("size_bucket"),
        Dedup.tokens.as("toks")))
  }

  /** Core over any (doc_id, lang, size_bucket, toks) frame — split out
    * so MegaClusterSpec can drive a seeded mega-cluster through the
    * REAL grouping/labeling path. */
  private[graft] def clusterAssignmentsOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // Membership rows, not member LISTS (see Dedup.minHashLshPairs):
    // a collect_list would hold a whole duplicate cluster as one
    // unspillable array in a single aggregation buffer (O(cluster)
    // memory, no spill path). Here the group label reaches every row
    // through ONE window over a compact 96-bit digest of the exact
    // (lang, size bucket, token set) group key (the md5-exact-dedup
    // collision standard): one shuffle + sort on 12-byte keys, no
    // join-back, and the window's per-partition row buffer SPILLS —
    // a mega-cluster costs disk, never heap (MegaClusterSpec). The
    // quotient-graph reps are the rows whose id IS the group min, so
    // groups and membership are two projections of the same pass.
    val w = Window.partitionBy("gkey")
    val withG = docs
      .withColumn("gkey",
        struct(xxhash64(col("lang"), col("size_bucket"), col("toks")).as("h1"),
          hash(col("lang"), col("size_bucket"), col("toks")).as("h2")))
      .withColumn("rep", min("doc_id").over(w))
      .withColumn("grp_n", count(lit(1)).over(w))
      .localCheckpoint()
    val groups = withG.where(col("doc_id") === col("rep"))
      .select("lang", "size_bucket", "toks", "rep", "grp_n")
    val membership = withG.select("rep", "grp_n", "doc_id")
    // Explicitly-numbered repartition on the block key: the pair
    // volume downstream of this exchange is ~n²/blocks, far larger
    // than the exchange's own byte size — AQE, seeing only the latter,
    // coalesces an un-numbered exchange to ~1 task and the Jaccard
    // filter runs single-threaded (measured 2.2 s → 0.5 s at sf0.1).
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val a = groups.select(col("lang"), col("size_bucket"),
      col("rep").as("src"), col("toks").as("toks_a"))
      .repartition(nPart, col("lang"), col("size_bucket"))
    val b = groups.select(col("lang"), col("size_bucket"),
      col("rep").as("dst"), col("toks").as("toks_b"))
      .repartition(nPart, col("lang"), col("size_bucket"))
    val repEdges = a.join(b, Seq("lang", "size_bucket"))
      .where(col("src") < col("dst"))
      // size-ratio bound (see Dedup.minHashLsh): j ≥ 0.8 needs
      // min|toks| ≥ 0.8·max|toks|; the slack constant (0.7999) covers
      // the round(j,6) window. Runs inside codegen and prunes most
      // blocked pairs before the interpreted set intersection.
      .where(least(size(col("toks_a")), size(col("toks_b"))).cast("double") >=
        lit(0.7999) * greatest(size(col("toks_a")), size(col("toks_b"))))
      .where(Dedup.jaccard(col("toks_a"), col("toks_b")) >= 0.8)
      .select("src", "dst")
    val repComp = connectedComponents(repEdges)
    // Re-attach members through the membership table: reps in the
    // quotient graph take their propagated label; edge-less groups of
    // size ≥ 2 are standalone clusters labeled by their own rep; true
    // singletons drop out (matching the pair-graph node set). The
    // label fetch is an equi-join on rep — row-bounded, no explode.
    val labeled = membership
      .join(repComp, membership("rep") === repComp("id"), "left")
      .withColumn("component_id", coalesce(col("component_id"), col("rep")))
      .where(col("id").isNotNull || col("grp_n") > 1)
      .select(col("component_id"), col("doc_id"))
    labeled
  }

  // -------------------------------------------------------------- #40m
  /** Cluster resolution — the keeper policy that turns clusters into a
    * deduplicated corpus: keep the canonical doc (min id ≡ the
    * component id) of every near-dup cluster, drop the rest, keep all
    * singleton docs. The drop set is cluster-membership-sized (≪
    * corpus), so it broadcasts into an anti-join and the corpus scan
    * itself never shuffles — the shape that survives a 100 TB corpus
    * with a few million duplicate members. */
  def resolveClusters(spark: SparkSession, dir: String): DataFrame = {
    val drops = clusterAssignments(spark, dir)
      .where(col("doc_id") =!= col("component_id"))
      .select("doc_id")
    Tables.documents(spark, dir)
      .join(broadcast(drops), Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        sum("n_chars").as("kept_chars"))
      .orderBy("lang")
  }

  val resolveOracle: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, lang, n_chars // 50 AS size_bucket,
      |    list_distinct(string_split(text, ' ')) AS toks FROM documents
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.size_bucket = b.size_bucket AND a.doc_id < b.doc_id
      |  WHERE ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE /
      |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) >= 0.8
      |), e AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), n AS (SELECT DISTINCT src AS id FROM e),
      |reach AS (
      |  SELECT id, id AS lbl FROM n
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN e ON e.src = r.id WHERE r.lbl < e.dst
      |), comp AS (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY 1)
      |SELECT d.lang, COUNT(*) AS n_kept, CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
      |FROM documents d
      |WHERE d.doc_id NOT IN (SELECT id FROM comp WHERE id <> component_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val componentsOracle: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, lang, n_chars // 50 AS size_bucket,
      |    list_distinct(string_split(text, ' ')) AS toks FROM documents
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.size_bucket = b.size_bucket AND a.doc_id < b.doc_id
      |  WHERE ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE /
      |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) >= 0.8
      |), e AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), n AS (SELECT DISTINCT src AS id FROM e),
      |reach AS (
      |  SELECT id, id AS lbl FROM n
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN e ON e.src = r.id WHERE r.lbl < e.dst
      |), comp AS (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY 1)
      |SELECT component_id, COUNT(*) AS n_members,
      |  CAST(SUM(id) AS BIGINT) AS id_sum, MAX(id) AS max_id
      |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_components" -> (nearDupComponents _),
    "dedup_resolve" -> (resolveClusters _))

  val oracles: Map[String, String] = Map(
    "dedup_components" -> componentsOracle,
    "dedup_resolve" -> resolveOracle)
}

package graft.similarity

import graft.Tables
import graft.funcs.{dsum, r6, rN}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval with reciprocal-rank fusion (RRF, Cormack et al.
  * SIGIR 2009) — the standard way a curation/RAG pipeline combines
  * keyword and semantic relevance without calibrating their scores
  * against each other: each modality contributes 1/(k₀ + rank) for
  * documents in ITS top-K list, and candidates sort by the sum. The
  * composition closes the retrieval story: term overlap (the native
  * merge-walk [[graft.functions.OverlapCount]]) supplies the lexical
  * leg, 6-dp cosine over the embedding corpus the semantic leg.
  *
  * Scale shape — the ann_topk discipline end to end: the probe set
  * BROADCASTS onto both corpora (documents and embeddings never
  * shuffle), each modality's top-K is the native bounded-heap
  * `graft_topk` partial aggregate (shuffle carries O(K·probes·maps),
  * never scored rows), and the fusion is a full-outer join of two
  * K-sized rank lists per probe — result-scale work. At 100 TB the
  * semantic leg composes with IVF pruning (40aa) and the lexical leg
  * with an inverted postings table; the fusion stage is unchanged.
  *
  * Cross-engine determinism: keyword scores are integers, cosines are
  * 6-dp rounded with lower-id ties (the graft_topk total order ≡ the
  * oracle's ROW_NUMBER(score DESC, id)), and the RRF sum is two IEEE
  * divides of identical small integers added in a fixed order — the
  * oracle mirrors it with explicit DOUBLE casts (a bare 1.0 literal is
  * DECIMAL in both engines' SQL dialects, §5a #28's class).
  */
object Hybrid {

  private val K = 50 // per-modality candidate depth
  private val Rrf = 60 // the standard RRF constant
  private val TopN = 10
  private val probeIds = Seq(0L, 1L, 2L)

  // --------------------------------------------------------------- #82
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    // ---- lexical leg: docs sharing at least one term, ranked by
    // exact term-set overlap (merge walk over sorted-distinct tokens)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.dedup.Dedup.tokens.as("toks"))
    val probesT = docs.where(col("doc_id").isin(probeIds: _*))
      .select(col("doc_id").as("probe_id"), col("toks").as("q_toks"))
    val kwRanks = docs
      .crossJoin(broadcast(probesT))
      .where(col("doc_id") =!= col("probe_id"))
      .withColumn("kw", call_function("graft_overlap", col("toks"), col("q_toks")))
      .where(col("kw") > 0)
      .groupBy("probe_id")
      .agg(expr(s"graft_topk(CAST(kw AS DOUBLE), doc_id, $K)").as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("kw_rank"))
    // ---- semantic leg: 6-dp cosine over the embedding corpus
    val e = Embeddings.vecs(spark, dir)
    val probesV = e.where(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("v").as("v_a"),
        col("norm2").as("norm2_a"))
    val cosRanks = e
      .select(col("vec_id"), col("v").as("v_b"), col("norm2").as("norm2_b"))
      .crossJoin(broadcast(probesV))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", Embeddings.cosine)
      .groupBy("probe_id")
      .agg(expr(s"graft_topk(cos, vec_id, $K)").as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("cos_rank"))
    // ---- fusion: 1/(60 + rank) per contributing list, absent → 0
    val contrib = (rank: org.apache.spark.sql.Column) =>
      coalesce(lit(1.0) / (lit(Rrf).cast("double") + rank), lit(0.0))
    val w = Window.partitionBy("probe_id").orderBy(col("rrf").desc, col("doc_id"))
    kwRanks.join(cosRanks, Seq("probe_id", "doc_id"), "full_outer")
      .withColumn("rrf", contrib(col("kw_rank")) + contrib(col("cos_rank")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopN)
      .select("probe_id", "rank", "doc_id", "kw_rank", "cos_rank", "rrf")
      .orderBy("probe_id", "rank")
  }

  val hybridRrfOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
       |), p AS (
       |  SELECT doc_id AS probe_id, toks AS q_toks FROM d WHERE doc_id IN (0, 1, 2)
       |), kw AS (
       |  SELECT p.probe_id, d.doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |      ORDER BY len(list_intersect(d.toks, p.q_toks)) DESC, d.doc_id) AS INT) AS kw_rank
       |  FROM d JOIN p ON d.doc_id <> p.probe_id
       |  WHERE len(list_intersect(d.toks, p.q_toks)) > 0
       |  QUALIFY kw_rank <= $K
       |), e AS (${Embeddings.vecsSql}
       |), a AS (
       |  SELECT vec_id AS probe_id, v, norm2 FROM e WHERE vec_id IN (0, 1, 2)
       |), cs AS (
       |  SELECT a.probe_id, b.vec_id AS doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY a.probe_id
       |      ORDER BY ${Embeddings.cosSql} DESC, b.vec_id) AS INT) AS cos_rank
       |  FROM a JOIN e b ON b.vec_id <> a.probe_id
       |  QUALIFY cos_rank <= $K
       |), f AS (
       |  SELECT COALESCE(kw.probe_id, cs.probe_id) AS probe_id,
       |    COALESCE(kw.doc_id, cs.doc_id) AS doc_id, kw.kw_rank, cs.cos_rank,
       |    COALESCE(CAST(1.0 AS DOUBLE) / (CAST($Rrf AS DOUBLE) + kw.kw_rank), 0.0) +
       |      COALESCE(CAST(1.0 AS DOUBLE) / (CAST($Rrf AS DOUBLE) + cs.cos_rank), 0.0) AS rrf
       |  FROM kw FULL OUTER JOIN cs
       |    ON kw.probe_id = cs.probe_id AND kw.doc_id = cs.doc_id
       |)
       |SELECT probe_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS INT) AS rank,
       |  doc_id, kw_rank, cos_rank, rrf
       |FROM f
       |QUALIFY rank <= $TopN
       |ORDER BY probe_id, rank""".stripMargin

  private val BmK1 = "1.2"
  private val BmB = "0.75"
  private val BmTopN = 10

  // -------------------------------------------------------------- #106
  /** Okapi BM25 retrieval — the canonical lexical ranking the RRF
    * fusion's raw-overlap leg approximates: per-term saturation
    * (k₁ = 1.2) and length normalization (b = 0.75) with the
    * Lucene-style always-positive idf
    * ln((N − df + 0.5)/(df + 0.5) + 1).
    *
    * Scale shape — the INVERTED-INDEX formulation, deliberately
    * better than the RRF keyword leg's broadcast-probe scan: one
    * corpus pass builds the postings table (term, doc, tf) with
    * map-side partial counts; df/idf and doc lengths derive from the
    * POSTINGS (vocabulary-/doc-sized, never the corpus again); query
    * terms broadcast-join the postings ON TERM — at warehouse scale a
    * term-partitioned postings store makes this the classic index
    * probe, touching only the query terms' posting lists. Scoring
    * aggregates candidates with decimal-exact partial sums, and the
    * final top-10 per probe is the bounded-heap `graft_topk`.
    *
    * Determinism: tf/df/dl are integer-exact; avgdl and every ratio
    * are divisions of identical operands; the single ln is 6-dp
    * rounded; per-term contributions are 9-dp quantized and summed
    * through DECIMAL(18,9); all constants are written as exact
    * DOUBLE casts in both engines (§5a #28). */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val postings = toks.groupBy("t", "doc_id").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // three consumers: dl, df, the probe join
    val dl = postings.groupBy("doc_id").agg(sum("tf").as("dl"))
    val nDocs = docs.count()
    val totTok = dl.agg(sum("dl")).head().getLong(0)
    val idf = idfOf(postings, nDocs)
    bm25Rank(probeTermsOf(spark, dir), postings, dl, idf, nDocs, totTok)
  }

  /** idf table from a postings frame — shared with the staged twin. */
  private def idfOf(postings: DataFrame, nDocs: Long): DataFrame =
    idfFromDf(postings.groupBy("t").agg(count(lit(1)).as("df")), nDocs)

  /** idf from an (t, df) table + the CURRENT doc count. Split out
    * because idf is the one BM25 statistic a store must NOT persist
    * under deletions: every term's idf moves when N moves, while df
    * falls out of the probed posting lists as an integer count
    * ([[Bm25Store.score]]) — so idf derives here at query time,
    * query-term-sized work. */
  private[graft] def idfFromDf(dfTab: DataFrame, nDocs: Long): DataFrame =
    dfTab.withColumn("idf", r6(log(
        (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0))))
      .select("t", "idf")

  /** Score the standard probes against fully-supplied index tables —
    * the seam a REPAIRED store answers through
    * ([[DeleteRepair.storeDeleteBm25]]): postings/dl rows already
    * pruned, idf derived from the repaired (df, N). */
  private[graft] def bm25FromTables(spark: SparkSession, dir: String,
      postings: DataFrame, dl: DataFrame, idf: DataFrame,
      nDocs: Long, totTok: Long): DataFrame =
    bm25Rank(probeTermsOf(spark, dir), postings, dl, idf, nDocs, totTok)

  private[similarity] def probeTermsOf(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).where(col("doc_id").isin(probeIds: _*))
      .select(col("doc_id").as("probe_id"),
        explode(graft.dedup.Dedup.tokens).as("t"))

  /** The scoring stage over (already-built or read-back) index tables.
    * avgdl is re-derived from the exact integer pair (totTok, nDocs)
    * so the staged twin's trajectory is bit-identical to the inline
    * build (a stored DOUBLE would also round-trip, but integers make
    * the invariance self-evident). */
  private def bm25Rank(probeTerms: DataFrame, postings: DataFrame, dl: DataFrame,
      idf: DataFrame, nDocs: Long, totTok: Long): DataFrame = {
    val avgdl = totTok.toDouble / nDocs.toDouble
    val denom = col("tf").cast("double") +
      lit(BmK1.toDouble) * (lit(1.0 - BmB.toDouble) +
        lit(BmB.toDouble) * (col("dl").cast("double") / lit(avgdl)))
    val scored = postings
      .join(broadcast(probeTerms), Seq("t"))
      .where(col("doc_id") =!= col("probe_id"))
      .join(broadcast(idf), Seq("t"))
      .join(dl, Seq("doc_id"))
      .withColumn("s", rN(
        // (k1+1) written as the literal 2.2 — the double ADD
        // 1.2 + 1.0 rounds to a DIFFERENT double than parsing "2.2",
        // and the oracle parses
        (col("idf") * (col("tf").cast("double") * lit(2.2))) / denom, 9))
      .groupBy("probe_id", "doc_id")
      .agg(r6(dsum(col("s"), 9)).as("score"))
    scored.groupBy("probe_id")
      .agg(expr(s"graft_topk(score, doc_id, $BmTopN)").as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy("probe_id", "rank")
  }

  // -------------------------------------------------------------- #107
  /** The PERSISTED steady-state of [[bm25]] — THE converged
    * [[Bm25Store]] layout staged ONCE at ingest (fingerprint-idempotent
    * [[graft.sources.Staging]]): term-hash-bucketed postings +
    * doc-bucketed dl/stats, the SAME deletable store the live append
    * twin and the delete repair maintain. The query path SCANS the
    * store — no tokenization, no corpus statistics pass, no raw text
    * touched except the probes' own rows (plan-pinned in Bm25Spec),
    * and only the query terms' `tb=` buckets are listed (static
    * partition pruning — the index-probe shape of a 100 TB lexical
    * index). tf/dl are BIGINT, df falls out of the probed posting
    * lists as a count, idf derives from (df, N) at query time — the
    * staged trajectory is bit-identical to the inline build (same
    * oracle, same answer). */
  def bm25Stored(spark: SparkSession, dir: String): DataFrame =
    Bm25Store.score(spark, dir, stageBm25(spark, dir))

  /** The staged converged store, built once per (fingerprint, sf
    * dir) — also the clone source for the delete-repair demo. */
  private[graft] def stageBm25(spark: SparkSession, dir: String): String =
    graft.sources.Staging.stagedDir(
      "graft_bm25", dir, s"k1=$BmK1|b=$BmB|v3:store-manifest", "documents") { tmp =>
      Bm25Store.build(spark, Tables.documents(spark, dir), tmp)
    }

  val bm25Oracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
       |), post AS MATERIALIZED (
       |  SELECT t, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY t, doc_id
       |), dl AS MATERIALIZED (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM post GROUP BY doc_id
       |), nn AS (SELECT COUNT(*) AS n FROM documents),
       |st AS (SELECT CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE)/(SELECT n FROM nn) AS avgdl FROM dl),
       |idf AS MATERIALIZED (
       |  SELECT t, ROUND(ln(
       |    (CAST((SELECT n FROM nn) AS DOUBLE) - CAST(COUNT(*) AS DOUBLE) + 0.5) /
       |      (CAST(COUNT(*) AS DOUBLE) + 0.5) + 1.0), 6) AS idf
       |  FROM post GROUP BY t
       |), q AS (
       |  SELECT doc_id AS probe_id, unnest(list_distinct(string_split(text, ' '))) AS t
       |  FROM documents WHERE doc_id IN (${probeIds.mkString(", ")})
       |), terms AS (
       |  SELECT q.probe_id, po.doc_id,
       |    ROUND((i.idf * (CAST(po.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))) /
       |      (CAST(po.tf AS DOUBLE) + CAST($BmK1 AS DOUBLE) *
       |        (CAST(0.25 AS DOUBLE) + CAST($BmB AS DOUBLE) *
       |          (CAST(d.dl AS DOUBLE) / (SELECT avgdl FROM st)))), 9) AS s
       |  FROM q JOIN post po ON po.t = q.t AND po.doc_id <> q.probe_id
       |  JOIN idf i ON i.t = q.t
       |  JOIN dl d ON d.doc_id = po.doc_id
       |), scored AS (
       |  SELECT probe_id, doc_id,
       |    ROUND(CAST(SUM(CAST(s AS DECIMAL(18,9))) AS DOUBLE), 6) AS score
       |  FROM terms GROUP BY probe_id, doc_id
       |)
       |SELECT probe_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY score DESC, doc_id) AS INT) AS rank,
       |  doc_id, score
       |FROM scored QUALIFY rank <= $BmTopN ORDER BY probe_id, rank""".stripMargin

  // -------------------------------------------------------------- #108
  /** Cross-encoder-STYLE rerank over the persisted retrieval stores —
    * the standard two-stage serving composition (retrieve cheap and
    * wide from indexes, re-score the small fused candidate set with
    * an expensive JOINT scorer that sees the (query, document) pair
    * together — the role a cross-encoder model plays in a RAG stack).
    * Stage 1 probes the two STORED indexes: the term-bucket-pruned
    * [[Bm25Store]] (lexical top-10) and the cell-pruned IVFADC store
    * ([[StoredIndex]], semantic top-5) — no corpus pass, no index
    * rebuild. Stage 2 computes the joint features ONLY for the fused
    * ≤15-candidate set per query: exact cosine over the raw vectors
    * and exact query-term coverage (the native merge-walk
    * [[graft.functions.OverlapCount]] over full token arrays) — work
    * a first-stage index can NOT express precisely because it scores
    * the pair jointly, affordable here because the candidate set is
    * result-sized. The deterministic stand-in for a learned scorer is
    * a fixed convex blend ce = 0.6·cos + 0.4·coverage (a model would
    * slot in at exactly this seam via mapInPandas batches); a
    * candidate outside the embedding corpus keeps its lexical
    * evidence with cos = 0 rather than vanishing (LEFT join).
    *
    * Scale shape: stage 1 is the stores' own pruned probe shape;
    * stage 2 broadcasts the tiny candidate list onto the documents /
    * embeddings scans (corpus never shuffles, candidate rows are
    * result-scale), and the final rank is a window over ≤15 rows per
    * query. At 100 TB nothing changes but the candidate depth.
    *
    * Determinism: cos and coverage are 6-dp rounded in both engines
    * (cos carries the −0.0 normalization, §5a #25), the blend
    * multiplies/adds the SAME rounded doubles with exact-double
    * constants (§5a #28) and re-rounds; ties break on doc_id.
    *
    * NOTE (ADVICE r20 #3): the candidate `localCheckpoint()` below is
    * EAGER — merely CONSTRUCTING this DataFrame executes both store
    * probes (and stages the stores on a cold dir). Explain/analyze-only
    * callers (tests, plan tooling) pay a full stage-1 execution at
    * construction time; that is the deliberate price of materializing
    * the ≤15-row candidate set exactly once. */
  def rerankCe(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val bmCands = bm25Stored(spark, dir).select("probe_id", "doc_id")
    val annCands = StoredIndex.annIvfPqStored(spark, dir)
      .where(col("probe_id") < 3)
      .select(col("probe_id"), col("neighbor_id").as("doc_id"))
    // the fused candidate set is result-scale (≤ 15 rows): materialize
    // it ONCE so both its uses below (the scoring chain and the
    // corpus-pruning semi-join) read the checkpointed rows instead of
    // re-running the two store probes
    val cands = bmCands.unionByName(annCands).distinct().localCheckpoint()
    // tokenize ONLY candidate rows (guide §2.3 "project before the
    // exchange" applied to a broadcast probe): the r20 shape computed
    // the token projection on the FULL documents scan below the
    // candidate join — a corpus-wide tokenize pass for a ≤15-row
    // candidate set, and at 100 TB the coverage feature must not
    // tokenize the corpus. The broadcast semi-join drops non-candidates
    // map-side BEFORE the tokenizer projection runs.
    val docs = Tables.documents(spark, dir)
      .join(broadcast(cands.select("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), graft.dedup.Dedup.tokens.as("toks"))
    val qToks = Tables.documents(spark, dir)
      .where(col("doc_id").isin(probeIds: _*))
      .select(col("doc_id").as("probe_id"),
        graft.dedup.Dedup.tokens.as("q_toks"))
    val e = Embeddings.vecs(spark, dir)
    val qVecs = e.where(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("v").as("v_a"),
        col("norm2").as("norm2_a"))
    // a LEFT-outer join cannot broadcast its (tiny) LEFT side, so the
    // embeddings leg used to depend on AQE/stats electing to broadcast
    // the CORPUS (r19 verdict "what's wrong" #3 — fine at toy scale,
    // impossible at 100 TB). Structural fix: prune the corpus to the
    // candidate ids with a broadcast semi-join FIRST (guide §3.2 —
    // corpus scans filter map-side, nothing corpus-sized moves), then
    // broadcast the ≤15-row pruned side into the outer join.
    val cVecs = e.select(col("vec_id").as("doc_id"), col("v").as("v_b"),
      col("norm2").as("norm2_b"))
      .join(broadcast(cands.select("doc_id")), Seq("doc_id"), "left_semi")
    val w = Window.partitionBy("probe_id").orderBy(col("ce").desc, col("doc_id"))
    broadcast(cands)
      .join(docs, Seq("doc_id"))
      .join(broadcast(qToks), Seq("probe_id"))
      .join(broadcast(cVecs), Seq("doc_id"), "left")
      .join(broadcast(qVecs), Seq("probe_id"))
      .withColumn("cos", coalesce(Embeddings.cosine, lit(0.0)))
      .withColumn("coverage", r6(
        call_function("graft_overlap", col("toks"), col("q_toks")).cast("double") /
          size(col("q_toks")).cast("double")))
      .withColumn("ce", r6(lit(0.6) * col("cos") + lit(0.4) * col("coverage")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopN)
      .select("probe_id", "rank", "doc_id", "cos", "coverage", "ce")
      .orderBy("probe_id", "rank")
  }

  /** Stage-1 candidates replicated from first principles (the stores
    * are result-invisible, so the BM25 and IVFADC pipelines appear
    * here exactly as in their own oracles, CTE-prefixed to compose),
    * then the joint-feature rerank. */
  val rerankCeOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
       |), post AS MATERIALIZED (
       |  SELECT t, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY t, doc_id
       |), dl AS MATERIALIZED (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM post GROUP BY doc_id
       |), nn AS (SELECT COUNT(*) AS n FROM documents),
       |st AS (SELECT CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE)/(SELECT n FROM nn) AS avgdl FROM dl),
       |idf AS MATERIALIZED (
       |  SELECT t, ROUND(ln(
       |    (CAST((SELECT n FROM nn) AS DOUBLE) - CAST(COUNT(*) AS DOUBLE) + 0.5) /
       |      (CAST(COUNT(*) AS DOUBLE) + 0.5) + 1.0), 6) AS idf
       |  FROM post GROUP BY t
       |), q AS (
       |  SELECT doc_id AS probe_id, unnest(list_distinct(string_split(text, ' '))) AS t
       |  FROM documents WHERE doc_id IN (${probeIds.mkString(", ")})
       |), bterms AS (
       |  SELECT q.probe_id, po.doc_id,
       |    ROUND((i.idf * (CAST(po.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))) /
       |      (CAST(po.tf AS DOUBLE) + CAST($BmK1 AS DOUBLE) *
       |        (CAST(0.25 AS DOUBLE) + CAST($BmB AS DOUBLE) *
       |          (CAST(d.dl AS DOUBLE) / (SELECT avgdl FROM st)))), 9) AS s
       |  FROM q JOIN post po ON po.t = q.t AND po.doc_id <> q.probe_id
       |  JOIN idf i ON i.t = q.t
       |  JOIN dl d ON d.doc_id = po.doc_id
       |), bscored AS (
       |  SELECT probe_id, doc_id,
       |    ROUND(CAST(SUM(CAST(s AS DECIMAL(18,9))) AS DOUBLE), 6) AS score
       |  FROM bterms GROUP BY probe_id, doc_id
       |), btop AS (
       |  SELECT probe_id, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY score DESC, doc_id) AS rnk
       |  FROM bscored QUALIFY rnk <= $BmTopN
       |), e AS (${Embeddings.vecsSql}),
       |cent AS (
       |  SELECT vec_id AS cent_id, v AS v_c
       |  FROM e WHERE vec_id >= 100 AND vec_id < 116
       |), assign AS (
       |  SELECT e.vec_id, c.cent_id,
       |    ROUND(list_reduce(list_transform(range(1, 65),
       |      i -> (e.v[i] - c.v_c[i]) * (e.v[i] - c.v_c[i])), (x, y) -> x + y), 6) AS cdist
       |  FROM e CROSS JOIN cent c
       |), ra AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdist, cent_id) AS crank
       |  FROM assign
       |), alists AS (
       |  SELECT vec_id AS neighbor_id, cent_id AS bucket FROM ra WHERE crank <= 1
       |), pcells AS (
       |  SELECT vec_id AS probe_id, cent_id AS bucket FROM ra WHERE vec_id < 3 AND crank <= 4
       |), acand AS (
       |  SELECT p.probe_id, l.neighbor_id
       |  FROM pcells p JOIN alists l USING (bucket)
       |  WHERE p.probe_id <> l.neighbor_id
       |), subs AS (
       |  SELECT vec_id, s.sub, list_slice(v, s.sub * 8 + 1, s.sub * 8 + 8) AS xs
       |  FROM e, (SELECT unnest(range(0, 8)) AS sub) s
       |), cb AS (
       |  SELECT sub, vec_id - 100 AS cent_id, xs AS cs
       |  FROM subs WHERE vec_id >= 100 AND vec_id < 116
       |), ascored AS (
       |  SELECT t.vec_id, t.sub, c.cent_id,
       |    ROUND(list_reduce(list_transform(range(1, 9),
       |      i -> (t.xs[i] - c.cs[i]) * (t.xs[i] - c.cs[i])), (x, y) -> x + y), 6) AS dist2
       |  FROM subs t JOIN cb c USING (sub)
       |), acodes AS (
       |  SELECT vec_id AS neighbor_id, sub, cent_id AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, cent_id) AS rnk
       |    FROM ascored)
       |  WHERE rnk = 1
       |), aparts AS (
       |  SELECT cd.probe_id, cd.neighbor_id,
       |    CAST(ROUND(list_reduce(list_transform(range(1, 9),
       |      i -> (p.xs[i] - c.cs[i]) * (p.xs[i] - c.cs[i])), (x, y) -> x + y), 6)
       |      AS DECIMAL(18,6)) AS part
       |  FROM acand cd
       |  JOIN acodes k ON k.neighbor_id = cd.neighbor_id
       |  JOIN cb c ON c.sub = k.sub AND c.cent_id = k.code
       |  JOIN subs p ON p.sub = k.sub AND p.vec_id = cd.probe_id
       |), adist AS (
       |  SELECT probe_id, neighbor_id, CAST(SUM(part) AS DOUBLE) AS adist2
       |  FROM aparts GROUP BY 1, 2
       |), atop AS (
       |  SELECT probe_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist2, neighbor_id) AS rnk
       |  FROM adist QUALIFY rnk <= 5
       |), cands AS (
       |  SELECT probe_id, doc_id FROM btop
       |  UNION
       |  SELECT probe_id, neighbor_id AS doc_id FROM atop
       |), d AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
       |), qt AS (
       |  SELECT doc_id AS probe_id, toks AS q_toks FROM d
       |  WHERE doc_id IN (${probeIds.mkString(", ")})
       |), feat AS (
       |  SELECT c.probe_id, c.doc_id,
       |    COALESCE(${Embeddings.cosSql}, CAST(0.0 AS DOUBLE)) AS cos,
       |    ROUND(CAST(len(list_intersect(dd.toks, qq.q_toks)) AS DOUBLE) /
       |      CAST(len(qq.q_toks) AS DOUBLE), 6) AS coverage
       |  FROM cands c
       |  JOIN d dd ON dd.doc_id = c.doc_id
       |  JOIN qt qq ON qq.probe_id = c.probe_id
       |  LEFT JOIN e b ON b.vec_id = c.doc_id
       |  JOIN e a ON a.vec_id = c.probe_id
       |)
       |SELECT probe_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY ce DESC, doc_id) AS INT) AS rank,
       |  doc_id, cos, coverage, ce
       |FROM (
       |  SELECT *, (ROUND(CAST(0.6 AS DOUBLE) * cos + CAST(0.4 AS DOUBLE) * coverage, 6) + 0.0) AS ce
       |  FROM feat)
       |QUALIFY rank <= $TopN
       |ORDER BY probe_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "retrieve_hybrid_rrf" -> (hybridRrf _),
    "retrieve_bm25" -> (bm25 _),
    "retrieve_bm25_stored" -> (bm25Stored _),
    "retrieve_rerank_ce" -> (rerankCe _))

  val oracles: Map[String, String] = Map(
    "retrieve_hybrid_rrf" -> hybridRrfOracle,
    "retrieve_bm25" -> bm25Oracle,
    // the staged read path answers the SAME query - oracle verbatim
    "retrieve_bm25_stored" -> bm25Oracle,
    "retrieve_rerank_ce" -> rerankCeOracle)
}

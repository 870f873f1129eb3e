package graft.dedup

import graft.Tables
import graft.funcs.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level overlap estimation between sources via KMV (bottom-k)
  * shingle sketches — the "how much does crawl B add over crawl A"
  * question answered WITHOUT any pairwise document comparison: one
  * pass folds each source's 5-gram shingle set into a 256-value
  * bottom-k sketch (a fixed-size uniform sample of the distinct
  * shingle set), and every pairwise Jaccard is then estimated from two
  * tiny arrays. Where [[Dedup.minHashLsh]] finds the duplicate PAIRS,
  * this measures the aggregate duplication BETWEEN corpora — the
  * decision input for "ingest this snapshot at all?", dedup-budget
  * planning, and crawl-frequency tuning at 100 TB.
  *
  * Estimator (Beyer et al. SIGMOD'07 / bottom-k sketches): with
  * K(A∪B) the k smallest distinct hashes of the union (computable from
  * the two sketches alone — bottom-k is mergeable by union-truncate),
  * Ĵ = |K(A∪B) ∩ K(A) ∩ K(B)| / |K(A∪B)| is unbiased for the Jaccard
  * similarity; standard error ≈ 1/√k ≈ 6% at k = 256.
  *
  * Scale shape: the corpus is touched ONCE — shingle-hash rows fold
  * into per-source sketches via the native
  * [[graft.functions.KmvSketch graft_kmv]] partial aggregate (map
  * tasks reduce to ≤ k longs per source before the exchange; no
  * (source, hash) pre-distinct shuffle because the sketch itself
  * deduplicates). Everything downstream — pair grid, union ranks,
  * membership joins — runs on S·k sketch rows (metadata-sized: 20
  * sources × 256 longs here; even 10^4 sources is 20 MB). The window
  * rank over (src_a, src_b) operates on that metadata table only.
  *
  * Determinism: the sketch is a pure function of the distinct shingle
  * set (order-free bounded union); shingle hash = the dedup family's
  * `graft_polyhash(·, 31)` over space-joined 5-grams, replicated
  * fold-for-fold in the oracle; the estimate is one BIGINT/BIGINT
  * double division of identical operands. */
object KmvOverlap {

  private[graft] val K = 256
  private[graft] val N = 5

  /** ONE corpus pass → (source, sk ARRAY<BIGINT>) sketch rows. Shared
    * with the live twin ([[graft.streaming.KmvStream]]), whose store
    * holds exactly this table maintained per trigger. */
  private[graft] def sketches(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(expr(s"graft_ngrams(split(text, ' '), $N)")).as("g"))
      .select(col("source"), expr("graft_polyhash(g, 31)").as("h"))
      .groupBy("source").agg(expr(s"graft_kmv(h, $K)").as("sk"))

  // --------------------------------------------------------------- #99
  /** Pairwise (src_a < src_b) corpus overlap: union-sketch size
    * actually used, common-member count, and the Jaccard estimate. */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    estimator(sketches(Tables.documents(spark, dir)))
  }

  /** The pairwise estimator over a sketch table — everything here is
    * S·k metadata rows regardless of corpus size. */
  private[graft] def estimator(sketchTable: DataFrame): DataFrame = {
    val sk = sketchTable.localCheckpoint() // metadata-sized; 3 consumers below
    val skExp = sk.select(col("source"), explode(col("sk")).as("h"))
    val srcs = sk.select("source")
    val pairs = srcs.select(col("source").as("src_a"))
      .join(srcs.select(col("source").as("src_b")), col("src_a") < col("src_b"))
    // union bottom-k per pair, from the sketches alone
    val uni = pairs.join(skExp,
        skExp("source") === col("src_a") || skExp("source") === col("src_b"))
      .select("src_a", "src_b", "h").distinct()
    val w = Window.partitionBy("src_a", "src_b").orderBy("h")
    val kmv = uni.withColumn("r", row_number().over(w)).where(col("r") <= K)
      .select("src_a", "src_b", "h")
      .localCheckpoint() // S²·k rows, reused by both aggregates
    val base = kmv.groupBy("src_a", "src_b").agg(count(lit(1)).as("k_used"))
    val skA = skExp.select(col("source").as("sa"), col("h").as("ha"))
    val skB = skExp.select(col("source").as("sb"), col("h").as("hb"))
    val common = kmv
      .join(skA, col("sa") === col("src_a") && col("ha") === col("h"))
      .join(skB, col("sb") === col("src_b") && col("hb") === col("h"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    base.join(common, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("k_used"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (coalesce(col("n_common"), lit(0L)).cast("double") / col("k_used"))
          .as("jaccard_est"))
      .orderBy("src_a", "src_b")
  }

  /** Oracle rebuilds the sketches definitionally: distinct shingle
    * hashes per source, rank ascending, keep k — then the identical
    * union-rank + membership-join estimator. The char-fold replicates
    * graft_polyhash (ASCII corpus, the dedup-oracle convention). */
  val kmvOverlapOracle: String =
    s"""WITH tok AS (
       |  SELECT source, string_split(text, ' ') AS ws FROM documents
       |), ng AS (
       |  SELECT DISTINCT source,
       |    list_reduce(list_transform(
       |      string_split(array_to_string(list_slice(ws, i, i + ${N - 1}), ' '), ''),
       |      ch -> ascii(ch)::BIGINT), (a, b) -> (a * 31 + b) % 1000000007) AS h
       |  FROM tok, unnest(generate_series(1, len(ws) - ${N - 1})) t(i)
       |  WHERE len(ws) >= $N
       |), sk AS MATERIALIZED (
       |  SELECT source, h FROM (
       |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS r
       |    FROM ng) WHERE r <= $K
       |), srcs AS (SELECT DISTINCT source FROM sk),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b
       |  FROM srcs a JOIN srcs b ON a.source < b.source
       |), uni AS (
       |  SELECT DISTINCT p.src_a, p.src_b, s.h
       |  FROM pairs p JOIN sk s ON s.source = p.src_a OR s.source = p.src_b
       |), kmv AS MATERIALIZED (
       |  SELECT src_a, src_b, h FROM (
       |    SELECT src_a, src_b, h,
       |      row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS r
       |    FROM uni) WHERE r <= $K
       |), base AS (
       |  SELECT src_a, src_b, COUNT(*) AS k_used FROM kmv GROUP BY src_a, src_b
       |), common AS (
       |  SELECT k.src_a, k.src_b, COUNT(*) AS n_common
       |  FROM kmv k
       |  JOIN sk sa ON sa.source = k.src_a AND sa.h = k.h
       |  JOIN sk sb ON sb.source = k.src_b AND sb.h = k.h
       |  GROUP BY k.src_a, k.src_b
       |)
       |SELECT b.src_a, b.src_b, b.k_used,
       |  COALESCE(c.n_common, 0) AS n_common,
       |  CAST(COALESCE(c.n_common, 0) AS DOUBLE) / b.k_used AS jaccard_est
       |FROM base b LEFT JOIN common c
       |  ON b.src_a = c.src_a AND b.src_b = c.src_b
       |ORDER BY b.src_a, b.src_b""".stripMargin

  // exact in both engines: 255 · 1 000 000 007 (written as the digit
  // string so neither engine re-derives it from a float product)
  private val EstNum = (K - 1).toLong * 1000000007L

  // -------------------------------------------------------------- #104
  /** Per-source distinct-shingle cardinality from the SAME sketch —
    * the KMV point estimate DV̂ = (k−1)·M/h₍k₎ (Beyer et al.
    * SIGMOD'07; M = the hash range, h₍k₎ = the k-th smallest distinct
    * hash): with the k smallest of a uniform hash occupying the
    * prefix [0, h₍k₎], the distinct count extrapolates from the
    * prefix density. An unfull sketch IS the exact distinct set.
    * Together with n_grams (total shingle instances from the same
    * single pass) this yields each source's internal duplication
    * rate — corpus-profiling at 100 TB for the cost of one sketch
    * fold, no DISTINCT shuffle anywhere.
    *
    * Determinism: h₍k₎ ≥ k−1 ≥ 1 (k distinct non-negative longs
    * ascending), so the division never degenerates; the estimate is
    * one exact-integer-derived double division, 6-dp rounded. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    Tables.documents(spark, dir)
      .select(col("source"), explode(expr(s"graft_ngrams(split(text, ' '), $N)")).as("g"))
      .select(col("source"), expr("graft_polyhash(g, 31)").as("h"))
      .groupBy("source")
      .agg(expr(s"graft_kmv(h, $K)").as("sk"), count(lit(1)).as("n_grams"))
      .select(col("source"), col("n_grams"),
        size(col("sk")).cast("long").as("sketch_size"),
        r6(when(size(col("sk")) < K, size(col("sk")).cast("double"))
          .otherwise(lit(EstNum).cast("double") /
            element_at(col("sk"), K).cast("double"))).as("distinct_est"))
      .orderBy("source")
  }

  val kmvDistinctOracle: String =
    s"""WITH tok AS (
       |  SELECT source, string_split(text, ' ') AS ws FROM documents
       |), ngall AS MATERIALIZED (
       |  SELECT source,
       |    list_reduce(list_transform(
       |      string_split(array_to_string(list_slice(ws, i, i + ${N - 1}), ' '), ''),
       |      ch -> ascii(ch)::BIGINT), (a, b) -> (a * 31 + b) % 1000000007) AS h
       |  FROM tok, unnest(generate_series(1, len(ws) - ${N - 1})) t(i)
       |  WHERE len(ws) >= $N
       |), totals AS (SELECT source, COUNT(*) AS n_grams FROM ngall GROUP BY source),
       |sk AS (
       |  SELECT source, h, r FROM (
       |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS r
       |    FROM (SELECT DISTINCT source, h FROM ngall)) WHERE r <= $K
       |), agg AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS sketch_size,
       |    MAX(CASE WHEN r = $K THEN h END) AS hk
       |  FROM sk GROUP BY source
       |)
       |SELECT a.source, t.n_grams, a.sketch_size,
       |  ROUND(CASE WHEN a.sketch_size < $K THEN CAST(a.sketch_size AS DOUBLE)
       |    ELSE CAST($EstNum AS DOUBLE) / CAST(a.hk AS DOUBLE) END, 6) AS distinct_est
       |FROM agg a JOIN totals t ON a.source = t.source
       |ORDER BY a.source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_kmv_overlap" -> (kmvOverlap _),
    "sketch_kmv_distinct" -> (kmvDistinct _))

  val oracles: Map[String, String] = Map(
    "sketch_kmv_overlap" -> kmvOverlapOracle,
    "sketch_kmv_distinct" -> kmvDistinctOracle)
}

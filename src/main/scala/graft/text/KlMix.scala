package graft.text

import graft.Tables
import graft.funcs.{dsum, r6, rN}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mixing diagnostic: per-source KL divergence from the corpus-wide
  * token distribution — the number a data-mixing loop watches to see
  * which sources are drifting from (or converging to) the blend it is
  * trying to hit, and the quantitative input to reweighting decisions
  * ([[Pipeline2]] `mix_balance` sets the rates; this measures the
  * residual distributional gap that rates alone cannot close).
  *
  * Distributions are hashed-unigram (md5-free: the dedup family's
  * `graft_polyhash` mod 64 buckets — vocabulary-free, the [[Dsir]]
  * construction), so the statistic is O(sources × 64) metadata
  * however large the corpus.
  *
  * Scale shape: ONE corpus pass — tokens fold into (source, bucket)
  * counts via a partial-aggregable groupBy (map-side combine on a
  * 20×64-key space); the global distribution re-aggregates the
  * METADATA-sized per-source table, never the corpus. Everything
  * after is a broadcast-sized join.
  *
  * Determinism: counts are integer-exact; each bucket share is one
  * BIGINT/BIGINT double division; the single ln is 6-dp rounded (the
  * libm last-ulp rule); per-bucket terms are 12-dp quantized and
  * summed through the exact decimal accumulator, final KL 6-dp.
  * Zero-count source buckets contribute exactly 0 (the q·ln q
  * convention) by filtering c > 0 in both engines; every source
  * bucket is a subset of the global support, so p > 0 wherever
  * q > 0 and the ratio never hits a singularity. */
object KlMix {

  private val B = 64

  // -------------------------------------------------------------- #102
  /** (source, n_tokens, kl_from_corpus) per source, KL in nats. */
  def klReport(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .select(col("source"), pmod(expr("graft_polyhash(t, 31)"), lit(B.toLong)).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint() // 20×64 rows; two consumers
    val totals = counts.groupBy("source").agg(sum("c").as("cs"))
    val global = counts.groupBy("b").agg(sum("c").as("g"))
    val grand = global.agg(sum("g").as("gg"))
    counts
      .join(totals, "source")
      .join(broadcast(global), "b")
      .crossJoin(broadcast(grand))
      .withColumn("q", col("c").cast("double") / col("cs"))
      .withColumn("p", col("g").cast("double") / col("gg"))
      .withColumn("term", rN(col("q") * r6(log(col("q") / col("p"))), 12))
      .groupBy("source")
      .agg(max(col("cs")).as("n_tokens"), r6(dsum(col("term"), 12)).as("kl_from_corpus"))
      .orderBy("source")
  }

  val klReportOracle: String =
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
       |), counts AS MATERIALIZED (
       |  SELECT source,
       |    list_reduce(list_transform(string_split(t, ''), ch -> ascii(ch)::BIGINT),
       |      (a, b) -> (a * 31 + b) % 1000000007) % $B AS b,
       |    COUNT(*) AS c
       |  FROM tok GROUP BY source, b
       |), totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cs FROM counts GROUP BY source),
       |global AS (SELECT b, SUM(c) AS g FROM counts GROUP BY b),
       |grand AS (SELECT SUM(g) AS gg FROM global),
       |terms AS (
       |  SELECT c.source, t.cs,
       |    ROUND((c.c::DOUBLE / t.cs) *
       |      ROUND(ln((c.c::DOUBLE / t.cs) / (gl.g::DOUBLE / (SELECT gg FROM grand))), 6), 12) AS term
       |  FROM counts c JOIN totals t ON c.source = t.source
       |  JOIN global gl ON c.b = gl.b
       |)
       |SELECT source, MAX(cs) AS n_tokens,
       |  ROUND(CAST(SUM(CAST(term AS DECIMAL(18,12))) AS DOUBLE), 6) + 0.0 AS kl_from_corpus
       |FROM terms GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mix_kl_report" -> (klReport _))

  val oracles: Map[String, String] = Map(
    "mix_kl_report" -> klReportOracle)
}

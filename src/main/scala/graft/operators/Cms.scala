package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic count-min sketch (Cormode & Muthukrishnan 2005):
  * d = 4 hash rows × w = 1024 counters over corpus trigram
  * frequencies, estimates read back for the exact top-20 heavy
  * hitters alongside their true counts — the one-sided-error
  * (estimate ≥ truth) frequency sketch every streaming/warehouse
  * stack carries next to HLL ([[Hll]] counts distincts; CMS counts
  * FREQUENCIES).
  *
  * Everything is integer: md5-salted hashing (same conv/hex-cast
  * trick as [[Hll]]), counter sums, and min-over-rows estimates — so
  * the whole result is bit-identical across engines with no float in
  * sight. Hashing runs per DISTINCT gram (weight = its exact count),
  * not per occurrence: the expensive explode is the count aggregation
  * every corpus does anyway; the sketch itself costs d rows per
  * distinct gram into a ≤ d·w-row table.
  *
  * The 100 TB shape: the counter table is FIXED-SIZE (4×1024 here)
  * and mergeable by plain addition — per-partition partial sums
  * combine map-side, per-segment sketches add cell-wise for
  * frequency-over-any-slice, and the probe side is a broadcast join
  * of that tiny table onto whatever keys need estimates. Overestimate
  * bound: ε = e/w ≈ 0.27% of total mass per row, error one-sided —
  * visible in the gated output's `overestimate` column on collided
  * grams (trigram space ≈ 30k ≫ 4096 counters).
  */
object Cms {

  private[graft] val D = 4 // hash rows
  private[graft] val W = 1024 // counters per row

  /** Per-gram exact counts for a documents frame — the aggregation
    * both the batch sketch and the per-micro-batch delta run. */
  private[graft] def gramCounts(docs: DataFrame): DataFrame = docs
    .select(split(col("text"), " ").as("toks"))
    .where(size(col("toks")) >= 3)
    .select(explode(expr("graft_ngrams(toks, 3)")).as("gram"))
    .groupBy("gram").agg(count(lit(1)).as("n"))

  /** d hash rows per gram row: (…, salt, idx). */
  private[graft] def hashed(df: DataFrame): DataFrame = df
    .select(col("*"), explode(array((0 until D).map(lit): _*)).as("salt"))
    .withColumn("idx", expr(
      s"CAST(conv(substring(md5(CAST(salt AS STRING) || '#' || gram), 1, 15), 16, 10) AS BIGINT) % $W"))

  /** Read back the top-20 estimates from a (gram,n) table + counter
    * sketch — shared by the batch operator and the stream's final
    * probe. */
  private[graft] def probeTopK(counts: DataFrame, counters: DataFrame): DataFrame = {
    val top = counts.orderBy(col("n").desc, col("gram")).limit(20)
      .withColumnRenamed("n", "exact_n")
    hashed(top)
      .join(broadcast(counters), Seq("salt", "idx"))
      .groupBy("gram", "exact_n")
      .agg(min("c").as("cms_estimate"))
      .withColumn("overestimate", col("cms_estimate") - col("exact_n"))
      .orderBy(col("exact_n").desc, col("gram"))
  }

  // --------------------------------------------------------------- #57
  /** Exact top-20 trigrams with their CMS estimates: gram, exact
    * count, min-over-rows estimate (≥ exact by construction), and the
    * collision overestimate. */
  def cmsTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val counts = gramCounts(Tables.documents(spark, dir))
      .localCheckpoint() // feeds the sketch, the top-k, and the probes
    val counters = hashed(counts).groupBy("salt", "idx")
      .agg(sum("n").as("c")) // the sketch: <= D*W rows, merge by +
    probeTopK(counts, counters)
  }

  val cmsTopKOracle: String =
    s"""WITH t AS (
       |  SELECT string_split(text, ' ') AS toks FROM documents
       |), g AS (
       |  SELECT unnest(list_transform(range(1, len(toks) - 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS gram
       |  FROM t WHERE len(toks) >= 3
       |), c AS (
       |  SELECT gram, COUNT(*) AS n FROM g GROUP BY 1
       |), h AS (
       |  SELECT gram, n, salt,
       |    CAST(('0x' || substr(md5(salt::VARCHAR || '#' || gram), 1, 15)) AS BIGINT) % $W AS idx
       |  FROM c CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS salt) s
       |), counters AS (
       |  SELECT salt, idx, CAST(SUM(n) AS BIGINT) AS c FROM h GROUP BY 1, 2
       |), top AS (
       |  SELECT gram, n AS exact_n FROM c ORDER BY n DESC, gram LIMIT 20
       |)
       |SELECT top.gram AS gram, top.exact_n AS exact_n, MIN(co.c) AS cms_estimate,
       |  MIN(co.c) - top.exact_n AS overestimate
       |FROM top
       |JOIN h ON h.gram = top.gram
       |JOIN counters co ON co.salt = h.salt AND co.idx = h.idx
       |GROUP BY 1, 2
       |ORDER BY 2 DESC, 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_cms_topk" -> (cmsTopK _))

  val oracles: Map[String, String] = Map(
    "sketch_cms_topk" -> cmsTopKOracle)
}

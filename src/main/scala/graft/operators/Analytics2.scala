package graft.operators

import graft.Tables
import graft.funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Second time-series analytics batch — serial autocorrelation,
  * change-point location, and robust (MAD) outlier detection: the
  * "unusual patterns" / "changes over time" analyses the reference's
  * anomaly and trend analysis types imply (claude-analyzer.ts
  * analysisType 'anomaly'/'trend', analysis-templates.ts:228
  * safety-anomalies "unusual operational patterns") beyond the z-score
  * and least-squares operators already shipped in [[Analytics]].
  *
  * Cross-engine determinism follows the house rules: bucket means are
  * exact-decimal then 6-dp rounded, Pearson/CUSUM sums run over
  * DECIMAL(12,6) operands (products are exact DECIMAL(25,12)), and
  * every comparison (arg-max tie-breaks, outlier thresholds) is on
  * doubles both engines computed identically.
  */
object Analytics2 {

  private def hourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), bucketOfMs(col("ts_ms"), 3600000L).as("bucket_ms"))
      .agg(r6(davg(col("value"))).as("v"))

  // ------------------------------------------------------ sk_autocorr
  /** Serial autocorrelation of each path's hourly series at lags 1-3:
    * Pearson r between the series and its k-step-lagged self over the
    * OBSERVED bucket sequence (the reference's series are dense per
    * tier, so ordinal lag = time lag; sparse series measure
    * sequence-correlation, which is what the safety template's
    * "unusual patterns over time" wants).
    *
    * One exchange on the series key: the three lag columns come from
    * the SAME ordered window pass, and the per-lag Pearson sums are
    * conditional aggregates unpivoted with stack() — adding lags adds
    * columns, not shuffles (and never a self-join per lag, which would
    * re-shuffle the series table k times). */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("bucket_ms")
    val lagged = hourly(spark, dir)
      .withColumn("x", col("v").cast(DecimalType(12, 6)))
      .withColumn("l1", lag("x", 1).over(w))
      .withColumn("l2", lag("x", 2).over(w))
      .withColumn("l3", lag("x", 3).over(w))
    def sums(k: Int) = Seq(
      count(col(s"l$k")).as(s"n$k"),
      sum(when(col(s"l$k").isNotNull, col("x"))).cast("double").as(s"sa$k"),
      sum(col(s"l$k")).cast("double").as(s"sb$k"),
      sum(col("x") * col(s"l$k")).cast("double").as(s"sab$k"),
      sum(when(col(s"l$k").isNotNull, col("x") * col("x"))).cast("double").as(s"saa$k"),
      sum(col(s"l$k") * col(s"l$k")).cast("double").as(s"sbb$k"))
    val aggd = lagged.groupBy("event_type")
      .agg(sums(1).head, (sums(1).tail ++ sums(2) ++ sums(3)): _*)
    val long = aggd.select(col("event_type"), expr(
      """stack(3,
        |  1L, n1, sa1, sb1, sab1, saa1, sbb1,
        |  2L, n2, sa2, sb2, sab2, saa2, sbb2,
        |  3L, n3, sa3, sb3, sab3, saa3, sbb3
        |) as (lag, n_pairs, sa, sb, sab, saa, sbb)""".stripMargin))
    long
      .withColumn("denom",
        sqrt(col("n_pairs") * col("saa") - col("sa") * col("sa")) *
          sqrt(col("n_pairs") * col("sbb") - col("sb") * col("sb")))
      .where(col("n_pairs") >= 2 && col("denom") > 0.0)
      .withColumn("acf", r6(
        (col("n_pairs") * col("sab") - col("sa") * col("sb")) / col("denom")))
      .select("event_type", "lag", "n_pairs", "acf")
      .orderBy("event_type", "lag")
  }

  val autocorrOracle: String =
    """WITH h AS (
      |  SELECT event_type, CAST(FLOOR(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT) AS bucket_ms,
      |    CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6)
      |      AS DECIMAL(12,6)) AS x
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT event_type, x,
      |    LAG(x, 1) OVER w AS l1, LAG(x, 2) OVER w AS l2, LAG(x, 3) OVER w AS l3
      |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ms)),
      |pairs AS (
      |  SELECT event_type, k.lag,
      |    CASE k.lag WHEN 1 THEN l1 WHEN 2 THEN l2 ELSE l3 END AS y, x
      |  FROM lagged CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS lag) k),
      |sums AS (
      |  SELECT event_type, CAST(lag AS BIGINT) AS lag, COUNT(y) AS n_pairs,
      |    CAST(SUM(CASE WHEN y IS NOT NULL THEN x END) AS DOUBLE) AS sa,
      |    CAST(SUM(y) AS DOUBLE) AS sb,
      |    CAST(SUM(x * y) AS DOUBLE) AS sab,
      |    CAST(SUM(CASE WHEN y IS NOT NULL THEN x * x END) AS DOUBLE) AS saa,
      |    CAST(SUM(y * y) AS DOUBLE) AS sbb
      |  FROM pairs GROUP BY 1, 2)
      |SELECT event_type, lag, n_pairs,
      |  ROUND((n_pairs * sab - sa * sb) /
      |    (SQRT(n_pairs * saa - sa * sa) * SQRT(n_pairs * sbb - sb * sb)), 6) + 0.0 AS acf
      |FROM sums
      |WHERE n_pairs >= 2
      |  AND SQRT(n_pairs * saa - sa * sa) * SQRT(n_pairs * sbb - sb * sb) > 0.0
      |ORDER BY event_type, lag""".stripMargin

  // --------------------------------------------------- sk_changepoint
  /** Single change-point location per path: the split of the hourly
    * series maximizing |mean(before) − mean(after)| (the discrete
    * two-sample CUSUM statistic) — "performance trends indicating
    * wear" (analysis-templates.ts:251) asked as WHEN did the level
    * shift. Emits the split bucket (last bucket of the left segment),
    * both segment means and the shift size.
    *
    * Prefix sums are an ordered decimal window over the bucketed
    * series; the series total reuses the SAME partition as a
    * whole-frame window, and the arg-max (earliest bucket among equal
    * shifts, on 6-dp-rounded shift values both engines share) is a
    * max window + filter + min aggregation on the series key — ONE
    * exchange end to end after the bucket aggregation; nothing
    * quadratic in candidate splits. */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("event_type").orderBy("bucket_ms")
    val wAll = Window.partitionBy("event_type")
    val scored = hourly(spark, dir)
      .withColumn("x", col("v").cast(DecimalType(12, 6)))
      .withColumn("i", row_number().over(wOrd))
      .withColumn("cum", sum("x").over(wOrd).cast("double"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum("x").over(wAll).cast("double"))
      .where(col("i") < col("n"))
      .withColumn("mean_left", col("cum") / col("i"))
      .withColumn("mean_right", (col("total") - col("cum")) / (col("n") - col("i")))
      .withColumn("delta", r6(abs(col("mean_left") - col("mean_right"))))
      .withColumn("best", max("delta").over(wAll))
    scored.where(col("delta") === col("best"))
      .groupBy("event_type")
      .agg(min("n").as("n_buckets"),
        min("bucket_ms").as("split_bucket_ms"),
        min(struct(col("bucket_ms"), r6(col("mean_left")).as("ml"),
          r6(col("mean_right")).as("mr"))).as("s"),
        min("delta").as("delta"))
      .select(col("event_type"), col("n_buckets"), col("split_bucket_ms"),
        col("s.ml").as("mean_left"), col("s.mr").as("mean_right"), col("delta"))
      .orderBy("event_type")
  }

  val changepointOracle: String =
    """WITH h AS (
      |  SELECT event_type, CAST(FLOOR(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT) AS bucket_ms,
      |    CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6)
      |      AS DECIMAL(12,6)) AS x
      |  FROM events GROUP BY 1, 2),
      |scored AS (
      |  SELECT event_type, bucket_ms,
      |    ROW_NUMBER() OVER wo AS i,
      |    CAST(SUM(x) OVER wo AS DOUBLE) AS cum,
      |    COUNT(*) OVER wa AS n,
      |    CAST(SUM(x) OVER wa AS DOUBLE) AS total
      |  FROM h
      |  WINDOW wo AS (PARTITION BY event_type ORDER BY bucket_ms),
      |         wa AS (PARTITION BY event_type)),
      |deltas AS (
      |  SELECT *, cum / i AS mean_left, (total - cum) / (n - i) AS mean_right,
      |    ROUND(ABS(cum / i - (total - cum) / (n - i)), 6) AS delta
      |  FROM scored WHERE i < n),
      |best AS (
      |  SELECT *, MAX(delta) OVER (PARTITION BY event_type) AS best FROM deltas),
      |picked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket_ms) AS rn
      |  FROM best WHERE delta = best)
      |SELECT event_type, n AS n_buckets, bucket_ms AS split_bucket_ms,
      |  ROUND(mean_left, 6) + 0.0 AS mean_left,
      |  ROUND(mean_right, 6) + 0.0 AS mean_right, delta
      |FROM picked WHERE rn = 1 ORDER BY event_type""".stripMargin

  // --------------------------------------------------- sk_outlier_mad
  /** Robust outlier report per path: median / MAD scoring — the
    * heavy-tail-safe sibling of [[Analytics.anomalyZscore]] (a single
    * spike inflates a z-score baseline but not a median one; the
    * safety-anomalies template wants "unusual" against TYPICAL
    * behavior). Flags rows with |value − median| > 3 · 1.4826 · MAD
    * and emits their robust score.
    *
    * MAD is inherently two-phase (the deviation median depends on the
    * value median): two path-key aggregations over the scan with the
    * per-path stats (5 paths here, one row per path at any scale)
    * broadcast back — the corpus itself never shuffles or sorts.
    * Exact interpolated percentiles here (bit-equal to the oracle's
    * quantile_cont, as sk_percentiles proves); at 100 TB the swap is
    * approx_percentile, as documented on [[Analytics.percentilesExact]]. */
  def outlierMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_type", "event_id", "ts_ms", "value")
    val med = ev.groupBy("event_type")
      .agg(r6(percentile(col("value"), lit(0.5))).as("med"))
    val withMed = ev.join(broadcast(med), "event_type")
      .withColumn("absdev", r6(abs(col("value") - col("med"))))
    val mad = withMed.groupBy("event_type")
      .agg(r6(percentile(col("absdev"), lit(0.5))).as("mad"))
    withMed.join(broadcast(mad), "event_type")
      .where(col("mad") > 0.0 && col("absdev") > lit(3.0 * 1.4826) * col("mad"))
      .withColumn("score", r6(col("absdev") / (lit(1.4826) * col("mad"))))
      .select("event_type", "event_id", "ts_ms", "value", "med", "mad", "score")
      .orderBy("event_type", "event_id")
  }

  val outlierMadOracle: String =
    """WITH med AS (
      |  SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
      |  FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, e.event_id, epoch_ms(e.ts) AS ts_ms, e.value, m.med,
      |    ROUND(ABS(e.value - m.med), 6) AS absdev
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, ROUND(quantile_cont(absdev, 0.5), 6) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, d.event_id, d.ts_ms, d.value, d.med, m.mad,
      |  ROUND(d.absdev / (1.4826 * m.mad), 6) AS score
      |FROM dev d JOIN mad m USING (event_type)
      |WHERE m.mad > 0.0 AND d.absdev > 3.0 * 1.4826 * m.mad
      |ORDER BY d.event_type, d.event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_autocorr" -> (autocorr _),
    "sk_changepoint" -> (changepoint _),
    "sk_outlier_mad" -> (outlierMad _))

  val oracles: Map[String, String] = Map(
    "sk_autocorr" -> autocorrOracle,
    "sk_changepoint" -> changepointOracle,
    "sk_outlier_mad" -> outlierMadOracle)
}

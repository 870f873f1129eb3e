package graft.operators

import graft.Tables
import graft.funcs._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Series analytics backing the reference's canned analysis types
  * (analysis-templates.ts: `summary | anomaly | trend | correlation`).
  * Summary and correlation are covered by profile/track/spatial ops;
  * these add the anomaly and trend analyses as engine operators.
  *
  * Cross-engine determinism: both operators are built from exact
  * DECIMAL sufficient statistics (n, Σx, Σx², Σxy) folded per series —
  * associative, partition-order independent — with the closed-form
  * combined in DOUBLE using the same operand order in Spark and the
  * oracle SQL, then rounded. No Welford/streaming variance whose
  * accumulation order differs per engine.
  *
  * Scale: one partial-aggregated shuffle per series key for the
  * statistics; the per-row pass (z-score) re-joins stats by key —
  * broadcast-sized, since there is one row per series.
  */
object Analytics {

  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  // --------------------------------------------------------- anomaly
  /** Z-score outliers per series: |x − μ| > 3σ (sample stddev). μ and
    * σ come from exact decimal Σx and Σx²; rows flagged with their
    * rounded z-score. */
  def anomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val xd = col("value").cast(DecimalType(18, 6))
    val stats = ev(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(xd).cast("double").as("sx"),
        sum(xd * xd).cast("double").as("sx2"))
      .withColumn("mean", col("sx") / col("n"))
      // degenerate series (n=1 or zero variance) have no defined σ —
      // without the guard the z-score is NaN/±Inf and the engines'
      // NaN filter/round/hash behavior diverges (the w=0 histogram
      // class). Filter on the exact radicand expression both engines
      // compute, so the surviving row sets agree bit-for-bit.
      .where(col("n") > 1 &&
        (col("sx2") - col("sx") * col("sx") / col("n")) > 0.0)
      .withColumn("sd", sqrt(
        (col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1)))
    ev(spark, dir)
      .join(broadcast(stats), Seq("user_id", "event_type"))
      .withColumn("z", r6((col("value") - col("mean")) / col("sd")))
      .where(abs(col("z")) > 3.0)
      .select("user_id", "event_type", "event_id", "ts_ms", "value", "z")
      .orderBy("user_id", "event_type", "event_id")
  }

  val anomalyOracle: String =
    """WITH stats AS (
      |  SELECT user_id, event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx2
      |  FROM events GROUP BY 1, 2
      |), s2 AS (
      |  SELECT user_id, event_type, n, sx / n AS mean,
      |    SQRT((sx2 - sx * sx / n) / (n - 1)) AS sd
      |  FROM stats
      |  WHERE n > 1 AND (sx2 - sx * sx / n) > 0.0
      |)
      |SELECT e.user_id, e.event_type, e.event_id, epoch_ms(e.ts) AS ts_ms, e.value,
      |  ROUND((e.value - s.mean) / s.sd, 6) AS z
      |FROM events e JOIN s2 s ON e.user_id = s.user_id AND e.event_type = s.event_type
      |WHERE ABS(ROUND((e.value - s.mean) / s.sd, 6)) > 3.0
      |ORDER BY 1, 2, 3""".stripMargin

  // ----------------------------------------------------------- trend
  /** Least-squares trend per series: slope (per day) and mean level,
    * from exact decimal Σx, Σy, Σxy, Σx² over x = ts − min(ts). The
    * centering keeps the normal-equation cancellation benign and the
    * decimal sums within DECIMAL(38) at any realistic series length. */
  def trendSlope(spark: SparkSession, dir: String): DataFrame = {
    val base = ev(spark, dir)
      .withColumn("t0", min("ts_ms").over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id", "event_type")))
      .withColumn("x", (col("ts_ms") - col("t0")).cast(DecimalType(38, 0)))
      .withColumn("y", col("value").cast(DecimalType(18, 6)))
    base.groupBy("user_id", "event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"))
      // a series needs ≥2 distinct timestamps for a defined slope
      // (n=1 or all-same-ts → zero denominator → 0/0 NaN, where
      // engine round/hash behavior diverges): NULL it out on the
      // exact denominator expression both engines compute
      .withColumn("slope_per_day", when(
        (col("n") * col("sxx") - col("sx") * col("sx")) > 0.0,
        r6((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * lit(86400000.0))))
      .withColumn("mean_level", r6(col("sy") / col("n")))
      .select("user_id", "event_type", "n", "slope_per_day", "mean_level")
      .orderBy("user_id", "event_type")
  }

  val trendOracle: String =
    """WITH base AS (
      |  SELECT user_id, event_type,
      |    CAST(epoch_ms(ts) - MIN(epoch_ms(ts)) OVER (PARTITION BY user_id, event_type)
      |      AS DECIMAL(38,0)) AS x,
      |    CAST(value AS DECIMAL(18,6)) AS y
      |  FROM events
      |), sums AS (
      |  SELECT user_id, event_type, COUNT(*) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sxx
      |  FROM base GROUP BY 1, 2
      |)
      |SELECT user_id, event_type, n,
      |  CASE WHEN (n * sxx - sx * sx) > 0.0 THEN
      |    ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400000.0, 6) + 0.0
      |  END AS slope_per_day,
      |  ROUND(sy / n, 6) AS mean_level
      |FROM sums ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------------- correlation
  /** Cross-series Pearson correlation per context — the reference's
    * `correlation` analysisType (analysis-templates.ts "Weather Impact
    * Analysis": wind speed vs vessel speed). Series are aligned on
    * hourly buckets first (exact decimal bucket means, rounded to
    * 6 dp), then r comes from exact decimal Σa, Σb, Σab, Σa², Σb² with
    * the closed form evaluated in DOUBLE in the same operand order in
    * both engines. One shuffle for the bucket alignment, one
    * series-key aggregation — nothing quadratic. */
  def seriesCorrelation(spark: SparkSession, dir: String): DataFrame = {
    def hourly(tpe: String, out: String) =
      ev(spark, dir).where(col("event_type") === tpe)
        .groupBy(col("user_id"), bucketOfMs(col("ts_ms"), 3600000L).as("bucket_ms"))
        .agg(r6(davg(col("value"))).as(out))
    val a = hourly("click", "a")
    val b = hourly("purchase", "b")
    val ad = col("a").cast(DecimalType(12, 6))
    val bd = col("b").cast(DecimalType(12, 6))
    a.join(b, Seq("user_id", "bucket_ms"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(ad).cast("double").as("sa"),
        sum(bd).cast("double").as("sb"),
        sum(ad * bd).cast("double").as("sab"),
        sum(ad * ad).cast("double").as("saa"),
        sum(bd * bd).cast("double").as("sbb"))
      // degenerate series (single bucket / zero variance) have no
      // defined r — filter on the exact same double expression both
      // engines compute, so the row sets agree
      .withColumn("denom",
        sqrt(col("n_buckets") * col("saa") - col("sa") * col("sa")) *
          sqrt(col("n_buckets") * col("sbb") - col("sb") * col("sb")))
      .where(col("n_buckets") >= 2 && col("denom") > 0.0)
      .withColumn("pearson_r", r6(
        (col("n_buckets") * col("sab") - col("sa") * col("sb")) / col("denom")))
      .select("user_id", "n_buckets", "pearson_r")
      .orderBy("user_id")
  }

  val correlationOracle: String =
    """WITH a AS (
      |  SELECT user_id, CAST(FLOOR(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT) AS bucket_ms,
      |    CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS DECIMAL(12,6)) AS a
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), b AS (
      |  SELECT user_id, CAST(FLOOR(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT) AS bucket_ms,
      |    CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS DECIMAL(12,6)) AS b
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      |), sums AS (
      |  SELECT a.user_id, COUNT(*) AS n_buckets,
      |    CAST(SUM(a.a) AS DOUBLE) AS sa, CAST(SUM(b.b) AS DOUBLE) AS sb,
      |    CAST(SUM(a.a * b.b) AS DOUBLE) AS sab,
      |    CAST(SUM(a.a * a.a) AS DOUBLE) AS saa,
      |    CAST(SUM(b.b * b.b) AS DOUBLE) AS sbb
      |  FROM a JOIN b ON a.user_id = b.user_id AND a.bucket_ms = b.bucket_ms
      |  GROUP BY 1
      |)
      |SELECT user_id, n_buckets,
      |  ROUND((n_buckets * sab - sa * sb) /
      |    (SQRT(n_buckets * saa - sa * sa) * SQRT(n_buckets * sbb - sb * sb)), 6) + 0.0 AS pearson_r
      |FROM sums
      |WHERE n_buckets >= 2
      |  AND SQRT(n_buckets * saa - sa * sa) * SQRT(n_buckets * sbb - sb * sb) > 0.0
      |ORDER BY 1""".stripMargin

  // ------------------------------------------------------- wind rose
  /** Wind rose — analysis-templates.ts "Wind Pattern Analysis"
    * (predominant directions + speed distribution per sector): angles
    * binned into 16 compass sectors of 22.5°, with count and mean
    * magnitude per sector. A single partial-aggregated shuffle on the
    * sector id; the binning is pure codegen'd arithmetic. `value` is
    * the angle in radians; the JSON props field `k` plays the paired
    * magnitude (integers, so the decimal mean is exact). */
  def windRose(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir).where(col("event_type") === "click")
      .withColumn("sector",
        floor(pmod(degrees(col("value")), lit(360.0)) / lit(22.5)).cast("int"))
      .withColumn("mag", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("sector")
      .agg(count(lit(1)).as("n_obs"), r6(davg(col("mag"), 0)).as("mag_avg"))
      .orderBy("sector")

  val windRoseOracle: String =
    """SELECT CAST(FLOOR(((DEGREES(value) % 360.0) + 360.0) % 360.0 / 22.5) AS INT) AS sector,
      |  COUNT(*) AS n_obs,
      |  ROUND(CAST(SUM(CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS DECIMAL(18,0))) AS DOUBLE)
      |    / COUNT(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS mag_avg
      |FROM events WHERE event_type = 'click'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------- percentiles
  /** Exact per-path percentiles (p50/p90/p99) — the distribution
    * summary behind the reference's analysis templates, computed with
    * Spark's exact `percentile` aggregate (linear interpolation at
    * rank p·(n-1), the same definition DuckDB's quantile_cont uses;
    * outputs rounded to 6 dp for the cross-engine compare).
    *
    * Scale note: exact percentiles buffer a GROUP's values in one
    * aggregation row — fine for per-path rollups whose groups fit an
    * executor, a straight OOM for percentiles over huge groups (few
    * event types × 100 TB); there the mergeable `approx_percentile`
    * sketch is the swap, at the price of the oracle's bit-equality. */
  def percentilesExact(spark: SparkSession, dir: String): DataFrame = {
    def pct(q: Double): Column = percentile(col("value"), lit(q))
    ev(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        pct(0.5).as("p50_raw"),
        pct(0.9).as("p90_raw"),
        pct(0.99).as("p99_raw"))
      .select(col("event_type"), col("n"),
        r6(col("p50_raw")).as("p50"), r6(col("p90_raw")).as("p90"),
        r6(col("p99_raw")).as("p99"))
      .orderBy("event_type")
  }

  val percentilesOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
      |  ROUND(quantile_cont(value, 0.99), 6) AS p99
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_percentiles" -> (percentilesExact _),
    "sk_anomaly_zscore" -> (anomalyZscore _),
    "sk_trend_slope" -> (trendSlope _),
    "sk_series_correlation" -> (seriesCorrelation _),
    "sk_wind_rose" -> (windRose _))

  val oracles: Map[String, String] = Map(
    "sk_percentiles" -> percentilesOracle,
    "sk_anomaly_zscore" -> anomalyOracle,
    "sk_trend_slope" -> trendOracle,
    "sk_series_correlation" -> correlationOracle,
    "sk_wind_rose" -> windRoseOracle)
}

package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded SignalK-shaped fleet every telemetry workload draws from.
  *
  * A raw sample is a pure integer function of (seed, series, index), so
  * the Spark generator (SQL expressions over `spark.range`) and the
  * Scala replica the correctness checks use give identical values
  * without ever sharing code with the library. Values are `k / 1000.0`
  * (exact at the 6-dp decimal scale the library aggregates at); angular
  * paths are radians in [0, 2π). */
final class Fleet(seed: Long, val vessels: Int, val cadenceMs: Long) {
  val paths: IndexedSeq[String] = IndexedSeq(
    "navigation.speedOverGround",
    "navigation.courseOverGroundTrue",
    "navigation.headingTrue",
    "environment.wind.speedApparent",
    "environment.wind.angleApparent",
    "environment.depth.belowTransducer")
  val angular: Set[String] = Set(
    "navigation.courseOverGroundTrue", "navigation.headingTrue",
    "environment.wind.angleApparent")
  val sources: IndexedSeq[String] = paths.map { p =>
    if (p.startsWith("navigation")) "n2k-on-ve.can0.115"
    else if (p.startsWith("environment.wind")) "n2k-on-ve.can0.105"
    else "nmea0183.II"
  }
  private val base = IndexedSeq(3000L, 0L, 0L, 6000L, 0L, 12000L)
  private val amp = IndexedSeq(4000L, 2500L, 2500L, 9000L, 3000L, 8000L)
  private val halfPeriod = 5400L
  private val mix = java.lang.Math.floorMod(seed * 2654435761L + 12345L, 1000003L)

  def context(v: Int): String = f"vessels.urn:mrn:imo:mmsi:2110000$v%02d"
  /** The hive-path-builder sanitization (`.`→`__`, `:`→`-`), the form
    * contexts and paths take as partition directory values. */
  def sanitize(s: String): String = s.replace(".", "__").replace(":", "-")
  def series(v: Int, p: Int): Long = v.toLong * paths.size + p

  /** Timestamp of sample `i` of series `s` (jittered, strictly inside
    * its cadence slot so a series stays time-ordered). */
  def tsOf(t0: Long, s: Long, i: Long): Long =
    t0 + i * cadenceMs + java.lang.Math.floorMod(i * 7919L + s * 104729L + mix, cadenceMs / 2)

  def kOf(p: Int, s: Long, i: Long): Long = {
    val ph = java.lang.Math.floorMod(s * 7919L + mix, 2 * halfPeriod)
    val tri = math.abs(java.lang.Math.floorMod(i + ph, 2 * halfPeriod) - halfPeriod)
    val noise = java.lang.Math.floorMod(i * 2654435761L + s * 97L + mix, 1000L) - 500L
    val k = base(p) + amp(p) * tri / halfPeriod + noise
    if (angular(paths(p))) java.lang.Math.floorMod(k, 6283L) else k
  }

  def valueOf(p: Int, s: Long, i: Long): Double = kOf(p, s, i) / 1000.0

  /** The same formulas as Spark columns over (s, i) long columns. */
  def tsCol(t0: Long, s: String, i: String): String =
    s"$t0 + $i * $cadenceMs + pmod($i * 7919 + $s * 104729 + $mix, ${cadenceMs / 2})"

  def valueCol(p: String, s: String, i: String): String = {
    val arr = (xs: Seq[Long]) => xs.mkString("array(", "L, ", "L)")
    val k = s"element_at(${arr(base)}, $p + 1) + " +
      s"element_at(${arr(amp)}, $p + 1) * " +
      s"abs(pmod($i + pmod($s * 7919 + $mix, ${2 * halfPeriod}), ${2 * halfPeriod}) - $halfPeriod) " +
      s"div $halfPeriod + pmod($i * 2654435761 + $s * 97 + $mix, 1000) - 500"
    val angIdx = paths.indices.filter(p => angular(paths(p))).mkString(", ")
    s"(CASE WHEN $p IN ($angIdx) THEN pmod($k, 6283) ELSE $k END) / 1000.0"
  }

  def lookup(xs: Seq[String], idx: String): String =
    xs.map(x => s"'$x'").mkString("element_at(array(", ", ", s"), $idx + 1)")
}

/** The read-only archive of the `history` workload: `days` days of the
  * fleet in the `tier=/context=/path=/year=/day=` hive layout. */
final class Archive(spark: SparkSession, val fleet: Fleet, val t0: Long, val days: Int,
    val dir: String) {
  val endMs: Long = t0 + days * 86400000L
  val samplesPerSeries: Long = days * 86400000L / fleet.cadenceMs
  val tiers: Map[String, Long] = Map("5s" -> 5000L, "60s" -> 60000L, "1h" -> 3600000L)

  /** Raw rows in the series frame shape plus the tier payload columns. */
  private def raw: DataFrame = {
    val n = samplesPerSeries
    val nSeries = fleet.vessels.toLong * fleet.paths.size
    spark.range(0, nSeries * n).selectExpr(s"id div $n AS s", s"id % $n AS i", "id")
      .selectExpr("s", "i", "id", s"CAST(s div ${fleet.paths.size} AS INT) AS v",
        s"CAST(s % ${fleet.paths.size} AS INT) AS p")
      .selectExpr(
        s"concat('${fleet.sanitize("vessels.urn:mrn:imo:mmsi:2110000")}', lpad(CAST(v AS STRING), 2, '0')) AS context",
        s"${fleet.lookup(fleet.paths.map(fleet.sanitize), "p")} AS path",
        s"${fleet.tsCol(t0, "s", "i")} AS ts_ms",
        s"${fleet.valueCol("p", "s", "i")} AS value",
        "id AS order_id",
        s"${fleet.lookup(fleet.sources, "p")} AS source_label")
  }

  private def withLayout(df: DataFrame, tier: String): DataFrame =
    df.withColumn("tier", lit(tier))
      .withColumn("year", year(timestamp_millis(col("ts_ms"))).cast("string"))
      .withColumn("day", lpad(dayofyear(timestamp_millis(col("ts_ms"))).cast("string"), 3, "0"))

  /** Write every tier with one `HiveStore.write`. Aggregated tiers keep
    * the series-frame columns: `ts_ms` is the bucket start, `value` the
    * bucket average, and `order_id` the bucket start (first/last order). */
  def write(): Unit = {
    import graft.operators.TimeSeries
    val asEvents = raw.withColumnRenamed("context", "user_id").withColumnRenamed("path", "event_type")
    val srcOf = fleet.paths.indices.map(p => s"'${fleet.sanitize(fleet.paths(p))}', '${fleet.sources(p)}'")
      .mkString("map(", ", ", ")")
    def asSeries(tier: DataFrame): DataFrame = tier.select(
      col("user_id").as("context"), col("event_type").as("path"), col("bucket_ms").as("ts_ms"),
      col("value_avg").as("value"), col("bucket_ms").as("order_id"),
      expr(s"element_at($srcOf, event_type)").as("source_label"))
    val partials5s = TimeSeries.tierPartials(asEvents, 5000L)
    val all = Seq(
      withLayout(raw, "raw"),
      withLayout(asSeries(TimeSeries.tierRollup(asEvents, 5000L)), "5s"),
      withLayout(asSeries(TimeSeries.tierReaggregate(partials5s, 60000L)), "60s"),
      withLayout(asSeries(TimeSeries.tierReaggregate(partials5s, 3600000L)), "1h"))
      .reduce(_ unionByName _)
    graft.sources.HiveStore.write(all, dir)
  }

  def tierDir(tier: String): String = s"$dir/tier=$tier"

  /** (year, day) partition values a [from, to) range touches. */
  def dayParts(fromMs: Long, toMs: Long): Seq[String] = {
    val first = Math.floorDiv(fromMs, 86400000L)
    val last = Math.floorDiv(toMs - 1, 86400000L)
    (first to last).map { d =>
      val date = java.time.LocalDate.ofEpochDay(d)
      f"${date.getYear}%04d${date.getDayOfYear}%03d"
    }
  }

  /** Scala replica: the series rows a tier holds for (vessel, path) in
    * [fromMs, toMs), as (ts_ms, value, order_id). */
  def replicaRows(tier: String, v: Int, p: Int, fromMs: Long, toMs: Long): Seq[(Long, Double, Long)] = {
    val s = fleet.series(v, p)
    val n = samplesPerSeries
    // jitter < cadence/2, so sample i lies in [t0 + i·c, t0 + (i+½)·c)
    val lo = math.max(0L, (fromMs - t0) / fleet.cadenceMs - 1)
    val hi = math.min(n - 1, (toMs - t0) / fleet.cadenceMs + 1)
    val rawRows = (lo to hi).iterator.map(i => (fleet.tsOf(t0, s, i), i))
    if (tier == "raw")
      rawRows.filter { case (ts, _) => ts >= fromMs && ts < toMs }
        .map { case (ts, i) => (ts, fleet.valueOf(p, s, i), s * n + i) }.toSeq
    else {
      // a tier bucket is kept iff its start is in range, and holds every
      // raw sample of the bucket, so widen the raw scan to whole buckets
      val r = tiers(tier)
      val bLo = Math.floorDiv(fromMs, r) * r
      val bHi = Math.floorDiv(toMs - 1, r) * r + r
      val wideLo = math.max(0L, (bLo - t0) / fleet.cadenceMs - 1)
      val wideHi = math.min(n - 1, (bHi - t0) / fleet.cadenceMs + 1)
      (wideLo to wideHi).iterator.map(i => (fleet.tsOf(t0, s, i), fleet.kOf(p, s, i)))
        .filter { case (ts, _) => ts >= bLo && ts < bHi }
        .toSeq.groupBy { case (ts, _) => Math.floorDiv(ts, r) * r }
        .collect { case (b, xs) if b >= fromMs && b < toMs =>
          val sum = BigDecimal(xs.map(_._2).sum, 3).toDouble
          (b, sum / xs.size, b)
        }.toSeq.sortBy(_._1)
    }
  }
}

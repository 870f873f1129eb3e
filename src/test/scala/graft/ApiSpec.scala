package graft

import graft.api.{Durations, History}
import graft.api.History.{Method, PathSpec}

class ApiSpec extends SparkSpec {

  test("duration parsing: ISO, seconds, shorthand") {
    assert(Durations.parseMillis("PT1H") == 3600000L)
    assert(Durations.parseMillis("PT1H30M") == 5400000L)
    assert(Durations.parseMillis("P1D") == 86400000L)
    assert(Durations.parseMillis("3600") == 3600000L)
    assert(Durations.parseMillis("1h") == 3600000L)
    assert(Durations.parseMillis("30m") == 1800000L)
    assert(Durations.parseMillis("2d") == 172800000L)
    intercept[IllegalArgumentException](Durations.parseMillis("xyz"))
  }

  test("resolution parsing: seconds and time expressions") {
    assert(Durations.parseResolutionMillis("60") == 60000L)
    assert(Durations.parseResolutionMillis("1m") == 60000L)
    assert(Durations.parseResolutionMillis("5s") == 5000L)
    intercept[IllegalArgumentException](Durations.parseResolutionMillis("-5"))
  }

  test("five standard time-range patterns resolve correctly") {
    val now = 1000000L
    assert(History.resolveRange(None, None, Some(100L), now) == (999900L, 1000000L))
    assert(History.resolveRange(Some(10L), None, Some(100L), now) == (10L, 110L))
    assert(History.resolveRange(None, Some(500L), Some(100L), now) == (400L, 500L))
    assert(History.resolveRange(Some(10L), None, None, now) == (10L, now))
    assert(History.resolveRange(Some(10L), Some(20L), None, now) == (10L, 20L))
    intercept[IllegalArgumentException](History.resolveRange(None, None, None, now))
  }

  test("auto resolution bounds the aligned frame to <= 1000 buckets for any range") {
    // History.values' EMA pass runs on a single partition BECAUSE the
    // aligned frame is bounded: the API picks resolution = range/500,
    // so bucket count never exceeds 1000 whatever the time range
    // (floor(range/500) >= range/1000 once range >= 500; below that
    // the 1 ms resolution floor caps buckets at the range itself). A
    // caller that bypasses autoResolutionMs with a tiny resolution owns
    // an unbounded frame and must use operators.Smoothing instead.
    val ranges = Seq(1L, 499L, 999L, 250001L, 3600000L,
      86400000L * 365, Long.MaxValue / 4)
    for (r <- ranges) {
      val res = History.autoResolutionMs(0L, r)
      assert(res >= 1L)
      assert(r / res <= 1000L, s"range $r → ${r / res} buckets")
    }
    // and at realistic API ranges (minutes and up) it is ~500
    assert(3600000L / History.autoResolutionMs(0L, 3600000L) <= 501L)
  }

  test("tier auto-selection follows resolution with fallback") {
    val all = Set("1h", "60s", "5s")
    assert(History.selectTier(3600000L, all).contains("1h"))
    assert(History.selectTier(7200000L, all).contains("1h"))
    assert(History.selectTier(60000L, all).contains("60s"))
    assert(History.selectTier(5000L, all).contains("5s"))
    assert(History.selectTier(1000L, all).isEmpty) // sub-5s → raw
    // fallback through finer tiers when the preferred one is absent
    assert(History.selectTier(3600000L, Set("60s", "5s")).contains("60s"))
    assert(History.selectTier(3600000L, Set("5s")).contains("5s"))
    assert(History.selectTier(3600000L, Set.empty).isEmpty)
  }

  test("path expression parsing") {
    assert(PathSpec.parse("navigation.speedOverGround") ==
      PathSpec("navigation.speedOverGround", Method.Average))
    assert(PathSpec.parse("wind:max") == PathSpec("wind", Method.Max))
    assert(PathSpec.parse("speed:average:sma:5") ==
      PathSpec("speed", Method.Average, Some("sma"), Some(5.0)))
    // inline per-path source filter (path-filters.ts)
    assert(PathSpec.parse("navigation.headingMagnetic:average|n2k-on-ve.can0.115") ==
      PathSpec("navigation.headingMagnetic", Method.Average,
        sourceRef = Some("n2k-on-ve.can0.115")))
    assert(PathSpec.parse("speed|gps1") == PathSpec("speed", sourceRef = Some("gps1")))
    intercept[IllegalArgumentException](PathSpec.parse("p:bogus"))
    intercept[IllegalArgumentException](PathSpec.parse("p|a|b"))
  }

  test("angular paths vector-average: AVG(10°, 350°) is 0°, not 180°") {
    import spark.implicits._
    val series = Seq(
      ("v1", "heading", 1000L, math.toRadians(10.0), 1L),
      ("v1", "heading", 2000L, math.toRadians(350.0), 2L),
      ("v1", "speed", 1500L, 10.0, 3L),
      ("v1", "speed", 2500L, 350.0, 4L))
      .toDF("context", "path", "ts_ms", "value", "order_id")
    // registry dispatch: an average over a registered angular path
    // becomes the circular mean (HistoryAPI.ts:2544-2551)
    val out = History.values(series, "v1",
      Seq(PathSpec.parse("heading:average"), PathSpec.parse("speed:average")),
      0L, 10000L, 10000L, angularPaths = Set("heading")).collect()
    assert(out.length == 1)
    assert(math.abs(out(0).getAs[Double]("heading:average")) < 1e-6,
      "circular mean of 10 and 350 deg must be ~0")
    assert(out(0).getAs[Double]("speed:average") == 180.0) // linear mean untouched
    // explicit :angular method, no registry needed
    val explicit = History.values(series, "v1",
      Seq(PathSpec.parse("heading:angular")), 0L, 10000L, 10000L).collect()
    assert(math.abs(explicit(0).getAs[Double]("heading:angular")) < 1e-6)
  }

  test("string-valued series: average/min/max fall back to FIRST, last stays LAST") {
    import spark.implicits._
    val series = Seq(
      ("v1", "nav.state", 1000L, "anchored", 1L),
      ("v1", "nav.state", 2000L, "motoring", 2L),
      ("v1", "nav.state", 3000L, "sailing", 3L))
      .toDF("context", "path", "ts_ms", "value", "order_id")
    val out = History.values(series, "v1",
      Seq(PathSpec.parse("nav.state:average"), PathSpec.parse("nav.state:last"),
        PathSpec.parse("nav.state:min")),
      0L, 10000L, 10000L).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("nav.state:average") == "anchored") // FIRST fallback
    assert(out(0).getAs[String]("nav.state:min") == "anchored") // FIRST fallback
    assert(out(0).getAs[String]("nav.state:last") == "sailing")
    intercept[IllegalArgumentException] {
      History.values(series, "v1", Seq(PathSpec.parse("nav.state:average:sma:5")),
        0L, 10000L, 10000L)
    }
  }

  test("object path expands to aligned components; non-numeric falls to FIRST; all-null rows drop") {
    import spark.implicits._
    import History.Component
    val series = Seq(
      // bucket 0: two good fixes + one malformed all-null row
      ("v1", "navigation.position", 1000L, 1L, Some(40.0), Some(-74.0), Some("gps")),
      ("v1", "navigation.position", 2000L, 2L, Some(42.0), Some(-73.0), Some("dgps")),
      ("v1", "navigation.position", 3000L, 3L, None, None, None),
      // bucket 1: a single fix
      ("v1", "navigation.position", 11000L, 4L, Some(50.0), Some(-70.0), Some("gps")))
      .toDF("context", "path", "ts_ms", "order_id",
        "value_latitude", "value_longitude", "value_fixtype")
    val out = History.objectValues(series, "v1", "navigation.position",
      Seq(Component("latitude", "value_latitude"),
        Component("longitude", "value_longitude"),
        Component("fix_type", "value_fixtype", numeric = false)),
      History.Method.Average, 0L, 20000L, 10000L).collect()
    assert(out.length == 2) // the all-null row creates no extra bucket rows
    assert(out(0).getAs[Double]("latitude") == 41.0) // avg over NON-null fixes only
    assert(out(0).getAs[Double]("longitude") == -73.5)
    assert(out(0).getAs[String]("fix_type") == "gps") // FIRST by order_id, not averaged
    assert(out(1).getAs[Double]("latitude") == 50.0)
    assert(out(1).getAs[String]("fix_type") == "gps")
    // one pathspec, N columns: schema is exactly bucket + components
    assert(out(0).schema.fieldNames.toSeq ==
      Seq("bucket_ms", "latitude", "longitude", "fix_type"))
  }

  test("sourceRef filter narrows one spec without touching its sibling") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val series = Seq(
      ("v1", "speed", 1000L, 10.0, 1L, "gps1"),
      ("v1", "speed", 2000L, 20.0, 2L, "gps2"),
      ("v1", "speed", 3000L, 30.0, 3L, "gps1"))
      .toDF("context", "path", "ts_ms", "value", "order_id", "source_label")
    val out = History.values(series, "v1",
      Seq(PathSpec.parse("speed:average"), PathSpec.parse("speed:average|gps1")),
      0L, 10000L, 10000L).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Double]("speed:average") == 20.0)
    assert(out(0).getAs[Double]("speed:average|gps1") == 20.0) // (10+30)/2
    // a filtered spec against a frame without source_label is rejected
    intercept[IllegalArgumentException] {
      History.values(series.drop("source_label"), "v1",
        Seq(PathSpec.parse("speed|gps1")), 0L, 10000L, 10000L)
    }
  }

  test("ema smoothing follows the alpha recurrence over the aligned frame") {
    val (fromMs, toMs) = (1704412800000L, 1706140800000L)
    val series = graft.api.ApiQueries.series(spark, sfDir)
    val plain = History.values(series, "vessels.urn-3",
      Seq(PathSpec.parse("click:average")), fromMs, toMs, 21600000L)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val smoothed = History.values(series, "vessels.urn-3",
      Seq(PathSpec.parse("click:average:ema:0.3")), fromMs, toMs, 21600000L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    var ema = Double.NaN
    plain.sortBy(_._1).foreach { case (bucket, x) =>
      ema = if (ema.isNaN) x else 0.3 * x + 0.7 * ema
      assert(math.abs(smoothed(bucket) - ema) < 1e-9,
        s"bucket $bucket: got ${smoothed(bucket)}, want $ema")
    }
    assert(plain.length > 2)
  }

  test("sma over a dotted SignalK path matches a hand-computed trailing mean") {
    import spark.implicits._
    val path = "navigation.speedOverGround"
    val series = Seq(1.0, 2.0, 3.0, 4.0, 5.0).zipWithIndex.map { case (x, i) =>
      ("v1", path, i * 1000L, x, i.toLong)
    }.toDF("context", "path", "ts_ms", "value", "order_id")
    val spec = PathSpec.parse(s"$path:average:sma:3")
    val out = History.values(series, "v1", Seq(spec), 0L, 5000L, 1000L)
      .collect().map(r => (r.getLong(0), r.getAs[Double](spec.columnName))).toSeq
    // trailing 3-bucket mean of 1..5
    assert(out == Seq(0L -> 1.0, 1000L -> 1.5, 2000L -> 2.0, 3000L -> 3.0, 4000L -> 4.0), out)
  }

  test("unknown smoothing and empty specs are rejected") {
    intercept[IllegalArgumentException](PathSpec.parse("p:average:loess:0.5"))
    intercept[IllegalArgumentException] {
      History.values(graft.api.ApiQueries.series(spark, sfDir), "vessels.urn-3",
        Seq.empty, 0L, 1L, 1000L)
    }
  }

  test("history values aligns paths into one frame") {
    val df = graft.api.ApiQueries.historyValues(spark, sfDir)
    assert(df.columns.toSeq ==
      Seq("bucket_ms", "click_sma", "purchase_max", "view_first", "error_mid"))
    assert(df.count() > 0)
  }

  test("contexts and paths discovery") {
    val s = graft.api.ApiQueries.series(spark, sfDir)
    val ctxs = History.contexts(s, 0L, Long.MaxValue).collect().map(_.getString(0))
    assert(ctxs.nonEmpty && ctxs.forall(_.startsWith("vessels.urn-")))
    val ps = History.paths(s, ctxs.head, 0L, Long.MaxValue).collect().map(_.getString(0))
    assert(ps.toSet.subsetOf(Set("click", "error", "purchase", "signup", "view")))
  }

  test("hive sanitize mirrors the reference path encoding") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = Seq("vessels.urn:mrn:imo:mmsi:368396230").toDF("c")
      .select(graft.sources.HiveStore.sanitize(col("c"))).head().getString(0)
    assert(out == "vessels__urn-mrn-imo-mmsi-368396230")
  }
}

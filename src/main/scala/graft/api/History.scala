package graft.api

import graft.funcs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's History API surface, Spark-native: a user of
  * signalk-parquet's `/history/values` endpoint can express the same
  * request here and get the aligned frame the endpoint would return.
  *
  * Request model mirrors HistoryAPI.ts: a time range (one of the five
  * standard patterns), a resolution, and per-path specs
  * `path[:method][:smoothing:param]`. The result has one row per time
  * bucket and one column per path spec — the endpoint's aligned
  * `data` array.
  */
object History {

  sealed trait Method
  object Method {
    case object Average extends Method
    case object Min extends Method
    case object Max extends Method
    case object First extends Method
    case object Last extends Method
    case object Mid extends Method
    case object MiddleIndex extends Method
    case object Angular extends Method

    def parse(s: String): Method = s match {
      case "average" => Average; case "min" => Min; case "max" => Max
      case "first" => First; case "last" => Last; case "mid" => Mid
      case "middle_index" => MiddleIndex
      case "angular" => Angular
      case other => throw new IllegalArgumentException(s"unknown aggregate method: $other")
    }
  }

  /** One requested series: `path[:method][:smoothing:param][|sourceRef]`
    * — HistoryAPI.ts splitPathExpression plus the inline per-path
    * filter syntax of path-filters.ts (`navigation.headingMagnetic:
    * average|n2k-on-ve.can0.115` narrows the path to rows whose
    * `source_label` matches). */
  case class PathSpec(path: String, method: Method = Method.Average,
      smoothing: Option[String] = None, smoothingParam: Option[Double] = None,
      sourceRef: Option[String] = None) {
    def columnName: String = {
      val m = method.toString.toLowerCase
      val sm = smoothing.map(s => s":$s").getOrElse("")
      val sr = sourceRef.map(s => s"|$s").getOrElse("")
      s"$path:$m$sm$sr"
    }
  }

  object PathSpec {
    private def checkSmoothing(sm: String): String =
      if (sm == "sma" || sm == "ema") sm
      else throw new IllegalArgumentException(s"unknown smoothing: $sm (expected sma|ema)")

    def parse(exprStr: String): PathSpec = {
      val (core, src) = exprStr.split('|') match {
        case Array(c) => (c, None)
        case Array(c, s) if s.nonEmpty => (c, Some(s))
        case _ => throw new IllegalArgumentException(s"bad path expression: $exprStr")
      }
      val base = core.split(':') match {
        case Array(p) => PathSpec(p)
        case Array(p, m) => PathSpec(p, Method.parse(m))
        case Array(p, m, sm) => PathSpec(p, Method.parse(m), Some(checkSmoothing(sm)))
        case Array(p, m, sm, prm) =>
          PathSpec(p, Method.parse(m), Some(checkSmoothing(sm)), Some(prm.toDouble))
        case _ => throw new IllegalArgumentException(s"bad path expression: $exprStr")
      }
      base.copy(sourceRef = src)
    }
  }

  /** Angle → magnitude path pairs whose average should be
    * magnitude-weighted (angular-paths.ts WEIGHTED_ANGULAR_PATHS; the
    * weighted circular mean itself is
    * [[graft.operators.Angular]]'s weighted operator). General
    * angular-path detection is metadata-driven in the reference
    * (units == "rad") — callers resolve their registry and pass it to
    * [[values]] as `angularPaths`. */
  val weightedAngularPaths: Map[String, String] = Map(
    "environment.wind.directionTrue" -> "environment.wind.speedTrue",
    "environment.wind.directionMagnetic" -> "environment.wind.speedOverGround",
    "environment.wind.angleApparent" -> "environment.wind.speedApparent",
    "environment.current.setTrue" -> "environment.current.drift")

  /** Resolved [from, to) in epoch millis — the five standard SignalK
    * time-range patterns (HistoryAPI.ts getRequestParams). `now` is a
    * parameter (no wall-clock reads inside query planning). */
  def resolveRange(from: Option[Long], to: Option[Long], durationMs: Option[Long],
      now: Long): (Long, Long) = (from, to, durationMs) match {
    case (None, None, Some(d)) => (now - d, now) // 1: duration back from now
    case (Some(f), None, Some(d)) => (f, f + d) // 2: forward from start
    case (None, Some(t), Some(d)) => (t - d, t) // 3: backward to end
    case (Some(f), None, None) => (f, now) // 4: from start to now
    case (Some(f), Some(t), None) => (f, t) // 5: explicit range
    case _ => throw new IllegalArgumentException(
      "invalid time range: use duration | from+duration | to+duration | from | from+to")
  }

  /** Auto resolution: range/500 buckets — HistoryAPI.ts:959. */
  def autoResolutionMs(fromMs: Long, toMs: Long): Long =
    math.max(1L, (toMs - fromMs) / 500)

  /** Tier auto-selection — HistoryAPI.ts:737-773: pick the coarsest
    * aggregated tier whose resolution still divides the requested
    * bucket (≥1h → "1h", ≥1m → "60s", ≥5s → "5s", else raw), then fall
    * back through finer tiers to raw when the preferred one is absent
    * from `available`. Returns None for raw/flat data. At scale this
    * choice is the read-amplification lever: answering a 1h-bucket
    * query from the 1h tier scans ~1/720th of the raw rows. */
  def selectTier(resolutionMs: Long, available: Set[String]): Option[String] = {
    val preference: Seq[String] =
      if (resolutionMs >= 3600000L) Seq("1h", "60s", "5s")
      else if (resolutionMs >= 60000L) Seq("60s", "5s")
      else if (resolutionMs >= 5000L) Seq("5s")
      else Seq.empty
    preference.find(available.contains)
  }

  private def aggFor(spec: PathSpec, value: Column, orderCol: Column): Column = spec.method match {
    case Method.Average => davg(value)
    case Method.Min => min(value)
    case Method.Max => max(value)
    case Method.First => min_by(value, orderCol)
    case Method.Last => max_by(value, orderCol)
    case Method.Mid => r6(median(value))
    // middle_index: FIRST is the reference's own in-bucket fallback
    // (HistoryAPI.ts:2537-2541 "use FIRST as a simple fallback")
    case Method.MiddleIndex => min_by(value, orderCol)
    // circular mean — HistoryAPI.ts:2550 vector averaging
    case Method.Angular => r6(vectorAvg(value))
  }

  /** The `/history/values` equivalent: series frame in, aligned frame
    * out. Expects columns (context, path, ts_ms, value) plus a unique
    * `order_id` for deterministic first/last.
    *
    * One shuffle on the bucket; per-spec aggregates are conditional
    * (FILTER-style) so every spec computes in one pass — the same
    * shape the reference builds in SQL, and the shape that scales:
    * adding specs adds zero shuffles.
    */
  def values(series: DataFrame, context: String, specs: Seq[PathSpec],
      fromMs: Long, toMs: Long, resolutionMs: Long,
      angularPaths: Set[String] = Set.empty): DataFrame = {
    require(specs.nonEmpty, "at least one path spec is required")
    require(specs.forall(_.sourceRef.isEmpty) ||
        series.columns.contains("source_label"),
      "sourceRef filters need a source_label column in the series frame")
    val base = series
      .where(col("context") === context &&
        col("ts_ms") >= fromMs && col("ts_ms") < toMs &&
        col("path").isin(specs.map(_.path): _*))
      .withColumn("bucket_ms", bucketOfMs(col("ts_ms"), resolutionMs))
    // string-valued series (HistoryAPI.ts:2521-2533): can't
    // AVG/MIN/MAX a string path — LAST stays LAST, everything else
    // falls back to FIRST, exactly the reference's dispatch
    val isStringSeries =
      series.schema("value").dataType == org.apache.spark.sql.types.StringType
    require(!isStringSeries || specs.forall(_.smoothing.isEmpty),
      "smoothing is undefined over a string-valued series")
    val aggs = specs.map { s =>
      // per-spec source filter (path-filters.ts): the condition folds
      // into the spec's FILTER-style aggregate, so a filtered and an
      // unfiltered spec over the same path still share the single pass
      val cond = s.sourceRef.foldLeft(col("path") === s.path) {
        (c, r) => c && col("source_label") === r
      }
      val v = when(cond, col("value"))
      val o = when(cond, col("order_id"))
      // angular-path auto-dispatch (HistoryAPI.ts:2544-2551 /
      // angular-paths.ts): an average over a registered angular path
      // silently becomes the circular mean, as in the reference
      val eff =
        if (isStringSeries)
          s.copy(method = if (s.method == Method.Last) Method.Last else Method.First)
        else if (s.method == Method.Average && angularPaths.contains(s.path))
          s.copy(method = Method.Angular)
        else s
      aggFor(eff, v, o).as(s.columnName)
    }
    val aligned = base.groupBy("bucket_ms").agg(aggs.head, aggs.tail: _*)
    val withSma = specs.foldLeft(aligned) { (df, s) =>
      s.smoothing match {
        case Some("sma") =>
          val n = s.smoothingParam.map(_.toInt).getOrElse(10)
          // quoted: a dotted SignalK path must not parse as struct access
          df.withColumn(s.columnName, smaOver(col(s"`${s.columnName}`"), n))
        case Some("ema") => df // applied below, all ema specs in one pass
        case None => df
        case Some(other) =>
          throw new IllegalArgumentException(s"unknown smoothing: $other")
      }
    }
    val smoothed = emaOver(withSma, specs.filter(_.smoothing.contains("ema")))
    smoothed.orderBy("bucket_ms")
  }

  /** EMA (alpha, default 0.2) over the aligned frame, in bucket order —
    * historical-streaming.ts:1143-1183. The recurrence is sequential,
    * so it runs as one ordered scan; the aligned frame is bounded by
    * construction (the API picks resolution for ~500 buckets, see
    * [[autoResolutionMs]]), so a single partition is the right shape
    * here. Unbounded per-series smoothing at scale lives in
    * [[graft.operators.Smoothing.emaSeries]]. Null buckets pass
    * through without updating the accumulator (the endpoint skips
    * missing samples). */
  private def emaOver(df: DataFrame, emaSpecs: Seq[PathSpec]): DataFrame = {
    if (emaSpecs.isEmpty) return df
    val schema = df.schema
    val targets = emaSpecs.map(s =>
      schema.fieldIndex(s.columnName) -> s.smoothingParam.getOrElse(0.2))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(schema)
    df.repartition(1).sortWithinPartitions("bucket_ms")
      .mapPartitions { it =>
        val state = scala.collection.mutable.Map.empty[Int, Double]
        it.map { r =>
          val vals = r.toSeq.toArray
          targets.foreach { case (i, alpha) =>
            if (!r.isNullAt(i)) {
              val x = r.get(i).asInstanceOf[Number].doubleValue()
              val e = state.get(i) match {
                case Some(prev) => alpha * x + (1 - alpha) * prev
                case None => x
              }
              state(i) = e
              vals(i) = e
            }
          }
          org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq)
        }
      }
  }

  /** Trailing SMA over the aligned frame (window n, ignores nulls). */
  private def smaOver(c: Column, n: Int): Column = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("bucket_ms").rowsBetween(-(n - 1), Window.currentRow)
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 6))).over(w).cast("double") /
      count(c).over(w)
  }

  /** One component of an object-valued path — the reference's
    * ComponentInfo (utils/schema-cache.ts): display name, the
    * flattened storage column, and whether it aggregates numerically. */
  case class Component(name: String, columnName: String, numeric: Boolean = true)

  /** Object-path expansion — history-provider.ts:347-417: ONE pathspec
    * over an object-valued path (e.g. `navigation.position`) returns N
    * aligned component columns (longitude, latitude, …) from a SINGLE
    * bucket aggregation. Reference semantics preserved exactly:
    * numeric components aggregate with the pathspec's method,
    * non-numeric components fall back to FIRST
    * (history-provider.ts:353 `comp.dataType === 'numeric' ? aggFunc :
    * 'FIRST'`), and a row qualifies when ANY component is non-null
    * (the `componentWhereConditions` OR — an all-null sample row
    * contributes to no bucket, not even to counts).
    *
    * Scale shape: identical to [[values]] — one shuffle on the bucket
    * key, every component a conditional aggregate in the same pass;
    * adding components adds zero shuffles, and the component columns
    * prune at the scan (only the requested object's columns are
    * read). */
  def objectValues(series: DataFrame, context: String, path: String,
      components: Seq[Component], method: Method,
      fromMs: Long, toMs: Long, resolutionMs: Long): DataFrame = {
    require(components.nonEmpty, "an object path needs at least one component")
    val base = series
      .where(col("context") === context && col("path") === path &&
        col("ts_ms") >= fromMs && col("ts_ms") < toMs)
      .where(components.map(c => col(c.columnName).isNotNull).reduce(_ || _))
      .withColumn("bucket_ms", bucketOfMs(col("ts_ms"), resolutionMs))
    val aggs = components.map { c =>
      val eff = if (c.numeric) method else Method.First
      val v = if (c.numeric) col(c.columnName).cast("double") else col(c.columnName)
      aggFor(PathSpec(path, eff), v, col("order_id")).as(c.name)
    }
    base.groupBy("bucket_ms").agg(aggs.head, aggs.tail: _*).orderBy("bucket_ms")
  }

  // ------------------------------------------------- server-local time
  /** Does the ISO string carry explicit zone info? — HistoryAPI.ts
    * hasTimezoneInfo (trailing Z, ±HH:MM, ±HHMM). */
  def hasTimezoneInfo(s: String): Boolean =
    s.endsWith("Z") ||
      "[+-]\\d{2}:?\\d{2}$".r.findFirstIn(s).isDefined ||
      "[+-]\\d{4}$".r.findFirstIn(s).isDefined

  /** Parse a request timestamp per the reference's ISO-8601 dispatch
    * (HistoryAPI.ts:403-419 parseDateTime): a BARE timestamp (no Z, no
    * offset) is SERVER-LOCAL time in the configured zone and converts
    * to UTC; explicit Z/offset strings parse as-is. `HH:MM`-only
    * inputs gain `:00` seconds first (the reference's normalization).
    * A nonexistent local time (spring-forward gap) resolves forward by
    * the gap and an ambiguous one (fall-back overlap) takes the
    * EARLIER offset — java.time's resolution, matching the reference's
    * JS `Date` behavior on v8. Pure driver-side request parsing — no
    * wall-clock, no executor work. */
  def parseDateTimeMs(s: String, zone: String): Long = {
    val normalized =
      if (s.matches("^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}$")) s + ":00" else s
    if (hasTimezoneInfo(normalized))
      java.time.OffsetDateTime.parse(normalized).toInstant.toEpochMilli
    else
      java.time.LocalDateTime.parse(normalized)
        .atZone(java.time.ZoneId.of(zone)).toInstant.toEpochMilli
  }

  /** Render a UTC epoch-ms column as the server-local ISO string with
    * explicit offset — the response-side conversion the reference
    * applies to `range` and every data row's leading timestamp
    * (HistoryAPI.ts:653-673 utcToLocalTimestamp). DELIBERATE
    * NORMALIZATION: this renderer always emits seconds
    * (`…THH:mm:ss±OO:OO`), while the reference's js-joda
    * `ZonedDateTime.toString` ELIDES `:00` seconds on whole-minute
    * values — so a bucket timestamp the reference prints as
    * `…T01:00-05:00` prints here as `…T01:00:00-05:00`. A fixed-width
    * format keeps the column lexicographically sortable and
    * machine-parseable with one pattern; fractional seconds are
    * normalized away either way (bucket timestamps are whole
    * milliseconds on resolution marks). Engine-exact: the wall-clock
    * shift and the offset are integer tzdb arithmetic, no floats. */
  def localTimestamp(tsMs: Column, zone: String): Column = {
    // from_utc_timestamp shifts to local WALL time; formatting the
    // shifted value in the (UTC-pinned) session renders local time
    val localNaive = from_utc_timestamp(timestamp_millis(tsMs), zone)
    // integral minutes: Spark's `/` is fractional division, so cast
    // back to BIGINT (offsets are exact minute multiples, and small
    // integers divide exactly in double)
    val offMin = ((unix_millis(localNaive) - tsMs) / lit(60000L)).cast("long")
    concat(
      date_format(localNaive, "yyyy-MM-dd'T'HH:mm:ss"),
      when(offMin < 0, "-").otherwise("+"),
      lpad((abs(offMin) / lit(60L)).cast("long").cast("string"), 2, "0"),
      lit(":"),
      lpad((abs(offMin) % 60).cast("string"), 2, "0"))
  }

  // ------------------------------------------------------ units meta
  /** The response's per-path `units` map (HistoryAPI.ts:529-538: the
    * wrapper carries `units` after `data`) as a broadcast-dim join:
    * one row per REQUESTED path with its unit from the registry,
    * "Not available" for unregistered paths (the reference's metadata
    * placeholder). The registry is metadata-scale (one row per known
    * path) and broadcasts; the request's path list is literal — no
    * data-table scan is involved at any scale. */
  def unitsFor(registry: DataFrame, specs: Seq[PathSpec]): DataFrame = {
    val spark = registry.sparkSession
    import spark.implicits._
    val requested = specs.map(s => (s.path, s.method.toString.toLowerCase))
      .toDF("path", "method")
    requested.join(broadcast(registry), Seq("path"), "left")
      .select(col("path"), col("method"),
        coalesce(col("units"), lit("Not available")).as("units"))
  }

  /** `/history/contexts` equivalent. */
  def contexts(series: DataFrame, fromMs: Long, toMs: Long): DataFrame =
    series.where(col("ts_ms") >= fromMs && col("ts_ms") < toMs)
      .select("context").distinct().orderBy("context")

  /** `/history/paths` equivalent. */
  def paths(series: DataFrame, context: String, fromMs: Long, toMs: Long): DataFrame =
    series.where(col("context") === context &&
        col("ts_ms") >= fromMs && col("ts_ms") < toMs)
      .select("path").distinct().orderBy("path")
}

package graft.perfbench

import scala.util.Random

import graft.api.History
import graft.api.History.PathSpec
import graft.sources.HiveStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `history`: read-only archive serving. Two closed-loop clients send a
  * seeded mix of `/history/values` and discovery requests against a
  * hive-layout archive; every request lists its store, prunes
  * partitions, plans through `History` and collects the answer. */
final class HistoryBench(spark: SparkSession, seed: Long, scratch: String) extends Workload {
  val name = "history"
  val primary = "values"
  val read = "discovery"
  val clients = 2
  val tailQ = 0.9
  override val warmPasses = 2
  override val workKinds = Set("values", "discovery")

  private val fleet = new Fleet(seed, vessels = 2, cadenceMs = 10000L)
  // 2026-01-01T00:00Z; the archive ends "now"
  private val archive = new Archive(spark, fleet, 1767225600000L, days = 5, s"$scratch/archive")
  private def now = archive.endMs
  private val methods = Seq("average", "min", "max", "first", "last", "mid")

  def setup(): Map[String, Double] = {
    archive.write()
    Map("history.raw_rows" -> (fleet.vessels * fleet.paths.size * archive.samplesPerSeries).toDouble,
      "history.partition_dirs" -> 4.0 * fleet.vessels * fleet.paths.size * archive.days)
  }

  /** One `/history/values` request. */
  final case class ValuesReq(v: Int, specs: Seq[PathSpec], fromMs: Long, toMs: Long,
      resolutionMs: Long) {
    val tier: String = History.selectTier(resolutionMs, archive.tiers.keySet).getOrElse("raw")
  }

  private def randomRange(r: Random): (Long, Long) =
    if (r.nextBoolean()) {
      // recent: the last 1-24 h (hot partitions), pattern "duration"
      History.resolveRange(None, None, Some((1 + r.nextInt(24)) * 3600000L), now)
    } else {
      // historical: a 1 h - 3 d window anywhere in the archive
      val dur = 3600000L + (r.nextDouble() * 71 * 3600000L).toLong
      val from = archive.t0 + (r.nextDouble() * (archive.endMs - dur - archive.t0)).toLong
      History.resolveRange(Some(from), None, Some(dur), now)
    }

  /** A seeded request: 1-3 distinct paths, a random method each, SMA on
    * 4% and EMA on 8% of specs, a source filter on 15% (a fifth of them
    * naming a source the path does not have). */
  private def randomValues(r: Random): ValuesReq = {
    val (fromMs, toMs) = randomRange(r)
    val ps = r.shuffle(fleet.paths.indices.toList).take(1 + r.nextInt(3))
    val specs = ps.map { p =>
      val m = methods(r.nextInt(methods.size))
      val sm = r.nextInt(100) match {
        case x if x < 4 => ":sma:5"
        case x if x < 12 => ":ema:0.3"
        case _ => ""
      }
      val src =
        if (r.nextInt(100) < 15) "|" + (if (r.nextInt(5) == 0) "nmea0183.GP" else fleet.sources(p))
        else ""
      PathSpec.parse(s"${fleet.paths(p)}:$m$sm$src")
    }
    ValuesReq(r.nextInt(fleet.vessels), specs, fromMs, toMs, History.autoResolutionMs(fromMs, toMs))
  }

  /** The sources layer: list the store (`HiveStore.read`), then prune to
    * the request's (path, day) partitions and present the series frame
    * History expects, paths un-sanitized back to SignalK form. */
  private def seriesOf(root: String, context: Option[String], paths: Seq[String],
      fromMs: Long, toMs: Long): DataFrame = {
    val listed = Trace.span("sources.listing")(HiveStore.read(spark, root))
    val days = archive.dayParts(fromMs, toMs)
    val pruned = listed.where(concat(col("year"), col("day")).isin(days: _*))
    val byPath =
      if (paths.isEmpty) pruned
      else pruned.where(col("path").isin(paths.map(fleet.sanitize): _*))
    byPath.select(
      context.map(lit(_)).getOrElse(col("context")).as("context"),
      regexp_replace(col("path"), "__", ".").as("path"),
      col("ts_ms"), col("value"), col("order_id"), col("source_label"))
  }

  private def runValues(q: ValuesReq): Array[Row] = {
    val ctx = fleet.sanitize(fleet.context(q.v))
    val series = seriesOf(s"${archive.tierDir(q.tier)}/context=$ctx", Some(ctx),
      q.specs.map(_.path).distinct, q.fromMs, q.toMs)
    val df = Trace.span("api.plan")(History.values(series, ctx, q.specs, q.fromMs, q.toMs,
      q.resolutionMs, angularPaths = fleet.angular))
    val rows = Trace.span("api.exec")(df.collect())
    Scans.record(df, rows.length)
    rows
  }

  private def runDiscovery(r: Random): Long = {
    val (fromMs, toMs) = randomRange(r)
    val tier = History.selectTier(History.autoResolutionMs(fromMs, toMs), archive.tiers.keySet)
      .getOrElse("raw")
    val all = seriesOf(archive.tierDir(tier), None, Nil, fromMs, toMs)
    val ctxs = Trace.span("api.plan")(History.contexts(all, fromMs, toMs))
    val cs = Trace.span("api.exec")(ctxs.collect()).map(_.getString(0))
    Scans.record(ctxs, cs.length)
    val ctx = cs(r.nextInt(cs.length))
    val one = seriesOf(s"${archive.tierDir(tier)}/context=$ctx", Some(ctx), Nil, fromMs, toMs)
    val ps = Trace.span("api.plan")(History.paths(one, ctx, fromMs, toMs))
    val n = Trace.span("api.exec")(ps.collect()).length
    Scans.record(ps, n)
    1L
  }

  private final class Mix(r: Random) extends Client {
    def next(): (String, () => Long) =
      if (r.nextInt(100) < 85) {
        val q = randomValues(r)
        ("values", () => { runValues(q); 1L })
      } else ("discovery", () => runDiscovery(r))
  }

  /** A warm-up pass covers every request shape once per client: every
    * tier, each method, the angular average, EMA, a source filter, the
    * failing SMA request, discovery. */
  def warmPass(client: Int, pass: Int): Seq[(String, () => Long)] = {
    val r = new Random(seed * 7 + client * 1000 + pass)
    val plain = fleet.paths.indexOf("navigation.speedOverGround")
    val ang = fleet.paths.indexOf("navigation.headingTrue")
    val perTier = Seq(20 * 60000L, 6 * 3600000L, 2 * 86400000L, 4 * 86400000L).zip(
      Seq(4000L, 30000L, 1800000L, 6 * 3600000L)).map { case (dur, res) =>
      val from = archive.t0 + (r.nextDouble() * (archive.endMs - dur - archive.t0)).toLong
      val specs = methods.map(m => PathSpec.parse(s"${fleet.paths(plain)}:$m")) ++ Seq(
        PathSpec.parse(s"${fleet.paths(ang)}:average:ema:0.3"),
        PathSpec.parse(s"${fleet.paths(ang)}:last|${fleet.sources(ang)}"))
      val q = ValuesReq(r.nextInt(fleet.vessels), specs, from, from + dur, res)
      ("values", () => { runValues(q); 1L })
    }
    val sma = ValuesReq(0, Seq(PathSpec.parse(s"${fleet.paths(plain)}:average:sma:5")),
      now - 3600000L, now, 7200L)
    perTier ++ Seq(("values", () => { runValues(sma); 1L }), ("discovery", () => runDiscovery(r)))
  }

  def timedClient(client: Int): Client = new Mix(new Random(seed * 7919 + client))

  /** Answers to a seeded sample of requests — every tier, each method,
    * the angular vector average, a matching and a non-matching source
    * filter — against the Scala replica of the generator. */
  def check(): (Boolean, Map[String, String]) = {
    val r = new Random(seed + 99)
    val plainPs = fleet.paths.indices.filterNot(p => fleet.angular(fleet.paths(p)))
    val angPs = fleet.paths.indices.filter(p => fleet.angular(fleet.paths(p)))
    val windows = Seq(("raw", 40 * 60000L, 4000L), ("5s", 6 * 3600000L, 30000L),
      ("60s", 2 * 86400000L, 1800000L), ("1h", 4 * 86400000L, 3600000L * 6))
    val reqs = windows.map { case (_, dur, res) =>
      val from = archive.t0 + (r.nextDouble() * (archive.endMs - dur - archive.t0)).toLong
      val p1 = plainPs(r.nextInt(plainPs.size))
      val p2 = angPs(r.nextInt(angPs.size))
      val specs = methods.map(m => PathSpec.parse(s"${fleet.paths(p1)}:$m")) ++ Seq(
        PathSpec.parse(s"${fleet.paths(p2)}:average"),
        PathSpec.parse(s"${fleet.paths(p2)}:last|${fleet.sources(p2)}"),
        PathSpec.parse(s"${fleet.paths(p2)}:max|nmea0183.GP"))
      ValuesReq(r.nextInt(fleet.vessels), specs, from, from + dur, res)
    }
    val problems = reqs.flatMap { q =>
      val got = runValues(q).map(row => row.getLong(0) -> (1 until row.length).map(i =>
        if (row.isNullAt(i)) None else Some(row.getDouble(i)))).toMap
      val want = replica(q)
      val tag = s"${q.tier}@${q.fromMs}"
      if (got.keySet != want.keySet)
        Seq(s"$tag: bucket sets differ (${got.size} vs ${want.size})")
      else want.toSeq.flatMap { case (b, ws) =>
        ws.zip(got(b)).zip(q.specs).collect {
          case ((w, g), s) if !close(w, g) => s"$tag ${s.columnName} @$b: got $g want $w"
        }
      }.take(3)
    }
    (problems.isEmpty, Map("history.checked_requests" -> reqs.size.toString) ++
      problems.zipWithIndex.map { case (p, i) => s"history.mismatch_$i" -> p })
  }

  private def close(w: Option[Double], g: Option[Double]): Boolean = (w, g) match {
    case (Some(a), Some(b)) => math.abs(a - b) <= 2e-6 * math.max(1.0, math.abs(a))
    case (None, None) => true
    case _ => false
  }

  /** Per-bucket expected answers, computed from the generator alone. */
  private def replica(q: ValuesReq): Map[Long, Seq[Option[Double]]] = {
    val rowsByPath = q.specs.map(_.path).distinct.map { path =>
      path -> archive.replicaRows(q.tier, q.v, fleet.paths.indexOf(path), q.fromMs, q.toMs)
    }.toMap
    def bucket(ts: Long) = Math.floorDiv(ts, q.resolutionMs) * q.resolutionMs
    val buckets = rowsByPath.values.flatten.map(x => bucket(x._1)).toSet
    def dec6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def davg(xs: Seq[Double]) = xs.map(dec6).sum.toDouble / xs.size
    def r6(x: Double) = BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    buckets.map { b =>
      b -> q.specs.map { s =>
        val src = fleet.sources(fleet.paths.indexOf(s.path))
        val rows = rowsByPath(s.path).filter(x => bucket(x._1) == b &&
          s.sourceRef.forall(_ == src))
        val xs = rows.map(_._2)
        if (rows.isEmpty) None
        else Some(s.method match {
          case History.Method.Average if fleet.angular(s.path) =>
            r6(math.atan2(davg(xs.map(x => dec6(math.sin(x)).toDouble)),
              davg(xs.map(x => dec6(math.cos(x)).toDouble))))
          case History.Method.Average => davg(xs)
          case History.Method.Min => xs.min
          case History.Method.Max => xs.max
          case History.Method.First => rows.minBy(_._3)._2
          case History.Method.Last => rows.maxBy(_._3)._2
          case _ => r6(Stats.median(xs))
        })
      }
    }.toMap
  }

  def endCounters(window: Seq[OpRec], engine: OpRec => Map[String, Double]): Map[String, Double] =
    Map.empty
}

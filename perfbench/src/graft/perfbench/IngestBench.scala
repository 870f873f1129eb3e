package graft.perfbench

import scala.util.Random

import graft.api.History
import graft.api.History.PathSpec
import graft.operators.TimeSeries
import graft.sources.SignalKDelta
import graft.util.ManifestStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `ingest`: the live tier under write. One writer commits SignalK delta
  * batches (flatten → 5 s tier merge → one atomic ManifestStore publish)
  * with a compaction sweep after every few commits, while one reader serves
  * `History.values` off the store's committed snapshot. */
final class IngestBench(spark: SparkSession, seed: Long, scratch: String) extends Workload {
  val name = "ingest"
  val primary = "commit"
  val read = "read"
  val clients = 2
  val tailQ = 0.8

  private val fleet = new Fleet(seed, vessels = 4, cadenceMs = 1000L)
  private val t0 = 1767225600000L
  private val root = s"$scratch/live"
  // one commit carries a minute of the fleet's 1 Hz deltas (1,440 rows).
  // The batch size and compaction cadence are assumptions: the reference
  // plugin buffers deltas before each write (SURVEY.md §1), but no buffer
  // size or flush interval is recorded in this repository. The store is
  // partitioned into 10-minute blocks ("blk"), so a commit touches one
  // partition of each table and merges into that block's partials
  private val batchMs = 60000L
  private val blockMs = 600000L
  private val perBatch = batchMs / fleet.cadenceMs
  private val compactEvery = 5
  // the prefill covers the reader's widest range (30 min), so the cost of
  // a read does not grow with the store through the window
  private val prefillBatches = 30
  // commit and read latency keep falling for about 20 commits (and the
  // reads beside them) while the JIT compiles the driver-side planning
  // and merge code; three compaction cycles cover most of that, and the
  // window's drift check shows what is left
  override val warmPasses = 3
  // at least 9 commits and a compaction per window, so that each third
  // of the drift check holds 3 commits however slow the host is
  override val minTimedOps = 10

  private val rawSchema = StructType(Seq(
    StructField("context", StringType), StructField("ts_ms", LongType),
    StructField("source_label", StringType), StructField("path", StringType),
    StructField("value", DoubleType), StructField("blk", LongType)))
  private val tierSchema = StructType(Seq(
    StructField("user_id", StringType), StructField("event_type", StringType),
    StructField("bucket_ms", LongType), StructField("value_sum", DecimalType(38, 6)),
    StructField("value_min", DoubleType), StructField("value_max", DoubleType),
    StructField("sample_count", LongType), StructField("first_ts_ms", LongType),
    StructField("last_ts_ms", LongType), StructField("blk", LongType)))

  @volatile private var batches = 0L // batches acknowledged (prefill included)
  @volatile private var acked = 0L // rows acknowledged
  // JSON bytes handed to each commit op, by op id (write amplification)
  private val userBytes = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  private def blockOf(c: org.apache.spark.sql.Column) = floor(c / lit(blockMs)).cast("long")

  /** The delta messages of batches [from, until): one message per vessel
    * per second, one update per path (each with its own source). */
  private def deltaJson(from: Long, until: Long): (Seq[String], Long) = {
    val msgs = for {
      i <- from * perBatch until until * perBatch
      v <- 0 until fleet.vessels
    } yield {
      val ups = fleet.paths.indices.map { p =>
        val s = fleet.series(v, p)
        val value = java.math.BigDecimal.valueOf(fleet.kOf(p, s, i), 3).toPlainString
        s"""{"timestamp":${fleet.tsOf(t0, s, i)},"$$source":"${fleet.sources(p)}",""" +
          s""""values":[{"path":"${fleet.paths(p)}","value":$value}]}"""
      }
      (s"""{"context":"${fleet.context(v)}","updates":[${ups.mkString(",")}]}""", ups.size.toLong)
    }
    (msgs.map(_._1), msgs.map(_._2).sum)
  }

  /** Commit batches [from, until): flatten, merge into the touched
    * blocks' 5 s partials, publish raw append + tier rewrite atomically. */
  private def commit(from: Long, until: Long): Long = {
    val (json, rows) = deltaJson(from, until)
    Option(Trace.current.get).foreach(c => userBytes.put(c.id, json.map(_.length.toLong).sum))
    val touched = ((t0 + from * batchMs) / blockMs to (t0 + until * batchMs - 1) / blockMs)
      .map(b => b: Any)
    val flat = Trace.span("sources.flatten") {
      val deltas = spark.createDataFrame(json.map(Tuple1(_))).toDF("delta")
      SignalKDelta.flattenDeltas(deltas, "delta").withColumn("blk", blockOf(col("ts_ms")))
        .localCheckpoint()
    }
    val merged = Trace.span("operators.tier_merge") {
      val existing = ManifestStore.snapshot(spark, root).read("t5s", tierSchema)
        .where(col("blk").isin(touched: _*)).drop("blk")
      val delta = TimeSeries.tierPartials(flat.select(col("context").as("user_id"),
        col("path").as("event_type"), col("ts_ms"), col("value")), 5000L)
      val (pass, reagg) = TimeSeries.mergeTierPartialParts(existing, delta)
      pass.unionByName(reagg).withColumn("blk", blockOf(col("bucket_ms"))).localCheckpoint()
    }
    Trace.span("manifest.publish")(ManifestStore.publishOps(spark, root, Seq(
      ManifestStore.appendOp("raw", "blk", () => touched, () => flat),
      ManifestStore.rewriteOp("t5s", "blk", () => touched, () => merged))))
    acked += rows
    rows
  }

  def setup(): Map[String, Double] = {
    val rows = commit(0, prefillBatches)
    batches = prefillBatches
    Map("ingest.prefill_rows" -> rows.toDouble)
  }

  private def commitNext(): Long = {
    val b = batches
    val n = commit(b, b + 1)
    batches = b + 1
    n
  }

  /** A compaction sweep of the raw table, published as its own version. */
  private def compact(): Long = {
    Trace.span("manifest.compact")(ManifestStore.publishOps(spark, root, Seq(
      ManifestStore.compactOp(spark, root, "raw", "blk", Seq("context", "path", "ts_ms"),
        rawSchema))))
    0L
  }

  /** The reader's request shapes: k + 1 paths of one vessel over the
    * last 10(k + 1) minutes, k = 0, 1, 2, with seeded paths, vessels and
    * methods; the second path of the middle shape is EMA-smoothed. The
    * reader cycles through them, so every third of the window carries the
    * same mix and read drift compares like with like. */
  private val readShapes: IndexedSeq[(String, Seq[PathSpec], Long)] = {
    val r = new Random(seed * 31 + 1)
    (0 until 3).map { k =>
      val specs = r.shuffle(fleet.paths.indices.toList).take(k + 1).zipWithIndex.map {
        case (p, i) =>
          val m = Seq("average", "min", "max", "first", "last", "mid")(r.nextInt(6))
          PathSpec.parse(s"${fleet.paths(p)}:$m${if (k == 1 && i == 1) ":ema:0.3" else ""}")
      }
      (fleet.context(r.nextInt(fleet.vessels)), specs, (k + 1) * 10 * 60000L)
    }
  }

  /** A live read of one request shape off the committed snapshot, at
    * auto resolution. */
  private def liveRead(shape: Int): Long = {
    val (ctx, specs, spanMs) = readShapes(shape % readShapes.size)
    val to = t0 + batches * batchMs
    val from = to - spanMs
    val snap = Trace.span("manifest.snapshot")(ManifestStore.snapshot(spark, root))
    val blocks = (from / blockMs to (to - 1) / blockMs).map(b => b: Any)
    val series = snap.read("raw", rawSchema).where(col("blk").isin(blocks: _*))
      .select(col("context"), col("path"), col("ts_ms"), col("value"),
        col("ts_ms").as("order_id"), col("source_label"))
    val df = Trace.span("api.plan")(History.values(series, ctx, specs, from, to,
      History.autoResolutionMs(from, to), angularPaths = fleet.angular))
    val rows = Trace.span("api.exec")(df.collect())
    Scans.record(df, rows.length)
    1L
  }

  /** `compactEvery` commits, then a compaction, over and over. */
  private final class Writer extends Client {
    private var n = 0
    def next(): (String, () => Long) = {
      n += 1
      if (n % (compactEvery + 1) == 0) ("compact", () => compact())
      else ("commit", () => commitNext())
    }
  }
  private final class Reader extends Client {
    private var n = 0
    def next(): (String, () => Long) = {
      val shape = n
      n += 1
      ("read", () => liveRead(shape))
    }
  }

  /** A warm-up pass: one compaction cycle (its commits and the
    * compaction) on the writer and two reads per commit on the reader,
    * about the ratio of the window. */
  def warmPass(client: Int, pass: Int): Seq[(String, () => Long)] =
    if (client == 0)
      Seq.fill(compactEvery)(("commit", () => commitNext())) :+ (("compact", () => compact()))
    else Seq.tabulate(2 * compactEvery)(i => ("read", () => liveRead(i)))

  def timedClient(client: Int): Client =
    if (client == 0) new Writer else new Reader

  /** The final snapshot's 5 s tier equals `tierRollup` over every
    * acknowledged row, generated afresh from the fleet formulas; the raw
    * table holds exactly the acknowledged rows. */
  def check(): (Boolean, Map[String, String]) = {
    val perSeries = batches * batchMs / fleet.cadenceMs
    val nSeries = fleet.vessels.toLong * fleet.paths.size
    val expected = spark.range(0, nSeries * perSeries)
      .selectExpr(s"id div $perSeries AS s", s"id % $perSeries AS i")
      .selectExpr(
        s"concat('vessels.urn:mrn:imo:mmsi:2110000', lpad(CAST(s div ${fleet.paths.size} AS STRING), 2, '0')) AS user_id",
        s"${fleet.lookup(fleet.paths, s"CAST(s % ${fleet.paths.size} AS INT)")} AS event_type",
        s"${fleet.tsCol(t0, "s", "i")} AS ts_ms",
        s"${fleet.valueCol(s"CAST(s % ${fleet.paths.size} AS INT)", "s", "i")} AS value")
    val want = TimeSeries.tierRollup(expected, 5000L)
    val snap = ManifestStore.snapshot(spark, root)
    val got = snap.read("t5s", tierSchema)
      .withColumn("value_avg", col("value_sum").cast("double") / col("sample_count"))
      .select(want.columns.map(col): _*)
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    val rawRows = snap.read("raw", rawSchema).count()
    (missing == 0 && extra == 0 && rawRows == acked, Map(
      "ingest.acked_rows" -> acked.toString, "ingest.raw_rows" -> rawRows.toString,
      "ingest.tier_rows_missing" -> missing.toString, "ingest.tier_rows_extra" -> extra.toString))
  }

  def endCounters(window: Seq[OpRec], engine: OpRec => Map[String, Double]): Map[String, Double] = {
    val snap = ManifestStore.snapshot(spark, root)
    val cs = window.filter(r => r.kind == "commit" && r.ok)
    val written = cs.map(r => engine(r)("spark.output_bytes")).sum
    val user = cs.map(r => userBytes.getOrDefault(r.id, 0L)).sum.toDouble
    Map("manifest.version" -> snap.version.toDouble,
      "manifest.live_files" -> snap.files.size.toDouble,
      "manifest.bytes_written_per_user_byte" -> (if (user > 0) written / user else 0.0))
  }
}

package graft.streaming

import graft.Tables.NanosAsLong
import graft.util.Confs.withConfs
import graft.util.{Fs, ManifestStore}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming operators: the reference's live pipeline re-
  * expressed as streams — tier rollup as a windowed aggregation and
  * threshold automation as a stateful per-key operator
  * (flatMapGroupsWithState), the streaming-native form of the
  * reference's threshold monitors (index.ts).
  *
  * Both run here with the file source + Trigger.AvailableNow so the
  * driver can validate results against the batch oracle; in production
  * the same code runs against a live source with watermarks bounding
  * state.
  */
object Streaming {

  /** Stream-source schema for the events table, read from the parquet
    * footer (one cheap driver-side read). The generator has shipped
    * `ts` as TIMESTAMP(NANOS) (→ BIGINT nanos under the scoped legacy
    * conf) and as TIMESTAMP(MICROS) (→ TIMESTAMP_NTZ); forcing a
    * hardcoded LongType onto a micros file would silently reinterpret
    * the raw int64 as nanos — 1000× off. */
  private def eventsSchema(spark: SparkSession, dir: String): StructType =
    spark.read.option("pathGlobFilter", "events.parquet").parquet(dir).schema

  /** Epoch-ms `ts_ms` from the physical `ts`, whatever its type. */
  private def withTsMs(df: DataFrame): DataFrame =
    df.withColumn("ts_ms", graft.Tables.tsMillis(df.schema("ts").dataType))

  /** The live tier stores' partials of raw events: decimal sums widened
    * to the (38, 6) the merge writes, so every trigger's table has one
    * schema. */
  private def tierPartials(raw: DataFrame, resolutionMs: Long): DataFrame =
    graft.operators.TimeSeries.tierPartials(withTsMs(raw), resolutionMs)
      .withColumn("value_sum", col("value_sum").cast(DecimalType(38, 6)))

  // Scoped nanosAsLong for a full stream run. Unlike the batch reader
  // (Tables.events), a stream re-plans its parquet scan every
  // micro-batch, so the conf must hold until awaitTermination returns
  // — each operator wraps its whole body (build → run → drain) in
  // withConfs(spark, NanosAsLong) and the session conf is restored on
  // exit, never leaked into subsequent batch work.

  private def eventStream(spark: SparkSession, dir: String): DataFrame = {
    withTsMs(spark.readStream.schema(eventsSchema(spark, dir))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
  }

  /** The events table as a batch frame under the stream schema. */
  private def rawEvents(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("pathGlobFilter", "events.parquet").schema(eventsSchema(spark, dir))
      .parquet(dir)

  // --------------------------------------------------------------- #41
  /** Streaming tier rollup: 1 h windowed avg/min/max/count per path.
    * Complete-mode memory sink for the verify round-trip; with a live
    * source this runs append-mode behind the 10 min watermark. */
  def streamBucketAgg(spark: SparkSession, dir: String): DataFrame = withConfs(spark, NanosAsLong) {
    val agg = eventStream(spark, dir)
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(
        (sum(col("value").cast(DecimalType(18, 6))).cast("double") / count(col("value"))).as("value_avg"),
        min("value").as("value_min"),
        max("value").as("value_max"),
        count(lit(1)).as("sample_count"))
    val rows = agg
      .select(unix_millis(col("window.start")).as("bucket_ms"), col("event_type"),
        col("value_avg"), col("value_min"), col("value_max"), col("sample_count"))
    Slices.toMemory(rows, OutputMode.Complete).orderBy("event_type", "bucket_ms")
  }

  val streamBucketAggOracle: String =
    """SELECT CAST(FLOOR(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT) AS bucket_ms,
      |  event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS value_avg,
      |  MIN(value) AS value_min, MAX(value) AS value_max,
      |  COUNT(*) AS sample_count
      |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket_ms""".stripMargin

  // --------------------------------------------------------------- #42
  case class ThresholdEvent(user_id: Long, ts_ms: Long, value: Double)
  case class ThresholdState(lastFireMs: Long)
  case class Fire(user_id: Long, fire_ms: Long)

  /** Stateful threshold automation: fire when value > 120, suppress
    * re-fires for 12 h (hysteresis), state = last fire time per user —
    * the streaming form of Sessions.thresholdHysteresis. Events are
    * sorted within each invocation; state carries across batches. */
  def thresholdFlow(events: Dataset[ThresholdEvent]): Dataset[Fire] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ThresholdState, Fire](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[ThresholdEvent], state: GroupState[ThresholdState]) =>
          var last = state.getOption.map(_.lastFireMs).getOrElse(Long.MinValue / 4)
          val fires = scala.collection.mutable.ArrayBuffer[Fire]()
          it.toSeq.sortBy(e => (e.ts_ms, e.value)).foreach { e =>
            if (e.value > 120.0 && e.ts_ms >= last + 43200000L) {
              fires += Fire(user, e.ts_ms)
              last = e.ts_ms
            }
          }
          state.update(ThresholdState(last))
          fires.iterator
      }
  }

  def streamThreshold(spark: SparkSession, dir: String): DataFrame = withConfs(spark, NanosAsLong) {
    import spark.implicits._
    val src = eventStream(spark, dir)
      .where(col("event_type") === "error")
      .select(col("user_id"), col("ts_ms"), col("value"))
      .as[ThresholdEvent]
    Slices.toMemory(thresholdFlow(src).toDF(), OutputMode.Append).orderBy("user_id", "fire_ms")
  }

  val streamThresholdOracle: String =
    """WITH RECURSIVE cond AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
      |  WHERE event_type = 'error' AND value > 120.0
      |), fires AS (
      |  SELECT user_id, MIN(ts_ms) AS fire_ms FROM cond GROUP BY user_id
      |  UNION ALL
      |  SELECT f.user_id,
      |    (SELECT MIN(c.ts_ms) FROM cond c WHERE c.user_id = f.user_id AND c.ts_ms >= f.fire_ms + 43200000)
      |  FROM fires f
      |  WHERE (SELECT MIN(c.ts_ms) FROM cond c WHERE c.user_id = f.user_id AND c.ts_ms >= f.fire_ms + 43200000) IS NOT NULL
      |)
      |SELECT user_id, fire_ms FROM fires ORDER BY user_id, fire_ms""".stripMargin


  // --------------------------------------------------------------- #43
  /** Streaming dedup: collapse each series' 5-min burst to one row —
    * `dropDuplicates` on (series, bucket) with the watermark bounding
    * the dedup state (expired buckets are evicted, so state is
    * O(active keys), not O(stream)). Which row of a burst survives is
    * racy under parallel read, so the verified output is the
    * deterministic part: the per-series count of distinct buckets. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = withConfs(spark, NanosAsLong) {
    val deduped = eventStream(spark, dir)
      .withColumn("bucket_ms",
        (floor(col("ts_ms") / lit(300000L)).cast("long") * lit(300000L)))
      .withWatermark("event_time", "10 minutes")
      .dropDuplicates("user_id", "event_type", "bucket_ms")
      .select("user_id", "event_type", "bucket_ms")
    Slices.toMemory(deduped, OutputMode.Append)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_unique_buckets"))
      .orderBy("user_id", "event_type")
  }

  val streamDedupOracle: String =
    """SELECT user_id, event_type,
      |  COUNT(DISTINCT CAST(FLOOR(epoch_ms(ts) / 300000) * 300000 AS BIGINT)) AS n_unique_buckets
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin


  // --------------------------------------------------------------- #44
  case class ClickEvent(user_id: Long, ts_ms: Long, event_id: Long, value: Double)
  case class EpisodeState(inEpisode: Boolean, startMs: Long)
  case class Episode(user_id: Long, start_ms: Long, end_ms: Long, duration_s: Double)

  /** Streaming sessionization: the batch episode detector
    * (Sessions.episodes, claude-analyzer.ts:3206-3260) as a stateful
    * stream. State per user is just (inEpisode, startMs); a completed
    * episode emits at its false edge. Open episodes stay in state —
    * append mode can only emit finals, so the verified surface is the
    * completed set (identical to the batch operator's "completed"
    * rows). */
  def episodeFlow(events: Dataset[ClickEvent]): Dataset[Episode] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[EpisodeState, Episode](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[ClickEvent], state: GroupState[EpisodeState]) =>
          var st = state.getOption.getOrElse(EpisodeState(inEpisode = false, 0L))
          val out = scala.collection.mutable.ArrayBuffer[Episode]()
          it.toSeq.sortBy(e => (e.ts_ms, e.event_id)).foreach { e =>
            val s = e.value > 100.0
            if (s && !st.inEpisode) st = EpisodeState(inEpisode = true, e.ts_ms)
            else if (!s && st.inEpisode) {
              out += Episode(user, st.startMs, e.ts_ms, (e.ts_ms - st.startMs) / 1000.0)
              st = EpisodeState(inEpisode = false, 0L)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  def streamEpisodes(spark: SparkSession, dir: String): DataFrame = withConfs(spark, NanosAsLong) {
    import spark.implicits._
    val src = eventStream(spark, dir)
      .where(col("event_type") === "click")
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("value"))
      .as[ClickEvent]
    Slices.toMemory(episodeFlow(src).toDF(), OutputMode.Append).orderBy("user_id", "start_ms")
  }

  val streamEpisodesOracle: String =
    """WITH s AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, (value > 100.0) AS state,
      |    LAG(value > 100.0) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_state
      |  FROM events WHERE event_type = 'click'
      |), b AS (
      |  SELECT *, CASE
      |      WHEN state AND (prev_state IS NULL OR NOT prev_state) THEN 'start'
      |      WHEN NOT state AND prev_state THEN 'end' END AS boundary
      |  FROM s
      |  WHERE (state AND (prev_state IS NULL OR NOT prev_state))
      |     OR (NOT state AND prev_state)
      |), p AS (
      |  SELECT *, LEAD(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS end_ms
      |  FROM b
      |)
      |SELECT user_id, ts_ms AS start_ms, end_ms, (end_ms - ts_ms) / 1000.0 AS duration_s
      |FROM p WHERE boundary = 'start' AND end_ms IS NOT NULL
      |ORDER BY user_id, start_ms""".stripMargin

  // --------------------------------------------------------------- #45
  /** Streaming parquet export — the reference's ParquetExportService:
    * buffered records are periodically flushed to parquet files, and a
    * restart must not re-export what a previous run already wrote
    * (crash recovery via the pending-record check,
    * parquet-export-service.ts). Spark-native: the file sink's
    * checkpoint+manifest IS that exactly-once contract — the stream is
    * deliberately started twice on the same checkpoint, and the second
    * run exports nothing. Counts double (and the hash compare fails)
    * if recovery re-processes. */
  def streamExportSink(spark: SparkSession, dir: String): DataFrame = withConfs(spark, NanosAsLong) {
    val out = Fs.scratch("export_sink")
    val ckpt = Fs.scratch("ckpt_export")
    def runOnce(): Unit = {
      val q = eventStream(spark, dir)
        .select("event_id", "user_id", "event_type", "ts_ms", "value")
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    runOnce()
    spark.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_records"),
        (sum(col("value").cast(DecimalType(18, 6))).cast("double")).as("value_sum"))
      .orderBy("event_type")
  }

  val streamExportSinkOracle: String =
    """SELECT event_type, COUNT(*) AS n_records,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin


  // --------------------------------------------------------------- #46
  /** Stream-static dedup — the shape an incremental training-data
    * pipeline runs: incoming documents stream against a STATIC
    * historical fingerprint store (here: md5 of docs with id < 250),
    * each batch flagging which arrivals duplicate history. The static
    * side is planned per micro-batch as an ordinary broadcast join —
    * no state store grows with history size, which is what makes this
    * viable when the historical corpus is 100 TB and indexed once. */
  def streamStaticDedup(spark: SparkSession, dir: String): DataFrame = {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val history = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < 250)
      .select(md5(col("text").cast("binary")).as("fp")).distinct()
    val arrivals = spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .withColumn("fp", md5(col("text").cast("binary")))
      .join(broadcast(history.withColumn("is_dup", lit(1L))), Seq("fp"), "left")
      .select(col("lang"), coalesce(col("is_dup"), lit(0L)).as("is_dup"))
    Slices.toMemory(arrivals, OutputMode.Append)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dups"))
      .orderBy("lang")
  }

  val streamStaticDedupOracle: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(COUNT(*) FILTER (WHERE md5(text) IN (
      |    SELECT md5(text) FROM documents WHERE doc_id < 250)) AS BIGINT) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- #42e

  /** Stream-stream time-range join: each click joined to the same
    * user's error samples arriving within the following 48 h — the
    * streaming form of [[graft.operators.Intervals]]' containment join
    * (episode-scoped analysis as a live pipeline). Both sides carry
    * watermarks, and the range condition bounds each side's join state
    * to watermark + range — Spark evicts older rows, so state is
    * O(rate·window) however long the stream runs. The batch oracle is
    * the same non-equi join over the finished input. */
  def streamRangeJoin(spark: SparkSession, dir: String): DataFrame = withConfs(spark, NanosAsLong) {
    val clicks = eventStream(spark, dir)
      .where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_ms").as("click_ms"),
        col("event_time").as("c_time"))
      .withWatermark("c_time", "1 hour")
    val errors = eventStream(spark, dir)
      .where(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts_ms").as("error_ms"),
        col("value").as("error_value"), col("event_time").as("e_time"))
      .withWatermark("e_time", "1 hour")
    val joined = clicks.join(errors,
      col("c_user") === col("e_user") &&
        col("e_time") >= col("c_time") &&
        col("e_time") <= col("c_time") + expr("INTERVAL 48 HOURS"))
    val rows = joined
      .select(col("c_user").as("user_id"), col("click_ms"), col("error_ms"),
        col("error_value"))
    Slices.toMemory(rows, OutputMode.Append).orderBy("user_id", "click_ms", "error_ms")
  }

  val streamRangeJoinOracle: String =
    """SELECT c.user_id, epoch_ms(c.ts) AS click_ms, epoch_ms(e.ts) AS error_ms,
      |  e.value AS error_value
      |FROM events c JOIN events e
      |  ON e.user_id = c.user_id
      | AND epoch_ms(e.ts) >= epoch_ms(c.ts)
      | AND epoch_ms(e.ts) <= epoch_ms(c.ts) + 172800000
      |WHERE c.event_type = 'click' AND e.event_type = 'error'
      |ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- #42f
  /** Streaming tier maintenance — aggregation-service.ts's scheduled
    * processAggregations as a LIVE pipeline: each micro-batch's raw
    * events roll into 5-min decimal partials and merge into the
    * persistent tier store via [[graft.operators.TimeSeries
    * .mergeTierPartials]] (touched buckets re-aggregate, untouched
    * mass passes through a broadcast anti-join untouched), committed
    * through [[Slices.commit]]. Because the partials carry exact
    * decimal sums, ANY batch boundary placement yields a final tier
    * bit-identical to a full batch recompute — which is precisely what
    * the oracle checks. The source is split into four slices by
    * event_id mod 4, one per trigger, so the merge path (not a
    * single-batch shortcut) is what's exercised. */
  def streamTierMaintenance(spark: SparkSession, dir: String): DataFrame = withConfs(spark, NanosAsLong) {
    import graft.operators.TimeSeries
    val raw = rawEvents(spark, dir)
    val srcDir = Slices.stage(raw, pmod(col("event_id"), lit(4)), 4, Fs.scratch("tier_src"))
    val root = Fs.scratch("tier_store")
    val tierSchema = tierPartials(raw, 300000L).schema
    Slices.drainInto(spark, srcDir, raw.schema, root) { (batch, snap) =>
      Seq(ManifestStore.replaceTableOp("tier5m", "", () =>
        TimeSeries.mergeTierPartials(snap.read("tier5m", tierSchema),
          tierPartials(batch, 300000L))))
    }
    ManifestStore.readTable(spark, root, "tier5m", tierSchema)
      .withColumn("value_avg", col("value_sum").cast("double") / col("sample_count"))
      .select("user_id", "event_type", "bucket_ms", "value_avg", "value_min",
        "value_max", "sample_count", "first_ts_ms", "last_ts_ms")
      .orderBy("user_id", "event_type", "bucket_ms")
  }

  /** Oracle = full recompute from raw: incremental streaming
    * maintenance must be indistinguishable from rebuilding the tier. */
  val streamTierMaintenanceOracle: String =
    graft.operators.TimeSeries.tierRollupRawOracle

  // ------------------------------------------------------------- #42g
  /** Streaming as-of enrichment: micro-batches of click events joined
    * to each user's most recent view fix through the NATIVE
    * [[graft.plans.AsOfJoin]] operator inside foreachBatch — the
    * custom Catalyst exec node (logical node + strategy + merge-walk
    * physical operator) composing with Structured Streaming, the
    * live-enrichment shape of the reference's history lookups. As-of
    * against a static quote side decomposes per probe row, so ANY
    * micro-batch placement appends exactly the rows the one-shot join
    * produces; the clicks are split into 3 slices by event_id mod 3,
    * one per trigger, so the per-batch path is actually exercised.
    * Each trigger's rows append to the `enriched` table through
    * [[Slices.commit]], so a re-delivered batch appends nothing.
    * Oracle: the same DuckDB ASOF LEFT JOIN as
    * sk_asof_join/sk_asof_native. */
  def streamAsOf(spark: SparkSession, dir: String): DataFrame =
    asOfInto(spark, dir, asOfStage(spark, dir), Fs.scratch("asof_store"))

  /** Stage the clicks as three slices (three triggers); returns the
    * source dir. */
  private[graft] def asOfStage(spark: SparkSession, dir: String): String = withConfs(spark, NanosAsLong) {
    Slices.stage(rawEvents(spark, dir).where(col("event_type") === "click"),
      pmod(col("event_id"), lit(3)), 3, Fs.scratch("asof_src"))
  }

  /** Drain the staged clicks at `srcDir` into `root` and read the
    * enriched rows back. `checkpoint` is caller-supplied so a crashed
    * drain can restart on the same one. */
  private[graft] def asOfInto(spark: SparkSession, dir: String, srcDir: String,
      root: String, checkpoint: Option[String] = None): DataFrame = withConfs(spark, NanosAsLong) {
    val raw = rawEvents(spark, dir)
    val quotes = withTsMs(raw.where(col("event_type") === "view"))
      .select("user_id", "ts_ms", "value", "event_id")
    def enrich(clicks: DataFrame): DataFrame =
      graft.plans.AsOfJoinNative.asOfJoin(
        withTsMs(clicks).select("event_id", "user_id", "ts_ms", "value"),
        quotes, "user_id", "ts_ms", "value", "event_id")
    Slices.drainInto(spark, srcDir, raw.schema, root, checkpoint) { (batch, _) =>
      Seq(ManifestStore.appendOp("enriched", "", () => Nil, () => enrich(batch)))
    }
    ManifestStore.readTable(spark, root, "enriched", enrich(raw).schema).orderBy("event_id")
  }

  // ------------------------------------------------------------- #42i
  /** Late-data tier correction as a STREAM — the streaming twin of
    * [[graft.operators.TimeSeries.tierCorrection]] and the live form
    * of the reference's lastProcessed rewind (aggregation-service.ts:
    * 405-421): late raw events arrive over 3 triggers (sliced by
    * event_id mod 3, so triggers genuinely collide on buckets); each
    * trigger (a) merges
    * its partials into the 1 h `tier1h` table via the same touched-only
    * [[graft.operators.TimeSeries.mergeTierPartials]] discipline (the
    * untouched mass passes through an anti-join, never re-aggregated),
    * (b) APPENDS a CDC row per touched bucket — (old, corrected) as of
    * that trigger, tagged with the store `version` the trigger commits
    * — in the same [[Slices.commit]], so a CDC row is visible exactly
    * when its store change is. Because the partials carry decimal
    * sums, applying late batches one trigger at a time is
    * associatively identical to applying them all at once: the final
    * store ≡ a full rebuild, so the query's output (original
    * published vs final store over all touched buckets) reuses the
    * BATCH operator's oracle verbatim. */
  def streamTierCorrection(spark: SparkSession, dir: String): DataFrame = {
    val (srcDir, root) = (Fs.scratch("corr_src"), Fs.scratch("corr_store"))
    tierCorrectionInto(spark, srcDir, tierCorrectionStage(spark, dir, srcDir, root), root)
  }

  /** Publish the on-time 1 h tier at `root` as both `published` and the
    * working `tier1h`, and stage the late arrivals at `srcDir` as three
    * slices (three triggers); returns the staged files' schema. */
  private[graft] def tierCorrectionStage(spark: SparkSession, dir: String,
      srcDir: String, root: String): StructType = withConfs(spark, NanosAsLong) {
    val isLate = col("event_id") % 17 === 3
    val all = rawEvents(spark, dir)
    val onTime = tierPartials(all.where(!isLate), 3600000L).localCheckpoint()
    ManifestStore.publishOps(spark, root, Seq(
      ManifestStore.replaceTableOp("published", "", () => onTime),
      ManifestStore.replaceTableOp("tier1h", "", () => onTime)))
    Slices.stage(all.where(isLate), pmod(col("event_id"), lit(3)), 3, srcDir)
    all.schema
  }

  /** Drain the staged late arrivals into `root` and read the corrected
    * buckets back. `checkpoint` is caller-supplied so a crashed drain
    * can restart on the same one (the drainBm25Into seam). */
  private[graft] def tierCorrectionInto(spark: SparkSession, srcDir: String,
      schema: StructType, root: String,
      checkpoint: Option[String] = None): DataFrame = withConfs(spark, NanosAsLong) {
    val keys = Seq("user_id", "event_type", "bucket_ms")
    val tierSchema = tierPartials(spark.read.schema(schema).parquet(srcDir), 3600000L).schema
    def avgCols(df: DataFrame, avg: String, n: String): DataFrame =
      df.select(col("user_id"), col("event_type"), col("bucket_ms"),
        (col("value_sum").cast("double") / col("sample_count")).as(avg),
        col("sample_count").as(n))
    Slices.drainInto(spark, srcDir, schema, root, checkpoint) { (batch, snap) =>
      // pinned: feeds the touched-key set and the merge
      val delta = tierPartials(batch, 3600000L).localCheckpoint()
      val touched = delta.select(keys.map(col): _*)
      val cur = snap.read("tier1h", tierSchema)
      val (pass, reagg) = graft.operators.TimeSeries.mergeTierPartialParts(cur, delta)
      // the CDC's new side IS the merge's reagg branch (the merged
      // store semi-joined on touched keys selects exactly those rows:
      // the pass branch is anti-joined on the same set), so both
      // writes read only (cur, checkpointed delta) and run concurrently
      Seq(
        ManifestStore.replaceTableOp("tier1h", "", () => pass.unionByName(reagg)),
        ManifestStore.appendOp("cdc", "", () => Nil, () =>
          avgCols(reagg, "new_avg", "new_n")
            .join(avgCols(cur.join(broadcast(touched), keys, "left_semi"),
              "old_avg", "old_n"), keys, "left")
            .withColumn("version", lit(snap.version + 1L))))
    }
    // driver-facing output ≡ the one-shot batch answer: original
    // published vs final store over every bucket any trigger touched
    val snap = ManifestStore.snapshot(spark, root)
    val touchedAll = snap.read("cdc", StructType(tierSchema.filter(f => keys.contains(f.name))))
      .distinct()
    avgCols(snap.read("tier1h", tierSchema).join(broadcast(touchedAll), keys, "left_semi"),
        "new_avg", "new_n")
      .join(avgCols(snap.read("published", tierSchema).join(broadcast(touchedAll), keys, "left_semi"),
        "old_avg", "old_n"), keys, "left")
      .select(col("user_id"), col("event_type"), col("bucket_ms"),
        col("old_avg"), col("old_n"), col("new_avg"), col("new_n"))
      .orderBy("user_id", "event_type", "bucket_ms")
  }

  // ------------------------------------------------------------- #42h
  /** Streaming near-dup dedup: the [[graft.dedup.Dedup]] LSH pipeline
    * run per micro-batch against a persistent signature store — the
    * shape a crawl pipeline runs at every ingest. Each arriving batch
    * (3 doc_id ranges, one per trigger) is (a) near-dup'd against ITSELF via
    * the full batch operator (signature collapse + 16×8 banding +
    * exact-Jaccard verify — [[graft.dedup.Dedup.minHashLshOn]]), and
    * (b) banded against the store of all earlier arrivals: the
    * batch's band keys (tiny) BROADCAST into the persisted band
    * table, candidates verify against store tokens semi-join-pruned
    * to candidate ids first (never the whole store —
    * the [[graft.dedup.Dedup.minHashLshIncremental]] discipline).
    * Then the batch's pairs, bands and tokens APPEND to the store in
    * one [[Slices.commit]], read by the next trigger through its
    * snapshot, so a re-delivered batch appends nothing: in production
    * the signature store is exactly this — computed once per doc at
    * ingest, immutable.
    *
    * Batch equivalence is structural: an unordered pair is emitted
    * exactly once — by (a) if both docs share a trigger, by (b) when
    * its later member arrives — so the union over triggers IS the
    * one-shot [[graft.dedup.Dedup.minHashLsh]] answer, and the oracle
    * is the same exact O(n²) SQL. StreamingSpec additionally pins
    * set-equality against the one-shot batch run and that cross-
    * trigger pairs actually occurred (≥3 triggers exercised). */
  def streamDedupLsh(spark: SparkSession, dir: String): DataFrame =
    dedupLshInto(spark, dedupLshStage(spark, dir), Fs.scratch("lshstore"))

  /** Stage the documents as three doc_id ranges (three triggers) — the
    * arrival split StreamingSpec recomputes to prove cross-trigger
    * pairs occurred; returns the source dir. */
  private[graft] def dedupLshStage(spark: SparkSession, dir: String): String =
    Slices.stage(
      spark.read.option("pathGlobFilter", "documents.parquet").parquet(dir)
        .repartitionByRange(3, col("doc_id")),
      spark_partition_id(), 3, Fs.scratch("lshsrc"))

  private val lshPairsSchema = StructType(Seq(StructField("id_a", LongType),
    StructField("id_b", LongType), StructField("jaccard", DoubleType)))

  /** Drain the staged documents at `srcDir` into the store at `root`
    * and read the pairs back. `checkpoint` is caller-supplied so a
    * restarted drain can re-deliver a batch. */
  private[graft] def dedupLshInto(spark: SparkSession, srcDir: String, root: String,
      checkpoint: Option[String] = None): DataFrame = {
    import graft.dedup.Dedup
    graft.functions.Native.register(spark)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    Slices.drain(spark, srcDir, docSchema, checkpoint) { (batch, batchId) =>
      // cands feeds two plans (the store-token semi-join prune and
      // the verify spine) — cached for the batch only: a long-running
      // stream must not accumulate one candidate table per
      // micro-batch in executor memory, so the cache is dropped once
      // the trigger's commit lands
      var cached: Option[DataFrame] = None
      try Slices.commit(batch.sparkSession, root, batchId) { snap =>
        // the batch feeds three distinct plans (within-pairs, band
        // keys, tokens) — pin it so the file scan runs once
        val b = batch.select("doc_id", "text").localCheckpoint()
        // unsorted pairs: the store sorts once at the final read — a
        // per-trigger range exchange would be pure fixed cost
        val within = Dedup.minHashLshPairs(b).select("id_a", "id_b", "jaccard")
        val bBands = Dedup.bandRows(b)
        val bToks = b.select(col("doc_id"), Dedup.tokens.as("toks"))
        val cands = broadcast(bBands.toDF("batch_id", "band_idx", "band_key"))
          .join(snap.read("bands", bBands.schema).toDF("store_id", "band_idx", "band_key"),
            Seq("band_idx", "band_key"))
          .select("batch_id", "store_id").distinct().cache()
        cached = Some(cands)
        val cross = Dedup.verifyAgainstStore(cands, bToks, snap.read("toks", bToks.schema))
          .select(least(col("batch_id"), col("store_id")).as("id_a"),
            greatest(col("batch_id"), col("store_id")).as("id_b"),
            col("jaccard"))
        // ingest: the batch's pairs and signatures join the store. The
        // pairs keep the verify stage's parallelism: appendOp's
        // one-file write would run every Jaccard check in one task
        Seq(
          ManifestStore.TableOp("pairs", "", Some(_ => Nil), replace = false,
            (_, dir) => within.unionAll(cross).write.mode("append").parquet(dir)),
          ManifestStore.appendOp("bands", "", () => Nil, () => bBands),
          ManifestStore.appendOp("toks", "", () => Nil, () => bToks))
      } finally cached.foreach(_.unpersist())
    }
    ManifestStore.readTable(spark, root, "pairs", lshPairsSchema).orderBy("id_a", "id_b")
  }

  // --------------------------------------------------------------- #56

  /** Streaming gap sessionization: the SAME native `session_window`
    * expression as the batch [[graft.operators.Sessions.sessionWindows]]
    * (12 h inactivity gap over per-user purchases), here running on the
    * session-window STATE STORE — Spark merges an arriving event into
    * its user's open session (or opens one) and merges sessions that an
    * event bridges, which is exactly the semantics the batch sort
    * computes; Complete mode emits the fully-merged table each trigger,
    * so the drained result must equal the batch answer bit-for-bit
    * (decimal partials make the merged means associative). With a live
    * source this runs append-mode behind a watermark that closes
    * sessions `gap` behind the max event time and evicts their state —
    * the knob that bounds state at 100 TB is session count per
    * watermark horizon, not corpus size. */
  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame = withConfs(spark, NanosAsLong) {
    import org.apache.spark.sql.types.DecimalType
    val rows = eventStream(spark, dir)
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id"), session_window(col("event_time"), "12 hours").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast(DecimalType(18, 6))).cast("double") /
          count(col("value"))).as("value_avg"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("session_start_ms"),
        unix_millis(col("sw.end")).as("session_end_ms"),
        col("n_events"), col("value_avg"))
    Slices.toMemory(rows, OutputMode.Complete).orderBy("user_id", "session_start_ms")
  }

  // ------------------------------------------------------------- #42k
  /** LIVE SKETCH MAINTENANCE: the HLL register store (graft.operators
    * .Hll) kept current by a stream — each micro-batch reduces to its
    * own ≤ m-row register partial, max-merges into the persisted
    * store, and commits it through [[Slices.commit]] (the
    * tier-maintenance pattern applied to a sketch). Because max is
    * associative/commutative and the register pipeline is
    * integer-exact, trigger-at-a-time maintenance is
    * INDISTINGUISHABLE from a full batch rebuild — the final estimate
    * reuses `sketch_hll_distinct`'s oracle verbatim.
    * The exact-count accuracy column is maintained the same way: a
    * persisted distinct (event_type, user_id) store unioned per batch
    * (the state dropDuplicates would hold, made visible).
    *
    * At 100 TB/day this is THE distinct-counting shape: the raw
    * stream is never retained, the store is m rows per group, and
    * any historical slice question max-merges stored registers.
    */
  def streamHll(spark: SparkSession, dir: String): DataFrame = withConfs(spark, NanosAsLong) {
    import graft.operators.Hll
    val raw = rawEvents(spark, dir)
    val srcDir = Slices.stage(raw, pmod(col("event_id"), lit(4)), 4, Fs.scratch("hll_src"))
    val root = Fs.scratch("hll_store")
    val pairSchema = StructType(Seq(
      StructField("event_type", StringType), StructField("user_id", LongType)))
    val regSchema = Hll.registers(spark.read.schema(pairSchema).parquet(srcDir)).schema
    Slices.drainInto(spark, srcDir, raw.schema, root) { (batch, snap) =>
      val ev = batch.select(col("event_type"), col("user_id"))
      // two independent read-merge-write jobs: they run concurrently
      Seq(
        ManifestStore.replaceTableOp("regs", "", () =>
          snap.read("regs", regSchema).unionByName(Hll.registers(ev))
            .groupBy("event_type", "idx").agg(max("mj").as("mj"))),
        ManifestStore.replaceTableOp("pairs", "", () =>
          snap.read("pairs", pairSchema).unionByName(ev).distinct()))
    }
    val snap = ManifestStore.snapshot(spark, root)
    val exact = snap.read("pairs", pairSchema).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    Hll.estimateRegisters(snap.read("regs", regSchema))
      .join(exact, "event_type")
      .select("event_type", "n_hit", "s_scaled", "hll_estimate", "exact_distinct")
      .orderBy("event_type")
  }

  // ------------------------------------------------------------- #42l
  /** Live COUNT-MIN maintenance — the ADD-merge twin of [[streamHll]]
    * (registers merge by max; counters merge by +): each micro-batch
    * of documents reduces to its own gram-count delta, its counter
    * delta ADDS cell-wise into the persisted ≤ d·w-row sketch, and
    * the gram-count store sums in parallel (the exact top-k side).
    * Addition is associative/commutative and batches partition the
    * corpus, so trigger-at-a-time ≡ the one-shot sketch and the batch
    * oracle carries over verbatim. The production read: frequency
    * sketches over an unbounded stream cost a FIXED-size store and a
    * per-batch partial aggregation — never a rescan.
    */
  def streamCms(spark: SparkSession, dir: String): DataFrame = withConfs(spark, NanosAsLong) {
    import graft.operators.Cms
    graft.functions.Native.register(spark)
    val docs = spark.read.option("pathGlobFilter", "documents.parquet").parquet(dir)
    val srcDir = Slices.stage(docs, pmod(col("doc_id"), lit(4)), 4, Fs.scratch("cms_src"))
    val root = Fs.scratch("cms_store")
    val gramSchema = Cms.gramCounts(docs).schema
    val cntSchema = Cms.hashed(Cms.gramCounts(docs))
      .groupBy("salt", "idx").agg(sum("n").as("c")).schema
    def addInto(snap: ManifestStore.Snapshot, table: String, schema: StructType,
        delta: DataFrame, keys: Seq[String], cnt: String): ManifestStore.TableOp =
      ManifestStore.replaceTableOp(table, "", () =>
        snap.read(table, schema).unionByName(delta)
          .groupBy(keys.map(col): _*).agg(sum(cnt).as(cnt)))
    Slices.drainInto(spark, srcDir, docs.schema, root) { (batch, snap) =>
      // both tables read only the checkpointed batch delta and their
      // own committed rows, so their writes run concurrently
      val counts = Cms.gramCounts(batch).localCheckpoint()
      Seq(
        addInto(snap, "grams", gramSchema, counts, Seq("gram"), "n"),
        addInto(snap, "counters", cntSchema,
          Cms.hashed(counts).groupBy("salt", "idx").agg(sum("n").as("c")),
          Seq("salt", "idx"), "c"))
    }
    val snap = ManifestStore.snapshot(spark, root)
    Cms.probeTopK(snap.read("grams", gramSchema), snap.read("counters", cntSchema))
  }

  /** Stateful demo streams pay per-PARTITION state-store overhead
    * (instances × per-commit files), not per-row: the range join took
    * 8 s at 32 shuffle partitions and 3 s at 8 on identical data. Each
    * query runs with 8 (scoped: the conf is restored after the query
    * returns — a stream reads it once at its first batch). At
    * production volume the number is sized to throughput instead. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, (SparkSession, String) => DataFrame](
    "stream_range_join" -> (streamRangeJoin _),
    "stream_static_dedup" -> (streamStaticDedup _),
    "stream_bucket_agg" -> (streamBucketAgg _),
    "stream_threshold" -> (streamThreshold _),
    "stream_dedup" -> (streamDedup _),
    "stream_episodes" -> (streamEpisodes _),
    "stream_export_sink" -> (streamExportSink _),
    "stream_tier_maintenance" -> (streamTierMaintenance _),
    "stream_asof" -> (streamAsOf _),
    "stream_dedup_lsh" -> (streamDedupLsh _),
    "stream_tier_correction" -> (streamTierCorrection _),
    "stream_replay" -> (Replay.streamReplay _),
    "stream_replay_live" -> (Replay.streamReplayLive _),
    "stream_late_data" -> (LateData.streamLateData _),
    "stream_hll_distinct" -> (streamHll _),
    "stream_cms_topk" -> (streamCms _),
    "stream_session_window" -> (streamSessionWindow _)
  ).map { case (name, fn) =>
    name -> ((s: SparkSession, d: String) =>
      withConfs(s, "spark.sql.shuffle.partitions" -> "8")(fn(s, d)))
  }

  val oracles: Map[String, String] = Map(
    "stream_range_join" -> streamRangeJoinOracle,
    "stream_static_dedup" -> streamStaticDedupOracle,
    "stream_bucket_agg" -> streamBucketAggOracle,
    "stream_threshold" -> streamThresholdOracle,
    "stream_dedup" -> streamDedupOracle,
    "stream_episodes" -> streamEpisodesOracle,
    "stream_export_sink" -> streamExportSinkOracle,
    "stream_tier_maintenance" -> streamTierMaintenanceOracle,
    "stream_asof" -> graft.operators.AsOf.asOfOracle,
    "stream_dedup_lsh" -> graft.dedup.Dedup.minHashLshOracle,
    "stream_tier_correction" -> graft.operators.TimeSeries.tierCorrectionOracle,
    "stream_replay" -> Replay.streamReplayOracle,
    // live pacing is execution-schedule-only: same plan, same answer
    "stream_replay_live" -> Replay.streamReplayOracle,
    "stream_late_data" -> LateData.streamLateDataOracle,
    // incremental register maintenance ≡ one-shot sketch, so the
    // batch oracle carries over verbatim
    "stream_hll_distinct" -> graft.operators.Hll.hllDistinctOracle,
    "stream_cms_topk" -> graft.operators.Cms.cmsTopKOracle,
    // the state-store merge ≡ the batch sort-merge, so the batch
    // islands oracle carries over verbatim
    "stream_session_window" -> graft.operators.Sessions.sessionWindowsOracle)
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.DecimalType

/** Paced historical playback: replay an archived time window as a
  * rate-controlled stream through the live streaming operators.
  *
  * Re-expresses the reference's historical streaming service
  * (historical-streaming.ts:435-542): a `setInterval` loop that, every
  * `rate` ms, queries the archive for the next window of data — the
  * full `timeRange` on the first tick, then incremental slices after
  * the last-seen timestamp (getHistoricalDataWindow,
  * historical-streaming.ts:693-806) — buckets it at `resolution` with
  * an aggregate method, and pushes the buckets to subscribers.
  *
  * Spark-first shape: the pacing is a SOURCE property, not a driver
  * loop. [[stage]] carves the archived window into consecutive
  * archive-time slices, one file per slice in replay order;
  * [[Slices.source]] over the staged directory (one file per trigger)
  * then makes each micro-batch exactly one slice — Structured
  * Streaming's native rate-control knob standing in for the wall-clock
  * interval (at demo scale Trigger.AvailableNow drains the slices
  * back-to-back; a live deployment would use
  * Trigger.ProcessingTime(rate) for real-time pacing with the same
  * plan). The bucket aggregation downstream is the same windowed-agg
  * shape as [[Streaming.streamBucketAgg]], so the accumulated replay
  * output is oracle-checkable against the batch query over the same
  * window — the incremental-tick invariant the reference maintains via
  * `streamLastTimestamps`.
  *
  * Scale note: at warehouse scale the archive is time-partitioned, so
  * staging is a METADATA operation — each slice is the set of existing
  * partition directories in its range. Here the test archive is a
  * single file, so [[stage]] physically slices it through the one
  * stager, [[Slices.stage]]: one pruned scan of the window, each row
  * tagged with its slice's replay position, all slices in one job.
  */
object Replay {

  case class Staged(dir: String, nSlices: Int, sliceMs: Long, startMs: Long, endMs: Long)

  /** Stage `[startMs, endMs)` of the events archive as one slice file
    * per `sliceMs` of archive time, in replay order. `ts_ms` is
    * normalized to BIGINT at stage time so the replay stream is
    * encoding-agnostic; the range predicate is on the native `ts`
    * column, so row-group pruning applies. `order`: replay position →
    * ARCHIVE slice index (identity when empty) — a non-identity
    * permutation replays slices out of archive-time order, the input
    * shape [[LateData]] needs. */
  def stage(spark: SparkSession, dir: String, startMs: Long, endMs: Long,
            sliceMs: Long, order: Seq[Int] = Seq.empty): Staged = {
    val tsType = graft.Tables.table(spark, dir, "events").schema("ts").dataType
    val nSlices = ((endMs - startMs + sliceMs - 1) / sliceMs).toInt
    require(order.isEmpty || order.sorted == (0 until nSlices),
      s"order must permute 0 until $nSlices")
    // archive slice index → replay position: the inverse of `order`
    val position = if (order.isEmpty) 0 until nSlices else order.indices.sortBy(order)
    val out = Slices.stage(
      graft.Tables.events(spark, dir).where(graft.Tables.tsRange(tsType, startMs, endMs))
        .select(col("ts_ms"), col("event_type"), col("value"), col("user_id")),
      element_at(lit(position.toArray), expr(s"(ts_ms - $startMs) div $sliceMs").cast("int") + 1),
      nSlices, graft.util.Fs.scratch("replay_stage"))
    Staged(out, nSlices, sliceMs, startMs, endMs)
  }

  /** One-slice-per-trigger stream over a staged replay directory. */
  def replayStream(spark: SparkSession, staged: Staged): DataFrame =
    Slices.source(spark, staged.dir, spark.read.parquet(staged.dir).schema)

  // --------------------------------------------------------------- #52
  /** Gated query: replay 15 archived days ([2024-01-05, 2024-01-20))
    * in 3-day slices through the 2 h bucket aggregation (the
    * reference's `average` aggregate method at `resolution` = 2 h over
    * a stream's `timeRange`). Complete-mode memory sink accumulates
    * the per-trigger incremental buckets; the result must equal the
    * batch bucket query over the same window — the invariant the
    * reference's sliding `streamLastTimestamps` window preserves.
    * (ReplaySpec drives [[replayStream]] directly through foreachBatch
    * to pin each micro-batch's time bounds to its slice.) */
  private val ReplayStartMs = 1704412800000L // 2024-01-05T00:00:00Z
  private val ReplayEndMs   = 1705708800000L // 2024-01-20T00:00:00Z
  private val ReplaySliceMs = 3L * 24 * 3600 * 1000

  /** The 2 h bucket aggregation both replay modes stream through. */
  private def bucketAgg(slices: DataFrame): DataFrame =
    slices
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .groupBy(window(col("event_time"), "2 hours"), col("event_type"))
      .agg(
        (sum(col("value").cast(DecimalType(18, 6))).cast("double") /
          count(col("value"))).as("value_avg"),
        count(lit(1)).as("sample_count"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("event_type"), col("value_avg"), col("sample_count"))

  def streamReplay(spark: SparkSession, dir: String): DataFrame = {
    val staged = stage(spark, dir, ReplayStartMs, ReplayEndMs, ReplaySliceMs)
    Slices.toMemory(bucketAgg(replayStream(spark, staged)), OutputMode.Complete)
      .orderBy("event_type", "bucket_ms")
  }

  // --------------------------------------------------------------- #52b
  /** A LIVE paced run's observable outcome: the accumulated table,
    * the wall-clock start of every data-carrying trigger, and how many
    * slices were committed before the stop. */
  private[graft] case class PacedRun(rows: Array[org.apache.spark.sql.Row],
      batchStartsMs: Seq[Long], slicesCommitted: Int, prefixEndMs: Long)

  /** Run the replay plan under `Trigger.ProcessingTime(rateMs)` — the
    * reference's LIVE mode (historical-streaming.ts:435-542: a
    * `setInterval(rate)` tick emitting the next archive window) — and
    * STOP after `stopAfterSlices` committed slices. This is the
    * wall-clock-paced, mid-stream-stoppable execution the drain-mode
    * [[streamReplay]] only documents: same staged source, same plan,
    * different trigger. The sink is Complete-mode memory, so after a
    * mid-stream stop the table holds exactly the buckets of the
    * replayed PREFIX — the incremental-tick invariant (the reference's
    * `streamLastTimestamps` high-water mark) at every stop point, not
    * just at drain. */
  private[graft] def runPaced(spark: SparkSession, dir: String, rateMs: Long,
      stopAfterSlices: Int): PacedRun = {
    val staged = stage(spark, dir, ReplayStartMs, ReplayEndMs, ReplaySliceMs)
    val name = s"graft_replay_live_${System.nanoTime()}"
    try {
      val q = bucketAgg(replayStream(spark, staged))
        .writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation",
          graft.util.Fs.scratch("ckpt_replay_live"))
        .trigger(Trigger.ProcessingTime(s"$rateMs milliseconds"))
        .start()
      def committed = q.recentProgress.count(_.numInputRows > 0)
      val target = math.min(stopAfterSlices, staged.nSlices)
      val deadline = System.currentTimeMillis() + 120000
      while (q.isActive && committed < target &&
          System.currentTimeMillis() < deadline) Thread.sleep(25)
      q.stop()
      q.awaitTermination()
      // re-read AFTER the stop: a trigger racing the stop() may have
      // committed one more slice than the poll saw — the prefix bound
      // must match what the sink actually holds
      val dataBatches = q.recentProgress.filter(_.numInputRows > 0).toSeq
      val n = dataBatches.size
      // full-drain callers (the gated query) must never get a silent
      // prefix: a deadline hit on a loaded host would otherwise fail
      // the full-window oracle as an inscrutable row-count mismatch
      // instead of a clear timeout (ADVICE r13)
      if (target == staged.nSlices && n < target)
        throw new IllegalStateException(
          s"paced replay timed out: $n/${staged.nSlices} slices committed " +
          s"within the 120 s deadline (rate ${rateMs} ms) — host too loaded " +
          "for the live-paced gate, not a data mismatch")
      PacedRun(
        spark.table(name).orderBy("event_type", "bucket_ms").collect(),
        dataBatches.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli),
        n,
        math.min(ReplayStartMs + n.toLong * ReplaySliceMs, ReplayEndMs))
    } finally {
      // the rows are collected: the sink's view must not keep them in
      // the session catalog for the JVM's life
      spark.catalog.dropTempView(name)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staged.dir))
    }
  }

  /** Gated query: the full window under LIVE pacing (200 ms ticks, one
    * slice per tick) — must equal the batch answer, like the drain. */
  def streamReplayLive(spark: SparkSession, dir: String): DataFrame = {
    val run = runPaced(spark, dir, rateMs = 200, stopAfterSlices = Int.MaxValue)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bucket_ms", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value_avg", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("sample_count", org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(run.rows: _*)), schema)
  }

  val streamReplayOracle: String =
    """SELECT CAST(FLOOR(epoch_ms(ts) / 7200000) * 7200000 AS BIGINT) AS bucket_ms,
      |  event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS value_avg,
      |  COUNT(*) AS sample_count
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
      |GROUP BY 1, 2 ORDER BY event_type, bucket_ms""".stripMargin
}

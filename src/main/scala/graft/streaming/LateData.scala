package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.DecimalType

/** Watermark late-data semantics, made deterministic and
  * oracle-checkable: an out-of-order replay (archive slices permuted,
  * [[Replay.stage]]'s `order`) drives a watermarked windowed
  * aggregation in APPEND mode, so the engine's watermark effects all
  * land in the final table —
  *
  *  1. **Late drops**: a row whose 2 h window already closed before
  *     the LATE-EVENTS watermark of its micro-batch never reaches the
  *     aggregate's state.
  *  2. **Append finalization**: a window row is emitted exactly once,
  *     when the EVICTION watermark passes its end; windows still open
  *     when the stream drains are withheld.
  *
  * The two watermarks differ by one batch — Spark's two-value design
  * (SPARK-24634, the `eventTimeWatermarkForLateEvents` vs
  * `eventTimeWatermarkForEviction` split): the eviction watermark for
  * batch k is max(event time through batch k−1) − delay, while late
  * events are filtered with the PREVIOUS value, max(event time
  * through batch k−2) − delay — so data arriving just one batch out
  * of order is never dropped (measured here: a one-position slice
  * swap loses nothing). The replay below therefore delivers the late
  * slice TWO positions late, where the lagged filter does engage.
  * Both watermarks are pure functions of (permutation, delay, data) —
  * monotone running maxima — so the oracle replays the identical
  * bookkeeping in SQL. Boundary note: every watermark value inherits
  * the random sub-second offset of some observed timestamp while
  * window ends sit on exact 2 h boundaries, so `<` vs `≤` ambiguity
  * at the boundary cannot materialize on this data.
  *
  * The reference ingests time-ordered streams and its buffer flushes
  * strictly by arrival (sqlite-buffer WAL → regular parquet commits);
  * this operator is the Spark-native answer to the question that
  * design leaves open — what happens when history arrives late — and
  * is the semantics any 100 TB ingest with out-of-order sources needs
  * pinned: state size is bounded by the delay (windows older than the
  * eviction watermark evict), not by stream length.
  */
object LateData {

  // --------------------------------------------------------------- #53
  /** Gated query: replay [2024-01-05, 2024-01-20) in 3-day slices in
    * permuted order (0, 2, 3, 1, 4) — slice 1 (archive days 3..6)
    * arrives at position 3, AFTER slices 2 and 3 — through a 2 h
    * windowed aggregation with a 72 h watermark. At position 3 the
    * late-events watermark is max(slices 0, 2) − 72 h ≈ archive day
    * 6 − ε, so of slice 1's thirty-six 2 h windows exactly the last
    * one (end = day 6) survives the filter and the rest drop; the
    * final eviction watermark ≈ day 12 − ε withholds the last three
    * days' windows. Output = the append-mode memory sink's
    * accumulated rows ≡ the oracle's SQL replay of the same
    * two-watermark bookkeeping. */
  def streamLateData(spark: SparkSession, dir: String): DataFrame = {
    val startMs = 1704412800000L // 2024-01-05T00:00:00Z
    val endMs   = 1705708800000L // 2024-01-20T00:00:00Z
    val sliceMs = 3L * 24 * 3600 * 1000
    val order = Seq(0, 2, 3, 1, 4)
    val staged = Replay.stage(spark, dir, startMs, endMs, sliceMs, order)
    try {
      val late = Replay.replayStream(spark, staged)
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
        .withWatermark("event_time", "72 hours")
        .groupBy(window(col("event_time"), "2 hours"), col("event_type"))
        .agg(
          (sum(col("value").cast(DecimalType(18, 6))).cast("double") /
            count(col("value"))).as("value_avg"),
          count(lit(1)).as("sample_count"))
        .select(unix_millis(col("window.start")).as("bucket_ms"),
          col("event_type"), col("value_avg"), col("sample_count"))
      Slices.toMemory(late, OutputMode.Append).orderBy("event_type", "bucket_ms")
        .localCheckpoint()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staged.dir))
    }
  }

  /** The same two-watermark bookkeeping in SQL: p = replay position of
    * a row's archive slice; wm_late(p) = running max of per-position
    * max event time over positions ≤ p−2, minus the 72 h delay (NULL
    * for p ≤ 1: the lagged filter has no value yet); a row is kept iff
    * its window end beats wm_late; a window is emitted iff its end ≤
    * the final eviction watermark (global max − delay). */
  val streamLateDataOracle: String =
    """WITH ev AS (
      |  SELECT epoch_ms(ts) AS t, event_type, value,
      |    (epoch_ms(ts) - 1704412800000) // 259200000 AS slice
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
      |), pos AS (
      |  SELECT *, CASE slice WHEN 0 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN 2
      |                       WHEN 1 THEN 3 ELSE 4 END AS p
      |  FROM ev
      |), wm AS (
      |  SELECT p,
      |    MAX(mx) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
      |      - 259200000 AS wm_late
      |  FROM (SELECT p, MAX(t) AS mx FROM pos GROUP BY p)
      |), fin AS (
      |  SELECT MAX(t) - 259200000 AS final_wm FROM ev
      |), kept AS (
      |  SELECT pos.*, ((t // 7200000) + 1) * 7200000 AS wend
      |  FROM pos JOIN wm USING (p)
      |  WHERE wm.wm_late IS NULL OR ((t // 7200000) + 1) * 7200000 > wm.wm_late
      |)
      |SELECT CAST(wend - 7200000 AS BIGINT) AS bucket_ms, event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS value_avg,
      |  COUNT(*) AS sample_count
      |FROM kept, fin
      |WHERE wend <= fin.final_wm
      |GROUP BY 1, 2 ORDER BY event_type, bucket_ms""".stripMargin
}

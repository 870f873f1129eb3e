package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Replay

class ReplaySpec extends SparkSpec {

  // Window [Jan 3, Jan 12) in 3-day slices → exactly 3 slices.
  private val startMs = 1704240000000L // 2024-01-03T00:00:00Z
  private val endMs   = 1705017600000L // 2024-01-12T00:00:00Z
  private val sliceMs = 3L * 24 * 3600 * 1000

  test("stage carves the window into ordered, disjoint, exhaustive slices") {
    val staged = Replay.stage(spark, sfDir, startMs, endMs, sliceMs)
    try {
      assert(staged.nSlices == 3)
      val files = new java.io.File(staged.dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      assert(files.map(_.getName).toSeq ==
        Seq("slice_0000.parquet", "slice_0001.parquet", "slice_0002.parquet"))
      // mod-time order == name order (what the file source replays by)
      assert(files.map(_.lastModified).toSeq == files.map(_.lastModified).sorted.toSeq)
      // each slice's rows sit inside its archive-time bounds
      for ((f, i) <- files.zipWithIndex) {
        val d = spark.read.parquet(f.getPath)
        val lo = startMs + i * sliceMs
        val hi = math.min(lo + sliceMs, endMs)
        assert(d.where(col("ts_ms") < lo || col("ts_ms") >= hi).count() == 0, s"slice $i bounds")
      }
      // union of slices == batch scan of the window (same rows, no loss/dup)
      val staged_total = spark.read.parquet(staged.dir).count()
      val batch_total = Tables.events(spark, sfDir)
        .where(col("ts_ms") >= startMs && col("ts_ms") < endMs).count()
      assert(staged_total == batch_total && batch_total > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staged.dir))
    }
  }

  test("replay delivers one slice per trigger, in archive-time order") {
    val staged = Replay.stage(spark, sfDir, startMs, endMs, sliceMs)
    val batches = collection.mutable.ArrayBuffer[(Long, Long, Long)]() // (minTs, maxTs, rows)
    try {
      val q = Replay.replayStream(spark, staged)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val r = df.agg(min("ts_ms"), max("ts_ms"), count(lit(1))).head
          if (r.getLong(2) > 0) batches.synchronized {
            batches += ((r.getLong(0), r.getLong(1), r.getLong(2)))
          }
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_ckpt_replayspec").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(batches.size == staged.nSlices, s"one micro-batch per slice: $batches")
      for (((lo, hi, _), i) <- batches.zipWithIndex) {
        val sLo = startMs + i * sliceMs
        val sHi = math.min(sLo + sliceMs, endMs)
        assert(lo >= sLo && hi < sHi, s"batch $i [$lo,$hi] escapes slice [$sLo,$sHi)")
      }
      // strictly increasing archive time across triggers — paced playback,
      // never reordered or interleaved
      assert(batches.toSeq.sliding(2).forall {
        case Seq(a, b) => a._2 < b._1
        case _ => true
      })
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staged.dir))
    }
  }

  private def batchBuckets(loMs: Long, hiMs: Long) =
    Tables.events(spark, sfDir)
      .where(col("ts_ms") >= loMs && col("ts_ms") < hiMs)
      .groupBy((floor(col("ts_ms") / 7200000L) * 7200000L).cast("long").as("bucket_ms"),
        col("event_type"))
      .agg((sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double") / count(col("value"))).as("value_avg"),
        count(lit(1)).as("sample_count"))
      .orderBy("event_type", "bucket_ms")

  test("LIVE pacing: ProcessingTime triggers are wall-clock spaced at the rate") {
    // full drain under a 300 ms tick: 5 slices → 5 data triggers; the
    // gaps between consecutive data-trigger starts must reflect the
    // rate, not back-to-back draining (historical-streaming.ts's
    // setInterval(rate) semantics)
    val run = Replay.runPaced(spark, sfDir, rateMs = 300, stopAfterSlices = Int.MaxValue)
    assert(run.slicesCommitted == 5, s"full drain: ${run.slicesCommitted}")
    val gaps = run.batchStartsMs.sorted.sliding(2).collect {
      case Seq(a, b) => b - a
    }.toSeq
    // ≥2 distinct wall-clock gaps, each at least ~2/3 of the rate
    // (trigger scheduling jitter allowed; a drain would show ~0 gaps)
    assert(gaps.count(_ >= 200) >= 2, s"gaps not rate-paced: $gaps")
    assert(gaps.distinct.size >= 2, s"need >=2 distinct gaps: $gaps")
    // the paced run's memory sink leaves no view behind
    assert(spark.catalog.listTables().collect().forall(!_.name.startsWith("graft_replay_live_")))
  }

  test("LIVE mid-stream stop: accumulated table equals the batch answer over the replayed prefix") {
    val run = Replay.runPaced(spark, sfDir, rateMs = 400, stopAfterSlices = 2)
    // stopped mid-stream — strictly fewer than the 5 staged slices
    assert(run.slicesCommitted >= 2 && run.slicesCommitted < 5,
      s"expected a mid-stream stop, committed ${run.slicesCommitted}")
    val expected = batchBuckets(1704412800000L, run.prefixEndMs).collect()
    assert(run.rows.nonEmpty)
    assert(run.rows.map(_.toString).toSeq == expected.map(_.toString).toSeq,
      s"prefix mismatch at ${run.slicesCommitted} slices")
    assert(spark.catalog.listTables().collect().forall(!_.name.startsWith("graft_replay_live_")))
  }

  test("accumulated replay output equals the batch bucket query over the window") {
    val replayed = Replay.streamReplay(spark, sfDir)
    val batch = Tables.events(spark, sfDir)
      .where(col("ts_ms") >= 1704412800000L && col("ts_ms") < 1705708800000L)
      .groupBy((floor(col("ts_ms") / 7200000L) * 7200000L).cast("long").as("bucket_ms"),
        col("event_type"))
      .agg((sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double") / count(col("value"))).as("value_avg"),
        count(lit(1)).as("sample_count"))
      .orderBy("event_type", "bucket_ms")
    assert(replayed.count() > 0)
    assert(replayed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(replayed).count() == 0)
  }
}

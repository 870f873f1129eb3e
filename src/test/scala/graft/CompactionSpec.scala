package graft

import graft.operators.Intervals
import graft.sources.{Compaction, HiveStore}
import graft.util.Fs
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Round-3 operators: compaction filesystem invariants, interval-join
  * semantics + plan shape, histogram binning. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def fs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def liveSlice(dir: String) = HiveStore.layout(Tables.events(spark, dir)
    .where(col("event_type") === "purchase" && col("user_id") < 3))

  test("compaction: one file per year group, cold day dirs removed, rows sorted by ts") {
    val (live, archive) = (Fs.scratch("hive_store_"), Fs.scratch("hive_store_"))
    HiveStore.write(liveSlice(sfDir), live)
    val before = fs.globStatus(new Path(live, "tier=*/context=*/path=*/year=*/day=*")).length
    assert(before > 3, s"expected several day dirs, got $before")
    Compaction.compactDays(spark, live, archive, cutoffDay = "016")
    // cold day dirs gone from the live store
    val coldLeft = fs.globStatus(new Path(live, "tier=*/context=*/path=*/year=*/day=*"))
      .filter(_.getPath.getName.stripPrefix("day=") < "016")
    assert(coldLeft.isEmpty, coldLeft.mkString(","))
    // exactly one data file per (tier, context, path, year) group
    for (g <- fs.globStatus(new Path(archive, "tier=*/context=*/path=*/year=*"))) {
      val files = fs.listStatus(g.getPath).filter(_.getPath.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${g.getPath}: ${files.length} files")
    }
    // within-file timestamp order (the reference's sorted-file invariant)
    val arch = spark.read.parquet(archive)
    val perFile = arch
      .withColumn("f", input_file_name())
      .groupBy("f", "context")
      .agg((collect_list("ts_ms") === array_sort(collect_list("ts_ms"))).as("sorted"))
    // collect_list respects row order within a single parquet file split
    assert(perFile.where(!col("sorted")).count() == 0)
  }

  test("second scheduled run preserves previously archived days (append-only archive)") {
    val (live, archive) = (Fs.scratch("hive_store_"), Fs.scratch("hive_store_"))
    HiveStore.write(liveSlice(sfDir), live)
    val expected = Compaction.compactedRead(spark, live, archive)
      .select("event_id").as[Long].collect().sorted.toSeq
    Compaction.compactDays(spark, live, archive, cutoffDay = "010")
    Compaction.compactDays(spark, live, archive, cutoffDay = "020")
    Compaction.compactDays(spark, live, archive, cutoffDay = "020") // same-cutoff re-run: no-op
    val after = Compaction.compactedRead(spark, live, archive)
    val ids = after.select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == expected, s"${expected.size} rows in, ${ids.size} rows out")
    // days < 10 must have survived the second run inside the archive
    val firstWindow = after.where(col("src") === "archive" &&
      dayofyear(timestamp_millis(col("ts_ms"))) < 10).count()
    assert(firstWindow > 0, "first window's archived rows were destroyed by the second run")
    assert(Compaction.archivedCutoff(spark, archive) == "020")
  }

  test("crash between publish and commit loses nothing; rerun completes idempotently") {
    val (live, archive) = (Fs.scratch("hive_store_"), Fs.scratch("hive_store_"))
    HiveStore.write(liveSlice(sfDir), live)
    val expected = Compaction.compactedRead(spark, live, archive)
      .select("event_id").as[Long].collect().sorted.toSeq
    Compaction.compactDays(spark, live, archive, cutoffDay = "010")
    // Crash the second run after its publish step: data files for the
    // [010, 016) window are in place but the marker is not and the live
    // store was not cleaned.
    Compaction.crashPoint = Some("commit")
    try intercept[IllegalStateException] {
      Compaction.compactDays(spark, live, archive, cutoffDay = "016")
    } finally Compaction.crashPoint = None
    assert(Compaction.archivedCutoff(spark, archive) == "010")
    // Reads still see every row exactly once (window days come from live).
    val mid = Compaction.compactedRead(spark, live, archive)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(mid == expected, "mid-crash read lost or duplicated rows")
    // Re-running the same compaction completes the publish.
    Compaction.compactDays(spark, live, archive, cutoffDay = "016")
    val fin = Compaction.compactedRead(spark, live, archive)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(fin == expected)
    assert(Compaction.archivedCutoff(spark, archive) == "016")
  }

  test("a crashed FIRST run leaves the read equal to the pre-compaction rows") {
    // no marker was ever committed, so the crashed run's archive files
    // are uncommitted and every day still reads from live — whatever
    // cutoff a later run is scheduled with
    val (live, archive) = (Fs.scratch("hive_store_"), Fs.scratch("hive_store_"))
    HiveStore.write(liveSlice(sfDir), live)
    def ids(): Seq[Long] = Compaction.compactedRead(spark, live, archive)
      .select("event_id").as[Long].collect().sorted.toSeq
    val expected = ids()
    Compaction.crashPoint = Some("commit")
    try intercept[IllegalStateException] {
      Compaction.compactDays(spark, live, archive, cutoffDay = "016")
    } finally Compaction.crashPoint = None
    assert(Compaction.archivedCutoff(spark, archive) == "000")
    assert(fs.globStatus(new Path(archive, "tier=*/context=*/path=*/year=*/c016_*")).nonEmpty,
      "the crashed run left no uncommitted archive files — nothing exercised")
    val mid = ids()
    assert(mid == expected, s"${expected.size} rows before, ${mid.size} after a crashed first run")
  }

  test("compactedRead is identical mid-crash (archive published, source not yet cleaned)") {
    val (live, archive) = (Fs.scratch("hive_store_"), Fs.scratch("hive_store_"))
    val (liveDirty, _) = (Fs.scratch("hive_store_"), ())
    HiveStore.write(liveSlice(sfDir), live)
    HiveStore.write(liveSlice(sfDir), liveDirty) // = live store before cleanup
    Compaction.compactDays(spark, live, archive, cutoffDay = "016")
    val clean = Compaction.compactedRead(spark, live, archive)
      .select("event_id").as[Long].collect().sorted.toSeq
    val dirty = Compaction.compactedRead(spark, liveDirty, archive)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(clean == dirty && clean.nonEmpty)
  }

  test("interval join: exact containment, chunk-spanning intervals, no duplicate pairs") {
    val intervals = Seq(
      (1L, 100L, 250L), // spans chunks 1-2 (chunk=100)
      (1L, 300L, 400L),
      (2L, 0L, 1000L) // spans all chunks
    ).toDF("user_id", "start_ms", "end_ms")
    val points = Seq(
      (1L, 100L, 1.0), // at start → in
      (1L, 249L, 2.0), // at end-1 → in
      (1L, 250L, 3.0), // at end → out
      (1L, 299L, 4.0), // gap → out
      (1L, 399L, 5.0), // second interval
      (2L, 500L, 6.0),
      (3L, 100L, 7.0) // no interval for key
    ).toDF("user_id", "ts_ms", "value")
    val out = Intervals.intervalJoin(points, intervals, "user_id", "ts_ms",
        "start_ms", "end_ms", chunkMs = 100L)
      .select("user_id", "start_ms", "ts_ms")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(out == Seq((1L, 100L, 100L), (1L, 100L, 249L), (1L, 300L, 399L), (2L, 0L, 500L)))
  }

  test("interval join plans as an equi-join, not a nested-loop join") {
    val p = operators.Intervals.skIntervalJoin(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("histogram clamps the max into the last bin and covers every sample") {
    val h = Intervals.skHistogram(spark, sfDir)
    val rows = h.select("event_type", "bin", "n").as[(String, Long, Long)].collect()
    assert(rows.forall { case (_, b, _) => b >= 0 && b <= 19 })
    val total = rows.map(_._3).sum
    val evCount = Tables.events(spark, sfDir).count()
    assert(total == evCount, s"histogram covers $total of $evCount rows")
  }
}

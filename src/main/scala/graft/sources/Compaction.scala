package graft.sources

import graft.util.Fs
import graft.Tables
import graft.funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the reference's compaction service
  * (compaction-service.ts:1-30: merge the per-day parquet files of a
  * (tier, context, path, year) group into one consolidated file, sorted
  * by timestamp, published atomically; data-handler.ts:870's earlier
  * consolidateMissedDays did the same at day granularity).
  *
  * Spark-native re-expression: instead of the reference's sequential
  * per-group loop (glob → DuckDB COPY → rename, one group at a time),
  * compaction here is ONE distributed job over every group at once:
  *
  *   - the day-partition predicate prunes the live-store scan to the
  *     cold days only (no full-store read),
  *   - `repartition(keys)` gives each output group exactly one writing
  *     task (no tasks×partitions file explosion),
  *   - `sortWithinPartitions(keys, ts)` preserves the reference's
  *     sorted-by-timestamp file invariant AND gives parquet tight
  *     row-group min/max stats on the time column — the stats that
  *     make post-compaction time-range scans skip row groups,
  *   - [[MaxRecordsPerFile]] bounds file size at scale (a year of a hot
  *     path may exceed one sane file; the reference's single-file-per-
  *     year rule does not survive 100 TB),
  *   - publication is incremental and append-only: each run archives
  *     only the newly cold window, moves files into place under
  *     run-unique names, then commits an atomic `_commit_{cutoff}`
  *     marker BEFORE any source deletion; the read path takes
  *     precedence from the committed marker (see [[compactedRead]]) —
  *     so repeated scheduled runs never rewrite prior archive data and
  *     a crash at any point never loses or double-counts a row.
  *
  * The compacted archive is a separate hive root partitioned by
  * (tier, context, path, year) — the `day=` level is folded back into
  * the data (recoverable from ts_ms), which is exactly the reference's
  * post-compaction state ("day becomes NULL for compacted years",
  * compaction-service.ts:22-27). Keeping hot day-files and cold year-
  * files under different roots is the Spark-idiomatic equivalent of
  * the reference's mixed-depth directory tree (Spark's partition
  * discovery rejects mixed depths; DuckDB's glob tolerates them).
  */
object Compaction {

  import org.apache.hadoop.fs.{FileSystem, Path}

  /** Rows per archive file. */
  private val MaxRecordsPerFile = 4000000L

  /** The durably-archived cutoff, read from the commit markers. The
    * marker file's NAME carries the value (`_commit_016`), so the commit
    * is a single atomic namespace create — there is no partially-written
    * manifest state to misread after a crash. "000" = nothing archived
    * (also the fresh-archive case). Underscore-prefixed, so Spark's
    * partition discovery ignores it. */
  def archivedCutoff(spark: SparkSession, archiveDir: String): String = {
    val fs = Fs.of(spark, archiveDir)
    val root = new Path(archiveDir)
    if (!fs.exists(root)) "000"
    else fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_commit_")).map(_.stripPrefix("_commit_"))
      .sorted.lastOption.getOrElse("000")
  }

  /** Test-only fault injection: when set, [[compactDays]] throws just
    * before the named step ("commit" | "cleanup") — lets the spec prove
    * the crash-window contracts without mocking the filesystem. */
  private[graft] var crashPoint: Option[String] = None
  private def maybeCrash(step: String): Unit =
    if (crashPoint.contains(step))
      throw new IllegalStateException(s"injected crash before $step")

  private def commitCutoff(fs: FileSystem, archiveDir: String, cutoffDay: String): Unit = {
    val root = new Path(archiveDir)
    fs.mkdirs(root)
    fs.create(new Path(root, s"_commit_$cutoffDay"), true).close()
    // Opportunistic: drop superseded markers (max always wins anyway).
    for (m <- fs.listStatus(root) if m.getPath.getName.startsWith("_commit_")
        if m.getPath.getName.stripPrefix("_commit_") < cutoffDay)
      fs.delete(m.getPath, false)
  }

  /** Fold every day-partition strictly before `cutoffDay` (day-of-year,
    * zero-padded string as in the store layout) into the per-year
    * archive, then drop the folded day directories from the live store.
    *
    * INCREMENTAL + APPEND-ONLY: each run archives only the window
    * [previously-committed cutoff, cutoffDay) — the scheduled service
    * (compaction-service.ts runs repeatedly by design) costs O(newly
    * cold data) per run, never O(archive), and previously archived
    * rows are never rewritten, moved, or deleted. Publish protocol:
    *
    *   1. write the window to a temp root (Spark job),
    *   2. move each data file into its archive partition dir under a
    *      run-unique name (`c{cutoff}_…`) — per-file renames, no
    *      whole-root delete, so existing archive data is untouched,
    *   3. commit by atomically creating the `_commit_{cutoff}` marker,
    *   4. only then delete the folded day dirs from the live store.
    *
    * Crash at any point never loses a row: readers take precedence from
    * the committed marker ([[compactedRead]]), so uncommitted files from
    * a crashed step-2 are invisible (their days still read from live),
    * and a re-run with the same cutoff first clears its own `c{cutoff}_`
    * leftovers — fully idempotent. A crash between commit and cleanup
    * re-runs cleanup only. */
  def compactDays(spark: SparkSession, liveDir: String, archiveDir: String,
      cutoffDay: String): Unit = {
    // Archive and live store may live on DIFFERENT filesystems (hot
    // local/HDFS live, cold S3 archive) — resolve each from its root.
    val fs = Fs.of(spark, archiveDir)
    val liveFs = Fs.of(spark, liveDir)
    val prev = archivedCutoff(spark, archiveDir)
    if (cutoffDay > prev) {
      // Partition-column predicate → directory pruning: only the newly
      // cold day dirs are ever opened.
      val cold = HiveStore.read(spark, liveDir)
        .where(col("day") >= prev && col("day") < cutoffDay).drop("day")
      val keys = Seq("tier", "context", "path", "year")
      val tmp = archiveDir + s"_compacting_$cutoffDay"
      cold
        .repartition(32, keys.map(col): _*)
        .sortWithinPartitions((keys.map(col) :+ col("ts_ms")): _*)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MaxRecordsPerFile)
        .partitionBy(keys: _*)
        .parquet(tmp)
      // Clear leftovers of a crashed attempt at this same cutoff (they
      // are invisible to readers: marker not yet committed).
      for (f <- fs.globStatus(new Path(archiveDir,
          s"tier=*/context=*/path=*/year=*/c${cutoffDay}_*")))
        fs.delete(f.getPath, false)
      // Per-file publish into the existing partition dirs.
      val tmpPrefix = fs.makeQualified(new Path(tmp)).toString
      for (f <- fs.globStatus(new Path(tmp, "tier=*/context=*/path=*/year=*/*"))
          if !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) {
        val rel = fs.makeQualified(f.getPath.getParent).toString.stripPrefix(tmpPrefix)
        require(rel.startsWith("/"), s"unexpected publish path ${f.getPath}")
        val destDir = new Path(archiveDir + rel)
        fs.mkdirs(destDir)
        // check the boolean: object-store adapters signal failure by
        // returning false, and a silently dropped file here would lose
        // rows the marker then claims are archived
        require(fs.rename(f.getPath,
            new Path(destDir, s"c${cutoffDay}_${f.getPath.getName}")),
          s"archive publish rename failed: ${f.getPath} -> $destDir")
      }
      fs.delete(new Path(tmp), true)
      maybeCrash("commit")
      commitCutoff(fs, archiveDir, cutoffDay)
    }
    // Source cleanup — only for days the marker proves are archived.
    maybeCrash("cleanup")
    val committed = archivedCutoff(spark, archiveDir)
    for (d <- liveFs.globStatus(new Path(
        liveDir, "tier=*/context=*/path=*/year=*/day=*"))
        if d.getPath.getName.stripPrefix("day=") < committed) {
      liveFs.delete(d.getPath, true)
    }
  }

  /** Unified read over (live ∪ archive) with the COMMITTED cutoff as
    * the precedence rule: days < cutoff come from the archive, days ≥
    * cutoff from the live store. Precedence is taken from the archive's
    * `_commit_*` marker alone — so the result is identical before,
    * during, and after any compaction step: uncommitted archive files
    * (a crashed run's, first run included) are excluded by the day
    * predicate and their days still read from live; after commit the
    * (possibly not-yet-cleaned) live copies are excluded instead. Both
    * scans stay partition-pruned; no shuffle is added. An absent, empty
    * or never-committed archive reads as empty. */
  def compactedRead(spark: SparkSession, liveDir: String, archiveDir: String): DataFrame = {
    val cutoff = archivedCutoff(spark, archiveDir)
    val liveSide = HiveStore.read(spark, liveDir).where(col("day") >= cutoff).drop("day")
      .withColumn("src", lit("live"))
    if (cutoff == "000" || !HiveStore.hasData(spark, archiveDir)) liveSide
    else {
      val dayOf = lpad(dayofyear(timestamp_millis(col("ts_ms"))).cast("string"), 3, "0")
      liveSide.unionByName(HiveStore.read(spark, archiveDir)
        .where(dayOf < cutoff).withColumn("src", lit("archive")))
    }
  }

  // --------------------------------------------------------------- #52
  /** Round-trip: events slice → day-partitioned live store → cold days
    * folded into the per-year archive → unified read-back aggregated
    * per (context, path, year). `n_archived` pins the compaction
    * boundary; `n_days`/`value_avg` prove no row was lost, duplicated,
    * or altered by the layout change. The oracle recomputes everything
    * from raw events. File-count/sort invariants are spec-asserted
    * (CompactionSpec) — they are filesystem facts, not SQL. */
  def skCompaction(spark: SparkSession, dir: String): DataFrame = {
    val (live, archive) = (Fs.scratch("hive_store_"), Fs.scratch("hive_store_"))
    HiveStore.write(HiveStore.layout(Tables.events(spark, dir)
      .where(col("event_type") === "purchase" && col("user_id") < 6)), live)
    compactDays(spark, live, archive, cutoffDay = "016")
    compactedRead(spark, live, archive)
      .groupBy("context", "path", "year")
      .agg(
        count(lit(1)).as("n_records"),
        countDistinct(dayofyear(timestamp_millis(col("ts_ms")))).as("n_days"),
        sum(when(col("src") === "archive", 1L).otherwise(0L)).as("n_archived"),
        r6(davg(col("value"))).as("value_avg"))
      .withColumn("year", col("year").cast("int"))
      .orderBy("context")
  }

  val compactionOracle: String =
    """SELECT 'vessels__urn-' || CAST(user_id AS VARCHAR) AS context,
      |  event_type AS path, CAST(year(ts) AS INT) AS year,
      |  COUNT(*) AS n_records,
      |  COUNT(DISTINCT dayofyear(ts)) AS n_days,
      |  CAST(SUM(CASE WHEN dayofyear(ts) < 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_archived,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS value_avg
      |FROM events WHERE event_type = 'purchase' AND user_id < 6
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_compaction" -> (skCompaction _))

  val oracles: Map[String, String] = Map(
    "sk_compaction" -> compactionOracle)
}

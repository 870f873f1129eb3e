package graft.sources

import graft.util.Confs.withConfs
import graft.util.Fs
import graft.Tables
import graft.funcs._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-partitioned store mirroring the reference's layout
  * (`tier=…/context=…/path=…/year=YYYY/day=DDD/`, hive-path-builder.ts)
  * via Spark's native partitioned parquet — partition pruning on any
  * prefix of (tier, context, path, year, day) is then free, exactly
  * the property the reference's time/path-ranged queries rely on.
  */
object HiveStore {

  /** The partition keys of the layout, outermost first. */
  private val Keys = Seq("tier", "context", "path", "year", "day")

  /** Write records into the reference layout. Expects columns
    * `tier, context, path, year, day` plus payload. */
  def write(df: DataFrame, dir: String): Unit = writeParts(df, "overwrite", dir)

  /** The one layout writer. The repartition on the partition keys is
    * load-bearing: without it every input task opens a writer per
    * output partition (tasks × partitions file handles — the classic
    * dynamic-partition small-file explosion); with it each output
    * directory is written by exactly one task. Explicit partition
    * count: AQE would otherwise coalesce the tiny pre-write shuffle to
    * a handful of tasks and serialize the (per-file) filesystem calls. */
  private def writeParts(df: DataFrame, mode: String, dir: String): Unit =
    df.repartition(32, col("context"), col("path"), col("day"))
      .write.mode(mode)
      .partitionBy(Keys: _*)
      .parquet(dir)

  /** Read the layout at `dir`. Partition values stay strings under any
    * session setting (day "003" must not be inferred back to int 3):
    * the conf is scoped to the eager file-index / schema-inference step
    * and restored immediately. */
  def read(spark: SparkSession, dir: String): DataFrame =
    withConfs(spark,
      "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false") {
      spark.read.parquet(dir)
    }

  /** `df` (with a `ts_ms` column) as layout records: tier `raw`,
    * `context` and `path` (by default those of an events row), and the
    * UTC `year`/`day` of `ts_ms` as strings — the types [[read]]
    * returns, so a partition-tuple join against a read lines up. */
  def layout(df: DataFrame,
      context: Column = concat(lit("vessels__urn-"), col("user_id")),
      path: Column = col("event_type")): DataFrame = {
    val ts = timestamp_millis(col("ts_ms"))
    df.withColumn("tier", lit("raw"))
      .withColumn("context", context)
      .withColumn("path", path)
      .withColumn("year", year(ts).cast("string"))
      .withColumn("day", lpad(dayofyear(ts).cast("string"), 3, "0"))
  }

  /** Whether `dir` holds layout data — at least one `tier=…` dir; an
    * existing but empty root (a fresh scratch dir) holds none. */
  def hasData(spark: SparkSession, dir: String): Boolean = {
    val fs = Fs.of(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    fs.exists(root) && fs.listStatus(root).exists(_.getPath.getName.startsWith("tier="))
  }

  /** Append to `target` exactly the partitions of `recs` it does not
    * hold yet; returns the rows appended (0 on a re-run). The partition
    * diff is a broadcast anti-join of `recs` against the target's
    * partition tuples — metadata-sized however big the data is — and
    * only the missing partitions' data is then scanned. Append-only, so
    * a re-run after a crash copies nothing twice. */
  def appendMissing(spark: SparkSession, recs: DataFrame, target: String): Long = {
    val missing =
      if (hasData(spark, target))
        recs.join(broadcast(read(spark, target).select(Keys.map(col): _*).distinct()),
          Keys, "left_anti")
      else recs
    // count + write both consume it: cut lineage once so the source
    // scan + anti-join run once, not twice
    val staged = missing.localCheckpoint(false)
    val n = staged.count()
    if (n > 0) writeParts(staged, "append", target)
    n
  }

  /** Retention sweep — aggregation-service.ts:cleanupOldData: delete
    * partitions whose day is older than the per-tier retention,
    * comparing at day granularity (midnight UTC) so a 1-day retention
    * never deletes yesterday mid-afternoon. Returns deleted partition
    * paths. */
  def retentionSweep(spark: SparkSession, dir: String,
      retentionDays: Map[String, Int], nowMs: Long): Seq[String] = {
    val fs = Fs.of(spark, dir)
    val base = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(base)) return Seq.empty
    val midnight = nowMs - Math.floorMod(nowMs, 86400000L)
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    for (tierDir <- fs.listStatus(base) if tierDir.isDirectory) {
      val tier = tierDir.getPath.getName.stripPrefix("tier=")
      retentionDays.get(tier).filter(_ > 0).foreach { days =>
        val cutoff = midnight - days.toLong * 86400000L
        val dayDirs = fs.globStatus(new org.apache.hadoop.fs.Path(
          tierDir.getPath, "context=*/path=*/year=*/day=*"))
        for (d <- dayDirs) {
          val year = d.getPath.getParent.getName.stripPrefix("year=").toInt
          val day = d.getPath.getName.stripPrefix("day=").toInt
          val dayStart = java.time.LocalDate.ofYearDay(year, day)
            .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
          if (dayStart < cutoff) {
            fs.delete(d.getPath, true)
            deleted += d.getPath.toString
          }
        }
      }
    }
    deleted.toSeq
  }

  // --------------------------------------------------------------- #28
  /** Round-trip: events → hive layout → pruned read-back of one path
    * partition, counted per (path, year, day). The oracle counts the
    * same slice relationally; the Spark side proves layout + pruning
    * (the read filter hits only `path=click` directories). */
  def hiveWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = Fs.scratch("hive_store_")
    // The round-trip writes the slice the pruned read-back checks
    // (path=click): full layout fidelity, bounded file count — local
    // FS metadata calls shell out when the hadoop native lib is absent,
    // so file count, not bytes, dominates this demo's cost.
    write(layout(Tables.events(spark, dir)
      .where(col("event_type") === "click" && col("user_id") < 8)), out)
    read(spark, out)
      .where(col("tier") === "raw" && col("path") === "click")
      .groupBy("path", "year", "day")
      .agg(count(lit(1)).as("n_records"))
      .withColumn("year", col("year").cast("int"))
      .withColumn("day", col("day").cast("string"))
      .orderBy("path", "year", "day")
  }

  val hiveWriteOracle: String =
    """SELECT event_type AS path,
      |  CAST(year(ts) AS INT) AS year,
      |  lpad(CAST(dayofyear(ts) AS VARCHAR), 3, '0') AS day,
      |  COUNT(*) AS n_records
      |FROM events WHERE event_type = 'click' AND user_id < 8
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------ backup sync
  /** Incremental backup sync — the write side of the reference's cloud
    * archive (README "Cloud Integration", utils/cloud-endpoint.ts):
    * copy to the archive exactly the hive partitions it does not hold
    * yet ([[appendMissing]]) — partition pruning makes a nightly 100 TB
    * sync cost one listing plus the new day's bytes. */
  def backupSync(spark: SparkSession, primary: String, archive: String): Long =
    appendMissing(spark, read(spark, primary), archive)

  /** Round-trip: primary holds users < 6; the archive already holds a
    * stale backup of users < 2 (value+1000 marks it). One sync copies
    * ONLY the missing partitions (stale data stays untouched — backup
    * never rewrites); a second sync copies nothing. The read-back
    * proves both via per-context counts and the stale marker. */
  def skBackupSync(spark: SparkSession, dir: String): DataFrame = {
    def slice(maxUser: Int, shift: Double) = layout(Tables.events(spark, dir)
      .where(col("event_type") === "signup" && col("user_id") < maxUser)
      .withColumn("value", col("value") + shift))
    val (primary, archive) = (Fs.scratch("hive_store_"), Fs.scratch("hive_store_"))
    write(slice(6, 0.0), primary)
    write(slice(2, 1000.0), archive)
    val first = backupSync(spark, primary, archive)
    val second = backupSync(spark, primary, archive)
    require(second == 0L, s"re-sync must copy nothing, copied $second")
    read(spark, archive)
      .groupBy("context")
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("value") >= 1000.0, 1L).otherwise(0L)).as("n_stale"))
      .withColumn("first_sync_copied", lit(first > 0))
      .orderBy("context")
  }

  val backupSyncOracle: String =
    """SELECT 'vessels__urn-' || CAST(user_id AS VARCHAR) AS context,
      |  COUNT(*) AS n_records,
      |  CAST(SUM(CASE WHEN user_id < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
      |  TRUE AS first_sync_copied
      |FROM events WHERE event_type = 'signup' AND user_id < 6
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------- retention sweep
  /** Round-trip for [[retentionSweep]] (aggregation-service.ts
    * cleanupOldData): write a slice into the layout, sweep with a
    * fixed "now" (2024-01-31 UTC) and a 10-day raw-tier retention —
    * day dirs whose UTC midnight is older than Jan 21 are deleted at
    * partition granularity — then count what survived. The oracle
    * applies the same day-of-year cutoff relationally. */
  def skRetention(spark: SparkSession, dir: String): DataFrame = {
    val out = Fs.scratch("hive_store_")
    write(layout(Tables.events(spark, dir)
      .where(col("event_type") === "click" && col("user_id") < 4)), out)
    retentionSweep(spark, out, Map("raw" -> 10), nowMs = 1706659200000L)
    read(spark, out)
      .groupBy("context", "day")
      .agg(count(lit(1)).as("n_records"))
      .withColumn("day", col("day").cast("string"))
      .orderBy("context", "day")
  }

  val retentionOracle: String =
    """SELECT 'vessels__urn-' || CAST(user_id AS VARCHAR) AS context,
      |  lpad(CAST(dayofyear(ts) AS VARCHAR), 3, '0') AS day,
      |  COUNT(*) AS n_records
      |FROM events
      |WHERE event_type = 'click' AND user_id < 4 AND dayofyear(ts) >= 21
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------- federated read
  /** Federated store read — the reference's cloud-archive fallback
    * (README "Cloud Integration": query local parquet first, fall back
    * to the S3/R2 archive for partitions the local store no longer
    * holds). Primary and archive are unioned with PRIMARY precedence
    * at hive-partition granularity: an archive partition contributes
    * only when the primary has no directory for that
    * (tier, context, path, year, day).
    *
    * The precedence test is a left-anti join of the archive rows
    * against the primary's distinct partition tuples — metadata-sized,
    * so it broadcasts; the data-bearing scans stay pruned and are never
    * shuffled. */
  def federatedRead(spark: SparkSession, primary: String, archive: String): DataFrame = {
    val p = read(spark, primary)
    val pParts = p.select(Keys.map(col): _*).distinct()
    p.unionByName(read(spark, archive).join(broadcast(pParts), Keys, "left_anti"))
  }

  /** Round-trip proving precedence: the primary holds users < 3, the
    * archive holds a STALE copy (value+1000) of users < 5. Federated
    * counts/averages must show original values for the overlap and
    * stale values only for the archive-only contexts (3–4). */
  def skFederatedRead(spark: SparkSession, dir: String): DataFrame = {
    def slice(maxUser: Int, valueShift: Double) = layout(Tables.events(spark, dir)
      .where(col("event_type") === "click" && col("user_id") < maxUser)
      .withColumn("value", col("value") + valueShift))
    val (primary, archive) = (Fs.scratch("hive_store_"), Fs.scratch("hive_store_"))
    write(slice(3, 0.0), primary)
    write(slice(5, 1000.0), archive)
    federatedRead(spark, primary, archive)
      .groupBy("context")
      .agg(count(lit(1)).as("n_records"), davg(col("value")).as("value_avg"))
      .orderBy("context")
  }

  val federatedOracle: String =
    """SELECT 'vessels__urn-' || CAST(user_id AS VARCHAR) AS context,
      |  COUNT(*) AS n_records,
      |  CAST(SUM(CAST(value + (CASE WHEN user_id >= 3 THEN 1000.0 ELSE 0.0 END)
      |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS value_avg
      |FROM events WHERE event_type = 'click' AND user_id < 5
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_hive_write" -> (hiveWrite _),
    "sk_retention_sweep" -> (skRetention _),
    "sk_backup_sync" -> (skBackupSync _),
    "sk_federated_read" -> (skFederatedRead _))

  val oracles: Map[String, String] = Map(
    "sk_hive_write" -> hiveWriteOracle,
    "sk_retention_sweep" -> retentionOracle,
    "sk_backup_sync" -> backupSyncOracle,
    "sk_federated_read" -> federatedOracle)
}

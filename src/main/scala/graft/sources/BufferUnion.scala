package graft.sources

import graft.Tables
import graft.funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hot-buffer ∪ archive read with quarantine-directory exclusion —
  * the reference's federated history read over a PARTIALLY-COMPACTED
  * store (history-provider.ts:345 + utils/buffer-sql-builder.ts):
  *
  *  1. the parquet archive is scanned EXCLUDING rows under
  *     `processed/ quarantine/ failed/ repaired/` subdirectories —
  *     the WAL→parquet pipeline parks already-flushed chunks in
  *     `processed/` (re-reading them double-counts) and corrupt or
  *     mid-repair files in the other three (re-reading them poisons
  *     aggregates); the reference filters per-row on
  *     `filename NOT LIKE '%/processed/%' …`;
  *  2. the live WAL buffer contributes only rows with `exported = 0`
  *     (buffer-sql-builder.ts's scalar subquery) — a row the flusher
  *     has already written to parquet is served by the archive side,
  *     so the union never double-counts the flush overlap window.
  *
  * Spark-first: the directory exclusion runs at FILE-LISTING time — a
  * recursive metadata walk that skips excluded directory names
  * wholesale, so ZERO excluded bytes are ever read (the reference's
  * row-level filename filter reads-then-drops them; at 100 TB with a
  * compaction backlog the processed/ mirror can be as large as the
  * live data). The listing is the same O(directories) metadata
  * operation a FileIndex performs, and at warehouse scale it runs
  * against the partition manifest. The buffer's `exported = 0` guard
  * is a pushable column predicate on the (memory-sized) hot table.
  *
  * The gated round-trip makes every mechanism load-bearing: the store
  * is staged with a `processed/` mirror of the flush-overlap days, a
  * corrupted `quarantine/` + `failed/` + `repaired/` slice (values
  * shifted by +5000/+7000/+9000), and a buffer whose overlap days are
  * marked `exported = 1` — any exclusion or precedence mistake
  * double-counts or shifts the per-context averages, and the oracle
  * is the plain uncorrupted base query. */
object BufferUnion {

  private val Excluded = Set("processed", "quarantine", "failed", "repaired")

  /** Recursive listing that skips excluded directories wholesale. The
    * filesystem is resolved FROM THE PATH (not hardcoded local), so
    * the listing-time exclusion works unchanged on HDFS/S3 stores —
    * the deployment this read path exists for. */
  private[graft] def eligibleFiles(spark: SparkSession, root: String): Seq[String] = {
    val fs = graft.util.Fs.of(spark, root)
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) {
          if (Excluded.contains(st.getPath.getName)) Seq.empty
          else walk(st.getPath)
        } else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath.toString)
        else Seq.empty
      }
    walk(new org.apache.hadoop.fs.Path(root))
  }

  /** The federated frame: quarantine-pruned archive ∪ unflushed buffer
    * rows. `buffer` must carry an `exported` column plus the archive
    * schema. */
  def bufferUnionRead(spark: SparkSession, store: String, buffer: DataFrame): DataFrame = {
    val files = eligibleFiles(spark, store)
    require(files.nonEmpty, s"no eligible files under $store")
    val archive = spark.read.parquet(files: _*)
    archive.unionByName(buffer.where(col("exported") === 0).drop("exported"))
  }

  // --------------------------------------------------------------- #28b
  /** Round-trip: base slice = view events of users < 6 over the Jan
    * 2024 archive. Store layout staged as a mid-compaction snapshot:
    *   data/        days  1-14  (the clean archive)
    *   processed/   days 10-14  (flushed WAL chunks — exact duplicates)
    *   quarantine/  days  5-9   value+5000 (corrupt copies)
    *   failed/      days  1-4   value+7000
    *   repaired/    days  1-4   value+9000
    * Buffer = days ≥ 10 with exported=1 for the already-flushed days
    * 10-14 and exported=0 for days ≥ 15. The federated read must
    * reconstruct the base slice exactly once per row, uncorrupted. */
  def skBufferUnion(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .where(col("event_type") === "view" && col("user_id") < 6)
      .withColumn("doy", dayofyear(timestamp_millis(col("ts_ms"))))
      .select("event_id", "ts_ms", "user_id", "value", "doy")
    val store = graft.util.Fs.scratch("buffer_union")
    def put(df: DataFrame, sub: String): Unit =
      df.drop("doy").repartition(1).write.mode("overwrite")
        .parquet(s"$store/$sub")
    put(base.where(col("doy") < 15), "data")
    put(base.where(col("doy") >= 10 && col("doy") < 15), "processed")
    put(base.where(col("doy") >= 5 && col("doy") < 10)
      .withColumn("value", col("value") + 5000.0), "quarantine")
    put(base.where(col("doy") < 5)
      .withColumn("value", col("value") + 7000.0), "failed")
    put(base.where(col("doy") < 5)
      .withColumn("value", col("value") + 9000.0), "repaired")
    val buffer = base.where(col("doy") >= 10)
      .withColumn("exported", when(col("doy") < 15, 1).otherwise(0))
      .drop("doy")
    bufferUnionRead(spark, store, buffer)
      .withColumn("context", concat(lit("vessels__urn-"), col("user_id")))
      .groupBy("context")
      .agg(count(lit(1)).as("n_records"), davg(col("value")).as("value_avg"))
      .orderBy("context")
  }

  /** The store/buffer staging must be result-invisible: the oracle is
    * the plain base-slice aggregate. */
  val bufferUnionOracle: String =
    """SELECT 'vessels__urn-' || CAST(user_id AS VARCHAR) AS context,
      |  COUNT(*) AS n_records,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS value_avg
      |FROM events WHERE event_type = 'view' AND user_id < 6
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_buffer_union" -> (skBufferUnion _))

  val oracles: Map[String, String] = Map(
    "sk_buffer_union" -> bufferUnionOracle)
}

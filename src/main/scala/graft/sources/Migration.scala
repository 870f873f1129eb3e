package graft.sources

import graft.util.Fs
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flat→hive store migration — the reference's migration-service.ts:
  * move an un-tiered `context/path/file.parquet` store into the tiered
  * `tier=…/context=…/path=…/year=…/day=…` layout, deriving the time
  * partitions from each record's timestamp and skipping everything
  * already migrated (the reference tracks migrated files; resuming a
  * cancelled job re-does nothing).
  *
  * Spark-first shape: the scan-phase identity recovery
  * (directory-scanner.ts walks the tree and parses context/path from
  * the file path) becomes a `_metadata.file_path` projection — no
  * driver-side listing, each task recovers identity for its own files.
  * Skip-existing becomes a broadcast left-anti join against the
  * target's distinct partition tuples — metadata-sized however big the
  * data is, so a resumed 100 TB migration costs one partition listing,
  * not a rescan of written bytes.
  */
object Migration {

  /** Write the legacy flat layout (context/path dirs, no time
    * partitioning) — what migration-service.ts migrates FROM. */
  def writeFlat(df: DataFrame, dir: String): Unit =
    df.repartition(16, col("context"), col("path"))
      .write.mode("overwrite")
      .partitionBy("context", "path")
      .parquet(dir)

  /** One migration pass: flat store → tiered target, append-only,
    * partitions already present in the target are skipped. Returns the
    * number of rows appended (0 on a re-run — idempotent). */
  def migrate(spark: SparkSession, flatDir: String, targetDir: String): Long = {
    // Leaf-dir glob, so partition inference never runs: identity must
    // be recovered from the file path, exactly the reference's scanner
    // contract (migration-service.ts scan phase).
    val flat = spark.read.parquet(s"$flatDir/context=*/path=*")
    HiveStore.appendMissing(spark, HiveStore.layout(flat,
      regexp_extract(col("_metadata.file_path"), "context=([^/]+)", 1),
      regexp_extract(col("_metadata.file_path"), "path=([^/]+)", 1)), targetDir)
  }

  // --------------------------------------------------------------- #52
  /** Round-trip: flat store → migrate → migrate again (must append
    * nothing) → per-(path, year, day) counts. A non-idempotent second
    * pass would double every count and fail the hash compare. */
  def skFlatMigration(spark: SparkSession, dir: String): DataFrame = {
    val (flat, target) = (Fs.scratch("hive_store_"), Fs.scratch("hive_store_"))
    val slice = Tables.events(spark, dir)
      .where(col("event_type") === "signup" && col("user_id") < 6)
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("value"),
        concat(lit("vessels__urn-"), col("user_id")).as("context"),
        col("event_type").as("path"))
    writeFlat(slice, flat)
    migrate(spark, flat, target)
    migrate(spark, flat, target)
    HiveStore.read(spark, target)
      .groupBy("path", "year", "day")
      .agg(count(lit(1)).as("n_records"))
      .withColumn("year", col("year").cast("int"))
      .orderBy("path", "year", "day")
  }

  val flatMigrationOracle: String =
    """SELECT event_type AS path,
      |  CAST(year(ts) AS INT) AS year,
      |  lpad(CAST(dayofyear(ts) AS VARCHAR), 3, '0') AS day,
      |  COUNT(*) AS n_records
      |FROM events WHERE event_type = 'signup' AND user_id < 6
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_flat_migration" -> (skFlatMigration _))

  val oracles: Map[String, String] = Map(
    "sk_flat_migration" -> flatMigrationOracle)
}

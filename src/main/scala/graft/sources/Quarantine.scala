package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-side quarantine flow — parquet-writer.ts:131-300: after every
  * parquet write the reference VALIDATES the file (exists, > 100
  * bytes, openable, first record readable) and moves failures into a
  * `quarantine/` sibling directory with a `quarantine.log` entry;
  * readers then exclude `quarantine/` ([[BufferUnion]] — the read
  * side of this contract, shipped earlier in round 13).
  *
  * Spark-first: the ingest write is one partitioned job (one file per
  * user partition — the writer fanout rule), and validation is a
  * DRIVER sweep over the written files — file-count-bounded metadata
  * choreography, the same class as [[HiveStore.retentionSweep]] and
  * compaction publish, NOT a data-plane operation (each check reads
  * one footer + one record). Corrupt files move wholesale into
  * `quarantine/` (preserving their partition subpath) and append a
  * log line; the surviving store is then read with the standard
  * quarantine exclusion.
  *
  * The gated round-trip corrupts ONE staged file deliberately
  * (truncated below the reference's 100-byte floor — the
  * crash-mid-write shape) before validating, so the sweep must
  * actually catch and quarantine it: the per-user read-back equals
  * the base slice MINUS the corrupted partition, plus a sentinel row
  * carrying the quarantined-file count — any validation or exclusion
  * mistake shifts the oracle. */
object Quarantine {

  /** Validate the parquet files a reader of `root` scans, as listed by
    * [[BufferUnion.eligibleFiles]]: files under any `processed/`,
    * `quarantine/`, `failed/` or `repaired/` dir are skipped, because
    * no read sees them. Each listed file is checked here (size ≥ 100
    * bytes and first record readable); failures move to
    * `root/quarantine/<same subpath>` and are logged. Returns the
    * quarantined file count.
    *
    * Runs over the Hadoop FileSystem RESOLVED FROM THE PATH (not
    * hardcoded local), so the sweep works unchanged against HDFS/S3
    * stores. The log is rewritten once per sweep (read-old + append
    * lines + create-overwrite) because FS-level append is not
    * portable to object stores. */
  private[graft] def validateAndQuarantine(spark: SparkSession, root: String): Int = {
    import org.apache.hadoop.fs.Path
    val rootP = new Path(root)
    val fs = graft.util.Fs.of(spark, root)
    val rootUri = fs.makeQualified(rootP).toUri
    val logLines = scala.collection.mutable.ArrayBuffer[String]()
    var moved = 0
    for (f <- BufferUnion.eligibleFiles(spark, root).map(new Path(_))) {
      val len = fs.getFileStatus(f).getLen
      val valid = len >= 100 && (try {
        // "first record readable" — one footer + one record, per file
        spark.read.parquet(f.toString).limit(1).count() == 1
      } catch { case _: Throwable => false })
      if (!valid) {
        val rel = rootUri.relativize(fs.makeQualified(f).toUri).getPath
        val dst = new Path(new Path(rootP, "quarantine"), rel)
        fs.mkdirs(dst.getParent)
        fs.rename(f, dst)
        logLines += s"""{"filepath":"${dst.toString}","fileSize":${fs.getFileStatus(dst).getLen},"operation":"ingest-validate","reason":"failed validation"}"""
        moved += 1
      }
    }
    if (logLines.nonEmpty) {
      val log = new Path(rootP, "quarantine/quarantine.log")
      val prior = if (fs.exists(log)) {
        val in = fs.open(log)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } else ""
      val out = fs.create(log, true)
      try out.write((prior + logLines.mkString("", "\n", "\n"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    moved
  }

  // --------------------------------------------------------------- #71
  def skQuarantineIngest(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.util.Fs.scratch("quarantine")
    Tables.events(spark, dir)
      .where(col("event_type") === "signup" && col("user_id") < 8)
      .select("event_id", "ts_ms", "user_id", "value")
      .repartition(8, col("user_id"))
      .write.mode("overwrite").partitionBy("user_id").parquet(store)
    // deliberate corruption: truncate user_id=0's file below the
    // 100-byte validation floor (the crash-mid-write shape)
    val victimDir = new java.io.File(store, "user_id=0")
    val victim = victimDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val ch = java.nio.file.Files.newByteChannel(victim.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    ch.truncate(60); ch.close()
    val nQuarantined = validateAndQuarantine(spark, store)
    require(nQuarantined >= 1, "the corrupted file must be caught")
    // standard read-around: quarantine/ excluded at listing time;
    // basePath restores the user_id partition column from the dir
    // names when reading an explicit file list
    val survivors = spark.read.option("basePath", store)
      .parquet(BufferUnion.eligibleFiles(spark, store): _*)
    survivors
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(count(lit(1)).as("n_records"))
      .unionByName(spark.range(1).select(lit(-1L).as("user_id"),
        lit(nQuarantined.toLong).as("n_records")))
      .orderBy("user_id")
  }

  /** Oracle: the base slice minus the corrupted user-0 partition,
    * plus the sentinel quarantine-count row. */
  val quarantineOracle: String =
    """SELECT CAST(user_id AS BIGINT) AS user_id, COUNT(*) AS n_records
      |FROM events
      |WHERE event_type = 'signup' AND user_id < 8 AND user_id <> 0
      |GROUP BY 1
      |UNION ALL
      |SELECT -1, 1
      |ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_quarantine_ingest" -> (skQuarantineIngest _))

  val oracles: Map[String, String] = Map(
    "sk_quarantine_ingest" -> quarantineOracle)
}

package graft.sources

import graft.Tables
import graft.funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-format export — the reference's ParquetWriter supports
  * parquet | csv | json output (parquet-writer.ts:47-58, formatRecord*).
  * Spark-native: the same DataFrame goes through the csv/json writers;
  * fidelity is proven by reading both exports back and summarizing —
  * any lossy value/quoting round-trip (doubles re-parsed from text,
  * embedded commas and quotes in the JSON `props` string) breaks the
  * hash compare against the oracle computed on the ORIGINAL rows.
  *
  * Scale: format writers are per-partition streams — no shuffle, no
  * driver involvement; the explicit repartition bounds file count the
  * same way the hive writer does.
  */
object Export {

  private val sliceSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("ts_ms", LongType), StructField("value", DoubleType),
    StructField("props", StringType)))

  private def slice(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .where(col("event_type") === "signup")
      .select("event_id", "user_id", "ts_ms", "value", "props")

  /** Export a frame as CSV (header) and JSON side by side — the two
    * non-parquet formats of parquet-writer.ts. */
  def exportFormats(df: DataFrame, outDir: String): Unit = {
    val bounded = df.repartition(4)
    bounded.write.mode("overwrite").option("header", "true").csv(s"$outDir/csv")
    bounded.write.mode("overwrite").json(s"$outDir/json")
  }

  // --------------------------------------------------------------- #53
  /** Round-trip: write csv + json, read each back with the explicit
    * schema, and summarize per format. Counts, the exact-decimal value
    * sum and the total quoted-string length must all match the
    * original rows for BOTH formats. */
  def skExportFormats(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Fs.scratch("export")
    exportFormats(slice(spark, dir), out)
    val csvBack = spark.read.schema(sliceSchema).option("header", "true").csv(s"$out/csv")
    val jsonBack = spark.read.schema(sliceSchema).json(s"$out/json")
    def summary(df: DataFrame, fmt: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_records"),
        dsum(col("value")).as("value_sum"),
        sum(length(col("props"))).as("props_chars"))
        .select(lit(fmt).as("format"), col("n_records"), col("value_sum"), col("props_chars"))
    summary(csvBack, "csv").unionAll(summary(jsonBack, "json")).orderBy("format")
  }

  val exportFormatsOracle: String =
    """WITH s AS (SELECT * FROM events WHERE event_type = 'signup')
      |SELECT 'csv' AS format, COUNT(*) AS n_records,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
      |  CAST(SUM(LENGTH(props)) AS BIGINT) AS props_chars
      |FROM s
      |UNION ALL
      |SELECT 'json', COUNT(*),
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE),
      |  CAST(SUM(LENGTH(props)) AS BIGINT)
      |FROM s
      |ORDER BY format""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_export_formats" -> (skExportFormats _))

  val oracles: Map[String, String] = Map(
    "sk_export_formats" -> exportFormatsOracle)
}

package graft.operators

import graft.Tables
import graft.funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema validation / smart-type detection — the reference's
  * schema-service.ts and type-detector.ts: classify string-encoded
  * values (numeric-as-string, boolean-as-string), report violations,
  * and repair by casting to the proper type.
  */
object SchemaOps {

  // --------------------------------------------------------------- #25
  /** Validation + repair over a mixed string column (synthesized from
    * documents so both engines see identical strings): classify each
    * value as numeric / boolean / string via try-cast probes, then
    * "repair" numerics by casting and aggregate them. */
  def schemaRepair(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("str_val", expr(
        "CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS STRING) WHEN doc_id % 3 = 1 THEN 'true' ELSE lang END"))
      .withColumn("detected_type", expr(
        """CASE WHEN try_cast(str_val AS DOUBLE) IS NOT NULL THEN 'numeric'
          |     WHEN lower(str_val) IN ('true','false') THEN 'boolean'
          |     ELSE 'string' END""".stripMargin))
      .groupBy("detected_type")
      .agg(count(lit(1)).as("n_values"),
        davg(expr("try_cast(str_val AS DOUBLE)")).as("avg_repaired"))
      .orderBy("detected_type")

  val schemaRepairOracle: String =
    """WITH v AS (
      |  SELECT CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS VARCHAR)
      |              WHEN doc_id % 3 = 1 THEN 'true' ELSE lang END AS str_val
      |  FROM documents
      |), c AS (
      |  SELECT str_val,
      |    CASE WHEN try_cast(str_val AS DOUBLE) IS NOT NULL THEN 'numeric'
      |         WHEN lower(str_val) IN ('true','false') THEN 'boolean'
      |         ELSE 'string' END AS detected_type
      |  FROM v
      |)
      |SELECT detected_type, COUNT(*) AS n_values,
      |  CAST(SUM(CAST(try_cast(str_val AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
      |    / COUNT(try_cast(str_val AS DOUBLE)) AS avg_repaired
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- #26
  /** Smart type detection over the value column: integral vs
    * fractional split per series plus range — the writer's
    * DOUBLE-vs-INT64 decision (type-detector.ts). */
  def valueTyping(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(when(col("value") === floor(col("value")), 1)).as("n_integral"),
        count(when(col("value") =!= floor(col("value")), 1)).as("n_fractional"),
        count(when(col("value").isNull, 1)).as("n_null"),
        min("value").as("min_value"),
        max("value").as("max_value"))
      .orderBy("event_type")

  val valueTypingOracle: String =
    """SELECT event_type,
      |  COUNT(CASE WHEN value = FLOOR(value) THEN 1 END) AS n_integral,
      |  COUNT(CASE WHEN value <> FLOOR(value) THEN 1 END) AS n_fractional,
      |  COUNT(CASE WHEN value IS NULL THEN 1 END) AS n_null,
      |  MIN(value) AS min_value, MAX(value) AS max_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- #25b
  /** Schema evolution across file generations — schema-service.ts's
    * drift problem as it appears on disk: a store whose older files
    * carry `value` as VARCHAR (the reference's legacy typing before
    * type detection) and no `quality` column, next to newer files with
    * a proper DOUBLE and the added column.
    *
    * Two drift classes, two Spark-native answers:
    *   - ADDITIVE drift (new column) is free: `mergeSchema` unions the
    *     footers and old files read the new column as null;
    *   - TYPE drift (VARCHAR→DOUBLE on the same name) makes a merged
    *     footer read fail by design — the fix is repair-on-read: scan
    *     each generation with its own schema, normalize (try_cast +
    *     null-fill), and unionByName. That is this operator. Both
    *     scans stay pruned/parallel; the normalize is pure codegen'd
    *     projection — repair costs nothing at 100 TB beyond the read
    *     itself.
    *
    * The demo writes both generations from the events slice, repairs,
    * and aggregates per generation; the oracle recomputes from raw. */
  def skSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Fs.scratch("schema_evolution")
    val ev = Tables.events(spark, dir).where(col("user_id") < 10)
    ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("value").cast("string").as("value"))
      .coalesce(2).write.mode("overwrite").parquet(s"$base/gen=1")
    ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("value"),
        (col("event_id") % 5).cast("int").as("quality"))
      .coalesce(2).write.mode("overwrite").parquet(s"$base/gen=2")
    val legacy = spark.read.parquet(s"$base/gen=1")
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        expr("try_cast(value AS DOUBLE)").as("value"),
        lit(null).cast("int").as("quality"),
        lit("legacy").as("generation"))
    val current = spark.read.parquet(s"$base/gen=2")
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("value"),
        col("quality"), lit("current").as("generation"))
    legacy.unionByName(current)
      .groupBy("generation")
      .agg(
        count(lit(1)).as("n_records"),
        r6(davg(col("value"))).as("value_avg"),
        count(col("quality")).as("n_quality"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("generation")
  }

  /** The string round-trip in gen-1 (`CAST(value AS STRING)` then
    * `try_cast(... AS DOUBLE)`) is value-preserving for doubles in
    * both engines (shortest-repr print, exact parse), so the repaired
    * average must equal the raw one. */
  val schemaEvolutionOracle: String =
    """SELECT CASE WHEN event_type = 'click' THEN 'legacy' ELSE 'current' END AS generation,
      |  COUNT(*) AS n_records,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS value_avg,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE user_id < 10 AND event_type IN ('click', 'purchase')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_schema_evolution" -> (skSchemaEvolution _),
    "sk_schema_repair" -> (schemaRepair _),
    "sk_value_typing" -> (valueTyping _))

  val oracles: Map[String, String] = Map(
    "sk_schema_evolution" -> schemaEvolutionOracle,
    "sk_schema_repair" -> schemaRepairOracle,
    "sk_value_typing" -> valueTypingOracle)
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated testdata tables.
  *
  * Every operator in the library takes DataFrames; these helpers only
  * bind the driver's directory convention (`<sfDir>/<table>.parquet`).
  * At production scale the same operators run over arbitrary
  * hive-partitioned stores (see [[graft.sources.HiveStore]]).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")

  /** Epoch-millis projection of the physical `ts` column, whatever
    * precision/type the generator wrote it with. Generators have shipped
    * this column as TIMESTAMP(NANOS) (readable only as raw-nanos BIGINT
    * via the legacy conf), TIMESTAMP(MICROS) naive (Spark: TIMESTAMP_NTZ)
    * and could ship tz-adjusted TIMESTAMP; all three normalize to the
    * same BIGINT epoch-ms `ts_ms`, which is the canonical time column for
    * every time-series operator (hash-stable across engines — DuckDB's
    * `epoch_ms(ts)` agrees for each representation).
    *
    * NTZ note: naive timestamps are interpreted as UTC (the same rule
    * DuckDB's `epoch_ms` applies); sessions must run with
    * `spark.sql.session.timeZone=UTC`, which every entrypoint
    * (Verify/Bench/specs) sets.
    */
  private[graft] def tsMillis(dt: DataType): Column = dt match {
    case LongType         => expr("ts div 1000000") // raw nanos via nanosAsLong
    case TimestampNTZType => expr("unix_millis(cast(ts as timestamp))") // naive, session tz = UTC
    case _: TimestampType => expr("unix_millis(ts)")
    case other => throw new IllegalStateException(s"unexpected events.ts type: $other")
  }

  /** Range predicate `[startMs, endMs)` expressed against the PHYSICAL
    * `ts` column in its native type, so it pushes down to the parquet
    * scan (row-group pruning) instead of wrapping `ts` in arithmetic
    * that blocks pushdown. */
  private[graft] def tsRange(dt: DataType, startMs: Long, endMs: Long): Column = {
    def ntz(ms: Long) = java.time.LocalDateTime.ofEpochSecond(
      ms / 1000, ((ms % 1000) * 1000000L).toInt, java.time.ZoneOffset.UTC)
    dt match {
      case LongType => col("ts") >= lit(startMs * 1000000L) && col("ts") < lit(endMs * 1000000L)
      case TimestampNTZType => col("ts") >= lit(ntz(startMs)) && col("ts") < lit(ntz(endMs))
      case _: TimestampType =>
        col("ts") >= lit(java.time.Instant.ofEpochMilli(startMs)) &&
          col("ts") < lit(java.time.Instant.ofEpochMilli(endMs))
      case other => throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }

  /** Run `body` with the legacy nanos-as-long conf set, restoring the
    * previous value after. The conf is consumed when a parquet relation
    * resolves its schema, so scoping it to the plan-building step keeps
    * demo reads from permanently mutating shared session state; it is a
    * no-op for micros-typed files. */
  private[graft] def withNanosConf[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The events table with `ts_ms` (BIGINT epoch ms) appended. Raw `ts`
    * is kept alongside in its native type: time-range predicates belong
    * on the physical column (see [[tsRange]]) so they reach the parquet
    * scan; `ts_ms` is for bucketing arithmetic. */
  def events(spark: SparkSession, dir: String): DataFrame = withNanosConf(spark) {
    val raw = table(spark, dir, "events")
    raw.withColumn("ts_ms", tsMillis(raw.schema("ts").dataType))
  }

  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}

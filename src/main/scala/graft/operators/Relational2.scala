package graft.operators

import graft.util.Confs.withConfs
import graft.Tables
import graft.funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational breadth: filter-pushdown revenue, semi-join order
  * priorities, multi-dim join — plus a salt-based skew-safe
  * aggregation that provably equals the direct aggregation.
  */
object Relational2 {

  /** TPC-H Q6-flavored: filtered revenue — the predicate set reaches
    * the parquet scan (range + equality pushdown). */
  def q6Revenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1994-01-01") && col("l_shipdate") < lit("1995-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
        count(lit(1)).as("n_rows"))

  val q6Oracle: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  /** TPC-H Q4-flavored: order priority counts for orders with at least
    * one lineitem — LEFT SEMI join, the scalable EXISTS. Window is
    * 1995-H1 (the generated corpus starts 1995-01-01; the TPC-H
    * 1994 window matched zero orders, so the gate row passed vacuously
    * on 0 = 0 rows — round-13 de-vacuation). */
  def q4Priorities(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1995-07-01"))
      .join(Tables.lineitem(spark, dir).select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  val q4Oracle: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q5-flavored: revenue by nation for one region — the full
    * star join with every dim broadcast. */
  def q5Nation(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(dsum(rev, 4).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  val q5Oracle: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Skew-safe aggregation: two-phase salted sum/count per key. Phase
    * 1 aggregates (key, salt) — spreading a hot key over N reducers —
    * phase 2 merges the partials. Result provably equals the direct
    * aggregation (the oracle computes it directly); decimal partials
    * keep the merge exact. */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val salted = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(col("l_orderkey") + col("l_linenumber"), lit(16)))
      .groupBy("l_returnflag", "salt")
      .agg(sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("part_sum"),
        count(lit(1)).as("part_cnt"))
    salted.groupBy("l_returnflag")
      .agg((sum("part_sum").cast("double") / sum("part_cnt")).as("avg_qty"),
        sum("part_sum").cast("double").as("sum_qty"),
        sum("part_cnt").as("n_rows"))
      .orderBy("l_returnflag")
  }

  val saltedAggOracle: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** The conf scope under which [[skewJoinPlan]] runs: broadcast off
    * (a broadcast join would sidestep the skew instead of
    * demonstrating AQE handling it), skew detection thresholds sized
    * to test-scale shuffle bytes (at warehouse scale the 256 MB
    * defaults do this), and forceOptimizeSkewedJoin because the
    * post-join aggregation reuses the join's hash partitioning — the
    * split breaks that reuse, and AQE would otherwise decline to
    * split rather than add the (trivial, 4-group) extra exchange. */
  private[graft] def withSkewConfs[A](spark: SparkSession)(body: => A): A =
    withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
      // the split target is floored by minPartitionSize (default
      // 1 MB) — above the whole test-scale hot partition, which
      // silently disables the split
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "8192",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")(body)

  /** The deliberately-skewed join: 97% of lineitem rows collapse onto
    * skew_key 0 (keys 0-96 fold together; 97-99 stay), joined 1:1
    * against the 4-row per-key order-count dim. One shuffle partition
    * holds ~97% of the probe bytes — the hot-key shape that kills a
    * plain sort-merge join at scale. */
  private[graft] def skewJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    def fold(key: org.apache.spark.sql.Column) =
      when(pmod(key, lit(100)) < 97, lit(0L)).otherwise(pmod(key, lit(100)))
    // the skew split's granularity is one MAP OUTPUT BLOCK per
    // mapper: the test-scale parquet is a single row group, so the
    // scan is one mapper and the hot reducer's bytes land in one
    // unsplittable block — the repartition gives the join exchange
    // the many-mapper input a production scan's row groups provide
    // for free
    val li = Tables.lineitem(spark, dir)
      .select(fold(col("l_orderkey")).as("skew_key"), col("l_quantity"))
      .repartition(8)
    // dim materialized first: OptimizeSkewedJoin pattern-matches
    // SMJ(Sort(shuffle), Sort(shuffle)) EXACTLY — a HashAggregate
    // sitting between the dim's shuffle stage and its sort makes the
    // rule not apply at all, so the per-key dim is computed eagerly
    // (4 rows) and joins as a plain shuffle
    val dim = Tables.orders(spark, dir)
      .select(fold(col("o_orderkey")).as("skew_key"))
      .groupBy("skew_key").agg(count(lit(1)).as("n_orders"))
      .localCheckpoint()
    li.join(dim, "skew_key")
      .groupBy("skew_key")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_qty"),
        max("n_orders").as("n_orders"))
      .orderBy("skew_key")
  }

  /** AQE skew-join demo — the runtime complement of [[saltedAgg]]'s
    * MANUAL salting: no query rewrite at all; AQE detects the
    * oversized shuffle partition at runtime and splits it across
    * tasks (each hot-side chunk joined against a duplicated build
    * slice — exactly what salting does by hand). Materialized via
    * localCheckpoint inside the conf scope so the adaptive plan
    * actually executes under it; PlanAuditSpec pins `skew=true` in
    * the executed join. Oracle: the plain join answer — the split
    * must be invisible in the result. */
  def skewJoinAqe(spark: SparkSession, dir: String): DataFrame =
    withSkewConfs(spark) { skewJoinPlan(spark, dir).localCheckpoint() }

  val skewJoinOracle: String =
    """WITH li AS (
      |  SELECT CASE WHEN l_orderkey % 100 < 97 THEN 0 ELSE l_orderkey % 100 END AS skew_key,
      |    l_quantity
      |  FROM lineitem
      |), od AS (
      |  SELECT CASE WHEN o_orderkey % 100 < 97 THEN 0 ELSE o_orderkey % 100 END AS skew_key,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1
      |)
      |SELECT li.skew_key, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  MAX(od.n_orders) AS n_orders
      |FROM li JOIN od USING (skew_key)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q10-flavored: top returned-item customers — join + filter
    * + agg + topk in one plan. */
  def q10Returned(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .where(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(dsum(rev, 4).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Oracle: String =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE l_returnflag = 'R'
      |GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q10_returned" -> (q10Returned _),
    "q6_revenue" -> (q6Revenue _),
    "q4_priorities" -> (q4Priorities _),
    "q5_nation" -> (q5Nation _),
    "q_salted_agg" -> (saltedAgg _),
    "q_skew_join" -> (skewJoinAqe _))

  val oracles: Map[String, String] = Map(
    "q10_returned" -> q10Oracle,
    "q6_revenue" -> q6Oracle,
    "q4_priorities" -> q4Oracle,
    "q5_nation" -> q5Oracle,
    "q_salted_agg" -> saltedAggOracle,
    "q_skew_join" -> skewJoinOracle)
}

package graft.operators

import graft.util.Confs.withConfs
import graft.Tables
import graft.funcs._
import graft.sources.Staging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout scale mechanisms: bucketed co-located joins and
  * dynamic partition pruning — the two remaining Spark storage-side
  * levers from SURVEY §5 not yet demonstrated as oracle-checked
  * queries (q_salted_agg covers manual skew salting, q_skew_join the
  * AQE runtime split, sk_hive_write/sk_federated_read static
  * partition pruning).
  *
  * Both operators stage the driver parquet into the storage layout a
  * 100 TB warehouse would maintain at ingest (bucketed table /
  * month-partitioned store), then run the query whose plan benefits;
  * the oracle is the plain-layout answer, so the layout must be
  * result-invisible.
  */
object Relational5 {

  // ------------------------------------------------------- bucketing
  /** Bucketed co-located join: orders and lineitem both written
    * `bucketBy(8, orderkey)` (+ sorted within buckets), then joined on
    * the bucket key. Spark's bucketed scan exposes the on-disk hash
    * partitioning to the planner, so the sort-merge join runs with NO
    * shuffle on either side — bucket i of one table joins bucket i of
    * the other directly (plan-pinned in PlanAuditSpec: zero exchanges
    * below the join).
    *
    * The 100 TB shape: the fact table pays its orderkey shuffle ONCE
    * at ingest (bucketed write), and every subsequent orderkey
    * join/aggregation skips it — on a 1000-executor cluster the join
    * stage reads co-located bucket pairs with no network phase at
    * all. The bucket count would be sized to cluster parallelism
    * (thousands), not the demo's 8.
    *
    * Broadcast is disabled in-scope: at real scale BOTH sides are
    * fact-sized (no broadcast escape hatch) — that is exactly when
    * bucketing pays.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (tOrders, tLine) = stageBucketedTables(spark, dir)
    withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.table(tOrders)
        .join(spark.table(tLine), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_quantity"), 6).as("sum_qty"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
        .orderBy("o_orderpriority")
        .localCheckpoint()
    }
  }

  /** Stage the two bucketed tables once per (fingerprint, sf dir),
    * idempotently across JVMs — the bucketed analog of
    * [[stageMonthStore]]. `mode("overwrite").saveAsTable` alone is NOT
    * idempotent: on a fresh session whose in-memory catalog does not
    * know the table but whose `spark-warehouse/` still holds its
    * directory from a previous JVM, Spark treats the write as CREATE
    * and throws `LOCATION_ALREADY_EXISTS` (this killed q_bucketed_join
    * in every re-run environment at round 8). So: reuse when the
    * catalog has the table AND its `_GRAFT_FP` sidecar matches the
    * source fingerprint; otherwise DROP TABLE IF EXISTS, delete any
    * stale warehouse location, and rewrite. The fingerprint (source
    * parquet name/size/mtime) also re-stages when the testdata is
    * regenerated. Within one JVM the second call is free — the ingest
    * shuffle is paid once, which is the entire point of bucketing. */
  private[graft] def stageBucketedTables(spark: SparkSession, dir: String): (String, String) = {
    val sfTag = dir.replaceAll("[^0-9a-zA-Z]", "_")
    val tOrders = s"graft_bkt_orders_$sfTag"
    val tLine = s"graft_bkt_lineitem_$sfTag"
    val warehouse = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    // the fingerprint must cover the staged LAYOUT, not just the source
    // data: under a persistent metastore a code change to the bucketing
    // spec (count/keys/columns) would otherwise silently reuse the
    // stale staged table — bump the layout token with the spec
    def stage(table: String, src: String, layout: String, write: => Unit): Unit = {
      val fp = layout + "|" + Staging.sourceFingerprint(dir, src)
      val loc = new java.io.File(warehouse, table.toLowerCase)
      // leading-underscore files are invisible to Spark's file listing,
      // so the sidecar can live inside the table location (and is
      // dropped/overwritten together with it)
      val fpFile = new java.io.File(loc, "_GRAFT_FP")
      val fresh = spark.catalog.tableExists(table) && fpFile.exists() &&
        new String(java.nio.file.Files.readAllBytes(fpFile.toPath)) == fp
      if (!fresh) {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        Staging.deleteRecursively(loc) // stale location from a previous JVM
        write
        java.nio.file.Files.write(fpFile.toPath, fp.getBytes)
      }
    }
    // pre-shuffle onto the bucket key so each bucket is one file per
    // table (same writer-fanout hygiene as HiveStore.write)
    stage(tOrders, "orders", "v1:8:o_orderkey:o_orderpriority", {
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(tOrders)
    })
    stage(tLine, "lineitem", "v1:8:l_orderkey:l_quantity,l_extendedprice,l_discount", {
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(tLine)
    })
    (tOrders, tLine)
  }

  /** The un-aggregated bucketed join, for the plan audit: both scans
    * must feed the sort-merge join without an exchange. */
  private[graft] def bucketedJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    val (tOrders, tLine) = stageBucketedTables(spark, dir)
    spark.table(tOrders)
      .join(spark.table(tLine), col("o_orderkey") === col("l_orderkey"))
  }

  val bucketedJoinOracle: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------- dynamic partition pruning
  /** Dynamic partition pruning: lineitem staged month-partitioned
    * (the layout a time-series warehouse maintains anyway — cf. the
    * hive store's year/day dirs), then joined to a dim whose filter
    * only resolves at runtime (months containing an urgent
    * high-value order). Catalyst inserts a dynamic pruning subquery
    * on the fact scan: the dim's broadcast result prunes fact
    * PARTITIONS before any fact bytes are read (plan-pinned:
    * `dynamicpruning` in the scan's partition filters).
    *
    * The 100 TB shape: the static query plan cannot know which
    * months qualify — without DPP the fact side scans every
    * partition (the full 100 TB); with it the scan touches only the
    * joined months. This is the mechanism that makes
    * dim-filtered fact queries cheap on partitioned warehouses, and
    * it composes with the static pruning sk_federated_read
    * demonstrates. */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val store = stageMonthStore(spark, dir)
    val fact = spark.read.parquet(store)
    val dimMonths = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 250000.0)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("l_month"))
      .distinct()
    fact.join(dimMonths, Seq("l_month"))
      .groupBy("l_month")
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .orderBy("l_month")
  }

  /** Stage the month-partitioned lineitem store once per (fingerprint,
    * sf dir) through [[Staging.stagedDir]]; partition values are
    * `yyyy-MM` strings. */
  private[graft] def stageMonthStore(spark: SparkSession, dir: String): String =
    Staging.stagedDir("graft_dpp_store", dir, "v1:month:l_extendedprice,l_discount", "lineitem") { root =>
      Tables.lineitem(spark, dir)
        .select(col("l_extendedprice"), col("l_discount"),
          date_format(col("l_shipdate"), "yyyy-MM").as("l_month"))
        // one writer task per month dir (see HiveStore.write)
        .repartition(col("l_month"))
        .write.partitionBy("l_month")
        .parquet(root)
    }

  val dppOracle: String =
    """WITH m AS (
      |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS l_month
      |  FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000.0
      |)
      |SELECT l_month, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM (SELECT strftime(l_shipdate, '%Y-%m') AS l_month, l_extendedprice, l_discount
      |      FROM lineitem) f
      |JOIN m USING (l_month)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bucketed_join" -> (bucketedJoin _),
    "q_dpp_join" -> (dppJoin _))

  val oracles: Map[String, String] = Map(
    "q_bucketed_join" -> bucketedJoinOracle,
    "q_dpp_join" -> dppOracle)
}

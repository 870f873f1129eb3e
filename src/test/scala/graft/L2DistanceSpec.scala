package graft

import graft.functions.L2Distance
import org.apache.spark.sql.functions._

/** The native codegen L2Distance must agree bit-for-bit with the
  * interpreted HOF fold formulation (which is what the DuckDB oracle
  * computes), and mirror zip_with's null-on-length-mismatch
  * semantics — same contract as [[DotProductSpec]]. */
class L2DistanceSpec extends SparkSpec {
  import spark.implicits._

  private val fold =
    "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  test("native l2sq equals the HOF fold bit-for-bit on random vectors") {
    graft.functions.Native.register(spark)
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(200)((
      Seq.fill(8)(rnd.nextDouble() * 2 - 1),
      Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
    val rows = data.toDF("a", "b")
      .select(expr("graft_l2sq(a, b)").as("native"), expr(fold).as("hof"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToRawLongBits(n) ==
        java.lang.Double.doubleToRawLongBits(h), s"$n != $h")
    }
  }

  test("identical arrays give exactly +0.0; length mismatch gives NULL") {
    graft.functions.Native.register(spark)
    val rows = Seq((Seq(1.5, -2.25), Seq(1.5, -2.25), Seq(1.0)))
      .toDF("a", "b", "c")
      .select(expr("graft_l2sq(a, b)").as("zero"), expr("graft_l2sq(a, c)").as("bad"))
      .collect()
    val z = rows(0).getDouble(0)
    assert(z == 0.0 && java.lang.Double.doubleToRawLongBits(z) == 0L)
    assert(rows(0).isNullAt(1))
  }

  test("NULL element on either side propagates NULL, matching the fold") {
    graft.functions.Native.register(spark)
    // build arrays with a null element via SQL literals (containsNull)
    val rows = spark.sql(
      s"""SELECT graft_l2sq(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS l,
         |       graft_l2sq(array(1.0D, 2.0D), array(CAST(NULL AS DOUBLE), 2.0D)) AS r,
         |       ${fold.replace("a,", "array(1.0D, CAST(NULL AS DOUBLE)),")
                      .replace(" b,", " array(1.0D, 2.0D),")} AS hof
         |FROM (SELECT 1)""".stripMargin).collect()
    assert(rows(0).isNullAt(0), "null element left must give NULL")
    assert(rows(0).isNullAt(1), "null element right must give NULL")
    assert(rows(0).isNullAt(2), "fold reference must also be NULL")
  }

  test("pq ADC recall against exact L2 brute force is nontrivial") {
    graft.functions.Native.register(spark)
    // exact L2 top-5 per probe over full 64-dim vectors
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val probes = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("d2"), col("neighbor_id"))
    val exact = e.toDF("neighbor_id", "v").join(broadcast(probes))
      .where(col("probe_id") =!= col("neighbor_id"))
      .withColumn("d2", expr("graft_l2sq(pv, v)"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = graft.similarity.Embeddings.annPqTopK(spark, sfDir)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.1, s"recall $recall")
    approx.groupBy(_._1).foreach { case (_, rs) => assert(rs.size == 5) }
  }

  test("pq assignment runs the native l2sq inside whole-stage codegen") {
    val df = graft.similarity.Embeddings.embedPq(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_l2sq"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }
}

package graft

import graft.functions.DotProduct
import org.apache.spark.sql.functions._

/** The native codegen DotProduct must agree bit-for-bit with the
  * interpreted HOF fold it replaced (the oracle-checked formulation),
  * and mirror zip_with's null-on-length-mismatch semantics. */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private val fold =
    "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  test("native dot equals the HOF fold bit-for-bit on random vectors") {
    graft.functions.Native.register(spark)
    val rnd = new scala.util.Random(42)
    val data = Seq.fill(200)((
      Seq.fill(64)(rnd.nextDouble() * 2 - 1),
      Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
    val rows = data.toDF("a", "b")
      .select(expr("graft_dot(a, b)").as("native"), expr(fold).as("hof"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToRawLongBits(n) ==
        java.lang.Double.doubleToRawLongBits(h), s"$n != $h")
    }
  }

  test("length mismatch yields NULL, matching zip_with's padding") {
    graft.functions.Native.register(spark)
    val rows = Seq((Seq(1.0, 2.0), Seq(3.0))).toDF("a", "b")
      .select(expr("graft_dot(a, b)").as("native"), expr(fold).as("hof"))
      .collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
  }

  test("NULL element on either side propagates NULL, matching the fold") {
    graft.functions.Native.register(spark)
    val rows = spark.sql(
      """SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS l,
        |       graft_dot(array(1.0D, 2.0D), array(CAST(NULL AS DOUBLE), 2.0D)) AS r,
        |       aggregate(zip_with(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D),
        |         (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS hof
        |FROM (SELECT 1)""".stripMargin).collect()
    assert(rows(0).isNullAt(0), "null element left must give NULL")
    assert(rows(0).isNullAt(1), "null element right must give NULL")
    assert(rows(0).isNullAt(2), "fold reference must also be NULL")
  }

  test("native dot participates in whole-stage codegen") {
    graft.functions.Native.register(spark)
    val df = Tables.embeddings(spark, sfDir)
      .selectExpr("graft_dot(transform(embedding, x -> CAST(x AS DOUBLE)), " +
        "transform(embedding, x -> CAST(x AS DOUBLE))) AS n2")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") && plan.contains("graft_dot"), plan)
  }
}

package graft

import org.apache.spark.sql.functions.col

/** PlanDump's two modes: the default dumps the initial (analyzed) plan;
  * exec mode runs the query's own QueryExecution first, so the dump is
  * the AQE-final plan. */
class PlanDumpSpec extends SparkSpec {

  test("exec mode dumps the AQE-final plan (isFinalPlan=true); the default mode does not execute") {
    val q = spark.range(0, 100, 1, 4).groupBy((col("id") % 3).as("k")).count()
    assert(q.queryExecution.executedPlan.toString.contains("isFinalPlan=false"))
    val initial = PlanDump.planText(q, exec = false)
    assert(!initial.contains("isFinalPlan=true"), initial)
    val fin = PlanDump.planText(q, exec = true)
    assert(fin.contains("AdaptiveSparkPlan isFinalPlan=true"), fin)
  }
}

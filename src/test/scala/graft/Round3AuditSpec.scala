package graft

import org.apache.spark.sql.DataFrame

/** Plan audits for the round-3 operators: the properties that matter
  * at 100 TB, pinned against regression. */
class Round3AuditSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("trips: the trip aggregation reuses the window's per-vessel clustering") {
    val p = plan(graft.spatial.Spatial.trips(spark, sfDir))
    // one hash exchange (user_id) feeds window AND groupBy; only the
    // presentation sort adds a range exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n${p.take(3000)}")
  }

  test("percentiles: one shuffle, partial aggregation on the scan side") {
    val p = plan(graft.operators.Analytics.percentilesExact(spark, sfDir))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx")
    assert(p.contains("partial_"), p.take(2000))
  }

  test("histogram: bounds broadcast back onto the scan, no sort-merge join") {
    val p = plan(graft.operators.Intervals.skHistogram(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("perplexity: the unigram LM joins broadcast, token stream never sort-merges") {
    val p = plan(graft.text.Pipeline2.perplexityBucketsExact(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("lttb: fully relational — no per-series arrays, anchors broadcast, argmax partial-aggregated") {
    val df = graft.operators.Downsample.lttb(spark, sfDir)
    val p = plan(df)
    // fixed-anchor rewrite: samples never leave their bucket's
    // aggregation — no collect_list (the r4 shape buffered whole
    // series in one row), no interpreted fold
    assert(!p.contains("collect_list"), p.take(3000))
    assert(p.contains("max_by") || p.contains("partial_max_by"), p.take(3000))
    // the tiny anchor table attaches by broadcast, not a shuffle of
    // the raw samples
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // output is chart-width sized however large the input
    assert(df.count() == 5 * 52)
  }

  test("command automation: transitions computed in one per-vessel window pass") {
    val p = plan(graft.spatial.Spatial.commandAutomation(spark, sfDir))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx")
  }

  test("q20: part filter and dimensions broadcast; lineitem shuffles only on agg keys") {
    val p = plan(graft.operators.Relational4.q20Excess(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }
}

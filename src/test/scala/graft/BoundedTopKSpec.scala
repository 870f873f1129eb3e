package graft

import graft.similarity.{AnnCompact, Embeddings}
import org.apache.spark.sql.functions._

/** Native bounded top-k aggregate (functions/BoundedTopK.scala). */
class BoundedTopKSpec extends SparkSpec {

  test("graft_topk equals the window-rank formulation exactly") {
    val agg = AnnCompact.topKAgg(spark, sfDir)
      .select("probe_id", "neighbor_id", "cos", "rank")
    val win = Embeddings.annTopK(spark, sfDir)
      .select("probe_id", "neighbor_id", "cos", "rank")
    assert(agg.exceptAll(win).count() === 0)
    assert(win.exceptAll(agg).count() === 0)
  }

  test("partition-invariant: heap merge gives the same answer at any parallelism") {
    graft.functions.Native.register(spark)
    import spark.implicits._
    val rows = (1L to 997L).map(i => (i % 7, (i * 37 % 101).toDouble, i))
    for (parts <- Seq(1, 13)) {
      val df = rows.toDF("g", "score", "id").repartition(parts)
        .groupBy("g").agg(expr("graft_topk(score, id, 5)").as("top"))
        .select(col("g"), posexplode(col("top")))
        .select("g", "pos", "col.score", "col.id")
      // tie-heavy input (score = i*37 % 101 collides): the id tiebreak
      // must make every parallelism agree
      val got = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
      val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.map(t => (t._2, t._3)).sortBy(t => (-t._1, t._2)).take(5)
          .zipWithIndex.map { case ((s, i), pos) => (g, pos, s, i) }
      }.toSet
      assert(got === expected, s"parts=$parts")
    }
  }

  test("plan: map-side partial_graft_topk before the exchange (no window sort of the corpus)") {
    val p = AnnCompact.topKAgg(spark, sfDir).queryExecution.executedPlan.toString
    assert(p.contains("partial_graft_topk"), p.take(3000))
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "), p.take(3000))
  }

  test("k bounds the buffer: groups smaller than k emit all their rows, best-first") {
    graft.functions.Native.register(spark)
    import spark.implicits._
    val df = Seq((1L, 2.0, 10L), (1L, 3.0, 11L)).toDF("g", "score", "id")
      .groupBy("g").agg(expr("graft_topk(score, id, 5)").as("top"))
    val arr = df.collect().head.getSeq[org.apache.spark.sql.Row](1)
    assert(arr.map(r => (r.getDouble(0), r.getLong(1))) === Seq((3.0, 11L), (2.0, 10L)))
  }
}

package graft

import graft.operators.Markov
import graft.similarity.{Graph2, KnnGraph}
import org.apache.spark.sql.functions._

/** PageRank + k-center (similarity/Graph2.scala) and the Markov
  * transition matrix (operators/Markov.scala). */
class Graph2MarkovSpec extends SparkSpec {

  test("pageRank conserves unit mass and covers exactly the mutual node set") {
    val pr = Graph2.pageRank(spark, sfDir).cache()
    val mass = pr.agg(sum("pagerank")).collect().head.getDouble(0)
    // no dangling nodes -> total mass stays 1 up to the 12-dp
    // per-iteration rounding (N nodes x 8 iters x 5e-13)
    assert(math.abs(mass - 1.0) < 1e-6, s"mass drifted: $mass")
    val g = KnnGraph.knnGraph(spark, sfDir).select("id_a", "id_b").cache()
    val nodes = g.select(col("id_a").as("id"))
      .unionByName(g.select(col("id_b").as("id"))).distinct()
    assert(pr.count() === nodes.count())
    assert(pr.join(nodes, "id", "left_anti").count() === 0)
    // deg column matches the undirected incidence count
    val deg = g.select(col("id_a").as("id"))
      .unionByName(g.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    assert(pr.join(deg, "id").where(col("deg") =!= col("d")).count() === 0)
    assert(pr.where(col("pagerank") <= 0).count() === 0)
  }

  test("pageRank iteration reuses the edge partitioning: only the node-scale rank table shuffles per step") {
    // guide §2.4 (share one exchange): prepareEdges hash-partitions +
    // sorts the edge table on src ONCE before its checkpoint; each of
    // the 8 iterations must then shuffle only the rank table — an
    // src-side Exchange in the iteration plan means the edge-scale
    // side is re-shuffling every step (8 × edge bytes at graph scale).
    import spark.implicits._
    val edges0 = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val deg = edges0.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    val edgesDeg = Graph2.prepareEdges(edges0.join(deg, "src"))
    val n = deg.agg(count(lit(1)).cast("double").as("n"))
    val ranks = deg.select(col("src").as("id"), lit(0.5).as("rank")).localCheckpoint()
    val step = Graph2.prIteration(edgesDeg, ranks, n)
    val plan = step.queryExecution.executedPlan.toString
    val srcExchanges = "Exchange hashpartitioning\\(src".r.findAllIn(plan).size
    assert(srcExchanges == 0,
      s"the edge table re-shuffles inside the iteration ($srcExchanges src exchanges):\n" +
        plan.take(2500))
    // the rank-table exchange and the dst aggregation exchange remain —
    // the two node-scale shuffles the algorithm genuinely needs
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan.take(2500))
  }

  test("kCenter picks the true farthest point each round, radii non-increasing") {
    val out = Graph2.kCenter(spark, sfDir).collect()
    assert(out.length === 5)
    assert(out.head.isNullAt(out.head.fieldIndex("min_dist2")))
    val radii = out.tail.map(_.getAs[Double]("min_dist2"))
    // Gonzalez invariant: each round's covering radius can only shrink
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"radii not non-increasing: ${radii.mkString(",")}")
    // round 2 = brute-force farthest point from the seed
    val first = out.head.getAs[Long]("vec_id")
    graft.functions.Native.register(spark)
    val pool = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") % 3 === 1)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("n2", expr("graft_dot(v, v)"))
    val seed = pool.where(col("vec_id") === first)
      .select(col("v").as("sv"), col("n2").as("sn2"))
    val brute = pool.where(col("vec_id") =!= first)
      .crossJoin(broadcast(seed))
      .withColumn("d2", funcs.r6(col("n2") + col("sn2") - lit(2.0) * expr("graft_dot(v, sv)")))
      .orderBy(col("d2").desc, col("vec_id")).limit(1).collect().head
    assert(out(1).getAs[Long]("vec_id") === brute.getAs[Long]("vec_id"))
    assert(out(1).getAs[Double]("min_dist2") === brute.getAs[Double]("d2"))
  }

  test("transitionMatrix probabilities normalize per from-state, counts tile the corpus") {
    val tm = Markov.transitionMatrix(spark, sfDir).cache()
    // per-from probabilities sum to 1 (exact integer counts, one divide)
    val sums = tm.groupBy("from_type").agg(sum("p").as("s"))
      .where(abs(col("s") - 1.0) > 1e-5)
    assert(sums.count() === 0)
    // total transitions = total events - one per user with >=1 event
    val ev = Tables.events(spark, sfDir)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    val got = tm.agg(sum("n")).collect().head.getLong(0)
    assert(got === expected)
    assert(tm.where(col("p") < 0 || col("p") > 1).count() === 0)
  }
}

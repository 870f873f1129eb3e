package graft

import graft.dedup.KmvOverlap
import org.apache.spark.sql.functions._

/** KMV bottom-k corpus-overlap estimation (dedup/KmvOverlap.scala)
  * and the graft_kmv sketch aggregate (functions/KmvSketch.scala). */
class KmvOverlapSpec extends SparkSpec {

  private lazy val out = KmvOverlap.kmvOverlap(spark, sfDir).cache()

  test("one pair row per unordered source pair, estimates within [0,1]") {
    val s = Tables.documents(spark, sfDir).select("source").distinct().count()
    assert(out.count() === s * (s - 1) / 2)
    assert(out.where(col("jaccard_est") < 0 || col("jaccard_est") > 1).count() === 0)
    assert(out.where(col("n_common") > col("k_used")).count() === 0)
    assert(out.where(col("k_used") < 1).count() === 0)
  }

  test("graft_kmv keeps the k smallest distinct hashes, partition-invariantly") {
    graft.functions.Native.register(spark)
    val df = Tables.documents(spark, sfDir)
      .select(col("source"), (col("doc_id") % 37).as("h"))
    def sketch(parts: Int) = df.repartition(parts)
      .groupBy("source").agg(expr("graft_kmv(h, 10)").as("sk"))
      .orderBy("source").collect().map(_.getSeq[Long](1).toSeq).toSeq
    val one = sketch(1)
    assert(one === sketch(32))
    // definitional: 10 smallest distinct values, ascending
    val exp = df.select("source", "h").distinct()
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("h")))
      .where(col("r") <= 10)
      .groupBy("source").agg(sort_array(collect_list("h")).as("sk"))
      .orderBy("source").collect().map(_.getSeq[Long](1).toSeq).toSeq
    assert(one === exp)
  }

  test("kmv distinct estimate tracks the exact distinct shingle count per source") {
    graft.functions.Native.register(spark)
    val est = KmvOverlap.kmvDistinct(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("sketch_size"), r.getAs[Double]("distinct_est"))).toMap
    val exact = Tables.documents(spark, sfDir)
      .select(col("source"), explode(expr("graft_ngrams(split(text, ' '), 5)")).as("g"))
      .select(col("source"), expr("graft_polyhash(g, 31)").as("h")).distinct()
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (s, (nGrams, skSize, dv)) =>
      val ex = exact(s)
      assert(nGrams >= ex)                        // instances >= distinct
      if (skSize < 256) assert(dv === ex.toDouble) // unfull sketch IS exact
      else assert(math.abs(dv - ex) <= 0.35 * ex,  // se ~ 1/sqrt(255) ~ 6%; 5 se
        s"$s: est $dv vs exact $ex")
    }
  }

  test("the estimate tracks the exact shingle jaccard on the seeded mirror overlap") {
    // exact distinct-5-gram jaccard per pair (quadratic — spec scale only)
    graft.functions.Native.register(spark)
    val sh = Tables.documents(spark, sfDir)
      .select(col("source"), explode(expr("graft_ngrams(split(text, ' '), 5)")).as("g"))
      .select(col("source"), expr("graft_polyhash(g, 31)").as("h")).distinct().cache()
    val a = sh.select(col("source").as("src_a"), col("h"))
    val b = sh.select(col("source").as("src_b"), col("h"))
    val inter = a.join(b, Seq("h")).where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("ni"))
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val exact = out.select("src_a", "src_b", "jaccard_est")
      .join(inter, Seq("src_a", "src_b"), "left").na.fill(0L, Seq("ni"))
      .join(sizes.select(col("source").as("src_a"), col("n").as("na")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
      .withColumn("jac", col("ni") / (col("na") + col("nb") - col("ni")))
      .collect()
    assert(exact.nonEmpty)
    exact.foreach { r =>
      val est = r.getAs[Double]("jaccard_est")
      val jac = r.getAs[Double]("jac")
      // k = 256 ⇒ se ≈ 6%; allow 5 se plus a small-count floor
      assert(math.abs(est - jac) <= 0.3 + 5 * 0.0625,
        s"${r.getAs[String]("src_a")}-${r.getAs[String]("src_b")}: est $est vs exact $jac")
    }
    // non-vacuous: the seeded re-crawl mirrors give at least one
    // genuinely overlapping pair
    assert(exact.exists(_.getAs[Double]("jac") > 0.0))
  }
}

package graft

import graft.operators.RollingCorr
import graft.similarity.Triplets
import org.apache.spark.sql.functions._

/** Triplet mining (similarity/Triplets.scala) and rolling correlation
  * (operators/RollingCorr.scala). */
class TripletsRollingCorrSpec extends SparkSpec {

  test("triplets pair each anchor with same-label positive, other-label hard negative") {
    val out = Triplets.triplets(spark, sfDir).cache()
    assert(out.count() > 0)
    val labels = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val lab = (side: String) => labels
      .select(col("vec_id").as(s"${side}_key"), col("label").as(s"${side}_lab"))
    val checked = out
      .join(lab("anchor"), out("anchor_id") === col("anchor_key"))
      .join(lab("pos"), out("pos_id") === col("pos_key"))
      .join(lab("neg"), out("neg_id") === col("neg_key"))
    assert(checked.where(col("anchor_lab") =!= col("pos_lab")).count() === 0)
    assert(checked.where(col("anchor_lab") === col("neg_lab")).count() === 0)
    // margin column is the rounded difference of the two cosines
    assert(out.where(abs(col("margin") -
      funcs.r6(col("pos_cos") - col("neg_cos"))) > 1e-12).count() === 0)
    // no anchor pairs with itself
    assert(out.where(col("pos_id") === col("anchor_id") ||
      col("neg_id") === col("anchor_id")).count() === 0)
  }

  test("triplets' positive is the brute-force hardest same-label neighbor for one anchor") {
    graft.functions.Native.register(spark)
    val out = Triplets.triplets(spark, sfDir).orderBy("anchor_id").limit(1).head()
    val anchorId = out.getAs[Long]("anchor_id")
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("n2", expr("graft_dot(v, v)"))
    val a = e.where(col("vec_id") === anchorId)
      .select(col("label").as("al"), col("v").as("va"), col("n2").as("na"))
    val brute = e.crossJoin(broadcast(a))
      .where(col("vec_id") =!= anchorId && col("label") === col("al"))
      .withColumn("cos", funcs.r6(expr("graft_dot(v, va)") /
        (sqrt(col("n2")) * sqrt(col("na")))))
      .orderBy(col("cos").desc, col("vec_id")).limit(1).head()
    assert(out.getAs[Long]("pos_id") === brute.getAs[Long]("vec_id"))
    assert(out.getAs[Double]("pos_cos") === brute.getAs[Double]("cos"))
  }

  test("rolling correlation stays in [-1,1] and matches a hand-built window") {
    val out = RollingCorr.rollingCorr(spark, sfDir).cache()
    assert(out.where(col("r_roll") < -1.0 || col("r_roll") > 1.0).count() === 0)
    assert(out.count() > 0)
    // rebuild the last window's Pearson from the aligned bucket frame
    val last = out.orderBy(col("bucket_ms").desc).limit(1).head()
    val b = Tables.events(spark, sfDir)
      .where(col("event_type").isin("view", "click"))
      .groupBy(col("event_type"),
        (floor(col("ts_ms") / lit(3600000L)) * 3600000L).cast("long").as("bucket_ms"))
      .agg(funcs.r6(funcs.davg(col("value"))).as("av"))
    val x = b.where(col("event_type") === "view").select(col("bucket_ms"), col("av").as("x"))
    val y = b.where(col("event_type") === "click").select(col("bucket_ms"), col("av").as("y"))
    val window24 = x.join(y, "bucket_ms")
      .where(col("bucket_ms") <= last.getAs[Long]("bucket_ms"))
      .orderBy(col("bucket_ms").desc).limit(24)
      .collect().map(r => (r.getAs[Double]("x"), r.getAs[Double]("y")))
    assert(window24.length === 24)
    val n = 24.0
    val (sx, sy) = (window24.map(_._1).sum, window24.map(_._2).sum)
    val sxy = window24.map(t => t._1 * t._2).sum
    val sxx = window24.map(t => t._1 * t._1).sum
    val syy = window24.map(t => t._2 * t._2).sum
    val r = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(math.abs(last.getAs[Double]("r_roll") - r) < 1e-5)
  }
}

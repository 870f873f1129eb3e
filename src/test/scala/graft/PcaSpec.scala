package graft

import graft.similarity.{Embeddings, Pca}
import org.apache.spark.sql.functions._

/** Distributed PCA projection (similarity/Pca.scala) and the
  * single-pass graft_gram moment aggregate (functions/GramMatrix.scala). */
class PcaSpec extends SparkSpec {

  private def gram(partitions: Int): Array[Long] = {
    graft.functions.Native.register(spark)
    val vecs = Tables.embeddings(spark, sfDir)
      .repartition(partitions)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    vecs.agg(expr("graft_gram(v)")).head().getSeq[Long](0).toArray
  }

  test("graft_gram is partition-invariant (exact scaled-long sums merge associatively)") {
    val one = gram(1)
    val many = gram(32)
    assert(one.length === 1 + 64 + 64 * 65 / 2)
    assert(one.toSeq === many.toSeq)
  }

  test("graft_gram matches a driver-side recomputation of the quantized moments") {
    def q9(x: Double): Long = {
      val s = x * 1e9; val a = math.abs(s); val t = a.toLong
      val n = if (a - t >= 0.5) t + 1 else t
      if (s < 0) -n else n
    }
    val vs = Tables.embeddings(spark, sfDir)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val d = vs.head.length
    val exp = new Array[Long](1 + d + d * (d + 1) / 2)
    exp(0) = d.toLong
    vs.foreach { v =>
      var idx = 1 + d
      var i = 0
      while (i < d) {
        exp(1 + i) += q9(v(i))
        var j = i
        while (j < d) { exp(idx) += q9(v(i) * v(j)); idx += 1; j += 1 }
        i += 1
      }
    }
    assert(gram(8).toSeq === exp.toSeq)
  }

  test("embed_pca projects every vector, deterministically") {
    val out = Pca.embedPca(spark, sfDir).cache()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.count() === n)
    assert(out.where(col("pc1").isNull).count() === 0)
    val again = Pca.embedPca(spark, sfDir).collect().toSeq
    assert(out.collect().toSeq === again)
  }

  test("whitened coordinates have ~unit variance and ~zero cross-correlation") {
    val out = Pca.embedWhiten(spark, sfDir).cache()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.count() === n)
    val r = out.agg(
      var_pop(col("w1")).as("v1"), var_pop(col("w2")).as("v2"),
      corr(col("w1"), col("w2")).as("c")).head()
    // variance along each component equals its eigenvalue, so the
    // sqrt(lambda) division normalizes to 1 (8 iterations: small
    // residual off-axis leakage allowed)
    assert(math.abs(r.getDouble(0) - 1.0) < 0.05, s"var(w1) ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 1.0) < 0.20, s"var(w2) ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2)) < 0.15, s"corr ${r.getDouble(2)}")
    // w1 is the embed_pca projection rescaled: same ordering
    val pc = Pca.embedPca(spark, sfDir).select("vec_id", "pc1")
    val joined = out.select("vec_id", "w1").join(pc, "vec_id")
      .select(corr(col("w1"), col("pc1"))).head().getDouble(0)
    assert(math.abs(joined) > 0.999, s"w1-pc1 corr $joined")
  }

  test("the dominant component captures more variance than any coordinate axis") {
    // power iteration found a direction whose projected variance beats
    // every single raw coordinate's variance — the defining property of
    // the top principal axis (8 iterations suffice on a gapped spectrum)
    val out = Pca.embedPca(spark, sfDir)
    val pcVar = out.agg(var_pop(col("pc1"))).head().getDouble(0)
    val coordVars = Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(var_pop(col("x").cast("double")).as("v"))
      .agg(max("v")).head().getDouble(0)
    assert(pcVar >= coordVars * 0.999)
  }
}

package graft

import org.apache.spark.sql.functions._

class JaccardSimSpec extends SparkSpec {

  private def tok = array_sort(array_distinct(split(col("text"), " ")))

  test("graft_jaccard equals the array_intersect formula on corpus pairs") {
    graft.functions.Native.register(spark)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), tok.as("toks"))
    val pairs = docs.select(col("lang"), col("doc_id").as("id_a"), col("toks").as("ta"))
      .join(docs.select(col("lang"), col("doc_id").as("id_b"), col("toks").as("tb")), Seq("lang"))
      .where(col("id_a") < col("id_b"))
      .limit(5000)
      .withColumn("native", round(call_function("graft_jaccard", col("ta"), col("tb")), 6))
      .withColumn("builtin", round(
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          (size(col("ta")) + size(col("tb")) - size(array_intersect(col("ta"), col("tb")))), 6))
    assert(pairs.where(col("native") =!= col("builtin")).count() == 0)
    assert(pairs.where(col("native") > 0.1).count() > 0, "some similar pairs exist")
  }

  test("graft_jaccard edge cases: identical, disjoint, empty") {
    graft.functions.Native.register(spark)
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq.empty[String], Seq.empty[String]),
      (Seq.empty[String], Seq("a")))
      .toDF("a", "b")
      .select(call_function("graft_jaccard", col("a"), col("b")).as("j"))
      .collect().map(_.getDouble(0))
    assert(df.toSeq == Seq(1.0, 0.0, 0.0, 0.0))
  }

  test("graft_jaccard agrees between codegen and interpreted eval") {
    graft.functions.Native.register(spark)
    import spark.implicits._
    val base = Seq((Seq("apple", "pear", "plum"), Seq("apple", "plum", "quince")))
      .toDF("a", "b")
    val viaPlan = base
      .select(call_function("graft_jaccard", col("a"), col("b")).as("j"))
      .head().getDouble(0)
    val interpreted = graft.functions.JaccardSim(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("apple", "pear", "plum"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("apple", "plum", "quince"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
      .eval(null).asInstanceOf[Double]
    assert(viaPlan == interpreted && math.abs(viaPlan - 0.5) < 1e-12)
  }
}

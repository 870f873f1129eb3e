package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.sql.catalyst.util.ArrayData

class NGramsSpec extends SparkSpec {

  private def lit(xs: Seq[String]) =
    Literal.create(xs, ArrayType(StringType))

  private def evalGrams(xs: Seq[String], n: Int): Seq[String] = {
    val r = graft.functions.NGrams(lit(xs), n).eval(null).asInstanceOf[ArrayData]
    (0 until r.numElements()).map(r.getUTF8String(_).toString)
  }

  test("interpreted eval: windows, short input, n=1") {
    assert(evalGrams(Seq("a", "b", "c", "d"), 3) == Seq("a b c", "b c d"))
    assert(evalGrams(Seq("a", "b"), 3) == Seq.empty)
    assert(evalGrams(Seq.empty, 3) == Seq.empty)
    assert(evalGrams(Seq("a", "b"), 1) == Seq("a", "b"))
    assert(evalGrams(Seq("x", "y"), 2) == Seq("x y"))
  }

  test("codegen path equals the lambda formulation on the real corpus") {
    val toks = Tables.documents(spark, sfDir)
      .select(split(col("text"), " ").as("t"))
    val native = toks
      .select(explode(graft.functions.NGrams.ngrams(col("t"), 3)).as("g"))
      .groupBy("g").count()
    val lambda = toks.where(size(col("t")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 2), " +
          "i -> concat_ws(' ', t[i-1], t[i], t[i+1]))")).as("g"))
      .groupBy("g").count()
    assert(native.exceptAll(lambda).count() == 0)
    assert(lambda.exceptAll(native).count() == 0)
    assert(native.count() > 0)
  }

  test("gram-length sweep n in {1,2,5,13}: count and content invariants") {
    val toks = Seq("t0", "t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8",
      "t9", "t10", "t11", "t12", "t13", "t14")
    for (n <- Seq(1, 2, 5, 13)) {
      val grams = evalGrams(toks, n)
      assert(grams.length == toks.length - n + 1, s"n=$n count")
      grams.zipWithIndex.foreach { case (g, i) =>
        assert(g == toks.slice(i, i + n).mkString(" "), s"n=$n gram $i")
      }
      // shorter-than-n input yields no (partial) grams
      assert(evalGrams(toks.take(n - 1), n).isEmpty, s"n=$n short input")
    }
  }

  test("gram-length sweep on the real corpus: total gram count matches sum(len-n+1)") {
    val toks = Tables.documents(spark, sfDir)
      .select(split(col("text"), " ").as("t"))
    for (n <- Seq(5, 13)) {
      val expected = toks
        .select(sum(greatest(size(col("t")) - (n - 1), org.apache.spark.sql.functions.lit(0))))
        .head.getLong(0)
      val got = toks
        .select(explode(graft.functions.NGrams.ngrams(col("t"), n)).as("g"))
        .count()
      assert(got == expected, s"n=$n corpus gram count")
      assert(got > 0, s"n=$n corpus non-empty")
    }
  }

  test("SQL registration enforces the literal-n contract") {
    graft.functions.Native.register(spark)
    import spark.implicits._
    val got = Seq(Seq("p", "q", "r")).toDF("t")
      .selectExpr("graft_ngrams(t, 2) AS g").head.getSeq[String](0)
    assert(got == Seq("p q", "q r"))
    // arity errors are explicit, not IndexOutOfBounds
    val e = intercept[Exception] {
      Seq(Seq("p")).toDF("t").selectExpr("graft_ngrams(t) AS g").collect()
    }
    assert(e.getMessage.contains("2 arguments") || e.getMessage.contains("graft_ngrams"))
  }
}

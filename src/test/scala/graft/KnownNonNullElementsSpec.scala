package graft

import graft.functions.{DotProduct, KnownNonNullElements}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** `graft_dense` is a zero-cost schema assertion: it narrows an array
  * type to containsNull=false (so [[graft.functions.DotProduct]]/
  * [[graft.functions.L2Distance]] compile their branch-free loop on
  * parquet-sourced vectors, which file sources force nullable) while
  * leaving values byte-identical. */
class KnownNonNullElementsSpec extends SparkSpec {
  import spark.implicits._

  test("narrows containsNull to false and leaves values bit-identical") {
    graft.functions.Native.register(spark)
    val df = Tables.embeddings(spark, sfDir)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    assert(df.schema("v").dataType == ArrayType(DoubleType, containsNull = true),
      "precondition: parquet-sourced transform arrives nullable")
    val dense = df.selectExpr("graft_dense(v) AS v")
    assert(dense.schema("v").dataType == ArrayType(DoubleType, containsNull = false))
    val raw = df.as[Seq[Double]].collect()
    val asserted = dense.as[Seq[Double]].collect()
    assert(raw.toSeq == asserted.toSeq)
  }

  test("the dot-product hot loop compiles WITHOUT the per-element null branch") {
    graft.functions.Native.register(spark)
    val dense = Tables.embeddings(spark, sfDir)
      .selectExpr("graft_dense(transform(embedding, x -> CAST(x AS DOUBLE))) AS v")
      .selectExpr("graft_dot(v, v) AS n2")
    val nullable = Tables.embeddings(spark, sfDir)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("graft_dot(v, v) AS n2")
    def genCode(df: org.apache.spark.sql.DataFrame): String =
      org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    // the guard is `isNullAt(<loop var>)` INSIDE the element loop
    // (DotProduct names the loop index freshName("i") → `<prefix>_i_N`);
    // row-level isNullAt(rowIdx) checks from ColumnarToRow stay either
    // way, so match the loop-indexed form specifically
    val loopGuard = """isNullAt\([A-Za-z]+_i_\d+\)""".r
    assert(loopGuard.findFirstIn(genCode(nullable)).isDefined,
      "precondition: nullable input emits the per-element guard")
    assert(loopGuard.findFirstIn(genCode(dense)).isEmpty,
      "graft_dense input must compile the branch-free loop")
    // and the result is unchanged
    val a = dense.as[Double].collect().toSeq
    val b = nullable.as[Double].collect().toSeq
    assert(a.map(java.lang.Double.doubleToRawLongBits) ==
      b.map(java.lang.Double.doubleToRawLongBits))
  }
}

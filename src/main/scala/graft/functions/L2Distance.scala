package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: SQUARED L2 distance of two double
  * arrays as one index-ordered `s += d*d` loop — the hot primitive
  * under product-quantization codebook assignment
  * ([[graft.similarity.Embeddings.embedPq]]), evaluated per
  * (vector-slice, centroid) candidate.
  *
  * Same design as [[DotProduct]]: both eval paths run the identical
  * loop, whose IEEE operation order matches the DuckDB oracle's
  * left fold `list_reduce(list_transform(range, i -> (a[i]-b[i])^2),
  * +)` bit-for-bit. The expanded form `dot(a,a) - 2·dot(a,b) +
  * dot(b,b)` is NOT used anywhere: it is a different IEEE evaluation
  * order and would break cross-engine hash equality. Length-mismatch
  * arrays yield NULL (zip_with semantics), and so does a NULL element
  * on either side (the fold's `+` propagates it), keeping malformed
  * input row sets in sync across engines. The per-element null branch
  * is only emitted when an input's ArrayType declares containsNull. */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elementsMayBeNull: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    }
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_l2sq expects (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_l2sq"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      val checkNulls = elementsMayBeNull
      var s = 0.0
      var i = 0
      while (i < n) {
        if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
        val d = x.getDouble(i) - y.getDouble(i)
        s += d * d
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      val nullCheck = if (elementsMayBeNull)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    final double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Distance =
    copy(left = newLeft, right = newRight)
}

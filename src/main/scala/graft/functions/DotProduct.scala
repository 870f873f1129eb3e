package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: dot product of two double arrays as a
  * single index-ordered loop — the hot primitive under every cosine
  * in [[graft.similarity.Embeddings]] (norms, pair scores, centroid
  * assignment), evaluated once per candidate PAIR in the self-joins.
  *
  * The builtin formulation `aggregate(zip_with(a, b, *), 0, +)`
  * allocates an intermediate array and runs both lambdas interpreted
  * (SURVEY §5a.2: ~20× slower than codegen); here both eval paths run
  * the same `s += a[i]*b[i]` loop, whose IEEE operation order is
  * IDENTICAL to the left fold (and to the DuckDB oracle's
  * list_reduce), so results stay bit-for-bit unchanged.
  *
  * Mirrors zip_with's length semantics: arrays of different lengths
  * yield NULL (zip_with pads with null, nulling the fold), and a NULL
  * element on either side also yields NULL (the fold's `+` propagates
  * it) — so even malformed input keeps cross-engine row sets in sync.
  * The per-element null branch is only emitted when an input's
  * ArrayType declares containsNull; non-null schemas keep the
  * branch-free loop. */
case class DotProduct(left: Expression, right: Expression)
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
        s"graft_dot expects (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

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
        s += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s")
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
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: |A∩B| of two SORTED-DISTINCT string
  * arrays via the same single merge walk as [[JaccardSim]], returned
  * as a LONG — the primitive asymmetric set measures (containment
  * |A∩B|/|A|, overlap coefficient |A∩B|/min) need, which Jaccard
  * cannot recover without re-deriving the intersection from a rounded
  * ratio. O(|A|+|B|), zero allocation, codegen'd; inputs must be in
  * graft's tokens normal form (array_sort ∘ array_distinct).
  */
case class OverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_overlap expects (ARRAY<STRING>, ARRAY<STRING>), got ($l, $r)")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_overlap"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0L
    while (i < nx && j < ny) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val inter = ctx.freshName("inter"); val cmp = ctx.freshName("cmp")
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $inter = 0L;
         |while ($i < $nx && $j < $ny) {
         |  final int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $inter++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $inter;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): OverlapCount =
    copy(left = newLeft, right = newRight)
}

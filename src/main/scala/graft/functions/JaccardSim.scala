package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Native Catalyst expression: exact Jaccard similarity of two
  * SORTED-DISTINCT string arrays via a single merge walk —
  * |A∩B| / (|A| + |B| − |A∩B|), O(|A|+|B|) with zero allocation.
  *
  * This is the verify-step primitive under every exact-dedup path
  * (n-gram pairs, MinHash candidate verification, component edges).
  * The builtin formulation needs `array_intersect` (hash-set build per
  * evaluation) and either evaluates it twice or hides it behind a
  * higher-order lambda — which Spark evaluates interpreted (SURVEY
  * §5a.2). Here both the interpreted `nullSafeEval` and the codegen
  * path run the same branch-free merge loop; inputs MUST be sorted
  * ascending and duplicate-free (graft's `tokens` normal form —
  * array_sort ∘ array_distinct), which is what makes the linear walk
  * correct.
  *
  * Returns the raw double; callers apply `round(_, 6)` so the rounding
  * semantics stay identical to the rest of the engine (and the DuckDB
  * oracle).
  */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_jaccard expects (ARRAY<STRING>, ARRAY<STRING>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val inter = ctx.freshName("inter"); val cmp = ctx.freshName("cmp")
      val union = ctx.freshName("union")
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $nx && $j < $ny) {
         |  final int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $inter++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |final int $union = $nx + $ny - $inter;
         |${ev.value} = ($union == 0) ? 0.0 : ((double) $inter) / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}

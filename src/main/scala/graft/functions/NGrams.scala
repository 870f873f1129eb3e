package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: space-joined n-grams of a token array —
  * `graft_ngrams(["a","b","c","d"], 3) = ["a b c", "b c d"]`.
  *
  * The builtin formulation (`transform(sequence(...), i -> concat_ws(
  * ' ', t[i-1], t[i], t[i+1]))`) routes every gram through an
  * INTERPRETED higher-order lambda — Spark never codegens lambda
  * functions, and §5a #18 measured that class ~20× slower than
  * codegen in hot paths. Corpus-scale gram extraction
  * ([[graft.text.Pipeline3.ngramCounts]]) visits every token of every
  * document, so the per-element interpreter tax IS the operator's
  * cost at 100 TB. Here both eval paths run one allocation-light loop
  * (`UTF8String.concatWs` over a reused window buffer) inside
  * whole-stage codegen.
  *
  * `n` is a plan-time constant (it comes from the operator's
  * configuration, not the data), which keeps the generated loop
  * branch-free.
  *
  * Null handling: null ELEMENTS are skipped concat_ws-style (matching
  * `concat_ws(' ', ...)` semantics), so `ngrams(["a",null,"c"], 3)`
  * yields `["a c"]`. Tokenizer output (`split`) never contains nulls;
  * callers feeding arrays with null slots should `filter(x -> x IS NOT
  * NULL)` first if they want strict grams.
  */
case class NGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"graft_ngrams needs n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ngrams expects ARRAY<STRING>, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  private val sep = UTF8String.fromString(" ")

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val m = a.numElements()
    val cnt = math.max(m - n + 1, 0)
    val out = new Array[Any](cnt)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < cnt) {
      var j = 0
      while (j < n) { window(j) = a.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(sep, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val utf8 = classOf[UTF8String].getName
      val sepRef = ctx.addReferenceObj("gramSep", sep, utf8)
      val m = ctx.freshName("m"); val cnt = ctx.freshName("cnt")
      val arr = ctx.freshName("grams"); val win = ctx.freshName("win")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      s"""
         |final int $m = $a.numElements();
         |final int $cnt = java.lang.Math.max($m - $n + 1, 0);
         |final $utf8[] $arr = new $utf8[$cnt];
         |final $utf8[] $win = new $utf8[$n];
         |for (int $i = 0; $i < $cnt; $i++) {
         |  for (int $j = 0; $j < $n; $j++) { $win[$j] = $a.getUTF8String($i + $j); }
         |  $arr[$i] = $utf8.concatWs($sepRef, $win);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NGrams =
    copy(child = newChild)
}

object NGrams {
  /** DataFrame-side constructor. */
  def ngrams(tokens: Column, n: Int): Column =
    GraftBridge.column(NGrams(GraftBridge.expression(tokens), n))
}

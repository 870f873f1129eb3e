package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Zero-cost schema assertion: the child array's elements are known
  * non-null. The array-element analog of Catalyst's own
  * `KnownNotNull` — it emits NO code (eval and codegen are the child's
  * verbatim) and only narrows the declared type to
  * `containsNull = false`.
  *
  * Why it exists: parquet file sources force every read schema
  * nullable, so even a dense vector column written without nulls
  * arrives as `ARRAY<DOUBLE>` with `containsNull = true`, and the hot
  * loops in [[DotProduct]]/[[L2Distance]] must then emit a per-element
  * `isNullAt` branch. Wrapping the column in `graft_dense(...)` at the
  * one place the vectors are loaded restores the branch-free loop —
  * the difference matters when the loop runs per (vector, centroid)
  * candidate over a 100 TB corpus, not per row of a demo table.
  *
  * Contract: like `KnownNotNull`, this is an ASSERTION. If a null
  * element does slip in, downstream consumers read it as an undefined
  * primitive value instead of propagating NULL — callers must only
  * wrap columns whose construction guarantees dense arrays (see
  * [[graft.similarity.Embeddings]]'s zero-norm precondition note). */
case class KnownNonNullElements(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_dense expects ARRAY, got $dt")
  }

  override def dataType: DataType = child.dataType match {
    case ArrayType(et, _) => ArrayType(et, containsNull = false)
    case dt => dt
  }

  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_dense"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): KnownNonNullElements =
    copy(child = newChild)
}

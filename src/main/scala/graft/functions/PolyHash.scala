package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the polynomial rolling hash
  * `fold (h*mult + byte) % 1e9+7` over a string's bytes.
  *
  * This is the hot primitive under fingerprinting and MinHash/SimHash
  * token hashing. The SQL formulation
  * (`aggregate(transform(sequence(...)))`) is evaluated interpreted —
  * per-character lambda dispatch with boxing; this expression compiles
  * to a tight byte loop inside whole-stage codegen (`doGenCode`), with
  * an identical result for ASCII input (reference semantics:
  * type-detector/fingerprint hashing over plain-ASCII SignalK paths
  * and tokens).
  */
case class PolyHash(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == IntegerType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"graft_polyhash expects (STRING, INT), got (${left.dataType}, ${right.dataType})")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override protected def nullSafeEval(str: Any, mult: Any): Any = {
    val bytes = str.asInstanceOf[UTF8String].getBytes
    val m = mult.asInstanceOf[Int]
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * m + (bytes(i) & 0xff)) % 1000000007L
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (str, mult) => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $str.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * $mult + ($bytes[$i] & 0xff)) % 1000000007L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PolyHash =
    copy(left = newLeft, right = newRight)
}

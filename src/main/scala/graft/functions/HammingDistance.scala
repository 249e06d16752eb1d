package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Native Catalyst expression: Hamming distance between two 64-bit hashes
  * (phash, simhash). Semantically `bit_count(a ^ b)`, fused into one node
  * with full whole-stage codegen via [[doGenCode]] — the engine's reference
  * implementation of the "custom Expression beats UDF" extension path
  * (SURVEY.md §2.12); the composed built-in form is used as its test oracle.
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hamming"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = java.lang.Long.bitCount($a ^ $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

object HammingDistance {
  /** Column API (Spark 4 classic Column <-> Expression bridge). */
  def hamming(a: Column, b: Column): Column =
    GraftBridge.column(HammingDistance(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

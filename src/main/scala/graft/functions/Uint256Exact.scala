package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact uint256 word decode — the upgrade path for the reference's
  * acknowledged truncation (`init.sql:79` "--todo don't downshift
  * to_uint256 to to_uint128"; [[Abi.toUint256]] keeps that truncated
  * range for parity, and DecimalType(38,0) cannot hold
  * max uint256 ≈ 1.16e77 anyway).
  *
  * A custom Catalyst `Expression` (option (b) of the custom-operator
  * ladder): BigInteger decode of the full 32-byte word to its decimal
  * string, with `doGenCode` emitting a static call so the expression
  * stays inside whole-stage codegen (a Scala UDF would break the span
  * and add encoder overhead).
  */
object AbiCodecRuntime {
  /** Decimal string of the 64-hex-char word at 1-based char position
    * `pos+1`; short slices are right-padded semantics-free (treated as
    * the word that was present). Null on unparseable hex. */
  def uint256String(data: UTF8String, pos: Int): UTF8String = {
    if (data == null) return null
    val s = data.toString
    if (pos < 0 || pos >= s.length) return UTF8String.fromString("0")
    val end = math.min(pos + 64, s.length)
    val word = s.substring(pos, end)
    try {
      UTF8String.fromString(new java.math.BigInteger(word, 16).toString)
    } catch {
      case _: NumberFormatException => null
    }
  }
}

case class Uint256Exact(left: Expression, right: Expression)
    extends BinaryExpression {

  // left = pos (int, reference convention), right = data (hex string);
  // the Column builder casts pos to int — AbstractDataType (and so
  // ExpectsInputTypes) is private[sql], hence manual checking here
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == IntegerType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"to_uint256_exact expects (int, string), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "to_uint256_exact"

  override protected def nullSafeEval(pos: Any, data: Any): Any =
    AbiCodecRuntime.uint256String(data.asInstanceOf[UTF8String], pos.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (pos, data) =>
      s"""
         |${ev.value} = graft.functions.AbiCodecRuntime.uint256String($data, $pos);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

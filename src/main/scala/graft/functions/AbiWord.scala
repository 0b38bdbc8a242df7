package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.NumberConverter
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-level runtime of [[AbiWord]]: the Native-mode integral word
  * decodes of [[Abi]], one static method per word kind.
  *
  * Each decode is defined by the reference's spelling in built-in
  * expressions: hex slices `lpad(substr(data, pos + off, len), len, '0')`
  * read by `conv(_, 16, 10)`, cast to `long` or `decimal(20,0)`, 32-bit
  * limbs recombined in `decimal(38,0)` (null once the value reaches
  * 1e38). That spelling is the contract; the test sources keep it as
  * the parity reference (`ComposedAbi`).
  *
  * Fast path: when the slice lies inside an all-ASCII prefix of `data`
  * (so char and byte positions agree) and is all hex digits, the word
  * is read straight into `long`s. Every other input (a `pos` of 0 or
  * below, which `substr` counts from the end; a short, non-ASCII,
  * signed or otherwise non-hex slice) takes the slow path, which calls
  * the same Spark runtime functions the composed spelling evaluates
  * (`UTF8String.substringSQL`/`lpad`/`trim`, `NumberConverter.convert`,
  * `UTF8String.toLong`, `Decimal.fromString`), so it keeps every quirk:
  * `conv` trims spaces, stops at the first non-hex character, reads a
  * leading `-` as a negative number, and so on. Semantics are the
  * session's non-ANSI ones ([[graft.GraftSession]]). */
object AbiWordRuntime {

  /** What the `long`-valued decodes return for SQL null. No 32-bit
    * decode can produce it; a 64-bit one confirms with [[int64IsNull]]. */
  final val NullLong = Long.MinValue

  private val Zero = UTF8String.fromString("0")

  /** 1e38 = `Ten38Hi * 2^64 + Ten38Lo` (unsigned halves). */
  private val Ten38 = java.math.BigInteger.TEN.pow(38)
  private val Ten38Hi = Ten38.shiftRight(64).longValue
  private val Ten38Lo = Ten38.longValue

  /** Hex digit value by byte, -1 for a non-hex byte. */
  private val HexDigit: Array[Byte] = Array.tabulate(256) { b =>
    Character.digit(b.toChar, 16).toByte
  }

  /** Whether the `len` chars at 1-based char position `p` are all hex
    * digits inside an all-ASCII prefix of `data`. */
  private def fast(data: UTF8String, p: Int, len: Int): Boolean = {
    if (p < 1 || (p - 1L) + len > data.numBytes) return false
    val start = p - 1
    val end = start + len
    var i = 0
    while (i < start) {
      if (data.getByte(i) < 0) return false
      i += 1
    }
    while (i < end) {
      val b = data.getByte(i)
      if (b < 0 || HexDigit(b) < 0) return false
      i += 1
    }
    true
  }

  /** The `len <= 16` hex chars at `p` (checked by [[fast]]) as the low
    * bits of a `long`. */
  private def hex(data: UTF8String, p: Int, len: Int): Long = {
    var v = 0L
    var i = p - 1
    val end = i + len
    while (i < end) {
      v = (v << 4) | HexDigit(data.getByte(i))
      i += 1
    }
    v
  }

  /** `conv(lpad(substr(data, p, len), len, '0'), 16, 10)`; `conv`
    * trims spaces off its input first. */
  private def conv(data: UTF8String, p: Int, len: Int): UTF8String =
    NumberConverter.convert(data.substringSQL(p, len).lpad(len, Zero).trim().getBytes,
      16, 10, false, null)

  /** One 32-bit limb, `conv(…8 chars…)` cast to `long`; [[NullLong]] for null. */
  private def limb(data: UTF8String, p: Int): Long =
    if (fast(data, p, 8)) hex(data, p, 8)
    else {
      val s = conv(data, p, 8)
      val w = new UTF8String.LongWrapper
      if (s != null && s.toLong(w)) w.value else NullLong
    }

  /** The unsigned 128-bit `hi * 2^64 + lo` as `decimal(38,0)`, null from 1e38. */
  private def decimal38(hi: Long, lo: Long): Decimal = {
    val c = java.lang.Long.compareUnsigned(hi, Ten38Hi)
    if (c > 0 || (c == 0 && java.lang.Long.compareUnsigned(lo, Ten38Lo) >= 0)) null
    else if (hi == 0 && lo >= 0) Decimal(lo, 38, 0)
    else Decimal(new java.math.BigDecimal(unsigned(hi, lo)), 38, 0)
  }

  private def unsigned(hi: Long, lo: Long): java.math.BigInteger = {
    val bytes = new Array[Byte](17) // leading 0: non-negative
    var i = 0
    while (i < 8) {
      bytes(1 + i) = (hi >>> (56 - 8 * i)).toByte
      bytes(9 + i) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    new java.math.BigInteger(bytes)
  }

  /** `to_uint128`: four limbs at `pos+33`, `+41`, `+49`, `+57`. */
  def uint128(data: UTF8String, pos: Int): Decimal = {
    val p = pos + 33
    if (fast(data, p, 32)) decimal38(hex(data, p, 16), hex(data, p + 16, 16))
    else {
      val l0 = limb(data, p)
      val l1 = limb(data, pos + 41)
      val l2 = limb(data, pos + 49)
      val l3 = limb(data, pos + 57)
      if (l0 == NullLong || l1 == NullLong || l2 == NullLong || l3 == NullLong) null
      else decimal38((l0 << 32) | l1, (l2 << 32) | l3)
    }
  }

  /** `to_uint256` is the uint128 decode, as in the reference. */
  def uint256(data: UTF8String, pos: Int): Decimal = uint128(data, pos)

  /** `to_uint64`: the 16 chars at `pos+49` as `decimal(20,0)`. */
  def uint64(data: UTF8String, pos: Int): Decimal = {
    val p = pos + 49
    if (fast(data, p, 16)) {
      val v = hex(data, p, 16)
      if (v >= 0) Decimal(v, 20, 0) else Decimal(new java.math.BigDecimal(unsigned(0L, v)), 20, 0)
    } else {
      val s = conv(data, p, 16)
      val d = if (s == null) null else Decimal.fromString(s)
      if (d != null && d.changePrecision(20, 0)) d else null
    }
  }

  /** `to_int64`: the uint64 decode reinterpreted in two's complement;
    * [[NullLong]] may also be the value, see [[int64IsNull]]. */
  def int64(data: UTF8String, pos: Int): Long = {
    val p = pos + 49
    if (fast(data, p, 16)) hex(data, p, 16)
    else {
      val u = uint64(data, pos)
      if (u == null) NullLong else u.toJavaBigDecimal.toBigInteger.longValue
    }
  }

  /** Whether `to_int64` is null (asked only when [[int64]] returned [[NullLong]]). */
  def int64IsNull(data: UTF8String, pos: Int): Boolean = uint64(data, pos) == null

  /** `to_uint32`: the limb at `pos+57`. */
  def uint32(data: UTF8String, pos: Int): Long = limb(data, pos + 57)

  /** `to_int32`: the uint32 decode, sign-extended from bit 31. */
  def int32(data: UTF8String, pos: Int): Long = {
    val u = uint32(data, pos)
    if (u == NullLong) NullLong else u.toInt.toLong
  }
}

/** One Native-mode integral ABI word decode (`kind` is `uint256`,
  * `uint128`, `uint64`, `int64`, `uint32` or `int32`) of `data` at
  * `pos` (an int, [[Abi]]'s position convention), as a custom Catalyst
  * expression whose generated code is one static call into
  * [[AbiWordRuntime]] (the [[Uint256Exact]] pattern): the word is read
  * once into `long`s instead of through four `conv(lpad(substr))` limb
  * trees and three `decimal(38,0)` multiply-adds. */
case class AbiWord(kind: String, left: Expression, right: Expression) extends BinaryExpression {
  require(AbiWord.Kinds.contains(kind), s"unknown ABI word kind '$kind'")

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == IntegerType && right.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (int, string), got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = AbiWord.Kinds(kind)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"to_$kind"
  override def toString: String = s"$prettyName($left, $right)"
  override def sql: String = s"$prettyName(${left.sql}, ${right.sql})"

  override protected def nullSafeEval(pos: Any, data: Any): Any = {
    val d = data.asInstanceOf[UTF8String]
    val p = pos.asInstanceOf[Int]
    def orNull(v: Long): Any = if (v == AbiWordRuntime.NullLong) null else v
    kind match {
      case "uint256" | "uint128" => AbiWordRuntime.uint128(d, p)
      case "uint64" => AbiWordRuntime.uint64(d, p)
      case "int64" =>
        val v = AbiWordRuntime.int64(d, p)
        if (v == AbiWordRuntime.NullLong && AbiWordRuntime.int64IsNull(d, p)) null else v
      case "uint32" => orNull(AbiWordRuntime.uint32(d, p))
      case "int32" => orNull(AbiWordRuntime.int32(d, p))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rt = "graft.functions.AbiWordRuntime"
    nullSafeCodeGen(ctx, ev, (pos, data) => {
      val isNull = dataType match {
        case _: DecimalType => s"${ev.value} == null"
        case _ if kind == "int64" =>
          s"${ev.value} == Long.MIN_VALUE && $rt.int64IsNull($data, $pos)"
        case _ => s"${ev.value} == Long.MIN_VALUE"
      }
      s"""
         |${ev.value} = $rt.$kind($data, $pos);
         |${ev.isNull} = $isNull;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object AbiWord {
  /** Word kind → result type (the composed spelling's types). */
  val Kinds: Map[String, DataType] = Map(
    "uint256" -> DecimalType(38, 0), "uint128" -> DecimalType(38, 0),
    "uint64" -> DecimalType(20, 0), "int64" -> LongType,
    "uint32" -> LongType, "int32" -> LongType)
}

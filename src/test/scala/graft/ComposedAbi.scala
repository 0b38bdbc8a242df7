package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The parity reference for [[graft.functions.AbiWord]]: the Native-mode
  * integral decodes spelled as compositions of built-in expressions —
  * hex slices `lpad(substr(data, pos + off, len), len, '0')` read by
  * `conv(_, 16, 10)`, 32-bit limbs recombined in `decimal(38,0)`. */
object ComposedAbi {

  private val TWO_32 = BigDecimal(2).pow(32)
  private val TWO_63 = BigDecimal(2).pow(63)
  private val TWO_64 = BigDecimal(2).pow(64)
  private val TWO_96 = BigDecimal(2).pow(96)

  private val Dec38 = DecimalType(38, 0)
  private val Dec20 = DecimalType(20, 0)

  /** `len` hex chars of `data` at position `pos + startOff` (1-based,
    * inclusive), zero-lpadded if the slice is short. */
  private def hexSlice(pos: Column, data: Column, startOff: Int, len: Int): Column =
    lpad(data.substr(pos + lit(startOff), lit(len)), len, "0")

  /** One 32-bit limb (8 hex chars) as an unsigned long in [0, 2^32). */
  private def limb(pos: Column, data: Column, startOff: Int): Column =
    conv(hexSlice(pos, data, startOff, 8), 16, 10).cast(LongType)

  def toInt64(pos: Column, data: Column): Column = {
    val u = conv(hexSlice(pos, data, 49, 16), 16, 10).cast(Dec20)
    when(u >= lit(TWO_63), u - lit(TWO_64)).otherwise(u).cast(LongType)
  }

  def toUint64(pos: Column, data: Column): Column =
    conv(hexSlice(pos, data, 49, 16), 16, 10).cast(Dec20)

  def toUint32(pos: Column, data: Column): Column =
    limb(pos, data, 57)

  def toInt32(pos: Column, data: Column): Column = {
    val u = limb(pos, data, 57)
    when(u >= lit(2147483648L), u - lit(4294967296L)).otherwise(u)
  }

  def toUint128(pos: Column, data: Column): Column =
    (limb(pos, data, 33).cast(Dec38) * lit(TWO_96) +
      limb(pos, data, 41).cast(Dec38) * lit(TWO_64) +
      limb(pos, data, 49).cast(Dec38) * lit(TWO_32) +
      limb(pos, data, 57).cast(Dec38)).cast(Dec38)

  def toUint256(pos: Column, data: Column): Column =
    toUint128(pos, data)

  /** Word kind (as `AbiWord` names them) → composed decode. */
  val byKind: Map[String, (Column, Column) => Column] = Map(
    "uint256" -> (toUint256 _), "uint128" -> (toUint128 _), "uint64" -> (toUint64 _),
    "int64" -> (toInt64 _), "uint32" -> (toUint32 _), "int32" -> (toInt32 _))
}

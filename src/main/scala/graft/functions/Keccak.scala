package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Keccak-256 — the digest the EVM uses for event topics and
  * function selectors. The reference hard-codes its ten topic0
  * constants (`init.sql:213-222`); this closes the loop and lets the
  * engine DERIVE them: `event_topic('Transfer(address,address,
  * uint256)')` returns the `0xddf252ad…` the Transfer view filters
  * on, and `abi_selector('transfer(address,uint256)')` the 4-byte
  * calldata selector — so a user can register a NEW event view from
  * its Solidity signature alone instead of copying a hash from
  * Etherscan, and `EventViews.referenceViews` becomes self-checking
  * (a spec recomputes all ten registry hashes from their field
  * lists).
  *
  * This is original Keccak (pad byte 0x01), NOT FIPS-202 SHA3-256
  * (pad 0x06) — Ethereum froze on the pre-standard submission, which
  * is why `java.security.MessageDigest` "SHA3-256" gives different
  * bytes and cannot serve here. Rate 1088/capacity 512, 24 rounds of
  * Keccak-f[1600] (θ ρ π χ ι per the public Keccak reference), lanes
  * little-endian.
  *
  * Scale: a stateless per-row kernel over short strings — embarrassed
  * parallelism, no shuffle, stays inside whole-stage codegen via the
  * static-call `doGenCode` (the [[DeflateRuntime]] discipline).
  */
object KeccakRuntime {

  private val RC: Array[Long] = Array(
    0x0000000000000001L, 0x0000000000008082L, 0x800000000000808aL,
    0x8000000080008000L, 0x000000000000808bL, 0x0000000080000001L,
    0x8000000080008081L, 0x8000000000008009L, 0x000000000000008aL,
    0x0000000000000088L, 0x0000000080008009L, 0x000000008000000aL,
    0x000000008000808bL, 0x800000000000008bL, 0x8000000000008089L,
    0x8000000000008003L, 0x8000000000008002L, 0x8000000000000080L,
    0x000000000000800aL, 0x800000008000000aL, 0x8000000080008081L,
    0x8000000000008080L, 0x0000000080000001L, 0x8000000080008008L)

  // rotation offsets in the (x + 5y) lane order
  private val Rot: Array[Int] = Array(
    0, 1, 62, 28, 27,
    36, 44, 6, 55, 20,
    3, 10, 43, 25, 39,
    41, 45, 15, 21, 8,
    18, 2, 61, 56, 14)

  private def keccakF(a: Array[Long]): Unit = {
    val c = new Array[Long](5)
    val b = new Array[Long](25)
    var round = 0
    while (round < 24) {
      // θ
      var x = 0
      while (x < 5) {
        c(x) = a(x) ^ a(x + 5) ^ a(x + 10) ^ a(x + 15) ^ a(x + 20)
        x += 1
      }
      x = 0
      while (x < 5) {
        val d = c((x + 4) % 5) ^ java.lang.Long.rotateLeft(c((x + 1) % 5), 1)
        var y = 0
        while (y < 5) { a(x + 5 * y) ^= d; y += 1 }
        x += 1
      }
      // ρ + π: b[y, 2x+3y] = rot(a[x, y])
      x = 0
      while (x < 5) {
        var y = 0
        while (y < 5) {
          b(y + 5 * ((2 * x + 3 * y) % 5)) =
            java.lang.Long.rotateLeft(a(x + 5 * y), Rot(x + 5 * y))
          y += 1
        }
        x += 1
      }
      // χ + ι
      var yy = 0
      while (yy < 5) {
        x = 0
        while (x < 5) {
          a(x + 5 * yy) =
            b(x + 5 * yy) ^ (~b((x + 1) % 5 + 5 * yy) & b((x + 2) % 5 + 5 * yy))
          x += 1
        }
        yy += 1
      }
      a(0) ^= RC(round)
      round += 1
    }
  }

  /** 32-byte Keccak-256 digest of `msg`. */
  def hash256(msg: Array[Byte]): Array[Byte] = hashWithDomain(msg, 0x01)

  /** The same sponge with the FIPS-202 domain byte (0x06) = SHA3-256.
    * Test-only surface: the JDK's `MessageDigest("SHA3-256")` is an
    * independent implementation of everything here EXCEPT the pad
    * byte, so long multi-block inputs cross-check the permutation and
    * absorb/squeeze paths against foreign code, while the Keccak pad
    * itself is pinned by the known Ethereum vectors (which are all
    * single-block). */
  private[graft] def sha3_256(msg: Array[Byte]): Array[Byte] =
    hashWithDomain(msg, 0x06)

  private def hashWithDomain(msg: Array[Byte], domain: Byte): Array[Byte] = {
    val rate = 136 // 1088-bit rate in bytes
    val state = new Array[Long](25)
    // absorb full blocks
    var off = 0
    while (msg.length - off >= rate) {
      var i = 0
      while (i < rate / 8) {
        var lane = 0L
        var j = 7
        while (j >= 0) { lane = (lane << 8) | (msg(off + i * 8 + j) & 0xffL); j -= 1 }
        state(i) ^= lane
        i += 1
      }
      keccakF(state)
      off += rate
    }
    // final block: pad10*1 with the domain byte (0x01 = Keccak)
    val last = new Array[Byte](rate)
    System.arraycopy(msg, off, last, 0, msg.length - off)
    last(msg.length - off) = domain
    last(rate - 1) = (last(rate - 1) | 0x80).toByte
    var i = 0
    while (i < rate / 8) {
      var lane = 0L
      var j = 7
      while (j >= 0) { lane = (lane << 8) | (last(i * 8 + j) & 0xffL); j -= 1 }
      state(i) ^= lane
      i += 1
    }
    keccakF(state)
    // squeeze 32 bytes (little-endian lanes 0-3)
    val out = new Array[Byte](32)
    i = 0
    while (i < 4) {
      var lane = state(i)
      var j = 0
      while (j < 8) { out(i * 8 + j) = lane.toByte; lane >>>= 8; j += 1 }
      i += 1
    }
    out
  }

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte], n: Int): String = {
    val sb = new java.lang.StringBuilder(2 + 2 * n)
    sb.append("0x")
    var i = 0
    while (i < n) {
      sb.append(HexChars((bytes(i) >> 4) & 0xf)).append(HexChars(bytes(i) & 0xf))
      i += 1
    }
    sb.toString
  }

  /** `0x` + 64 hex chars of keccak256(utf8 signature) — the event
    * topic0 format the logs tables store. */
  def topicHex(sig: UTF8String): UTF8String =
    if (sig == null) null
    else UTF8String.fromString(hex(hash256(sig.getBytes), 32))

  /** `0x` + 8 hex chars — the 4-byte calldata function selector. */
  def selectorHex(sig: UTF8String): UTF8String =
    if (sig == null) null
    else UTF8String.fromString(hex(hash256(sig.getBytes), 4))
}

/** Column builders for the keccak surface (the [[graft.functions.Abi]]
  * macro discipline: compose at parse time, Catalyst sees plain
  * expressions). */
object Keccak {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Raw 32-byte digest of a binary column. */
  def keccak256(data: Column): Column =
    ColumnBridge.column(Keccak256(ColumnBridge.expression(data)))

  /** `0x`+64-hex topic0 of a canonical event signature string. */
  def eventTopic(sig: Column): Column =
    ColumnBridge.column(EventTopic(ColumnBridge.expression(sig)))

  /** `0x`+8-hex 4-byte selector of a canonical function signature. */
  def selector(sig: Column): Column =
    ColumnBridge.column(AbiSelector(ColumnBridge.expression(sig)))

  /** Driver-side digest helpers for registry/self-check use. */
  def topicOf(signature: String): String = {
    val d = KeccakRuntime.hash256(signature.getBytes("UTF-8"))
    "0x" + d.map(b => f"${b & 0xff}%02x").mkString
  }
  def selectorOf(signature: String): String = topicOf(signature).take(10)
}

/** `keccak256(binary) -> binary`: the raw 32-byte digest. */
case class Keccak256(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"keccak256 expects binary, got ${child.dataType}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "keccak256"
  override protected def nullSafeEval(msg: Any): Any =
    KeccakRuntime.hash256(msg.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, m =>
      s"${ev.value} = graft.functions.KeccakRuntime.hash256($m);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `event_topic(signature string) -> '0x…' string` (64 hex chars). */
case class EventTopic(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"event_topic expects string, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "event_topic"
  override protected def nullSafeEval(sig: Any): Any =
    KeccakRuntime.topicHex(sig.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.KeccakRuntime.topicHex($s);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `abi_selector(signature string) -> '0x…' string` (8 hex chars). */
case class AbiSelector(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"abi_selector expects string, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "abi_selector"
  override protected def nullSafeEval(sig: Any): Any =
    KeccakRuntime.selectorHex(sig.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.KeccakRuntime.selectorHex($s);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

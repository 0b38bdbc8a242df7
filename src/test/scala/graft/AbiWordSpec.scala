package graft

import graft.functions.Abi
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Parity of the [[graft.functions.AbiWord]] kernel with the composed
  * built-in spelling ([[ComposedAbi]]) for every word kind, on generated
  * payloads well-formed and not (short, empty, non-ASCII, signed,
  * spaced), positions that `substr` treats specially, and nulls — both
  * through whole-stage codegen and through interpreted evaluation. */
class AbiWordSpec extends SparkSpec {

  private val hexChars = "0123456789abcdefABCDEF"
  private val oddChars = Seq("-", " ", "g", "x", "é", "日", "\u0000")
  private val positions = Seq(-3, 0, 1, 2, 66, 130)

  private def hex(n: Int): Gen[String] = Gen.listOfN(n, Gen.oneOf(hexChars)).map(_.mkString)

  /** A 64-char word whose value has `z` leading zero digits, so decodes
    * land on both sides of every range edge (1e38, 2^63, 2^31). */
  private val word: Gen[String] = for {
    z <- Gen.choose(0, 64)
    w <- hex(64 - z)
  } yield "0" * z + w

  private val wellFormed: Gen[String] =
    Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, word)).map("0x" + _.mkString)

  /** `s` with char `i` replaced by `c` (when `i` is inside `s`). */
  private def patch(s: String, i: Int, c: String): String =
    if (i < 0 || i >= s.length) s else s.substring(0, i) + c + s.substring(i + 1)

  /** A well-formed payload with an odd char where a slice starts or at random. */
  private val malformed: Gen[String] = for {
    s <- wellFormed
    c <- Gen.oneOf(oddChars)
    i <- Gen.oneOf(
      Gen.choose(0, s.length - 1),
      Gen.oneOf(for (p <- Seq(2, 66); off <- Seq(33, 41, 49, 57)) yield p + off - 1))
  } yield patch(s, i, c)

  private val data: Gen[String] = Gen.frequency(
    5 -> wellFormed,
    4 -> malformed,
    3 -> Gen.choose(0, 200).flatMap(hex).map("0x" + _), // short and odd lengths
    1 -> hex(64),                                        // unprefixed
    1 -> Gen.oneOf("", "0x", "-", " ", "é", "-1", "0x" + "f" * 64),
    1 -> Gen.const(null))

  private val pos: Gen[Integer] = Gen.frequency(
    8 -> Gen.oneOf(positions).map(Int.box), 1 -> Gen.const(null))

  private val batch: Gen[Seq[Row]] = Gen.listOfN(300, Gen.zip(pos, data)).map(_.map {
    case (p, d) => Row(p, d)
  })

  private val schema = StructType(Seq(StructField("pos", IntegerType), StructField("data", StringType)))

  /** A non-local relation, so the projection runs on executors rather
    * than being folded into a `LocalRelation` on the driver. */
  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val kinds: Seq[(String, (Column, Column) => Column)] = Seq(
    "uint256" -> ((p, d) => Abi.toUint256(p, d)), "uint128" -> ((p, d) => Abi.toUint128(p, d)),
    "uint64" -> ((p, d) => Abi.toUint64(p, d)), "int64" -> ((p, d) => Abi.toInt64(p, d)),
    "uint32" -> ((p, d) => Abi.toUint32(p, d)), "int32" -> ((p, d) => Abi.toInt32(p, d)))

  /** Rows where kernel and composed decode disagree (null-safe), as text. */
  private def mismatches(kind: String, kernel: (Column, Column) => Column, rows: Seq[Row]): Seq[String] = {
    val df = frame(rows).select(col("pos"), col("data"),
      kernel(col("pos"), col("data")).as("k"), ComposedAbi.byKind(kind)(col("pos"), col("data")).as("c"))
    assert(df.schema("k").dataType === df.schema("c").dataType, kind)
    df.filter(!(col("k") <=> col("c"))).limit(5).collect().map(_.toString).toSeq
  }

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def checkAll(path: String): Unit = kinds.foreach { case (kind, kernel) =>
    var bad = Seq.empty[String]
    val prop = Prop.forAllNoShrink(batch) { rows =>
      bad = mismatches(kind, kernel, rows)
      bad.isEmpty
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(4)
      .withInitialSeed(Seed(kind.hashCode.toLong))
    val result = Test.check(params, prop)
    assert(result.passed, s"$path $kind: ${bad.mkString("; ")}")
  }

  test("the word kernel matches the composed decode under whole-stage codegen") {
    val plan = frame(Nil).select(Abi.toUint256(2, col("data"))).queryExecution.executedPlan
    assert(plan.toString.contains("to_uint256(2, data"))
    checkAll("codegen")
  }

  test("the word kernel matches the composed decode when interpreted") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      checkAll("interpreted")
    }
  }

  test("range edges: 1e38 is null for uint128/uint256, 2^63 and 2^31 wrap for the signed kinds") {
    def w(hexValue: String) = "0x" + "0" * (64 - hexValue.length) + hexValue
    val below = BigInt(10).pow(38) - 1
    val rows = Seq(w(below.toString(16)), w((below + 1).toString(16)),
      w("8000000000000000"), w("ffffffff"), w("80000000"))
    val r = frame(rows.map(Row(2, _))).select(Abi.toUint256(2, col("data")),
      Abi.toInt64(2, col("data")), Abi.toInt32(2, col("data")), Abi.toUint64(2, col("data")))
      .collect()
    assert(r(0).getDecimal(0).toBigInteger === below.bigInteger)
    assert(r(1).isNullAt(0))
    assert(r(2).getLong(1) === Long.MinValue)
    assert(r(2).getDecimal(3).toBigInteger === (BigInt(1) << 63).bigInteger)
    assert(r(3).getLong(2) === -1L)
    assert(r(4).getLong(2) === Int.MinValue.toLong)
  }
}

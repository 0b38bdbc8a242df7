package graft.sources

import graft.functions.Abi
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `price` dimension: token USD price as-of block
  * (`schema.sql:68-81`; ingest via `eth_call` on a Chainlink oracle,
  * `get_price.go:31-50`). PK `(address, block_number)`; price is
  * USD × 1e8 stored integral (`schema.sql:78-81`, Go uint64
  * `get_price.go:20`).
  *
  * Slowly-growing keyed table: small enough to broadcast in most
  * joins; the as-of lookup against `logs` is
  * [[graft.operators.AsOfJoin]].
  */
object Price {

  val schema: StructType = StructType(Seq(
    StructField("address", StringType),
    StructField("block_number", LongType),
    StructField("price", DecimalType(38, 0))))

  val pk: Seq[String] = Seq("address", "block_number")

  /** Wire record of one `eth_call` price probe: the Chainlink
    * `latestAnswer` response is a single ABI word (`get_price.go:46`
    * selector `0x50d25bcd`; worked capture
    * `curl-call-chainlink-price.sh`). `token` identifies the asset the
    * probe priced, `blockNumber` the as-of block (`main.go:102-104`). */
  val wireSchema: StructType = StructType(Seq(
    StructField("token", StringType),
    StructField("blockNumber", StringType),
    StructField("result", StringType)))

  /** Wire → analytic rows: hex block, ABI-word price (USD×1e8 integral,
    * `schema.sql:78-81`). */
  def fromWire(raw: DataFrame): DataFrame = raw.select(
    col("token").as("address"),
    Abi.hexToLong(col("blockNumber")).as("block_number"),
    Abi.toUint256(2, col("result")).as("price"))

  /** Batch replay of an NDJSON price-probe capture. */
  def readNdjson(spark: SparkSession, path: String): DataFrame =
    fromWire(spark.read.schema(wireSchema).json(path))

  /** Streaming ingest of price probes with the same checkpoint +
    * idempotent-sink contract as the logs stream. */
  def ingest(
      spark: SparkSession,
      inputDir: String,
      tablePath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    fromWire(spark.readStream.schema(wireSchema).json(inputDir))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        appendIdempotent(b.sparkSession, b, tablePath)
      }
      .start()

  /** The stored table, opened with its declared [[schema]] (never
    * footer-inferred, so opening it runs no Spark job); empty before
    * the first committed write. */
  def read(spark: SparkSession, tablePath: String): DataFrame =
    if (!Logs.hasCommittedData(spark, tablePath)) Logs.empty(spark, schema)
    else spark.read.schema(schema).parquet(tablePath)

  /** S6: idempotent append, PK DO-NOTHING semantics
    * (`get_price.go:96`), on the append path of `Logs.appendIdempotent`:
    * the batch is evaluated once, the probe reads only its block window
    * (the PK carries `block_number`), and an empty batch writes nothing
    * — so a dir holding only `_temporary`/`_SUCCESS` (a crashed first
    * write) stays an empty table until real rows land. */
  def appendIdempotent(spark: SparkSession, batch: DataFrame, tablePath: String): Unit =
    Logs.pinned(batch.select(schema.fieldNames.map(col): _*).dropDuplicates(pk)) { b =>
      if (b.n > 0)
        (if (Logs.hasCommittedData(spark, tablePath)) b.unseen(read(spark, tablePath), pk)
          else b.rows).write.mode("append").parquet(tablePath)
    }
}

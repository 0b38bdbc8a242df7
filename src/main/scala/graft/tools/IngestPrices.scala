package graft.tools

import graft.GraftSession
import graft.sources.Price

/** CLI: ingest an NDJSON capture of `eth_call` price probes into the
  * price table (streaming, checkpointed, idempotent) — the S3/S6 half
  * of the reference loop (`main.go:191-198`, `get_price.go`).
  *
  * Usage: runMain graft.tools.IngestPrices <ndjsonDir> <tablePath> <checkpointDir>
  */
object IngestPrices {
  def main(args: Array[String]): Unit = {
    val Array(in, table, ckpt) = args.take(3)
    val spark = GraftSession.get()
    val q = Price.ingest(spark, in, table, ckpt)
    q.awaitTermination()
    val t = Price.read(spark, table)
    println(s"[prices] rows=${t.count()}")
    t.orderBy("address", "block_number").show(20, truncate = false)
    spark.stop()
  }
}

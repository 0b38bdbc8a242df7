package graft.tools

import graft.GraftSession
import graft.sources.{Logs, RpcSource}
import org.apache.spark.sql.DataFrame

/** CLI: live tail-follow through the DataSource V2 streaming source —
  * the reference's unbounded loop (`main.go:217-241`) as pure
  * Structured Streaming: checkpointed block offsets, per-window
  * parallel pulls, idempotent sink.
  *
  * Usage: runMain graft.tools.StreamRpc <endpoint> <tablePath> <checkpointDir> [blockStep] [pollSeconds] [backfillTs]
  * No pollSeconds → bounded catch-up (AvailableNow): drain to the
  * current head and exit; re-run resumes from the committed offset.
  * `backfillTs` = `true` fills block_timestamp from executor-side
  * `eth_getBlockByNumber` probes (§7.4 extension).
  */
object StreamRpc {
  def main(args: Array[String]): Unit = {
    val Array(endpoint, table, ckpt) = args.take(3)
    val step = args.lift(3).getOrElse("100")
    val poll = args.lift(4).filterNot(_ == "-").map(s => s"$s seconds")
    val spark = GraftSession.get()
    val q = spark.readStream.format(RpcSource.Format)
      .option("endpoint", endpoint)
      .option("fromBlock", "1")
      .option("toBlock", Long.MaxValue.toString)
      .option("blockStep", step)
      .option("backfilltimestamps", args.lift(5).getOrElse("false"))
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(graft.streaming.triggerOf(poll))
      .foreachBatch { (b: DataFrame, _: Long) =>
        Logs.appendIdempotent(b.sparkSession, b, table)
      }
      .start()
    println(s"[streamrpc] mode=${poll.map(_ => "tail-follow").getOrElse("catch-up")} " +
      s"endpoint=$endpoint table=$table checkpoint=$ckpt step=$step")
    poll match {
      case Some(_) =>
        while (q.isActive) {
          Thread.sleep(5000)
          graft.streaming.progressLine(q).foreach(l => println(s"[streamrpc] $l"))
        }
      case None =>
        q.awaitTermination()
        println(s"[streamrpc] caught up: rows=${Logs.read(spark, table).count()} " +
          s"hwm=${Logs.highWaterMark(spark, table)}")
    }
    spark.stop()
  }
}

package graftbench

import graft.sources.{Logs, RpcSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** evm_ingest: the `tools.StreamRpc` composition — an `RpcSource`
  * readStream, a checkpointed `foreachBatch` into
  * `Logs.appendIdempotent` — against the benchmark's mock node, in two
  * phases on one checkpoint:
  *  - backfill: the head is fixed; a `Trigger.AvailableNow` run drains
  *    the backlog;
  *  - follow: the node releases blocks on its open-loop schedule while
  *    a `ProcessingTime` trigger runs for a fixed time; then the node
  *    freezes its head and the stream is stopped once it has covered it. */
object Ingest {
  def run(spark: SparkSession, work: String, seconds: Double, endpoint: String): Map[String, Any] = {
    val plan = Main.readJson(s"$work/plan.json")
    val table = s"$work/ingest/logs"
    val ckpt = s"$work/ingest/checkpoint"
    val step = plan.get("block_step").asText
    val appendMs = scala.collection.mutable.ArrayBuffer[Double]()

    // The sink calls run on the stream's thread: they are timed under
    // the span open where the stream was started, so a phase span's
    // self time does not count them again.
    def start(trigger: Trigger, table: String = table, ckpt: String = ckpt,
        toBlock: Long = Long.MaxValue): StreamingQuery = {
      val parent = Trace.current
      Trace.span("sources.RpcSource.readStream", "ingest")(
        spark.readStream.format(RpcSource.Format)
          .option("endpoint", endpoint)
          .option("fromBlock", "1")
          .option("toBlock", toBlock.toString)
          .option("blockStep", step)
          .load())
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(trigger)
        .foreachBatch { (b: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          Trace.spanUnder(parent, "sinks.Logs.appendIdempotent", s"trigger:$id")(
            Logs.appendIdempotent(b.sparkSession, b, table))
          appendMs.synchronized(appendMs += (System.nanoTime() - t0) / 1e6)
          ()
        }
        .start()
    }

    // set-up: the same composition over the first blocks into a scratch
    // table, so the timed backfill starts on a warm JVM
    val warm = start(Trigger.AvailableNow(), s"$work/ingest/warmup_logs",
      s"$work/ingest/warmup_checkpoint", plan.get("warmup_blocks").asLong)
    warm.awaitTermination()
    warm.exception.foreach(e => throw e)
    val warmStats = Node.call(endpoint, "bench_stats", "[]")
    appendMs.synchronized(appendMs.clear())

    val firstOpMs = System.currentTimeMillis()
    val backfill = Trace.span("streaming.backfill", "ingest") {
      val q = start(Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    val backfillEndMs = System.currentTimeMillis()
    val backfillAppends = appendMs.synchronized(appendMs.toList)

    val follow = plan.get("follow")
    val intervalMs = follow.get("interval_ms").asLong
    val followS = math.max(2.0, seconds * follow.get("share").asDouble)
    // only the engine calls are spans: the waits in between are the
    // benchmark's, and the sink calls made meanwhile are timed on their own
    val q = Trace.span("streaming.follow.start", "ingest")(
      start(Trigger.ProcessingTime(s"${follow.get("trigger_ms").asLong} milliseconds")))
    // let the stream finish starting before the first block is due
    Thread.sleep(1000)
    val sched = Node.call(endpoint, "bench_follow", s"[$intervalMs]")
    Thread.sleep((followS * 1000).toLong)
    val finalHead = Node.call(endpoint, "bench_freeze", "[]").get("head").asLong
    val until = System.nanoTime() + 60L * 1000000000L
    def covered = Option(q.lastProgress).exists(p =>
      p.sources.headOption.exists(s => Option(s.endOffset).exists(_.trim.toLong >= finalHead)))
    while (!covered && q.isActive && System.nanoTime() < until) Thread.sleep(20)
    Trace.span("streaming.follow.stop", "ingest")(q.stop())
    q.exception.foreach(e => throw e)
    backfill.exception.foreach(e => throw e)
    Map("first_op_ms" -> firstOpMs, "backfill_end_ms" -> backfillEndMs,
      "measure_end_ms" -> System.currentTimeMillis(),
      "backfill_progress" -> Main.progressJson(backfill),
      "follow_progress" -> Main.progressJson(q),
      "follow_schedule" -> sched,
      "warmup_node_stats" -> warmStats,
      "append_ms" -> Map("backfill" -> backfillAppends,
        "follow" -> appendMs.synchronized(appendMs.toList).drop(backfillAppends.size)),
      "table" -> table, "warmup_table" -> s"$work/ingest/warmup_logs")
  }
}

/** The mock node's control methods (benchmark-only JSON-RPC names). */
object Node {
  private lazy val http = java.net.http.HttpClient.newHttpClient()
  def call(endpoint: String, method: String, params: String): com.fasterxml.jackson.databind.JsonNode = {
    val body = s"""{"jsonrpc":"2.0","id":1,"method":"$method","params":$params}"""
    val resp = http.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    Main.json.readTree(resp.body()).get("result")
  }
}

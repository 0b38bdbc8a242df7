package graft.tools

import graft.GraftSession
import graft.sources.Logs
import graft.streaming.LogStream

/** CLI: continuous ingestion — the unbounded mode of the reference's
  * poll loop (`main.go:217-241`). Watches `inputDir` for NDJSON
  * captures, micro-batches them idempotently into the logs table:
  * a parquet path, or a JDBC database when the target starts with
  * `jdbc:` (the reference's actual Postgres-sink deployment; table
  * name `logs`). Checkpointed for resume; bounded catch-up mode when
  * no poll interval is given (the `TO_BLOCK`-set analog).
  *
  * Usage: runMain graft.tools.StreamLogs <inputDir> <tablePathOrJdbcUrl> <checkpointDir> [pollSeconds]
  */
object StreamLogs {
  def main(args: Array[String]): Unit = {
    val Array(in, table, ckpt) = args.take(3)
    val poll = args.lift(3).map(s => s"$s seconds")
    val spark = GraftSession.get()
    val q =
      if (table.startsWith("jdbc:"))
        graft.sinks.JdbcSink.streamTo(
          LogStream.wireStream(spark, in), table, "logs", Logs.pk, ckpt,
          rangeCol = "block_number", pollInterval = poll)
      else LogStream.ingest(spark, in, table, ckpt, pollInterval = poll)
    println(s"[stream] mode=${poll.map(p => s"tail-follow/$p").getOrElse("catch-up")} " +
      s"table=$table checkpoint=$ckpt")
    poll match {
      case Some(_) =>
        // tail-follow: report progress until externally stopped
        while (q.isActive) {
          Thread.sleep(5000)
          graft.streaming.progressLine(q).foreach(l => println(s"[stream] $l"))
        }
      case None =>
        q.awaitTermination()
        val (n, hwm) =
          if (table.startsWith("jdbc:")) {
            val t = spark.read.jdbc(table, "logs", new java.util.Properties())
            (t.count(), t.agg(org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.max("block_number"),
              org.apache.spark.sql.functions.lit(0L))).collect()(0).getLong(0))
          } else (Logs.read(spark, table).count(), Logs.highWaterMark(spark, table))
        println(s"[stream] caught up: rows=$n hwm=$hwm")
    }
    spark.stop()
  }
}

package graft.streaming

import graft.sources.Logs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming rendering of the reference's ingestion loop
  * (`main.go:200-242`) and its streaming semantics (SURVEY §2.10).
  *
  * Mapping:
  * - T1 micro-batch windowing: the reference's fixed `blockStep`
  *   tumbling block window ↔ one micro-batch per trigger;
  *   `maxFilesPerTrigger` is the blockStep analog for file replay.
  * - T2 tail-follow + backpressure: `Trigger.ProcessingTime(sleep)` ↔
  *   the poll-sleep loop (`main.go:221-233`).
  * - T3 resume/exactly-once: checkpointed source offsets replace the
  *   DB high-water-mark scan, and the idempotent PK append
  *   ([[Logs.appendIdempotent]]) replaces `ON CONFLICT DO NOTHING` —
  *   the same two-layer at-least-once-delivery/exactly-once-effect
  *   contract (`main.go:206-215`, `get_logs.go:120`).
  * - T4 reorg/late data: watermarked streaming dedup; tombstones
  *   resolve through [[Logs.canonical]] on read.
  * - T5 bounded vs infinite: `Trigger.AvailableNow` ↔ `TO_BLOCK` set,
  *   `ProcessingTime` ↔ unset (`main.go:60-68`).
  *
  * The live `eth_getLogs` source is the DataSourceV2
  * [[graft.sources.RpcSource]] with address/block-range pushdown
  * (`tools.StreamRpc`); file replay here feeds the identical downstream
  * plan.
  */
object LogStream {

  /** The transformed wire stream: NDJSON captures → analytic rows. */
  def wireStream(
      spark: SparkSession,
      inputDir: String,
      maxFilesPerTrigger: Int = 100): DataFrame =
    Logs.fromWire(
      spark.readStream
        .schema(Logs.wireSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .json(inputDir))

  /** Stream NDJSON RPC captures from `inputDir` into the logs table.
    *
    * @param maxFilesPerTrigger blockStep analog: bound work per batch
    * @param pollInterval       None → bounded catch-up (AvailableNow);
    *                           Some(d) → tail-follow with that trigger
    * @param canonicalize honor same-PK `removed=true` tombstones by
    *                      swap-rewriting the touched partitions
    *                      ([[Logs.appendCanonical]]) instead of the
    *                      plain DO-NOTHING append
    * @param onBatch post-append hook per micro-batch — the
    *                subscriptions fan-out point
    *                ([[graft.serving.Subscriptions.Hub.publish]]);
    *                runs AFTER the idempotent sink append, so a
    *                replayed batch re-notifies (at-least-once, pg
    *                NOTIFY semantics) but never skips rows the sink
    *                kept */
  def ingest(
      spark: SparkSession,
      inputDir: String,
      tablePath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 100,
      pollInterval: Option[String] = None,
      canonicalize: Boolean = false,
      onBatch: DataFrame => Unit = _ => ()): StreamingQuery = {
    wireStream(spark, inputDir, maxFilesPerTrigger).writeStream
      .queryName("graft_logs_ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(triggerOf(pollInterval))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // replayed batches re-run on failure → the PK anti-join makes
        // the append idempotent (exactly-once effect)
        Logs.appendIdempotent(batch.sparkSession, batch, tablePath, canonicalize)
        onBatch(batch)
      }
      .start()
  }

  /** T6: watermarked tumbling-window aggregation over an event stream
    * (append mode — windows finalize when the watermark passes). */
  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      windowLength: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** T4: streaming dedup on the PK within the watermark horizon — the
    * state-bounded form of the idempotence contract for sinks that
    * can't anti-join (e.g. append-only JDBC). */
  def dedupStream(
      stream: DataFrame,
      keys: Seq[String],
      tsCol: String,
      watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark).dropDuplicates(keys)

  // ---- stateful operators (T6) -----------------------------------------

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** T6: gap-based sessionization with custom state
    * (`flatMapGroupsWithState`): events of one user separated by more
    * than `gapMillis` belong to different sessions. Closed sessions
    * emit when the event-time watermark passes their gap horizon
    * (EventTimeTimeout), so state per key is O(1) — the stateful-op
    * shape that survives unbounded streams. */
  def sessionize(
      events: org.apache.spark.sql.Dataset[UserEvent],
      gapMillis: Long): org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._

    def fn(userId: Long, batch: Iterator[UserEvent],
        state: GroupState[SessionState]): Iterator[Session] = {
      def toSession(s: SessionState) = Session(
        userId, new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last),
        s.n, s.total)
      if (state.hasTimedOut) {
        val out = state.getOption.map(toSession).iterator
        state.remove()
        out
      } else {
        val evs = batch.toSeq.sortBy(_.ts.getTime)
        var cur = state.getOption
        val closed = Seq.newBuilder[Session]
        evs.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.last <= gapMillis =>
              cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1, s.total + e.value))
            case Some(s) =>
              closed += toSession(s)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // a timeout below the current watermark is illegal; if late
          // batches already pushed the watermark past this session's
          // gap horizon, close it at the next opportunity instead
          state.setTimeoutTimestamp(
            math.max(s.last + gapMillis, state.getCurrentWatermarkMs() + 1))
        }
        closed.result().iterator
      }
    }

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}

package graft

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

package object streaming {

  /** The trigger every graft stream runs under: `pollInterval` None →
    * drain what is present and stop (`AvailableNow`, the bounded-run
    * form); Some(interval) → tail-follow, one micro-batch per
    * `interval` (`ProcessingTime`). */
  def triggerOf(pollInterval: Option[String]): Trigger =
    pollInterval.map(Trigger.ProcessingTime(_)).getOrElse(Trigger.AvailableNow())

  /** A tail-follow status line from the progress the query already
    * keeps — batch id, input rows, source end offset — so a status loop
    * runs no Spark job; None before the first progress. */
  def progressLine(q: StreamingQuery): Option[String] =
    Option(q.lastProgress).map(p => s"batch=${p.batchId} rows=${p.numInputRows} " +
      s"end=${p.sources.headOption.map(_.endOffset).orNull}")
}

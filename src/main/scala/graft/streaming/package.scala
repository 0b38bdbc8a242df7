package graft

import org.apache.spark.sql.streaming.Trigger

package object streaming {

  /** The trigger every graft stream runs under: `pollInterval` None →
    * drain what is present and stop (`AvailableNow`, the bounded-run
    * form); Some(interval) → tail-follow, one micro-batch per
    * `interval` (`ProcessingTime`). */
  def triggerOf(pollInterval: Option[String]): Trigger =
    pollInterval.map(Trigger.ProcessingTime(_)).getOrElse(Trigger.AvailableNow())
}

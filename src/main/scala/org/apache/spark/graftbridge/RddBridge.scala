package org.apache.spark.graftbridge

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** `RDD.unpersist` logs a WARN on every call for a locally checkpointed
  * RDD ("its lineage has been truncated…"), which [[graft.Pins.release]]
  * frees on purpose once per append. `SparkContext.unpersistRDD`, the
  * call behind it, does the same release without the line, but it and
  * an RDD's checkpoint data are `private[spark]`; this object lives
  * inside the `org.apache.spark` namespace to reach them. */
object RddBridge {
  /** Drop `rdd`'s blocks and its persistent-RDD entry; other RDDs go
    * through `RDD.unpersist` as before. */
  def unpersist(rdd: RDD[_], blocking: Boolean): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    else rdd.unpersist(blocking)
}

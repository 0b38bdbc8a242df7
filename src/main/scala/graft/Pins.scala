package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Block-manager pin bookkeeping for checkpointed Datasets.
  *
  * `Dataset.localCheckpoint` pins its materialized rows in the block
  * manager, and `Dataset.unpersist` does NOT release them: unpersist
  * talks to the CacheManager (`df.cache()` entries), which knows
  * nothing about the checkpoint's RDD. Verified empirically on Spark
  * 4.1: after `localCheckpoint(true)` then `unpersist(true)`,
  * `sparkContext.getPersistentRDDs` still holds the pin. The only
  * working release is RDD-level `unpersist` on the `LogicalRDD`
  * leaves — which also DESTROYS the data: the lineage was truncated
  * at the checkpoint, so a released local checkpoint cannot be
  * recomputed (reads fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
  * Hence the two-tier API:
  *
  *  - [[release]] for SUPERSEDED intermediates — iterative operators
  *    (connected components, BPE merge rounds) checkpoint each round
  *    and must free the previous round's blocks or a long-lived
  *    driver (streaming, notebooks, bench JVMs) accumulates pins
  *    unboundedly;
  *  - [[materializeResult]] for a RESULT whose lineage sits on pins —
  *    rewrite the rows to parquet (storage that survives every pin
  *    being dropped), read that back, and only then [[release]] the
  *    inputs. The returned frame holds zero pins.
  *
  * Reliable `Dataset.checkpoint` pins nothing (no block-manager
  * entry) but leaves one `rdd-N` directory per call under the
  * checkpoint dir that Spark never deletes on its own
  * (`ContextCleaner` only with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` AND GC
  * pressure) — [[release]] deletes those files too when asked, the
  * same discipline [[graft.streaming.DocStream]] applies per batch.
  */
object Pins {

  /** The `LogicalRDD` leaves of the analyzed plan — for a frame
    * returned by `checkpoint`/`localCheckpoint` this is exactly the
    * (single) materialized RDD backing it. */
  def pinnedRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.toSeq

  /** RDD-level unpersist of every `LogicalRDD` leaf of `df`,
    * optionally deleting reliable-checkpoint `rdd-N` directories.
    * After this call a locally-checkpointed `df` is UNREADABLE —
    * only call it on frames nothing will evaluate again. */
  def release(df: DataFrame, deleteCheckpointFiles: Boolean = false,
      blocking: Boolean = false): Unit = {
    val rdds = pinnedRdds(df)
    if (deleteCheckpointFiles) {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      rdds.flatMap(_.getCheckpointFile).foreach { f =>
        val p = new Path(f)
        try p.getFileSystem(conf).delete(p, true)
        catch { case _: java.io.IOException => () }
      }
    }
    // a local checkpoint is released without RDD.unpersist's
    // lineage-truncated WARN: here the truncation is the point
    rdds.foreach(org.apache.spark.graftbridge.RddBridge.unpersist(_, blocking))
  }

  // temp result dirs (no reliable checkpointDir given) live for the
  // JVM: one shutdown hook drains the queue so repeated operator
  // calls (bench warmups, notebook re-runs) don't leave orphans
  private val tempDirs = new ConcurrentLinkedQueue[java.io.File]()
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var d = tempDirs.poll()
      while (d != null) { deleteRecursively(d); d = tempDirs.poll() }
    }, "graft-pins-tempdir-cleanup"))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Rewrite `result` — whose lineage sits on pinned local
    * checkpoints — to parquet and return the read-back frame, so the
    * caller can [[release]] every input pin and still read the
    * result. Where the parquet goes mirrors the checkpoint contract:
    * under `checkpointDir` when one is given (caller-managed
    * lifecycle, exactly like Spark's own `rdd-N` files), else a
    * JVM-lifetime temp dir deleted at exit (the `localCheckpoint`
    * one-JVM deployment, where exit cleanup is the right scope). */
  def materializeResult(result: DataFrame, checkpointDir: Option[String],
      tag: String): DataFrame = {
    val spark = result.sparkSession
    val dir = checkpointDir match {
      case Some(d) => s"$d/graft-$tag-${UUID.randomUUID()}"
      case None =>
        hook
        val d = java.nio.file.Files
          .createTempDirectory(s"graft-$tag-").toFile
        tempDirs.add(d)
        new java.io.File(d, "result").getAbsolutePath
    }
    result.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }
}

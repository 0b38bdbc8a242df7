package graftbench

import graft.streaming.DocStream
import org.apache.spark.sql.SparkSession

/** curate_drain: `DocStream.curateNearDup` drains a directory of
  * generated document files under AvailableNow with a fixed
  * `maxFilesPerTrigger`, each drain into a fresh corpus, index and
  * checkpoint. A short drain runs first as set-up; timed drains then
  * repeat until the run's time is up, each showing its per-trigger
  * growth. */
object Drain {
  def run(spark: SparkSession, work: String, seconds: Double): Map[String, Any] = {
    val plan = Main.readJson(s"$work/plan.json")
    val filesPerTrigger = plan.get("max_files_per_trigger").asInt
    def drain(k: String): Map[String, Any] = {
      val in = s"$work/drain/in_$k"
      val out = s"$work/drain/out_$k"
      val t0 = System.nanoTime()
      val q = Trace.span("streaming.DocStream.curateNearDup", s"drain:$k") {
        val q = DocStream.curateNearDup(spark, in, s"$out/corpus", s"$out/index",
          s"$out/checkpoint", maxFilesPerTrigger = filesPerTrigger)
        q.awaitTermination()
        q
      }
      q.exception.foreach(e => throw e)
      Map("drain" -> k, "wall_s" -> (System.nanoTime() - t0) / 1e9,
        "corpus" -> s"$out/corpus", "index" -> s"$out/index",
        "progress" -> Main.progressJson(q))
    }
    // set-up: one short drain, so the timed drains start on a warm JVM
    val warmup = drain("warmup")
    val firstOpMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val drains = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val it = (0 until plan.get("drains").asInt).iterator
    while ((drains.isEmpty || System.nanoTime() < deadline) && it.hasNext)
      drains += drain(it.next().toString)
    Map("first_op_ms" -> firstOpMs, "measure_end_ms" -> System.currentTimeMillis(),
      "drains" -> drains.toList, "warmup" -> warmup)
  }
}

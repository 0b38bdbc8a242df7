package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Engine side of the benchmark: one fresh JVM per run, launched
  * directly (not through sbt). It reads the inputs the Python side
  * generated under `--work`, runs one workload against the engine's
  * public functions, and writes raw timings, samples, query results,
  * streaming progress and (with `--trace 1`) spans and listener
  * counters to `--out`. All checking and all metric arithmetic happen
  * on the Python side.
  *
  * Usage: graftbench.Main --workload <evm_ingest|evm_query|curate_drain>
  *   --work <dir> --out <file> --seconds <n> --trace <0|1> [--endpoint <url>]
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readJson(path: String): JsonNode = json.readTree(new java.io.File(path))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    Trace.on = opts.getOrElse("trace", "0") == "1"

    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val listener = if (Trace.on) {
      val l = new Trace.Listener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val sessionReadyMs = System.currentTimeMillis()

    val out: Map[String, Any] = workload match {
      case "evm_query" => Query.run(spark, work, seconds)
      case "evm_ingest" => Ingest.run(spark, work, seconds, opts("endpoint"))
      case "curate_drain" => Drain.run(spark, work, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val endMs = System.currentTimeMillis()
    listener.foreach(_.settle())
    val result = Map(
      "workload" -> workload,
      "session_ready_ms" -> sessionReadyMs,
      "end_ms" -> endMs,
      "peak_rss_kb" -> peakRssKb(),
      "gc_ms" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ > 0).sum,
      "confs" -> effectiveConfs(spark),
      "cpus" -> spark.sparkContext.defaultParallelism,
      "out" -> out,
      "trace" -> (if (Trace.on) Map(
        "spans" -> Trace.spanList,
        "work" -> listener.map(_.snapshot).getOrElse(Map.empty)) else Map.empty))
    val tmp = new java.io.File(opts("out") + ".tmp")
    json.writeValue(tmp, result)
    tmp.renameTo(new java.io.File(opts("out")))
    spark.stop()
  }

  /** Peak resident set of this JVM (`VmHWM`), in kB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** The session's explicitly set confs, minus per-process identifiers. */
  def effectiveConfs(spark: SparkSession): Map[String, String] = {
    def perProcess(k: String) = k.startsWith("spark.app.") || k.endsWith(".port") ||
      k.endsWith(".host") || k == "spark.executor.id" || k.startsWith("spark.sql.warehouse")
    (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll).filterNot { case (k, _) => perProcess(k) }
  }

  /** Run `body` with `tag` as the listener attribution key of every
    * Spark job it starts on this thread. */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.TagKey)
    sc.setLocalProperty(Trace.TagKey, tag)
    try body finally sc.setLocalProperty(Trace.TagKey, prev)
  }

  def progressJson(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[JsonNode] =
    q.recentProgress.toSeq.map(p => json.readTree(p.json))
}

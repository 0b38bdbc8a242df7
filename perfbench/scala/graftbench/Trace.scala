package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.collection.mutable

/** Spans around the benchmark's calls into the engine's public
  * functions, plus Spark listener counters keyed by a tag (one query
  * request, or one streaming trigger). Everything stays in memory and
  * is written out with the run's result; with tracing off every entry
  * point is a pass-through and no listener is registered. */
object Trace {
  @volatile var on = false

  final case class Span(id: Int, parent: Int, name: String, req: String,
      startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  /** Id of the calling thread's open span, 0 when none is open. */
  def current: Int = stack.get.headOption.getOrElse(0)

  /** Time `body` as span `name` under the calling thread's open span. */
  def span[T](name: String, req: String)(body: => T): T = spanUnder(current, name, req)(body)

  /** Time `body` as span `name` under span `parent`, which another
    * thread opened: a `foreachBatch` body runs on the stream's thread,
    * not on the one that started the stream. */
  def spanUnder[T](parent: Int, name: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized(spans += Span(id, parent, name, req, t0, t1))
      }
    }

  def spanList: Seq[Map[String, Any]] = spans.synchronized(spans.toList).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))

  /** Per-tag Spark work, summed from task-end events. */
  final class Work {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var bytesRead = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var recordsWritten = 0L; var bytesWritten = 0L
    val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
    def toMap: Map[String, Any] = {
      val skews = stageTaskMs.values.filter(_.size >= 2).map { ds =>
        val s = ds.sorted
        val med = math.max(1L, s(s.size / 2))
        s.last.toDouble / med
      }
      Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
        "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "bytes_read" -> bytesRead,
        "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite,
        "records_written" -> recordsWritten, "bytes_written" -> bytesWritten,
        "skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size))
    }
  }

  /** Tag of the work a job belongs to: the benchmark's own local
    * property, else the streaming batch id Structured Streaming sets on
    * its execution thread. */
  val TagKey = "graftbench.tag"
  private def tagOf(p: java.util.Properties): String =
    if (p == null) "other"
    else Option(p.getProperty(TagKey))
      .orElse(Option(p.getProperty("streaming.sql.batchId"))
        .map(b => s"trigger:${Option(p.getProperty("sql.streaming.queryId")).getOrElse("?")}:$b"))
      .getOrElse("other")

  class Listener extends SparkListener {
    private val work = mutable.Map[String, Work]()
    private val stageTag = mutable.Map[Int, String]()
    @volatile var lastEventNs = System.nanoTime()
    private def w(tag: String) = work.getOrElseUpdate(tag, new Work)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      lastEventNs = System.nanoTime()
      val t = tagOf(e.properties)
      w(t).jobs += 1
      e.stageIds.foreach(stageTag(_) = t)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      lastEventNs = System.nanoTime()
      val t = stageTag.getOrElseUpdate(e.stageInfo.stageId, tagOf(e.properties))
      w(t).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      lastEventNs = System.nanoTime()
      val m = e.taskMetrics
      if (m != null) {
        val x = w(stageTag.getOrElse(e.stageId, "other"))
        x.tasks += 1
        x.runMs += m.executorRunTime
        x.cpuNs += m.executorCpuTime
        x.gcMs += m.jvmGCTime
        x.bytesRead += m.inputMetrics.bytesRead
        x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.recordsWritten += m.outputMetrics.recordsWritten
        x.bytesWritten += m.outputMetrics.bytesWritten
        x.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
      }
    }

    /** Wait until the listener bus has been quiet for `quietMs`. */
    def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
      val t0 = System.nanoTime()
      while ((System.nanoTime() - lastEventNs) / 1000000 < quietMs &&
          (System.nanoTime() - t0) / 1000000 < maxMs) Thread.sleep(50)
    }

    def snapshot: Map[String, Map[String, Any]] = synchronized(work.map { case (k, v) => k -> v.toMap }.toMap)
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Plan-shape counts of an executed (or about-to-execute) plan,
    * looking through adaptive stages. */
  def planShape(df: DataFrame): Map[String, Int] = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    val names = PlanWalk.collect(plan) { case p => p.nodeName }
    def count(f: String => Boolean) = names.count(f)
    Map(
      "exchanges" -> count(n => n.contains("Exchange") && !n.startsWith("Reused")),
      "codegen_stages" -> count(_.startsWith("WholeStageCodegen")),
      "scans" -> count(n => n.startsWith("Scan") || n.contains("FileScan") || n == "BatchScan"),
      "sorts" -> count(_ == "Sort"),
      "windows" -> count(_ == "Window"),
      "hash_aggregates" -> count(_ == "HashAggregate"),
      "sort_aggregates" -> count(_ == "SortAggregate"),
      "broadcast_joins" -> count(_.startsWith("BroadcastHashJoin")),
      "sort_merge_joins" -> count(_ == "SortMergeJoin"),
      "nested_loop_joins" -> count(_.contains("NestedLoopJoin")))
  }
}

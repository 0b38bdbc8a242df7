package graft

import graft.sources.Logs
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** One request shape compiles once: [[HoistLiterals]] keeps fresh
  * numeric bounds out of the generated source, so re-running a shape
  * with new values hits the compiled-class cache — while the scan still
  * prunes partitions and pushes its filters into parquet. */
class CompileOnceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val far = Logs.blocksPerPartition + 1

  /** A logs table with two `block_range`s: blocks `[1, 2000)` and `[far, far + 500)`. */
  private lazy val table: String = {
    val t = Files.createTempDirectory("compile_once").toString + "/t"
    def logs(from: Long, until: Long): DataFrame = spark.range(from, until, 1, 4).select(
      concat(lit("0xa"), (col("id") % 5).cast(StringType)).as("address"),
      lit("0xsig").as("topic0"), lit(null).cast(StringType).as("topic1"),
      lit(null).cast(StringType).as("topic2"), lit(null).cast(StringType).as("topic3"),
      lit("0x01").as("data"), concat(lit("0xb"), col("id").cast(StringType)).as("block_hash"),
      col("id").as("block_number"),
      concat(lit("0xtx"), col("id").cast(StringType)).as("transaction_hash"),
      lit(0L).as("transaction_index"), (col("id") % 3).as("log_index"), lit(false).as("removed"),
      lit(null).cast(TimestampType).as("block_timestamp"))
    Logs.appendIdempotent(spark, logs(1, 2000).unionByName(logs(far, far + 500)), t)
    t
  }

  /** Classes whole-stage and expression codegen compiled while `body` ran. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def rollup(lo: Long, hi: Long): DataFrame =
    Logs.read(spark, table).filter(col("block_number").between(lo, hi))
      .groupBy("address").agg(count(lit(1)).as("n"), sum("log_index").as("s"))

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) { case s: FileSourceScanExec => s }

  private def hoisted(p: SparkPlan): Seq[HoistedLiteral] = collect(p) {
    case f: FilterExec => f.condition.collect { case h: HoistedLiteral => h }
    case pr: ProjectExec => pr.projectList.flatMap(_.collect { case h: HoistedLiteral => h })
  }.flatten

  test("a range aggregate with fresh bounds compiles no class the second time (shuffle under AQE)") {
    val first = rollup(1013, 1771)
    assert(first.collect().map(_.getLong(1)).sum === 1771 - 1013 + 1)
    val plan = first.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.nonEmpty)
    assert(hoisted(plan).map(_.value).toSet === Set(1013L, 1771L))
    var n = 0L
    assert(compiles { n = rollup(1209, 1888).collect().map(_.getLong(1)).sum } === 0)
    assert(n === 1888 - 1209 + 1)
  }

  test("a projection's literals are hoisted too, and the plan prints as before") {
    def q(k: Long, lo: Long) = Logs.read(spark, table).filter(col("block_number") > lo)
      .select((col("block_number") * k).as("x"), col("address"))
      .groupBy("address").agg(max("x").as("m"))
    val top = far + 499
    assert(q(7, 1500).collect().map(_.getLong(1)).max === top * 7)
    var m = 0L
    assert(compiles { m = q(11, 1600).collect().map(_.getLong(1)).max } === 0)
    assert(m === top * 11)
    val text = q(13, 1700).queryExecution.executedPlan.toString
    assert(text.contains("* 13)") && text.contains("> 1700)"))
  }

  test("the scan keeps its literals: parquet pushdown and partition pruning still apply") {
    val df = spark.read.parquet(table)
      .filter(col("block_range") === 0L && col("block_number") >= 1500L)
      .groupBy("address").count()
    assert(df.collect().map(_.getLong(1)).sum === 500L)
    val plan = df.queryExecution.executedPlan
    val scan = scans(plan).head
    assert((scan.partitionFilters ++ scan.dataFilters).forall(_.collect { case h: HoistedLiteral => h }.isEmpty))
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(block_number,1500)"))
    assert(scan.metrics("numPartitions").value === 1L)
    assert(hoisted(plan).map(_.value) === Seq(1500L))
  }
}

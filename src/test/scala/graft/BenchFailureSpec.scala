package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** `graft.Bench` counts a query that throws as a failure: it is kept
  * out of the total and the medians and reported as `"failed"`. */
class BenchFailureSpec extends SparkSpec {

  test("a query that throws is failed, not timed, and the summary counts it") {
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "q_ok" -> ((s, _) => s.range(3).toDF()),
      "q_throws" -> ((s, _) => s.range(3).select(raise_error(lit("planted failure")))))
    val measured = Bench.measureInProcess(Seq("q_ok", "q_throws"), Some(spark),
      runsOverride = Some(1), queries = queries).toMap
    assert(measured("q_ok").isDefined)
    assert(measured("q_throws").isEmpty)

    val out = Files.createTempDirectory("bench_fail").resolve("bench.json")
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(stdout) {
      Bench.emit(measured.collect { case (n, Some(st)) => n -> st }.toSeq, out.toString,
        startNanos = System.nanoTime(), quiet = false,
        failed = measured.collect { case (n, None) => n }.toSeq)
    }
    val summary = stdout.toString("UTF-8").trim.split("\n").last
    assert(summary.contains("\"n\":1,") && summary.contains("\"failed\":1,"), summary)
    assert(summary.getBytes("UTF-8").length <= 200, summary)
    val full = new String(Files.readAllBytes(out), "UTF-8")
    assert(full.contains("\"failed\":[\"q_throws\"]"), full)
    assert(Bench.statsOfChildJson(full).keySet === Set("q_ok"))
    assert(full.startsWith(s"""{"metric":"total","value":${measured("q_ok").get.median},"""))
  }
}

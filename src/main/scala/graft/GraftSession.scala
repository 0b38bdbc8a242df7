package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's defaults.
  *
  * - non-ANSI: ELT-lenient semantics — malformed hex / overflow decode
  *   to null instead of failing the job (the reference's pipeline never
  *   aborts on bad payloads either; Postgres numeric is unbounded).
  * - UTC: oracle parity.
  * - AQE on: runtime coalescing/skew-join — the local stand-in for the
  *   re-planning a 1000-executor cluster needs.
  * - shuffle.partitions sized to local cores here; on a real cluster
  *   this is cores×(2..3) or left to AQE's coalescing.
  * - [[HoistLiterals]], injected as a query post-planner strategy rule:
  *   numeric, date and timestamp literals of filters and projections
  *   are read from fields of the generated code, so a request shape
  *   served with fresh bounds compiles once, not once per request.
  */
object GraftSession {
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // driver-generated events.parquet stores TIMESTAMP(NANOS) which the
      // vectorized reader rejects; read as long and convert in Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(_.injectQueryPostPlannerStrategyRule(_ => HoistLiterals))

  def get(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

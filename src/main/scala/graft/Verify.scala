package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet under
  * `<outDir>/<name>/`, plus `oracle_sql.json` (the oracle SQL of the
  * dumped queries) for a DuckDB compare (`scripts/check_oracle.py`).
  * A query that throws leaves no result dir, and Verify exits 1
  * naming every such query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder()
      // dump timestamps as TIMESTAMP_MICROS: the driver's pandas
      // comparator reads parquet ns-timestamps as datetime64[ns] but
      // DuckDB results as datetime64[us] — dtype mismatch fails the
      // hash even when instants are equal (q13, round 1)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=q32…,q38… restricts the dump for fast
    // targeted gates while iterating (the driver runs unrestricted)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      // a dir left by an earlier run must not stand in for this one's
      val dir = new java.io.File(s"$outDir/$name")
      org.apache.hadoop.fs.FileUtil.fullyDelete(dir)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir.getPath)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(",")}")
      sys.exit(1)
    }
  }
}

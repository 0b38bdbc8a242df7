package graft.tools

import graft.GraftSession
import graft.functions.Abi
import graft.operators.EventViews
import graft.sources.{Logs, Price}
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

/** CLI: the query-serving surface — reference lifecycle E3. The
  * reference serves its decoded event views to analysts over
  * Postgres + Postgraphile (`docker-compose.yaml:46-72`); here the
  * same tables, decode-function surface, and generated views are
  * served over HiveServer2's JDBC/Thrift protocol from one long-lived
  * Spark session — `beeline -u jdbc:hive2://localhost:<port>` or any
  * Hive-JDBC BI tool connects and queries them as plain SQL.
  *
  * Single-session mode is required: the views/functions live in THIS
  * session, and each JDBC connection must share it rather than get a
  * blank one. On a cluster this same object serves from the driver,
  * fanning queries out over the executors — the Spark answer to the
  * reference's single-node Postgres.
  *
  * Usage: runMain graft.tools.ServeSql <logsPath> [pricePath|-] [port] [snapshot|-] [chains|-]
  *
  * `snapshot` = `latest` or a version number: the `logs` table (and
  * everything derived — canonical view, all 10 event views) serves a
  * PINNED snapshot instead of the live table, so every analyst query
  * sees one consistent state while ingest/compaction keep running
  * (MVCC retention makes the pin durable across rewrites).
  *
  * `chains` = comma-separated `name=parquetPath` pairs (r10): each
  * becomes a REAL catalog database with an external `logs` table and
  * the 10 permanent decode views
  * ([[EventViews.registerChainNamespace]] — the reference's
  * database-per-chain deploy, `db-create.sql:1-10`), so beeline can
  * `select … from moonbeam.transfer_… union all ethereum.transfer_…`.
  */
object ServeSql {
  def main(args: Array[String]): Unit = {
    val logsPath = args(0)
    val pricePath = args.lift(1).filterNot(_ == "-")
    val port = args.lift(2).getOrElse("10000")
    val snapshot = args.lift(3).filterNot(_ == "-")
    val spark = GraftSession.builder()
      .config("hive.server2.thrift.port", port)
      .config("hive.server2.thrift.bind.host", "localhost")
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val logs = snapshot match {
      case Some("latest") => graft.sources.Snapshots.read(spark, logsPath)
      case Some(v) => graft.sources.Snapshots.read(spark, logsPath, Some(v.toLong))
      case None =>
        if (logsPath.endsWith(".ndjson") || logsPath.endsWith(".json"))
          Logs.readNdjson(spark, logsPath)
        else Logs.read(spark, logsPath)
    }
    logs.createOrReplaceTempView("logs")
    Logs.canonical(logs).createOrReplaceTempView("logs_canonical")
    pricePath.foreach(p => Price.read(spark, p).createOrReplaceTempView("price"))
    Abi.registerSqlFunctions(spark)
    EventViews.registerAll(spark, Logs.canonical(logs))
    val chains = args.lift(4).filterNot(_ == "-")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      .map { spec =>
        spec.split("=", 2) match {
          case Array(name, path) =>
            EventViews.registerChainNamespace(spark, name, path)
            name
          case _ => sys.error(s"chains: expected name=parquetPath, got '$spec'")
        }
      }
    HiveThriftServer2.startWithContext(spark.sqlContext)
    val views = EventViews.referenceViews.map(_.viewName)
    println(s"[serve] jdbc:hive2://localhost:$port ready${snapshot.map(v => s" (pinned snapshot $v)").getOrElse("")} — tables: logs, logs_canonical" +
      pricePath.map(_ => ", price").getOrElse("") +
      s"; ${views.size} views: ${views.take(3).mkString(", ")}, ..." +
      (if (chains.isEmpty) "" else s"; chain databases: ${chains.mkString(", ")}"))
    Thread.sleep(Long.MaxValue) // serve until externally stopped
  }
}

package graft.tools

import graft.GraftSession
import graft.functions.Abi
import graft.operators.EventViews
import graft.serving.GraphQL
import graft.sources.{Logs, Price}

/** CLI: the GraphQL serving surface — the reference's E3 Postgraphile
  * layer (`docker-compose.yaml:46-72`) over Spark. Registers the same
  * tables and generated views as [[ServeSql]], then serves
  * `POST /graphql` compiling Postgraphile-style queries (condition /
  * first / offset / orderBy, connection-shaped responses) to single
  * Spark SQL statements.
  *
  * Usage: runMain graft.tools.ServeGraphql <logsPath> [pricePath|-] [port]
  *
  * Probe:
  *   curl -s localhost:<port>/graphql -d '{ logs_canonical(first: 5)
  *     { address block_number } }'
  */
object ServeGraphql {
  def main(args: Array[String]): Unit = {
    val logsPath = args(0)
    val pricePath = args.lift(1).filterNot(_ == "-")
    val port = args.lift(2).map(_.toInt).getOrElse(8080)
    val spark = GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")
    val logs =
      if (logsPath.endsWith(".ndjson") || logsPath.endsWith(".json"))
        Logs.readNdjson(spark, logsPath)
      else Logs.read(spark, logsPath)
    logs.createOrReplaceTempView("logs")
    Logs.canonical(logs).createOrReplaceTempView("logs_canonical")
    pricePath.foreach(p => Price.read(spark, p).createOrReplaceTempView("price"))
    Abi.registerSqlFunctions(spark)
    EventViews.registerAll(spark, Logs.canonical(logs))
    // relations DERIVED from the key-column convention (Postgraphile
    // reads FKs; parquet has none, so `price` keyed by `address` is
    // the declaration): every registered view carrying `address` or
    // the decode alias `contract_address` gets a `prices` field —
    // logs, logs_canonical and all 10 generated views, with nothing
    // enumerated by hand
    val relations: GraphQL.Relations =
      if (pricePath.isEmpty) Map.empty
      else GraphQL.deriveRelations(spark, Seq(("price", "address")))
    // the natural INTERFACE over the generated event views (r9): one
    // feed of heterogeneous decoded events in block order — the
    // shared evt_* meta columns are bare interface fields (derived as
    // the members' schema intersection), `... on <view>` fragments
    // narrow per row. Strictly more capable than a union here, since
    // the views genuinely share columns.
    val interfaces: GraphQL.Interfaces =
      Map("events" -> EventViews.referenceViews.map(_.viewName))
    GraphQL.serve(spark, port, relations, interfaces = interfaces)
    println(s"[graphql] http://localhost:$port/graphql ready — tables: logs, " +
      s"logs_canonical${pricePath.map(_ => ", price").getOrElse("")}; " +
      s"${EventViews.referenceViews.size} views; interface: events" +
      (if (relations.nonEmpty) "; relation: prices (by address)" else ""))
    Thread.sleep(Long.MaxValue) // serve until externally stopped
  }
}

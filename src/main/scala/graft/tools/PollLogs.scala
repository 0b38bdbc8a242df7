package graft.tools

import graft.GraftSession
import graft.sources.{Logs, Price, Rpc}

/** CLI: the LIVE ingestion loop — poll an EVM JSON-RPC endpoint for
  * logs (and, with token/oracle pairs, per-window `eth_call` price
  * probes) exactly like the reference binary (`main.go:200-242`): head
  * probe, tumbling block windows, retry/backoff, high-water-mark
  * resume, idempotent append. Each window is read through the
  * [[graft.sources.RpcSource]] DataSource ([[Rpc.ingestLoop]]), the
  * same fetch and transform `StreamRpc` streams.
  *
  * Usage: runMain graft.tools.PollLogs <endpoint> <table> [toBlock]
  *   [blockStep] [contractsCsv] [rescanDepth] [tokensCsv] [oraclesCsv] [priceTable] [backfillTs]
  * (tokensCsv/oraclesCsv pair up positionally — the reference's
  * TOKENS/ORACLES env contract, `main.go:39-48`.)
  */
object PollLogs {
  /** `-`, `''` and `""` are empty placeholders: sbt's runMain passes
    * shell-style quotes through literally, so positional args need a
    * spellable "none". */
  private def csv(a: Option[String]): Seq[String] =
    a.map(_.stripPrefix("'").stripSuffix("'").stripPrefix("\"").stripSuffix("\""))
      .filter(s => s.nonEmpty && s != "-")
      .map(_.split(",").toSeq).getOrElse(Seq.empty)

  def main(args: Array[String]): Unit = {
    val Array(endpoint, table) = args.take(2)
    val cfg = Rpc.Config(
      endpoint,
      contracts = csv(args.lift(4)),
      toBlock = args.lift(2).map(_.toLong),
      blockStep = args.lift(3).map(_.toLong).getOrElse(100L),
      rescanDepth = args.lift(5).map(_.toLong).getOrElse(0L),
      tokens = csv(args.lift(6)),
      oracles = csv(args.lift(7)),
      priceTable = args.lift(8).filter(s => s.nonEmpty && s != "-"),
      backfillTimestamps = args.lift(9).contains("true"))
    val spark = GraftSession.get()
    println(s"[poll] endpoint=$endpoint resume=${Logs.highWaterMark(spark, table)} " +
      s"toBlock=${cfg.toBlock.getOrElse("∞")} step=${cfg.blockStep} rescan=${cfg.rescanDepth} " +
      s"pricePairs=${cfg.tokens.length}")
    val last = Rpc.ingestLoop(spark, cfg, table)
    println(s"[poll] done lastBlock=$last rows=${Logs.read(spark, table).count()} " +
      s"hwm=${Logs.highWaterMark(spark, table)}" +
      cfg.priceTable.map(pt => s" priceRows=${Price.read(spark, pt).count()}").getOrElse(""))
    spark.stop()
  }
}

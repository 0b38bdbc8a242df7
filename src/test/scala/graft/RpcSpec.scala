package graft

import graft.sources.{Logs, Rpc}
import java.nio.file.Files

/** The live E1 loop against the mock node: windowing, resume, retry,
  * window-skip, and source-side address pushdown. */
class RpcSpec extends SparkSpec {

  private def newServer(maxBlock: Long): MockRpcServer = {
    val s = new MockRpcServer
    s.logs = (1L to maxBlock).map(b => s.MockLog(b, if (b % 2 == 0) "0xeven" else "0xodd", 0))
    s.head = maxBlock
    s
  }
  private val noSleep: Long => Unit = _ => ()

  test("bounded poll loop ingests all windows and resumes from hwm") {
    val s = newServer(25)
    try {
      val table = Files.createTempDirectory("rpc_tbl").toString + "/t"
      val cfg = Rpc.Config(s.endpoint, blockStep = 10, toBlock = Some(25))
      val last = Rpc.ingestLoop(spark, cfg, table, noSleep)
      assert(last === 25)
      assert(Logs.read(spark, table).count() === 25)
      assert(Logs.highWaterMark(spark, table) === 25)
      // chain advances; re-run with no explicit fromBlock → hwm+1 resume
      s.logs = s.logs ++ (26L to 30L).map(b => s.MockLog(b, "0xodd", 0))
      s.head = 30
      Rpc.ingestLoop(spark, Rpc.Config(s.endpoint, blockStep = 10, toBlock = Some(30)), table, noSleep)
      assert(Logs.read(spark, table).count() === 30)
      // windows requested were step-bounded and resumed past 25
      val windows = s.requests.filter(_.contains("eth_getLogs"))
      assert(windows.exists(_.contains("\"fromBlock\":\"0x1a\""))) // 26
    } finally s.stop()
  }

  test("backfillTimestamps fills block_timestamp from header probes; views see it") {
    val s = newServer(20)
    try {
      val table = Files.createTempDirectory("rpc_ts").toString + "/t"
      Rpc.ingestLoop(spark,
        Rpc.Config(s.endpoint, blockStep = 10, toBlock = Some(20), backfillTimestamps = true),
        table, noSleep)
      val rows = Logs.read(spark, table)
        .select("block_number", "block_timestamp").collect()
      assert(rows.length === 20)
      rows.foreach { r =>
        val ts = r.getTimestamp(1)
        assert(ts != null, s"block ${r.getLong(0)} has null block_timestamp")
        assert(ts.getTime / 1000 === 1600000000L + r.getLong(0) * 12)
      }
      // one header probe per distinct block, not per row or per window
      val probes = s.requests.filter(_.contains("eth_getBlockByNumber"))
      assert(probes.length === 20)
      // the analyst surface: evt_block_time is finally non-null
      import org.apache.spark.sql.functions.col
      val viewDef = graft.operators.EventViews.referenceViews.head
      val evt = graft.operators.EventViews.project(
        Logs.read(spark, table)
          .withColumn("topic0", org.apache.spark.sql.functions.lit(viewDef.sigHash)),
        viewDef)
      assert(evt.filter(col("evt_block_time").isNull).count() === 0)
    } finally s.stop()
  }

  test("rescanDepth re-pulls the tip; a reorged block resolves via canonical") {
    val s = newServer(10)
    try {
      val table = Files.createTempDirectory("rpc_tbl").toString + "/t"
      Rpc.ingestLoop(spark, Rpc.Config(s.endpoint, blockStep = 20, toBlock = Some(10)), table, noSleep)
      assert(Logs.read(spark, table).count() === 10)
      // reorg: block 10's log is replaced under a new block hash
      s.logs = s.logs.filterNot(_.block == 10) :+
        s.MockLog(10, "0xreorged", 1) // replacement version, distinct PK
      // re-poll with a confirmation window of 3 blocks
      Rpc.ingestLoop(spark,
        Rpc.Config(s.endpoint, blockStep = 20, toBlock = Some(10), rescanDepth = 3),
        table, noSleep)
      val all = Logs.read(spark, table)
      assert(all.count() === 11) // both versions stored (different PKs)
      // canonical: both remain (no tombstone, distinct PKs) — the reorg
      // drill shows the new version is present and queryable
      assert(all.filter(org.apache.spark.sql.functions.col("address") === "0xreorged").count() === 1)
    } finally s.stop()
  }

  test("same-PK tombstone on a re-pulled window deletes via canonicalTombstones") {
    val s = newServer(10)
    try {
      val table = Files.createTempDirectory("rpc_tbl").toString + "/t"
      Rpc.ingestLoop(spark, Rpc.Config(s.endpoint, blockStep = 20, toBlock = Some(10)), table, noSleep)
      assert(Logs.read(spark, table).count() === 10)
      // the node now reports block 10's log removed under the SAME PK
      // (blockHash/txHash/logIndex unchanged, removed=true) — the case
      // plain DO-NOTHING drops (get_logs.go:107)
      s.logs = s.logs.map(l => if (l.block == 10) l.copy(removed = true) else l)
      Rpc.ingestLoop(spark,
        Rpc.Config(s.endpoint, blockStep = 20, toBlock = Some(10), rescanDepth = 3,
          canonicalTombstones = true),
        table, noSleep)
      val all = Logs.read(spark, table)
      assert(all.count() === 10) // one version per PK, tombstone stored
      assert(all.filter(org.apache.spark.sql.functions.col("removed")).count() === 1)
      assert(Logs.canonical(all).count() === 9) // block 10 gone at read
    } finally s.stop()
  }

  test("retry on 503 (reference backoff path) then success") {
    val s = newServer(5)
    try {
      val table = Files.createTempDirectory("rpc_tbl").toString + "/t"
      var slept = 0
      s.failNext = 2
      Rpc.ingestLoop(spark, Rpc.Config(s.endpoint, blockStep = 10, toBlock = Some(5), retryMillis = 7),
        table, l => { assert(l === 7); slept += 1 })
      assert(slept >= 2)
      assert(Logs.read(spark, table).count() === 5)
    } finally s.stop()
  }

  test("non-backoff HTTP statuses: a few immediate retries, then throttled, then bounded") {
    val s = newServer(5)
    try {
      val table = Files.createTempDirectory("rpc_tbl").toString + "/t"
      var slept = 0
      s.failStatus = 400
      s.failNext = 5
      // 5× HTTP 400 then success: first 3 retries immediate
      // (reference semantics), the rest throttled by retryMillis
      Rpc.ingestLoop(spark,
        Rpc.Config(s.endpoint, blockStep = 10, toBlock = Some(5), retryMillis = 7),
        table, l => { assert(l === 7); slept += 1 })
      assert(slept === 2) // attempts 4 and 5 slept; 1-3 were immediate
      assert(Logs.read(spark, table).count() === 5)
      // a PERSISTENT client error fails the job instead of looping forever
      s.failStatus = 404
      s.failNext = Int.MaxValue
      val e = intercept[RuntimeException] {
        Rpc.blockNumber(s.endpoint, retryMillis = 1, _ => ())
      }
      assert(e.getMessage.contains("giving up"))
      s.failNext = 0
    } finally s.stop()
  }

  test("-32602 skips the window without aborting (main.go:141-146)") {
    val s = newServer(20)
    try {
      val table = Files.createTempDirectory("rpc_tbl").toString + "/t"
      s.refuse = Set((11L, 20L))
      Rpc.ingestLoop(spark, Rpc.Config(s.endpoint, blockStep = 10, toBlock = Some(20)), table, noSleep)
      val blocks = Logs.read(spark, table)
        .select("block_number").collect().map(_.getLong(0)).sorted
      assert(blocks.toSeq === (1L to 10L)) // refused window absent, loop completed
    } finally s.stop()
  }

  test("per-window eth_call price probes populate the price table (main.go:191-198)") {
    val s = newServer(25)
    try {
      val dir = Files.createTempDirectory("rpc_tbl").toString
      val cfg = Rpc.Config(s.endpoint, blockStep = 10, toBlock = Some(25),
        tokens = Seq("0xtokA", "0xtokB"), oracles = Seq("0xorcA", "0xorcB"),
        priceTable = Some(dir + "/price"))
      Rpc.ingestLoop(spark, cfg, dir + "/logs", noSleep)
      val price = spark.read.parquet(dir + "/price")
      assert(price.count() === 6) // 3 windows (from=1,11,21) × 2 pairs
      val rows = price.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).longValue())).toSet
      // mock priceFn = block*5 + oracle.length ("0xorcA".length == 6)
      val expected = (for { b <- Seq(1L, 11L, 21L); t <- Seq("0xtokA", "0xtokB") }
        yield (t, b, b * 5 + 6)).toSet
      assert(rows === expected)
      // the probe went over the wire with the latestAnswer selector
      assert(s.requests.exists(r => r.contains("eth_call") && r.contains("0x50d25bcd")))
      // idempotent: replaying the same bounded loop adds no price rows
      Rpc.ingestLoop(spark, cfg.copy(fromBlock = Some(1)), dir + "/logs", noSleep)
      assert(spark.read.parquet(dir + "/price").count() === 6)
    } finally s.stop()
  }

  test("contract-address filter pushes into the RPC request (get_logs.go:69-79)") {
    val s = newServer(10)
    try {
      val table = Files.createTempDirectory("rpc_tbl").toString + "/t"
      Rpc.ingestLoop(spark,
        Rpc.Config(s.endpoint, contracts = Seq("0xeven"), blockStep = 20, toBlock = Some(10)),
        table, noSleep)
      val rows = Logs.read(spark, table)
      assert(rows.count() === 5)
      assert(rows.select("address").distinct().collect().map(_.getString(0)).toSeq === Seq("0xeven"))
      // pushdown really happened server-side: the request carried the filter
      assert(s.requests.exists(r => r.contains("eth_getLogs") && r.contains("\"address\":[\"0xeven\"]")))
    } finally s.stop()
  }
}

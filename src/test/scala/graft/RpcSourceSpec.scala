package graft

import graft.sources.{Logs, RpcSource}
import org.apache.spark.sql.functions._

/** The DataSource V2 live-RPC source against the mock node: schema,
  * wire transform, per-window partitioning, and BOTH pushdown axes —
  * address filters into the JSON-RPC request, block_number bounds
  * pruning whole windows before any request is issued. */
class RpcSourceSpec extends SparkSpec {

  private def newServer(maxBlock: Long): MockRpcServer = {
    val s = new MockRpcServer
    s.logs = (1L to maxBlock).map(b => s.MockLog(b, if (b % 2 == 0) "0xeven" else "0xodd", 0))
    s.head = maxBlock
    s
  }

  private def read(s: MockRpcServer, extra: (String, String)*) = {
    var r = spark.read.format(RpcSource.Format)
      .option("endpoint", s.endpoint)
      .option("blockStep", "10")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  test("batch read: schema, wire transform, one partition per window") {
    val s = newServer(40)
    try {
      val df = read(s, "fromBlock" -> "1", "toBlock" -> "40")
      assert(df.schema === Logs.schema)
      val rows = df.collect()
      assert(rows.length === 40)
      assert(df.rdd.getNumPartitions === 4) // 40 blocks / step 10
      val r5 = rows.find(_.getAs[Long]("block_number") === 5L).get
      assert(r5.getAs[String]("address") === "0xodd")
      assert(r5.getAs[String]("topic0") === "0xsig")
      assert(r5.getAs[String]("topic2") === null) // short topics → null
      assert(r5.getAs[String]("block_hash") === "0xb5")
      assert(!r5.getAs[Boolean]("removed"))
      assert(s.requests.count(_.contains("eth_getLogs")) === 4)
    } finally s.stop()
  }

  test("head probe supplies toBlock when absent") {
    val s = newServer(25)
    try {
      assert(read(s).count() === 25)
      assert(s.requests.exists(_.contains("eth_blockNumber")))
    } finally s.stop()
  }

  test("address equality pushes into the JSON-RPC request") {
    val s = newServer(20)
    try {
      val df = read(s, "fromBlock" -> "1", "toBlock" -> "20")
        .filter(col("address") === "0xeven")
      assert(df.count() === 10)
      // server saw the filter (source-side pushdown, get_logs.go:69-79)
      val getLogs = s.requests.filter(_.contains("eth_getLogs"))
      assert(getLogs.nonEmpty && getLogs.forall(_.contains("\"address\":[\"0xeven\"]")), getLogs)
      // and the plan reports it (the scan's description carries the
      // pushed request narrowing — DSv2's analog of PushedFilters)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("addresses=0xeven"), plan)
    } finally s.stop()
  }

  test("block_number bounds prune whole windows before any request") {
    val s = newServer(100)
    try {
      val df = read(s, "fromBlock" -> "1", "toBlock" -> "100")
        .filter(col("block_number") > 60L && col("block_number") <= 80L)
      assert(df.count() === 20)
      val windows = s.requests.filter(_.contains("eth_getLogs"))
      assert(windows.length === 2) // [61,70] [71,80] only — not 10 windows
      assert(windows.forall(w => w.contains("\"fromBlock\":\"0x3d\"") || // 61
        w.contains("\"fromBlock\":\"0x47\"")), windows)                  // 71
    } finally s.stop()
  }

  test("readStream tail-follow: checkpointed block offsets, exactly-once effect") {
    val s = newServer(20)
    try {
      val table = java.nio.file.Files.createTempDirectory("rpcsrc_tbl").toString + "/t"
      val ckpt = java.nio.file.Files.createTempDirectory("rpcsrc_ckpt").toString
      def drain(): Unit = {
        val q = spark.readStream.format(RpcSource.Format)
          .option("endpoint", s.endpoint)
          .option("fromBlock", "1").option("blockStep", "5")
          .option("toBlock", "1000000") // follow the head
          .load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            Logs.appendIdempotent(b.sparkSession, b, table)
          }
          .start()
        q.awaitTermination()
      }
      drain()
      assert(Logs.read(spark, table).count() === 20)
      assert(Logs.highWaterMark(spark, table) === 20L)
      // chain advances; restart on the SAME checkpoint resumes from
      // the committed block offset — the reference's DB high-water
      // mark as a genuine streaming offset (main.go:162-175)
      s.logs = s.logs ++ (21L to 30L).map(b => s.MockLog(b, "0xodd", 0))
      s.head = 30
      drain()
      assert(Logs.read(spark, table).count() === 30) // no duplicates
      assert(Logs.highWaterMark(spark, table) === 30L)
      // the resumed run never re-requested the already-committed range
      val secondRunWindows = s.requests.filter(_.contains("eth_getLogs"))
        .filter(_.contains("\"fromBlock\":\"0x15\"")) // 21
      assert(secondRunWindows.nonEmpty)
      assert(!s.requests.exists(r => r.contains("eth_getLogs") &&
        r.contains("\"fromBlock\":\"0x1\"") && s.requests.indexOf(r) > s.requests.length / 2))
    } finally s.stop()
  }

  test("AvailableNow drains a backlog deeper than one admission-capped batch") {
    // step=5 × maxWindowsPerBatch=10 → 50-block batches; a 120-block
    // backlog needs 3 batches. Before SupportsTriggerAvailableNow the
    // wrapper froze the drain target from the FIRST latestOffset, so
    // the stream stopped at block 50 while reporting "caught up" —
    // and restarts recomputed the same truncated target.
    val s = newServer(120)
    try {
      val table = java.nio.file.Files.createTempDirectory("rpcsrc_deep").toString + "/t"
      val ckpt = java.nio.file.Files.createTempDirectory("rpcsrc_deep_ckpt").toString
      val q = spark.readStream.format(RpcSource.Format)
        .option("endpoint", s.endpoint)
        .option("fromBlock", "1").option("blockStep", "5")
        .option("toBlock", "1000000")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          Logs.appendIdempotent(b.sparkSession, b, table)
        }
        .start()
      q.awaitTermination()
      assert(Logs.read(spark, table).count() === 120) // the FULL backlog
      assert(Logs.highWaterMark(spark, table) === 120L)
    } finally s.stop()
  }

  test("a drain into appendIdempotent requests each window once and lands numInputRows") {
    // step=5 → 12 windows over 60 blocks, in two admission-capped batches
    val s = newServer(60)
    try {
      val table = java.nio.file.Files.createTempDirectory("rpcsrc_once").toString + "/t"
      val ckpt = java.nio.file.Files.createTempDirectory("rpcsrc_once_ckpt").toString
      val q = spark.readStream.format(RpcSource.Format)
        .option("endpoint", s.endpoint)
        .option("fromBlock", "1").option("blockStep", "5")
        .option("toBlock", "1000000")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          Logs.appendIdempotent(b.sparkSession, b, table)
        }
        .start()
      q.awaitTermination()
      assert(Logs.read(spark, table).count() === 60)
      val windows = s.requests.filter(_.contains("eth_getLogs"))
      assert(windows.length === 12, windows)
      assert(windows.distinct.length === 12, windows)
      // the drain's one head probe (prepareForTriggerAvailableNow); the
      // latest offset each trigger reports reuses it
      assert(s.requests.count(_.contains("eth_blockNumber")) === 1, s.requests)
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      assert(progress.map(_.numInputRows).sum === 60L)
      progress.foreach { p =>
        val src = p.sources.head
        val (from, to) = (Option(src.startOffset).fold(0L)(_.trim.toLong), src.endOffset.trim.toLong)
        val landed = Logs.read(spark, table)
          .filter(col("block_number") > from && col("block_number") <= to).count()
        assert(p.numInputRows === landed, s"batch ${p.batchId} ($from, $to]")
      }
    } finally s.stop()
  }

  test("backfilltimestamps option fills block_timestamp executor-side") {
    val s = newServer(20)
    try {
      val df = read(s, "fromBlock" -> "1", "toBlock" -> "20",
        "blockStep" -> "10", "backfilltimestamps" -> "true")
      val rows = df.select("block_number", "block_timestamp").collect()
      assert(rows.length === 20)
      rows.foreach { r =>
        assert(r.getTimestamp(1) != null)
        assert(r.getTimestamp(1).getTime / 1000 === 1600000000L + r.getLong(0) * 12)
      }
      // one probe per distinct block, issued from the window readers
      assert(s.requests.count(_.contains("eth_getBlockByNumber")) === 20)
      // and the default stays reference-parity null
      val plain = read(s, "fromBlock" -> "1", "toBlock" -> "5")
      assert(plain.filter("block_timestamp is not null").count() === 0)
    } finally s.stop()
  }

  test("refused window (-32602) skips, matching the reference") {
    val s = newServer(20)
    try {
      s.refuse = Set((11L, 20L))
      val df = read(s, "fromBlock" -> "1", "toBlock" -> "20")
      assert(df.count() === 10) // first window only
    } finally s.stop()
  }

  test("NDJSON replay and the RPC reader turn the same wire entries into the same rows") {
    val s = newServer(20)
    try {
      val dir = java.nio.file.Files.createTempDirectory("rpcsrc_wire")
      java.nio.file.Files.write(dir.resolve("logs.json"),
        s.logs.map(_.json).mkString("\n").getBytes("UTF-8"))
      val replayed = Logs.readNdjson(spark, dir.toString)
      val fetched = read(s, "fromBlock" -> "1", "toBlock" -> "20")
      assert(replayed.schema === fetched.schema)
      assert(replayed.orderBy("block_number").collect().toSeq ===
        fetched.orderBy("block_number").collect().toSeq)
    } finally s.stop()
  }

  test("an entry without `removed` reads as not removed and survives canonical") {
    val s = new MockRpcServer
    try {
      val dir = java.nio.file.Files.createTempDirectory("rpcsrc_removed")
      val kept = s.MockLog(1, "0xa", 0).json
      val absent = s.MockLog(2, "0xa", 0).json.replace(",\"removed\":false", "")
      assert(!absent.contains("removed"))
      java.nio.file.Files.write(dir.resolve("logs.json"),
        Seq(kept, absent).mkString("\n").getBytes("UTF-8"))
      val replayed = Logs.readNdjson(spark, dir.toString)
      assert(replayed.filter(col("removed") === false).count() === 2)
      assert(Logs.canonical(replayed).count() === 2)
    } finally s.stop()
  }

  test("a pending log (null blockNumber) reads as null and the append refuses it") {
    val s = new MockRpcServer
    try {
      s.logs = Seq(s.MockLog(1, "0xa", 0), s.MockLog(2, "0xa", 1, pending = true))
      s.head = 2
      val df = read(s, "fromBlock" -> "1", "toBlock" -> "2", "backfillTimestamps" -> "true")
      val pending = df.filter(col("block_number").isNull).collect()
      assert(pending.length === 1)
      assert(pending(0).isNullAt(pending(0).fieldIndex("transaction_index")))
      assert(pending(0).isNullAt(pending(0).fieldIndex("log_index")))
      assert(pending(0).isNullAt(pending(0).fieldIndex("block_timestamp")))
      // the timestamp probe asks for the mined block only
      assert(s.requests.filter(_.contains("eth_getBlockByNumber"))
        .forall(_.contains("\"0x1\"")))
      assert(df.filter(col("block_number") === 1L && col("block_timestamp").isNotNull).count() === 1)
      val t = java.nio.file.Files.createTempDirectory("rpcsrc_pending").toString + "/t"
      val e = intercept[IllegalArgumentException](Logs.appendIdempotent(spark, df, t))
      assert(e.getMessage.contains("1 row(s) with a null block_number"))
      assert(!new java.io.File(t).exists)
    } finally s.stop()
  }
}

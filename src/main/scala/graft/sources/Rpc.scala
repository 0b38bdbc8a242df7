package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Live JSON-RPC ingestion — the reference's E1 loop over a real HTTP
  * boundary (`main.go:200-242`): resume from the table's high-water
  * mark, probe the head (`eth_blockNumber`), pull tumbling
  * `blockStep` windows of `eth_getLogs` with the contract-address
  * filter pushed INTO the request (`get_logs.go:69-79` — source-side
  * predicate pushdown), transform, and append idempotently.
  *
  * Retry state machine per the reference (`main.go:93-160`):
  * - transport errors and HTTP 429/503/504 → sleep `retryMillis`,
  *   retry the same window indefinitely;
  * - any other HTTP status → retry immediately, no sleep
  *   (`main.go:130-132`);
  * - RPC error -32602 (window too large / bad params) → skip the
  *   window without aborting (`main.go:141-146`);
  * - any other RPC error → fatal.
  *
  * Every JSON-RPC call goes through [[exchange]]. The head probe and the
  * `eth_call` price probes run on the driver (one small call each, a
  * Spark job per call would cost more scheduler time than the call);
  * each `eth_getLogs` window is a one-partition [[RpcSource]] batch
  * read, so the loop and the streaming source share one fetch and one
  * wire→row transform.
  */
object Rpc {

  case class Config(
      endpoint: String,
      contracts: Seq[String] = Seq.empty,
      fromBlock: Option[Long] = None,
      toBlock: Option[Long] = None, // None = follow the head forever (T5)
      blockStep: Long = 100,
      sleepMillis: Long = 5000,
      retryMillis: Long = 10000,
      /** S3: (token, its Chainlink oracle) pairs probed via `eth_call`
        * once per window, like the reference's paired TOKENS/ORACLES
        * env CSVs (`main.go:39-48`, `main.go:191-198`). */
      tokens: Seq[String] = Seq.empty,
      oracles: Seq[String] = Seq.empty,
      /** Where the per-window price probes land; None disables the
        * price sweep even when token pairs are configured. */
      priceTable: Option[String] = None,
      /** T4: re-pull this many blocks below the high-water mark on
        * resume — the confirmation-depth window where reorgs happen.
        * Idempotence makes re-pulls free (duplicates DO-NOTHING);
        * replaced blocks arrive under their NEW hashes (new PKs) and
        * [[Logs.canonical]] resolves the versions at read. The
        * reference leaves this as a todo (`get_logs.go:107`). */
      rescanDepth: Long = 0,
      /** T4: honor same-PK `removed=true` tombstones on re-pulled
        * windows via [[Logs.appendCanonical]] (swap-rewrites the
        * touched partitions) instead of plain DO-NOTHING. */
      canonicalTombstones: Boolean = false,
      /** Extension beyond the reference (SURVEY §7.4): fill
        * `block_timestamp` from `eth_getBlockByNumber` header probes.
        * The reference declares the column and projects
        * `evt_block_time` in every view (`init.sql:213-222`) but its
        * loader never populates it (`get_logs.go:118-119`) — any
        * time-series grouping gets nulls. One probe per DISTINCT
        * block of each window, issued by the window's reader. */
      backfillTimestamps: Boolean = false)

  private lazy val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  private def post(endpoint: String, body: String): HttpResponse[String] =
    http.send(
      HttpRequest.newBuilder(URI.create(endpoint))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Immediate (sleep-free) retries allowed for HTTP statuses outside
    * the reference's 429/503/504 backoff set before escalating to the
    * `retryMillis` sleep — keeps the reference's retry-immediately
    * behavior for one-off oddities without turning a permanently
    * misconfigured endpoint into a silent busy loop. */
  private val MaxImmediateRetries = 3

  /** Client errors (4xx except 429) never heal by retrying; give up
    * after this many attempts. The reference busy-loops forever here
    * (`main.go:130-132`) — that's its unbounded-retry gap, not
    * semantics worth preserving: on executors (RpcWindowReader) an
    * eternal retry means a job that can never fail on a bad endpoint. */
  private val MaxClientErrorRetries = 50

  /** One RPC call with the reference's retry semantics; returns the
    * raw response body of the first HTTP 200. Every retry is logged
    * (the reference logs its loop errors too). */
  private def call(endpoint: String, body: String, retryMillis: Long,
      sleeper: Long => Unit): String = {
    var oddStatusRetries = 0
    while (true) {
      val resp =
        try Some(post(endpoint, body))
        catch { case _: java.io.IOException => None } // transport error
      resp match {
        case Some(r) if r.statusCode() == 200 => return r.body()
        case Some(r) if Set(429, 503, 504)(r.statusCode()) =>
          log.warn(s"rpc: HTTP ${r.statusCode()} from $endpoint, backing off ${retryMillis}ms")
          sleeper(retryMillis)
        // any other HTTP status: the reference retries immediately
        // (`main.go:130-132` — only 429/503/504 sleep first); after a
        // few immediate attempts, throttle with the same backoff, and
        // fail outright on persistent client errors
        case Some(r) =>
          oddStatusRetries += 1
          log.warn(s"rpc: HTTP ${r.statusCode()} from $endpoint, " +
            s"retry $oddStatusRetries")
          val clientError = r.statusCode() >= 400 && r.statusCode() < 500
          if (clientError && oddStatusRetries >= MaxClientErrorRetries)
            throw new RuntimeException(
              s"rpc: giving up after $oddStatusRetries HTTP ${r.statusCode()} " +
                s"responses from $endpoint")
          if (oddStatusRetries > MaxImmediateRetries) sleeper(retryMillis)
        case None =>
          log.warn(s"rpc: transport error to $endpoint, backing off ${retryMillis}ms")
          sleeper(retryMillis)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Thread-safe once configured; shared by every exchange on a JVM. */
  private val mapper = new ObjectMapper()

  /** THE JSON-RPC exchange: `method(params)` posted with [[call]]'s
    * retry rules, the reply parsed once. Returns the `result` node;
    * None when the node refused the call with -32602 (skip it,
    * `main.go:141-146`) or answered a null result. Any other RPC error,
    * or a reply that is not JSON, throws naming the method. */
  private[sources] def exchange(endpoint: String, method: String, params: String,
      retryMillis: Long, sleeper: Long => Unit = Thread.sleep): Option[JsonNode] = {
    val body = call(endpoint,
      s"""{"jsonrpc":"2.0","id":1,"method":"$method","params":$params}""", retryMillis, sleeper)
    val root =
      try mapper.readTree(body)
      catch { case e: com.fasterxml.jackson.core.JacksonException =>
        throw new RuntimeException(s"$method: unparseable reply from $endpoint", e) }
    val err = root.get("error")
    if (err == null || err.isNull) Option(root.get("result")).filterNot(_.isNull)
    else if (err.path("code").asLong == -32602) None
    else throw new RuntimeException(s"$method error: $err")
  }

  /** A `0x`-hex quantity as on the wire. */
  private[sources] def hexLong(n: JsonNode): Long =
    java.lang.Long.parseLong(n.asText.stripPrefix("0x"), 16)

  /** S2: `eth_blockNumber` head probe (`get_block_number.go:3-27`); a
    * refused or null head fails loudly. */
  def blockNumber(endpoint: String, retryMillis: Long = 10000,
      sleeper: Long => Unit = Thread.sleep): Long =
    hexLong(exchange(endpoint, "eth_blockNumber", "[]", retryMillis, sleeper).getOrElse(
      throw new RuntimeException(s"eth_blockNumber: no head from $endpoint")))

  /** Chainlink `latestAnswer()` function selector (`get_price.go:46`,
    * `curl-call-chainlink-price.sh:5`). */
  val PriceSelector = "0x50d25bcd"

  /** S3: one live `eth_call` price probe (`get_price.go:31-50`):
    * `latestAnswer()` on `oracle` as of `block`. Returns the raw
    * ABI-word result, or None when the node refused the call. */
  def ethCallPrice(cfg: Config, oracle: String, block: Long,
      sleeper: Long => Unit = Thread.sleep): Option[String] =
    exchange(cfg.endpoint, "eth_call",
      s"""[{"to":"$oracle","data":"$PriceSelector"},"0x${block.toHexString}"]""",
      cfg.retryMillis, sleeper).map(_.asText)

  /** E1: the per-window price sweep (`getPrices`, `main.go:191-198`):
    * one probe per (token, oracle) pair as of the window's fromBlock,
    * decoded by [[Price.fromWire]] and appended idempotently in ONE
    * batch (the reference saves per pair; batching is the Spark-shaped
    * equivalent — same rows, same PK DO-NOTHING). Responses that are
    * not a single ABI word are dropped, the reference's `Len()==0`
    * guard (`get_price.go:60-66,73-77`). */
  def getPrices(spark: SparkSession, cfg: Config, fromBlock: Long, tablePath: String,
      sleeper: Long => Unit = Thread.sleep): Unit = {
    require(cfg.tokens.length == cfg.oracles.length,
      s"tokens (${cfg.tokens.length}) and oracles (${cfg.oracles.length}) must pair up (main.go:39-48)")
    val rows = cfg.tokens.zip(cfg.oracles).flatMap { case (token, oracle) =>
      ethCallPrice(cfg, oracle, fromBlock, sleeper)
        .filter(_.length == 66)
        .map(r => (token, "0x" + fromBlock.toHexString, r))
    }
    if (rows.nonEmpty) {
      import spark.implicits._
      Price.appendIdempotent(spark,
        Price.fromWire(rows.toDF("token", "blockNumber", "result")), tablePath)
    }
  }

  /** Block-header timestamp probe (`eth_getBlockByNumber`, header
    * only): epoch seconds from the header's hex `timestamp`. None on
    * a refused call (-32602) or an unknown/pending block — callers
    * leave `block_timestamp` null for those rows, the reference's
    * permanent state for ALL rows (`get_logs.go:118-119`). */
  def getBlockTimestamp(endpoint: String, block: Long, retryMillis: Long = 10000,
      sleeper: Long => Unit = Thread.sleep): Option[Long] =
    exchange(endpoint, "eth_getBlockByNumber", s"""["0x${block.toHexString}",false]""",
      retryMillis, sleeper)
      .flatMap(h => Option(h.get("timestamp")).filterNot(_.isNull)).map(hexLong)

  /** E1: the bounded-or-infinite poll loop. Each window `[from, to]` is
    * one [[RpcSource]] batch read (one partition) into
    * [[Logs.appendIdempotent]]; a refused window reads empty and the
    * loop advances anyway, as the reference does. Returns the last
    * ingested block. `maxIterations` guards tests; production
    * tail-follow runs with `toBlock=None` until stopped. */
  def ingestLoop(
      spark: SparkSession,
      cfg: Config,
      tablePath: String,
      sleeper: Long => Unit = Thread.sleep,
      maxIterations: Int = Int.MaxValue): Long = {
    var from = cfg.fromBlock.getOrElse(
      math.max(math.max(Logs.highWaterMark(spark, tablePath), 0L) + 1 - cfg.rescanDepth, 1L))
    val target = cfg.toBlock.getOrElse(Long.MaxValue) // T5: unset = infinity (main.go:60-68)
    var iter = 0
    var last = from - 1
    while (from <= target && iter < maxIterations) {
      iter += 1
      val head = blockNumber(cfg.endpoint, cfg.retryMillis, sleeper)
      if (from > math.min(head, target)) {
        if (from > target) return last
        sleeper(cfg.sleepMillis) // caught up to head: back off (T2, main.go:221-226)
      } else {
        val to = math.min(math.min(from + cfg.blockStep - 1, head), target)
        val window = spark.read.format(RpcSource.Format)
          .option("endpoint", cfg.endpoint).option("fromBlock", from).option("toBlock", to)
          .option("blockStep", to - from + 1).option("contracts", cfg.contracts.mkString(","))
          .option("retryMillis", cfg.retryMillis)
          .option("backfillTimestamps", cfg.backfillTimestamps).load()
        Logs.appendIdempotent(spark, window, tablePath, cfg.canonicalTombstones)
        // price sweep after the logs window, as of fromBlock — the
        // reference's loop order (`main.go:235-237`)
        if (cfg.tokens.nonEmpty)
          cfg.priceTable.foreach(getPrices(spark, cfg, from, _, sleeper))
        last = to
        from = to + 1
      }
    }
    last
  }
}

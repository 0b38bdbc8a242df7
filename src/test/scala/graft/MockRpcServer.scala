package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** In-JVM mock EVM node: serves `eth_blockNumber`, `eth_getLogs`
  * (with fromBlock/toBlock/address filtering) and `eth_call` (price
  * probe) from an in-memory fixture, with injectable failure modes
  * for the retry/skip paths. */
class MockRpcServer {

  /** One served log; a `pending` one (served in `block`'s window) has a
    * null blockHash, blockNumber, transactionIndex and logIndex, as a
    * node reports a log not yet in a block. */
  case class MockLog(block: Long, address: String, idx: Long, removed: Boolean = false,
      pending: Boolean = false) {
    private def q(v: String): String = if (pending) "null" else "\"" + v + "\""
    def json: String =
      s"""{"address":"$address","topics":["0xsig","0x${"%064x".format(block)}"],""" +
        s""""data":"0x${"%064x".format(block * 3)}","blockHash":${q("0xb" + block.toHexString)},""" +
        s""""blockNumber":${q("0x" + block.toHexString)},"transactionHash":"0xt$block",""" +
        s""""transactionIndex":${q("0x0")},""" +
        s""""logIndex":${q("0x" + idx.toHexString)},"removed":$removed}"""
  }

  @volatile var logs: Seq[MockLog] = Seq.empty
  @volatile var head: Long = 0L
  @volatile var failNext: Int = 0           // respond failStatus this many times
  @volatile var failStatus: Int = 503
  @volatile var refuse: Set[(Long, Long)] = Set.empty // -32602 windows
  @volatile var requests: Vector[String] = Vector.empty
  /** Deterministic `eth_call` price: f(oracle address, as-of block). */
  @volatile var priceFn: (String, Long) => Long = (to, blk) => blk * 5 + to.length
  /** `eth_getBlockByNumber` header timestamps: genesis + 12 s/block. */
  @volatile var genesisTs: Long = 1600000000L

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    synchronized { requests :+= body }
    val resp =
      if (failNext > 0) { failNext -= 1; (failStatus, """{"error":"busy"}""") }
      else if (body.contains("eth_blockNumber"))
        (200, s"""{"jsonrpc":"2.0","id":1,"result":"0x${head.toHexString}"}""")
      else if (body.contains("eth_getLogs")) {
        val from = java.lang.Long.parseLong(
          "\"fromBlock\":\"0x([0-9a-f]+)\"".r.findFirstMatchIn(body).get.group(1), 16)
        val to = java.lang.Long.parseLong(
          "\"toBlock\":\"0x([0-9a-f]+)\"".r.findFirstMatchIn(body).get.group(1), 16)
        if (refuse((from, to)))
          (200, """{"jsonrpc":"2.0","id":1,"error":{"code":-32602,"message":"window too large"}}""")
        else {
          val addrs = "\"address\":\\[([^\\]]*)\\]".r.findFirstMatchIn(body)
            .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSet)
          val hits = logs.filter(l => l.block >= from && l.block <= to &&
            addrs.forall(_.contains(l.address)))
          (200, s"""{"jsonrpc":"2.0","id":1,"result":[${hits.map(_.json).mkString(",")}]}""")
        }
      } else if (body.contains("eth_getBlockByNumber")) {
        val blk = java.lang.Long.parseLong(
          "\"params\":\\[\"0x([0-9a-f]+)\"".r.findFirstMatchIn(body).get.group(1), 16)
        if (blk > head) (200, """{"jsonrpc":"2.0","id":1,"result":null}""") // unknown block
        else (200, s"""{"jsonrpc":"2.0","id":1,"result":{"number":"0x${blk.toHexString}",""" +
          s""""timestamp":"0x${(genesisTs + blk * 12).toHexString}"}}""")
      } else if (body.contains("eth_call")) {
        val to = "\"to\":\"([^\"]+)\"".r.findFirstMatchIn(body).get.group(1)
        val blk = java.lang.Long.parseLong(
          "\\},\\s*\"0x([0-9a-f]+)\"".r.findFirstMatchIn(body).get.group(1), 16)
        (200, s"""{"jsonrpc":"2.0","id":1,"result":"0x${"%064x".format(priceFn(to, blk))}"}""")
      } else (200, """{"jsonrpc":"2.0","id":1,"error":{"code":-32601,"message":"no such method"}}""")
    val bytes = resp._2.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(resp._1, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  })
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
  def stop(): Unit = server.stop(0)
}

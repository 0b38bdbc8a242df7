package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 for live `eth_getLogs` ingestion — the reference's E1
  * extract loop (`main.go:200-242`) as a genuine Spark source, and the
  * ONE place `eth_getLogs` is fetched and transformed:
  *
  * {{{
  * spark.read.format("graft.sources.RpcSource")
  *   .option("endpoint", url).option("fromBlock", 1).option("toBlock", 5000)
  *   .load()
  *   .filter($"address" === "0x..." && $"block_number" > 1000)
  * }}}
  *
  * - **batch and streaming**: a batch read covers `[fromBlock,
  *   toBlock]` (toBlock absent = the head at planning);
  *   `spark.readStream` follows the head per trigger with checkpointed
  *   block offsets ([[RpcMicroBatchStream]]); [[Rpc.ingestLoop]] reads
  *   each of its windows as a one-partition batch read;
  * - **one InputPartition per block window** — executors pull windows
  *   in parallel;
  * - **source-side predicate pushdown**: `address` equality/IN filters
  *   travel INTO the JSON-RPC request (`get_logs.go:69-79` semantics),
  *   and `block_number` range filters PRUNE whole windows before any
  *   request is issued — `.explain` shows them under PushedFilters;
  * - the wire→analytic transform (topics split, `"0x"`→null, hex
  *   casts, `get_logs.go:38-55`) happens in the partition reader, so
  *   downstream plans see the same schema as the stored table.
  *
  * Options: `endpoint` (required), `fromBlock`, `toBlock`, `blockStep`,
  * `contracts` (comma-separated), `retryMillis`, `backfillTimestamps`.
  * The reference's retry state machine runs per window inside each
  * reader ([[Rpc.exchange]]).
  */
class RpcSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Logs.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new RpcSource.RpcTable(properties.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object RpcSource {

  val Format: String = classOf[RpcSource].getName

  private[sources] class RpcTable(props: Map[String, String]) extends Table with SupportsRead {
    override def name(): String = s"evmrpc(${props.getOrElse("endpoint", "?")})"
    override def schema(): StructType = Logs.schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new RpcScanBuilder(props ++ options.asScala)
  }

  private[sources] class RpcScanBuilder(opts: Map[String, String])
      extends ScanBuilder with SupportsPushDownFilters {
    private var pushed: Array[Filter] = Array.empty

    private def isPushable(f: Filter): Boolean = f match {
      case EqualTo("address", _: String) => true
      case In("address", vs) => vs.forall(_.isInstanceOf[String])
      case GreaterThan("block_number", _: Long) => true
      case GreaterThanOrEqual("block_number", _: Long) => true
      case LessThan("block_number", _: Long) => true
      case LessThanOrEqual("block_number", _: Long) => true
      case _ => false
    }

    /** Record pushable filters as request-narrowing hints; return ALL
      * filters as residual so Spark still re-evaluates them (the node
      * is untrusted — cheap belt-and-braces, same rows either way). */
    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      pushed = filters.filter(isPushable)
      filters
    }
    override def pushedFilters(): Array[Filter] = pushed

    override def build(): Scan = {
      val endpoint = opts.getOrElse("endpoint",
        throw new IllegalArgumentException("evmrpc source requires option 'endpoint'"))
      val step = opts.getOrElse("blockstep", "100").toLong
      val retryMillis = opts.getOrElse("retrymillis", "10000").toLong
      val backfillTs = opts.getOrElse("backfilltimestamps", "false").toBoolean
      var from = opts.get("fromblock").map(_.toLong).getOrElse(1L)
      // toBlock absent = "the head": resolved lazily per mode — batch
      // probes once at partition planning; streaming keeps following
      // the head per trigger (a probe HERE would silently freeze an
      // unbounded readStream at the query-start head)
      var to = opts.get("toblock").map(_.toLong).getOrElse(Long.MaxValue)
      // window pruning from pushed block_number bounds
      pushed.foreach {
        case GreaterThan("block_number", v: Long) => from = math.max(from, v + 1)
        case GreaterThanOrEqual("block_number", v: Long) => from = math.max(from, v)
        case LessThan("block_number", v: Long) => to = math.min(to, v - 1)
        case LessThanOrEqual("block_number", v: Long) => to = math.min(to, v)
        case _ =>
      }
      val addrs = opts.get("contracts").toSeq.flatMap(_.split(",")).filter(_.nonEmpty) ++
        pushed.toSeq.flatMap {
          case EqualTo("address", v: String) => Seq(v)
          case In("address", vs) => vs.toSeq.map(_.asInstanceOf[String])
          case _ => Seq.empty[String]
        }
      new RpcScan(endpoint, from, to, step, addrs.distinct, retryMillis, backfillTs)
    }
  }

  private[sources] case class RpcWindow(from: Long, to: Long) extends InputPartition

  private[sources] class RpcScan(endpoint: String, from: Long, to: Long, step: Long,
      addresses: Seq[String], retryMillis: Long,
      backfillTs: Boolean = false) extends Scan with Batch {
    override def readSchema(): StructType = Logs.schema
    override def toBatch: Batch = this
    override def description(): String =
      s"evmrpc [$from, $to] step=$step addresses=${addresses.mkString(",")}"
    override def planInputPartitions(): Array[InputPartition] =
      windows(from,
        if (to == Long.MaxValue) Rpc.blockNumber(endpoint, retryMillis) else to,
        step)
    override def createReaderFactory(): PartitionReaderFactory =
      new RpcReaderFactory(endpoint, addresses, retryMillis, backfillTs)
    override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream =
      new RpcMicroBatchStream(endpoint, from, to, step, addresses, retryMillis,
        backfillTs = backfillTs)
  }

  private def windows(from: Long, to: Long, step: Long): Array[InputPartition] =
    Iterator.iterate(from)(_ + step).takeWhile(_ <= to)
      .map(w => RpcWindow(w, math.min(w + step - 1, to)): InputPartition).toArray

  /** Offset = highest block already ingested; checkpointed by the
    * engine, so restart resumes exactly where the stream stopped —
    * the DB high-water mark of the reference loop (`main.go:162-175`)
    * as a genuine Structured Streaming offset. */
  private[sources] case class BlockOffset(block: Long) extends streaming.Offset {
    override def json(): String = block.toString
  }

  /** `spark.readStream` tail-follow: each micro-batch covers
    * (lastOffset, head] bounded to `step·maxWindowsPerBatch` blocks
    * via admission control (the cap must narrow the OFFSET, not the
    * planned partitions — a partition-side cap would silently skip the
    * overflow when the engine commits `end`). Windows plan as one
    * InputPartition each — the same parallel readers as the batch
    * path. The head probe runs once per trigger, the reference loop's
    * `eth_blockNumber` poll (`main.go:221-226`); no new blocks → no
    * batch.
    *
    * ReadLimit contract, honored both ways:
    * - [[getDefaultReadLimit]] DECLARES the cap (maxRows in units of
    *   blocks — the source's row proxy), so a capped batch is the
    *   engine-negotiated limit, not a silent override of
    *   allAvailable; an explicit `ReadAllAvailable` returns the full
    *   head uncapped.
    * - Under `Trigger.AvailableNow` the source implements
    *   [[streaming.SupportsTriggerAvailableNow]]: the drain target is
    *   frozen ONCE at `prepareForTriggerAvailableNow` and the engine
    *   keeps running capped batches until offsets reach it. Without
    *   this, Spark's wrapper snapshotted the target from
    *   `initialOffset`, so a backfill beyond `step·maxWindowsPerBatch`
    *   blocks stopped early while printing "caught up", and restarts
    *   recomputed the same truncated target — permanently stuck. */
  private[sources] class RpcMicroBatchStream(endpoint: String, from: Long, to: Long,
      step: Long, addresses: Seq[String], retryMillis: Long,
      maxWindowsPerBatch: Int = 10, backfillTs: Boolean = false)
      extends streaming.MicroBatchStream with streaming.SupportsAdmissionControl
      with streaming.SupportsTriggerAvailableNow {
    @volatile private var drainTarget: Option[Long] = None
    /** The head the last probe saw, capped at `to`; reported as the
      * source's latest offset without a second probe. */
    @volatile private var lastHead: Long = from - 1
    private def liveHead(): Long = {
      lastHead = math.min(Rpc.blockNumber(endpoint, retryMillis), to)
      lastHead
    }
    override def prepareForTriggerAvailableNow(): Unit =
      drainTarget = Some(liveHead())
    override def getDefaultReadLimit: streaming.ReadLimit =
      streaming.ReadLimit.maxRows(step * maxWindowsPerBatch)
    override def initialOffset(): streaming.Offset = BlockOffset(from - 1)
    override def latestOffset(): streaming.Offset =
      throw new UnsupportedOperationException(
        "admission-controlled source: engine calls latestOffset(start, limit)")
    override def latestOffset(start: streaming.Offset,
        limit: streaming.ReadLimit): streaming.Offset = {
      val head = drainTarget.getOrElse(liveHead())
      val lo = start.asInstanceOf[BlockOffset].block
      val capped = limit match {
        case r: streaming.ReadMaxRows => math.min(head, lo + r.maxRows())
        case _: streaming.ReadAllAvailable => head
        case _ => math.min(head, lo + step * maxWindowsPerBatch)
      }
      BlockOffset(math.max(lo, capped))
    }
    override def reportLatestOffset(): streaming.Offset = BlockOffset(lastHead)
    override def deserializeOffset(json: String): streaming.Offset =
      BlockOffset(json.toLong)
    override def planInputPartitions(start: streaming.Offset,
        end: streaming.Offset): Array[InputPartition] = {
      val lo = start.asInstanceOf[BlockOffset].block + 1
      val hi = end.asInstanceOf[BlockOffset].block
      if (lo > hi) Array.empty else windows(lo, hi, step)
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new RpcReaderFactory(endpoint, addresses, retryMillis, backfillTs)
    override def commit(end: streaming.Offset): Unit = ()
    override def stop(): Unit = ()
  }

  private[sources] class RpcReaderFactory(endpoint: String, addresses: Seq[String],
      retryMillis: Long, backfillTs: Boolean = false) extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val w = partition.asInstanceOf[RpcWindow]
      new RpcWindowReader(endpoint, addresses, retryMillis, w.from, w.to, backfillTs)
    }
  }

  /** Executor-side reader: one `eth_getLogs` request for the window,
    * wire→analytic transform inline (`get_logs.go:38-55`), the result
    * node iterated as parsed. A refused window (-32602) yields zero
    * rows, the reference's skip semantics. */
  private[sources] class RpcWindowReader(endpoint: String, addresses: Seq[String],
      retryMillis: Long, from: Long, to: Long,
      backfillTs: Boolean = false) extends PartitionReader[InternalRow] {
    private lazy val logs: Iterator[InternalRow] = {
      val addrFilter =
        if (addresses.nonEmpty)
          "\"address\":" + addresses.map("\"" + _ + "\"").mkString("[", ",", "]") + ","
        else ""
      val entries = Rpc.exchange(endpoint, "eth_getLogs",
        s"""[{$addrFilter"fromBlock":"0x${from.toHexString}","toBlock":"0x${to.toHexString}"}]""",
        retryMillis).fold(Seq.empty[JsonNode])(_.elements().asScala.toSeq)
      // an absent or null quantity (a pending log's blockNumber,
      // transactionIndex, logIndex) reads as null, as in Logs.fromWire,
      // so the append refuses the row instead of storing it at block 0
      def hexLongOf(log: JsonNode, f: String): java.lang.Long = {
        val n = log.get(f)
        if (n == null || n.isNull) null else Long.box(Rpc.hexLong(n))
      }
      // backfill extension (get_logs.go:118-119 leaves the column
      // forever null): one header probe per DISTINCT block in THIS
      // window, executed executor-side — a 1000-executor backfill
      // spreads the probes exactly like the log pulls themselves
      val tsMicros: Map[java.lang.Long, Long] =
        if (!backfillTs) Map.empty
        else entries.flatMap(e => Option(hexLongOf(e, "blockNumber"))).distinct.flatMap(b =>
          Rpc.getBlockTimestamp(endpoint, b, retryMillis)
            .map(sec => b -> sec * 1000000L)).toMap
      entries.iterator.map { log =>
        def s(f: String): UTF8String = UTF8String.fromString(log.path(f).asText(null))
        def hexLong(f: String): java.lang.Long = hexLongOf(log, f)
        val topics = log.get("topics")
        def topic(i: Int): UTF8String =
          if (topics != null && topics.size > i) UTF8String.fromString(topics.get(i).asText)
          else null
        val data = log.path("data").asText("")
        InternalRow(
          s("address"), topic(0), topic(1), topic(2), topic(3),
          if (data.isEmpty || data == "0x") null else UTF8String.fromString(data), // get_logs.go:44-46
          s("blockHash"), hexLong("blockNumber"), s("transactionHash"),
          hexLong("transactionIndex"), hexLong("logIndex"),
          log.path("removed").asBoolean(false),
          // TimestampType internal value = epoch micros; stays null
          // unless the backfill option is on (reference parity)
          tsMicros.get(hexLong("blockNumber")).map(Long.box).orNull)
      }
    }
    private var current: InternalRow = _
    override def next(): Boolean = { val has = logs.hasNext; if (has) current = logs.next(); has }
    override def get(): InternalRow = current
    override def close(): Unit = ()
  }
}

package graftbench

import graft.operators.{AsOfJoin, EventViews}
import graft.operators.EventViews.AbiField
import graft.sources.{Logs, Price}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** evm_query: load the `logs` and `price` tables the way a stream
  * leaves them, then one closed-loop client walks the seeded request
  * stream until its time is up. Each request is built only from public
  * functions and `collect()`ed; a throw is recorded, never timed. */
object Query {
  private def view(prefix: String): EventViews.EventDef =
    EventViews.referenceViews.find(_.viewName.startsWith(prefix + "_")).get

  val Transfer: EventViews.EventDef = view("Transfer")
  val Swap: EventViews.EventDef = EventViews.fromSignature(
    "Swap(address,uint256,uint256,uint256,uint256,address)",
    Seq(AbiField("sender", "address", indexed = true), AbiField("amount0In", "uint256", indexed = false),
      AbiField("amount1In", "uint256", indexed = false), AbiField("amount0Out", "uint256", indexed = false),
      AbiField("amount1Out", "uint256", indexed = false), AbiField("to", "address", indexed = true)))
  /** The views `tx_lookup` decodes with, in the order it reports them. */
  val Decoded: Seq[EventViews.EventDef] =
    Seq(Transfer, view("Approval"), Swap, view("Deposit"), view("Withdraw"))

  final case class Tables(logs: String, price: String)

  /** Load both tables from the generated wire files: window-sized logs
    * batches through `Logs.appendIdempotent` (the tombstone batch with
    * `canonicalize = true`), block timestamps joined on with
    * `Logs.withBlockTimestamps`, prices through `Price.appendIdempotent`. */
  def load(spark: SparkSession, plan: com.fasterxml.jackson.databind.JsonNode, dir: String): Tables = {
    val t = Tables(s"$dir/logs", s"$dir/price")
    val blocks = spark.read.schema("block_number LONG, ts LONG").json(plan.get("blocks").asText)
      .select(col("block_number"), timestamp_seconds(col("ts")).as("block_timestamp"))
    plan.get("batches").elements().asScala.foreach { b =>
      val batch = Logs.withBlockTimestamps(Logs.readNdjson(spark, b.get("path").asText), blocks)
      Logs.appendIdempotent(spark, batch, t.logs, canonicalize = b.get("canonicalize").asBoolean)
    }
    plan.get("prices").elements().asScala.foreach { p =>
      Price.appendIdempotent(spark, Price.readNdjson(spark, p.asText), t.price)
    }
    t
  }

  /** The DataFrame of one request, built from public functions only. */
  def build(spark: SparkSession, t: Tables, r: com.fasterxml.jackson.databind.JsonNode,
      rid: String): DataFrame = {
    def span[A](name: String)(body: => A): A = Trace.span(name, rid)(body)
    val logs = span("sources.Logs.read")(Logs.read(spark, t.logs))
    def range(df: DataFrame) =
      df.filter(col("block_number").between(r.get("from").asLong, r.get("to").asLong))
    r.get("cls").asText match {
      case "transfer_rollup" =>
        span("operators.EventViews.project")(EventViews.project(logs, Transfer))
          .groupBy("contract_address")
          .agg(count(lit(1)).as("n"), sum("amount").as("amount"))
      case "token_window" =>
        val tr = span("operators.EventViews.project")(EventViews.project(
          range(logs.filter(col("address") === r.get("token").asText)), Transfer))
        tr.select(col("to").as("addr"), col("amount").as("v"))
          .unionByName(tr.select(col("from").as("addr"), (-col("amount")).as("v")))
          .groupBy("addr").agg(sum("v").as("net"))
          .orderBy(col("net").desc, col("addr")).limit(20)
      case "tx_lookup" =>
        val txLogs = logs.filter(col("transaction_hash") === r.get("tx").asText)
        Decoded.map { e =>
          val fields = e.fields.map(f => col(f.name).cast(StringType))
          span("operators.EventViews.project")(EventViews.project(txLogs, e))
            .select(col("evt_index"), lit(e.viewName.takeWhile(_ != '_')).as("event"),
              concat_ws("|", fields: _*).as("args"))
        }.reduce(_ unionByName _)
      case "swap_usd_hourly" =>
        val swaps = span("operators.EventViews.project")(EventViews.project(range(logs), Swap))
          .withColumnRenamed("contract_address", "address")
        val price = spark.read.parquet(t.price)
        span("operators.AsOfJoin.asOf")(AsOfJoin.asOf(swaps, price, Seq("address"),
            "evt_block_number", "block_number", Seq("price")))
          .groupBy(date_trunc("hour", col("evt_block_time")).cast(LongType).as("hour"))
          .agg(count(lit(1)).as("n"),
            sum((col("amount0In") + col("amount0Out")) * col("price")).as("usd_e8"))
      case "canonical_read" =>
        span("sources.Logs.canonical")(Logs.canonical(range(logs)))
          .agg(count(lit(1)).as("n"), sum("block_number").as("sb"), sum("log_index").as("sl"))
    }
  }

  def rowsOf(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(row => (0 until row.length).map(i =>
      if (row.isNullAt(i)) null else row.get(i).toString))

  def run(spark: SparkSession, work: String, seconds: Double): Map[String, Any] = {
    val plan = Main.readJson(s"$work/plan.json")
    require(Swap.sigHash == plan.get("swap_topic0").asText,
      s"Swap topic0 ${Swap.sigHash} disagrees with the generator's ${plan.get("swap_topic0").asText}")
    val tables = load(spark, plan, s"$work/tables")
    val injectThrow = Option(plan.get("inject_throw")).map(_.asInt).getOrElse(-1)

    def request(r: com.fasterxml.jackson.databind.JsonNode): Map[String, Any] = {
      val id = r.get("id").asInt
      val cls = r.get("cls").asText
      val rid = s"q:$cls:$id"
      val t0 = System.nanoTime()
      val res = Main.tagged(spark, rid) {
        scala.util.Try(Trace.span(s"request.$cls", rid) {
          if (id == injectThrow) throw new IllegalStateException("injected failure")
          val tb = System.nanoTime()
          val df = Trace.span("build", rid)(build(spark, tables, r, rid))
          val tp = System.nanoTime()
          if (Trace.on) Trace.span("plan", rid)(df.queryExecution.executedPlan)
          val te = System.nanoTime()
          val rows = Trace.span("exec", rid)(rowsOf(df))
          val tx = System.nanoTime()
          val shape = if (Trace.on) Trace.planShape(df) else Map.empty
          (rows, Map("build_ns" -> (tp - tb), "plan_ns" -> (te - tp), "exec_ns" -> (tx - te)), shape)
        })
      }
      val lat = (System.nanoTime() - t0) / 1e9
      res match {
        case scala.util.Success((rows, phases, shape)) =>
          Map("id" -> id, "cls" -> cls, "ok" -> true, "lat_s" -> lat, "rows" -> rows,
            "phases" -> phases, "shape" -> shape)
        case scala.util.Failure(e) =>
          Map("id" -> id, "cls" -> cls, "ok" -> false, "lat_s" -> lat, "error" -> e.toString)
      }
    }

    // warm-up requests before timing starts: checked, never timed
    val warmup = Main.readJson(s"$work/warmup.json").elements().asScala.map(request).toList
    val firstOpMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val samples = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val it = Main.readJson(s"$work/requests.json").elements().asScala
    while (System.nanoTime() < deadline && it.hasNext) samples += request(it.next())
    val measureEndMs = System.currentTimeMillis()
    Map("first_op_ms" -> firstOpMs, "measure_end_ms" -> measureEndMs,
      "samples" -> samples.toList, "warmup" -> warmup,
      "tables" -> Map("logs" -> tables.logs, "price" -> tables.price)) ++
      (if (Trace.on) Map("abi" -> abiDecode(spark, tables)) else Map.empty)
  }

  /** `functions` layer cost: every decoded view over the whole table
    * through the noop sink, against a scan-only projection of the same
    * columns under the same filter; three alternating rounds. */
  def abiDecode(spark: SparkSession, t: Tables): Map[String, Any] = {
    val logs = Logs.read(spark, t.logs)
    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val raw = Seq("topic1", "topic2", "topic3", "data", "address", "transaction_hash",
      "log_index", "block_timestamp", "block_number").map(col)
    val rounds = (0 until 3).map { _ =>
      Decoded.map { e =>
        val scan = noop(logs.filter(col("topic0") === lit(e.sigHash)).select(raw: _*))
        val decode = Trace.span("functions.Abi.decode", "abi")(noop(EventViews.project(logs, e)))
        (decode, scan)
      }
    }
    val rows = Decoded.map(e => EventViews.project(logs, e).count()).sum
    Map("decode_s" -> rounds.map(_.map(_._1).sum), "scan_s" -> rounds.map(_.map(_._2).sum),
      "rows" -> rows)
  }
}

package graft

import graft.sources.{Logs, Price}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** The append path's cost contract: every append form evaluates its
  * batch exactly once, its DO-NOTHING probe reads only the batch's
  * block window of the stored table, and it never leaves a pin behind
  * — while staying exactly idempotent. */
class AppendOnceSpec extends SparkSpec {

  private def table(prefix: String) = Files.createTempDirectory(prefix).toString + "/t"

  /** One log per block in `[from, until)`, PK unique per block. */
  private def logs(from: Long, until: Long): DataFrame = spark.range(from, until, 1, 4).select(
    concat(lit("0xa"), (col("id") % 3).cast(StringType)).as("address"),
    lit("0xsig").as("topic0"), lit("0xt1").as("topic1"),
    lit(null).cast(StringType).as("topic2"), lit(null).cast(StringType).as("topic3"),
    lit("0x01").as("data"), concat(lit("0xb"), col("id").cast(StringType)).as("block_hash"),
    col("id").as("block_number"),
    concat(lit("0xtx"), col("id").cast(StringType)).as("transaction_hash"),
    lit(0L).as("transaction_index"), lit(0L).as("log_index"), lit(false).as("removed"),
    lit(null).cast(TimestampType).as("block_timestamp"))

  private def prices(from: Long, until: Long): DataFrame = spark.range(from, until, 1, 4).select(
    lit("0xtok").as("address"), col("id").as("block_number"),
    (col("id") * 7).cast(DecimalType(38, 0)).as("price"))

  /** `df` with every upstream row evaluation counted in `acc`. */
  private def counted(df: DataFrame, acc: LongAccumulator): DataFrame =
    df.map { r => acc.add(1); r }(Encoders.row(df.schema))

  private def pins: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def dupPks(t: String): Long =
    Logs.read(spark, t).groupBy(Logs.pk.map(col): _*).count().filter(col("count") > 1).count()

  /** Records read by the tasks of the jobs `body` starts (tagged via a
    * local property; a sentinel job flushes the listener bus). */
  private def recordsReadBy(body: => Unit): Long = {
    val key = "graft.spec.phase"
    val stageTag = new ConcurrentHashMap[Int, String]()
    val read = new AtomicLong()
    val sentinel = new LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tag = Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse("")
        e.stageIds.foreach(stageTag.put(_, tag))
        if (tag == "sentinel") sentinel.put(tag)
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stageTag.get(e.stageId) == "body" && e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      try body finally sc.setLocalProperty(key, "sentinel")
      spark.range(1).count()
      assert(sentinel.poll(60, TimeUnit.SECONDS) != null)
      read.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  private val forms: Seq[(String, (DataFrame, String) => Unit)] = Seq(
    "plain" -> ((b, t) => Logs.appendIdempotent(spark, b, t)),
    "staged" -> ((b, t) => Logs.appendIdempotent(spark, b, t, staged = true)),
    "canonical" -> ((b, t) => Logs.appendIdempotent(spark, b, t, canonicalize = true)))

  test("every append form evaluates its batch once") {
    forms.foreach { case (form, append) =>
      val t = table(s"once_$form")
      // a first write, then a batch overlapping it (probe or rewrite)
      Seq((1L, 300L), (200L, 500L)).foreach { case (from, until) =>
        val acc = spark.sparkContext.longAccumulator
        append(counted(logs(from, until), acc), t)
        assert(acc.value === until - from, s"$form [$from, $until)")
      }
      assert(Logs.read(spark, t).count() === 499, form)
      assert(dupPks(t) === 0, form)
    }
    val price = table("once_price")
    Seq((1L, 300L), (200L, 500L)).foreach { case (from, until) =>
      val acc = spark.sparkContext.longAccumulator
      Price.appendIdempotent(spark, counted(prices(from, until), acc), price)
      assert(acc.value === until - from, s"price [$from, $until)")
    }
    assert(Price.read(spark, price).count() === 499)
  }

  test("the probe reads the batch's block window, not the stored range, and dedups exactly") {
    val t = table("bounded")
    val stored = 50000L
    Logs.appendIdempotent(spark, logs(0, stored), t)
    // 200 new rows in the same block_range as the 50k stored ones
    val read = recordsReadBy(Logs.appendIdempotent(spark, logs(60000, 60200), t))
    assert(read < stored / 10, s"append read $read records against $stored stored")
    assert(Logs.read(spark, t).count() === stored + 200)
    // replaying an earlier batch writes nothing, in either form
    Logs.appendIdempotent(spark, logs(60000, 60200), t)
    Logs.appendIdempotent(spark, logs(60000, 60200), t, staged = true)
    assert(Logs.read(spark, t).count() === stored + 200)
    // a batch overlapping a stored window lands exactly its new rows
    Logs.appendIdempotent(spark, logs(49900, 50100), t)
    Logs.appendIdempotent(spark, logs(60100, 60300), t, staged = true)
    assert(Logs.read(spark, t).count() === stored + 400)
    assert(dupPks(t) === 0)
  }

  test("an empty first batch never creates the table") {
    forms.foreach { case (form, append) =>
      val t = table(s"empty_$form")
      append(logs(0, 0), t)
      assert(!new java.io.File(t).exists, form)
    }
    val price = table("empty_price")
    Price.appendIdempotent(spark, prices(0, 0), price)
    assert(!new java.io.File(price).exists)
  }

  test("no append leaves a pin behind, including one that throws") {
    val before = pins
    forms.foreach { case (form, append) =>
      val t = table(s"pins_$form")
      append(logs(1, 100), t)
      append(logs(50, 150), t)
      assert(pins === before, form)
    }
    Price.appendIdempotent(spark, prices(1, 100), table("pins_price"))
    assert(pins === before, "price")
    // the write throws: the table path is a plain file
    val file = Files.createTempFile("pins_file", "").toString
    intercept[Exception](Logs.appendIdempotent(spark, logs(1, 100), file))
    assert(pins === before, "throwing write")
    // the probe refuses an unpartitioned table after the batch is pinned
    val flat = table("pins_flat")
    logs(1, 10).write.parquet(flat)
    forms.foreach { case (form, append) =>
      intercept[IllegalStateException](append(logs(5, 20), flat))
      assert(pins === before, s"refused $form")
    }
  }

  test("a batch with a null block_number is refused before any write") {
    forms.foreach { case (form, append) =>
      val t = table(s"null_block_$form")
      append(logs(1, 10), t)
      // a pending log: no block_number, so no block_range to land in
      val pending = logs(20, 23).withColumn("block_number",
        when(col("block_number") === 21L, lit(null).cast(LongType)).otherwise(col("block_number")))
      val e = intercept[IllegalArgumentException](append(pending, t))
      assert(e.getMessage.contains("1 row(s) with a null block_number"), form)
      assert(!new java.io.File(t, "block_range=__HIVE_DEFAULT_PARTITION__").exists, form)
      assert(Logs.read(spark, t).count() === 9, form)
      append(logs(20, 23), t) // the table still takes appends
      assert(Logs.highWaterMark(spark, t) === 22L, form)
    }
  }

  test("releasing an append's pin frees it without the lineage-truncated WARN") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender("graft-spec-capture",
        null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    val root = org.apache.logging.log4j.LogManager.getRootLogger
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    capture.start()
    root.addAppender(capture)
    val before = pins
    try {
      forms.foreach { case (form, append) =>
        val t = table(s"quiet_$form")
        append(logs(1, 50), t)
        append(logs(25, 75), t)
      }
      Price.appendIdempotent(spark, prices(1, 50), table("quiet_price"))
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
    assert(pins === before)
    assert(!seen.toArray.exists(_.toString.contains("was locally checkpointed")),
      seen.toArray.mkString("\n"))
  }
}

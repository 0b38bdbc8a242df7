package graft

import graft.sources.{Logs, Price}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

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

  /** Records read by the tasks of the jobs `body` starts. */
  private def recordsReadBy(body: => Unit): Long = jobsAndRecordsReadBy(body)._2

  /** Jobs `body` starts and records their tasks read (tagged via a
    * local property; a sentinel job flushes the listener bus). */
  private def jobsAndRecordsReadBy(body: => Unit): (Int, Long) = {
    val key = "graft.spec.phase"
    val stageTag = new ConcurrentHashMap[Int, String]()
    val read = new AtomicLong()
    val jobs = new AtomicLong()
    val sentinel = new LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tag = Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse("")
        e.stageIds.foreach(stageTag.put(_, tag))
        if (tag == "body") jobs.incrementAndGet()
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
      (jobs.get.toInt, read.get)
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

  test("an empty batch without input partitions writes nothing, into a new or a stored table") {
    // no map task runs, so the stage write's observed facts must still arrive
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      logs(0, 0).schema)
    assert(none.rdd.getNumPartitions === 0)
    Seq("plain" -> false, "staged" -> true).foreach { case (form, staged) =>
      val t = table(s"no_parts_$form")
      Logs.appendIdempotent(spark, none, t, staged = staged)
      assert(!new java.io.File(t).exists, form)
      Logs.appendIdempotent(spark, logs(1, 10), t, staged = staged)
      Logs.appendIdempotent(spark, none, t, staged = staged)
      assert(Logs.read(spark, t).count() === 9, form)
      assert(!new java.io.File(t, "_graft_stage").exists, form)
    }
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

  /** `rows` stored under `t` as one file per range, partitioned as the
    * table is but with parquet column statistics off. */
  private def storeWithoutStats(rows: DataFrame, t: String): Unit =
    rows.withColumn("block_range", (col("block_number") / Logs.blocksPerPartition).cast(LongType))
      .repartition(col("block_range")).write.option("parquet.column.statistics.enabled", "false")
      .partitionBy("block_range").mode("append").parquet(t)

  test("an append whose window overlaps no stored file runs two jobs and reads no stored row") {
    Seq("plain" -> false, "staged" -> true).foreach { case (form, staged) =>
      val t = table(s"two_jobs_$form")
      Logs.appendIdempotent(spark, logs(0, 5000), t, staged = staged)
      // same block_range, a window no stored file's footer covers
      val (jobs, read) = jobsAndRecordsReadBy(
        Logs.appendIdempotent(spark, logs(6000, 6200), t, staged = staged))
      assert(jobs === 2, form)
      // the batch's own 200 source rows, and not one stored row
      assert(read === 200, s"$form read $read records for a 200-row batch")
      assert(Logs.read(spark, t).count() === 5200, form)
    }
  }

  test("a stored file without statistics is probed and the dedup stays exact") {
    val t = table("no_stats")
    storeWithoutStats(logs(0, 1000), t)
    // the stored footer carries no block_number window to rule the file out
    val file = new java.io.File(t, "block_range=0").listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file.getPath), spark.sparkContext.hadoopConfiguration))
    try assert(reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .filter(_.getPath.toDotString == "block_number").forall(!_.getStatistics.hasNonNullValue))
    finally reader.close()
    val (_, read) = jobsAndRecordsReadBy(Logs.appendIdempotent(spark, logs(900, 1100), t))
    // the batch's 200 source rows, then the probe: the staged rows and
    // every row of the file, whose footer cannot rule it out
    assert(read >= 200 + 1000, s"the footer-less file was not probed: $read records read")
    Logs.appendIdempotent(spark, logs(950, 1200), t, staged = true)
    assert(Logs.read(spark, t).count() === 1200)
    assert(dupPks(t) === 0)
  }

  test("every append form writes each file sorted by (address, topic0)") {
    forms.foreach { case (form, append) =>
      val t = table(s"sorted_$form")
      // addresses and topics cycle with the block, so arrival order is unsorted
      append(logs(0, 5000).withColumn("topic0", concat(lit("0xsig"), (col("block_number") % 7)
        .cast(StringType))), t)
      val files = new java.io.File(t, "block_range=0").listFiles().map(_.getPath)
        .filter(_.endsWith(".parquet"))
      assert(files.length === 1, form)
      val keys = spark.read.parquet(files.head).select("address", "topic0").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(keys.size === 5000, form)
      assert(keys === keys.sorted, s"$form: ${files.head} is not sorted by (address, topic0)")
    }
  }

  test("a stage left by a crash before its publish is invisible and never published") {
    val t = table("crash")
    /** What a crashed append leaves: staged files, never renamed. */
    def leftover(rows: DataFrame): Unit =
      rows.withColumn("block_range", (col("block_number") / Logs.blocksPerPartition).cast(LongType))
        .write.partitionBy("block_range").parquet(s"$t/_graft_stage/${java.util.UUID.randomUUID()}")
    leftover(logs(1, 100))
    // the empty-table rule holds: nothing is committed yet
    assert(Logs.read(spark, t).count() === 0)
    assert(Logs.highWaterMark(spark, t) === 0L)
    Logs.appendIdempotent(spark, logs(1, 100), t)
    assert(Logs.read(spark, t).count() === 99)
    leftover(logs(50, 300))
    assert(Logs.read(spark, t).count() === 99)
    assert(Logs.highWaterMark(spark, t) === 99L)
    // re-appending the crashed batches lands each row exactly once
    Logs.appendIdempotent(spark, logs(50, 300), t)
    Logs.appendIdempotent(spark, logs(1, 100), t, staged = true)
    Logs.appendIdempotent(spark, logs(50, 300), t, staged = true)
    assert(Logs.read(spark, t).count() === 299)
    assert(Logs.highWaterMark(spark, t) === 299L)
    assert(dupPks(t) === 0)
  }
}

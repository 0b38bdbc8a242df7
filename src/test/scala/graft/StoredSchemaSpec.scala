package graft

import graft.operators.EventViews
import graft.sources.{Logs, Price, Snapshots}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** The declared-schema contract of the stored tables: `logs` and
  * `price` open with their declared schema, never by parquet footer
  * inference, so opening one plans without a Spark job — and reads
  * exactly what footer inference would on every file the writers
  * produce. */
class StoredSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(rows: Seq[String]): String = {
    val p = Files.createTempFile("logs", ".ndjson")
    Files.writeString(p, rows.mkString("\n"))
    p.toString
  }

  private def row(blockNum: Long, logIdx: Long, removed: Boolean = false): String =
    s"""{"address":"0xa${blockNum % 3}","topics":["0xsig","0xt1"],"data":"0x01",""" +
      s""""blockHash":"0xb$blockNum","blockNumber":"0x${blockNum.toHexString}",""" +
      s""""transactionHash":"0xtx$blockNum","transactionIndex":"0x0",""" +
      s""""logIndex":"0x${logIdx.toHexString}","removed":$removed}"""

  private def batch(rows: String*) = Logs.readNdjson(spark, fixture(rows))

  private val far = Logs.blocksPerPartition + 2

  private def table(prefix: String) = Files.createTempDirectory(prefix).toString + "/t"

  private def priceBatch(blocks: Long*): DataFrame = Price.fromWire(
    blocks.map(b => ("0xtok", s"0x${b.toHexString}", f"0x${b * 7}%064x"))
      .toDF("token", "blockNumber", "result"))

  /** Same column types and the same rows, column by column. */
  private def assertSameTable(declared: DataFrame, inferred: DataFrame, names: Seq[String]): Unit = {
    val d = declared.select(names.map(col): _*)
    val i = inferred.select(names.map(col): _*)
    assert(d.schema.map(f => f.name -> f.dataType) === i.schema.map(f => f.name -> f.dataType))
    val rows = d.collect().map(_.toString).sorted.toSeq
    assert(rows.nonEmpty)
    assert(rows === i.collect().map(_.toString).sorted.toSeq)
  }

  private def assertSameLogs(declared: DataFrame, inferred: DataFrame): Unit =
    assertSameTable(declared, inferred, Logs.schema.fieldNames.toSeq)

  /** Local-property tags of the jobs `body` starts. Listener delivery
    * is asynchronous but in order, so once a sentinel job tagged after
    * `body` has been seen, every job `body` started has been seen too. */
  private def jobsStartedBy(body: => Unit): Seq[String] = {
    val key = "graft.spec.phase"
    val started = new LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.put(Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      try body finally sc.setLocalProperty(key, "sentinel")
      spark.range(1).count()
      val seen = Iterator.continually(started.poll(60, TimeUnit.SECONDS))
        .takeWhile(t => t != null && t != "sentinel").toList
      seen.filter(_ == "body")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("Logs.read, Price.read and Snapshots.read start no Spark job") {
    val logs = table("open_jobs")
    val price = table("open_jobs_price")
    Logs.appendIdempotent(spark, batch(row(1, 0), row(far, 0)), logs)
    Snapshots.commit(spark, logs)
    Price.appendIdempotent(spark, priceBatch(10, 20), price)
    assert(jobsStartedBy {
      Logs.read(spark, logs)
      Price.read(spark, price)
      Snapshots.read(spark, logs)
    }.isEmpty)
  }

  test("registerChainNamespace declares the logs columns: no job, every range read") {
    val ranged = table("chain_ranged")
    Logs.appendIdempotent(spark, batch(row(1, 0), row(far, 0)), ranged)
    val flat = table("chain_flat")
    Logs.read(spark, ranged).write.parquet(flat)
    val base = Files.createTempDirectory("chain_db").toString
    assert(jobsStartedBy {
      EventViews.registerChainNamespace(spark, "graft_declared_ranged", ranged,
        dbLocation = Some(s"$base/r"))
      EventViews.registerChainNamespace(spark, "graft_declared_flat", flat,
        dbLocation = Some(s"$base/f"))
    }.isEmpty)
    val r = spark.table("graft_declared_ranged.logs")
    assert(r.schema === Logs.storedSchema)
    assertSameLogs(r, Logs.read(spark, ranged))
    val f = spark.table("graft_declared_flat.logs")
    assert(f.schema === Logs.schema)
    assertSameLogs(f, spark.read.parquet(flat))
    // a range written after registration is served once re-registered
    Logs.appendIdempotent(spark, batch(row(2 * far, 0)), ranged)
    EventViews.registerChainNamespace(spark, "graft_declared_ranged", ranged,
      dbLocation = Some(s"$base/r"))
    assert(spark.table("graft_declared_ranged.logs").count() === 3)
  }

  test("declared open equals footer inference on every writer's output") {
    // appendIdempotent, single-writer form, across two ranges
    val plain = table("eq_plain")
    Logs.appendIdempotent(spark, batch(row(1, 0), row(2, 0)), plain)
    Logs.appendIdempotent(spark, batch(row(2, 0), row(far, 0)), plain)
    assertSameLogs(Logs.read(spark, plain), spark.read.parquet(plain))

    // appendIdempotent, staged (concurrent-writer) form
    val staged = table("eq_staged")
    Logs.appendIdempotent(spark, batch(row(1, 0), row(far, 0)), staged, staged = true)
    Logs.appendIdempotent(spark, batch(row(far, 0), row(far + 1, 0)), staged, staged = true)
    assert(Logs.read(spark, staged).count() === 3)
    assertSameLogs(Logs.read(spark, staged), spark.read.parquet(staged))

    // appendCanonical: fresh write, then a same-PK tombstone rewrite
    val canon = table("eq_canon")
    Logs.appendIdempotent(spark, batch(row(1, 0), row(2, 0), row(far, 0)), canon,
      canonicalize = true)
    Logs.appendIdempotent(spark, batch(row(2, 0, removed = true)), canon, canonicalize = true)
    assert(Logs.read(spark, canon).filter(col("removed")).count() === 1)
    assertSameLogs(Logs.read(spark, canon), spark.read.parquet(canon))

    // compact, and a snapshot pinned before it (its files now retained)
    val snap = table("eq_snap")
    Logs.appendIdempotent(spark, batch(row(1, 0), row(far, 0)), snap)
    Logs.appendIdempotent(spark, batch(row(3, 0), row(far + 1, 0)), snap)
    val v0 = Snapshots.commit(spark, snap)
    Logs.compact(spark, snap)
    assertSameLogs(Logs.read(spark, snap), spark.read.parquet(snap))
    val live = new java.io.File(snap)
    val pinned = Snapshots.files(spark, snap, v0).map { f =>
      if (new java.io.File(live, f).exists) (snap, s"$snap/$f")
      else (s"$snap/_graft_retained", s"$snap/_graft_retained/$f")
    }
    assert(pinned.exists(_._1 != snap), "compaction should have retained v0's files")
    val inferredPin = pinned.groupBy(_._1).toSeq.map { case (base, fs) =>
      spark.read.option("basePath", base).parquet(fs.map(_._2): _*)
        .select(Logs.schema.fieldNames.map(col).toSeq: _*)
    }.reduce(_ unionByName _)
    assertSameLogs(Snapshots.read(spark, snap, Some(v0)), inferredPin)

    // price
    val price = table("eq_price")
    Price.appendIdempotent(spark, priceBatch(10, 20), price)
    Price.appendIdempotent(spark, priceBatch(20, 30), price)
    assertSameTable(Price.read(spark, price), spark.read.parquet(price),
      Price.schema.fieldNames.toSeq)
  }

  test("price append after a crashed first write lands its rows; a replay adds none") {
    // a first write that died leaves a dir with only _temporary/_SUCCESS
    val price = table("price_crash")
    new java.io.File(s"$price/_temporary/0").mkdirs()
    new java.io.File(s"$price/_SUCCESS").createNewFile()
    assert(Price.read(spark, price).count() === 0)
    Price.appendIdempotent(spark, priceBatch(10, 20), price)
    assert(Price.read(spark, price).count() === 2)
    Price.appendIdempotent(spark, priceBatch(10, 20), price)
    assert(Price.read(spark, price).select("block_number").as[Long]
      .collect().sorted.toSeq === Seq(10L, 20L))
  }

  test("appends to an unpartitioned logs table fail loudly instead of duplicating") {
    val flat = table("flat")
    batch(row(1, 0), row(2, 0)).write.parquet(flat)
    // reads and resume still accept the layout
    assert(Logs.highWaterMark(spark, flat) === 2L)
    assert(Logs.read(spark, flat).count() === 2)
    // a replay of stored rows, in every append form
    val replay = batch(row(2, 0), row(3, 0))
    Seq[() => Unit](
      () => Logs.appendIdempotent(spark, replay, flat),
      () => Logs.appendIdempotent(spark, replay, flat, staged = true),
      () => Logs.appendIdempotent(spark, replay, flat, canonicalize = true)
    ).foreach { append =>
      val e = intercept[IllegalStateException](append())
      assert(e.getMessage.contains("unpartitioned"))
    }
    assert(Logs.read(spark, flat).count() === 2)
  }
}

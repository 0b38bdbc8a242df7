package graft.sources

import graft.functions.Abi
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `logs` fact table: wire schema, ingest transforms, idempotent
  * append, resume, and reorg canonicalization.
  *
  * Reference semantics being reproduced (Spark-first, not ported):
  * - wire record = `eth_getLogs` result object (`get_logs.go:11-21`)
  * - ingest transform = topics[4] → topic0..3 columns, `"0x"`/empty
  *   data → null, hex → decimal indexes (`get_logs.go:38-55`)
  * - idempotence = PK `(block_hash, transaction_hash, log_index)` with
  *   `ON CONFLICT DO NOTHING` (`get_logs.go:118-120`, `schema.sql:51`)
  * - resume = `select max(block_number) from logs` (`main.go:162-175`)
  * - reorg tombstones = `removed` flag stored verbatim; the reference
  *   leaves handling as a todo (`get_logs.go:107`) — we define it:
  *   latest write per PK wins, `removed=true` rows drop out of the
  *   canonical view.
  *
  * Scale design: the table is laid out as Parquet partitioned by
  * `block_range` (block_number / blocksPerPartition). Every operation
  * here — idempotent append's probe, the high-water-mark scan, reorg
  * dedup — prunes to the block partitions it touches. An append costs
  * its batch, not the table: one SQL execution dedups the batch and
  * writes it to a private stage, and the DO-NOTHING probe opens only
  * the stored files whose footer `block_number` window meets the
  * batch's, and reads them only inside that window — exact because a
  * PK fixes its block ([[Pinned.unseen]]); the stage is then published
  * by rename ([[appendIdempotent]]). Within a partition, files are
  * sorted by (address, topic0): the stand-in for the reference's 9
  * btree indexes (`schema.sql:54-62`) via parquet min/max + dictionary
  * pushdown.
  *
  * Declared-schema contract: a stored table's schema is [[schema]]
  * plus the `block_range` partition column (`LongType`), and its files
  * are never footer-inferred. Every reader — [[read]], the append
  * probes, [[highWaterMark]], the partition rewrites and
  * [[Snapshots]] — opens files through [[open]], so opening a table
  * runs no schema-inference job: it plans from the directory listing
  * alone (which Spark distributes as a job only past
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths).
  * Writers project to [[schema]] before writing, so the declared open
  * and footer inference agree on every file this object writes.
  */
object Logs {

  /** `eth_getLogs` result element, as on the wire (`get_logs.go:11-21`,
    * `README.md:15-32`): all numerics 0x-hex strings, topics a 0-4
    * element array. */
  val wireSchema: StructType = StructType(Seq(
    StructField("address", StringType),
    StructField("topics", ArrayType(StringType)),
    StructField("data", StringType),
    StructField("blockHash", StringType),
    StructField("blockNumber", StringType),
    StructField("transactionHash", StringType),
    StructField("transactionIndex", StringType),
    StructField("logIndex", StringType),
    StructField("removed", BooleanType)))

  /** Analytic schema (`schema.sql:36-52` / FIXTURES.md §2). */
  val schema: StructType = StructType(Seq(
    StructField("address", StringType),
    StructField("topic0", StringType),
    StructField("topic1", StringType),
    StructField("topic2", StringType),
    StructField("topic3", StringType),
    StructField("data", StringType),
    StructField("block_hash", StringType),
    StructField("block_number", LongType),
    StructField("transaction_hash", StringType),
    StructField("transaction_index", LongType),
    StructField("log_index", LongType),
    StructField("removed", BooleanType),
    StructField("block_timestamp", TimestampType)))

  /** Idempotence contract (`schema.sql:51`). */
  val pk: Seq[String] = Seq("block_hash", "transaction_hash", "log_index")

  /** Blocks per physical partition. ~2k blocks ≈ one Parquet file of
    * event logs on a busy chain; tune per deployment. */
  val blocksPerPartition: Long = 100000L

  /** P1-P3: wire records → analytic rows. Topics split positionally
    * (`get_logs.go:38-43`); short topic arrays yield nulls (vs the
    * reference's Go `[4]string` empty strings — views only test
    * topic0, so the normalization is observationally equivalent and
    * null is the honest SQL value). `block_timestamp` stays null: the
    * reference loader never populates it (`get_logs.go:118-119`). */
  def fromWire(raw: DataFrame): DataFrame = raw.select(
    col("address"),
    element_at(col("topics"), 1).as("topic0"),
    element_at(col("topics"), 2).as("topic1"),
    element_at(col("topics"), 3).as("topic2"),
    element_at(col("topics"), 4).as("topic3"),
    when(col("data").isin("0x", ""), lit(null).cast(StringType))
      .otherwise(col("data")).as("data"),
    col("blockHash").as("block_hash"),
    Abi.hexToLong(col("blockNumber")).as("block_number"),
    col("transactionHash").as("transaction_hash"),
    Abi.hexToLong(col("transactionIndex")).as("transaction_index"),
    Abi.hexToLong(col("logIndex")).as("log_index"),
    // absent = not removed, as RpcSource reads it (`when`, not
    // `coalesce`: the column stays nullable, as in [[schema]])
    when(col("removed").isNull, lit(false)).otherwise(col("removed")).as("removed"),
    lit(null).cast(TimestampType).as("block_timestamp"))

  /** Batch replay of an NDJSON RPC capture (fixture format per
    * `curl-get-logs-moonbeam-loop.sh:6,16`). */
  def readNdjson(spark: SparkSession, path: String): DataFrame =
    fromWire(spark.read.schema(wireSchema).json(path))

  /** `block_timestamp` backfill (extension beyond the reference,
    * SURVEY §7.4 — the reference declares the column and projects
    * `evt_block_time` in every view but never fills it,
    * `get_logs.go:118-119`): left-join block-header timestamps onto a
    * batch by block_number. The header side is per-window bounded
    * (one row per distinct block), so it broadcasts — no shuffle of
    * the log rows. Blocks absent from `blocks` keep a null
    * timestamp. */
  def withBlockTimestamps(batch: DataFrame, blocks: DataFrame): DataFrame =
    batch.drop("block_timestamp")
      .join(broadcast(blocks.select(col("block_number").as("_bn"),
        col("block_timestamp").as("_bts"))),
        col("block_number") === col("_bn"), "left")
      .withColumn("block_timestamp", col("_bts"))
      .select(schema.fieldNames.map(col): _*)

  /** Stored row shape: [[schema]] in order, then the partition key. */
  private def withBlockRange(df: DataFrame): DataFrame =
    df.select(schema.fieldNames.map(col) :+
      (col("block_number") / blocksPerPartition).cast(LongType).as("block_range"): _*)

  private[graft] val storedSchema: StructType = schema.add("block_range", LongType)

  /** The one way stored logs files are opened: with the declared
    * schema, `block_range` typed from the partition directories under
    * `basePath`, result in [[schema]] column order. `paths` may be the
    * table root, partition directories or single files; on an
    * unpartitioned root `block_range` reads as null and is dropped. */
  private[sources] def open(spark: SparkSession, basePath: String, paths: String*): DataFrame =
    spark.read.schema(storedSchema).option("basePath", basePath).parquet(paths: _*)
      .select(schema.fieldNames.map(col): _*)

  private[sources] def empty(spark: SparkSession, of: StructType = schema): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), of)

  private def rangeDir(tablePath: String, r: Long): String = s"$tablePath/block_range=$r"

  /** One append's input after [[pinned]] or a stage write: `n` rows,
    * `nullBlocks` of them without a `block_number`, `block_number`
    * window `[lo, hi]`, sorted `block_range` values `ranges` (empty
    * without that column, as for a `price` batch). */
  private[sources] final case class Pinned(rows: DataFrame, n: Long, nullBlocks: Long,
      lo: Long, hi: Long, ranges: Seq[Long]) {
    /** The DO-NOTHING probe: rows whose `key` is not in `stored`, read
      * only inside `[lo, hi]`. Exact because the key fixes the block (a
      * logs PK's `block_hash` names one block; a price PK holds
      * `block_number`); the window is pushed into parquet, so row groups
      * other batches wrote are skipped on their min/max stats. */
    def unseen(stored: DataFrame, key: Seq[String]): DataFrame =
      rows.join(stored.filter(col("block_number").between(lo, hi)).select(key.map(col): _*),
        key, "left_anti")
  }

  /** The facts both append paths gather in their one pass over a batch
    * (`observe`), in [[Pinned]]'s order; [[decode]] reads them back. */
  private def factColumns(batch: DataFrame): Seq[Column] =
    Seq(count(lit(1)), count("block_number"),
      coalesce(min("block_number"), lit(0L)), coalesce(max("block_number"), lit(-1L))) ++
      (if (batch.columns.contains("block_range")) Seq(collect_set("block_range")) else Nil)

  private def decode(f: Row, rows: DataFrame): Pinned =
    Pinned(rows, f.getLong(0), f.getLong(0) - f.getLong(1), f.getLong(2), f.getLong(3),
      if (f.length > 4) f.getSeq[Long](4).sorted else Nil)

  /** Evaluate `batch` exactly once: one `localCheckpoint` pass pins its
    * rows and gathers its [[Pinned]] facts (`observe`), so the emptiness
    * test, the ranges, the probe and the write read the pin instead of
    * re-running the upstream (RPC fetch, JSON parse, dedup shuffle). The
    * pin is released when `body` returns or throws. */
  private[sources] def pinned[T](batch: DataFrame)(body: Pinned => T): T = {
    val facts = factColumns(batch)
    val observed = batch.observe("graft_append_facts", facts.head, facts.tail: _*)
    val rows = observed.localCheckpoint(eager = true)
    try body(decode(observed.queryExecution.observedMetrics("graft_append_facts"), rows))
    finally graft.Pins.release(rows)
  }

  /** A logs batch holding a row without a `block_number` (a pending
    * log) is refused whole: that row would land in
    * `block_range=__HIVE_DEFAULT_PARTITION__`, which no later read or
    * append of the table can parse. */
  private def requireBlocks(b: Pinned): Unit =
    require(b.nullBlocks == 0, s"logs batch has ${b.nullBlocks} row(s) with a null " +
      "block_number (pending logs); nothing was written")

  /** [[pinned]] for a logs batch, tagged with its `block_range` and
    * refused before any write by [[requireBlocks]]. */
  private def pinnedLogs[T](batch: DataFrame)(body: Pinned => T): T =
    pinned(withBlockRange(batch)) { b => requireBlocks(b); body(b) }

  /** Appends write and probe `block_range` partitions only, so against
    * an unpartitioned table (data files at its root, which [[read]] and
    * [[highWaterMark]] still accept) every replayed row would look new.
    * Refuse it loudly instead of appending duplicates. */
  private def requirePartitioned(tablePath: String, stored: Option[Seq[Long]]): Unit =
    if (stored.exists(_.isEmpty))
      throw new IllegalStateException(s"$tablePath is an unpartitioned logs table " +
        "(data files at its root): appends write block_range partitions and cannot " +
        "dedup against it; rewrite it partitioned by block_range first")

  /** Every logs write goes through this writer: parquet BLOOM FILTERS
    * on `address` and `topic0` — the reference's btree-index analog
    * for POINT predicates (`schema.sql:54-62` indexes exactly these).
    * Min/max stats barely prune on high-cardinality hex strings
    * (ranges overlap across row groups even sorted); a bloom filter
    * answers "this row group has no rows for contract X" directly, so
    * a per-contract scan at 100 TB skips row groups the sort order
    * can't exclude. NDVs are per-ROW-GROUP expectations (addresses
    * bounded by the 100k-block range partition, topic0 by the event-
    * signature universe); ~10 bits/value at the default 1% fpp ≈
    * 0.1% file overhead. Dictionary + sort stay as-is — blooms are
    * additive. */
  private def bloomWriter(df: DataFrame): DataFrameWriter[Row] =
    df.write
      .option("parquet.bloom.filter.enabled#address", "true")
      .option("parquet.bloom.filter.expected.ndv#address", "100000")
      .option("parquet.bloom.filter.enabled#topic0", "true")
      .option("parquet.bloom.filter.expected.ndv#topic0", "10000")

  /** The append layout for rows clustered by `block_range`: one file
    * per touched range per call, sorted by (address, topic0). The sort
    * leads with `block_range`, the ordering the partitioned write
    * requires, so the planner keeps it rather than re-sort and drop it. */
  private def rangeWriter(clustered: DataFrame): DataFrameWriter[Row] =
    bloomWriter(clustered.sortWithinPartitions("block_range", "address", "topic0"))
      .partitionBy("block_range")

  /** S5: idempotent append — the engine's `INSERT … ON CONFLICT DO
    * NOTHING` — in three steps:
    * 1. Stage: one SQL execution clusters the batch by `block_range`,
    *    dedups it on `block_range` + PK in that same exchange (exact:
    *    the PK fixes the block, [[Pinned.unseen]]), observes its
    *    [[Pinned]] facts and writes it through [[rangeWriter]] into a
    *    private `_graft_stage/<uuid>`, which no reader lists.
    * 2. Decide: an empty batch publishes nothing and never creates the
    *    table, and a pending log refuses the whole batch
    *    ([[requireBlocks]]). Otherwise only the stored files of the
    *    touched ranges whose footer `block_number` window meets the
    *    batch's `[lo, hi]` ([[probeFiles]]) are probed: the staged rows
    *    of those ranges are anti-joined against them into a second
    *    stage. With no overlapping file there is no probe at all.
    * 3. Publish: each staged file is renamed into its range dir as
    *    `stage-<uuid>-…` (metadata-only on HDFS/local); both stages are
    *    deleted, throw included.
    *
    * `staged = true` is the CONCURRENT-WRITER form (the reference runs
    * any number of parallel archivers against Postgres). Steps 2 and 3
    * hold the per-range locks that `compact` and canonicalization swap
    * under, in ascending range order (no deadlock); the private stage
    * write runs unlocked. The locks keep a publish from re-creating a
    * partition dir a swap just parked, or from landing a file between
    * a rewrite's read and its park. Rewriters wait for an append's
    * listing, probe and renames; an appender waits for anyone. Two
    * writers racing the SAME PK can both land it (each probe predates
    * the other's rename); the canonical read and compaction dedup it by
    * PK, as they do re-delivered batches. Pair with
    * [[Snapshots.commitWithRetry]]. */
  def appendIdempotent(spark: SparkSession, batch: DataFrame, tablePath: String,
      canonicalize: Boolean = false, staged: Boolean = false): Unit =
    if (canonicalize) appendCanonical(spark, batch, tablePath)
    else {
      val root = new Path(tablePath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val created = !fs.exists(root)
      val stage = new Path(root, s"_graft_stage/${java.util.UUID.randomUUID()}")
      val probed = stage.suffix("-probe")
      try {
        val facts = org.apache.spark.sql.Observation("graft_append_facts")
        val deduped = withBlockRange(batch).repartition(col("block_range"))
          .dropDuplicates("block_range" +: pk)
        val cols = factColumns(deduped)
        rangeWriter(deduped.observe(facts, cols.head, cols.tail: _*)).parquet(stage.toString)
        val b = decode(scala.concurrent.Await.result(facts.future, scala.concurrent.duration.Duration.Inf),
          spark.read.schema(storedSchema).option("basePath", stage.toString).parquet(stage.toString))
        requireBlocks(b)
        def locked(body: => Unit): Unit =
          if (staged) b.ranges.foldRight(() => body) { (r, acc) => () =>
            withPartitionLock(fs, tablePath, r, kind = "append",
              waitFor = Set("append", "rewrite"), waitMs = 600000L)(acc())
          }.apply()
          else body
        if (b.n > 0) locked {
          val stored = b.ranges.flatMap(r => probeFiles(fs, tablePath, r, b.lo, b.hi).map(r -> _)).toMap
          if (stored.isEmpty) requirePartitioned(tablePath, committedRanges(spark, tablePath))
          val probe = stored.filter(_._2.nonEmpty)
          if (probe.nonEmpty)
            rangeWriter(b.copy(rows = b.rows.filter(col("block_range").isin(probe.keys.toSeq: _*)))
              .unseen(open(spark, tablePath, probe.values.flatten.toSeq: _*), pk)
              .repartition(col("block_range"))).parquet(probed.toString)
          b.ranges.foreach(r => publish(fs, if (probe.contains(r)) probed else stage, tablePath, r))
        }
        // Spark's listing caches for the table predate the renames
        if (b.n > 0) spark.catalog.refreshByPath(tablePath)
      } finally {
        Seq(stage, probed).foreach(fs.delete(_, true))
        (Seq(stage.getParent) ++ (if (created) Seq(root) else Nil)).foreach { dir =>
          try if (fs.exists(dir) && fs.listStatus(dir).isEmpty) fs.delete(dir, false)
          catch { case _: java.io.IOException => () } // refilled: another writer's
        }
      }
    }

  /** Rename the data files `stage` holds for range `r` into the range's
    * dir under stage-unique names (a probe that found every row stored
    * leaves none). */
  private def publish(fs: FileSystem, stage: Path, tablePath: String, r: Long): Unit = {
    val from = new Path(stage, s"block_range=$r")
    if (fs.exists(from)) {
      val dest = new Path(rangeDir(tablePath, r))
      fs.mkdirs(dest)
      fs.listStatus(from).filter(isDataFile).foreach { f =>
        val to = new Path(dest, s"stage-${stage.getName}-${f.getPath.getName}")
        if (!fs.rename(f.getPath, to)) throw new java.io.IOException(s"append: cannot publish $to")
      }
    }
  }

  private def isDataFile(f: FileStatus): Boolean = f.isFile && f.getPath.getName.endsWith(".parquet")

  /** Each stored file's `block_number` window from its footer
    * statistics, read once per (name, length, mtime) and kept per range
    * dir: a listing replaces its dir's entry, so files gone from the dir
    * (compacted, swapped) drop out. `None` = unknown (a row group
    * without statistics): every batch probes that file. A backfill
    * leaves each range behind for good, so past [[footerDirs]] dirs the
    * cache starts over rather than grow with the table. */
  private val footerWindows =
    new java.util.concurrent.ConcurrentHashMap[String, Map[(String, Long, Long), Option[(Long, Long)]]]()
  private val footerDirs = 1024

  /** The stored files of range `r` whose `block_number` window meets
    * `[lo, hi]`, from one listing of its dir; `None` when the range is
    * not stored. Only these can hold a PK of a batch inside `[lo, hi]`. */
  private def probeFiles(fs: FileSystem, tablePath: String, r: Long,
      lo: Long, hi: Long): Option[Seq[String]] = {
    val dir = rangeDir(tablePath, r)
    val listed = try Some(fs.listStatus(new Path(dir)).toSeq.filter(isDataFile))
      catch { case _: java.io.FileNotFoundException => None }
    listed.map { files =>
      val known = footerWindows.getOrDefault(dir, Map.empty)
      val windows = files.map { f =>
        val key = (f.getPath.getName, f.getLen, f.getModificationTime)
        key -> known.getOrElse(key, footerWindow(fs.getConf, f))
      }
      if (footerWindows.size >= footerDirs) footerWindows.clear()
      footerWindows.put(dir, windows.toMap)
      files.zip(windows).collect {
        case (f, (_, w)) if w.forall { case (a, z) => a <= hi && lo <= z } => f.getPath.toString
      }
    }
  }

  /** The union of `f`'s row-group `block_number` min/max statistics;
    * `None` when a row group has none (or the file has no row group). */
  private def footerWindow(conf: org.apache.hadoop.conf.Configuration, f: FileStatus): Option[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    // options from `conf`: the one-argument `open` builds a fresh
    // Configuration, which parses the Hadoop XML defaults on every call
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    val windows = try reader.getFooter.getBlocks.asScala.toSeq.map(_.getColumns.asScala
      .find(_.getPath.toDotString == "block_number").map(_.getStatistics).collect {
        case s: org.apache.parquet.column.statistics.LongStatistics if s.hasNonNullValue =>
          (s.getMin, s.getMax)
      }) finally reader.close()
    Option.when(windows.nonEmpty && windows.forall(_.isDefined))(
      (windows.flatten.map(_._1).min, windows.flatten.map(_._2).max))
  }

  /** The table's committed state from one root listing (no Spark job,
    * no footer read): `None` until at least one data file is
    * COMMITTED, else the `block_range=N` partition values — empty for
    * an unpartitioned table (data files at the root). A table dir that
    * exists but holds only `_temporary`/`_SUCCESS` (mid-first-write, or
    * after a crash before any job commit) is `None`: every path below
    * treats it as "empty table", so a status probe or resume racing
    * the first micro-batch sees 0 rows (observed live: the StreamLogs
    * stats loop killed the stream mid-first-batch). */
  private def committedRanges(spark: SparkSession, tablePath: String): Option[Seq[Long]] = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val entries = fs.listStatus(p).toSeq
      val ranges = entries.map(_.getPath.getName).collect {
        case n if n.startsWith("block_range=") => n.stripPrefix("block_range=").toLong
      }
      if (ranges.nonEmpty ||
          entries.exists(e => e.isFile && e.getPath.getName.endsWith(".parquet"))) Some(ranges)
      else None
    }
  }

  /** True once at least one data file is committed (see
    * [[committedRanges]]); the same guard serves the `price` table. */
  private[sources] def hasCommittedData(spark: SparkSession, tablePath: String): Boolean =
    committedRanges(spark, tablePath).isDefined

  /** S4: resume point — `select max(block_number) from logs`
    * (`main.go:169`); 0 when the table is empty, matching
    * `getDatabaseBlockNumber`'s COALESCE-to-0 contract (`main.go:171`).
    *
    * Pruned to the lexically-max `block_range` partition: block_number
    * and block_range are monotone together, so the global max lives in
    * the max partition. One directory listing + one partition's footer
    * stats instead of O(#partitions) — on every resume of a table with
    * 10^5 ranges that's the difference between listing one directory
    * and all of them. */
  def highWaterMark(spark: SparkSession, tablePath: String): Long =
    committedRanges(spark, tablePath) match {
      case None => 0L
      case Some(ranges) =>
        val dir = if (ranges.isEmpty) tablePath // unpartitioned layout
          else rangeDir(tablePath, ranges.max)
        open(spark, tablePath, dir)
          .agg(coalesce(max("block_number"), lit(0L))).collect()(0).getLong(0)
    }

  /** Read the stored table in analytic column order (drops the
    * physical block_range partition column); empty before the first
    * commit lands. */
  def read(spark: SparkSession, tablePath: String): DataFrame =
    if (!hasCommittedData(spark, tablePath)) empty(spark)
    else open(spark, tablePath, tablePath)

  /** Compact the small files a micro-batch ingest accumulates: rewrite
    * the given block-range partitions (default: all) as a sorted,
    * size-targeted file set each, restoring the (address, topic0)
    * clustering that gives parquet min/max skipping its power. Run
    * periodically beside a streaming ingest; correctness is unaffected
    * (same rows, PK-deduped again in passing).
    *
    * Crash/read safety: each partition is compacted into a hidden
    * sibling directory (`.graft_compact_tmp`, invisible to partition
    * discovery) and swapped in with two renames, with the originals
    * parked in a backup dir until the swap lands — the input files are
    * never deleted before the replacement is fully written, so a
    * failure mid-compact leaves the partition either untouched or
    * fully replaced (the earlier cache()+overwrite scheme deleted the
    * partition before the write job committed). Restored on failure.
    *
    * Scale shape: partitions compact CONCURRENTLY (`parallelism` Spark
    * jobs at a time — at 100 TB a serial per-range loop is the
    * bottleneck, not the rewrites), and the output file count targets
    * `targetFileBytes` from the partition's actual on-disk size
    * instead of forcing one file per range (a hot range stays
    * parallel-readable). Single-writer vs concurrent INGEST still
    * assumed (a transactional table format is the upgrade path). */
  def compact(spark: SparkSession, tablePath: String,
      ranges: Option[Seq[Long]] = None,
      targetFileBytes: Long = 512L << 20,
      parallelism: Int = 4): Unit = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val targetRanges = ranges.getOrElse(committedRanges(spark, tablePath).getOrElse(Nil))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, targetRanges.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    val jobs = targetRanges.map(r =>
      Future(rewriteRange(spark, fs, tablePath, r, targetFileBytes)(_.dropDuplicates(pk))))
    // wait for EVERY job before any cleanup — a parked partition must
    // never be deleted while its swap is still in flight
    val results = jobs.map(f =>
      scala.util.Try(Await.result(f, scala.concurrent.duration.Duration.Inf)))
    pool.shutdown()
    if (results.forall(_.isSuccess)) {
      clearSwapDirs(fs, tablePath, targetRanges)
      recommitSnapshots(spark, tablePath)
    }
    // on failure: leave tmp/bak on disk — recovery evidence, and
    // possibly a parked partition whose restore itself failed
    results.collect { case scala.util.Failure(e) => throw e }
  }

  /** Swap-rewrite range `r` as `merge` of its stored rows (analytic
    * columns, no `block_range`), opened under the partition lock, in
    * sorted files of about `targetFileBytes` each. */
  private def rewriteRange(spark: SparkSession, fs: FileSystem,
      tablePath: String, r: Long, targetFileBytes: Long = 512L << 20)(
      merge: DataFrame => DataFrame): Unit = {
    val partDir = rangeDir(tablePath, r)
    val bytes = fs.getContentSummary(new Path(partDir)).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    swapInPartition(fs, tablePath, r) { tmp =>
      bloomWriter(merge(open(spark, tablePath, partDir)).repartition(nFiles)
        .sortWithinPartitions("address", "topic0")).mode("overwrite").parquet(tmp)
    }
  }

  /** Re-pin snapshots after an in-place rewrite: compaction and
    * canonical swap-rewrites replace the very files older manifests
    * pin, so when the table is snapshot-tracked a fresh version is
    * published IN THE SAME OPERATION — the quiesce→rewrite→recommit
    * ordering is enforced by code, not by operators reading scaladoc.
    * Committed WITH retry: an appender publishing concurrently costs
    * the rewriter only a lost CAS (its retry re-lists the same
    * post-rewrite state), and an appender whose stale listing raced
    * this rewrite self-revokes via the publish liveness diff — either
    * way the surviving latest manifest reflects the rewrite. Readers
    * pinned to older versions still detect staleness via
    * [[Snapshots.isValid]]; new readers immediately get a valid pin. */
  private def recommitSnapshots(spark: SparkSession, tablePath: String): Unit =
    if (Snapshots.latestVersion(spark, tablePath).nonEmpty)
      Snapshots.commitWithRetry(spark, tablePath)

  /** Per-partition rewrite mutual exclusion — the rewrite-vs-rewrite
    * writer gap (two compactors, two canonicalizers, or one of each,
    * racing the SAME partition could interleave park/swap renames and
    * double data; the reference gets this for free from Postgres MVCC
    * + the PK, `schema.sql:51`). A lock file per block range is
    * claimed with an atomic no-overwrite create before any swap work
    * and released after the swap lands, so same-partition rewrites
    * serialize: the loser fails loudly with a retryable conflict
    * instead of corrupting the partition. DISJOINT ranges never
    * contend — compaction and canonicalization of different block
    * windows run concurrently by construction (each swap touches only
    * its own `block_range=N` live/tmp/bak/lock paths).
    *
    * The protocol lives in [[graft.util.DirLock]] (extracted r13 so
    * the signature-index writers and compactor share it); this is the
    * table-partition instantiation, one lock per `block_range`.
    *
    * Crash recovery: a rewriter that dies mid-swap leaves its lock;
    * locks older than `DirLock.StaleMs` (1 h — far beyond any
    * single-partition rewrite) are broken and re-claimed. The break
    * protocol: re-judge staleness IMMEDIATELY before acting (a breaker
    * that lost the race sees the winner's fresh re-claimed lock and
    * backs off without touching it — r7's delete-then-recreate judged
    * once and could delete that fresh lock, letting two rewriters
    * proceed), then rename the lock to a breaker-unique tombstone
    * (two breakers cannot both rename one instance away; rename
    * preserves mtime) and re-check the tombstone — a fresh lock
    * caught by a full owner cycle inside the microsecond re-judge→
    * rename window is renamed straight back. A waiter whose re-judge
    * finds the lock VANISHED never acquires in place (r9): that
    * reading is ambiguous between "owner released" and "a winning
    * breaker is inside its rename→re-claim gap", and acquiring on the
    * second meaning put two rewriters in one partition (observed as
    * colliding FileOutputCommitter _temporary dirs under suite load)
    * — it throws the retryable conflict instead, and the retry's
    * entry acquire is the one legitimate taker of a released lock.
    * Release deletes only a lock whose nonce this writer wrote — a
    * broken-and-reclaimed lock is never deleted out from under its
    * new owner. The rename-back residue makes this
    * serializing-best-effort, not a proof-grade mutex; on object
    * stores without atomic create-no-overwrite and mtime-preserving
    * rename it degrades the same way as every file-level CAS in this
    * layer (documented at [[graft.sources.Snapshots.publish]]). */
  private[sources] def withPartitionLock[T](fs: FileSystem,
      tablePath: String, r: Long,
      kind: String = "rewrite",
      waitFor: Set[String] = Set("append"),
      waitMs: Long = 120000L)(body: => T): T =
    graft.util.DirLock.withLock(fs,
      new Path(s"$tablePath/.graft_rewrite_lock"),
      s"block_range=$r", kind = kind, waitFor = waitFor, waitMs = waitMs)(body)

  /** Crash-safe partition rewrite: `write` lands the replacement in a
    * hidden tmp dir (invisible to partition discovery), the originals
    * are parked, and two renames swap the replacement in — the live
    * partition is either untouched or fully replaced at every instant,
    * and `write` may freely READ the live partition it replaces.
    * Guarded by [[withPartitionLock]]: same-partition rewrites
    * serialize, disjoint-partition rewrites don't contend. */
  private def swapInPartition(fs: FileSystem, tablePath: String,
      r: Long)(write: String => Unit): Unit = withPartitionLock(fs, tablePath, r) {
    val partDir = new Path(rangeDir(tablePath, r))
    val tmp = new Path(s"$tablePath/.graft_compact_tmp/block_range=$r")
    val bak = new Path(s"$tablePath/.graft_compact_bak/block_range=$r")
    fs.delete(tmp, true)
    write(tmp.toString)
    fs.delete(bak, true)
    fs.mkdirs(bak.getParent)
    if (!fs.rename(partDir, bak))
      throw new java.io.IOException(s"partition swap: cannot park $partDir")
    if (!fs.rename(tmp, partDir)) {
      if (!fs.rename(bak, partDir)) // restore, nothing lost
        throw new java.io.IOException(
          s"partition swap AND restore failed for $partDir — originals parked at $bak")
      throw new java.io.IOException(s"partition swap failed for $partDir, originals restored")
    }
    retainOrDelete(fs, tablePath, r, bak)
  }

  /** MVCC retention: on a snapshot-tracked table, files a swap
    * replaced move to `_graft_retained/block_range=N/` instead of
    * being deleted — manifests pinned BEFORE the rewrite keep
    * resolving every file they reference ([[Snapshots.read]] falls
    * back to the retained area), so compaction/canonicalization no
    * longer invalidates pinned readers at all. [[Snapshots.vacuum]]
    * is the GC: it deletes retained files once no kept manifest
    * references them. Untracked tables keep the plain delete. */
  private def retainOrDelete(fs: FileSystem, tablePath: String,
      r: Long, bak: Path): Unit = {
    val tracked = fs.exists(new Path(s"$tablePath/_graft_manifest"))
    if (tracked) {
      val dest = new Path(s"$tablePath/_graft_retained/block_range=$r")
      fs.mkdirs(dest)
      fs.listStatus(bak).filter(isDataFile).foreach { st =>
        val d = new Path(dest, st.getPath.getName)
        if (!fs.rename(st.getPath, d))
          throw new java.io.IOException(s"retention: cannot park ${st.getPath} at $d")
      }
    }
    fs.delete(bak, true)
  }

  /** Post-rewrite cleanup, scoped to the ranges THIS rewrite touched:
    * deleting the whole swap tree recursively would race a concurrent
    * rewrite of a DIFFERENT partition (its in-flight tmp lives under
    * the same hidden parent), which the per-partition locks
    * deliberately allow. The parents are then removed NON-recursively
    * — that delete refuses a non-empty dir, so a concurrent rewrite's
    * in-flight tmp survives; if it races the other way (parent
    * deleted just before the concurrent writer's first file), the
    * writer's own mkdirs recreates it. */
  private def clearSwapDirs(fs: FileSystem, tablePath: String,
      ranges: Iterable[Long]): Unit = {
    ranges.foreach { r =>
      fs.delete(new Path(
        s"$tablePath/.graft_compact_tmp/block_range=$r"), true)
      fs.delete(new Path(
        s"$tablePath/.graft_compact_bak/block_range=$r"), true)
    }
    Seq(".graft_compact_tmp", ".graft_compact_bak").foreach { d =>
      try fs.delete(new Path(s"$tablePath/$d"), false)
      catch { case _: java.io.IOException => () } // non-empty: a concurrent rewrite owns it
    }
  }

  /** T4: canonical (reorg-resolved) view — latest write per PK wins,
    * `removed=true` tombstones drop out. The window shuffles only on
    * the PK hash; at scale this runs per block-range partition.
    *
    * Note: a tombstone that reuses an already-stored PK is dropped by
    * [[appendIdempotent]]'s DO-NOTHING before it ever reaches the
    * table — the same blind spot the reference acknowledges
    * (`get_logs.go:107` todo). Real reorgs replace the block hash, so
    * the replacement rows land as new PKs and this view resolves them;
    * to honor same-PK tombstones, feed the raw batch through
    * [[canonical]] (union of stored + batch) before writing. */
  def canonical(logs: DataFrame): DataFrame =
    latestPerPk(logs).filter(!col("removed"))

  /** One row per PK, tombstone-first: a removed=true version shadows
    * the original insert for the same PK (the winning tombstone row is
    * KEPT — callers that want it gone filter `removed`). */
  private def latestPerPk(logs: DataFrame): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*).orderBy(col("removed").desc)
    logs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Same-PK tombstone write path — closes the DO-NOTHING blind spot
    * the reference leaves as a todo (`get_logs.go:107`): a
    * `removed=true` row that REUSES a stored PK is dropped by
    * [[appendIdempotent]]'s anti-join, so the tombstone never lands.
    * Here the touched partitions are unioned with the batch, ONE
    * version per PK survives with tombstones winning, and the
    * partitions are swap-rewritten in place.
    *
    * The winning tombstone row is stored, not deleted: it keeps
    * shadowing later at-least-once replays of the original insert
    * (no resurrection), and [[canonical]] drops it at read time.
    * Cost is O(touched partitions) — stored ranges the batch does not
    * overlap are never read or rewritten, and the batch's per-PK window
    * runs once ([[pinned]]) however many ranges it touches. */
  def appendCanonical(spark: SparkSession, batch: DataFrame, tablePath: String): Unit =
    pinnedLogs(latestPerPk(batch)) { b =>
      val stored = committedRanges(spark, tablePath)
      requirePartitioned(tablePath, stored)
      val (overlapping, fresh) = b.ranges.partition(stored.getOrElse(Nil).toSet)
      if (fresh.nonEmpty)
        rangeWriter(b.rows.filter(col("block_range").isin(fresh: _*)).repartition(col("block_range")))
          .mode("append").parquet(tablePath)
      val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      overlapping.foreach(r => rewriteRange(spark, fs, tablePath, r)(live => latestPerPk(
        live.unionByName(b.rows.filter(col("block_range") === r).drop("block_range")))))
      clearSwapDirs(fs, tablePath, overlapping)
      if (overlapping.nonEmpty) recommitSnapshots(spark, tablePath)
    }
}

package graft

import graft.sources.Logs
import graft.streaming.LogStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def row(blockNum: Long, logIdx: Long): String =
    s"""{"address":"0xaaa","topics":["0xsig"],"data":"0x01",""" +
      s""""blockHash":"0xb$blockNum","blockNumber":"0x${blockNum.toHexString}",""" +
      s""""transactionHash":"0xtx$blockNum","transactionIndex":"0x0",""" +
      s""""logIndex":"0x${logIdx.toHexString}","removed":false}"""

  test("streaming ingest: catch-up, checkpoint resume, idempotent sink") {
    val in = Files.createTempDirectory("stream_in").toString
    val table = Files.createTempDirectory("stream_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("stream_ckpt").toString

    Files.writeString(java.nio.file.Paths.get(s"$in/w1.ndjson"),
      Seq(row(1, 0), row(2, 0)).mkString("\n"))
    val q1 = LogStream.ingest(spark, in, table, ckpt)
    q1.awaitTermination() // AvailableNow terminates at catch-up (T5 bounded)
    assert(Logs.read(spark, table).count() === 2)

    // second window lands: one new file, one row overlapping w1
    Files.writeString(java.nio.file.Paths.get(s"$in/w2.ndjson"),
      Seq(row(2, 0), row(3, 0)).mkString("\n"))
    val q2 = LogStream.ingest(spark, in, table, ckpt)
    q2.awaitTermination()
    val rows = Logs.read(spark, table)
    assert(rows.count() === 3) // checkpoint skipped w1; PK dedup ate the overlap
    assert(Logs.highWaterMark(spark, table) === 3L)

    // full replay from a fresh checkpoint: table unchanged (idempotence)
    val q3 = LogStream.ingest(spark, in, table,
      Files.createTempDirectory("stream_ckpt2").toString)
    q3.awaitTermination()
    assert(Logs.read(spark, table).count() === 3)
  }

  test("watermarked tumbling windows over a bounded event stream") {
    val in = Files.createTempDirectory("ev_in").toString
    Tables(spark, "/root/testdata/sf0.001", "events")
      .write.mode("overwrite").parquet(in)
    val stream = spark.readStream
      .schema(spark.read.parquet(in).schema)
      .parquet(in)
    val out = LogStream.windowedCounts(stream)
    val q = out.writeStream
      .format("memory").queryName("win_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("win_out")
    // append mode emits only watermark-closed windows; all but the last
    // window close on a bounded stream
    val batch = Tables(spark, "/root/testdata/sf0.001", "events")
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
    assert(got.count() >= batch.count() - 10)
    // spot-check one closed window against the batch computation
    val sample = got.orderBy("win_start", "event_type").limit(1).collect()(0)
    val expect = batch
      .filter($"window.start" === sample.getTimestamp(0) &&
        $"event_type" === sample.getString(1))
      .collect()(0).getLong(2)
    assert(sample.getLong(2) === expect)
  }

  test("stateful sessionization: gap splits, cross-batch state, timeout emit") {
    import graft.streaming.LogStream.{Session, UserEvent}
    val in = Files.createTempDirectory("sess_in").toString
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    // user 1: two sessions split by a 20-min gap; user 2: one session
    // one file per batch (coalesce) with distinct mod times so the
    // file source processes them in event-time order deterministically
    Seq(UserEvent(1, ts(0), 1.0), UserEvent(1, ts(2), 2.0), UserEvent(2, ts(1), 5.0))
      .toDF().coalesce(1).write.parquet(s"$in/b1")
    Thread.sleep(1100)
    // second file: continues u1's 2nd session and pushes the watermark
    // far ahead so earlier sessions time out and emit
    Seq(UserEvent(1, ts(30), 3.0), UserEvent(1, ts(31), 4.0), UserEvent(2, ts(500), 0.0))
      .toDF().coalesce(1).write.parquet(s"$in/b2")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$in/b1").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$in/*")
      .as[UserEvent]
    val q = LogStream.sessionize(stream, gapMillis = 5 * 60 * 1000)
      .writeStream.format("memory").queryName("sess_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sess_out").as[Session].collect()
      .map(s => (s.user_id, s.session_start.toString, s.n_events, s.total_value)).toSet
    // u1 session A: min 0-2 (2 events, 3.0); u1 session B: min 30-31
    // (2 events, 7.0, emitted via timeout when u2's far event advances
    // the watermark); u2 session: min 1 (1 event, 5.0)
    assert(got.contains((1L, "2024-01-01 00:00:00.0", 2L, 3.0)))
    assert(got.contains((1L, "2024-01-01 00:30:00.0", 2L, 7.0)))
    assert(got.contains((2L, "2024-01-01 00:01:00.0", 1L, 5.0)))
  }

  test("streaming dedup removes cross-batch duplicates inside watermark") {
    val in = Files.createTempDirectory("dedup_in").toString
    def write(name: String, rows: Seq[(Long, String, java.sql.Timestamp)]): Unit =
      rows.toDF("id", "v", "ts").write.mode("overwrite")
        .parquet(s"$in/$name")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    write("b1", Seq((1L, "a", t0), (2L, "b", t0)))
    write("b2", Seq((2L, "b", t0), (3L, "c", t0))) // 2 duplicates across files
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$in/b1").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$in/*")
    val q = LogStream.dedupStream(stream, Seq("id"), "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("dedup_out").select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
  }

  test("streaming doc curation: quality filter, cross-batch + cross-restart dedup") {
    import graft.streaming.DocStream
    val in = Files.createTempDirectory("docs_in").toString
    val out = Files.createTempDirectory("docs_out").toString + "/curated"
    val ckpt = Files.createTempDirectory("docs_ckpt").toString
    val good1 = "the cat sat on the mat and the dog ran in the park with a ball"
    val good2 = "a stream of documents arrives and the engine keeps the good ones for training"
    val junk = "!!!!!!!!"
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""
    // two files, maxFilesPerTrigger=1 → two micro-batches; the dup of
    // good1 sits in the SECOND batch (cross-batch state), junk in both
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(doc(1, good1), doc(2, junk)).mkString("\n"))
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      Seq(doc(3, good1), doc(4, good2), doc(5, junk)).mkString("\n"))
    val q = DocStream.curate(spark, in, out, ckpt, maxFilesPerTrigger = 1)
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.select("doc_id").as[Long].collect().toSet === Set(1L, 4L)) // 2,5 junk; 3 dup
    assert(got.columns.contains("quality") && got.columns.contains("n_emails"))

    // restart on the same checkpoint: an old text re-arrives in a new
    // file — the state store still knows its fingerprint
    Files.writeString(java.nio.file.Paths.get(s"$in/b3.json"),
      Seq(doc(6, good2), doc(7, "the quick brown fox jumps over the lazy dog again and again")).mkString("\n"))
    val q2 = DocStream.curate(spark, in, out, ckpt, maxFilesPerTrigger = 1)
    q2.awaitTermination()
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
      === Set(1L, 4L, 7L))

    // watermarked variant: same-batch + in-delay dups still dedup
    val schema2 = DocStream.docSchema.add("ts", org.apache.spark.sql.types.TimestampType)
    val in2 = Files.createTempDirectory("docs_in2").toString
    def docTs(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":1,"ts":"2024-01-01T00:0$id:00.000Z"}"""
    Files.writeString(java.nio.file.Paths.get(s"$in2/b1.json"),
      Seq(docTs(1, good1), docTs(2, good1), docTs(3, good2)).mkString("\n"))
    val wq = DocStream.curatedStream(spark, in2, schema = schema2,
        dedupWatermark = Some(("ts", "10 minutes")))
      .writeStream.format("memory").queryName("doc_wm_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    wq.awaitTermination()
    assert(spark.table("doc_wm_out").select("doc_id").as[Long].collect().toSet
      === Set(1L, 3L))
  }

  test("streaming NEAR-dup curation: cross-batch LSH dedup, idempotent replay") {
    import graft.streaming.DocStream
    val in = Files.createTempDirectory("ndocs_in").toString
    val corpus = Files.createTempDirectory("ndocs_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("ndocs_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("ndocs_ckpt").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearDup = "the quick brown fox jumps over the lazy dog near the river bank" // NOT exact
    val other = "completely different content about spark query engines and columnar execution"
    val otherNear = "completely different content about spark query engines and columnar planning"
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""
    // batch 1: base + an internal near-dup of it; batch 2: a near-dup
    // of batch 1's survivor (cross-batch, via the index) + a novel doc
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(doc(1, base), doc(2, nearDup)).mkString("\n"))
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      Seq(doc(3, nearDup), doc(4, other)).mkString("\n"))
    val q = DocStream.curateNearDup(spark, in, corpus, index, ckpt,
      minJaccard = 0.5, maxFilesPerTrigger = 1)
    q.awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      === Set(1L, 4L)) // 2 in-batch near-dup; 3 cross-batch near-dup of 1
    // restart: a near-dup of doc 4 and a replay-shaped duplicate id
    Files.writeString(java.nio.file.Paths.get(s"$in/b3.json"),
      Seq(doc(5, otherNear), doc(4, other)).mkString("\n"))
    val q2 = DocStream.curateNearDup(spark, in, corpus, index, ckpt,
      minJaccard = 0.5, maxFilesPerTrigger = 1)
    q2.awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      === Set(1L, 4L)) // 5 near-dups 4; replayed 4 dropped by the id guard

    // crash-repair: a torn index write (no _SUCCESS) rebuilds the
    // index from the corpus, and a near-dup of an EARLY corpus doc is
    // still caught by the rebuilt index
    Files.delete(java.nio.file.Paths.get(s"$index/_SUCCESS"))
    Files.writeString(java.nio.file.Paths.get(s"$in/b4.json"),
      Seq(doc(6, nearDup)).mkString("\n")) // near-dup of corpus doc 1
    val q3 = DocStream.curateNearDup(spark, in, corpus, index, ckpt,
      minJaccard = 0.5, maxFilesPerTrigger = 1)
    q3.awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      === Set(1L, 4L))
    // the rebuilt index covers the whole corpus again
    assert(spark.read.parquet(index).select("id").as[Long].collect().toSet
      === Set(1L, 4L))
  }

  test("near-dup curation repairs a lagging index BEFORE the dedup decision") {
    import graft.streaming.DocStream
    val in = Files.createTempDirectory("rdocs_in").toString
    val corpus = Files.createTempDirectory("rdocs_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("rdocs_idx").toString + "/idx"
    val ckpt1 = Files.createTempDirectory("rdocs_ckpt1").toString
    val reliable = Files.createTempDirectory("rdocs_rel").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val other = "completely different content about spark query engines and columnar execution"
    val otherNear = "completely different content about spark query engines and columnar planning"
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(doc(1, base), doc(4, other)).mkString("\n"))
    val q = DocStream.curateNearDup(spark, in, corpus, index, ckpt1, minJaccard = 0.5)
    q.awaitTermination()
    assert(spark.read.parquet(index).select("id").as[Long].collect().toSet === Set(1L, 4L))
    // simulate the crash window: corpus has doc 4 but the index append
    // for it was lost (_SUCCESS intact — this is case 2, not case 1)
    val lagged = spark.read.parquet(index).filter(col("id") =!= 4L)
      .localCheckpoint(true) // pin BEFORE overwriting the path it reads
    lagged.write.mode("overwrite").parquet(index)
    spark.catalog.refreshByPath(index)
    assert(spark.read.parquet(index).select("id").as[Long].collect().toSet === Set(1L))
    // checkpoint lost as well: a NEW checkpoint replays from scratch;
    // doc 7 is a near-dup of the UNINDEXED corpus doc 4 — the repair
    // must land before the LSH decision or 7 is wrongly admitted.
    // Run this leg with the reliable-checkpoint pin variant.
    val ckpt2 = Files.createTempDirectory("rdocs_ckpt2").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      Seq(doc(7, otherNear)).mkString("\n"))
    // the effective reliable dir may be one an earlier suite claimed
    // (the setter is first-wins on the shared session) — measure the
    // rdd-N population wherever it actually lands
    def effective = new java.io.File(new java.net.URI(
      spark.sparkContext.getCheckpointDir.getOrElse(reliable)).getPath)
    def rddDirs(f: java.io.File): Seq[String] =
      if (!f.isDirectory) Nil
      else if (f.getName.startsWith("rdd-")) Seq(f.getAbsolutePath)
      else Option(f.listFiles).map(_.toSeq.flatMap(rddDirs)).getOrElse(Nil)
    val rddBefore = rddDirs(effective).toSet
    val q2 = DocStream.curateNearDup(spark, in, corpus, index, ckpt2,
      minJaccard = 0.5, reliableCheckpointDir = Some(reliable))
    q2.awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      === Set(1L, 4L)) // 7 rejected against the repaired index
    assert(spark.read.parquet(index).select("id").as[Long].collect().toSet
      === Set(1L, 4L)) // and the repair itself landed
    // batch cleanup deleted its reliable pins: the batch ran (so pins
    // were created) but no NEW rdd-N checkpoint dir survives it —
    // they'd otherwise accumulate per pin per batch, unboundedly, on
    // the long-running streams this option is for
    val leaked = rddDirs(effective).toSet -- rddBefore
    assert(leaked.isEmpty, s"leaked reliable checkpoint dirs: $leaked")
  }

  test("streaming image curation: arriving batches dedup against the accumulated hamming index") {
    import graft.streaming.DocStream
    import graft.operators.Multimodal.MiniEncoder
    import org.apache.spark.sql.types.{BinaryType, LongType, StructType}
    val in = Files.createTempDirectory("media_in").toString
    val corpus = Files.createTempDirectory("media_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("media_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("media_ckpt").toString
    // pattern a fixes the raster: same a → identical image → distance 0
    def png(a: Int) = MiniEncoder.pngGray(18, 16, (x, y) => (x * a + y * (a + 5)) % 256)
    def arrive(rows: Seq[(Long, Array[Byte])]): Unit =
      rows.toDF("doc_id", "content").coalesce(1).write.mode("append").parquet(in)
    val schema = new StructType().add("doc_id", LongType).add("content", BinaryType)
    def drain(): Unit = DocStream.curateMediaNearDup(spark,
      spark.readStream.schema(schema).parquet(in),
      corpus, index, ckpt, kind = "image", maxDistance = 0).awaitTermination()
    def corpusIds() = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    arrive(Seq(1L -> png(13), 2L -> png(7)))
    drain()
    assert(corpusIds() === Set(1L, 2L))
    // batch 2: an exact copy of image 1 (cross-batch, via the index),
    // a genuinely new image, and a corrupt payload
    arrive(Seq(3L -> png(13), 4L -> png(29), 5L -> png(13).take(6)))
    drain()
    assert(corpusIds() === Set(1L, 2L, 4L)) // 3 deduped, 5 invalid
    // the index accumulated exactly the corpus signatures
    assert(spark.read.parquet(index).select("id").as[Long].collect().toSet
      === corpusIds())
    // nothing new → nothing served, corpus unchanged
    drain()
    assert(corpusIds() === Set(1L, 2L, 4L))
  }

  test("generic media curation r14: audio and video kinds stream through the shared hamming kernels") {
    import graft.streaming.DocStream
    import graft.operators.Multimodal.MiniEncoder
    import org.apache.spark.sql.types.{BinaryType, LongType, StructType}
    val schema = new StructType().add("doc_id", LongType).add("content", BinaryType)
    def arrive(in: String, rows: Seq[(Long, Array[Byte])]): Unit =
      rows.toDF("doc_id", "content").coalesce(1).write.mode("append").parquet(in)

    // ---- audio: energy-hash, frameless (minMatched degenerates to 1)
    val aIn = Files.createTempDirectory("aud_in").toString
    val aCorpus = Files.createTempDirectory("aud_corpus").toString + "/corpus"
    val aIdx = Files.createTempDirectory("aud_idx").toString + "/idx"
    val aCkpt = Files.createTempDirectory("aud_ckpt").toString
    def wv(i: Int, c: Int): Int = ((i * 77 + c * 13) % 64000) - 32000
    def wvLoud(i: Int, c: Int): Int = if (i >= 60 && i < 62) 32600 else wv(i, c)
    val wavA = MiniEncoder.wavPcm(16000, 1, 130, wv)
    val wavLoud = MiniEncoder.wavPcm(16000, 1, 130, wvLoud) // few bits from wavA
    val wavUp = MiniEncoder.wavPcm(8000, 1, 65, (i, _) => i * 500) // all-ones hash
    def drainA(): Unit = DocStream.curateMediaNearDup(spark,
      spark.readStream.schema(schema).parquet(aIn),
      aCorpus, aIdx, aCkpt, kind = "audio", maxDistance = 4).awaitTermination()
    def aIds() = spark.read.parquet(aCorpus)
      .select("doc_id").as[Long].collect().toSet
    arrive(aIn, Seq(1L -> wavA, 2L -> wavUp))
    drainA()
    assert(aIds() === Set(1L, 2L))
    // batch 2: a loudness-perturbed copy of 1 (cross-batch, via the
    // index), and a corrupt payload
    arrive(aIn, Seq(3L -> wavLoud, 4L -> wavA.take(20)))
    drainA()
    assert(aIds() === Set(1L, 2L)) // 3 near-dups 1, 4 invalid
    assert(spark.read.parquet(aIdx).select("id").as[Long].collect().toSet === aIds())
    // signature rows ride the corpus (rebuild never re-decodes)
    assert(spark.read.parquet(aCorpus).selectExpr("size(sigs)")
      .as[Int].collect().forall(_ === 1))
    drainA() // replay-idempotent
    assert(aIds() === Set(1L, 2L))

    // ---- video: frame-keyed, minMatched = 2
    val vIn = Files.createTempDirectory("vid_in").toString
    val vCorpus = Files.createTempDirectory("vid_corpus").toString + "/corpus"
    val vIdx = Files.createTempDirectory("vid_idx").toString + "/idx"
    val vCkpt = Files.createTempDirectory("vid_ckpt").toString
    def fv(x: Int, y: Int, f: Int): Int = (x * 37 + y * 11 + f * 53) % 256
    def fvEdit(x: Int, y: Int, f: Int): Int =
      if (f == 2) (255 - x * 25) else fv(x, y, f)
    val vidA = MiniEncoder.gifAnimGray(9, 8, 4, fv)
    val vidEdit = MiniEncoder.gifAnimGray(9, 8, 4, fvEdit) // 3/4 frames match A
    val vidMono = MiniEncoder.gifAnimGray(9, 8, 4, (x, _, _) => x * 20) // unrelated
    def drainV(): Unit = DocStream.curateMediaNearDup(spark,
      spark.readStream.schema(schema).parquet(vIn),
      vCorpus, vIdx, vCkpt, kind = "video", maxDistance = 2,
      minMatched = 2).awaitTermination()
    def vIds() = spark.read.parquet(vCorpus)
      .select("doc_id").as[Long].collect().toSet
    arrive(vIn, Seq(1L -> vidA, 2L -> vidMono))
    drainV()
    assert(vIds() === Set(1L, 2L))
    // batch 2: a 1-frame-edited copy of video 1 (3 matched frames
    // >= minMatched → dup, decided against the per-frame INDEX), a
    // byte-identical copy, and a corrupt payload
    arrive(vIn, Seq(3L -> vidEdit, 4L -> vidA, 5L -> vidA.take(8)))
    drainV()
    assert(vIds() === Set(1L, 2L))
    // the per-frame index holds exactly the corpus's frame rows
    assert(spark.read.parquet(vIdx).select("id").as[Long].collect().toSet === vIds())
    assert(spark.read.parquet(vIdx)
      .filter(col("id") === 1L).select("f").as[Long].collect().toSet
      === Set(0L, 1L, 2L, 3L))
    drainV()
    assert(vIds() === Set(1L, 2L))
  }

  test("streaming media curation converges: lagging-index repair and marker-loss rebuild") {
    import graft.streaming.DocStream
    import graft.operators.Multimodal.MiniEncoder
    import org.apache.spark.sql.types.{BinaryType, LongType, StructType}
    val in = Files.createTempDirectory("mrep_in").toString
    val corpus = Files.createTempDirectory("mrep_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("mrep_idx").toString + "/idx"
    def png(a: Int) = MiniEncoder.pngGray(18, 16, (x, y) => (x * a + y * (a + 5)) % 256)
    def arrive(rows: Seq[(Long, Array[Byte])]): Unit =
      rows.toDF("doc_id", "content").coalesce(1).write.mode("append").parquet(in)
    val schema = new StructType().add("doc_id", LongType).add("content", BinaryType)
    // every drain runs on a FRESH checkpoint: the whole input replays,
    // as after a crash that lost the checkpoint too
    def drain(): Unit = DocStream.curateMediaNearDup(spark,
      spark.readStream.schema(schema).parquet(in), corpus, index,
      Files.createTempDirectory("mrep_ckpt").toString,
      kind = "image", maxDistance = 0).awaitTermination()
    def corpusIds() = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    def indexIds() = spark.read.parquet(index).select("id").as[Long].collect().toSet
    arrive(Seq(1L -> png(13), 2L -> png(7)))
    drain()
    assert(corpusIds() === Set(1L, 2L))
    // the crash window between the two writes: corpus holds doc 2, the
    // index lost it, the marker survived (lag, not a missing index)
    val fs = new org.apache.hadoop.fs.Path(index)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = graft.util.IndexMarker.read(fs, index).get
    val lagged = spark.read.parquet(index).filter(col("id") =!= 2L)
      .localCheckpoint(true) // pin BEFORE overwriting the path it reads
    lagged.write.mode("overwrite").parquet(index)
    marker.write(fs, index)
    spark.catalog.refreshByPath(index)
    assert(indexIds() === Set(1L))
    // a copy of the UNINDEXED doc 2 dies: the repair lands before the decision
    arrive(Seq(3L -> png(7)))
    drain()
    assert(corpusIds() === Set(1L, 2L))
    assert(indexIds() === Set(1L, 2L))
    // marker gone: the index is rebuilt from the corpus's signature
    // rows, and a copy of the early doc 1 is still caught
    fs.delete(graft.util.IndexMarker.markerPath(index), false)
    arrive(Seq(4L -> png(13), 5L -> png(29)))
    drain()
    assert(fs.exists(graft.util.IndexMarker.markerPath(index)))
    assert(corpusIds() === Set(1L, 2L, 5L))
    assert(indexIds() === corpusIds())
  }

  test("stale index over a deleted corpus is overwritten, not appended into (no ghost ids)") {
    // r13 (advisor): corpus deleted but index+marker left behind →
    // the batch is deduped via the index-IGNORING branch, yet the
    // final write used mode=append — ghost ids from the dead corpus
    // accumulated, breaking index⊆corpus and the incremental
    // kernel's batch-ids-disjoint contract on later batches.
    import graft.streaming.DocStream
    import graft.operators.Multimodal.MiniEncoder
    import org.apache.spark.sql.types.{BinaryType, LongType, StructType}
    val in1 = Files.createTempDirectory("ghost_in1").toString
    val in2 = Files.createTempDirectory("ghost_in2").toString
    val corpusRoot = Files.createTempDirectory("ghost_corpus").toString
    val corpus = corpusRoot + "/corpus"
    val index = Files.createTempDirectory("ghost_idx").toString + "/idx"
    def png(a: Int) = MiniEncoder.pngGray(18, 16, (x, y) => (x * a + y * (a + 5)) % 256)
    def arrive(in: String, rows: Seq[(Long, Array[Byte])]): Unit =
      rows.toDF("doc_id", "content").coalesce(1).write.mode("append").parquet(in)
    val schema = new StructType().add("doc_id", LongType).add("content", BinaryType)
    def drain(in: String, ckpt: String): Unit = DocStream.curateMediaNearDup(spark,
      spark.readStream.schema(schema).parquet(in),
      corpus, index, ckpt, kind = "image", maxDistance = 0).awaitTermination()
    arrive(in1, Seq(1L -> png(13), 2L -> png(7)))
    drain(in1, Files.createTempDirectory("ghost_ck1").toString)
    assert(spark.read.parquet(index).select("id").as[Long].collect().toSet === Set(1L, 2L))
    // the corpus is deleted out from under the stream; index survives
    val fs = new org.apache.hadoop.fs.Path(corpus)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(corpus), true)
    spark.catalog.refreshByPath(corpus)
    // new life: fresh input dir + checkpoint over the same index dir
    arrive(in2, Seq(8L -> png(41), 9L -> png(13)))
    drain(in2, Files.createTempDirectory("ghost_ck2").toString)
    val cIds = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    val iIds = spark.read.parquet(index).select("id").as[Long].collect().toSet
    // 9 is a copy of DEAD doc 1 — the stale index must not veto it,
    // and must hold exactly the reborn corpus (no ghosts 1, 2)
    assert(cIds === iIds, s"index⊆corpus broken: corpus=$cIds index=$iIds")
    assert(iIds.intersect(Set(1L, 2L)).isEmpty, s"ghost ids survived: $iIds")
  }

  test("crawl-to-corpus: arriving WET segments stream through quality + incremental near-dup") {
    import graft.streaming.DocStream
    import graft.sinks.WarcShards
    val warcDir = Files.createTempDirectory("crawl_in").toString
    val corpus = Files.createTempDirectory("crawl_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("crawl_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("crawl_ckpt").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val baseNear = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val other = "completely different content about spark query engines and columnar execution"
    val fresh = "yet another unrelated page describing distributed shuffle partitioning strategies"
    def wet(rows: Seq[(String, String)], dir: String): Unit =
      WarcShards.write(
        rows.toDF("u", "t").select(
          regexp_replace(col("u"), "urn:x:", "").as("k"), col("u"),
          col("t").cast("binary").as("p")),
        "k", "u", "p", dir, nShards = 1)
    // segment 1 lands
    wet(Seq("urn:x:a" -> base, "urn:x:b" -> other), warcDir)
    DocStream.curateWetCrawl(spark, warcDir, corpus, index, ckpt,
      minJaccard = 0.5).awaitTermination()
    def uris() = spark.read.parquet(corpus)
      .select("target_uri").as[String].collect().toSet
    assert(uris() === Set("urn:x:a", "urn:x:b"))
    // ids follow the xxhash64(uri) convention
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    val expected = Seq("urn:x:a", "urn:x:b").toDF("u")
      .select(xxhash64(col("u"))).as[Long].collect().toSet
    assert(ids === expected)
    // segment 2 arrives (new file name — crawl segments accumulate):
    // a near-copy of page a and a genuinely new page
    val tmp2 = Files.createTempDirectory("crawl_seg2").toString
    wet(Seq("urn:x:c" -> baseNear, "urn:x:d" -> fresh), tmp2)
    for (f <- new java.io.File(tmp2).listFiles();
         n = f.getName if n.endsWith(".warc.gz") || n.endsWith(".cdx"))
      Files.copy(f.toPath, java.nio.file.Paths.get(warcDir, "seg2-" + n))
    DocStream.curateWetCrawl(spark, warcDir, corpus, index, ckpt,
      minJaccard = 0.5).awaitTermination()
    assert(uris() === Set("urn:x:a", "urn:x:b", "urn:x:d")) // c near-dups a
    // the index accumulated exactly the corpus
    assert(spark.read.parquet(index).select("id").as[Long].collect().toSet
      === spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet)
    // nothing new → nothing served, corpus unchanged (replay-idempotent)
    DocStream.curateWetCrawl(spark, warcDir, corpus, index, ckpt,
      minJaccard = 0.5).awaitTermination()
    assert(uris() === Set("urn:x:a", "urn:x:b", "urn:x:d"))
  }

  test("crawl gate knob: a Gopher drain equals the batch keep + near-dup decision (r13)") {
    import graft.streaming.DocStream
    import graft.sinks.WarcShards
    import graft.operators.{Corpus, Dedup}
    val warcDir = Files.createTempDirectory("gop_in").toString
    val corpus = Files.createTempDirectory("gop_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("gop_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("gop_ckpt").toString
    // texts engineered against the Gopher rules: `good` passes (>= 50
    // words, stopwords, letters), `short` fails n_words, `symbols`
    // fails symbol_ratio; `dupA`/`dupB` are EXACT copies of good2
    // split across segments (cross-batch dedup at minJaccard = 1.0)
    val filler = (1 to 60).map(i => s"word$i and the state of that").mkString(" ")
    val good1 = s"the first page talks about rivers and $filler"
    val good2 = s"the second page talks about mountains and $filler"
    val short = "too few words here"
    val symbols = ("#### " * 50) + filler // symbol_ratio ≈ 0.49 > 0.1
    def wet(rows: Seq[(String, String)], dir: String): Unit =
      WarcShards.write(
        rows.toDF("u", "t").select(
          regexp_replace(col("u"), "urn:g:", "").as("k"), col("u"),
          col("t").cast("binary").as("p")),
        "k", "u", "p", dir, nShards = 1)
    wet(Seq("urn:g:a" -> good1, "urn:g:b" -> good2, "urn:g:c" -> short), warcDir)
    DocStream.curateWetCrawl(spark, warcDir, corpus, index, ckpt,
      gate = DocStream.CrawlGate.Gopher(), minJaccard = 1.0).awaitTermination()
    // segment 2: an exact copy of good2 (must near-dup away) + symbols
    val tmp2 = Files.createTempDirectory("gop_seg2").toString
    wet(Seq("urn:g:d" -> good2, "urn:g:e" -> symbols), tmp2)
    for (f <- new java.io.File(tmp2).listFiles();
         n = f.getName if n.endsWith(".warc.gz") || n.endsWith(".cdx"))
      Files.copy(f.toPath, java.nio.file.Paths.get(warcDir, "seg2-" + n))
    DocStream.curateWetCrawl(spark, warcDir, corpus, index, ckpt,
      gate = DocStream.CrawlGate.Gopher(), minJaccard = 1.0).awaitTermination()
    val got = spark.read.parquet(corpus)
      .select("target_uri").as[String].collect().toSet
    // the BATCH decision over the union of both segments: Gopher keep
    // via the same gopherSignalsOf trees, then min-uri per exact
    // content class (the J=1.0 dedup equivalence)
    val all = Seq("urn:g:a" -> good1, "urn:g:b" -> good2,
      "urn:g:c" -> short, "urn:g:d" -> good2, "urn:g:e" -> symbols)
      .toDF("target_uri", "text")
    val kept = Corpus.gopherSignalsOf(all, "text").filter(col("keep"))
    val batchKeep = kept
      .withColumn("_k", md5(graft.functions.Text.normalized(col("text"))))
      .groupBy(col("_k")).agg(min(col("target_uri")).as("target_uri"))
      .select("target_uri").as[String].collect().toSet
    // survivor identity within a class is arrival-order (d arrived
    // after b), so compare CLASSES: got and batchKeep agree on the
    // class set and the gate decisions
    def cls(uris: Set[String]) = {
      val m = all.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      uris.map(u => m(u))
    }
    assert(cls(got) === cls(batchKeep),
      s"drained=$got batch=$batchKeep")
    assert(got.contains("urn:g:b") && !got.contains("urn:g:d"),
      s"first arrival must win the dup class: $got")
    assert(!got.exists(Set("urn:g:c", "urn:g:e")), s"gate leaked: $got")
  }

  test("raw-crawl curation with mainContent: chrome never reaches the corpus (r16)") {
    import graft.streaming.DocStream
    import graft.sinks.WarcShards
    val warcDir = Files.createTempDirectory("mc_in").toString
    val corpus = Files.createTempDirectory("mc_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("mc_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("mc_ckpt").toString
    val art1 = "a long article paragraph about distributed execution that " +
      "comfortably clears the seventy character classifier floor"
    val art2 = "another long but different article body describing columnar " +
      "storage layouts well past the length threshold too"
    def envelope(article: String): Array[Byte] = {
      val html = "<html><body>" +
        "<div><a href=\"/\">Home</a> <a href=\"/a\">About</a></div>" +
        s"<p>$article</p>" +
        "<ul><li><a href=\"/x\">More</a></li></ul>" +
        "<div>copyright chrome line</div></body></html>"
      val body = html.getBytes("UTF-8")
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1") ++ body
    }
    WarcShards.write(
      Seq(("p1", "urn:mc:1", envelope(art1)),
        ("p2", "urn:mc:2", envelope(art2))).toDF("k", "u", "p"),
      "k", "u", "p", warcDir, nShards = 1,
      warcType = "response", contentType = "application/http; msgtype=response")
    DocStream.curateRawCrawl(spark, warcDir, corpus, index, ckpt,
        gate = DocStream.CrawlGate.Quality(0.0), minJaccard = 0.9,
        mainContent = true)
      .awaitTermination()
    val texts = spark.read.parquet(corpus)
      .select("target_uri", "text").as[(String, String)].collect().toMap
    assert(texts("urn:mc:1") === art1) // nav/link-list/footer all gone
    assert(texts("urn:mc:2") === art2)
  }

  test("raw-crawl curation: response records stream through the extraction chain; in-stream compaction bounds index files (r14)") {
    import graft.streaming.DocStream
    import graft.sinks.WarcShards
    val warcDir = Files.createTempDirectory("raw_in").toString
    val corpus = Files.createTempDirectory("raw_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("raw_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("raw_ckpt").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val baseNear = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val other = "completely different content about spark query engines and columnar execution"
    val fresh = "yet another unrelated page describing distributed shuffle partitioning strategies"
    def gz(b: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(out)
      g.write(b); g.close(); out.toByteArray
    }
    def frame(b: Array[Byte]): Array[Byte] =
      (b.length.toHexString + "\r\n").getBytes("ISO-8859-1") ++ b ++
        "\r\n0\r\n\r\n".getBytes("ISO-8859-1")
    // a RAW response envelope: gzip'd HTML body, optionally
    // chunk-framed on top (the full r14 extraction chain)
    def envelope(text: String, chunked: Boolean, status: String = "200 OK"): Array[Byte] = {
      val html = s"<html><head><script>var z = 1 < 2;</script></head>" +
        s"<body><p>$text</p></body></html>"
      val body0 = gz(html.getBytes("UTF-8"))
      val body = if (chunked) frame(body0) else body0
      (s"HTTP/1.1 $status\r\nContent-Type: text/html; charset=UTF-8\r\n" +
        "Content-Encoding: gzip\r\n" +
        (if (chunked) "Transfer-Encoding: chunked\r\n" else "") +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1") ++ body
    }
    def raw(rows: Seq[(String, Array[Byte])], dir: String): Unit =
      WarcShards.write(
        rows.toDF("u", "p").select(
          regexp_replace(col("u"), "urn:r:", "").as("k"), col("u"), col("p")),
        "k", "u", "p", dir, nShards = 1,
        warcType = "response", contentType = "application/http; msgtype=response")
    def drain() = DocStream.curateRawCrawl(spark, warcDir, corpus, index, ckpt,
      minJaccard = 0.5, compactEvery = 1, compactTargetFiles = 2)
      .awaitTermination()
    def uris() = spark.read.parquet(corpus)
      .select("target_uri").as[String].collect().toSet
    // segment 1: one plain-gzip, one chunked+gzip page
    raw(Seq("urn:r:a" -> envelope(base, chunked = false),
      "urn:r:b" -> envelope(other, chunked = true)), warcDir)
    drain()
    assert(uris() === Set("urn:r:a", "urn:r:b"))
    // the chain extracted the VISIBLE text (script body + tags gone)
    val texts = spark.read.parquet(corpus)
      .select("target_uri", "text").as[(String, String)].collect().toMap
    assert(texts("urn:r:a") === base)
    assert(texts("urn:r:b") === other)
    // segment 2: a near-copy of a (dies), a fresh page (kept), a 404
    // and a corrupt-chunked page (both dropped by the chain's nulls)
    val tmp2 = Files.createTempDirectory("raw_seg2").toString
    raw(Seq("urn:r:c" -> envelope(baseNear, chunked = false),
      "urn:r:d" -> envelope(fresh, chunked = true),
      "urn:r:e" -> envelope(fresh, chunked = false, status = "404 Not Found"),
      "urn:r:f" -> (("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        "Transfer-Encoding: chunked\r\nContent-Length: 9\r\n\r\nZZ\r\nboom")
        .getBytes("ISO-8859-1"))), tmp2)
    for (f <- new java.io.File(tmp2).listFiles();
         n = f.getName if n.endsWith(".warc.gz") || n.endsWith(".cdx"))
      Files.copy(f.toPath, java.nio.file.Paths.get(warcDir, "seg2-" + n))
    drain()
    assert(uris() === Set("urn:r:a", "urn:r:b", "urn:r:d"))
    // in-stream compaction (compactEvery = 1) kept the flat index at
    // the rewrite target despite two append batches
    val idxFiles = new java.io.File(index).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(idxFiles <= 2, s"index accumulated $idxFiles files")
    // probes unchanged by compaction: index ids == corpus ids
    assert(spark.read.parquet(index).select("id").as[Long].collect().toSet
      === spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet)
    // nothing new → nothing served (replay-idempotent)
    drain()
    assert(uris() === Set("urn:r:a", "urn:r:b", "urn:r:d"))
  }

  test("in-stream CORPUS compaction bounds corpus files; decisions and replay unchanged (r15)") {
    import graft.streaming.DocStream
    val in = Files.createTempDirectory("ccomp_in").toString
    val corpus = Files.createTempDirectory("ccomp_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("ccomp_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("ccomp_ckpt").toString
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""
    // six single-doc batches of distinct content, plus batch 6
    // carrying a near-dup of batch 1's doc — the cross-batch decision
    // must survive the corpus rewrites in between
    val texts = (1 to 5).map(i =>
      s"unique document number $i about subject $i with plenty of distinct words " +
        s"covering topic${i}a topic${i}b topic${i}c")
    val nearOf1 = texts(0).replace("plenty", "lots")
    for (i <- 1 to 5)
      Files.writeString(java.nio.file.Paths.get(s"$in/b$i.json"), doc(i.toLong, texts(i - 1)))
    Files.writeString(java.nio.file.Paths.get(s"$in/b6.json"), doc(99L, nearOf1))
    def parquetFiles(d: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(d))
    }
    def drain() = DocStream.curateNearDup(spark, in, corpus, index, ckpt,
      minJaccard = 0.5, maxFilesPerTrigger = 1,
      compactEvery = 2, compactTargetFiles = 2,
      corpusCompactEvery = 2, corpusCompactTargetFiles = 2)
      .awaitTermination()
    drain()
    // decisions: all five distinct docs kept, the near-dup rejected
    // against the (compacted) corpus + index
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      === (1L to 5L).toSet)
    // six append batches would have left >= 6 corpus files; the final
    // batch (id 5) compacted to the rewrite target
    val nCorpus = parquetFiles(corpus)
    assert(nCorpus <= 2, s"corpus accumulated $nCorpus files")
    assert(parquetFiles(index) <= 2, s"index accumulated ${parquetFiles(index)} files")
    // content intact through the rewrites: texts unchanged
    val got = spark.read.parquet(corpus)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    for (i <- 1 to 5) assert(got(i.toLong) === texts(i - 1))
    // replay: nothing new -> nothing served, corpus unchanged
    drain()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
      === (1L to 5L).toSet)
  }

  test("streaming embedding curation: cross-batch cosine dedup, repair, rebuild, replay (r15)") {
    import graft.streaming.DocStream
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    val in = Files.createTempDirectory("emb_in").toString
    val corpus = Files.createTempDirectory("emb_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("emb_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("emb_ckpt").toString
    def spread(i: Long): Long = i * 0x9E3779B97F4A7C15L
    def vec(i: Long): Seq[Double] =
      (0 until 32).map(d => if (((spread(i) >> d) & 1L) == 1L) 1.0 else -1.0)
    def near(i: Long): Seq[Double] = vec(i).map(_ * 1.0000001)
    def arrive(rows: Seq[(Long, Seq[Double])]): Unit =
      rows.toDF("doc_id", "vec").coalesce(1).write.mode("append").parquet(in)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("vec", ArrayType(DoubleType))))
    def drain() = DocStream.curateEmbeddingNearDup(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in),
      corpus, index, ckpt, minCosine = 0.95, dim = 32, bands = 8,
      indexBands = 8, indexRanges = 16,
      compactEvery = 1, compactTargetFiles = 4,
      corpusCompactEvery = 1, corpusCompactTargetFiles = 2)
      .awaitTermination()
    def ids() = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    // batch 1: a base vector + an in-batch near-copy (scaled — cosine
    // ~1.0, NOT byte-equal); batch 2: a cross-batch near-copy of the
    // survivor (via the index) + a novel vector
    arrive(Seq(1L -> vec(1L), 2L -> near(1L)))
    arrive(Seq(3L -> near(1L), 4L -> vec(4L)))
    drain()
    assert(ids() === Set(1L, 4L))
    // the banded index covers exactly the corpus (flat view, one row per id)
    assert(graft.operators.Similarity.cosineIndexFlat(spark, index)
      .select("id").as[Long].collect().toSet === Set(1L, 4L))
    // restart on the same checkpoint: a near-copy of doc 4 dies, a
    // replayed id is emptied by the corpus-id anti-join
    arrive(Seq(5L -> near(4L), 4L -> vec(4L)))
    drain()
    assert(ids() === Set(1L, 4L))
    // lagging-index repair BEFORE the decision: drop doc 4's rows from
    // the index (crash window between the two writes), then stream a
    // near-copy of 4 with a FRESH checkpoint — it must be rejected
    // against the repaired index, not admitted against the stale one
    val fsIdx = new org.apache.hadoop.fs.Path(index)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = graft.util.IndexMarker.read(fsIdx, index).get
    val lagged = spark.read.parquet(index).filter(col("id") =!= 4L)
      .localCheckpoint(true) // pin BEFORE overwriting the path it reads
    lagged.write.mode("overwrite").partitionBy("pblock").parquet(index)
    marker.write(fsIdx, index) // the overwrite cleared the dir: this is
    spark.catalog.refreshByPath(index) // case 2 (lag), not case 1 (no marker)
    val ckpt2 = Files.createTempDirectory("emb_ckpt2").toString
    arrive(Seq(7L -> near(4L)))
    DocStream.curateEmbeddingNearDup(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 100).parquet(in),
      corpus, index, ckpt2, minCosine = 0.95, dim = 32, bands = 8,
      indexBands = 8, indexRanges = 16).awaitTermination()
    assert(ids() === Set(1L, 4L))
    assert(graft.operators.Similarity.cosineIndexFlat(spark, index)
      .select("id").as[Long].collect().toSet === Set(1L, 4L))
    // torn index (marker gone): rebuilt wholesale from the corpus's
    // vector column, and a near-copy of an EARLY doc is still caught
    fsIdx.delete(graft.util.IndexMarker.markerPath(index), false)
    val ckpt3 = Files.createTempDirectory("emb_ckpt3").toString
    arrive(Seq(8L -> near(1L)))
    DocStream.curateEmbeddingNearDup(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 100).parquet(in),
      corpus, index, ckpt3, minCosine = 0.95, dim = 32, bands = 8,
      indexBands = 8, indexRanges = 16).awaitTermination()
    assert(ids() === Set(1L, 4L))
    // in-stream compaction kept both stream-owned dirs bounded
    def parquetFiles(d: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(d))
    }
    assert(parquetFiles(corpus) <= 2, s"corpus at ${parquetFiles(corpus)} files")
  }

  test("streaming image curation over a BANDED index: same corpus, pruned probes (r13)") {
    import graft.streaming.DocStream
    import graft.operators.{Dedup, Multimodal}
    import graft.operators.Multimodal.MiniEncoder
    import org.apache.spark.sql.types.{BinaryType, LongType, StructType}
    val in = Files.createTempDirectory("mediab_in").toString
    val corpus = Files.createTempDirectory("mediab_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("mediab_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("mediab_ckpt").toString
    def png(a: Int) = MiniEncoder.pngGray(18, 16, (x, y) => (x * a + y * (a + 5)) % 256)
    def arrive(rows: Seq[(Long, Array[Byte])]): Unit =
      rows.toDF("doc_id", "content").coalesce(1).write.mode("append").parquet(in)
    val schema = new StructType().add("doc_id", LongType).add("content", BinaryType)
    def drain(): Unit = DocStream.curateMediaNearDup(spark,
      spark.readStream.schema(schema).parquet(in),
      corpus, index, ckpt, kind = "image", maxDistance = 0,
      indexBands = 8, indexRanges = 16).awaitTermination()
    def corpusIds() = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    arrive(Seq(1L -> png(13), 2L -> png(7)))
    drain()
    assert(corpusIds() === Set(1L, 2L))
    // cross-batch exact copy dies through the BANDED index; new image
    // survives; appends accumulate in the banded layout
    arrive(Seq(3L -> png(13), 4L -> png(29)))
    drain()
    assert(corpusIds() === Set(1L, 2L, 4L))
    // the index is banded on disk (pblock partition dirs) and its
    // FLAT view holds exactly the corpus ids, once each
    val dirs = new java.io.File(index).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("pblock=")).length
    assert(dirs > 0, "index must be pblock-partitioned")
    val flatIds = Dedup.hammingIndexFlat(spark, index)
      .select("id").as[Long].collect()
    assert(flatIds.length === flatIds.distinct.length)
    assert(flatIds.toSet === corpusIds())
    // replay idempotence unchanged through the banded layout
    drain()
    assert(corpusIds() === Set(1L, 2L, 4L))
  }

  test("robots-gated raw-crawl stream: rules accumulate, gate later batches, latest capture wins (r15)") {
    import spark.implicits._
    import graft.streaming.DocStream
    import graft.streaming.DocStream.CrawlGate
    import graft.sinks.WarcShards
    import graft.operators.Robots
    val warcDir = Files.createTempDirectory("rob_in").toString
    val corpus = Files.createTempDirectory("rob_corpus").toString + "/corpus"
    val index = Files.createTempDirectory("rob_idx").toString + "/idx"
    val rules = Files.createTempDirectory("rob_rules").toString + "/rules"
    val ckpt = Files.createTempDirectory("rob_ckpt").toString
    def env(ctype: String, body: String): Array[Byte] = {
      val b = body.getBytes("UTF-8")
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\nContent-Length: ${b.length}\r\n\r\n")
        .getBytes("UTF-8") ++ b
    }
    def page(i: Int) =
      s"<html>distinct page number $i about entirely separate subject matter " +
        s"covering topic ${"xyz" * (i % 3 + 1)} with plenty of words</html>"
    def shard(name: String, rows: Seq[(String, Array[Byte])]): Unit = {
      val tmp = Files.createTempDirectory("rob_seg").toString
      WarcShards.write(
        rows.zipWithIndex.map { case ((u, p), i) => (s"$name$i", u, p) }.toDF("k", "u", "p"),
        "k", "u", "p", tmp, nShards = 1,
        warcType = "response", contentType = "application/http; msgtype=response")
      for (f <- new java.io.File(tmp).listFiles(); n = f.getName if n.endsWith(".warc.gz"))
        Files.copy(f.toPath, java.nio.file.Paths.get(warcDir, s"$name-$n"))
    }
    // batch a: host1's robots (disallow /private/) + an allowed and a
    // disallowed page IN THE SAME BATCH (merge runs before the gate)
    shard("a", Seq(
      "http://h1.example/robots.txt" -> env("text/plain", "User-agent: *\nDisallow: /private/\n"),
      "http://h1.example/ok" -> env("text/html", page(1)),
      "http://h1.example/private/x" -> env("text/html", page(2))))
    // batch b: a disallowed page under batch-a rules (cross-batch),
    // host2's robots (disallow all) + its own page, and a rule-less host
    shard("b", Seq(
      "http://h1.example/private/y" -> env("text/html", page(3)),
      "http://h1.example/ok2" -> env("text/html", page(4)),
      "http://h2.example/robots.txt" -> env("text/plain", "User-agent: *\nDisallow: /\n"),
      "http://h2.example/z" -> env("text/html", page(5)),
      "http://h3.example/free" -> env("text/html", page(6))))
    // batch c: host1 re-captures robots as allow-all — LATEST WINS,
    // /private/ pages admitted from here on
    shard("c", Seq(
      "http://h1.example/robots.txt" -> env("text/plain", "User-agent: *\nDisallow:\n"),
      "http://h1.example/private/z" -> env("text/html", page(7))))
    def drain(): Unit = DocStream.curateRawCrawl(spark, warcDir, corpus, index, ckpt,
      gate = CrawlGate.Quality(0.0), maxFilesPerTrigger = 1,
      robotsRulesDir = Some(rules)).awaitTermination()
    drain()
    def uris() = spark.read.parquet(corpus)
      .select("target_uri").as[String].collect().toSet
    assert(uris() === Set(
      "http://h1.example/ok", "http://h1.example/ok2",
      "http://h3.example/free", "http://h1.example/private/z"))
    // the rule table holds the LATEST capture per host: h1's allow-all
    // (zero rules) erased its disallow; h2 keeps its disallow-all
    val tbl = Robots.loadRules(spark, rules)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(tbl === Set(("h2.example", "disallow", "/")))
    // drained checkpoint: nothing replays, nothing changes
    drain()
    assert(uris().size === 4)
  }

  test("streaming crawl-health equals the batch profile and replays idempotently (r15)") {
    import spark.implicits._
    import graft.streaming.DocStream
    import graft.sinks.WarcShards
    import graft.operators.Corpus
    val warcDir = Files.createTempDirectory("health_in").toString
    val health = Files.createTempDirectory("health_out").toString + "/health"
    val ckpt = Files.createTempDirectory("health_ckpt").toString
    def env(i: Int): Array[Byte] = {
      val status = if (i % 5 == 0) "404 Not Found" else "200 OK"
      val ctype = if (i % 7 == 0) "image/png" else "text/html; charset=UTF-8"
      val enc = if (i % 11 == 0) "\r\nContent-Encoding: gzip" else ""
      val body = if (i % 11 == 0) "ZZZZ".getBytes("UTF-8") // corrupt gzip
        else s"<html>page $i hello world</html>".getBytes("UTF-8")
      (s"HTTP/1.1 $status\r\nContent-Type: $ctype$enc" +
        s"\r\nContent-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body
    }
    WarcShards.write(
      (0 until 40).map(i => (i.toString, s"urn:h:$i", env(i)))
        .toDF("k", "u", "p"),
      "k", "u", "p", warcDir, nShards = 4,
      warcType = "response",
      contentType = "application/http; msgtype=response")
    DocStream.profileCrawlHealth(spark, warcDir, health, ckpt,
      maxFilesPerTrigger = 2).awaitTermination()
    val batchProfile = Corpus.crawlHealth(spark, warcDir)
    val cols = batchProfile.columns.toSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).orderBy(col("shard")).collect().map(_.toSeq).toSeq
    val streamed = spark.read.parquet(health)
    // 4 shard files at 2 per trigger → at least 2 batches contributed
    assert(streamed.select("batch_id").distinct().count() >= 2)
    // the accumulated table IS the batch profile, shard for shard
    assert(canon(streamed) === canon(batchProfile))
    // drained checkpoint: a re-run adds nothing and rewrites nothing
    DocStream.profileCrawlHealth(spark, warcDir, health, ckpt,
      maxFilesPerTrigger = 2).awaitTermination()
    assert(canon(spark.read.parquet(health)) === canon(batchProfile))
  }

  test("streaming link graph equals the batch host graph, nofollow excluded (r15)") {
    import spark.implicits._
    import graft.streaming.DocStream
    import graft.sinks.WarcShards
    import graft.operators.Links
    val warcDir = Files.createTempDirectory("links_in").toString
    val edges = Files.createTempDirectory("links_out").toString + "/edges"
    val ckpt = Files.createTempDirectory("links_ckpt").toString
    def env(i: Int): Array[Byte] = {
      val body = (s"<html><a href=\"http://t${i % 3}.example/x\">a</a>" +
        s"<a rel=nofollow href=\"http://bad.example/n\">b</a>" +
        s"<a href=\"/self$i\">c</a></html>").getBytes("UTF-8")
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8" +
        s"\r\nContent-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body
    }
    WarcShards.write(
      (0 until 24).map(i => (i.toString, s"http://s${i % 4}.example/p$i", env(i)))
        .toDF("k", "u", "p"),
      "k", "u", "p", warcDir, nShards = 4,
      warcType = "response",
      contentType = "application/http; msgtype=response")
    DocStream.profileLinkGraph(spark, warcDir, edges, ckpt,
      maxFilesPerTrigger = 2).awaitTermination()
    val crawl = spark.read.format("graft.sources.WarcSource")
      .option("path", warcDir).load()
    val batchGraph = Links.hostGraph(
      Links.outlinksOf(crawl).filter(!col("nofollow")))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("src_host"), col("dst_host"))
      .agg(org.apache.spark.sql.functions.sum(col("n_links")).as("n"))
      .orderBy(col("src_host"), col("dst_host"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val streamed = spark.read.parquet(edges)
    assert(streamed.select("batch_id").distinct().count() >= 2)
    assert(canon(streamed) === canon(batchGraph))
    // the nofollow edge never lands
    assert(streamed.filter(col("dst_host") === "bad.example").isEmpty)
    // drained checkpoint: re-run rewrites nothing
    DocStream.profileLinkGraph(spark, warcDir, edges, ckpt,
      maxFilesPerTrigger = 2).awaitTermination()
    assert(canon(spark.read.parquet(edges)) === canon(batchGraph))
  }
}

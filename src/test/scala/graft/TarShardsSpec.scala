package graft

import graft.sinks.TarShards
import org.apache.spark.sql.functions._
import scala.sys.process._

/** WebDataset-style tar shards: the archives must be REAL tars —
  * GNU tar (a fully foreign implementation) lists and extracts them
  * byte-identically — plus byte-determinism across rewrites, the
  * independent-header-walk manifest, and the contract errors. */
class TarShardsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("tarshards").toString

  private val docs = Seq(
    ("alpha", "the quick brown fox"),
    ("beta", "x" * 513), // spans two payload blocks
    ("gamma", ""), // empty member: header only
    ("delta", "exactly".padTo(512, '!')), // exactly one block
    ("epsilon", "short")
  ).toDF("k", "t").select(col("k"), col("t").cast("binary").as("p"))

  test("GNU tar lists and extracts our shards byte-identically") {
    val dir = freshDir()
    val manifest = TarShards.write(docs, "k", "p", "txt", dir, nShards = 2)
      .orderBy("shard").collect()
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar")).sortBy(_.getName)
    assert(files.nonEmpty)
    // every member GNU tar sees, extracted through GNU tar, matches
    // the original payload bytes
    val expected = docs.collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    var listed = 0
    for (f <- files) {
      val names = Seq("tar", "-tf", f.getAbsolutePath).!!.trim.split("\n").filter(_.nonEmpty)
      for (n <- names) {
        listed += 1
        val key = n.stripSuffix(".txt")
        assert(expected.contains(key), s"unexpected member $n")
        // retry-once: scala.sys.process's output pump has raced the
        // exit status under heavy host load (observed once in r17's
        // full-suite run: rc=0 with an EMPTY capture for a non-empty
        // member; same tar, same shard passed in isolation). One
        // retry distinguishes that harness race from a real framing
        // bug, which reproduces.
        def extract(): Array[Byte] = {
          val out = new java.io.ByteArrayOutputStream()
          val rc = (Seq("tar", "-xOf", f.getAbsolutePath, n) #> out).!
          assert(rc === 0, s"tar -xO failed for $n")
          out.toByteArray
        }
        val got = {
          val first = extract()
          if (first.isEmpty && expected(key).nonEmpty) extract() else first
        }
        assert(got === expected(key), s"payload mismatch for $n")
      }
    }
    assert(listed === expected.size)
    // manifest (independent header walk) agrees with the formula
    val totFiles = manifest.map(_.getLong(1)).sum
    assert(totFiles === expected.size.toLong)
    for (r <- manifest) {
      val sizes = expected.values.toSeq // per-shard sizes re-derived below
      assert(r.getLong(3) > 0)
    }
    val totPayload = manifest.map(_.getLong(2)).sum
    assert(totPayload === expected.values.map(_.length.toLong).sum)
    val totTar = manifest.map(_.getLong(3)).sum
    // formula twin: per-shard Σ(512 + 512·ceil(len/512)) + 1024
    val byShard = expected.toSeq.map { case (k, v) =>
      // re-derive the assignment with the same md5-prefix rule
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(k.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      (java.lang.Long.parseLong(hex.take(8), 16) % 2, v.length.toLong)
    }.groupBy(_._1)
    assert(totTar === byShard.values.map(g => TarShards.tarBytes(g.map(_._2))).sum)
  }

  test("byte-deterministic across rewrites; contract errors") {
    val dir = freshDir()
    TarShards.write(docs, "k", "p", "txt", dir, nShards = 2)
    val first = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar"))
      .sortBy(_.getName).map(f => java.nio.file.Files.readAllBytes(f.toPath))
    TarShards.write(docs, "k", "p", "txt", dir, nShards = 2)
    val second = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar"))
      .sortBy(_.getName).map(f => java.nio.file.Files.readAllBytes(f.toPath))
    assert(first.length === second.length)
    first.zip(second).foreach { case (a, b) => assert(a === b) }
    // >100-byte member name refused
    val longKey = Seq(("k" * 120, "x")).toDF("k", "t")
      .select(col("k"), col("t").cast("binary").as("p"))
    val e = intercept[org.apache.spark.SparkException] {
      TarShards.write(longKey, "k", "p", "txt", freshDir(), 1)
    }
    assert(e.getMessage.contains("100-byte") || e.getCause != null)
    // duplicate keys refused
    val dup = Seq(("same", "a"), ("same", "b")).toDF("k", "t")
      .select(col("k"), col("t").cast("binary").as("p"))
    intercept[org.apache.spark.SparkException] {
      TarShards.write(dup, "k", "p", "txt", freshDir(), 1)
    }
  }

  test("TarSource reads our shards back losslessly, one partition per shard") {
    val dir = freshDir()
    TarShards.write(docs, "k", "p", "txt", dir, nShards = 2)
    val back = spark.read.format("graft.sources.TarSource")
      .option("path", dir).load()
    assert(back.rdd.getNumPartitions === 2) // one per shard file
    val rows = back.collect()
      .map(r => r.getAs[String]("key") ->
        (r.getAs[Int]("shard"), r.getAs[String]("ext"),
          r.getAs[Long]("size"), r.getAs[Array[Byte]]("payload")))
      .toMap
    val expected = docs.collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(rows.keySet === expected.keySet)
    for ((k, (_, ext, size, payload)) <- rows) {
      assert(ext === "txt")
      assert(size === expected(k).length.toLong)
      assert(payload === expected(k))
    }
    // column pruning: a payload-free projection advertises only the
    // surviving columns in the scan description (and the reader then
    // skip()s every payload — the manifest-query fast path)
    val pruned = back.select(col("key"), col("size"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("cols=[key,size]"), plan.linesIterator.take(8).mkString("\n"))
    assert(pruned.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      expected.map { case (k, v) => k -> v.length.toLong })
  }

  test("streaming curation exports per-batch tar shards; restart replays nothing") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("tarstream_in").toString
    val out = Files.createTempDirectory("tarstream_out").toString
    val ckpt = Files.createTempDirectory("tarstream_ckpt").toString
    val good1 = "the cat sat on the mat and the dog ran in the park with a ball"
    val good2 = "a stream of documents arrives and the engine keeps the good ones for training"
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s","n_chars":${text.length}}"""
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(doc(1, good1), doc(2, "!!!!!!!!")).mkString("\n"))
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      Seq(doc(3, good1), doc(4, good2)).mkString("\n"))
    val q = graft.streaming.DocStream.curateToTarShards(
      spark, in, out, ckpt, nShards = 2, maxFilesPerTrigger = 1)
    q.awaitTermination()
    // batch dirs exist; members = curated survivors only (2 junk,
    // 3 dup of good1), each batch readable through the DSv2 source
    val read = spark.read.format("graft.sources.TarSource")
    def keysIn(dir: String): Set[String] =
      if (!new java.io.File(dir).exists()) Set.empty
      else read.option("path", dir).load().select("key").collect().map(_.getString(0)).toSet
    val all = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(all.length === 2, all.mkString(","))
    val perBatch = all.map(b => keysIn(s"$out/$b")).toSeq
    assert(perBatch.flatten.toSet === Set("1", "4"))
    // restart on the same checkpoint with no new input: no new
    // batch dirs, nothing rewritten
    val before = all.toSeq
    val q2 = graft.streaming.DocStream.curateToTarShards(
      spark, in, out, ckpt, nShards = 2, maxFilesPerTrigger = 1)
    q2.awaitTermination()
    val after = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq
    assert(after === before)
    // new input → one new batch dir with only the fresh survivor
    Files.writeString(java.nio.file.Paths.get(s"$in/b3.json"),
      Seq(doc(5, "the quick brown fox jumps over the lazy dog again and again")).mkString("\n"))
    val q3 = graft.streaming.DocStream.curateToTarShards(
      spark, in, out, ckpt, nShards = 2, maxFilesPerTrigger = 1)
    q3.awaitTermination()
    val finalDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq
    assert(finalDirs.size === 3)
    val newDir = finalDirs.diff(before)
    assert(newDir.size === 1)
    assert(keysIn(s"$out/${newDir.head}") === Set("5"))
  }

  test("write→read through an explicit file: URI (Hadoop FileSystem API end-to-end)") {
    // the whole tier must resolve paths through the Hadoop FS layer:
    // a scheme-qualified URI (what hdfs:// / s3a:// look like to the
    // code) round-trips write → manifest → DSv2 read unchanged
    val dir = "file://" + freshDir()
    val manifest = TarShards.write(docs, "k", "p", "txt", dir, nShards = 2)
    assert(manifest.agg(sum("n_files")).collect()(0).getLong(0) === 5L)
    val back = spark.read.format("graft.sources.TarSource")
      .option("path", dir).load()
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Array[Byte]]("payload")).toMap
    val expected = docs.collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(back.keySet === expected.keySet)
    for ((k, v) <- expected) assert(back(k) === v)
  }

  test("re-run over a smaller corpus clears stale shards first") {
    val dir = freshDir()
    TarShards.write(docs, "k", "p", "txt", dir, nShards = 5)
    // also plant a stranded temp file from a hypothetical crashed run
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".shard-00009.tar.tmp"), Array[Byte](1))
    val one = Seq(("alpha", "only survivor")).toDF("k", "t")
      .select(col("k"), col("t").cast("binary").as("p"))
    val manifest = TarShards.write(one, "k", "p", "txt", dir, nShards = 1)
    assert(manifest.count() === 1L)
    // ignore Hadoop LocalFileSystem's standard .crc sidecars — the
    // point is that no stale .tar (or stranded .tmp) survives
    val left = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).sorted
    assert(left === Array("shard-00000.tar"), left.mkString(","))
    val back = spark.read.format("graft.sources.TarSource").option("path", dir).load()
    assert(back.select("key").collect().map(_.getString(0)).toSeq === Seq("alpha"))
  }

  test("long keys shard via the ustar prefix field; GNU tar and TarSource agree") {
    val dir = freshDir()
    // >100-byte member name WITH a slash: splits across prefix+name
    val longKey = ("d" * 80) + "/" + ("f" * 60) // 141 chars + ".txt" = 145
    val data = Seq((longKey, "prefix-field payload"), ("short", "plain")).toDF("k", "t")
      .select(col("k"), col("t").cast("binary").as("p"))
    TarShards.write(data, "k", "p", "txt", dir, nShards = 1)
    // GNU tar (foreign reader) reconstructs the full path
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar")).head
    val names = Seq("tar", "-tf", f.getAbsolutePath).!!.trim.split("\n").toSet
    assert(names === Set(s"$longKey.txt", "short.txt"))
    // `!!` returns after tar exits and its whole stdout is read (and
    // throws on a nonzero exit); it ends the last line with a newline
    val payload = Seq("tar", "-xOf", f.getAbsolutePath, s"$longKey.txt").!!.stripLineEnd
    assert(payload === "prefix-field payload")
    // our own DSv2 reader reassembles prefix + '/' + name
    val back = spark.read.format("graft.sources.TarSource").option("path", dir).load()
      .collect().map(r => r.getAs[String]("key") ->
        new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).toMap
    assert(back === Map(longKey -> "prefix-field payload", "short" -> "plain"))
    // byte-determinism still holds with prefix members
    val first = java.nio.file.Files.readAllBytes(f.toPath)
    TarShards.write(data, "k", "p", "txt", dir, nShards = 1)
    assert(java.nio.file.Files.readAllBytes(f.toPath) === first)
    // no usable slash → refuse; beyond prefix+name capacity → refuse
    val noSlash = Seq(("k" * 150, "x")).toDF("k", "t")
      .select(col("k"), col("t").cast("binary").as("p"))
    val e1 = intercept[org.apache.spark.SparkException] {
      TarShards.write(noSlash, "k", "p", "txt", freshDir(), 1)
    }
    assert(e1.getMessage.contains("100-byte") || e1.getCause != null)
    val tooLong = Seq((("a" * 150) + "/" + ("b" * 150), "x")).toDF("k", "t")
      .select(col("k"), col("t").cast("binary").as("p"))
    intercept[org.apache.spark.SparkException] {
      TarShards.write(tooLong, "k", "p", "txt", freshDir(), 1)
    }
  }

  test("null payload fails loudly, naming the key") {
    val withNull = Seq(("ok", Some("fine")), ("broken", None)).toDF("k", "t")
      .select(col("k"), col("t").cast("binary").as("p"))
    val e = intercept[org.apache.spark.SparkException] {
      TarShards.write(withNull, "k", "p", "txt", freshDir(), 1)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("null payload") && m.contains("broken")))
  }

  test("multi-ext samples: writeMembers colocates a key's members; WebDataset regroups them") {
    val dir = freshDir()
    val docs = Seq(
      (1L, "first doc text"),
      (2L, "second document with more text"),
      (3L, "third")
    ).toDF("doc_id", "text")
    val members = docs.select(col("doc_id").cast("string").as("k"),
        lit("txt").as("e"), col("text").cast("binary").as("p"))
      .unionByName(docs.select(col("doc_id").cast("string").as("k"),
        lit("meta").as("e"),
        concat(lit("n="), length(col("text"))).cast("binary").as("p")))
    graft.sinks.TarShards.writeMembers(members, "k", "e", "p", dir, nShards = 2)
    // GNU tar sees both member files per key, adjacent
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar")).sortBy(_.getName)
    val names = f.flatMap(t => Seq("tar", "-tf", t.getAbsolutePath).!!.trim.split("\n"))
    assert(names.length === 6)
    // adjacency contract: within each shard the two members of a key
    // are consecutive (meta sorts before txt)
    f.foreach { t =>
      val ns = Seq("tar", "-tf", t.getAbsolutePath).!!.trim.split("\n")
      ns.grouped(2).foreach { pair =>
        assert(pair.length === 2)
        assert(pair(0).stripSuffix(".meta") === pair(1).stripSuffix(".txt"), pair.mkString(","))
      }
    }
    // sample view: zero-shuffle grouped read == groupBy fallback
    val sortedView = graft.sources.WebDataset.samples(spark, dir)
    assert(!sortedView.queryExecution.executedPlan.toString.contains("Exchange"),
      "sorted sample grouping must not shuffle")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key"), col("n_parts"), col("bytes"),
          col("parts").getItem("txt").cast("string").as("txt"),
          col("parts").getItem("meta").cast("string").as("meta"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getString(3), r.getString(4))).toSet
    val s = rows(sortedView)
    assert(s === rows(graft.sources.WebDataset.samples(spark, dir, sorted = false)))
    assert(s.map(_._1) === Set("1", "2", "3"))
    val one = s.find(_._1 === "1").get
    assert(one._2 === 2 && one._4 === "first doc text" && one._5 === "n=14")
    assert(one._3 === "first doc text".length + "n=14".length)
    // duplicate (key, ext) refused; same key under two exts is fine
    val dup = members.unionByName(docs.limit(1)
      .select(col("doc_id").cast("string").as("k"), lit("txt").as("e"),
        lit("x").cast("binary").as("p")))
    intercept[org.apache.spark.SparkException] {
      graft.sinks.TarShards.writeMembers(dup, "k", "e", "p", freshDir(), 1)
    }
  }

  test("writeSized: shard count derives from the exact tar footprint") {
    val dir = freshDir()
    // 5 docs, footprints 1024/1536/512/1024/1024 bytes (header+padded)
    // = 5120 total; target 2048 → ceil(5120/2048) = 3 shards
    val sizes = docs.select(col("k"), col("p"))
    assert(TarShards.shardsForTarget(sizes, "p", 2048L) === 3)
    val manifest = TarShards.writeSized(docs, "k", "p", "txt", dir, 2048L)
    val shards = manifest.collect()
    assert(shards.map(_.getInt(0)).toSet.subsetOf(Set(0, 1, 2)))
    assert(shards.map(_.getLong(1)).sum === 5L)
    // degenerate target: never fewer than one shard
    assert(TarShards.shardsForTarget(sizes, "p", Long.MaxValue) === 1)
  }

  test("shard-filter pushdown prunes whole shard files at planning") {
    val dir = freshDir()
    TarShards.write(docs, "k", "p", "txt", dir, nShards = 4)
    val all = spark.read.format("graft.sources.TarSource").option("path", dir).load()
    val nShardFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".tar"))
    assert(all.rdd.getNumPartitions === nShardFiles)
    val probed = all.filter(col("shard") === 0)
    // one file opened, not all; the scan advertises the pushed filter
    assert(probed.rdd.getNumPartitions === 1)
    assert(probed.queryExecution.executedPlan.toString.contains("shardFilters="),
      probed.queryExecution.executedPlan.toString.linesIterator.take(6).mkString("\n"))
    // rows unchanged vs the unpruned read
    val expected = all.collect().filter(_.getAs[Int]("shard") == 0)
      .map(_.getAs[String]("key")).toSet
    assert(probed.select("key").collect().map(_.getString(0)).toSet === expected)
    // IN-set pruning
    val inProbe = all.filter(col("shard").isin(0, 2))
    assert(inProbe.rdd.getNumPartitions <= 2)
  }

  test("TarSource parses a FOREIGN archive written by GNU tar") {
    val work = new java.io.File(freshDir())
    val sub = new java.io.File(work, "payload"); sub.mkdirs()
    val contents = Map("one" -> "first member", "two" -> "x" * 700, "three" -> "")
    contents.foreach { case (k, v) =>
      java.nio.file.Files.write(new java.io.File(sub, s"$k.txt").toPath, v.getBytes("UTF-8"))
    }
    val tarFile = new java.io.File(work, "foreign.tar")
    // GNU tar writes its own header dialect (magic "ustar  ", real
    // mtimes/uids, sometimes a leading directory entry) — the
    // header-walk reader must parse it anyway
    val rc = Process(Seq("tar", "-cf", tarFile.getAbsolutePath,
      "-C", sub.getAbsolutePath) ++ contents.keys.toSeq.sorted.map(_ + ".txt")).!
    assert(rc === 0)
    val rows = spark.read.format("graft.sources.TarSource")
      .option("path", tarFile.getAbsolutePath).load()
      .collect()
      .map(r => r.getAs[String]("key") ->
        new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).toMap
    assert(rows === contents)
  }

  test("readStream tail-follow: arriving tar shards feed streaming media curation end-to-end") {
    import graft.operators.Multimodal.MiniEncoder
    val dir = freshDir()
    val corpus = freshDir() + "/corpus"
    val index = freshDir() + "/idx"
    val ckpt = freshDir() + "/ckpt"
    def png(a: Int) = MiniEncoder.pngGray(18, 16, (x, y) => (x * a + y * (a + 5)) % 256)
    def shardRows(rows: Seq[(Long, Array[Byte])]) =
      rows.toDF("doc_id", "content").select(
        col("doc_id").cast("string").as("k"), col("content").as("p"))
    def drain(): Unit = graft.streaming.DocStream.curateMediaNearDup(spark,
      spark.readStream.format("graft.sources.TarSource").option("path", dir).load()
        .select(col("key").cast("long").as("doc_id"), col("payload").as("content")),
      corpus, index, ckpt, kind = "image", maxDistance = 0).awaitTermination()
    graft.sinks.TarShards.write(shardRows(Seq(1L -> png(13), 2L -> png(7))),
      "k", "p", "png", dir, nShards = 1)
    drain()
    def corpusIds() = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(corpusIds() === Set(1L, 2L))
    // a new shard arrives (foreign name — sink rewrites clear stale
    // shard-*.tar): an exact copy of image 1 plus a new image
    val tmp2 = freshDir()
    graft.sinks.TarShards.write(shardRows(Seq(3L -> png(13), 4L -> png(29))),
      "k", "p", "png", tmp2, nShards = 1)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(tmp2, "shard-00000.tar"),
      java.nio.file.Paths.get(dir, "late-00000.tar"))
    drain()
    assert(corpusIds() === Set(1L, 2L, 4L)) // 3 deduped via the index
    drain() // nothing new
    assert(corpusIds() === Set(1L, 2L, 4L))
  }

  test("WebDataset refuses a foreign tar repeating an ext within one key's run") {
    val work = new java.io.File(freshDir())
    val sub = new java.io.File(work, "payload"); sub.mkdirs()
    // GNU tar happily archives the same path twice via two source
    // dirs — the WebDataset reader must refuse the duplicate rather
    // than let last-wins drop the first payload and undercount
    // n_parts
    val sub2 = new java.io.File(work, "payload2"); sub2.mkdirs()
    java.nio.file.Files.write(new java.io.File(sub, "a.txt").toPath, "v1".getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(sub2, "a.txt").toPath, "v2".getBytes("UTF-8"))
    val tarFile = new java.io.File(work, "dup.tar")
    val rc = Process(Seq("tar", "-cf", tarFile.getAbsolutePath,
      "-C", sub.getAbsolutePath, "a.txt",
      "-C", sub2.getAbsolutePath, "a.txt")).!
    assert(rc === 0)
    val ex = intercept[Exception] {
      graft.sources.WebDataset.samples(spark, tarFile.getAbsolutePath).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("duplicate member ext")), s"got $ex")
  }
}

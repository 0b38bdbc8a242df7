package graft

import graft.functions.Text
import graft.operators.LangId
import org.apache.spark.sql.functions._

/** Trainable language identifier (r13): multinomial NB over hashed
  * char n-grams, trained IN Spark over the fixture corpus
  * (`/langid_fixtures.tsv` — 31 languages at r13, 55 at r14 with
  * Perso-Arabic, Bengali, Tamil, Telugu, Malayalam, Kannada,
  * Devanagari-Marathi, Gujarati, Gurmukhi, Georgian, Armenian and
  * more Cyrillic/Latin coverage; 40 sentences per language since r15
  * — 13 → 40, the r14 verdict's depth ask — first 32 train, last 8
  * held out). Training quality is spec territory (ln has no
  * engine-identical twin — q123 gates the quantized serving path);
  * this suite gates breadth AND depth (≥90% overall held-out at r15,
  * up from the r14 majority floor; measured 95.2%), marker agreement
  * on en/es/de/fr,
  * the zero-evidence → und rule, and the [[Text.withLangId]]
  * delegation contract. */
class LangIdSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtures: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/langid_fixtures.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val t = l.split("\t", 2); (t(0), t(1))
    }.toList
    finally src.close()
  }

  // (id, lang, text, heldOut) — per-language split so every language
  // trains AND evaluates
  private lazy val corpus = fixtures.groupBy(_._1).toSeq.sortBy(_._1)
    .flatMap { case (lang, rows) =>
      rows.zipWithIndex.map { case ((_, text), i) =>
        (lang, text, i >= rows.size - 8)
      }
    }.zipWithIndex.map { case ((l, t, h), id) => (id.toLong, l, t, h) }

  private lazy val model = {
    val train = corpus.filter(!_._4).toDF("id", "lang", "text", "held")
    LangId.train(train, "id", "text", "lang")
  }
  private lazy val quantized = LangId.quantize(model)

  private lazy val nLangs = fixtures.map(_._1).distinct.size

  test("model shape: floors negative, sparse deltas positive, one floor/prior per language") {
    assert(nLangs === 55) // 31 (r13) + 24 (r14 script/coverage growth)
    assert(model.langs.size === nLangs)
    assert(model.langs.forall { case (_, p, f) => p < 0.0 && f < 0.0 })
    assert(model.weights.forall(_._3 > 0.0), "dw = w - floor must be > 0 for seen grams")
    assert(model.weights.map(w => (w._1, w._2)).distinct.size === model.weights.size)
    // quantization drops nothing material at the default scale
    assert(quantized.langs.size === nLangs)
    assert(quantized.weights.nonEmpty)
  }

  test("held-out accuracy: >= 90% overall on 8-per-language holdout; en/es/de/fr perfect") {
    val held = corpus.filter(_._4).toDF("id", "lang", "text", "held")
    val got = LangId.withLang(held, "text", quantized, "lang_trained",
        idCol = Some("id"))
      .select(col("id"), col("lang"), col("lang_trained"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.length === nLangs * 8)
    val perLang = got.groupBy(_._2).view
      .mapValues(rs => rs.count(r => r._3 == r._2)).toMap
    val marker = Set("en", "es", "de", "fr")
    // the four marker languages must be perfect (they're what the
    // CCNet-shape queries grouped by before r13 — no regression)
    marker.foreach { l =>
      assert(perLang(l) === 8, s"$l held-out must be 8/8, got ${perLang(l)}")
    }
    val added = perLang.filterNot { case (l, _) => marker(l) }
    val addedGood = added.count { case (_, c) => c >= 5 } // majority per language
    assert(addedGood >= 48,
      s"need >= 48 added languages at majority held-out accuracy, got $addedGood " +
        s"(per-lang: ${added.toSeq.sortBy(_._1).mkString(", ")})")
    // the r15 depth floor (verdict: raise from majority toward 85%):
    // 40 sentences per language puts the confusable Romance / Slavic
    // / Malay pairs over the line the 13-sentence fixture missed —
    // measured 95.2% on this split at r15 close (90.3% on the CLI's
    // alphabetical split, up from ~74% at 13 sentences)
    val overall = got.count(r => r._3 == r._2).toDouble / got.length
    assert(overall >= 0.90, f"overall held-out accuracy $overall%.3f < 0.90")
  }

  test("agrees with the marker langid wherever the marker is right") {
    val held = corpus.filter(r => r._4 && Set("en", "es", "de", "fr")(r._2))
      .toDF("id", "lang", "text", "held")
    val markers = Text.withLangId(held, "text", "lang_marker")
    val both = LangId.withLang(markers, "text", quantized, "lang_trained",
        idCol = Some("id"))
      .select(col("lang"), col("lang_marker"), col("lang_trained")).collect()
    // the marker argmax is a 4-language toy and does mislabel (one fr
    // fixture reads as es to it) — the contract worth keeping is:
    // wherever the marker speaks AND is right, the trained model says
    // the same thing (no regression on the marker's home turf)
    val spokeRight = both.filter(r => r.getString(1) == r.getString(0))
    assert(spokeRight.length >= 8,
      s"marker must label most en/es/de/fr fixtures correctly, got ${spokeRight.length}/12")
    spokeRight.foreach { r =>
      assert(r.getString(2) === r.getString(1),
        s"marker correctly said ${r.getString(1)}, trained said ${r.getString(2)}")
    }
  }

  test("hash families: the md5 oracle family and the xxh64 production family agree on labels") {
    val train = corpus.filter(!_._4).toDF("id", "lang", "text", "held")
    val held = corpus.filter(_._4).toDF("id", "lang", "text", "held")
    val md5q = LangId.quantize(LangId.train(train, "id", "text", "lang", family = "md5"))
    assert(md5q.family === "md5")
    assert(quantized.family === "xxh64")
    val a = LangId.withLang(held, "text", md5q, "g", idCol = Some("id"))
      .select("id", "g").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = LangId.withLang(held, "text", quantized, "g", idCol = Some("id"))
      .select("id", "g").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // bucket collisions differ per family, so scores differ — but the
    // LABELS must agree on nearly every held-out sentence
    val agree = a.keys.count(k => a(k) == b(k))
    assert(agree >= (a.size * 0.95).toInt, s"families agree on $agree/${a.size}")
    // and the marker carries the family: a saved xxh64 model reloads
    // as xxh64 (geometry baked, never silently re-hashed)
    val dir = java.nio.file.Files.createTempDirectory("langid_fam").toString + "/m"
    LangId.save(spark, md5q, dir)
    assert(LangId.load(spark, dir).family === "md5")
  }

  test("save/load round trip: the reloaded artifact serves identically; blind loads refuse") {
    val dir = java.nio.file.Files.createTempDirectory("langid_model").toString + "/m"
    LangId.save(spark, quantized, dir)
    val reloaded = LangId.load(spark, dir)
    assert(reloaded.dim === quantized.dim)
    assert(reloaded.ns === quantized.ns)
    assert(reloaded.scale === quantized.scale)
    assert(reloaded.langs.toSet === quantized.langs.toSet)
    assert(reloaded.weights.toSet === quantized.weights.toSet)
    val docs = Seq((1L, "der Hund und die Katze spielen im schönen Garten"),
      (2L, "el perro y el gato juegan en el jardín")).toDF("id", "text")
    val a = LangId.withLang(docs, "text", quantized, idCol = Some("id"))
      .select("id", "lang_guess").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = LangId.withLang(docs, "text", reloaded, idCol = Some("id"))
      .select("id", "lang_guess").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    // a markerless directory refuses (unknown hashing geometry)
    val bare = java.nio.file.Files.createTempDirectory("langid_bare").toString + "/m"
    spark.read.parquet(s"$dir/langs").write.parquet(s"$bare/langs")
    spark.read.parquet(s"$dir/weights").write.parquet(s"$bare/weights")
    val e = intercept[IllegalArgumentException](LangId.load(spark, bare))
    assert(e.getMessage.contains("refusing to serve"))
  }

  test("a model with a weight qdw <= 0 is refused by load and by classifyQuantized") {
    val docs = Seq((1L, "der Hund und die Katze spielen im Garten")).toDF("id", "text")
    val langTable = quantized.langs.toDF("lang", "q_prior", "q_floor")
    val (lang, bucket, _) = quantized.weights.head
    Seq(0L, -3L).foreach { qdw =>
      val bad = quantized.copy(weights = (lang, bucket, qdw) +: quantized.weights.tail)
      val dir = java.nio.file.Files.createTempDirectory("langid_bad").toString + "/m"
      LangId.save(spark, bad, dir)
      val e = intercept[IllegalArgumentException](LangId.load(spark, dir))
      assert(e.getMessage.contains("qdw <= 0"), e.getMessage)
      val thrown = intercept[Exception](LangId.classifyQuantized(docs, "id", "text",
        langTable, bad.weights.toDF("lang", "bucket", "qdw"), bad.dim, bad.ns, bad.family)
        .collect())
      assert(Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("qdw <= 0")), thrown)
    }
  }

  test("zero evidence yields und; empty and whitespace-only text never crash") {
    val docs = Seq((1L, ""), (2L, "   \t  \n "), (3L, "the weather is nice"))
      .toDF("id", "text")
    val got = LangId.withLang(docs, "text", quantized, "lang_guess",
        idCol = Some("id"))
      .select(col("id"), col("lang_guess")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "und")
    assert(got(2L) === "und")
    assert(got(3L) === "en")
  }

  test("withLangId delegates behind the trained flag; marker form unchanged without it") {
    val docs = Seq((1L, "der Hund und die Katze spielen im schönen Garten"),
      (2L, "el perro y el gato juegan en el jardín"))
      .toDF("doc_id", "text")
    val trained = Text.withLangId(docs, "text", trained = Some(quantized))
      .select(col("doc_id"), col("lang_guess")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(trained(1L) === "de")
    assert(trained(2L) === "es")
    // no idCol passed: the content-fingerprint join-back path must
    // keep row count + schema, label duplicate texts identically,
    // and pin NOTHING (the returned-lazy-frame Pins leak class)
    val before = spark.sparkContext.getPersistentRDDs.size
    val dup = docs.unionByName(Seq((3L, "el perro y el gato juegan en el jardín"))
      .toDF("doc_id", "text"))
    val out = Text.withLangId(dup, "text", trained = Some(quantized))
    val rows = out.collect()
    assert(rows.length === 3)
    assert(out.columns.toSeq === Seq("doc_id", "text", "lang_guess"))
    assert(rows.filter(r => Set(2L, 3L)(r.getLong(0)))
      .map(_.getString(2)).toSet === Set("es"))
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "withLang must not leave block-manager pins behind")
    // without the flag: the 4-language marker argmax, as before
    val marker = Text.withLangId(docs, "text")
      .select(col("doc_id"), col("lang_guess")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(marker(1L) === "de")
  }

  test("packed classify argmax is row-for-row the struct-min spelling, both families") {
    // r19: classifyQuantized replaced the doc×L score table +
    // min(struct(-score, lang, n_hit)) SortAggregate with a
    // packed-decimal hit argmax + literal-array floor-only argmax.
    // This pins ROW IDENTITY (all five output columns) against the
    // original spelling — which still exists as scoreQuantized + the
    // struct-min groupBy, reconstructed verbatim here — over the
    // 55-script fixture plus edge shapes (empty, whitespace-only,
    // und-forcing, single char, supplementary plane), both families.
    val texts = fixtures.map(_._2).take(220) ++
      Seq("", "   \t ", "a", "é𝄞", "zzzz qqqq xxxx", "the weather is nice")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val md5q = LangId.quantize(LangId.train(
      corpus.filter(!_._4).toDF("id", "lang", "text", "held"),
      "id", "text", "lang", family = "md5"))
    for (q <- Seq(quantized, md5q)) {
      val langTable = q.langs.toDF("lang", "q_prior", "q_floor")
      val weights = q.weights.toDF("lang", "bucket", "qdw")
      val neu = LangId.classifyQuantized(docs, "id", "text",
        langTable, weights, q.dim, q.ns, q.family)
      assert(neu.columns.toSeq ===
        Seq("id", "lang", "score_q", "n_grams", "n_hit"))
      assert(neu.schema("score_q").dataType.typeName === "long")
      assert(neu.schema("n_hit").dataType.typeName === "long")
      val ref = LangId.scoreQuantized(docs, "id", "text",
          langTable, weights, q.dim, q.ns, q.family)
        .groupBy(col("id"))
        .agg(min(struct((-col("score_q")).as("_neg"), col("lang").as("_l"),
            col("n_hit").as("_h"))).as("_best"),
          max(col("n_hit")).as("_any"),
          first(col("n_grams")).as("n_grams"))
        .select(col("id"),
          when(col("_any") === 0L, lit("und")).otherwise(col("_best._l")).as("lang"),
          (-col("_best._neg")).as("score_q"),
          col("n_grams"),
          col("_best._h").as("n_hit"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val (a, b) = (rows(neu), rows(ref))
      assert(a === b, s"${q.family}: packed classify diverged from struct-min")
    }
    // empty model: the old doc×L cross join produced zero rows
    val emptyLangs = Seq.empty[(String, Long, Long)].toDF("lang", "q_prior", "q_floor")
    val emptyW = Seq.empty[(String, Long, Long)].toDF("lang", "bucket", "qdw")
    assert(LangId.classifyQuantized(docs, "id", "text", emptyLangs, emptyW,
      quantized.dim, quantized.ns, quantized.family).count() === 0L)
  }

  test("native gram-bucket kernel is gram-for-gram the composed pipeline, both families") {
    // the r18 GramBuckets kernel replaced explode(flatten(charNgrams))
    // → bucketOf in LangId.features; this pins bucket-sequence
    // equality (order included) against the composed form over real
    // multibyte fixture prose — 55 scripts, so char-boundary slicing
    // is exercised on every UTF-8 width — plus edge shapes
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val dim = 1 << 15
    val ns = LangId.DefaultNs
    val texts = fixtures.map(_._2).take(220) ++
      Seq("", "a", "ab", "é", "𝄞", "𝄞a𝄞", "  spaced out  ", "ß日本𝄞語")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      .select(col("id"), LangId.langNormalized(col("t")).as("_n"))
    for (family <- Seq("md5", "xxh64")) {
      val rows = df.select(col("id"),
          ColumnBridge.column(graft.functions.GramBuckets(
            ColumnBridge.expression(col("_n")), ns, dim.toLong, family)).as("native"),
          transform(flatten(array(
            ns.map(k => Text.charNgramsFromNormalized(col("_n"), k)): _*)),
            // the PRE-r18 composed chains, spelled out (bucketOf now
            // routes md5 through the same native kernel — using it
            // here would make the md5 arm a tautology)
            g => if (family == "md5")
              conv(substring(md5(g), 1, 8), 16, 10).cast("long") % dim
            else pmod(xxhash64(g), lit(dim.toLong))).as("composed"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) === r.getSeq[Long](2),
          s"$family bucket sequence diverged for id=${r.getLong(0)}")
      }
    }
  }
}

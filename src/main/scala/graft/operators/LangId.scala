package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Trainable language identifier — multinomial Naive Bayes over
  * hashed character n-gram features, trained IN Spark. This is the
  * classic langid shape (fastText lid / CLD / langid.py are all
  * linear models over char n-grams; NB is the one whose training is
  * a SINGLE combinable aggregation instead of epochs of gradient
  * descent, which is the right trade at 100 TB: one groupBy over the
  * labeled corpus and the model falls out, deterministically).
  *
  * Replaces-in-spirit the 4-language marker argmax
  * ([[Text.LangMarkers]]) as the `lang` column every CCNet-shape
  * operator groups by (q97/q98/q110/q117/q120) —
  * [[Text.withLangId]] delegates here when handed a trained model.
  *
  * Feature hashing: bucket(gram) = first 8 hex chars of md5(gram) as
  * an integer mod `dim` — the [[QualityClassifier.bucket]] discipline,
  * md5 because both engines compute it identically over the gram's
  * UTF-8 bytes, so the q123 twin re-derives every bucket with
  * `('0x' || substr(md5(g),1,8))::bigint % dim`. Normalization is
  * SCRIPT-PRESERVING ([[langNormalized]]: lowercase + whitespace
  * collapse, nothing stripped) — [[Text.normalized]]'s `[^a-z0-9\s]`
  * strip would erase every non-Latin script, which is exactly the
  * text a language identifier exists for.
  *
  * Model: per (lang, bucket) log-probability with Lidstone smoothing,
  * stored SPARSE as deltas over the per-language unseen floor:
  *   w(l,b)   = ln((cnt(l,b) + α) / (T_l + α·dim))
  *   floor_l  = ln(α / (T_l + α·dim))        (unseen bucket)
  *   dw(l,b)  = w(l,b) − floor_l  ≥ 0        (sparse, nnz-bounded)
  *   score(d,l) = lnPrior_l + nGrams_d·floor_l + Σ_b cnt(d,b)·dw(l,b)
  * so serving needs only the sparse hit join plus one per-doc gram
  * count — no dense dim×L anything, no per-lang miss enumeration.
  *
  * Serving: [[quantize]] rounds lnPrior/floor/dw to integers at a
  * documented scale (the [[QualityClassifier.quantize]] int-serving
  * convention) and [[scoreQuantized]] computes EXACT integer
  * arithmetic — deterministic across engines, which is what lets
  * q123 hash-gate the full path (hashing parity, collision handling,
  * the floor/prior algebra, argmax + tie-break, the `und` rule).
  * Training stays spec-territory (ln is not engine-identical — the
  * q58 rule); [[LangIdSpec]] gates it over a 30-language fixture
  * corpus with held-out sentences.
  *
  * Scale shape: features are one explode + combinable count keyed by
  * (id, bucket); serving is feats ⋈ broadcast(weights) (model is
  * nnz-bounded ≤ dim·L rows) plus two more combinable HASH
  * aggregations on narrow keys — since r19 no doc×L score table
  * exists at all: hit languages argmax through a packed-decimal min,
  * floor-only languages through a per-doc literal-array argmax (see
  * [[classifyQuantized]]). Training collects only (lang,bucket)
  * counts — ≤ dim·L rows, the PQ-codebook collect class.
  */
object LangId {

  /** Script-preserving normalization: lowercase + collapse
    * whitespace. Twin: `trim(regexp_replace(lower(t),'\s+',' ','g'))`
    * (DuckDB regexp_replace needs the 'g' flag — the q73 lesson). */
  def langNormalized(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Hash bucket of a char-n-gram column (md5-prefix, portable —
    * the ORACLE family: both engines compute it identically; the
    * DuckDB twin stays `('0x' || substr(md5(g),1,8))::bigint % dim`,
    * the Spark side rides the native digest-prefix expression). */
  def bucket(gram: Column, dim: Int): Column =
    graft.functions.Md5Family.md5Hash32(gram) % dim

  /** Family-dispatched bucket (r13): `xxh64` is the PRODUCTION
    * default — one 64-bit hash per gram instead of a full md5
    * digest + hex parse, the q23/q24 convention (md5-derived
    * portable families gate; xxh64 serves). A model's family is
    * baked at training (the bucket geometry IS the model) and rides
    * the artifact marker — mixed-family serving refuses at load. */
  def bucketOf(gram: Column, dim: Int, family: String): Column = family match {
    case "md5" => bucket(gram, dim)
    case "xxh64" => pmod(xxhash64(gram), lit(dim.toLong))
    case other => throw new IllegalArgumentException(
      s"langid hash family '$other' (md5|xxh64)")
  }

  /** Default n-gram orders: 1-grams carry script identity (one CJK /
    * Cyrillic / Arabic char is already strong evidence), 2/3-grams
    * carry orthography and function-word shapes (space-padded grams
    * like `" th"`/`"de "` mark word boundaries — the normalized text
    * single-spaces them by construction). */
  val DefaultNs: Seq[Int] = Seq(1, 2, 3)

  /** Hashed char-n-gram features `(id, bucket, cnt)` via the ONE-PASS
    * native kernel [[graft.functions.GramBuckets]] (r18): the
    * previous composed pipeline — explode(flatten(array(ns.map(k =>
    * charNgramsFromNormalized(_n, k))))) then [[bucketOf]] per
    * exploded gram — paid an interpreted `transform` lambda dispatch
    * per position, an O(len²) substr re-scan per document per order,
    * one UTF8String per gram, and (md5 family) the
    * hex/substring/conv/cast round trip per gram. The kernel walks
    * the code-point offsets once and hashes each gram straight off
    * the shared byte array — bucket-for-bucket identical for BOTH
    * families (LangIdSpec's gram-parity test pins it against the
    * composed form), so trained models, q123/q128 hashes and every
    * persisted-model marker stay byte-identical. */
  def features(df: DataFrame, idCol: String, textCol: String, dim: Int,
      ns: Seq[Int] = DefaultNs, family: String = "xxh64"): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n-gram orders $ns")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    df.select(col(idCol).as("id"), langNormalized(col(textCol)).as("_n"))
      .select(col("id"), explode(ColumnBridge.column(graft.functions.GramBuckets(
        ColumnBridge.expression(col("_n")), ns, dim.toLong, family))).as("bucket"))
      .groupBy(col("id"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Total gram count per doc as a pure LENGTH formula — every order
    * k contributes max(len − k + 1, 0) grams, so the score's
    * n_grams·floor term needs NO second evaluation of the feature
    * explode (r13: the original n_grams aggregation re-ran the whole
    * explode+hash — Catalyst shares nothing across the two
    * aggregation branches — doubling the serving cost). */
  private def nGramsOf(n: Column, ns: Seq[Int]): Column =
    ns.map(k => greatest(length(n) - lit(k - 1), lit(0)).cast(LongType))
      .reduce(_ + _)

  /** Trained model, sparse (see object scaladoc for the algebra).
    * `langs` rows are `(lang, lnPrior, lnFloor)`; `weights` rows are
    * `(lang, bucket, dw)` with `dw = w − floor > 0` (zero deltas —
    * i.e. unseen — are simply absent). */
  final case class Model(langs: Seq[(String, Double, Double)],
      weights: Seq[(String, Long, Double)], dim: Int, ns: Seq[Int],
      family: String)

  /** Integer-quantized model for exact-arithmetic serving. */
  final case class Quantized(langs: Seq[(String, Long, Long)],
      weights: Seq[(String, Long, Long)], dim: Int, ns: Seq[Int], scale: Double,
      family: String)

  /** Train multinomial NB from a labeled corpus — ONE feature pass,
    * one (lang,bucket) aggregation, one (lang) aggregation; the only
    * driver state is the sparse count table (≤ dim·L rows). `alpha`
    * is the Lidstone smoothing mass. */
  def train(df: DataFrame, idCol: String, textCol: String, langCol: String,
      dim: Int = 1 << 15, ns: Seq[Int] = DefaultNs,
      alpha: Double = 0.5, family: String = "xxh64"): Model = {
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    val labels = df.select(col(idCol).as("id"), col(langCol).as("lang"))
    val lb = features(df, idCol, textCol, dim, ns, family)
      .join(labels, Seq("id"))
      .groupBy(col("lang"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      .collect() // ≤ dim·L — the codebook-collect class
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val nDocs = labels.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val totals = lb.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val allDocs = nDocs.values.sum.toDouble
    require(allDocs > 0, "empty training set")
    val langs = nDocs.keys.toSeq.sorted.map { l =>
      val t = totals.getOrElse(l, 0L).toDouble
      (l, math.log(nDocs(l) / allDocs), math.log(alpha / (t + alpha * dim)))
    }
    val floor = langs.map(x => x._1 -> x._3).toMap
    val weights = lb.toSeq.map { case (l, b, c) =>
      val t = totals(l).toDouble
      (l, b, math.log((c + alpha) / (t + alpha * dim)) - floor(l))
    }
    Model(langs, weights, dim, ns, family)
  }

  /** Quantize for serving: all three weight kinds rounded at one
    * `scale`; zero quantized deltas dropped (they score identically
    * to a miss). */
  def quantize(m: Model, scale: Double = 1e6): Quantized = Quantized(
    m.langs.map { case (l, p, f) => (l, math.round(p * scale), math.round(f * scale)) },
    m.weights.map { case (l, b, d) => (l, b, math.round(d * scale)) }
      .filter(_._3 != 0L),
    m.dim, m.ns, scale, m.family)

  /** Score every doc against every language with exact integer
    * arithmetic: `(id, lang, score_q, n_grams, n_hit)` — one row per
    * (doc, language). `langTable(lang, q_prior, q_floor)` and
    * `weights(lang, bucket, qdw)` are broadcast (model-bounded).
    * Docs whose normalized text is empty still appear (n_grams = 0,
    * score = prior). */
  def scoreQuantized(df: DataFrame, idCol: String, textCol: String,
      langTable: DataFrame, weights: DataFrame, dim: Int,
      ns: Seq[Int] = DefaultNs, family: String = "xxh64"): DataFrame = {
    // collisions within one language sum — same contract as q100
    val wb = broadcast(weights
      .groupBy(col("lang"), col("bucket")).agg(sum(col("qdw")).as("qdw")))
    val hits = features(df, idCol, textCol, dim, ns, family)
      .join(wb, Seq("bucket"))
      .groupBy(col("id"), col("lang"))
      .agg(sum(col("qdw") * col("cnt")).as("hit_sum"), sum(col("cnt")).as("n_hit"))
    // n_grams is a LENGTH formula (see nGramsOf) — the feature
    // explode evaluates ONCE, for the hits
    df.select(col(idCol).as("id"), langNormalized(col(textCol)).as("_n"))
      .select(col("id"), coalesce(nGramsOf(col("_n"), ns), lit(0L)).as("n_grams"))
      // doc × L broadcast nested loop — L is the language list,
      // dozens, bounded by the model (the bounded-composition
      // crossJoin class)
      .crossJoin(broadcast(langTable))
      .join(hits, Seq("id", "lang"), "left")
      .select(col("id"), col("lang"),
        (col("q_prior") + col("n_grams") * col("q_floor") +
          coalesce(col("hit_sum"), lit(0L))).as("score_q"),
        col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
  }

  /** Per-doc argmax: `(id, lang, score_q, n_grams, n_hit)` — `lang`
    * is the best language, ties broken toward the LEXICOGRAPHICALLY
    * SMALLEST code (deterministic, like the [[Text.LangMarkers]]-order
    * tie-break), overridden to `"und"` when NO gram of the doc hit
    * ANY language's weight table (zero evidence — the marker argmax's
    * nothing-scores rule). `score_q`/`n_hit` stay the best
    * candidate's (an `und` row documents what the floor-only argmax
    * would have said).
    *
    * == r19 shape (row-for-row identical to the r13–r18 form) ==
    * The original materialized the doc×L score table
    * ([[scoreQuantized]]'s broadcast nested loop) and argmax'd it
    * with `min(struct(-score, lang, n_hit))` — a STRUCT aggregate,
    * which HashAggregate cannot buffer, so the plan carried two
    * SortAggregates and shuffled L rows per document. Serving now
    * splits the candidate set instead:
    *
    *   - HIT candidates (languages with ≥1 matched bucket) are
    *     aggregated per doc with a `min` over ONE Decimal(38,0)
    *     packing `(−score)·10¹⁴ + langIdx·10¹⁰ + n_hit` — strictly
    *     monotone in the struct order (langIdx is the rank of the
    *     code in UTF-8-binary sorted order, exactly the string
    *     tie-break; (−score, idx) is unique per doc so n_hit never
    *     decides), and decimals are HashAggregate-mutable. Bounds:
    *     |score| ≤ n_grams·(|floor|+max dw) < 2³³·2³⁷ < 10²¹ and
    *     10²¹·10¹⁴ < 10³⁸ (decimal never wraps; the score itself is
    *     computed in LONG first, so any long-wrap matches the
    *     original expression tree bit-for-bit); n_hit ≤ n_grams
    *     < 10¹⁰; langIdx ≤ 9999 (guarded).
    *   - FLOOR-ONLY candidates (score = prior + n_grams·floor) never
    *     need L rows: their argmax is `array_min` over an L-element
    *     LITERAL array evaluated per doc — same long algebra, same
    *     (−score, idx) struct order.
    *   - The winner is `least` of the two packed forms. Adding
    *     floor-only candidates of HIT languages to the pool changes
    *     nothing: dw > 0 ⇒ hit_sum > 0 ⇒ the hit form of the same
    *     language packs strictly smaller, so a floor-only shadow can
    *     never equal the minimum.
    *   - No hit row at all ⇔ every n_hit is 0 ⇔ the original
    *     `max(n_hit) = 0` und rule.
    *
    * Plan effect: the doc×L BroadcastNestedLoopJoin, both
    * SortAggregates and the (id, lang)-keyed SortMergeJoin are gone;
    * every aggregate hash-buffers on narrow keys (the hit path
    * groups by the INT lang index, not the code string); the gram
    * aggregate keeps the exact features() shape, and n_grams joins
    * in at the small (id, lang-idx) grain off one staged id
    * exchange. LangIdSpec's classify-parity test pins row identity
    * against the original spelling over the 55-script fixture +
    * edge shapes for both families. */
  def classifyQuantized(df: DataFrame, idCol: String, textCol: String,
      langTable: DataFrame, weights: DataFrame, dim: Int,
      ns: Seq[Int] = DefaultNs, family: String = "xxh64"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.unsafe.types.UTF8String
    // model-bounded (≤ L rows, the codebook-collect class); sorted in
    // UTF-8 binary order = Spark's string comparison order, so the
    // index order IS the lexicographic tie-break (codes are ASCII in
    // practice, where this equals String order too)
    val langsArr = langTable.select(col("lang"), col("q_prior"), col("q_floor"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortWith((a, b) =>
        UTF8String.fromString(a._1).compareTo(UTF8String.fromString(b._1)) < 0)
    val outCols = Seq(col("id"), lit("und").as("lang"), lit(0L).as("score_q"),
      lit(0L).as("n_grams"), lit(0L).as("n_hit"))
    if (langsArr.isEmpty)
      // empty model ⇒ the old doc×L cross join produced zero rows
      return df.select(col(idCol).as("id")).select(outCols: _*).filter(lit(false))
    require(langsArr.length <= 9999,
      s"classifyQuantized packs the language index into 4 decimal digits; " +
        s"got ${langsArr.length} languages")
    val idxDf = df.sparkSession.createDataFrame(
      langsArr.zipWithIndex.toSeq.map { case ((l, p, f), i) => (l, p, f, i) })
      .toDF("lang", "q_prior", "q_floor", "_lidx")
    // collisions within one language sum — same contract as q100;
    // the broadcast rows carry the per-language constants and the
    // packed index instead of the code string. The packed argmax needs
    // every qdw > 0 (see above): a weight row that breaks it fails the
    // query while the broadcast side is built, with no extra job.
    val wb = broadcast(weights
      .groupBy(col("lang"), col("bucket")).agg(sum(when(col("qdw") > 0, col("qdw"))
        .otherwise(raise_error(lit(NonPositiveQdw)))).as("qdw"))
      .join(idxDf, Seq("lang"))
      .select(col("bucket"), col("qdw"), col("_lidx"),
        col("q_prior"), col("q_floor")))
    // the gram pass stays EXACTLY the features() shape — n_grams must
    // not ride the (id, bucket) aggregate (it would widen the one big
    // shuffle of the plan by a long per gram-bucket row; measured
    // +0.8 s at sf0.1); it attaches at the tiny (id, lang) grain below
    val feat = df
      .select(col(idCol).as("id"), langNormalized(col(textCol)).as("_n"))
      .select(col("id"), explode(ColumnBridge.column(graft.functions.GramBuckets(
        ColumnBridge.expression(col("_n")), ns, dim.toLong, family))).as("bucket"))
      .groupBy(col("id"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val d38 = DecimalType(38, 0)
    val B1 = lit(100000000000000L) // 10^14
    val B2 = lit(10000000000L)     // 10^10
    def packed(negScore: Column, idx: Column, nHit: Column): Column =
      negScore.cast(d38) * B1 + (idx.cast(LongType) * B2 + nHit).cast(d38)
    // (id, n_grams), staged behind one id exchange that BOTH its
    // consumers (the hit-candidate scoring join and the final left
    // join) replay — text is scanned and normalized twice in total,
    // exactly like the pre-r19 form (score side + doc side)
    val base = df
      .select(col(idCol).as("id"), langNormalized(col(textCol)).as("_n"))
      .select(col("id"), coalesce(nGramsOf(col("_n"), ns), lit(0L)).as("n_grams"))
      .repartition(col("id"))
    val hitAgg = feat
      .join(wb, Seq("bucket"))
      .groupBy(col("id"), col("_lidx"))
      .agg(sum(col("qdw") * col("cnt")).as("hit_sum"), sum(col("cnt")).as("n_hit"),
        first(col("q_prior")).as("q_prior"), first(col("q_floor")).as("q_floor"))
      .join(base, Seq("id"))
      .select(col("id"),
        packed(-(col("q_prior") + col("n_grams") * col("q_floor") + col("hit_sum")),
          col("_lidx"), col("n_hit")).as("_pk"))
      .groupBy(col("id")).agg(min(col("_pk")).as("_hp"))
    // floor-only argmax per doc over the L-element literal array —
    // the lambda touches only the bound struct fields and the staged
    // n_grams attribute (multi-referenced, so it stays a column)
    val langLits = array(langsArr.zipWithIndex.map { case ((_, p, f), i) =>
      struct(lit(p).as("p"), lit(f).as("f"), lit(i).as("i")) }: _*)
    val env = array_min(transform(langLits,
      s => struct((-(s.getField("p") + col("n_grams") * s.getField("f"))).as("_neg"),
        s.getField("i").as("_i"))))
    val langNames = array(langsArr.map(x => lit(x._1)): _*)
    val withBest = base.join(hitAgg, Seq("id"), "left")
      .withColumn("_env", env)
      .withColumn("_ep", packed(col("_env._neg"), col("_env._i"), lit(0L)))
      .withColumn("_bp",
        when(col("_hp").isNull, col("_ep")).otherwise(least(col("_hp"), col("_ep"))))
      .withColumn("_rem", pmod(col("_bp"), B1.cast(d38)))
    withBest.select(col("id"),
      when(col("_hp").isNull, lit("und")).otherwise(element_at(langNames,
        (col("_rem") / B2.cast(DecimalType(11, 0))).cast(IntegerType) + 1)).as("lang"),
      (-((col("_bp") - col("_rem")) / B1.cast(DecimalType(15, 0)))
        .cast(LongType)).as("score_q"),
      col("n_grams"),
      pmod(col("_rem"), B2.cast(d38)).cast(LongType).as("n_hit"))
  }

  /** Persist a quantized model as a parquet artifact (the
    * Unigram/Bpe artifact convention): one `langs` table
    * `(lang, q_prior, q_floor)`, one `weights` table
    * `(lang, bucket, qdw)`, and a `_langid.json` parameter marker
    * (dim, n-gram orders, quantization scale, family version) —
    * probes refuse a missing/mismatched marker rather than serving
    * with wrong hashing geometry, the persisted-index discipline. */
  def save(spark: org.apache.spark.sql.SparkSession, q: Quantized,
      path: String): Unit = {
    import spark.implicits._
    q.langs.toDF("lang", "q_prior", "q_floor")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/langs")
    q.weights.toDF("lang", "bucket", "qdw")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/weights")
    val p = new org.apache.hadoop.fs.Path(path, "_langid.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write((s"""{"family":"langid-nb-${q.family}-v1","dim":${q.dim},""" +
      s""""ns":[${q.ns.mkString(",")}],"scale":${q.scale}}""").getBytes("UTF-8"))
    out.close()
  }

  /** Load a [[save]]d model. Refuses blind loads (no marker), foreign
    * families and a weight `qdw <= 0` loudly. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Quantized = {
    val p = new org.apache.hadoop.fs.Path(path, "_langid.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"no _langid.json marker at $path — refusing to serve with unknown hashing geometry")
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def field(k: String): String =
      // bracket alternative FIRST — the scalar alternative would stop
      // an array value at its first comma
      (s""""$k"\\s*:\\s*(\\[[^\\]]*\\]|"?[^",}\\]]+"?)""").r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse(
          throw new IllegalArgumentException(s"marker at $path lacks '$k'"))
    val fam = field("family").stripPrefix("\"").stripSuffix("\"")
    val hashFamily = fam match {
      case "langid-nb-md5-v1" => "md5"
      case "langid-nb-xxh64-v1" => "xxh64"
      case other => throw new IllegalArgumentException(
        s"model at $path has family '$other', this loader serves " +
          "'langid-nb-{md5,xxh64}-v1'")
    }
    val dim = field("dim").toInt
    val ns = field("ns").stripPrefix("[").stripSuffix("]")
      .split(",").map(_.trim.toInt).toSeq
    val scale = field("scale").toDouble
    val langs = spark.read.parquet(s"$path/langs")
      .select(col("lang"), col("q_prior"), col("q_floor")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    val weights = spark.read.parquet(s"$path/weights")
      .select(col("lang"), col("bucket"), col("qdw")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    require(weights.forall(_._3 > 0), s"model at $path: $NonPositiveQdw")
    Quantized(langs, weights, dim, ns, scale, hashFamily)
  }

  /** [[train]] and [[quantize]] keep only deltas `dw > 0`, and
    * [[classifyQuantized]]'s packed argmax is exact only under that
    * invariant, so a model that breaks it is refused. */
  private val NonPositiveQdw =
    "a weight row has qdw <= 0; classifyQuantized needs every qdw > 0"

  private def langTableOf(spark: org.apache.spark.sql.SparkSession,
      q: Quantized): DataFrame = {
    import spark.implicits._
    q.langs.toDF("lang", "q_prior", "q_floor")
  }

  private def weightsOf(spark: org.apache.spark.sql.SparkSession,
      q: Quantized): DataFrame = {
    import spark.implicits._
    q.weights.toDF("lang", "bucket", "qdw")
  }

  /** One-call serving from a [[Quantized]] model: appends `outCol`
    * (the predicted code, `und` on zero evidence) to `df`. This is
    * what [[Text.withLangId]] delegates to behind its `trained`
    * flag. */
  def withLang(df: DataFrame, textCol: String, q: Quantized,
      outCol: String = "lang_guess", idCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    idCol match {
      case Some(c) =>
        val labels = classifyQuantized(df, c, textCol,
            langTableOf(spark, q), weightsOf(spark, q), q.dim, q.ns, q.family)
          .select(col("id").as(c), col("lang").as(outCol))
        df.join(labels, Seq(c), "left")
      case None =>
        // No caller key: the label is a function of the TEXT alone,
        // so score per DISTINCT text keyed by its md5 fingerprint and
        // join back on that — deterministic under recomputation by
        // construction. A synthesized monotonically_increasing_id
        // here would be referenced from two plan branches (the
        // DocStream.curateNearDup recompute hazard) and pinning it
        // leaks block-manager blocks from a RETURNED lazy frame (the
        // graft.Pins class — nothing downstream can release them).
        // Bonus: duplicate texts are scored once. Null text keys to
        // '' (md5(NULL) is NULL and a null join key would never
        // match); its gram set is empty either way → 'und'.
        val key = coalesce(md5(col(textCol)), lit(""))
        val uniq = df
          .select(key.as("_langid_fp"), col(textCol).as("_langid_t"))
          .distinct()
        val labels = classifyQuantized(uniq, "_langid_fp", "_langid_t",
            langTableOf(spark, q), weightsOf(spark, q), q.dim, q.ns, q.family)
          .select(col("id").as("_langid_fp"), col("lang").as(outCol))
        df.withColumn("_langid_fp", key)
          .join(labels, Seq("_langid_fp"), "left")
          .drop("_langid_fp")
    }
  }
}

package graft

import graft.functions.{Abi, Md5Family, Text}
import graft.operators.{AsOfJoin, Bpe, Corpus, Dedup, EventViews, Links, Multimodal, QualityClassifier, Similarity, Unigram}
import graft.sinks.{TarShards, WarcShards}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract: one named query per implemented operator from
  * SURVEY.md §2, each paired with equivalent DuckDB SQL in
  * [[oracleSql]] (the correctness gate compares both on sf0.01).
  *
  * Query-authoring rules (oracle-parity discipline):
  * - every query is TOTALLY ordered in both engines;
  * - double aggregation goes through decimal casts (exact, order-
  *   independent) — raw doubles appear only as pass-through columns;
  * - every computed column is aliased identically on both sides;
  * - NO decimal/int32/array column reaches a gated output: the
  *   driver's pandas comparator renders Spark-parquet decimals as
  *   Decimal objects but DuckDB decimals as float64 (hash mismatch
  *   even when values are equal), Spark int32 vs DuckDB int64 differ,
  *   and raw arrays crash its sort. So: final-cast every decimal
  *   aggregate to double on BOTH sides (internal math stays
  *   decimal-exact; unscaled values here are < 2^53, so both engines'
  *   correctly-rounded decimal→double casts agree bitwise), ranks and
  *   counts to bigint, arrays to a joined string.
  */
object SparkEntry {

  private val TransferSig =
    "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"

  /** Synthetic Transfer logs derived deterministically from `customer`
    * — lets the DuckDB oracle reproduce the decoded values without any
    * hex machinery (encode(x) then decode == x). */
  private def syntheticTransferLogs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer").select(
      format_string("0x%040x", col("c_nationkey")).as("address"),
      lit(TransferSig).as("topic0"),
      format_string("0x%064x", col("c_custkey")).as("topic1"),
      format_string("0x%064x", col("c_custkey") * 7).as("topic2"),
      lit(null).cast(StringType).as("topic3"),
      format_string("0x%064x", col("c_custkey") * 31).as("data"),
      format_string("0xb%x", col("c_custkey")).as("block_hash"),
      col("c_custkey").as("block_number"),
      format_string("0xt%x", col("c_custkey")).as("transaction_hash"),
      lit(0L).as("transaction_index"),
      lit(0L).as("log_index"),
      lit(false).as("removed"),
      lit(null).cast(TimestampType).as("block_timestamp"))

  /** Shared q137/q138 fixture: one synthetic page per document with
    * the five resolvable href forms (double-quoted rooted,
    * single-quoted `../`, unquoted `./`, absolute with entity +
    * fragment, scheme-relative) plus a `mailto:` and a fragment-only
    * anchor that must be dropped. Twin-replayable arithmetic. */
  private def OutlinkFixture(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast(StringType)
    Tables(spark, dir, "documents").select(
      concat(lit("http://d"), (col("doc_id") % 6).cast(StringType),
        lit(".example/a/b/p"), id, lit(".html")).as("page_url"),
      concat(
        lit("<html><body><a href=\"/r"), id,
        lit("\">one</a>\n<a href='../u"), (col("doc_id") % 9).cast(StringType),
        lit("'>two</a>\n<a href=./s"), (col("doc_id") * 2).cast(StringType),
        lit(">three</a>\n<A HREF=\"http://x"), (col("doc_id") % 4).cast(StringType),
        lit(".example/abs?q="), id,
        lit("&amp;z=1#frag\">four</A>\n<a href=\"//c"), (col("doc_id") % 3).cast(StringType),
        lit(".example/cdn\">five</a>\n<a rel=\"nofollow external\" href=\"/nf"), id,
        lit("\">six</a>\n<a href=\"mailto:a@b.example\">m</a>" +
          "<a href=\"#top\">t</a></body></html>")).as("html"))
  }

  /** Flagship: the decoded-Transfer aggregation pipeline (codec + view
    * generator + topic0 filter + grouped agg) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q12_transfer_view_pipeline")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A2/A3 grouped aggregation with partial-agg split (TPC-H Q1 shape)
    "q01_agg_pricing_summary" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(BigDecimal(1)) - col("l_discount").cast(DecimalType(4, 2)))).cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // P4-P6 filter + projection, pushed to the parquet scan
    "q02_filter_project" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1996-01-01").cast(TimestampType) &&
          col("l_quantity") < 25)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // J2 equi-joins (broadcast dim + shuffle fact) feeding a grouped agg
    "q03_join_agg_revenue" -> { (s, dir) =>
      val c = broadcast(Tables(s, dir, "customer"))
      val o = Tables(s, dir, "orders")
      val l = Tables(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(BigDecimal(1)) - col("l_discount").cast(DecimalType(4, 2)))).cast(DoubleType).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    },

    // O1 top-k: TakeOrderedAndProject, no full sort at scale
    "q04_topk_orders" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // A2 distinct aggregation
    "q05_distinct_parts" -> { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag"))
    },

    // §2.5 window functions: row_number + running sum
    "q06_window_order_seq" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast(LongType).as("rn"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType).as("running_total"))
        .orderBy(col("o_custkey"), col("rn"))
    },

    // §2.7 set operations: intersect / except over key sets
    "q07_set_ops_nations" -> { (s, dir) =>
      val cn = Tables(s, dir, "customer").select(col("c_nationkey").as("key")).distinct()
      val sn = Tables(s, dir, "supplier").select(col("s_nationkey").as("key")).distinct()
      cn.intersect(sn).withColumn("tag", lit("both"))
        .unionByName(cn.except(sn).withColumn("tag", lit("cust_only")))
        .select(col("tag"), col("key"))
        .orderBy(col("tag"), col("key"))
    },

    // J2 semi/anti joins (EXISTS / NOT EXISTS)
    "q08_semi_anti" -> { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val l = Tables(s, dir, "lineitem")
      val semi = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n_with_items"))
      val anti = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_without_items"))
      semi.crossJoin(anti)
    },

    // A2 hierarchical rollup over the region/nation dimension
    "q09_rollup_geo" -> { (s, dir) =>
      val r = Tables(s, dir, "region")
      val n = Tables(s, dir, "nation")
      val c = Tables(s, dir, "customer")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast(DoubleType).as("acctbal_sum"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    },

    // J1 as-of join: latest click at-or-before each purchase, per user
    "q10_asof_join" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_event_id"), col("ts").as("click_ts"))
      AsOfJoin.asOf(purchases, clicks, Seq("user_id"), "ts", "ts",
          valueCols = Seq("click_event_id", "click_ts"))
        // timestamp_ntz: parquet TIMESTAMP(adjusted=false) — naive like
        // DuckDB's TIMESTAMP, so the driver sees datetime64[us] on both
        // sides (an instant-typed column writes adjusted=true → pandas
        // reads tz-aware → dtype mismatch vs the naive oracle)
        .select(col("event_id"), col("user_id"), col("click_event_id"),
          col("click_ts").cast("timestamp_ntz").as("click_ts"))
        .orderBy(col("event_id"))
    },

    // F1-F22 codec round-trip: encode keys as ABI words in Spark,
    // decode with the library; oracle passes the keys through.
    "q11_abi_roundtrip" -> { (s, dir) =>
      val word = (c: Column) => concat(lit("0x"), lpad(lower(hex(c)), 64, "0"))
      // sign-extended int64 word: top 48 hex chars follow the sign
      val signedWord = (c: Column) => concat(
        lit("0x"),
        when(c < 0, lit("f" * 48)).otherwise(lit("0" * 48)),
        format_string("%016x", c))
      Tables(s, dir, "orders")
        .select(
          col("o_orderkey"),
          Abi.toUint64(2, word(col("o_orderkey"))).cast(LongType).as("decoded_key"),
          Abi.toUint32(2, word(col("o_custkey"))).as("decoded_cust"),
          Abi.toInt64(2, signedWord(col("o_custkey") - 700)).as("decoded_signed"),
          Abi.toAddress(2, word(col("o_custkey"))).as("cust_addr"),
          Abi.toBool(2, word(col("o_custkey") % 2)).as("odd_cust"))
        .orderBy(col("o_orderkey"))
    },

    // P7/§2.9 the generated-view pipeline end-to-end over synthetic logs
    "q12_transfer_view_pipeline" -> { (s, dir) =>
      val transferDef = EventViews.referenceViews
        .find(_.viewName.startsWith("Transfer")).get
      EventViews.project(syntheticTransferLogs(s, dir), transferDef)
        .groupBy(col("contract_address"))
        .agg(count(lit(1)).as("n_transfers"),
          sum(col("amount")).cast(DoubleType).as("total_amount"),
          max(col("to")).as("max_to_addr"))
        .orderBy(col("contract_address"))
    },

    // T1 tumbling block/time windows (batch rendering of the stream)
    "q13_tumbling_windows" -> { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("total_value"))
        // timestamp_ntz for the same naive-vs-instant reason as q10
        .select(col("window.start").cast("timestamp_ntz").as("win_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("win_start"), col("event_type"))
    },

    // §2.7 multi-chain unionByName pattern (db-create.sql:1-10 deploys)
    "q14_multichain_union" -> { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val a = ev.filter(col("event_id") % 2 === 0).withColumn("chain", lit("chain_a"))
      val b = ev.filter(col("event_id") % 2 === 1).withColumn("chain", lit("chain_b"))
      a.unionByName(b)
        .groupBy(col("chain"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("chain"), col("event_type"))
    },

    // exact dedup via content hashing (hash-groupBy)
    "q15_dedup_exact_stats" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique_texts"),
          countDistinct(Text.fingerprint(col("text"))).as("n_unique_normalized"))
        .orderBy(col("source"))
    },

    // token counting + punctuation/digit profile
    "q16_text_stats" -> { (s, dir) =>
      // counts cast to long: Spark size() is int32, DuckDB len() is
      // int64 — align dtypes, not just values
      Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          Text.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          Text.bpeishTokenCount(col("text")).cast(LongType).as("n_bpeish"),
          Text.punctCount(col("text")).cast(LongType).as("n_punct"),
          Text.markerCount(col("text"), Text.EnglishStopwords).cast(LongType).as("n_stopwords"),
          Text.punctRatio(col("text")).as("punct_ratio"),
          Text.avgTokenLen(col("text")).as("avg_token_len"))
        .orderBy(col("doc_id"))
    },

    // language-ID heuristic vs the labeled lang column (staged form:
    // tokens + marker counts materialize once per row; the one-shot
    // Column tree re-ran the token split ~20× across argmax branches)
    "q17_langid" -> { (s, dir) =>
      Text.withLangId(
          Tables(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
          "text")
        .select(col("doc_id"), col("lang"), col("lang_guess"))
        .withColumn("agree", (col("lang") === col("lang_guess")).cast(IntegerType))
        .orderBy(col("doc_id"))
    },

    // document fingerprinting (whole-doc + rolling-hash winnow band)
    "q18_fingerprints" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), Text.normalized(col("text")).as("_n"))
        .select(col("doc_id"),
          md5(col("_n")).as("fp"),
          Text.rollingFingerprintFromNormalized(col("_n"), 16).as("rolling_fp"))
        .orderBy(col("doc_id"))
    },

    // composite quality score
    "q19_quality_score" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },

    // exact n-gram Jaccard similarity over a bounded pair set
    "q20_ngram_jaccard" -> { (s, dir) =>
      Dedup.jaccardPairs(
          Tables(s, dir, "documents").filter(col("doc_id") < 40),
          "doc_id", "text", k = 2)
        .filter(col("jaccard") > 0.02)
        .orderBy(col("id_a"), col("id_b"))
    },

    // brute-force exact top-k by dot product against a stored query vec
    "q21_embedding_dot_topk" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          Similarity.dot(col("embedding"), col("qvec")).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(20)
    },

    // cosine threshold set (exact, deterministic double pipeline)
    "q22_embedding_cosine" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("qvec")).as("score"))
        .filter(col("score") >= 0.15)
        .orderBy(col("vec_id"))
    },

    // MinHash+LSH near-dup candidates — HASH-GATED since r11 via the
    // md5 signature family (Md5Family: slot i = min (a_i·x + b_i) mod
    // P over x = md5_60(shingle) mod P; the DuckDB twin re-derives
    // every slot, band bucket and estimate from md5 alone). The
    // xxh64 production family stays the operator default; this gate
    // drives the identical banding/pairing/estimate machinery.
    // bands of 4 rows: band-collision probability ≈ jaccard^4, so the
    // shared-vocabulary corpus doesn't flood the pair join (2-row bands
    // at est≥0.05 generated ~10^6 candidate pairs at sf0.1)
    "q23_minhash_near_dup" -> { (s, dir) =>
      Dedup.minhashCandidates(
          Tables(s, dir, "documents"), "doc_id", "text",
          numHashes = 32, bands = 8, shingleK = 2, minEstimate = 0.15,
          maxBucket = 500, family = "md5")
        .orderBy(col("id_a"), col("id_b"))
    },

    // SimHash near-dup pairs — HASH-GATED since r11 via the 60-bit
    // md5 family (token hash = md5_60, ±1 votes are order-independent
    // integer sums, so the DuckDB twin rebuilds every signature).
    // bands=10 → 6-bit chunks → full recall for distance ≤ 9, so the
    // distance-≤-7 contract is preserved at the portable width.
    "q24_simhash_pairs" -> { (s, dir) =>
      Dedup.simhashCandidates(
          Tables(s, dir, "documents"), "doc_id", "text",
          maxDistance = 7, bands = 10, family = "md5")
        .orderBy(col("id_a"), col("id_b"))
    },

    // LSH-bucketed approximate top-k — HASH-GATED since r11 via the
    // md5 hyperplane family (components exact in float32 AND float64,
    // so both engines compute identical dot signs; the DuckDB twin
    // re-derives all 24×11 planes, both signatures, the ≤2-bit
    // multi-probe predicate and the exact-cosine ranking from md5).
    // Same fused LshProbe kernel and knobs as the prng production
    // family; md5-family recall at these knobs is spec-asserted.
    "q25_lsh_topk" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val query = e.filter(col("vec_id") === 1).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      // knobs = the recall-spec'd setting: 24 small tables hold mean
      // recall ≥0.9 (measured 0.95) at 0.56 scan fraction, vs 0.4–0.7
      // for one big table (DedupSimilaritySpec's sweep table)
      Similarity.lshTopK(e, "vec_id", "embedding", query, k = 10,
        bits = 11, probeRadius = 2, numTables = 24, family = "md5")
    },

    // multimodal binary columns: synthesize → partition-wise decode →
    // typed metadata (codec stubbed, plumbing real; Multimodal.scala)
    "q26_multimodal_meta" -> { (s, dir) =>
      Multimodal.decodeMeta(Multimodal.syntheticMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // J1 proper: decoded Transfer events valued by the latest token
    // price at-or-before the event's block (logs × price, the
    // reference's implied schema.sql:68-81 contract)
    "q27_price_asof_valuation" -> { (s, dir) =>
      val transferDef = EventViews.referenceViews
        .find(_.viewName.startsWith("Transfer")).get
      val transfers = EventViews.project(syntheticTransferLogs(s, dir), transferDef)
      // synthetic price series: every token gets a price point each
      // 100 blocks: (address, block_number, price)
      val price = Tables(s, dir, "nation").select(
        format_string("0x%040x", col("n_nationkey")).as("address"),
        explode(sequence(lit(0L), lit(1400L), lit(100L))).as("block_number"))
        .withColumn("price", (col("block_number") * 3 + length(col("address"))).cast(DecimalType(38, 0)))
      AsOfJoin.asOf(
          transfers.withColumnRenamed("contract_address", "address"),
          price, Seq("address"), "evt_block_number", "block_number",
          valueCols = Seq("price"))
        .select(col("address"), col("evt_block_number"),
          col("amount").cast(DoubleType).as("amount"),
          col("price").cast(DoubleType).as("price"),
          (col("amount") * col("price")).cast(DoubleType).as("value_usd"))
        .orderBy(col("address"), col("evt_block_number"))
    },

    // F10-F15 dynamic ABI decode round-trip over MULTI-WORD payloads:
    // ABI-encode each document text (offset word | length word |
    // padded payload, up to ~18 words — all-ASCII corpus, so char
    // length == byte length) in Spark expressions, decode with the
    // library; oracle passes the text through untouched
    "q28_abi_dynamic_roundtrip" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          lower(hex(col("text"))).as("_h"))
        .select(col("doc_id"), col("text"),
          concat(
            lit("0x"),
            lit("0" * 62 + "20"),
            format_string("%064x", length(col("text"))),
            expr("rpad(_h, ((length(_h) + 63) div 64) * 64, '0')")).as("_data"))
        .select(col("doc_id"),
          Abi.toString(2, col("_data")).as("decoded_text"),
          Abi.toSize(2, col("_data")).as("decoded_len"),
          (Abi.toBytes(2, col("_data")) === concat(lit("0x"), lower(hex(col("text"))))).as("bytes_ok"))
        .orderBy(col("doc_id"))
    },

    // A2 cube: all grouping-set combinations over two dimensions
    "q29_cube_status_priority" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    },

    // F14/F19 oracle: fixed-bytes slice (with the reference's
    // rtrim-'0' quirk) and a dynamic-array decode. The array head
    // (location/size words) is STAGED as named columns so the
    // transform lambda only references attributes (HOF staging rule);
    // the output is the comma-joined string form — the driver's
    // pandas comparator can't sort raw arrays (native ArrayType is
    // exercised in AbiSpec).
    "q31_abi_fixed_and_array" -> { (s, dir) =>
      val w = (c: Column) => format_string("%064x", c)
      val (base, n) = Abi.arrayHead(lit(2), col("_arr"))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          // bytes8 value left-aligned in the word
          concat(lit("0x"), rpad(lower(hex(col("o_custkey"))), 64, "0")).as("_fb"),
          // dynamic uint array [k, 2k, 3k]: offset | len | elements
          concat(lit("0x"), lit("0" * 62 + "20"), lit("0" * 63 + "3"),
            w(col("o_custkey")), w(col("o_custkey") * 2), w(col("o_custkey") * 3)).as("_arr"))
        .select(col("o_orderkey"), col("_fb"), col("_arr"),
          base.as("_base"), n.as("_n"))
        .select(col("o_orderkey"),
          Abi.toFixedBytes(2, col("_fb"), 8).as("fixed_bytes"),
          array_join(
            Abi.toArrayFrom(col("_base"), col("_n"), col("_arr"), "uint64")
              .cast(ArrayType(StringType)), ",")
            .as("decoded_array"))
        .orderBy(col("o_orderkey"))
    },

    // Corpus-scale near-dup path under the gate: LSH candidates →
    // exact jaccard on candidates only (no all-pairs join in the
    // plan). The DuckDB twin IS all-pairs — tractable at oracle scale
    // — so the gate also proves the banding (32 hashes × 16 bands)
    // loses no pair at jaccard ≥ 0.6 on this corpus: 1−(1−j²)^16
    // ≈ 0.9999 per pair, and xxhash64 is deterministic, so the
    // comparison is stable, not probabilistic.
    "q33_near_dup_bucketed" -> { (s, dir) =>
      Dedup.nearDuplicates(Tables(s, dir, "documents"), "doc_id", "text",
          minJaccard = 0.6, numHashes = 32, bands = 16, shingleK = 2,
          minEstimate = 0.1, maxBucket = 1000)
        .orderBy(col("id_a"), col("id_b"))
    },

    // S1/S5/P1-P3/T3 end-to-end under the gate: synthesize a wire
    // NDJSON capture (fixture format per curl-get-logs-moonbeam-loop
    // .sh) deterministically from `orders`, replay it through
    // readNdjson → fromWire → appendIdempotent TWICE (the second
    // append must be a PK DO-NOTHING no-op or row counts diverge from
    // the oracle), read the stored table back. The DuckDB twin derives
    // the same analytic rows from `orders` in pure SQL.
    "q32_ingest_roundtrip" -> { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q32").toString
      Tables(s, dir, "orders").select(
        to_json(struct(
          format_string("0x%040x", col("o_custkey")).as("address"),
          array(lit(TransferSig), format_string("0x%064x", col("o_custkey"))).as("topics"),
          // every 10th record carries the empty "0x" payload → must
          // land as NULL (get_logs.go:44-46)
          when(col("o_orderkey") % 10 === 0, lit("0x"))
            .otherwise(format_string("0x%064x", col("o_orderkey") * 3)).as("data"),
          format_string("0xb%x", col("o_orderkey")).as("blockHash"),
          format_string("0x%x", col("o_orderkey")).as("blockNumber"),
          format_string("0xt%x", col("o_orderkey")).as("transactionHash"),
          lit("0x0").as("transactionIndex"),
          format_string("0x%x", col("o_orderkey") % 7).as("logIndex"),
          lit(false).as("removed"))).as("j"))
        .write.mode("overwrite").text(s"$work/wire")
      val batch = graft.sources.Logs.readNdjson(s, s"$work/wire")
      graft.sources.Logs.appendIdempotent(s, batch, s"$work/logs")
      graft.sources.Logs.appendIdempotent(s, batch, s"$work/logs")
      graft.sources.Logs.read(s, s"$work/logs")
        .select(col("address"), col("topic0"), col("topic1"), col("data"),
          col("block_number"), col("transaction_hash"),
          col("transaction_index"), col("log_index"), col("removed"))
        .orderBy(col("block_number"))
    },

    // Training-sequence prep under the gate: token-window chunking
    // with overlap (64-token chunks every 48 — trailing chunk short,
    // empty docs vanish) against a DuckDB list-slice twin
    "q39_doc_chunking" -> { (s, dir) =>
      operators.Chunking.chunkDocuments(Tables(s, dir, "documents"),
          "doc_id", "text", chunkSize = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_index"))
    },

    // Offset packing: docs assigned to fixed-token training sequences
    // by cumulative-offset bin — window cumsum both engines can
    // express exactly. Packed PER SHARD (source): the window
    // partitions on it, so no single task ever sorts the corpus (the
    // r2 global-window scale hazard; the unsharded form survives in
    // ChunkingSpec for small inputs).
    "q40_sequence_packing" -> { (s, dir) =>
      operators.Chunking.packSummary(Tables(s, dir, "documents"),
        "doc_id", "text", seqTokens = 2048L, shardCol = Some("source"))
    },

    // The doc-level packing output (per-doc seq assignment) under the
    // same per-shard window — gates packOffsets itself, not just the
    // summary rollup
    "q42_packing_offsets" -> { (s, dir) =>
      operators.Chunking.packOffsets(Tables(s, dir, "documents"),
          "doc_id", "text", seqTokens = 2048L, shardCol = Some("source"))
        .orderBy(col("source"), col("doc_id"))
    },

    // S4/A1 under the gate: ingest an orders-derived batch, then BOTH
    // resume probes — highWaterMark (pruned to the max block_range
    // directory, main.go:169 semantics) and the full-table
    // agg(max(block_number)) — must equal the oracle's max
    "q43_hwm_resume" -> { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q43").toString
      val batch = Tables(s, dir, "orders").filter(col("o_orderkey") % 3 === 1).select(
        format_string("0x%040x", col("o_custkey")).as("address"),
        lit(TransferSig).as("topic0"),
        format_string("0x%064x", col("o_custkey")).as("topic1"),
        lit(null).cast(StringType).as("topic2"),
        lit(null).cast(StringType).as("topic3"),
        format_string("0x%064x", col("o_orderkey") * 3).as("data"),
        format_string("0xb%x", col("o_orderkey")).as("block_hash"),
        col("o_orderkey").as("block_number"),
        format_string("0xt%x", col("o_orderkey")).as("transaction_hash"),
        lit(0L).as("transaction_index"),
        (col("o_orderkey") % 7).as("log_index"),
        lit(false).as("removed"),
        lit(null).cast(TimestampType).as("block_timestamp"))
      graft.sources.Logs.appendIdempotent(s, batch, s"$work/logs")
      val hwm = graft.sources.Logs.highWaterMark(s, s"$work/logs")
      graft.sources.Logs.read(s, s"$work/logs")
        .agg(max(col("block_number")).as("max_block"))
        .select(lit(hwm).as("hwm"), col("max_block"))
    },

    // S6 under the gate: price-probe wire capture → fromWire →
    // idempotent append TWICE (the second must DO-NOTHING) → read
    // back; the oracle derives the same rows from orders in SQL
    "q44_price_roundtrip" -> { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q44").toString
      val wire = Tables(s, dir, "orders").select(
        format_string("0x%040x", col("o_custkey")).as("token"),
        format_string("0x%x", col("o_orderkey")).as("blockNumber"),
        format_string("0x%064x", col("o_orderkey") * 5).as("result"))
      val batch = graft.sources.Price.fromWire(wire)
      graft.sources.Price.appendIdempotent(s, batch, s"$work/price")
      graft.sources.Price.appendIdempotent(s, batch, s"$work/price")
      graft.sources.Price.read(s, s"$work/price")
        .select(col("address"), col("block_number"),
          col("price").cast(DoubleType).as("price"))
        .orderBy(col("block_number"))
    },

    // The block_timestamp backfill extension under the gate: header
    // timestamps (12 s/block from a fixed genesis — what the mock
    // node serves and the oracle derives) joined onto Transfer logs
    // via withBlockTimestamps, then THE analyst query the reference
    // can't answer (its loader never fills the column,
    // get_logs.go:118-119): transfers grouped by block-hour
    "q45_block_time_rollup" -> { (s, dir) =>
      val blocks = Tables(s, dir, "customer").select(
        col("c_custkey").as("block_number"),
        timestamp_seconds(lit(1600000000L) + col("c_custkey") * 12).as("block_timestamp"))
      val enriched = graft.sources.Logs.withBlockTimestamps(
        syntheticTransferLogs(s, dir), blocks)
      val transferDef = EventViews.referenceViews
        .find(_.viewName.startsWith("Transfer")).get
      EventViews.project(enriched, transferDef)
        .groupBy(date_trunc("hour", col("evt_block_time"))
          .cast("timestamp_ntz").as("block_hour"))
        .agg(count(lit(1)).as("n_transfers"),
          sum(col("amount")).cast(DoubleType).as("total_amount"))
        .orderBy(col("block_hour"))
    },

    // REAL pixel decode under the gate: gradient rasters written as
    // actual PNG (all five scanline filters in rotation, zlib
    // inflate) and 24bpp BMP (bottom-up, stride-padded), decoded back
    // to pixels per partition; the oracle recomputes the per-image
    // pixel statistics from the generating formula v=(x+y+id)%256.
    // A wrong filter reversal, inflate bug or stride error shifts
    // sum/min/max and breaks the hash.
    "q46_pixel_decode" -> { (s, dir) =>
      Multimodal.decodePixels(
          Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // REAL resize under the gate: decode the actual PNG/BMP rasters,
    // nearest-neighbor to 8×8 (source pixel (x·w/8, y·h/8), integer
    // floor), pixel statistics of the thumbnail. The twin recomputes
    // them from the generating formula with the same floor sampling —
    // a wrong sample coordinate or stride shifts the stats.
    "q48_pixel_resize" -> { (s, dir) =>
      Multimodal.resizePixels(
          Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")), 8, 8)
        .toDF()
        .orderBy(col("doc_id"))
    },

    // REAL feature extraction under the gate: grayscale histograms of
    // the actually-decoded rasters (8 bins over 0..255), long format —
    // the oracle recomputes per-bin counts from the generating
    // formula; a decode or binning bug shifts counts between bins
    "q50_pixel_histogram" -> { (s, dir) =>
      Multimodal.pixelHistogram(
          Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")), bins = 8)
        .toDF()
        .orderBy(col("doc_id"), col("bin"))
    },

    // REAL GIF LZW decode under the gate: the same gradient rasters
    // written as genuinely LZW-compressed GIF89a (variable-width
    // codes, clear-code resets, grayscale palette) and decoded back —
    // the twin recomputes the statistics from the generating formula.
    // A wrong code-width transition, mis-rebuilt table entry or
    // palette mapping shifts sum/min/max and breaks the hash.
    "q51_gif_pixel_decode" -> { (s, dir) =>
      Multimodal.decodePixels(
          Multimodal.syntheticGifMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // S2 head probe + E1 catch-up planner under the gate: the head
    // round-trips through the wire shape ("0x%x" → strip prefix →
    // base-16 parse, exactly the eth_blockNumber result handling) and
    // the planner emits the [hwm+1, head] blockStep windows the ingest
    // loop walks (Rpc.ingestLoop). A parse bug shifts head and every
    // window bound; the twin computes head directly from the fixture.
    "q52_head_window_plan" -> { (s, dir) =>
      Tables(s, dir, "orders")
        .agg(max(col("o_orderkey")).as("_h"))
        .select(conv(Abi.stripHexPrefix(format_string("0x%x", col("_h"))), 16, 10)
          .cast(LongType).as("head"))
        .select(col("head"), greatest(col("head") - 5000L, lit(0L)).as("hwm"))
        .select(col("head"),
          explode(sequence(col("hwm") + 1, col("head"), lit(1000L))).as("window_from"))
        .select(col("window_from"),
          least(col("window_from") + 999L, col("head")).as("window_to"),
          col("head"))
        .orderBy(col("window_from"))
    },

    // The multimodal→similarity pipeline under one gate: decode real
    // rasters → normalized-histogram feature vectors → cosine top-k
    // against doc 7's vector (Similarity.bruteForceTopK over REAL
    // image features, not synthetic embeddings). The twin recomputes
    // histograms from the pixel formula, normalizes through the same
    // float cast, and ranks with the same double math.
    "q56_pixel_feature_topk" -> { (s, dir) =>
      val feats = Multimodal.pixelFeatureVectors(
        Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")), bins = 16)
      val query = feats.filter(col("doc_id") === 7)
        .select("feature").collect()(0).getSeq[Float](0).toArray
      Similarity.bruteForceTopK(feats, "doc_id", "feature", query, k = 15)
    },

    // REAL JPEG decode under the gate, despite JPEG being lossy: the
    // synthetic tiles are per-8×8-block EVEN constants, which survive
    // the DC-only encode bit-exactly (quant step 16 ⇒ DC=(c−128)/2 is
    // integral; the IDCT of a DC-only block is an exact constant), so
    // the DuckDB twin recomputes the statistics from the tile formula.
    // The decoder is a full baseline decoder (huffman, dequant, IDCT);
    // its AC path is ImageIO-cross-checked in the spec.
    "q55_jpeg_pixel_decode" -> { (s, dir) =>
      Multimodal.decodePixels(
          Multimodal.syntheticJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // COLOR JPEG decode under the gate: the DC-lattice contract
    // extended per channel — exact even Y/Cb/Cr tile constants (4:4:4
    // on even ids, 4:2:0 on odd; replication upsampling reconstructs
    // per-MCU chroma exactly) through the full interleaved-MCU decode
    // and the JFIF YCbCr→RGB formula, per-channel stats vs the DuckDB
    // twin computing the same floor(x+0.5)-rounded double arithmetic.
    "q61_jpeg_color_decode" -> { (s, dir) =>
      Multimodal.decodeColorPixels(
          Multimodal.syntheticJpegColorMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // Audio features under the gate: RMS energy (exact-integer
    // sum-of-squares → deterministic double), per-channel
    // zero-crossing counts, peak amplitude — over the same 16-bit PCM
    // corpus q53 gates, so the formula twin reuses its generator.
    "q65_audio_features" -> { (s, dir) =>
      Multimodal.audioFeatures(
          Multimodal.syntheticWavMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // PROGRESSIVE JPEG under the gate: the DC-lattice invariant
    // through SOF2 multi-scan decoding (cross-scan coefficient
    // accumulation, DC successive approximation on even ids, per-band
    // AC EOB runs), reconstructed at EOI — same stats shape as q55,
    // different lattice formula and scan structure.
    "q64_progressive_jpeg_decode" -> { (s, dir) =>
      Multimodal.decodePixels(
          Multimodal.syntheticProgressiveJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // The LOSSLESS color tier under one gate: truecolor PNG (bpp-aware
    // filter reversal), 24bpp BMP (BGR flip), palette GIF (palette
    // kept as RGB) — bit-exact containers, so the twin recomputes the
    // per-channel statistics straight from the pixel formulas.
    "q63_color_raster_decode" -> { (s, dir) =>
      Multimodal.decodeColorPixels(
          Multimodal.syntheticColorRasterMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // SUB-BYTE PNG decode under the gate (r8 — the last PNG depth
    // row): 1/2/4-bit gray (bit-replication scaling) and palette
    // (raw-index PLTE expansion), Adam7 every 5th id, packed-row
    // filter reversal at the 1-byte step. Bit-exact containers, so
    // the twin recomputes per-channel statistics from the sample and
    // palette formulas. A packing, scaling or per-pass-unpack bug
    // shifts sums and breaks the hash.
    "q87_subbyte_png_decode" -> { (s, dir) =>
      Multimodal.decodeColorPixels(
          Multimodal.syntheticSubBytePngMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // ARITHMETIC-coded JPEG decode under the gate (r8 — the last
    // JPEG entropy-coding refusal closed): q55's DC-lattice contract
    // through the T.81 QM coder — adaptive state machine, conditional
    // exchange, FF00 stuffing, Annex D termination — instead of
    // Huffman. Validated byte-exactly against libjpeg in the spec;
    // here the twin recomputes the tile formula. A state-machine,
    // context-index or renormalization bug corrupts every value
    // after the first mis-decoded decision and breaks the hash.
    "q90_arith_jpeg_decode" -> { (s, dir) =>
      Multimodal.decodePixels(
          Multimodal.syntheticArithJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // CMYK/YCCK JPEG decode under the gate (r8 — the 4-component
    // refusal closed): Adobe APP14 transform 0 (stored inverted CMYK)
    // on even ids, 2 (YCCK) on odd, per-tile even constants exact
    // through the DC-only encode; RGB = the documented conversion
    // (YCbCr→R'G'B' for YCCK, then channel·K/255 over the stored
    // Adobe-inverted values). The twin recomputes per-channel stats
    // from those formulas; a transform-dispatch or inversion bug
    // shifts sums and breaks the hash.
    "q88_cmyk_jpeg_decode" -> { (s, dir) =>
      Multimodal.decodeColorPixels(
          Multimodal.syntheticCmykJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // HIGH-SAMPLING-FACTOR JPEG decode under the gate (r9 — the
    // factor-3/4 refusal closed): Y sampling 4×1 / 3×1 / 1×4 by id
    // mod 3, per-MCU even chroma constants exact under sample
    // replication — the q61 contract at the full T.81 sampling range.
    // An interleave-order, MCU-geometry or upsample-indexing bug
    // shifts channel sums and breaks the hash.
    "q91_sampled_jpeg_decode" -> { (s, dir) =>
      Multimodal.decodeColorPixels(
          Multimodal.syntheticSampledJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // LOSSLESS (SOF3) JPEG decode under the gate (r9 — the lossless
    // refusal closed): predictive Huffman coding with predictor
    // cycling 1–7, precision 8/12/16 and restart intervals, ARBITRARY
    // per-pixel values (lossless needs no even-constant device) — the
    // twin recomputes the pixel formula directly. A predictor,
    // category, mod-2^16 or restart bug corrupts every sample after
    // the first wrong difference and breaks the hash.
    "q92_lossless_jpeg_decode" -> { (s, dir) =>
      Multimodal.decodeLosslessStats(
          Multimodal.syntheticLosslessJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // 12-BIT JPEG decode under the gate (r9 — the precision refusal
    // closed): SOF1/12 with q55's DC-lattice contract at the 0–4094
    // range (level shift 2048, DC = (c−2048)/2 integral for even
    // tiles). A level-shift, clamp-range or category-width bug shifts
    // sample sums and breaks the hash.
    "q93_12bit_jpeg_decode" -> { (s, dir) =>
      Multimodal.decode12Stats(
          Multimodal.syntheticJpeg12Media(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // 12-BIT PROGRESSIVE + ARITHMETIC JPEG decode under the gate
    // (r10 — the last non-hierarchical refusals closed): the q93
    // lattice re-encoded as SOF2 (split + single-step), SOF9 and
    // SOF10 frames by id mod 4, all through the shared
    // ProgHuff/ArithScan machinery at DC cap 15. A successive-
    // approximation, QM-conditioning or per-scan-reset bug shifts
    // sample sums and breaks the hash (twin = q93's formula, since
    // the DC-only exactness contract is frame-type-invariant).
    "q96_12bit_progarith_jpeg_decode" -> { (s, dir) =>
      Multimodal.decode12Stats(
          Multimodal.syntheticJpeg12ProgArithMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // Per-chain catalog namespaces under the gate (r10 — the
    // db-create.sql:1-10 database-per-chain deploy as REAL Spark
    // catalog databases): synthetic transfer logs split even/odd
    // into two parquet "chains", each registered via
    // registerChainNamespace (external `<chain>.logs` table +
    // PERMANENT decode views through the builtin-registered function
    // surface), then one multi-chain aggregation over the QUALIFIED
    // view names — q14's union re-expressed the way the reference
    // deploys it.
    "q94_chain_namespaces" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q94").getAbsolutePath
      val logs = syntheticTransferLogs(s, dir)
      logs.filter(col("block_number") % 2 === 0)
        .write.mode("overwrite").parquet(s"$base/chain_a_logs")
      logs.filter(col("block_number") % 2 === 1)
        .write.mode("overwrite").parquet(s"$base/chain_b_logs")
      // overwrite of a path this session may have read before —
      // FileStatusCache staleness contract
      s.catalog.refreshByPath(s"$base/chain_a_logs")
      s.catalog.refreshByPath(s"$base/chain_b_logs")
      EventViews.registerChainNamespace(s, "graft_chain_a", s"$base/chain_a_logs",
        dbLocation = Some(s"$base/db_a"))
      EventViews.registerChainNamespace(s, "graft_chain_b", s"$base/chain_b_logs",
        dbLocation = Some(s"$base/db_b"))
      val t = "Transfer_address_from_address_to_uint256_amount_d"
      s.sql(
        s"""select chain, count(*) as n_transfers,
           |  cast(sum(amount) as double) as total_amount,
           |  max(`to`) as to_max
           |from (
           |  select 'chain_a' as chain, amount, `to` from graft_chain_a.`$t`
           |  union all
           |  select 'chain_b' as chain, amount, `to` from graft_chain_b.`$t`
           |)
           |group by chain
           |order by chain""".stripMargin)
    },

    // Domain-level curation under the gate (r10, FineWeb shape;
    // r16: domains are eTLD+1 under the vendored PSL): synthetic
    // URLs fan documents over 7 registered domains (siteN.example —
    // .example is unlisted, so the implicit "*" rule applies) through
    // three authority spellings (www+port / userinfo@deep-subdomain /
    // uppercase — all must collapse to ONE registered domain or the
    // per-domain counts fragment and the hash breaks; the cdn.m.
    // deep-subdomain arm is exactly what the pre-r16 full-host key
    // got wrong); two domains are flooded with an identical
    // boilerplate body (corpus-wide md5 dup mark), one 3-doc domain
    // is pure boilerplate but sits under minDocs (the small-domain
    // guard), every 11th URL is unparseable (null domain → keep).
    // mean-quality threshold is disabled here (the quality formula
    // is q19's gate); dup_frac carries the decision.
    "q97_domain_curation" -> { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val site = concat(lit("site"), (col("doc_id") % 7).cast(StringType),
        lit(".example"))
      val url = when(col("doc_id") < 3,
          concat(lit("https://www.tiny.example/p/"), id))
        .when(col("doc_id") % 11 === 0, lit("not a url"))
        .when(col("doc_id") % 3 === 0,
          concat(lit("https://www."), site, lit(":443/p/"), id))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://crawler@cdn.m."), site, lit("/p/"), id))
        .otherwise(concat(lit("HTTPS://"), upper(site), lit("/p/"), id))
      val body = when(col("doc_id") < 3 ||
          ((col("doc_id") % 7 === 0 || col("doc_id") % 7 === 1) &&
            col("doc_id") % 3 =!= 0),
          lit("identical boilerplate body"))
        .otherwise(col("text"))
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), url.as("url"), body.as("body"))
      Corpus.curateByDomain(docs, "url", "body",
          minDocs = 5, maxDupFrac = 0.4, minMeanQuality = -1.0)
        .select(col("doc_id"), col("domain"), col("n_docs"),
          col("dup_frac"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // Derived event signatures under the gate (r10): keccak-256 of
    // each reference view's canonical Solidity signature recomputed
    // by the native [[graft.functions.Keccak256]] expression and
    // compared to the registry constant the reference hard-codes
    // (init.sql:213-222) — the topic0s become DERIVED facts. The
    // twin hard-codes the same public constants, so a permutation,
    // padding or lane-order bug in the sponge breaks the hash.
    "q95_event_signatures" -> { (s, dir) =>
      import s.implicits._
      EventViews.referenceViews
        .map(e => (EventViews.canonicalSignature(e), e.sigHash))
        .toDF("signature", "registry_topic0")
        .select(
          col("signature"),
          graft.functions.Keccak.eventTopic(col("signature")).as("topic0"),
          (graft.functions.Keccak.eventTopic(col("signature")) === col("registry_topic0"))
            .as("matches_registry"),
          graft.functions.Keccak.selector(col("signature")).as("selector"))
        .orderBy(col("signature"))
    },

    // REAL WAV sample decode under the gate: 16-bit PCM data written
    // by the mini encoder (RIFF chunk walk, interleaved int16), sample
    // statistics vs the formula twin — a chunk-walk, endianness or
    // sign bug shifts sum/min/max and breaks the hash.
    "q53_wav_sample_decode" -> { (s, dir) =>
      Multimodal.decodeSamples(
          Multimodal.syntheticWavMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // REAL video-frame sampling under the gate: animated-GIF frames
    // (each a full LZW-compressed raster) decoded and sampled at
    // stride 2, per-frame pixel statistics vs the formula twin — the
    // frame fan-out with real payloads instead of the FakeCodec stub.
    "q54_video_frame_stats" -> { (s, dir) =>
      Multimodal.frameStats(
          Multimodal.syntheticVideoMedia(Tables(s, dir, "documents")), stride = 2)
        .toDF()
        .orderBy(col("doc_id"), col("frame_index"))
    },

    // COMPOSITED animation under the gate: partial-update rects at
    // real offsets through the GIF89a canvas model (GCE parse, rect
    // placement, disposal), every emitted frame the full composited
    // screen. The twin evaluates the closed form of "latest update
    // covering quadrant q at frame f" — see syntheticCompositeGifMedia.
    "q62_gif_composite_frames" -> { (s, dir) =>
      Multimodal.frameStats(
          Multimodal.syntheticCompositeGifMedia(Tables(s, dir, "documents")), stride = 1)
        .toDF()
        .orderBy(col("doc_id"), col("frame_index"))
    },

    // Duplicate CLUSTERS under the gate: q33's near-dup pairs →
    // connected components (min-label propagation + pointer jumping),
    // every doc labelled with its cluster's minimum id, singletons
    // keeping their own id. The DuckDB twin computes the same
    // transitive closure with a recursive CTE — closure semantics,
    // not just pair semantics, are what a curation pipeline consumes
    // ("keep one doc per cluster" = filter(id = cluster)).
    "q57_dup_clusters" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
          minJaccard = 0.6, numHashes = 32, bands = 16, shingleK = 2,
          minEstimate = 0.1, maxBucket = 1000)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.duplicateClusters(pairs)
      docs.select(col("doc_id").as("id"))
        .join(clusters, Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy(col("id"))
    },

    // Leakage-safe splitting under the gate (r8): the q57 clustering
    // pipeline (LSH candidates → exact verify → connected components)
    // feeds Corpus.assignSplits, so every near-duplicate cluster is
    // split-atomic — the Lee-2022 test-set-contamination failure made
    // structurally impossible. The twin recomputes the closure
    // (recursive CTE) AND the exact multiplicative-mix bucket
    // arithmetic; a hash, threshold or cluster-label bug flips split
    // labels and breaks the hash.
    "q89_leakage_safe_split" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
          minJaccard = 0.6, numHashes = 32, bands = 16, shingleK = 2,
          minEstimate = 0.1, maxBucket = 1000)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.duplicateClusters(pairs)
      Corpus.assignSplits(
          docs.select(col("doc_id").as("id"))
            .join(clusters, Seq("id"), "left")
            .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster")),
          "cluster",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .orderBy(col("id"))
    },

    // Corpus TF-IDF under the gate: termFrequencies → df join → top-3
    // terms per doc. Scored with the exact linear ratio tf*N/df (IEEE
    // +,*,/ are correctly rounded → bitwise-identical across engines;
    // log is not — the log form is spec'd instead, Corpus.tfidf).
    "q58_tfidf_topterms" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val n = docs.count()
      // df as a COUNT WINDOW over one term-keyed exchange (r19, the
      // r18 "not yet #1"): the scan+explode+tf-agg subtree used to
      // appear on BOTH branches of the tf⋈dfreq join, and a shared
      // repartition alone cannot fix it — column pruning elides the
      // tf (and id) columns from the dfreq branch, so the two
      // exchange subtrees never canonicalize together. A window
      // partitioned by term rides the SAME exchange output: one scan,
      // one Generate, no join. df = count(*) per term over the tf
      // table — value-identical to the groupBy census (the DuckDB
      // twin keeps the join spelling; counts are equal by
      // definition), and the score expression tree is unchanged.
      val tf = Corpus.termFrequencies(docs, "doc_id", "text")
        .repartition(col("term"))
      val scored = tf
        .withColumn("df", count(lit(1)).over(
          Window.partitionBy(col("term"))))
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          (col("tf").cast(DoubleType) *
            (lit(n).cast(DoubleType) / col("df").cast(DoubleType))).as("score"))
      scored.withColumn("_rn",
          row_number().over(Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("term"))))
        .filter(col("_rn") <= 3)
        .drop("_rn")
        .orderBy(col("doc_id"), col("term"))
    },

    // Deterministic stratified sampling under the gate: every 7th doc
    // per language in doc_id order (Corpus.systematicSample — the
    // SQL-expressible variant; the shuffle-free hashSample is spec'd).
    "q59_stratified_sample" -> { (s, dir) =>
      Corpus.systematicSample(
          Tables(s, dir, "documents").select(col("doc_id"), col("lang")),
          "lang", "doc_id", every = 7)
        .orderBy(col("doc_id"))
    },

    // Int8-quantized similarity under the gate: symmetric per-vector
    // quantization (scale = max|x|/127), integer code dot × scales.
    // Integer-valued double accumulation is order-independent-EXACT,
    // so the quantized top-k hash-matches the DuckDB twin — the
    // memory-quartering ANN variant gated as hard as the exact one.
    "q60_int8_quantized_topk" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val staged = e.select(col("vec_id"), col("embedding"))
        .withColumn("scale", Similarity.int8Scale(col("embedding")))
        .withColumn("codes", Similarity.int8Codes(col("embedding"), col("scale")))
      val q = staged.filter(col("vec_id") === 0)
        .select(col("codes").as("qcodes"), col("scale").as("qscale"))
      staged.crossJoin(broadcast(q))
        .select(col("vec_id"),
          Similarity.int8Dot(col("codes"), col("scale"),
            col("qcodes"), col("qscale")).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(20)
    },

    // Persisted IVF index under the gate: k-means-train the centroids
    // in Spark (2 Lloyd rounds), build the cell-partitioned parquet
    // index, then query it with nprobe = all cells — which degenerates
    // to exact brute force, so the DuckDB twin is plain all-rows
    // cosine top-k and the gate proves the train+write+read path
    // (assignment, partition layout, pruned scan, scoring) end-to-end
    // regardless of where the centroids landed. nprobe < cells is the
    // ANN path (recall + cell-balance spec'd).
    "q49_ivf_index_topk" -> { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q49").toString
      val e = Tables(s, dir, "embeddings")
      val centroids = Similarity.trainCentroids(e, "vec_id", "embedding", k = 8, iters = 2)
      val query = e.filter(col("vec_id") === 2)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      Similarity.ivfWriteIndex(e, "vec_id", "embedding", centroids, s"$work/ivf")
      Similarity.ivfTopKFromIndex(s, s"$work/ivf", "vec_id", "embedding",
        query, k = 15, centroids, nprobe = centroids.length)
    },

    // Embedding-cosine near-dup at corpus scale: banded hyperplane-
    // LSH candidates → exact cosine verify on candidates only
    // (Similarity.cosineNearDuplicates). Near-copies are PLANTED
    // deterministically (id+100000, elementwise (1+((id+i)%7)*0.005)
    // scaling → cosine ≈ 0.9996) because the raw corpus holds no pair
    // above 0.52; the DuckDB twin is all-pairs brute force over the
    // same union, so the gate also proves the banding loses no pair
    // at this threshold (per-pair miss prob ≈ 7e-11)
    "q47_embedding_near_dup" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val base = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // the base id is staged under an unambiguous name: aliasing the
      // shifted id to "vec_id" in the SAME select would make Spark's
      // lateral-column-alias resolution bind the lambda's vec_id to
      // the NEW alias while DuckDB's lambda sees the input column —
      // a 1e-5 score divergence that cost one gate round-trip
      val planted = e.filter(col("vec_id") % 17 === 3)
        .select(col("vec_id").as("_bid"), col("embedding"))
        .select(
          (col("_bid") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x.cast(DoubleType) *
              (lit(1.0) + ((col("_bid") + i) % 7).cast(DoubleType) * lit(0.005))).as("v"))
      // bands=8 (8-bit chunks): at this 0.9 threshold the planted
      // pairs (cos ≈ 0.9996) still collide with prob ≈ 1−1e-10, while
      // chance collisions among the near-orthogonal base corpus drop
      // from ~64% of all pairs (4-bit chunks — made the exact verify
      // effectively all-pairs, 50 s at sf0.1) to ~3%
      Similarity.cosineNearDuplicates(base.unionByName(planted), "vec_id", "v",
          minCosine = 0.9, dim = 64, bands = 8)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Incremental embedding dedup under the gate (r12): the q47
    // semantics through the PERSISTED LSH-signature index — the base
    // corpus builds the index, the planted near-copies arrive as the
    // batch, and only batch-touching pairs may surface. Same fixture
    // completeness argument as q47 (planted pairs collide with prob
    // ≈ 1−1e-10 at bands=8; no base pair reaches the threshold), so
    // the all-pairs twin restricted to the batch is exact. An index
    // write, marker, union-census or batch-restriction bug changes
    // the pair set and breaks the hash.
    "q122_incremental_embedding_dedup" -> { (s, dir) =>
      val idx = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q122").getAbsolutePath
      val e = Tables(s, dir, "embeddings")
      val base = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val planted = e.filter(col("vec_id") % 17 === 3)
        .select(col("vec_id").as("_bid"), col("embedding"))
        .select(
          (col("_bid") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x.cast(DoubleType) *
              (lit(1.0) + ((col("_bid") + i) % 7).cast(DoubleType) * lit(0.005))).as("v"))
      Similarity.cosineWriteIndex(base, "vec_id", "v", idx, dim = 64)
      Similarity.incrementalCosineNearDuplicates(s, planted, "vec_id", "v",
          idx, base, minCosine = 0.9, dim = 64, bands = 8)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Language-ID serving under the gate (r13): the quantized NB
    // score path over md5-hash-bucketed char 1/2/3-gram features with
    // a FIXED literal (lang, gram, weight) model — the q100
    // discipline (training is spec-gated: ln has no engine-identical
    // twin; serving is exact integer arithmetic). The hash gates the
    // FULL path: script-preserving normalization, per-order gram
    // enumeration, bucket derivation, within-language collision
    // summing, the prior + n_grams·floor + Σ hits algebra, the
    // (−score, lang) argmax tie-break, and the zero-evidence → 'und'
    // rule. A bug in any of them moves (lang, score_q, n_hit).
    "q123_langid_serve" -> { (s, dir) =>
      import s.implicits._
      val langTable = LangGateLangs.toDF("lang", "q_prior", "q_floor")
      val weights = LangGateWeights.toDF("lang", "gram", "qdw")
        .select(col("lang"),
          operators.LangId.bucket(col("gram"), LangGateDim).as("bucket"),
          col("qdw"))
      operators.LangId.classifyQuantized(Tables(s, dir, "documents"),
          "doc_id", "text", langTable, weights, LangGateDim,
          family = "md5") // the oracle family; production serves xxh64
        .select(col("id").as("doc_id"), col("lang"), col("score_q"),
          col("n_grams"), col("n_hit"))
        .orderBy(col("doc_id"))
    },

    // Trained-lang composition under the gate (r14, the r13
    // verdict's #8 closing clause): the PRODUCTION swap-in path —
    // Text.withLangId(trained = Some(q)), which routes through the
    // fingerprint join-back form (label per DISTINCT text, joined
    // back by md5 — deterministic under recomputation) — feeding a
    // CCNet-shape per-language composition. q123 gates the scoring
    // algebra per doc; this gates that the Quantized-model OBJECT,
    // the withLangId delegation, the distinct-text dedup and the
    // group-by compose end-to-end to the same labels.
    "q128_trained_lang_composition" -> { (s, dir) =>
      import s.implicits._
      val weights = LangGateWeights.toDF("lang", "gram", "qdw")
        .select(col("lang"),
          operators.LangId.bucket(col("gram"), LangGateDim).as("bucket"),
          col("qdw"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val q = operators.LangId.Quantized(LangGateLangs, weights,
        LangGateDim, Seq(1, 2, 3), 1e6, "md5")
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      functions.Text.withLangId(docs, "text", "lang", trained = Some(q))
        .select(col("lang"),
          Text.tokenCount(col("text")).cast(LongType).as("_nt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("sum_tokens"))
        .orderBy(col("lang"))
    },

    // Streaming drain under the gate (r13, the r12 verdict's #7): the
    // most complex machinery in the repo — WET shards → tail-follow
    // micro-batches → Gopher gate → incremental near-dup against the
    // accumulated corpus + index, across FOUR batches with checkpoint
    // commits between — drained with AvailableNow and its row-level
    // outcome put under the oracle hash. Planted exact copies
    // (doc_id % 17 == 3, +100000) land in different shards than their
    // originals (md5-prefix shard assignment), so the dedup decision
    // crosses batches. The output is the surviving corpus grouped by
    // CONTENT class (sorted distinct 3-word shingle set of the
    // normalized text — the dedup's own equivalence at
    // minJaccard = 1.0): exactly one survivor per class, regardless
    // of batch order or which member won. Batch semantics (resume,
    // replay, crash windows) stay spec territory; this gates that the
    // whole pipeline's DATA outcome equals the declarative rule.
    "q124_crawl_drain" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q124").getAbsolutePath
      // hermetic re-runs: a stale checkpoint would serve zero batches
      // over a corpus some PREVIOUS build wrote
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      WarcShards.write(
        docs.unionByName(planted).select(
          col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          col("text").cast(BinaryType).as("p")),
        "k", "u", "p", s"$base/warc", nShards = 8)
      streaming.DocStream.curateWetCrawl(s, s"$base/warc",
          corpusDir = s"$base/corpus", indexDir = s"$base/index",
          checkpointDir = s"$base/ckpt",
          gate = streaming.DocStream.CrawlGate.Gopher(),
          minJaccard = 1.0, maxFilesPerTrigger = 2)
        .awaitTermination()
      s.read.parquet(s"$base/corpus")
        .select(col("doc_id"),
          functions.Text.tokens(functions.Text.normalized(col("text"))).as("_toks"))
        .select(col("doc_id"), col("_toks"),
          operators.Dedup.shinglesFromTokens(col("_toks"), 3).as("_sh"))
        .select(
          when(size(col("_toks")) < 3, concat(lit("doc:"), col("doc_id")))
            .otherwise(md5(concat_ws("\u001e",
              array_sort(array_distinct(col("_sh")))))).as("skey"),
          lit(1L).as("n_docs"))
        .groupBy(col("skey")).agg(sum(col("n_docs")).as("n_docs"))
        .orderBy(col("skey"))
    },

    // Raw-crawl capstone (r13): the q120 story WITHOUT a WET sibling —
    // response records with gzip-encoded HTML bodies → transfer
    // decode → charset decode → stripHtml → Gopher keep, under ONE
    // hash. The fixture wraps each document in tags + a script body
    // (whose '<' inside code exercises the non-greedy script strip)
    // and gzips it; non-200 and non-text rows are chaff the filters
    // must drop. The twin replays the visible text as the
    // whitespace-collapse of the original (the corpus is <>&-free,
    // verified at both SFs) and reuses the shared Gopher CTE chain.
    "q125_raw_crawl_pipeline" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q125").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents")
      val wrapped = concat(
        lit("<html><head><script>var z = 1 < 2;</script>" +
          "<style>.a{color:red}</style></head><body><p>"),
        col("text"), lit("</p></body></html>"))
      val bodyBytes = graft.functions.HttpBody.gzipBytes(wrapped.cast(BinaryType))
      val status = when(col("doc_id") % 5 === 0, lit("404 Not Found"))
        .otherwise(lit("200 OK"))
      val ctype = when(col("doc_id") % 7 === 0, lit("image/png"))
        .otherwise(lit("text/html; charset=UTF-8"))
      val envelope = concat(
        concat(lit("HTTP/1.1 "), status,
          lit("\r\nContent-Type: "), ctype,
          lit("\r\nContent-Encoding: gzip"),
          lit("\r\nContent-Length: "), octet_length(bodyBytes).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType),
        bodyBytes)
      WarcShards.write(
        docs.select(col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          envelope.as("p")),
        "k", "u", "p", base, nShards = 8,
        warcType = "response",
        contentType = "application/http; msgtype=response")
      val pages = graft.sources.WarcSource.crawlText(s, base)
        .select(col("target_uri").substr(lit(15), lit(1000000))
          .cast(LongType).as("doc_id"), col("text"))
      Corpus.gopherSignals(pages, "doc_id", "text")
        .filter(col("keep"))
        .select(col("id").as("doc_id"), col("n_words"), col("mean_word_len"))
        .orderBy(col("doc_id"))
    },

    // Streaming RAW-crawl drain under the gate (r14, the r13
    // verdict's top ask): the q124 streaming-drain device over the
    // q125 raw fixture — response records with gzip-encoded HTML
    // envelopes (+ 404/png chaff) land as 8 WARC shards, the
    // tail-follow loop drains them in FOUR checkpointed micro-batches
    // through the full extraction chain (envelope split → inflate →
    // charset decode → stripHtml) → Gopher gate → incremental
    // near-dup at minJaccard = 1.0 (exact shingle-set equivalence —
    // batch-order-invariant, so the declarative twin is exact).
    // Planted exact copies (doc_id % 17 == 3, +100000) land in
    // different shards (md5-prefix shard assignment), so the dedup
    // decision crosses batches; in-stream index AND corpus compaction
    // (r15) run every 2 batches, putting their content-preservation
    // under the same hash. Output: one row per surviving content
    // class, n_docs = 1.
    "q126_raw_crawl_drain" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q126").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val u = docs.unionByName(planted)
      val wrapped = concat(
        lit("<html><head><script>var z = 1 < 2;</script>" +
          "<style>.a{color:red}</style></head><body><p>"),
        col("text"), lit("</p></body></html>"))
      val bodyBytes = graft.functions.HttpBody.gzipBytes(wrapped.cast(BinaryType))
      val status = when(col("doc_id") % 5 === 0, lit("404 Not Found"))
        .otherwise(lit("200 OK"))
      val ctype = when(col("doc_id") % 7 === 0, lit("image/png"))
        .otherwise(lit("text/html; charset=UTF-8"))
      val envelope = concat(
        concat(lit("HTTP/1.1 "), status,
          lit("\r\nContent-Type: "), ctype,
          lit("\r\nContent-Encoding: gzip"),
          lit("\r\nContent-Length: "), octet_length(bodyBytes).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType),
        bodyBytes)
      WarcShards.write(
        u.select(col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          envelope.as("p")),
        "k", "u", "p", s"$base/warc", nShards = 8,
        warcType = "response",
        contentType = "application/http; msgtype=response")
      streaming.DocStream.curateRawCrawl(s, s"$base/warc",
          corpusDir = s"$base/corpus", indexDir = s"$base/index",
          checkpointDir = s"$base/ckpt",
          gate = streaming.DocStream.CrawlGate.Gopher(),
          minJaccard = 1.0, maxFilesPerTrigger = 2,
          compactEvery = 2, compactTargetFiles = 4,
          // corpus compaction (r15) runs inside the gate too — its
          // content preservation sits under the same hash
          corpusCompactEvery = 2, corpusCompactTargetFiles = 4)
        .awaitTermination()
      s.read.parquet(s"$base/corpus")
        .select(col("doc_id"),
          functions.Text.tokens(functions.Text.normalized(col("text"))).as("_toks"))
        .select(col("doc_id"), col("_toks"),
          operators.Dedup.shinglesFromTokens(col("_toks"), 3).as("_sh"))
        .select(
          when(size(col("_toks")) < 3, concat(lit("doc:"), col("doc_id")))
            .otherwise(md5(concat_ws("\u001e",
              array_sort(array_distinct(col("_sh")))))).as("skey"),
          lit(1L).as("n_docs"))
        .groupBy(col("skey")).agg(sum(col("n_docs")).as("n_docs"))
        .orderBy(col("skey"))
    },

    // Capstone: the whole curation pipeline composed in ONE plan —
    // quality filter (bit-exact doubles, so the 0.5 threshold
    // classifies identically cross-engine) → exact dedup (lowest
    // Crawl-health profile under the gate (r14, the r13 verdict's
    // "missing #3"): a deterministic segment matrix — 404/500 chaff,
    // png chaff, unknown charset, GBK xhtml, gzip Content-Encoding,
    // chunked Transfer-Encoding, corrupt chunk framing, declared /
    // meta-sniffed / defaulted charsets — written as 8 WARC shards,
    // profiled per shard by Corpus.crawlHealth. The twin re-derives
    // every counter from the branch arithmetic plus the md5-prefix
    // shard rule, so a bug in any decode layer's null contract, the
    // eligibility filter, the charset-provenance split, or the
    // aggregate itself moves a count and breaks the hash.
    "q127_crawl_health" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q127").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents")
      val e0 = col("doc_id") % 7 =!= 0 && col("doc_id") % 11 =!= 0 &&
        col("doc_id") % 13 =!= 0
      val gzB = e0 && col("doc_id") % 19 === 0
      val e1 = e0 && col("doc_id") % 19 =!= 0
      val chB = e1 && col("doc_id") % 23 === 0
      val e2 = e1 && col("doc_id") % 23 =!= 0
      val badB = e2 && col("doc_id") % 31 === 0
      val e3 = e2 && col("doc_id") % 31 =!= 0
      // bodyless 2xx arm (r15): an eligible response with an empty
      // body — counted in n_no_body, never in n_decode_null, and
      // never a page (the absent-vs-corrupt distinction under the hash)
      val nbB = e3 && col("doc_id") % 29 === 0
      val e4 = e3 && col("doc_id") % 29 =!= 0
      // zstd arm (r17): a supported coding since zstd-jni rode in —
      // counted in n_enc_zstd and decoded all the way to a page
      val zsB = e4 && col("doc_id") % 37 === 0
      val e5 = e4 && col("doc_id") % 37 =!= 0
      // brotli arm (r17 refusal → r18 DECODE): since the vendored
      // RFC 7932 decoder rode in, br bodies inflate all the way to
      // pages and count under their own n_enc_br
      val brB = e5 && col("doc_id") % 41 === 0
      val e6 = e5 && col("doc_id") % 41 =!= 0
      // unsupported-coding arm (r18): `compress` keeps the refusal
      // path exercised now that br decodes — counted in
      // n_unsupported_encoding AND n_decode_null, never a page
      val cpB = e6 && col("doc_id") % 43 === 0
      val metaB = e3 && col("doc_id") % 3 === 1 && col("doc_id") % 2 === 1
      val ctype = when(col("doc_id") % 7 === 0, lit("image/png"))
        .when(col("doc_id") % 11 === 0, lit("text/html; charset=klingon"))
        .when(col("doc_id") % 13 === 0, lit("application/xhtml+xml; charset=GBK"))
        .when(col("doc_id") % 19 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 23 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 31 === 0, lit("text/html; charset=UTF-8"))
        // the r17 coding arms declare their charset so provenance
        // stays a clean three-way split on the %3 rows below
        .when(col("doc_id") % 37 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 41 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 43 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 3 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 3 === 1, lit("text/plain"))
        .otherwise(lit("text/html; charset=shift_jis"))
      val bodyText = when(metaB,
        concat(lit("<meta charset=\"windows-1250\">"), col("text")))
        .otherwise(col("text"))
      def chunkFrame(b: Column): Column = concat(
        concat(lower(hex(octet_length(b))), lit("\r\n")).cast(BinaryType),
        b, lit("\r\n0\r\n\r\n").cast(BinaryType))
      val bodyBytes = when(gzB,
          graft.functions.HttpBody.gzipBytes(col("text").cast(BinaryType)))
        .when(chB, chunkFrame(col("text").cast(BinaryType)))
        .when(badB, concat(lit("ZZ\r\n").cast(BinaryType),
          col("text").cast(BinaryType)))
        .when(nbB, lit("").cast(BinaryType))
        .when(zsB, graft.functions.HttpBody.zstdBytes(col("text").cast(BinaryType)))
        .when(brB, graft.functions.HttpBody.brotliBytes(col("text").cast(BinaryType)))
        .when(cpB, col("text").cast(BinaryType))
        .otherwise(bodyText.cast(BinaryType))
      val status = when(col("doc_id") % 5 === 0, lit("404 Not Found"))
        .when(col("doc_id") % 5 === 1, lit("500 Oops"))
        .otherwise(lit("200 OK"))
      val envelope = concat(
        concat(lit("HTTP/1.1 "), status,
          lit("\r\nContent-Type: "), ctype,
          when(gzB, lit("\r\nContent-Encoding: gzip"))
            .when(zsB, lit("\r\nContent-Encoding: zstd"))
            .when(brB, lit("\r\nContent-Encoding: br"))
            .when(cpB, lit("\r\nContent-Encoding: compress"))
            .otherwise(lit("")),
          when(chB || badB, lit("\r\nTransfer-Encoding: chunked"))
            .otherwise(lit("")),
          lit("\r\nContent-Length: "), octet_length(bodyBytes).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType),
        bodyBytes)
      WarcShards.write(
        docs.select(col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          envelope.as("p")),
        "k", "u", "p", base, nShards = 8,
        warcType = "response",
        contentType = "application/http; msgtype=response")
      Corpus.crawlHealth(s, base)
        .withColumn("shard", col("shard").cast(LongType))
        .orderBy(col("shard"))
    },

    // Streaming EMBEDDING drain under the gate (r15, the r14
    // verdict's #2): the modality matrix's last loop —
    // curateEmbeddingNearDup — drained over 7 shard files (4
    // checkpointed AvailableNow batches) with planted EXACT vector
    // copies landing 3 shards from their originals (100000 % 7 == 3),
    // so the dedup decision crosses batches through the persisted
    // banded LSH index; in-stream index AND corpus compaction run
    // every 2 batches under the same hash. The q124 device adapted to
    // vectors: at minCosine = 1 − 1e-7 the dedup equivalence over
    // this fixture is exact vector equality (identical copies score
    // 1 within fp rounding; the densest base pair sits at 0.52), so
    // the outcome is batch-order-invariant — exactly one survivor per
    // distinct vector. Survivors map back to their class by exact
    // vector join; the class id is the class's MIN doc_id (always the
    // original), so survivor identity washes out of the output.
    "q129_embedding_drain" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q129").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val vecs = Tables(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("vec"))
      val planted = vecs.filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 100000L).as("doc_id"), col("vec"))
      val u = vecs.unionByName(planted)
      for (sh <- 0 until 7)
        u.filter(pmod(col("doc_id"), lit(7)) === sh)
          .coalesce(1).write.mode("append").parquet(s"$base/in")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", LongType),
        org.apache.spark.sql.types.StructField("vec",
          org.apache.spark.sql.types.ArrayType(DoubleType))))
      streaming.DocStream.curateEmbeddingNearDup(s,
          s.readStream.schema(schema).option("maxFilesPerTrigger", 2)
            .parquet(s"$base/in"),
          corpusDir = s"$base/corpus", indexDir = s"$base/index",
          checkpointDir = s"$base/ckpt",
          minCosine = 0.9999999, dim = 64, bands = 8,
          // ranges=4 (32 pblocks), not 16: recommendGeometry's own
          // rule for a ~5k-signature index — blocks near the scan
          // target, not 128 near-empty dirs taxing every append and
          // compaction (measured: ranges=16 spent ~6 s/run on pure
          // directory overhead). The dedup OUTCOME is geometry-
          // invariant, so the hash is unchanged; the banded layout
          // (pruned probes, marker, in-stream compaction) is still
          // exercised.
          indexBands = 8, indexRanges = 4,
          compactEvery = 2, compactTargetFiles = 4,
          corpusCompactEvery = 2, corpusCompactTargetFiles = 4,
          // signature-agreement pre-filter (r16): kills chance
          // band collisions before the vector-fetch joins; hash-safe
          // here by construction — every true survivor pair is an
          // exact vector copy (sig hamming 0), and t=24 is the
          // scaladoc's +5σ keep at cos 0.9
          maxSigHamming = Some(24))
        .awaitTermination()
      val classes = u.groupBy(col("vec")).agg(min(col("doc_id")).as("class_id"))
      s.read.parquet(s"$base/corpus").select(col("vec"))
        .join(classes, Seq("vec"))
        .groupBy(col("class_id")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("class_id"))
    },

    // Streaming MEDIA drain under the gate (r15, the r14 verdict's
    // #3 — curateMediaNearDup had no CORRECTNESS row): a q126-style
    // 4-batch image drain with planted byte-identical copies landing
    // 3 shards from their originals, at maxDistance = 0 where hamming
    // dedup is EXACT signature equality — batch-order-invariant, one
    // survivor per signature class. The fixture is built for the
    // gate: 9×8 grayscale PNGs whose pixel rows encode the doc_id's
    // bits as ±1 steps, so the decoded dHash (identity thumbnail at
    // 9×8, adjacent-pixel compare, MSB-first packing) IS the doc_id's
    // bit pattern — distinct per original (the q111 gradient formula
    // is too hash-correlated for a dedup gate: 42 classes over 480
    // docs), and fully twin-expressible from integer arithmetic.
    // In-stream index + corpus compaction run every 2 batches under
    // the hash. The corpus carries `sigs`; the output renders each
    // survivor's signature as the 16-hex MSB-first bytes (the 64-bit
    // gate convention) — a decode, packing, kernel, replay or
    // compaction bug changes the class set or a count.
    "q130_media_drain" -> { (s, dir) =>
      import s.implicits._
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q130").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val ids = docs.unionByName(docs.filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 100000L).as("doc_id")))
      // content derives from the ORIGINAL id (id % 100000), so a
      // planted copy is byte-identical to its original
      val media = ids.as[Long].map { id =>
        val key = id % 100000L
        def bit(y: Int, x: Int): Int = ((key >> (y * 8 + x)) & 1L).toInt
        def pix(x: Int, y: Int): Int =
          128 + (0 until x).map(i => 2 * bit(y, i) - 1).sum
        (id, operators.Multimodal.MiniEncoder.pngGray(9, 8, pix))
      }.toDF("doc_id", "content")
      for (sh <- 0 until 7)
        media.filter(pmod(col("doc_id"), lit(7)) === sh)
          .coalesce(1).write.mode("append").parquet(s"$base/in")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType)))
      streaming.DocStream.curateMediaNearDup(s,
          s.readStream.schema(schema).option("maxFilesPerTrigger", 2)
            .parquet(s"$base/in"),
          corpusDir = s"$base/corpus", indexDir = s"$base/index",
          checkpointDir = s"$base/ckpt",
          kind = "image", maxDistance = 0, bands = 8,
          indexBands = 8, indexRanges = 16,
          compactEvery = 2, compactTargetFiles = 4,
          corpusCompactEvery = 2, corpusCompactTargetFiles = 4)
        .awaitTermination()
      s.read.parquet(s"$base/corpus")
        .select(explode(col("sigs")).as("_s"))
        .select(lower(lpad(hex(col("_s.sh")), 16, "0")).as("skey"))
        .groupBy(col("skey")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("skey"))
    },

    // RFC 9309 robots exclusion end-to-end (r15): a WARC fixture
    // carries each host's own captured /robots.txt response beside
    // its pages — Robots.rules PARSES real bytes (group semantics,
    // multi-UA groups, case-folded product tokens, comments, empty
    // Disallow dropped, wildcards, a 404 robots ignored, leading
    // rules before any User-agent ignored) and Robots.gate applies
    // longest-match precedence with allow-wins-ties. Gated as
    // "graftbot", so host 3 exercises specific-group-beats-star. The
    // twin re-derives the RULE TABLE and every verdict from the
    // fixture's arithmetic (the q127 device) — a parser or
    // precedence bug anywhere changes verdicts and breaks the hash.
    "q131_robots_gate" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q131").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      def env(status: Column, ctype: String, body: Column): Column = concat(
        concat(lit("HTTP/1.1 "), status,
          lit(s"\r\nContent-Type: $ctype\r\nContent-Length: "),
          octet_length(body.cast(BinaryType)).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType),
        body.cast(BinaryType))
      val host = concat(lit("h"), (col("doc_id") % 10).cast(StringType), lit(".example"))
      val paths = array(lit("/"), lit("/private/x.html"), lit("/private/ok/y"),
        lit("/img/z.png"), lit("/tmp/a"), lit("/tmpfile"), lit("/all/p"),
        lit("/graft/q"), lit("/x/y.html"), lit("/a/b/c"), lit("/t/u"), lit("/only/v"))
      val pages = docs.select(
        col("doc_id").cast(StringType).as("k"),
        concat(lit("http://"), host,
          element_at(paths, (col("doc_id") % 12).cast(IntegerType) + 1)).as("u"),
        env(lit("200 OK"), "text/html; charset=UTF-8", lit("<html>page</html>")).as("p"))
      val robotsBody = when(col("doc_id") === 0,
          lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"))
        .when(col("doc_id") === 1, lit("User-agent: *\nDisallow: /\n"))
        .when(col("doc_id") === 2,
          lit("User-agent: *\nDisallow: /*.png$\nDisallow: /tmp*\n"))
        .when(col("doc_id") === 3,
          lit("User-Agent: GraftBot\nDisallow: /graft/\n\nUser-agent: *\nDisallow: /\n"))
        .when(col("doc_id") === 4,
          lit("User-agent: fooBot\nUser-agent: *\nDisallow: /x/\nAllow: /x/y\n"))
        .when(col("doc_id") === 5,
          lit("# robots for h5\nUser-agent: *\nDisallow:\n\nSitemap: http://h5.example/sm.xml\n"))
        .when(col("doc_id") === 6,
          lit("User-agent: *\nDisallow: /t/\nAllow: /t/\nDisallow: /a/\nAllow: /a/b/\n"))
        .when(col("doc_id") === 7, lit("Disallow: /\nUser-agent: *\nDisallow: /only/\n"))
        .otherwise(lit("User-agent: *\nDisallow: /\n")) // h8: behind a 404 — ignored
      val robotsStatus = when(col("doc_id") === 8, lit("404 Not Found"))
        .otherwise(lit("200 OK"))
      val robots = docs.filter(col("doc_id") < 9).select(
        concat(lit("r"), col("doc_id").cast(StringType)).as("k"),
        concat(lit("http://"), host, lit("/robots.txt")).as("u"),
        env(robotsStatus, "text/plain", robotsBody).as("p"))
      WarcShards.write(
        robots.unionByName(pages),
        "k", "u", "p", base, nShards = 4,
        warcType = "response",
        contentType = "application/http; msgtype=response")
      val crawl = s.read.format("graft.sources.WarcSource").option("path", base).load()
      val rules = operators.Robots.rulesOf(crawl, agent = "graftbot")
      val pageRows = crawl.filter(col("warc_type") === "response" &&
          lower(operators.Robots.pathOf(col("target_uri"))) =!= "/robots.txt")
        .select(col("target_uri"))
      operators.Robots.gate(pageRows, rules, "target_uri")
        .select(col("target_uri"), col("allowed"), col("rule"), col("pattern"))
        .orderBy(col("target_uri"))
    },

    // Broder containment over word bigram-shingle sets (r15): the
    // asymmetric dedup measure that catches quoted/wrapped documents
    // jaccard dilutes away. md5 oracle family — the DuckDB twin
    // re-derives the shingle sets, the df-capped inverted-index
    // candidate admission and the exact overlap arithmetic.
    "q132_containment_pairs" -> { (s, dir) =>
      Dedup.containmentPairs(Tables(s, dir, "documents"), "doc_id", "text",
          minContainment = 0.6, shingleK = 2, maxDf = 20, minSetSize = 5,
          family = "md5")
        .orderBy(col("contained_id"), col("container_id"))
    },

    // Snapshot version diff (r15): manifest-planned row diff across an
    // ingest history — v0 commits a base, then an APPEND (new keys),
    // a CANONICALIZE tombstone rewrite (payload change on existing
    // keys) and a pure COMPACTION (files move, rows don't) land before
    // the next commit. The diff must report exactly the appended keys
    // as `added` and the tombstoned keys as `changed` — every row the
    // compaction merely moved between files compares equal and drops
    // out. The twin re-derives the expected statuses from the
    // fixture's key arithmetic.
    "q133_snapshot_diff" -> { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q133").toString
      val orders = Tables(s, dir, "orders")
      def wire(rows: org.apache.spark.sql.DataFrame, removed: Boolean) =
        rows.select(to_json(struct(
          format_string("0x%040x", col("o_custkey")).as("address"),
          array(lit(TransferSig), format_string("0x%064x", col("o_custkey"))).as("topics"),
          format_string("0x%064x", col("o_orderkey") * 3).as("data"),
          format_string("0xb%x", col("o_orderkey")).as("blockHash"),
          format_string("0x%x", col("o_orderkey")).as("blockNumber"),
          format_string("0xt%x", col("o_orderkey")).as("transactionHash"),
          lit("0x0").as("transactionIndex"),
          format_string("0x%x", col("o_orderkey") % 7).as("logIndex"),
          lit(removed).as("removed"))).as("j"))
      val t = s"$work/logs"
      wire(orders.filter(col("o_orderkey") % 10 === 1), removed = false)
        .write.mode("overwrite").text(s"$work/w1")
      graft.sources.Logs.appendIdempotent(
        s, graft.sources.Logs.readNdjson(s, s"$work/w1"), t)
      val v0 = graft.sources.Snapshots.commit(s, t)
      wire(orders.filter(col("o_orderkey") % 10 === 2), removed = false)
        .write.mode("overwrite").text(s"$work/w2")
      graft.sources.Logs.appendIdempotent(
        s, graft.sources.Logs.readNdjson(s, s"$work/w2"), t)
      wire(orders.filter(col("o_orderkey") % 50 === 1), removed = true)
        .write.mode("overwrite").text(s"$work/w3")
      graft.sources.Logs.appendIdempotent(
        s, graft.sources.Logs.readNdjson(s, s"$work/w3"), t, canonicalize = true)
      graft.sources.Logs.compact(s, t)
      val v1 = graft.sources.Snapshots.commit(s, t)
      graft.sources.Snapshots.diff(s, t, v0, v1)
        .orderBy(col("block_hash"))
    },

    // Robots-gated raw-crawl drain (r15): the politeness stream's
    // data outcome under the hash — 3 ordered segments (robots for
    // hosts 0-3 → one page per doc → a late disallow-all for host 4
    // plus host-4 pages in that same batch). Rules gate FORWARD only:
    // batch-b pages of hosts 0-3 under /blk/ die against batch-a
    // rules, host-4-7 /blk/ pages are admitted (no capture yet), and
    // batch-c's late pages die against the capture merged in their
    // own batch — already-admitted host-4 pages stay (politeness is
    // forward-looking, not retroactive). Page bodies are synthetic
    // uniques, so the near-dup layer admits everything and the
    // outcome is pure robots arithmetic — which is what the twin
    // re-derives.
    "q135_robots_drain" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q135").getAbsolutePath
      val hfs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(base), true)
      hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      def env(ctype: String, body: Column): Column = concat(
        concat(lit(s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\nContent-Length: "),
          octet_length(body.cast(BinaryType)).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType),
        body.cast(BinaryType))
      val host = concat(lit("r"), (col("doc_id") % 8).cast(StringType), lit(".example"))
      val ra = docs.filter(col("doc_id") < 4).select(
        concat(lit("ra"), col("doc_id").cast(StringType)).as("k"),
        concat(lit("http://r"), col("doc_id").cast(StringType),
          lit(".example/robots.txt")).as("u"),
        env("text/plain", lit("User-agent: *\nDisallow: /blk/\n")).as("p"))
      val path = when(col("doc_id") % 3 === 0,
          concat(lit("/blk/p"), col("doc_id").cast(StringType)))
        .otherwise(concat(lit("/ok/p"), col("doc_id").cast(StringType)))
      val pb = docs.select(
        concat(lit("pb"), col("doc_id").cast(StringType)).as("k"),
        concat(lit("http://"), host, path).as("u"),
        env("text/html", concat(lit("<html>unique page body number "),
          col("doc_id").cast(StringType), lit(" marker "),
          ((col("doc_id") * 7919) % 104729).cast(StringType),
          lit(" end</html>"))).as("p"))
      val rc = docs.filter(col("doc_id") === 4).select(
        lit("rc4").as("k"), lit("http://r4.example/robots.txt").as("u"),
        env("text/plain", lit("User-agent: *\nDisallow: /\n")).as("p"))
      val late = docs.filter(col("doc_id") % 8 === 4).select(
        concat(lit("pc"), col("doc_id").cast(StringType)).as("k"),
        concat(lit("http://r4.example/late/p"),
          (col("doc_id") + 100000).cast(StringType)).as("u"),
        env("text/html", concat(lit("<html>late unique body "),
          (col("doc_id") + 100000).cast(StringType), lit(" tail</html>"))).as("p"))
      def seg(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val tmp = s"$base/tmp_$name"
        WarcShards.write(df, "k", "u", "p", tmp, nShards = 1,
          warcType = "response",
          contentType = "application/http; msgtype=response")
        for (f <- hfs.listStatus(new org.apache.hadoop.fs.Path(tmp))
             if f.getPath.getName.endsWith(".warc.gz"))
          hfs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(s"$base/in/$name-${f.getPath.getName}"))
      }
      seg("a", ra)
      seg("b", pb)
      seg("c", rc.unionByName(late))
      streaming.DocStream.curateRawCrawl(s, s"$base/in",
          s"$base/corpus", s"$base/index", s"$base/ckpt",
          gate = streaming.DocStream.CrawlGate.Quality(0.0),
          minJaccard = 0.95, maxFilesPerTrigger = 1,
          robotsRulesDir = Some(s"$base/rules"))
        .awaitTermination()
      s.read.parquet(s"$base/corpus")
        .select(col("target_uri")).orderBy(col("target_uri"))
    },

    // Per-domain boilerplate removal (r15): site chrome (a nav header
    // planted in ~90% of each domain's pages) is dropped EVERYWHERE,
    // a 33%-frequency footer survives, and the `tiny` domain (6 docs
    // < minDocs) keeps its header even at ~83% frequency — the
    // statistical-basis exemption under the hash. Twin recomputes the
    // per-(domain, line) document frequencies and the rebuild in SQL.
    "q134_boilerplate_removal" -> { (s, dir) =>
      val dom = when(col("doc_id") % 97 === 0, lit("tiny"))
        .otherwise(concat(lit("d"), (col("doc_id") % 5).cast(StringType)))
      val header = concat(lit("nav "), dom, lit(" home about contact"))
      val footer = concat(lit("copyright "), dom, lit(" example"))
      val docs = Tables(s, dir, "documents")
        .withColumn("url", concat(lit("http://"), dom, lit(".example/p"),
          col("doc_id").cast(StringType)))
        .withColumn("page", concat(
          when(col("doc_id") % 10 =!= 0, concat(header, lit("\n"))).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 3 === 0, concat(lit("\n\n"), footer)).otherwise(lit(""))))
      Corpus.removeBoilerplate(docs, "doc_id", "url", "page",
          minFrac = 0.5, minDocs = 10)
        .select(col("doc_id"), col("text_clean"),
          col("n_lines").cast(LongType).as("n_lines"),
          col("n_removed").cast(LongType).as("n_removed"))
        .orderBy(col("doc_id"))
    },

    // Sitemap XML parsing (r15): each doc carries a synthetic
    // <urlset> (two entries — one with every element incl. an
    // &amp;-escaped query and whitespace-padded loc, one loc-only —
    // plus a loc-less entry that must drop) or, on the %11 hosts, a
    // namespace-prefixed <sitemapindex>. The twin never parses XML:
    // it re-derives every expected row from the same doc_id
    // arithmetic, so any parser bug (block split, prefix handling,
    // entity decode, trim, the loc-required rule, priority cast)
    // breaks the hash.
    "q136_sitemap_parse" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast(StringType)
      val hostIdx = (col("doc_id") % 7).cast(StringType)
      val day = lpad(((col("doc_id") % 28) + 1).cast(StringType), 2, "0")
      val freq = element_at(
        array(lit("daily"), lit("weekly"), lit("monthly"), lit("never")),
        (col("doc_id") % 4).cast(IntegerType) + 1)
      val urlset = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          "  <url>\n    <loc>http://s"),
        hostIdx, lit(".example/p"), id,
        lit("?a=1&amp;b="), (col("doc_id") % 5).cast(StringType),
        lit("</loc>\n    <lastmod>2026-01-"), day,
        lit("</lastmod>\n    <changefreq>"), freq,
        lit("</changefreq>\n    <priority>0."), (col("doc_id") % 10).cast(StringType),
        lit("</priority>\n  </url>\n  <url><loc>  http://s"), hostIdx,
        lit(".example/extra/"), (col("doc_id") * 3).cast(StringType),
        lit("  </loc></url>\n  <url><lastmod>2026-03-01</lastmod></url>\n</urlset>"))
      val index = concat(
        lit("<sm:sitemapindex xmlns:sm=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          "  <sm:sitemap><sm:loc>http://s"), hostIdx,
        lit(".example/child"), id,
        lit(".xml.gz</sm:loc><sm:lastmod>2026-02-11</sm:lastmod></sm:sitemap>\n" +
          "</sm:sitemapindex>"))
      val fixture = docs.select(col("doc_id"),
        when(col("doc_id") % 11 === 0, index).otherwise(urlset).as("xml"))
      operators.Sitemaps.parse(fixture, "xml")
        .select(col("doc_id"), col("kind"), col("loc"), col("lastmod"),
          col("changefreq"), col("priority"))
        .orderBy(col("doc_id"), col("loc"))
    },

    // Anchor outlink extraction + RFC 3986 resolution (r15): every
    // page plants the five resolvable href forms (double-quoted
    // rooted, single-quoted ../ relative, unquoted ./ relative,
    // absolute with an &amp; entity and a fragment, scheme-relative)
    // plus a mailto: and a fragment-only href that must drop. The
    // twin re-derives each resolved URL from the fixture arithmetic —
    // extraction, entity decode, fragment strip, base-dir resolution
    // and dot-segment removal all sit under one hash.
    "q137_outlinks" -> { (s, dir) =>
      Links.outlinks(OutlinkFixture(s, dir), "page_url", "html")
        .orderBy(col("page_url"), col("url"))
    },

    // Host link graph (r15): the q137 links aggregated to
    // (src_host, dst_host) edges with multiplicity and the internal
    // flag — three same-host links per page collapse to one internal
    // edge of weight 3×pages, the absolute and scheme-relative links
    // to cross-host edges. Twin rebuilds the per-link rows
    // arithmetically and aggregates in SQL.
    "q138_host_graph" -> { (s, dir) =>
      Links.hostGraph(Links.outlinks(OutlinkFixture(s, dir), "page_url", "html"))
        .orderBy(col("src_host"), col("dst_host"))
    },

    // Deterministic integer PageRank (r15): 3 iterations over a
    // 40-node synthetic host graph derived from orders arithmetic
    // (nodes ≡ 0 mod 7 have no out-edges — the dangling-mass
    // redistribution arm). Ranks are int64 multiples of 1e-12 and
    // every step is floor division, so the twin — the same recurrence
    // unrolled as SQL CTEs over DuckDB's integer `//` — must match
    // BIT-EXACTLY, something float PageRank can never gate.
    "q139_pagerank" -> { (s, dir) =>
      val edges = Tables(s, dir, "orders")
        .select((col("o_orderkey") % 40).as("si"),
          ((col("o_orderkey") * 7 + 3) % 40).as("di"))
        .filter(col("si") % 7 =!= 0)
        .select(concat(lit("h"), col("si").cast(StringType)).as("src"),
          concat(lit("h"), col("di").cast(StringType)).as("dst"))
      Links.pageRank(edges, "src", "dst", iterations = 3)
        .orderBy(col("node"))
    },

    // Politeness frontier scheduling (r15): per-host fetch plans from
    // a Crawl-delay table (f0–f3 at 0.5–2.0 s, the rest on the 1 s
    // default), md5 worker family so the twin can replay the worker
    // assignment, slots at seq × delay_ms — all exact integer
    // arithmetic, twinned with window functions.
    "q140_frontier" -> { (s, dir) =>
      val urls = Tables(s, dir, "documents")
        .select(concat(lit("http://f"), (col("doc_id") % 8).cast(StringType),
          lit(".example/p"), col("doc_id").cast(StringType)).as("url"))
      val delays = s.range(4).select(
        concat(lit("f"), col("id").cast(StringType), lit(".example")).as("host"),
        ((col("id") + 1).cast(DoubleType) * 0.5).as("crawl_delay"))
      operators.Frontier.schedule(urls, "url", delays,
          defaultDelaySec = 1.0, nWorkers = 8, family = "md5")
        .orderBy(col("url"))
    },

    // Redirect edge extraction (r15): 3xx responses with Location
    // headers — absolute, relative, root-relative and scheme-relative
    // targets — through the envelope's http_location column (real
    // WARC bytes, obs-fold-aware header parse) and the shared
    // RFC 3986 resolution. Twin re-derives every edge arithmetically.
    "q141_redirects" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q141").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast(StringType)
      val status = element_at(array(lit("301 Moved Permanently"),
        lit("302 Found"), lit("307 Temporary Redirect"),
        lit("308 Permanent Redirect")), (col("doc_id") % 4).cast(IntegerType) + 1)
      val loc = when(col("doc_id") % 4 === 0,
          concat(lit("http://t"), (col("doc_id") % 3).cast(StringType),
            lit(".example/new"), id))
        .when(col("doc_id") % 4 === 1, concat(lit("/moved/"), id))
        .when(col("doc_id") % 4 === 2, concat(lit("next"), id))
        .otherwise(concat(lit("//cdn"), (col("doc_id") % 2).cast(StringType),
          lit(".example/c"), id))
      val rbody = lit("redirect body")
      val envp = concat(
        concat(lit("HTTP/1.1 "), status, lit("\r\nLocation: "), loc,
          lit("\r\nContent-Type: text/html\r\nContent-Length: "),
          octet_length(rbody.cast(BinaryType)).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType), rbody.cast(BinaryType))
      val recs = docs.select(id.as("k"),
        concat(lit("http://r"), (col("doc_id") % 5).cast(StringType),
          lit(".example/old/p"), id, lit(".html")).as("u"), envp.as("p"))
      WarcShards.write(recs, "k", "u", "p", base, nShards = 4,
        warcType = "response", contentType = "application/http; msgtype=response")
      Links.redirects(
          s.read.format("graft.sources.WarcSource").option("path", base).load())
        .select(col("from_url"), col("to_url"), col("to_host"),
          col("http_status").cast(LongType).as("http_status"))
        .orderBy(col("from_url"))
    },

    // Redirect chain resolution (r15): pointer doubling over an
    // orders-derived chain map (u_i → u_{i+1} unless i ≡ 0 mod 5;
    // every residue mod 100 is present in orders, so chains are
    // contiguous) — each source collapses to its next multiple-of-5
    // node with the exact hop count, all terminal. Twin re-derives
    // final/hops from the same arithmetic.
    "q142_redirect_chains" -> { (s, dir) =>
      val edges = Tables(s, dir, "orders")
        .select((col("o_orderkey") % 100).as("i")).distinct()
        .filter(col("i") % 5 =!= 0)
        .select(concat(lit("u"), col("i").cast(StringType)).as("from_url"),
          concat(lit("u"), (col("i") + 1).cast(StringType)).as("to_url"))
      Links.resolveRedirects(edges, maxHops = 8)
        .select(col("from_url"), col("final_url"), col("hops"), col("terminal"))
        .orderBy(col("from_url"))
    },

    // Anchor-text outlinks (r15): full-span extraction — nested
    // markup drops to spaces, entities decode, whitespace collapses,
    // an empty anchor yields "", an UNCLOSED anchor is not emitted
    // (the documented cost of wanting the text). Twin re-derives the
    // three expected rows per page arithmetically.
    "q143_anchor_text" -> { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val fixture = Tables(s, dir, "documents").select(
        concat(lit("http://w"), (col("doc_id") % 5).cast(StringType),
          lit(".example/p"), id).as("page_url"),
        concat(
          lit("<p>intro</p><a href=\"/t"), id, lit("\">Link <b>number</b> "), id,
          lit("&amp;co</a>\n<a href='/u"), id, lit("'>  spaced   text  </a>"),
          lit("<a href=/v"), id, lit("></a>"),
          lit("<a href=\"/unclosed"), id, lit("\">tail without close")).as("html"))
      Links.outlinksWithText(fixture, "page_url", "html")
        .orderBy(col("page_url"), col("url"))
    },

    // Meta-robots directives (r15): the in-document half of the
    // exclusion protocol — both attribute orders, quoted and unquoted
    // values, value-list membership, case folding, and the two
    // must-NOT-match arms (a bot-specific tag, an unrelated robots
    // directive). Twin re-derives both flags from the %7 arithmetic.
    "q144_meta_robots" -> { (s, dir) =>
      val m = col("doc_id") % 7
      val meta = when(m === 0, lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .when(m === 1, lit("<meta name='robots' content='noindex'>"))
        .when(m === 2, lit("<META CONTENT=\"NOFOLLOW\" NAME=\"ROBOTS\">"))
        .when(m === 3, lit("<meta name=robots content=nofollow,noindex>"))
        .when(m === 4, lit("<meta name=\"googlebot\" content=\"noindex\">"))
        .when(m === 5, lit("<meta name=\"robots\" content=\"max-snippet:-1\">"))
        .otherwise(lit("<meta charset=\"utf-8\">"))
      val fixture = Tables(s, dir, "documents").select(col("doc_id"),
        concat(lit("<html><head>"), meta,
          lit("</head><body>x</body></html>")).as("html"))
      Links.metaRobots(fixture, "html")
        .select(col("doc_id"), col("noindex"), col("nofollow"))
        .orderBy(col("doc_id"))
    },

    // Rank-prior curation composition (r15): the FineWeb-style chain
    // — outlinks (nofollow edges dropped: the nofollow'd third anchor
    // is load-bearing, keeping it changes every rank) → host graph →
    // integer PageRank → keep documents whose host lands in the
    // rank top-4. Each stage is individually gated (q137/q138/q139);
    // this gates their composition, the q41/q128 device.
    "q145_rank_curation" -> { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val fixture = Tables(s, dir, "documents").select(col("doc_id"),
        concat(lit("http://g"), (col("doc_id") % 8).cast(StringType),
          lit(".example/p"), id).as("page_url"),
        concat(
          lit("<a href=\"http://g"), ((col("doc_id") + 1) % 8).cast(StringType),
          lit(".example/x\">a</a><a href=\"http://g"),
          ((col("doc_id") * 3 + 1) % 8).cast(StringType),
          lit(".example/y\">b</a><a rel=\"nofollow\" href=\"http://g"),
          ((col("doc_id") * 5 + 2) % 8).cast(StringType),
          lit(".example/z\">c</a>")).as("html"))
      val links = Links.outlinks(fixture, "page_url", "html")
        .filter(!col("nofollow"))
      val edges = Links.hostGraph(links).filter(!col("internal"))
      val ranks = Links.pageRank(edges, "src_host", "dst_host", iterations = 3)
      val w = Window.orderBy(col("rank").desc, col("node"))
      val top = ranks.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 4).select(col("node"), col("rank"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("g"), (col("doc_id") % 8).cast(StringType),
            lit(".example")).as("host"))
        .join(broadcast(top), col("host") === col("node"))
        .select(col("doc_id"), col("host"), col("rank"))
        .orderBy(col("doc_id"))
    },

    // Token-exact sequence packing (r15): per-shard concat-and-split
    // of arithmetic token arrays (len = doc_id%7+1, EOS 0 after each
    // doc) into 16-token blocks — blocks span document boundaries,
    // the final partial block per shard emits short. Twin replays the
    // cumulative offsets, per-position placement and block grouping
    // with a window + lateral unnest.
    "q146_token_packing" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 4).as("shard"),
        sequence(col("doc_id") * 100,
          col("doc_id") * 100 + (col("doc_id") % 7)).as("toks"))
      operators.Chunking.packTokenBlocks(docs, "doc_id", "toks",
          blockSize = 16, eosId = 0L, shardCol = Some("shard"))
        .orderBy(col("shard"), col("block_id"))
    },

    // Registered-domain blocklist gate (r15): eTLD+1 extraction
    // (co.uk keeps 3 labels, ports stripped, case folded, IPv4
    // literals pass whole) feeding a broadcast deny-join — the
    // C4/FineWeb URL-filter layer. Blocklist = s{4i}.com, so the
    // .com arms (deep-subdomain and ported-uppercase) drop exactly
    // when k ≡ 0 mod 4 and the co.uk/.de/IP arms never do. Twin
    // re-derives domain and verdict from the %5/%40 arithmetic.
    "q147_domain_blocklist" -> { (s, dir) =>
      val k = (col("doc_id") % 40).cast(StringType)
      val host = when(col("doc_id") % 5 === 0, concat(lit("www.s"), k, lit(".co.uk")))
        .when(col("doc_id") % 5 === 1, concat(lit("a.b.s"), k, lit(".com")))
        .when(col("doc_id") % 5 === 2, concat(lit("s"), k, lit(".de")))
        .when(col("doc_id") % 5 === 3, concat(lit("S"), k, lit(".COM:8080")))
        .otherwise(concat(lit("192.168.0."), (col("doc_id") % 200).cast(StringType)))
      val docs = Tables(s, dir, "documents").select(col("doc_id"),
        concat(lit("http://"), host, lit("/p"),
          col("doc_id").cast(StringType)).as("url"))
      val blocked = s.range(10).select(
        concat(lit("s"), (col("id") * 4).cast(StringType), lit(".com")).as("domain"))
      Links.gateByDomain(docs, "url", blocked)
        .withColumn("registered_domain",
          Links.registeredDomain(operators.Robots.hostOf(col("url"))))
        .select(col("doc_id"), col("registered_domain"))
        .orderBy(col("doc_id"))
    },

    // Per-host response profile (r15): status-class counts and
    // envelope-parse failures keyed by host, through real WARC bytes
    // — a 200/301/404/503 rotation per doc with a %13 malformed-
    // payload arm (not an HTTP message → unparsed, overriding the
    // status arm). sum_bytes stays OUT of the gate (envelope byte
    // arithmetic belongs to the writer, not this oracle). Twin
    // re-derives every counter from the %6/%4/%13 arithmetic.
    "q148_host_profile" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q148").getAbsolutePath
      val hfs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast(StringType)
      val status = element_at(array(lit("200 OK"), lit("301 Moved Permanently"),
        lit("404 Not Found"), lit("503 Service Unavailable")),
        (col("doc_id") % 4).cast(IntegerType) + 1)
      val body = lit("profile body")
      val good = concat(
        concat(lit("HTTP/1.1 "), status,
          lit("\r\nContent-Type: text/html\r\nContent-Length: "),
          octet_length(body.cast(BinaryType)).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType), body.cast(BinaryType))
      val payload = when(col("doc_id") % 13 === 0,
          lit("GARBAGE this is not an http message").cast(BinaryType))
        .otherwise(good)
      val recs = docs.select(id.as("k"),
        concat(lit("http://hp"), (col("doc_id") % 6).cast(StringType),
          lit(".example/p"), id).as("u"), payload.as("p"))
      WarcShards.write(recs, "k", "u", "p", base, nShards = 4,
        warcType = "response", contentType = "application/http; msgtype=response")
      Corpus.hostProfile(
          s.read.format("graft.sources.WarcSource").option("path", base).load())
        .select(col("host"), col("n_responses"), col("n_2xx"), col("n_3xx"),
          col("n_4xx"), col("n_5xx"), col("n_unparsed"))
        .orderBy(col("host"))
    },

    // C4 cleaning rules (r15): Raffel 2020's line gate (terminal
    // punctuation + ≥5 words) with the page blocks (curly brace,
    // "lorem ipsum" case-insensitive) and the ≥2-surviving-lines
    // floor — one arm per rule, all from doc_id arithmetic: the %7
    // docs lose their second good line (page fails the floor), %13
    // adds a brace line, %17 a Lorem Ipsum line (blocked even though
    // the lorem line itself fails the line gate). Twin re-derives
    // every flag, counter and the cleaned text.
    "q149_c4_clean" -> { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val l1 = concat(lit("This is a good long sentence number "), id, lit("."))
      val l4 = when(col("doc_id") % 7 =!= 0,
          concat(lit("Another proper sentence with enough words "), id, lit("!")))
        .otherwise(lit("short."))
      val base = concat_ws("\n", l1, lit("Tiny line."),
        lit("No terminal punctuation in this line at all"), l4)
      val withBrace = when(col("doc_id") % 13 === 0,
        concat(base, lit("\ncode { brace"))).otherwise(base)
      val text = when(col("doc_id") % 17 === 0,
        concat(withBrace, lit("\nContains Lorem Ipsum filler."))).otherwise(withBrace)
      Corpus.c4Clean(
          Tables(s, dir, "documents").select(col("doc_id"), text.as("text")),
          "doc_id", "text", minLineWords = 5, minLines = 2)
        .orderBy(col("doc_id"))
    },

    // Recrawl staleness (r15): sitemap lastmod vs the fetch log —
    // odd ids never fetched (new); even ids compare a %28-derived
    // lastmod to a (3·id)%28-derived fetch date (modified/fresh);
    // the %3 arm drops lastmod entirely and falls back to the
    // 30-day age rule (aged/fresh). Dates as real DATEs, age as
    // exact day counts; twin re-derives all of it.
    "q150_recrawl_status" -> { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val entries = Tables(s, dir, "documents").select(
        concat(lit("http://rc.example/p"), id).as("loc"),
        when(col("doc_id") % 3 =!= 0,
          concat(lit("2026-01-"),
            lpad(((col("doc_id") % 28) + 1).cast(StringType), 2, "0"),
            lit("T08:30:00Z"))).as("lastmod"))
      val fetched = Tables(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(concat(lit("http://rc.example/p"), id).as("url"),
          concat(lit("2026-01-"),
            lpad(((col("doc_id") * 3 % 28) + 1).cast(StringType), 2, "0"))
            .as("fetched_at"))
      operators.Frontier.recrawlStatus(entries, "loc", "lastmod",
          fetched, "url", "fetched_at", asOf = "2026-02-15", maxAgeDays = 30)
        .orderBy(col("url"))
    },

    // Registered-domain extraction under the vendored PSL (r16; full
    // publicsuffix.org snapshot since r17): one row per doc mapping a
    // constructed host through the full publicsuffix.org algorithm —
    // ICANN 2-level (co.uk), private registry tenants (a.github.io
    // stays a.github.io, never github.io), wildcard (*.ck), the
    // wildcard's exception (!www.ck — deep.www.ck resolves to
    // www.ck), a 4-label exact rule (pvt.k12.ma.us), a deep wildcard
    // (*.compute.amazonaws.com — the regdom keeps FIVE labels), a
    // 2012-round bare gTLD (.fancy — listed only in the FULL
    // snapshot), case/port folding, an IPv4 literal, a registry the
    // old curated subset LACKED (co.mw — under the subset it
    // over-grouped to the bare 'co.mw'; the full list keeps the
    // publication, r17), and the implicit "*" rule on an RFC 2606
    // reserved TLD (.example — never in any PSL). The twin re-derives
    // every arm from the %11 arithmetic, so a precedence bug
    // (exception vs wildcard, longest-match), a label-count bug or a
    // snapshot-parse bug changes an arm and breaks the hash.
    "q151_registered_domain" -> { (s, dir) =>
      val k = (col("doc_id") % 40).cast(StringType)
      val m = col("doc_id") % 11
      val host = when(m === 0, concat(lit("www.s"), k, lit(".co.uk")))
        .when(m === 1, concat(lit("a.s"), k, lit(".github.io")))
        .when(m === 2, concat(lit("x.s"), k, lit(".ck")))
        .when(m === 3, lit("deep.www.ck"))
        .when(m === 4, concat(lit("sch.s"), k, lit(".pvt.k12.ma.us")))
        .when(m === 5, concat(lit("vm.s"), k, lit(".compute.amazonaws.com")))
        .when(m === 6, concat(lit("cdn.s"), k, lit(".fancy")))
        .when(m === 7, concat(lit("S"), k, lit(".GITHUB.IO:443")))
        .when(m === 8, concat(lit("news.s"), k, lit(".co.mw")))
        .when(m === 9, concat(lit("cdn.s"), k, lit(".example")))
        .otherwise(concat(lit("10.0."), (col("doc_id") % 200).cast(StringType),
          lit(".7:80")))
      Tables(s, dir, "documents").select(col("doc_id"),
          concat(lit("http://"), host, lit("/p")).as("url"))
        .withColumn("registered_domain",
          Links.registeredDomain(operators.Robots.hostOf(col("url"))))
        .select(col("doc_id"), col("registered_domain"))
        .orderBy(col("doc_id"))
    },

    // Main-content extraction under the gate (r16): every page wraps
    // the doc's text in article chrome — a link-dense nav div, a
    // short headline (rescued only by its good neighbour), the
    // <p>text</p> body (good iff the collapsed text clears the
    // 70-char floor), a short lead-out ("Read more soon." — rescued
    // from the OTHER side), two all-anchor related-links <li>s, a %3
    // LONG-but-link-dense paragraph (dies on density despite
    // length), and a short footer with no good neighbour (always
    // dies). The twin re-derives content/counts from the same
    // length arithmetic; a segmentation, density, length or
    // neighbour-rule bug moves blocks between classes and breaks
    // the hash.
    "q152_main_content" -> { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val page = concat(
        lit("<html><head><title>t"), id, lit("</title></head><body>"),
        lit("<div class=\"nav\"><a href=\"/h\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>"),
        lit("<h1>Story "), id, lit(" headline</h1>"),
        lit("<p>"), col("text"), lit("</p>"),
        lit("<div>Read more soon.</div>"),
        lit("<ul><li><a href=\"/1\">One</a></li>" +
          "<li><a href=\"/2\">Two</a></li></ul>"),
        when(col("doc_id") % 3 === 0,
          lit("<p><a href=\"/r\">read the full report here right now " +
            "today</a> and a little extra prose to pass the length " +
            "floor</p>")).otherwise(lit("")),
        lit("<div>copyright site "), id, lit("</div></body></html>"))
      Corpus.extractContent(
          Tables(s, dir, "documents").select(col("doc_id"), page.as("html")),
          "html")
        .select(col("doc_id"), col("content"),
          col("n_blocks").cast(LongType).as("n_blocks"),
          col("n_kept").cast(LongType).as("n_kept"))
        .orderBy(col("doc_id"))
    },

    // Unicode-robust fingerprint dedup under the gate (r16): parity
    // pairs (key = doc_id div 2, SCALE-INVARIANT — the first cut
    // keyed on %250 broke at sf0.1) — the even doc NFC-composed
    // (é as U+00E9, ά as U+03AC), the odd doc NFD-decomposed
    // (e+U+0301, α+U+0301) — and fingerprintUnicode must land each
    // pair in ONE class while the raw md5 sees two variants (except
    // the pure-ASCII arm, where both spellings are the same bytes
    // and the NFC fast path is a no-op). The twin derives class
    // structure INDEPENDENTLY from the parity arithmetic — an
    // algorithm, fast-path or script-erasure bug (the LangId lesson)
    // splits a class or merges the ASCII arm's variant count.
    "q158_unicode_fingerprint" -> { (s, dir) =>
      val key = ((col("doc_id") - pmod(col("doc_id"), lit(2))) / 2).cast(LongType)
      val k = key.cast(StringType)
      val composed = pmod(col("doc_id"), lit(2)) === 0
      val flavor = key % 3
      val text =
        when(flavor === 0 && composed,
          concat(lit("caf\u00e9 r\u00e9sum\u00e9 no "), k))
        .when(flavor === 0,
          concat(lit("cafe\u0301 re\u0301sume\u0301 no "), k))
        .when(flavor === 1 && composed,
          concat(lit("\u03b5\u03bb\u03bb\u03ac\u03b4\u03b1 "), k))
        .when(flavor === 1,
          concat(lit("\u03b5\u03bb\u03bb\u03b1\u0301\u03b4\u03b1 "), k))
        .otherwise(concat(lit("plain ascii text "), k))
      Tables(s, dir, "documents").select(col("doc_id"), text.as("t"))
        .groupBy(Text.fingerprintUnicode(col("t")).as("_fpu"))
        .agg(min(col("doc_id")).as("class_id"),
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("t"))).as("n_raw_variants"))
        .select(col("class_id"), col("n_docs"), col("n_raw_variants"))
        .orderBy(col("class_id"))
    },

    // Per-language stopword floor under the gate (r17, the r16
    // verdict's #4): a 6-arm multilingual page matrix — en/de/fr/es/
    // ru prose bodies plus an unknown-language arm — through
    // extractContentByLang with a 0.25 floor. Every body clears ITS
    // OWN language's function-word table (fractions 0.5–0.7 by
    // construction); the keyword-spam block scores 0 under every
    // table and dies for the five known languages (long blocks are
    // never rescued) but SURVIVES the unknown-language arm (no table
    // ⇒ floor disabled ⇒ length/density alone — the never-false-
    // reject contract), dragging the short footer back in with it
    // (rescue is short-blocks-only, one hop). A dispatch bug (wrong
    // table for a row — the row-4 device in MainContentSpec), a
    // broken null fallback, or a lowercasing regression moves a
    // survivor set and breaks the hash. Twin = the q151 device:
    // independent expected outputs stated from the arm arithmetic.
    "q159_multilang_floor" -> { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val m = col("doc_id") % 6
      val lang = when(m === 0, lit("en")).when(m === 1, lit("de"))
        .when(m === 2, lit("fr")).when(m === 3, lit("es"))
        .when(m === 4, lit("ru")).otherwise(lit("zz"))
      val enS = "the cat and the dog were in the house with a ball " +
        "and it was not far from the garden"
      val deS = "der hund und die katze sind in dem haus mit einem " +
        "ball und es war nicht weit von dem garten"
      val frS = "le chien et le chat sont dans la maison avec un " +
        "ballon et il ne est pas loin du jardin"
      val esS = "el perro y el gato son en la casa con una pelota y " +
        "no es lejos del jardín como siempre"
      val ruS = "и собака и " +
        "кошка были " +
        "в доме с " +
        "мячом и это " +
        "было не " +
        "далеко от " +
        "сада но они " +
        "были там"
      val body = when(m === 1, lit(deS)).when(m === 2, lit(frS))
        .when(m === 3, lit(esS)).when(m === 4, lit(ruS))
        .otherwise(lit(enS))
      val spam = "buy cheap widgets gadgets doohickeys trinkets " +
        "gizmos contraptions implements apparatus equipment hardware"
      val page = concat(
        lit("<html><body><div class=\"nav\"><a href=\"/h\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>"),
        lit("<h1>Story "), id, lit(" headline</h1><p>"), body,
        lit("</p><p>" + spam + "</p><div>copyright site "), id,
        lit("</div></body></html>"))
      Corpus.extractContentByLang(
          Tables(s, dir, "documents").select(col("doc_id"),
            lang.as("lang"), page.as("html")),
          "html", "lang", minStopwordFrac = 0.25)
        .select(col("doc_id"), col("lang"), col("content"),
          col("n_blocks").cast(LongType).as("n_blocks"),
          col("n_kept").cast(LongType).as("n_kept"))
        .orderBy(col("doc_id"))
    },

    // C4 bad-words page gate under the hash (r17): Raffel 2020's
    // other page rule — any page containing a word from the block
    // list dies wholesale, matched at WORD BOUNDARIES (case-folded,
    // punctuation-tolerant). Arms: %3 docs carry a blocked token
    // ("Shit," — case + trailing comma must still match) on an
    // otherwise-keepable line (the LINE survives its own rules, the
    // PAGE dies — gate vs line-rule independence); %5==1 docs carry
    // "dickens"/"shitake" — superstrings of list words that must NOT
    // match (the substring-gate false positive this arm exists to
    // catch); the short unpunctuated line fails the line rules
    // everywhere. Twin restates the outcome from the arm arithmetic.
    "q160_c4_badwords" -> { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val l1 = concat(lit("the first line of document "), id,
        lit(" has plenty of words."))
      val l2 = when(col("doc_id") % 5 === 1,
          lit("the dickens classic shitake story is surely long enough."))
        .otherwise(
          lit("another perfectly normal sentence follows right here today."))
      val l3 = lit("short line")
      val l4 = lit("this page also mentions Shit, somewhere else.")
      val text = when(col("doc_id") % 3 === 0, concat_ws("\n", l1, l2, l3, l4))
        .otherwise(concat_ws("\n", l1, l2, l3))
      Corpus.c4Clean(
          Tables(s, dir, "documents").select(col("doc_id"), text.as("text")),
          "doc_id", "text", minLines = 2,
          blockWords = graft.functions.Text.BadWordsEnglish)
        .select(col("doc_id"), col("kept"),
          col("n_lines").cast(LongType).as("n_lines"),
          col("n_kept").cast(LongType).as("n_kept"),
          col("text_clean"))
        .orderBy(col("doc_id"))
    },

    // Temperature-weighted mixing under the gate (r17): four strata
    // of deliberately uneven sizes (web 3/7, wiki 2/7, code 1/7,
    // books 1/7 of the corpus) through alpha=0.5 at a 200-doc budget
    // — sqrt weighting upsamples the small strata relative to
    // proportional (the operator's reason to exist; the twin's floor
    // arithmetic re-derives the exact per-stratum targets, and the
    // md5 ranking pins WHICH documents are kept, not just how many).
    // alpha=0.5 routes through IEEE sqrt and the fixture's targets
    // sit far from floor boundaries (….62/.95/.85 at both SFs), so
    // the double arithmetic is engine-safe under the hash.
    "q161_temperature_mix" -> { (s, dir) =>
      val m = col("doc_id") % 7
      val stratum = when(m < 3, lit("web")).when(m < 5, lit("wiki"))
        .when(m === 5, lit("code")).otherwise(lit("books"))
      Corpus.temperatureMix(
          Tables(s, dir, "documents").select(col("doc_id"), stratum.as("stratum")),
          "stratum", "doc_id", totalBudget = 200L, alpha = 0.5,
          seed = "v1", family = "md5")
        .select(col("doc_id"), col("stratum"))
        .orderBy(col("doc_id"))
    },

    // Non-Latin-script stopword floors + the per-language floor
    // override (r18, the r17 verdict's #5): six arms over the q159
    // page template. ar/hi/el/he bodies are function-word-dense RTL/
    // Devanagari/Greek/Hebrew prose (fractions 0.41–0.68, far above
    // the 0.25 global floor); the kk body sits at exactly 4/18 =
    // 0.222 — UNDER the 0.25 global floor (Kazakh agglutination is
    // real: case/tense morphemes attach to content words) but over
    // its floorByLang("kk" -> 0.15) override, so the arm keeps iff
    // the per-language floor actually reaches the gate; the ja arm
    // has NO stopword table (unsegmented script — structural
    // exclusion), which disables the floor for the row and the spam
    // paragraph rides through on length alone, exactly q159's zz
    // arm. Twin restates outcomes from the arm arithmetic.
    "q162_script_floor" -> { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val m = col("doc_id") % 6
      val lang = when(m === 0, lit("ar")).when(m === 1, lit("hi"))
        .when(m === 2, lit("el")).when(m === 3, lit("he"))
        .when(m === 4, lit("kk")).otherwise(lit("ja"))
      val arS = "كان البيت في الحديقة قبل المساء وكان الأطفال هناك مع الكلب ولم يكن هذا بعيدا عن النهر"
      val hiS = "घर में एक कुत्ता था और वह बगीचा के पास था पर यह नदी से बहुत दूर नहीं था"
      val elS = "και το σπίτι ήταν στον κήπο με ένα σκυλί και δεν ήταν μακριά από το ποτάμι αλλά ήταν πολύ ωραία"
      val heS = "הבית היה על יד הגן עם כלב קטן וזה לא היה רחוק מן הנהר אבל זה היה טוב מאוד היום"
      val kkS = "үй бақшада тұрады және ит ауланы күзетеді бірақ өзен алыс емес балалар таңертең мектепке барады олар кешке қайтады"
      val jaS = "今日は天気がとても良いので私たちは公園へ行きますそして子供たちは午後の間ずっと庭で遊んでいます明日は雨が降るかもしれませんが今日はとても楽しい一日になります"
      val body = when(m === 0, lit(arS)).when(m === 1, lit(hiS))
        .when(m === 2, lit(elS)).when(m === 3, lit(heS))
        .when(m === 4, lit(kkS)).otherwise(lit(jaS))
      val spam = "buy cheap widgets gadgets doohickeys trinkets " +
        "gizmos contraptions implements apparatus equipment hardware"
      val page = concat(
        lit("<html><body><div class=\"nav\"><a href=\"/h\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>"),
        lit("<h1>Story "), id, lit(" headline</h1><p>"), body,
        lit("</p><p>" + spam + "</p><div>copyright site "), id,
        lit("</div></body></html>"))
      Corpus.extractContentByLang(
          Tables(s, dir, "documents").select(col("doc_id"),
            lang.as("lang"), page.as("html")),
          "html", "lang", minStopwordFrac = 0.25,
          floorByLang = Map("kk" -> 0.15))
        .select(col("doc_id"), col("lang"), col("content"),
          col("n_blocks").cast(LongType).as("n_blocks"),
          col("n_kept").cast(LongType).as("n_kept"))
        .orderBy(col("doc_id"))
    },

    // Stopword-floor content extraction under the gate (r16): the
    // jusText prose discriminator — the body paragraph keeps iff the
    // collapsed doc text clears BOTH the 70-char floor AND a 0.05
    // stopword fraction (the data-dependent conjunction: 312/500
    // docs pass sf, 484 pass length); a LONG link-free keyword-spam
    // block (sf = 0) dies despite its length and must NOT ride back
    // in on its good neighbour (rescue is short-blocks-only); the
    // short headline still rescues off the body (the floor applies
    // to long blocks only — headings rarely contain stopwords). Twin
    // replays the token/stopword arithmetic on the collapsed text.
    "q157_content_stopword" -> { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val page = concat(
        lit("<html><body><div class=\"nav\"><a href=\"/h\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>"),
        lit("<h1>Story "), id, lit(" headline</h1><p>"), col("text"),
        lit("</p><p>buy cheap widgets gadgets doohickeys trinkets gizmos " +
          "contraptions implements apparatus equipment hardware</p>"),
        lit("<ul><li><a href=\"/1\">More</a></li></ul>" +
          "<div>copyright site "), id, lit("</div></body></html>"))
      Corpus.extractContent(
          Tables(s, dir, "documents").select(col("doc_id"), page.as("html")),
          "html", minStopwordFrac = 0.05)
        .select(col("doc_id"), col("content"),
          col("n_blocks").cast(LongType).as("n_blocks"),
          col("n_kept").cast(LongType).as("n_kept"))
        .orderBy(col("doc_id"))
    },

    // Web-pipeline composition under the gate (r16, the q41/q145
    // device applied to the crawl-text chain): chrome-laden pages →
    // main-content extraction (q152's classifier) → token-count
    // quality floor → whole-document fingerprint dedup keep-first.
    // Every %5 doc serves an identical mirror page (constant body),
    // so the dedup stage must collapse them to doc 0; the rest keep
    // exactly when their extracted body clears the floor. Each stage
    // is individually oracled (q152/q16/q15) — this gates that they
    // COMPOSE: a classification, token-count, normalization or
    // keep-first bug moves the survivor set or a count.
    "q155_web_pipeline" -> { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val perDoc = concat(
        lit("<html><body><div class=\"nav\"><a href=\"/h\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>"),
        lit("<h1>Story "), id, lit(" headline</h1><p>"), col("text"),
        lit("</p><ul><li><a href=\"/1\">One</a></li>" +
          "<li><a href=\"/2\">Two</a></li></ul>" +
          "<div>copyright site "), id, lit("</div></body></html>"))
      val constPage = lit("<html><body><div><a href=\"/h\">Home</a> " +
        "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>" +
        "<p>The weekly status update repeats verbatim on every mirror " +
        "of this site, word for word and byte for byte.</p>" +
        "<ul><li><a href=\"/m\">Mirrors</a></li></ul></body></html>")
      val pages = Tables(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0, constPage).otherwise(perDoc).as("html"))
      // aggregate barrier on the unique id: the downstream filter
      // (pushdown substitutes into it — the r11 lesson), window key
      // and output select would otherwise each re-inline the whole
      // extraction chain (measured: 6.6 s -> barrier'd re-measure in
      // SCALE.md r16)
      val extracted = Corpus.extractContent(pages, "html")
        .groupBy(col("doc_id"))
        .agg(first(col("content")).as("content"),
          first(col("n_kept")).as("n_kept"))
      val kept = extracted.filter(Text.tokenCount(col("content")) >= 5)
      val w = Window.partitionBy(Text.fingerprint(col("content")))
        .orderBy(col("doc_id"))
      kept.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("doc_id"),
          col("n_kept").cast(LongType).as("n_kept"),
          Text.tokenCount(col("content")).cast(LongType).as("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // Deterministic training-order shuffle under the gate (r16):
    // shard + in-shard position as a pure function of (seed, id) —
    // md5 over "v1:<id>", shard = 15-hex-prefix int64 mod 8, seq =
    // dense rank within the shard over (hash, id). The twin replays
    // the identical arithmetic; a hash-input, prefix-width, modulo
    // or ordering bug moves every position.
    "q156_shuffle_shards" -> { (s, dir) =>
      Corpus.shuffleShards(Tables(s, dir, "documents").select(col("doc_id")),
          "doc_id", seed = "v1", nShards = 8)
        .select(col("doc_id"), col("shard"), col("seq"))
        .orderBy(col("doc_id"))
    },

    // Weighted PageRank under the gate (r16): the q139 graph with
    // per-edge multiplicities ((o_orderkey % 9) + 1 — duplicate
    // (src,dst) pairs SUM their weights, the hostGraph n_links
    // convention), 3 iterations; contributions are (rank·w) // W(u)
    // through the overflow-safe identity, so the twin's hugeint
    // (rank*w)//W reproduces every unit exactly. A weighting,
    // aggregation or out-degree bug moves integer units and breaks
    // the hash; the ORDERING also differs from q139's simple-graph
    // ranks (the spec asserts that on a crafted pair).
    "q154_weighted_pagerank" -> { (s, dir) =>
      val edges = Tables(s, dir, "orders")
        .select((col("o_orderkey") % 40).as("si"),
          ((col("o_orderkey") * 7 + 3) % 40).as("di"),
          ((col("o_orderkey") % 9) + 1).as("w"))
        .filter(col("si") % 7 =!= 0)
        .select(concat(lit("h"), col("si").cast(StringType)).as("src"),
          concat(lit("h"), col("di").cast(StringType)).as("dst"),
          col("w"))
      Links.pageRank(edges, "src", "dst", iterations = 3,
          weightCol = Some("w"))
        .orderBy(col("node"))
    },

    // Gzip-FILE sitemaps under the gate (r16): odd docs serve a
    // sitemap.xml.gz as application/octet-stream with NO
    // Content-Encoding header (the common large-site case — the gzip
    // is a property of the FILE, not the transfer); even docs serve
    // plain per-doc XML. entriesOf must magic-sniff the 1F 8B body,
    // inflate through the shared chain, and parse — a sniff, inflate
    // or routing bug drops (or garbles) every odd row. The gzip
    // bytes are built driver-side once (Java's GZIPOutputStream is
    // deterministic: mtime=0) for a CONSTANT sitemap, so the twin is
    // pure arithmetic.
    "q153_gzip_sitemap" -> { (s, dir) =>
      val constXml = "<urlset><url><loc>http://gz.example/a</loc></url>" +
        "<url><loc>http://gz.example/b</loc></url></urlset>"
      val bos = new java.io.ByteArrayOutputStream()
      val gzo = new java.util.zip.GZIPOutputStream(bos)
      gzo.write(constXml.getBytes("UTF-8")); gzo.close()
      val gzBytes = bos.toByteArray
      val id = col("doc_id").cast(StringType)
      val plainXml = concat(lit("<urlset><url><loc>http://s.example/p"), id,
        lit("</loc></url></urlset>"))
      val recs = Tables(s, dir, "documents").select(
        lit("response").as("warc_type"),
        concat(lit("http://s.example/sm"), id,
          when(col("doc_id") % 2 === 1, lit(".xml.gz"))
            .otherwise(lit(".xml"))).as("target_uri"),
        lit(200).as("http_status"),
        when(col("doc_id") % 2 === 1, lit("application/octet-stream"))
          .otherwise(lit("text/xml")).as("http_content_type"),
        lit(null).cast(StringType).as("http_content_encoding"),
        lit(null).cast(StringType).as("http_transfer_encoding"),
        when(col("doc_id") % 2 === 1, lit(gzBytes))
          .otherwise(plainXml.cast(BinaryType)).as("body"))
      operators.Sitemaps.entriesOf(recs)
        .select(col("sitemap_url"), col("kind"), col("loc"))
        .orderBy(col("sitemap_url"), col("loc"))
    },

    // doc_id per content fingerprint) → chunking — aggregated per
    // source. Each stage is individually oracled (q19/q15/q39); this
    // gates their composition.
    "q41_curation_pipeline" -> { (s, dir) =>
      val kept = Tables(s, dir, "documents")
        .withColumn("quality", Text.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
        .withColumn("_fp", Text.fingerprint(col("text")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_fp")).orderBy(col("doc_id"))
      val deduped = kept.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
      deduped
        .select(col("source"), Text.tokens(col("text")).as("_toks"))
        .select(col("source"),
          operators.Chunking.chunksFromTokens(col("_toks"), 64, 48).as("_chunks"))
        .select(col("source"),
          size(col("_chunks")).cast(LongType).as("_nc"),
          aggregate(transform(col("_chunks"), c => size(split(c, " "))),
            lit(0), (a, b) => a + b).cast(LongType).as("_ct"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_nc")).as("n_chunks"),
          sum(col("_ct")).as("sum_chunk_tokens"))
        .orderBy(col("source"))
    },

    // S5-JDBC under the gate: the idempotent JDBC sink against a real
    // embedded database (Derby, in /opt/spark/jars) — wire rows derive
    // from orders, append TWICE through the range-bounded anti-join
    // (the second must DO-NOTHING), read back over JDBC. The DuckDB
    // twin derives the same rows in SQL; a duplicate or a dropped row
    // anywhere in the sink path breaks the row count or the hash.
    "q38_jdbc_roundtrip" -> { (s, dir) =>
      val url = "jdbc:derby:memory:graftq38;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().execute(
        """create table logs (
          |  address clob, topic0 clob, topic1 clob,
          |  topic2 clob, topic3 clob, data clob,
          |  block_hash varchar(66) not null, block_number bigint,
          |  transaction_hash varchar(66) not null, transaction_index bigint,
          |  log_index bigint not null, removed boolean, block_timestamp timestamp,
          |  primary key (block_hash, transaction_hash, log_index))""".stripMargin)
      catch { // X0Y32 = table exists (same-JVM rerun): reset contents
        case e: java.sql.SQLException if e.getSQLState == "X0Y32" =>
          conn.createStatement().execute("delete from logs")
      } finally conn.close()
      val batch = Tables(s, dir, "orders").filter(col("o_orderkey") % 5 === 2).select(
        format_string("0x%040x", col("o_custkey")).as("address"),
        lit(TransferSig).as("topic0"),
        format_string("0x%064x", col("o_custkey")).as("topic1"),
        lit(null).cast(StringType).as("topic2"),
        lit(null).cast(StringType).as("topic3"),
        format_string("0x%064x", col("o_orderkey") * 3).as("data"),
        format_string("0xb%x", col("o_orderkey")).as("block_hash"),
        col("o_orderkey").as("block_number"),
        format_string("0xt%x", col("o_orderkey")).as("transaction_hash"),
        lit(0L).as("transaction_index"),
        (col("o_orderkey") % 7).as("log_index"),
        lit(false).as("removed"),
        lit(null).cast(TimestampType).as("block_timestamp"))
      graft.sinks.JdbcSink.appendIdempotent(batch, url, "logs",
        graft.sources.Logs.pk, rangeCol = Some("block_number"))
      graft.sinks.JdbcSink.appendIdempotent(batch, url, "logs",
        graft.sources.Logs.pk, rangeCol = Some("block_number"))
      s.read.jdbc(url, "logs", new java.util.Properties())
        .select(col("address"), col("topic0"), col("topic1"), col("data"),
          col("block_number"), col("transaction_hash"),
          col("transaction_index"), col("log_index"), col("removed"))
        .orderBy(col("block_number"))
    },

    // §2.11 under the gate: the reference's Transfer view SQL TEXT
    // (init.sql:221 body, modulo ::text casts) parsed by spark.sql
    // through the registered no-UDF function surface, then aggregated —
    // same values as the Column-API path (q12), but through the
    // analyst-facing SQL entry point
    "q37_sql_surface_view" -> { (s, dir) =>
      graft.functions.Abi.registerSqlFunctions(s)
      syntheticTransferLogs(s, dir).createOrReplaceTempView("graft_q37_logs")
      s.sql(
        s"""select to_address(2, topic1) as from_addr,
           |       to_address(2, topic2) as to_addr,
           |       to_uint256(2, data) as amount,
           |       address as contract_address
           |from graft_q37_logs
           |where topic0 = '$TransferSig'""".stripMargin)
        .groupBy(col("contract_address"))
        .agg(count(lit(1)).as("n_transfers"),
          sum(col("amount")).cast(DoubleType).as("total_amount"),
          max(col("to_addr")).as("to_max"))
        .orderBy(col("contract_address"))
    },

    // REAL container-format probing under the gate: minimal valid
    // PNG/JPEG/GIF/WAV files synthesized per doc, headers parsed back
    // by FormatProbe (signature dispatch, SOF walk, RIFF fields); the
    // DuckDB twin derives the expected metadata from doc_id arithmetic
    // — an endianness or offset bug anywhere flips the hash red
    "q36_media_probe" -> { (s, dir) =>
      Multimodal.probeMeta(Multimodal.syntheticRealMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },

    // F7/F8/F9/F20-compat under the gate: strtol, from_hex round-trip,
    // from_varbyte text decode, and the reference's 3-element fixed-
    // array text render, each against a pure-SQL DuckDB twin
    "q34_scalar_decode_batch" -> { (s, dir) =>
      val bare = (c: Column) => lpad(lower(hex(c)), 64, "0")
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          bare(col("o_orderkey")).as("_bw"),
          concat(lit("0x"), bare(col("o_orderkey"))).as("_w"),
          concat(lit("0x"), bare(col("o_orderkey")), bare(col("o_orderkey") + 1),
            bare(col("o_orderkey") + 2)).as("_arr3"),
          concat(lit("0x"), lower(hex(col("o_orderpriority")))).as("_txthex"))
        .select(col("o_orderkey"),
          Abi.strtol(col("_bw"), 64).as("strtol_key"),
          hex(Abi.fromHex(col("_w"))).as("hex_roundtrip"),
          Abi.fromVarbyte(Abi.fromHex(col("_txthex")), "UTF-8").as("prio_text"),
          Abi.toFixedArrayCompat(2, col("_arr3"), "uint64", 3).as("fixed3"))
        .orderBy(col("o_orderkey"))
    },

    // T4 write path under the gate: ingest a wire capture, land
    // same-PK tombstones via the canonicalizing append, replay the
    // ORIGINAL inserts (must not resurrect), read the canonical view.
    // The DuckDB twin derives the surviving rows in pure SQL.
    "q35_tombstone_roundtrip" -> { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q35").toString
      val base = Tables(s, dir, "orders").filter(col("o_orderkey") % 10 === 1)
      def wire(rows: org.apache.spark.sql.DataFrame, removed: Boolean) =
        rows.select(to_json(struct(
          format_string("0x%040x", col("o_custkey")).as("address"),
          array(lit(TransferSig), format_string("0x%064x", col("o_custkey"))).as("topics"),
          format_string("0x%064x", col("o_orderkey") * 3).as("data"),
          format_string("0xb%x", col("o_orderkey")).as("blockHash"),
          format_string("0x%x", col("o_orderkey")).as("blockNumber"),
          format_string("0xt%x", col("o_orderkey")).as("transactionHash"),
          lit("0x0").as("transactionIndex"),
          format_string("0x%x", col("o_orderkey") % 7).as("logIndex"),
          lit(removed).as("removed"))).as("j"))
      wire(base, removed = false).write.mode("overwrite").text(s"$work/w1")
      wire(base.filter(col("o_orderkey") % 50 === 1), removed = true)
        .write.mode("overwrite").text(s"$work/w2")
      val t = s"$work/logs"
      graft.sources.Logs.appendIdempotent(s, graft.sources.Logs.readNdjson(s, s"$work/w1"), t)
      graft.sources.Logs.appendIdempotent(s, graft.sources.Logs.readNdjson(s, s"$work/w2"), t,
        canonicalize = true)
      graft.sources.Logs.appendIdempotent(s, graft.sources.Logs.readNdjson(s, s"$work/w1"), t,
        canonicalize = true)
      graft.sources.Logs.canonical(graft.sources.Logs.read(s, t))
        .select(col("address"), col("block_number"), col("log_index"), col("removed"))
        .orderBy(col("block_number"))
    },

    // A2 sketch aggregation: approx_count_distinct (HLL++). The sketch
    // value isn't cross-engine reproducible, but the ±5% accuracy
    // CONTRACT is gate-able: project the exact counts plus a
    // within-tolerance boolean; the oracle computes the same exact
    // counts and literal `true` — sketch drift past 5% flips the hash
    // Plan note: two countDistinct + two approx in ONE aggregate forces
    // an Expand (input ×5) — measured 16.6 s at sf0.1. Instead each key
    // pre-distincts independently (map-side combinable) and the sketch
    // runs over the distinct values — HLL is duplicate-insensitive, so
    // the estimate is identical — then a 6-row join reassembles. ~3×.
    "q30_approx_distinct" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      def side(key: String, exact: String, tol: String) = li
        .select(col("l_returnflag"), col(key)).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as(exact),
          approx_count_distinct(col(key), 0.02).as("_a"))
        .select(col("l_returnflag"), col(exact),
          (abs(col("_a") - col(exact)) <= col(exact) * 0.05).as(tol))
      side("l_partkey", "exact_parts", "parts_within_tol")
        .join(side("l_orderkey", "exact_orders", "orders_within_tol"),
          Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    },

    // Benchmark decontamination under the gate: src0 plays the eval
    // benchmark, the other 19 sources the training corpus; token
    // trigrams (production uses 13-grams — the fixture docs are ~30
    // tokens). Broadcast benchmark gram set → map-side join; both
    // per-doc aggregates partial-combinable. Fraction = one IEEE
    // division of exact integers (hash-exact cross-engine).
    "q66_decontamination" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Corpus.contamination(
          docs.filter(col("source") =!= "src0"), "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", n = 3)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_hits"),
          col("contamination_frac"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition signals under the gate: per-doc top
    // bigram coverage and duplicate-bigram occurrence fraction over
    // the whole documents table, left-joined back so sub-bigram docs
    // surface as zero repetition rather than vanishing.
    "q67_repetition_signals" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val sig = Corpus.repetitionSignals(docs, "doc_id", "text", n = 2)
      docs.select(col("doc_id"))
        .join(sig.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("top_cnt"), lit(0L)).as("top_cnt"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("top_gram_frac"), lit(0.0)).as("top_gram_frac"),
          coalesce(col("dup_gram_frac"), lit(0.0)).as("dup_gram_frac"))
        .orderBy(col("doc_id"))
    },

    // PII detection/redaction under the gate. The fixture tables carry
    // no real PII, so both engines deterministically CONSTRUCT the
    // same prose (name + derived email/phone/IP) from `customer`, then
    // the Spark side runs the real operator (Text.withPiiSignals) and
    // the oracle re-expresses the same regexes in RE2 — gating match
    // spans, class order, and the redacted string hash-exactly.
    "q68_pii_redaction" -> { (s, dir) =>
      val raw = concat(col("c_name"), lit(" contact user"),
        col("c_custkey").cast(StringType), lit("@example.com or +1-"),
        lpad(((col("c_custkey") * 7) % 900 + 100).cast(StringType), 3, "0"),
        lit("-555-"),
        lpad(((col("c_custkey") * 13) % 10000).cast(StringType), 4, "0"),
        lit(" ip 10."), (col("c_custkey") % 256).cast(StringType),
        lit(".0."), ((col("c_custkey") * 3) % 256).cast(StringType))
      Text.withPiiSignals(
          Tables(s, dir, "customer").select(col("c_custkey"), raw.as("text")),
          "text")
        .select(col("c_custkey"),
          col("n_emails").cast(LongType).as("n_emails"),
          col("n_ips").cast(LongType).as("n_ips"),
          col("n_phones").cast(LongType).as("n_phones"),
          col("redacted"))
        .orderBy(col("c_custkey"))
    },

    // Product-quantization ADC under the gate, via the lossless
    // degenerate codebook (every distinct sub-vector its own centroid
    // — the q49 full-probe trick): encoding must pick each row's own
    // sub-vectors and the ADC lookup sum then equals the
    // subspace-grouped exact dot bit-for-bit, which DuckDB reproduces
    // with nested list_sums in the same order. A wrong code, wrong
    // slice boundary, or wrong LUT entry all flip the hash. The lossy
    // trained path (k ≪ n) is spec'd for shortlist recall instead.
    // The gate subset is bounded (vec_id < 500) because the lossless
    // codebook is k=n: its assignment join is O(n²) FLOPs BY DESIGN —
    // a gate device, not the production path (trained k ≪ n is
    // linear). A fixed subset keeps the degenerate cost flat at every
    // SF while still gating every moving part.
    "q69_pq_adc_topk" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings").filter(col("vec_id") < 500)
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val cb = Similarity.pqCodebookExact(e, "embedding", m = 8)
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb)
      Similarity.pqAdcTopK(codes, "vec_id", q, cb, 20)
    },

    // Exact-substring dedup signal under the gate: corpus-wide trigram
    // window census → duplicated-interval union per doc, left-joined
    // so clean docs surface as zeros.
    "q70_duplicated_spans" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val sig = Dedup.duplicatedSpans(docs, "doc_id", "text", w = 3)
      docs.select(col("doc_id"))
        .join(sig.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          coalesce(col("dup_token_frac"), lit(0.0)).as("dup_token_frac"))
        .orderBy(col("doc_id"))
    },

    // IVF-PQ persisted index under the gate (the FAISS composition,
    // q49 × q69): trained coarse centroids partition the codes-only
    // index; nprobe=all + the lossless codebook degenerate the ADC
    // search to exact subspace-grouped dot — so the whole
    // train→encode→write→prune→ADC path shares q69's DuckDB twin.
    // Queries read codes partitions only; no vector column exists in
    // the index at all.
    "q71_ivfpq_index_topk" -> { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q71").toString
      // bounded like q69: the lossless codebook is the O(n²) gate device
      val e = Tables(s, dir, "embeddings").filter(col("vec_id") < 500)
      val centroids = Similarity.trainCentroids(e, "vec_id", "embedding", k = 8, iters = 2)
      val cb = Similarity.pqCodebookExact(e, "embedding", m = 8)
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      Similarity.pqIvfWriteIndex(e, "vec_id", "embedding", centroids, cb, s"$work/ivfpq")
      Similarity.pqIvfTopKFromIndex(s, s"$work/ivfpq", "vec_id", q,
        centroids, cb, k = 20, nprobe = centroids.length)
    },

    // q72 (compression-ratio signal) was retired from the gate in
    // r12 after five rounds as the lone rows-only entry: deflate
    // output is zlib-build-specific, so no DuckDB twin can exist,
    // and a literal-only fixed-Huffman surrogate degenerates to a
    // pure length function on the ASCII fixture corpus (gating
    // nothing). `Text.compressionRatio` stays production + spec-gated
    // (separation/edge spec) and CLI-driven (`ProfileCorpus` deflate
    // means); the q75 composition gate covers the surrounding
    // profile plumbing hash-exactly.

    // URL canonicalization under the gate (the CommonCrawl dedup
    // key). The fixture has no URL column, so both engines construct
    // the same three URL shapes from `part` (http:80 + doubled
    // slashes + trailing slash + utm/ref params + fragment; https:443
    // + gclid; a non-URL passthrough) and canonicalize — every branch
    // of the operator crosses the hash.
    "q73_url_canonicalize" -> { (s, dir) =>
      val pk = col("p_partkey").cast(StringType)
      val raw = when(col("p_partkey") % 11 === 0, lit("not a url"))
        .when(col("p_partkey") % 2 === 0, concat(
          lit("HTTP://Shop.Example.COM:80//catalog//item/"), pk,
          lit("/?utm_source=feed&id="), pk, lit("&ref=x&b=2&a=1#frag")))
        .otherwise(concat(
          lit("HTTPS://Shop.Example.COM:443/item/"), pk,
          lit("?gclid=g&z=9&id="), pk, lit("#s")))
      Text.withCanonicalUrl(
          Tables(s, dir, "part").select(col("p_partkey"), raw.as("url")), "url")
        .select(col("p_partkey"), col("canonical_url"))
        .orderBy(col("p_partkey"))
    },

    // Incremental dedup under the gate: the corpus signatures persist
    // to a parquet index, then a PLANTED batch (every doc_id≡3 mod 17,
    // one appended token → jaccard ≈0.97 vs its source) dedups against
    // index + itself — old-old pairs never enter the plan. The DuckDB
    // twin is all-pairs exact jaccard over the union RESTRICTED to
    // pairs touching the batch, so the gate also proves the banding
    // loses no batch-touching pair at this threshold (q33's contract,
    // incrementally).
    "q74_incremental_dedup" -> { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q74").toString
      val docs = Tables(s, dir, "documents")
      Dedup.minhashWriteIndex(docs, "doc_id", "text", s"$work/sigidx",
        numHashes = 32, shingleK = 2)
      val newBatch = docs.filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" graftnew")).as("text"))
      Dedup.incrementalNearDuplicates(s, newBatch, "doc_id", "text",
          s"$work/sigidx", docs.select(col("doc_id"), col("text")),
          minJaccard = 0.6, numHashes = 32, bands = 16, shingleK = 2,
          minEstimate = 0.1, maxBucket = 1000)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Corpus profiling under the gate (the q41-style COMPOSITION
    // check, for the signal stack): per-source doc/token counts,
    // language-ID agreement, unique-fingerprint count, mean quality,
    // mean bigram-duplication — one plan over langid + quality +
    // fingerprints + repetition. Double means go through decimal
    // sums (exact, order-independent) and ONE final division; counts
    // stay integer end-to-end — the whole profile hash-matches.
    "q75_corpus_profile" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val staged = Text.withLangId(docs, "text").select(
        col("doc_id"), col("source"), col("lang"), col("lang_guess"),
        Text.qualityScore(col("text")).as("q"),
        Text.tokenCount(col("text")).cast(LongType).as("ntok"),
        Text.fingerprint(col("text")).as("fp"))
      val rep = Corpus.repetitionSignals(docs, "doc_id", "text", n = 2)
        .select(col("id").as("doc_id"), col("dup_gram_frac"))
      staged.join(rep, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("total_tokens"),
          sum(when(col("lang_guess") === col("lang"), 1L).otherwise(0L))
            .as("n_lang_match"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("q").cast(DecimalType(18, 12))).as("_qsum"),
          sum(coalesce(col("dup_gram_frac"), lit(0.0)).cast(DecimalType(18, 12)))
            .as("_dsum"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("n_lang_match"), col("n_unique"),
          (col("_qsum").cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("avg_quality"),
          (col("_dsum").cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("avg_dup_frac"))
        .orderBy(col("source"))
    },

    // BPE encode under the gate, with a FIXED merge list hardcoded
    // identically in both engines (training is iterative/driver-side,
    // so the oracle can't re-derive merges — it CAN re-run the encode:
    // spaced-symbol framing + chained literal replaces execute with
    // identical left-to-right scans in Java and DuckDB, so symbol
    // sequence and count hash-match). Training is spec'd against the
    // canonical Sennrich example.
    "q76_bpe_encode" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws("|", Bpe.encode(col("text"), Q76Merges)).as("encoded"),
          Bpe.tokenCount(col("text"), Q76Merges).cast(LongType).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    },

    // q76's encode via the PRODUCTION loop path (Bpe.encodeDocs:
    // rank-greedy mapPartitions, merge-count-independent) — the gated
    // proof that the loop encoder agrees with an independent engine
    // under the same merge list.
    "q82_bpe_encode_loop" -> { (s, dir) =>
      Bpe.encodeDocs(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", Q76Merges, outCol = "toks")
        .select(col("doc_id"),
          concat_ws("|", col("toks")).as("encoded"),
          size(filter(col("toks"), t => t =!= "</w>")).cast(LongType).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    },

    // Data mixing under the gate: per-source systematic rates (src0
    // keeps 1/2, src1 1/3, src2 1/4, everything else 1/5) — the
    // deterministic mixture-targeting sampler.
    "q77_data_mixing" -> { (s, dir) =>
      Corpus.mixSystematic(
          Tables(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id",
          Map("src0" -> 2, "src1" -> 3, "src2" -> 4), defaultEvery = 5)
        .orderBy(col("doc_id"))
    },

    // Canonical selection under the gate: near-dup pairs → connected
    // components (q57's machinery) → keep the highest-quality doc per
    // cluster, ties to the lowest id. The DuckDB twin recomputes the
    // closure with a recursive CTE and the winner with a rank window
    // — per-doc cluster, quality AND the keep decision all hash.
    "q78_canonical_selection" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
        Text.qualityScore(col("text")).as("quality"))
      val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
          minJaccard = 0.6, numHashes = 32, bands = 16, shingleK = 2,
          minEstimate = 0.1, maxBucket = 1000)
        .select(col("id_a"), col("id_b"))
      Dedup.canonicalPerCluster(scored, "doc_id", "quality", pairs)
        .select(col("doc_id"), col("cluster"), col("quality"), col("is_kept"))
        .orderBy(col("doc_id"))
    },

    // HTML boilerplate stripping under the gate: both engines build
    // the same markup from `part` (tags, attributes, entities, script
    // and conditional style elements with bodies) and strip it — tag
    // spans, element-body drops, entity decode order and whitespace
    // collapse all cross the hash.
    // r14 entity matrix (every 3rd part): named Latin-1/punctuation
    // entities, decimal + hex numeric refs (incl. a supplementary-
    // plane 𝄞), `&nbsp;` folding into the whitespace collapse,
    // single-pass `&amp;lt;` → literal "&lt;", and pass-through of
    // unknown names / malformed refs — the twin carries the decoded
    // segment as a literal
    "q80_html_strip" -> { (s, dir) =>
      val raw = concat(
        lit("<html><body><h1>"), col("p_name"),
        lit("</h1><p class=\"x\">"), col("p_brand"),
        lit(" &amp; "), col("p_type"),
        lit("</p><script>var z = 1 < 2;</script>"),
        when(col("p_partkey") % 5 === 0,
          lit("<SCRIPT type=\"text/javascript\">leak();</SCRIPT>")).otherwise(lit("")),
        when(col("p_partkey") % 7 === 0,
          lit("<Style>.a{color:red}</STYLE>")).otherwise(lit("")),
        when(col("p_partkey") % 3 === 0,
          lit("<p>caf&eacute; r&#233;sum&#xE9; &mdash; &#8212; " +
            "l&rsquo;&Eacute;t&eacute; &hellip; &euro;5 &#x1D11E; " +
            "a&nbsp;b &amp;lt; &unknown; &#xZZ; &#; 1 &lt; 2</p>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      Tables(s, dir, "part")
        .select(col("p_partkey"), Text.stripHtml(raw).as("text"))
        .orderBy(col("p_partkey"))
    },

    // Token-budget selection under the gate: best-quality docs until
    // the cumulative token count reaches 5000 (the crossing doc is
    // included). The exact global-cumsum form — the scale path is a
    // quantile threshold (see Corpus.selectByBudget scaladoc).
    "q79_budget_selection" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Corpus.selectByBudget(
          docs.select(col("doc_id"),
            Text.qualityScore(col("text")).as("quality"),
            Text.tokenCount(col("text")).cast(LongType).as("n_tokens")),
          "quality", "n_tokens", "doc_id", budget = 5000L)
        .orderBy(col("doc_id"))
    },

    // SemDeDup under the gate: embeddings ∪ planted exact-scaled
    // copies (×2 per element — float-exact, cosine exactly 1.0 with
    // the original), clustered on the first four embedding vectors as
    // fixed centroids (a gate device like q69's codebook — training
    // is spec'd separately); every planted copy must land in its
    // original's cluster and lose to the lower id. Cluster + keep
    // decisions cross the hash.
    "q86_semdedup" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val planted = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val union = e.select(col("vec_id"), col("embedding")).unionByName(planted)
      val cents = e.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
      Similarity.semDedup(union, "vec_id", "embedding", cents, threshold = 0.999)
        .orderBy(col("vec_id"))
    },

    // Exact-substring dedup as a transformation: cut every token
    // covered by a duplicated 3-token window except the corpus-wide
    // first occurrence of that window — rebuilt token stream and
    // removal counts cross the hash.
    "q85_span_removal" -> { (s, dir) =>
      // the twin's token CTE can't express Spark's empty-text → []
      // guard, so both sides restrict to docs with non-empty
      // normalized text (all of them, in this fixture)
      Dedup.removeDuplicatedSpans(
          Tables(s, dir, "documents").select(col("doc_id"), col("text"))
            .filter(length(Text.normalized(col("text"))) > 0),
          "doc_id", "text", w = 3)
        .select(col("doc_id"), col("text_despanned"),
          col("n_tokens").cast(LongType).as("n_tokens"),
          col("n_removed_tokens").cast(LongType).as("n_removed_tokens"))
        .orderBy(col("doc_id"))
    },

    // LM quality scoring under the gate: a bigram model trained on the
    // EVEN documents scores the ODD ones (cross-split, so OOV bigrams
    // actually occur). The integer columns — bigram/hit/OOV counts and
    // summed training counts — cross the hash; the ln-based ll/ppl are
    // spec'd against driver math (ln is not engine-identical, the q58
    // lesson).
    "q84_lm_score" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = Corpus.bigramModel(docs.filter(col("doc_id") % 2 === 0), "text")
      Corpus.lmScore(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", model)
        .select(col("id").as("doc_id"), col("n_bigrams"), col("n_hit"),
          col("n_oov"), col("sum_c12"))
        .orderBy(col("doc_id"))
    },

    // Tar-shard export under the gate (r10): documents' UTF-8 texts
    // packed as WebDataset-style ustar shards, manifest read back by
    // the INDEPENDENT header-walk parser — the twin re-derives every
    // md5-prefix shard assignment, per-shard payload byte sums, and
    // the closed tar-size formula (512-byte header + padded payload
    // per member + 1024 trailer). A header-layout, padding,
    // assignment or trailer bug shifts tar_bytes and breaks the
    // hash. (GNU tar itself lists/extracts these archives in the
    // spec — the foreign validator.)
    "q102_tar_shard_export" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q102").getAbsolutePath
      TarShards.write(
          Tables(s, dir, "documents")
            .select(col("doc_id").cast(StringType).as("k"),
              col("text").cast(BinaryType).as("p")),
          "k", "p", "txt", base, nShards = 8)
        .orderBy(col("shard"))
    },

    // SQL text-signal surface under the gate (r10): the SAME
    // quality/token/fingerprint signals q16/q18/q19 gate, but CALLED
    // THROUGH SQL via the registered function surface — what a
    // ServeSql/RunSql analyst types. Registration-drift (a macro
    // renamed, an arity change, a builder wiring bug) breaks this
    // hash even while the Column-API gates stay green.
    "q105_sql_text_surface" -> { (s, dir) =>
      Abi.registerSqlFunctions(s)
      Tables(s, dir, "documents").createOrReplaceTempView("documents_q105")
      s.sql("""select doc_id,
               |  quality_score(text) as quality,
               |  token_count(text) as n_tokens,
               |  doc_fingerprint(text) as fp
               |from documents_q105
               |order by doc_id""".stripMargin)
    },

    // WebDataset SAMPLES under the gate (r11): multi-extension
    // members (one `<key>.txt` + one `<key>.meta` per doc) written
    // key-colocated and key-adjacent by writeMembers, then regrouped
    // into one row per sample by the ZERO-SHUFFLE sorted reader
    // (WebDataset.samples) — the twin re-derives each sample's part
    // count, byte total and both payloads from the documents table.
    "q106_webdataset_samples" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q106").getAbsolutePath
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val members = docs.select(col("doc_id").cast(StringType).as("k"),
          lit("txt").as("e"), col("text").cast(BinaryType).as("p"))
        .unionByName(docs.select(col("doc_id").cast(StringType).as("k"),
          lit("meta").as("e"),
          concat(lit("n="), octet_length(col("text"))).cast(BinaryType).as("p")))
      TarShards.writeMembers(members, "k", "e", "p", base, nShards = 8)
      graft.sources.WebDataset.samples(s, base)
        .select(col("key").cast(LongType).as("doc_id"),
          col("n_parts"), col("bytes"),
          octet_length(col("parts").getItem("txt")).as("txt_bytes"),
          col("parts").getItem("meta").cast(StringType).as("meta"))
        .orderBy(col("doc_id"))
    },

    // WARC export under the gate (r11): documents shipped as Common
    // Crawl-layout WARC conversion shards (one gzip member per
    // record + cdx sidecars), then the manifest parsed back by the
    // INDEPENDENT record-walk reader — the twin re-derives every
    // md5-prefix shard assignment and per-shard payload byte sum
    // from the documents table. A record framing, Content-Length or
    // assignment bug shifts the sums and breaks the hash.
    // (Compressed sizes are zlib-build-specific — the q72 lesson —
    // and stay out of the gate.)
    "q107_warc_export" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q107").getAbsolutePath
      WarcShards.write(
          Tables(s, dir, "documents").select(
            col("doc_id").cast(StringType).as("k"),
            concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
            col("text").cast(BinaryType).as("p")),
          "k", "u", "p", base, nShards = 8)
        .select(col("shard"), col("n_records"), col("payload_bytes"))
        .orderBy(col("shard"))
    },

    // WARC read-back under the gate (r11): shards written by
    // WarcShards re-read through the DataSource V2 WARC source
    // (partition-per-file, record walk, multi-member gunzip) with
    // FULL payloads — the twin re-derives every header field
    // (urn:uuid record id from the md5 rule, fixed type/content-type,
    // utf8 Content-Length) and the payload text itself from
    // documents. A header parse, payload framing, gunzip or
    // record-id derivation bug breaks the hash.
    "q108_warc_readback" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q108").getAbsolutePath
      WarcShards.write(
        Tables(s, dir, "documents").select(
          col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          col("text").cast(BinaryType).as("p")),
        "k", "u", "p", base, nShards = 8)
      s.read.format("graft.sources.WarcSource").option("path", base).load()
        .select(
          col("target_uri").substr(lit(15), lit(1000000)).cast(LongType).as("doc_id"),
          col("shard"), col("record_id"), col("warc_type"), col("content_type"),
          col("content_length"),
          col("payload").cast(StringType).as("text"))
        .orderBy(col("doc_id"))
    },

    // Gopher / MassiveText rule set under the gate (r11): every
    // measured signal (word count, mean word length, alpha-word /
    // symbol / bullet / ellipsis ratios, stopword hits) plus the
    // conjunctive keep — each ratio a single int/int IEEE division
    // with its expression tree mirrored in the twin, so the full
    // rule table hash-gates. The letter test is lower(t)≠upper(t)
    // (the no-regex-in-lambda discipline — regex per token was the
    // q23-era 90× trap).
    "q109_gopher_rules" -> { (s, dir) =>
      Corpus.gopherSignals(Tables(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_words"), col("mean_word_len"),
          col("alpha_word_ratio"), col("symbol_ratio"), col("bullet_ratio"),
          col("ellipsis_ratio"), col("stop_hits"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // WET text extraction under the gate (r12): the de-facto Common
    // Crawl text-pipeline entry — WET shards straight to
    // (target_uri, text) through the conversion-record filter and
    // UTF-8 decode. The twin re-derives both columns from documents,
    // so a type filter, decode or uri bug breaks the hash.
    "q118_wet_text" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q118").getAbsolutePath
      WarcShards.write(
        Tables(s, dir, "documents").select(
          col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          col("text").cast(BinaryType).as("p")),
        "k", "u", "p", base, nShards = 8)
      graft.sources.WarcSource.wetText(s, base)
        .orderBy(col("target_uri"))
    },

    // Raw-crawl HTML extraction under the gate (r12): CC-shaped
    // `response` records (HTTP envelopes built deterministically —
    // status, content type and declared charset vary by doc_id) go
    // through the sink, the DSv2 source, the envelope split, the
    // 2xx/text filters and the charset branches of responseText. The
    // corpus is ASCII, so every decodable charset yields the text
    // verbatim and the twin re-derives each branch — a split, filter,
    // charset-extraction or null-branch bug breaks the hash.
    "q121_response_text" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q121").getAbsolutePath
      val docs = Tables(s, dir, "documents")
      // r13 branch matrix: unknown charset (NULL), xhtml+GBK (the
      // widened content-type + alias whitelist), Content-Encoding
      // gzip (transfer decode before charset decode — round-trip
      // identity under the hash), UTF-8, meta-sniff (no declared
      // charset, <meta charset=windows-1250> in-body), shift_jis
      // (decodes now — ASCII identity, the corpus is printable-ASCII
      // without backslash/tilde). r14 adds the chunked
      // Transfer-Encoding arms: plain chunk framing, chunk framing
      // OVER a gzip Content-Encoding body (dechunk then inflate),
      // and a declared-chunked-but-unframed body (the 'ZZ' prefix
      // can never parse as a hex chunk size → NULL html, loudly).
      // Branch order matters and the twin mirrors it.
      val e0 = col("doc_id") % 7 =!= 0 && col("doc_id") % 11 =!= 0 &&
        col("doc_id") % 13 =!= 0
      val gzBranch = e0 && col("doc_id") % 19 === 0
      val e1 = e0 && col("doc_id") % 19 =!= 0
      val chBranch = e1 && col("doc_id") % 23 === 0
      val e2 = e1 && col("doc_id") % 23 =!= 0
      val chgzBranch = e2 && col("doc_id") % 29 === 0
      val e3 = e2 && col("doc_id") % 29 =!= 0
      val badChBranch = e3 && col("doc_id") % 31 === 0
      val e4 = e3 && col("doc_id") % 31 =!= 0
      // br arm (r18): Content-Encoding brotli decodes through the
      // vendored RFC 7932 decoder — round-trip identity under the
      // hash, exactly the gzip arm's contract
      val brBranch = e4 && col("doc_id") % 37 === 0
      val ctype = when(col("doc_id") % 7 === 0, lit("image/png"))
        .when(col("doc_id") % 11 === 0, lit("text/html; charset=klingon"))
        .when(col("doc_id") % 13 === 0, lit("application/xhtml+xml; charset=GBK"))
        .when(col("doc_id") % 19 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 23 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 29 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 31 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 37 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 3 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 3 === 1, lit("text/plain"))
        .otherwise(lit("text/html; charset=shift_jis"))
      val bodyText = when(e4 && col("doc_id") % 3 === 1,
        concat(lit("<meta charset=\"windows-1250\">"), col("text")))
        .otherwise(col("text"))
      // one-chunk framing: hex size CRLF, data CRLF, 0-chunk,
      // trailer on the chunked+gzip arm (tolerance under the hash)
      def chunkFrame(b: Column, trailer: String): Column = concat(
        concat(lower(hex(octet_length(b))), lit("\r\n")).cast(BinaryType),
        b,
        lit(s"\r\n0\r\n$trailer\r\n").cast(BinaryType))
      val gzText = graft.functions.HttpBody.gzipBytes(col("text").cast(BinaryType))
      val bodyBytes = when(gzBranch, gzText)
        .when(chBranch, chunkFrame(col("text").cast(BinaryType), ""))
        .when(chgzBranch, chunkFrame(gzText, "X-Trailer: 1\r\n"))
        .when(badChBranch, concat(lit("ZZ\r\n").cast(BinaryType),
          col("text").cast(BinaryType)))
        .when(brBranch,
          graft.functions.HttpBody.brotliBytes(col("text").cast(BinaryType)))
        .otherwise(bodyText.cast(BinaryType))
      val status = when(col("doc_id") % 5 === 0, lit("404 Not Found"))
        .otherwise(lit("200 OK"))
      val envelope = concat(
        concat(
          lit("HTTP/1.1 "), status,
          lit("\r\nContent-Type: "), ctype,
          when(gzBranch || chgzBranch, lit("\r\nContent-Encoding: gzip"))
            .when(brBranch, lit("\r\nContent-Encoding: br"))
            .otherwise(lit("")),
          when(chBranch || chgzBranch || badChBranch,
            lit("\r\nTransfer-Encoding: chunked")).otherwise(lit("")),
          lit("\r\nContent-Length: "), octet_length(bodyBytes).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType),
        bodyBytes)
      WarcShards.write(
        docs.select(col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          envelope.cast(BinaryType).as("p")),
        "k", "u", "p", base, nShards = 8,
        warcType = "response",
        contentType = "application/http; msgtype=response")
      graft.sources.WarcSource.responseText(s, base)
        .select(col("target_uri"),
          col("http_status").cast(LongType).as("http_status"),
          col("http_content_type"), col("html"))
        .orderBy(col("target_uri"))
    },

    // Common Crawl pipeline composition under the gate (r12): the
    // full one-liner story in one hash — WET shards → wetText →
    // Gopher keep → exact dedup (deterministic min-id per
    // fingerprint), the DocStream quality→dedup order. The twin
    // replays the q109 rule chain + md5-norm fingerprints off
    // `documents` (q118 proves the WET round trip is byte-exact), so
    // a bug anywhere in the sink→source→decode→rules→dedup chain
    // breaks the hash.
    "q120_cc_pipeline" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q120").getAbsolutePath
      WarcShards.write(
        Tables(s, dir, "documents").select(
          col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          col("text").cast(BinaryType).as("p")),
        "k", "u", "p", base, nShards = 8)
      val docs = graft.sources.WarcSource.wetText(s, base)
        .select(col("target_uri").substr(lit(15), lit(1000000))
          .cast(LongType).as("doc_id"), col("text"))
      val kept = Corpus.gopherSignals(docs, "doc_id", "text")
        .filter(col("keep"))
        .select(col("id").as("doc_id"), col("n_words"), col("mean_word_len"))
        .join(docs.select(col("doc_id"),
          Text.fingerprint(col("text")).as("_fp")), Seq("doc_id"))
      val firsts = kept.groupBy(col("_fp"))
        .agg(min(col("doc_id")).as("doc_id"))
      kept.join(firsts, Seq("_fp", "doc_id"), "left_semi")
        .select(col("doc_id"), col("n_words"), col("mean_word_len"))
        .orderBy(col("doc_id"))
    },

    // Sampled-threshold CCNet bucketing under the gate (r12): the
    // q110 score chain through the 100 TB bucketing path — cut
    // points from an md5-family hash-sample (portable; production
    // keeps xxh64), buckets by comparison, no window anywhere. The
    // twin re-derives the sample, the sorted-sample cut indexes
    // (exact ntile tile-boundary math) and every comparison, so a
    // sampling, cut-index or boundary-orientation bug breaks the
    // hash.
    "q117_ccnet_buckets_approx" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = Corpus.bigramModel(docs.filter(col("doc_id") % 2 === 0), "text")
      val scored = Corpus.knScore(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", model)
        .select(col("id"), col("min_p"))
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      Corpus.scoreBucketsApprox(scored, "id", "lang", "min_p", k = 3,
          sampleFraction = 0.5,
          sampleHash = c => Md5Family.md5Hash60(c.cast(StringType)) % 1000000L)
        .select(col("id").as("doc_id"), col("lang"), col("min_p"),
          col("bucket").cast(LongType).as("bucket"), col("tier"))
        .orderBy(col("doc_id"))
    },

    // Incremental media dedup under the gate (r12): the q112 image
    // near-dup semantics through the PERSISTED-INDEX path — even ids
    // build the dHash index, odd ids probe it, and only
    // batch-touching pairs may surface. The twin replays the full
    // q112 banding/cap/distance chain and keeps exactly the pairs
    // touching the batch, so an index write, marker, union-census or
    // batch-restriction bug changes the pair set and breaks the
    // hash.
    "q119_incremental_media_dedup" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q119").getAbsolutePath
      val media = Multimodal.syntheticPixelMedia(Tables(s, dir, "documents"))
      Multimodal.imageHashIndexWrite(media.filter(col("doc_id") % 2 === 0), base)
      Multimodal.incrementalImageNearDuplicates(
          media.filter(col("doc_id") % 2 === 1), base,
          maxDistance = 2, maxBucket = 200)
        .select(col("id_a"), col("id_b"),
          col("distance").cast(LongType).as("distance"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // Bloom seen-set under the gate (r11): build the bitmap from
    // half the corpus's fingerprints, probe ALL fingerprints — the
    // twin replays every md5-salted position, the 32-bit word
    // packing, the bit_or build and the all-bits-set probe, so the
    // gate pins build+probe end-to-end INCLUDING the (deterministic,
    // engine-identical) false positives.
    "q116_bloom_seen" -> { (s, dir) =>
      val keys = Tables(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      val filter = Dedup.bloomBuild(
        keys.filter(col("doc_id") % 2 === 0), "fp", mBits = 65536L, k = 6)
      Dedup.bloomProbe(keys, "fp", filter, mBits = 65536L, k = 6)
        .select(col("doc_id"), col("maybe_seen"))
        .orderBy(col("doc_id"))
    },

    // Per-frame video dHash under the gate (r11): the REAL
    // animated-GIF frames (LZW-decoded) each through the shared
    // dHash kernel — the twin replays every frame's 64 bits from
    // the generating formula, so a frame decode, ordering or
    // sampling bug breaks the hash.
    "q115_video_phash" -> { (s, dir) =>
      Multimodal.videoFingerprints(
          Multimodal.syntheticVideoMedia(Tables(s, dir, "documents")))
        .toDF()
        .select(col("doc_id"),
          col("frame_index").cast(LongType).as("frame_index"),
          col("w").cast(LongType).as("w"), col("h").cast(LongType).as("h"),
          col("dhash_hex"))
        .orderBy(col("doc_id"), col("frame_index"))
    },

    // Audio fingerprint under the gate (r11): the energy-difference
    // hash of the ACTUALLY-DECODED PCM streams (65 equal windows,
    // exact Long energies, adjacent-comparison bits, MSB-first
    // packing) — the twin recomputes every sample from the
    // generating formula and replays windowing, energy sums and
    // packing, so a decode, window-boundary or energy bug breaks
    // the hash.
    "q114_audio_fingerprint" -> { (s, dir) =>
      Multimodal.audioFingerprint(
          Multimodal.syntheticWavMedia(Tables(s, dir, "documents")))
        .toDF()
        .filter(col("valid"))
        .select(col("doc_id"),
          col("sample_rate").cast(LongType).as("sample_rate"),
          col("channels").cast(LongType).as("channels"),
          col("n_samples"), col("ehash_hex"))
        .orderBy(col("doc_id"))
    },

    // DSIR importance weighting under the gate (r11): hashed
    // unigram+bigram features (md5-prefix buckets — the q100
    // derivation) of raw docs against target/raw bucket histograms.
    // The integer columns gate the WHOLE feature/hash/histogram/join
    // pipeline (order-independent exact dot products); log_weight
    // involves ln (ungateable, q58 lesson) and is spec'd against
    // driver math.
    "q113_dsir_weights" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Corpus.dsirWeights(docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dim = 8192)
        .select(col("id").as("doc_id"), col("n_feats"),
          col("dot_target"), col("dot_raw"))
        .orderBy(col("doc_id"))
    },

    // Image dHash under the gate (r11): the perceptual fingerprint
    // of the ACTUALLY-DECODED PNG/BMP rasters (9×8 nearest-neighbor
    // thumbnail, adjacent-pixel comparison bits, MSB-first row
    // packing) — the twin recomputes all 64 bits from the generating
    // gradient formula, so a decode, sampling, comparison or packing
    // bug flips hex characters and breaks the hash. Gated on the hex
    // rendering (a signed 64-bit crosses engines awkwardly).
    "q111_image_phash" -> { (s, dir) =>
      Multimodal.perceptualHash(
          Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")))
        .toDF()
        .filter(col("valid"))
        .select(col("doc_id"), col("fmt"),
          col("w").cast(LongType).as("w"), col("h").cast(LongType).as("h"),
          col("dhash_hex"))
        .orderBy(col("doc_id"))
    },

    // Image near-dup pairs under the gate (r11): the dHash
    // signatures through the SAME banded hamming kernel as the text
    // SimHash path (byte bands, degenerate-bucket cap, exact
    // popcount verify) — the twin replays banding, bucket cap and
    // distance byte-by-byte, so a band split, cap or verify bug
    // changes the pair set and breaks the hash.
    // (gate runs tighter than the operator defaults — the gradient
    // fixtures are far more hash-correlated than real images, and
    // distance ≤ 2 with a 200-cap keeps the pair table
    // gate-sized at sf0.1 while still exercising banding, cap and
    // verify; bands=8 keeps pigeonhole exact for d ≤ 7 regardless)
    "q112_image_near_dup" -> { (s, dir) =>
      Multimodal.imageNearDuplicates(
          Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")),
          maxDistance = 2, maxBucket = 200)
        .select(col("id_a"), col("id_b"),
          col("distance").cast(LongType).as("distance"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // CCNet head/middle/tail bucketing under the gate (r11): the q98
    // Kneser–Ney scorer feeds per-language ntile(3) tiles — min_p is
    // the hash-gated portable score (ln-based ppl is not, the q58
    // lesson), ties break on doc_id, and ntile's integer semantics
    // replay exactly in SQL. A window-frame, ordering or tie-break
    // bug reshuffles tiers and breaks the hash.
    "q110_ccnet_buckets" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = Corpus.bigramModel(docs.filter(col("doc_id") % 2 === 0), "text")
      val scored = Corpus.knScore(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", model)
        .select(col("id"), col("min_p"))
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      Corpus.scoreBuckets(scored, "id", "lang", "min_p", k = 3)
        .select(col("id").as("doc_id"), col("lang"), col("min_p"),
          col("bucket").cast(LongType).as("bucket"), col("tier"))
        .orderBy(col("doc_id"))
    },

    // Tokenize-and-ship under the gate (r10): the END of the
    // pipeline — documents Viterbi-tokenized to ids (the q99
    // uniform-vocab device), binarized int32-LE (Int32Le: 4 bytes
    // per id, so SIZE is oracle-checkable), exported as tar shards
    // and read back through the DSv2 source. The twin re-derives
    // every member's byte size as 4 × the fewest-pieces DP count and
    // the shard from the md5 rule — one hash over the whole
    // tokenizer→binarizer→sink→source chain.
    "q104_token_binary_export" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q104").getAbsolutePath
      val vocab = UnigramGatePieces.map(_ -> -1.0)
      val ids = Unigram.encodeDocsIds(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", vocab, charFloor = -1.0)
      TarShards.write(
        ids.select(col("doc_id").cast(StringType).as("k"),
          graft.functions.Int32Le.int32le(col("token_ids")).as("p")),
        "k", "p", "bin", base, nShards = 8)
      s.read.format("graft.sources.TarSource").option("path", base).load()
        .select(col("key").cast(LongType).as("doc_id"), col("shard"), col("size"))
        .orderBy(col("doc_id"))
    },

    // Tar SOURCE read-back under the gate (r10): shards written by
    // TarShards re-read through the DataSource V2 tar source
    // (partition-per-shard, header-walk members) and projected
    // payload-free — the pruning fast path — then compared against
    // documents re-derived in SQL. A header parse, member skip, or
    // key/ext split bug changes rows and breaks the hash.
    "q103_tar_source_readback" -> { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q103").getAbsolutePath
      TarShards.write(
        Tables(s, dir, "documents")
          .select(col("doc_id").cast(StringType).as("k"),
            col("text").cast(BinaryType).as("p")),
        "k", "p", "txt", base, nShards = 8)
      s.read.format("graft.sources.TarSource").option("path", base).load()
        .select(col("key").cast(LongType).as("doc_id"), col("shard"),
          col("size"), col("ext"))
        .orderBy(col("doc_id"))
    },

    // Embedding pooling under the gate (r10): chunk→group max-pool —
    // element-wise max is order-independent and IEEE-exact, so the
    // full pipeline (posexplode, per-(id,dim) agg, sorted array
    // rebuild, re-explode) hash-gates cross-engine in long form. A
    // dimension-alignment or rebuild-order bug scrambles (dim, v)
    // pairs and breaks the hash.
    "q101_embedding_pooling" -> { (s, dir) =>
      Similarity.poolEmbeddings(
          Tables(s, dir, "embeddings")
            .select((col("vec_id") % 97).as("gid"), col("embedding")),
          "gid", "embedding", mode = "max")
        .select(col("id").as("gid"), col("n_chunks"),
          posexplode(col("pooled")).as(Seq("dim", "v")))
        .select(col("gid"), col("n_chunks"), col("dim"), col("v"))
        .orderBy(col("gid"), col("dim"))
    },

    // Quality-classifier serving under the gate (r10): the quantized
    // integer dot product over md5-hash-bucketed token features with
    // a FIXED literal weight list (training is spec-gated — GD over
    // floats has no SQL twin; serving is exact integer arithmetic,
    // so the hash gates the FULL score path INCLUDING hashing parity:
    // a bucket-derivation or collision-handling bug shifts logits).
    "q100_quality_score" -> { (s, dir) =>
      import s.implicits._
      val wdf = QualityGateWeights.toDF("word", "qw")
        .select(QualityClassifier.bucket(col("word"), QualityGateDim).as("bucket"),
          col("qw"))
        .groupBy(col("bucket")).agg(sum(col("qw")).as("qw")) // collisions sum
      QualityClassifier.scoreQuantized(Tables(s, dir, "documents"),
          "doc_id", "text", wdf, qBias = 100L, dim = QualityGateDim)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("n_feat_tokens"), col("logit_q"))
        .orderBy(col("doc_id"))
    },

    // Unigram-LM tokenization under the gate (r10): Viterbi over a
    // FIXED uniform-logp vocabulary degenerates to fewest-pieces
    // segmentation — a dictionary DP DuckDB replays with a recursive
    // CTE (piece COUNT is unique even where the argmax segmentation
    // ties, so the count hash-gates the lattice; trained-probability
    // Viterbi and EM are spec-gated — no SQL can express them). The
    // char universe is closed ([a-z0-9] after normalization), so the
    // twin's step list enumerates it alongside the subword pieces.
    "q99_unigram_tokenize" -> { (s, dir) =>
      val vocab = UnigramGatePieces.map(_ -> -1.0)
      Unigram.encodeDocs(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", vocab, charFloor = -1.0)
        .select(col("doc_id"), size(col("unigram_pieces")).as("n_pieces"))
        .orderBy(col("doc_id"))
    },

    // Kneser–Ney bigram scoring under the gate (r10): train on even
    // docs, score odd (the q84 split) with interpolated KN — the
    // twin mirrors the probability expression tree VERBATIM
    // (max(c−D,0)/c1 + D·n1p/c1·pcont, pcont = n1pl/B with the
    // 1/(B+1) unk floor), so min_p/max_p hash-match as exact IEEE
    // doubles alongside the integer hit/context/count columns. A
    // discount, continuation-count or backoff bug moves min_p/max_p.
    "q98_kn_score" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = Corpus.bigramModel(docs.filter(col("doc_id") % 2 === 0), "text")
      Corpus.knScore(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", model)
        .select(col("id").as("doc_id"), col("n_bigrams"), col("n_hit"),
          col("n_ctx_hit"), col("sum_c12"), col("min_p"), col("max_p"))
        .orderBy(col("doc_id"))
    },

    // CCNet-style corpus-wide line dedup under the gate: both engines
    // build the same multi-line docs from `part` (a universal
    // boilerplate header, a mostly-unique name line, brand/type lines
    // repeating across rows, one empty line) — first occurrence wins,
    // empties survive, rebuilt text + removal counts cross the hash.
    "q83_line_dedup" -> { (s, dir) =>
      val raw = concat_ws("\n",
        lit("generated by crawler v1"), col("p_name"),
        concat(lit("brand: "), col("p_brand")), lit(""), col("p_type"))
      Corpus.dedupLines(
          Tables(s, dir, "part").select(col("p_partkey"), raw.as("text")),
          "p_partkey", "text")
        .select(col("p_partkey"), col("text_deduped"),
          col("n_lines").cast(LongType).as("n_lines"),
          col("n_removed").cast(LongType).as("n_removed"))
        .orderBy(col("p_partkey"))
    },

    // Same selection as q79 via the production threshold path — no
    // global window; tiny bins/exactTrimRows force the histogram
    // refinement to actually run (and recurse) at gate scale. The
    // oracle is q79's exact cumulative-window SQL: identical rows is
    // the equality proof.
    "q81_budget_selection_threshold" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Corpus.selectByBudgetThreshold(
          docs.select(col("doc_id"),
            Text.qualityScore(col("text")).as("quality"),
            Text.tokenCount(col("text")).cast(LongType).as("n_tokens")),
          "quality", "n_tokens", "doc_id", budget = 5000L,
          bins = 16, exactTrimRows = 8L, maxDepth = 8)
        .orderBy(col("doc_id"))
    }
  )

  /** q76's fixed merge list — chosen to fire on the fixture vocab
    * (table/row/the/scan families); mirrored literally in the twin. */
  private val Q76Merges: Seq[(String, String)] = Seq(
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"), ("table", "</w>"),
    ("r", "o"), ("ro", "w"), ("row", "</w>"),
    ("t", "h"), ("th", "e"), ("the", "</w>"),
    ("s", "c"), ("sc", "a"), ("sca", "n"), ("scan", "</w>"))

  def oracleSql: Map[String, String] = Map(

    "q01_agg_pricing_summary" ->
      """select l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty,
        |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as sum_base_price,
        |  cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(4,2)))) as double) as sum_disc_price,
        |  count(*) as count_order
        |from lineitem
        |group by l_returnflag, l_linestatus
        |order by l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """select l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |from lineitem
        |where l_shipdate >= timestamp '1995-01-01'
        |  and l_shipdate < timestamp '1996-01-01'
        |  and l_quantity < 25
        |order by l_orderkey, l_linenumber""".stripMargin,

    "q03_join_agg_revenue" ->
      """select c_mktsegment,
        |  cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(4,2)))) as double) as revenue,
        |  count(distinct o_orderkey) as n_orders
        |from lineitem
        |join orders on l_orderkey = o_orderkey
        |join customer on o_custkey = c_custkey
        |group by c_mktsegment
        |order by c_mktsegment""".stripMargin,

    "q04_topk_orders" ->
      """select o_orderkey, o_custkey, o_totalprice, o_orderdate
        |from orders
        |order by o_totalprice desc, o_orderkey
        |limit 10""".stripMargin,

    "q05_distinct_parts" ->
      """select l_returnflag,
        |  count(distinct l_partkey) as n_parts,
        |  count(distinct l_suppkey) as n_supps
        |from lineitem
        |group by l_returnflag
        |order by l_returnflag""".stripMargin,

    "q06_window_order_seq" ->
      """select o_custkey, o_orderkey,
        |  cast(row_number() over w as bigint) as rn,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) over (
        |    partition by o_custkey order by o_orderdate, o_orderkey
        |    rows between unbounded preceding and current row) as double) as running_total
        |from orders
        |window w as (partition by o_custkey order by o_orderdate, o_orderkey)
        |order by o_custkey, rn""".stripMargin,

    "q07_set_ops_nations" ->
      """with cn as (select distinct c_nationkey as key from customer),
        |     sn as (select distinct s_nationkey as key from supplier)
        |select 'both' as tag, key from (select key from cn intersect select key from sn)
        |union all
        |select 'cust_only' as tag, key from (select key from cn except select key from sn)
        |order by tag, key""".stripMargin,

    "q08_semi_anti" ->
      """select
        |  (select count(*) from orders where exists
        |    (select 1 from lineitem where l_orderkey = o_orderkey)) as n_with_items,
        |  (select count(*) from orders where not exists
        |    (select 1 from lineitem where l_orderkey = o_orderkey)) as n_without_items""".stripMargin,

    "q09_rollup_geo" ->
      """select r_name, n_name, count(*) as n_cust,
        |  cast(sum(cast(c_acctbal as decimal(18,2))) as double) as acctbal_sum
        |from customer
        |join nation on c_nationkey = n_nationkey
        |join region on n_regionkey = r_regionkey
        |group by rollup(r_name, n_name)
        |order by r_name nulls first, n_name nulls first""".stripMargin,

    "q10_asof_join" ->
      """select p.event_id, p.user_id,
        |  c.event_id as click_event_id, c.ts as click_ts
        |from (select * from events where event_type = 'purchase') p
        |asof left join (select * from events where event_type = 'click') c
        |  on p.user_id = c.user_id and c.ts <= p.ts
        |order by p.event_id""".stripMargin,

    "q11_abi_roundtrip" ->
      """select o_orderkey,
        |  o_orderkey as decoded_key,
        |  o_custkey as decoded_cust,
        |  o_custkey - 700 as decoded_signed,
        |  printf('0x%040x', o_custkey) as cust_addr,
        |  (o_custkey % 2 <> 0) as odd_cust
        |from orders
        |order by o_orderkey""".stripMargin,

    "q12_transfer_view_pipeline" ->
      """select printf('0x%040x', c_nationkey) as contract_address,
        |  count(*) as n_transfers,
        |  cast(sum(cast(c_custkey as decimal(38,0)) * 31) as double) as total_amount,
        |  max(printf('0x%040x', c_custkey * 7)) as max_to_addr
        |from customer
        |group by contract_address
        |order by contract_address""".stripMargin,

    "q13_tumbling_windows" ->
      """select time_bucket(interval '5 minutes', ts) as win_start, event_type,
        |  count(*) as n,
        |  cast(sum(cast(value as decimal(18,4))) as double) as total_value
        |from events
        |group by win_start, event_type
        |order by win_start, event_type""".stripMargin,

    "q14_multichain_union" ->
      """select case when event_id % 2 = 0 then 'chain_a' else 'chain_b' end as chain,
        |  event_type, count(*) as n
        |from events
        |group by chain, event_type
        |order by chain, event_type""".stripMargin,

    "q15_dedup_exact_stats" ->
      s"""select source, count(*) as n_docs,
        |  count(distinct md5(text)) as n_unique_texts,
        |  count(distinct md5($OracleNorm)) as n_unique_normalized
        |from documents
        |group by source
        |order by source""".stripMargin,

    "q16_text_stats" ->
      s"""select doc_id,
        |  $OracleNTokens as n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) as n_bpeish,
        |  len(regexp_extract_all(text, '[.,!?;:]')) as n_punct,
        |  len(list_filter($OracleTokens, t -> t in ($OracleStop))) as n_stopwords,
        |  cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |    / cast(greatest(length(text), 1) as double) as punct_ratio,
        |  cast(length(text) as double)
        |    / cast(greatest($OracleNTokens, 1) as double) as avg_token_len
        |from documents
        |order by doc_id""".stripMargin,

    "q17_langid" ->
      s"""with scored as (
        |  select doc_id, lang, text,
        |    len(list_filter($OracleTokens, t -> t in ('the','and','of','to','is','in','that','it'))) as s_en,
        |    len(list_filter($OracleTokens, t -> t in ('el','la','de','que','y','en','los','una'))) as s_es,
        |    len(list_filter($OracleTokens, t -> t in ('der','die','und','das','ist','nicht','ein','mit'))) as s_de,
        |    len(list_filter($OracleTokens, t -> t in ('le','la','les','de','et','est','un','une'))) as s_fr,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) as cjk
        |  from documents)
        |select doc_id, lang,
        |  case when cjk * 4 > length(text) then 'zh'
        |       when s_en = greatest(s_en,s_es,s_de,s_fr) and s_en > 0 then 'en'
        |       when s_es = greatest(s_en,s_es,s_de,s_fr) and s_es > 0 then 'es'
        |       when s_de = greatest(s_en,s_es,s_de,s_fr) and s_de > 0 then 'de'
        |       when s_fr = greatest(s_en,s_es,s_de,s_fr) and s_fr > 0 then 'fr'
        |       else 'und' end as lang_guess,
        |  cast(lang = (case when cjk * 4 > length(text) then 'zh'
        |       when s_en = greatest(s_en,s_es,s_de,s_fr) and s_en > 0 then 'en'
        |       when s_es = greatest(s_en,s_es,s_de,s_fr) and s_es > 0 then 'es'
        |       when s_de = greatest(s_en,s_es,s_de,s_fr) and s_de > 0 then 'de'
        |       when s_fr = greatest(s_en,s_es,s_de,s_fr) and s_fr > 0 then 'fr'
        |       else 'und' end) as int) as agree
        |from scored
        |order by doc_id""".stripMargin,

    "q18_fingerprints" ->
      s"""with n as (select doc_id, $OracleNorm as norm from documents)
        |select doc_id, md5(norm) as fp,
        |  list_aggregate(
        |    list_transform(range(1, greatest(len(norm)-16+1, 0)+1, 4),
        |                   i -> md5(substr(norm, i, 16))), 'min') as rolling_fp
        |from n
        |order by doc_id""".stripMargin,

    "q19_quality_score" ->
      s"""with m as (
        |  select doc_id,
        |    $OracleNTokens as n_tokens,
        |    len(list_filter($OracleTokens, t -> t in ($OracleStop))) as n_stop,
        |    cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |      / cast(greatest(length(text),1) as double) as punct_ratio,
        |    cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |      / cast(greatest(length(text),1) as double) as digit_ratio
        |  from documents)
        |select doc_id,
        |  0.4 * least(cast(n_tokens as double) / 50.0, 1.0)
        |  + 0.3 * least(cast(n_stop as double) / cast(greatest(n_tokens,1) as double) * 4.0, 1.0)
        |  + 0.15 * (1.0 - least(punct_ratio * 5.0, 1.0))
        |  + 0.15 * (1.0 - least(digit_ratio * 5.0, 1.0)) as quality
        |from m
        |order by doc_id""".stripMargin,

    "q20_ngram_jaccard" ->
      s"""with d as (select doc_id, string_split($OracleNorm, ' ') as w from documents where doc_id < 40),
        |sh as (select doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d)
        |select a.doc_id as id_a, b.doc_id as id_b,
        |  cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) as jaccard
        |from sh a join sh b on a.doc_id < b.doc_id
        |where cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) > 0.02
        |order by id_a, id_b""".stripMargin,

    "q21_embedding_dot_topk" ->
      """select vec_id,
        |  list_sum(list_transform(
        |    list_zip(embedding, (select embedding from embeddings where vec_id = 0)),
        |    p -> cast(p[1] as double) * cast(p[2] as double))) as score
        |from embeddings
        |order by score desc, vec_id
        |limit 20""".stripMargin,

    "q22_embedding_cosine" ->
      """with q as (select embedding as qv from embeddings where vec_id = 0),
        |s as (select vec_id,
        |  list_sum(list_transform(list_zip(embedding, (select qv from q)),
        |    p -> cast(p[1] as double) * cast(p[2] as double)))
        |  / (sqrt(list_sum(list_transform(list_zip(embedding, embedding),
        |      p -> cast(p[1] as double) * cast(p[2] as double))))
        |    * sqrt((select list_sum(list_transform(list_zip(qv, qv),
        |      p -> cast(p[1] as double) * cast(p[2] as double))) from q))) as score
        |from embeddings)
        |select vec_id, score from s
        |where score >= 0.15
        |order by vec_id""".stripMargin,

    // md5-family MinHash twin: the oracle re-derives shingle hashes,
    // permutation coefficients, signatures, band buckets, the
    // bucket-size guard and the agreement estimate — all from md5.
    // Spark's band join keys on xxhash64(concat) of the slots; the
    // twin joins on the slot-concat string directly — identical
    // buckets (a 64-bit band-key collision would be the only
    // divergence, vanishingly unlikely at any corpus size).
    "q23_minhash_near_dup" ->
      s"""with tok as (
        |  select doc_id,
        |    case when length(norm) = 0 then [] else string_split(norm, ' ') end as toks
        |  from (select doc_id, $OracleNorm as norm from documents)),
        |sh as (
        |  select doc_id,
        |    list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1]) as sh
        |  from tok where len(toks) >= 2),
        |xs as (
        |  select doc_id,
        |    list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::bigint % 2147483647) as xs
        |  from sh),
        |par as (
        |  select i,
        |    ('0x' || substr(md5('graft:minhash:v1:a:' || i), 1, 15))::bigint % 2147483646 + 1 as a,
        |    ('0x' || substr(md5('graft:minhash:v1:b:' || i), 1, 15))::bigint % 2147483647 as b
        |  from range(0, 32) t(i)),
        |slot as (
        |  select x.doc_id, par.i, min((par.a * u.v + par.b) % 2147483647) as m
        |  from xs x, unnest(x.xs) as u(v), par
        |  group by x.doc_id, par.i),
        |sig as (select doc_id, list(m order by i) as sig from slot group by doc_id),
        |band as (
        |  select doc_id, b.band,
        |    array_to_string(sig[b.band * 4 + 1 : b.band * 4 + 4], '_') as key
        |  from sig, range(0, 8) b(band)),
        |keep as (
        |  select band, key from band
        |  group by band, key having count(*) between 2 and 500),
        |pr as (
        |  select distinct a.doc_id as id_a, b.doc_id as id_b
        |  from band a
        |  join keep k on a.band = k.band and a.key = k.key
        |  join band b on b.band = a.band and b.key = a.key
        |  where a.doc_id < b.doc_id)
        |select pr.id_a, pr.id_b,
        |  cast(len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] = z[2])) as double)
        |    / 32.0 as est_jaccard
        |from pr
        |join sig sa on sa.doc_id = pr.id_a
        |join sig sb on sb.doc_id = pr.id_b
        |where cast(len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] = z[2])) as double)
        |    / 32.0 >= 0.15
        |order by id_a, id_b""".stripMargin,

    // 60-bit md5-family SimHash twin: vote sums are order-independent
    // integer adds, so the oracle rebuilds the exact signatures, then
    // mirrors the banding (6-bit chunks), the bucket-size guard, the
    // distinct pair join and the hamming filter.
    "q24_simhash_pairs" ->
      s"""with tok as (
        |  select doc_id,
        |    case when length(norm) = 0 then [] else string_split(norm, ' ') end as toks
        |  from (select doc_id, $OracleNorm as norm from documents)),
        |h as (
        |  select doc_id, ('0x' || substr(md5(u.t), 1, 15))::bigint as h
        |  from tok, unnest(toks) as u(t)),
        |v as (select doc_id, $OracleSimhashVotes from h group by doc_id),
        |sig as (select doc_id, $OracleSimhashPack as sh from v),
        |band as (
        |  select doc_id, sh, b.band, (sh >> (b.band * 6)) & 63 as chunk
        |  from sig, range(0, 10) b(band)),
        |keep as (
        |  select band, chunk from band
        |  group by band, chunk having count(*) between 2 and 1000),
        |pr as (
        |  select distinct a.doc_id as id_a, a.sh as sh_a, b.doc_id as id_b, b.sh as sh_b
        |  from band a
        |  join keep k on a.band = k.band and a.chunk = k.chunk
        |  join band b on b.band = a.band and b.chunk = a.chunk
        |  where a.doc_id < b.doc_id)
        |select id_a, id_b, cast(bit_count(xor(sh_a, sh_b)) as int) as distance
        |from pr
        |where bit_count(xor(sh_a, sh_b)) <= 7
        |order by id_a, id_b""".stripMargin,

    // md5-hyperplane LSH twin: re-derive all 24 tables × 11 planes
    // (components (md5_60 mod 2001 − 1000)/1024 — exact in float32
    // and float64), signature each vector and the query, keep vectors
    // within 2 bits of the query in ANY table, rank candidates by the
    // q22-shape exact cosine. list_sum is the left-to-right double
    // fold both engines share (the q21/q22 precedent).
    "q25_lsh_topk" ->
      """with q as (select embedding as qv from embeddings where vec_id = 1),
        |pl as (
        |  select t.t, i.i,
        |    list_transform(generate_series(0, 63), d ->
        |      ((('0x' || substr(md5('graft:lsh:v1:' || t.t || ':' || i.i || ':' || d), 1, 15))::bigint
        |        % 2001) - 1000) / 1024.0) as pl
        |  from range(0, 24) t(t), range(0, 11) i(i)),
        |qs as (
        |  select t, sum(case when d > 0 then 1::bigint << i else 0::bigint end) as qsig
        |  from (select pl.t, pl.i,
        |      list_sum(list_transform(list_zip(pl.pl, (select qv from q)),
        |        p -> p[1] * cast(p[2] as double))) as d
        |    from pl)
        |  group by t),
        |vs as (
        |  select e.vec_id, pl.t,
        |    sum(case when list_sum(list_transform(list_zip(pl.pl, e.embedding),
        |        p -> p[1] * cast(p[2] as double))) > 0
        |      then 1::bigint << pl.i else 0::bigint end) as sig
        |  from embeddings e, pl
        |  group by e.vec_id, pl.t),
        |cand as (
        |  select distinct vs.vec_id
        |  from vs join qs on qs.t = vs.t
        |  where bit_count(xor(vs.sig, qs.qsig)) <= 2)
        |select e.vec_id,
        |  list_sum(list_transform(list_zip(e.embedding, (select qv from q)),
        |    p -> cast(p[1] as double) * cast(p[2] as double)))
        |  / (sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding),
        |      p -> cast(p[1] as double) * cast(p[2] as double))))
        |    * sqrt((select list_sum(list_transform(list_zip(qv, qv),
        |      p -> cast(p[1] as double) * cast(p[2] as double))) from q))) as score
        |from embeddings e join cand on cand.vec_id = e.vec_id
        |order by score desc, e.vec_id
        |limit 10""".stripMargin,

    "q27_price_asof_valuation" ->
      """with t as (
        |  select printf('0x%040x', c_nationkey) as address,
        |         c_custkey as evt_block_number,
        |         c_custkey * 31 as amount
        |  from customer),
        |p as (
        |  select printf('0x%040x', n_nationkey) as address,
        |         unnest(generate_series(0, 1400, 100)) as block_number
        |  from nation),
        |pr as (select address, block_number,
        |         cast(block_number * 3 + length(address) as decimal(38,0)) as price from p)
        |select t.address, t.evt_block_number,
        |  cast(t.amount as double) as amount,
        |  cast(pr.price as double) as price,
        |  cast(t.amount * pr.price as double) as value_usd
        |from t asof left join pr
        |  on t.address = pr.address and pr.block_number <= t.evt_block_number
        |order by t.address, t.evt_block_number""".stripMargin,

    "q28_abi_dynamic_roundtrip" ->
      """select doc_id, text as decoded_text,
        |  length(text) as decoded_len, true as bytes_ok
        |from documents
        |order by doc_id""".stripMargin,

    "q31_abi_fixed_and_array" ->
      """select o_orderkey,
        |  '0x' || rtrim(substr(rpad(printf('%x', o_custkey), 64, '0'), 1, 16), '0') as fixed_bytes,
        |  array_to_string([o_custkey, o_custkey * 2, o_custkey * 3], ',') as decoded_array
        |from orders
        |order by o_orderkey""".stripMargin,

    "q29_cube_status_priority" ->
      """select o_orderstatus, o_orderpriority, count(*) as n,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total
        |from orders
        |group by cube(o_orderstatus, o_orderpriority)
        |order by o_orderstatus nulls first, o_orderpriority nulls first""".stripMargin,

    "q33_near_dup_bucketed" ->
      s"""with d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |sh as (select doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d)
        |select a.doc_id as id_a, b.doc_id as id_b,
        |  cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) as jaccard
        |from sh a join sh b on a.doc_id < b.doc_id
        |where cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) >= 0.6
        |order by id_a, id_b""".stripMargin,

    "q60_int8_quantized_topk" ->
      """with s as (select vec_id,
        |    greatest(list_max(list_transform(embedding, x -> abs(x))), 1e-30) / 127.0 as scale,
        |    embedding from embeddings),
        |c as (select vec_id, scale,
        |    list_transform(embedding, x -> cast(round(cast(x as double) / scale) as int)) as codes
        |  from s),
        |q as (select codes as qcodes, scale as qscale from c where vec_id = 0)
        |select c.vec_id,
        |  list_sum(list_transform(list_zip(c.codes, q.qcodes),
        |    p -> cast(p[1] as double) * cast(p[2] as double))) * c.scale * q.qscale as score
        |from c cross join q
        |order by score desc, vec_id
        |limit 20""".stripMargin,

    "q58_tfidf_topterms" ->
      s"""with d as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, unnest(string_split(norm, ' ')) as term from d),
        |tf as (select doc_id, term, count(*) as tf from t
        |  where term <> '' group by doc_id, term),
        |dfreq as (select term, count(*) as df from tf group by term),
        |n as (select count(*) as n from documents),
        |s as (select tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    cast(tf.tf as double) * (cast(n.n as double) / cast(dfreq.df as double)) as score
        |  from tf join dfreq using (term) cross join n),
        |r as (select *, row_number() over (partition by doc_id
        |    order by score desc, term) as rn from s)
        |select doc_id, term, cast(tf as bigint) as tf, cast(df as bigint) as df, score
        |from r where rn <= 3
        |order by doc_id, term""".stripMargin,

    "q59_stratified_sample" ->
      """with r as (select doc_id, lang,
        |    row_number() over (partition by lang order by doc_id) as rn
        |  from documents)
        |select doc_id, lang from r where (rn - 1) % 7 = 0
        |order by doc_id""".stripMargin,

    "q57_dup_clusters" ->
      s"""with recursive d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |sh as (select doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d),
        |p as (select a.doc_id as id_a, b.doc_id as id_b
        |  from sh a join sh b on a.doc_id < b.doc_id
        |  where cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) >= 0.6),
        |e as (select id_a as src, id_b as dst from p
        |      union select id_b, id_a from p),
        |reach(src, dst) as (
        |  select src, dst from e
        |  union
        |  select r.src, e2.dst from reach r join e e2 on r.dst = e2.src),
        |lab as (select src as doc_id, min(dst) as mn from reach group by src),
        |assigned as (select doc.doc_id as id,
        |    least(doc.doc_id, coalesce(l.mn, doc.doc_id)) as cluster
        |  from documents doc left join lab l on doc.doc_id = l.doc_id)
        |select id, cluster, count(*) over (partition by cluster) as n_members
        |from assigned
        |order by id""".stripMargin,

    // q57's closure CTE + the exact split arithmetic: the pre-fold
    // keeps the product in bigint range, so both engines compute the
    // identical bucket and the labels hash-match
    "q89_leakage_safe_split" ->
      (s"""with recursive d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |sh as (select doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d),
        |p as (select a.doc_id as id_a, b.doc_id as id_b
        |  from sh a join sh b on a.doc_id < b.doc_id
        |  where cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) >= 0.6),
        |e as (select id_a as src, id_b as dst from p
        |      union select id_b, id_a from p),
        |reach(src, dst) as (
        |  select src, dst from e
        |  union
        |  select r.src, e2.dst from reach r join e e2 on r.dst = e2.src),
        |lab as (select src as doc_id, min(dst) as mn from reach group by src),
        |assigned as (select doc.doc_id as id,
        |    least(doc.doc_id, coalesce(l.mn, doc.doc_id)) as cluster
        |  from documents doc left join lab l on doc.doc_id = l.doc_id),
        |bk as (select id, cluster,
        |    ((cluster % 1000000007) * 2654435761) % 1000000 as bucket
        |  from assigned)
        |select id, cluster,
        |  case when bucket < 800000 then 'train'
        |       when bucket < 900000 then 'val'
        |       else 'test' end as split
        |from bk
        |order by id""".stripMargin),

    "q32_ingest_roundtrip" ->
      (s"""select printf('0x%040x', o_custkey) as address,
        |  '$TransferSig' as topic0,
        |  printf('0x%064x', o_custkey) as topic1,
        |  case when o_orderkey % 10 = 0 then null
        |       else printf('0x%064x', o_orderkey * 3) end as data,
        |  o_orderkey as block_number,
        |  printf('0xt%x', o_orderkey) as transaction_hash,
        |  cast(0 as bigint) as transaction_index,
        |  o_orderkey % 7 as log_index,
        |  false as removed
        |from orders
        |order by block_number""".stripMargin),

    "q41_curation_pipeline" ->
      (s"""with q as (
        |  select doc_id, source, text,
        |    0.4 * least(cast($OracleNTokens as double) / 50.0, 1.0)
        |    + 0.3 * least(cast(len(list_filter($OracleTokens, t -> t in ($OracleStop))) as double)
        |        / cast(greatest($OracleNTokens, 1) as double) * 4.0, 1.0)
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0))
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0)) as quality
        |  from documents),
        | f as (select doc_id, source, text, md5($OracleNorm) as fp
        |   from q where quality >= 0.5),
        | d as (select doc_id, source, text from f
        |   qualify row_number() over (partition by fp order by doc_id) = 1),
        | t as (select doc_id, source, $OracleTokens as toks from d),
        | c as (select source,
        |   list_filter(list_transform(range(1, greatest(len(toks),1)+1, 48),
        |     st -> array_to_string(toks[st:st+63], ' ')), x -> length(x) > 0) as chunks
        |  from t)
        |select source,
        |  count(*) as n_docs,
        |  cast(sum(len(chunks)) as bigint) as n_chunks,
        |  cast(sum(coalesce(list_sum(list_transform(chunks,
        |    x -> len(string_split(x, ' ')))), 0)) as bigint) as sum_chunk_tokens
        |from c
        |group by source
        |order by source""".stripMargin),

    "q39_doc_chunking" ->
      (s"""with t as (select doc_id, $OracleTokens as toks from documents),
        | c as (select doc_id,
        |   list_filter(list_transform(range(1, greatest(len(toks),1)+1, 48),
        |     st -> array_to_string(toks[st:st+63], ' ')), x -> length(x) > 0) as chunks
        |  from t),
        | e as (select doc_id, generate_subscripts(chunks, 1) - 1 as chunk_index,
        |   unnest(chunks) as chunk_text from c)
        |select doc_id, chunk_index, chunk_text,
        |  case when length(trim(chunk_text)) = 0 then 0
        |       else len(string_split_regex(trim(chunk_text), '\\s+')) end as chunk_tokens
        |from e
        |order by doc_id, chunk_index""".stripMargin),

    "q40_sequence_packing" ->
      (s"""with n as (select source, doc_id, $OracleNTokens as n from documents),
        | o as (select source, doc_id, n,
        |   coalesce(sum(n) over (partition by source order by doc_id
        |     rows between unbounded preceding and 1 preceding), 0) as off from n)
        |select source,
        |  cast(floor(off / 2048.0) as bigint) as seq_id,
        |  count(*) as n_docs,
        |  cast(sum(n) as bigint) as sum_tokens,
        |  min(doc_id) as first_doc,
        |  max(doc_id) as last_doc
        |from o
        |group by source, seq_id
        |order by source, seq_id""".stripMargin),

    "q42_packing_offsets" ->
      (s"""with n as (select source, doc_id, $OracleNTokens as n from documents),
        | o as (select source, doc_id, n,
        |   coalesce(sum(n) over (partition by source order by doc_id
        |     rows between unbounded preceding and 1 preceding), 0) as off from n)
        |select source, doc_id, cast(n as bigint) as n_tokens,
        |  cast(floor(off / 2048.0) as bigint) as seq_id
        |from o
        |order by source, doc_id""".stripMargin),

    "q43_hwm_resume" ->
      """select cast(max(o_orderkey) as bigint) as hwm,
        |  cast(max(o_orderkey) as bigint) as max_block
        |from orders
        |where o_orderkey % 3 = 1""".stripMargin,

    "q44_price_roundtrip" ->
      """select printf('0x%040x', o_custkey) as address,
        |  o_orderkey as block_number,
        |  cast(o_orderkey * 5 as double) as price
        |from orders
        |order by block_number""".stripMargin,

    "q45_block_time_rollup" ->
      """select date_trunc('hour',
        |    make_timestamp((1600000000 + c_custkey * 12) * 1000000)) as block_hour,
        |  count(*) as n_transfers,
        |  cast(sum(cast(c_custkey as decimal(38,0)) * 31) as double) as total_amount
        |from customer
        |group by block_hour
        |order by block_hour""".stripMargin,

    "q47_embedding_near_dup" -> Q47Sql,

    // langid-serving twin: the same literal (lang, gram, weight)
    // model bucketed by the same md5-prefix formula; char n-grams of
    // orders 1/2/3 over the SCRIPT-PRESERVING normalization (lower +
    // whitespace collapse — note the 'g' flag, the q73 lesson);
    // integer score algebra, desc-score/asc-lang argmax, und on zero
    // evidence
    "q123_langid_serve" ->
      s"""with $OracleLangIdCtes
        |select doc_id,
        |  case when any_hit = 0 then 'und' else lang end as lang,
        |  cast(score_q as bigint) as score_q,
        |  cast(n_grams as bigint) as n_grams,
        |  cast(n_hit as bigint) as n_hit
        |from best where rn = 1
        |order by doc_id""".stripMargin,

    // trained-lang composition twin (r14, verdict #8's closing
    // clause): the shared q123 chain to the per-doc label (argmax +
    // und rule), then the CCNet-shape group-by — the twin of the
    // PRODUCTION swap-in path (Text.withLangId(trained), fingerprint
    // join-back form)
    "q128_trained_lang_composition" ->
      s"""with $OracleLangIdCtes,
        |lab as (select doc_id,
        |    case when any_hit = 0 then 'und' else lang end as lang
        |  from best where rn = 1)
        |select l.lang,
        |  cast(count(*) as bigint) as n_docs,
        |  cast(sum($OracleNTokens) as bigint) as sum_tokens
        |from lab l join documents using (doc_id)
        |group by l.lang
        |order by l.lang""".stripMargin,

    // raw-crawl twin: visible text = whitespace-collapse of the
    // original (tags/script/style strip leaves exactly the document
    // text — the corpus is <>&-free), then the shared Gopher chain
    "q125_raw_crawl_pipeline" ->
      s"""with docs as (select doc_id,
        |    trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) as text
        |  from documents where doc_id % 5 <> 0 and doc_id % 7 <> 0),
        |${oracleGopherKeepCtes("docs")}
        |select doc_id, n_words, mean_word_len from k
        |order by doc_id""".stripMargin,

    // crawl-health twin (r14; bodyless arm r15; coding arms r17;
    // br decode + compress refusal r18): every counter re-derived
    // from the fixture's branch arithmetic + the sink's md5-prefix
    // shard rule (TarShards.shardOf). eligible = 2xx non-png;
    // decoded = eligible minus the corrupt-chunked, bodyless and
    // refused-coding (compress) arms; zstd AND br rows inflate to
    // pages (br via the vendored RFC 7932 decoder); charset
    // provenance splits the text/plain rows by the meta-injection
    // parity (the coding arms declare UTF-8, so they leave the plain
    // split); the unknown charset (klingon) rows are the
    // charset-nulls, everything else decoded becomes a page
    "q127_crawl_health" ->
      """with d as (select doc_id,
        |    ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::bigint % 8 as shard,
        |    (doc_id % 7 <> 0 and doc_id % 11 <> 0 and doc_id % 13 <> 0) as e0
        |  from documents),
        |f as (select shard, doc_id,
        |    (e0 and doc_id % 19 = 0) as gzb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 = 0) as chb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 = 0) as badb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 <> 0
        |      and doc_id % 29 = 0) as nbb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 <> 0
        |      and doc_id % 29 <> 0 and doc_id % 37 = 0) as zsb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 <> 0
        |      and doc_id % 29 <> 0 and doc_id % 37 <> 0 and doc_id % 41 = 0) as brb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 <> 0
        |      and doc_id % 29 <> 0 and doc_id % 37 <> 0 and doc_id % 41 <> 0
        |      and doc_id % 43 = 0) as cpb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 <> 0
        |      and doc_id % 37 <> 0 and doc_id % 41 <> 0 and doc_id % 43 <> 0
        |      and doc_id % 3 = 1) as plain1,
        |    (doc_id % 5 <> 0 and doc_id % 5 <> 1) as ok2,
        |    (doc_id % 5 = 0) as s4, (doc_id % 5 = 1) as s5,
        |    (doc_id % 7 = 0) as png, (doc_id % 11 = 0) as kling
        |  from d),
        |g as (select shard, doc_id, gzb, chb, badb, nbb, zsb, brb, cpb, kling, plain1, ok2, s4, s5,
        |    (ok2 and not png) as elig,
        |    (ok2 and not png and not badb and not nbb and not cpb) as dec
        |  from f)
        |select shard,
        |  cast(count(*) as bigint) as n_records,
        |  cast(count(*) as bigint) as n_response,
        |  cast(0 as bigint) as n_conversion,
        |  cast(0 as bigint) as n_other,
        |  cast(0 as bigint) as n_unparsed,
        |  cast(sum(case when ok2 then 1 else 0 end) as bigint) as n_2xx,
        |  cast(0 as bigint) as n_3xx,
        |  cast(sum(case when s4 then 1 else 0 end) as bigint) as n_4xx,
        |  cast(sum(case when s5 then 1 else 0 end) as bigint) as n_5xx,
        |  cast(sum(case when elig then 1 else 0 end) as bigint) as n_eligible,
        |  cast(sum(case when elig and gzb then 1 else 0 end) as bigint) as n_enc_gzip,
        |  cast(0 as bigint) as n_enc_deflate,
        |  cast(sum(case when elig and zsb then 1 else 0 end) as bigint) as n_enc_zstd,
        |  cast(sum(case when elig and brb then 1 else 0 end) as bigint) as n_enc_br,
        |  cast(sum(case when elig and cpb then 1 else 0 end) as bigint) as n_unsupported_encoding,
        |  cast(sum(case when elig and (chb or badb) then 1 else 0 end) as bigint) as n_chunked,
        |  cast(sum(case when elig and nbb then 1 else 0 end) as bigint) as n_no_body,
        |  cast(sum(case when elig and (badb or cpb) then 1 else 0 end) as bigint) as n_decode_null,
        |  cast(sum(case when dec and not plain1 then 1 else 0 end) as bigint) as n_cs_declared,
        |  cast(sum(case when dec and plain1 and doc_id % 2 = 1 then 1 else 0 end) as bigint) as n_cs_sniffed,
        |  cast(sum(case when dec and plain1 and doc_id % 2 = 0 then 1 else 0 end) as bigint) as n_cs_defaulted,
        |  cast(sum(case when dec and kling then 1 else 0 end) as bigint) as n_charset_null,
        |  cast(sum(case when dec and not kling then 1 else 0 end) as bigint) as n_pages
        |from g
        |group by shard
        |order by shard""".stripMargin,

    // streaming raw-crawl drain twin (r14): q125's visible-text
    // replay (whitespace collapse of the original — the corpus is
    // <>&-free) over originals ∪ planted copies with the chaff
    // filters on the UNIONED ids, then q124's content-class device:
    // at minJaccard = 1.0 exactly one survivor per distinct 3-shingle
    // set, whatever the batch order — n_docs > 1 = dedup failure, a
    // missing/extra skey = extraction-chain or gate failure
    "q126_raw_crawl_drain" ->
      s"""with u as (select doc_id, text from documents
        |  union all
        |  select doc_id + 100000 as doc_id, text from documents
        |  where doc_id % 17 = 3),
        |docs as (select doc_id,
        |    trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) as text
        |  from u where doc_id % 5 <> 0 and doc_id % 7 <> 0),
        |${oracleGopherKeepCtes("docs")},
        |f as (select k.doc_id, $OracleNorm as norm
        |  from k join docs using (doc_id)),
        |w as (select doc_id, string_split(norm, ' ') as w from f),
        |sh as (select doc_id, case when len(w) < 3 then null else
        |    list_sort(list_distinct(list_transform(
        |      range(1, greatest(len(w) - 3 + 1, 0) + 1),
        |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) end as s
        |  from w),
        |ky as (select doc_id,
        |    coalesce(md5(array_to_string(s, chr(30))), 'doc:' || doc_id) as skey
        |  from sh)
        |select distinct skey, cast(1 as bigint) as n_docs from ky
        |order by skey""".stripMargin,

    // streaming embedding-drain twin (r15): at minCosine = 1 − 1e-7
    // over base ∪ exact copies, the dedup equivalence is exact vector
    // equality and every class's survivor maps back to the class MIN
    // id — the original (copies are +100000) — so the expected drain
    // is simply one row per original vector, n_docs = 1, whatever the
    // batch order. A kept duplicate doubles its class count; a lost
    // or merged class drops a row.
    "q129_embedding_drain" ->
      """select vec_id as class_id, cast(1 as bigint) as n_docs
        |from embeddings order by class_id""".stripMargin,

    // streaming media-drain twin (r15): the fixture's dHash IS the
    // doc_id's bit pattern (±1-step pixel rows through the identity
    // 9×8 thumbnail), so the expected drain is one survivor per
    // ORIGINAL id, keyed by the 16-hex MSB-first byte rendering of
    // that pattern — re-derived here from pure integer arithmetic
    // (byte y = Σ_x bit(y·8+x) << (7−x), rows MSB-first)
    "q130_media_drain" ->
      """with b as (select doc_id, y.y, x.x,
        |    cast((doc_id >> (y.y * 8 + x.x)) & 1 as int) as bit
        |  from documents, range(0, 8) y(y), range(0, 8) x(x)),
        |rb as (select doc_id, y,
        |    cast(sum(bit * (1 << (7 - x))) as int) as byte
        |  from b group by doc_id, y),
        |hx as (select doc_id,
        |    string_agg(printf('%02x', byte), '' order by y) as skey
        |  from rb group by doc_id)
        |select skey, cast(1 as bigint) as n_docs from hx
        |order by skey""".stripMargin,

    // robots-gate twin (r15): the rule table the parser must extract
    // from the fixture's robots bytes, re-stated as literals (with
    // each pattern's compiled regex), and the same longest-match /
    // allow-wins-tie precedence over the arithmetically re-derived
    // page urls. Hosts 5 (empty Disallow), 8 (404 robots) and 9 (no
    // robots) contribute no rules — allowed with null rule columns.
    // Host 3 carries a graftbot-specific group, so its star group is
    // absent here (the gate runs as "graftbot").
    "q131_robots_gate" ->
      """with pages as (
        |  select doc_id,
        |    'h' || (doc_id % 10) || '.example' as host,
        |    ['/', '/private/x.html', '/private/ok/y', '/img/z.png', '/tmp/a',
        |     '/tmpfile', '/all/p', '/graft/q', '/x/y.html', '/a/b/c', '/t/u',
        |     '/only/v'][(doc_id % 12) + 1] as path
        |  from documents),
        |rules as (select * from (values
        |  ('h0.example', 'disallow', '/private/', '^/private/'),
        |  ('h0.example', 'allow', '/private/ok/', '^/private/ok/'),
        |  ('h1.example', 'disallow', '/', '^/'),
        |  ('h2.example', 'disallow', '/*.png$', '^/.*\.png$'),
        |  ('h2.example', 'disallow', '/tmp*', '^/tmp.*'),
        |  ('h3.example', 'disallow', '/graft/', '^/graft/'),
        |  ('h4.example', 'disallow', '/x/', '^/x/'),
        |  ('h4.example', 'allow', '/x/y', '^/x/y'),
        |  ('h6.example', 'disallow', '/t/', '^/t/'),
        |  ('h6.example', 'allow', '/t/', '^/t/'),
        |  ('h6.example', 'disallow', '/a/', '^/a/'),
        |  ('h6.example', 'allow', '/a/b/', '^/a/b/'),
        |  ('h7.example', 'disallow', '/only/', '^/only/'))
        |  t(host, rule, pattern, rx)),
        |m as (select p.doc_id, r.rule, r.pattern,
        |    length(r.pattern) as plen, (r.rule = 'allow') as is_allow
        |  from pages p join rules r
        |    on p.host = r.host and regexp_matches(p.path, r.rx)),
        |best as (select doc_id, rule, pattern,
        |    row_number() over (partition by doc_id
        |      order by plen desc, is_allow desc, pattern desc, rule desc) as rn
        |  from m),
        |v as (select p.doc_id, p.host, p.path, b.rule, b.pattern,
        |    coalesce(b.rule = 'allow', true) as allowed
        |  from pages p left join (select * from best where rn = 1) b using (doc_id))
        |select 'http://' || host || path as target_uri, allowed, rule, pattern
        |from v order by target_uri""".stripMargin,

    // containment twin (r15): q23's md5 shingle chain feeding the
    // df-capped inverted-index candidate admission, then exact
    // set-overlap arithmetic in both orientations — the same
    // expression tree (double overlap / double set size) on both
    // sides, so the raw doubles hash identically.
    "q132_containment_pairs" ->
      s"""with tok as (
        |  select doc_id,
        |    case when length(norm) = 0 then [] else string_split(norm, ' ') end as toks
        |  from (select doc_id, $OracleNorm as norm from documents)),
        |sh as (
        |  select doc_id,
        |    list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1]) as sh
        |  from tok where len(toks) >= 6),
        |s as (
        |  select doc_id,
        |    list_distinct(list_transform(sh,
        |      x -> ('0x' || substr(md5(x), 1, 15))::bigint)) as s
        |  from sh),
        |sz as (select doc_id, s, len(s) as n from s),
        |inv as (select doc_id, u.h from sz, unnest(s) as u(h)),
        |keep as (select h from inv group by h having count(*) between 2 and 20),
        |ki as (select i.doc_id, i.h from inv i join keep k on i.h = k.h),
        |pr as (select distinct a.doc_id as id_a, b.doc_id as id_b
        |  from ki a join ki b on a.h = b.h and a.doc_id < b.doc_id),
        |ov as (select pr.id_a, pr.id_b,
        |    cast(len(list_intersect(sa.s, sb.s)) as double) as i,
        |    cast(sa.n as double) as na, cast(sb.n as double) as nb
        |  from pr
        |  join sz sa on sa.doc_id = pr.id_a
        |  join sz sb on sb.doc_id = pr.id_b),
        |o as (
        |  select id_a as contained_id, id_b as container_id, i / na as containment
        |  from ov where i / na >= 0.6
        |  union all
        |  select id_b as contained_id, id_a as container_id, i / nb as containment
        |  from ov where i / nb >= 0.6)
        |select contained_id, container_id, containment from o
        |order by contained_id, container_id""".stripMargin,

    // snapshot-diff twin (r15): the appended keys (%10=2) read as
    // added, the canonicalize-tombstoned ones (%50=1, a subset of the
    // %10=1 base) as changed; everything the compaction merely moved
    // between files cancels out of the diff entirely.
    "q133_snapshot_diff" ->
      """with ks as (
        |  select o_orderkey as k,
        |    case when o_orderkey % 10 = 2 then 'added'
        |         when o_orderkey % 50 = 1 then 'changed' end as status
        |  from orders where o_orderkey % 10 in (1, 2))
        |select '0xb' || printf('%x', k) as block_hash,
        |  '0xt' || printf('%x', k) as transaction_hash,
        |  k % 7 as log_index, status
        |from ks where status is not null
        |order by block_hash""".stripMargin,

    // robots-drain twin (r15): the drained corpus is pure robots
    // arithmetic — batch-b pages survive unless their host captured
    // a /blk/ rule in batch a; every batch-c late page dies against
    // the disallow-all merged in its own batch (none appear here)
    "q135_robots_drain" ->
      """select 'http://r' || (doc_id % 8) || '.example'
        |  || case when doc_id % 3 = 0 then '/blk/p' else '/ok/p' end
        |  || doc_id as target_uri
        |from documents
        |where not (doc_id % 8 in (0, 1, 2, 3) and doc_id % 3 = 0)
        |order by target_uri""".stripMargin,

    // boilerplate-removal twin (r15): q83's line-explode device with
    // per-(domain, line) document frequencies replacing the
    // first-occurrence winner — lines at >= 50% of a >= 10-doc
    // domain drop everywhere, empty lines always survive
    "q134_boilerplate_removal" ->
      """with d as (
        |  select doc_id, text,
        |    case when doc_id % 97 = 0 then 'tiny' else 'd' || (doc_id % 5) end as dom
        |  from documents),
        |t as (
        |  select doc_id, dom,
        |    case when doc_id % 10 <> 0
        |      then 'nav ' || dom || ' home about contact' || chr(10) else '' end
        |    || text
        |    || case when doc_id % 3 = 0
        |      then chr(10) || chr(10) || 'copyright ' || dom || ' example' else '' end as page
        |  from d),
        |l as (select doc_id, dom, pos, split[pos] as line from
        |  (select doc_id, dom, split, unnest(range(1, len(split)+1)) as pos
        |   from (select doc_id, dom, string_split(page, chr(10)) as split from t))),
        |nd as (select dom, count(*) as nd from t group by dom),
        |ldf as (select dom, line, count(distinct doc_id) as df
        |  from l where length(line) > 0 group by dom, line),
        |b as (select ldf.dom, ldf.line from ldf join nd using (dom)
        |  where nd.nd >= 10 and cast(ldf.df as double) >= cast(nd.nd as double) * 0.5),
        |kp as (select l.doc_id, l.pos, l.line from l
        |  left join b on l.dom = b.dom and l.line = b.line
        |  where b.line is null),
        |r as (select doc_id, string_agg(line, chr(10) order by pos) as text_clean,
        |    count(*) as kept
        |  from kp group by doc_id)
        |select t.doc_id, coalesce(r.text_clean, '') as text_clean,
        |  cast(len(string_split(t.page, chr(10))) as bigint) as n_lines,
        |  cast(len(string_split(t.page, chr(10))) - coalesce(r.kept, 0) as bigint) as n_removed
        |from t left join r using (doc_id)
        |order by t.doc_id""".stripMargin,

    // sitemap twin (r15): never parses XML — re-derives every
    // expected entry row from the fixture's doc_id arithmetic (the
    // q131 device), so block split / prefix / entity / trim /
    // loc-required / priority-cast bugs all break the hash
    "q136_sitemap_parse" ->
      """with u1 as (
        |  select doc_id, 'url' as kind,
        |    'http://s' || (doc_id % 7) || '.example/p' || doc_id
        |      || '?a=1&b=' || (doc_id % 5) as loc,
        |    '2026-01-' || lpad(cast((doc_id % 28) + 1 as varchar), 2, '0') as lastmod,
        |    (['daily','weekly','monthly','never'])[(doc_id % 4) + 1] as changefreq,
        |    cast('0.' || (doc_id % 10) as double) as priority
        |  from documents where doc_id % 11 <> 0),
        |u2 as (
        |  select doc_id, 'url' as kind,
        |    'http://s' || (doc_id % 7) || '.example/extra/' || (doc_id * 3) as loc,
        |    cast(null as varchar) as lastmod, cast(null as varchar) as changefreq,
        |    cast(null as double) as priority
        |  from documents where doc_id % 11 <> 0),
        |ix as (
        |  select doc_id, 'sitemap' as kind,
        |    'http://s' || (doc_id % 7) || '.example/child' || doc_id || '.xml.gz' as loc,
        |    '2026-02-11' as lastmod, cast(null as varchar) as changefreq,
        |    cast(null as double) as priority
        |  from documents where doc_id % 11 = 0)
        |select doc_id, kind, loc, lastmod, changefreq, priority
        |from (select * from u1 union all select * from u2 union all select * from ix)
        |order by doc_id, loc""".stripMargin,

    // outlink twin (r15): the five resolved URLs per page re-derived
    // arithmetically — rooted, ../ (one level up from /a/b/), ./
    // (same dir), absolute with the &amp; decoded and fragment
    // stripped, scheme-relative inheriting http
    "q137_outlinks" ->
      """with d as (select doc_id,
        |    'd' || (doc_id % 6) || '.example' as sh,
        |    'http://d' || (doc_id % 6) || '.example' as h,
        |    'http://d' || (doc_id % 6) || '.example/a/b/p' || doc_id || '.html' as page_url
        |  from documents),
        |l as (
        |  select page_url, h || '/r' || doc_id as url, sh as url_host,
        |    false as nofollow from d
        |  union all select page_url, h || '/a/u' || (doc_id % 9), sh, false from d
        |  union all select page_url, h || '/a/b/s' || (doc_id * 2), sh, false from d
        |  union all select page_url,
        |    'http://x' || (doc_id % 4) || '.example/abs?q=' || doc_id || '&z=1',
        |    'x' || (doc_id % 4) || '.example', false from d
        |  union all select page_url, 'http://c' || (doc_id % 3) || '.example/cdn',
        |    'c' || (doc_id % 3) || '.example', false from d
        |  union all select page_url, h || '/nf' || doc_id, sh, true from d)
        |select page_url, url, url_host, nofollow from l
        |order by page_url, url""".stripMargin,

    // host-graph twin (r15): the q137 links rebuilt as per-link host
    // rows (three internal + two cross-host per page), aggregated
    "q138_host_graph" ->
      """with d as (select doc_id, 'd' || (doc_id % 6) || '.example' as sh from documents),
        |l as (
        |  select sh as src_host, sh as dst_host from d
        |  union all select sh, sh from d
        |  union all select sh, sh from d
        |  union all select sh, sh from d
        |  union all select sh, 'x' || (doc_id % 4) || '.example' from d
        |  union all select sh, 'c' || (doc_id % 3) || '.example' from d)
        |select src_host, dst_host, count(*) as n_links,
        |  (src_host = dst_host) as internal
        |from l group by src_host, dst_host
        |order by src_host, dst_host""".stripMargin,

    // pagerank twin (r15): the operator's integer recurrence unrolled
    // as 3 CTE iterations over DuckDB's integer `//` — init
    // SCALE//N, contribution rank//deg, dangling mass summed and
    // redistributed as dang//N, update base + (85·(s + dang//N))//100.
    // Every step is floor division on int64, so the match is
    // bit-exact, not approximate.
    "q139_pagerank" ->
      """with e as (
        |  select distinct 'h' || (o_orderkey % 40) as src,
        |    'h' || ((o_orderkey * 7 + 3) % 40) as dst
        |  from orders
        |  where (o_orderkey % 40) % 7 <> 0
        |    and (o_orderkey % 40) <> ((o_orderkey * 7 + 3) % 40)),
        |nodes as (select distinct node from
        |  (select src as node from e union select dst as node from e)),
        |nn as (select count(*) as n from nodes),
        |deg as (select src, count(*) as deg from e group by src),
        |r0 as (select node, (select 1000000000000 // n from nn) as rank from nodes),
        |d1 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r0 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c1 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r0 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r1 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c1.s, 0)
        |        + (select dang from d1) // (select n from nn))) // 100 as rank
        |  from nodes left join c1 on nodes.node = c1.node),
        |d2 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r1 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c2 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r1 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r2 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c2.s, 0)
        |        + (select dang from d2) // (select n from nn))) // 100 as rank
        |  from nodes left join c2 on nodes.node = c2.node),
        |d3 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r2 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c3 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r2 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r3 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c3.s, 0)
        |        + (select dang from d3) // (select n from nn))) // 100 as rank
        |  from nodes left join c3 on nodes.node = c3.node)
        |select node, rank from r3 order by node""".stripMargin,

    // weighted-pagerank twin (r16): the q139 recurrence with a
    // weight column — weighted out-degree, hugeint (rank*w)//deg
    // contributions (exactly the engine's overflow-safe identity),
    // sums cast to bigint for the dtype gate
    "q154_weighted_pagerank" ->
      """with e as (
        |  select 'h' || (o_orderkey % 40) as src,
        |    'h' || ((o_orderkey * 7 + 3) % 40) as dst,
        |    cast(sum((o_orderkey % 9) + 1) as bigint) as w
        |  from orders
        |  where (o_orderkey % 40) % 7 <> 0
        |    and (o_orderkey % 40) <> ((o_orderkey * 7 + 3) % 40)
        |  group by 1, 2),
        |nodes as (select distinct node from
        |  (select src as node from e union select dst as node from e)),
        |nn as (select count(*) as n from nodes),
        |deg as (select src, cast(sum(w) as bigint) as deg from e group by src),
        |r0 as (select node, (select 1000000000000 // n from nn) as rank from nodes),
        |d1 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r0 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c1 as (select e.dst as node, cast(sum((r.rank * e.w) // deg.deg) as bigint) as s from e
        |  join r0 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r1 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c1.s, 0)
        |        + (select dang from d1) // (select n from nn))) // 100 as rank
        |  from nodes left join c1 on nodes.node = c1.node),
        |d2 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r1 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c2 as (select e.dst as node, cast(sum((r.rank * e.w) // deg.deg) as bigint) as s from e
        |  join r1 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r2 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c2.s, 0)
        |        + (select dang from d2) // (select n from nn))) // 100 as rank
        |  from nodes left join c2 on nodes.node = c2.node),
        |d3 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r2 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c3 as (select e.dst as node, cast(sum((r.rank * e.w) // deg.deg) as bigint) as s from e
        |  join r2 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r3 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c3.s, 0)
        |        + (select dang from d3) // (select n from nn))) // 100 as rank
        |  from nodes left join c3 on nodes.node = c3.node)
        |select node, rank from r3 order by node""".stripMargin,

    // frontier twin (r15): window row_number per host over the same
    // lexicographic order, the md5-prefix worker rule, delays as
    // exact integer milliseconds
    "q140_frontier" ->
      """with u as (select
        |    'http://f' || (doc_id % 8) || '.example/p' || doc_id as url,
        |    'f' || (doc_id % 8) || '.example' as host,
        |    (doc_id % 8) as hi
        |  from documents)
        |select url, host,
        |  ('0x' || substr(md5(host), 1, 15))::bigint % 8 as worker,
        |  row_number() over (partition by host order by url) - 1 as seq,
        |  cast(case when hi < 4 then (hi + 1) * 500 else 1000 end as bigint) as delay_ms,
        |  (row_number() over (partition by host order by url) - 1)
        |    * cast(case when hi < 4 then (hi + 1) * 500 else 1000 end as bigint)
        |    as fetch_offset_ms
        |from u order by url""".stripMargin,

    // redirect twin (r15): the four Location forms re-resolved
    // arithmetically against the from-URL's base
    "q141_redirects" ->
      """with d as (select doc_id,
        |    'http://r' || (doc_id % 5) || '.example' as h,
        |    'http://r' || (doc_id % 5) || '.example/old/p' || doc_id || '.html' as from_url
        |  from documents)
        |select from_url,
        |  case doc_id % 4
        |    when 0 then 'http://t' || (doc_id % 3) || '.example/new' || doc_id
        |    when 1 then h || '/moved/' || doc_id
        |    when 2 then h || '/old/next' || doc_id
        |    else 'http://cdn' || (doc_id % 2) || '.example/c' || doc_id end as to_url,
        |  case doc_id % 4
        |    when 0 then 't' || (doc_id % 3) || '.example'
        |    when 1 then 'r' || (doc_id % 5) || '.example'
        |    when 2 then 'r' || (doc_id % 5) || '.example'
        |    else 'cdn' || (doc_id % 2) || '.example' end as to_host,
        |  cast(case doc_id % 4 when 0 then 301 when 1 then 302
        |    when 2 then 307 else 308 end as bigint) as http_status
        |from d order by from_url""".stripMargin,

    // redirect-chain twin (r15): each source's final target is its
    // next multiple-of-5 node, hops = the distance — the doubling
    // must reproduce the plain arithmetic exactly
    "q142_redirect_chains" ->
      """with k as (select distinct o_orderkey % 100 as i from orders
        |  where (o_orderkey % 100) % 5 <> 0)
        |select 'u' || i as from_url,
        |  'u' || (i - (i % 5) + 5) as final_url,
        |  cast(5 - (i % 5) as bigint) as hops,
        |  true as terminal
        |from k order by from_url""".stripMargin,

    // anchor-text twin (r15): the three surviving anchors per page
    // with their cleaned texts, re-derived arithmetically
    "q143_anchor_text" ->
      """with d as (select doc_id,
        |    'w' || (doc_id % 5) || '.example' as sh,
        |    'http://w' || (doc_id % 5) || '.example' as h,
        |    'http://w' || (doc_id % 5) || '.example/p' || doc_id as page_url
        |  from documents)
        |select page_url, url, url_host, false as nofollow, anchor_text from (
        |  select page_url, h || '/t' || doc_id as url, sh as url_host,
        |    'Link number ' || doc_id || '&co' as anchor_text from d
        |  union all select page_url, h || '/u' || doc_id, sh, 'spaced text' from d
        |  union all select page_url, h || '/v' || doc_id, sh, '' from d)
        |order by page_url, url""".stripMargin,

    // meta-robots twin (r15): both flags from the %7 case arithmetic
    // (0: both; 1: noindex; 2: nofollow reversed-order uppercase;
    // 3: both unquoted; 4/5/6: neither)
    "q144_meta_robots" ->
      """select doc_id,
        |  (doc_id % 7) in (0, 1, 3) as noindex,
        |  (doc_id % 7) in (0, 2, 3) as nofollow
        |from documents order by doc_id""".stripMargin,

    // rank-curation twin (r15): the q139 integer recurrence over the
    // arithmetic host graph (nofollow edge EXCLUDED), rank top-4 by
    // (rank desc, node), joined back to each document's host
    "q145_rank_curation" ->
      """with l as (
        |  select 'g' || (doc_id % 8) || '.example' as src,
        |    'g' || ((doc_id + 1) % 8) || '.example' as dst from documents
        |  union all
        |  select 'g' || (doc_id % 8) || '.example',
        |    'g' || ((doc_id * 3 + 1) % 8) || '.example' from documents),
        |e as (select distinct src, dst from l where src <> dst),
        |nodes as (select distinct node from
        |  (select src as node from e union select dst as node from e)),
        |nn as (select count(*) as n from nodes),
        |deg as (select src, count(*) as deg from e group by src),
        |r0 as (select node, (select 1000000000000 // n from nn) as rank from nodes),
        |d1 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r0 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c1 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r0 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r1 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c1.s, 0)
        |        + (select dang from d1) // (select n from nn))) // 100 as rank
        |  from nodes left join c1 on nodes.node = c1.node),
        |d2 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r1 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c2 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r1 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r2 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c2.s, 0)
        |        + (select dang from d2) // (select n from nn))) // 100 as rank
        |  from nodes left join c2 on nodes.node = c2.node),
        |d3 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r2 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c3 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r2 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r3 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c3.s, 0)
        |        + (select dang from d3) // (select n from nn))) // 100 as rank
        |  from nodes left join c3 on nodes.node = c3.node),
        |top as (select node, rank,
        |    row_number() over (order by rank desc, node) as rn from r3)
        |select d.doc_id, d.host, t.rank
        |from (select doc_id, 'g' || (doc_id % 8) || '.example' as host
        |      from documents) d
        |join (select node, rank from top where rn <= 4) t on d.host = t.node
        |order by d.doc_id""".stripMargin,

    // token-packing twin (r15): per-shard cumulative offsets (window
    // sum), per-token placement via lateral unnest (i = len marks the
    // EOS), blocks = integer division on the position
    "q146_token_packing" ->
      """with d as (select doc_id, doc_id % 4 as shard,
        |    (doc_id % 7) + 1 as len from documents),
        |o as (select doc_id, shard, len,
        |    coalesce(sum(len + 1) over (partition by shard order by doc_id
        |      rows between unbounded preceding and 1 preceding), 0) as st from d),
        |t as (select shard, cast(o.st + u.i as bigint) as p, u.i as i,
        |    case when u.i < len then doc_id * 100 + u.i else 0 end as tok
        |  from o, unnest(generate_series(0, o.len)) as u(i))
        |select shard, p // 16 as block_id,
        |  string_agg(cast(tok as varchar), ' ' order by p) as token_ids,
        |  count(*) as n_tokens,
        |  coalesce(string_agg(case when i = 0 then cast(p % 16 as varchar) end,
        |    ' ' order by p), '') as doc_starts
        |from t group by shard, p // 16
        |order by shard, block_id""".stripMargin,

    // domain-blocklist twin (r15): registered domain + deny verdict
    // from the %5/%40 arithmetic (the .com arms block at k ≡ 0 mod 4)
    // recrawl twin (r15): new/modified/aged/fresh from the parity,
    // %28 date and 30-day age arithmetic; age = days from the fetch
    // date to 2026-02-15 (= 46 − day-of-month, exact)
    "q150_recrawl_status" ->
      """with d as (select doc_id,
        |    'http://rc.example/p' || doc_id as url,
        |    (doc_id % 2 = 0) as was_fetched,
        |    (doc_id % 3 <> 0) as has_lm,
        |    (doc_id % 28) + 1 as lm_day,
        |    ((doc_id * 3) % 28) + 1 as ft_day
        |  from documents)
        |select url,
        |  case when not was_fetched then 'new'
        |       when has_lm and lm_day > ft_day then 'modified'
        |       when not has_lm and 46 - ft_day >= 30 then 'aged'
        |       else 'fresh' end as status,
        |  case when was_fetched then cast(46 - ft_day as bigint) end as age_days
        |from d order by url""".stripMargin,

    // c4-clean twin (r15): every rule re-derived from the %7/%13/%17
    // arithmetic — kept pages rebuild their two surviving lines
    "q149_c4_clean" ->
      """with d as (select doc_id,
        |    (doc_id % 7 <> 0) as l4ok,
        |    (doc_id % 13 = 0) as brace, (doc_id % 17 = 0) as lorem
        |  from documents)
        |select doc_id,
        |  (l4ok and not brace and not lorem) as kept,
        |  cast(4 + case when brace then 1 else 0 end
        |    + case when lorem then 1 else 0 end as bigint) as n_lines,
        |  cast(case when l4ok then 2 else 1 end as bigint) as n_kept,
        |  case when l4ok and not brace and not lorem then
        |    'This is a good long sentence number ' || doc_id || '.' || chr(10) ||
        |    'Another proper sentence with enough words ' || doc_id || '!'
        |  end as text_clean
        |from d order by doc_id""".stripMargin,

    // host-profile twin (r15): the %6/%4/%13 counter arithmetic (the
    // malformed arm overrides the status class)
    "q148_host_profile" ->
      """with d as (select doc_id,
        |    'hp' || (doc_id % 6) || '.example' as host,
        |    doc_id % 4 as m, (doc_id % 13 = 0) as bad from documents)
        |select host,
        |  count(*) as n_responses,
        |  cast(sum(case when not bad and m = 0 then 1 else 0 end) as bigint) as n_2xx,
        |  cast(sum(case when not bad and m = 1 then 1 else 0 end) as bigint) as n_3xx,
        |  cast(sum(case when not bad and m = 2 then 1 else 0 end) as bigint) as n_4xx,
        |  cast(sum(case when not bad and m = 3 then 1 else 0 end) as bigint) as n_5xx,
        |  cast(sum(case when bad then 1 else 0 end) as bigint) as n_unparsed
        |from d group by host order by host""".stripMargin,

    "q147_domain_blocklist" ->
      """with d as (select doc_id, doc_id % 40 as k, doc_id % 5 as m from documents)
        |select doc_id,
        |  case m
        |    when 0 then 's' || k || '.co.uk'
        |    when 1 then 's' || k || '.com'
        |    when 2 then 's' || k || '.de'
        |    when 3 then 's' || k || '.com'
        |    else '192.168.0.' || (doc_id % 200) end as registered_domain
        |from d
        |where not (m in (1, 3) and k % 4 = 0)
        |order by doc_id""".stripMargin,

    // unicode-fingerprint twin (r16): INDEPENDENT expectations from
    // the pair arithmetic (stronger than replaying nfc_normalize —
    // a shared-algorithm bug can't hide): every key is one class of
    // exactly two docs, with two raw byte-variants except the ASCII
    // arm where both spellings are the same bytes
    "q158_unicode_fingerprint" ->
      """with d as (select doc_id, doc_id // 2 as key, doc_id % 2 as par from documents),
        |g as (select key, count(*) as n_docs, count(distinct par) as vars
        |  from d group by key)
        |select cast(2 * key as bigint) as class_id, cast(n_docs as bigint) as n_docs,
        |  cast(case when key % 3 = 2 then 1 else vars end as bigint) as n_raw_variants
        |from g order by class_id""".stripMargin,

    // multilingual-floor twin (r17, the q151 device): independent
    // expected outputs per %6 arm — each language's prose clears its
    // own table (fractions 0.5-0.7 by construction, floor 0.25), the
    // spam block dies under every table and survives only the
    // unknown-language arm (floor disabled), dragging the short
    // footer in with it
    "q159_multilang_floor" ->
      """with d as (select doc_id, doc_id % 6 as m from documents),
        |a as (select doc_id, m,
        |  case m when 0 then 'en' when 1 then 'de' when 2 then 'fr'
        |    when 3 then 'es' when 4 then 'ru' else 'zz' end as lang,
        |  case when m = 1 then 'der hund und die katze sind in dem haus mit einem ball und es war nicht weit von dem garten'
        |    when m = 2 then 'le chien et le chat sont dans la maison avec un ballon et il ne est pas loin du jardin'
        |    when m = 3 then 'el perro y el gato son en la casa con una pelota y no es lejos del jardín como siempre'
        |    when m = 4 then 'и собака и кошка были в доме с мячом и это было не далеко от сада но они были там'
        |    else 'the cat and the dog were in the house with a ball and it was not far from the garden'
        |    end as body
        |  from d)
        |select doc_id, lang,
        |  'Story ' || doc_id || ' headline' || chr(10) || body ||
        |    case when m = 5 then chr(10) ||
        |      'buy cheap widgets gadgets doohickeys trinkets gizmos contraptions implements apparatus equipment hardware'
        |      || chr(10) || 'copyright site ' || doc_id
        |    else '' end as content,
        |  cast(5 as bigint) as n_blocks,
        |  cast(case when m = 5 then 4 else 2 end as bigint) as n_kept
        |from a order by doc_id""".stripMargin,

    // c4-badwords twin (r17): outcomes restated from the %3/%5 arm
    // arithmetic — the %3 page is blocked by the word gate (its extra
    // line passes the LINE rules, hence n_kept 3 with kept=false),
    // the %5==1 superstring arm ("dickens"/"shitake") must survive
    "q160_c4_badwords" ->
      """with d as (select doc_id, doc_id % 3 = 0 as blocked,
        |    doc_id % 5 = 1 as v from documents)
        |select doc_id, not blocked as kept,
        |  cast(case when blocked then 4 else 3 end as bigint) as n_lines,
        |  cast(case when blocked then 3 else 2 end as bigint) as n_kept,
        |  case when blocked then null
        |    else 'the first line of document ' || doc_id || ' has plenty of words.'
        |      || chr(10) ||
        |      case when v then 'the dickens classic shitake story is surely long enough.'
        |        else 'another perfectly normal sentence follows right here today.' end
        |    end as text_clean
        |from d order by doc_id""".stripMargin,

    // temperature-mix twin (r17): identical weight/floor arithmetic
    // (sqrt is IEEE-correctly-rounded, so the doubles agree
    // bit-for-bit) and the same md5('v1:'||id) per-stratum ranking —
    // a weighting, flooring, ranking or family bug moves a kept id
    "q161_temperature_mix" ->
      """with d as (select doc_id,
        |    case when doc_id % 7 < 3 then 'web' when doc_id % 7 < 5 then 'wiki'
        |      when doc_id % 7 = 5 then 'code' else 'books' end as stratum
        |  from documents),
        |n as (select stratum, count(*) as n from d group by stratum),
        |w as (select stratum, n, sqrt(cast(n as double)) as w from n),
        |s as (select sum(w) as sw from w),
        |k as (select stratum, least(n, cast(floor(200.0 * w / sw) as bigint)) as k
        |  from w, s),
        |r as (select doc_id, stratum,
        |    row_number() over (partition by stratum
        |      order by md5('v1:' || doc_id), doc_id) as rn from d)
        |select r.doc_id, r.stratum from r join k using (stratum)
        |where rn <= k.k order by r.doc_id""".stripMargin,

    // script-floor twin (r18): outcomes restated from the %6 arm
    // arithmetic — covered scripts keep headline+body (n_kept 2),
    // the kk arm keeps ONLY because the per-language 0.15 floor
    // override reaches the gate (4/18 = 0.222 < the 0.25 global),
    // and the table-less ja arm disables the floor so the spam +
    // copyright blocks ride through (n_kept 4, q159's zz shape)
    "q162_script_floor" ->
      ("""with d as (select doc_id, doc_id % 6 as m from documents),
        |a as (select doc_id, m,
        |  case m when 0 then 'ar' when 1 then 'hi' when 2 then 'el'
        |    when 3 then 'he' when 4 then 'kk' else 'ja' end as lang,
        |  case when m = 0 then 'كان البيت في الحديقة قبل المساء وكان الأطفال هناك مع الكلب ولم يكن هذا بعيدا عن النهر'
        |    when m = 1 then 'घर में एक कुत्ता था और वह बगीचा के पास था पर यह नदी से बहुत दूर नहीं था'
        |    when m = 2 then 'και το σπίτι ήταν στον κήπο με ένα σκυλί και δεν ήταν μακριά από το ποτάμι αλλά ήταν πολύ ωραία'
        |    when m = 3 then 'הבית היה על יד הגן עם כלב קטן וזה לא היה רחוק מן הנהר אבל זה היה טוב מאוד היום'
        |    when m = 4 then 'үй бақшада тұрады және ит ауланы күзетеді бірақ өзен алыс емес балалар таңертең мектепке барады олар кешке қайтады'
        |    else '今日は天気がとても良いので私たちは公園へ行きますそして子供たちは午後の間ずっと庭で遊んでいます明日は雨が降るかもしれませんが今日はとても楽しい一日になります'
        |    end as body
        |  from d)
        |select doc_id, lang,
        |  'Story ' || doc_id || ' headline' || chr(10) || body ||
        |    case when m = 5 then chr(10) ||
        |      'buy cheap widgets gadgets doohickeys trinkets gizmos contraptions implements apparatus equipment hardware'
        |      || chr(10) || 'copyright site ' || doc_id
        |    else '' end as content,
        |  cast(5 as bigint) as n_blocks,
        |  cast(case when m = 5 then 4 else 2 end as bigint) as n_kept
        |from a order by doc_id""").stripMargin,

    // stopword-floor twin (r16): the body keeps iff length AND
    // stopword-fraction clear their floors; headline rides the body.
    // Tokens lowercase before the probe (r17 ADVICE mirror — the
    // Spark side lowercases so sentence-initial 'The'/'In' count).
    "q157_content_stopword" ->
      """with d as (select doc_id,
        |    trim(regexp_replace(text, '[ \t\n\x0B\f\r\x{00A0}]+', ' ', 'g')) as dtext
        |  from documents),
        |g as (select doc_id, dtext,
        |    length(dtext) >= 70 and
        |    cast(len(list_filter(string_split(dtext, ' '),
        |      w -> lower(w) in ('the','a','an','and','or','of','to','in','is','it','on','for','with'))) as double)
        |      >= 0.05 * cast(len(string_split(dtext, ' ')) as double) as good
        |  from d)
        |select doc_id,
        |  case when good
        |    then 'Story ' || doc_id || ' headline' || chr(10) || dtext
        |    else '' end as content,
        |  cast(6 as bigint) as n_blocks,
        |  cast(case when good then 2 else 0 end as bigint) as n_kept
        |from g order by doc_id""".stripMargin,

    // web-pipeline twin (r16): q152's content arithmetic + the %5
    // constant mirror page, token floor, and min-doc_id keep-first
    // over the normalized-content fingerprint groups
    "q155_web_pipeline" ->
      """with d as (select doc_id,
        |    trim(regexp_replace(text, '[ \t\n\x0B\f\r\x{00A0}]+', ' ', 'g')) as dtext
        |  from documents),
        |c as (select doc_id,
        |    case when doc_id % 5 = 0
        |      then 'The weekly status update repeats verbatim on every mirror of this site, word for word and byte for byte.'
        |      when length(dtext) >= 70
        |      then 'Story ' || doc_id || ' headline' || chr(10) || dtext
        |      else '' end as content,
        |    case when doc_id % 5 = 0 then 1
        |      when length(dtext) >= 70 then 2 else 0 end as n_kept
        |  from d),
        |k as (select doc_id, content, n_kept,
        |    case when length(trim(content)) = 0 then 0
        |      else len(string_split_regex(trim(content), '\s+')) end as n_tokens
        |  from c),
        |f as (select *,
        |    md5(trim(regexp_replace(regexp_replace(lower(content),
        |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) as fp
        |  from k where n_tokens >= 5),
        |dd as (select doc_id, n_kept, n_tokens,
        |    row_number() over (partition by fp order by doc_id) as rn from f)
        |select doc_id, cast(n_kept as bigint) as n_kept,
        |  cast(n_tokens as bigint) as n_tokens
        |from dd where rn = 1 order by doc_id""".stripMargin,

    // shuffle twin (r16): the identical md5-prefix arithmetic — the
    // LangId bucket convention ('0x'||15 hex)::bigint — and the same
    // (hash, id) window order
    "q156_shuffle_shards" ->
      """with s as (select doc_id, md5('v1:' || doc_id) as sk from documents),
        |b as (select doc_id, sk,
        |    ('0x' || substr(sk, 1, 15))::bigint % 8 as shard from s)
        |select doc_id, shard,
        |  cast(row_number() over (partition by shard order by sk, doc_id) - 1
        |    as bigint) as seq
        |from b order by doc_id""".stripMargin,

    // gzip-sitemap twin (r16): even docs = their own per-doc loc,
    // odd docs = the two constant locs of the gzipped sitemap
    "q153_gzip_sitemap" ->
      """select * from (
        |  select 'http://s.example/sm' || doc_id || '.xml' as sitemap_url,
        |    'url' as kind, 'http://s.example/p' || doc_id as loc
        |  from documents where doc_id % 2 = 0
        |  union all
        |  select 'http://s.example/sm' || doc_id || '.xml.gz', 'url', u
        |  from documents, (values ('http://gz.example/a'), ('http://gz.example/b')) v(u)
        |  where doc_id % 2 = 1)
        |order by sitemap_url, loc""".stripMargin,

    // main-content twin (r16): the fixture's blocks re-derived from
    // the same length/density arithmetic — only the body paragraph's
    // goodness depends on data (collapsed text >= 70 chars), and the
    // headline + lead-out ride exactly that decision (the neighbour
    // rule), so content and counts are pure CASE arithmetic
    "q152_main_content" ->
      """with d as (select doc_id,
        |    trim(regexp_replace(text, '[ \t\n\x0B\f\r\x{00A0}]+', ' ', 'g')) as dtext,
        |    (doc_id % 3 = 0) as dense
        |  from documents),
        |g as (select doc_id, dtext, dense, length(dtext) >= 70 as good from d)
        |select doc_id,
        |  case when good
        |    then 'Story ' || doc_id || ' headline' || chr(10) || dtext
        |      || chr(10) || 'Read more soon.'
        |    else '' end as content,
        |  cast(case when dense then 8 else 7 end as bigint) as n_blocks,
        |  cast(case when good then 3 else 0 end as bigint) as n_kept
        |from g order by doc_id""".stripMargin,

    // registered-domain twin (r16; %11 since the r17 full-snapshot
    // arms): every PSL arm re-derived from the arithmetic (the q147
    // device) — the Spark side runs the real algorithm over the
    // vendored snapshot, the twin states the expected outputs
    "q151_registered_domain" ->
      """with d as (select doc_id, doc_id % 40 as k, doc_id % 11 as m from documents)
        |select doc_id,
        |  case m
        |    when 0 then 's' || k || '.co.uk'
        |    when 1 then 's' || k || '.github.io'
        |    when 2 then 'x.s' || k || '.ck'
        |    when 3 then 'www.ck'
        |    when 4 then 's' || k || '.pvt.k12.ma.us'
        |    when 5 then 'vm.s' || k || '.compute.amazonaws.com'
        |    when 6 then 's' || k || '.fancy'
        |    when 7 then 's' || k || '.github.io'
        |    when 8 then 's' || k || '.co.mw'
        |    when 9 then 's' || k || '.example'
        |    else '10.0.' || (doc_id % 200) || '.7' end as registered_domain
        |from d order by doc_id""".stripMargin,

    // incremental embedding twin: q47's all-pairs chain restricted
    // to pairs touching the planted batch (ids >= 100000)
    "q122_incremental_embedding_dedup" ->
      """with base as (select vec_id, embedding::DOUBLE[] as v from embeddings),
        | planted as (
        |  select vec_id + 100000 as vec_id,
        |    list_transform(list_zip(embedding, range(0, len(embedding))),
        |      t -> cast(t[1] as double) * (1 + ((vec_id + t[2]) % 7) * 0.005::DOUBLE)) as v
        |  from embeddings where vec_id % 17 = 3),
        | u as (select * from base union all select * from planted),
        | p as (select a.vec_id as id_a, b.vec_id as id_b,
        |    list_sum(list_transform(list_zip(a.v, b.v),
        |      t -> cast(t[1] as double) * cast(t[2] as double)))
        |    / (sqrt(list_sum(list_transform(list_zip(a.v, a.v),
        |        t -> cast(t[1] as double) * cast(t[2] as double))))
        |     * sqrt(list_sum(list_transform(list_zip(b.v, b.v),
        |        t -> cast(t[1] as double) * cast(t[2] as double))))) as score
        |  from u a join u b on a.vec_id < b.vec_id
        |  where a.vec_id >= 100000 or b.vec_id >= 100000)
        |select id_a, id_b, score from p where score >= 0.9
        |order by id_a, id_b""".stripMargin,

    "q49_ivf_index_topk" ->
      """with q as (select embedding as qv from embeddings where vec_id = 2),
        |s as (select vec_id,
        |  list_sum(list_transform(list_zip(embedding, (select qv from q)),
        |    p -> cast(p[1] as double) * cast(p[2] as double)))
        |  / (sqrt(list_sum(list_transform(list_zip(embedding, embedding),
        |      p -> cast(p[1] as double) * cast(p[2] as double))))
        |    * sqrt((select list_sum(list_transform(list_zip(qv, qv),
        |      p -> cast(p[1] as double) * cast(p[2] as double))) from q))) as score
        |from embeddings)
        |select vec_id, score from s
        |order by score desc, vec_id
        |limit 15""".stripMargin,

    "q56_pixel_feature_topk" ->
      """with d as (select doc_id, (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h
        |  from documents where doc_id % 25 <> 0),
        | px as (select d.doc_id, (x.range + y.range + d.doc_id) % 256 as v
        |  from d cross join range(0, 32) x cross join range(0, 24) y
        |  where x.range < d.w and y.range < d.h),
        | hist as (select doc_id, v // 16 as bin, count(*) as c
        |  from px group by doc_id, bin),
        | tot as (select doc_id, cast(sum(c) as double) as n from hist group by doc_id),
        | dense as (select t.doc_id, b.range as bin,
        |    cast(coalesce(h.c, 0) / t.n as float) as f
        |  from tot t cross join range(0, 16) b
        |  left join hist h on h.doc_id = t.doc_id and h.bin = b.range),
        | vecs as (select doc_id, list(f order by bin) as fv from dense group by doc_id),
        | q as (select fv as qv from vecs where doc_id = 7),
        | s as (select v.doc_id,
        |    list_sum(list_transform(list_zip(v.fv, (select qv from q)),
        |      p -> cast(p[1] as double) * cast(p[2] as double)))
        |    / (sqrt(list_sum(list_transform(list_zip(v.fv, v.fv),
        |        p -> cast(p[1] as double) * cast(p[2] as double))))
        |      * sqrt((select list_sum(list_transform(list_zip(qv, qv),
        |        p -> cast(p[1] as double) * cast(p[2] as double))) from q))) as score
        |  from vecs v)
        |select doc_id, score from s
        |order by score desc, doc_id
        |limit 15""".stripMargin,

    "q55_jpeg_pixel_decode" ->
      """with d as (select doc_id,
        |    doc_id % 4 + 1 as bw, doc_id % 3 + 1 as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((x.range + 3 * y.range + d.doc_id) % 128) as v
        |  from d cross join range(0, 4) x cross join range(0, 3) y
        |  where x.range < d.bw and y.range < d.bh),
        | agg as (select doc_id, bw, bh,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else s * 64 end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    // Per-channel twin of q55's lattice: tile Y/Cb/Cr constants from
    // the doc_id formulas (4:4:4 per tile on even ids; 4:2:0 per-MCU
    // chroma on odd ids, so chroma indexes are luma-tile // 2), RGB =
    // the same JFIF double arithmetic as the decoder (e-notation
    // literals keep DuckDB in DOUBLE, not DECIMAL; floor(x+0.5) is the
    // decoder's rounding — exact in both engines). Every tile is a
    // 64-pixel constant, so sums scale by 64.
    "q61_jpeg_color_decode" ->
      """with d as (select doc_id,
        |    doc_id % 2 = 0 as s444,
        |    cast(case when doc_id % 2 = 0 then doc_id % 4 + 1
        |              else 2 * (doc_id % 3 + 1) end as bigint) as bw,
        |    cast(case when doc_id % 2 = 0 then doc_id % 3 + 1
        |              else 2 * (doc_id % 2 + 1) end as bigint) as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((x.range + 3 * y.range + d.doc_id) % 128) as yv,
        |    case when d.s444 then 2 * ((2 * x.range + y.range + d.doc_id) % 128)
        |         else 2 * ((x.range // 2 + 2 * (y.range // 2) + d.doc_id) % 128) end as cbv,
        |    case when d.s444 then 2 * ((x.range + 2 * y.range + 3 * d.doc_id) % 128)
        |         else 2 * ((3 * (x.range // 2) + y.range // 2 + d.doc_id) % 128) end as crv
        |  from d cross join range(0, 6) x cross join range(0, 4) y
        |  where x.range < d.bw and y.range < d.bh),
        | rgb as (select doc_id, bw, bh,
        |    least(255, greatest(0, floor(yv + 1.402e0 * (crv - 128) + 0.5e0))) as r,
        |    least(255, greatest(0, floor(yv - 0.344136e0 * (cbv - 128)
        |      - 0.714136e0 * (crv - 128) + 0.5e0))) as g,
        |    least(255, greatest(0, floor(yv + 1.772e0 * (cbv - 128) + 0.5e0))) as b
        |  from t),
        | agg as (select doc_id, bw, bh,
        |    sum(r) * 64 as rs, sum(g) * 64 as gs, sum(b) * 64 as bs,
        |    min(r) as rmn, max(r) as rmx, min(g) as gmn, max(g) as gmx,
        |    min(b) as bmn, max(b) as bmx
        |  from rgb group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else rs end as bigint) as r_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else gs end as bigint) as g_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else bs end as bigint) as b_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else rmn end as int) as r_min,
        |  cast(case when doc_id % 25 = 0 then 0 else rmx end as int) as r_max,
        |  cast(case when doc_id % 25 = 0 then 0 else gmn end as int) as g_min,
        |  cast(case when doc_id % 25 = 0 then 0 else gmx end as int) as g_max,
        |  cast(case when doc_id % 25 = 0 then 0 else bmn end as int) as b_min,
        |  cast(case when doc_id % 25 = 0 then 0 else bmx end as int) as b_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    "q53_wav_sample_decode" ->
      """with d as (select doc_id,
        |    8000 + (doc_id % 5) * 8000 as rate,
        |    doc_id % 2 + 1 as ch,
        |    doc_id % 50 + 10 as n
        |  from documents),
        | sv as (select d.doc_id, d.rate, d.ch,
        |    ((i.range * 31 + c.range * 17 + d.doc_id * 7) % 65536) - 32768 as v
        |  from d cross join range(0, 60) i cross join range(0, 2) c
        |  where i.range < d.n and c.range < d.ch),
        | agg as (select doc_id, rate, ch,
        |    count(*) as cnt, sum(v) as s, min(v) as mn, max(v) as mx
        |  from sv group by doc_id, rate, ch)
        |select doc_id,
        |  cast(case when doc_id % 25 = 0 then 0 else rate end as int) as sample_rate,
        |  cast(case when doc_id % 25 = 0 then 0 else ch end as int) as channels,
        |  cast(case when doc_id % 25 = 0 then 0 else cnt end as bigint) as n_samples,
        |  cast(case when doc_id % 25 = 0 then 0 else s end as bigint) as sample_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as sample_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as sample_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    "q54_video_frame_stats" ->
      """with d as (select doc_id,
        |    (doc_id % 8 + 1) * 2 as w, (doc_id % 6 + 1) * 2 as h,
        |    doc_id % 12 + 2 as nf
        |  from documents
        |  where doc_id % 25 <> 0),
        | fr as (select d.doc_id, d.w, d.h, f.range as fi
        |  from d cross join range(0, 14) f
        |  where f.range < d.nf and f.range % 2 = 0),
        | px as (select fr.doc_id, fr.fi, fr.w, fr.h,
        |    (x.range + y.range + 7 * fr.fi + fr.doc_id) % 256 as v
        |  from fr cross join range(0, 16) x cross join range(0, 12) y
        |  where x.range < fr.w and y.range < fr.h)
        |select doc_id,
        |  cast(fi as int) as frame_index,
        |  cast(w as int) as width,
        |  cast(h as int) as height,
        |  cast(sum(v) as bigint) as pixel_sum,
        |  cast(min(v) as int) as pixel_min,
        |  cast(max(v) as int) as pixel_max
        |from px
        |group by doc_id, fi, w, h
        |order by doc_id, frame_index""".stripMargin,

    // q53's generator feeding the feature math: sum-of-squares is an
    // exact integer on both sides, so sqrt(ssq/n) is the same IEEE
    // double; zero crossings via lag() per (doc, channel) on frame
    // order; peak = max(abs(v))
    "q65_audio_features" ->
      """with d as (select doc_id,
        |    8000 + (doc_id % 5) * 8000 as rate,
        |    doc_id % 2 + 1 as ch,
        |    doc_id % 50 + 10 as n
        |  from documents),
        | sv as (select d.doc_id, d.rate, d.ch, i.range as i, c.range as c,
        |    ((i.range * 31 + c.range * 17 + d.doc_id * 7) % 65536) - 32768 as v
        |  from d cross join range(0, 60) i cross join range(0, 2) c
        |  where i.range < d.n and c.range < d.ch),
        | zc as (select doc_id, count(*) as z from (
        |    select doc_id, c, v,
        |      lag(v) over (partition by doc_id, c order by i) as pv
        |    from sv) t
        |  where pv is not null and ((v >= 0) <> (pv >= 0))
        |  group by doc_id),
        | agg as (select doc_id, rate, ch, count(*) as cnt,
        |    sum(v * v) as ssq, max(abs(v)) as pk
        |  from sv group by doc_id, rate, ch)
        |select a.doc_id,
        |  cast(case when a.doc_id % 25 = 0 then 0 else a.rate end as int) as sample_rate,
        |  cast(case when a.doc_id % 25 = 0 then 0 else a.ch end as int) as channels,
        |  cast(case when a.doc_id % 25 = 0 then 0 else a.cnt end as bigint) as n_samples,
        |  case when a.doc_id % 25 = 0 then cast(0 as double)
        |       else sqrt(cast(a.ssq as double) / a.cnt) end as rms,
        |  cast(case when a.doc_id % 25 = 0 then 0
        |       else coalesce(z.z, 0) end as bigint) as zero_crossings,
        |  cast(case when a.doc_id % 25 = 0 then 0 else a.pk end as int) as peak,
        |  (a.doc_id % 25 <> 0) as valid
        |from agg a left join zc z on a.doc_id = z.doc_id
        |order by a.doc_id""".stripMargin,

    // q55's lattice twin with the q64 formula: per-tile constants, so
    // sums scale by 64 — the progressive transport changes nothing
    // about the reconstructed values (that's the invariant under test)
    "q64_progressive_jpeg_decode" ->
      """with d as (select doc_id,
        |    doc_id % 5 + 1 as bw, doc_id % 2 + 1 as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((2 * x.range + y.range + d.doc_id) % 128) as v
        |  from d cross join range(0, 5) x cross join range(0, 2) y
        |  where x.range < d.bw and y.range < d.bh),
        | agg as (select doc_id, bw, bh,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else s * 64 end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    // Per-channel twin over the lossless color containers: channel
    // values straight from the generator formulas (PNG/BMP carry the
    // rgb formulas; GIF goes index → palette i→(i, 2i mod 256, 255−i))
    "q63_color_raster_decode" ->
      """with d as (select doc_id,
        |    (doc_id % 8 + 1) * 2 as w, (doc_id % 6 + 1) * 2 as h,
        |    doc_id % 3 as fmt
        |  from documents),
        | px as (select d.doc_id, d.w, d.h, d.fmt,
        |    case when d.fmt = 2 then (x.range + y.range + d.doc_id) % 256
        |         else (3 * x.range + y.range + d.doc_id) % 256 end as r,
        |    case when d.fmt = 2 then (2 * ((x.range + y.range + d.doc_id) % 256)) % 256
        |         else (x.range + 2 * y.range + 3 * d.doc_id) % 256 end as g,
        |    case when d.fmt = 2 then 255 - ((x.range + y.range + d.doc_id) % 256)
        |         else (2 * x.range + y.range + 7 * d.doc_id) % 256 end as b
        |  from d cross join range(0, 16) x cross join range(0, 12) y
        |  where x.range < d.w and y.range < d.h),
        | agg as (select doc_id, w, h, fmt, count(*) as n,
        |    sum(r) as rs, sum(g) as gs, sum(b) as bs,
        |    min(r) as rmn, max(r) as rmx, min(g) as gmn, max(g) as gmx,
        |    min(b) as bmn, max(b) as bmx
        |  from px group by doc_id, w, h, fmt)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown'
        |       when fmt = 0 then 'png' when fmt = 1 then 'bmp'
        |       else 'gif' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else n end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else rs end as bigint) as r_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else gs end as bigint) as g_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else bs end as bigint) as b_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else rmn end as int) as r_min,
        |  cast(case when doc_id % 25 = 0 then 0 else rmx end as int) as r_max,
        |  cast(case when doc_id % 25 = 0 then 0 else gmn end as int) as g_min,
        |  cast(case when doc_id % 25 = 0 then 0 else gmx end as int) as g_max,
        |  cast(case when doc_id % 25 = 0 then 0 else bmn end as int) as b_min,
        |  cast(case when doc_id % 25 = 0 then 0 else bmx end as int) as b_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    // q55's lattice twin with the arithmetic formula (7·doc_id): the
    // QM coder is lossless on the coefficients, so the closed form is
    // identical in shape
    "q90_arith_jpeg_decode" ->
      """with d as (select doc_id,
        |    doc_id % 4 + 1 as bw, doc_id % 3 + 1 as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((x.range + 3 * y.range + 7 * d.doc_id) % 128) as v
        |  from d cross join range(0, 4) x cross join range(0, 3) y
        |  where x.range < d.bw and y.range < d.bh),
        | agg as (select doc_id, bw, bh,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else s * 64 end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    // CMYK twin: the stored-plane tile constants are exact, so RGB is
    // pure formula — YCCK rows run the JFIF conversion first (the q61
    // clamp idiom), then both transforms apply channel·K/255 with
    // floor(x+0.5)
    "q88_cmyk_jpeg_decode" ->
      """with d as (select doc_id,
        |    cast(doc_id % 4 + 1 as bigint) as bw,
        |    cast(doc_id % 3 + 1 as bigint) as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh, d.doc_id % 2 = 0 as plain,
        |    2 * ((x.range + 3 * y.range + d.doc_id) % 128) as p0,
        |    2 * ((2 * x.range + y.range + 3 * d.doc_id) % 128) as p1,
        |    2 * ((x.range + 2 * y.range + 7 * d.doc_id) % 128) as p2,
        |    2 * ((3 * x.range + y.range + 5 * d.doc_id) % 128) as p3
        |  from d cross join range(0, 4) x cross join range(0, 3) y
        |  where x.range < d.bw and y.range < d.bh),
        | pre as (select doc_id, bw, bh, p3,
        |    case when plain then p0
        |         else least(255, greatest(0, floor(p0 + 1.402e0 * (p2 - 128) + 0.5e0))) end as av,
        |    case when plain then p1
        |         else least(255, greatest(0, floor(p0 - 0.344136e0 * (p1 - 128)
        |           - 0.714136e0 * (p2 - 128) + 0.5e0))) end as bv,
        |    case when plain then p2
        |         else least(255, greatest(0, floor(p0 + 1.772e0 * (p1 - 128) + 0.5e0))) end as cv
        |  from t),
        | rgb as (select doc_id, bw, bh,
        |    floor(av * p3 / 255e0 + 0.5e0) as r,
        |    floor(bv * p3 / 255e0 + 0.5e0) as g,
        |    floor(cv * p3 / 255e0 + 0.5e0) as b
        |  from pre),
        | agg as (select doc_id, bw, bh,
        |    sum(r) * 64 as rs, sum(g) * 64 as gs, sum(b) * 64 as bs,
        |    min(r) as rmn, max(r) as rmx, min(g) as gmn, max(g) as gmx,
        |    min(b) as bmn, max(b) as bmx
        |  from rgb group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else rs end as bigint) as r_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else gs end as bigint) as g_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else bs end as bigint) as b_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else rmn end as int) as r_min,
        |  cast(case when doc_id % 25 = 0 then 0 else rmx end as int) as r_max,
        |  cast(case when doc_id % 25 = 0 then 0 else gmn end as int) as g_min,
        |  cast(case when doc_id % 25 = 0 then 0 else gmx end as int) as g_max,
        |  cast(case when doc_id % 25 = 0 then 0 else bmn end as int) as b_min,
        |  cast(case when doc_id % 25 = 0 then 0 else bmx end as int) as b_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    // High-sampling twin: q61's formula with the chroma MCU index
    // generalized — tile (bx,by) reads chroma at (bx÷yh, by÷yvs),
    // exactly what sample replication reconstructs from per-MCU
    // constants at Y sampling yh×yvs
    "q91_sampled_jpeg_decode" ->
      """with d as (select doc_id,
        |    cast(case doc_id % 3 when 0 then 4 when 1 then 3 else 1 end as bigint) as yh,
        |    cast(case doc_id % 3 when 2 then 4 else 1 end as bigint) as yvs,
        |    doc_id % 2 + 1 as nx, (doc_id // 2) % 2 + 1 as ny
        |  from documents),
        | g as (select doc_id, yh, yvs, yh * nx as bw, yvs * ny as bh from d),
        | t as (select g.doc_id, g.bw, g.bh,
        |    2 * ((x.range + 3 * y.range + g.doc_id) % 128) as yv,
        |    2 * ((2 * (x.range // g.yh) + (y.range // g.yvs) + g.doc_id) % 128) as cbv,
        |    2 * (((x.range // g.yh) + 2 * (y.range // g.yvs) + 3 * g.doc_id) % 128) as crv
        |  from g cross join range(0, 8) x cross join range(0, 8) y
        |  where x.range < g.bw and y.range < g.bh),
        | rgb as (select doc_id, bw, bh,
        |    least(255, greatest(0, floor(yv + 1.402e0 * (crv - 128) + 0.5e0))) as r,
        |    least(255, greatest(0, floor(yv - 0.344136e0 * (cbv - 128)
        |      - 0.714136e0 * (crv - 128) + 0.5e0))) as g,
        |    least(255, greatest(0, floor(yv + 1.772e0 * (cbv - 128) + 0.5e0))) as b
        |  from t),
        | agg as (select doc_id, bw, bh,
        |    sum(r) * 64 as rs, sum(g) * 64 as gs, sum(b) * 64 as bs,
        |    min(r) as rmn, max(r) as rmx, min(g) as gmn, max(g) as gmx,
        |    min(b) as bmn, max(b) as bmx
        |  from rgb group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else rs end as bigint) as r_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else gs end as bigint) as g_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else bs end as bigint) as b_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else rmn end as int) as r_min,
        |  cast(case when doc_id % 25 = 0 then 0 else rmx end as int) as r_max,
        |  cast(case when doc_id % 25 = 0 then 0 else gmn end as int) as g_min,
        |  cast(case when doc_id % 25 = 0 then 0 else gmx end as int) as g_max,
        |  cast(case when doc_id % 25 = 0 then 0 else bmn end as int) as b_min,
        |  cast(case when doc_id % 25 = 0 then 0 else bmx end as int) as b_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    // Lossless twin: decode is EXACT, so the twin is the pixel
    // formula itself — sum/min/max of (5x+11y+7·id) mod 2^prec over
    // the raster, no rounding anywhere
    "q92_lossless_jpeg_decode" ->
      """with d as (select doc_id,
        |    doc_id % 13 + 2 as w, doc_id % 9 + 2 as h,
        |    cast(case doc_id % 3 when 0 then 8 when 1 then 12 else 16 end as int) as p
        |  from documents),
        | t as (select d.doc_id, d.w, d.h, d.p,
        |    (5 * x.range + 11 * y.range + 7 * d.doc_id) % (1::bigint << p) as v
        |  from d cross join range(0, 15) x cross join range(0, 11) y
        |  where x.range < d.w and y.range < d.h),
        | agg as (select doc_id, w, h, p,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, w, h, p)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else 1 end as int) as channels,
        |  cast(case when doc_id % 25 = 0 then 0 else p end as int) as bit_depth,
        |  cast(case when doc_id % 25 = 0 then 0 else w * h end as bigint) as n_samples,
        |  cast(case when doc_id % 25 = 0 then 0 else s end as bigint) as sample_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as sample_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as sample_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    // 12-bit twin: q90's lattice shape at modulus 2048 (values
    // 0–4094, exact through the DC-only encode at level shift 2048)
    "q93_12bit_jpeg_decode" ->
      """with d as (select doc_id,
        |    doc_id % 4 + 1 as bw, doc_id % 3 + 1 as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((x.range + 3 * y.range + 11 * d.doc_id) % 2048) as v
        |  from d cross join range(0, 4) x cross join range(0, 3) y
        |  where x.range < d.bw and y.range < d.bh),
        | agg as (select doc_id, bw, bh,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else 1 end as int) as channels,
        |  cast(case when doc_id % 25 = 0 then 0 else 12 end as int) as bit_depth,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_samples,
        |  cast(case when doc_id % 25 = 0 then 0 else s * 64 end as bigint) as sample_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as sample_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as sample_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    // 12-bit progressive/arithmetic twin: identical to q93 — the
    // frame type changes the entropy coding, never the decoded values
    "q96_12bit_progarith_jpeg_decode" ->
      """with d as (select doc_id,
        |    doc_id % 4 + 1 as bw, doc_id % 3 + 1 as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((x.range + 3 * y.range + 11 * d.doc_id) % 2048) as v
        |  from d cross join range(0, 4) x cross join range(0, 3) y
        |  where x.range < d.bw and y.range < d.bh),
        | agg as (select doc_id, bw, bh,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else 1 end as int) as channels,
        |  cast(case when doc_id % 25 = 0 then 0 else 12 end as int) as bit_depth,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_samples,
        |  cast(case when doc_id % 25 = 0 then 0 else s * 64 end as bigint) as sample_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as sample_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as sample_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    // chain-namespace twin: even/odd c_custkey split = the two chain
    // databases; amount/to recompute from the synthetic encoding
    // (the q37 arithmetic)
    "q94_chain_namespaces" ->
      """select case when c_custkey % 2 = 0 then 'chain_a' else 'chain_b' end as chain,
        |  count(*) as n_transfers,
        |  cast(sum(cast(c_custkey as decimal(38,0)) * 31) as double) as total_amount,
        |  max(printf('0x%040x', c_custkey * 7)) as to_max
        |from customer
        |group by chain
        |order by chain""".stripMargin,

    // domain-curation twin: domains and bodies re-derive from the
    // generation formulas (the URL spelling variants all collapse to
    // one domain by construction); the dup mark is the same
    // corpus-wide md5 count the engine computes
    "q97_domain_curation" ->
      """with d as (select doc_id,
        |    case when doc_id < 3 then 'tiny.example'
        |         when doc_id % 11 = 0 then null
        |         else 'site' || (doc_id % 7) || '.example' end as domain,
        |    case when doc_id < 3 or (doc_id % 7 in (0,1) and doc_id % 3 <> 0)
        |         then 'identical boilerplate body' else text end as body
        |  from documents),
        | k as (select doc_id, domain, md5(body) as k from d),
        | kn as (select k, count(*) as n from k group by k),
        | m as (select k.doc_id, k.domain,
        |    case when kn.n > 1 then 1 else 0 end as dup
        |  from k join kn using (k)),
        | stats as (select domain, count(*) as n_docs, sum(dup) as n_dup
        |  from m where domain is not null group by domain)
        |select m.doc_id, m.domain, stats.n_docs,
        |  cast(stats.n_dup as double) / cast(stats.n_docs as double) as dup_frac,
        |  (m.domain is null or stats.n_docs < 5 or
        |   not (cast(stats.n_dup as double) / cast(stats.n_docs as double) > 0.4))
        |    as keep
        |from m left join stats using (domain)
        |order by doc_id""".stripMargin,

    // event-signature twin: the same ten public constants the
    // reference ships (init.sql:213-222) as a VALUES table; the
    // selector column re-derives as the topic prefix, so the twin
    // checks the 4-byte-prefix property too
    "q95_event_signatures" ->
      """with r(signature, topic0) as (values
        |  ('Approval(address,address,uint256)',
        |   '0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925'),
        |  ('AuthorityUpdated(address,address)',
        |   '0xa3396fd7f6e0a21b50e5089d2da70d5ac0a3bbbd1f617a93f134b76389980198'),
        |  ('Deposit(address,address,uint256,uint256)',
        |   '0xdcbc1c05240f31ff3ad067ef1ee35ce4997762752e3a095284754544f4c709d7'),
        |  ('FeePercentUpdated(address,uint256)',
        |   '0xec370615cc81fb334e5566fbc80664d9082377bf59288d64a79f3fbecf4323a9'),
        |  ('OwnershipTransferred(address,address)',
        |   '0x8be0079c531659141344cd1fd0a4f28419497f9722a3daafe3b4186f6b6457e0'),
        |  ('StrategyDeposit(address,uint256)',
        |   '0xc6f6f91a48277d76f232cc08a9a30f6b05b3fd9b92c3180c25936e17a22a1025'),
        |  ('StrategyWithdrawal(address,uint256)',
        |   '0xd5ad0f046bd35f48b421a3e575435de38cea1980177b1c6da935d2f26049f3fa'),
        |  ('TargetFloatPercentUpdated(address,uint256)',
        |   '0x95bc4480b51f4860106d42850bcae222cf3303fb2b7d433e896205e0ebefe369'),
        |  ('Transfer(address,address,uint256)',
        |   '0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef'),
        |  ('Withdraw(address,address,address,uint256,uint256)',
        |   '0xfbde797d201c681b91056529119e0b02407c7bb96a4a2c75c01fc9667232c8db'))
        |select signature, topic0, true as matches_registry,
        |  substring(topic0, 1, 10) as selector
        |from r
        |order by signature""".stripMargin,

    // Sub-byte twin: gray samples scale by bit replication
    // (s · 255/max, exact integers — 255/85/17 for depths 1/2/4);
    // palette rows run the index formulas. Interlace changes only the
    // container layout, so the twin ignores it.
    "q87_subbyte_png_decode" ->
      """with d as (select doc_id,
        |    (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h,
        |    case doc_id % 3 when 0 then 1 when 1 then 3 else 15 end as mx,
        |    case doc_id % 3 when 0 then 255 when 1 then 85 else 17 end as f
        |  from documents),
        | px as (select d.doc_id, d.w, d.h,
        |    case when d.doc_id % 2 = 0
        |         then ((x.range + y.range + d.doc_id) % (d.mx + 1)) * d.f
        |         else (17 * ((x.range + y.range + d.doc_id) % (d.mx + 1)) + 9) % 256 end as r,
        |    case when d.doc_id % 2 = 0
        |         then ((x.range + y.range + d.doc_id) % (d.mx + 1)) * d.f
        |         else (29 * ((x.range + y.range + d.doc_id) % (d.mx + 1)) + 5) % 256 end as g,
        |    case when d.doc_id % 2 = 0
        |         then ((x.range + y.range + d.doc_id) % (d.mx + 1)) * d.f
        |         else (43 * ((x.range + y.range + d.doc_id) % (d.mx + 1)) + 2) % 256 end as b
        |  from d cross join range(0, 32) x cross join range(0, 24) y
        |  where x.range < d.w and y.range < d.h),
        | agg as (select doc_id, w, h, count(*) as n,
        |    sum(r) as rs, sum(g) as gs, sum(b) as bs,
        |    min(r) as rmn, max(r) as rmx, min(g) as gmn, max(g) as gmx,
        |    min(b) as bmn, max(b) as bmx
        |  from px group by doc_id, w, h)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'png' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else n end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else rs end as bigint) as r_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else gs end as bigint) as g_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else bs end as bigint) as b_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else rmn end as int) as r_min,
        |  cast(case when doc_id % 25 = 0 then 0 else rmx end as int) as r_max,
        |  cast(case when doc_id % 25 = 0 then 0 else gmn end as int) as g_min,
        |  cast(case when doc_id % 25 = 0 then 0 else gmx end as int) as g_max,
        |  cast(case when doc_id % 25 = 0 then 0 else bmn end as int) as b_min,
        |  cast(case when doc_id % 25 = 0 then 0 else bmx end as int) as b_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    // Closed-form composite: emitted frame fi's quadrant q (4 per
    // 16×16 screen, 64 px each) shows the latest update frame
    // fi − ((fi−1−q) mod 4) when fi ≥ q+1, else the frame-0 base —
    // the mod never sees a negative because the case shields it
    "q62_gif_composite_frames" ->
      """with d as (select doc_id,
        |    doc_id % 8 + 2 as nf,
        |    (3 * doc_id) % 256 as base
        |  from documents
        |  where doc_id % 25 <> 0),
        | fr as (select d.doc_id, d.base, f.range as fi
        |  from d cross join range(0, 11) f
        |  where f.range <= d.nf),
        | qv as (select fr.doc_id, fr.fi,
        |    case when fr.fi < q.range + 1 then fr.base
        |         else (7 * (fr.fi - ((fr.fi - 1 - q.range) % 4)) + fr.doc_id) % 256
        |    end as v
        |  from fr cross join range(0, 4) q)
        |select doc_id,
        |  cast(fi as int) as frame_index,
        |  cast(16 as int) as width,
        |  cast(16 as int) as height,
        |  cast(sum(v) * 64 as bigint) as pixel_sum,
        |  cast(min(v) as int) as pixel_min,
        |  cast(max(v) as int) as pixel_max
        |from qv
        |group by doc_id, fi
        |order by doc_id, frame_index""".stripMargin,

    // DuckDB's generate_series refuses lateral column bounds, so the
    // twin enumerates a constant window index (hwm = head-5000 caps
    // the plan at 5 windows by construction) and filters
    "q52_head_window_plan" ->
      """with h as (select max(o_orderkey) as head from orders),
        | w as (select head, greatest(head - 5000, 0) as hwm from h)
        |select w.hwm + 1 + r.range * 1000 as window_from,
        |  least(w.hwm + 1000 + r.range * 1000, w.head) as window_to,
        |  w.head as head
        |from w cross join range(0, 6) r
        |where w.hwm + 1 + r.range * 1000 <= w.head
        |order by window_from""".stripMargin,

    "q51_gif_pixel_decode" ->
      """with d as (select doc_id,
        |    (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h
        |  from documents),
        | px as (select d.doc_id, d.w, d.h,
        |    (x.range + y.range + d.doc_id) % 256 as v
        |  from d cross join range(0, 32) x cross join range(0, 24) y
        |  where x.range < d.w and y.range < d.h),
        | agg as (select doc_id, w, h,
        |    count(*) as n, sum(v) as s, min(v) as mn, max(v) as mx
        |  from px group by doc_id, w, h)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'gif' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else n end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else s end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    "q50_pixel_histogram" ->
      """with d as (select doc_id,
        |    (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h
        |  from documents
        |  where doc_id % 25 <> 0),
        | px as (select d.doc_id,
        |    (x.range + y.range + d.doc_id) % 256 as v
        |  from d cross join range(0, 32) x cross join range(0, 24) y
        |  where x.range < d.w and y.range < d.h)
        |select doc_id, cast(v // 32 as int) as bin, count(*) as n
        |from px
        |group by doc_id, bin
        |order by doc_id, bin""".stripMargin,

    "q48_pixel_resize" ->
      """with d as (select doc_id,
        |    (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h
        |  from documents),
        | px as (select d.doc_id, d.w, d.h,
        |    ((x.range * d.w) // 8 + (y.range * d.h) // 8 + d.doc_id) % 256 as v
        |  from d cross join range(0, 8) x cross join range(0, 8) y),
        | agg as (select doc_id, w, h,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from px group by doc_id, w, h)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown'
        |       when doc_id % 2 = 0 then 'png' else 'bmp' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as src_width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as src_height,
        |  cast(case when doc_id % 25 = 0 then 0 else 8 end as int) as out_width,
        |  cast(case when doc_id % 25 = 0 then 0 else 8 end as int) as out_height,
        |  cast(case when doc_id % 25 = 0 then 0 else s end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    "q46_pixel_decode" ->
      """with d as (select doc_id,
        |    (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h
        |  from documents),
        | px as (select d.doc_id, d.w, d.h,
        |    (x.range + y.range + d.doc_id) % 256 as v
        |  from d cross join range(0, 32) x cross join range(0, 24) y
        |  where x.range < d.w and y.range < d.h),
        | agg as (select doc_id, w, h,
        |    count(*) as n, sum(v) as s, min(v) as mn, max(v) as mx
        |  from px group by doc_id, w, h)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown'
        |       when doc_id % 2 = 0 then 'png' else 'bmp' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else n end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else s end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin,

    "q38_jdbc_roundtrip" ->
      (s"""select printf('0x%040x', o_custkey) as address,
        |  '$TransferSig' as topic0,
        |  printf('0x%064x', o_custkey) as topic1,
        |  printf('0x%064x', o_orderkey * 3) as data,
        |  o_orderkey as block_number,
        |  printf('0xt%x', o_orderkey) as transaction_hash,
        |  cast(0 as bigint) as transaction_index,
        |  o_orderkey % 7 as log_index,
        |  false as removed
        |from orders
        |where o_orderkey % 5 = 2
        |order by block_number""".stripMargin),

    "q37_sql_surface_view" ->
      """select printf('0x%040x', c_nationkey) as contract_address,
        |  count(*) as n_transfers,
        |  cast(sum(cast(c_custkey as decimal(38,0)) * 31) as double) as total_amount,
        |  max(printf('0x%040x', c_custkey * 7)) as to_max
        |from customer
        |group by contract_address
        |order by contract_address""".stripMargin,

    "q36_media_probe" ->
      """select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown'
        |       when doc_id % 4 = 0 then 'png'
        |       when doc_id % 4 = 1 then 'jpeg'
        |       when doc_id % 4 = 2 then 'gif'
        |       else 'wav' end as format,
        |  cast(case when doc_id % 25 = 0 or doc_id % 4 = 3 then 0
        |       else (doc_id % 64 + 1) * 4 end as int) as width,
        |  cast(case when doc_id % 25 = 0 or doc_id % 4 = 3 then 0
        |       else (doc_id % 48 + 1) * 4 end as int) as height,
        |  cast(case when doc_id % 25 <> 0 and doc_id % 4 = 3
        |       then 8000 + (doc_id % 5) * 8000 else 0 end as int) as sample_rate,
        |  cast(case when doc_id % 25 <> 0 and doc_id % 4 = 3
        |       then (doc_id % 2) + 1 else 0 end as int) as channels,
        |  cast(case when doc_id % 25 = 0 then 6
        |       when doc_id % 4 = 0 then 33
        |       when doc_id % 4 = 1 then 35
        |       when doc_id % 4 = 2 then 14
        |       else 44 + ((doc_id % 2) + 1) * 8 end as int) as byte_size,
        |  (doc_id % 25 <> 0) as valid
        |from documents
        |order by doc_id""".stripMargin,

    "q34_scalar_decode_batch" ->
      """select o_orderkey,
        |  o_orderkey as strtol_key,
        |  upper(printf('%064x', o_orderkey)) as hex_roundtrip,
        |  o_orderpriority as prio_text,
        |  '[' || o_orderkey || ',' || (o_orderkey + 1) || ',' || (o_orderkey + 2) || ']' as fixed3
        |from orders
        |order by o_orderkey""".stripMargin,

    "q35_tombstone_roundtrip" ->
      """select printf('0x%040x', o_custkey) as address,
        |  o_orderkey as block_number,
        |  o_orderkey % 7 as log_index,
        |  false as removed
        |from orders
        |where o_orderkey % 10 = 1 and o_orderkey % 50 <> 1
        |order by block_number""".stripMargin,

    // the sketch itself is engine-specific; the gated contract is the
    // ±5% HLL accuracy bound (booleans true on both sides iff honored)
    "q30_approx_distinct" ->
      """select l_returnflag,
        |  count(distinct l_partkey) as exact_parts,
        |  true as parts_within_tol,
        |  count(distinct l_orderkey) as exact_orders,
        |  true as orders_within_tol
        |from lineitem
        |group by l_returnflag
        |order by l_returnflag""".stripMargin,

    "q26_multimodal_meta" ->
      """select doc_id,
        |  case cast(doc_id % 3 as int) when 0 then 'image' when 1 then 'audio' else 'video' end as media_type,
        |  cast((doc_id % 64 + 1) * 16 as int) as width,
        |  cast((doc_id % 48 + 1) * 16 as int) as height,
        |  cast(case when doc_id % 3 = 2 then doc_id % 30 + 1 else 1 end as int) as n_frames,
        |  80 as byte_size,
        |  true as valid
        |from documents
        |order by doc_id""".stripMargin,

    "q66_decontamination" ->
      s"""with d as (select doc_id, source, string_split($OracleNorm, ' ') as w from documents),
        |g as (select doc_id, source, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w)-3+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+2), ' ')))) as gram
        |  from d),
        |bg as (select distinct gram from g where source = 'src0')
        |select g.doc_id, count(*) as n_grams,
        |  cast(sum(case when bg.gram is not null then 1 else 0 end) as bigint) as n_hits,
        |  cast(sum(case when bg.gram is not null then 1 else 0 end) as double)
        |    / cast(greatest(count(*), 1) as double) as contamination_frac
        |from g left join bg using (gram) where g.source <> 'src0'
        |group by g.doc_id
        |order by g.doc_id""".stripMargin,

    "q67_repetition_signals" ->
      s"""with d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |g as (select doc_id, len(w) as n_tokens, unnest(list_transform(
        |    range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as gram
        |  from d),
        |cnt as (select doc_id, n_tokens, gram, count(*) as cnt from g
        |  group by doc_id, n_tokens, gram),
        |agg as (select doc_id, n_tokens, max(cnt) as top_cnt, sum(cnt) as n_grams,
        |    sum(case when cnt > 1 then cnt else 0 end) as dup_occ
        |  from cnt group by doc_id, n_tokens)
        |select d.doc_id,
        |  coalesce(agg.top_cnt, 0) as top_cnt,
        |  cast(coalesce(agg.n_grams, 0) as bigint) as n_grams,
        |  coalesce(cast(agg.top_cnt * 2 as double)
        |    / cast(greatest(agg.n_tokens, 1) as double), 0.0) as top_gram_frac,
        |  coalesce(cast(agg.dup_occ as double)
        |    / cast(greatest(agg.n_grams, 1) as double), 0.0) as dup_gram_frac
        |from d left join agg using (doc_id)
        |order by d.doc_id""".stripMargin,

    "q68_pii_redaction" ->
      """with t as (select c_custkey,
        |  c_name || ' contact user' || cast(c_custkey as varchar)
        |    || '@example.com or +1-'
        |    || lpad(cast((c_custkey*7) % 900 + 100 as varchar), 3, '0')
        |    || '-555-'
        |    || lpad(cast((c_custkey*13) % 10000 as varchar), 4, '0')
        |    || ' ip 10.' || cast(c_custkey % 256 as varchar)
        |    || '.0.' || cast((c_custkey*3) % 256 as varchar) as text
        |  from customer),
        |r as (select c_custkey, text,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) as n_emails,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') as r1
        |  from t),
        |r2 as (select c_custkey, n_emails,
        |    len(regexp_extract_all(r1,
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) as n_ips,
        |    regexp_replace(r1,
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') as rr
        |  from r),
        |r3 as (select c_custkey, n_emails, n_ips,
        |    len(regexp_extract_all(rr,
        |      '(\+?\b[0-9]{1,3}[-. ]|\([0-9]{3}\) ?)[0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?\b')) as n_phones,
        |    regexp_replace(rr,
        |      '(\+?\b[0-9]{1,3}[-. ]|\([0-9]{3}\) ?)[0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?\b', '<PHONE>', 'g') as redacted
        |  from r2)
        |select c_custkey, cast(n_emails as bigint) as n_emails,
        |  cast(n_ips as bigint) as n_ips, cast(n_phones as bigint) as n_phones, redacted
        |from r3
        |order by c_custkey""".stripMargin,

    "q76_bpe_encode" -> {
      val chain = Q76Merges.foldLeft("sym") { case (acc, (a, b)) =>
        s"replace($acc, ' $a $b ', ' $a$b ')"
      }
      s"""with n as (select doc_id, $OracleNorm as norm from documents),
        |s as (select doc_id, case when length(norm) = 0 then ''
        |    else ' ' || replace(regexp_replace(norm, '(.)', '\\1 ', 'g'), '   ', ' </w> ')
        |      || '</w> ' end as sym
        |  from n),
        |m as (select doc_id, $chain as merged from s),
        |t as (select doc_id,
        |    list_filter(string_split(trim(merged), ' '), x -> length(x) > 0) as toks
        |  from m)
        |select doc_id, array_to_string(toks, '|') as encoded,
        |  cast(len(list_filter(toks, x -> x <> '</w>')) as bigint) as n_bpe_tokens
        |from t order by doc_id""".stripMargin
    },

    "q82_bpe_encode_loop" -> {
      // The loop encoder is list-order BPE with each merge run to
      // FIXPOINT (rank-greedy ≡ that; see Bpe.encodeWord scaladoc), so
      // the twin repeats each merge's literal replace until it can't
      // fire again — 6 nestings: fixture tokens are ≤8 symbols, an
      // adjacent-repeat chain halves per pass (3 passes), 6 is margin
      // — IN MERGE ORDER, before the next merge's replaces.
      val chain = Q76Merges.foldLeft("sym") { case (acc, (a, b)) =>
        (1 to 6).foldLeft(acc) { case (e, _) => s"replace($e, ' $a $b ', ' $a$b ')" }
      }
      s"""with n as (select doc_id, $OracleNorm as norm from documents),
        |s as (select doc_id, case when length(norm) = 0 then ''
        |    else ' ' || replace(regexp_replace(norm, '(.)', '\\1 ', 'g'), '   ', ' </w> ')
        |      || '</w> ' end as sym
        |  from n),
        |m as (select doc_id, $chain as merged from s),
        |t as (select doc_id,
        |    list_filter(string_split(trim(merged), ' '), x -> length(x) > 0) as toks
        |  from m)
        |select doc_id, array_to_string(toks, '|') as encoded,
        |  cast(len(list_filter(toks, x -> x <> '</w>')) as bigint) as n_bpe_tokens
        |from t order by doc_id""".stripMargin
    },

    "q78_canonical_selection" ->
      s"""with recursive d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |sh as (select doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d),
        |p as (select a.doc_id as id_a, b.doc_id as id_b
        |  from sh a join sh b on a.doc_id < b.doc_id
        |  where cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) >= 0.6),
        |e as (select id_a as src, id_b as dst from p
        |      union select id_b, id_a from p),
        |reach(src, dst) as (
        |  select src, dst from e
        |  union
        |  select r.src, e2.dst from reach r join e e2 on r.dst = e2.src),
        |lab as (select src as doc_id, min(dst) as mn from reach group by src),
        |q as (
        |  select doc_id,
        |    0.4 * least(cast($OracleNTokens as double) / 50.0, 1.0)
        |    + 0.3 * least(cast(len(list_filter($OracleTokens, t -> t in ($OracleStop))) as double)
        |        / cast(greatest($OracleNTokens, 1) as double) * 4.0, 1.0)
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0))
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0)) as quality
        |  from documents),
        |assigned as (select doc.doc_id, q.quality,
        |    least(doc.doc_id, coalesce(l.mn, doc.doc_id)) as cluster
        |  from documents doc
        |  join q on doc.doc_id = q.doc_id
        |  left join lab l on doc.doc_id = l.doc_id),
        |ranked as (select doc_id, cluster, quality,
        |    row_number() over (partition by cluster
        |      order by quality desc, doc_id) as rk
        |  from assigned)
        |select doc_id, cluster, quality, rk = 1 as is_kept
        |from ranked
        |order by doc_id""".stripMargin,

    "q80_html_strip" ->
      """with t as (select p_partkey,
        |    '<html><body><h1>' || p_name || '</h1><p class="x">' || p_brand
        |      || ' &amp; ' || p_type || '</p><script>var z = 1 < 2;</script>'
        |      || case when p_partkey % 5 = 0 then '<SCRIPT type="text/javascript">leak();</SCRIPT>' else '' end
        |      || case when p_partkey % 7 = 0 then '<Style>.a{color:red}</STYLE>' else '' end
        |      || case when p_partkey % 3 = 0 then '<p>caf&eacute; r&#233;sum&#xE9; &mdash; &#8212; l&rsquo;&Eacute;t&eacute; &hellip; &euro;5 &#x1D11E; a&nbsp;b &amp;lt; &unknown; &#xZZ; &#; 1 &lt; 2</p>' else '' end
        |      || '</body></html>' as raw
        |  from part),
        |s1 as (select p_partkey,
        |    regexp_replace(regexp_replace(raw,
        |      '(?is)<script([ \t\n\x0B\f\r][^>]*)?>.*?</script>', ' ', 'g'),
        |      '(?is)<style([ \t\n\x0B\f\r][^>]*)?>.*?</style>', ' ', 'g') as x
        |  from t),
        |s2 as (select p_partkey, regexp_replace(x, '<[^>]*>', ' ', 'g') as x from s1),
        |s3 as (select p_partkey,
        |    replace(replace(replace(replace(replace(replace(replace(replace(
        |    replace(replace(replace(replace(replace(replace(replace(replace(x,
        |      '&eacute;', 'é'), '&Eacute;', 'É'), '&#233;', 'é'), '&#xE9;', 'é'),
        |      '&mdash;', '—'), '&#8212;', '—'), '&rsquo;', '’'),
        |      '&hellip;', '…'), '&euro;', '€'), '&#x1D11E;', '𝄞'),
        |      '&nbsp;', chr(160)),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&') as x
        |  from s2)
        |select p_partkey, trim(regexp_replace(x, '[ \t\n\x0B\f\r\x{00A0}]+', ' ', 'g')) as text
        |from s3
        |order by p_partkey""".stripMargin,

    "q79_budget_selection" ->
      s"""with q as (select doc_id,
        |    0.4 * least(cast($OracleNTokens as double) / 50.0, 1.0)
        |    + 0.3 * least(cast(len(list_filter($OracleTokens, t -> t in ($OracleStop))) as double)
        |        / cast(greatest($OracleNTokens, 1) as double) * 4.0, 1.0)
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0))
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0)) as quality,
        |    cast($OracleNTokens as bigint) as n_tokens
        |  from documents),
        |c as (select doc_id, quality, n_tokens,
        |    coalesce(sum(n_tokens) over (order by quality desc, doc_id
        |      rows between unbounded preceding and 1 preceding), 0) as cum
        |  from q)
        |select doc_id, quality, n_tokens from c where cum < 5000
        |order by doc_id""".stripMargin,

    "q86_semdedup" ->
      """with u as (
        |  select vec_id, embedding from embeddings
        |  union all
        |  select vec_id + 100000, list_transform(embedding, x -> cast(x * 2 as real))
        |  from embeddings where vec_id < 50),
        |c as (select vec_id as cell, embedding as cvec from embeddings where vec_id < 4),
        |sc as (select u.vec_id, u.embedding, c.cell,
        |    list_sum(list_transform(list_zip(u.embedding, c.cvec),
        |      p -> cast(p[1] as double) * cast(p[2] as double))) as s
        |  from u cross join c),
        |asg as (select vec_id, embedding, cell from (
        |    select vec_id, embedding, cell,
        |      row_number() over (partition by vec_id order by s desc, cell asc) as rn
        |    from sc) where rn = 1),
        |p as (select b.vec_id as idb
        |  from asg a join asg b on a.cell = b.cell and a.vec_id < b.vec_id
        |  where list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> cast(p[1] as double) * cast(p[2] as double)))
        |    / (sqrt(list_sum(list_transform(list_zip(a.embedding, a.embedding),
        |        p -> cast(p[1] as double) * cast(p[2] as double))))
        |      * sqrt(list_sum(list_transform(list_zip(b.embedding, b.embedding),
        |        p -> cast(p[1] as double) * cast(p[2] as double))))) >= 0.999),
        |d as (select distinct idb from p)
        |select asg.vec_id, cast(asg.cell as integer) as cell,
        |  (d.idb is null) as is_kept
        |from asg left join d on asg.vec_id = d.idb
        |order by asg.vec_id""".stripMargin,

    "q85_span_removal" ->
      s"""with d as (select doc_id, string_split($OracleNorm, ' ') as w,
        |    len(string_split($OracleNorm, ' ')) as nt from documents
        |  where length($OracleNorm) > 0),
        |x as (select doc_id, w, nt,
        |    unnest(range(1, greatest(nt-3+1, 0)+1)) as i from d),
        |g as (select doc_id, i - 1 as pos,
        |    array_to_string(list_slice(w, i, i+2), ' ') as gram from x),
        |c as (select gram, min(doc_id*1000000 + pos) as wk
        |  from g group by 1 having count(*) >= 2),
        |nf as (select g.doc_id, g.pos from g join c using (gram)
        |  where g.doc_id*1000000 + g.pos <> c.wk),
        |cov as (select distinct doc_id, unnest(range(pos, pos+3)) as cp from nf),
        |tk as (select doc_id, i - 1 as tp, w[i] as tok
        |  from (select doc_id, w, unnest(range(1, len(w)+1)) as i from d)),
        |kp as (select tk.doc_id, tk.tp, tk.tok from tk
        |  left join cov on tk.doc_id = cov.doc_id and tk.tp = cov.cp
        |  where cov.cp is null),
        |r as (select doc_id, string_agg(tok, ' ' order by tp) as text_despanned,
        |    count(*) as kept from kp group by 1)
        |select d.doc_id, coalesce(r.text_despanned, '') as text_despanned,
        |  cast(d.nt as bigint) as n_tokens,
        |  cast(d.nt - coalesce(r.kept, 0) as bigint) as n_removed_tokens
        |from d left join r using (doc_id)
        |order by d.doc_id""".stripMargin,

    "q84_lm_score" ->
      s"""with n as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
        |b as (select doc_id, w[i] as w1, w[i + 1] as w2
        |  from (select doc_id, w, unnest(range(1, len(w))) as i from t)),
        |m as (select w1, w2, count(*) as cnt from b where doc_id % 2 = 0 group by 1, 2),
        |s as (select b.doc_id,
        |    count(*) as n_bigrams,
        |    sum(case when m.cnt is not null then 1 else 0 end) as n_hit,
        |    sum(case when m.cnt is null then 1 else 0 end) as n_oov,
        |    sum(coalesce(m.cnt, 0)) as sum_c12
        |  from b left join m on b.w1 = m.w1 and b.w2 = m.w2
        |  where b.doc_id % 2 = 1
        |  group by 1)
        |select doc_id, cast(n_bigrams as bigint) as n_bigrams,
        |  cast(n_hit as bigint) as n_hit, cast(n_oov as bigint) as n_oov,
        |  cast(sum_c12 as bigint) as sum_c12
        |from s order by doc_id""".stripMargin,

    // tar-shard twin: md5-prefix assignment + octet lengths + the
    // closed ustar size formula, all in SQL
    "q102_tar_shard_export" ->
      """with d as (select cast(doc_id as varchar) as k,
        |    octet_length(encode(text)) as len
        |  from documents),
        |a as (select ('0x' || substr(md5(k), 1, 8))::bigint % 8 as shard, len from d)
        |select cast(shard as int) as shard,
        |  cast(count(*) as bigint) as n_files,
        |  cast(sum(len) as bigint) as payload_bytes,
        |  cast(sum(512 + 512 * ((len + 511) // 512)) + 1024 as bigint) as tar_bytes
        |from a
        |group by shard
        |order by shard""".stripMargin,

    // SQL-surface twin: the q19 quality formula + token count +
    // md5(norm) fingerprint — same signals, derived independently
    "q105_sql_text_surface" ->
      s"""with m as (
        |  select doc_id, $OracleNorm as norm,
        |    $OracleNTokens as n_tokens,
        |    len(list_filter($OracleTokens, t -> t in ($OracleStop))) as n_stop,
        |    cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |      / cast(greatest(length(text),1) as double) as punct_ratio,
        |    cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |      / cast(greatest(length(text),1) as double) as digit_ratio
        |  from documents)
        |select doc_id,
        |  0.4 * least(cast(n_tokens as double) / 50.0, 1.0)
        |  + 0.3 * least(cast(n_stop as double) / cast(greatest(n_tokens,1) as double) * 4.0, 1.0)
        |  + 0.15 * (1.0 - least(punct_ratio * 5.0, 1.0))
        |  + 0.15 * (1.0 - least(digit_ratio * 5.0, 1.0)) as quality,
        |  cast(n_tokens as int) as n_tokens,
        |  md5(norm) as fp
        |from m
        |order by doc_id""".stripMargin,

    // WebDataset samples twin: part count, byte total and both
    // payloads re-derived per doc (txt = the text bytes, meta =
    // 'n=<byte length>')
    "q106_webdataset_samples" ->
      """select doc_id,
        |  2 as n_parts,
        |  cast(octet_length(encode(text))
        |    + octet_length(encode('n=' || cast(octet_length(encode(text)) as varchar))) as bigint) as bytes,
        |  cast(octet_length(encode(text)) as int) as txt_bytes,
        |  'n=' || cast(octet_length(encode(text)) as varchar) as meta
        |from documents
        |order by doc_id""".stripMargin,

    // WARC export twin: md5-prefix assignment + utf8 octet lengths,
    // grouped per shard in SQL
    "q107_warc_export" ->
      """with d as (select cast(doc_id as varchar) as k,
        |    octet_length(encode(text)) as len
        |  from documents),
        |a as (select ('0x' || substr(md5(k), 1, 8))::bigint % 8 as shard, len from d)
        |select cast(shard as int) as shard,
        |  cast(count(*) as bigint) as n_records,
        |  cast(sum(len) as bigint) as payload_bytes
        |from a
        |group by shard
        |order by shard""".stripMargin,

    // WARC read-back twin: every header field re-derived — the
    // urn:uuid grouping of md5(key), the fixed conversion/text-plain
    // fields, utf8 Content-Length, and the payload text itself
    "q108_warc_readback" ->
      """with h as (select doc_id, text, md5(cast(doc_id as varchar)) as m from documents)
        |select doc_id,
        |  cast(('0x' || substr(m, 1, 8))::bigint % 8 as int) as shard,
        |  'urn:uuid:' || substr(m, 1, 8) || '-' || substr(m, 9, 4) || '-'
        |    || substr(m, 13, 4) || '-' || substr(m, 17, 4) || '-' || substr(m, 21, 12)
        |    as record_id,
        |  'conversion' as warc_type,
        |  'text/plain' as content_type,
        |  cast(octet_length(encode(text)) as bigint) as content_length,
        |  text
        |from h
        |order by doc_id""".stripMargin,

    // Gopher rule-set twin: every signal re-derived — same
    // tokenization, letter test, literal replaces, line splits and
    // int/int divisions
    "q109_gopher_rules" ->
      s"""with t as (select doc_id, text,
        |    $OracleTokens as w,
        |    string_split(text, chr(10)) as ln
        |  from documents),
        |c as (select doc_id,
        |    len(w) as n_words,
        |    list_sum(list_transform(w, x -> length(x))) as wchars,
        |    len(list_filter(w, x -> lower(x) != upper(x))) as alpha,
        |    len(list_filter(w, x -> lower(x) in
        |      ('the','be','to','of','and','that','have','with'))) as stop_hits,
        |    length(text) - length(replace(text, '#', '')) as nhash,
        |    (length(text) - length(replace(text, '...', ''))) // 3 as ellsym,
        |    len(ln) as nlines,
        |    len(list_filter(ln, l -> substr(ltrim(l), 1, 1) in ('-','*','•'))) as bull,
        |    len(list_filter(ln, l -> length(rtrim(l)) >= 3
        |      and substr(rtrim(l), length(rtrim(l)) - 2, 3) = '...')) as elll
        |  from t),
        |r as (select doc_id,
        |    cast(n_words as bigint) as n_words,
        |    case when n_words > 0
        |      then cast(wchars as double) / cast(n_words as double) end as mean_word_len,
        |    case when n_words > 0
        |      then cast(alpha as double) / cast(n_words as double) end as alpha_word_ratio,
        |    case when n_words > 0
        |      then cast(nhash + ellsym as double) / cast(n_words as double) end as symbol_ratio,
        |    cast(bull as double) / cast(nlines as double) as bullet_ratio,
        |    cast(elll as double) / cast(nlines as double) as ellipsis_ratio,
        |    cast(stop_hits as bigint) as stop_hits
        |  from c)
        |select doc_id, n_words, mean_word_len, alpha_word_ratio, symbol_ratio,
        |  bullet_ratio, ellipsis_ratio, stop_hits,
        |  coalesce(n_words >= 50 and n_words <= 100000
        |    and mean_word_len >= 3.0 and mean_word_len <= 10.0
        |    and symbol_ratio <= 0.1 and bullet_ratio <= 0.9
        |    and ellipsis_ratio <= 0.3 and alpha_word_ratio >= 0.8
        |    and stop_hits >= 2, false) as keep
        |from r
        |order by doc_id""".stripMargin,

    // bloom twin: md5-salted positions, 32-bits-per-word bit_or
    // build, all-bits-set probe — the identical bitmap on both sides
    "q116_bloom_seen" ->
      s"""with keys as (select doc_id, md5($OracleNorm) as fp from documents),
        |pos as (select doc_id, fp, i.i,
        |    ('0x' || substr(md5(cast(i.i as varchar) || ':' || fp), 1, 15))::bigint % 65536 as p
        |  from keys cross join range(0, 6) i(i)),
        |build as (select (p // 32) as word,
        |    bit_or((1::bigint << cast(p % 32 as int))) as bits
        |  from pos where doc_id % 2 = 0 group by 1),
        |probe as (select pos.doc_id,
        |    bool_and(coalesce(b.bits, 0) & (1::bigint << cast(pos.p % 32 as int)) <> 0)
        |      as maybe_seen
        |  from pos left join build b on (pos.p // 32) = b.word
        |  group by pos.doc_id)
        |select doc_id, maybe_seen from probe order by doc_id""".stripMargin,

    // video-phash twin: q111's byte chain with a frame axis — the
    // animated gradient formula per frame, same sampling floors and
    // packing
    "q115_video_phash" ->
      """with d as (select doc_id,
        |    ((doc_id % 8) + 1) * 2 as w, ((doc_id % 6) + 1) * 2 as h,
        |    (doc_id % 12) + 2 as nf
        |  from documents where doc_id % 25 <> 0),
        |fr as (select d.doc_id, d.w, d.h, f.f
        |  from d cross join range(0, 14) f(f) where f.f < d.nf),
        |g as (select fr.doc_id, fr.f, fr.w, fr.h, y.y, x.x,
        |    ((x.x * fr.w) // 9 + (y.y * fr.h) // 8 + 7 * fr.f + fr.doc_id) % 256 as t
        |  from fr cross join range(0, 8) y(y) cross join range(0, 9) x(x)),
        |b as (select a.doc_id, a.f, a.w, a.h, a.y, a.x,
        |    case when n.t > a.t then 1 else 0 end as bit
        |  from g a join g n on n.doc_id = a.doc_id and n.f = a.f
        |    and n.y = a.y and n.x = a.x + 1
        |  where a.x < 8),
        |rb as (select doc_id, f, w, h, y,
        |    cast(sum(bit * (1 << (7 - x))) as int) as byte
        |  from b group by doc_id, f, w, h, y),
        |hx as (select doc_id, f, w, h,
        |    string_agg(printf('%02x', byte), '' order by y) as dhash_hex
        |  from rb group by doc_id, f, w, h)
        |select doc_id, cast(f as bigint) as frame_index,
        |  cast(w as bigint) as w, cast(h as bigint) as h, dhash_hex
        |from hx
        |order by doc_id, frame_index""".stripMargin,

    // audio-fingerprint twin: samples from the generating formula,
    // the same j·65/n window floor, exact integer energies, and the
    // q111-style byte packing
    "q114_audio_fingerprint" ->
      """with d as (select doc_id, (doc_id % 2) + 1 as ch, (doc_id % 50) + 10 as nf
        |  from documents where doc_id % 25 <> 0),
        |s as (select d.doc_id, d.nf * d.ch as n, j.j,
        |    ((j.j // d.ch) * 31 + (j.j % d.ch) * 17 + d.doc_id * 7) % 65536 - 32768 as v
        |  from d cross join range(0, 120) j(j) where j.j < d.nf * d.ch),
        |e0 as (select doc_id, n, (j * 65) // n as w, sum(v * v) as e
        |  from s group by 1, 2, 3),
        |win as (select d2.doc_id, d2.n, w.w, coalesce(e0.e, 0) as e
        |  from (select distinct doc_id, n from s) d2
        |  cross join range(0, 65) w(w)
        |  left join e0 on e0.doc_id = d2.doc_id and e0.w = w.w),
        |b as (select a.doc_id, a.n, a.w as i,
        |    case when nx.e > a.e then 1 else 0 end as bit
        |  from win a join win nx on nx.doc_id = a.doc_id and nx.w = a.w + 1
        |  where a.w < 64),
        |rb as (select doc_id, n, i // 8 as y,
        |    cast(sum(bit * (1 << (7 - (i % 8)))) as int) as byte
        |  from b group by 1, 2, 3),
        |hx as (select doc_id, n,
        |    string_agg(printf('%02x', byte), '' order by y) as ehash_hex
        |  from rb group by 1, 2)
        |select doc_id,
        |  cast(8000 + (doc_id % 5) * 8000 as bigint) as sample_rate,
        |  cast((doc_id % 2) + 1 as bigint) as channels,
        |  cast(n as bigint) as n_samples,
        |  ehash_hex
        |from hx
        |order by doc_id""".stripMargin,

    // DSIR twin: same n-grams (normalized unigrams + space-joined
    // bigrams), same md5-prefix buckets, same histograms and integer
    // dot products
    "q113_dsir_weights" ->
      s"""with n as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
        |uni as (select doc_id, term from
        |  (select doc_id, unnest(w) as term from t) where length(term) > 0),
        |big as (select doc_id, w[i] || ' ' || w[i + 1] as term
        |  from (select doc_id, w, unnest(range(1, len(w))) as i from t)),
        |terms as (select * from uni union all select * from big),
        |f as (select doc_id,
        |    ('0x' || substr(md5(term), 1, 8))::bigint % 8192 as bucket,
        |    count(*) as c
        |  from terms group by 1, 2),
        |tt as (select bucket, sum(c) as ct from f where doc_id % 2 = 0 group by 1),
        |rr as (select bucket, sum(c) as cr from f where doc_id % 2 = 1 group by 1),
        |d as (select f.doc_id,
        |    sum(f.c) as n_feats,
        |    sum(f.c * coalesce(tt.ct, 0)) as dot_target,
        |    sum(f.c * coalesce(rr.cr, 0)) as dot_raw
        |  from f
        |  left join tt on f.bucket = tt.bucket
        |  left join rr on f.bucket = rr.bucket
        |  where f.doc_id % 2 = 1
        |  group by 1)
        |select doc_id, cast(n_feats as bigint) as n_feats,
        |  cast(dot_target as bigint) as dot_target,
        |  cast(dot_raw as bigint) as dot_raw
        |from d
        |order by doc_id""".stripMargin,

    // dHash twin: the shared per-row-byte chain, hex-rendered in row
    // order (the hash's MSB-first packing makes hex = row bytes)
    "q111_image_phash" ->
      s"""$OraclePHashCtes,
        |hx as (select doc_id, w, h,
        |    string_agg(printf('%02x', byte), '' order by y) as dhash_hex
        |  from rb group by doc_id, w, h)
        |select doc_id,
        |  case when doc_id % 2 = 0 then 'png' else 'bmp' end as fmt,
        |  cast(w as bigint) as w, cast(h as bigint) as h, dhash_hex
        |from hx
        |order by doc_id""".stripMargin,

    // image near-dup twin: band = row byte (a relabeling of the
    // 8-bit chunks), same ≥2/≤1000 bucket cap, distinct candidate
    // pairs, distance = Σ per-row popcount of xor
    "q112_image_near_dup" ->
      s"""$OraclePHashCtes,
        |sig as (select doc_id, y, byte from rb),
        |bucket as (select y, byte from sig
        |  group by y, byte having count(*) >= 2 and count(*) <= 200),
        |cand as (select a.doc_id as id_a, b.doc_id as id_b
        |  from sig a
        |  join bucket k on a.y = k.y and a.byte = k.byte
        |  join sig b on b.y = a.y and b.byte = a.byte and b.doc_id > a.doc_id
        |  group by 1, 2),
        |dist as (select c.id_a, c.id_b,
        |    sum(bit_count(xor(sa.byte, sb.byte))) as distance
        |  from cand c
        |  join sig sa on sa.doc_id = c.id_a
        |  join sig sb on sb.doc_id = c.id_b and sb.y = sa.y
        |  group by 1, 2)
        |select id_a, id_b, cast(distance as bigint) as distance
        |from dist
        |where distance <= 2
        |order by id_a, id_b""".stripMargin,

    // incremental media dedup twin: the q112 chain (bucket census
    // over ALL signatures — the union the incremental kernel
    // censuses), pairs restricted to those touching the odd-id batch
    "q119_incremental_media_dedup" ->
      s"""$OraclePHashCtes,
        |sig as (select doc_id, y, byte from rb),
        |bucket as (select y, byte from sig
        |  group by y, byte having count(*) >= 2 and count(*) <= 200),
        |cand as (select a.doc_id as id_a, b.doc_id as id_b
        |  from sig a
        |  join bucket k on a.y = k.y and a.byte = k.byte
        |  join sig b on b.y = a.y and b.byte = a.byte and b.doc_id > a.doc_id
        |  where a.doc_id % 2 = 1 or b.doc_id % 2 = 1
        |  group by 1, 2),
        |dist as (select c.id_a, c.id_b,
        |    sum(bit_count(xor(sa.byte, sb.byte))) as distance
        |  from cand c
        |  join sig sa on sa.doc_id = c.id_a
        |  join sig sb on sb.doc_id = c.id_b and sb.y = sa.y
        |  group by 1, 2)
        |select id_a, id_b, cast(distance as bigint) as distance
        |from dist
        |where distance <= 2
        |order by id_a, id_b""".stripMargin,

    // CCNet bucketing twin: q98's shared KN CTE chain down to min_p,
    // then the identical per-language ntile(3) over (min_p desc,
    // doc_id)
    "q110_ccnet_buckets" ->
      s"""$OracleKnCtes,
        |s as (select doc_id, min(p) as min_p from p1 group by doc_id),
        |g as (select s.doc_id, d.lang, s.min_p,
        |    ntile(3) over (partition by d.lang order by s.min_p desc, s.doc_id asc) as bucket
        |  from s join documents d on s.doc_id = d.doc_id)
        |select doc_id, lang, min_p, cast(bucket as bigint) as bucket,
        |  case when bucket = 1 then 'head' when bucket = 2 then 'middle'
        |    else 'tail' end as tier
        |from g
        |order by doc_id""".stripMargin,

    // response-text twin: the same status/content-type/charset/
    // transfer branching re-derived per doc — 404s and non-text
    // filtered, utf-8/absent charsets decode to the text verbatim
    // (ASCII corpus), the undecodable charset yields NULL html, the
    // chunked arms (r14) round-trip to the text, the
    // declared-chunked-but-unframed arm yields NULL
    "q121_response_text" ->
      """select 'urn:graft:doc/' || cast(doc_id as varchar) as target_uri,
        |  cast(200 as bigint) as http_status,
        |  case when doc_id % 11 = 0 then 'text/html; charset=klingon'
        |       when doc_id % 13 = 0 then 'application/xhtml+xml; charset=GBK'
        |       when doc_id % 19 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 23 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 29 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 31 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 37 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 3 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 3 = 1 then 'text/plain'
        |       else 'text/html; charset=shift_jis' end as http_content_type,
        |  case when doc_id % 11 = 0 then null
        |       when doc_id % 13 = 0 then text
        |       when doc_id % 19 = 0 then text
        |       when doc_id % 23 = 0 then text
        |       when doc_id % 29 = 0 then text
        |       when doc_id % 31 = 0 then null
        |       when doc_id % 37 = 0 then text
        |       when doc_id % 3 = 1 then '<meta charset="windows-1250">' || text
        |       else text end as html
        |from documents
        |where doc_id % 5 <> 0 and doc_id % 7 <> 0
        |order by target_uri""".stripMargin,

    // CC pipeline twin: q109's rule chain to the keep flag, then
    // md5-norm fingerprints and min-id-per-fingerprint dedup — all
    // off `documents` (the WET round trip is byte-exact per q118)
    "q120_cc_pipeline" ->
      s"""with ${oracleGopherKeepCtes("documents")},
        |f as (select k.doc_id, k.n_words, k.mean_word_len,
        |    md5($OracleNorm) as fp
        |  from k join documents using (doc_id)),
        |m as (select fp, min(doc_id) as doc_id from f group by 1)
        |select f.doc_id, f.n_words, f.mean_word_len
        |from f join m on f.fp = m.fp and f.doc_id = m.doc_id
        |order by f.doc_id""".stripMargin,

    // streaming-drain twin (r13, the r12 verdict's #7): the q124
    // fixture's kept CONTENT classes. Gopher keep over originals ∪
    // planted exact copies, then one row per distinct 3-word-shingle
    // SET with n_docs = 1 — at minJaccard = 1.0 the stream's LSH +
    // exact-verify drops a doc iff its shingle set EQUALS an earlier
    // one (identical signatures collide in every band, so the
    // candidate is certain, not probabilistic), hence every content
    // class must survive exactly once regardless of batch order or
    // which member wins. n_docs > 1 = dedup failure; a missing/extra
    // skey = quality-gate or streaming-machinery failure.
    "q124_crawl_drain" ->
      s"""with docs as (select doc_id, text from documents
        |  union all
        |  select doc_id + 100000 as doc_id, text from documents
        |  where doc_id % 17 = 3),
        |${oracleGopherKeepCtes("docs")},
        |f as (select k.doc_id, $OracleNorm as norm
        |  from k join docs using (doc_id)),
        |w as (select doc_id, string_split(norm, ' ') as w from f),
        |sh as (select doc_id, case when len(w) < 3 then null else
        |    list_sort(list_distinct(list_transform(
        |      range(1, greatest(len(w) - 3 + 1, 0) + 1),
        |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) end as s
        |  from w),
        |ky as (select doc_id,
        |    coalesce(md5(array_to_string(s, chr(30))), 'doc:' || doc_id) as skey
        |  from sh)
        |select distinct skey, cast(1 as bigint) as n_docs from ky
        |order by skey""".stripMargin,

    // WET text twin: uri and text re-derived straight from documents
    "q118_wet_text" ->
      """select 'urn:graft:doc/' || cast(doc_id as varchar) as target_uri, text
        |from documents
        |order by target_uri""".stripMargin,

    // sampled-threshold CCNet twin: q110's score chain, then the md5
    // hash-sample, the sorted-sample cut points at the exact ntile
    // tile-boundary indexes (i·⌊n/k⌋ + min(i, n mod k)), and the
    // descending comparison buckets — cut values are selected data
    // points (no interpolation arithmetic), so the doubles compare
    // bit-identically in both engines
    "q117_ccnet_buckets_approx" ->
      s"""$OracleKnCtes,
        |s as (select doc_id, min(p) as min_p from p1 group by doc_id),
        |g as (select s.doc_id, d.lang, s.min_p
        |  from s join documents d on s.doc_id = d.doc_id),
        |samp as (select lang, min_p from g
        |  where ('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::bigint
        |      % 1000000 < 500000
        |    and min_p is not null),
        |sorted as (select lang, list_sort(list(min_p), 'DESC') as ss,
        |    count(*) as n from samp group by lang),
        |cuts as (select lang,
        |    ss[cast(1 * (n // 3) + least(1, n % 3) as int)] as c1,
        |    ss[cast(2 * (n // 3) + least(2, n % 3) as int)] as c2
        |  from sorted),
        |bk as (select g.doc_id, g.lang, g.min_p,
        |    case when c.lang is null then null
        |         when g.min_p >= c.c1 then 1
        |         when g.min_p >= c.c2 then 2 else 3 end as bucket
        |  from g left join cuts c on g.lang = c.lang)
        |select doc_id, lang, min_p, cast(bucket as bigint) as bucket,
        |  case when bucket is null then null when bucket = 1 then 'head'
        |       when bucket = 2 then 'middle' else 'tail' end as tier
        |from bk
        |order by doc_id""".stripMargin,

    // token-binary twin: q99's fewest-pieces DP × 4 bytes per id,
    // plus the md5 shard rule — the full chain in one SQL
    "q104_token_binary_export" ->
      s"""with recursive steps(p) as (values
        |  ${(UnigramGatePieces ++ (('a' to 'z') ++ ('0' to '9')).map(_.toString))
              .map(p => s"('$p')").mkString(", ")}),
        |n as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
        |occ as (select doc_id, wi as word
        |  from (select doc_id, unnest(w) as wi from t) where length(wi) > 0),
        |wordcnt as (select doc_id, word, count(*) as c from occ group by 1, 2),
        |words as (select distinct word from occ),
        |dp as (
        |  select word, 0 as pos, 0 as k from words
        |  union
        |  select dp.word, dp.pos + length(s.p) as pos, dp.k + 1 as k
        |  from dp join steps s on substr(dp.word, dp.pos + 1, length(s.p)) = s.p
        |  where dp.pos + length(s.p) <= length(dp.word)
        |),
        |best as (select word, min(k) as mk from dp where pos = length(word) group by word),
        |sums as (select wc.doc_id, sum(wc.c * b.mk) as s
        |  from wordcnt wc join best b on wc.word = b.word group by wc.doc_id)
        |select d.doc_id,
        |  cast(('0x' || substr(md5(cast(d.doc_id as varchar)), 1, 8))::bigint % 8 as int) as shard,
        |  cast(4 * coalesce(sums.s, 0) as bigint) as size
        |from documents d left join sums on d.doc_id = sums.doc_id
        |order by d.doc_id""".stripMargin,

    // tar read-back twin: every member re-derived from documents —
    // the same md5-prefix shard rule, utf8 byte length, fixed ext
    "q103_tar_source_readback" ->
      """select doc_id,
        |  cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::bigint % 8 as int) as shard,
        |  cast(octet_length(encode(text)) as bigint) as size,
        |  'txt' as ext
        |from documents
        |order by doc_id""".stripMargin,

    // pooling twin: DuckDB's parallel double-unnest zips value and
    // index; element-wise max of exact floats cast to double
    "q101_embedding_pooling" ->
      """with u as (select vec_id % 97 as gid, unnest(embedding) as v,
        |    unnest(range(0, len(embedding))) as dim
        |  from embeddings),
        |p as (select gid, dim, max(cast(v as double)) as v, count(*) as n
        |  from u group by 1, 2)
        |select gid, cast(n as bigint) as n_chunks, cast(dim as int) as dim, v
        |from p
        |order by gid, dim""".stripMargin,

    // quality-score twin: the same literal weights bucketed by the
    // same md5-prefix formula; integer dot product is exact
    "q100_quality_score" ->
      s"""with wt(word, qw) as (values
        |  ${QualityGateWeights.map { case (w, q) => s"('$w', $q)" }.mkString(", ")}),
        |wb as (select ('0x' || substr(md5(word), 1, 8))::bigint % $QualityGateDim as bucket,
        |    sum(qw) as qw from wt group by 1),
        |n as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
        |occ as (select doc_id, wi from (select doc_id, unnest(w) as wi from t)
        |  where length(wi) > 0),
        |f as (select doc_id,
        |    ('0x' || substr(md5(wi), 1, 8))::bigint % $QualityGateDim as bucket,
        |    count(*) as cnt from occ group by 1, 2)
        |select f.doc_id,
        |  cast(sum(cnt) as bigint) as n_tokens,
        |  cast(sum(case when wb.qw is not null then cnt else 0 end) as bigint) as n_feat_tokens,
        |  cast(sum(coalesce(wb.qw, 0) * cnt) + 100 as bigint) as logit_q
        |from f left join wb using (bucket)
        |group by f.doc_id
        |order by f.doc_id""".stripMargin,

    // unigram twin: fewest-pieces dictionary DP as a recursive CTE —
    // steps = the gate pieces ∪ every [a-z0-9] char (the closed
    // post-normalization universe, = the engine's char fallback);
    // UNION dedups (word,pos,k) so the state space stays polynomial
    "q99_unigram_tokenize" ->
      s"""with recursive steps(p) as (values
        |  ${(UnigramGatePieces ++ (('a' to 'z') ++ ('0' to '9')).map(_.toString))
              .map(p => s"('$p')").mkString(", ")}),
        |n as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
        |occ as (select doc_id, wi as word
        |  from (select doc_id, unnest(w) as wi from t) where length(wi) > 0),
        |wordcnt as (select doc_id, word, count(*) as c from occ group by 1, 2),
        |words as (select distinct word from occ),
        |dp as (
        |  select word, 0 as pos, 0 as k from words
        |  union
        |  select dp.word, dp.pos + length(s.p) as pos, dp.k + 1 as k
        |  from dp join steps s on substr(dp.word, dp.pos + 1, length(s.p)) = s.p
        |  where dp.pos + length(s.p) <= length(dp.word)
        |),
        |best as (select word, min(k) as mk from dp where pos = length(word) group by word),
        |sums as (select wc.doc_id, sum(wc.c * b.mk) as s
        |  from wordcnt wc join best b on wc.word = b.word group by wc.doc_id)
        |select d.doc_id, cast(coalesce(sums.s, 0) as int) as n_pieces
        |from documents d left join sums on d.doc_id = sums.doc_id
        |order by d.doc_id""".stripMargin,

    // KN twin: the q84 bigram CTEs plus the model-derived context/
    // continuation tables; the probability CASE mirrors knScore's
    // column expression operation-for-operation
    "q98_kn_score" ->
      s"""$OracleKnCtes
        |select doc_id,
        |  cast(count(*) as bigint) as n_bigrams,
        |  cast(sum(case when cnt is not null then 1 else 0 end) as bigint) as n_hit,
        |  cast(sum(case when c1 is not null then 1 else 0 end) as bigint) as n_ctx_hit,
        |  cast(sum(coalesce(cnt, 0)) as bigint) as sum_c12,
        |  min(p) as min_p, max(p) as max_p
        |from p1 group by doc_id order by doc_id""".stripMargin,

    "q83_line_dedup" ->
      """with t as (select p_partkey,
        |    'generated by crawler v1' || chr(10) || p_name || chr(10)
        |      || 'brand: ' || p_brand || chr(10) || '' || chr(10) || p_type as text
        |  from part),
        |l as (select p_partkey, pos, split[pos] as line from
        |  (select p_partkey, split, unnest(range(1, len(split)+1)) as pos
        |   from (select p_partkey, string_split(text, chr(10)) as split from t))),
        |w as (select md5(line) as k, min(p_partkey*1000000 + pos) as wk
        |  from l where length(line) > 0 group by 1),
        |kp as (select l.p_partkey, l.pos, l.line
        |  from l left join w on md5(l.line) = w.k
        |  where length(l.line) = 0 or l.p_partkey*1000000 + l.pos = w.wk),
        |r as (select p_partkey, string_agg(line, chr(10) order by pos) as text_deduped,
        |    count(*) as kept
        |  from kp group by 1)
        |select t.p_partkey, coalesce(r.text_deduped, '') as text_deduped,
        |  cast(len(string_split(t.text, chr(10))) as bigint) as n_lines,
        |  cast(len(string_split(t.text, chr(10))) - coalesce(r.kept, 0) as bigint) as n_removed
        |from t left join r using (p_partkey)
        |order by p_partkey""".stripMargin,

    "q81_budget_selection_threshold" ->
      s"""with q as (select doc_id,
        |    0.4 * least(cast($OracleNTokens as double) / 50.0, 1.0)
        |    + 0.3 * least(cast(len(list_filter($OracleTokens, t -> t in ($OracleStop))) as double)
        |        / cast(greatest($OracleNTokens, 1) as double) * 4.0, 1.0)
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0))
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0)) as quality,
        |    cast($OracleNTokens as bigint) as n_tokens
        |  from documents),
        |c as (select doc_id, quality, n_tokens,
        |    coalesce(sum(n_tokens) over (order by quality desc, doc_id
        |      rows between unbounded preceding and 1 preceding), 0) as cum
        |  from q)
        |select doc_id, quality, n_tokens from c where cum < 5000
        |order by doc_id""".stripMargin,

    "q77_data_mixing" ->
      """with r as (select doc_id, source,
        |    row_number() over (partition by source order by doc_id) as rn,
        |    case source when 'src0' then 2 when 'src1' then 3
        |      when 'src2' then 4 else 5 end as k
        |  from documents)
        |select doc_id, source from r where (rn - 1) % k = 0
        |order by doc_id""".stripMargin,

    "q75_corpus_profile" ->
      s"""with m as (
        |  select doc_id, source, lang, text,
        |    $OracleNTokens as n_tokens,
        |    len(list_filter($OracleTokens, t -> t in ($OracleStop))) as n_stop,
        |    cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |      / cast(greatest(length(text),1) as double) as punct_ratio,
        |    cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |      / cast(greatest(length(text),1) as double) as digit_ratio,
        |    len(list_filter($OracleTokens, t -> t in ('the','and','of','to','is','in','that','it'))) as s_en,
        |    len(list_filter($OracleTokens, t -> t in ('el','la','de','que','y','en','los','una'))) as s_es,
        |    len(list_filter($OracleTokens, t -> t in ('der','die','und','das','ist','nicht','ein','mit'))) as s_de,
        |    len(list_filter($OracleTokens, t -> t in ('le','la','les','de','et','est','un','une'))) as s_fr,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) as cjk,
        |    md5($OracleNorm) as fp
        |  from documents),
        |e as (select doc_id, source, lang, n_tokens, fp,
        |    case when cjk * 4 > length(text) then 'zh'
        |      when s_en = greatest(s_en,s_es,s_de,s_fr) and s_en > 0 then 'en'
        |      when s_es = greatest(s_en,s_es,s_de,s_fr) and s_es > 0 then 'es'
        |      when s_de = greatest(s_en,s_es,s_de,s_fr) and s_de > 0 then 'de'
        |      when s_fr = greatest(s_en,s_es,s_de,s_fr) and s_fr > 0 then 'fr'
        |      else 'und' end as lang_guess,
        |    0.4 * least(cast(n_tokens as double) / 50.0, 1.0)
        |    + 0.3 * least(cast(n_stop as double) / cast(greatest(n_tokens,1) as double) * 4.0, 1.0)
        |    + 0.15 * (1.0 - least(punct_ratio * 5.0, 1.0))
        |    + 0.15 * (1.0 - least(digit_ratio * 5.0, 1.0)) as q
        |  from m),
        |gd as (select doc_id, len(w) as gtok, unnest(list_transform(
        |    range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as gram
        |  from (select doc_id, string_split($OracleNorm, ' ') as w from documents)),
        |cnt as (select doc_id, gram, count(*) as cnt from gd group by doc_id, gram),
        |rep as (select doc_id,
        |    cast(sum(case when cnt > 1 then cnt else 0 end) as double)
        |      / cast(greatest(sum(cnt), 1) as double) as dup_gram_frac
        |  from cnt group by doc_id),
        |j as (select e.*, coalesce(rep.dup_gram_frac, 0.0) as dup_frac
        |  from e left join rep using (doc_id))
        |select source, count(*) as n_docs,
        |  cast(sum(n_tokens) as bigint) as total_tokens,
        |  cast(sum(case when lang_guess = lang then 1 else 0 end) as bigint) as n_lang_match,
        |  cast(count(distinct fp) as bigint) as n_unique,
        |  cast(sum(cast(q as decimal(18,12))) as double)
        |    / cast(count(*) as double) as avg_quality,
        |  cast(sum(cast(dup_frac as decimal(18,12))) as double)
        |    / cast(count(*) as double) as avg_dup_frac
        |from j group by source
        |order by source""".stripMargin,

    "q74_incremental_dedup" ->
      s"""with nb as (select doc_id + 100000 as doc_id, text || ' graftnew' as text
        |    from documents where doc_id % 17 = 3),
        |u as (select doc_id, text, 0 as is_new from documents
        |      union all select doc_id, text, 1 as is_new from nb),
        |d as (select doc_id, is_new, string_split($OracleNorm, ' ') as w from u),
        |sh as (select doc_id, is_new,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d)
        |select a.doc_id as id_a, b.doc_id as id_b,
        |  cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) as jaccard
        |from sh a join sh b on a.doc_id < b.doc_id
        |where (a.is_new = 1 or b.is_new = 1)
        |  and cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) >= 0.6
        |order by id_a, id_b""".stripMargin,

    "q73_url_canonicalize" ->
      """with t as (select p_partkey,
        |    case when p_partkey % 11 = 0 then 'not a url'
        |      when p_partkey % 2 = 0 then
        |        'HTTP://Shop.Example.COM:80//catalog//item/' || cast(p_partkey as varchar)
        |          || '/?utm_source=feed&id=' || cast(p_partkey as varchar)
        |          || '&ref=x&b=2&a=1#frag'
        |      else 'HTTPS://Shop.Example.COM:443/item/' || cast(p_partkey as varchar)
        |          || '?gclid=g&z=9&id=' || cast(p_partkey as varchar) || '#s'
        |    end as url from part),
        |x as (select p_partkey, url,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://.*$', 1) as scheme,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$', 1) as host,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*).*$', 1) as path,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*[^?#]*\?([^#]*).*$', 1) as q
        |  from t),
        |y as (select p_partkey, url, lower(scheme) as lscheme,
        |    case when lower(scheme) = 'http' then regexp_replace(lower(host), ':80$', '')
        |      when lower(scheme) = 'https' then regexp_replace(lower(host), ':443$', '')
        |      else lower(host) end as lhost,
        |    case when length(rtrim(regexp_replace(path, '/{2,}', '/', 'g'), '/')) = 0 then '/'
        |      else rtrim(regexp_replace(path, '/{2,}', '/', 'g'), '/') end as cpath,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      p -> not regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid)(=.*)?$')
        |        and length(p) > 0)), '&') as cquery
        |  from x)
        |select p_partkey,
        |  case when lscheme = '' then url
        |    else lscheme || '://' || lhost || cpath ||
        |      case when length(cquery) > 0 then '?' || cquery else '' end
        |  end as canonical_url
        |from y order by p_partkey""".stripMargin,

    // q71 shares q69's twin: full probe + lossless codebook ≡ the
    // subspace-grouped exact dot top-k, index plumbing notwithstanding
    "q71_ivfpq_index_topk" ->
      """with q as (select embedding from embeddings where vec_id = 0),
        |s as (select e.vec_id,
        |    list_sum(list_transform(range(0, 8), sb ->
        |      list_sum(list_transform(range(1, 9), i ->
        |        cast(e.embedding[sb*8 + i] as double)
        |          * cast(q.embedding[sb*8 + i] as double))))) as score
        |  from embeddings e cross join q where e.vec_id < 500)
        |select vec_id, score from s
        |order by score desc, vec_id
        |limit 20""".stripMargin,

    "q69_pq_adc_topk" ->
      """with q as (select embedding from embeddings where vec_id = 0),
        |s as (select e.vec_id,
        |    list_sum(list_transform(range(0, 8), sb ->
        |      list_sum(list_transform(range(1, 9), i ->
        |        cast(e.embedding[sb*8 + i] as double)
        |          * cast(q.embedding[sb*8 + i] as double))))) as score
        |  from embeddings e cross join q where e.vec_id < 500)
        |select vec_id, score from s
        |order by score desc, vec_id
        |limit 20""".stripMargin,

    "q70_duplicated_spans" ->
      s"""with d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |x as (select doc_id, w, len(w) as n_tokens,
        |    unnest(range(1, greatest(len(w)-3+1, 0)+1)) as i from d),
        |g as (select doc_id, n_tokens, i - 1 as pos,
        |    array_to_string(list_slice(w, i, i+2), ' ') as gram from x),
        |census as (select gram from g group by gram having count(*) >= 2),
        |dup as (select g.doc_id, g.n_tokens, g.pos from g join census using (gram)),
        |lagd as (select doc_id, n_tokens, pos,
        |    lag(pos) over (partition by doc_id order by pos) as prev from dup),
        |agg as (select doc_id, count(*) as n_dup_windows,
        |    sum(case when prev is null then 3 else least(3, pos - prev) end) as dup_tokens,
        |    max(n_tokens) as nt
        |  from lagd group by doc_id)
        |select d2.doc_id,
        |  cast(coalesce(agg.n_dup_windows, 0) as bigint) as n_dup_windows,
        |  cast(coalesce(agg.dup_tokens, 0) as bigint) as dup_tokens,
        |  coalesce(cast(agg.dup_tokens as double)
        |    / cast(greatest(agg.nt, 1) as double), 0.0) as dup_token_frac
        |from (select doc_id from documents) d2 left join agg using (doc_id)
        |order by d2.doc_id""".stripMargin
  )

  /** q47 twin: brute-force all-pairs cosine over the same
    * base-plus-planted union (0.005 cast to double — a DuckDB decimal
    * literal would perturb the factor vs Spark's double arithmetic). */
  private val Q47Sql =
    """with base as (select vec_id, embedding::DOUBLE[] as v from embeddings),
      | planted as (
      |  select vec_id + 100000 as vec_id,
      |    list_transform(list_zip(embedding, range(0, len(embedding))),
      |      t -> cast(t[1] as double) * (1 + ((vec_id + t[2]) % 7) * 0.005::DOUBLE)) as v
      |  from embeddings where vec_id % 17 = 3),
      | u as (select * from base union all select * from planted),
      | p as (select a.vec_id as id_a, b.vec_id as id_b,
      |    list_sum(list_transform(list_zip(a.v, b.v),
      |      t -> cast(t[1] as double) * cast(t[2] as double)))
      |    / (sqrt(list_sum(list_transform(list_zip(a.v, a.v),
      |        t -> cast(t[1] as double) * cast(t[2] as double))))
      |     * sqrt(list_sum(list_transform(list_zip(b.v, b.v),
      |        t -> cast(t[1] as double) * cast(t[2] as double))))) as score
      |  from u a join u b on a.vec_id < b.vec_id)
      |select id_a, id_b, score from p where score >= 0.9
      |order by id_a, id_b""".stripMargin

  /** DuckDB fragments shared across oracle queries (kept identical to
    * the Text.* expression semantics). */
  /** The Gopher keep chain (t→c→r→k) over a `(doc_id, text)` source
    * CTE/table — shared by the q120 composition twin and the q124
    * streaming-drain twin so both gate the SAME rule trees the engine
    * runs (`Corpus.gopherSignalsOf`). `k` = kept doc_ids with
    * n_words/mean_word_len. */
  private def oracleGopherKeepCtes(src: String): String =
    s"""t as (select doc_id, text,
      |    $OracleTokens as w,
      |    string_split(text, chr(10)) as ln
      |  from $src),
      |c as (select doc_id,
      |    len(w) as n_words,
      |    list_sum(list_transform(w, x -> length(x))) as wchars,
      |    len(list_filter(w, x -> lower(x) != upper(x))) as alpha,
      |    len(list_filter(w, x -> lower(x) in
      |      ('the','be','to','of','and','that','have','with'))) as stop_hits,
      |    length(text) - length(replace(text, '#', '')) as nhash,
      |    (length(text) - length(replace(text, '...', ''))) // 3 as ellsym,
      |    len(ln) as nlines,
      |    len(list_filter(ln, l -> substr(ltrim(l), 1, 1) in ('-','*','•'))) as bull,
      |    len(list_filter(ln, l -> length(rtrim(l)) >= 3
      |      and substr(rtrim(l), length(rtrim(l)) - 2, 3) = '...')) as elll
      |  from t),
      |r as (select doc_id,
      |    cast(n_words as bigint) as n_words,
      |    case when n_words > 0
      |      then cast(wchars as double) / cast(n_words as double) end as mean_word_len,
      |    case when n_words > 0
      |      then cast(alpha as double) / cast(n_words as double) end as alpha_word_ratio,
      |    case when n_words > 0
      |      then cast(nhash + ellsym as double) / cast(n_words as double) end as symbol_ratio,
      |    cast(bull as double) / cast(nlines as double) as bullet_ratio,
      |    cast(elll as double) / cast(nlines as double) as ellipsis_ratio,
      |    cast(stop_hits as bigint) as stop_hits
      |  from c),
      |k as (select doc_id, n_words, mean_word_len from r
      |  where coalesce(n_words >= 50 and n_words <= 100000
      |    and mean_word_len >= 3.0 and mean_word_len <= 10.0
      |    and symbol_ratio <= 0.1 and bullet_ratio <= 0.9
      |    and ellipsis_ratio <= 0.3 and alpha_word_ratio >= 0.8
      |    and stop_hits >= 2, false))""".stripMargin

  private val OracleNorm =
    """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))"""
  /** q24's 60-bit md5-family SimHash, unrolled for the twin: per-bit
    * ±1 vote sums over token hashes, then sign-pack. */
  private val OracleSimhashVotes =
    (0 until 60).map(j =>
      s"sum(case when (h >> $j) & 1 = 1 then 1 else -1 end) as v$j").mkString(", ")
  private val OracleSimhashPack =
    (0 until 60).map(j =>
      s"case when v$j > 0 then ${1L << j}::bigint else 0::bigint end").mkString(" + ")
  private val OracleTokens =
    """case when length(trim(text)) = 0 then [] else string_split_regex(trim(text), '\s+') end"""
  private val OracleNTokens =
    s"""len($OracleTokens)"""
  /** q98's Kneser–Ney scoring pipeline through per-bigram
    * probabilities (`p1(doc_id, cnt, c1, p)`) — shared verbatim by
    * the q98 and q110 twins so both replay the identical IEEE
    * probability tree. */
  private val OracleKnCtes =
    s"""with n as (select doc_id, $OracleNorm as norm from documents),
      |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
      |b as (select doc_id, w[i] as w1, w[i + 1] as w2
      |  from (select doc_id, w, unnest(range(1, len(w))) as i from t)),
      |m as (select w1, w2, count(*) as cnt from b where doc_id % 2 = 0 group by 1, 2),
      |ctx as (select w1, sum(cnt) as c1, count(*) as n1p from m group by 1),
      |cont as (select w2, count(*) as n1pl from m group by 1),
      |bt as (select count(*) as bb from m),
      |p0 as (select b.doc_id, m.cnt, ctx.c1, ctx.n1p,
      |    coalesce(cast(cont.n1pl as double) / cast(bt.bb as double),
      |             1.0 / cast(bt.bb + 1 as double)) as pcont
      |  from b
      |  left join m on b.w1 = m.w1 and b.w2 = m.w2
      |  left join ctx on b.w1 = ctx.w1
      |  left join cont on b.w2 = cont.w2
      |  cross join bt
      |  where b.doc_id % 2 = 1),
      |p1 as (select doc_id, cnt, c1,
      |    case when c1 is not null then
      |      greatest(cast(coalesce(cnt, 0) as double) - 0.75, 0.0)
      |        / cast(c1 as double)
      |      + (0.75 * cast(n1p as double) / cast(c1 as double)) * pcont
      |    else pcont end as p
      |  from p0)""".stripMargin
  /** q111/q112's dHash derivation, down to the per-row thumbnail
    * bytes `rb(doc_id, w, h, y, byte)` — the full decode+sample+
    * compare+pack pipeline replayed from the generating gradient
    * formula (corrupt every-25th payloads excluded, as
    * `valid=false` rows are on the Spark side). */
  private val OraclePHashCtes =
    """with d as (select doc_id,
      |    ((doc_id % 16) + 1) * 2 as w, ((doc_id % 12) + 1) * 2 as h
      |  from documents where doc_id % 25 <> 0),
      |g as (select d.doc_id, d.w, d.h, y.y, x.x,
      |    ((x.x * d.w) // 9 + (y.y * d.h) // 8 + d.doc_id) % 256 as t
      |  from d, range(0, 8) y(y), range(0, 9) x(x)),
      |b as (select a.doc_id, a.w, a.h, a.y, a.x,
      |    case when n.t > a.t then 1 else 0 end as bit
      |  from g a join g n on n.doc_id = a.doc_id and n.y = a.y and n.x = a.x + 1
      |  where a.x < 8),
      |rb as (select doc_id, w, h, y,
      |    cast(sum(bit * (1 << (7 - x))) as int) as byte
      |  from b group by doc_id, w, h, y)""".stripMargin

  /** q100's fixed serving weights: common words with hand-picked
    * integer weights at dim 4096 — small enough to read, large
    * enough that collision handling (bucket-sum) is exercised. */
  private val QualityGateDim = 4096

  /** q123's fixed serving model: four languages with hand-picked
    * char-gram weights at dim 4096 — small enough to read, collision
    * handling (within-language bucket-sum) exercised at this dim, and
    * grams overlap across languages (" de" is both German and
    * Spanish evidence) so the argmax does real work. Priors and
    * floors are distinct per language so both the prior and the
    * n_grams·floor terms move the scores. */
  private val LangGateDim = 4096
  private val LangGateLangs: Seq[(String, Long, Long)] = Seq(
    ("de", -20L, -4L), ("en", -10L, -3L), ("es", -40L, -6L), ("fr", -30L, -5L))
  private val LangGateWeights: Seq[(String, String, Long)] = Seq(
    ("en", "the", 25L), ("en", " th", 12L), ("en", "he ", 9L),
    ("en", "ing", 15L), ("en", "and", 11L), ("en", " of", 8L),
    ("en", "is ", 6L), ("en", "w", 2L),
    ("de", "der", 21L), ("de", "sch", 18L), ("de", "ich", 14L),
    ("de", "ein", 12L), ("de", "und", 16L), ("de", " de", 5L),
    ("de", "ck ", 7L), ("de", "z", 3L),
    ("fr", "les", 19L), ("fr", " le", 13L), ("fr", "ent", 10L),
    ("fr", "que", 9L), ("fr", "des", 11L), ("fr", "eau", 8L),
    ("fr", "oi", 6L), ("fr", "j", 2L),
    ("es", "los", 17L), ("es", " de", 9L), ("es", "de ", 8L),
    ("es", "ar ", 7L), ("es", "el ", 6L), ("es", "ado", 10L),
    ("es", "ll", 5L), ("es", "y ", 4L))
  /** q123's quantized-NB scoring chain down to the windowed `best`
    * CTE (per-doc per-lang score_q/n_grams/n_hit + argmax row number
    * + any-hit flag) — shared verbatim by the q123 serving twin and
    * the q128 composition twin so both replay the identical integer
    * algebra. */
  private def OracleLangIdCtes: String =
    s"""wt(lang, gram, qdw) as (values
      |  ${LangGateWeights.map { case (l, g, q) => s"('$l', '$g', $q)" }.mkString(", ")}),
      |lt(lang, q_prior, q_floor) as (values
      |  ${LangGateLangs.map { case (l, p, f) => s"('$l', $p, $f)" }.mkString(", ")}),
      |wb as (select lang,
      |    ('0x' || substr(md5(gram), 1, 8))::bigint % $LangGateDim as bucket,
      |    sum(qdw) as qdw from wt group by 1, 2),
      |n as (select doc_id,
      |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) as t
      |  from documents),
      |g as (select doc_id,
      |    unnest(list_transform(range(1, greatest(len(t) - kk + 1, 0) + 1),
      |      i -> substr(t, i, kk))) as g
      |  from n, (values (1), (2), (3)) ks(kk)),
      |f as (select doc_id,
      |    ('0x' || substr(md5(g), 1, 8))::bigint % $LangGateDim as bucket,
      |    count(*) as cnt from g group by 1, 2),
      |ng as (select doc_id, sum(cnt) as n_grams from f group by 1),
      |hits as (select f.doc_id, wb.lang,
      |    sum(wb.qdw * f.cnt) as hit_sum, sum(f.cnt) as n_hit
      |  from f join wb using (bucket) group by 1, 2),
      |sc as (select d.doc_id, lt.lang,
      |    lt.q_prior + coalesce(ng.n_grams, 0) * lt.q_floor
      |      + coalesce(h.hit_sum, 0) as score_q,
      |    coalesce(ng.n_grams, 0) as n_grams,
      |    coalesce(h.n_hit, 0) as n_hit
      |  from (select doc_id from documents) d
      |  cross join lt
      |  left join ng using (doc_id)
      |  left join hits h on h.doc_id = d.doc_id and h.lang = lt.lang),
      |best as (select doc_id, lang, score_q, n_grams, n_hit,
      |    row_number() over (partition by doc_id
      |      order by score_q desc, lang asc) as rn,
      |    max(n_hit) over (partition by doc_id) as any_hit
      |  from sc)""".stripMargin

  private val QualityGateWeights: Seq[(String, Long)] = Seq(
    ("the", 17L), ("and", 11L), ("of", 7L), ("a", 5L), ("in", 3L),
    ("data", 23L), ("model", -13L), ("to", -2L), ("is", 9L), ("for", -4L))

  /** q99's fixed subword list: common English subwords, uniform
    * logp — chosen so multi-char matches actually occur in the
    * documents corpus and the fewest-pieces DP has real work. */
  private val UnigramGatePieces: Seq[String] = Seq(
    "the", "ing", "tion", "and", "ent", "ion", "er", "re", "an",
    "en", "on", "ed", "al", "ar", "st", "le", "te", "at", "or", "is")

  private val OracleStop =
    Text.EnglishStopwords.map(w => s"'$w'").mkString(",")
}

package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, evaluated through the noop sink (count() would
  * let Catalyst prune the work under test).
  *
  * == Per-family JVM isolation (r9) ==
  * Through r8 all ~90 queries shared one JVM for the whole run
  * (~10 min uptime, ~270 plan executions). Janino loads fresh
  * generated classes for every plan, so a long-lived bench JVM
  * accumulates metaspace/code-cache pressure and GC debt, and
  * *untouched* queries drifted up to 12x between runs (r4-r8 each
  * paid a manual A/B-attribution tax; r8's driver run moved q84
  * 1.5->3.8 s and q71 3.9->5.9 s with zero code diff). The fix is
  * structural: the default entry point is now an ORCHESTRATOR that
  * re-execs this same class in a fresh child JVM per small query
  * family (SPARK_GRAFT_BENCH_FAMILY queries per JVM, default 4,
  * sorted order so family membership is stable across rounds — the
  * r3 Map-iteration-order lesson). A family JVM lives ~1 min and
  * runs <=16 plans: far below the uptime where the drift band
  * appears. Children inherit this JVM's exact classpath and args
  * (sbt `run / fork := true` makes both real), so no environment
  * assumptions are baked in beyond what the parent itself runs with.
  *
  * Inside a child, each query runs SPARK_GRAFT_BENCH_RUNS (default 3)
  * TIMED runs preceded by ADAPTIVE discarded warmup runs, and reports
  * the per-query MEDIAN of the timed runs. Warmups absorb the
  * fresh-JVM cost that medians alone cannot: a single warmup leaves
  * sub-second queries 2-4x over their warm-JVM history (measured:
  * q15 2.65 s with one warmup vs 0.68 s in the r8 shared JVM —
  * spark-core's own paths are still being C2-compiled), which would
  * read as a fake regression vs every prior round and vs the r1
  * per-query 2x bar. So warmups repeat until two consecutive runs
  * agree within 25% (min 1), capped at
  * SPARK_GRAFT_BENCH_WARM_MAX runs (default 6) and a cumulative
  * SPARK_GRAFT_BENCH_WARM_BUDGET seconds (default 12): cheap queries
  * get the several runs they need to reach the warm plateau, while a
  * 6 s query — long enough to JIT inside a single execution — stops
  * at one or two. Timed runs then measure a plan the JVM has already
  * reached steady state on, exactly what the warm shared-JVM history
  * measured, without its drift band.
  *
  * Knobs: SPARK_GRAFT_BENCH_FORK=0 forces the legacy single-JVM
  * in-process path; SPARK_GRAFT_BENCH_ONLY=q25…,q84… restricts the
  * set (and, in fork mode, gives each listed query a quiet JVM — the
  * A/B tool the verdicts kept asking for); SPARK_GRAFT_BENCH_FAMILY=1
  * gives strict per-query isolation; SPARK_GRAFT_BENCH_TRACE=1 prints
  * every individual run (warmup and timed) to stderr for convergence
  * diagnosis; SPARK_GRAFT_BENCH_SPREAD_MAX (default 2.5) sets the
  * max/min ratio beyond which a query is auto-re-measured alone in a
  * quiet JVM after the main pass (recorded under "remeasured" as a
  * per-query LIST of medians, totals untouched);
  * SPARK_GRAFT_BENCH_DRAIN_SAMPLES (default 2) sets how many spaced
  * quiet re-measures each drain gets, SPARK_GRAFT_BENCH_REMEASURE_GAP
  * (default 10 s) the spacing. `value` = sum of per-query medians;
  * `wall` = actual wall-clock including child startup.
  *
  * == Wall-budget governor + incremental artifact (r17, reordered r18) ==
  * r16's full pass grew past the driver's window and, because the
  * artifact was written once at the very end, the timeout lost every
  * already-measured family. Now (a) the artifact is REWRITTEN after
  * every family (`"partial":true` until the final emit, atomically —
  * temp sibling + ATOMIC_MOVE — so every observable state is a
  * complete JSON document), so a killed run keeps everything measured
  * so far; (b) SPARK_GRAFT_BENCH_BUDGET_MIN (minutes, default 55 ≈
  * the measured full-suite wall) bounds the pass in TWO ordered
  * degradations — ADJUDICATION BEFORE MEASUREMENT (r18, the r17
  * driver run degraded 120/160 queries to single-sample medians
  * while still spending its tail on re-measures): first the quiet
  * re-measure phase is dropped (`"remeasure_skipped":true` — it
  * re-checks numbers, it doesn't produce them), and only if the
  * projection STILL overruns do remaining families degrade to 1
  * timed run (listed under `"degraded"`; warmups stay adaptive so
  * the single run is still a warm-plateau number; a child-failure
  * in-process fallback honors the same 1-run degrade); (c) a
  * SPARK_GRAFT_BENCH_ONLY run defaults its output to BENCH_ONLY.json
  * so an A/B singleton can never overwrite the round's full-run
  * BENCH_LOCAL.json; (d) the LAST stdout line is a <=200-byte
  * summary object (total/n/degraded-count + the artifact path) —
  * the full per-query line precedes it, but any bounded stdout-tail
  * capture always gets a complete, parseable final line (r18, the
  * r17 verdict's top ask: two rounds of driver artifacts carried
  * `parsed: null` because the ~8 KB line outran the tail buffer). */
object Bench {

  /** The I/O-round-trip family: these queries measure real file-system
    * and embedded-database writes (ingest/tombstone/JDBC/price), so
    * their medians absorb whatever else the HOST is doing with the
    * disk — across r4/r5/r6 the same byte-identical code measured
    * q38 at 15.9/2.7/12.8 s while pure-compute queries held steady.
    * Per-family JVM isolation (r9) removes the shared-JVM component
    * of that noise; host-level disk contention remains, so the list
    * is still emitted under `io_family` and SCALE.md records how
    * tightly the family reproduces under isolation. */
  val IoFamily: Set[String] = Set(
    "q32_ingest_roundtrip", "q35_tombstone_roundtrip",
    "q38_jdbc_roundtrip", "q44_price_roundtrip",
    // writes two parquet chains + registers catalog databases per run
    "q94_chain_namespaces")

  /** q123's bench number prices the md5 ORACLE hash family — the
    * family its gate needs (engine-portable per-gram hashes), at
    * roughly twice the per-gram cost of the xxh64 family production
    * serves (`LangId.classifyQuantized(family = "xxh64")`). Emitted
    * in the artifact (the `io_family` precedent) so a future round
    * reading the most expensive non-streaming scan query attributes
    * the cost to the deliberate oracle-family choice, not to code
    * (r13 verdict "wrong #2"). */
  val LangidFamily: Map[String, String] = Map(
    "q123_langid_serve" -> "md5",
    "q128_trained_lang_composition" -> "md5")

  /** The streaming-drain family (r16, the r15 verdict's #6): these
    * queries run a checkpointed Structured Streaming drain end-to-end
    * (fresh checkpoint + index dirs per run), so they CANNOT warm —
    * every run pays checkpoint creation, micro-batch scheduling and
    * index/corpus compaction from cold, and their min↔med spreads ran
    * up to 1.8x in r15's full pass. Not a code property worth fixing
    * (a warmed drain would measure a different thing than the gate
    * gates), so the artifact marks them the way `io_family` marks
    * host-disk sensitivity: each drain runs in its OWN singleton
    * child JVM in the main pass, and additionally gets
    * SPARK_GRAFT_BENCH_DRAIN_SAMPLES (default 2) SPACED quiet
    * re-measures after the pass (r18 — the r17 verdict's q129 band
    * ran 29→52 s across single same-code quiet runs, so ONE quiet
    * number per round was unfalsifiable; `remeasured` now carries a
    * LIST per query and a cross-round claim cites the band, not a
    * point). q128 is noisy for a different reason (md5 oracle
    * family) and is already marked under `langid_family`. */
  val DrainFamily: Set[String] = Set(
    "q124_crawl_drain", "q126_raw_crawl_drain", "q129_embedding_drain",
    "q130_media_drain", "q135_robots_drain")

  /** Per-query measurement record: the median is the citable number
    * (unchanged contract); min/max of the timed runs plus the warmup
    * count make a stalled host window machine-detectable in the
    * artifact itself — a query whose max/min ratio blows past
    * SCALE.md's outlier rule needs a quiet re-measure before any
    * code attribution (the r9 q57 adjudication, now automatable). */
  case class QStat(median: Double, min: Double, max: Double, warmups: Int)

  def main(args: Array[String]): Unit = {
    val isChild = sys.env.contains("SPARK_GRAFT_BENCH_CHILD")
    val forked = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK", "1") != "0"
    if (!isChild && forked) orchestrate()
    else {
      val measured = measureInProcess(selectedNames(), None)
      emit(measured.collect { case (n, Some(st)) => n -> st }, defaultOut,
        startNanos = procStart, quiet = isChild,
        failed = measured.collect { case (n, None) => n })
    }
    // Terminate the JVM explicitly so the summary println above is the
    // LAST thing on stdout (r19, the r18 verdict's top ask — three
    // rounds of driver artifacts carried `parsed: null` because sbt's
    // own `[success] Total time …` epilogue trailed the summary line
    // and a literal-last-line parser read THAT). Paired with
    // `Bench / run / outputStrategy := StdoutOutput` +
    // `showSuccess := false` in build.sbt (forked app output
    // unprefixed, no sbt epilogue); the exit also guarantees no
    // lingering non-daemon Spark thread can print after the summary.
    if (!isChild) sys.exit(0)
  }

  private val procStart = System.nanoTime()

  /** A `SPARK_GRAFT_BENCH_ONLY` run (the quiet A/B tool) writes to
    * its OWN default path (r17, the r16 verdict's "wrong #2"): the
    * r16 closing full-run artifact was overwritten by a later q155
    * singleton re-measure before it was committed, losing the round's
    * per-query record. An explicit SPARK_GRAFT_BENCH_OUT always wins
    * (children set it to their temp file). */
  private def defaultOut: String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) "/root/repo/BENCH_ONLY.json"
      else "/root/repo/BENCH_LOCAL.json")

  private def selectedNames(): Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val all = SparkEntry.queries.keys.toSeq.sorted
    only match {
      case Some(names) => all.filter(names)
      case None => all
    }
  }

  /** Parent mode: fork a fresh JVM per query family, collect each
    * child's JSON file, emit the combined artifact. No SparkSession
    * is created here unless a child fails twice and we fall back to
    * in-process measurement for its family. */
  private def orchestrate(): Unit = {
    val t0 = System.nanoTime()
    val famSize = sys.env.getOrElse("SPARK_GRAFT_BENCH_FAMILY", "4").toInt.max(1)
    val names = selectedNames()
    // Drains are isolated into singleton families (quiet JVM by
    // construction — their medians should never absorb a sibling's
    // GC/compaction debt); the rest keep the stable sorted grouping.
    val (drainNames, restNames) = names.partition(DrainFamily)
    val families = restNames.grouped(famSize).toSeq ++ drainNames.map(Seq(_))
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    var spark: Option[SparkSession] = None // lazy, fallback only
    def runChild(fam: Seq[String],
        extraEnv: Map[String, String] = Map.empty): Option[Map[String, QStat]] = {
      val out = java.nio.file.Files.createTempFile("graft_bench_fam", ".json")
      try {
        val cmd = (Seq(javaBin) ++ jvmArgs ++
          Seq("-cp", cp, "graft.Bench")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        val env = pb.environment()
        env.put("SPARK_GRAFT_BENCH_CHILD", "1")
        env.put("SPARK_GRAFT_BENCH_ONLY", fam.mkString(","))
        env.put("SPARK_GRAFT_BENCH_OUT", out.toString)
        extraEnv.foreach { case (k, v) => env.put(k, v) }
        val p = pb.start()
        // A hung child must not stall the round: 20 min is ~3x the
        // slowest family ever observed, then we kill and fall back.
        val done = p.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { p.destroyForcibly(); p.waitFor() }
        if (done && p.exitValue() == 0) parseStats(out) else None
      } finally {
        try java.nio.file.Files.deleteIfExists(out) catch { case _: Throwable => }
      }
    }
    // Wall-budget governor (r17, reordered r18 — the r17 verdict's
    // ask #2): r16's full pass grew to ~57 min and blew the driver's
    // window with the artifact unwritten, and r17's driver run then
    // degraded 120/160 queries to single-sample medians while still
    // paying for the quiet re-measure tail. The budget (minutes,
    // default 55 ≈ the measured full-suite wall) now governs in two
    // ORDERED degradations, never by dropping a query:
    //   1. ADJUDICATION FIRST: once elapsed + projected main pass +
    //      the projected re-measure phase overruns, the re-measure
    //      phase is dropped (it re-checks medians, it doesn't
    //      produce them) — `"remeasure_skipped":true`;
    //   2. only if the main pass ALONE still overruns do remaining
    //      families degrade to ONE timed run (adaptive warmups keep
    //      the single number a warm-plateau one; affected queries
    //      are listed under "degraded").
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_MIN", "55")
      .toDouble * 60.0
    val drainSamples = sys.env.getOrElse("SPARK_GRAFT_BENCH_DRAIN_SAMPLES", "2")
      .toInt.max(1)
    val cooldownSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_COOLDOWN", "30").toInt
    val out = defaultOut
    val results = scala.collection.mutable.LinkedHashMap[String, QStat]()
    val degraded = scala.collection.mutable.ListBuffer[String]()
    val failed = scala.collection.mutable.ListBuffer[String]()
    var degrade = false
    var skipRemeasure = false
    var famDone = 0
    // Projected cost of the re-measure phase: cooldown + one quiet
    // child per drain sample (measured median + ~20 s JVM startup
    // once known; 45 s as the pre-measurement estimate).
    def projectedRemeasure: Double = cooldownSec +
      drainNames.map(n => results.get(n).map(_.median + 20.0).getOrElse(45.0))
        .sum * drainSamples
    for (fam <- families) {
      val elapsed = (System.nanoTime() - t0) / 1e9
      if (famDone > 0) {
        val projected = elapsed / famDone * (families.size - famDone)
        val (skip2, deg2) = governorStep(elapsed, projected,
          projectedRemeasure, budgetSec, skipRemeasure, degrade)
        if (skip2 && !skipRemeasure)
          System.err.println(f"[bench] wall budget: ${elapsed}%.0f s elapsed + " +
            f"${projected}%.0f s main + ${projectedRemeasure}%.0f s re-measure " +
            f"> ${budgetSec}%.0f s — dropping the quiet re-measure phase first")
        if (deg2 && !degrade)
          System.err.println(f"[bench] wall budget: ${elapsed}%.0f s elapsed + " +
            f"${projected}%.0f s projected > ${budgetSec}%.0f s — " +
            "remaining families degrade to 1 timed run")
        skipRemeasure = skip2
        degrade = deg2
      }
      val extra = if (degrade) Map("SPARK_GRAFT_BENCH_RUNS" -> "1") else Map.empty[String, String]
      val parsed = runChild(fam, extra).orElse {
        System.err.println(s"[bench] child failed for ${fam.mkString(",")}; retrying once")
        runChild(fam, extra)
      }
      parsed match {
        // a family member missing from the child's stats threw
        case Some(m) => fam.foreach(n => m.get(n) match {
          case Some(st) => results(n) = st
          case None => failed += n
        })
        case None =>
          System.err.println(s"[bench] child failed twice for ${fam.mkString(",")}; measuring in-process")
          // The fallback honors the active degrade (r18, the r17
          // advisor: it used to read the parent's BENCH_RUNS env, so
          // a "degraded" family could silently get 3 timed runs and
          // the artifact misstated how it was measured)
          measureInProcess(fam,
            spark.orElse { spark = Some(GraftSession.get()); spark },
            runsOverride = if (degrade) Some(1) else None).foreach {
            case (n, Some(st)) => results(n) = st
            case (n, None) => failed += n
          }
      }
      if (degrade) degraded ++= fam
      famDone += 1
      // Incremental artifact (r17): rewrite results-so-far after EVERY
      // family, so a killed/timed-out parent still leaves a partial
      // per-query record instead of nothing (r16 lost its whole run to
      // an end-only write). The final emit below overwrites with
      // partial=false.
      emit(results.toSeq, out, startNanos = t0, quiet = true,
        partial = true, degraded = degraded.toSeq, failed = failed.toSeq)
    }
    spark.foreach(_.stop())
    // Self-enforcing spread rule (r11): a query whose timed-run
    // max/min exceeds the SCALE.md outlier threshold sat in a
    // suspect host window — it gets ONE automatic quiet re-measure
    // in a fresh single-query JVM, OUTSIDE the timed totals (the
    // medians/total above are untouched; the adjudication lands in
    // the artifact's "remeasured" map). This automates the manual
    // `SPARK_GRAFT_BENCH_ONLY=… FAMILY=1` adjudication every round
    // through r10 had to run by hand — the closing artifact can no
    // longer ship with its own rule tripped and untriaged.
    val spreadMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_SPREAD_MAX", "2.5").toDouble
    val outliers = results.toSeq.collect {
      case (n, st) if st.min > 0 && st.max / st.min > spreadMax => n
    }
    // Drains always get the quiet re-measure (r16): their main-pass
    // child is already quiet, but a second independent drain run is
    // the cheapest cross-round adjudication signal for a family whose
    // per-run spread is structural (checkpointed streams can't warm).
    val toRemeasure0 = (outliers ++ results.keys.filter(DrainFamily)).distinct
    // Governor ordering (r18): the re-measure phase is the FIRST
    // thing budget pressure drops — either the mid-pass projection
    // already decided so (skipRemeasure), or the pass ends past
    // budget anyway. Medians are untouched either way; the skip is
    // recorded in the artifact so a reader knows the quiet numbers
    // are absent by policy, not by crash.
    val pastBudget = (System.nanoTime() - t0) / 1e9 > budgetSec
    val skipNow = skipRemeasure || pastBudget
    if (skipNow && toRemeasure0.nonEmpty)
      System.err.println(s"[bench] wall budget: skipping " +
        s"${toRemeasure0.size} quiet re-measures")
    val toRemeasure = if (skipNow) Seq.empty[String] else toRemeasure0
    // The remeasure phase runs LAST, i.e. at the tail of ~an hour of
    // sustained load — without a cool-down its "quiet" numbers came
    // out ABOVE the run medians (r16, measured: q135 22.4 med /
    // 31.5 "quiet"). 30 s is the standing quiet-re-measure rule.
    if (toRemeasure.nonEmpty) {
      System.err.println(s"[bench] cooling down ${cooldownSec}s before re-measures")
      Thread.sleep(cooldownSec * 1000L)
    }
    // Drains get SPACED multi-sample quiet re-measures (r18, the r17
    // verdict's #3: q129's single quiet numbers spanned 29→52 s
    // across same-code runs — one point per round made the band
    // invisible); spread outliers keep a single adjudication sample.
    val gapSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_REMEASURE_GAP", "10").toInt
    val remeasured: Seq[(String, Seq[Double])] = toRemeasure.map { n =>
      val st = results(n)
      val samples = if (DrainFamily(n)) drainSamples else 1
      if (DrainFamily(n))
        System.err.println(s"[bench] drain-family $n; $samples spaced quiet re-measures")
      else
        System.err.println(f"[bench] spread outlier $n (max/min ${st.max / st.min}%.2f " +
          f"> $spreadMax); quiet single-query re-measure")
      n -> (1 to samples).map { k =>
        if (k > 1) Thread.sleep(gapSec * 1000L)
        runChild(Seq(n)).flatMap(_.get(n)) match {
          case Some(st2) => st2.median
          case None =>
            System.err.println(s"[bench] re-measure child failed for $n; recording -1")
            -1.0
        }
      }
    }
    emit(results.toSeq, out, startNanos = t0, quiet = false,
      remeasured = remeasured, degraded = degraded.toSeq, failed = failed.toSeq,
      remeasureSkipped = skipNow && toRemeasure0.nonEmpty)
  }

  /** Pure budget-governor decision (r18, the r17 verdict's #2 —
    * unit-tested so the ORDERING is a contract, not an accident):
    * degradations trigger in order, adjudication before measurement.
    * The re-measure phase drops once the whole run (main pass + its
    * own cost) projects past budget; families degrade to 1 timed run
    * only once the MAIN PASS ALONE projects past budget. Both latch
    * (never un-trigger), and degrade being active implies the
    * re-measure phase is already dropped (the main pass overrunning
    * is a superset condition). */
  private[graft] def governorStep(elapsed: Double, projectedMain: Double,
      projectedRemeasure: Double, budgetSec: Double,
      skipRemeasure: Boolean, degrade: Boolean): (Boolean, Boolean) = {
    val skip = skipRemeasure ||
      elapsed + projectedMain + projectedRemeasure > budgetSec
    val deg = degrade || elapsed + projectedMain > budgetSec
    (skip || deg, deg) // degrade implies adjudication already dropped
  }

  /** Extract the per-query stats from a child's full-record JSON via
    * [[graft.util.StrictJson]] (r17, retiring the fixed-key-order
    * regex — the same first-match-reader failure class
    * [[graft.util.IndexMarker]] killed for persisted indexes in r15).
    * Order-blind: reads the `"spread"` map (med/min/max/warm per
    * query) wherever its fields sit; falls back to the flat
    * `"queries"` medians for a file written by an older binary.
    * Malformed content (truncated file, duplicate keys, a non-object
    * spread entry, a missing stat field) throws — exposed
    * package-private so the spec can assert the refusals. */
  private[graft] def statsOfChildJson(s: String): Map[String, QStat] = {
    import graft.util.StrictJson
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"child bench JSON: $why")
    val root = StrictJson.parse(s) match {
      case o: StrictJson.JObj => o
      case _ => fail("root is not an object")
    }
    root.obj("spread") match {
      case Some(sp) =>
        sp.fields.map {
          case (name, q: StrictJson.JObj) =>
            def num(k: String): Double = q.num(k).getOrElse(
              fail(s"spread entry '$name' is missing numeric '$k'"))
            name -> QStat(num("med"), num("min"), num("max"), num("warm").toInt)
          case (name, _) => fail(s"spread entry '$name' is not an object")
        }.toMap
      case None =>
        val qs = root.obj("queries").getOrElse(
          fail("neither 'spread' nor 'queries' present"))
        qs.fields.map {
          case (k, StrictJson.JNum(v)) => k -> QStat(v, v, v, -1)
          case (k, _) => fail(s"queries entry '$k' is not a number")
        }.toMap
    }
  }

  private def parseStats(path: java.nio.file.Path): Option[Map[String, QStat]] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      Some(statsOfChildJson(s))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] child JSON refused: ${e.getMessage}")
        None
    }

  /** Child / legacy mode: measure the given queries in this JVM.
    * One discarded warmup run, then `runs` timed runs, per-query
    * median of the timed runs. Between queries (never inside the
    * timed region) the session cache is dropped and a GC hinted so a
    * query's median doesn't pay its predecessor's allocation debt.
    * A query that throws on any run is a failure, not a timing: its
    * stats are `None`, so it stays out of `total` and the medians. */
  private[graft] def measureInProcess(names: Seq[String],
      existing: Option[SparkSession],
      runsOverride: Option[Int] = None,
      queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries)
      : Seq[(String, Option[QStat])] = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = runsOverride.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = existing.getOrElse(GraftSession.get())
    val warmMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_MAX", "6").toInt.max(1)
    val warmBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_BUDGET", "12").toDouble
    val trace = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRACE", "0") == "1"
    val results = names.flatMap { name =>
      queries.get(name).map { fn =>
        spark.catalog.clearCache()
        // clearCache only drops SQL-cache entries; checkpoint pins
        // (localCheckpoint) are RDD-level and must be dropped
        // explicitly or a checkpointing query's warmups+runs stack
        // blocks inside the family JVM (same loop as
        // ScaleRehearsal.scala's inter-phase hygiene)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
        def once(tag: String): Double = {
          val s0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - s0) / 1e9
          if (trace) System.err.println(f"[bench-trace] $name $tag $t%.3f")
          t
        }
        // Adaptive warmup (all discarded): repeat until two
        // CONSECUTIVE runs agree within 25% (comparing the latest to
        // the fastest seen would stop every still-improving sequence,
        // whose latest IS the fastest), or the count/time caps hit.
        // Cheap queries need several runs for spark-core C2 JIT in a
        // fresh JVM; a query whose first run already exceeds the
        // budget keeps the old single-warmup behavior.
        val stat = scala.util.Try {
          var warm = List(once("warm1"))
          var spent = warm.head
          while (warm.length < warmMax && spent < warmBudget &&
              (warm.length < 2 ||
                math.abs(warm.head - warm(1)) > 0.25 * math.min(warm.head, warm(1)))) {
            val t = once(s"warm${warm.length + 1}")
            warm ::= t; spent += t
          }
          val times = (1 to runs).map(i => once(s"run$i")).sorted
          QStat(times(times.length / 2), times.head, times.last, warm.length)
        }
        stat.failed.foreach(e => System.err.println(s"[bench] $name failed: $e"))
        name -> stat.toOption
      }
    }
    if (existing.isEmpty) spark.stop()
    results
  }

  private[graft] def emit(results: Seq[(String, QStat)], out: String,
      startNanos: Long, quiet: Boolean,
      remeasured: Seq[(String, Seq[Double])] = Nil,
      partial: Boolean = false,
      degraded: Seq[String] = Nil,
      failed: Seq[String] = Nil,
      remeasureSkipped: Boolean = false): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val wall = (System.nanoTime() - startNanos) / 1e9
    val total = results.map(_._2.median).sum
    // Full record (full query names, full float precision) goes to a
    // file: the driver captures only a bounded 2000-char tail of
    // stdout, and with 60+ queries the full JSON line exceeded it —
    // every round artifact through r7 had `parsed: null` because the
    // line's OPENING brace fell outside the tail window. A file
    // survives any tail window.
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + v.median }
      .mkString("{", ",", "}")
    // "spread" AFTER "queries": parseStats' fallback (and any older
    // reader) scans "queries":{…} up to the first '}' — nested spread
    // braces before it would truncate that window
    val spread = results.map { case (k, v) =>
      s"\"" + k + "\":{\"med\":" + v.median + ",\"min\":" + v.min +
        ",\"max\":" + v.max + ",\"warm\":" + v.warmups + "}"
    }.mkString("{", ",", "}")
    val ioFam = IoFamily.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // name→[medians] map of the automatic quiet re-measures (−1 = a
    // re-measure child failed): spread outliers carry 1 sample,
    // drains carry SPARK_GRAFT_BENCH_DRAIN_SAMPLES spaced ones (r18
    // — a LIST so the variance band is in the artifact, not in
    // prose); empty when no query tripped the rule — "ships with
    // zero un-adjudicated spread outliers" is checkable from the
    // artifact alone
    val remeas = remeasured.map { case (k, vs) =>
      s"\"" + k + "\":" + vs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val langidFam = LangidFamily.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val drainFam = DrainFamily.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // bench-governor bookkeeping (r17): "partial" marks an
    // incremental mid-run rewrite (a timeout leaves the last one
    // standing); "degraded" lists queries measured with 1 timed run
    // under the wall budget; "remeasure_skipped" records a
    // budget-policy skip of the quiet re-measure phase
    val degr = degraded.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // queries that threw: out of "queries", "spread" and the total
    val fail = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val jsonFull = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,""" +
      s""""sf":"$sfDir","runs":$runs,"wall":$wall,"partial":$partial,""" +
      s""""degraded":$degr,"failed":$fail,"remeasure_skipped":$remeasureSkipped,""" +
      s""""io_family":$ioFam,""" +
      s""""langid_family":$langidFam,"drain_family":$drainFam,"spread":$spread,""" +
      s""""remeasured":$remeas}"""
    // Atomic rewrite (r18, the r17 advisor): the incremental
    // per-family rewrites made an in-place Files.write racy — a kill
    // landing mid-write left a truncated artifact the strict parser
    // would then refuse. Temp sibling + ATOMIC_MOVE keeps every
    // observable state a complete JSON document.
    try {
      val target = java.nio.file.Paths.get(out)
      val dir = Option(target.getParent).getOrElse(java.nio.file.Paths.get("."))
      val tmp = java.nio.file.Files.createTempFile(dir, ".bench_emit", ".json")
      java.nio.file.Files.write(tmp, (jsonFull + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case e: Throwable => System.err.println(s"[bench] write $out: $e") }
    if (quiet) return // children: the file is the contract, stdout is discarded
    // Stdout gets a COMPACT line sized to fit the tail window: query
    // names abbreviated to their unique qNN prefix, seconds rounded to
    // 3 decimals (86 queries ≈ 1.4 KB < 2000-char tail minus sbt's
    // trailing "[success]" line), plus a pointer to the full file.
    def short(name: String): String = name.takeWhile(_ != '_')
    def r3(v: Double): String = f"$v%.3f"
    val qsShort = results.map { case (k, v) => s"\"" + short(k) + "\":" + r3(v.median) }
      .mkString("{", ",", "}")
    val ioShort = IoFamily.toSeq.sorted.map(n => "\"" + short(n) + "\"")
      .mkString("[", ",", "]")
    val langidShort = LangidFamily.toSeq.sorted
      .map { case (k, v) => "\"" + short(k) + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val drainShort = DrainFamily.toSeq.sorted.map(n => "\"" + short(n) + "\"")
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qsShort,""" +
      s""""sf":"$sfDir","runs":$runs,"wall":${r3(wall)},"io_family":$ioShort,""" +
      s""""langid_family":$langidShort,"drain_family":$drainShort,"file":"$out"}""")
    // LAST stdout line = a <=200-byte summary (r18, the r17 verdict's
    // top ask): the compact per-query line above is ~2.4 KB at 160
    // queries and a bounded stdout-tail capture clips its HEAD, so
    // two rounds of driver artifacts parsed to null. This line always
    // fits whole inside any tail window; the full per-query record
    // lives in the file it points at.
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},""" +
      s""""degraded":${degraded.size},"failed":${failed.size},"wall":${r3(wall)},""" +
      s""""file":"$out"}""")
  }
}

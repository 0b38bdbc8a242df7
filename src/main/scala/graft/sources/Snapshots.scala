package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Point-in-time snapshots over the partitioned logs table: a
  * manifest (`_graft_manifest/v<N>.json`, underscore-prefixed so
  * partition discovery never sees it) pins the exact data-file set of
  * a version; [[read]] loads precisely those files, so a long analytic
  * job sees ONE consistent table state while ingest keeps appending,
  * and older versions stay queryable (time travel across the ingest
  * history).
  *
  * Consistency contract — MVCC reads, honestly scoped:
  * - concurrent APPENDS never disturb a pinned read (appends only add
  *   files; the manifest ignores them);
  * - COMPACTION/canonicalization PARK the files they replace in
  *   `_graft_retained/` (on snapshot-tracked tables) and auto-commit
  *   the next version, so pinned readers keep resolving every file
  *   they reference — rewrites never invalidate a pin. [[vacuum]]
  *   bounds the history: it drops old manifests and GCs retained
  *   files nothing references.
  * - CONCURRENT APPEND-ONLY WRITERS are supported via
  *   [[commitWithRetry]] (optimistic CAS on the version number:
  *   lose the race → re-list, retry at the next version — the
  *   re-listing IS the merge, since appends only add files).
  * - REWRITES (`Logs.compact`, canonicalization) may run CONCURRENTLY
  *   with appenders' commits: a committed manifest is validated by
  *   LIVENESS DIFF — every file it references must still be live in
  *   the table dir (not parked in `_graft_retained/`) after the
  *   publish; a commit whose listing raced a file replacement is
  *   self-revoked and retried against a fresh listing, so a stale
  *   manifest can never resurrect replaced files as latest. Two
  *   rewriters on the SAME partition remain single-writer (the
  *   partition swap fails loudly for the loser).
  *
  * Scale shape: a manifest is one listing + one small JSON write per
  * commit; reads plan from the manifest's file list (no directory
  * listing at all — at 10^5 partitions that beats even partition
  * pruning for repeat queries).
  */
object Snapshots {

  private val mapper = new ObjectMapper()

  private def manifestDir(tablePath: String) = new Path(s"$tablePath/_graft_manifest")
  private def fsOf(spark: SparkSession, tablePath: String): FileSystem =
    new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listDataFiles(fs: FileSystem, tablePath: String): Seq[String] = {
    val root = new Path(tablePath)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("block_range="))
      .flatMap(d => fs.listStatus(d.getPath).toSeq)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => s"${f.getPath.getParent.getName}/${f.getPath.getName}")
      .sorted
  }

  def latestVersion(spark: SparkSession, tablePath: String): Option[Long] = {
    val fs = fsOf(spark, tablePath)
    val dir = manifestDir(tablePath)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .maxOption
  }

  /** Snapshot the table's CURRENT committed files as the next version;
    * returns it. Atomic: written to a tmp name, renamed in. Single
    * committer per table assumed (like [[Logs.compact]]); a concurrent
    * committer racing to the same version number is DETECTED — the
    * final manifest path is checked before the rename and the manifest
    * content read back after it, so a lost manifest fails loudly
    * instead of silently (fs.rename-onto-existing behavior is
    * filesystem-dependent). Multi-writer ingest should use
    * [[commitWithRetry]], which turns that loud failure into an
    * optimistic-CAS retry. */
  def commit(spark: SparkSession, tablePath: String): Long = {
    val fs = fsOf(spark, tablePath)
    val version = latestVersion(spark, tablePath).getOrElse(-1L) + 1
    publish(fs, tablePath, version, listDataFiles(fs, tablePath))
    version
  }

  /** Concurrent APPEND-ONLY writers' commit — the reference gets
    * multi-writer for free from Postgres (any number of archivers
    * `INSERT … ON CONFLICT DO NOTHING`, and the per-chain deploy
    * pattern encourages parallel processes); this is the parquet
    * table's analog for the snapshot step. Safe for append-only
    * workloads because a commit snapshots the CURRENT full listing:
    * losing the CAS means someone else advanced the version, so we
    * re-read the new latest, RE-LIST (the merge — the fresh listing
    * contains both writers' files), and retry at version+1. Every
    * writer's appended files land in whichever manifest commits last,
    * and pinned readers are never disturbed (appends only add files).
    * A commit that raced an in-place REWRITE
    * ([[Logs.compact]]/canonicalize) is caught by [[publish]]'s
    * post-rename liveness diff (the stale listing references files the
    * rewrite parked) — the manifest is self-revoked and the retry's
    * fresh listing sees the post-rewrite state, so replaced files are
    * never resurrected as latest.
    *
    * Returns the committed version. Backoff is linear+jittered; after
    * `maxAttempts` lost races the last conflict propagates. */
  def commitWithRetry(spark: SparkSession, tablePath: String, maxAttempts: Int = 8): Long = {
    val fs = fsOf(spark, tablePath)
    var attempt = 0
    var lastConflict: java.io.IOException = null
    while (attempt < maxAttempts) {
      attempt += 1
      val version = latestVersion(spark, tablePath).getOrElse(-1L) + 1
      try {
        publish(fs, tablePath, version, listDataFiles(fs, tablePath))
        return version
      } catch {
        case e: java.io.IOException =>
          lastConflict = e
          // lost the race; brief jittered backoff, then re-read latest
          Thread.sleep(5L * attempt + scala.util.Random.nextInt(10))
      }
    }
    throw new java.io.IOException(
      s"snapshot commit: lost $maxAttempts CAS races at $tablePath", lastConflict)
  }

  /** The write-tmp-then-rename publish step, conflict-checked three
    * ways:
    * (1) if the final manifest path appeared between version
    * computation and the rename, fail rather than rename onto it;
    * (2) after the rename, read the manifest back and compare a
    * per-publish nonce — on filesystems where rename silently
    * overwrites (local fs), the writer whose manifest was clobbered
    * sees a foreign nonce and fails loudly, making the CAS outcome
    * well-defined everywhere: exactly one writer wins a version;
    * (3) LIVENESS DIFF after winning: every manifest file must still
    * be live in the table dir — a file that is now only in
    * `_graft_retained/` was REPLACED by a rewrite between this
    * writer's listing and its rename, and committing the stale listing
    * would resurrect replaced data as latest (and miss the rewrite's
    * output). The manifest is deleted (self-revoke — we own it, the
    * nonce said so) and the publish fails with the same retryable
    * conflict as a lost CAS, so [[commitWithRetry]] re-lists and
    * commits the post-rewrite state. Pinned readers are unaffected
    * either way: replaced files are parked, not deleted. */
  private[graft] def publish(fs: FileSystem, tablePath: String, version: Long,
      files: Seq[String]): Unit = {
    val nonce = java.util.UUID.randomUUID().toString
    val node = mapper.createObjectNode()
    node.put("version", version)
    node.put("nonce", nonce)
    val arr = node.putArray("files")
    files.foreach(arr.add)
    fs.mkdirs(manifestDir(tablePath))
    val tmp = new Path(manifestDir(tablePath), s".v$version.$nonce.json.tmp")
    val out = fs.create(tmp, true)
    out.write(mapper.writeValueAsBytes(node))
    out.close()
    val fin = new Path(manifestDir(tablePath), f"v$version%09d.json")
    if (fs.exists(fin)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"snapshot commit conflict: $fin already exists (concurrent committer?)")
    }
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"snapshot commit: cannot publish $fin")
    val in = fs.open(fin)
    val won = try mapper.readTree(in.readAllBytes()) finally in.close()
    if (Option(won.get("nonce")).map(_.asText).getOrElse("") != nonce)
      throw new java.io.IOException(
        s"snapshot commit conflict: $fin overwritten by a concurrent committer")
    // (3) liveness diff: a rewrite that parked any of these files
    // between our listing and the rename makes this manifest stale
    val replaced = files.filterNot(f => fs.exists(new Path(s"$tablePath/$f")))
    if (replaced.nonEmpty) {
      fs.delete(fin, false) // self-revoke: we verified ownership above
      throw new java.io.IOException(
        s"snapshot commit conflict: listing raced a rewrite — " +
          s"${replaced.size} file(s) replaced (e.g. ${replaced.head}); retry with a fresh listing")
    }
  }

  def files(spark: SparkSession, tablePath: String, version: Long): Seq[String] = {
    val fs = fsOf(spark, tablePath)
    val p = new Path(manifestDir(tablePath), f"v$version%09d.json")
    require(fs.exists(p), s"no snapshot v$version at $tablePath")
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    mapper.readTree(bytes).get("files").elements().asScala.map(_.asText).toSeq
  }

  private def retainedDir(tablePath: String) = s"$tablePath/_graft_retained"

  /** Resolve a manifest-relative file: live location first, then the
    * MVCC retention area an in-place rewrite parked it in
    * (`Logs.retainOrDelete`). */
  private def resolve(fs: FileSystem, tablePath: String, f: String): Option[String] =
    if (fs.exists(new Path(s"$tablePath/$f"))) Some(s"$tablePath/$f")
    else if (fs.exists(new Path(s"${retainedDir(tablePath)}/$f")))
      Some(s"${retainedDir(tablePath)}/$f")
    else None

  /** Every pinned file still resolvable — live or retained. On a
    * snapshot-tracked table, compaction/canonicalization PARK the
    * files they replace instead of deleting them, so older versions
    * stay valid and readable until [[vacuum]] garbage-collects them. */
  def isValid(spark: SparkSession, tablePath: String, version: Long): Boolean = {
    val fs = fsOf(spark, tablePath)
    files(spark, tablePath, version).forall(f => resolve(fs, tablePath, f).isDefined)
  }

  /** Read exactly one version's file set (default: latest). */
  def read(spark: SparkSession, tablePath: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, tablePath))
      .getOrElse(throw new IllegalStateException(s"no snapshots at $tablePath"))
    readFiles(spark, tablePath, v, files(spark, tablePath, v))
  }

  /** Some of version `v`'s pinned files, in analytic column order.
    * Each file resolves to its live location or, after an in-place
    * rewrite, the retention area; each group opens through
    * [[Logs.open]] with its own `basePath` (keeps `block_range`
    * derivable) and the groups are unioned. */
  private def readFiles(spark: SparkSession, tablePath: String, v: Long,
      names: Seq[String]): DataFrame = {
    val fs = fsOf(spark, tablePath)
    val resolved = names.map { f =>
      resolve(fs, tablePath, f).getOrElse(
        throw new IllegalStateException(
          s"snapshot v$v of $tablePath references vacuumed/missing file $f"))
    }
    val (retained, live) = resolved.partition(_.startsWith(retainedDir(tablePath)))
    Seq(tablePath -> live, retainedDir(tablePath) -> retained)
      .collect { case (base, paths) if paths.nonEmpty => Logs.open(spark, base, paths: _*) }
      .reduceOption(_ unionByName _)
      .getOrElse(Logs.empty(spark))
  }

  /** Row-level diff of two snapshot versions, PLANNED FROM THE
    * MANIFESTS: a file listed by both versions holds byte-identical
    * rows in both (files are immutable; rewrites swap whole files),
    * so only the SYMMETRIC DIFFERENCE of the two file sets is ever
    * read. On an append-mostly history the diff therefore costs
    * O(files that changed), never O(table) — at fleet scale,
    * "what did yesterday's ingest change" reads yesterday's files,
    * not 100 TB. Emits one row per differing primary key
    * (`block_hash, transaction_hash, log_index` — the table's
    * idempotence contract guarantees per-version key uniqueness):
    *
    *  - `added`   — key present only in `vNew`
    *  - `removed` — key present only in `vOld`
    *  - `changed` — key on both sides with a differing payload
    *    (null-safe struct compare over the remaining analytic
    *    columns; a reorg canonicalization flipping `removed` is the
    *    canonical producer)
    *
    * Rows a compaction merely MOVED between files appear on both
    * sides, compare equal, and drop out — a pure rewrite diffs
    * empty. `diff(v, v)` is empty by construction (no files differ). */
  def diff(spark: SparkSession, tablePath: String, vOld: Long, vNew: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val fo = files(spark, tablePath, vOld)
    val fn = files(spark, tablePath, vNew)
    val common = fo.toSet.intersect(fn.toSet)
    val key = Logs.pk
    val payload = Logs.schema.fieldNames.filterNot(key.contains).toSeq
    def keyed(df: DataFrame, tag: String): DataFrame =
      df.select(key.map(col) :+ struct(payload.map(col): _*).as(s"_p$tag"): _*)
    keyed(readFiles(spark, tablePath, vOld, fo.filterNot(common)), "o")
      .join(keyed(readFiles(spark, tablePath, vNew, fn.filterNot(common)), "n"), key, "full_outer")
      .withColumn("status",
        when(col("_po").isNull, lit("added"))
          .when(col("_pn").isNull, lit("removed"))
          .when(!(col("_po") <=> col("_pn")), lit("changed")))
      .filter(col("status").isNotNull)
      .select(key.map(col) :+ col("status"): _*)
  }

  /** Retention GC: drop all but the newest `keepVersions` manifests,
    * then delete every retained file no kept manifest references.
    * Returns (manifests dropped, retained files deleted). Run beside
    * periodic compaction; readers pinned to a dropped version fail
    * loudly on read ([[read]] throws), which is the retention
    * contract — bounded history, not unbounded MVCC. */
  def vacuum(spark: SparkSession, tablePath: String, keepVersions: Int = 2): (Int, Int) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val fs = fsOf(spark, tablePath)
    val dir = manifestDir(tablePath)
    if (!fs.exists(dir)) return (0, 0)
    val versions = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
    val (drop, keep) = versions.splitAt(math.max(0, versions.size - keepVersions))
    val referenced = keep.flatMap(v => files(spark, tablePath, v)).toSet
    drop.foreach(v => fs.delete(new Path(dir, f"v$v%09d.json"), false))
    val retRoot = new Path(retainedDir(tablePath))
    var deleted = 0
    if (fs.exists(retRoot)) {
      fs.listStatus(retRoot).toSeq.filter(_.isDirectory).foreach { d =>
        fs.listStatus(d.getPath).toSeq.filter(_.isFile).foreach { f =>
          val rel = s"${d.getPath.getName}/${f.getPath.getName}"
          if (!referenced(rel)) { fs.delete(f.getPath, false); deleted += 1 }
        }
        if (fs.listStatus(d.getPath).isEmpty) fs.delete(d.getPath, false)
      }
      if (fs.listStatus(retRoot).isEmpty) fs.delete(retRoot, false)
    }
    (drop.size, deleted)
  }
}

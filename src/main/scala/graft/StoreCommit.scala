package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StringType

/** Committed-read manifest for the batch-dir store family (fingerprint /
  * minhash / simhash / winnow / window / line-census / cluster-label /
  * embedding stores, AND — since round 11 — the PQ/SQ8/IVF/IVF+PQ code
  * indexes and the postings index, whose codebook/meta sidecars are
  * written once at build and whose per-batch dirs commit through this
  * manifest like every other store): every append writes its `batch=<token>` dir(s) FIRST and then
  * registers the token with one marker-file create under
  * `<storeRoot>/_commits/<token>` — readers list the marker dir and open
  * only committed batch dirs. This closes the probe-during-append window:
  * a store writer's parquet job materializes task files one rename at a
  * time at commit, so a lock-free concurrent probe could previously read a
  * PARTIAL batch (some files moved, some not) — silently under-counting
  * duplicates. With the manifest, a batch is invisible until its marker
  * exists, and the marker is a single atomic file create (HDFS create,
  * object-store PUT).
  *
  * Multi-family stores (winnow: `fps/batch=<t>` + `sizes/batch=<t>`)
  * commit ONE marker per token at the store root after every family's dir
  * is written, so probes see the token's dirs across families all-or-
  * nothing.
  *
  * Legacy stores (no `_commits` dir) read with the full directory view
  * unchanged — the manifest is an opt-in layer that every builder/appender
  * in this engine now writes.
  *
  * Residual window, documented: the same-token REPLAY contract (a
  * crash-retried micro-batch overwrites its own batch dir) rewrites a dir
  * whose marker may already exist; a probe racing that rewrite can see the
  * partial rewrite. Mutators shrink the window by dropping the token's
  * marker before rewriting ([[uncommit]]); the window is replay-only and
  * never affects the common append path.
  *
  * WRITE SIDE: every builder, appender and compactor of the families above
  * goes through the four operations at the bottom of this object, so the
  * protocol's ordering and refresh policy live here and nowhere else:
  *  - [[rebuild]]: take the store's [[StoreLock]], delete the root, run the
  *    body (builders: `rebuild(root)(append(..., "base"))`);
  *  - [[writeBatch]]: drop the token's marker, let the body write every
  *    family dir (and sidecar) for the token through a [[BatchWriter]],
  *    commit ONE marker, then `refreshByPath` every family/sidecar root
  *    the body wrote — no others. Appenders call it inside their own
  *    store lock (their validation reads must be locked too);
  *  - [[compact]]: refuse `src == dst`, [[rebuild]] `dst` under ITS lock,
  *    write it as token `base` through [[writeBatch]]. `src` is only read
  *    and never changes; the caller swaps paths when `dst` is complete, so
  *    a crash leaves a partial `dst` to overwrite, never a half-deleted
  *    `src`, and re-compacting into a stale `dst` starts from scratch;
  *  - [[dropBatch]]: a replay's removal of its own half-written batch
  *    dir, marker first so racing probes stop seeing it before it goes.
  *
  * Deliberately NOT on the manifest (rebuild-only, they use [[rebuild]]
  * alone): the SCD2 interval store ([[graft.ts.Scd]], replay keyed by its
  * own `seq`), the z-order layout ([[graft.operators.LayoutOps]], which
  * keeps its own per-batch `_manifest`), and the bigram reference model
  * ([[graft.operators.TextOps.buildLmModel]], one snapshot per rebuild).
  */
object StoreCommit {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitsDir(storeRoot: String) = new Path(s"$storeRoot/_commits")

  /** Every batch token currently LISTED anywhere in the store: `batch=`
    * dirs directly under the root plus those one level down in family
    * sub-dirs (winnow's `fps/`/`sizes/`) — the set a legacy (manifest-less)
    * reader considers visible.
    */
  private def allListedTokens(hfs: org.apache.hadoop.fs.FileSystem,
      storeRoot: String): Set[String] = {
    val root = new Path(storeRoot)
    if (!hfs.exists(root)) return Set.empty
    val entries = hfs.listStatus(root)
    val direct = entries.map(_.getPath.getName).filter(_.startsWith("batch="))
    val nested = entries.filter(e => e.isDirectory &&
        !e.getPath.getName.startsWith("batch=") &&
        !e.getPath.getName.startsWith("_") &&
        !e.getPath.getName.startsWith("."))
      .flatMap(e => hfs.listStatus(e.getPath).map(_.getPath.getName)
        .filter(_.startsWith("batch=")))
    (direct ++ nested).map(_.stripPrefix("batch=")).toSet
  }

  /** Register `batchToken` as committed — call AFTER its batch dir(s) are
    * fully written. Atomic: one marker-file create.
    *
    * FIRST commit on a store that predates the manifest (batch dirs exist,
    * `_commits` does not) ENROLLS every listed token before the manifest
    * becomes visible: under the legacy view those batches were already
    * readable, and a manifest listing only the new token would silently
    * disown them — the exact under-count this layer exists to prevent.
    * The bootstrap is atomic via build-aside + rename (a racing probe sees
    * either no manifest = full legacy view, or the complete enrolled set).
    * A rename RACE cannot be detected from the rename's return value:
    * Hadoop rename(tmp, dst) onto an EXISTING directory moves tmp INSIDE
    * dst (posix-mv semantics on HDFS; RawLocalFileSystem's FileUtil.copy
    * fallback does the same) and returns true — so the loser's enrolled
    * tokens would land nested under `_commits/_commits.tmp-<uuid>/`,
    * invisible to [[committedTokens]], silently disowning its fully-
    * written batch. So the outcome is verified by EFFECT instead: after
    * any rename attempt, our own marker must exist directly under
    * `_commits/`; when it doesn't, fall back to the idempotent per-marker
    * creates into the winner's dir and sweep any nested `_commits.tmp-*`
    * junk dir the mis-rename left behind. Only reachable when two writers
    * race the first-ever commit (StoreLock normally serializes mutators,
    * but the weak-PUT backends its scaladoc concedes admit the overlap).
    */
  def commit(spark: SparkSession, storeRoot: String, batchToken: String): Unit = {
    invalidate(storeRoot)
    val dir = commitsDir(storeRoot)
    val hfs = fs(spark, dir)
    def mark(d: Path, token: String): Unit = {
      val out = hfs.create(new Path(d, token), true)
      try out.write(token.getBytes("UTF-8")) finally out.close()
    }
    if (!hfs.exists(dir)) {
      val enroll = allListedTokens(hfs, storeRoot) + batchToken
      val tmp = new Path(s"$storeRoot/_commits.tmp-${java.util.UUID.randomUUID()}")
      hfs.mkdirs(tmp)
      enroll.foreach(mark(tmp, _))
      scala.util.Try(hfs.rename(tmp, dir))
      // verify by effect, not return value (see scaladoc): our marker must
      // sit DIRECTLY under _commits/ — a lost race nests tmp inside the
      // winner's dir with rename still returning true
      if (!hfs.exists(new Path(dir, batchToken))) {
        scala.util.Try(hfs.delete(tmp, true))
        enroll.foreach(mark(dir, _))
      }
      // sweep mis-rename junk: a nested _commits.tmp-* dir is not a real
      // token and would pollute committedTokens forever
      if (hfs.exists(dir))
        hfs.listStatus(dir).filter(_.getPath.getName.startsWith("_commits.tmp-"))
          .foreach(s => scala.util.Try(hfs.delete(s.getPath, true)))
    } else mark(dir, batchToken)
  }

  /** Drop `batchToken`'s marker — the replay hook: a crash-retry that is
    * about to delete/rewrite its own batch dir first makes it invisible,
    * so racing probes see the pre-replay store instead of a half-rewrite.
    */
  def uncommit(spark: SparkSession, storeRoot: String, batchToken: String): Unit = {
    invalidate(storeRoot)
    val m = new Path(commitsDir(storeRoot), batchToken)
    val hfs = fs(spark, m)
    if (hfs.exists(m)) { hfs.delete(m, false); () }
  }

  /** The committed token set, or None for a legacy store with no manifest
    * (full directory view applies).
    */
  def committedTokens(spark: SparkSession, storeRoot: String): Option[Set[String]] = {
    val dir = commitsDir(storeRoot)
    val hfs = fs(spark, dir)
    if (!hfs.exists(dir)) None
    else Some(hfs.listStatus(dir).map(_.getPath.getName).toSet)
  }

  /** Listed `batch=` dirs under `familyRoot` as (token, dir modification
    * time) — the mtime rides along from the same `listStatus` call at zero
    * extra I/O and keys the committed-read plan cache below: a same-token
    * REWRITE (replay) changes the dir's mtime even though the token set is
    * unchanged, so a cached plan (which pins concrete file names) can
    * never serve a rewritten batch's stale file list.
    */
  private def listedStatuses(spark: SparkSession,
      familyRoot: String): Seq[(String, Long)] = {
    val p = new Path(familyRoot)
    val hfs = fs(spark, p)
    if (!hfs.exists(p)) Seq.empty
    else hfs.listStatus(p)
      .filter(_.getPath.getName.startsWith("batch="))
      .map(s => (s.getPath.getName.stripPrefix("batch="),
        s.getModificationTime))
      .sortBy(_._1).toSeq
  }

  private def listedTokens(spark: SparkSession, familyRoot: String): Seq[String] =
    listedStatuses(spark, familyRoot).map(_._1)

  /** Batch tokens VISIBLE to readers of `storeRoot(/sub)`: the listed
    * `batch=` dirs intersected with the committed set (all listed dirs for
    * a legacy store). Sorted — the staleness contracts (bloom sketch
    * coverage) compare these lists verbatim.
    */
  def visibleTokens(spark: SparkSession, storeRoot: String,
      sub: Option[String] = None): Seq[String] = {
    val familyRoot = sub.fold(storeRoot)(s => s"$storeRoot/$s")
    val listed = listedTokens(spark, familyRoot)
    committedTokens(spark, storeRoot).fold(listed)(c => listed.filter(c))
  }

  /** Committed-read plan cache: the analyzed multi-dir DataFrame per
    * (session, familyRoot), VALIDATED on every read against the live
    * listing — reused only while the visible (token, dir-mtime) set is
    * byte-identical to the one the plan was built from. This removes the
    * per-probe driver cost the manifest layer added (a fresh
    * InMemoryFileIndex build + one parquet-footer schema read per
    * [[read]]) without caching any DATA: execution still scans the
    * parquet files each action, and ANY store mutation — append (new
    * token), replay rewrite (same token, new dir mtime), compaction
    * (token set and mtimes both change) — misses the cache by key. The
    * two `listStatus` calls the validation needs were already paid by the
    * uncached path. [[commit]]/[[uncommit]] also mark the store's entries
    * stale (belt-and-braces for in-JVM mutators; cross-JVM mutators are
    * caught by the key comparison). Bounded: one entry per store family
    * actually probed in the session.
    *
    * A missed entry still lends its schema to the rebuilt plan when every
    * (token, dir-mtime) it was built over is still visible: an append adds
    * a token and leaves every earlier one untouched, so the read skips the
    * footer-read schema job. Any drop, same-token rewrite, compaction or
    * rebuild removes or re-stamps an earlier entry and the schema is
    * inferred again.
    */
  private val readCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Seq[(String, Long)], DataFrame, Boolean)]()

  /** Mark every cached plan under `storeRoot` stale: the next [[read]]
    * rebuilds it (keeping its schema when [[read]]'s rule allows).
    */
  private[graft] def invalidate(storeRoot: String): Unit =
    readCache.replaceAll((key, v) => if (key._2.startsWith(storeRoot)) v.copy(_3 = true) else v)

  /** The `meta` row and the `root/meta` listing (file names, lengths,
    * mtimes) it was read under, per store root.
    */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], Row)]()

  /** The store's one-row `meta` sidecar, or None when `root/meta` is
    * absent or holds no row. Served from a driver cache validated on every
    * call against one `listStatus` of `root/meta`: a rebuild or sidecar
    * overwrite writes new part-file names, so it always misses. A warm
    * call runs no Spark job; an absent or empty meta is never cached.
    */
  def meta(spark: SparkSession, root: String): Option[Row] = {
    val p = new Path(s"$root/meta")
    val listing = try fs(spark, p).listStatus(p).toSeq
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted
    catch { case _: java.io.FileNotFoundException => return None }
    val hit = metaCache.get(root)
    if (hit != null && hit._1 == listing) Some(hit._2)
    else {
      val row = spark.read.parquet(p.toString).limit(1).collect().headOption
      row.foreach(r => metaCache.put(root, (listing, r)))
      row
    }
  }

  /** Committed-only read of the batch-dir family at `storeRoot(/sub)`.
    * `basePath` keeps the `batch` partition column alive, so readers that
    * filter a replayed micro-batch's own dir (`col("batch") =!= t`) are
    * unchanged. Legacy stores (no manifest) read the plain directory view.
    * Throws when a manifest exists but no listed dir is committed — a
    * store in that state is mid-construction or corrupt, and reading it
    * as empty would silently report "no duplicates".
    */
  def read(spark: SparkSession, storeRoot: String,
      sub: Option[String] = None): DataFrame = {
    val familyRoot = sub.fold(storeRoot)(s => s"$storeRoot/$s")
    committedTokens(spark, storeRoot) match {
      case None => spark.read.parquet(familyRoot)
      case Some(committed) =>
        val visible = listedStatuses(spark, familyRoot)
          .filter(s => committed(s._1))
        require(visible.nonEmpty,
          s"no committed batches under $familyRoot — the store is " +
            "mid-construction (writer crashed before its first commit " +
            "marker) or its _commits dir was damaged")
        val key = (spark, familyRoot)
        val hit = Option(readCache.get(key))
        hit.filter(h => !h._3 && h._1 == visible).map(_._2).getOrElse {
          val prev = hit.collect { case (seen, d, _) if seen.forall(visible.contains) &&
              d.schema.find(_.name == "batch").forall(_.dataType == StringType) => d.schema }
          val reader = spark.read.option("basePath", familyRoot)
          val df = prev.fold(reader)(reader.schema)
            .parquet(visible.map(t => s"$familyRoot/batch=${t._1}"): _*)
          readCache.put(key, (visible, df, false))
          df
        }
    }
  }

  // ---- write side ----------------------------------------------------------

  /** The dirs of ONE token's batch, handed to a [[writeBatch]] body: every
    * path it hands out is remembered, and [[writeBatch]] refreshes exactly
    * those roots once the marker lands.
    */
  final class BatchWriter private[StoreCommit] (root: String, token: String) {
    private[StoreCommit] val written =
      scala.collection.mutable.LinkedHashSet.empty[String]
    private def mark(p: String): String = { written += p; p }

    /** `root[/family]/batch=<token>` — the token's dir in `family` (`""` =
      * the store root itself), for writers that need their own
      * `partitionBy` shape.
      */
    def dir(family: String): String =
      mark(if (family.isEmpty) root else s"$root/$family") + s"/batch=$token"

    /** Overwrite `df` as the token's batch of `family`. */
    def write(df: DataFrame, family: String = ""): Unit =
      df.write.mode("overwrite").parquet(dir(family))

    /** Overwrite the root-level sidecar `name` (`meta`, `codebooks`,
      * `centroids`): one dir for the whole store, outside the manifest.
      */
    def sidecar(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(mark(s"$root/$name"))
  }

  /** Take `root`'s [[StoreLock]], delete the root, run `body`. */
  def rebuild(spark: SparkSession, root: String)(body: => Unit): Unit =
    StoreLock.withLock(spark, root) {
      val p = new Path(root)
      val hfs = fs(spark, p)
      if (hfs.exists(p)) hfs.delete(p, true)
      body
    }

  /** Write one batch token: [[uncommit]], `body` writes every family dir
    * of the token, [[commit]], then refresh every root `body` wrote (a
    * probe earlier in this session may have listing-cached them).
    */
  def writeBatch(spark: SparkSession, root: String, token: String)(
      body: BatchWriter => Unit): Unit = {
    uncommit(spark, root, token)
    val w = new BatchWriter(root, token)
    body(w)
    commit(spark, root, token)
    w.written.foreach(spark.catalog.refreshByPath)
  }

  /** Compact `src` into a fresh single-batch store at `dst`: `body` reads
    * `src` and writes token `base` of `dst`.
    */
  def compact(spark: SparkSession, src: String, dst: String)(
      body: BatchWriter => Unit): Unit = {
    require(src != dst, "compact to a NEW path, then swap")
    rebuild(spark, dst)(writeBatch(spark, dst, "base")(body))
  }

  /** Replay-drop: remove `token`'s own (possibly half-written) batch dir
    * under `root`, marker first.
    */
  def dropBatch(spark: SparkSession, root: String, token: String): Unit = {
    uncommit(spark, root, token)
    val own = new Path(s"$root/batch=$token")
    val hfs = fs(spark, own)
    if (hfs.exists(own)) {
      hfs.delete(own, true)
      spark.catalog.refreshByPath(root)
    }
  }
}

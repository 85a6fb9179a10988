package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deduplication operators for training-data pipelines: exact (hash),
  * MinHash+LSH near-dup, SimHash, and exact n-gram-Jaccard baseline.
  *
  * Scale design (100 TB): every stage is shuffle-minimal —
  *  - signatures (minhash/simhash/fingerprint) are pure column expressions
  *    computed map-side, no UDFs, whole-stage codegen;
  *  - LSH banding shuffles only (band_key → doc_id) pairs, ~bands rows/doc;
  *  - candidate verification joins the (small) candidate-pair set back to
  *    shingle sets — never the full cross product;
  *  - the only O(n²) path is [[exactJaccardPairs]], the small-data baseline
  *    the approximate paths are validated against.
  *
  * Hash derivation is md5-based (not xxhash64) so results are reproducible
  * in any engine: base(s) = first 15 hex chars of md5 → bigint (60 bits),
  * minhash_j(s) = (a_j * (base mod 2^31) + b_j) mod (2^31 - 1).
  */
object DedupOps {

  val MersennePrime31 = 2147483647L // 2^31 - 1

  /** Deterministic per-permutation coefficients from a fixed LCG seed. */
  def hashCoeffs(numHashes: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    var x = seed
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; x }
    (0 until numHashes).map(_ => (next() % (MersennePrime31 - 1) + 1, next() % MersennePrime31))
  }

  /** 60-bit base hash of a string, engine-reproducible: numerically equal
    * to `conv(substring(md5(s),1,15),16,10)` (what the DuckDB oracle
    * computes) but via the codegen'd digest-bytes expression — no hex
    * string round-trip in the per-shingle inner loop. Callers must have a
    * session that registered graft functions (GraftSession.tune does;
    * every public DataFrame-taking operator self-registers via
    * [[ensureHashRegistered]], so plain spark-shell use works too).
    */
  def baseHash(s: Column): Column =
    call_function(graft.functions.Md5Prefix60.name, s)

  /** Register the codegen'd hash expression on the frame's session —
    * idempotent (re-registration overwrites). Mirrors
    * [[SimilarityOps]]'s ensureRegistered: operators must work from a
    * plain spark-shell with just the jar, not only under GraftSession.
    */
  private[graft] def ensureHashRegistered(df: DataFrame): Unit =
    graft.functions.Md5Prefix60.register(df.sparkSession)

  /** Per-element 31-bit base hashes of a set-of-strings column. Materialize
    * this ONCE (its own projection) before fanning out to the per-permutation
    * minhashes — md5+conv per shingle is the expensive part and must not be
    * duplicated into every permutation's expression tree.
    */
  def baseHashes(set: Column): Column =
    transform(set, s => pmod(baseHash(s), lit(1L << 31)))

  /** Exact duplicate mapping: every row keyed to the min id sharing its
    * content fingerprint. Rows with canonical_id != id are exact dups.
    */
  def exactDedupMap(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextOps.fingerprint(col(textCol))
    df.select(col(idCol), fp.as("fp"))
      .withColumn("canonical_id", min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .select(col(idCol), col("fp").as("fingerprint"), col("canonical_id"))
  }

  /** URL-keyed exact dedup — [[exactDedupMap]] keyed on the CANONICAL URL
    * ([[TextOps.canonicalizeUrl]]) instead of the content fingerprint: the
    * cheapest dedup cut of a pretraining pipeline (RefinedWeb runs it
    * before any content pass — same page recrawled under scheme/www/
    * tracking-param variations never reaches content hashing). Same scale
    * shape: one map-side canonicalization, one partial-agg window min per
    * canonical key; rows with canonical_id != id are URL-duplicates.
    */
  def urlDedupMap(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), TextOps.canonicalizeUrl(col(urlCol)).as("canon_url"))
      .withColumn("canonical_id", min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("canon_url")))
      .select(col(idCol), col("canon_url"), col("canonical_id"))

  /** Probe key sets bigger than this stop broadcasting into the store
    * prune and degrade to a shuffled hash semi join (see [[probePrune]]).
    * Sizing: 32M long keys ≈ 256 MB serialized — a heavy but deliberate
    * broadcast ceiling, because the alternative the fallback buys is a
    * full shuffle of the STORE scan (the 100 TB side); only a backfill-
    * scale probe should cross it. Distinct keys <= the bound each caller
    * computes (rows, rows × fan-out, or an exact count of a frame it was
    * about to persist anyway).
    */
  val BroadcastProbeRows = 32000000L

  /** Candidate-id sets at or below this size are pushed to store scans as
    * a static `In` filter (parquet row-group pruning on the range-sorted
    * batch layout) instead of a semi join; larger sets fall back to the
    * join. Sized for planning cost, not memory — 10k literals is where
    * filter construction starts to show.
    */
  val IsinPushdownMax = 10000

  /** [[connectedComponents]] auto-disables `freezeStars` below this many
    * initial (canonical, distinct) edges: the freeze variant pays one
    * extra eager checkpoint + one label-bank persist per round, which on
    * a graph whose rounds are scheduling-floor-bound (not compute-bound)
    * roughly DOUBLES the per-round cost while retiring work that was
    * already free. Above it, retiring finished stars is what keeps the
    * skewed tail from dragging the full edge set through O(log² chain)
    * late rounds (the 100M-edge smoke's 2× win). Output is identical on
    * both paths by construction; the threshold only picks which one runs.
    */
  val FreezeMinEdges = 1000000L

  /** The store-probe prune shared by every persisted-store probe: the
    * probe batch's distinct key set cuts store rows MAP-SIDE via broadcast
    * semi join — the right plan when the batch is a day's crawl against a
    * 100 TB store (store cost ∝ matches, zero store shuffle). But probe
    * size is caller data: a backfill can replay months in one "batch", and
    * an unguarded broadcast of a giant key set is a driver OOM. Guarded
    * like [[CurationOps.ngramOverlap]]'s chars bound: above
    * `maxBroadcastRows` (a cheap row-count upper bound on distinct keys,
    * computed by the caller) the prune degrades to a shuffled hash semi
    * join — identical semantics, the store pays one shuffle instead of
    * zero, nothing is collected. shuffle_hash (not sort-merge) because the
    * key-set side stays far smaller than the store even when it does not
    * broadcast.
    */
  private[graft] def probePrune(store: DataFrame, keys: DataFrame,
      keyCols: Seq[String], probeRows: Long,
      maxBroadcastRows: Long = BroadcastProbeRows): DataFrame =
    if (probeRows <= maxBroadcastRows)
      store.join(broadcast(keys), keyCols, "left_semi")
    else
      store.join(keys.hint("shuffle_hash"), keyCols, "left_semi")

  // ---- persisted exact-dedup fingerprint store ----------------------------

  /** Build a persisted EXACT-dedup fingerprint store at `path` — the
    * content-hash side of incremental exact dedup, mirroring
    * [[buildMinhashStore]]'s layout (`path/batch=<token>` dirs of
    * `(id, fp)` rows). At 100 TB most duplication is byte-identical
    * (mirrors, re-crawls, CDN copies), and an fp equi-join probe is orders
    * of magnitude cheaper than the minhash path — production pipelines run
    * THIS store against every new batch first and reserve near-dup
    * machinery for what survives. The corpus-side md5 pass runs once, here.
    */
  def buildFingerprintStore(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit = graft.StoreCommit.rebuild(df.sparkSession, path) {
    appendFingerprintStore(df, idCol, textCol, path, "base")
  }

  /** Write one batch's fingerprints into the store as `path/batch=<token>`
    * (call AFTER probing with [[incrementalExactDedup]]; ids must be new to
    * the store). Same replay contract as [[appendMinhashStore]]: re-running
    * with the SAME token overwrites that dir rather than duplicating rows.
    */
  def appendFingerprintStore(df: DataFrame, idCol: String, textCol: String,
      path: String,
      batchToken: String = java.util.UUID.randomUUID.toString): Unit =
    graft.StoreLock.withLock(df.sparkSession, path) {
      writeStoreBatch(
        df.select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp")),
        path, batchToken)
    }

  /** [[exactDedupMap]] of a NEW batch against a persisted fingerprint store:
    * each new row keyed to the min id sharing its fingerprint across
    * store ∪ batch (a store hit canonicalizes to the stored id; a
    * batch-only dup group to its min batch id). Output restricted to the
    * new ids; new ids must be disjoint from stored ids.
    *
    * Scale: the batch's fps are map-side md5; the store is scanned
    * `(id, fp)`-only, and only rows whose fp appears in the probe batch
    * survive to the shuffle — [[probePrune]]'s guarded map-side cut (the
    * same prune shape as [[incrementalPairsFromSigs]]'s bucket semi-join:
    * probe batches are normally small next to the corpus, and a backfill-
    * sized batch degrades to a shuffled semi join instead of a giant
    * broadcast). The canonical min then aggregates the pruned union with
    * map-side partial min absorbing hot fingerprints — probe cost ∝
    * batch + matches, not corpus.
    */
  def incrementalExactDedup(newDocs: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame = {
    val probeRows = newDocs.count()
    val fresh = newDocs.select(col(idCol).as("id"),
      TextOps.fingerprint(col(textCol)).as("fp"))
    val old = graft.StoreCommit.read(newDocs.sparkSession, path).select(col("id"), col("fp"))
    val oldPruned = probePrune(old, fresh.select(col("fp")).distinct(),
      Seq("fp"), probeRows)
    val canon = fresh.unionByName(oldPruned)
      .groupBy(col("fp")).agg(min(col("id")).as("canonical_id"))
    fresh.join(canon, Seq("fp"))
      .select(col("id").as(idCol), col("fp").as("fingerprint"),
        col("canonical_id"))
  }

  // ---- Bloom-filter-accelerated store probe -------------------------------

  private def storeBatchTokens(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] =
    // COMMITTED tokens only: the bloom staleness contract and the sketch
    // builders must agree with the probes' committed-read view — an
    // uncommitted (mid-append) batch dir is not part of the store yet
    graft.StoreCommit.visibleTokens(spark, path)

  /** Build (or rebuild) a Bloom sketch over every fingerprint in the store
    * at `path`, persisted to `path/_bloom/` (the `_` prefix keeps Spark's
    * parquet discovery of the store itself blind to it). The sketch is
    * sized from the store's exact row count at the requested `fpp`; the
    * batch tokens it covers are recorded beside it so a probe can detect
    * staleness — a bloom missing later appends would produce FALSE
    * NEGATIVES, i.e. silently missed duplicates, so [[bloomProbeExactDedup]]
    * refuses to run against a store whose batch set has drifted.
    *
    * Scale: the sketch build is one distributed aggregate over the store
    * (map-side partial sketches, merged on the driver). Memory is the
    * fpp dial: 1e9 fingerprints at fpp=0.01 is ~1.1 GiB — fine to
    * broadcast once per probe wave; at 1e10 keys raise fpp or shard the
    * store and hold one bloom per shard.
    */
  def buildFingerprintBloom(spark: org.apache.spark.sql.SparkSession,
      path: String, fpp: Double = 0.01): Unit =
      graft.StoreLock.withLock(spark, path) {
    val tokens = storeBatchTokens(spark, path)
    require(tokens.nonEmpty, s"buildFingerprintBloom: no batch dirs under $path")
    val fps = graft.StoreCommit.read(spark, path).select(col("fp"))
    val n = math.max(1L, fps.count())
    val bloom = fps.stat.bloomFilter("fp", n, fpp)
    val dir = new org.apache.hadoop.fs.Path(s"$path/_bloom")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "sketch.bin"))
    try bloom.writeTo(out) finally out.close()
    val meta = fs.create(new org.apache.hadoop.fs.Path(dir, "batches.txt"))
    try meta.write((tokens.mkString("\n") + s"\n#n=$n fpp=$fpp\n")
      .getBytes("UTF-8")) finally meta.close()
  }

  /** [[buildFingerprintBloom]]'s scale successor: one Bloom sketch per
    * fingerprint shard (`shard = pmod(xxhash64(fp), shards)`), persisted
    * under `path/_bloomshards/shard=<s>/sketch.bin`. A single sketch at
    * 1e9 keys / 1% fpp is ~1.1 GiB — broadcastable once, painful; past
    * that the broadcast dies. Sharding caps PROBE memory at one shard's
    * sketch per task instead: [[shardedBloomProbeExactDedup]] repartitions
    * the batch by shard and each partition lazily loads only the sketches
    * it actually meets from storage — no broadcast at any size.
    *
    * Build cost: ONE data scan of the store regardless of shard count —
    * the fingerprints repartition on the shard key and every partition
    * builds the sketches for the shard ids it holds locally, writing each
    * finished sketch to storage from the task (sketch insertion is a
    * bitwise OR, so a task retry rewrites byte-identical content). Sizing
    * comes from one `count_distinct(fp)` pass spread uniformly across
    * shards — xxhash64 distributes DISTINCT fingerprints evenly (duplicate
    * fps all land in one shard, so a plain row count would undersize hot
    * shards on heavily-duplicated stores), and 25% headroom keeps the
    * realized fpp at or under the dial on mildly uneven shards. The earlier shape (one
    * `stat.bloomFilter` job per shard, `shards + 1` scans) re-read the
    * whole store per shard at 64+ shards; partition-local builds pay the
    * sketch memory (a few shards' bit arrays per task) instead, which is
    * exactly the probe-side per-task budget. Same staleness contract as
    * the single sketch: covered batch tokens are recorded (LAST, as the
    * commit marker — probes require `batches.txt`) and drifted stores
    * refuse to probe.
    */
  def buildShardedFingerprintBloom(spark: org.apache.spark.sql.SparkSession,
      path: String, shards: Int = 16, fpp: Double = 0.01): Unit =
      graft.StoreLock.withLock(spark, path) {
    require(shards > 0, s"shards must be positive, got $shards")
    val tokens = storeBatchTokens(spark, path)
    require(tokens.nonEmpty, s"buildShardedFingerprintBloom: no batch dirs under $path")
    val dir = new org.apache.hadoop.fs.Path(s"$path/_bloomshards")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    // size from DISTINCT fingerprints, not rows: duplicate fps concentrate
    // in ONE shard (the shard key is a function of the fp), so a row count
    // overstates evenly-spread inserts and understates the hot shard —
    // a heavily-duplicated store could realize fpp above the dial. Distinct
    // counting costs a column read instead of a footer probe; it's the
    // one-time build, not the probe path. Exactness never depends on this
    // (the store-confirm join filters bloom false positives) — fpp is probe
    // cost only, but the dial should mean what it says.
    val total = graft.StoreCommit.read(spark, path)
      .agg(count_distinct(col("fp"))).head().getLong(0)
    val perShard = math.max(1L, math.ceil(total * 1.25 / shards).toLong)
    val shardDir = s"$path/_bloomshards"
    val confB = spark.sparkContext.broadcast(
      new graft.HadoopConfSer(spark.sparkContext.hadoopConfiguration))
    import spark.implicits._
    val written = graft.StoreCommit.read(spark, path)
      .select(col("fp"), pmod(xxhash64(col("fp")), lit(shards.toLong)).as("__s"))
      .repartition(shards, col("__s"))
      .as[(String, Long)]
      .mapPartitions { rows =>
        val sketches = scala.collection.mutable.Map[
          Long, org.apache.spark.util.sketch.BloomFilter]()
        rows.foreach { case (fp, s) =>
          if (fp != null) sketches.getOrElseUpdate(s,
            org.apache.spark.util.sketch.BloomFilter.create(perShard, fpp))
            .putString(fp)
        }
        val hfs = new org.apache.hadoop.fs.Path(shardDir)
          .getFileSystem(confB.value.value)
        sketches.iterator.map { case (s, bloom) =>
          // attempt-isolated write: a speculative/zombie duplicate attempt
          // must never interleave bytes into the final file — each attempt
          // writes its own temp and renames whole. Rename onto an existing
          // file OVERWRITES on posix-backed filesystems (rename(2)
          // semantics via RawLocalFileSystem), so a late attempt CAN
          // replace the winner's file — harmless by CONTENT, not by
          // exclusivity: insertion is an order-independent bitwise OR over
          // the same rows, so every attempt's sketch is byte-identical
          val fin = new org.apache.hadoop.fs.Path(s"$shardDir/shard=$s/sketch.bin")
          val tmp = new org.apache.hadoop.fs.Path(
            s"$shardDir/shard=$s/.sketch.${java.util.UUID.randomUUID()}.tmp")
          val out = hfs.create(tmp, true)
          try bloom.writeTo(out) finally out.close()
          if (!scala.util.Try(hfs.rename(tmp, fin)).getOrElse(false))
            scala.util.Try(hfs.delete(tmp, false))
          s
        }
      }.collect().toSet
    // shards with zero stored fingerprints still need a sketch file: the
    // probe's lazy loader opens exactly the files the batch's shard keys
    // hit, and an absent file would fail the open rather than read "empty"
    (0L until shards).filterNot(written).foreach { s =>
      val empty = org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, s"shard=$s/sketch.bin"))
      try empty.writeTo(out) finally out.close()
    }
    val meta = fs.create(new org.apache.hadoop.fs.Path(dir, "batches.txt"))
    try meta.write((tokens.mkString("\n") + s"\n#shards=$shards fpp=$fpp\n")
      .getBytes("UTF-8")) finally meta.close()
  }

  /** [[bloomProbeExactDedup]] against the SHARDED sketches — identical
    * output, no broadcast: the batch's (fp, shard) pairs repartition on
    * the shard key and each partition filters through sketches it loads
    * lazily from storage (usually exactly one), so task memory is one
    * shard's sketch regardless of total store size. The surviving
    * bloom-positive fingerprints drive the same exact store-confirm join.
    * The per-partition loader opens sketch files through a BROADCAST copy
    * of the driver's Hadoop configuration ([[graft.HadoopConfSer]]) —
    * injected `spark.hadoop.*` credentials and filesystem impls resolve
    * on executors exactly as they do for the store itself.
    */
  def shardedBloomProbeExactDedup(newDocs: DataFrame, idCol: String,
      textCol: String, path: String): DataFrame = {
    val spark = newDocs.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$path/_bloomshards")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(dir, "batches.txt")),
      s"shardedBloomProbeExactDedup: no sharded sketches at $path/_bloomshards " +
        "— run buildShardedFingerprintBloom first")
    val metaIn = fs.open(new org.apache.hadoop.fs.Path(dir, "batches.txt"))
    val lines = try scala.io.Source.fromInputStream(metaIn, "UTF-8")
      .getLines().toList finally metaIn.close()
    val recorded = lines.filterNot(_.startsWith("#")).filter(_.nonEmpty)
    val shards = lines.find(_.startsWith("#shards=")).map(
      _.stripPrefix("#shards=").takeWhile(_.isDigit).toInt).getOrElse(
      throw new IllegalStateException("sharded bloom meta missing #shards="))
    val current = storeBatchTokens(spark, path)
    require(recorded == current,
      s"shardedBloomProbeExactDedup: sketches are STALE — built over batches " +
        s"[${recorded.mkString(", ")}] but the store has " +
        s"[${current.mkString(", ")}]; rebuild with buildShardedFingerprintBloom")
    val shardDir = s"$path/_bloomshards"

    import spark.implicits._
    val fresh = newDocs.select(col(idCol).as("id"),
      TextOps.fingerprint(col(textCol)).as("fp"))
    val confB = spark.sparkContext.broadcast(
      new graft.HadoopConfSer(spark.sparkContext.hadoopConfiguration))
    val positives = fresh
      .select(col("fp"), pmod(xxhash64(col("fp")), lit(shards.toLong)).as("__s"))
      .distinct()
      .repartition(col("__s"))
      .as[(String, Long)]
      .mapPartitions { rows =>
        val loaded = scala.collection.mutable.Map[Long, org.apache.spark.util.sketch.BloomFilter]()
        def sketch(s: Long) = loaded.getOrElseUpdate(s, {
          val p = new org.apache.hadoop.fs.Path(s"$shardDir/shard=$s/sketch.bin")
          val in = p.getFileSystem(confB.value.value).open(p)
          try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
        })
        rows.collect { case (fp, s) if fp != null && sketch(s).mightContainString(fp) => fp }
      }.toDF("fp")
    // persisted: the count below AND the confirm join both consume the
    // mapPartitions pass; without the pin each would reload sketches
    val posCached = graft.CacheScope.persist(positives)
    val nPos = posCached.count()
    val old = graft.StoreCommit.read(spark, path).select(col("id"), col("fp"))
    val oldPruned = probePrune(old, posCached, Seq("fp"), nPos)
    val canon = fresh.unionByName(oldPruned)
      .groupBy(col("fp")).agg(min(col("id")).as("canonical_id"))
    fresh.join(canon, Seq("fp"))
      .select(col("id").as(idCol), col("fp").as("fingerprint"),
        col("canonical_id"))
  }

  /** [[incrementalExactDedup]] behind a broadcast Bloom pre-filter — same
    * output, reversed cost direction. The plain probe broadcasts the
    * BATCH's fingerprints into the store scan, which is the right shape
    * for small batches; a backfill-sized batch degrades it to a shuffled
    * semi join of the full store against the full batch. Here the
    * store's persisted sketch ([[buildFingerprintBloom]]) broadcasts
    * instead: every batch row checks membership map-side, and only the
    * bloom-POSITIVE fingerprints (true store hits + the fpp sliver) drive
    * the store-confirm semi join — shuffle volume ∝ duplicate candidates,
    * not batch size. Bloom false positives cost only confirm work; false
    * negatives cannot occur against the recorded batch set (probes against
    * a drifted store throw — see [[buildFingerprintBloom]]). The exact
    * confirm join makes the result identical to [[incrementalExactDedup]]:
    * each new row keyed to the min id sharing its fingerprint across
    * store ∪ batch.
    *
    * The membership test is a scala UDF over the broadcast sketch — one
    * non-codegen boolean in a map stage, paid to delete a store-sized
    * shuffle; new ids must be disjoint from stored ids (same contract as
    * the plain probe).
    */
  def bloomProbeExactDedup(newDocs: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame = {
    val spark = newDocs.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$path/_bloom")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sketchPath = new org.apache.hadoop.fs.Path(dir, "sketch.bin")
    require(fs.exists(sketchPath),
      s"bloomProbeExactDedup: no sketch at $path/_bloom — run buildFingerprintBloom first")
    val metaIn = fs.open(new org.apache.hadoop.fs.Path(dir, "batches.txt"))
    val recorded = try scala.io.Source.fromInputStream(metaIn, "UTF-8")
      .getLines().filterNot(_.startsWith("#")).filter(_.nonEmpty).toList
    finally metaIn.close()
    val current = storeBatchTokens(spark, path)
    require(recorded == current,
      s"bloomProbeExactDedup: bloom is STALE — built over batches " +
        s"[${recorded.mkString(", ")}] but the store has " +
        s"[${current.mkString(", ")}]; rebuild with buildFingerprintBloom " +
        "(a stale bloom risks false negatives = silently missed duplicates)")
    val in = fs.open(sketchPath)
    val bloom = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
    finally in.close()
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: String) => fp != null && bc.value.mightContainString(fp))

    val fresh = newDocs.select(col(idCol).as("id"),
      TextOps.fingerprint(col(textCol)).as("fp"))
    val positives = fresh.where(mightContain(col("fp")))
      .select(col("fp")).distinct()
    val nPos = positives.count()
    val old = graft.StoreCommit.read(spark, path).select(col("id"), col("fp"))
    val oldPruned = probePrune(old, positives, Seq("fp"), nPos)
    val canon = fresh.unionByName(oldPruned)
      .groupBy(col("fp")).agg(min(col("id")).as("canonical_id"))
    fresh.join(canon, Seq("fp"))
      .select(col("id").as(idCol), col("fp").as("fingerprint"),
        col("canonical_id"))
  }

  /** C4-style LINE-level exact dedup across the whole corpus (Raffel 2020
    * §2.2 "we discard ... any line that occurred more than once", kept at
    * its first occurrence): every line keeps exactly one copy corpus-wide —
    * the occurrence with the lexicographically smallest (id, position) —
    * and each document is rebuilt from its surviving lines in order.
    * Boilerplate (nav bars, cookie banners, license headers) dies here
    * while the documents around it survive, which doc-level dedup cannot
    * express. Returns (idCol, textCol) for EVERY input doc; a doc whose
    * lines all lost becomes the empty string (null text is treated as "").
    *
    * Scale: one shuffle of (line, id, pos) rows keyed by line content — the
    * canonical-occurrence aggregate and the membership join reuse the same
    * partitioning, and the map-side partial min() absorbs hot lines (the
    * duplicated ones — the point of the operator) before the exchange —
    * then one id-keyed shuffle to reassemble documents. No window over line
    * content: an unbounded window would buffer a hot line's whole
    * occurrence list per task.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(delim))))
      .select(col(idCol), col("pos").as("__idx"), col("col").as("__line"))
    val canon = lines.groupBy(col("__line"))
      .agg(min(struct(col(idCol), col("__idx"))).as("__first"))
    val kept = lines.join(canon, Seq("__line"))
      .where(col("__first").getField(idCol) === col(idCol) &&
        col("__first").getField("__idx") === col("__idx"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__idx"), col("__line")))),
        s => s.getField("__line")), delim).as(textCol))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** Corpus-frequency BOILERPLATE line removal — the C4/RefinedWeb "drop
    * lines repeated too often anywhere in the corpus" rule (nav menus,
    * cookie banners, licence headers). Distinct from [[dedupLines]],
    * which KEEPS the canonical first copy: right for duplicated content,
    * wrong for boilerplate, which should vanish from every document.
    * Every line whose corpus-wide occurrence count >= `minCount` is
    * stripped from ALL docs. Output: `(idCol, textCol, n_cut_lines)` for
    * every input doc (unchanged docs come back with 0).
    *
    * Scale: one shuffle of (line, id, pos) rows on line content with the
    * count aggregate map-side combinable (hot boilerplate lines — the
    * point — collapse before the exchange), then one id-keyed shuffle to
    * reassemble. For build-once/probe-many, persist the census with
    * [[buildLineStore]] and strip batches via
    * [[removeFrequentLinesStored]].
    */
  def removeFrequentLines(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 2, delim: String = "\n"): DataFrame = {
    require(minCount >= 2, "minCount must be >= 2 (1 would strip every line)")
    val lines = lineRows(df, idCol, textCol, delim)
    val counts = lines.groupBy(col("__line")).agg(count(lit(1)).as("__c"))
    rebuildKept(df, idCol, textCol, delim,
      lines.join(counts, Seq("__line")).where(col("__c") < minCount))
  }

  private def lineRows(df: DataFrame, idCol: String, textCol: String,
      delim: String): DataFrame =
    df.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(delim))))
      .select(col(idCol), col("pos").as("__idx"), col("col").as("__line"))

  private def rebuildKept(df: DataFrame, idCol: String, textCol: String,
      delim: String, kept: DataFrame): DataFrame = {
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__idx"), col("__line")))),
        s => s.getField("__line")), delim).as(textCol),
        count(lit(1)).as("__kept"))
    df.select(col(idCol),
        size(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(delim))).cast("long").as("__all"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol),
        (col("__all") - coalesce(col("__kept"), lit(0L)))
          .cast("bigint").as("n_cut_lines"))
  }

  /** Build (overwrite) a persisted LINE-FREQUENCY census at `path` —
    * `(h, c)` rows per batch (h = the engine-reproducible 60-bit line
    * hash, c = that batch's occurrence count), additive across
    * disjoint-doc batches. The census side of
    * [[removeFrequentLinesStored]]: the corpus-wide line count pass runs
    * at ingest, and every new batch is stripped against it without
    * re-scanning any stored text.
    */
  def buildLineStore(df: DataFrame, idCol: String, textCol: String,
      path: String, delim: String = "\n"): Unit =
      graft.StoreCommit.rebuild(df.sparkSession, path) {
    appendLineStore(df, idCol, textCol, path, delim, "base")
  }

  /** Append one batch of NEW docs' line counts (docs disjoint from prior
    * batches); same-token re-runs overwrite rather than double-count. */
  def appendLineStore(df: DataFrame, idCol: String, textCol: String,
      path: String, delim: String = "\n",
      batchToken: String = java.util.UUID.randomUUID.toString): Unit =
      graft.StoreLock.withLock(df.sparkSession, path) {
    ensureHashRegistered(df)
    writeStoreBatch(
      lineRows(df, idCol, textCol, delim)
        .groupBy(baseHash(col("__line")).as("h"))
        .agg(count(lit(1)).as("c")),
      path, batchToken)
  }

  /** Compact a many-batch line census into one `batch=base` dir at
    * `dstPath`. NOT [[compactIdStore]] — census batches intentionally
    * overlap on the line hash (counts are additive), so compaction must
    * SUM per hash first, mirroring [[compactClusterStore]]'s
    * resolve-before-rewrite rule. Same crash-safe
    * rebuild-dst-then-swap contract as the other compactors.
    */
  def compactLineStore(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit =
    graft.StoreCommit.compact(spark, srcPath, dstPath)(_.write(
      graft.StoreCommit.read(spark, srcPath)
        .groupBy(col("h")).agg(sum(col("c")).as("c"))))

  /** [[removeFrequentLines]] against a persisted census: batch lines are
    * stripped when the STORE's summed occurrence count for their hash
    * reaches `minCount` — census-based filtering, so the decision depends
    * only on the corpus the store has seen (append the batch itself first
    * if it should count). Store rows prune map-side by the batch's
    * broadcast line-hash set before the per-hash sum; cost ∝ batch +
    * matched census rows, never the corpus.
    */
  def removeFrequentLinesStored(df: DataFrame, idCol: String, textCol: String,
      path: String, minCount: Long = 2, delim: String = "\n"): DataFrame =
    removeFrequentLinesStoredExcluding(df, idCol, textCol, path, minCount,
      delim, None)

  /** [[removeFrequentLinesStored]] with a replayed micro-batch's own prior
    * census dir excluded — the streaming wrapper's exactly-once hook: a
    * crash between the census append and the checkpoint commit must not
    * let the batch's own counts strip it on replay. */
  def removeFrequentLinesStoredExcluding(df: DataFrame, idCol: String,
      textCol: String, path: String, minCount: Long, delim: String,
      excludeBatch: Option[String]): DataFrame = {
    require(minCount >= 2, "minCount must be >= 2 (1 would strip every line)")
    ensureHashRegistered(df)
    val spark = df.sparkSession
    val lines = graft.CacheScope.persist(
      lineRows(df, idCol, textCol, delim)
        .withColumn("__h", baseHash(col("__line"))))
    val probeRows = lines.count()
    // a census that does not exist yet reads as empty (cold-start contract
    // for the streaming wrapper: the first batch strips nothing)
    val cp = new org.apache.hadoop.fs.Path(path)
    val census =
      if (cp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cp)) {
        val c = graft.StoreCommit.read(spark, path)
        excludeBatch.fold(c)(t => c.where(col("batch") =!= t))
          .select(col("h").as("__h"), col("c"))
      } else lines.limit(0).select(col("__h"), lit(0L).as("c"))
    val counts = probePrune(census,
        lines.select(col("__h")).distinct(), Seq("__h"), probeRows)
      .groupBy(col("__h")).agg(sum(col("c")).as("__c"))
    rebuildKept(df, idCol, textCol, delim,
      lines.join(counts, Seq("__h"), "left")
        .where(coalesce(col("__c"), lit(0L)) < minCount))
  }

  // ---- exact substring (duplicated-window) dedup --------------------------

  /** Duplicated k-token-window positions with canonicality — the shared
    * first stage of [[duplicateSpans]] and [[dropDuplicateSpans]] (exact
    * substring dedup in the sense of Lee et al. 2021, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better", ExactSubstr:
    * any token run of length >= k repeated anywhere in the corpus is,
    * position-wise, a chain of duplicated k-windows, so k-window detection
    * finds exactly the repeated runs of >= k tokens — the reference's
    * suffix-array machinery re-expressed as one relational pass).
    *
    * Rows: (id, p, __first) for every window position whose CONTENT occurs
    * more than once corpus-wide (including twice within one doc —
    * self-repetition is redundancy too); `__first` = the lexicographically
    * smallest (id, p) occurrence of that content, the copy
    * [[dropDuplicateSpans]] keeps.
    *
    * Scale shape: window content is packed map-side to the 60-bit
    * engine-reproducible md5-prefix hash (shuffle rows are (id, p, long) —
    * never the window string), and duplicate detection + canonical-min ride
    * ONE window over the content hash: at corpus scale nearly every window
    * content is a singleton, so a groupBy would build an aggregation map
    * with one entry per corpus position ([[packedCandidatePairs]] measured
    * that shape losing to the sorted window), while the sort streams
    * singletons through; hot contents (boilerplate) spill their occurrence
    * runs rather than OOM. A 60-bit collision can only MERGE two window
    * contents (a false duplicate flag on ~n²·2⁻⁶⁰ positions) — the DuckDB
    * oracle computes the same hash, so gates agree by construction.
    */
  /** (id, p, h) hashed window positions — shared by the batch detector and
    * the persisted-store paths, so batch==incremental semantics cannot
    * drift.
    */
  private def windowHashRows(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "window length k must be >= 1")
    ensureHashRegistered(df)
    // the lead-window builder wins at EVERY measured k — 100k×120-token
    // docs: 2.4 s vs the array transform's 9.8 s even at the ExactSubstr-
    // realistic k = 50 (49 chained leads stay codegen'd; the array path
    // runs interpreted per element). k = 1 alone takes the array path:
    // the window shape needs >= 1 lead column to anchor its full-window
    // filter.
    val rows =
      if (k > 1) TextOps.shingleRows(df, idCol, textCol, k)
      else TextOps.shinglePosRows(df, idCol, textCol, k)
    rows.select(col("id"), col("p"), baseHash(col("s")).as("h"))
  }

  private def duplicatedWindows(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = windowHashRows(df, idCol, textCol, k)
    val w = Window.partitionBy(col("h"))
    hashed
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__first", min(struct(col("id"), col("p"))).over(w))
      .where(col("__n") > 1)
      .select(col("id"), col("p"), col("__first"))
  }

  // ---- persisted window-hash store (incremental ExactSubstr) --------------

  /** Build a persisted WINDOW-HASH store at `path` — the substring-dedup
    * member of the store family (minhash / fingerprint / postings /
    * window): one row per DISTINCT window content in the batch —
    * `(h, id, p)` with (id, p) the content's canonical (smallest)
    * occurrence — in hive `batch=` dirs with the usual per-token atomic
    * overwrite replay contract. At 100 TB the corpus-side window hashing
    * runs once, here; every future crawl batch probes via
    * [[incrementalDuplicateSpans]] / [[incrementalDropDuplicateSpans]].
    */
  def buildWindowStore(df: DataFrame, idCol: String, textCol: String,
      path: String, k: Int = 4): Unit =
      graft.StoreCommit.rebuild(df.sparkSession, path) {
    appendWindowStore(df, idCol, textCol, path, k, "base")
  }

  /** Write one batch's distinct window hashes (+ batch-canonical
    * occurrence) into the store as `path/batch=<token>`. Ids must be new
    * to the store; replaying the same token overwrites its dir.
    */
  def appendWindowStore(df: DataFrame, idCol: String, textCol: String,
      path: String, k: Int = 4,
      batchToken: String = java.util.UUID.randomUUID.toString): Unit =
      graft.StoreLock.withLock(df.sparkSession, path) {
    writeStoreBatch(firstOccurrences(windowHashRows(df, idCol, textCol, k)),
      path, batchToken)
  }

  /** One `(h, id, p)` row per distinct window content, (id, p) its least
    * occurrence — the store row shape, folded the same way by appends and
    * compaction.
    */
  private def firstOccurrences(rows: DataFrame): DataFrame =
    rows.groupBy(col("h"))
      .agg(min(struct(col("id"), col("p"))).as("__first"))
      .select(col("h"), col("__first").getField("id").as("id"),
        col("__first").getField("p").as("p"))

  /** Compact a many-batch window store (a long-running incremental tail
    * appends one `batch=` dir per micro-batch) into a fresh single-batch
    * store at `dstPath`: one row per distinct window content with the
    * STORE-GLOBAL canonical (smallest (id, p)) occurrence — exactly the
    * per-h fold every probe pays over the batch dirs on each read
    * ([[incrementalDuplicatedWindows]]), so probes against the compacted
    * store return byte-identical results with that fold pre-paid and the
    * per-micro-batch small files gone. Crash-safe by the
    * [[SearchOps.compactPostingsIndex]] contract: dst is rebuilt from
    * scratch and the caller swaps paths when complete — NEVER in place
    * (an interrupted compaction leaves only a partial dst to overwrite,
    * never a half-deleted src).
    */
  def compactWindowStore(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit =
    graft.StoreCommit.compact(spark, srcPath, dstPath)(_.write(firstOccurrences(
      graft.StoreCommit.read(spark, srcPath).select(col("h"), col("id"), col("p")))))

  /** Compact a many-batch per-id store (minhash [[buildMinhashStore]] or
    * fingerprint [[buildFingerprintStore]] layout — rows are per-id and
    * ids are disjoint across batches, so compaction is a pure rewrite of
    * the union into one `batch=base` dir; no fold exists to pre-pay, the
    * win is collapsing thousands of micro-batch dirs' listing + small
    * files). Same crash-safe rebuild-dst-then-swap contract as
    * [[compactWindowStore]].
    */
  def compactIdStore(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit =
    graft.StoreCommit.compact(spark, srcPath, dstPath)(
      _.write(graft.StoreCommit.read(spark, srcPath).drop("batch")))

  /** Duplicated windows of a NEW batch against the store ∪ the batch
    * itself: (id, p, __first) where __first is the GLOBAL canonical
    * occurrence (the least (id, p) across store batches and this batch).
    * Output restricted to batch rows. Probing + then
    * [[appendWindowStore]]-ing the same batch keeps the invariant that
    * the result equals the one-shot batch computation over store ∪ batch
    * restricted to the new ids (spec-pinned).
    *
    * Scale: the store is scanned (h, id, p)-only and pruned map-side by
    * the probe's distinct-hash set BEFORE its fold and the join
    * ([[probePrune]]'s guarded cut — small batches broadcast, backfill-
    * sized batches degrade to a shuffled semi join); batch-internal
    * duplicate detection rides the same one content-hash window as the
    * batch path.
    */
  private def incrementalDuplicatedWindows(newDocs: DataFrame, idCol: String,
      textCol: String, path: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the probe's window rows feed two consumers (the batch window pass
    // and the prune's distinct-hash set) — persist once, and the count
    // that materializes the cache doubles as the exact row bound for the
    // broadcast guard (distinct hashes <= window rows)
    val hashed = graft.CacheScope.persist(
      windowHashRows(newDocs, idCol, textCol, k))
    val probeWindows = hashed.count()
    val store = graft.StoreCommit.read(newDocs.sparkSession, path)
      .select(col("h"), col("id"), col("p"))
    // map-side prune, then fold per-batch canonicals to the store-wide min
    val storePruned = probePrune(store, hashed.select(col("h")).distinct(),
        Seq("h"), probeWindows)
      .groupBy(col("h"))
      .agg(min(struct(col("id"), col("p"))).as("__sfirst"))
    val w = Window.partitionBy(col("h"))
    hashed
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__bfirst", min(struct(col("id"), col("p"))).over(w))
      .join(storePruned, Seq("h"), "left")
      .where(col("__n") > 1 || col("__sfirst").isNotNull)
      // least() skips nulls: batch-only contents take the batch canonical
      .select(col("id"), col("p"),
        least(col("__sfirst"), col("__bfirst")).as("__first"))
  }

  /** [[duplicateSpans]] of a NEW batch against a persisted window store:
    * maximal spans over windows whose content occurs in the store OR
    * more than once in the batch. Equals the one-shot whole-corpus spans
    * restricted to the batch ids (new ids disjoint from stored ids).
    */
  def incrementalDuplicateSpans(newDocs: DataFrame, idCol: String,
      textCol: String, path: String, k: Int = 4): DataFrame =
    mergeWindowSpans(
      incrementalDuplicatedWindows(newDocs, idCol, textCol, path, k), k)
      .withColumnRenamed("id", idCol)

  /** [[dropDuplicateSpans]] of a NEW batch against a persisted window
    * store: a batch window survives only as the GLOBAL canonical
    * occurrence of its content — store hits always cut (the store
    * precedes the batch); batch-only duplicates keep their batch-minimal
    * copy. Equals the whole-corpus cut restricted to the batch ids.
    */
  def incrementalDropDuplicateSpans(newDocs: DataFrame, idCol: String,
      textCol: String, path: String, k: Int = 4): DataFrame =
    cutNonCanonical(newDocs, idCol, textCol,
      incrementalDuplicatedWindows(newDocs, idCol, textCol, path, k), k)

  /** Maximal duplicated spans per document: overlapping or contiguous
    * duplicated k-windows ([p, p+k) token intervals; sorted by p, two
    * windows merge while p - prev_p <= k) coalesce into
    * (idCol, span_from, span_to, n_windows) with [span_from, span_to) the
    * 0-based token span. Every span is a token run of >= k tokens each of
    * whose k-windows occurs >= 2 times corpus-wide — the unit ExactSubstr
    * dedup reasons about, and the direct input to coverage accounting
    * ([[duplicateSpanStats]]) and span cutting ([[dropDuplicateSpans]]).
    *
    * Scale: [[duplicatedWindows]]' one content-hash shuffle, then the merge
    * shuffles the (small) duplicated subset once on the doc id; a doc's
    * duplicated positions (<= its token count) stream through one task's
    * sorted window.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4): DataFrame =
    mergeWindowSpans(duplicatedWindows(df, idCol, textCol, k), k)
      .withColumnRenamed("id", idCol)

  /** Island-merge of duplicated window positions `(id, p, ...)` into
    * maximal per-doc spans — shared by the batch and incremental span
    * paths. One id-keyed shuffle; a doc's duplicated positions stream
    * through one task's sorted window.
    */
  private def mergeWindowSpans(dup: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy(col("id")).orderBy(col("p"))
    val run = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dup.select(col("id"), col("p"))
      .withColumn("__brk",
        when(col("p") - coalesce(lag(col("p"), 1).over(wd), lit(-k - 1)) > k, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(run))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("p")).cast("bigint").as("span_from"),
        (max(col("p")) + k).cast("bigint").as("span_to"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_from"), col("span_to"), col("n_windows"))
  }

  /** Per-doc duplicated-token accounting over [[duplicateSpans]]:
    * (idCol, n_tokens, n_spans, dup_tokens, dup_frac) for EVERY input doc —
    * the "how much of my corpus is repeated substance" number that decides
    * whether an ExactSubstr cut is worth running at all. Spans are disjoint
    * by construction, so `dup_tokens` (= Σ span lengths) is an exact token
    * coverage, not an overcount.
    */
  def duplicateSpanStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4): DataFrame = {
    val agg = duplicateSpans(df, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_to") - col("span_from")).as("dup_tokens"))
    df.select(col(idCol),
        TextOps.tokenCount(col(textCol)).cast("bigint").as("n_tokens"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_frac"))
  }

  /** Rebuild each document with its NON-CANONICAL duplicated windows cut
    * out: every duplicated window content keeps exactly its first
    * (lexicographically smallest (id, p)) occurrence, every token covered
    * by a LATER occurrence is dropped, and the doc is reassembled from its
    * surviving tokens in order — Lee et al. 2021's ExactSubstr cut at
    * window granularity: no repeated >= k-token run survives twice.
    * (The guarantee is one-sided, as in any greedy span cut: a canonical
    * occurrence whose tokens are also covered by a DIFFERENT content's
    * non-canonical occurrence loses those tokens, so rarely a content
    * keeps no intact copy.) Detection runs on normalized (lowercased)
    * content; reassembly preserves the original token bytes. Returns
    * (idCol, textCol) for every input doc; all-cut or empty docs become "".
    *
    * Scale: the content-hash shuffle, then cut positions (explode of the
    * duplicated subset only) anti-join the token stream on (id, pos) and
    * docs reassemble with one id-keyed aggregate — the same rebuild shape
    * as [[dedupLines]].
    */
  def dropDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4): DataFrame =
    cutNonCanonical(df, idCol, textCol,
      duplicatedWindows(df, idCol, textCol, k), k)

  /** Cut every token covered by a NON-canonical duplicated window and
    * rebuild docs — shared tail of the batch and incremental cut paths.
    * `dup` rows: (id, p, __first) with __first the canonical (id, p).
    */
  private def cutNonCanonical(df: DataFrame, idCol: String, textCol: String,
      dup: DataFrame, k: Int): DataFrame = {
    val nc = dup
      .where(!(col("__first").getField("id") === col("id") &&
        col("__first").getField("p") === col("p")))
    val cut = nc.select(col("id"),
      explode(sequence(col("p"), col("p") + k - 1)).as("__pos"))
    val toks = df.select(col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), " ")))
      .select(col("id"), col("pos").as("__pos"), col("col").as("__t"))
    val rebuilt = toks.join(cut, Seq("id", "__pos"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__t")))),
        s => s.getField("__t")), " ").as(textCol))
    df.select(col(idCol))
      .join(rebuilt.select(col("id").as(idCol), col(textCol)), Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** MinHash + LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * numHashes = bands * rowsPerBand. Candidate pairs come from banding
    * (docs agreeing on all rows of any band); each candidate is then
    * verified with exact Jaccard over the shingle sets, so the output
    * contains no false positives — only (possibly) missed pairs, with miss
    * probability (1 - j^rows)^bands (≈0 for j near 1).
    *
    * Output: (id_a, id_b, intersect_size, union_size) with
    * 2*intersect >= union ⟺ jaccard >= threshold (integer-exact, default
    * threshold 1/2 generalized via `thresholdNum/thresholdDen`).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
      thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    // exploded shingle rows (duplicates fine: min over a multiset equals
    // min over its set), then codegen'd min() aggregates instead of
    // higher-order-function lambdas (those run interpreted per row): one
    // md5 per (doc, shingle), numHashes cheap pmods folded by map-side
    // partial min aggregation — the whole signature pass is
    // whole-stage-codegen with one shuffle on the doc id. The signature/
    // banding math is SHARED with the persisted-store path
    // ([[sigAndHashes]]/[[bandRows]]) — one implementation, so the
    // incremental==full equivalence cannot drift.
    ensureHashRegistered(df)
    val rows = TextOps.shingleRows(df, idCol, textCol, shingleK)
    // ONE aggregation computes the signature mins AND the verification
    // shingle sets (the [[sigAndHashes]] shape, string sets here because
    // this gate's contract verifies on shingle STRINGS): the tokenize +
    // shingle-window pipeline and its id exchange run once instead of once
    // per consumer. Persisted ([[graft.CacheScope]]) because three plan
    // arms consume it — the banding and both verify sides — and without
    // the persist each arm re-runs the whole shingle pass (the exchange is
    // only reusable for IDENTICAL subtrees, and the arms project
    // differently). Same rows out, one pass instead of three.
    val numHashes = bands * rowsPerBand
    val minAggs = minAggsFor(numHashes)
    val fused = graft.CacheScope.persist(
      rows.select(col("id"), col("s"),
          pmod(baseHash(col("s")), lit(1L << 31)).as("h"))
        .groupBy(col("id"))
        .agg(minAggs.head, (minAggs.tail :+ collect_set(col("s")).as("sh")): _*)
        .select(col("id"),
          array((0 until numHashes).map(j => col(s"m$j")): _*).as("sig"),
          col("sh")))
    verifyJaccard(bandedCandidatePairs(bandRows(fused, bands, rowsPerBand), maxBucket),
      fused.select(col("id"), col("sh")), thresholdNum, thresholdDen)
  }

  /** Per-permutation min aggregates over exploded 31-bit base hashes —
    * THE minhash math, used by every signature producer.
    */
  private def minAggsFor(numHashes: Int): Seq[Column] =
    hashCoeffs(numHashes).zipWithIndex.map { case ((a, b), j) =>
      min(pmod(col("h") * a + b, lit(MersennePrime31))).as(s"m$j")
    }

  private def explodedHashes(rows: DataFrame): DataFrame =
    rows.select(col("id"), pmod(baseHash(col("s")), lit(1L << 31)).as("h"))

  /** (id, sig: array<bigint>[numHashes], hs: sorted array<bigint> of the
    * doc's DISTINCT 31-bit shingle base hashes) — one groupBy: the minhash
    * partial-min aggregates ([[minAggsFor]], the same math as
    * [[minhashLshPairs]]) and the hash-set collection share the single id
    * shuffle. `hs` stands in for the shingle set at ~8 bytes/shingle
    * (verification Jaccard over hash sets differs from string sets only on
    * md5 collisions, and both engines hash identically, so oracles agree
    * BY CONSTRUCTION even when collisions happen).
    */
  private[graft] def sigAndHashes(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int): DataFrame = {
    ensureHashRegistered(df)
    val rows = TextOps.shingleRows(df, idCol, textCol, shingleK)
    val minAggs = minAggsFor(numHashes)
    explodedHashes(rows).groupBy(col("id"))
      .agg(minAggs.head, (minAggs.tail :+ collect_set(col("h")).as("hs")): _*)
      .select(col("id"),
        array((0 until numHashes).map(j => col(s"m$j")): _*).as("sig"),
        sort_array(col("hs")).as("hs"))
  }

  /** Banded (id, band, key) rows from stored signature arrays. */
  private def bandRows(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("id"), posexplode(array((0 until bands).map(b =>
        slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)): _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("key"))

  /** Build (overwrite) a persisted minhash store at `path`: one parquet row
    * per doc with the signature and the verification hash set, laid out as
    * hive dirs `path/batch=<token>` so later appends are ATOMIC-per-token
    * (an overwrite of one token's dir, retry-idempotent — no duplicate
    * rows from replayed writers). Compute the signatures ONCE, then dedup
    * every future batch against the corpus with
    * [[incrementalNearDupPairs]] — at 100 TB the corpus-side md5+minhash
    * pass is the expensive part and must not be repeated per probe.
    */
  def buildMinhashStore(df: DataFrame, idCol: String, textCol: String,
      path: String, shingleK: Int = 3, numHashes: Int = 128): Unit =
      graft.StoreCommit.rebuild(df.sparkSession, path) {
    appendMinhashStore(df, idCol, textCol, path, shingleK, numHashes, "base")
  }

  /** Write one batch's signatures into the store as `path/batch=<token>`
    * (call AFTER probing the batch with [[incrementalNearDupPairs]]; ids
    * must be new to the store). Re-running with the SAME token overwrites
    * that dir rather than duplicating rows — pass a stable token (e.g. the
    * streaming batch id) to make replays idempotent.
    */
  def appendMinhashStore(df: DataFrame, idCol: String, textCol: String,
      path: String, shingleK: Int = 3, numHashes: Int = 128,
      batchToken: String = java.util.UUID.randomUUID.toString): Unit =
      graft.StoreLock.withLock(df.sparkSession, path) {
    // keep the store homogeneous: an append at a different numHashes would
    // make the probe-time one-row length guard nondeterministic and slice
    // short sigs into per-band mega-buckets
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    // appends must also keep the LAYOUT homogeneous: a legacy store (no
    // materialized band column) keeps receiving legacy batches — a mixed
    // store would read the missing column as null for legacy rows and
    // silently drop them from the banding (schema comes from one footer)
    var legacy = false
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) {
      val existing = graft.StoreCommit.read(spark, path)
      legacy = !existing.columns.contains(bandsColName(DefaultBands, DefaultRowsPerBand))
      existing.select(size(col("sig")).as("n"))
        .limit(1).collect().headOption.foreach { r =>
          require(r.getInt(0) == numHashes,
            s"store at $path has signature length ${r.getInt(0)}; " +
              s"append with numHashes=$numHashes would mix lengths")
        }
    }
    writeMinhashBatch(sigAndHashes(df, idCol, textCol, shingleK, numHashes),
      path, batchToken, numHashes, legacy)
  }

  /** Default probe banding (32 bands x 4 rows = the 128-hash default) —
    * the configuration whose band buckets [[writeMinhashBatch]]
    * materializes at append time.
    */
  val DefaultBands = 32
  val DefaultRowsPerBand = 4

  private[graft] def bandsColName(bands: Int, rowsPerBand: Int): String =
    s"bands_${bands}x$rowsPerBand"

  /** Per-row band BUCKETS as an array column — byte-identical to the
    * probe-side `xxhash64(band, key)` over [[bandRows]] (`band` is the
    * posexplode position, an int; `key` the signature slice), so a probe
    * may consume either form interchangeably.
    */
  private def bandBuckets(bands: Int, rowsPerBand: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))

  /** [[writeMinhashBatch]] for the STREAMING wrappers, which append to a
    * store they did not build: probes the existing store's layout once
    * (one footer) so appends to a pre-banded-layout store stay legacy-
    * homogeneous — a mixed store would read the missing band column as
    * null for legacy rows and silently drop them from the banding.
    */
  private[graft] def writeMinhashStreamBatch(fresh: DataFrame, path: String,
      batchToken: String, numHashes: Int): Unit = {
    val spark = fresh.sparkSession
    val legacy = graft.StoreCommit.visibleTokens(spark, path).nonEmpty &&
      !graft.StoreCommit.read(spark, path)
        .columns.contains(bandsColName(DefaultBands, DefaultRowsPerBand))
    writeMinhashBatch(fresh, path, batchToken, numHashes, legacy)
  }

  /** [[writeStoreBatch]] for the minhash store, with the two scan-side
    * layout optimizations serving probes read through:
    *  - the default banding's buckets MATERIALIZED as a 32-long array
    *    column, so the probe's store scan reads it instead of the
    *    128-long signature (4x narrower stage-1 IO; other banding
    *    configs fall back to slicing `sig`);
    *  - batches RANGE-SORTED by id, so the verification stage's
    *    candidate-id `In` filter prunes row groups instead of scanning
    *    the heavy `hs` column across the whole store.
    * `legacyLayout` keeps appends to a pre-column store homogeneous.
    */
  private[graft] def writeMinhashBatch(sigs: DataFrame, path: String,
      batchToken: String, numHashes: Int, legacyLayout: Boolean = false): Unit = {
    val withBands =
      if (legacyLayout || numHashes != DefaultBands * DefaultRowsPerBand) sigs
      else sigs.withColumn(bandsColName(DefaultBands, DefaultRowsPerBand),
        bandBuckets(DefaultBands, DefaultRowsPerBand))
    writeStoreBatch(
      withBands.repartitionByRange(col("id")).sortWithinPartitions(col("id")),
      path, batchToken)
  }

  /** One plain single-family batch of `rows` through
    * [[graft.StoreCommit.writeBatch]].
    */
  private[graft] def writeStoreBatch(rows: DataFrame, path: String,
      batchToken: String): Unit =
    graft.StoreCommit.writeBatch(rows.sparkSession, path, batchToken)(_.write(rows))

  /** Near-dup pairs of a NEW batch against a persisted corpus store (plus
    * new-new pairs), without re-pairing the corpus: the incremental shape
    * of [[minhashLshPairs]], same banding/threshold semantics (the math is
    * the same code), output restricted to pairs touching >= 1 new id. New
    * ids must be disjoint from stored ids.
    *
    * Scale: the store is SCANNED (sig column only — no md5/minhash
    * recompute) but only rows whose bucket also appears in the probe batch
    * survive to the shuffle: the probe's bucket set is broadcast and old
    * rows are pruned map-side (probe batches are small next to the corpus
    * — a day's crawl vs 100 TB). Verification joins hash sets only for ids
    * that appear in surviving candidates.
    */
  def incrementalNearDupPairs(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, shingleK: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
      thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    val old = graft.StoreCommit.read(newDocs.sparkSession, path)
    val fresh = graft.CacheScope.persist(
      sigAndHashes(newDocs, idCol, textCol, shingleK, bands * rowsPerBand))
    incrementalPairsFromSigs(fresh, old, bands, rowsPerBand,
      thresholdNum, thresholdDen, maxBucket)
  }

  /** One-row signature-length probe of a store frame, memoized by the
    * frame's object identity (Dataset does not override equals): a cache
    * hit from [[graft.StoreCommit.read]] returns the SAME object while
    * the store is unmutated, so the sampled length is re-collected only
    * when the store actually changed. WeakHashMap: entries die with their
    * plan, nothing pins a session.
    */
  private val sigLenCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Integer]())

  private def storedSigLen(old: DataFrame): Option[Int] = {
    val hit = sigLenCache.get(old)
    if (hit != null) Some(hit.toInt)
    else {
      val n = old.select(size(col("sig")).as("n")).limit(1).collect()
        .headOption.map(_.getInt(0))
      n.foreach(v => sigLenCache.put(old, Integer.valueOf(v)))
      n
    }
  }

  /** The probe over already-computed signatures: `fresh` and `old` are
    * [[sigAndHashes]]-shaped frames (old may carry extra columns, e.g. the
    * store's `batch` partition). Exposed so the streaming wrapper computes
    * each batch's signatures ONCE for both the probe and the store append.
    */
  private[graft] def incrementalPairsFromSigs(fresh: DataFrame, old: DataFrame,
      bands: Int, rowsPerBand: Int, thresholdNum: Int, thresholdDen: Int,
      maxBucket: Int): DataFrame = {
    // a store built at a different numHashes would slice past the stored
    // sig's end and collapse the out-of-range bands into one store-wide
    // mega-bucket per band — fail loudly instead. One sampled row suffices:
    // [[appendMinhashStore]] rejects mixed-length appends, so the store is
    // homogeneous by construction. Memoized per store-plan IDENTITY: the
    // committed-read cache ([[graft.StoreCommit.read]]) returns the same
    // DataFrame object while the store is unmutated, so repeat probes skip
    // this guard's one-row job; any mutation yields a fresh plan object
    // and the guard re-runs.
    storedSigLen(old).foreach { n =>
      require(n == bands * rowsPerBand,
        s"store signature length $n != bands*rowsPerBand " +
          s"${bands * rowsPerBand}; probe with the store's parameters")
    }
    def pack(d: DataFrame) = bandRows(d, bands, rowsPerBand)
      .select(col("id"), xxhash64(col("band"), col("key")).as("__bucket"))
    val newPacked = pack(fresh.select(col("id"), col("sig")))
    // map-side prune: only store rows in buckets the probe batch touches.
    // Guarded ([[probePrune]]): the bucket-set bound is batch rows × bands
    // (exact fan-out; fresh is persisted by every caller, so the count is
    // a cache materialization, not a recompute)
    val probeBuckets = fresh.count() * bands
    // stores written since the banded layout carry this probe config's
    // buckets materialized ([[writeMinhashBatch]]) — the store scan then
    // reads the 32-long bucket array instead of the 128-long signature
    // (4x narrower); legacy stores and non-default configs slice `sig`
    val bc = bandsColName(bands, rowsPerBand)
    val oldPacked =
      if (old.columns.contains(bc))
        old.select(col("id"), explode(col(bc)).as("__bucket"))
      else pack(old.select(col("id"), col("sig")))
    val oldPruned = probePrune(oldPacked,
      newPacked.select(col("__bucket")).distinct(), Seq("__bucket"), probeBuckets)
    val cands = packedCandidatePairs(newPacked.unionByName(oldPruned), maxBucket)
    val nids = fresh.select(col("id"))
    // old-old pairs inside a shared bucket were found when the store side
    // was deduped — keep only pairs touching the new batch. Persisted: the
    // candidate set feeds three consumers (two verify sides + the store
    // hash-set prune) and is tiny by construction; measured on the sf0.1
    // gate, re-evaluating the banding subtree per consumer costs 2x the
    // persist barrier.
    // the new-id tag set is batch-rows-sized — same broadcast guard as the
    // bucket prune (a backfill-scale batch tags via shuffled hash joins)
    val tag = (d: DataFrame) =>
      if (probeBuckets / bands <= BroadcastProbeRows) broadcast(d)
      else d.hint("shuffle_hash")
    val touchingNew = graft.CacheScope.persist(cands
      .join(tag(nids.select(col("id").as("id_a"), lit(1).as("__na"))),
        Seq("id_a"), "left")
      .join(tag(nids.select(col("id").as("id_b"), lit(1).as("__nb"))),
        Seq("id_b"), "left")
      .where(col("__na").isNotNull || col("__nb").isNotNull)
      .select(col("id_a"), col("id_b")))
    // verification touches ONLY ids that appear in surviving candidates:
    // semi-join the store's heavy hash-set column down to them first, so
    // per-probe verify cost scales with the candidate set, not the corpus
    val candIds = touchingNew.select(col("id_a").as("id"))
      .union(touchingNew.select(col("id_b").as("id"))).distinct()
    // candidate sets are banding-bounded and usually tiny: collect them
    // and push a STATIC In filter to the store scan — on the range-sorted
    // batch layout ([[writeMinhashBatch]]) parquet prunes whole row groups
    // and the heavy `hs` column is read only near candidate rows, instead
    // of store-wide under a semi join no scanner can see through. Above
    // the cap (a backfill-scale probe), fall back to the semi join.
    val ids = candIds.limit(IsinPushdownMax + 1).collect().map(_.get(0))
    val oldCandDocs =
      if (ids.length <= IsinPushdownMax)
        old.select(col("id"), col("hs").as("sh"))
          .where(col("id").isInCollection(ids.toSeq))
      else old.select(col("id"), col("hs").as("sh"))
        .join(broadcast(candIds), Seq("id"), "left_semi")
    val docs = oldCandDocs
      .unionByName(fresh.select(col("id"), col("hs").as("sh")))
    verifyJaccard(touchingNew, docs, thresholdNum, thresholdDen)
  }

  /** Observed-metrics name for LSH bucket accounting (see
    * [[bandedCandidatePairs]]): read via `df.observe` listener or
    * `qe.observedMetrics` after an action on the result.
    */
  val LshBucketMetrics = "graft_lsh_buckets"

  /** Distinct candidate pairs from banded rows `(id, band, key)` — shared by
    * the MinHash (text) and random-hyperplane (embedding) LSH paths.
    *
    * Buckets are tiny for real near-dup distributions, but a degenerate hot
    * bucket (e.g. thousands of identical docs) would emit C(size, 2) pairs.
    * Hot buckets are NOT silently sliced: the first `maxBucket` members form
    * the full clique and the remainder is linked by a spanning chain
    * (ids(i-1), ids(i)) — every member still joins the duplicate cluster via
    * transitivity at O(size) extra pairs, and the truncation is REPORTED
    * through the [[LshBucketMetrics]] observation (buckets, truncated
    * buckets, max bucket size) so lost clique recall is visible, not
    * silent.
    */
  def bandedCandidatePairs(banded: DataFrame, maxBucket: Int = 1000): DataFrame =
    packedCandidatePairs(
      banded.select(col("id"), xxhash64(col("band"), col("key")).as("__bucket")),
      maxBucket)

  /** [[bandedCandidatePairs]] over rows whose (band, key) is already packed
    * into a 64-bit `__bucket` — the incremental path pre-packs so it can
    * prune store rows against the probe's bucket set before any shuffle.
    */
  private def packedCandidatePairs(packed: DataFrame, maxBucket: Int): DataFrame = {
    // Bucket cardinality ≈ row count at corpus scale (nearly every bucket
    // is a singleton), so ANY groupBy over (band, key) — even a codegen'd
    // count — builds a hash map with one entry per row (measured: the
    // aggregation map's page allocation dominated the 1M-vector smoke).
    // A WINDOW count over the same keys sorts the one shuffle instead and
    // streams each group with O(group) memory; the collect_list then runs
    // only over the non-singleton survivors, which inherit the window's
    // partitioning (no further exchange).
    //
    // The (band, key) pair is packed map-side into ONE 64-bit hash before
    // the exchange: the banded row count is rows×bands (192M at the
    // 1M-vector smoke) and the raw key (a signature slice — array or
    // string) dominated shuffle width; (id, bucket:long) halves it. A
    // 64-bit collision only MERGES two buckets, producing extra candidate
    // pairs that the callers' exact verification discards — correctness is
    // unaffected, expected extra work ~n²·2⁻⁶⁴ pairs.
    import org.apache.spark.sql.expressions.Window
    val sized = packed.withColumn("__n",
      count(lit(1)).over(Window.partitionBy(col("__bucket"))))
    val buckets = sized.where(col("__n") > 1)
      .groupBy(col("__bucket"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .observe(LshBucketMetrics,
        count(lit(1)).as("buckets"),
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L)).as("truncated_buckets"),
        max(size(col("ids"))).cast("long").as("max_bucket_size"))
    val clique = pairCombinations(slice(col("ids"), 1, maxBucket))
    // chain over the truncated tail: (ids(maxBucket-1), ids(maxBucket)), ...
    val tailLen = greatest(size(col("ids")) - maxBucket, lit(0))
    val chain = zip_with(
      slice(col("ids"), lit(maxBucket), tailLen),
      slice(col("ids"), lit(maxBucket + 1), tailLen),
      (x, y) => struct(x.as("_1"), y.as("_2")))
    buckets.select(explode(concat(clique, chain)).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
  }

  /** All unordered pairs of a sorted array as structs (_1 < _2). */
  private def pairCombinations(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y =>
        struct(x.as("_1"), y.as("_2")))))

  /** Observed-metrics name for [[winnowingPairs]]' stop-fingerprint
    * accounting: (stop_rows, max_doc_freq).
    */
  val WinnowStopMetrics = "graft_winnow_stop"

  /** MOSS-style local-fingerprint near-dup pairs (Schleimer/Wilkerson/
    * Aiken, SIGMOD'03 §5 — the winnowing paper's own matching
    * construction): pairs of docs sharing >= `minShared` winnowing
    * fingerprints, with each doc's distinct-fingerprint count for
    * containment scoring. This catches PARTIAL overlap — one doc quoting a
    * long passage of another — which whole-doc Jaccard thresholds miss
    * when the doc sizes differ (minhash estimates GLOBAL similarity;
    * winnowing matches are local). Output: (id_a, id_b, shared_fps, n_a,
    * n_b); containment of A in B = shared_fps / n_a, integer-exact for
    * the caller's threshold.
    *
    * Fingerprints selected by more than `maxDocFreq` docs are STOP
    * fingerprints (boilerplate — MOSS's "ignore matches in too many
    * documents") and pair nothing; their removal is REPORTED through the
    * [[WinnowStopMetrics]] observation, never silent. Within the cap each
    * fingerprint fans out <= C(maxDocFreq, 2) pairs.
    *
    * Scale: distinct (id, fp) shuffles once on the fingerprint;
    * doc-frequency rides a window over that sort (fingerprint cardinality
    * ≈ positions/w, near-unique — the [[packedCandidatePairs]] rationale
    * against a groupBy-sized hash map), and the bucket groupBy + pair
    * count reuse the same partitioning map-side. Sizes join back on the
    * doc id.
    */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, minShared: Int = 2,
      maxDocFreq: Int = 1000): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    require(maxDocFreq >= 2, "maxDocFreq must be >= 2 (pairs need two docs)")
    // persisted ([[graft.CacheScope]]): the fingerprint pipeline (shingle
    // window + two winnow windows + distinct) feeds THREE plan arms — the
    // doc-frequency count and both size-join sides — and each arm would
    // otherwise re-run the whole pass (the incremental twin already
    // persists its batch fingerprints for the same reason)
    val fps = graft.CacheScope.persist(winnowFingerprints(df, idCol, textCol, k, w))
    withWinnowSizes(sharedFingerprintPairs(fps, minShared, maxDocFreq),
      fps.groupBy(col("id")).agg(count(lit(1)).as("n")))
  }

  /** `(id_a, id_b, shared_fps)` for doc pairs sharing >= `minShared` of the
    * `(id, f)` rows' fingerprints. Fingerprints in more than `maxDocFreq`
    * docs pair nothing and are reported through [[WinnowStopMetrics]];
    * `keep` drops pairs before they are counted, and the kept pairs (one
    * batch's, so few) are then counted in one partition.
    */
  private def sharedFingerprintPairs(fps: DataFrame, minShared: Int,
      maxDocFreq: Int, keep: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counted = fps
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("f"))))
      .observe(WinnowStopMetrics,
        // row count, not count_distinct(f): DISTINCT aggregates are
        // rejected inside observed metrics; stop ROWS = Σ doc-freq over
        // stop fingerprints, 0 iff no fingerprint was cut
        sum(when(col("__df") > maxDocFreq, 1L).otherwise(0L)).as("stop_rows"),
        coalesce(max(col("__df")), lit(0L)).cast("long").as("max_doc_freq"))
    // __df > 1 is pure pruning (singleton fingerprints cannot pair)
    val pairs = counted.where(col("__df") > 1 && col("__df") <= maxDocFreq)
      .groupBy(col("f"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(explode(pairCombinations(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
    keep.fold(pairs)(pairs.where(_).coalesce(1))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }

  /** Attach both sides' distinct-fingerprint counts from `(id, n)` rows.
    * Both joins read the same unrenamed `sizes` plan, so a broadcast of it
    * is built once and reused for the second side. `hashPairs` keeps the
    * pairs in one partition and builds each join's hash table on them; it
    * needs `sizes` in one partition too, so neither join has an exchange.
    */
  private def withWinnowSizes(pairs: DataFrame, sizes: DataFrame,
      hashPairs: Boolean = false): DataFrame = {
    val build = (d: DataFrame) => if (hashPairs) d.coalesce(1).hint("shuffle_hash") else d
    build(build(pairs)
      .join(sizes.as("__sa"), col("id_a") === col("__sa.id")))
      .join(sizes.as("__sb"), col("id_b") === col("__sb.id"))
      .select(col("id_a"), col("id_b"), col("shared_fps"),
        col("__sa.n").cast("bigint").as("n_a"), col("__sb.n").cast("bigint").as("n_b"))
  }

  /** Parquet bytes one winnow fingerprint row takes in a batch's input: a
    * row stands for about (w+1)/2 tokens, ~18 bytes of text, which parquet
    * stores in ~7.5 (the `documents` fixtures at every scale). An input
    * whose size estimate exceeds `collectMax` rows at this rate is not
    * tried in one task.
    */
  private val WinnowInputBytesPerRow = 8L

  /** Distinct `(id, f)` winnow fingerprint rows of `df`. */
  private def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame =
    TextOps.winnowingFingerprints(df, idCol, textCol, k, w)
      .select(col("id"), col("fingerprint").as("f")).distinct()

  /** One batch's distinct winnow fingerprints `(id, f)`, with the rows
    * themselves when they number at most `collectMax` (the
    * [[IsinPushdownMax]] bound the minhash probe applies to its candidate
    * ids): the frame is then a local relation, so the probe prunes the
    * store by static `In` lists and the append writes one file per family,
    * with nothing persisted. Otherwise the rows are None and the frame is
    * persisted.
    *
    * Only an input whose size estimate fits `collectMax` rows (at
    * [[WinnowInputBytesPerRow]]) is tried, in one task: its id window and
    * distinct need no shuffle there, so the collect is one job. A larger
    * input goes straight to the distributed pass. An input the estimate
    * undercounts (an in-memory relation counts 20 bytes per string) and
    * that overflows is fingerprinted again there: persisting the try
    * would save that pass, but a cached frame's first action materializes
    * it as a job of its own, one more job on every small batch.
    */
  private def winnowBatch(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, collectMax: Int): (DataFrame, Option[Array[Row]]) = {
    val tried =
      if (df.queryExecution.optimizedPlan.stats.sizeInBytes >
          collectMax * WinnowInputBytesPerRow) None
      else Some(winnowFingerprints(df.coalesce(1), idCol, textCol, k, w))
    val rows = tried.map(_.limit(collectMax + 1).collect()).filter(_.length <= collectMax)
    (tried, rows) match {
      case (Some(t), Some(rs)) => (df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rs.toSeq: _*), t.schema), rows)
      case _ => (graft.CacheScope.persist(winnowFingerprints(df, idCol, textCol, k, w)), None)
    }
  }

  /** `(id, n)` distinct-fingerprint counts per doc of a [[winnowBatch]],
    * counted on the driver when its rows were collected.
    */
  private def winnowSizes(fps: DataFrame, rows: Option[Array[Row]]): DataFrame =
    rows.fold(fps.groupBy(col("id")).agg(count(lit(1)).as("n"))) { rs =>
      fps.sparkSession.createDataFrame(
        java.util.Arrays.asList(rs.groupBy(_.get(0)).map { case (id, g) =>
          Row(id, g.length.toLong) }.toSeq: _*),
        StructType(Seq(fps.schema("id"), StructField("n", LongType, nullable = false))))
    }

  /** Build (overwrite) a persisted winnowing-fingerprint store at `path` —
    * the MOSS-pair family's member of the build-once/probe-many store
    * tier: the corpus-wide shingle+winnow pass runs once at ingest, and
    * every new batch probes for containment pairs without re-fingerprinting
    * the corpus. Layout: `fps/batch=<tok>/` distinct `(id, f)` rows,
    * `sizes/batch=<tok>/` per-doc distinct-fingerprint counts `(id, n)`
    * (additive across disjoint-id batches — the containment denominator
    * without touching stored rows), `meta/` one `(k, w)` row: a probe at
    * different winnowing parameters would select DIFFERENT fingerprints
    * and silently match nothing, so mismatches throw.
    */
  def buildWinnowStore(df: DataFrame, idCol: String, textCol: String,
      path: String, k: Int = 4, w: Int = 5): Unit =
      graft.StoreCommit.rebuild(df.sparkSession, path) {
    appendWinnowStore(df, idCol, textCol, path, k, w, "base")
  }

  /** The winnow store's one-row `(k, w)` meta sidecar. */
  private def winnowMeta(spark: org.apache.spark.sql.SparkSession, k: Int,
      w: Int): DataFrame =
    spark.range(1).select(lit(k).as("k"), lit(w).as("w")).coalesce(1)

  /** Append one batch of NEW docs (ids disjoint from every prior batch).
    * Same-token re-runs overwrite rather than duplicate. A small batch
    * (see [[winnowBatch]]) writes one file per family.
    */
  def appendWinnowStore(df: DataFrame, idCol: String, textCol: String,
      path: String, k: Int = 4, w: Int = 5,
      batchToken: String = java.util.UUID.randomUUID.toString): Unit =
    appendWinnowBatch(df, idCol, textCol, path, k, w, batchToken, IsinPushdownMax)

  /** [[appendWinnowStore]] with the collect bound as a parameter. */
  private[graft] def appendWinnowBatch(df: DataFrame, idCol: String,
      textCol: String, path: String, k: Int, w: Int, batchToken: String,
      collectMax: Int): Unit =
      graft.StoreLock.withLock(df.sparkSession, path) {
    val spark = df.sparkSession
    val meta = graft.StoreCommit.meta(spark, path)
    meta.foreach { m =>
      require(m.getAs[Int]("k") == k && m.getAs[Int]("w") == w,
        s"store at $path was built with (k=${m.getAs[Int]("k")}, " +
          s"w=${m.getAs[Int]("w")}); appending at (k=$k, w=$w) would mix " +
          "incompatible fingerprints")
    }
    val (fps, rows) = winnowBatch(df, idCol, textCol, k, w, collectMax)
    def one(d: DataFrame) = if (rows.isDefined) d.coalesce(1) else d
    // one marker covers BOTH families: probes see the token's fps and
    // sizes dirs all-or-nothing (a sizes-less fps batch would under-count
    // containment denominators)
    graft.StoreCommit.writeBatch(spark, path, batchToken) { b =>
      if (meta.isEmpty) b.sidecar(winnowMeta(spark, k, w), "meta")
      b.write(one(fps), "fps")
      b.write(one(winnowSizes(fps, rows)), "sizes")
    }
  }

  /** Compact a many-batch winnow store (a long-running [[graft.streaming
    * .StreamingOps.winnow]] tail appends one batch dir per
    * micro-batch) into a fresh single-batch store at `dstPath` without
    * re-fingerprinting any text: fps and sizes are disjoint-id unions
    * (rewritten under one `batch=base`), meta copies verbatim. Same
    * crash-safe rebuild-dst-then-swap contract as the other compactors.
    */
  def compactWinnowStore(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit =
    graft.StoreCommit.compact(spark, srcPath, dstPath) { b =>
      val m = graft.StoreCommit.meta(spark, srcPath).getOrElse(
        throw new IllegalStateException(s"no winnow store at $srcPath"))
      b.sidecar(winnowMeta(spark, m.getAs[Int]("k"), m.getAs[Int]("w")), "meta")
      b.write(graft.StoreCommit.read(spark, srcPath, Some("fps"))
        .select(col("id"), col("f")), "fps")
      b.write(graft.StoreCommit.read(spark, srcPath, Some("sizes"))
        .select(col("id"), col("n")), "sizes")
    }

  /** Containment pairs of a NEW batch against a persisted winnow store
    * (plus new-new pairs) — [[winnowingPairs]] over store ∪ batch
    * restricted to pairs touching >= 1 new id, without re-fingerprinting
    * any stored doc. New ids must be disjoint from stored ids.
    *
    * Exactness of the prune: a batch/store pair shares only fingerprints
    * the batch doc carries, so cutting store rows to the batch's
    * fingerprint set loses no pair; and for every fingerprint IN that set
    * all its store rows survive the cut, so the stop-cut's doc frequency
    * computed over the pruned union is the true global df. Store-only
    * fingerprints can only pair store docs with each other — found when
    * those batches were probed. Sizes come from the additive sidecar
    * (joined to ids that can pair), never from stored fingerprint rows.
    *
    * Scale: a small batch (size estimate and fingerprint rows both within
    * [[IsinPushdownMax]] rows, see [[winnowBatch]]) is collected once;
    * the store scan takes its fingerprints as a static
    * `In` filter, pairs are cut to the new ids by an `In` before they are
    * counted in one partition, where the sizes sidecar streams past them,
    * and nothing is persisted. A larger batch is persisted and
    * prunes the store map-side by its broadcast fingerprint set
    * ([[probePrune]]'s guarded cut). Either way everything downstream is
    * proportional to the batch and its matches.
    */
  def incrementalWinnowingPairs(newDocs: DataFrame, idCol: String,
      textCol: String, path: String, k: Int = 4, w: Int = 5,
      minShared: Int = 2, maxDocFreq: Int = 1000,
      excludeBatch: Option[String] = None): DataFrame =
    winnowProbe(newDocs, idCol, textCol, path, k, w, minShared, maxDocFreq,
      excludeBatch, IsinPushdownMax)

  /** [[incrementalWinnowingPairs]] with the collect bound as a parameter. */
  private[graft] def winnowProbe(newDocs: DataFrame, idCol: String,
      textCol: String, path: String, k: Int, w: Int, minShared: Int,
      maxDocFreq: Int, excludeBatch: Option[String],
      collectMax: Int): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    require(maxDocFreq >= 2, "maxDocFreq must be >= 2 (pairs need two docs)")
    val spark = newDocs.sparkSession
    val m = graft.StoreCommit.meta(spark, path).getOrElse(
      throw new IllegalStateException(s"no winnow store at $path"))
    require(m.getAs[Int]("k") == k && m.getAs[Int]("w") == w,
      s"store at $path was built with (k=${m.getAs[Int]("k")}, " +
        s"w=${m.getAs[Int]("w")}); probe with the store's parameters")
    val (fresh, rows) = winnowBatch(newDocs, idCol, textCol, k, w, collectMax)
    // excludeBatch drops a replayed micro-batch's own (possibly partial)
    // prior attempt; a sub-dir missing entirely (crash between the meta
    // and fps/sizes writes of the very first append) reads as empty —
    // both make the replayed probe equal the crash-free first attempt
    def storeDir(sub: String, shape: DataFrame): DataFrame = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) {
        val d = graft.StoreCommit.read(spark, path, Some(sub))
        excludeBatch.fold(d)(t => d.where(col("batch") =!= t))
      } else shape.limit(0)
    }
    val storeFps = storeDir("fps", fresh).select(col("id"), col("f"))
    val freshSizes = winnowSizes(fresh, rows)
    val storeSizes = storeDir("sizes", freshSizes).select(col("id"), col("n"))
    rows match {
      case Some(rs) =>
        // one exchange (the df window's, over the pruned store scan);
        // the batch's pairs are then counted and sized in one partition,
        // so the plan has a single query stage to wait on, no broadcast,
        // and the size joins hash the pairs and stream the sizes past them
        val old = storeFps.where(col("f").isInCollection(rs.map(_.get(1)).distinct))
        val ids = rs.map(_.get(0)).distinct
        val touching = sharedFingerprintPairs(fresh.unionByName(old), minShared,
          maxDocFreq, Some(col("id_a").isInCollection(ids) || col("id_b").isInCollection(ids)))
        withWinnowSizes(touching, freshSizes.unionByName(storeSizes).coalesce(1),
          hashPairs = true)
      case None =>
        val freshRows = fresh.count()
        val oldPruned = probePrune(storeFps,
          fresh.select(col("f")).distinct(), Seq("f"), freshRows)
        val pairs = sharedFingerprintPairs(fresh.unionByName(oldPruned),
          minShared, maxDocFreq)
        val nids = fresh.select(col("id")).distinct()
        val tag = (d: DataFrame) =>
          if (freshRows <= BroadcastProbeRows) broadcast(d)
          else d.hint("shuffle_hash")
        val touching = graft.CacheScope.persist(pairs
          .join(tag(nids.select(col("id").as("id_a"), lit(1).as("__na"))),
            Seq("id_a"), "left")
          .join(tag(nids.select(col("id").as("id_b"), lit(1).as("__nb"))),
            Seq("id_b"), "left")
          .where(col("__na").isNotNull || col("__nb").isNotNull)
          .select(col("id_a"), col("id_b"), col("shared_fps")))
        val candIds = touching.select(col("id_a").as("id"))
          .union(touching.select(col("id_b").as("id"))).distinct()
        withWinnowSizes(touching, freshSizes.unionByName(
          storeSizes.join(broadcast(candIds), Seq("id"), "left_semi")))
    }
  }

  /** Observation name for [[exactJaccardPairs]]'s stop-shingle cut:
    * `stop_shingles` = distinct shingles with df > maxDocFreq (removed from
    * every doc's set), `stop_rows` = (doc, shingle) postings rows they
    * carried (the self-join fan-out avoided is Σ C(df,2) over them).
    */
  val JaccardStopMetrics = "graft_jaccard_stop"

  /** Exact n-gram Jaccard pairs — the exhaustive baseline the approximate
    * paths are validated against, with an optional boilerplate guard.
    * Shingles are distinct per doc, so the self-join's match count per
    * (a,b) IS the intersection size: no distinct pass, no per-pair array
    * ops, map-side partial counts.
    *
    * Cost is inherently Σ_s C(df_s, 2) over shingle doc-frequencies — so
    * ONE corpus-wide hot shingle (a boilerplate header, a licence line)
    * makes the self-join quadratic. `maxDocFreq` caps that fan-out:
    * shingles in more than `maxDocFreq` docs are removed from EVERY doc's
    * set, and sizes / intersections / unions are all computed over the
    * surviving vocabulary — the output is the exact Jaccard of the capped
    * sets (a defined, boilerplate-robust semantic, not an approximation of
    * the uncapped answer; mirroring [[TextOps.tfidfCosinePairs]]'s
    * stop-term contract). The cut is REPORTED via [[JaccardStopMetrics]].
    * Under the cap the join is bounded by |vocab|·C(maxDocFreq, 2). The
    * `Int.MaxValue` default keeps the historical uncapped contract (the
    * property-test baseline) with its original two-shuffle plan.
    *
    * At corpus scale use [[minhashLshPairs]] (candidates only) — an
    * AllPairs/PPJoin prefix filter was measured here and lost to this shape
    * on small-vocabulary corpora (prefixes stay ~|doc|/2, and the extra
    * windows + distinct cost more than the join they save).
    */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    require(maxDocFreq >= 2, "maxDocFreq must be >= 2 (pairs need two docs)")
    // persisted ([[graft.CacheScope]]): `tok` feeds three plan arms (the
    // size aggregate and both sides of the per-shingle self-join), each of
    // which would otherwise re-run the shingle window (+ df window when
    // capped). The cache sits UPSTREAM of the `observe` node in the capped
    // branch — metrics inside a cached subtree would not surface on the
    // caller's action — so the cheap filter re-evaluates per arm while the
    // windows run once.
    val raw = TextOps.shingleRows(df, idCol, textCol, shingleK)
      .select(col("id"), col("s")).distinct()
    val tok =
      if (maxDocFreq == Int.MaxValue) graft.CacheScope.persist(raw)
      else {
        // df rides a window over the shingle — one extra shuffle on `s`
        // (which the self-join below then REUSES as its own partitioning),
        // no df join, no second pass over the shingle window. rn marks one
        // row per shingle so the observation can count cut shingles
        // exactly without a distinct. A corpus-wide hot shingle lands its
        // whole df in one window partition; count/row_number stream with
        // linear spill and those are exactly the rows the filter then
        // drops, so the skew is paid once at cut time, never joined.
        // The persist covers everything UP TO the observe node: metrics
        // inside a cached subtree would not surface on the caller's
        // action, so the cheap observe+filter re-evaluates per arm while
        // the shingle and df windows run once.
        import org.apache.spark.sql.expressions.Window
        val ws = Window.partitionBy(col("s"))
        graft.CacheScope.persist(raw
            .withColumn("df", count(lit(1)).over(ws))
            .withColumn("rn", row_number().over(ws.orderBy(col("id")))))
          .observe(JaccardStopMetrics,
            sum(when(col("df") > maxDocFreq && col("rn") === 1, 1L)
              .otherwise(0L)).as("stop_shingles"),
            sum(when(col("df") > maxDocFreq, 1L).otherwise(0L)).as("stop_rows"))
          .where(col("df") <= maxDocFreq)
          .select(col("id"), col("s"))
      }
    val sizes = tok.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = tok.as("a").join(tok.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("intersect_size"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("union_size", col("na") + col("nb") - col("intersect_size"))
      .where(col("intersect_size") * thresholdDen >= col("union_size") * thresholdNum)
      .select(col("id_a"), col("id_b"), col("intersect_size"), col("union_size"))
  }

  /** Join candidate (id_a, id_b) pairs to shingle sets and keep pairs with
    * jaccard >= thresholdNum/thresholdDen, integer-exact:
    * den*inter >= num*union.
    */
  private def verifyJaccard(cands: DataFrame, docs: DataFrame,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    cands
      .join(docs.select(col("id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
      .withColumn("intersect_size", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("union_size", size(col("sha")) + size(col("shb")) - col("intersect_size"))
      .where(col("intersect_size") * thresholdDen >= col("union_size") * thresholdNum)
      .select(col("id_a"), col("id_b"), col("intersect_size").cast("bigint").as("intersect_size"),
        col("union_size").cast("bigint").as("union_size"))
  }

  /** SimHash as a 64-char bit-string (avoids int64 sign-bit overflow and is
    * representable identically in any engine): bit b of md5(token) votes
    * +1/-1; simhash bit = 1 iff the vote sum is >= 0. Near-dups have small
    * Hamming distance between bit-strings.
    */
  def simhashBits(text: Column): Column = {
    val tks = TextOps.tokens(text)
    // per-token bit b: hex digit at b/4, bit (3 - b%4) of its value
    def bitOf(t: Column, b: Int): Column = {
      val digit = instr(lit("0123456789abcdef"), substring(md5(t), b / 4 + 1, 1)) - 1
      floor(digit / math.pow(2, 3 - b % 4).toInt).cast("int") % 2
    }
    val bitCols = (0 until 64).map { b =>
      val votes = aggregate(tks, lit(0L),
        (acc, t) => acc + when(bitOf(t, b) === 1, 1L).otherwise(-1L))
      when(votes >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bitCols: _*)
  }

  /** Whole-table SimHash via explode + 64 codegen'd sum aggregates — the
    * scalable twin of the per-row [[simhashBits]] column (whose interpreted
    * per-bit lambdas re-walk the token array 64 times). One md5 per token
    * row, map-side partial sums, one shuffle on the id.
    *
    * Bit extraction is packed-long arithmetic: the digest's top 64 bits
    * parse ONCE per token into two unsigned-safe 32-bit halves, and each
    * of the 64 vote terms is a shift+mask on a long. Numerically identical
    * to the hex-digit walk (bit b of the signature is bit `3 - b%4` of hex
    * digit `b/4`, i.e. bit `63 - b` of the big-endian 64-bit value of the
    * first 16 hex chars — the derivation the DuckDB oracle still spells
    * out digit-wise), but the per-(token, bit) inner loop drops from a
    * substring+instr string walk over the digest to two integer ops —
    * measured 1.9× on the sf0.1 signature pass.
    */
  def simhashDf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("t"))
      .withColumn("hh", md5(col("t")))
      // 8 hex chars < 2^32: conv's unsigned decimal string always fits a long
      .withColumn("h_hi", conv(substring(col("hh"), 1, 8), 16, 10).cast("long"))
      .withColumn("h_lo", conv(substring(col("hh"), 9, 8), 16, 10).cast("long"))
    val sums = (0 until 64).map { b =>
      val half = if (b < 32) col("h_hi") else col("h_lo")
      val bit = shiftright(half, if (b < 32) 31 - b else 63 - b).bitwiseAND(lit(1L))
      sum(bit * 2L - 1L).as(s"b$b") // +1 when the bit is set, −1 otherwise
    }
    tok.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol), concat((0 until 64).map(b =>
        when(col(s"b$b") >= 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
  }

  /** Hamming distance between two equal-length bit-strings. */
  def hammingDistance(a: Column, b: Column): Column =
    aggregate(
      zip_with(split(a, ""), split(b, ""), (x, y) => when(x === y, 0).otherwise(1)),
      lit(0), (acc, d) => acc + d)

  /** SimHash near-duplicate pairs with hamming distance ≤ `maxHamming`,
    * found EXACTLY via bit-block banding: split the 64-bit signature into
    * `maxHamming + 1` blocks — by pigeonhole, two signatures within the
    * hamming budget agree on at least one whole block, so the block-bucket
    * candidates have 100% recall (unlike probabilistic minhash/RH bands)
    * and the verified result equals the exhaustive O(n²) scan — PROVIDED
    * no block bucket overflows `maxBucket`: an overflowing bucket is
    * truncated to a clique + spanning chain (cluster connectivity kept,
    * pair-level completeness not), and the pigeonhole argument then only
    * bounds recall. Truncation never happens silently — check the run's
    * [[LshBucketMetrics]] (observed metrics) and raise `maxBucket` if
    * `truncated_buckets > 0` and pair-level exactness matters.
    *
    * The internal signature cache is non-eager and tracked by
    * [[graft.CacheScope]] — long-lived sessions issuing many near-dup
    * calls release it between batches with `CacheScope.release()`.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    // referenced three times (banding + both verify sides): persist so the
    // signature pass (explode + 64 sums) evaluates once
    val sigs = graft.CacheScope.persist(
      simhashDf(df, idCol, textCol).select(col(idCol).as("id"), col("simhash")))
    simhashPairsFromSigs(sigs, maxHamming, maxBucket)
  }

  /** Pigeonhole-exact hamming pairs over PRE-COMPUTED 64-bit signatures
    * (`(id, simhash)` with the hash as a 64-char bitstring) — the banded
    * search behind [[simhashNearDupPairs]], exposed for any 64-bit
    * perceptual signature: [[MultimodalOps.imageDHash]] feeds image
    * near-dup through exactly this machinery. Caller persists `sigs` if
    * its derivation is expensive (it is referenced by the banding and
    * both verify sides).
    */
  def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    simhashVerify(
      bandedCandidatePairs(simhashBanded(sigs, maxHamming), maxBucket),
      simhashHalves(sigs), maxHamming)
  }

  /** Block-band rows for a `(id, simhash)` frame — near-even split with
    * boundaries at i·64/nBlocks: every block is non-empty for
    * nBlocks <= 64. (ceil(64/n)-sized blocks would make the LAST block
    * empty whenever ceil(64/n)·(n-1) >= 64 — e.g. maxHamming = 8 or 31 —
    * putting every row in one "" bucket and silently voiding the
    * pigeonhole guarantee over the remaining blocks.)
    */
  private def simhashBanded(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    val bounds = (0 to nBlocks).map(i => i * 64 / nBlocks)
    val blocks = (0 until nBlocks).map(i =>
      substring(col("simhash"), bounds(i) + 1, bounds(i + 1) - bounds(i)))
    sigs.select(col("id"), posexplode(array(blocks: _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("key"))
  }

  /** Verify on PACKED halves, not the bit-string: correlated real-text
    * bits make the block buckets hot, so candidates outnumber true pairs
    * ~600:1 and per-candidate verify cost dominates. [[hammingDistance]]
    * over strings allocates two 64-element arrays per candidate (split +
    * zip_with + fold); packing each half into a long once per DOC and
    * XOR+bit_count-ing per CANDIDATE keeps the hot loop in codegen'd
    * integer ops — the sf0.1 gate dropped 4.0 → 2.7 s. 32-bit halves
    * because conv(_, 2, 10) returns an unsigned decimal string: a full
    * 64-bit value with the top bit set would not fit a signed long.
    */
  private def simhashHalves(sigs: DataFrame): DataFrame =
    sigs.select(col("id"),
      conv(substring(col("simhash"), 1, 32), 2, 10).cast("long").as("h1"),
      conv(substring(col("simhash"), 33, 32), 2, 10).cast("long").as("h2"))

  private def simhashVerify(cands: DataFrame, halves: DataFrame,
      maxHamming: Int): DataFrame =
    cands
      .join(halves.select(col("id").as("id_a"), col("h1").as("a1"), col("h2").as("a2")), Seq("id_a"))
      .join(halves.select(col("id").as("id_b"), col("h1").as("b1"), col("h2").as("b2")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (expr("bit_count(a1 ^ b1)") + expr("bit_count(a2 ^ b2)"))
          .cast("bigint").as("hamming"))
      .where(col("hamming") <= maxHamming)

  /** Build (overwrite) a persisted SIMHASH signature store at `path` —
    * `(id, simhash)` rows under `batch=<tok>` dirs (plus the materialized
    * banded-layout columns, [[writeSimhashBatch]]), the near-dup family's
    * cheapest store (64 bits per doc): the corpus-side signature pass
    * (tokenize + 64 bit sums) runs once at ingest; probes read the packed
    * block buckets and verify halves straight off the store, never
    * touching stored text (legacy stores re-derive both from `simhash`).
    */
  def buildSimhashStore(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
      graft.StoreCommit.rebuild(df.sparkSession, path) {
    appendSimhashStore(df, idCol, textCol, path, "base")
  }

  /** Default probe pigeonhole block count (maxHamming = 3 → 4 blocks) —
    * the banding whose packed bucket keys [[writeSimhashBatch]]
    * materializes at append time, mirroring the minhash store's
    * `bands_32x4` column.
    */
  val DefaultSimhashBlocks = 4
  private[graft] val SimhashBlocksCol = "blocks_h3"

  /** Per-row packed block buckets — byte-identical to the probe-side
    * `xxhash64(band, key)` over [[simhashBanded]] rows (`band` is the
    * posexplode position, an int; `key` the signature substring), so a
    * probe may consume either form interchangeably (parity spec'd).
    */
  private def simhashBlockBuckets(nBlocks: Int): Column = {
    val bounds = (0 to nBlocks).map(i => i * 64 / nBlocks)
    array((0 until nBlocks).map(i => xxhash64(lit(i),
      substring(col("simhash"), bounds(i) + 1, bounds(i + 1) - bounds(i)))): _*)
  }

  /** [[writeStoreBatch]] for the simhash store, with the scan-side layout
    * the minhash store already carries ([[writeMinhashBatch]]):
    *  - the default banding's packed block buckets MATERIALIZED as a
    *    4-long array, so a probe's store scan reads 32 bytes per row
    *    instead of the 64-char bit-string (and derives nothing per probe);
    *  - the packed verify halves (`h1`, `h2` — exactly
    *    [[simhashHalves]]'s conv arithmetic) materialized, so
    *    verification reads two longs;
    *  - batches RANGE-SORTED by id, so the verification stage's
    *    candidate-id `In` filter prunes parquet row groups instead of
    *    scanning the store.
    * `legacyLayout` keeps appends to a pre-column store homogeneous — a
    * mixed store would read the missing columns as null for legacy rows
    * and silently drop them from banding/verification.
    */
  private[graft] def writeSimhashBatch(sigs: DataFrame, path: String,
      batchToken: String, legacyLayout: Boolean = false): Unit = {
    val withCols =
      if (legacyLayout) sigs
      else sigs
        .withColumn(SimhashBlocksCol, simhashBlockBuckets(DefaultSimhashBlocks))
        .withColumn("h1", conv(substring(col("simhash"), 1, 32), 2, 10).cast("long"))
        .withColumn("h2", conv(substring(col("simhash"), 33, 32), 2, 10).cast("long"))
    writeStoreBatch(
      withCols.repartitionByRange(col("id")).sortWithinPartitions(col("id")),
      path, batchToken)
  }

  /** Append one batch of NEW docs (ids disjoint from prior batches);
    * same-token re-runs overwrite rather than duplicate. */
  def appendSimhashStore(df: DataFrame, idCol: String, textCol: String,
      path: String,
      batchToken: String = java.util.UUID.randomUUID.toString): Unit =
    graft.StoreLock.withLock(df.sparkSession, path) {
      val spark = df.sparkSession
      val p = new org.apache.hadoop.fs.Path(path)
      // layout homogeneity (see [[writeSimhashBatch]]): a legacy store
      // keeps receiving legacy batches
      val legacy =
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p) &&
          !graft.StoreCommit.read(spark, path).columns.contains(SimhashBlocksCol)
      writeSimhashBatch(
        simhashDf(df, idCol, textCol).select(col(idCol).as("id"), col("simhash")),
        path, batchToken, legacy)
    }

  /** SimHash near-dup pairs of a NEW batch against a persisted signature
    * store (plus new-new pairs) — [[simhashNearDupPairs]] over
    * store ∪ batch restricted to pairs touching >= 1 new id, without
    * re-signing any stored doc. The pigeonhole exactness survives the
    * prune: for every (band, key) bucket the batch touches, ALL store
    * rows with that key survive the semi-join cut, so bucket contents —
    * and therefore candidates, truncation behavior, and verified pairs —
    * equal the one-shot computation's; buckets the batch never touches
    * can only pair store docs with each other (excluded by contract).
    *
    * Scale: the store scan reads the materialized 4-long block-bucket
    * array (banded layout, [[writeSimhashBatch]]; legacy stores fall back
    * to deriving buckets from `simhash`), pruned map-side against the
    * batch's broadcast bucket set ([[probePrune]]'s guarded cut); the
    * packed-half verify touches only ids appearing in surviving
    * candidates, via a static `In` filter (parquet row-group pruning on
    * the range-sorted layout) when the candidate set is small.
    */
  def incrementalSimhashPairs(newDocs: DataFrame, idCol: String,
      textCol: String, path: String, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val spark = newDocs.sparkSession
    val fresh = graft.CacheScope.persist(
      simhashDf(newDocs, idCol, textCol).select(col(idCol).as("id"), col("simhash")))
    val freshRows = fresh.count()
    val nBlocks = maxHamming + 1
    val stored = graft.StoreCommit.read(spark, path)
    val old = stored.select(col("id"), col("simhash"))
    // both sides pre-packed to the 64-bit bucket ([[bandedCandidatePairs]]
    // packs identically — same candidates either way); stores written
    // since the banded layout carry the default banding's buckets
    // materialized ([[writeSimhashBatch]]), so their scan reads the 4-long
    // array instead of the 64-char bit-string and derives nothing
    val newPacked = simhashBanded(fresh, maxHamming)
      .select(col("id"), xxhash64(col("band"), col("key")).as("__bucket"))
    val oldPacked =
      if (nBlocks == DefaultSimhashBlocks && stored.columns.contains(SimhashBlocksCol))
        stored.select(col("id"), explode(col(SimhashBlocksCol)).as("__bucket"))
      else simhashBanded(old, maxHamming)
        .select(col("id"), xxhash64(col("band"), col("key")).as("__bucket"))
    val oldPruned = probePrune(oldPacked,
      newPacked.select(col("__bucket")).distinct(), Seq("__bucket"),
      freshRows * nBlocks)
    val cands = packedCandidatePairs(newPacked.unionByName(oldPruned), maxBucket)
    val nids = fresh.select(col("id")).distinct()
    val tag = (d: DataFrame) =>
      if (freshRows <= BroadcastProbeRows) broadcast(d)
      else d.hint("shuffle_hash")
    val touching = graft.CacheScope.persist(cands
      .join(tag(nids.select(col("id").as("id_a"), lit(1).as("__na"))),
        Seq("id_a"), "left")
      .join(tag(nids.select(col("id").as("id_b"), lit(1).as("__nb"))),
        Seq("id_b"), "left")
      .where(col("__na").isNotNull || col("__nb").isNotNull)
      .select(col("id_a"), col("id_b")))
    val candIds = touching.select(col("id_a").as("id"))
      .union(touching.select(col("id_b").as("id"))).distinct()
    // verify halves from the store's materialized packed longs when the
    // layout carries them (legacy stores conv() from the bit-string), cut
    // to candidate ids via a static `In` filter when small — parquet
    // row-group pruning on the range-sorted batch layout — else the
    // broadcast semi join
    val oldHalvesSrc =
      if (stored.columns.contains("h1") && stored.columns.contains("h2"))
        stored.select(col("id"), col("h1"), col("h2"))
      else simhashHalves(old)
    val ids = candIds.limit(IsinPushdownMax + 1).collect().map(_.get(0))
    val oldHalves =
      if (ids.length <= IsinPushdownMax)
        oldHalvesSrc.where(col("id").isInCollection(ids.toSeq))
      else oldHalvesSrc.join(broadcast(candIds), Seq("id"), "left_semi")
    simhashVerify(touching, oldHalves.unionByName(simhashHalves(fresh)), maxHamming)
  }

  /** Rounds the most recent [[connectedComponents]] call on this JVM took
    * to converge — diagnostic only (the ScaleSmoke O(log n) round gate);
    * racing concurrent CC calls read whichever finished last.
    */
  private[graft] val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Connected components over an undirected pair list — the last step of
    * every dedup pipeline: near-dup PAIRS (from [[minhashLshPairs]],
    * [[simhashNearDupPairs]], [[SimilarityOps.nearDupPairs]], …) become
    * CLUSTERS, so "keep one doc per duplicate cluster" is a groupBy away.
    * Returns one row per node: (id, component), component = the minimum
    * node id reachable from it.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    * is two self-join+min-aggregate passes, and the edge set converges to
    * disjoint stars rooted at component minima in O(log²n) rounds
    * REGARDLESS of graph diameter. That matters here: the hot-bucket
    * spanning chains emitted by [[bandedCandidatePairs]] have diameter
    * O(bucket size), which would cost min-label propagation that many
    * rounds, while star contraction collapses them logarithmically.
    *
    * Each round materializes via `localCheckpoint` (lineage would double
    * per iteration); convergence is detected by an (order-insensitive
    * xxhash64-sum, count) checksum of the canonical edge set staying fixed
    * across a round — one tiny 1-row action per round, no driver-side edge
    * collection.
    *
    * `freezeStars = true` is the ACTIVE-SET variant for skewed round
    * counts: real dedup graphs are overwhelmingly 2-3-node clusters that
    * converge in a round or two, while one long chain (a hot LSH bucket's
    * spanning chain) drives O(log² chain) further rounds — each of which
    * the default path pays over the FULL edge set. With freezing, a star
    * that is isolated in the current edge set (round transformations
    * preserve connectivity, so it can never merge later) is retired: its
    * labels are banked and its edges leave the active set, so late rounds
    * touch only the unconverged remainder. Exactness is enforced, not
    * assumed: the freeze test is per-root (one impure in-edge keeps the
    * whole star active) and the final label set is checked
    * count == count_distinct — an overlap between a banked star and the
    * active remainder throws rather than mislabeling. ON by default (after
    * a soak round of byte-identical gates and a 2× 10M-edge smoke win):
    * identical output either way, the flag only trades per-round freeze
    * overhead against skewed-tail round cost (wins when rounds >> 3).
    * Small graphs need no opt-out: below `freezeMinEdges` initial edges
    * (default [[FreezeMinEdges]]) the freeze is skipped automatically,
    * since those rounds are scheduling-bound and freezing only adds jobs.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50, freezeStars: Boolean = true,
      freezeMinEdges: Long = FreezeMinEdges): DataFrame = {
    val spark = pairs.sparkSession
    val nodes = pairs.select(col(aCol).as("id"))
      .union(pairs.select(col(bCol).as("id"))).distinct()
    // canonical directed form: u = max endpoint, v = min endpoint, no loops.
    // The INITIAL convergence checksum rides this checkpoint's
    // materialization as an observed metric, exactly like the per-round
    // checksums below — a separate checksum(e) action re-scanned the whole
    // canonical edge set once per call for nothing.
    val e0 = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .observe("graft_cc_init",
        count(lit(1)).as("n"), bit_xor(xxhash64(col("u"), col("v"))).as("x"))
    var e = e0.localCheckpoint(eager = true)
    // freezeStars: labels banked so far for components retired from the
    // active edge set (empty on the default path)
    var banked = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u",
          e.schema("u").dataType),
        org.apache.spark.sql.types.StructField("__c",
          e.schema("v").dataType))))

    def checksum(d: DataFrame): (Long, Long) = {
      // bit_xor: order-insensitive and overflow-free under ANSI mode
      // (a sum of xxhash64 longs overflows)
      val r = d.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var prev = e0.queryExecution.observedMetrics.get("graft_cc_init") match {
      case Some(r) => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      case None => checksum(e) // metrics missing on this action type: pay the scan
    }
    // Freezing retires finished components so LATE rounds of a skewed
    // convergence touch only the unconverged remainder — a win when the
    // per-round edge pass is real work (the 10M-edge smoke: 2×). Below
    // `freezeMinEdges` every round is scheduling-floor-bound, so the
    // freeze's extra per-round checkpoint job IS the round cost: the
    // sf0.1 clustered gates spent ~2 jobs/round against 1 for the plain
    // path with zero compute to save. Output is identical either way
    // (the flag only moves work between rounds — OperatorsSpec pins
    // equality with the threshold forced both ways), so smallness
    // auto-disables the machinery rather than the caller guessing.
    val doFreeze = freezeStars && prev._1 >= freezeMinEdges
    var round = 0
    var converged = prev._1 == 0L
    while (!converged && round < maxRounds) {
      val roundT0 = System.nanoTime()
      // large-star: m(x) = min(Γ(x) ∪ {x}); every strictly-larger neighbor
      // of x re-hangs onto m(x). Both passes shuffle on the SAME key (x),
      // so the groupBy's exchange is reused by the join. NO distinct here:
      // duplicate (u, v) rows leave the small-star min-aggregates unchanged
      // and the round-end distinct canonicalizes — a full extra shuffle per
      // round bought nothing (measured on the 10M-edge smoke).
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mL = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u").as("x"), least(col("u"), col("mv")).as("m"))
      val ls = sym.join(mL, sym("u") === mL("x"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      // small-star: per u over its (all-smaller) neighborhood N(u),
      // m = min(N(u)); re-hang N(u) ∪ {u} \ {m} onto m.
      val mS = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      // the convergence checksum rides the checkpoint materialization as an
      // OBSERVED metric — no separate per-round action re-scanning the
      // edge set (was one full extra pass per round)
      val obs = ls.join(mS.select(col("u").as("x"), col("m")), ls("u") === col("x"))
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mS.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
        .observe(s"graft_cc_$round",
          count(lit(1)).as("n"), bit_xor(xxhash64(col("u"), col("v"))).as("x"))
      val ss = obs.localCheckpoint(eager = true)
      val cur = obs.queryExecution.observedMetrics.get(s"graft_cc_$round") match {
        case Some(r) => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        case None => checksum(ss) // metrics missing on this action type: pay the scan
      }
      // always attempt the freeze when enabled: "did anything finish" has
      // no cheaper reliable signal — the edge COUNT is invariant on exactly
      // the shapes that matter (a star keeps its edges, an n-node chain
      // keeps n-1 edges through every contraction round), so a count-gated
      // freeze silently degenerates to the default path (measured: the 10M
      // smoke regressed 155 → 275 s under a count gate because round 0
      // froze nothing)
      if (doFreeze && cur._1 > 0L) {
        // Retire FINISHED components from the active set. A star rooted at
        // r is a complete original component iff it is isolated in the
        // current edge set (the round transformations preserve
        // connectivity, so an isolated star cannot merge with anything
        // later): every member x of r (x, r) touches nothing else
        // (out-degree 1, in-degree 0) and r has no outgoing edge. The
        // test is per-ROOT, not per-edge — one impure in-edge keeps the
        // whole star active (freezing (x, r) while (y, r) stays would
        // label r twice; the final count==count_distinct check would
        // throw, but the per-root min() makes the case unreachable).
        val deg = ss.select(col("u").as("n"), lit(1L).as("o"))
          .union(ss.select(col("v").as("n"), lit(0L).as("o")))
          .groupBy(col("n")).agg(sum(col("o")).as("outd"), count(lit(1)).as("d"))
        val em = ss
          .join(deg.select(col("n").as("u"), col("outd").as("__uo"), col("d").as("__ud")),
            Seq("u"))
          .join(deg.select(col("n").as("v"), col("outd").as("__vo")), Seq("v"))
        val rootFrozen = em.groupBy(col("v"))
          .agg(min(col("__uo") === 1L && col("__ud") === 1L && col("__vo") === 0L)
            .as("__frozen"))
        // ann is persisted, not checkpointed: the active-set pass below
        // materializes it, and the banked side then reads the SAME cached
        // rows at final-assembly time — banking costs no per-round action
        // (an eager banked checkpoint re-wrote ~|nodes| label rows every
        // round; the labels are only ever read once, at the end)
        val ann = graft.CacheScope.persist(em.join(rootFrozen, Seq("v")))
        // active-set size rides the checkpoint materialization as an
        // observed metric — convergence by emptiness costs no extra action
        val activeObs = ann.where(!col("__frozen")).select(col("u"), col("v"))
          .observe(s"graft_cc_active_$round",
            count(lit(1)).as("n"), bit_xor(xxhash64(col("u"), col("v"))).as("x"))
        val active = activeObs.localCheckpoint(eager = true)
        val frozen = ann.where(col("__frozen"))
        banked = banked
          .unionByName(frozen.select(col("u"), col("v").as("__c")))
          .unionByName(frozen.select(col("v").as("u"), col("v").as("__c")).distinct())
        val curActive = activeObs.queryExecution.observedMetrics
          .get(s"graft_cc_active_$round") match {
            case Some(r) => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
            case None => checksum(active)
          }
        converged = curActive._1 == 0L || curActive == prev
        if (sys.env.contains("GRAFT_CC_DEBUG"))
          System.err.println(s"[cc] round=$round edges=${cur._1} active=${curActive._1} " +
            f"${(System.nanoTime() - roundT0) / 1e9}%.2f s")
        prev = curActive
        e = active
      } else {
        converged = cur == prev
        if (sys.env.contains("GRAFT_CC_DEBUG"))
          System.err.println(s"[cc] round=$round edges=${cur._1} " +
            f"${(System.nanoTime() - roundT0) / 1e9}%.2f s")
        prev = cur
        e = ss
      }
      round += 1
    }
    // star contraction converges in O(log²n) rounds, so exhausting
    // maxRounds means something is genuinely wrong (or maxRounds was set
    // absurdly low) — the residual edge set is NOT a star decomposition and
    // extracting labels from it would return wrong components with no
    // signal. Fail loudly instead of silently mislabeling.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds " +
          s"(edge checksum still changing: $prev); raise maxRounds")
    lastCcRounds.set(round) // observability: smokes assert O(log n) rounds
    // converged edge set is a union of stars (u → component root): roots
    // appear only on the right, every other node exactly once on the left
    // (min() guards the invariant rather than assuming it)
    val residual = e.groupBy(col("u")).agg(min(col("v")).as("__c"))
    if (!freezeStars)
      nodes.join(residual, nodes("id") === residual("u"), "left")
        .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
    else {
      // per-freeze exactness gate, riding the result plan itself: banked
      // labels and the residual extraction must be DISJOINT — a star
      // frozen while one of its nodes was still active would label that
      // node twice, and silently picking either label could be wrong. The
      // join output is partitioned by the join key, so the per-id
      // duplicate count is a reuse-the-exchange hash-agg (no extra shuffle
      // and no extra action), and it throws on EVERY evaluation of the
      // returned frame, not just once at build time.
      val labels = residual.unionByName(banked)
      // raw (non-distinct) endpoints: the per-id aggregate below collapses
      // the repetition anyway, so the distinct's full-edge-set exchange
      // would be paid for nothing — count_distinct (not count) keeps the
      // duplicate-label guard exact under the repeated join rows
      val nodesRaw = pairs.select(col(aCol).as("id"))
        .union(pairs.select(col(bCol).as("id")))
      nodesRaw.join(labels, nodesRaw("id") === labels("u"), "left")
        .groupBy(col("id"))
        .agg(min(col("__c")).as("__c"), count_distinct(col("__c")).as("__k"))
        .select(col("id"),
          when(col("__k") > 1, raise_error(concat(
            lit("connectedComponents(freezeStars): node "), col("id").cast("string"),
            lit(" received multiple labels — a frozen star overlapped the active " +
              "set; this is a bug in the freeze criterion, rerun with " +
              "freezeStars = false"))).cast(nodesRaw.schema("id").dataType))
          .otherwise(coalesce(col("__c"), col("id"))).as("component"))
    }
  }

  // ---- persisted cluster-label store (incremental CC maintenance) ---------

  /** Latest-wins view of a cluster-label store: one `(id, component)` row
    * per id, resolved by the max update seq — the same max_by-shaped
    * partial aggregation as the feature store's latest-version dedup (A1),
    * so hot ids combine map-side and no window sort exists.
    */
  def loadClusterLabels(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.StoreCommit.read(spark, path)
      .groupBy(col("id"))
      .agg(max(struct(col("seq"), col("component"))).as("__l"))
      .select(col("id"), col("__l").getField("component").as("component"))

  /** Initialize a cluster-label store at `path` from a pair set: labels =
    * [[connectedComponents]] (component = min member id), written under
    * `path/batch=base` with seq 0. The store invariant every update
    * preserves: the latest-wins view IS the min-id CC labeling of every
    * edge ever fed in — which is what makes [[updateClusterStore]]'s
    * touched-components-only recompute equal to the one-shot answer.
    */
  def buildClusterStore(pairs: DataFrame, aCol: String, bCol: String,
      path: String): Unit =
      graft.StoreCommit.rebuild(pairs.sparkSession, path) {
    writeStoreBatch(connectedComponents(pairs, aCol, bCol)
      .select(col("id"), col("component"), lit(0L).as("seq")), path, "base")
  }

  /** Fold a NEW batch of near-dup pairs (e.g. [[incrementalNearDupPairs]]'
    * output) into the label store WITHOUT re-clustering the corpus: only
    * components actually touched by the new pairs are recomputed. The new
    * pairs' endpoints look up their current components; every stored
    * member of those components re-enters a local CC as (id → component)
    * edges together with the new pairs; the resulting labels (min member
    * id, merges collapsing to the global min) are appended under
    * `path/batch=<token>` with the next seq, shadowing the affected ids'
    * old rows in the latest-wins view. Untouched components never leave
    * their parquet files. Returns the appended label frame.
    *
    * Cost ∝ touched components' size + new pairs — not corpus size: the
    * member lookup prunes the store scan with the affected-component set
    * ([[probePrune]]'s guarded broadcast), and the CC rounds run on that
    * slice only. Replay: re-running with the SAME token overwrites its
    * batch dir and recomputes the same seq, but only as the MOST RECENT
    * batch (a crash-retry), not after later updates have landed.
    */
  def updateClusterStore(newPairs: DataFrame, aCol: String, bCol: String,
      path: String,
      batchToken: String = java.util.UUID.randomUUID.toString): DataFrame =
      graft.StoreLock.withLock(newPairs.sparkSession, path) {
    val spark = newPairs.sparkSession
    require(batchToken != "base", "batchToken 'base' is reserved for the build")
    // a crashed prior attempt of THIS token may have left a partial batch
    // dir; its half-visible labels would poison the touched-component
    // lookup (a member shadowed into the merged component while a sibling
    // is not → the sibling silently keeps its stale label). Replay starts
    // from a clean slate instead (marker first: racing probes must stop
    // seeing the dir BEFORE it is deleted).
    graft.StoreCommit.dropBatch(spark, path, batchToken)
    // prune the RAW store BEFORE any latest-wins aggregation — the full
    // [[loadClusterLabels]] view would cost a corpus-sized hash-agg per
    // update. The prune is exact because membership is MONOTONE: edges are
    // only ever added, so an id never leaves its cluster; its label only
    // changes when its whole component retires into a merge, which retires
    // that component name for every member at once. Hence (a) an id's
    // rows all agree with its current component once that component is
    // current for anyone, and (b) component-pruned rows can never carry a
    // stale name that is still current elsewhere.
    val raw = graft.StoreCommit.read(spark, path)
    def latest(slice: DataFrame): DataFrame = slice
      .groupBy(col("id"))
      .agg(max(struct(col("seq"), col("component"))).as("__l"))
      .select(col("id"), col("__l").getField("component").as("component"))
    val ends = newPairs.select(col(aCol).as("id"))
      .union(newPairs.select(col(bCol).as("id"))).distinct()
    val nEnds = ends.count()
    val touched = latest(probePrune(raw, ends, Seq("id"), nEnds))
      .select(col("component")).distinct()
    val nTouched = touched.count()
    // every stored member of a touched component re-enters as an
    // (id, component) edge: component ids are min member ids, so they are
    // real nodes and min-id canonicalization stays consistent globally
    val memberEdges = latest(probePrune(raw, touched, Seq("component"), nTouched))
      .select(col("id").as(aCol), col("component").as(bCol))
    // checkpoint the CC input: it is bounded (touched members + new pairs),
    // CC is iterative over it anyway, and the probe-join lineage trips
    // Catalyst's Union constraint rewrite inside the CC loop
    val ccInput = newPairs.select(col(aCol), col(bCol)).unionByName(memberEdges)
      .localCheckpoint(eager = true)
    val fresh = connectedComponents(ccInput, aCol, bCol)
    // next seq: max over batches OTHER than this token, +1 — deterministic
    // under immediate crash-retry of the same token
    val seqRow = graft.StoreCommit.read(spark, path)
      .where(col("batch") =!= batchToken)
      .agg(coalesce(max(col("seq")), lit(-1L))).head()
    val seq = seqRow.getLong(0) + 1L
    val out = fresh.select(col("id"), col("component"), lit(seq).as("seq"))
    writeStoreBatch(out, path, batchToken)
    out
  }

  /** Compact a cluster-label store: many shadowing update batches collapse
    * to one `batch=base` of the latest-wins view at seq 0. NOT
    * [[compactIdStore]] — label batches intentionally overlap on id
    * (later batches shadow earlier rows), so compaction must resolve the
    * latest-wins view first, not just union the dirs. Same crash-safe
    * rebuild-dst-then-swap contract as the other compactors.
    */
  def compactClusterStore(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit =
    graft.StoreCommit.compact(spark, srcPath, dstPath)(_.write(
      loadClusterLabels(spark, srcPath)
        .select(col("id"), col("component"), lit(0L).as("seq"))))

  /** Per-cluster KEEP-BEST representative selection: every doc labeled with
    * its near-dup component ([[connectedComponents]] over `pairs`; docs in
    * no pair are their own singleton component) and a `keep` flag — true on
    * exactly one doc per component, the highest-`scoreCol` one, ties to the
    * min id. Dedup-by-min-id ([[semanticDedupKeep]] et al.) throws away
    * dup groups' BEST copy whenever quality varies within a group; at
    * curation time the kept representative should be chosen by the same
    * quality signal the pipeline already scores (LM surprise, classifier,
    * length) — this operator is that selection, composable with any pair
    * generator (minhash / simhash / winnowing / embedding).
    *
    * Scale: no windows — a boilerplate mega-cluster must not serialize
    * through one task's sort. Winner selection is two partial-aggregable
    * hash-agg shuffles on the component key (max score, then min id among
    * the score-ties), both map-side combinable, so a hot component costs
    * its share of rows, not a single-partition sort. Score-null rows lose
    * to any scored sibling (null-safe equality keeps all-null components
    * from vanishing: their min id wins).
    */
  def clusterKeepBest(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      freezeStars: Boolean = true): DataFrame =
    clusterKeepBestFromLabels(docs, idCol, scoreCol,
      connectedComponents(pairs, aCol, bCol, freezeStars = freezeStars))

  /** [[clusterKeepBest]] over PRECOMPUTED `(id, component)` labels — e.g.
    * the incremental label store's latest-wins view
    * ([[loadClusterLabels]]), so a curation pass never re-clusters the
    * corpus the store already maintains. Docs absent from the labels are
    * their own singleton components.
    */
  def clusterKeepBestFromLabels(docs: DataFrame, idCol: String,
      scoreCol: String, labels: DataFrame): DataFrame = {
    val cc = labels.select(col("id").as("__ck_id"), col("component"))
    val labeled = docs
      .select(col(idCol).as("__ck_id"), col(scoreCol).as("__ck_score"))
      .join(cc, Seq("__ck_id"), "left")
      .withColumn("component", coalesce(col("component"), col("__ck_id")))
    val maxS = labeled.groupBy(col("component"))
      .agg(max(col("__ck_score")).as("__ck_max"))
    val winners = labeled.join(maxS, Seq("component"))
      .where(col("__ck_score") <=> col("__ck_max"))
      .groupBy(col("component")).agg(min(col("__ck_id")).as("__ck_keep"))
    labeled.join(winners, Seq("component"))
      .select(col("__ck_id").as(idCol), col("component"),
        (col("__ck_id") === col("__ck_keep")).as("keep"))
  }
}

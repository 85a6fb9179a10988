package graft.streaming

import graft.api.FeatureStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.sql.Timestamp

/** Structured-Streaming operators over the same storage layout and semantics
  * as the batch path. The reference has no streaming (SURVEY §2.2) — its
  * append + created_time versioning is a batch approximation of an upsert
  * stream; these operators make that stream real:
  *
  *  - [[StreamingOps.ingestAvailableNow]]: stream → the exact batch write
  *    path (quality gate included) via foreachBatch, so batch and streaming
  *    ingest produce byte-identical storage.
  *  - [[StreamingOps.windowedCounts]]: watermarked tumbling-window agg.
  *  - [[StreamingOps.dedupedStream]]: watermark-bounded streaming dedup —
  *    the streaming analogue of the read-time latest-version dedup.
  *  - [[StreamingOps.sessionizeStateful]]: custom state machine via
  *    flatMapGroupsWithState (session windows with an inactivity gap);
  *    [[StreamingOps.sessionizeBatch]] is the batch-equivalent oracle path.
  */
object StreamingOps {

  case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long)
  case class SessionState(start: Long, end: Long, n: Long) // micros (encoder codegen needs public access)

  // Timestamp <-> microseconds without precision loss (getTime alone is ms)
  private def toMicros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000 * 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  /** Stream a (time,value,...) frame into a feature through the full batch
    * save path — validation, coercion, partitioning, append — one batch per
    * micro-batch. AvailableNow drains the source then stops, giving
    * deterministic catch-up ingest; swap the trigger for continuous ingest.
    *
    * `compactEvery` > 0 runs the store-maintenance rewrite
    * ([[graft.api.FeatureStore.compactFeature]]) every that-many
    * micro-batches — the policy knob for the append-per-trigger
    * fragmentation this ingest path creates (each trigger lands a
    * part-file set per touched partition; at trigger cadence scan cost
    * grows with file count). Compaction preserves every version, runs
    * under the store lock, and a replayed micro-batch composes fine with
    * it (the batch save is an append; compaction only rewrites files).
    * 0 disables (the default — maintenance cadence is a deployment
    * decision; AvailableNow callers often prefer one compaction after the
    * drain instead).
    */
  def ingestAvailableNow(fs: FeatureStore, stream: DataFrame, feature: String,
      checkpoint: String, compactEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) fs.saveDf(batch, name = Some(feature))
        // cadence check OUTSIDE the emptiness guard: an empty micro-batch
        // landing exactly on the boundary must not silently skip a
        // maintenance cycle (compaction of an already-compact store is a
        // listing-only no-op, so firing on an empty trigger is free)
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0) {
          fs.compactFeature(feature); ()
        }
      }
      .start()

  /** Paced file-stream source: bounds every micro-batch to
    * `maxFilesPerTrigger` files, so a catch-up ingest over a deep backlog
    * drains in bounded-size batches instead of one giant batch that swamps
    * executor memory and starves concurrent queries — the production
    * ingest-pacing knob. Composes with both triggers: AvailableNow drains
    * the whole backlog in paced steps then stops; ProcessingTime paces a
    * live tail. Schema must be given explicitly (streaming sources do not
    * infer).
    */
  def pacedFileSource(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType, format: String = "parquet",
      maxFilesPerTrigger: Int = 16): DataFrame = {
    require(maxFilesPerTrigger > 0, "maxFilesPerTrigger must be positive")
    spark.readStream.format(format).schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(path)
  }

  /** Continuous ingest: same exact batch write path as
    * [[ingestAvailableNow]] but on a ProcessingTime trigger, for a live
    * source that never drains. Pair with [[pacedFileSource]] to bound the
    * per-trigger batch size.
    */
  def ingestProcessingTime(fs: FeatureStore, stream: DataFrame, feature: String,
      checkpoint: String, interval: String = "30 seconds",
      compactEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) fs.saveDf(batch, name = Some(feature))
        // cadence check OUTSIDE the emptiness guard: an empty micro-batch
        // landing exactly on the boundary must not silently skip a
        // maintenance cycle (compaction of an already-compact store is a
        // listing-only no-op, so firing on an empty trigger is free)
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0) {
          fs.compactFeature(feature); ()
        }
      }
      .start()

  /** Stream a (keys... + time + value) frame into an entity-keyed feature
    * through the batch keyed save path — the per-entity twin of
    * [[ingestAvailableNow]].
    */
  def ingestKeyedAvailableNow(fs: FeatureStore, stream: DataFrame, feature: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) fs.saveKeyed(feature, batch)
      }
      .start()

  /** Continuous-crawl dedup: probe each micro-batch of new documents
    * against the persisted minhash store, write discovered pairs to
    * `pairsOut/batch=<id>`, THEN write the batch's own signatures to
    * `storePath/batch=<id>` — so later micro-batches dedup against earlier
    * ones as well as the base corpus. Any near-dup pair is discovered
    * exactly once (when its later member's batch is probed), so the
    * drained pair set equals the one-shot batch probe of the whole stream.
    * AvailableNow + a paced source gives deterministic catch-up; swap the
    * trigger for a live tail.
    *
    * Retry-safe: both writes are per-batch-dir OVERWRITES keyed by the
    * micro-batch id (a replayed batch rewrites its own dirs instead of
    * appending duplicates), and the probe EXCLUDES the batch's own store
    * dir (present when the crash landed between the store write and the
    * checkpoint commit) so a replay never pairs a doc with its own
    * half-committed signatures. Signatures are computed ONCE per batch and
    * shared by the probe and the store write; the batch's tracked operator
    * caches are released before the next micro-batch (a live tail would
    * otherwise accumulate one persisted frame per batch forever).
    */
  def dedupIncrementalAvailableNow(stream: DataFrame, idCol: String,
      textCol: String, storePath: String, pairsOut: String,
      checkpoint: String, shingleK: Int = 3, bands: Int = 32,
      rowsPerBand: Int = 4, thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxBucket: Int = 1000): StreamingQuery =
    dedupIncremental(stream, idCol, textCol, storePath, pairsOut, checkpoint,
      Trigger.AvailableNow(), shingleK, bands, rowsPerBand, thresholdNum,
      thresholdDen, maxBucket)

  /** [[dedupIncrementalAvailableNow]] as a LIVE TAIL: same per-micro-batch
    * probe-then-append semantics under a ProcessingTime trigger — the query
    * keeps running and dedups new crawl files as they land. The per-batch
    * scoped cache release is what makes this safe to run indefinitely
    * (each batch's persisted signature/candidate frames are dropped before
    * the next batch; without the scope a live tail accumulates one pinned
    * frame per batch forever).
    */
  def dedupIncrementalProcessingTime(stream: DataFrame, idCol: String,
      textCol: String, storePath: String, pairsOut: String,
      checkpoint: String, interval: String = "1 second", shingleK: Int = 3,
      bands: Int = 32, rowsPerBand: Int = 4, thresholdNum: Int = 1,
      thresholdDen: Int = 2, maxBucket: Int = 1000): StreamingQuery =
    dedupIncremental(stream, idCol, textCol, storePath, pairsOut, checkpoint,
      Trigger.ProcessingTime(interval), shingleK, bands, rowsPerBand,
      thresholdNum, thresholdDen, maxBucket)

  private def dedupIncremental(stream: DataFrame, idCol: String,
      textCol: String, storePath: String, pairsOut: String,
      checkpoint: String, trigger: Trigger, shingleK: Int, bands: Int,
      rowsPerBand: Int, thresholdNum: Int, thresholdDen: Int,
      maxBucket: Int): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          // scoped release: only the caches THIS batch creates are dropped
          // at the end — a live-tail driver's own operator caches survive
          val scope = graft.CacheScope.snapshot()
          val fresh = graft.CacheScope.persist(graft.operators.DedupOps
            .sigAndHashes(batch, idCol, textCol, shingleK, bands * rowsPerBand))
          // cold start (no [[DedupOps.buildMinhashStore]] base yet): bootstrap
          // from an empty store-shaped frame instead of failing on the read —
          // the first batch then finds only its own internal pairs and seeds
          // the store for later batches
          // committed-read: probe only batches whose commit marker landed
          // (minus a replayed batch's own dir) — visibleTokens doubles as
          // the cold-start test, so a store root holding only _commits or
          // only this batch's crashed dir bootstraps empty instead of
          // wedging on schema inference
          val others = graft.StoreCommit.visibleTokens(spark, storePath)
            .filter(_ != s"b$bid")
          val old =
            if (others.nonEmpty)
              graft.StoreCommit.read(spark, storePath)
                .where(col("batch") =!= s"b$bid")
            else fresh.limit(0)
          graft.operators.DedupOps
            .incrementalPairsFromSigs(fresh, old, bands, rowsPerBand,
              thresholdNum, thresholdDen, maxBucket)
            .write.mode("overwrite").parquet(s"$pairsOut/batch=b$bid")
          graft.operators.DedupOps.writeMinhashStreamBatch(fresh, storePath,
            s"b$bid", bands * rowsPerBand)
          graft.CacheScope.releaseNewSince(scope)
          ()
        }
      }
      .start()

  /** Streaming EMBEDDING near-dup maintenance: each micro-batch finds its
    * exact cosine pairs against the persisted vector store
    * ([[graft.operators.SimilarityOps.incrementalCosinePairs]] — batch
    * broadcast over one store pass, batch-internal pairs via the blocked
    * cartesian), writes them under `pairsOut/batch=b<id>`, then appends
    * its prepped vectors. Replay-safe: a replayed batch overwrites its
    * own store dir before any read, so its prior vectors never pair
    * against itself. Cold start seeds the store from batch one.
    */
  def embNearDupAvailableNow(stream: DataFrame, idCol: String,
      vecCol: String, storePath: String, pairsOut: String,
      checkpoint: String, minCosine: Double): StreamingQuery =
    embNearDupStream(stream, idCol, vecCol, storePath, pairsOut, checkpoint,
      Trigger.AvailableNow(), minCosine)

  /** [[embNearDupAvailableNow]] as a LIVE TAIL (ProcessingTime trigger). */
  def embNearDupProcessingTime(stream: DataFrame, idCol: String,
      vecCol: String, storePath: String, pairsOut: String,
      checkpoint: String, interval: String = "1 second",
      minCosine: Double = 0.8): StreamingQuery =
    embNearDupStream(stream, idCol, vecCol, storePath, pairsOut, checkpoint,
      Trigger.ProcessingTime(interval), minCosine)

  private def embNearDupStream(stream: DataFrame, idCol: String,
      vecCol: String, storePath: String, pairsOut: String,
      checkpoint: String, trigger: Trigger, minCosine: Double): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val scope = graft.CacheScope.snapshot()
          // drop a replayed batch's own half-committed store dir BEFORE
          // the probe reads the store
          graft.StoreCommit.dropBatch(spark, storePath, s"b$bid")
          // cold start is decided by OTHER COMMITTED batch dirs, not bare
          // dir existence: a batch-0 crash-retry leaves storePath present
          // but empty after its own dir is dropped, and reading it would
          // throw schema inference and wedge the stream permanently
          val hasOthers = graft.StoreCommit.visibleTokens(spark, storePath)
            .exists(_ != s"b$bid")
          val pairs =
            if (hasOthers)
              graft.operators.SimilarityOps.incrementalCosinePairs(
                batch, idCol, vecCol, storePath, minCosine)
            else
              graft.operators.SimilarityOps.cosineNearDupPairs(
                batch, idCol, vecCol, minCosine)
          pairs.write.mode("overwrite").parquet(s"$pairsOut/batch=b$bid")
          graft.operators.SimilarityOps.appendEmbStore(
            batch, idCol, vecCol, storePath, s"b$bid")
          graft.CacheScope.releaseNewSince(scope)
          ()
        }
      }
      .start()

  /** Streaming winnow-store maintenance — the MOSS/containment member of
    * the streaming dedup family: each micro-batch probes the persisted
    * winnowing-fingerprint store for containment pairs touching the batch
    * ([[graft.operators.DedupOps.incrementalWinnowingPairs]], with the
    * batch's own replayed dirs excluded so foreachBatch retries are
    * exactly-once), writes them under `pairsOut/batch=b<id>`, then appends
    * the batch's fingerprints ([[graft.operators.DedupOps.appendWinnowStore]]).
    * Cold start seeds the store from the first batch (its internal pairs
    * come from the one-shot pair path at the same parameters). NOTE the
    * stop-fingerprint cut is evaluated against the doc frequency KNOWN AT
    * PROBE TIME — a fingerprint that later crosses `maxDocFreq` keeps the
    * pairs it emitted before crossing (drain == one-shot only while no
    * fingerprint crosses the cap mid-stream; at the default cap that needs
    * a 1000-doc boilerplate run, which the batch path would cut too).
    */
  def winnowAvailableNow(stream: DataFrame, idCol: String, textCol: String,
      storePath: String, pairsOut: String, checkpoint: String,
      k: Int = 4, w: Int = 5, minShared: Int = 2,
      maxDocFreq: Int = 1000): StreamingQuery =
    winnowStream(stream, idCol, textCol, storePath, pairsOut, checkpoint,
      Trigger.AvailableNow(), k, w, minShared, maxDocFreq)

  /** [[winnowAvailableNow]] as a LIVE TAIL (ProcessingTime trigger); the
    * per-batch scoped cache release keeps an indefinite tail safe. */
  def winnowProcessingTime(stream: DataFrame, idCol: String, textCol: String,
      storePath: String, pairsOut: String, checkpoint: String,
      interval: String = "1 second", k: Int = 4, w: Int = 5,
      minShared: Int = 2, maxDocFreq: Int = 1000): StreamingQuery =
    winnowStream(stream, idCol, textCol, storePath, pairsOut, checkpoint,
      Trigger.ProcessingTime(interval), k, w, minShared, maxDocFreq)

  private def winnowStream(stream: DataFrame, idCol: String, textCol: String,
      storePath: String, pairsOut: String, checkpoint: String,
      trigger: Trigger, k: Int, w: Int, minShared: Int,
      maxDocFreq: Int): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val scope = graft.CacheScope.snapshot()
          val mp = new org.apache.hadoop.fs.Path(s"$storePath/meta")
          val pairs =
            if (mp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(mp))
              graft.operators.DedupOps.incrementalWinnowingPairs(
                batch, idCol, textCol, storePath, k, w, minShared, maxDocFreq,
                excludeBatch = Some(s"b$bid"))
            else
              graft.operators.DedupOps.winnowingPairs(
                batch, idCol, textCol, k, w, minShared, maxDocFreq)
          pairs.write.mode("overwrite").parquet(s"$pairsOut/batch=b$bid")
          graft.operators.DedupOps.appendWinnowStore(
            batch, idCol, textCol, storePath, k, w, s"b$bid")
          graft.CacheScope.releaseNewSince(scope)
          ()
        }
      }
      .start()

  /** Streaming BOILERPLATE-census maintenance: each micro-batch is
    * stripped of lines the persisted census
    * ([[graft.operators.DedupOps.buildLineStore]]) has already seen
    * `minCount`+ times, written to `cleanOut/batch=b<id>`, and THEN the
    * batch's own line counts append — strip-then-count, so the decision
    * for a batch depends only on the corpus seen before it (deterministic
    * given the batch order; the cold-start batch strips nothing and seeds
    * the census). Replayed batches overwrite their own census dir (the
    * additive sum never double-counts) and their output dir.
    */
  def boilerplateAvailableNow(stream: DataFrame, idCol: String,
      textCol: String, censusPath: String, cleanOut: String,
      checkpoint: String, minCount: Long = 2,
      delim: String = "\n"): StreamingQuery =
    boilerplateStream(stream, idCol, textCol, censusPath, cleanOut,
      checkpoint, Trigger.AvailableNow(), minCount, delim)

  /** [[boilerplateAvailableNow]] as a LIVE TAIL (ProcessingTime trigger);
    * per-batch scoped cache release keeps an indefinite tail safe. */
  def boilerplateProcessingTime(stream: DataFrame, idCol: String,
      textCol: String, censusPath: String, cleanOut: String,
      checkpoint: String, interval: String = "1 second", minCount: Long = 2,
      delim: String = "\n"): StreamingQuery =
    boilerplateStream(stream, idCol, textCol, censusPath, cleanOut,
      checkpoint, Trigger.ProcessingTime(interval), minCount, delim)

  private def boilerplateStream(stream: DataFrame, idCol: String,
      textCol: String, censusPath: String, cleanOut: String,
      checkpoint: String, trigger: Trigger, minCount: Long,
      delim: String): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val scope = graft.CacheScope.snapshot()
          // excludeBatch drops the batch's OWN census dir from the strip:
          // a crash between the append below and the checkpoint commit
          // would otherwise let a replayed batch's own counts strip it
          graft.operators.DedupOps.removeFrequentLinesStoredExcluding(
              batch, idCol, textCol, censusPath, minCount, delim,
              excludeBatch = Some(s"b$bid"))
            .write.mode("overwrite").parquet(s"$cleanOut/batch=b$bid")
          graft.operators.DedupOps.appendLineStore(
            batch, idCol, textCol, censusPath, delim, s"b$bid")
          graft.CacheScope.releaseNewSince(scope)
          ()
        }
      }
      .start()

  /** Streaming CLUSTER maintenance — the label-store capstone of the
    * incremental dedup family: every micro-batch probes the minhash store
    * for its near-dup pairs ([[graft.operators.DedupOps.incrementalPairsFromSigs]]),
    * appends its signatures, and folds the pairs into the persisted
    * cluster-label store ([[graft.operators.DedupOps.updateClusterStore]])
    * — so at any moment between batches the store's latest-wins view IS
    * the connected-components labeling of every near-dup pair the corpus
    * has ever produced, without any batch re-clustering the corpus. Cold
    * start bootstraps both stores empty; a replayed micro-batch overwrites
    * its own signature batch and label batch (exactly-once labels as long
    * as the replay is the most recent batch, the foreachBatch retry case).
    */
  def clustersAvailableNow(stream: DataFrame, idCol: String, textCol: String,
      storePath: String, labelPath: String, checkpoint: String,
      shingleK: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
      thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxBucket: Int = 1000): StreamingQuery =
    clustersStream(stream, idCol, textCol, storePath, labelPath, checkpoint,
      Trigger.AvailableNow(), shingleK, bands, rowsPerBand, thresholdNum,
      thresholdDen, maxBucket)

  /** [[clustersAvailableNow]] as a LIVE TAIL (ProcessingTime trigger):
    * cluster labels stay current as new crawl files land. Per-batch scoped
    * cache release keeps an indefinite tail safe, as in the other tails.
    */
  def clustersProcessingTime(stream: DataFrame, idCol: String, textCol: String,
      storePath: String, labelPath: String, checkpoint: String,
      interval: String = "1 second", shingleK: Int = 3, bands: Int = 32,
      rowsPerBand: Int = 4, thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxBucket: Int = 1000): StreamingQuery =
    clustersStream(stream, idCol, textCol, storePath, labelPath, checkpoint,
      Trigger.ProcessingTime(interval), shingleK, bands, rowsPerBand,
      thresholdNum, thresholdDen, maxBucket)

  private def clustersStream(stream: DataFrame, idCol: String, textCol: String,
      storePath: String, labelPath: String, checkpoint: String,
      trigger: Trigger, shingleK: Int, bands: Int, rowsPerBand: Int,
      thresholdNum: Int, thresholdDen: Int, maxBucket: Int): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val scope = graft.CacheScope.snapshot()
          val fresh = graft.CacheScope.persist(graft.operators.DedupOps
            .sigAndHashes(batch, idCol, textCol, shingleK, bands * rowsPerBand))
          // committed-read: probe only batches whose commit marker landed
          // (minus a replayed batch's own dir) — visibleTokens doubles as
          // the cold-start test, so a store root holding only _commits or
          // only this batch's crashed dir bootstraps empty instead of
          // wedging on schema inference
          val others = graft.StoreCommit.visibleTokens(spark, storePath)
            .filter(_ != s"b$bid")
          val old =
            if (others.nonEmpty)
              graft.StoreCommit.read(spark, storePath)
                .where(col("batch") =!= s"b$bid")
            else fresh.limit(0)
          val pairs = graft.operators.DedupOps
            .incrementalPairsFromSigs(fresh, old, bands, rowsPerBand,
              thresholdNum, thresholdDen, maxBucket)
            .select(col("id_a"), col("id_b"))
          // label-store cold start: an empty base batch types the store
          // from the batch's id column; later updates shadow it
          val lp = new org.apache.hadoop.fs.Path(labelPath)
          if (!lp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lp))
            graft.operators.DedupOps.writeStoreBatch(
              batch.select(col(idCol).as("id"), col(idCol).as("component"),
                lit(0L).as("seq")).limit(0), labelPath, "base")
          // an empty pair batch has nothing to fold (and CC over an empty
          // edge set is degenerate); the skip replays identically
          if (!pairs.isEmpty)
            graft.operators.DedupOps.updateClusterStore(
              pairs, "id_a", "id_b", labelPath, s"b$bid")
          graft.operators.DedupOps.writeMinhashStreamBatch(fresh, storePath,
            s"b$bid", bands * rowsPerBand)
          graft.CacheScope.releaseNewSince(scope)
          ()
        }
      }
      .start()

  /** Streaming search-index maintenance — the postings-store twin of
    * [[dedupIncrementalAvailableNow]]: every micro-batch of new documents
    * appends to the persisted postings index
    * ([[graft.operators.SearchOps.appendPostingsIndex]]) under the
    * micro-batch id as its batch token, so a replayed batch OVERWRITES its
    * own dirs (index ingest stays effectively exactly-once) and a probe
    * between any two batches sees consistent additive df/N sidecars.
    * Batch ids must be new to the index — crawls assign fresh doc ids;
    * dedup upstream (e.g. [[curateAvailableNow]]) before indexing.
    */
  def indexAvailableNow(stream: DataFrame, idCol: String, textCol: String,
      path: String, checkpoint: String): StreamingQuery =
    indexStream(stream, idCol, textCol, path, checkpoint,
      Trigger.AvailableNow())

  /** [[indexAvailableNow]] as a LIVE TAIL (ProcessingTime trigger): the
    * index keeps absorbing new crawl files as they land; compact
    * periodically ([[graft.operators.SearchOps.compactPostingsIndex]])
    * when the batch-dir count grows. Per-batch scoped cache release keeps
    * an indefinite tail safe, as in the dedup/curation tails.
    */
  def indexProcessingTime(stream: DataFrame, idCol: String, textCol: String,
      path: String, checkpoint: String,
      interval: String = "1 second"): StreamingQuery =
    indexStream(stream, idCol, textCol, path, checkpoint,
      Trigger.ProcessingTime(interval))

  private def indexStream(stream: DataFrame, idCol: String, textCol: String,
      path: String, checkpoint: String, trigger: Trigger): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val scope = graft.CacheScope.snapshot()
          graft.operators.SearchOps.appendPostingsIndex(
            batch, idCol, textCol, path, s"b$bid")
          graft.CacheScope.releaseNewSince(scope)
          ()
        }
      }
      .start()

  /** Streaming ANN-index maintenance: each micro-batch of new vectors is
    * encoded under the PERSISTED PQ index's frozen codebooks and landed as
    * a replay-idempotent `batch=b<id>` code dir
    * ([[graft.operators.SimilarityOps.appendPqIndex]]) — the vector-store
    * analogue of [[indexAvailableNow]]. Codebooks never retrain in-stream
    * (that is a rebuild's job); probes see every drained batch. The id
    * clash check stays ON: it excludes the batch's own token, so replays
    * are idempotent while genuine duplicate ids still fail loudly.
    */
  def annIndexAvailableNow(stream: DataFrame, idCol: String, vecCol: String,
      path: String, checkpoint: String): StreamingQuery =
    annIndexStream(stream, idCol, vecCol, path, checkpoint,
      Trigger.AvailableNow())

  /** [[annIndexAvailableNow]] as a LIVE TAIL (ProcessingTime trigger) for
    * a continuously-growing embedding corpus.
    */
  def annIndexProcessingTime(stream: DataFrame, idCol: String, vecCol: String,
      path: String, checkpoint: String,
      interval: String = "1 second"): StreamingQuery =
    annIndexStream(stream, idCol, vecCol, path, checkpoint,
      Trigger.ProcessingTime(interval))

  private def annIndexStream(stream: DataFrame, idCol: String, vecCol: String,
      path: String, checkpoint: String, trigger: Trigger): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val scope = graft.CacheScope.snapshot()
          graft.operators.SimilarityOps.appendPqIndex(
            batch, idCol, vecCol, path, s"b$bid")
          graft.CacheScope.releaseNewSince(scope)
          ()
        }
      }
      .start()

  /** Streaming curation — the crawl-to-kept-corpus pipeline as a stream:
    * each micro-batch of documents is (1) exact-deduped against the
    * persisted fingerprint store (base corpus + every earlier batch's KEPT
    * docs), (2) run through [[graft.operators.CurationOps.curateKeep]]
    * (in-batch dedup canonical, benchmark decontamination, length and
    * repetition quality cuts), and (3) the kept rows land in
    * `keptOut/batch=<id>` while their fingerprints append to the store —
    * so later batches drop duplicates of anything already kept. Storing
    * KEPT fingerprints only is sufficient: duplicates share text, so a
    * doc whose earlier copy was dropped on quality/contamination fails
    * the same cuts itself.
    *
    * Retry-safe like [[dedupIncrementalAvailableNow]]: both writes are
    * per-batch-dir overwrites keyed by the micro-batch id, the probe
    * excludes the batch's own store dir, fingerprints are computed once
    * per batch, and the batch's tracked caches are scope-released.
    *
    * Scale: the store probe prunes store rows map-side by the batch's
    * broadcast fingerprint set (probe cost ∝ batch + matches, not
    * corpus), and the surviving hit set — bounded by the batch's own
    * distinct fps — broadcasts into an anti join. `bench` is a static
    * frame; [[graft.operators.CurationOps.ngramOverlap]]'s char-bound
    * guard inside curateKeep decides its join side as usual.
    */
  def curateAvailableNow(stream: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, langCol: String, storePath: String, keptOut: String,
      checkpoint: String, k: Int = 4, minTokens: Long = 20,
      maxTopTokenFrac: Double = 0.12): StreamingQuery =
    curateStream(stream, bench, idCol, textCol, langCol, storePath, keptOut,
      checkpoint, Trigger.AvailableNow(), k, minTokens, maxTopTokenFrac)

  /** [[curateAvailableNow]] as a live tail (ProcessingTime trigger) — the
    * per-batch scoped cache release makes it safe to run indefinitely.
    */
  def curateProcessingTime(stream: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, langCol: String, storePath: String, keptOut: String,
      checkpoint: String, interval: String = "1 second", k: Int = 4,
      minTokens: Long = 20, maxTopTokenFrac: Double = 0.12): StreamingQuery =
    curateStream(stream, bench, idCol, textCol, langCol, storePath, keptOut,
      checkpoint, Trigger.ProcessingTime(interval), k, minTokens,
      maxTopTokenFrac)

  private def curateStream(stream: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, langCol: String, storePath: String, keptOut: String,
      checkpoint: String, trigger: Trigger, k: Int, minTokens: Long,
      maxTopTokenFrac: Double): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val scope = graft.CacheScope.snapshot()
          val withFp = graft.CacheScope.persist(batch.withColumn("__fp",
            graft.operators.TextOps.fingerprint(col(textCol))))
          val others = graft.StoreCommit.visibleTokens(spark, storePath)
            .filter(_ != s"b$bid")
          val survivors =
            if (others.nonEmpty) {
              val old = graft.StoreCommit.read(spark, storePath)
                .where(col("batch") =!= s"b$bid")
              val hits = old
                .join(broadcast(withFp.select(col("__fp").as("fp")).distinct()),
                  Seq("fp"), "left_semi")
                .select(col("fp").as("__fp")).distinct()
              withFp.join(broadcast(hits), Seq("__fp"), "left_anti")
            } else withFp
          val kept = graft.CacheScope.persist(
            graft.operators.CurationOps.curateKeep(survivors.drop("__fp"),
              bench, idCol, textCol, langCol, k, minTokens, maxTopTokenFrac))
          kept.write.mode("overwrite").parquet(s"$keptOut/batch=b$bid")
          graft.operators.DedupOps.writeStoreBatch(
            withFp.join(kept.select(col(idCol)), Seq(idCol), "left_semi")
              .select(col(idCol).as("id"), col("__fp").as("fp")),
            storePath, s"b$bid")
          graft.CacheScope.releaseNewSince(scope)
          ()
        }
      }
      .start()

  /** Watermarked tumbling-window counts/sums per key. In append mode only
    * watermark-closed windows emit; `complete` emits everything (used by the
    * deterministic AvailableNow gate query).
    */
  def windowedCounts(events: DataFrame, timeCol: String, keyCol: String,
      windowLen: String, watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowLen).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("bigint")).as("value_cents"))
      .select(col("w.start").as("window_start"), col(keyCol), col("n"), col("value_cents"))

  /** Streaming dedup bounded by a watermark: drops rows whose key was seen
    * within the watermark horizon — state is GC'd as the watermark advances
    * (the unbounded-state version of dropDuplicates never GCs).
    */
  def dedupedStream(events: DataFrame, timeCol: String, keyCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Session windows via explicit state over a BOUNDED input: events within
    * `gap` of each other (per user) form one session. Batch execution hands
    * each key its whole iterator once, so open sessions are flushed at the
    * end — use [[sessionizeStream]] on an unbounded stream (flushing per
    * micro-batch would split sessions at batch boundaries).
    */
  def sessionizeStateful(events: Dataset[SessionEvent], gapMinutes: Int): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          // batch execution hands each key its full iterator once; sort by
          // event time and cut sessions at inactivity gaps
          val sorted = it.toSeq.sortBy(e => toMicros(e.ts))
          val out = scala.collection.mutable.ArrayBuffer[Session]()
          var cur: Option[SessionState] = state.getOption
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            cur match {
              case Some(s) if t - s.end <= gapUs =>
                cur = Some(SessionState(s.start, t, s.n + 1))
              case Some(s) =>
                out += Session(uid, fromMicros(s.start), fromMicros(s.end), s.n)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          // bounded input: flush the open session; on a real stream a
          // timeout would close it instead
          cur.foreach(s => out += Session(uid, fromMicros(s.start), fromMicros(s.end), s.n))
          state.remove()
          out.iterator
      }
  }

  /** TRUE streaming sessionization: state persists across micro-batches;
    * a session closes only when the event-time watermark passes its end +
    * gap (EventTimeTimeout), so sessions spanning micro-batches stay
    * whole. Input must carry a watermark on `ts`.
    */
  def sessionizeStream(events: Dataset[SessionEvent], gapMinutes: Int): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed end+gap: the open session is final
            val s = state.get
            state.remove()
            Iterator.single(Session(uid, fromMicros(s.start), fromMicros(s.end), s.n))
          } else {
            val sorted = it.toSeq.sortBy(e => toMicros(e.ts))
            val out = scala.collection.mutable.ArrayBuffer[Session]()
            var cur: Option[SessionState] = state.getOption
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, t, s.n + 1))
                case Some(s) =>
                  out += Session(uid, fromMicros(s.start), fromMicros(s.end), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end / 1000 + gapMinutes * 60000L)
            }
            out.iterator
          }
      }
  }

  /** Streaming z-layout maintenance: each micro-batch lands as its own
    * batch-locally-clustered, manifested batch of the
    * [[graft.operators.LayoutOps]] table (token `b<id>`). The manifest
    * commit-log contract makes the tail replay-safe: a replayed batch
    * overwrites its own data and manifest dirs, a crashed append's
    * orphan files are invisible until the manifest lands, and readers
    * ([[graft.operators.LayoutOps.readPruned]]) see exactly the batches
    * whose manifests committed. Cold start builds the table (meta + base
    * batch) from the first non-empty micro-batch. Periodic global
    * re-clustering stays a maintenance call
    * ([[graft.operators.LayoutOps.compactZOrdered]]) — pruning is exact
    * regardless, append-heavy tables just skip fewer files.
    */
  def zLayoutAvailableNow(stream: DataFrame, zCols: Seq[String],
      tablePath: String, checkpoint: String, nFiles: Int = 16,
      bits: Int = 21): StreamingQuery =
    zLayoutStream(stream, zCols, tablePath, checkpoint,
      Trigger.AvailableNow(), nFiles, bits)

  /** [[zLayoutAvailableNow]] as a LIVE TAIL (ProcessingTime trigger);
    * per-batch scoped cache release keeps an indefinite tail safe. */
  def zLayoutProcessingTime(stream: DataFrame, zCols: Seq[String],
      tablePath: String, checkpoint: String, interval: String = "1 second",
      nFiles: Int = 16, bits: Int = 21): StreamingQuery =
    zLayoutStream(stream, zCols, tablePath, checkpoint,
      Trigger.ProcessingTime(interval), nFiles, bits)

  private def zLayoutStream(stream: DataFrame, zCols: Seq[String],
      tablePath: String, checkpoint: String, trigger: Trigger,
      nFiles: Int, bits: Int): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val scope = graft.CacheScope.snapshot()
          val mp = new org.apache.hadoop.fs.Path(s"$tablePath/_layout_meta")
          if (mp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(mp))
            graft.operators.LayoutOps.appendZOrdered(
              batch, zCols, tablePath, s"b$bid", nFiles)
          else
            graft.operators.LayoutOps.writeZOrdered(
              batch, zCols, tablePath, nFiles, bits, batchToken = s"b$bid")
          graft.CacheScope.releaseNewSince(scope)
          ()
        }
      }
      .start()

  /** Streaming SCD2 maintenance: each micro-batch of observations folds
    * into the persisted dimension-history store
    * ([[graft.ts.Scd.updateScdStore]]) — open intervals close by
    * latest-wins shadowing, new intervals append, untouched entities
    * cost nothing. Cold start builds the store from the first non-empty
    * batch. The store's arrival contract (strictly after each entity's
    * last observation) holds automatically for a time-ordered source;
    * replayed batches reuse their original seq (idempotent). Between any
    * two micro-batches the resolved view IS the one-shot change capture
    * of everything seen so far.
    */
  def scdAvailableNow(stream: DataFrame, entityCol: String, timeCol: String,
      attrCols: Seq[String], tieCols: Seq[String], storePath: String,
      checkpoint: String): StreamingQuery =
    scdStream(stream, entityCol, timeCol, attrCols, tieCols, storePath,
      checkpoint, Trigger.AvailableNow())

  /** [[scdAvailableNow]] as a LIVE TAIL (ProcessingTime trigger). */
  def scdProcessingTime(stream: DataFrame, entityCol: String, timeCol: String,
      attrCols: Seq[String], tieCols: Seq[String], storePath: String,
      checkpoint: String, interval: String = "1 second"): StreamingQuery =
    scdStream(stream, entityCol, timeCol, attrCols, tieCols, storePath,
      checkpoint, Trigger.ProcessingTime(interval))

  private def scdStream(stream: DataFrame, entityCol: String, timeCol: String,
      attrCols: Seq[String], tieCols: Seq[String], storePath: String,
      checkpoint: String, trigger: Trigger): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val scope = graft.CacheScope.snapshot()
          val mp = new org.apache.hadoop.fs.Path(s"$storePath/meta")
          if (mp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(mp))
            graft.ts.Scd.updateScdStore(batch, storePath, s"b$bid")
          else
            graft.ts.Scd.buildScdStore(batch, entityCol, timeCol, attrCols,
              tieCols, storePath)
          graft.CacheScope.releaseNewSince(scope)
          ()
        }
      }
      .start()

  /** Streaming drift-histogram maintenance: each micro-batch of
    * CURRENT-window observations bins under the REFERENCE store's frozen
    * binning ([[graft.api.FeatureStore.buildHistStore]]) and appends its
    * per-bin counts as one batch dir under `curPath/hist` — histogram
    * counts are ADDITIVE across disjoint batches, so the maintained
    * current histogram is exact at every micro-batch boundary and a
    * replayed batch just overwrites its own dir. [[driftReport]] folds
    * ref + current into the same integer-ppm report as
    * [[graft.api.FeatureStore.profileDrift]].
    */
  def histAvailableNow(stream: DataFrame, valueCol: String, refPath: String,
      curPath: String, checkpoint: String): StreamingQuery =
    histStream(stream, valueCol, refPath, curPath, checkpoint,
      Trigger.AvailableNow())

  /** [[histAvailableNow]] as a LIVE TAIL (ProcessingTime trigger). */
  def histProcessingTime(stream: DataFrame, valueCol: String, refPath: String,
      curPath: String, checkpoint: String,
      interval: String = "1 second"): StreamingQuery =
    histStream(stream, valueCol, refPath, curPath, checkpoint,
      Trigger.ProcessingTime(interval))

  private def histStream(stream: DataFrame, valueCol: String, refPath: String,
      curPath: String, checkpoint: String, trigger: Trigger): StreamingQuery = {
    val meta = stream.sparkSession.read.parquet(s"$refPath/meta").head()
    val (lo, hi, bins) = (meta.getDouble(0), meta.getDouble(1), meta.getInt(2))
    val width = (hi - lo) / bins
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val bin = least(greatest(
            floor((col(valueCol) - lit(lo)) / lit(width)).cast("bigint"),
            lit(0L)), lit((bins - 1).toLong))
          // null/NaN dropped, never silently binned into bin 0 (matches
          // the batch-side FeatureStore binning sites); store MUTATOR ⇒
          // StoreLock like the rest of the persisted-store family
          graft.StoreLock.withLock(batch.sparkSession, curPath) {
            batch.where(col(valueCol).isNotNull && !isnan(col(valueCol)))
              .select(bin.as("bin"))
              .groupBy(col("bin")).agg(count(lit(1)).as("n"))
              .coalesce(1)
              .write.mode("overwrite").parquet(s"$curPath/hist/batch=b$bid")
          }
          ()
        }
      }
      .start()
  }

  /** The drift report from a frozen reference store + a stream-maintained
    * current histogram: identical output to
    * [[graft.api.FeatureStore.profileDrift]] over the same two windows.
    */
  def driftReport(spark: SparkSession, refPath: String,
      curPath: String): DataFrame = {
    val ref = spark.read.parquet(s"$refPath/hist")
    val cur = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$curPath/hist")
      .groupBy(col("bin")).agg(sum(col("n")).as("n_cur"))
    val h = ref.join(cur, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    graft.operators.DriftOps.ppmShares(h, Seq("bin"))
  }

  /** Batch gaps-and-islands sessionization — the SQL-expressible oracle
    * twin of [[sessionizeStateful]].
    */
  def sessionizeBatch(events: DataFrame, timeCol: String, userCol: String,
      gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(timeCol))
    events
      .withColumn("prev", lag(col(timeCol), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev").isNull ||
          unix_micros(col(timeCol)) - unix_micros(col("prev")) > gapMinutes * 60000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_id"))
      .agg(min(col(timeCol)).as("session_start"), max(col(timeCol)).as("session_end"),
        count(lit(1)).as("n_events"))
      .drop("session_id")
  }
}

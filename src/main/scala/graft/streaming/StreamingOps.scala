package graft.streaming

import graft.CacheScope
import graft.StoreCommit
import graft.api.FeatureStore
import graft.operators.{CurationOps, DedupOps, LayoutOps, SearchOps, SimilarityOps}
import graft.ts.TimeUtil
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.sql.Timestamp

/** Structured-Streaming operators over the same storage layout and semantics
  * as the batch path. The reference has no streaming (SURVEY §2.2) — its
  * append + created_time versioning is a batch approximation of an upsert
  * stream; these operators make that stream real:
  *
  *  - [[StreamingOps.ingest]]: stream → the exact batch write path
  *    (quality gate included) via foreachBatch, so batch and streaming
  *    ingest produce byte-identical storage.
  *  - one store maintainer per persisted-store family
  *    ([[StreamingOps.dedupIncremental]], [[StreamingOps.embNearDup]],
  *    [[StreamingOps.winnow]], [[StreamingOps.boilerplate]],
  *    [[StreamingOps.clusters]], [[StreamingOps.index]],
  *    [[StreamingOps.annIndex]], [[StreamingOps.curate]],
  *    [[StreamingOps.zLayout]], [[StreamingOps.scd]],
  *    [[StreamingOps.hist]]): each runs its batch probe/append once per
  *    micro-batch under the `b<id>` batch token.
  *  - [[StreamingOps.windowedCounts]]: watermarked tumbling-window agg.
  *  - [[StreamingOps.dedupedStream]]: watermark-bounded streaming dedup —
  *    the streaming analogue of the read-time latest-version dedup.
  *  - [[StreamingOps.sessionizeStateful]]: custom state machine via
  *    flatMapGroupsWithState (session windows with an inactivity gap);
  *    [[StreamingOps.sessionizeBatch]] is the batch-equivalent oracle path.
  *
  * Every ingest and store maintainer takes the caller's `Trigger`:
  * `Trigger.AvailableNow()` drains the source then stops (deterministic
  * catch-up), `Trigger.ProcessingTime(interval)` keeps a live tail running.
  * Both run the same per-micro-batch code, and each micro-batch's tracked
  * operator caches are released when it ends, also when it fails.
  */
object StreamingOps {

  case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long)
  case class SessionState(start: Long, end: Long, n: Long) // micros (encoder codegen needs public access)

  /** The one micro-batch driver under every ingest and store maintainer:
    * runs `body(batch, token)` for each NON-EMPTY micro-batch, where
    * `token` = `b<batch id>` names the batch's own store dirs (a replayed
    * batch reuses its id, so its writes overwrite instead of duplicating).
    * Caches the body tracks through [[graft.CacheScope]] are released when
    * the batch ends — on failure too, so a restarted live tail does not
    * pin one frame per failed batch — while the application's own caches
    * survive. `afterBatch` runs for every micro-batch, empty ones included.
    */
  private def eachBatch(stream: DataFrame, checkpoint: String, trigger: Trigger,
      afterBatch: Long => Unit = _ => ())(
      body: (DataFrame, String) => Unit): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          val scope = CacheScope.snapshot()
          try body(batch, s"b$bid") finally CacheScope.releaseNewSince(scope)
        }
        afterBatch(bid)
      }
      .start()

  /** The committed batches of `store` other than `token`, or None when
    * there are none. Committed-read: only batches whose commit marker
    * landed are probed, minus a replayed batch's own dir — so this doubles
    * as the cold-start test, and a store root holding only `_commits` or
    * only this batch's crashed dir bootstraps empty instead of wedging on
    * schema inference.
    */
  private def committedOthers(spark: SparkSession, store: String,
      token: String): Option[DataFrame] =
    if (StoreCommit.visibleTokens(spark, store).exists(_ != token))
      Some(StoreCommit.read(spark, store).where(col("batch") =!= token))
    else None

  /** Whether `path` exists: the cold-start test of the stores whose first
    * batch builds them (a meta sidecar or the store root itself).
    */
  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Stream a (time,value,...) frame into a feature through the full batch
    * save path — validation, coercion, partitioning, append — one batch per
    * micro-batch. An entity-keyed feature (catalog entry carrying
    * [[graft.api.FeatureStore.EntityKeysMeta]]) takes (keys... + time +
    * value) rows through [[graft.api.FeatureStore.saveKeyed]]; any other
    * feature goes through [[graft.api.FeatureStore.saveDf]].
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
    * drain instead). Pair a live tail with [[pacedFileSource]] to bound
    * the per-trigger batch size.
    */
  def ingest(fs: FeatureStore, stream: DataFrame, feature: String,
      checkpoint: String, trigger: Trigger, compactEvery: Int = 0): StreamingQuery =
    eachBatch(stream, checkpoint, trigger,
      // cadence check OUTSIDE the emptiness guard: an empty micro-batch
      // landing exactly on the boundary must not silently skip a
      // maintenance cycle (compaction of an already-compact store is a
      // listing-only no-op, so firing on an empty trigger is free)
      afterBatch = bid => if (compactEvery > 0 && (bid + 1) % compactEvery == 0) {
        fs.compactFeature(feature); ()
      }) { (batch, _) =>
      val (ns, n) = graft.catalog.Catalog.splitName(feature)
      if (fs.catalog.getFeature(ns, n).exists(_.meta.contains(FeatureStore.EntityKeysMeta)))
        fs.saveKeyed(feature, batch)
      else fs.saveDf(batch, name = Some(feature))
    }

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

  /** The minhash store's per-batch step, shared by [[dedupIncremental]]
    * and [[clusters]]: signatures are computed ONCE per batch for both the
    * probe and the store append; the batch's near-dup pairs against every
    * other committed batch go to `usePairs`, and only THEN do the batch's
    * own signatures land as `storePath/batch=<token>` — so later batches
    * pair against this one, and a cold-start store probes as empty.
    */
  private def minhashStep(batch: DataFrame, token: String, idCol: String,
      textCol: String, storePath: String, shingleK: Int, bands: Int,
      rowsPerBand: Int, thresholdNum: Int, thresholdDen: Int, maxBucket: Int)(
      usePairs: DataFrame => Unit): Unit = {
    val fresh = CacheScope.persist(DedupOps
      .sigAndHashes(batch, idCol, textCol, shingleK, bands * rowsPerBand))
    val old = committedOthers(batch.sparkSession, storePath, token)
      .getOrElse(fresh.limit(0))
    usePairs(DedupOps.incrementalPairsFromSigs(fresh, old, bands, rowsPerBand,
      thresholdNum, thresholdDen, maxBucket))
    DedupOps.writeMinhashStreamBatch(fresh, storePath, token, bands * rowsPerBand)
  }

  /** Continuous-crawl dedup: probe each micro-batch of new documents
    * against the persisted minhash store, write discovered pairs to
    * `pairsOut/batch=<id>`, THEN write the batch's own signatures to
    * `storePath/batch=<id>` — so later micro-batches dedup against earlier
    * ones as well as the base corpus. Any near-dup pair is discovered
    * exactly once (when its later member's batch is probed), so the
    * drained pair set equals the one-shot batch probe of the whole stream.
    * AvailableNow + a paced source gives deterministic catch-up; a
    * ProcessingTime trigger keeps a live tail running.
    *
    * Retry-safe: both writes are per-batch-dir OVERWRITES keyed by the
    * micro-batch id (a replayed batch rewrites its own dirs instead of
    * appending duplicates), and the probe EXCLUDES the batch's own store
    * dir (present when the crash landed between the store write and the
    * checkpoint commit) so a replay never pairs a doc with its own
    * half-committed signatures. Cold start (no
    * [[graft.operators.DedupOps.buildMinhashStore]] base yet) probes an
    * empty store: the first batch finds only its own internal pairs and
    * seeds the store for later batches.
    */
  def dedupIncremental(stream: DataFrame, idCol: String,
      textCol: String, storePath: String, pairsOut: String,
      checkpoint: String, trigger: Trigger, shingleK: Int = 3, bands: Int = 32,
      rowsPerBand: Int = 4, thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxBucket: Int = 1000): StreamingQuery =
    eachBatch(stream, checkpoint, trigger) { (batch, token) =>
      minhashStep(batch, token, idCol, textCol, storePath, shingleK, bands,
          rowsPerBand, thresholdNum, thresholdDen, maxBucket) { pairs =>
        pairs.write.mode("overwrite").parquet(s"$pairsOut/batch=$token")
      }
    }

  /** Streaming EMBEDDING near-dup maintenance: each micro-batch finds its
    * exact cosine pairs against the persisted vector store
    * ([[graft.operators.SimilarityOps.incrementalCosinePairs]] — batch
    * broadcast over one store pass, batch-internal pairs via the blocked
    * cartesian), writes them under `pairsOut/batch=b<id>`, then appends
    * its prepped vectors. Replay-safe: a replayed batch overwrites its
    * own store dir before any read, so its prior vectors never pair
    * against itself. Cold start seeds the store from batch one.
    */
  def embNearDup(stream: DataFrame, idCol: String,
      vecCol: String, storePath: String, pairsOut: String,
      checkpoint: String, trigger: Trigger, minCosine: Double): StreamingQuery =
    eachBatch(stream, checkpoint, trigger) { (batch, token) =>
      val spark = batch.sparkSession
      // drop a replayed batch's own half-committed store dir BEFORE
      // the probe reads the store
      StoreCommit.dropBatch(spark, storePath, token)
      // cold start is decided by OTHER COMMITTED batch dirs, not bare
      // dir existence: a batch-0 crash-retry leaves storePath present
      // but empty after its own dir is dropped, and reading it would
      // throw schema inference and wedge the stream permanently
      val pairs =
        if (StoreCommit.visibleTokens(spark, storePath).exists(_ != token))
          SimilarityOps.incrementalCosinePairs(batch, idCol, vecCol, storePath, minCosine)
        else
          SimilarityOps.cosineNearDupPairs(batch, idCol, vecCol, minCosine)
      pairs.write.mode("overwrite").parquet(s"$pairsOut/batch=$token")
      SimilarityOps.appendEmbStore(batch, idCol, vecCol, storePath, token)
    }

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
  def winnow(stream: DataFrame, idCol: String, textCol: String,
      storePath: String, pairsOut: String, checkpoint: String,
      trigger: Trigger, k: Int = 4, w: Int = 5, minShared: Int = 2,
      maxDocFreq: Int = 1000): StreamingQuery =
    eachBatch(stream, checkpoint, trigger) { (batch, token) =>
      val pairs =
        if (StoreCommit.meta(batch.sparkSession, storePath).isDefined)
          DedupOps.incrementalWinnowingPairs(batch, idCol, textCol, storePath,
            k, w, minShared, maxDocFreq, excludeBatch = Some(token))
        else
          DedupOps.winnowingPairs(batch, idCol, textCol, k, w, minShared, maxDocFreq)
      pairs.write.mode("overwrite").parquet(s"$pairsOut/batch=$token")
      DedupOps.appendWinnowStore(batch, idCol, textCol, storePath, k, w, token)
    }

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
  def boilerplate(stream: DataFrame, idCol: String,
      textCol: String, censusPath: String, cleanOut: String,
      checkpoint: String, trigger: Trigger, minCount: Long = 2,
      delim: String = "\n"): StreamingQuery =
    eachBatch(stream, checkpoint, trigger) { (batch, token) =>
      // excludeBatch drops the batch's OWN census dir from the strip:
      // a crash between the append below and the checkpoint commit
      // would otherwise let a replayed batch's own counts strip it
      DedupOps.removeFrequentLinesStoredExcluding(batch, idCol, textCol,
          censusPath, minCount, delim, excludeBatch = Some(token))
        .write.mode("overwrite").parquet(s"$cleanOut/batch=$token")
      DedupOps.appendLineStore(batch, idCol, textCol, censusPath, delim, token)
    }

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
  def clusters(stream: DataFrame, idCol: String, textCol: String,
      storePath: String, labelPath: String, checkpoint: String,
      trigger: Trigger, shingleK: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
      thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxBucket: Int = 1000): StreamingQuery =
    eachBatch(stream, checkpoint, trigger) { (batch, token) =>
      minhashStep(batch, token, idCol, textCol, storePath, shingleK, bands,
          rowsPerBand, thresholdNum, thresholdDen, maxBucket) { found =>
        val pairs = found.select(col("id_a"), col("id_b"))
        // label-store cold start: an empty base batch types the store
        // from the batch's id column; later updates shadow it
        if (!exists(batch.sparkSession, labelPath))
          DedupOps.writeStoreBatch(
            batch.select(col(idCol).as("id"), col(idCol).as("component"),
              lit(0L).as("seq")).limit(0), labelPath, "base")
        // an empty pair batch has nothing to fold (and CC over an empty
        // edge set is degenerate); the skip replays identically
        if (!pairs.isEmpty)
          DedupOps.updateClusterStore(pairs, "id_a", "id_b", labelPath, token)
      }
    }

  /** Streaming search-index maintenance — the postings-store twin of
    * [[dedupIncremental]]: every micro-batch of new documents
    * appends to the persisted postings index
    * ([[graft.operators.SearchOps.appendPostingsIndex]]) under the
    * micro-batch id as its batch token, so a replayed batch OVERWRITES its
    * own dirs (index ingest stays effectively exactly-once) and a probe
    * between any two batches sees consistent additive df/N sidecars.
    * Batch ids must be new to the index — crawls assign fresh doc ids;
    * dedup upstream (e.g. [[curate]]) before indexing. A live tail should
    * compact periodically ([[graft.operators.SearchOps.compactPostingsIndex]])
    * as the batch-dir count grows.
    */
  def index(stream: DataFrame, idCol: String, textCol: String,
      path: String, checkpoint: String, trigger: Trigger): StreamingQuery =
    eachBatch(stream, checkpoint, trigger) { (batch, token) =>
      SearchOps.appendPostingsIndex(batch, idCol, textCol, path, token)
    }

  /** Streaming ANN-index maintenance: each micro-batch of new vectors is
    * encoded under the PERSISTED PQ index's frozen codebooks and landed as
    * a replay-idempotent `batch=b<id>` code dir
    * ([[graft.operators.SimilarityOps.appendPqIndex]]) — the vector-store
    * analogue of [[index]]. Codebooks never retrain in-stream
    * (that is a rebuild's job); probes see every drained batch. The id
    * clash check stays ON: it excludes the batch's own token, so replays
    * are idempotent while genuine duplicate ids still fail loudly.
    */
  def annIndex(stream: DataFrame, idCol: String, vecCol: String,
      path: String, checkpoint: String, trigger: Trigger): StreamingQuery =
    eachBatch(stream, checkpoint, trigger) { (batch, token) =>
      SimilarityOps.appendPqIndex(batch, idCol, vecCol, path, token)
    }

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
    * Retry-safe like [[dedupIncremental]]: both writes are
    * per-batch-dir overwrites keyed by the micro-batch id, the probe
    * excludes the batch's own store dir, and fingerprints are computed
    * once per batch.
    *
    * Scale: the store probe prunes store rows map-side by the batch's
    * broadcast fingerprint set (probe cost ∝ batch + matches, not
    * corpus), and the surviving hit set — bounded by the batch's own
    * distinct fps — broadcasts into an anti join. `bench` is a static
    * frame; [[graft.operators.CurationOps.ngramOverlap]]'s char-bound
    * guard inside curateKeep decides its join side as usual.
    */
  def curate(stream: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, langCol: String, storePath: String, keptOut: String,
      checkpoint: String, trigger: Trigger, k: Int = 4, minTokens: Long = 20,
      maxTopTokenFrac: Double = 0.12): StreamingQuery =
    eachBatch(stream, checkpoint, trigger) { (batch, token) =>
      val withFp = CacheScope.persist(batch.withColumn("__fp",
        graft.operators.TextOps.fingerprint(col(textCol))))
      val survivors = committedOthers(batch.sparkSession, storePath, token)
        .fold(withFp) { old =>
          val hits = old
            .join(broadcast(withFp.select(col("__fp").as("fp")).distinct()),
              Seq("fp"), "left_semi")
            .select(col("fp").as("__fp")).distinct()
          withFp.join(broadcast(hits), Seq("__fp"), "left_anti")
        }
      val kept = CacheScope.persist(CurationOps.curateKeep(survivors.drop("__fp"),
        bench, idCol, textCol, langCol, k, minTokens, maxTopTokenFrac))
      kept.write.mode("overwrite").parquet(s"$keptOut/batch=$token")
      DedupOps.writeStoreBatch(
        withFp.join(kept.select(col(idCol)), Seq(idCol), "left_semi")
          .select(col(idCol).as("id"), col("__fp").as("fp")),
        storePath, token)
    }


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
          val sorted = it.toSeq.sortBy(e => TimeUtil.micros(e.ts))
          val out = scala.collection.mutable.ArrayBuffer[Session]()
          var cur: Option[SessionState] = state.getOption
          sorted.foreach { e =>
            val t = TimeUtil.micros(e.ts)
            cur match {
              case Some(s) if t - s.end <= gapUs =>
                cur = Some(SessionState(s.start, t, s.n + 1))
              case Some(s) =>
                out += Session(uid, TimeUtil.timestamp(s.start), TimeUtil.timestamp(s.end), s.n)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          // bounded input: flush the open session; on a real stream a
          // timeout would close it instead
          cur.foreach(s => out += Session(uid, TimeUtil.timestamp(s.start),
            TimeUtil.timestamp(s.end), s.n))
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
            Iterator.single(Session(uid, TimeUtil.timestamp(s.start),
              TimeUtil.timestamp(s.end), s.n))
          } else {
            val sorted = it.toSeq.sortBy(e => TimeUtil.micros(e.ts))
            val out = scala.collection.mutable.ArrayBuffer[Session]()
            var cur: Option[SessionState] = state.getOption
            sorted.foreach { e =>
              val t = TimeUtil.micros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, t, s.n + 1))
                case Some(s) =>
                  out += Session(uid, TimeUtil.timestamp(s.start), TimeUtil.timestamp(s.end), s.n)
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
  def zLayout(stream: DataFrame, zCols: Seq[String],
      tablePath: String, checkpoint: String, trigger: Trigger, nFiles: Int = 16,
      bits: Int = 21): StreamingQuery =
    eachBatch(stream, checkpoint, trigger) { (batch, token) =>
      if (exists(batch.sparkSession, s"$tablePath/_layout_meta"))
        LayoutOps.appendZOrdered(batch, zCols, tablePath, token, nFiles)
      else
        LayoutOps.writeZOrdered(batch, zCols, tablePath, nFiles, bits, batchToken = token)
    }

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
  def scd(stream: DataFrame, entityCol: String, timeCol: String,
      attrCols: Seq[String], tieCols: Seq[String], storePath: String,
      checkpoint: String, trigger: Trigger): StreamingQuery =
    eachBatch(stream, checkpoint, trigger) { (batch, token) =>
      if (StoreCommit.meta(batch.sparkSession, storePath).isDefined)
        graft.ts.Scd.updateScdStore(batch, storePath, token)
      else
        graft.ts.Scd.buildScdStore(batch, entityCol, timeCol, attrCols, tieCols, storePath)
    }

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
  def hist(stream: DataFrame, valueCol: String, refPath: String,
      curPath: String, checkpoint: String, trigger: Trigger): StreamingQuery = {
    val meta = StoreCommit.meta(stream.sparkSession, refPath).getOrElse(
      throw new IllegalStateException(s"no histogram store at $refPath"))
    val (lo, hi, bins) = (meta.getDouble(0), meta.getDouble(1), meta.getInt(2))
    val width = (hi - lo) / bins
    eachBatch(stream, checkpoint, trigger) { (batch, token) =>
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
          .write.mode("overwrite").parquet(s"$curPath/hist/batch=$token")
      }
    }
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

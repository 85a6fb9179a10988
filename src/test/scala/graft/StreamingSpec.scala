package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import java.sql.Timestamp

/** Structured-Streaming operators: ingest parity, watermark dedup, stateful
  * vs declarative sessionization.
  */
class StreamingSpec extends SparkTestBase {

  val dir = "/root/testdata/sf0.001"

  test("stateful sessionize == gaps-and-islands batch sessionize") {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"), col("value"))
    val stateful = StreamingOps.sessionizeStateful(ev.as[StreamingOps.SessionEvent], 30)
      .collect().map(s => (s.user_id, s.session_start, s.session_end, s.n_events)).toSet
    val declarative = StreamingOps.sessionizeBatch(ev, "ts", "user_id", 30)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events"))).toSet
    assert(stateful.nonEmpty && stateful == declarative)
  }

  test("watermark-bounded streaming dedup drops in-horizon duplicates") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val stream = mem.toDF().toDF("time", "key", "value")
    val out = StreamingOps.dedupedStream(stream, "time", Seq("key"), "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    // duplicate keys within the watermark horizon
    mem.addData((ts("2024-01-01 00:00:00"), 1L, 1.0), (ts("2024-01-01 00:01:00"), 1L, 2.0),
      (ts("2024-01-01 00:02:00"), 2L, 3.0))
    q.processAllAvailable()
    val keys = spark.table("dedup_test").select("key").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(keys.toSeq == Seq(1L, 2L)) // second key=1 row dropped
  }

  test("sessionizeStream merges sessions across micro-batches, closes on watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "0 seconds")
      .as[StreamingOps.SessionEvent]
    val q = StreamingOps.sessionizeStream(events, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    // batch 1: two events 10min apart — one OPEN session
    mem.addData((1L, ts("2024-01-01 10:00:00"), 1.0), (1L, ts("2024-01-01 10:10:00"), 1.0))
    q.processAllAvailable()
    assert(spark.table("sess_stream").count() == 0) // still open, not emitted
    // batch 2: continuation 10min later — must MERGE, not start a new session
    mem.addData((1L, ts("2024-01-01 10:20:00"), 1.0))
    q.processAllAvailable()
    // batch 3: far-future event advances the watermark past end+gap → closes it
    mem.addData((2L, ts("2024-01-02 00:00:00"), 1.0))
    q.processAllAvailable()
    mem.addData((2L, ts("2024-01-03 00:00:00"), 1.0)) // push watermark again
    q.processAllAvailable()
    val rows = spark.table("sess_stream").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events")))
    q.stop()
    assert(rows.contains((1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:20:00"), 3L)),
      s"user 1's three events across two micro-batches must form ONE session; got ${rows.toSeq}")
  }

  test("streaming keyed ingest matches batch keyed save; delete removes keyed dir") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val fs = new graft.api.FeatureStore(tmpDir("kstream"), spark)
    fs.createNamespace("ks")
    fs.createKeyedFeature("ks/v", Seq("uid"))
    val mem = MemoryStream[(Long, Timestamp, Double)]
    mem.addData((1L, ts("2021-01-01"), 1.0), (2L, ts("2021-01-01"), 2.0))
    mem.addData((1L, ts("2021-01-02"), 3.0))
    val q = StreamingOps.ingest(fs,
      mem.toDF().toDF("uid", "time", "value"), "ks/v", tmpDir("kcp"), Trigger.AvailableNow())
    q.awaitTermination()
    val got = fs.loadKeyed("ks/v").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
    assert(got == Set((1L, ts("2021-01-01"), 1.0), (2L, ts("2021-01-01"), 2.0),
      (1L, ts("2021-01-02"), 3.0)))
    fs.deleteFeature("ks/v", deleteData = true)
    assert(fs.catalog.getFeature("ks", "v").isEmpty)
    val kp = new org.apache.hadoop.fs.Path(fs.storage.keyedPath("ks", "v"))
    assert(!kp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(kp))
  }

  test("streaming ingest produces the same stored series as batch ingest") {
    val fs = Fixtures.streamedStore(spark, dir)
    val streamed = collectMap(fs.storage.load("events", "stream_click"))
    val batch = collectMap(fs.storage.load("events", "click"))
    assert(streamed.nonEmpty)
    assert(streamed == batch) // click feature deduped-latest == raw values
  }

  test("paced file source drains a backlog in bounded micro-batches") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("paced")
    val fs = new graft.api.FeatureStore(s"$root/store", spark)
    fs.createNamespace("p")
    fs.createFeature("p/v")
    // a 3-file backlog: each file is one (time, value) row
    val src = s"$root/src"
    (1 to 3).foreach { d =>
      seriesDf(Seq((f"2021-01-0$d%d", d.toDouble))).repartition(1)
        .write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    val stream = graft.streaming.StreamingOps.pacedFileSource(
      spark, src, schema, maxFilesPerTrigger = 1)
    val q = graft.streaming.StreamingOps.ingest(
      fs, stream, "p/v", s"$root/ckpt", Trigger.AvailableNow())
    q.awaitTermination(120000)
    // pacing: the 3-file backlog drained across >= 3 micro-batches, and the
    // stored result equals what one unpaced batch write would produce
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    assert(collectMap(fs.storage.load("p", "v")) ==
      Map(ts("2021-01-01") -> 1.0, ts("2021-01-02") -> 2.0, ts("2021-01-03") -> 3.0))
  }

  test("processing-time ingest drains a live source to the same stored series") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("pt")
    val fs = new graft.api.FeatureStore(s"$root/store", spark)
    fs.createNamespace("pt")
    fs.createFeature("pt/v")
    val src = s"$root/src"
    (1 to 2).foreach { d =>
      seriesDf(Seq((f"2021-02-0$d%d", d.toDouble))).repartition(1)
        .write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    val stream = graft.streaming.StreamingOps.pacedFileSource(
      spark, src, schema, maxFilesPerTrigger = 1)
    val q = graft.streaming.StreamingOps.ingest(
      fs, stream, "pt/v", s"$root/ckpt", Trigger.ProcessingTime("1 second"))
    q.processAllAvailable() // drain the backlog deterministically
    // a live tail: new file arrives while the query keeps running
    seriesDf(Seq(("2021-02-03", 3.0))).repartition(1)
      .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert(collectMap(fs.storage.load("pt", "v")) ==
      Map(ts("2021-02-01") -> 1.0, ts("2021-02-02") -> 2.0, ts("2021-02-03") -> 3.0))
  }

  test("replayed micro-batch excludes its own half-committed store dir") {
    import org.apache.spark.sql.functions._
    // simulate a crash AFTER the store write but BEFORE the checkpoint
    // commit: the batch's own signatures are already in the store when the
    // batch re-runs. The wrapper probes old.where(batch =!= own) — without
    // that exclusion every replayed doc would self-pair (jaccard 1.0) and
    // the docs-side join would fan out.
    val store = tmpDir("retry_store")
    val d = Tables.documents(spark, dir)
    graft.operators.DedupOps.buildMinhashStore(
      d.where(col("doc_id") < 200), "doc_id", "text", store)
    val batch = d.where(col("doc_id") >= 200 && col("doc_id") < 260)
    val fresh = graft.operators.DedupOps.sigAndHashes(batch, "doc_id", "text", 3, 128)
    graft.operators.DedupOps.writeStoreBatch(fresh, store, "b7") // half-committed
    val replayOld = spark.read.parquet(store).where(col("batch") =!= "b7")
    val pairs = graft.operators.DedupOps.incrementalPairsFromSigs(
        fresh, replayOld, 32, 4, 1, 2, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a != b }, "no self-pairs on replay")
    // and the replay equals a clean first run (store without the dir)
    val cleanStore = tmpDir("retry_clean")
    graft.operators.DedupOps.buildMinhashStore(
      d.where(col("doc_id") < 200), "doc_id", "text", cleanStore)
    val cleanPairs = graft.operators.DedupOps.incrementalNearDupPairs(
        batch, "doc_id", "text", cleanStore)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == cleanPairs.toSet)
    graft.CacheScope.release()
  }

  test("embNearDup stream: batch-0 crash-retry (store dir exists, only own batch) cold-starts, never wedges") {
    import org.apache.spark.sql.functions._
    // simulate batch 0 crashing AFTER its store append but BEFORE the
    // checkpoint commit: on retry the store root exists but holds ONLY the
    // batch's own dir. Pre-fix, the replay deleted the own dir and then
    // gated incremental-vs-cold on bare dir existence — reading an empty
    // store root throws schema inference and wedges the stream forever.
    val root = tmpDir("embretry")
    val (src, out, cp, store) =
      (s"$root/src", s"$root/out", s"$root/cp", s"$root/store")
    val e = Tables.embeddings(spark, dir).where(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    e.repartition(1).write.mode("append").parquet(src)
    // the half-committed own dir of the crashed first attempt
    e.limit(5).write.parquet(s"$store/batch=b0")
    val stream = spark.readStream.schema(e.schema).parquet(src)
    graft.streaming.StreamingOps.embNearDup(
      stream, "vec_id", "embedding", store, out, cp, Trigger.AvailableNow(), minCosine = 0.4)
      .awaitTermination()
    // drained pairs == the one-shot batch pairs (cold start, no self-pairs)
    val got = spark.read.parquet(out)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = graft.operators.SimilarityOps.cosineNearDupPairs(
        e, "vec_id", "embedding", 0.4)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == oneShot, "crash-retry cold start must equal a clean first run")
    assert(got.forall { case (a, b) => a != b }, "no self-pairs from the stale own dir")
    graft.CacheScope.release()
  }

  test("live-tail incremental dedup: processing-time trigger, cache scope drains per batch") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("livetail")
    val d = Tables.documents(spark, dir)
    val store = s"$root/store"
    graft.operators.DedupOps.buildMinhashStore(
      d.where(col("doc_id") < 250), "doc_id", "text", store)
    // backlog: two paced files of new docs
    val src = s"$root/src"
    d.where(col("doc_id") >= 250 && col("doc_id") < 350).repartition(1)
      .write.mode("append").parquet(src)
    d.where(col("doc_id") >= 350 && col("doc_id") < 420).repartition(1)
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = graft.streaming.StreamingOps.pacedFileSource(
      spark, src, schema, maxFilesPerTrigger = 1)
    val baseline = graft.CacheScope.trackedCount
    val q = graft.streaming.StreamingOps.dedupIncremental(
      stream, "doc_id", "text", store, s"$root/pairs", s"$root/ckpt",
      Trigger.ProcessingTime("1 second"))
    q.processAllAvailable()
    // live tail: a new crawl file lands while the query keeps running
    d.where(col("doc_id") >= 420).repartition(1)
      .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    // >= 3 micro-batches ran; the per-batch scope released every cache it
    // created — a live tail must not pin one frame per batch forever
    assert(graft.CacheScope.trackedCount == baseline,
      s"expected tracked cache count to return to $baseline, " +
        s"got ${graft.CacheScope.trackedCount}")
    // drained pair set == the one-shot probe of all new docs at once
    val streamed = spark.read.parquet(s"$root/pairs")
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cleanStore = s"$root/clean_store"
    graft.operators.DedupOps.buildMinhashStore(
      d.where(col("doc_id") < 250), "doc_id", "text", cleanStore)
    val oneShot = graft.operators.DedupOps.incrementalNearDupPairs(
        d.where(col("doc_id") >= 250), "doc_id", "text", cleanStore)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == oneShot)
    graft.CacheScope.release()
  }

  test("a failing micro-batch releases the caches it created") {
    val root = tmpDir("failbatch")
    val d = Tables.documents(spark, dir)
    // store signatures at the default 32 bands x 4 rows = 128 hashes
    graft.operators.DedupOps.buildMinhashStore(
      d.where(col("doc_id") < 250), "doc_id", "text", s"$root/store")
    val src = s"$root/src"
    d.where(col("doc_id") >= 250).repartition(1).write.parquet(src)
    val stream = StreamingOps.pacedFileSource(spark, src,
      spark.read.parquet(src).schema, maxFilesPerTrigger = 1)
    val baseline = graft.CacheScope.trackedCount
    // a 16 x 4 probe fails the store's signature-length check AFTER the
    // batch persisted its own signatures
    val q = StreamingOps.dedupIncremental(stream, "doc_id", "text",
      s"$root/store", s"$root/pairs", s"$root/ckpt", Trigger.AvailableNow(),
      bands = 16)
    val e = intercept[StreamingQueryException](q.awaitTermination())
    assert(e.getMessage.contains("signature length"), e.getMessage)
    assert(graft.CacheScope.trackedCount == baseline,
      "a failed micro-batch must not leave its caches tracked")
  }

  test("micro-batched incremental dedup == one-shot probe, incl. cross-batch pairs") {
    import org.apache.spark.sql.functions._
    val streamed = spark.read.parquet(Fixtures.incrementalDedupMbPath(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val store = tmpDir("oneshot_store")
    val d = Tables.documents(spark, dir)
    graft.operators.DedupOps.buildMinhashStore(
      d.where(col("doc_id") < 250), "doc_id", "text", store)
    val oneShot = graft.operators.DedupOps.incrementalNearDupPairs(
        d.where(col("doc_id") >= 250), "doc_id", "text", store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == oneShot)
    // the fixture's mod-3 batch split must include new-new pairs whose ends
    // landed in DIFFERENT micro-batches — found only because each batch
    // appends its signatures before the next probes
    val crossBatch = streamed.filter { case (a, b) =>
      a >= 250 && b >= 250 && a % 3 != b % 3
    }
    assert(crossBatch.nonEmpty, "fixture must exercise cross-batch discovery")
    graft.CacheScope.release()
  }

  test("streaming census: strip-then-count, first batch unstripped") {
    import org.apache.spark.sql.functions._
    val drained = spark.read.parquet(Fixtures.streamBoilerplatePath(spark, dir))
    // batch 1 (doc_id % 3 == 0) saw an empty census — nothing stripped
    assert(drained.where(col("doc_id") % 3 === 0 && col("n_cut_lines") > 0)
      .count() == 0L)
    // later batches ARE stripped (common words cross 50 in batch 1 alone)
    assert(drained.where(col("doc_id") % 3 =!= 0 && col("n_cut_lines") > 0)
      .count() > 0L)
    // outcome partition: every corpus doc appears exactly once
    assert(drained.count() == Tables.documents(spark, dir).count())
    graft.CacheScope.release()
  }

  test("streamed winnow store drains to the one-shot containment pairs") {
    import org.apache.spark.sql.functions._
    val drained = spark.read.parquet(Fixtures.streamWinnowPath(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val oneShot = graft.operators.DedupOps.winnowingPairs(
        Tables.documents(spark, dir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(drained == oneShot && drained.nonEmpty)
    // cross-batch discovery: some pair's endpoints landed in different
    // mod-3 micro-batches, found only via the store probe
    assert(drained.exists { case (a, b, _, _, _) => a % 3 != b % 3 },
      "fixture must exercise cross-batch discovery")
    graft.CacheScope.release()
  }

  test("streamed postings index == one-shot build; probe additive across micro-batches") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("stream_pix")
    val d = Tables.documents(spark, dir)
    // 3-file backlog split on doc_id % 3 -> 3 micro-batches, disjoint ids
    val src = s"$root/src"
    (0 until 3).foreach(m => d.where(col("doc_id") % 3 === m)
      .repartition(1).write.mode("append").parquet(src))
    val schema = spark.read.parquet(src).schema
    val stream = graft.streaming.StreamingOps.pacedFileSource(
      spark, src, schema, maxFilesPerTrigger = 1)
    val q = graft.streaming.StreamingOps.index(
      stream, "doc_id", "text", s"$root/pix", s"$root/ckpt", Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    val terms = Seq("dup", "spark", "query")
    val streamed = graft.operators.SearchOps.keywordTopKIndexed(
        spark, s"$root/pix", terms, 20, idCol = "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val direct = graft.operators.TextOps.keywordTopK(
        d, "doc_id", "text", terms, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(streamed == direct)
    graft.CacheScope.release()
  }

  test("live-tail postings index: file lands mid-query, probe == direct scorer") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("livetail_pix")
    val d = Tables.documents(spark, dir)
    val src = s"$root/src"
    d.where(col("doc_id") < 200).repartition(1).write.mode("append").parquet(src)
    d.where(col("doc_id") >= 200 && col("doc_id") < 400)
      .repartition(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = graft.streaming.StreamingOps.pacedFileSource(
      spark, src, schema, maxFilesPerTrigger = 1)
    val baseline = graft.CacheScope.trackedCount
    val q = graft.streaming.StreamingOps.index(
      stream, "doc_id", "text", s"$root/pix", s"$root/ckpt", Trigger.ProcessingTime("1 second"))
    q.processAllAvailable()
    // a new crawl file lands while the query keeps running
    d.where(col("doc_id") >= 400).repartition(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert(graft.CacheScope.trackedCount == baseline)
    val terms = Seq("dup", "spark", "query")
    val streamed = graft.operators.SearchOps.keywordTopKIndexed(
        spark, s"$root/pix", terms, 20, idCol = "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val direct = graft.operators.TextOps.keywordTopK(d, "doc_id", "text", terms, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(streamed == direct)
    graft.CacheScope.release()
  }

  test("live-tail winnow store: file lands mid-query, drain == one-shot pairs") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("livetail_wn")
    val d = Tables.documents(spark, dir)
    val src = s"$root/src"
    d.where(col("doc_id") < 200).repartition(1).write.mode("append").parquet(src)
    d.where(col("doc_id") >= 200 && col("doc_id") < 400)
      .repartition(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = graft.streaming.StreamingOps.pacedFileSource(
      spark, src, schema, maxFilesPerTrigger = 1)
    val baseline = graft.CacheScope.trackedCount
    val q = graft.streaming.StreamingOps.winnow(
      stream, "doc_id", "text", s"$root/store", s"$root/out", s"$root/ckpt",
      Trigger.ProcessingTime("1 second"))
    q.processAllAvailable()
    // a new crawl file lands while the query keeps running
    d.where(col("doc_id") >= 400).repartition(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert(graft.CacheScope.trackedCount == baseline)
    val drained = spark.read.parquet(s"$root/out")
      .select("id_a", "id_b", "shared_fps", "n_a", "n_b")
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.DedupOps.winnowingPairs(d, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(drained == oneShot && drained.nonEmpty)
    graft.CacheScope.release()
  }

  test("streamed PQ index == one-shot append under the same frozen codebooks") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("stream_pq")
    val emb = Tables.embeddings(spark, dir)
    val base = emb.where(col("vec_id") < 350)
    val rest = emb.where(col("vec_id") >= 350)
    // reference: build on the base, append the rest in ONE direct call
    graft.operators.SimilarityOps.buildPqIndex(
      base, "vec_id", "embedding", s"$root/one", m = 4, ksub = 8, refineIters = 1)
    graft.operators.SimilarityOps.appendPqIndex(
      rest, "vec_id", "embedding", s"$root/one", batchToken = "all")
    // streamed: same base build, rest drained as 3 micro-batches
    graft.operators.SimilarityOps.buildPqIndex(
      base, "vec_id", "embedding", s"$root/pq", m = 4, ksub = 8, refineIters = 1)
    val src = s"$root/src"
    (0 until 3).foreach(m => rest.where(col("vec_id") % 3 === m)
      .repartition(1).write.mode("append").parquet(src))
    val schema = spark.read.parquet(src).schema
    val stream = graft.streaming.StreamingOps.pacedFileSource(
      spark, src, schema, maxFilesPerTrigger = 1)
    val q = graft.streaming.StreamingOps.annIndex(
      stream, "vec_id", "embedding", s"$root/pq", s"$root/ckpt", Trigger.AvailableNow())
    assert(q.awaitTermination(120000))
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    // frozen codebooks make encoding batch-split-invariant: the streamed
    // index's codes must equal the one-shot append's, row for row
    val codesOf = (p: String) => spark.read.parquet(s"$p/codes")
      .select(col("id"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet
    assert(codesOf(s"$root/pq") == codesOf(s"$root/one"))
    // and the probe answers match through both indexes
    val probe = (p: String) => graft.operators.SimilarityOps.pqTopKIndexed(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", p, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(probe(s"$root/pq") == probe(s"$root/one"))
    graft.CacheScope.release()
  }

  test("streaming curation == batch curation on the streamed split") {
    import org.apache.spark.sql.functions._
    val keptDir = Fixtures.curateStreamMbPath(spark, dir)
    val streamed = spark.read.parquet(keptDir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_tokens"))).toSet
    // batch equivalent: curate the WHOLE % 17 != 0 corpus in one pass and
    // restrict to the streamed ids — the store probe + first-seen-wins
    // must reproduce the corpus-wide canonical exactly
    val d = Tables.documents(spark, dir)
    val batchKept = graft.operators.CurationOps.curateKeep(
        d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0),
        "doc_id", "text", "lang", k = 4, minTokens = 20,
        maxTopTokenFrac = 0.12)
      .where(col("doc_id") >= 250)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_tokens"))).toSet
    assert(streamed == batchKept)
    assert(streamed.nonEmpty)
    // the store grew: base dir + one dir per non-empty micro-batch, and
    // every stored fp belongs to a kept doc or the base corpus
    val storePath = keptDir.replaceAll("/out$", "/store")
    val store = spark.read.parquet(storePath)
    val baseIds = store.where(col("batch") === "base")
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val streamedStoreIds = store.where(col("batch") =!= "base")
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(baseIds.forall(_ < 250))
    assert(streamedStoreIds == streamed.map(_._1),
      "store must hold exactly the kept docs' fingerprints")
    graft.CacheScope.release()
  }

  test("live-tail cluster maintenance: file lands mid-query, labels stay one-shot-exact") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("livecluster")
    val d = Tables.documents(spark, dir)
    val src = s"$root/src"
    d.where(col("doc_id") < 250).repartition(1)
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = graft.streaming.StreamingOps.pacedFileSource(
      spark, src, schema, maxFilesPerTrigger = 1)
    val baseline = graft.CacheScope.trackedCount
    val q = graft.streaming.StreamingOps.clusters(
      stream, "doc_id", "text", s"$root/store", s"$root/labels", s"$root/ckpt",
      Trigger.ProcessingTime("1 second"))
    q.processAllAvailable()
    // live tail: the rest of the corpus lands while the query runs
    d.where(col("doc_id") >= 250).repartition(1)
      .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert(graft.CacheScope.trackedCount == baseline,
      "per-batch scope must release every cache a live tail creates")
    val got = graft.operators.DedupOps.loadClusterLabels(spark, s"$root/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = graft.operators.DedupOps.connectedComponents(
        graft.operators.DedupOps.minhashLshPairs(d, "doc_id", "text"),
        "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneShot.nonEmpty && got == oneShot)
    graft.CacheScope.release()
  }

  test("live-tail z-layout: file lands mid-query, pruned read == full filter") {
    val root = tmpDir("livezlay")
    val src = s"$root/src"
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id"), (col("id") * 7 % 256).as("x"), (col("id") * 13 % 256).as("y"))
    mk(0L, 3000L).repartition(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = StreamingOps.pacedFileSource(spark, src, schema,
      maxFilesPerTrigger = 1)
    val baseline = graft.CacheScope.trackedCount
    val q = StreamingOps.zLayout(stream, Seq("x", "y"),
      s"$root/table", s"$root/ckpt", Trigger.ProcessingTime("1 second"), nFiles = 4, bits = 8)
    q.processAllAvailable()
    // live tail: more data lands while the query runs
    mk(3000L, 5000L).repartition(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert(graft.CacheScope.trackedCount == baseline,
      "per-batch scope must release every cache a live tail creates")
    val box = Seq(("x", 0L, 63L))
    val pruned = graft.operators.LayoutOps.readPruned(spark, s"$root/table", box)
    val brute = graft.operators.LayoutOps.readTable(spark, s"$root/table")
      .where(col("x").between(0, 63))
    assert(graft.operators.LayoutOps.readTable(spark, s"$root/table").count() == 5000L)
    assert(pruned.exceptAll(brute).isEmpty && brute.exceptAll(pruned).isEmpty)
  }

  test("live-tail SCD2 store: file lands mid-query, resolved view == one-shot capture") {
    import spark.implicits._
    val root = tmpDir("livescd")
    val src = s"$root/src"
    def obs(lo: Long, hi: Long) = spark.range(lo, hi).select(
      (col("id") % 100).as("ent"),
      timestamp_seconds(lit(1704067200L) + col("id") * 60).as("t"),
      (col("id") % 3).cast("string").as("attr"),
      col("id").as("seq_id"))
    obs(0L, 5000L).repartition(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = StreamingOps.pacedFileSource(spark, src, schema,
      maxFilesPerTrigger = 1)
    val baseline = graft.CacheScope.trackedCount
    val q = StreamingOps.scd(stream, "ent", "t", Seq("attr"),
      Seq("seq_id"), s"$root/store", s"$root/ckpt", Trigger.ProcessingTime("1 second"))
    q.processAllAvailable()
    // live tail: later observations land while the query runs (ids
    // strictly increasing -> per-entity times strictly increasing, the
    // arrival contract holds)
    obs(5000L, 8000L).repartition(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert(graft.CacheScope.trackedCount == baseline,
      "per-batch scope must release every cache a live tail creates")
    val got = graft.ts.Scd.loadScd(spark, s"$root/store")
    val oneShot = graft.ts.Scd.scdIntervals(obs(0L, 8000L), "ent", "t",
      Seq("attr"), Seq("seq_id"))
    assert(got.count() > 0)
    assert(got.exceptAll(oneShot).isEmpty && oneShot.exceptAll(got).isEmpty,
      "live-tail SCD2 view must equal the one-shot change capture")
  }

  test("streaming cluster maintenance drains to the one-shot CC labeling") {
    val labels = spark.read.parquet(
      Fixtures.streamClustersPath(spark, "/root/testdata/sf0.001"))
    val got = graft.operators.DedupOps.loadClusterLabels(spark,
      Fixtures.streamClustersPath(spark, "/root/testdata/sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = graft.operators.DedupOps.minhashLshPairs(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
    val oneShot = graft.operators.DedupOps
      .connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneShot.nonEmpty, "fixture must produce near-dup clusters")
    assert(got == oneShot)
    // the store accumulated one label batch per pair-bearing micro-batch
    // on top of the cold-start base
    assert(labels.select("batch").distinct().count() >= 2)
    graft.CacheScope.release()
  }

  test("ingest compactEvery: mid-stream compaction preserves content and resets file counts") {
    val root = tmpDir("ing_compact")
    val fs = new graft.api.FeatureStore(root, spark)
    fs.createNamespace("s", "stream")
    fs.createFeature("s/f")
    // 4-file source, one file per micro-batch -> 4 appends; compactEvery=2
    // compacts after batches 1 and 3 (the final state is compacted)
    val srcDir = s"$root/src"
    val rows = (1 to 40).map(i =>
      (java.sql.Timestamp.valueOf(f"2024-01-${i % 4 + 1}%02d 00:00:00"),
        i.toDouble, java.sql.Timestamp.valueOf(f"2024-02-01 00:${i}%02d:00")))
    import spark.implicits._
    rows.toDF("time", "value", "created_time").repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = graft.streaming.StreamingOps.ingest(fs,
      graft.streaming.StreamingOps.pacedFileSource(spark, srcDir, schema,
        maxFilesPerTrigger = 1),
      "s/f", s"$root/cp", Trigger.AvailableNow(), compactEvery = 2)
    q.awaitTermination()
    // every (time, created_time, value) version survives the mid-stream
    // compactions
    val got = fs.storage.scan("s", "f").collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1), r.getTimestamp(2))).toSet
    assert(got == rows.map(r => (r._1, r._2, r._3)).toSet)
    // and the store is compacted: one right-sized file per partition (not
    // the 4 the un-compacted ingest would leave)
    val featureDir = new java.io.File(fs.storage.featurePath("s", "f"))
    featureDir.listFiles.filter(_.getName.startsWith("partition=")).foreach { d =>
      val files = d.listFiles.filter(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(files.length <= 2,
        s"${d.getName}: ${files.length} files survive compactEvery=2")
    }
    // a plain feature's compaction never touches the keyed layout
    assert(!new java.io.File(s"${fs.storage.root}/keyed").exists)
  }
}

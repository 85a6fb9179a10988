package graft

import graft.api.FeatureStore
import graft.catalog.NamespaceDef
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import scala.collection.concurrent.TrieMap

/** Ingests the driver test tables into a real feature store once per
  * (JVM, sfDir), so every `SparkEntry.queries` entry exercises the actual
  * write path (S1/P3/P4/M1) before the read path under test.
  *
  * The `events` table becomes one feature per `event_type`, *tripled* into
  * three versions per timestamp so the read path's latest-version dedup (A1)
  * and time-travel (F2) semantics are observable:
  *   version v ∈ {0,1,2}: value = value * (v+1), created_time = time - v minutes.
  * Latest (max created_time) is v=0 → plain `value`; time-travel "-30s"
  * excludes v=0 → picks v=1 → `value*2`; "-90s" → v=2 → `value*3`.
  * (Reference versioning fixture shape: tests/test_feature_store.py:451-492.)
  */
object Fixtures {
  private val stores = TrieMap[String, FeatureStore]()
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Per-process tmp root for fixture artifacts — pid-scoped so concurrent
    * harness JVMs cannot clobber each other's stores mid-read, and removed
    * by a shutdown hook so repeated runs don't accumulate /tmp trees.
    */
  val tmpRoot: String = {
    val r = s"/tmp/graft_fixtures_${ProcessHandle.current.pid}"
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(del); f.delete(); ()
      }
      del(new java.io.File(r))
    }))
    r
  }

  def store(spark: SparkSession, sfDir: String): FeatureStore =
    stores.getOrElseUpdate(sfDir, build(spark, sfDir))

  private def build(spark: SparkSession, sfDir: String): FeatureStore = {
    val root = s"${tmpRoot}/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rootPath)) fs.delete(rootPath, true)

    val store = new FeatureStore(root, spark)
    store.catalog.createNamespace(NamespaceDef("events", "driver events table"))

    val tripled = Tables.events(spark, sfDir)
      .select(col("ts").as("time"), col("event_type"), col("value"))
      .crossJoin(spark.range(3).select(col("id").as("v")))
      .select(
        col("time"), col("event_type"),
        (col("value") * (col("v") + 1)).as("value"),
        expr("time - make_interval(0, 0, 0, 0, 0, v, 0)").as("created_time"))

    EventTypes.foreach { et =>
      store.createFeature(s"events/$et", s"events.value where event_type=$et")
      store.saveDf(
        tripled.where(col("event_type") === et).drop("event_type", "v"),
        name = Some(s"events/$et"))
    }
    // compaction probe: the same tripled click series ingested as one
    // append PER VERSION (3 part-file sets per partition dir — the
    // streaming-ingest fragmentation shape) — the fs_compact_load gate
    // compacts this feature in place and must read back the identical
    // latest-version series
    store.createFeature("events/click_compact", "click series, fragmented ingest")
    (0 to 2).foreach { v =>
      store.saveDf(
        tripled.where(col("event_type") === "click" && col("v") === v)
          .drop("event_type", "v"),
        name = Some("events/click_compact"))
    }

    // ORC-backend namespace (the Backends dispatch seam): the same tripled
    // click series stored through the "spark-orc" engine — loads must be
    // value-identical to the parquet namespace's
    store.createNamespace("events_orc", "ORC-backed twin", backend = "spark-orc")
    store.createFeature("events_orc/click", "click via the spark-orc backend")
    store.saveDf(
      tripled.where(col("event_type") === "click").drop("event_type", "v"),
      name = Some("events_orc/click"))

    // transforms over the click series (T1/T2 DAG)
    store.registerSqlTransform("events/click_sq", Seq("click"), "click * click")
    store.registerSqlTransform("events/click_comb", Seq("click", "click_sq"), "click + click_sq")

    // entity-keyed feature: per-user click values, tripled versions so the
    // per-(entity, time) dedup is observable like the plain features
    val keyedTripled = Tables.events(spark, sfDir)
      .where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("time"), col("value"))
      .crossJoin(spark.range(3).select(col("id").as("v")))
      .select(col("user_id"), col("time"),
        (col("value") * (col("v") + 1)).as("value"),
        expr("time - make_interval(0, 0, 0, 0, 0, v, 0)").as("created_time"))
    store.createKeyedFeature("events/click_by_user", Seq("user_id"))
    store.saveKeyed("events/click_by_user", keyedTripled)
    // a second keyed feature on the same entity for the multi-feature
    // keyed serving query (single version: created_time = time)
    store.createKeyedFeature("events/view_by_user", Seq("user_id"))
    store.saveKeyed("events/view_by_user", Tables.events(spark, sfDir)
      .where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("time"), col("value"),
        col("ts").as("created_time")))

    // entity-keyed feature GROUP: per-user wide table, tripled versions so
    // the latest-ROW dedup per (user, time) is observable (v=0 wins)
    store.createKeyedGroup("events/metrics_by_user", Seq("user_id"),
      Seq("value", "user_val"))
    store.saveKeyedGroup("events/metrics_by_user",
      Tables.events(spark, sfDir).where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("time"), col("value"),
          (col("user_id") * 1000 + col("event_id") % 1000).cast("double")
            .as("user_val"))
        .crossJoin(spark.range(3).select(col("id").as("v")))
        .select(col("user_id"), col("time"),
          (col("value") * (col("v") + 1)).as("value"), col("user_val"),
          expr("time - make_interval(0, 0, 0, 0, 0, v, 0)").as("created_time")))

    // multi-column feature group over ALL events (ts unique across table):
    // one table, columns loadable independently via parquet pruning
    store.createGroup("events/metrics", Seq("value", "user_val"))
    store.saveGroup("events/metrics", Tables.events(spark, sfDir)
      .select(col("ts").as("time"), col("value"),
        (col("user_id") * 1000 + col("event_id") % 1000).cast("double").as("user_val"),
        col("ts").as("created_time")))
    store
  }

  // ---- streaming fixtures ---------------------------------------------------

  private val streamed = TrieMap[String, Unit]()
  private val windowed = TrieMap[String, String]()

  /** Wipes `base`, lands each frame as ONE file `base/src/batch_<i>.parquet`
    * and returns that dir as a stream paced one file per micro-batch
    * ([[graft.streaming.StreamingOps.pacedFileSource]]), so the frames
    * drain in order as separate micro-batches — AvailableNow honors the
    * pacing. Distinct ascending mtimes pin the file source's processing
    * order. `schema` is the stream's read schema.
    */
  private def orderedFileStream(spark: SparkSession, base: String,
      schema: StructType, frames: Seq[DataFrame]): DataFrame = {
    val (src, stage) = (new Path(s"$base/src"), new Path(s"$base/stage"))
    val hfs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new Path(base), true)
    hfs.mkdirs(src)
    frames.zipWithIndex.foreach { case (df, i) =>
      val st = new Path(stage, i.toString)
      df.coalesce(1).write.mode("overwrite").parquet(st.toString)
      val part = hfs.listStatus(st).find(_.getPath.getName.endsWith(".parquet")).get.getPath
      val dst = new Path(src, s"batch_$i.parquet")
      hfs.rename(part, dst)
      hfs.setTimes(dst, 1000000L * (i + 1), -1)
    }
    hfs.delete(stage, true)
    graft.streaming.StreamingOps.pacedFileSource(spark, src.toString, schema,
      maxFilesPerTrigger = 1)
  }

  /** The corpus's (doc_id, text) rows matching `where`, as an
    * [[orderedFileStream]] of three micro-batches split on doc_id % 3.
    */
  private def docsByMod3(spark: SparkSession, sfDir: String, base: String,
      where: Column = lit(true)): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text")).where(where)
    orderedFileStream(spark, base, StructType.fromDDL("doc_id LONG, text STRING"),
      (0 until 3).map(m => d.where(col("doc_id") % 3 === m)))
  }

  /** Events parquet as a bounded stream (same ns→micros handling as
    * [[Tables.events]]).
    */
  def eventStream(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    GraftSession.tune(spark)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet") // file source needs a dir
      .parquet(sfDir)
    // same schema dispatch as [[Tables.events]]: ts has shipped as both
    // epoch-nanos LONG and timestamp[us] across driver testdata rounds
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }
  }

  /** Ensure events/stream_click exists in the fixture store, ingested through
    * the STREAMING path (AvailableNow → foreachBatch → batch save).
    * created_time is pinned to event time for determinism.
    */
  def streamedStore(spark: SparkSession, sfDir: String): FeatureStore = {
    val fs = store(spark, sfDir)
    streamed.getOrElseUpdate(sfDir, {
      fs.createFeature("events/stream_click", "click values via streaming ingest")
      val cp = s"${tmpRoot}/cp_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val cpPath = new org.apache.hadoop.fs.Path(cp)
      val hfs = cpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (hfs.exists(cpPath)) hfs.delete(cpPath, true)
      val src = eventStream(spark, sfDir)
        .where(col("event_type") === "click")
        .select(col("ts").as("time"), col("value"), col("ts").as("created_time"))
      val q = graft.streaming.StreamingOps.ingest(fs, src, "events/stream_click", cp,
        Trigger.AvailableNow())
      q.awaitTermination()
    })
    fs
  }

  private val streamedCompact = TrieMap[String, String]()

  /** The streamed-ingest feature again, but paced into ~4 micro-batches
    * (maxFilesPerTrigger=1 over a 4-file copy of the click slice) with
    * `compactEvery = 2` — the auto-compaction policy exercised END-TO-END:
    * the load must equal the plain streamed twin's (compaction preserves
    * every version) while the partition dirs hold compacted file sets.
    */
  def streamedCompactStore(spark: SparkSession, sfDir: String): FeatureStore = {
    val fs = store(spark, sfDir)
    streamedCompact.getOrElseUpdate(sfDir, {
      fs.createFeature("events/stream_click_c", "click values, streamed + auto-compacted")
      val srcDir = s"${tmpRoot}/scc_src_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      Tables.events(spark, sfDir)
        .where(col("event_type") === "click")
        .select(col("ts").as("time"), col("value"), col("ts").as("created_time"))
        .repartition(4)
        .write.mode("overwrite").parquet(srcDir)
      val cp = s"${tmpRoot}/scc_cp_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val schema = spark.read.parquet(srcDir).schema
      val src = graft.streaming.StreamingOps.pacedFileSource(
        spark, srcDir, schema, maxFilesPerTrigger = 1)
      val q = graft.streaming.StreamingOps.ingest(
        fs, src, "events/stream_click_c", cp, Trigger.AvailableNow(), compactEvery = 2)
      q.awaitTermination()
      "done"
    })
    fs
  }

  private val deduped = TrieMap[String, String]()

  /** Streaming watermark-bounded dedup materialized once per (JVM, sf):
    * every event injected 3×, deduped on event_id by
    * [[graft.streaming.StreamingOps.dedupedStream]], drained AvailableNow
    * into parquet. The duplicates are byte-identical, so the surviving set
    * must equal the distinct source events regardless of emission order.
    */
  def dedupedStreamPath(spark: SparkSession, sfDir: String): String =
    deduped.getOrElseUpdate(sfDir, {
      val out = s"${tmpRoot}/dd_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val cp = s"${out}_cp"
      for (p <- Seq(out, cp)) {
        val hp = new org.apache.hadoop.fs.Path(p)
        val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (hfs.exists(hp)) hfs.delete(hp, true)
      }
      val tripled = eventStream(spark, sfDir)
        .select(col("ts"), col("event_id"), col("event_type"), col("value"))
        .withColumn("__c", explode(array(lit(1), lit(2), lit(3)))).drop("__c")
      val q = graft.streaming.StreamingOps.dedupedStream(tripled, "ts", Seq("event_id"))
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .format("parquet").option("path", out)
        .start()
      q.awaitTermination()
      out
    })

  private val sessionizedMb = TrieMap[String, String]()

  /** TRUE multi-micro-batch sessionization materialized once per (JVM, sf):
    * events split into two time-halves as separate source FILES, streamed
    * with maxFilesPerTrigger=1 under Trigger.AvailableNow (which honors it,
    * so the split really executes as separate micro-batches), through
    * [[graft.streaming.StreamingOps.sessionizeStream]] (EventTimeTimeout
    * state). Sessions straddling the file boundary must stay whole across
    * batches. Two far-future sentinel files (negative user_ids, +10d/+20d)
    * push the watermark so every real session times out and emits —
    * timeouts fire one batch after the watermark passes, hence two
    * sentinels; the sentinels' own sessions stay open and are filtered by
    * the gate. Output must equal the batch gaps-and-islands oracle over
    * the full events table.
    */
  def sessionizedMbPath(spark: SparkSession, sfDir: String): String =
    sessionizedMb.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/smb_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val (out, cp) = (s"$base/out", s"$base/cp")
      val ev = Tables.events(spark, sfDir).select(col("user_id"), col("ts"), col("value"))
      val mrow = ev.agg(expr("percentile_approx(unix_micros(ts), 0.5, 1000)").as("m"),
        max(unix_micros(col("ts"))).as("mx")).head()
      val (m, mx) = (mrow.getLong(0), mrow.getLong(1))
      def sentinel(uid: Long, us: Long) = {
        import spark.implicits._
        Seq((uid, us)).toDF("user_id", "us")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
            lit(0.0).as("value"))
      }
      import spark.implicits._
      val stream = orderedFileStream(spark, base,
        StructType.fromDDL("user_id LONG, ts TIMESTAMP, value DOUBLE"), Seq(
          ev.where(unix_micros(col("ts")) <= m),
          ev.where(unix_micros(col("ts")) > m),
          sentinel(-1L, mx + 10L * 86400000000L),
          sentinel(-2L, mx + 20L * 86400000000L)))
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.StreamingOps.SessionEvent]
      val q = graft.streaming.StreamingOps.sessionizeStream(stream, gapMinutes = 30)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .format("parquet").option("path", out)
        .start()
      q.awaitTermination()
      out
    })

  private val mhStores = TrieMap[String, String]()

  /** Minhash signature store over docs < 250, built once per (JVM, sf) —
    * the store side of the incremental-dedup gates. Probes stay per-call.
    */
  def minhashStorePath(spark: SparkSession, sfDir: String): String =
    mhStores.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/mhs_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.DedupOps.buildMinhashStore(
        Tables.documents(spark, sfDir).where(col("doc_id") < 250),
        "doc_id", "text", path)
      path
    })

  private val wnStores = TrieMap[String, String]()

  /** Winnowing-fingerprint store over docs < 250, built in TWO batches
    * (< 125 base, 125-249 append — the sizes sidecar's additivity is on
    * the gate path), once per (JVM, sf).
    */
  def winnowStorePath(spark: SparkSession, sfDir: String): String =
    wnStores.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/wns_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val d = Tables.documents(spark, sfDir)
      graft.operators.DedupOps.buildWinnowStore(
        d.where(col("doc_id") < 125), "doc_id", "text", path)
      graft.operators.DedupOps.appendWinnowStore(
        d.where(col("doc_id") >= 125 && col("doc_id") < 250),
        "doc_id", "text", path, batchToken = "b2")
      path
    })

  private val shStores = TrieMap[String, String]()

  /** SimHash signature store over docs < 250, built in TWO batches
    * (< 125 base, 125-249 append), once per (JVM, sf).
    */
  def simhashStorePath(spark: SparkSession, sfDir: String): String =
    shStores.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/shs_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val d = Tables.documents(spark, sfDir)
      graft.operators.DedupOps.buildSimhashStore(
        d.where(col("doc_id") < 125), "doc_id", "text", path)
      graft.operators.DedupOps.appendSimhashStore(
        d.where(col("doc_id") >= 125 && col("doc_id") < 250),
        "doc_id", "text", path, batchToken = "b2")
      path
    })

  private val embStores = TrieMap[String, String]()

  /** Prepped embedding store over vec_id < 350, built in TWO batches,
    * once per (JVM, sf) — the store side of the incremental exact
    * embedding near-dup gate.
    */
  def embStorePath(spark: SparkSession, sfDir: String): String =
    embStores.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/emb_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val e = Tables.embeddings(spark, sfDir)
      graft.operators.SimilarityOps.buildEmbStore(
        e.where(col("vec_id") < 200), "vec_id", "embedding", path)
      graft.operators.SimilarityOps.appendEmbStore(
        e.where(col("vec_id") >= 200 && col("vec_id") < 350),
        "vec_id", "embedding", path, batchToken = "b2")
      path
    })

  private val lnStores = TrieMap[String, String]()

  /** Line-frequency census over the WHOLE corpus (word granularity,
    * delim = " "), built in TWO batches — the census side of the stored
    * boilerplate-removal gate, which must equal the one-shot form.
    */
  def lineStorePath(spark: SparkSession, sfDir: String): String =
    lnStores.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/lns_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val d = Tables.documents(spark, sfDir)
      graft.operators.DedupOps.buildLineStore(
        d.where(col("doc_id") < 250), "doc_id", "text", path, delim = " ")
      graft.operators.DedupOps.appendLineStore(
        d.where(col("doc_id") >= 250), "doc_id", "text", path,
        delim = " ", batchToken = "b2")
      path
    })

  private val fpStores = TrieMap[String, String]()

  /** Exact-dedup fingerprint store over docs < 250, built once per
    * (JVM, sf) — the store side of the incremental exact-dedup gate.
    */
  def fingerprintStorePath(spark: SparkSession, sfDir: String): String =
    fpStores.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/fps_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.DedupOps.buildFingerprintStore(
        Tables.documents(spark, sfDir).where(col("doc_id") < 250),
        "doc_id", "text", path)
      path
    })

  private val fpBlooms = TrieMap[String, String]()

  /** [[fingerprintStorePath]]'s store with its Bloom sketch built — the
    * store side of the bloom-probe gate. Built once per (JVM, sf); the
    * sketch lives under the store's own `_bloom/` dir.
    */
  def fingerprintBloomPath(spark: SparkSession, sfDir: String): String =
    fpBlooms.getOrElseUpdate(sfDir, {
      val path = fingerprintStorePath(spark, sfDir)
      graft.operators.DedupOps.buildFingerprintBloom(spark, path)
      path
    })

  private val clusterStores = TrieMap[String, String]()

  /** Cluster-label store built in TWO steps — base = the dedup_clusters
    * graph's edges with id_a < 250, update = the rest — so the gate
    * probing its latest-wins view exercises the incremental merge path:
    * the second batch's bridges must fuse base-era components to the
    * exact one-shot CC labeling.
    */
  def clusterStorePath(spark: SparkSession, sfDir: String): String =
    clusterStores.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/ccs_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val d = Tables.documents(spark, sfDir)
      val stars = d.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") - col("doc_id") % 7).as("id_b"))
      val bridges = d.where(col("doc_id") % 21 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") - 1).as("id_b"))
      val edges = stars.union(bridges)
      graft.operators.DedupOps.buildClusterStore(
        edges.where(col("id_a") < 250), "id_a", "id_b", path)
      graft.operators.DedupOps.updateClusterStore(
        edges.where(col("id_a") >= 250), "id_a", "id_b", path, "b1")
      path
    })

  private val shBlooms = TrieMap[String, String]()

  /** [[fingerprintStorePath]]'s store with SHARDED Bloom sketches built
    * (4 shards) — the store side of the sharded-bloom-probe gate.
    */
  def shardedBloomPath(spark: SparkSession, sfDir: String): String =
    shBlooms.getOrElseUpdate(sfDir, {
      val path = fingerprintStorePath(spark, sfDir)
      graft.operators.DedupOps.buildShardedFingerprintBloom(spark, path, shards = 4)
      path
    })

  private val zLayouts = TrieMap[String, String]()

  /** Z-ordered events layout (x = user bucket, y = value band) with its
    * file-skipping manifest, written once per (JVM, sf) — the table side
    * of the `layout_zorder` pruned-read gate. 32 files so the 2-D box
    * probe has real files to skip; bits=9 covers both columns' ranges.
    */
  def zLayoutPath(spark: SparkSession, sfDir: String): String =
    zLayouts.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/zlay_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val ev = Tables.events(spark, sfDir).select(
        col("event_id"),
        (col("user_id") % 256).as("x"),
        floor(col("value")).cast("bigint").as("y"))
      graft.operators.LayoutOps.writeZOrdered(ev, Seq("x", "y"), path,
        nFiles = 32, bits = 9)
      path
    })

  private val zAppLayouts = TrieMap[String, String]()

  /** [[zLayoutPath]]'s incremental twin: base batch = even event_ids,
    * appended batch (token b1) = odd event_ids — the table side of the
    * `layout_zorder_append` gate, which must serve the SAME rows as a
    * full-scan filter over all events.
    */
  def zLayoutAppendPath(spark: SparkSession, sfDir: String): String =
    zAppLayouts.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/zlayapp_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val ev = Tables.events(spark, sfDir).select(
        col("event_id"),
        (col("user_id") % 256).as("x"),
        floor(col("value")).cast("bigint").as("y"))
      graft.operators.LayoutOps.writeZOrdered(
        ev.where(col("event_id") % 2 === 0), Seq("x", "y"), path,
        nFiles = 16, bits = 9)
      graft.operators.LayoutOps.appendZOrdered(
        ev.where(col("event_id") % 2 === 1), Seq("x", "y"), path,
        batchToken = "b1", nFiles = 16)
      path
    })

  private val streamZLay = TrieMap[String, String]()

  /** Z-layout table maintained by the STREAMING path: the events-derived
    * (event_id, x, y) rows drain in 3 cold-start micro-batches through
    * [[graft.streaming.StreamingOps.zLayout]] — the
    * `stream_zorder` gate's pruned read over the result must equal the
    * one-shot full-scan filter.
    */
  def streamZLayoutPath(spark: SparkSession, sfDir: String): String =
    streamZLay.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/szl_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val (table, cp) = (s"$base/table", s"$base/cp")
      val ev = Tables.events(spark, sfDir).select(
        col("event_id"),
        (col("user_id") % 256).as("x"),
        floor(col("value")).cast("bigint").as("y"))
      val stream = orderedFileStream(spark, base,
        StructType.fromDDL("event_id LONG, x LONG, y LONG"),
        (0 until 3).map(i => ev.where(col("event_id") % 3 === i)))
      graft.streaming.StreamingOps.zLayout(stream, Seq("x", "y"), table, cp,
        Trigger.AvailableNow(), nFiles = 8, bits = 9).awaitTermination()
      table
    })

  private val bucketed = TrieMap[String, (String, String)]()

  /** Bucketed fact + dim tables on user_id (16 buckets, sorted) — the
    * co-located-join fixture: the `layout_bucketed_join` gate joins them
    * with zero exchanges (pay the shuffle once at write). Table names
    * carry the sf suffix so scales don't collide in the shared catalog.
    */
  def bucketedTables(spark: SparkSession, sfDir: String): (String, String) =
    bucketed.getOrElseUpdate(sfDir, {
      val sfx = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
      val (fact, dim) = (s"bk_events$sfx", s"bk_users$sfx")
      // a previous JVM's managed-table dir survives in the warehouse while
      // this JVM's in-memory catalog has never heard of the table —
      // saveAsTable then refuses the orphan LOCATION; clear both sides
      Seq(fact, dim).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val wh = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
        val whFs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (whFs.exists(wh)) whFs.delete(wh, true)
      }
      val ev = Tables.events(spark, sfDir)
      graft.sources.Sources.writeBucketed(
        ev.select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("bigint").as("cents")),
        fact, Seq("user_id"), 16, sortCols = Seq("user_id"))
      graft.sources.Sources.writeBucketed(
        ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("user_rows"),
            countDistinct(col("event_type")).as("user_types")),
        dim, Seq("user_id"), 16, sortCols = Seq("user_id"))
      (fact, dim)
    })

  private val scdStores = TrieMap[String, String]()

  /** SCD2 store built in TWO steps — base = events before Jan 15, update
    * batch = the rest — so the `fs_scd2_incremental` gate's resolved view
    * exercises the open-interval close + append path and must equal the
    * one-shot scdIntervals over all events (shared fs_scd2 oracle).
    */
  def scdStorePath(spark: SparkSession, sfDir: String): String =
    scdStores.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/scd_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      graft.ts.Scd.buildScdStore(ev.where(col("ts") < cut),
        "user_id", "ts", Seq("event_type"), Seq("event_id"), path)
      graft.ts.Scd.updateScdStore(ev.where(col("ts") >= cut), path, "b1")
      path
    })

  private val streamScd = TrieMap[String, String]()

  /** SCD2 store maintained by the STREAMING path: events drain in 3
    * time-ordered micro-batches (global time cutoffs keep every entity's
    * arrivals strictly increasing — the store's arrival contract) —
    * the `stream_scd2` gate's resolved view must equal the one-shot
    * change capture (shared fs_scd2 oracle).
    */
  def streamScdPath(spark: SparkSession, sfDir: String): String =
    streamScd.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/sscd_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val (store0, cp) = (s"$base/store", s"$base/cp")
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      val cuts = Seq(
        ("1970-01-01 00:00:00", "2024-01-11 00:00:00"),
        ("2024-01-11 00:00:00", "2024-01-21 00:00:00"),
        ("2024-01-21 00:00:00", "2100-01-01 00:00:00"))
      val stream = orderedFileStream(spark, base, ev.schema, cuts.map { case (f, t) =>
        ev.where(col("ts") >= lit(java.sql.Timestamp.valueOf(f)) &&
          col("ts") < lit(java.sql.Timestamp.valueOf(t)))
      })
      graft.streaming.StreamingOps.scd(
        stream, "user_id", "ts", Seq("event_type"), Seq("event_id"),
        store0, cp, Trigger.AvailableNow()).awaitTermination()
      store0
    })

  private val histStores = TrieMap[String, String]()

  /** Persisted reference histogram of the latest click view over the
    * `fs_drift_hist` gate's reference window — the store side of
    * `fs_drift_stored`, which must equal the two-window profileDrift.
    */
  def histStorePath(spark: SparkSession, sfDir: String): String =
    histStores.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/hist_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      store(spark, sfDir).buildHistStore("events/click",
        "2024-01-01 00:00:00", "2024-01-09 23:59:59",
        lo = 0.0, hi = 500.0, bins = 20, path = path)
      path
    })

  private val streamDrift = TrieMap[String, String]()

  /** Stream-maintained CURRENT histogram for the drift tier: the
    * fs_drift_hist gate's current-window latest-click values drain in 3
    * micro-batches against [[histStorePath]]'s frozen reference binning.
    * Returns the curPath consumed by the `stream_drift` gate, whose
    * report must equal the two-window profileDrift exactly.
    */
  def streamDriftPath(spark: SparkSession, sfDir: String): String =
    streamDrift.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/sdr_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val (cur, cp) = (s"$base/cur", s"$base/cp")
      val ref = histStorePath(spark, sfDir)
      val curRows = store(spark, sfDir).storage.load("events", "click",
        from = Some(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
        to = Some(java.sql.Timestamp.valueOf("2024-01-31 00:00:00")))
        .select(col("value"), pmod(xxhash64(col("time")), lit(3)).as("k"))
      val stream = orderedFileStream(spark, base, StructType.fromDDL("value DOUBLE"),
        (0 until 3).map(i => curRows.where(col("k") === i).select(col("value"))))
      graft.streaming.StreamingOps.hist(
        stream, "value", ref, cur, cp, Trigger.AvailableNow()).awaitTermination()
      cur
    })

  private val lmModels = TrieMap[String, String]()

  /** Persisted bigram-LM model trained once per (JVM, sf) on the lang='en'
    * slice — the store side of the `quality_lm_stored` gate, which must
    * equal the inline [[graft.operators.TextOps.bigramSurprise]] exactly.
    */
  def lmModelPath(spark: SparkSession, sfDir: String): String =
    lmModels.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/lm_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.TextOps.buildLmModel(
        Tables.documents(spark, sfDir).where(col("lang") === "en"),
        "text", path)
      path
    })

  private val postingsIdx = TrieMap[String, String]()

  /** Persisted postings index built once per (JVM, sf) in TWO batches —
    * base = docs < 250, append = docs >= 250 — so the gate probing it
    * exercises the append path's df/count additivity: the probe must equal
    * the whole-corpus scorer exactly.
    */
  def postingsIndexPath(spark: SparkSession, sfDir: String): String =
    postingsIdx.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/pix_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val d = Tables.documents(spark, sfDir)
      graft.operators.SearchOps.buildPostingsIndex(
        d.where(col("doc_id") < 250), "doc_id", "text", path)
      graft.operators.SearchOps.appendPostingsIndex(
        d.where(col("doc_id") >= 250), "doc_id", "text", path, "b2")
      path
    })

  private val winStores = TrieMap[String, String]()

  /** Window-hash store over docs < 250, built as TWO batches (< 125 base,
    * 125-249 append) and then COMPACTED to a fresh single-batch path
    * ([[graft.operators.DedupOps.compactWindowStore]]'s
    * rebuild-dst-then-swap contract) — the store side of the incremental
    * substring-dedup gates, so those gates run their oracle against a
    * compacted store (probe results are byte-identical by construction;
    * the multi-batch canonical fold itself is spec-covered in
    * OperatorsSpec). Built once per (JVM, sf).
    */
  def windowStorePath(spark: SparkSession, sfDir: String): String =
    winStores.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/wst_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val d = Tables.documents(spark, sfDir)
      graft.operators.DedupOps.buildWindowStore(
        d.where(col("doc_id") < 125), "doc_id", "text", path)
      graft.operators.DedupOps.appendWindowStore(
        d.where(col("doc_id") >= 125 && col("doc_id") < 250),
        "doc_id", "text", path, batchToken = "b2")
      graft.operators.DedupOps.compactWindowStore(spark, path, s"${path}_c")
      s"${path}_c"
    })

  private val streamPix = TrieMap[String, String]()

  /** Postings index materialized through the STREAMING maintenance path:
    * documents split into three id-striped files, drained one file per
    * micro-batch through [[graft.streaming.StreamingOps.index]]
    * (one batch dir per micro-batch), then COMPACTED to a fresh
    * single-batch index — the gate probing it must equal the whole-corpus
    * scorer, proving batch accumulation, df/N additivity and compaction
    * all preserve search semantics.
    */
  def streamedPostingsPath(spark: SparkSession, sfDir: String): String =
    streamPix.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/spx_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val d = Tables.documents(spark, sfDir)
      val stream = orderedFileStream(spark, base, d.schema,
        (0 until 3).map(m => d.where(col("doc_id") % 3 === m)))
      val q = graft.streaming.StreamingOps.index(
        stream, "doc_id", "text", s"$base/pix", s"$base/ckpt", Trigger.AvailableNow())
      // a silent timeout would compact a PARTIAL index and surface as a
      // baffling gate mismatch — fail here instead
      require(q.awaitTermination(180000), "streamed index did not drain")
      graft.operators.SearchOps.compactPostingsIndex(
        spark, s"$base/pix", s"$base/pixc")
      s"$base/pixc"
    })

  private val streamPq = TrieMap[String, String]()

  /** PQ index materialized through the STREAMING maintenance path: the
    * codebooks train on the base corpus (vec_id < 350), the remaining
    * vectors arrive as three id-striped files drained one per micro-batch
    * through [[graft.streaming.StreamingOps.annIndex]] — each
    * batch encodes under the FROZEN codebooks into its own `batch=` dir.
    * The gate probing it replays the same construction in SQL (training
    * restricted to the base, encoding over everything), proving frozen-
    * codebook append semantics end-to-end.
    */
  def streamedPqPath(spark: SparkSession, sfDir: String): String =
    streamPq.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/spq_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val emb = Tables.embeddings(spark, sfDir)
      val stream = orderedFileStream(spark, base, emb.schema, (0 until 3).map(m =>
        emb.where(col("vec_id") >= 350 && col("vec_id") % 3 === m)))
      graft.operators.SimilarityOps.buildPqIndex(
        emb.where(col("vec_id") < 350), "vec_id", "embedding",
        s"$base/pq", m = 4, ksub = 8, refineIters = 1)
      val q = graft.streaming.StreamingOps.annIndex(
        stream, "vec_id", "embedding", s"$base/pq", s"$base/ckpt", Trigger.AvailableNow())
      require(q.awaitTermination(180000), "streamed PQ index did not drain")
      // gate probes the COMPACTED index (the postings-fixture pattern):
      // batch accumulation AND compaction must both preserve the answer
      graft.operators.SimilarityOps.compactPqIndex(
        spark, s"$base/pq", s"$base/pqc")
      s"$base/pqc"
    })

  private val incDedupMb = TrieMap[String, String]()

  private val streamClusters = TrieMap[String, String]()

  /** Streaming cluster maintenance driven to completion: the WHOLE corpus
    * in 3 micro-batch files against COLD-START minhash + label stores.
    * Returns the label-store path; its latest-wins view must equal the
    * one-shot CC over the corpus's full near-dup pair set.
    */
  def streamClustersPath(spark: SparkSession, sfDir: String): String =
    streamClusters.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/scl_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val (cp, store, labels) = (s"$base/cp", s"$base/store", s"$base/labels")
      val stream = docsByMod3(spark, sfDir, base)
      graft.streaming.StreamingOps.clusters(stream, "doc_id", "text", store, labels, cp,
        Trigger.AvailableNow()).awaitTermination()
      labels
    })

  private val streamWinnow = TrieMap[String, String]()

  /** Streaming winnow-store maintenance drained over the whole corpus from
    * a COLD START in 3 micro-batches (doc_id % 3 files) — the union of the
    * per-batch pair dirs must equal the one-shot whole-corpus
    * [[graft.operators.DedupOps.winnowingPairs]] (each pair lands exactly
    * once: with the batch that holds both endpoints, or with the later
    * endpoint's probe of the store).
    */
  def streamWinnowPath(spark: SparkSession, sfDir: String): String =
    streamWinnow.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/swn_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val (out, cp, store) = (s"$base/out", s"$base/cp", s"$base/store")
      val stream = docsByMod3(spark, sfDir, base)
      graft.streaming.StreamingOps.winnow(stream, "doc_id", "text", store, out, cp,
        Trigger.AvailableNow()).awaitTermination()
      out
    })

  private val streamEmb = TrieMap[String, String]()

  /** Streaming embedding near-dup drained cold-start in 3 micro-batches
    * (vec_id % 3 over vec_id < 500): the per-batch pair dirs union to the
    * one-shot exact cosine pairs (each pair lands exactly once — with the
    * batch holding both endpoints or with the later endpoint's probe).
    */
  def streamEmbNearDupPath(spark: SparkSession, sfDir: String): String =
    streamEmb.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/sem_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val (out, cp, store) = (s"$base/out", s"$base/cp", s"$base/store")
      val e = Tables.embeddings(spark, sfDir).where(col("vec_id") < 500)
        .select(col("vec_id"), col("embedding"))
      val stream = orderedFileStream(spark, base, e.schema,
        (0 until 3).map(m => e.where(col("vec_id") % 3 === m)))
      graft.streaming.StreamingOps.embNearDup(stream, "vec_id", "embedding", store, out,
        cp, Trigger.AvailableNow(), minCosine = 0.4).awaitTermination()
      out
    })

  private val streamBp = TrieMap[String, String]()

  /** Streaming boilerplate-census maintenance drained cold-start in 3
    * micro-batches (doc_id % 3 files, word granularity, minCount 50):
    * each batch strips against the census of the batches BEFORE it and
    * then appends its own counts — the drained output is deterministic
    * given the file order and replayed exactly by the oracle's
    * per-batch cumulative-census SQL.
    */
  def streamBoilerplatePath(spark: SparkSession, sfDir: String): String =
    streamBp.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/sbp_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val (out, cp, census) = (s"$base/out", s"$base/cp", s"$base/census")
      val stream = docsByMod3(spark, sfDir, base)
      graft.streaming.StreamingOps.boilerplate(stream, "doc_id", "text", census, out, cp,
        Trigger.AvailableNow(), minCount = 50, delim = " ").awaitTermination()
      out
    })

  /** TRUE multi-micro-batch incremental dedup materialized once per
    * (JVM, sf): a store is built from docs < 250, docs >= 250 are split
    * into three source FILES (distinct mtimes pin processing order) and
    * streamed with maxFilesPerTrigger=1 under AvailableNow through
    * [[graft.streaming.StreamingOps.dedupIncremental]] — each
    * micro-batch probes the store and then appends its own signatures, so
    * cross-batch pairs (an early doc duplicated by a later one) must be
    * found by the LATER batch against the grown store. The drained pair
    * set must equal the one-shot dedup_incremental oracle.
    */
  def incrementalDedupMbPath(spark: SparkSession, sfDir: String): String =
    incDedupMb.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/idm_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val (out, cp, store) = (s"$base/out", s"$base/cp", s"$base/store")
      val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      val stream = docsByMod3(spark, sfDir, base, col("doc_id") >= 250)
      graft.operators.DedupOps.buildMinhashStore(
        d.where(col("doc_id") < 250), "doc_id", "text", store)
      val q = graft.streaming.StreamingOps.dedupIncremental(
        stream, "doc_id", "text", store, out, cp, Trigger.AvailableNow())
      q.awaitTermination()
      out
    })

  private val curateMb = TrieMap[String, String]()

  /** TRUE multi-micro-batch streaming curation materialized once per
    * (JVM, sf): a fingerprint store seeded from the prior corpus (docs
    * < 250, doc_id % 17 != 0), corpus docs >= 250 (% 17 != 0) split into
    * three source files by ID RANGE — batch order equals id order, so
    * first-seen-wins equals the corpus-wide min-id canonical the oracle
    * computes — and streamed one file per trigger through
    * [[graft.streaming.StreamingOps.curate]] against the
    * benchmark split (doc_id % 17 == 0). Returns the kept-docs output dir.
    */
  def curateStreamMbPath(spark: SparkSession, sfDir: String): String =
    curateMb.getOrElseUpdate(sfDir, {
      val base = s"${tmpRoot}/csm_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val (out, cp, store) = (s"$base/out", s"$base/cp", s"$base/store")
      val d = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"), col("lang"))
      val newDocs = d.where(col("doc_id") >= 250 && col("doc_id") % 17 =!= 0)
      val bounds = newDocs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * (hi - lo) / 3
      val stream = orderedFileStream(spark, base,
        StructType.fromDDL("doc_id LONG, text STRING, lang STRING"), Seq(
          newDocs.where(col("doc_id") <= cut1),
          newDocs.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
          newDocs.where(col("doc_id") > cut2)))
      graft.operators.DedupOps.buildFingerprintStore(
        d.where(col("doc_id") < 250 && col("doc_id") % 17 =!= 0),
        "doc_id", "text", store)
      val q = graft.streaming.StreamingOps.curate(
        stream, Tables.documents(spark, sfDir).where(col("doc_id") % 17 === 0),
        "doc_id", "text", "lang", store, out, cp, Trigger.AvailableNow())
      q.awaitTermination()
      out
    })

  /** Streaming windowed counts materialized once per (JVM, sf): complete-mode
    * memory sink drained by AvailableNow, persisted to parquet for reuse.
    */
  def windowedCountsPath(spark: SparkSession, sfDir: String): String =
    windowed.getOrElseUpdate(sfDir, {
      val out = s"${tmpRoot}/wc_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val agg = graft.streaming.StreamingOps.windowedCounts(
        eventStream(spark, sfDir).select(col("ts"), col("event_type"), col("value")),
        "ts", "event_type", "1 hour")
      val q = agg.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("complete")
        .format("memory").queryName("graft_wc")
        .start()
      q.awaitTermination()
      spark.table("graft_wc").write.mode("overwrite").parquet(out)
      out
    })

  // ---- persisted ANN indexes (build once, probe many): the builds are
  // fixture work — the probe is the repeated query the gates time. Every
  // construction is deterministic, so a memoized index is byte-identical
  // to the in-gate rebuild it replaces and the oracles stay hash-exact.

  private val ivfIxs = TrieMap[String, String]()

  /** IVF index over the full embeddings table, built once per (JVM, sf). */
  def ivfIndexPath(spark: SparkSession, sfDir: String): String =
    ivfIxs.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/ivfix_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.SimilarityOps.buildIvfIndex(
        Tables.embeddings(spark, sfDir), "vec_id", "embedding", path)
      path
    })

  private val ivfAppIxs = TrieMap[String, String]()

  /** IVF index built on the base corpus (vec_id >= 50) with vec_id < 50
    * appended under the FROZEN base centroids — the incremental-serving
    * fixture of `ann_ivf_append`; the gate's query is the probe.
    */
  def ivfAppendIndexPath(spark: SparkSession, sfDir: String): String =
    ivfAppIxs.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/ivfap_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val emb = Tables.embeddings(spark, sfDir)
      graft.operators.SimilarityOps.buildIvfIndex(
        emb.where(col("vec_id") >= 50), "vec_id", "embedding", path)
      graft.operators.SimilarityOps.appendIvfIndex(
        emb.where(col("vec_id") < 50), "vec_id", "embedding", path,
        batchToken = "b1")
      path
    })

  private val sq8Ixs = TrieMap[String, String]()

  /** SQ8 code index over the full embeddings table, once per (JVM, sf). */
  def sq8IndexPath(spark: SparkSession, sfDir: String): String =
    sq8Ixs.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/sq8ix_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.SimilarityOps.buildSq8Index(
        Tables.embeddings(spark, sfDir), "vec_id", "embedding", path)
      path
    })

  private val pqIxs = TrieMap[String, String]()

  /** PQ index (m=4, ksub=8, one Lloyd refinement) over the full embeddings
    * table, once per (JVM, sf) — shared by `ann_pq_persisted` AND
    * `ann_pq_recall` (identical parameters → identical index).
    */
  def pqIndexPath(spark: SparkSession, sfDir: String): String =
    pqIxs.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/pqix_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.SimilarityOps.buildPqIndex(
        Tables.embeddings(spark, sfDir), "vec_id", "embedding", path,
        m = 4, ksub = 8, refineIters = 1)
      path
    })

  private val ivfPqIxs = TrieMap[String, String]()

  /** IVF+PQ index (default construction) over the full embeddings table,
    * once per (JVM, sf) — the billion-scale serving shape's fixture.
    */
  def ivfPqIndexPath(spark: SparkSession, sfDir: String): String =
    ivfPqIxs.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/ivfpqix_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.SimilarityOps.buildIvfPqIndex(
        Tables.embeddings(spark, sfDir), "vec_id", "embedding", path)
      path
    })

  // ---- SERVING-shape dedup stores (LARGE store, small probe — the
  // production direction: at 100 TB the corpus-side signature pass ran at
  // ingest and every new crawl batch probes it; the pre-existing
  // *_incremental gates exercise the inverse backfill shape where the
  // probe IS the corpus). Store side = docs >= 250, probes use docs < 250.

  private val fpServing = TrieMap[String, String]()

  /** Fingerprint store over docs >= 250, once per (JVM, sf). */
  def fingerprintServingStorePath(spark: SparkSession, sfDir: String): String =
    fpServing.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/fps_srv_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.DedupOps.buildFingerprintStore(
        Tables.documents(spark, sfDir).where(col("doc_id") >= 250),
        "doc_id", "text", path)
      path
    })

  private val mhServing = TrieMap[String, String]()

  /** Minhash signature store over docs >= 250, once per (JVM, sf). */
  def minhashServingStorePath(spark: SparkSession, sfDir: String): String =
    mhServing.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/mhs_srv_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.DedupOps.buildMinhashStore(
        Tables.documents(spark, sfDir).where(col("doc_id") >= 250),
        "doc_id", "text", path)
      path
    })

  private val shServing = TrieMap[String, String]()

  /** SimHash signature store over docs >= 250, once per (JVM, sf). */
  def simhashServingStorePath(spark: SparkSession, sfDir: String): String =
    shServing.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/shs_srv_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.DedupOps.buildSimhashStore(
        Tables.documents(spark, sfDir).where(col("doc_id") >= 250),
        "doc_id", "text", path)
      path
    })

  private val wnServing = TrieMap[String, String]()

  /** Winnowing-fingerprint store over docs >= 250, once per (JVM, sf). */
  def winnowServingStorePath(spark: SparkSession, sfDir: String): String =
    wnServing.getOrElseUpdate(sfDir, {
      val path = s"${tmpRoot}/wns_srv_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.DedupOps.buildWinnowStore(
        Tables.documents(spark, sfDir).where(col("doc_id") >= 250),
        "doc_id", "text", path)
      path
    })

  private val pieceVocabs = TrieMap[String, String]()

  /** Top-200 word→piece vocab of the documents table, persisted once per
    * (JVM, sf) — the tokenizer-dump fixture of `corpus_pack_pieces` (a real
    * pipeline loads a trained tokenizer; deriving it per packing run was
    * fixture work inside the gate). Content identical to an inline
    * `topWordPieceVocab(docs, "text", 200)`: the parquet round-trip
    * preserves the (word, pieces) rows and the packer's map build is
    * order-independent.
    */
  def pieceVocabPath(spark: SparkSession, sfDir: String): String =
    pieceVocabs.getOrElseUpdate(sfDir, {
      val out = s"${tmpRoot}/pv_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      graft.operators.TextOps.topWordPieceVocab(
        Tables.documents(spark, sfDir), "text", 200)
        .write.mode("overwrite").parquet(out)
      out
    })

  private val bpeMerges = TrieMap[String, Seq[(String, String)]]()

  /** BPE merge table (200 merges) learned from the documents table once per
    * (JVM, sf) — the trained-tokenizer fixture of `corpus_bpe_roundtrip`.
    */
  def bpeMergeTable(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    bpeMerges.getOrElseUpdate(sfDir,
      graft.operators.TextOps.learnBpeMerges(
        Tables.documents(spark, sfDir), "text", 200))

  /** Force EVERY memoized fixture artifact for `sfDir` — stores, indexes,
    * streams, models. `Bench` calls this once before timing so gate times
    * measure the repeated query (the probe), not one-time fixture
    * construction; correctness runs (`Verify`) skip it and let each gate
    * build lazily, proving the lazy path stays alive.
    */
  def warmAll(spark: SparkSession, sfDir: String): Unit = {
    store(spark, sfDir)
    streamedStore(spark, sfDir)
    dedupedStreamPath(spark, sfDir)
    sessionizedMbPath(spark, sfDir)
    minhashStorePath(spark, sfDir)
    winnowStorePath(spark, sfDir)
    simhashStorePath(spark, sfDir)
    embStorePath(spark, sfDir)
    lineStorePath(spark, sfDir)
    fingerprintStorePath(spark, sfDir)
    fingerprintBloomPath(spark, sfDir)
    clusterStorePath(spark, sfDir)
    shardedBloomPath(spark, sfDir)
    zLayoutPath(spark, sfDir)
    zLayoutAppendPath(spark, sfDir)
    streamZLayoutPath(spark, sfDir)
    bucketedTables(spark, sfDir)
    scdStorePath(spark, sfDir)
    streamScdPath(spark, sfDir)
    histStorePath(spark, sfDir)
    streamDriftPath(spark, sfDir)
    lmModelPath(spark, sfDir)
    postingsIndexPath(spark, sfDir)
    windowStorePath(spark, sfDir)
    streamedPostingsPath(spark, sfDir)
    streamedPqPath(spark, sfDir)
    streamClustersPath(spark, sfDir)
    streamWinnowPath(spark, sfDir)
    streamEmbNearDupPath(spark, sfDir)
    streamBoilerplatePath(spark, sfDir)
    incrementalDedupMbPath(spark, sfDir)
    curateStreamMbPath(spark, sfDir)
    windowedCountsPath(spark, sfDir)
    fingerprintServingStorePath(spark, sfDir)
    minhashServingStorePath(spark, sfDir)
    simhashServingStorePath(spark, sfDir)
    winnowServingStorePath(spark, sfDir)
    ivfIndexPath(spark, sfDir)
    ivfAppendIndexPath(spark, sfDir)
    sq8IndexPath(spark, sfDir)
    pqIndexPath(spark, sfDir)
    ivfPqIndexPath(spark, sfDir)
    pieceVocabPath(spark, sfDir)
    bpeMergeTable(spark, sfDir)
    ()
  }
}

package graft

/** Physical-plan quality gates: these encode the 100 TB design contract —
  * filters reach the scan, hive partitions prune, small sides broadcast,
  * map-only operators stay shuffle-free, aggregations are partial before
  * the exchange. A refactor that silently regresses a plan fails here even
  * though results stay correct.
  */
class PlanSpec extends SparkTestBase {

  val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q1_agg: shipdate filter pushed to parquet, schema pruned to used columns") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("q3_topk and q5_join: dimension sides broadcast, no sort-merge join") {
    Seq("q3_topk", "q5_join").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q should broadcast")
      assert(!p.contains("SortMergeJoin"), s"$q must not sort-merge $p")
    }
  }

  test("text_stats and scalar_funcs are shuffle-free single-pass projections") {
    Seq("text_stats", "scalar_funcs", "mm_media_meta", "text_redact").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle")
    }
  }

  test("LSH banding shuffles the packed 64-bit bucket, not the raw band key") {
    // the banded exchange must carry (id, __bucket: long) — the raw key (a
    // signature slice array/string) dominated shuffle width before packing
    val p = plan("dedup_minhash_lsh")
    assert(p.contains("__bucket"), "banding must pack (band, key) into __bucket")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.exists(_.contains("__bucket")),
      "the bucket-count window must partition by the packed key")
    assert(!windows.exists(w => w.contains("band#") && w.contains("key#")),
      "no window may partition by the unpacked (band, key) pair")
  }

  test("text_contam: benchmark broadcast, corpus shuffles once on the doc id") {
    val p = plan("text_contam")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark n-gram membership must be a broadcast join")
    // the ONLY non-broadcast exchanges allowed are the corpus shingle
    // window's id shuffle and the (tiny) bench-side distinct — the two
    // post-join groupBys must reuse the window's id partitioning
    val wide = p.linesIterator.filter(l =>
      l.trim.startsWith("+- Exchange") || l.trim.startsWith(":- Exchange") ||
        l.trim.startsWith("Exchange")).size
    assert(wide <= 2, s"expected <= 2 hash exchanges (corpus id + bench distinct):\n$p")
  }

  test("corpus_pack: prefix-sum windows are bucket-partitioned, never global") {
    val p = plan("corpus_pack")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty)
    assert(windows.forall(_.contains("__b")),
      s"packing must use the bucketed prefix scan, not a global-order window:\n$windows")
  }

  test("point-in-time joins: unkeyed windows bucket-partitioned, keyed ones per entity") {
    def windows(p: String) = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    Seq("fs_asof_spine", "fs_asof_spine_tol").foreach { q =>
      val p = plan(q)
      assert(windows(p).nonEmpty && windows(p).forall(_.contains("__b")),
        s"$q: the unkeyed as-of must use the bucketed prefix scan:\n${windows(p)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi/broadcast-joined")
    }
    val keyed = windows(plan("fs_keyed_asof"))
    assert(keyed.nonEmpty && keyed.forall(_.contains("user_id")),
      s"fs_keyed_asof: windows must partition by the entity key:\n$keyed")
  }

  test("fs_load_latest: dedup is a partial (map-side) aggregation, not a window sort") {
    val p = plan("fs_load_latest")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"dedup should partial-aggregate before the shuffle:\n$p")
    assert(!p.contains("Window"), "latest-version dedup must not use a window sort")
  }

  test("feature scan prunes hive partitions from time bounds") {
    val fs = Fixtures.store(spark, dir)
    val df = fs.storage.scan("events", "click",
      from = Some(ts("2024-01-10 00:00:00")), to = Some(ts("2024-01-12 00:00:00")))
    val leaves = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(leaves.contains("PartitionFilters") && leaves.contains("partition"))
    // rows come from at most the 3 in-range date dirs of ~30 (pruning held);
    // a dir whose rows all fail the row-level time filter won't appear
    val dirs = df.select(org.apache.spark.sql.functions.input_file_name()).distinct()
      .collect().map(_.getString(0).split("/partition=")(1).takeWhile(_ != '/')).distinct
    assert(dirs.length >= 2 && dirs.length <= 3,
      s"expected 2-3 partitions contributing rows, got ${dirs.toSeq}")
  }

  test("group subset load prunes unrequested columns at the parquet reader") {
    val p = plan("fg_load_pruned")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("user_val"), s"unrequested group column must not be read:\n$p")
  }

  test("minhash LSH signature pass aggregates map-side before its one shuffle") {
    val p = operators.DedupOps.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min"), "signature mins must partial-aggregate")
  }

  test("keyed load: time bounds prune keyed hive partitions; dedup partial-aggregates") {
    val fs = Fixtures.store(spark, dir)
    val df = fs.storage.loadKeyed("events", "click_by_user", Seq("user_id"),
      from = Some(ts("2024-01-10 00:00:00")), to = Some(ts("2024-01-12 00:00:00")))
    val p = df.queryExecution.executedPlan.toString
    val leaves = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(leaves.contains("PartitionFilters") && leaves.contains("partition"))
    assert(p.contains("partial_max") || p.contains("ObjectHashAggregate")
      || p.contains("SortAggregate"),
      s"keyed dedup should partial-aggregate before the shuffle:\n$p")
    assert(!p.contains("Window"), "keyed dedup must not use a window sort")
  }

  test("exact near-dup routes pairs through equi-joins; IVF never a shuffled cartesian") {
    // emb_neardup: the blocked cartesian must be equi-join routed — an
    // unbounded nested-loop/cartesian is the exact failure mode it replaces
    val p = plan("emb_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"emb_neardup must route pairs through equi-joins:\n${p.take(800)}")
    // ann_ivf: corpus × 16-centroid BROADCAST cross joins are by design
    // (bounded build side); what must never appear is a non-broadcast
    // cartesian of two unbounded sides
    assert(!plan("ann_ivf_topk").contains("CartesianProduct"))
  }

  test("read-path action count: memoized resample/as-of fills run as ONE driver action (few jobs)") {
    // The VERDICT r6 contract: the carry prefix scan is in-plan (a window
    // over the O(buckets) carries aggregate, broadcast back), so on a cuts
    // memo HIT the whole fill costs the consumer's single action. Count
    // Spark jobs around the second (memo-hit) run — a regression back to
    // driver-side carries or chained interp passes adds 2+ jobs per read
    // and fails this ceiling.
    val fs = Fixtures.store(spark, dir)
    def resample(how: String) = fs.storage.load("events", "click",
      from = Some(ts("2024-01-01 00:00:00")), to = Some(ts("2024-01-08 00:00:00")),
      freq = Some("2h"), how = how).count()
    def spineInterp() = {
      val spine = spark.range(0, 50).select(
        org.apache.spark.sql.functions.expr(
          "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,cast(id*7 as int),0,0)")
          .as("time"),
        org.apache.spark.sql.functions.col("id").as("spine_id"))
      fs.loadFeaturesAsOf(spine, Seq("events/click", "events/purchase"), how = "interp")
        .count()
    }
    resample("ffill"); resample("interp"); spineInterp() // warm the memos
    // memo-hit ceilings: 1 action = main job + its broadcast-subtree job
    // (+1 slack for an AQE stage job); the old shape cost 3-5 here
    assert(countJobs(resample("ffill")) <= 3, "resample ffill: too many jobs on a memo hit")
    assert(countJobs(resample("interp")) <= 3, "resample interp: too many jobs on a memo hit")
    assert(countJobs(spineInterp()) <= 3, "as-of spine interp: too many jobs on a memo hit")
    graft.CacheScope.release()
  }

  test("sharded bloom build reads the store once, independent of shard count") {
    // the pre-r10 shape ran one stat.bloomFilter job per shard (with 8
    // shards: ~14 jobs incl. schema/AQE stages); the partition-local build
    // is one sizing pass + one build pass — measured 7 jobs total (2
    // parquet schema-inference reads + AQE stage jobs for each pass; the
    // r11 count_distinct(fp) sizing is a two-stage agg, one job more than
    // the old footer-only count), and crucially INDEPENDENT of shard
    // count, so any per-shard re-scan regression still fails this ceiling
    // loudly
    val store = s"${Fixtures.tmpRoot}/bloomsh_plan_store"
    graft.operators.DedupOps.buildFingerprintStore(
      Tables.documents(spark, dir), "doc_id", "text", store)
    val jobs = countJobs(
      graft.operators.DedupOps.buildShardedFingerprintBloom(spark, store, shards = 8))
    assert(jobs <= 7, s"sharded bloom build must not scan per shard: $jobs jobs")
    assert((0 until 8).forall(s =>
      new java.io.File(s"$store/_bloomshards/shard=$s/sketch.bin").exists()),
      "every shard needs a sketch file, including empty shards")
  }

  test("serving-direction dedup probes prune the store map-side, never cartesian") {
    // the production shape's contract: the LARGE store is cut by the small
    // probe's broadcast key set (LeftSemi, BuildRight) BEFORE any wide
    // work — a regression to a full-store shuffle or a cartesian flips
    // probe cost from ∝ batch to ∝ corpus
    Seq("dedup_exact_serving", "dedup_minhash_serving",
        "dedup_simhash_serving").foreach { q =>
      val p = plan(q)
      assert(p.contains("LeftSemi"), s"$q: store must prune via a semi join")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: the probe key set must broadcast into the store scan")
      assert(!p.contains("CartesianProduct"), s"$q must never cartesian")
    }
    // the winnow gate's batch is under the collect bound: its fingerprints
    // reach the fps scan as a pushed static In, below every exchange
    val p = plan("dedup_winnow_serving")
    val fpsScans = p.linesIterator.filter(l => l.contains("FileScan") && l.contains("/fps/")).toSeq
    assert(fpsScans.nonEmpty && fpsScans.forall(_.contains("PushedFilters: [In(f,")),
      s"dedup_winnow_serving: the fps scan must take the batch's fingerprints as a pushed In:\n$p")
    assert(!p.contains("CartesianProduct"), "dedup_winnow_serving must never cartesian")
  }

  test("warm winnow probes hold their job counts") {
    // measured steady-state counts of the collected small-batch path: the
    // gate's documents schema read, one fingerprint job, then the pair
    // plan's one shuffle stage and its one-partition result stage, with no
    // broadcast; a lost meta or schema cache, a persist, another exchange
    // or a return to the semi-join prune adds jobs and fails here
    val caps = Seq("dedup_winnow_incremental" -> 7, "dedup_winnow_serving" -> 7)
    def run(n: String): Unit = { SparkEntry.queries(n)(spark, dir).count(); () }
    caps.foreach { case (n, _) => run(n) } // warm stores, meta and schemas
    caps.foreach { case (n, cap) =>
      val jobs = countJobs(run(n))
      info(s"$n: $jobs jobs")
      assert(jobs <= cap, s"$n regressed to $jobs jobs (cap $cap)")
    }
    graft.CacheScope.release()
  }

  test("floor-bound fs_ micro-queries hold their job counts") {
    // BASELINE.md's disposition: at sf0.1 these five queries sit on Spark's
    // fixed per-action floor, so wall time cannot catch a plan regression —
    // the JOB COUNT can. Ceilings are the measured steady-state (memo-warm)
    // counts; an extra pass, a lost memo hit, or a broadcast degrading to a
    // shuffle adds jobs and fails here even when the clock hides it.
    val caps = Seq("fs_load_latest" -> 4, "fs_time_range" -> 4,
      "fs_resample_2h" -> 3, "fs_align_ffill" -> 2, "fs_transform_dag" -> 2)
    def run(n: String): Unit = { SparkEntry.queries(n)(spark, dir).count(); () }
    caps.foreach { case (n, _) => run(n) } // warm store + memos
    caps.foreach { case (n, cap) =>
      val jobs = countJobs(run(n))
      info(s"$n: $jobs jobs")
      assert(jobs <= cap, s"$n regressed to $jobs jobs (cap $cap)")
    }
    graft.CacheScope.release()
  }
}

package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** LLM-pipeline operators: dedup, similarity, text analysis, multimodal.
  * Uses the sf0.001 driver tables as fixtures.
  */
class OperatorsSpec extends SparkTestBase {

  val dir = "/root/testdata/sf0.001"
  lazy val docs = Tables.documents(spark, dir)
  lazy val emb = Tables.embeddings(spark, dir)

  test("minhash LSH pairs == brute-force exact jaccard pairs on this corpus") {
    val lsh = DedupOps.minhashLshPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = DedupOps.exactJaccardPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    assert(lsh == exact) // j≈0.99 pairs: miss probability (1-j^4)^32 ≈ 0
  }

  test("exactJaccardPairs df cap drops boilerplate-only pairs and reports the cut") {
    import spark.implicits._
    // 8 docs sharing one 10-token boilerplate line (8 hot shingles of
    // df 8), of which docs 0/1 additionally share real content; with
    // 3-token bodies each pair shares 8 of 14 union shingles uncapped —
    // above the 1/2 threshold on boilerplate alone
    val boiler = "this page is copyright acme corp all rights reserved worldwide"
    val real = "alpha beta gamma"
    val rows = (0L until 8L).map { i =>
      val body = if (i < 2) real else s"unique$i only$i text$i"
      (i, s"$boiler $body")
    }
    val df = rows.toDF("doc_id", "text")
    var observed: Map[String, Any] = Map.empty
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = {
        qe.observedMetrics.get(DedupOps.JaccardStopMetrics).foreach { row =>
          observed = row.getValuesMap(Seq("stop_shingles", "stop_rows"))
        }
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val got =
      try {
        val capped = DedupOps.exactJaccardPairs(df, "doc_id", "text", maxDocFreq = 4)
        val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // listener delivery is async — poll briefly
        val deadline = System.currentTimeMillis() + 10000
        while (observed.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
        pairs
      } finally spark.listenerManager.unregister(listener)
    // only (0,1) survives: every other pair shares just the boilerplate
    // shingles, which have df = 8 > 4 and are cut from every set
    assert(got == Set((0L, 1L)), s"got $got")
    // the boilerplate line yields 8 internal shingles of df 8, all cut
    // and reported
    assert(observed.get("stop_shingles").exists(_.asInstanceOf[Long] == 8L),
      s"stop-shingle cut must be reported via observed metrics, got $observed")
    assert(observed.get("stop_rows").exists(_.asInstanceOf[Long] == 64L), s"got $observed")
    // uncapped baseline keeps the boilerplate pairs (jaccard over full sets)
    val full = DedupOps.exactJaccardPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((2L, 3L)), "uncapped baseline should keep boilerplate pairs")
    // cap that cuts nothing == uncapped answer, byte-identical
    val loose = DedupOps.exactJaccardPairs(df, "doc_id", "text", maxDocFreq = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fullFull = DedupOps.exactJaccardPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(loose == fullFull)
  }

  test("blocked exact near-dup pairs == single-broadcast all-pairs result") {
    // the blocked equi-join cartesian must reproduce the naive all-pairs
    // exactly (it is the same computation, just routed without a
    // BroadcastNestedLoopJoin)
    val sub = emb.where(col("vec_id") < 200)
    // through the unified router: 0.3 < RhpCosineThreshold → exact blocked path
    val blocked = SimilarityOps.nearDupPairs(sub, "vec_id", "embedding", 0.3)
    val rows = blocked.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (a, b, c) => a < b && c >= 0.3 })
    // each unordered pair exactly once
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
    // no nested-loop / cartesian in the physical plan
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("RH-LSH near-dup pairs find planted high-cosine dups with exact scores") {
    import spark.implicits._
    // 300 random 32-dim vectors + 20 planted near-identical pairs
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(32)(rnd.nextGaussian().toFloat)
    val base = (0 until 300).map(i => (i.toLong, vec()))
    val planted = (0 until 20).map { i =>
      val (_, v) = base(i)
      val w = v.clone(); w(0) = w(0) + 0.01f // tiny perturbation: cosine ≈ 1
      (1000L + i, w)
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    // through the unified router: 0.95 >= RhpCosineThreshold → LSH path
    val got = SimilarityOps.nearDupPairs(df, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = SimilarityOps.cosineNearDupPairs(df, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.size >= 20, s"fixture should plant >= 20 pairs, got ${want.size}")
    assert(got == want) // deterministic seed; miss prob < 1e-4 per pair
  }

  test("hot LSH buckets are capped with spanning chains and REPORTED, not silent") {
    import spark.implicits._
    // degenerate corpus: 500 identical docs -> every band key collides
    val clones = (0L until 500L).map(i => (i, "the same exact text repeated verbatim"))
      .toDF("doc_id", "text")
    var observed: Map[String, Any] = Map.empty
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = {
        qe.observedMetrics.get(DedupOps.LshBucketMetrics).foreach { row =>
          observed = row.getValuesMap(Seq("buckets", "truncated_buckets", "max_bucket_size"))
        }
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = DedupOps.minhashLshPairs(clones, "doc_id", "text", maxBucket = 100)
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // clique over the first 100 + chain over the rest: all 500 docs remain
      // connected into one duplicate cluster
      val ids = got.flatMap(p => Set(p._1, p._2))
      assert(ids == (0L until 500L).toSet, "every clone must appear in some pair")
      assert(got.size == 100 * 99 / 2 + 400)
      // listener delivery is async — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (observed.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(observed.get("truncated_buckets").exists(_.asInstanceOf[Long] > 0),
        s"truncation must be reported via observed metrics, got $observed")
      assert(observed.get("max_bucket_size").exists(_.asInstanceOf[Long] == 500L))
    } finally spark.listenerManager.unregister(listener)
  }

  test("incremental near-dup probe reports LSH bucket accounting like the batch path") {
    import spark.implicits._
    // hot store bucket (300 identical docs) + identical probe batch: the
    // store-side chain truncation must surface through the SAME observed
    // metric as the batch path — per-probe, not only at build time
    val clones = (0L until 300L).map(i => (i, "the same exact text repeated verbatim"))
      .toDF("doc_id", "text")
    val store = tmpDir("incmetrics_store")
    DedupOps.buildMinhashStore(clones, "doc_id", "text", store)
    val probe = (1000L until 1020L).map(i => (i, "the same exact text repeated verbatim"))
      .toDF("doc_id", "text")
    var observed: Map[String, Any] = Map.empty
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = {
        qe.observedMetrics.get(DedupOps.LshBucketMetrics).foreach { row =>
          observed = row.getValuesMap(Seq("buckets", "truncated_buckets", "max_bucket_size"))
        }
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = DedupOps.incrementalNearDupPairs(probe, "doc_id", "text", store,
        maxBucket = 100)
      assert(pairs.count() > 0)
      val deadline = System.currentTimeMillis() + 10000
      while (observed.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(observed.get("truncated_buckets").exists(_.asInstanceOf[Long] > 0),
        s"store-side truncation must be reported on the probe, got $observed")
      assert(observed.get("max_bucket_size").exists(_.asInstanceOf[Long] == 320L),
        s"bucket must hold store+probe members, got $observed")
    } finally {
      spark.listenerManager.unregister(listener)
      graft.CacheScope.release()
    }
  }

  test("winnowing: shared runs share fingerprints; selections are window minima") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"common$i").mkString(" ") // 12 shared tokens
    val a = s"alpha beta $shared gamma delta epsilon zeta eta theta"
    val b = s"one two three four five $shared six seven eight nine"
    val c = "totally different words that never overlap with anything else here at all"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val fp = TextOps.winnowingFingerprints(df, "doc_id", "text", k = 4, w = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // guarantee: a shared token run of >= w+k-1 = 8 yields >= 1 shared fp
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    // each selection is the min of SOME w-window of that doc's k-gram hashes
    val hashes = TextOps.shingleRows(df, "doc_id", "text", 4)
      .select(col("id"), col("p"), DedupOps.baseHash(col("s")).as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toVector).toMap
    fp.foreach { case (id, pos, h) =>
      val hs = hashes(id)
      val isMinOfSomeWindow = (math.max(0, pos.toInt - 4) to pos.toInt)
        .filter(_ + 5 <= hs.length)
        .exists(s => hs.slice(s, s + 5).min == h)
      assert(isMinOfSomeWindow, s"fp at doc $id pos $pos is not a window min")
    }
    // density sanity: selections are a strict subset of k-grams
    assert(byDoc(3L).size < hashes(3L).length)
  }

  test("exact dedup map: identical texts collapse to one canonical id") {
    import spark.implicits._
    val withDup = docs.select("doc_id", "text").unionByName(
      docs.select(($"doc_id" + 100000).as("doc_id"), $"text").limit(5))
    val m = DedupOps.exactDedupMap(withDup, "doc_id", "text")
    val dups = m.where($"canonical_id" =!= $"doc_id").collect()
    assert(dups.length == 5)
    assert(dups.forall(r => r.getAs[Long]("doc_id") == r.getAs[Long]("canonical_id") + 100000))
  }

  test("simhash banded pairs == exhaustive hamming scan (pigeonhole exactness)") {
    val sub = docs.limit(120)
    val banded = DedupOps.simhashNearDupPairs(sub, "doc_id", "text", maxHamming = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // exhaustive scan over all signature pairs
    val sigs = DedupOps.simhashDf(sub, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val exhaustive = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = sa.zip(sb).count { case (x, y) => x != y } if h <= 9
    } yield (ia, ib, h.toLong)).toSet
    assert(exhaustive.nonEmpty && banded == exhaustive)
  }

  test("simhash: near-dup pairs have smaller hamming distance than random pairs") {
    import spark.implicits._
    val sigs = docs.select($"doc_id", DedupOps.simhashBits($"text").as("sh"))
    val nearPairs = DedupOps.exactJaccardPairs(docs, "doc_id", "text").select("id_a", "id_b")
    val nearDist = nearPairs
      .join(sigs.select($"doc_id".as("id_a"), $"sh".as("sa")), Seq("id_a"))
      .join(sigs.select($"doc_id".as("id_b"), $"sh".as("sb")), Seq("id_b"))
      .agg(avg(DedupOps.hammingDistance($"sa", $"sb"))).head().getDouble(0)
    val randDist = sigs.as("x").join(sigs.as("y"),
        col("x.doc_id") + 7 === col("y.doc_id")) // arbitrary disjoint pairing
      .agg(avg(DedupOps.hammingDistance(col("x.sh"), col("y.sh")))).head().getDouble(0)
    assert(nearDist < randDist / 2,
      s"near-dup hamming $nearDist should be far below random $randDist")
  }

  test("brute-force topk: cosine in [-1,1], self excluded, ranks dense per query") {
    val topk = SimilarityOps.bruteForceTopK(emb, emb.where(col("vec_id") < 5),
      "vec_id", "embedding", 10).collect()
    assert(topk.length == 50)
    assert(topk.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0))
    assert(topk.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    val ranks = topk.filter(_.getAs[Long]("query_id") == 0L).map(_.getAs[Long]("rank")).sorted
    assert(ranks.toSeq == (1L to 10L))
  }

  test("filteredTopK: only qualifying neighbors, exact among them, scan-pushed") {
    val pred = col("vec_id") % 3 === 0
    val got = SimilarityOps.filteredTopK(emb, emb.where(col("vec_id") < 5),
      "vec_id", "embedding", 10, pred)
    val rows = got.collect()
    // every served neighbor satisfies the predicate
    assert(rows.forall(_.getAs[Long]("neighbor_id") % 3 == 0))
    // identical to brute force over the pre-filtered corpus (exact
    // semantics — not post-filtered unfiltered top-k)
    val exact = SimilarityOps.bruteForceTopK(emb.where(pred),
      emb.where(col("vec_id") < 5), "vec_id", "embedding", 10).collect()
    assert(rows.map(_.toSeq).toSeq == exact.map(_.toSeq).toSeq)
    // the predicate reaches the corpus scan (pushed filter, not a
    // post-scan filter only)
    val scan = got.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(scan.contains("vec_id"), s"predicate must push into the scan:\n$scan")
  }

  test("IVF topk achieves high recall vs brute force with generous probes") {
    val queries = emb.where(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 10))
    val ivf = pairs(SimilarityOps.ivfTopK(emb, queries, "vec_id", "embedding", 10,
      nCells = 8, nProbe = 8)) // nProbe = nCells → scans everything → exact
    assert(ivf == exact)
    val ivfApprox = pairs(SimilarityOps.ivfTopK(emb, queries, "vec_id", "embedding", 10,
      nCells = 8, nProbe = 4))
    val recall = (ivfApprox & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low even for half-probe")
  }

  test("persisted IVF index probes to the same results as in-memory ivfTopK") {
    val path = tmpDir("ivfidx")
    val queries = emb.where(col("vec_id") < 10)
    val direct = SimilarityOps.ivfTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    SimilarityOps.buildIvfIndex(emb, "vec_id", "embedding", path)
    val indexed = SimilarityOps.ivfTopKIndexed(spark, queries, "vec_id", "embedding", path, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(indexed == direct)
    // the index is hive-partitioned by cell within its batch dir, so
    // probes prune directories
    val parts = new java.io.File(s"$path/assigned/batch=base").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(parts > 1, "assignments must be partitioned by cell")
  }

  test("appendIvfIndex: append probes == rebuild with base-refined centroids; dim mismatch loud") {
    val path = tmpDir("ivfappend")
    val base = emb.where(col("vec_id") >= 50)
    val fresh = emb.where(col("vec_id") < 50)
    SimilarityOps.buildIvfIndex(base, "vec_id", "embedding", path)
    SimilarityOps.appendIvfIndex(fresh, "vec_id", "embedding", path, batchToken = "b1")
    val queries = emb.where(col("vec_id") < 10)
    val got = SimilarityOps.ivfTopKIndexed(spark, queries, "vec_id", "embedding", path, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    // probing ALL cells makes the rerank exhaustive regardless of cell
    // assignment, so the appended index must reproduce exact brute-force
    // top-k over base ∪ appended — proves the appended vectors landed and
    // score exactly (nCells default = 16)
    val full = SimilarityOps.ivfTopKIndexed(spark, queries, "vec_id", "embedding",
        path, 10, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == brute)
    // replayed append (same token) overwrites its own dir — no duplicates
    SimilarityOps.appendIvfIndex(fresh, "vec_id", "embedding", path, batchToken = "b1")
    val n = spark.read.parquet(s"$path/assigned").count()
    assert(n == emb.count(), s"replayed append must not duplicate rows, got $n")
    // dimension drift is rejected loudly
    import spark.implicits._
    val badDim = Seq((9999L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](
      SimilarityOps.appendIvfIndex(badDim, "vec_id", "embedding", path))
  }

  test("foldAssign: disjoint+total folds, stable when the corpus grows") {
    import spark.implicits._
    val small = spark.range(500).toDF("id")
    val folds = SampleOps.foldAssign(small, "id", 5)
    val counts = folds.groupBy("fold").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts.keySet.subsetOf(Set(0L, 1L, 2L, 3L, 4L)))
    assert(counts.values.sum == 500L, "folds must partition the corpus")
    assert(counts.values.forall(c => c > 50 && c < 150),
      s"folds badly unbalanced: $counts")
    // growth stability: a row's fold never changes when rows are added
    val grown = SampleOps.foldAssign(spark.range(2000).toDF("id"), "id", 5)
      .where(col("id") < 500)
    val a = folds.orderBy("id").collect().map(_.getLong(1)).toSeq
    val b = grown.orderBy("id").collect().map(_.getLong(1)).toSeq
    assert(a == b, "fold assignment must be stable under corpus growth")
  }

  test("normalizeFeature: z has exact-moment zero mean and unit variance shape") {
    val z = Fixtures.store(spark, dir).normalizeFeature("events/click")
      .agg(avg(col("z")).as("m"), stddev_pop(col("z")).as("s")).head()
    assert(math.abs(z.getDouble(0)) < 1e-9, s"mean ${z.getDouble(0)}")
    assert(math.abs(z.getDouble(1) - 1.0) < 1e-9, s"std ${z.getDouble(1)}")
  }

  test("groupKeywords: shared tokens drop, per-group ranks deterministic") {
    import spark.implicits._
    val df = Seq(
      ("a", "apple apple shared"),
      ("a", "apple cherry"),
      ("b", "banana shared cherry")
    ).toDF("grp", "text")
    val out = TextOps.groupKeywords(df, "grp", "text", 2)
      .orderBy(col("grp"), col("rank")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // total=8 tokens, bitlen(8)=4; idf: apple 4-2=2 (freq 3), banana
    // 4-1=3, shared/cherry 4-2=2. Group a: apple 3*2=6, cherry==shared
    // at 2 -> token asc keeps cherry at rank 2. Group b: banana 3,
    // cherry 2 (before shared by token order).
    assert(out.toSeq == Seq(
      ("a", "apple", 6L, 1L),
      ("a", "cherry", 2L, 2L),
      ("b", "banana", 3L, 1L),
      ("b", "cherry", 2L, 2L)))
  }

  test("lastNSequence: last-N oldest-first, short histories whole, ties by tiebreak") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "a"),
      (1L, "2024-01-02 00:00:00", 2L, "b"),
      (1L, "2024-01-03 00:00:00", 3L, "c"),
      (1L, "2024-01-04 00:00:00", 4L, "d"),
      (2L, "2024-01-01 00:00:00", 6L, "y"), // same instant: event 5 first
      (2L, "2024-01-01 00:00:00", 5L, "x")
    ).toDF("ent", "t", "seq_id", "ev")
      .select(col("ent"), col("t").cast("timestamp").as("t"), col("seq_id"), col("ev"))
    val out = graft.ts.Rolling.lastNSequence(df, "ent", "t", "ev", n = 3,
      tieCols = Seq("seq_id"))
      .orderBy("ent").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 4L, "b>c>d"), (2L, 2L, "x>y")))
  }

  test("heavyHitters == brute-force threshold count, independent of partitioning") {
    import spark.implicits._
    // skewed synthetic stream: token 'hot' ~ 30%, 'warm' ~ 10%, the rest
    // a long unique tail — tiny k forces MG decrements in every partition
    val docs2 = spark.range(1000).select(
      concat_ws(" ", lit("hot"),
        when(col("id") % 3 === 0, lit("warm")).otherwise(concat(lit("u"), col("id"))),
        concat(lit("v"), col("id"))).as("text"))
    for (parts <- Seq(1, 7)) {
      val got = TextOps.heavyHitters(docs2.repartition(parts), "text", k = 8)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      // 3000 tokens total: hot=1000 (1/3), warm=334 (>1/8=375? no: 334*8
      // = 2672 < 3000 -> warm NOT a heavy hitter at k=8)
      assert(got == Set(("hot", 1000L)), s"parts=$parts got $got")
    }
    // looser threshold admits warm too
    val got2 = TextOps.heavyHitters(docs2.repartition(5), "text", k = 12)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got2 == Set(("hot", 1000L), ("warm", 334L)), s"got $got2")
  }

  test("trailingAgg: RANGE frame by time distance; doubles refused for sum") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 10L),
      (1L, "2024-01-05 00:00:00", 20L),
      (1L, "2024-01-09 00:00:00", 40L), // 01-01 aged out of the 7d horizon
      (2L, "2024-01-05 00:00:00", 7L)
    ).toDF("ent", "t", "v")
      .select(col("ent"), col("t").cast("timestamp").as("t"), col("v"))
    val out = graft.ts.Rolling.trailingAgg(df, "ent", "t", "7d",
      Seq(graft.ts.Rolling.Agg("*", "count"), graft.ts.Rolling.Agg("v", "sum")))
      .orderBy(col("ent"), col("t"))
      .collect().map(r => (r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 10L), (2L, 30L), (2L, 60L), (1L, 7L)))
    val e = intercept[IllegalArgumentException] {
      graft.ts.Rolling.trailingAgg(
        Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.5))
          .toDF("ent", "t", "v"),
        "ent", "t", "1d", Seq(graft.ts.Rolling.Agg("v", "sum")))
    }
    assert(e.getMessage.contains("order-dependent"))
  }

  test("trailingAgg closed='right' matches trailingAtSpine at observation instants (horizon-edge event)") {
    import spark.implicits._
    // 01-08 sits EXACTLY 7d after 01-01: inclusive [t-7d, t] counts it,
    // half-open (t-7d, t] does not — the convention skew ADVICE flagged
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 10L),
      (1L, "2024-01-08 00:00:00", 20L)
    ).toDF("ent", "t", "v")
      .select(col("ent"), col("t").cast("timestamp").as("t"), col("v"))
    val aggs = Seq(graft.ts.Rolling.Agg("*", "count"), graft.ts.Rolling.Agg("v", "sum"))
    val both = graft.ts.Rolling.trailingAgg(df, "ent", "t", "7d", aggs)
      .orderBy(col("t")).collect().map(r => (r.getLong(3), r.getLong(4)))
    assert(both.toSeq == Seq((1L, 10L), (2L, 30L)), "default stays pandas-inclusive")
    val right = graft.ts.Rolling.trailingAgg(df, "ent", "t", "7d", aggs, closed = "right")
      .orderBy(col("t")).collect().map(r => (r.getLong(3), r.getLong(4)))
    assert(right.toSeq == Seq((1L, 10L), (1L, 20L)), "closed='right' excludes the edge")
    // and that equals trailingAtSpine probed at the observation instants
    val spine = df.select(col("ent"), col("t"))
    val atSpine = graft.ts.Rolling.trailingAtSpine(spine, df, "ent", "t", "7d", aggs)
      .orderBy(col("t")).collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(atSpine.toSeq == right.toSeq,
      "the two trailing APIs must agree under the half-open convention")
    graft.CacheScope.release()
    intercept[IllegalArgumentException](
      graft.ts.Rolling.trailingAgg(df, "ent", "t", "7d", aggs, closed = "left"))
  }

  test("trailingAtSpine: events age OUT between observations; boundary is half-open") {
    import spark.implicits._
    val obs = Seq(
      (1L, "2024-01-01 00:00:00", 10L),
      (1L, "2024-01-02 00:00:00", 20L)
    ).toDF("ent", "t", "v")
      .select(col("ent"), col("t").cast("timestamp").as("t"), col("v"))
    val spine = Seq(
      (1L, "2024-01-02 12:00:00"), // both inside 7d -> 2 events
      (1L, "2024-01-08 00:00:00"), // 01-01 exactly at t-7d -> EXCLUDED (half-open)
      (1L, "2024-01-20 00:00:00"), // all aged out -> 0 (a plain as-of would say 2)
      (2L, "2024-01-02 00:00:00") // unseen entity -> 0
    ).toDF("ent", "t").select(col("ent"), col("t").cast("timestamp").as("t"))
    val out = graft.ts.Rolling.trailingAtSpine(spine, obs, "ent", "t", "7d",
      Seq(graft.ts.Rolling.Agg("*", "count"), graft.ts.Rolling.Agg("v", "sum")))
      .orderBy(col("ent"), col("t")).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((2L, 30L), (1L, 20L), (0L, 0L), (0L, 0L)))
  }

  test("decayedAtSpine: halves per bucket, sums before shifting, horizon drops") {
    import spark.implicits._
    // half-life 1d, 4 half-lives; spine at 2024-01-10 00:00
    val obs = Seq(
      (1L, "2024-01-09 12:00:00", 100L), // age 0.5H -> bucket 0 -> 100
      (1L, "2024-01-08 12:00:00", 100L), // age 1.5H -> bucket 1 -> 50
      (1L, "2024-01-07 12:00:00", 51L), // age 2.5H -> bucket 2
      (1L, "2024-01-07 13:00:00", 51L), // same bucket: floor(102/4)=25,
      (1L, "2024-01-05 00:00:00", 999L) // NOT floor(51/4)*2=24; age 5H dropped
    ).toDF("ent", "t", "v")
      .select(col("ent"), col("t").cast("timestamp").as("t"), col("v"))
    val spine = Seq((1L, "2024-01-10 00:00:00"), (2L, "2024-01-10 00:00:00"))
      .toDF("ent", "t").select(col("ent"), col("t").cast("timestamp").as("t"))
    val out = graft.ts.Rolling.decayedAtSpine(spine, obs, "ent", "t", "v",
      halflife = "1d", halfLives = 4)
      .orderBy(col("ent")).collect().map(_.getLong(2))
    assert(out.toSeq == Seq(100L + 50L + 25L, 0L), s"got ${out.toSeq}")
  }

  test("stripHtml: scripts/styles/comments vanish, tags counted, entities decode once") {
    import spark.implicits._
    val df = Seq(
      (1L, "<html><body><script>var a = '<p>not text</p>';</script>" +
        "<p>Hello &amp;amp; <b>world</b></p><!-- note --></body></html>"),
      (2L, "plain, no markup"),
      (3L, "<style>a{}</style><ul><li>x</li><li>y</li></ul>&lt;escaped&gt;")
    ).toDF("id", "html")
    val out = TextOps.stripHtml(df, "id", "html").orderBy("id").collect()
    // doc 1: script block (and the tags inside it) removed wholesale;
    // &amp;amp; decodes exactly once to "&amp;"
    // surviving tags: html, body, p, b, /b, /p, /body, /html = 8
    assert(out(0).getLong(1) == 8L, s"doc1 tags: ${out(0).getLong(1)}")
    assert(out(0).getString(2) == "Hello &amp; world")
    assert(out(1).getLong(1) == 0L && out(1).getString(2) == "plain, no markup")
    assert(out(2).getString(2) == "x y <escaped>")
  }

  test("tokenWindows: strided spans tile each doc; tail window is partial") {
    import spark.implicits._
    val df = Seq((7L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("id", "text")
    val out = TextOps.tokenWindows(df, "id", "text", window = 4, stride = 3)
      .orderBy("win").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq(
      (0L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 3L, 7L, "t4 t5 t6 t7"),
      (2L, 6L, 10L, "t7 t8 t9 t10"),
      (3L, 9L, 10L, "t10")))
  }

  test("text stats: counts consistent and quality bounded") {
    val st = TextOps.textStats(docs, "doc_id", "text").collect()
    assert(st.length == docs.count())
    st.foreach { r =>
      assert(r.getAs[Long]("n_tokens") > 0)
      assert(r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_tokens") - 1)
      assert(r.getAs[Long]("n_stopwords") <= r.getAs[Long]("n_tokens"))
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0, s"quality $q out of range")
    }
  }

  test("langId picks marker-majority language deterministically") {
    import spark.implicits._
    val samples = Seq(
      (1L, "the cat sat on the mat and the dog is here"),
      (2L, "der hund und die katze ist nicht da und der vogel"),
      (3L, "xyzzy plugh frobozz"), // no markers anywhere
      (4L, "le chat est sur les toits et une souris")).toDF("id", "text")
    val out = samples.select($"id", TextOps.langId($"text").as("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "unknown", 4L -> "fr"))
  }

  test("multimodal: decode stub is deterministic; frame sampling shapes correct") {
    val media = MultimodalOps.asMediaTable(docs, "doc_id", "text")
    val f1 = MultimodalOps.decodeFeatures(media).collect().sortBy(_.id)
    val f2 = MultimodalOps.decodeFeatures(media).collect().sortBy(_.id)
    assert(f1.map(_.feature.toSeq).toSeq == f2.map(_.feature.toSeq).toSeq)
    assert(f1.forall(_.feature.length == 8))
    assert(f1.forall(r => r.n_bytes > 0 && r.width >= 16 && r.height >= 16))
    val frames = MultimodalOps.sampleFrames(media, blockSize = 64, stride = 4).collect()
    assert(frames.forall(_.frame_bytes.length == 64))
    assert(frames.forall(_.frame_idx % 4 == 0))
  }

  test("multimodal: REAL PNG decode round-trips the pixel formula exactly") {
    import spark.implicits._
    // local truth: the closed-form per-channel sums, no codec involved
    def expected(id: Long): Seq[(Long, Long, Long, Long, Long)] = {
      val (w, h) = MultimodalOps.synthDims(id)
      (0 until 3).map { c =>
        var s = 0L
        for (y <- 0 until h; x <- 0 until w)
          s += (((id * 31 + x * 7L + y * 13L + c * 101L) % 256 + 256) % 256)
        (id, w.toLong, h.toLong, c.toLong, s)
      }
    }
    val ids = Seq(0L, 1L, 7L, 42L, 80L, 12345L)
    val media = MultimodalOps.syntheticImageTable(ids.toDF("doc_id"), "doc_id")
    // the payloads are genuine PNGs, not the fake format
    val magic = media.select($"id", $"media").as[(Long, Array[Byte])].collect()
    assert(magic.forall { case (_, b) =>
      b.length > 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' })
    val got = MultimodalOps.decodeImageStats(media).collect()
      .map(r => (r.id, r.width, r.height, r.channel, r.pix_sum)).sortBy(t => (t._1, t._4))
    val want = ids.flatMap(expected).sortBy(t => (t._1, t._4))
    assert(got.toSeq == want)
    // a corrupt payload fails loudly, not silently
    val bad = Seq((99L, Array[Byte](1, 2, 3), "image/png")).toDF("id", "media", "format")
    val ex = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeImageStats(bad).collect()
    }
    assert(ex.getMessage.contains("undecodable") ||
      ex.getCause != null && ex.getCause.getMessage.contains("undecodable"))
  }

  test("imageDHash == closed-form model; banded image near-dup == brute-force hamming") {
    import spark.implicits._
    // independent model: formula pixels -> 9x8 nearest-neighbor grid ->
    // r+g+b gray -> row-major gradient bits (no codec, no engine code)
    def model(id: Long): String = {
      def pix(x: Int, y: Int, c: Int) =
        (((id * 31 + x * 7L + y * 13L + c * 101L) % 256 + 256) % 256).toInt
      def gray(x: Int, y: Int) = pix(x, y, 0) + pix(x, y, 1) + pix(x, y, 2)
      val (w, h) = MultimodalOps.synthDims(id)
      (for (y <- 0 until 8; x <- 0 until 8) yield {
        val gy = y * h / 8
        if (gray((x + 1) * w / 9, gy) > gray(x * w / 9, gy)) '1' else '0'
      }).mkString
    }
    val ids = (0L until 200L).toSeq
    val sigs = MultimodalOps.imageDHash(
      MultimodalOps.syntheticImageTable(ids.toDF("doc_id"), "doc_id"))
    val got = sigs.as[(Long, String)].collect().toMap
    assert(ids.forall(id => got(id) == model(id)),
      "decoded dHash must equal the closed-form model bit-for-bit")
    // pairs: pigeonhole banding == exhaustive hamming over the model hashes
    val brute = (for {
      a <- ids; b <- ids if a < b
      d = model(a).zip(model(b)).count { case (x, y) => x != y } if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(brute.nonEmpty, "fixture should contain near-dup images")
    val banded = DedupOps.simhashPairsFromSigs(sigs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
  }

  test("multimodal: REAL WAV decode round-trips the PCM formula exactly") {
    import spark.implicits._
    // local truth: fold the closed-form samples, no codec involved
    def expected(id: Long): (Long, Long, Long, Long, Long, Long, Long) = {
      val n = MultimodalOps.synthAudioLen(id)
      val vs = (0 until n).map(i => ((((id * 31 + i.toLong * 7) % 65536) + 65536) % 65536) - 32768)
      val zc = vs.sliding(2).count { case Seq(a, b) => (a >= 0) != (b >= 0); case _ => false }
      (id, n.toLong, vs.sum, vs.map(math.abs).sum, vs.min, vs.max, zc.toLong)
    }
    val ids = Seq(0L, 1L, 6L, 42L, 499L, 12345L)
    val media = MultimodalOps.syntheticAudioTable(ids.toDF("doc_id"), "doc_id")
    // the payloads are genuine RIFF/WAVE containers
    val magic = media.select($"id", $"media").as[(Long, Array[Byte])].collect()
    assert(magic.forall { case (_, b) =>
      b.length > 44 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E' })
    val got = MultimodalOps.decodeAudioStats(media).collect()
      .map(r => (r.id, r.n_samples, r.sum_val, r.sum_abs, r.min_val, r.max_val, r.zero_cross))
      .sortBy(_._1)
    assert(got.toSeq == ids.map(expected).sortBy(_._1))
    // a non-WAV payload fails loudly, not silently
    val bad = Seq((99L, Array[Byte](1, 2, 3, 4), "audio/wav")).toDF("id", "media", "format")
    intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeAudioStats(bad).collect()
    }
  }

  test("multimodal: REAL AVI decode round-trips the per-frame pixel formula exactly") {
    import spark.implicits._
    def pix(id: Long, f: Int, x: Int, y: Int, c: Int): Long =
      (((id + f * 1000003L) * 31 + x * 7L + y * 13L + c * 101L) % 256 + 256) % 256
    def expected(id: Long): Seq[(Long, Long, Long, Long, Long, Long)] = {
      val (w, h) = MultimodalOps.synthDims(id)
      for (f <- 0 until MultimodalOps.synthFrameCount(id); c <- 0 until 3) yield {
        var s = 0L
        for (y <- 0 until h; x <- 0 until w) s += pix(id, f, x, y, c)
        (id, f.toLong, w.toLong, h.toLong, c.toLong, s)
      }
    }
    val ids = Seq(0L, 1L, 3L, 42L, 80L, 12345L)
    val media = MultimodalOps.syntheticVideoTable(ids.toDF("doc_id"), "doc_id")
    // the payloads are genuine RIFF/AVI containers
    val magic = media.select($"id", $"media").as[(Long, Array[Byte])].collect()
    assert(magic.forall { case (_, b) =>
      b.length > 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ' })
    val got = MultimodalOps.decodeVideoStats(media).collect()
      .map(r => (r.id, r.frame, r.width, r.height, r.channel, r.pix_sum))
      .sortBy(t => (t._1, t._2, t._5))
    assert(got.toSeq == ids.flatMap(expected).sortBy(t => (t._1, t._2, t._5)))
    // stride sampling keeps exactly the f % stride == 0 frames
    val sampled = MultimodalOps.decodeVideoStats(media, stride = 2).collect()
    assert(sampled.forall(_.frame % 2 == 0))
    assert(sampled.map(r => (r.id, r.frame, r.channel, r.pix_sum)).toSet ==
      got.filter(_._2 % 2 == 0).map(t => (t._1, t._2, t._5, t._6)).toSet)
    // a malformed container fails loudly, not silently
    val bad = Seq((99L, Array[Byte](1, 2, 3, 4), "video/avi")).toDF("id", "media", "format")
    intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeVideoStats(bad).collect()
    }
  }

  test("multimodal: AVI container is codec-transparent — MJPEG frames demux byte-exactly") {
    // mux real JPEG stills (fourcc MJPG), demux, and require every
    // extracted payload byte-identical to what went in — the container
    // adds nothing around the codec payload, so ANY still codec rides the
    // same path; decodability of the JPEGs proves they are real frames
    val id = 7L
    val (w, h) = MultimodalOps.synthDims(id)
    val avi = MultimodalOps.syntheticAvi(id, still = "jpg")
    val (dw, dh, declared, frames) = MultimodalOps.demuxAvi(avi)
    assert((dw, dh) == (w, h) && declared == MultimodalOps.synthFrameCount(id))
    assert(frames.size == declared)
    frames.foreach { fb =>
      // JPEG SOI marker + ImageIO decodes it at the container's dims
      assert((fb(0) & 0xff) == 0xff && (fb(1) & 0xff) == 0xd8, "not a JPEG frame")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fb))
      assert(img != null && img.getWidth == w && img.getHeight == h)
    }
    // mux→demux is byte-exact for arbitrary (odd-length) payloads too:
    // word-aligned padding must never leak into the frame bytes
    val raw = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5, 6, 7), Array[Byte](8))
    val (_, _, n2, back) = MultimodalOps.demuxAvi(MultimodalOps.muxAvi(raw, 2, 2, "MJPG"))
    assert(n2 == 3 && back.zip(raw).forall { case (a, b) => a.sameElements(b) })
  }

  test("connectedComponents == brute-force union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // random sparse graph + a 60-node chain (diameter stress: min-label
    // propagation would need 60 rounds; star contraction must not)
    val randomEdges = Seq.fill(150)((rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      .filter { case (a, b) => a != b }
    val chain = (200L until 260L).sliding(2).map(s => (s(0), s(1))).toSeq
    val edges = randomEdges ++ chain
    // brute-force union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    // find() roots at the min id because unions always hang max under min
    val got = DedupOps.connectedComponents(
        edges.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("dedupLines: C4 semantics — boilerplate dies corpus-wide, first occurrence survives") {
    import spark.implicits._
    val docs = Seq(
      (1L, "intro one\ncookie banner\nbody a"),
      (2L, "cookie banner\nbody b\nintro one"),
      (3L, "cookie banner"),          // every line a dup -> empty doc
      (4L, null.asInstanceOf[String]) // null text -> empty doc, still present
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupLines(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "intro one\ncookie banner\nbody a", // doc 1 holds both first occurrences
      2L -> "body b",                           // dup lines removed, order kept
      3L -> "",
      4L -> ""))
    // idempotent: a deduped corpus has no cross-doc duplicate lines left
    val again = DedupOps.dedupLines(
      Seq((1L, "intro one\ncookie banner\nbody a"), (2L, "body b"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == Map(1L -> "intro one\ncookie banner\nbody a", 2L -> "body b"))
  }

  test("duplicateSpans/dropDuplicateSpans: ExactSubstr semantics on a planted corpus") {
    import spark.implicits._
    val t = Seq(
      (1L, "alpha beta gamma delta unique1 unique2 unique3"), // canonical run
      (2L, "x1 x2 alpha beta gamma delta y1 y2 y3"),          // later copy
      (3L, "z1 z2 z3 z4 z5 z6 z7"),                           // untouched
      (4L, "alpha beta gamma delta alpha beta gamma delta w1"), // self-repeat
      (5L, "ALPHA BETA GAMMA DELTA q1 q2 q3"),                // case-normalized
      (6L, "")                                                 // no windows
    ).toDF("doc_id", "text")
    val spans = DedupOps.duplicateSpans(t, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 4's two occurrences are 4 apart (contiguous intervals) -> one span
    assert(spans == Set(
      (1L, 0L, 4L, 1L), (2L, 2L, 6L, 1L), (4L, 0L, 8L, 2L), (5L, 0L, 4L, 1L)))
    val cut = DedupOps.dropDuplicateSpans(t, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut == Map(
      1L -> "alpha beta gamma delta unique1 unique2 unique3", // first copy survives
      2L -> "x1 x2 y1 y2 y3",
      3L -> "z1 z2 z3 z4 z5 z6 z7",
      4L -> "w1",            // both occurrences non-canonical -> all cut
      5L -> "q1 q2 q3",      // detection lowercased, original bytes rebuilt
      6L -> ""))
    val stats = DedupOps.duplicateSpanStats(t, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(stats(3L) == ((7L, 0L, 0L)))
    assert(stats(4L) == ((9L, 1L, 8L)))
    assert(stats(6L) == ((1L, 0L, 0L))) // split('') = [''] -> 1 token, 0 dup
    // idempotent: cutting an already-cut corpus changes nothing (no repeated
    // >= k run survives the first pass)
    val again = DedupOps.dropDuplicateSpans(
      cut.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == cut)
  }

  test("dsirLogRatio: zero when target == raw; target-like docs rank higher") {
    import spark.implicits._
    val raw = Seq(
      (1L, "aa bb aa bb aa bb"),  // target-like
      (2L, "zz ww zz ww zz ww")   // out-of-target
    ).toDF("doc_id", "text")
    // target == raw -> ct == cr per bucket -> every quantized ratio is 0
    val zero = TextOps.dsirLogRatio(raw, raw, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toList
    assert(zero.forall { case (nf, bits) => nf > 0 && bits == 0L })
    // an aa/bb-heavy target pulls doc 1 above doc 2
    val target = Seq((10L, "aa bb aa bb aa bb aa bb aa bb aa bb aa bb"))
      .toDF("doc_id", "text")
    val got = TextOps.dsirLogRatio(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(1L) > got(2L))
  }

  test("keywordTopK: quantized tf-idf ranking, deterministic tie order, top-k cut") {
    import spark.implicits._
    // N = 4 docs; 'rare' df=1 -> idf_bits = bitlen(4)-bitlen(1) = 2;
    // 'common' df=3 -> idf_bits = bitlen(4)-bitlen(3) = 1
    val docs = Seq(
      (1L, "common rare common"),         // score 2*1 + 1*2 = 4, 2 terms
      (2L, "common common common common"),// score 4*1 = 4, 1 term
      (3L, "common x y z"),               // score 1
      (4L, "x y z w")                     // no match -> absent
    ).toDF("doc_id", "text")
    val got = TextOps.keywordTopK(docs, "doc_id", "text",
      Seq("rare", "common"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // docs 1 and 2 tie at 4 -> id ASC breaks it deterministically
    assert(got == List((1L, 4L, 2L), (2L, 4L, 1L), (3L, 1L, 1L)))
    // tokens are lowercased, so mixed-case query terms must normalize
    // rather than silently match nothing
    val mixed = TextOps.keywordTopK(docs, "doc_id", "text",
      Seq("RARE", "Common"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(mixed == got)
  }

  test("incremental substring dedup == one-shot whole-corpus result on the probe batch") {
    import spark.implicits._
    val path = s"${Fixtures.tmpRoot}/winstore_spec"
    val store1 = docs.where(col("doc_id") < 125)
    val store2 = docs.where(col("doc_id") >= 125 && col("doc_id") < 250)
    val probe = docs.where(col("doc_id") >= 250)
    DedupOps.buildWindowStore(store1, "doc_id", "text", path)
    DedupOps.appendWindowStore(store2, "doc_id", "text", path, batchToken = "b2")
    def spanSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val inc = spanSet(DedupOps.incrementalDuplicateSpans(probe, "doc_id", "text", path))
    val full = spanSet(DedupOps.duplicateSpans(docs, "doc_id", "text")
      .where(col("doc_id") >= 250))
    assert(inc == full && inc.nonEmpty)
    def cutMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val incCut = cutMap(DedupOps.incrementalDropDuplicateSpans(probe, "doc_id", "text", path))
    val fullCut = cutMap(DedupOps.dropDuplicateSpans(docs, "doc_id", "text")
      .where(col("doc_id") >= 250))
    assert(incCut == fullCut)
    // replaying an append token overwrites its dir; results unchanged
    DedupOps.appendWindowStore(store2, "doc_id", "text", path, batchToken = "b2")
    assert(spanSet(DedupOps.incrementalDuplicateSpans(probe, "doc_id", "text", path)) == full)
  }

  test("compactWindowStore: probe == pre-compaction probe; single batch dir; rebuild-dst idempotent") {
    import spark.implicits._
    val path = s"${Fixtures.tmpRoot}/winstore_compact_src"
    val dst = s"${Fixtures.tmpRoot}/winstore_compact_dst"
    // three appended micro-batches, like a streaming tail would leave
    DedupOps.buildWindowStore(docs.where(col("doc_id") < 100), "doc_id", "text", path)
    DedupOps.appendWindowStore(docs.where(col("doc_id") >= 100 && col("doc_id") < 180),
      "doc_id", "text", path, batchToken = "b2")
    DedupOps.appendWindowStore(docs.where(col("doc_id") >= 180 && col("doc_id") < 250),
      "doc_id", "text", path, batchToken = "b3")
    val probe = docs.where(col("doc_id") >= 250)
    def spanSet(p: String) = DedupOps.incrementalDuplicateSpans(probe, "doc_id", "text", p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def cutMap(p: String) = DedupOps.incrementalDropDuplicateSpans(probe, "doc_id", "text", p)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (beforeSpans, beforeCut) = (spanSet(path), cutMap(path))
    DedupOps.compactWindowStore(spark, path, dst)
    assert(spanSet(dst) == beforeSpans && beforeSpans.nonEmpty)
    assert(cutMap(dst) == beforeCut)
    // one batch dir, one row per distinct window content (the per-h fold is
    // pre-paid: compacted rows == distinct hashes of the source store)
    val dirs = new java.io.File(dst).listFiles.filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("batch=base", "_commits"),
      "one data batch dir plus its commit manifest")
    val srcDistinct = spark.read.parquet(path).select("h").distinct().count()
    assert(spark.read.parquet(dst).count() == srcDistinct)
    // re-compacting rebuilds dst from scratch (crash-safe contract)
    DedupOps.compactWindowStore(spark, path, dst)
    assert(spanSet(dst) == beforeSpans)
    // in-place compaction is refused loudly
    intercept[IllegalArgumentException] {
      DedupOps.compactWindowStore(spark, path, path)
    }
  }

  test("compactIdStore: minhash probe == pre-compaction probe across batch dirs") {
    import spark.implicits._
    val path = s"${Fixtures.tmpRoot}/mhstore_compact_src"
    val dst = s"${Fixtures.tmpRoot}/mhstore_compact_dst"
    DedupOps.buildMinhashStore(docs.where(col("doc_id") < 125), "doc_id", "text", path)
    DedupOps.appendMinhashStore(docs.where(col("doc_id") >= 125 && col("doc_id") < 250),
      "doc_id", "text", path, batchToken = "b2")
    val probe = docs.where(col("doc_id") >= 250)
    def pairs(p: String) = DedupOps.incrementalNearDupPairs(probe, "doc_id", "text", p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs(path)
    graft.CacheScope.release()
    DedupOps.compactIdStore(spark, path, dst)
    assert(pairs(dst) == before && before.nonEmpty)
    graft.CacheScope.release()
    val dirs = new java.io.File(dst).listFiles.filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("batch=base", "_commits"),
      "one data batch dir plus its commit manifest")
  }

  test("winnowingPairs: finds containment that global-Jaccard minhash misses; stop fps cut") {
    import spark.implicits._
    val passage = (0 until 30).map(i => s"p$i").mkString(" ")
    val t = Seq(
      (1L, passage),                                              // A = the passage
      (2L, (0 until 100).map(i => s"x$i").mkString(" ") + " " + passage +
        " " + (0 until 30).map(i => s"y$i").mkString(" ")),       // B quotes A
      (3L, (0 until 60).map(i => s"z$i").mkString(" "))           // unrelated
    ).toDF("doc_id", "text")
    // global Jaccard(A, B) ~ 27/157 — far below 1/2: minhash finds nothing
    assert(DedupOps.minhashLshPairs(t, "doc_id", "text").count() == 0L)
    val got = DedupOps.winnowingPairs(t, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    assert(got.map(p => (p._1, p._2)) == List((1L, 2L)))
    val (_, _, shared, nA, _) = got.head
    // the local fingerprints of A live inside B: near-total containment
    assert(shared >= (nA * 3) / 4, s"containment too low: $shared of $nA")
    // a fingerprint shared by all 3 docs becomes a stop fingerprint at
    // maxDocFreq = 2 and pairs nothing
    val boiler = "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    val t2 = Seq(
      (1L, boiler + " " + (0 until 20).map(i => s"u$i").mkString(" ")),
      (2L, boiler + " " + (0 until 20).map(i => s"v$i").mkString(" ")),
      (3L, boiler + " " + (0 until 20).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    val capped = DedupOps.winnowingPairs(t2, "doc_id", "text", maxDocFreq = 2)
    assert(capped.count() == 0L)
    val loose = DedupOps.winnowingPairs(t2, "doc_id", "text", maxDocFreq = 3,
      minShared = 1)
    assert(loose.count() == 3L) // boilerplate pairs all three without the cap
  }

  test("incrementalWinnowingPairs == one-shot pairs touching the batch; param guard") {
    import spark.implicits._
    val passage = (0 until 30).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, passage),                                              // store, base
      (2L, (0 until 40).map(i => s"q$i").mkString(" ") + " " + passage), // store, b2
      (3L, (0 until 60).map(i => s"z$i").mkString(" ")),          // store, b2
      (10L, "header " + passage + " footer"),                     // batch: quotes 1 and 2
      (11L, (0 until 50).map(i => s"m$i").mkString(" "))          // batch: unrelated
    ).toDF("doc_id", "text")
    val store = tmpDir("wnstore")
    DedupOps.buildWinnowStore(docs.where(col("doc_id") === 1), "doc_id", "text", store)
    DedupOps.appendWinnowStore(docs.where(col("doc_id") === 2 || col("doc_id") === 3),
      "doc_id", "text", store, batchToken = "b2")
    def canon(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val inc = canon(DedupOps.incrementalWinnowingPairs(
      docs.where(col("doc_id") >= 10), "doc_id", "text", store))
    val oneShot = canon(DedupOps.winnowingPairs(docs, "doc_id", "text")
      .where(col("id_a") >= 10 || col("id_b") >= 10))
    assert(inc == oneShot && inc.nonEmpty, s"inc=$inc oneShot=$oneShot")
    // store-store pairs (1, 2 share the passage) are NOT re-emitted
    assert(!inc.exists(p => p._1 < 10 && p._2 < 10))
    // compaction to one batch=base preserves the probe exactly
    DedupOps.compactWinnowStore(spark, store, s"${store}_c")
    val compacted = canon(DedupOps.incrementalWinnowingPairs(
      docs.where(col("doc_id") >= 10), "doc_id", "text", s"${store}_c"))
    assert(compacted == inc)
    // winnowing-parameter drift fails loudly on append AND probe
    intercept[IllegalArgumentException] {
      DedupOps.appendWinnowStore(docs.where(col("doc_id") === 3),
        "doc_id", "text", store, k = 5)
    }
    intercept[IllegalArgumentException] {
      DedupOps.incrementalWinnowingPairs(docs.where(col("doc_id") >= 10),
        "doc_id", "text", store, w = 7)
    }
  }

  test("winnow probe and append: collected and distributed paths agree on both sides of the bound") {
    // collectMax = 0 forces every batch past the bound onto the persisted,
    // broadcast-semi-join path; the default bound collects these batches
    val (small, large) = (DedupOps.IsinPushdownMax, 0)
    val base = docs.where(col("doc_id") < 200)
    val mid = docs.where(col("doc_id") >= 200 && col("doc_id") < 250)
    val batch = docs.where(col("doc_id") >= 250)
    val stores = Seq(small, large).map { bound =>
      val store = tmpDir(s"wn_bound$bound") + "/store"
      DedupOps.appendWinnowBatch(base, "doc_id", "text", store, 4, 5, "base", bound)
      DedupOps.appendWinnowBatch(mid, "doc_id", "text", store, 4, 5, "b1", bound)
      store
    }
    def rows(store: String, family: String) =
      StoreCommit.read(spark, store, Some(family)).drop("batch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq("fps", "sizes").foreach { family =>
      assert(rows(stores(0), family) == rows(stores(1), family) &&
        rows(stores(0), family).nonEmpty, s"stored $family rows differ")
      // a collected batch lands as one file per family
      val files = new java.io.File(s"${stores(0)}/$family/batch=b1").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$family: ${files.length} files for one small batch")
    }
    def probe(bound: Int, maxDocFreq: Int = 20, exclude: Option[String] = None) =
      DedupOps.winnowProbe(batch, "doc_id", "text", stores(0), 4, 5, 2, maxDocFreq,
        exclude, bound)
    def canon(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val pairs = canon(probe(small))
    assert(pairs.nonEmpty && pairs == canon(probe(large)))
    assert(pairs == canon(DedupOps.winnowingPairs(docs, "doc_id", "text", maxDocFreq = 20)
      .where(col("id_a") >= 250 || col("id_b") >= 250)))
    // the small path prunes the fps scan by a static In; the fallback keeps
    // the broadcast semi join
    assert(probe(small).queryExecution.executedPlan.toString.contains("In(f,"))
    val fallback = probe(large).queryExecution.executedPlan.toString
    assert(fallback.contains("LeftSemi") && fallback.contains("BroadcastHashJoin"),
      s"fallback must prune via a broadcast semi join:\n$fallback")
    // a replayed batch excludes its own prior attempt on both paths
    DedupOps.appendWinnowBatch(batch, "doc_id", "text", stores(0), 4, 5, "b2", small)
    assert(canon(probe(small, exclude = Some("b2"))) == pairs)
    assert(canon(probe(large, exclude = Some("b2"))) == pairs)
    // a capped probe reports the same stop-fingerprint cut on both paths
    def stopRows(bound: Int): Long = {
      val seen = new java.util.concurrent.atomic.AtomicReference[Option[Long]](None)
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit =
          qe.observedMetrics.get(DedupOps.WinnowStopMetrics).foreach(r =>
            seen.set(Some(r.getAs[Long]("stop_rows"))))
        override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        probe(bound, maxDocFreq = 2, exclude = Some("b2")).collect()
        val deadline = System.currentTimeMillis() + 10000
        while (seen.get.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      } finally spark.listenerManager.unregister(listener)
      seen.get.getOrElse(fail(s"no $bound-bound stop observation"))
    }
    val cut = stopRows(small)
    assert(cut > 0 && cut == stopRows(large), s"stop_rows $cut")
    // an in-memory batch's size estimate counts 20 bytes per string, so a
    // bound between that estimate and its fingerprint rows makes the
    // one-task try overflow onto the distributed plan
    val local = spark.createDataFrame(java.util.Arrays.asList(batch.collect().toSeq: _*),
      batch.schema)
    val tight = 2000
    val over = DedupOps.winnowProbe(local, "doc_id", "text", stores(0), 4, 5, 2, 20,
      Some("b2"), tight)
    assert(canon(over) == pairs)
    val overPlan = over.queryExecution.executedPlan.toString
    assert(overPlan.contains("LeftSemi") && overPlan.contains("BroadcastHashJoin"),
      s"an overflowed try must take the fallback:\n$overPlan")
    val overStore = tmpDir("wn_overflow") + "/store"
    DedupOps.appendWinnowBatch(local, "doc_id", "text", overStore, 4, 5, "b2", tight)
    Seq("fps", "sizes").foreach { family =>
      assert(rows(overStore, family) == StoreCommit.read(spark, stores(0), Some(family))
        .where(col("batch") === "b2").drop("batch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet, s"overflowed $family rows differ")
    }
    CacheScope.release()
  }

  test("shinglePosRows == shingleRows; substring dedup at ExactSubstr k=50") {
    import spark.implicits._
    def norm(x: org.apache.spark.sql.DataFrame) =
      x.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    Seq(2, 4, 7).foreach { k =>
      assert(norm(TextOps.shinglePosRows(docs, "doc_id", "text", k)) ==
        norm(TextOps.shingleRows(docs, "doc_id", "text", k)),
        s"builder parity at k=$k")
    }
    // k=50 (the Lee 2021 run length): a planted 60-token shared run must
    // surface as ONE merged span per doc through the array builder
    val run = (0 until 60).map(i => s"r$i").mkString(" ")
    val t = Seq(
      (1L, "u1 u2 u3 " + run),
      (2L, run + " v1 v2"),
      (3L, (0 until 70).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val spans = DedupOps.duplicateSpans(t, "doc_id", "text", k = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((1L, 3L, 63L), (2L, 0L, 60L)))
    val cut = DedupOps.dropDuplicateSpans(t, "doc_id", "text", k = 50)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut(1L) == "u1 u2 u3 " + run) // canonical copy survives
    assert(cut(2L) == "v1 v2")
  }

  test("decontaminateSpans: colliding windows + margin cut, rest of doc survives") {
    import spark.implicits._
    val bench = Seq((100L, "secret eval answer key")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c secret eval answer key d e f"), // one colliding window at p=3
      (2L, "clean doc with no benchmark overlap at all"),
      (3L, "secret eval answer key"),             // fully contaminated
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = operators.CurationOps.decontaminateSpans(corpus, bench,
        "doc_id", "text", k = 4, margin = 1)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // window [3,7) + margin 1 -> cut [2,8): "a b" and "e f" survive
    assert(got(1L) == (("a b e f", 6L)))
    assert(got(2L) == (("clean doc with no benchmark overlap at all", 0L)))
    assert(got(3L) == (("", 4L)))
    assert(got(4L) == (("", 0L))) // null text = 1 empty token, never matches
  }

  test("postings index: probe == corpus scorer, append additive, replay idempotent, pruned scan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common rare common"), (2L, "common common common common"),
      (3L, "common x y z"), (4L, "x y z w"), (5L, "rare rare other"),
      (6L, null.asInstanceOf[String]) // must count in N on BOTH paths
    ).toDF("doc_id", "text")
    val path = s"${Fixtures.tmpRoot}/postings_spec"
    // two batches through build + append; df/N must sum to the whole corpus
    SearchOps.buildPostingsIndex(docs.where(col("doc_id") <= 3), "doc_id", "text", path)
    SearchOps.appendPostingsIndex(docs.where(col("doc_id") > 3), "doc_id", "text", path, "b2")
    val direct = TextOps.keywordTopK(docs, "doc_id", "text", Seq("rare", "common"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val got = SearchOps.keywordTopKIndexed(spark, path, Seq("rare", "common"), 5,
        idCol = "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == direct)
    // replaying the same append token overwrites, never duplicates (the
    // append's refreshByPath drops the prior probe's listing-cache entries)
    SearchOps.appendPostingsIndex(docs.where(col("doc_id") > 3), "doc_id", "text", path, "b2")
    val probe = SearchOps.keywordTopKIndexed(spark, path, Seq("rare", "common"), 5,
      idCol = "doc_id")
    val again = probe.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(again == direct)
    // mixed-case probes must hash the NORMALIZED term (a raw hash would
    // prune to the wrong bucket and silently return nothing)
    val mixed = SearchOps.keywordTopKIndexed(spark, path, Seq("RARE", "Common"), 5,
      idCol = "doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(mixed == direct)
    // the postings scan must prune to the query terms' bucket partitions
    val scanLines = probe.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("PartitionFilters")).toList
    assert(scanLines.nonEmpty && scanLines.forall(l =>
      l.contains("bkt") && !l.contains("PartitionFilters: []")),
      s"probe scans must partition-prune on bkt:\n${scanLines.mkString("\n")}")
    // one writer per bucket: every bkt= dir the append touched holds
    // exactly ONE part file (the TermBuckets-way hash repartition keeps a
    // bucket's rows in a single task — a bucket split across tasks would
    // land 2+ files here)
    for (sub <- Seq("postings", "terms"); batch <- Seq("base", "b2")) {
      val dirs = new java.io.File(s"$path/$sub/batch=$batch")
        .listFiles().filter(_.getName.startsWith("bkt="))
      assert(dirs.nonEmpty, s"$sub/batch=$batch should have bucket dirs")
      dirs.foreach { d =>
        val parts = d.listFiles().filter(_.getName.startsWith("part-"))
        assert(parts.length == 1,
          s"${d.getPath} has ${parts.length} part files, want 1 writer per bucket")
      }
    }
  }

  test("bm25: saturation + length normalization, index probe == corpus scan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "rare pad pad pad pad pad pad pad"),            // tf=1, dl=8
      (2L, "rare rare rare rare rare rare rare rare"),     // tf=8, dl=8
      (3L, "rare pad"),                                    // tf=1, dl=2
      (4L, "pad pad pad pad pad pad pad pad"),
      (5L, null.asInstanceOf[String])                      // counts in N and T
    ).toDF("doc_id", "text")
    val got = TextOps.bm25TopK(docs, "doc_id", "text", Seq("rare"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // ranked: 2 (highest tf) above 3 (same tf as 1, shorter doc) above 1
    assert(got.map(_._1) == List(2L, 3L, 1L), s"got $got")
    val s = got.map(x => x._1 -> x._2).toMap
    // tf SATURATES: 8x the term count buys well under 8x the score
    assert(s(2L) < 4 * s(1L), s"saturation violated: $s")
    // shorter doc with equal tf outranks strictly
    assert(s(3L) > s(1L))
    // the persisted index probe reproduces the scan bit-for-bit, across
    // an append (additive N/T) and for multi-term queries
    val path = s"${Fixtures.tmpRoot}/bm25_spec"
    SearchOps.buildPostingsIndex(docs.where(col("doc_id") <= 3), "doc_id", "text", path)
    SearchOps.appendPostingsIndex(docs.where(col("doc_id") > 3), "doc_id", "text", path, "b2")
    for (terms <- Seq(Seq("rare"), Seq("rare", "pad"))) {
      val direct = TextOps.bm25TopK(docs, "doc_id", "text", terms, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      val probe = SearchOps.bm25TopKIndexed(spark, path, terms, 5, idCol = "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      assert(probe == direct, s"index/scan divergence for $terms")
    }
    // compaction preserves dl and the n_tokens sidecar
    SearchOps.compactPostingsIndex(spark, path, s"${path}_c")
    val compacted = SearchOps.bm25TopKIndexed(spark, s"${path}_c",
        Seq("rare", "pad"), 5, idCol = "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val direct2 = TextOps.bm25TopK(docs, "doc_id", "text", Seq("rare", "pad"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(compacted == direct2)
  }

  test("hashedLinearScore: mean of bucket weights, missing buckets 0, empty doc = intercept") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb aa"), (2L, "zz"), (3L, "")).toDF("doc_id", "text")
    val D = 64
    def bucket(t: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(15), 16) % D
    }
    // weight only aa's and bb's buckets; zz's bucket (and ""'s) left untrained
    val w = Seq((bucket("aa"), 3.0), (bucket("bb"), -1.5)).toDF("bucket", "w")
    val scores = TextOps.hashedLinearScore(docs, "doc_id", "text", w, D,
        intercept = 0.25)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(scores(1L) - ((3.0 + -1.5 + 3.0) / 3 + 0.25)) < 1e-12)
    assert(math.abs(scores(2L) - (0.0 / 1 + 0.25)) < 1e-12)  // untrained bucket
    // "" tokenizes to one empty token (untrained) -> 0-mean + intercept
    assert(math.abs(scores(3L) - 0.25) < 1e-12)
  }

  test("connectedComponents freezeStars == default on mixed star/chain graphs") {
    import spark.implicits._
    // the active-set variant must be output-identical across the shapes it
    // exists for: masses of tiny clusters (freeze in round 1-2) plus a long
    // chain that keeps the active set alive for many more rounds, and an
    // adversarial seed sweep of random graphs (freeze interacts with
    // whatever intermediate star decompositions contraction passes through)
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val stars = (0 until 40).flatMap { s =>
        val root = 1000L * (s + 1)
        (1 to rnd.nextInt(4) + 1).map(i => (root + i, root))
      }
      val chain = (1L to 70L).sliding(2).map(s => (s(0), s(1))).toSeq
      val randomEdges = Seq.fill(120)(
        (rnd.nextInt(80).toLong + 100, rnd.nextInt(80).toLong + 100))
        .filter { case (a, b) => a != b }
      val edges = (stars ++ chain ++ randomEdges).toDF("id_a", "id_b")
      val want = DedupOps.connectedComponents(edges, "id_a", "id_b",
          freezeStars = false)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // freezeMinEdges = 0 forces the freeze machinery on this (small)
      // graph — the default threshold would auto-disable it and the test
      // would silently compare the plain path with itself
      val got = DedupOps.connectedComponents(edges, "id_a", "id_b",
          freezeStars = true, freezeMinEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"freezeStars diverged at seed $seed")
      // the auto-disabled default (freezeStars = true, edges below the
      // threshold) must land on the same labels through the plain path
      val auto = DedupOps.connectedComponents(edges, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(auto == want, s"auto-disabled freeze diverged at seed $seed")
      graft.CacheScope.release()
    }
  }

  test("connectedComponents fails loudly when maxRounds is exhausted unconverged") {
    import spark.implicits._
    // a 10-node chain cannot converge in one round — the old behavior
    // silently returned the residual edge set as if it were stars
    val chain = (0L until 10L).sliding(2).map(s => (s(0), s(1))).toSeq
    val ex = intercept[IllegalStateException] {
      DedupOps.connectedComponents(chain.toDF("id_a", "id_b"), "id_a", "id_b", maxRounds = 1)
        .count()
    }
    assert(ex.getMessage.contains("did not converge"))
    // the same graph converges fine with the default budget
    val ok = DedupOps.connectedComponents(chain.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(1)).toSet
    assert(ok == Set(0L))
  }

  test("connectedComponents handles empty and single-edge inputs") {
    import spark.implicits._
    val empty = DedupOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b")
    assert(empty.count() == 0)
    val one = DedupOps.connectedComponents(
        Seq((5L, 3L)).toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(5L -> 3L, 3L -> 3L))
  }

  test("stratifiedSample: deterministic, rate-ordered, salt-sensitive") {
    val rates = Map("en" -> 0.5, "de" -> 0.1)
    val s1 = SampleOps.stratifiedSample(docs, "doc_id", "lang", rates, defaultRate = 0.02)
    val s2 = SampleOps.stratifiedSample(docs, "doc_id", "lang", rates, defaultRate = 0.02)
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == s2.select("doc_id").collect().map(_.getLong(0)).toSet)
    // same columns out as in (the rate plumbing must not leak)
    assert(s1.columns.toSeq == docs.columns.toSeq)
    // per-stratum keep fraction tracks the requested rate (hash-uniform)
    val byLang = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = byLang.getOrElse("en", 0L).toDouble / totals("en")
    assert(math.abs(enRate - 0.5) < 0.2, s"en keep rate $enRate far from 0.5")
    // a different salt draws a different (independent) sample
    val salted = SampleOps.stratifiedSample(docs, "doc_id", "lang", rates,
      defaultRate = 0.02, salt = "v2")
    assert(salted.select("doc_id").collect().map(_.getLong(0)).toSet != ids1)
  }

  test("quotaSample: exactly n per stratum with ranks 1..n") {
    val q = SampleOps.quotaSample(docs, "doc_id", "lang", n = 5).collect()
    val byLang = q.groupBy(_.getAs[String]("lang"))
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.foreach { case (lang, rows) =>
      val expect = math.min(5L, totals(lang))
      assert(rows.length == expect, s"$lang: ${rows.length} != $expect")
      assert(rows.map(_.getAs[Long]("sample_rank")).sorted.toSeq == (1L to expect))
    }
    // deterministic across runs
    val again = SampleOps.quotaSample(docs, "doc_id", "lang", n = 5).collect()
    assert(q.map(_.getAs[Long]("doc_id")).toSet == again.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("tokenBudgetSample: prefix semantics per stratum, budget respected") {
    val kept = SampleOps.tokenBudgetSample(docs, "doc_id", "text", "lang",
        Map("en" -> 500L), defaultBudget = 200L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("cum_tokens")))
    assert(kept.nonEmpty)
    // null text charges one (empty) token — never kept for free with a
    // null cum that rides the window sum uncharged
    import spark.implicits._
    val withNull = Seq((1L, "a b c", "x"), (2L, null.asInstanceOf[String], "x"))
      .toDF("doc_id", "text", "lang")
    val nb = SampleOps.tokenBudgetSample(withNull, "doc_id", "text", "lang",
        Map("x" -> 100L))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens")).toMap
    assert(nb.values.forall(_ > 0) && nb.size == 2)
    val perLang = kept.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
    perLang.foreach { case (l, maxCum) =>
      assert(maxCum <= (if (l == "en") 500L else 200L), s"$l over budget: $maxCum")
    }
    // deterministic: same kept set on rerun over a different partitioning
    val again = SampleOps.tokenBudgetSample(docs.repartition(7), "doc_id", "text",
        "lang", Map("en" -> 500L), defaultBudget = 200L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again == kept.map(_._1).toSet)
  }

  test("bigramSurprise: hand-computed quantized code lengths; en < zh under en model") {
    import spark.implicits._
    // model from "a b a b": c12 = {(a,b):2, (b,a):1}, c1 = {a:2, b:1}, V=2
    val ref = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val score = Seq((1L, "a b c"), (2L, "z"), (3L, "x y")).toDF("doc_id", "text")
    val got = TextOps.bigramSurprise(score, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), Option(r.get(5))))).toMap
    // doc 1: (a,b) -> bitlen(2+2)-bitlen(2+1)=3-2=1 (hit both);
    //        (b,c) -> bitlen(1+2)-bitlen(0+1)=2-1=1 (context hit only)
    assert(got(1L) == ((2L, 1L, 2L, 2L, Some(1.0))))
    // doc 2: one token, no bigram evidence
    assert(got(2L) == ((0L, 0L, 0L, 0L, None)))
    // doc 3: fully OOV position -> bitlen(V)-bitlen(1) = 2-1 = 1
    assert(got(3L) == ((1L, 0L, 0L, 1L, Some(1.0))))
    // real fixture: English docs are less surprising than Chinese under an
    // English-slice model
    val d = docs
    val s = TextOps.bigramSurprise(d, d.where(col("lang") === "en"),
        "doc_id", "text")
      .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .where(col("n_bigrams") > 0)
      .groupBy(col("lang"))
      .agg(avg(col("avg_surprise_bits")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s("en") < s("zh"), s"expected en < zh surprise, got $s")
  }

  test("bigramSurpriseStored: persisted model reproduces the inline scorer") {
    import spark.implicits._
    val ref = Seq((100L, "a b a b"), (101L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val score = Seq((1L, "a b c"), (2L, "z"), (3L, "x y")).toDF("doc_id", "text")
    val path = tmpDir("lmstore")
    TextOps.buildLmModel(ref, "text", path)
    val inline = TextOps.bigramSurprise(score, ref, "doc_id", "text")
      .orderBy("doc_id").collect().toList
    val stored = TextOps.bigramSurpriseStored(score, "doc_id", "text", path)
      .orderBy("doc_id").collect().toList
    assert(stored == inline)
    // rebuild overwrites (a model is a snapshot, not a stream): a model
    // from a different reference must fully replace the old counts
    TextOps.buildLmModel(score, "text", path)
    val rebuilt = TextOps.bigramSurpriseStored(score, "doc_id", "text", path)
      .orderBy("doc_id").collect().toList
    val inline2 = TextOps.bigramSurprise(score, score, "doc_id", "text")
      .orderBy("doc_id").collect().toList
    assert(rebuilt == inline2 && rebuilt != inline)
  }

  test("packStats: hand-computed fragmentation accounting, empty-corpus safe") {
    import spark.implicits._
    // token counts 3,4,2 at chunkTokens=4 -> global spans [0,3)[3,7)[7,9):
    // doc2 crosses the 4-boundary, doc3 crosses the 8-boundary
    val fixture = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i"))
      .toDF("doc_id", "text")
    val row = CurationOps.packStats(fixture, "doc_id", "text", 4L).collect()(0)
    assert(row.getAs[Long]("chunks") == 3L)
    assert(row.getAs[Long]("incidences") == 5L)
    assert(row.getAs[Long]("packed_docs") == 3L)
    assert(row.getAs[Long]("split_docs") == 2L)
    assert(row.getAs[Long]("total_tokens") == 9L)
    assert(row.getAs[Long]("last_chunk_tokens") == 1L)
    val empty = CurationOps.packStats(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", 4L)
      .collect()(0)
    assert((0 until 6).forall(i => empty.getLong(i) == 0L))
    // totals agree with the span set on the real fixture
    val spans = CurationOps.packChunks(docs, "doc_id", "text", 512L)
    val stats = CurationOps.packStats(docs, "doc_id", "text", 512L).collect()(0)
    assert(stats.getAs[Long]("incidences") == spans.count())
    assert(stats.getAs[Long]("total_tokens") ==
      spans.agg(sum(col("tok_to") - col("tok_from"))).collect()(0).getLong(0))
  }

  test("mixture sampling: weight-derived budgets, report partitions the kept set") {
    val w = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)
    // floor(w/sum * total), and unnormalized weights normalize identically
    assert(SampleOps.mixtureBudgets(w, 10000L) ==
      Map("en" -> 5000L, "de" -> 3000L, "fr" -> 2000L))
    assert(SampleOps.mixtureBudgets(Map("a" -> 5.0, "b" -> 3.0, "c" -> 2.0), 10000L)
      == Map("a" -> 5000L, "b" -> 3000L, "c" -> 2000L))
    intercept[IllegalArgumentException] { SampleOps.mixtureBudgets(Map.empty, 1L) }
    intercept[IllegalArgumentException] {
      SampleOps.mixtureBudgets(Map("a" -> -1.0), 1L)
    }
    // the mixture sample IS tokenBudgetSample under the derived budgets
    val viaMixture = SampleOps.mixtureTokenSample(docs, "doc_id", "text", "lang",
      w, 10000L).collect().map(_.getAs[Long]("doc_id")).toSet
    val viaBudgets = SampleOps.tokenBudgetSample(docs, "doc_id", "text", "lang",
      SampleOps.mixtureBudgets(w, 10000L)).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(viaMixture == viaBudgets && viaMixture.nonEmpty)
    // report: one row per targeted stratum, kept_tokens <= target_tokens,
    // kept_docs totals the sampled frame exactly
    val rep = SampleOps.mixtureReport(docs, "doc_id", "text", "lang", w, 10000L)
      .collect().map(r => r.getAs[String]("stratum") ->
        ((r.getAs[Long]("target_tokens"), r.getAs[Long]("kept_docs"),
          r.getAs[Long]("kept_tokens")))).toMap
    assert(rep.keySet == w.keySet)
    rep.foreach { case (s, (target, _, keptTok)) =>
      assert(keptTok <= target, s"$s kept $keptTok > target $target")
    }
    assert(rep.values.map(_._2).sum == viaMixture.size)
  }

  test("repetitionStats: exact fractions on crafted docs, single-token safe") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a a a b"),    // top token 3/4; bigrams "a a","a a","a b": top 2/3, dup 2/3
      (2L, "x"),          // no bigrams: fracs defined as 0.0
      (3L, "p q p q p")   // top token 3/5; bigrams "p q","q p","p q","q p": top 2/4, dup 4/4
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(fixture, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got(1L) == ((4L, 0.75, 2.0 / 3, 2.0 / 3)))
    assert(got(2L) == ((1L, 1.0, 0.0, 0.0)))
    assert(got(3L) == ((5L, 0.6, 0.5, 1.0)))
  }

  test("redactionStats: URL swallows embedded email, counts match sentinels") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "visit https://x.io/a?u=bob@x.io and mail bob@x.io or call +1 (555) 123-4567 now"),
      (2L, "no pii here"),
      (3L, "two mails a@b.co c@d.org one url http://e.fi/z")
    ).toDF("doc_id", "text")
    val got = TextOps.redactionStats(fixture, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    // the mail inside the URL is swallowed by the URL redaction (counted once, as a URL)
    assert(got(1L) == ((1L, 1L, 1L, "visit <URL> and mail <EMAIL> or call <PHONE> now")))
    assert(got(2L) == ((0L, 0L, 0L, "no pii here")))
    assert(got(3L) == ((1L, 2L, 0L, "two mails <EMAIL> <EMAIL> one url <URL>")))
  }

  test("ngramOverlap: planted 4-gram collision flags doc, disjoint doc clean") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "he said the quick brown fox ran away"), // shares "the quick brown fox"
      (2L, "entirely different words in this one here"),
      (3L, "too short")                             // < 4 tokens: no row
    ).toDF("doc_id", "text")
    val got = CurationOps.ngramOverlap(corpus, bench, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(1L) == ((5L, 1L, true))) // 5 windows; only "the quick brown fox" is in bench
    assert(got(2L) == ((4L, 0L, false)))
    assert(!got.contains(3L))
    // benchmark membership is a broadcast join; corpus never shuffles on the
    // shingle key (one id-exchange from the shingle window, nothing after)
    val plan = CurationOps.ngramOverlap(corpus, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("curateKeep drops dup/contaminated/repetitive/short docs, keeps clean") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val clean = (1 to 30).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, clean, "en"),                                    // kept
      (2L, clean, "en"),                                    // exact dup of 1 -> dropped
      (3L, clean + " alpha beta gamma delta", "en"),        // contaminated -> dropped
      (4L, (1 to 30).map(_ => "spam").mkString(" "), "en"), // top_token_frac 1.0 -> dropped
      (5L, "few tokens only here", "en")                    // < 20 tokens -> dropped
    ).toDF("doc_id", "text", "lang")
    val kept = CurationOps.curateKeep(corpus, bench, "doc_id", "text", "lang")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
    // the report assigns each doc its first-failing rule and partitions the corpus
    val report = CurationOps.curationReport(corpus, bench, "doc_id", "text", "lang")
      .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(report == Map(
      "kept" -> ((1L, 30L)), "duplicate" -> ((1L, 30L)),
      "contaminated" -> ((1L, 34L)), "repetitive" -> ((1L, 30L)),
      "short" -> ((1L, 4L))))
    // a crawl row with NULL text must still be accounted (as short), not
    // silently vanish from the report — outcome counts sum to corpus size
    val withNull = corpus.unionByName(
      Seq((9L, null.asInstanceOf[String], "en")).toDF("doc_id", "text", "lang"))
    val r2 = CurationOps.curationReport(withNull, bench, "doc_id", "text", "lang")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(r2.values.sum == 6L && r2("short") == 2L)

    // source blocklist: blocked wins precedence, is ACCOUNTED in the
    // report, and dedup re-canonicalizes among survivors — blocking doc 1's
    // source promotes its former duplicate 2 to canonical (kept)
    val sourced = corpus.withColumn("source",
      when(col("doc_id") === 1, "bad.com").otherwise("ok.org"))
    val block = Some(Seq("bad.com").toDF("domain"))
    val keptB = CurationOps.curateKeep(sourced, bench, "doc_id", "text", "lang",
        blockedSources = block)
      .collect().map(_.getLong(0)).toSet
    assert(keptB == Set(2L))
    val rB = CurationOps.curationReport(sourced, bench, "doc_id", "text", "lang",
        blockedSources = block)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rB == Map("blocked" -> 1L, "kept" -> 1L, "contaminated" -> 1L,
      "repetitive" -> 1L, "short" -> 1L))
    assert(rB.values.sum == 5L) // still a partition of the corpus
  }

  test("curateKeepClustered: keep-best per cluster label, then quality rules") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val clean = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, clean, "en", 5.0),  // cluster {1,2}: 2 outscores 1 -> 1 dropped
      (2L, other, "en", 9.0),  //   despite 1 passing every quality rule
      (3L, clean + " alpha beta gamma delta", "en", 1.0), // singleton, contaminated
      (4L, "short one", "en", 1.0)                        // singleton, < 20 tokens
    ).toDF("doc_id", "text", "lang", "score")
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    val kept = CurationOps.curateKeepClustered(
        corpus, bench, "doc_id", "text", "lang", labels, "score")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
    // flip the scores: 1 becomes the representative and is kept
    val corpus2 = corpus.withColumn("score",
      when(col("doc_id") === 1, 9.0).otherwise(1.0))
    val kept2 = CurationOps.curateKeepClustered(
        corpus2, bench, "doc_id", "text", "lang", labels, "score")
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(1L))
    // a blocked representative never competes: blocking 2's source under
    // the original scores hands the cluster back to 1
    val sourced = corpus.withColumn("source",
      when(col("doc_id") === 2, "bad.com").otherwise("ok.org"))
    val keptB = CurationOps.curateKeepClustered(
        sourced, bench, "doc_id", "text", "lang", labels, "score",
        blockedSources = Some(Seq("bad.com").toDF("domain")))
      .collect().map(_.getLong(0)).toSet
    assert(keptB == Set(1L))
  }

  test("curationReportClustered: partition of the corpus, kept == keep path") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val clean = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, clean, "en", 5.0),                             // loses cluster to 2
      (2L, other, "en", 9.0),                             // kept
      (3L, clean + " alpha beta gamma delta", "en", 1.0), // contaminated
      (4L, "short one", "en", 1.0),                       // short
      (5L, (1 to 30).map(_ => "x").mkString(" "), "de", 2.0) // repetitive
    ).toDF("doc_id", "text", "lang", "score")
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    val report = CurationOps.curationReportClustered(
        corpus, bench, "doc_id", "text", "lang", labels, "score")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(report == Map(
      ("en", "kept") -> 1L, ("en", "non_keeper") -> 1L,
      ("en", "contaminated") -> 1L, ("en", "short") -> 1L,
      ("de", "repetitive") -> 1L))
    assert(report.values.sum == corpus.count()) // partition of the corpus
    // kept count equals the keep path's result set size
    val kept = CurationOps.curateKeepClustered(
      corpus, bench, "doc_id", "text", "lang", labels, "score").count()
    assert(kept == 1L)
  }

  test("removeFrequentLines: boilerplate vanishes everywhere; census == one-shot") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "banner\nalpha\nbanner"),  // banner x2 here...
      (2L, "banner\nbeta"),           // ...x1 here -> corpus count 3
      (3L, "gamma\ndelta"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = DedupOps.removeFrequentLines(fixture, "doc_id", "text",
        minCount = 3, delim = "\n")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // boilerplate removed from EVERY doc — no canonical survivor
    assert(got(1L) == (("alpha", 2L)))
    assert(got(2L) == (("beta", 1L)))
    assert(got(3L) == (("gamma\ndelta", 0L)))
    assert(got(4L) == (("", 0L))) // null text = one empty line, kept
    // the persisted census (two batches, additive counts: banner 2 + 1)
    // reproduces the one-shot removal exactly
    val path = tmpDir("linestore")
    DedupOps.buildLineStore(fixture.where(col("doc_id") === 1), "doc_id", "text", path)
    DedupOps.appendLineStore(fixture.where(col("doc_id") > 1), "doc_id", "text",
      path, batchToken = "b2")
    val stored = DedupOps.removeFrequentLinesStored(fixture, "doc_id", "text",
        path, minCount = 3, delim = "\n")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(stored == got)
    // compaction SUMS overlapping per-hash counts (not a disjoint union):
    // the compacted census strips identically
    DedupOps.compactLineStore(spark, path, s"${path}_c")
    val compacted = DedupOps.removeFrequentLinesStored(fixture, "doc_id", "text",
        s"${path}_c", minCount = 3, delim = "\n")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(compacted == got)
    // census-based contract: a line the store has never seen is kept no
    // matter how often the probe batch repeats it
    val fresh = Seq((9L, "new\nnew\nnew\nnew")).toDF("doc_id", "text")
    val keptFresh = DedupOps.removeFrequentLinesStored(fresh, "doc_id", "text",
      path, minCount = 3, delim = "\n").head()
    assert(keptFresh.getString(1) == "new\nnew\nnew\nnew" && keptFresh.getLong(2) == 0L)
    graft.CacheScope.release()
  }

  test("incrementalCosinePairs == one-shot exact pairs touching the batch") {
    val split = 350L
    val sub = emb.where(col("vec_id") < 500)
    val store = tmpDir("embstore")
    SimilarityOps.buildEmbStore(sub.where(col("vec_id") < split),
      "vec_id", "embedding", store)
    def canon(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val inc = canon(SimilarityOps.incrementalCosinePairs(
      sub.where(col("vec_id") >= split), "vec_id", "embedding", store, 0.4))
    val oneShot = canon(SimilarityOps.cosineNearDupPairs(sub,
        "vec_id", "embedding", 0.4)
      .where(col("id_a") >= split || col("id_b") >= split))
    assert(inc == oneShot && inc.nonEmpty)
    assert(!inc.exists(p => p._1 < split && p._2 < split))
    // a backfill-sized batch refuses the broadcast loudly
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.incrementalCosinePairs(sub, "vec_id", "embedding",
        store, 0.4, maxBroadcastRows = 10)
    }
    assert(ex.getMessage.contains("one-shot"))
    graft.CacheScope.release()
  }

  test("incrementalSimhashPairs == one-shot pairs touching the batch") {
    val split = 250L
    val store = tmpDir("shstore")
    DedupOps.buildSimhashStore(docs.where(col("doc_id") < split),
      "doc_id", "text", store)
    def canon(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inc = canon(DedupOps.incrementalSimhashPairs(
      docs.where(col("doc_id") >= split), "doc_id", "text", store))
    val oneShot = canon(DedupOps.simhashNearDupPairs(docs, "doc_id", "text")
      .where(col("id_a") >= split || col("id_b") >= split))
    assert(inc == oneShot && inc.nonEmpty, s"inc=${inc.size} one=${oneShot.size}")
    // no store-store pair re-emitted
    assert(!inc.exists(p => p._1 < split && p._2 < split))
    graft.CacheScope.release()
  }

  test("incremental near-dup == full-corpus pairs touching the new split") {
    val path = tmpDir("mhstore")
    val split = 200L
    DedupOps.buildMinhashStore(docs.where(col("doc_id") < split), "doc_id", "text", path)
    val inc = DedupOps.incrementalNearDupPairs(
        docs.where(col("doc_id") >= split), "doc_id", "text", path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val allPairs: Set[(Long, Long)] = DedupOps.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = allPairs.filter { case (a, b) => a >= split || b >= split }
    assert(full.nonEmpty, "fixture must contain pairs that touch the new split")
    assert(inc == full)
    // appending the probe batch makes the store answer future probes
    DedupOps.appendMinhashStore(docs.where(col("doc_id") >= split), "doc_id", "text", path)
    assert(spark.read.parquet(path).count() == docs.count())
    // re-running an append with the SAME token overwrites instead of duplicating
    DedupOps.appendMinhashStore(docs.where(col("doc_id") >= split), "doc_id", "text",
      path, batchToken = "retry")
    DedupOps.appendMinhashStore(docs.where(col("doc_id") >= split), "doc_id", "text",
      path, batchToken = "retry")
    assert(spark.read.parquet(path).where(col("batch") === "retry").count() ==
      docs.where(col("doc_id") >= split).count())
    // probing a store built at different parameters fails loudly
    intercept[IllegalArgumentException] {
      DedupOps.incrementalNearDupPairs(docs.where(col("doc_id") >= split),
        "doc_id", "text", path, bands = 16, rowsPerBand = 4)
    }
    graft.CacheScope.release()
  }

  test("incremental exact dedup == corpus-wide canonical map on the new split") {
    val path = tmpDir("fpstore")
    val split = 200L
    DedupOps.buildFingerprintStore(docs.where(col("doc_id") < split),
      "doc_id", "text", path)
    val inc = DedupOps.incrementalExactDedup(
        docs.where(col("doc_id") >= split), "doc_id", "text", path)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val full = DedupOps.exactDedupMap(docs, "doc_id", "text")
      .where(col("doc_id") >= split)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(inc == full)
    // store-hit dups canonicalize to the STORED id; batch-only dup groups
    // to their min batch id (the sf0.001 fixture has no cross-split exact
    // dup, so plant one)
    import spark.implicits._
    val synthStore = tmpDir("fpstore_synth")
    DedupOps.buildFingerprintStore(Seq((1L, "same text")).toDF("doc_id", "text"),
      "doc_id", "text", synthStore)
    val probe = Seq((10L, "same  TEXT "), (11L, "other"), (12L, "other"))
      .toDF("doc_id", "text")
    val got = DedupOps.incrementalExactDedup(probe, "doc_id", "text", synthStore)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(10L -> 1L, 11L -> 11L, 12L -> 11L))
    // store rows are pruned map-side by the probe's broadcast fp set
    // BEFORE any shuffle: the prune is a broadcast LeftSemi join
    val plan = DedupOps.incrementalExactDedup(
      docs.where(col("doc_id") >= split), "doc_id", "text", path)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"store side must be pruned by a broadcast semi-join, got:\n$plan")
    // append with a stable token is replay-idempotent, like the minhash store
    DedupOps.appendFingerprintStore(docs.where(col("doc_id") >= split),
      "doc_id", "text", path, batchToken = "retry")
    DedupOps.appendFingerprintStore(docs.where(col("doc_id") >= split),
      "doc_id", "text", path, batchToken = "retry")
    assert(spark.read.parquet(path).count() == docs.count())
  }

  test("probePrune: shuffled-hash fallback == broadcast prune, and is shuffle-shaped") {
    import spark.implicits._
    val store = (0L until 2000L).map(i => (i, i % 97)).toDF("id", "fp")
    val keys = (0L until 97L by 3L).map(Tuple1(_)).toDF("fp")
    val run = (maxRows: Long) =>
      DedupOps.probePrune(store, keys, Seq("fp"), probeRows = keys.count(), maxRows)
    val viaBroadcast = run(DedupOps.BroadcastProbeRows)
    val viaShuffle = run(0L)
    assert(viaBroadcast.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      viaShuffle.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(viaBroadcast.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    val shufflePlan = viaShuffle.queryExecution.executedPlan.toString
    assert(!shufflePlan.contains("BroadcastHashJoin") &&
      shufflePlan.contains("LeftSemi"),
      s"fallback must not broadcast, got:\n$shufflePlan")
  }

  test("curation edge cases: empty benchmark, empty store, empty prefix input") {
    import spark.implicits._
    val docs5 = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // empty benchmark: nothing can be contaminated
    val ov = CurationOps.ngramOverlap(docs5, emptyDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(ov == Map(1L -> false, 2L -> false))
    // empty store: probe finds only new-new pairs
    val store = tmpDir("empty_store")
    DedupOps.buildMinhashStore(emptyDocs, "doc_id", "text", store)
    val selfPair = Seq((10L, "x y z x y z x y"), (11L, "x y z x y z x y"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.incrementalNearDupPairs(selfPair, "doc_id", "text", store)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((10L, 11L)))
    // empty prefix-sum input keeps the schema contract
    val cum = CurationOps.prefixSum(
      Seq.empty[(Long, Long)].toDF("id", "v"), "id", "v")
    assert(cum.columns.toSeq == Seq("id", "v", "cum") && cum.count() == 0)
    graft.CacheScope.release()
  }

  test("semanticDedupKeep keeps one representative per planted cluster") {
    import spark.implicits._
    // ids 1,2,3 share a vector (one cluster), 10 and 20 are orthogonal
    val v = Array(1.0, 0.0, 0.5, 0.25)
    val fixture = Seq(
      (1L, v), (2L, v), (3L, v),
      (10L, Array(0.0, 1.0, -0.5, 0.0)),
      (20L, Array(-1.0, 0.0, 0.0, 0.9))).toDF("vec_id", "embedding")
    val kept = SimilarityOps.semanticDedupKeep(fixture, "vec_id", "embedding", 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(1L -> 1L, 10L -> 10L, 20L -> 20L))
    graft.CacheScope.release()
  }

  test("vocab token counts: vocab pieces, OOV byte fallback, empty text charges 1") {
    import spark.implicits._
    val vocab = Seq(("the", 1L), ("quick", 1L), ("multi", 3L)).toDF("word", "pieces")
    val d = Seq(
      (1L, "the quick the"),         // 3 vocab words -> 3
      (2L, "multi zz"),              // 3 + max(1, ceil(2/2)=1) -> 4
      (3L, "abcde"),                 // OOV: (5+1) div 2 -> 3
      (4L, ""),                      // one empty token -> 1
      (5L, null.asInstanceOf[String])) // null == empty -> 1
      .toDF("doc_id", "text")
    val got = TextOps.vocabTokenCounts(d, "doc_id", "text", vocab)
      .select("doc_id", "n_tok").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 4L, 3L -> 3L, 4L -> 1L, 5L -> 1L))
    // the vocab join must be broadcast, never a corpus shuffle
    val plan = TextOps.vocabTokenCounts(d, "doc_id", "text", vocab)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("topWordVocab: frequency order with deterministic tie-break on the word") {
    import spark.implicits._
    val d = Seq((1L, "b b b a a c c x"), (2L, "a c")).toDF("doc_id", "text")
    // freqs: a=3 b=3 c=3 x=1; top-3 must be the lexically-first of the tie
    val v = TextOps.topWordVocab(d, "text", 3).select("word")
      .collect().map(_.getString(0)).toSet
    assert(v == Set("a", "b", "c"))
    val v1 = TextOps.topWordVocab(d, "text", 1).select("word")
      .collect().map(_.getString(0)).toSet
    assert(v1 == Set("a"), s"rank-1 tie must break to the lexically first word, got $v1")
  }

  test("prefixSum rejects duplicate and null order keys loudly") {
    import spark.implicits._
    val dup = Seq((1L, 10L), (2L, 20L), (1L, 30L)).toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      CurationOps.prefixSum(dup, "id", "v"))
    assert(e.getMessage.contains("unique"), e.getMessage)
    val withNull = Seq((java.lang.Long.valueOf(1L), 10L),
      (null.asInstanceOf[java.lang.Long], 20L)).toDF("id", "v")
    intercept[IllegalArgumentException](
      CurationOps.prefixSum(withNull, "id", "v"))
    graft.CacheScope.release()
  }

  test("ngramOverlap: oversized benchmark side degrades to a shuffled join, never a driver broadcast") {
    val bench = docs.limit(5)
    // force the guard with a tiny limit: the membership join must be a
    // ShuffledHashJoin on the shingle key, with no broadcast of the bench
    // shingle set
    val guarded = CurationOps.ngramOverlap(docs, bench, "doc_id", "text",
      broadcastBenchChars = 1)
    val p = guarded.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"expected shuffled membership join:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"oversized bench must not broadcast:\n$p")
    // results identical to the broadcast path
    val normal = CurationOps.ngramOverlap(docs, bench, "doc_id", "text")
    assert(guarded.collect().toSet == normal.collect().toSet)
    graft.CacheScope.release()
  }

  test("prefixSum matches the single-window result under repartitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 1000L).map(i => (i, rnd.nextInt(50).toLong))
    val df = rows.toDF("id", "v").repartition(17) // scatter input arbitrarily
    val got = CurationOps.prefixSum(df, "id", "v", "cum", buckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    var acc = 0L
    rows.foreach { case (i, v) =>
      acc += v
      assert(got(i) == acc, s"cum mismatch at id=$i")
    }
    graft.CacheScope.release()
  }

  test("packChunksGrouped == per-group packChunks; carry explosion guarded") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a b c", "en"), (2L, "d e f g", "en"), (3L, "h i", "en"),
      (4L, "x y z w v", "de"), (5L, "u t", "de")
    ).toDF("doc_id", "text", "lang")
    val got = CurationOps.packChunksGrouped(fixture, "doc_id", "text", "lang", 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // each group must equal packChunks run on that group alone
    val expected = Seq("en", "de").flatMap { g =>
      CurationOps.packChunks(fixture.where(col("lang") === g),
          "doc_id", "text", 5)
        .collect().map(r => (g, r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
    }.toSet
    assert(got == expected && got.nonEmpty)
    // no chunk mixes groups (chunk ids are group-local, key = (lang, chunk))
    val mixed = CurationOps.packChunksGrouped(fixture, "doc_id", "text", "lang", 5)
      .join(fixture.select(col("doc_id"), col("lang").as("doc_lang")), Seq("doc_id"))
      .where(col("lang") =!= col("doc_lang")).count()
    assert(mixed == 0L)
    // materialized grouped chunks: each group's text equals the ungrouped
    // materialization of that group alone
    val gtexts = CurationOps.packChunkTextGrouped(
        fixture, "doc_id", "text", "lang", 5)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    val etexts = Seq("en", "de").flatMap { g =>
      CurationOps.packChunkText(fixture.where(col("lang") === g),
          "doc_id", "text", 5)
        .collect().map(r => (g, r.getLong(0)) -> r.getString(1))
    }.toMap
    assert(gtexts == etexts && gtexts.nonEmpty)
    // on the larger fixture: per-group token conservation
    val K = 128L
    val spans = CurationOps.packChunksGrouped(docs, "doc_id", "text", "lang", K)
    val perGroup = spans.groupBy(col("lang"))
      .agg(sum(col("tok_to") - col("tok_from")).as("covered")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = docs.groupBy(col("lang"))
      .agg(sum(size(split(lower(col("text")), " "))).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGroup == truth, s"coverage $perGroup != totals $truth")
    // a group key as fine as the row id must refuse the driver carry
    intercept[IllegalArgumentException] {
      CurationOps.prefixSumGrouped(
        docs.select(col("doc_id"), col("doc_id").as("g"), lit(1L).as("v")),
        "g", "doc_id", "v", maxCarryRows = 10)
    }
    graft.CacheScope.release()
  }

  test("packChunks: exact spans, every chunk full except the last") {
    import spark.implicits._
    // 3+4+2 tokens, chunk budget 5 -> chunk0 = doc1[0,3)+doc2[0,2),
    // chunk1 = doc2[2,4)+doc3[0,2)
    val fixture = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "h i")).toDF("doc_id", "text")
    val got = CurationOps.packChunks(fixture, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((0L, 1L, 0L, 3L), (0L, 2L, 0L, 2L),
      (1L, 2L, 2L, 4L), (1L, 3L, 0L, 2L)))
    // materialized chunk text concatenates fragments in doc order
    val texts = CurationOps.packChunkText(fixture, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts == Map(0L -> "a b c d e", 1L -> "f g h i"))
    // sharded writer: contiguous shards, ONE parquet file per shard dir,
    // exact round trip through the hive layout
    val path = tmpDir("packed_out")
    CurationOps.writePackedCorpus(fixture, "doc_id", "text", 5, path,
      chunksPerShard = 1)
    val back = spark.read.parquet(path)
      .collect().map(r => r.getAs[String]("shard") -> r.getAs[String]("text")).toMap
    assert(back == Map("0" -> "a b c d e", "1" -> "f g h i"))
    Seq("0", "1").foreach { sh =>
      val files = new java.io.File(s"$path/shard=$sh")
        .listFiles.count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"shard $sh must hold exactly one file, got $files")
    }
    // invariant on real data: every chunk except the max covers exactly K
    val K = 128L
    val spans = CurationOps.packChunks(docs, "doc_id", "text", K)
      .groupBy(col("chunk_id")).agg(sum(col("tok_to") - col("tok_from")).as("sz"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val last = spans.keys.max
    assert(spans.filter(_._1 != last).values.forall(_ == K))
    assert(spans(last) <= K)
    graft.CacheScope.release()
  }

  test("shuffled shard writer: fixed global permutation, hash order inside files") {
    val path = tmpDir("packed_shuf")
    CurationOps.writePackedCorpusShuffled(docs, "doc_id", "text", 128L, path,
      shards = 4)
    val back = spark.read.parquet(path)
    val all = CurationOps.packChunks(docs, "doc_id", "text", 128L)
      .select(col("chunk_id")).distinct().count()
    // every chunk lands exactly once
    assert(back.count() == all)
    assert(back.select(col("chunk_id")).distinct().count() == all)
    // shard assignment is the md5 slot of the chunk id — partitioning- and
    // rerun-independent
    val expected = back.select(col("chunk_id"),
        pmod(DedupOps.baseHash(col("chunk_id").cast("string")), lit(4L)).as("e"))
      .where(col("e") =!= col("shard").cast("bigint")).count()
    assert(expected == 0L)
    // within each shard FILE rows ride in hash order (the train-time read
    // order): re-read preserving parquet row order via a per-file check
    (0 until 4).foreach { sh =>
      val slots = spark.read.parquet(s"$path/shard=$sh")
        .select(DedupOps.baseHash(col("chunk_id").cast("string")))
        .collect().map(_.getLong(0))
      assert(slots.sameElements(slots.sorted),
        s"shard $sh rows must be hash-ordered in-file")
    }
    // a different salt draws a different permutation (overwhelmingly)
    val path2 = tmpDir("packed_shuf2")
    CurationOps.writePackedCorpusShuffled(docs, "doc_id", "text", 128L, path2,
      shards = 4, salt = "s2")
    val a1 = spark.read.parquet(path).select(col("chunk_id"), col("shard")).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("shard")).toMap
    val a2 = spark.read.parquet(path2).select(col("chunk_id"), col("shard")).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("shard")).toMap
    assert(a1 != a2)
    graft.CacheScope.release()
  }

  test("packChunkText under a custom tokenizer: chunks hold exactly K tokens of that basis") {
    import spark.implicits._
    // "a1 b2" is 4 BPE-ish subwords (letter run + digit run per word);
    // materialize under bpeTokens and every non-tail chunk must carry
    // exactly K subwords of the SAME basis the spans were computed in
    val fixture = Seq(
      (1L, "a1 b2 c3"), (2L, "d4!"), (3L, "e5 f6")).toDF("doc_id", "text")
    val K = 5L
    val chunks = CurationOps.packChunkText(fixture, "doc_id", "text", K,
        tokenizer = TextOps.bpeTokens)
      .withColumn("n_bpe", TextOps.bpeTokenCount(col("text")))
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("n_bpe")).toMap
    // 6 + 3 + 4 = 13 subwords -> chunks of 5, 5, 3
    assert(chunks == Map(0L -> 5, 1L -> 5, 2L -> 3), s"got $chunks")
    graft.CacheScope.release()
  }

  test("packChunkPieces: vocab hits stay whole, OOV words split to 2-char pieces, conservation holds") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "hello world xyzzy"),  // hello/world in vocab; xyzzy OOV -> xy zz y
      (2L, "hello hello qwerty"), // qwerty OOV -> qw er ty
      (3L, "")).toDF("doc_id", "text")
    val vocab = Seq(("hello", Seq("hello")), ("world", Seq("wor", "ld")))
      .toDF("word", "pieces") // 'world' maps to TWO pieces — a real BPE shape
    val K = 4L
    val chunks = CurationOps.packChunkPieces(fixture, "doc_id", "text", vocab, K)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // piece stream in doc order:
    //   doc1: hello wor ld xy zz y   (6)
    //   doc2: hello hello qw er ty   (5)
    //   doc3: ""                     (1 empty piece)
    // chunks of 4: [hello wor ld xy] [zz y hello hello] [qw er ty ""]
    assert(chunks(0L) == "hello wor ld xy", chunks)
    assert(chunks(1L) == "zz y hello hello", chunks)
    assert(chunks(2L) == "qw er ty ", chunks) // trailing empty OOV piece of doc3
    // conservation: total pieces across chunks == total per-doc piece count
    val totalPieces = chunks.values.map(_.split(" ", -1).length).sum
    assert(totalPieces == 12, s"piece conservation broke: $totalPieces")
    graft.CacheScope.release()
  }

  test("tokenHistogram counts frequencies and doc frequencies exactly") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a b a c"),
      (2L, "a b b"),
      (3L, "c")).toDF("id", "text")
    val h = TextOps.tokenHistogram(fixture, "id", "text", 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a: 3 occurrences / 2 docs; b: 3 / 2; c: 2 / 2 — ties break by token
    assert(h.toSeq == Seq(("a", 3L, 2L), ("b", 3L, 2L), ("c", 2L, 2L)))
    // top-k cut respects the (freq desc, token) total order
    val top1 = TextOps.tokenHistogram(fixture, "id", "text", 1).collect()
    assert(top1.head.getString(0) == "a")
  }

  test("splitAssign: disjoint total partition, fraction-accurate, salt-independent draws") {
    val n = docs.count()
    val split = SampleOps.splitAssign(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // total: every row labeled, none dropped
    assert(split.count() == n && split.where(col("split").isNull).count() == 0)
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    // hash-uniformity: each share within a loose binomial band
    assert(math.abs(counts("train").toDouble / n - 0.8) < 0.1)
    // deterministic: rerun yields the identical assignment
    val again = SampleOps.splitAssign(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.select("doc_id", "split").except(
      again.select("doc_id", "split")).count() == 0)
    // a different salt draws a different partition (overwhelmingly)
    val salted = SampleOps.splitAssign(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s2")
    assert(split.select("doc_id", "split").except(
      salted.select("doc_id", "split")).count() > 0)
    // bad fractions fail loudly
    intercept[IllegalArgumentException] {
      SampleOps.splitAssign(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.2))
    }
  }

  test("splitAssignClustered: clusters land whole, singletons match splitAssign") {
    import spark.implicits._
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    // clusters of 3 over doc ids 0..299: component = id - id % 3
    val labels = docs.select(col("doc_id").as("id"),
      (col("doc_id") - col("doc_id") % 3).as("component"))
    val split = SampleOps.splitAssignClustered(docs, "doc_id", labels, fr)
    val n = docs.count()
    // disjoint + total survives the composition
    assert(split.count() == n && split.where(col("split").isNull).count() == 0)
    // every cluster is split-pure: one distinct split per component
    val impure = split.withColumn("c", col("doc_id") - col("doc_id") % 3)
      .groupBy("c").agg(countDistinct(col("split")).as("k"))
      .where(col("k") > 1).count()
    assert(impure == 0L)
    // a cluster's split == splitAssign of its component id; ids ABSENT from
    // the labels hash as their own singleton components
    val own = SampleOps.splitAssign(docs, "doc_id", fr)
      .select(col("doc_id"), col("split"))
    val viaEmpty = SampleOps.splitAssignClustered(docs, "doc_id",
      labels.limit(0), fr)
    assert(viaEmpty.select("doc_id", "split").except(own).count() == 0)
  }

  test("quantileKeep: exact per-group rank cut, ppm-integer threshold, frac=1 keeps all") {
    import spark.implicits._
    // 10 docs in one group with distinct scores 1..10
    val fixture = (1L to 10L).map(i => (i, i * 10L, "g")).toDF("id", "score", "grp")
    val kept = CurationOps.quantileKeep(fixture, "id", "score", "grp", 0.4)
      .select("id").as[Long].collect().toSet
    // ceil(10 * 0.4) = 4 — and NOT 5, the fp-ceil landmine
    assert(kept == Set(1L, 2L, 3L, 4L), s"got $kept")
    // ties broken by id: equal scores keep the smallest ids
    val tied = (1L to 10L).map(i => (i, 7L, "g")).toDF("id", "score", "grp")
    val keptTied = CurationOps.quantileKeep(tied, "id", "score", "grp", 0.3)
      .select("id").as[Long].collect().toSet
    assert(keptTied == Set(1L, 2L, 3L))
    // frac=1 keeps everything; groups are independent
    val two = ((1L to 4L).map(i => (i, i, "a")) ++ (5L to 7L).map(i => (i, i, "b")))
      .toDF("id", "score", "grp")
    assert(CurationOps.quantileKeep(two, "id", "score", "grp", 1.0).count() == 7)
    val perGroup = CurationOps.quantileKeep(two, "id", "score", "grp", 0.5)
      .groupBy("grp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ceil(4*0.5)=2, ceil(3*0.5)=2
    assert(perGroup == Map("a" -> 2L, "b" -> 2L))
  }

  test("quantileKeepLarge == quantileKeep; impossible margin fails loudly, not silently") {
    import spark.implicits._
    val exact = CurationOps.quantileKeep(docs, "doc_id", "n_chars", "lang", 0.4)
      .select("doc_id").as[Long].collect().toSet
    val large = CurationOps.quantileKeepLarge(docs, "doc_id", "n_chars", "lang", 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(large == exact, "pre-cut path must reproduce the exact cut")
    // ranks and group sizes survive the pre-cut unchanged too
    val fullRows = CurationOps.quantileKeepLarge(docs, "doc_id", "n_chars",
      "lang", 0.4).select("doc_id", "q_rank", "q_n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exactRows = CurationOps.quantileKeep(docs, "doc_id", "n_chars",
      "lang", 0.4).select("doc_id", "q_rank", "q_n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fullRows == exactRows)
    // margin <= 1 cannot cover the cut even with a perfect sketch — loud
    intercept[IllegalArgumentException] {
      CurationOps.quantileKeepLarge(docs, "doc_id", "n_chars", "lang",
        0.4, margin = 1.0)
    }
    graft.CacheScope.release()
  }

  test("quantileLabel: bands partition each group; boundaries agree with quantileKeep") {
    import spark.implicits._
    val fixture = (1L to 10L).map(i => (i, i * 10L, "g")).toDF("id", "score", "grp")
    val labeled = CurationOps.quantileLabel(fixture, "id", "score", "grp",
      Seq("head" -> 0.2, "middle" -> 0.3, "tail" -> 0.5)).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("band")).toMap
    // ceil(10*0.2)=2, cumulative ceil(10*0.5)=5, rest tail
    assert(labeled == Map(1L -> "head", 2L -> "head", 3L -> "middle",
      4L -> "middle", 5L -> "middle", 6L -> "tail", 7L -> "tail",
      8L -> "tail", 9L -> "tail", 10L -> "tail"), s"got $labeled")
    // the head∪middle prefix == quantileKeep at the same cumulative frac
    val kept = CurationOps.quantileKeep(docs, "doc_id", "n_chars", "lang", 0.5)
      .select("doc_id").as[Long].collect().toSet
    val headMid = CurationOps.quantileLabel(docs, "doc_id", "n_chars", "lang",
      Seq("head" -> 0.1, "middle" -> 0.4, "tail" -> 0.5))
      .where(col("band") =!= "tail")
      .select("doc_id").as[Long].collect().toSet
    assert(headMid == kept, "band prefix must equal the equivalent cut")
    // fractions not summing to 1 fail loudly
    intercept[IllegalArgumentException] {
      CurationOps.quantileLabel(fixture, "id", "score", "grp",
        Seq("a" -> 0.5, "b" -> 0.2))
    }
  }

  test("lengthBucketBatches: caps respected, padding arithmetic exact, over-cap docs dropped") {
    import spark.implicits._
    // tokens: 3,3,3,3,3 in bucket 4; 10 in bucket 16; 100 over the cap
    val fixture = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"), (4L, "a b c"), (5L, "a b c"),
      (6L, Seq.fill(10)("t").mkString(" ")),
      (7L, Seq.fill(100)("t").mkString(" "))).toDF("id", "text")
    val batches = CurationOps.lengthBucketBatches(fixture, "id", "text",
      boundaries = Seq(4L, 16L), batchDocs = 2, shards = 1)
    val rows = batches.collect().map(r => (r.getLong(0), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // doc 7 (100 tokens) dropped; 5 docs in bucket 4 -> batches of 2,2,1
    assert(rows.map(_._3).sum == 6, s"got $rows")
    assert(rows.forall { case (_, _, nd, mx, sm, pad) =>
      nd <= 2 && pad == nd * mx - sm && pad >= 0 })
    val b4 = rows.filter(_._1 == 4L).sortBy(_._2)
    assert(b4.map(_._3).toSeq == Seq(2L, 2L, 1L))
    // all bucket-4 docs are 3 tokens -> zero padding; singleton batch too
    assert(b4.forall(_._6 == 0L))
    // sharding partitions the batch space, never loses docs
    val sharded = CurationOps.lengthBucketBatches(fixture, "id", "text",
      boundaries = Seq(4L, 16L), batchDocs = 2, shards = 4)
    assert(sharded.agg(sum("n_docs")).head.getLong(0) == 6)
    // the assignment view is the stats' pre-image: same admitted docs,
    // same batch keys, batch sizes within batchDocs
    val assign = CurationOps.lengthBucketAssign(fixture, "id", "text",
      boundaries = Seq(4L, 16L), batchDocs = 2, shards = 1)
    assert(assign.count() == 6)
    assert(assign.groupBy("bucket", "shard", "batch").count()
      .collect().forall(_.getLong(3) <= 2))
    assert(assign.select("id").except(fixture.where(col("id") =!= 7L)
      .select("id")).count() == 0)
    intercept[IllegalArgumentException] {
      CurationOps.lengthBucketBatches(fixture, "id", "text", Seq(16L, 4L), 2)
    }
  }

  test("sq8TopK: exact-rescored candidates reach high recall vs brute force") {
    val queries = emb.where(col("vec_id") < 10)
    val exact = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = SimilarityOps.sq8TopK(emb, queries, "vec_id", "embedding", 10,
      candFactor = 8)
    val got = sq8.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // shape: k dense ranks per query, self excluded, cosines in range
    val full = sq8.collect()
    assert(full.length == 100)
    assert(full.forall(r => r.getLong(0) != r.getLong(1)))
    assert(full.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-12))
    // recall: int8 candidates + exact rescore recover nearly all true top-10
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.9, s"sq8 recall $recall below 0.9")
    graft.CacheScope.release()
  }

  test("sq8 persisted index: probe == in-memory; append under stored scale; dim mismatch loud") {
    import spark.implicits._
    val path = s"${Fixtures.tmpRoot}/sq8_spec_index"
    val queries = emb.where(col("vec_id") < 10)
    SimilarityOps.buildSq8Index(emb, "vec_id", "embedding", path)
    val probed = SimilarityOps.sq8TopKIndexed(emb, queries,
      "vec_id", "embedding", path, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mem = SimilarityOps.sq8TopK(emb, queries,
      "vec_id", "embedding", 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probed == mem, "persisted probe must equal the in-memory search")
    // append path: split so the base holds the global max-abs coordinate
    // (precondition asserted), then base-build + append == full build
    val base = emb.where(col("vec_id") >= 10)
    val delta = emb.where(col("vec_id") < 10)
    def gmax(df: org.apache.spark.sql.DataFrame): Long = {
      val perRow = "aggregate(embedding, 0L, " +
        "(m, x) -> greatest(m, abs(CAST(floor(x * 1000000) AS BIGINT))))"
      df.select(max(expr(perRow))).head().getLong(0)
    }
    assert(gmax(base) == gmax(emb), "fixture precondition: base holds gmax")
    val path2 = s"${Fixtures.tmpRoot}/sq8_spec_append"
    SimilarityOps.buildSq8Index(base, "vec_id", "embedding", path2)
    SimilarityOps.appendSq8Index(delta, "vec_id", "embedding", path2, "b1")
    val appended = SimilarityOps.sq8TopKIndexed(emb, queries,
      "vec_id", "embedding", path2, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(appended == mem, "append under the stored scale must match a full build")
    // replayed append overwrites itself (idempotent batch dir)
    SimilarityOps.appendSq8Index(delta, "vec_id", "embedding", path2, "b1")
    assert(SimilarityOps.sq8TopKIndexed(emb, queries,
      "vec_id", "embedding", path2, 10).count() == 100)
    // dimension mismatch fails loudly
    val badDim = Seq((9999L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      SimilarityOps.appendSq8Index(badDim, "vec_id", "embedding", path2, "b2")
    }
    graft.CacheScope.release()
  }

  test("sq8 index guards: duplicate-id append and empty builds fail loudly") {
    import spark.implicits._
    val path = s"${Fixtures.tmpRoot}/sq8_spec_guards"
    val base = emb.where(col("vec_id") >= 10)
    SimilarityOps.buildSq8Index(base, "vec_id", "embedding", path)
    // re-appending ids already in the index under a NEW token corrupts
    // top-k (duplicate candidate rows) — rejected before anything lands
    val dup = emb.where(col("vec_id") >= 10 && col("vec_id") < 12)
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.appendSq8Index(dup, "vec_id", "embedding", path, "b9")
    }
    assert(ex.getMessage.contains("already present"), ex.getMessage)
    assert(!new java.io.File(s"$path/codes/batch=b9").exists(),
      "rejected append must not land a batch dir")
    // disjoint ids under a new token still append fine
    SimilarityOps.appendSq8Index(emb.where(col("vec_id") < 10),
      "vec_id", "embedding", path, "b10")
    // empty corpus: no scale to derive — build throws instead of writing
    // a zero-row meta that probes would silently return nothing against
    intercept[IllegalArgumentException] {
      SimilarityOps.buildSq8Index(emb.where(col("vec_id") < 0),
        "vec_id", "embedding", s"${Fixtures.tmpRoot}/sq8_spec_empty")
    }
    // an empty meta (corrupt/hand-built index) probes loudly too
    val badPath = s"${Fixtures.tmpRoot}/sq8_spec_badmeta"
    emb.limit(1).select(lit(1L).as("gmax"), lit(8).as("dim"))
      .where(lit(false)).write.mode("overwrite").parquet(s"$badPath/meta")
    emb.limit(0).select(col("vec_id").as("id"),
        array().cast("array<int>").as("c8"))
      .write.mode("overwrite").parquet(s"$badPath/codes/batch=base")
    intercept[IllegalArgumentException] {
      SimilarityOps.sq8TopKIndexed(emb, emb.where(col("vec_id") < 3),
        "vec_id", "embedding", badPath, 5).collect()
    }
    graft.CacheScope.release()
  }

  test("pqTopK: dense ranks, exact rescored cosines, reasonable recall vs brute force") {
    val queries = emb.where(col("vec_id") < 10)
    val exact = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val pq = SimilarityOps.pqTopK(emb, queries, "vec_id", "embedding", 10,
      m = 4, ksub = 8, refineIters = 1, candFactor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // shape: 10 dense ranks per query, self excluded
    assert(pq.length == 100)
    assert(pq.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._3).sorted.toSeq == (1L to 10L) })
    assert(pq.forall { case (q, n, _, _) => q != n })
    // stage-2 cosines are EXACT: every returned pair must score identically
    // to the brute-force path (quantized-fixed-point contract)
    val bruteAll = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 499)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pq.forall { case (q, n, _, c) => bruteAll((q, n)) == c })
    // recall@10 vs brute force: PQ at 64->4x3-bit codes is coarse, but the
    // exact rescore over 80 candidates should recover well over half
    val hits = pq.count { case (q, n, _, _) => exact.contains((q, n)) }
    assert(hits >= 50, s"recall@10 too low: $hits/100")
    graft.CacheScope.release()
  }

  test("ivfPqTopK: probe-everything == pqTopK; pruned probe keeps recall; shape sane") {
    val queries = emb.where(col("vec_id") < 10)
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList
    // nProbe == nCells probes every cell: the candidate pool equals the
    // full-corpus PQ scan, so the composition must reproduce pqTopK exactly
    val all = key(SimilarityOps.ivfPqTopK(emb, queries, "vec_id", "embedding",
      10, nCells = 16, nProbe = 16, m = 4, ksub = 8, candFactor = 4))
    val pq = key(SimilarityOps.pqTopK(emb, queries, "vec_id", "embedding", 10,
      m = 4, ksub = 8, refineIters = 1, candFactor = 4))
    assert(all == pq)
    // the pruned default (4/16 cells): dense ranks, self excluded, exact
    // rescored cosines, and recall against the unpruned PQ answer holds
    val pruned = key(SimilarityOps.ivfPqTopK(emb, queries, "vec_id", "embedding", 10))
    assert(pruned.length == 100)
    assert(pruned.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._3).sorted.toSeq == (1L to 10L) })
    val bruteAll = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 499)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pruned.forall { case (q, n, _, c) => q != n && bruteAll((q, n)) == c })
    val hits = pruned.map(t => (t._1, t._2)).toSet
      .intersect(pq.map(t => (t._1, t._2)).toSet).size
    assert(hits >= 50, s"cell pruning lost too much vs full PQ scan: $hits/100")
    graft.CacheScope.release()
  }

  test("pq persisted index: probe == in-memory; append encodes under frozen codebooks; guards loud") {
    import spark.implicits._
    val path = s"${Fixtures.tmpRoot}/pq_spec_index"
    val queries = emb.where(col("vec_id") < 10)
    SimilarityOps.buildPqIndex(emb, "vec_id", "embedding", path,
      m = 4, ksub = 8, refineIters = 1)
    val probed = SimilarityOps.pqTopKIndexed(emb, queries,
      "vec_id", "embedding", path, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mem = SimilarityOps.pqTopK(emb, queries, "vec_id", "embedding", 10,
      m = 4, ksub = 8, refineIters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probed == mem, "persisted probe must equal the in-memory search")
    // append: delta vectors encode under the FROZEN base codebooks and
    // appear as neighbors after the append
    val path2 = s"${Fixtures.tmpRoot}/pq_spec_append"
    val base = emb.where(col("vec_id") >= 20)
    val delta = emb.where(col("vec_id") < 20)
    SimilarityOps.buildPqIndex(base, "vec_id", "embedding", path2,
      m = 4, ksub = 8, refineIters = 1)
    SimilarityOps.appendPqIndex(delta, "vec_id", "embedding", path2, "b1")
    val appended = SimilarityOps.pqTopKIndexed(emb, queries,
      "vec_id", "embedding", path2, 10)
    assert(appended.count() == 100)
    assert(appended.where(col("neighbor_id") < 20).count() > 0,
      "appended vectors must be searchable")
    // replayed append token overwrites its dir (idempotent)
    SimilarityOps.appendPqIndex(delta, "vec_id", "embedding", path2, "b1")
    assert(SimilarityOps.pqTopKIndexed(emb, queries,
      "vec_id", "embedding", path2, 10).count() == 100)
    // duplicate-id append under a NEW token is rejected before landing
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.appendPqIndex(emb.where(col("vec_id") < 2),
        "vec_id", "embedding", path2, "b9")
    }
    assert(ex.getMessage.contains("already present"), ex.getMessage)
    assert(!new java.io.File(s"$path2/codes/batch=b9").exists())
    // dimension mismatch fails loudly
    intercept[IllegalArgumentException] {
      SimilarityOps.appendPqIndex(
        Seq((9999L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", path2, "b10")
    }
    // dim not divisible by m fails loudly at build
    intercept[Exception] {
      SimilarityOps.buildPqIndex(
        Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"${Fixtures.tmpRoot}/pq_spec_ragged", m = 4)
    }
    // empty corpus build fails loudly
    intercept[IllegalArgumentException] {
      SimilarityOps.buildPqIndex(emb.where(col("vec_id") < 0),
        "vec_id", "embedding", s"${Fixtures.tmpRoot}/pq_spec_empty")
    }
    graft.CacheScope.release()
  }

  test("pq recall-drift probe detects stale codebooks; retrain-compaction == fresh build") {
    val src = s"${Fixtures.tmpRoot}/pq_drift_src"
    val base = emb.where(col("vec_id") < 300).select(col("vec_id"), col("embedding"))
    SimilarityOps.buildPqIndex(base, "vec_id", "embedding", src,
      m = 4, ksub = 8, refineIters = 1)
    val fresh = SimilarityOps.pqRecallProbe(base,
      base.where(col("vec_id") < 15), "vec_id", "embedding", src, 10).head()
    val freshPpm = fresh.getAs[Long]("recall_ppm")
    assert(fresh.getAs[Long]("n_queries") == 15 &&
      fresh.getAs[Long]("possible") == 150)
    // appended mass far from the trained distribution: the same manifold
    // NEGATED — base sub-codebooks have no centroids near it, so its codes
    // collapse and ADC stops discriminating among drifted vectors
    val drifted = emb.where(col("vec_id") >= 300 && col("vec_id") < 600)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(-1.0f)).as("embedding"))
    SimilarityOps.appendPqIndex(drifted, "vec_id", "embedding", src, "b1")
    val full = base.unionByName(drifted)
    val driftQ = drifted.where(col("vec_id") < 100315L) // 15 drifted queries
    val driftRow = SimilarityOps.pqRecallProbe(full, driftQ,
      "vec_id", "embedding", src, 10).head()
    val driftPpm = driftRow.getAs[Long]("recall_ppm")
    assert(driftPpm < freshPpm,
      s"drift must sag the probe: fresh=$freshPpm drifted=$driftPpm")
    // retrain-compaction: fresh codebooks over the store's CURRENT ids ==
    // a fresh build over the same corpus slice, probe-for-probe
    val dst = s"${Fixtures.tmpRoot}/pq_drift_retrained"
    SimilarityOps.compactPqIndexRetrain(full, "vec_id", "embedding", src, dst)
    val ref = s"${Fixtures.tmpRoot}/pq_drift_freshbuild"
    SimilarityOps.buildPqIndex(full, "vec_id", "embedding", ref,
      m = 4, ksub = 8, refineIters = 1)
    def probe(p: String) = SimilarityOps.pqTopKIndexed(full, driftQ,
        "vec_id", "embedding", p, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe(dst) == probe(ref),
      "retrained compaction must probe exactly like a fresh build")
    val retrainPpm = SimilarityOps.pqRecallProbe(full, driftQ,
      "vec_id", "embedding", dst, 10).head().getAs[Long]("recall_ppm")
    assert(retrainPpm > driftPpm,
      s"retrain must recover recall: drifted=$driftPpm retrained=$retrainPpm")
    // a corpus that lost stored ids cannot retrain — loud refusal
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.compactPqIndexRetrain(base, "vec_id", "embedding",
        src, s"${Fixtures.tmpRoot}/pq_drift_bad")
    }
    assert(ex.getMessage.contains("must still resolve"), ex.getMessage)
    graft.CacheScope.release()
  }

  test("ivf and ivfpq recall probes: integer-exact report, recall monotone in cell coverage") {
    val base = emb.where(col("vec_id") < 400).select(col("vec_id"), col("embedding"))
    val qs = base.where(col("vec_id") < 10)
    val ivfPath = s"${Fixtures.tmpRoot}/ivf_recall_spec"
    SimilarityOps.buildIvfIndex(base, "vec_id", "embedding", ivfPath, nCells = 16)
    def probeIvf(nProbe: Int) = SimilarityOps.ivfRecallProbe(
      base, qs, "vec_id", "embedding", ivfPath, 10, nProbe).head()
    val narrow = probeIvf(1); val wide = probeIvf(16)
    assert(narrow.getAs[Long]("n_queries") == 10 &&
      narrow.getAs[Long]("possible") == 100)
    // probing EVERY cell is exhaustive search — exact recall by definition
    assert(wide.getAs[Long]("recall_ppm") == 1000000L,
      s"all-cell probe must be exact, got ${wide.getAs[Long]("recall_ppm")}")
    assert(narrow.getAs[Long]("recall_ppm") <= wide.getAs[Long]("recall_ppm"))
    val ivfpqPath = s"${Fixtures.tmpRoot}/ivfpq_recall_spec"
    SimilarityOps.buildIvfPqIndex(base, "vec_id", "embedding", ivfpqPath,
      nCells = 16, m = 4, ksub = 8)
    val pq = SimilarityOps.ivfPqRecallProbe(
      base, qs, "vec_id", "embedding", ivfpqPath, 10).head()
    assert(pq.getAs[Long]("n_queries") == 10 && pq.getAs[Long]("possible") == 100)
    assert(pq.getAs[Long]("hits") > 0 && pq.getAs[Long]("recall_ppm") <= 1000000L)
    graft.CacheScope.release()
  }

  test("ivfpq persisted index: probe == in-memory; cell-pruned scan; append under frozen everything") {
    val path = s"${Fixtures.tmpRoot}/ivfpq_spec_index"
    val queries = emb.where(col("vec_id") < 10)
    SimilarityOps.buildIvfPqIndex(emb, "vec_id", "embedding", path)
    val probe = SimilarityOps.ivfPqTopKIndexed(emb, queries,
      "vec_id", "embedding", path, 10)
    val probed = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList.sorted
    val mem = SimilarityOps.ivfPqTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList.sorted
    assert(probed == mem, "persisted probe must equal the in-memory composition")
    // the code scan is partition-pruned to the probed cells' dirs: the
    // formatted plan's code-store scan carries cell partition filters
    val planStr = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val codeScan = planStr.linesIterator
      .dropWhile(l => !(l.contains("Location:") && l.contains("ivfpq_spec_index/codes")))
      .take(6).mkString("\n")
    assert(codeScan.contains("PartitionFilters") && codeScan.contains("cell"),
      s"code scan must be partition-filtered on cell, got:\n$codeScan\n$planStr")
    // append: new vectors assign to frozen cells + encode under frozen
    // codebooks, then surface in probes; replay idempotent; clash loud
    val path2 = s"${Fixtures.tmpRoot}/ivfpq_spec_append"
    SimilarityOps.buildIvfPqIndex(emb.where(col("vec_id") >= 20),
      "vec_id", "embedding", path2)
    SimilarityOps.appendIvfPqIndex(emb.where(col("vec_id") < 20),
      "vec_id", "embedding", path2, "b1")
    val appended = SimilarityOps.ivfPqTopKIndexed(emb, queries,
      "vec_id", "embedding", path2, 10)
    assert(appended.count() == 100)
    assert(appended.where(col("neighbor_id") < 20).count() > 0,
      "appended vectors must be searchable")
    SimilarityOps.appendIvfPqIndex(emb.where(col("vec_id") < 20),
      "vec_id", "embedding", path2, "b1")
    assert(SimilarityOps.ivfPqTopKIndexed(emb, queries,
      "vec_id", "embedding", path2, 10).count() == 100)
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.appendIvfPqIndex(emb.where(col("vec_id") < 2),
        "vec_id", "embedding", path2, "b9")
    }
    assert(ex.getMessage.contains("already present"), ex.getMessage)
    // compaction collapses the batch dirs, KEEPS the cell partitioning,
    // and preserves the probe answer exactly
    val path2c = s"${Fixtures.tmpRoot}/ivfpq_spec_compact"
    SimilarityOps.compactIvfPqIndex(spark, path2, path2c)
    val beforeC = SimilarityOps.ivfPqTopKIndexed(emb, queries,
      "vec_id", "embedding", path2, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val afterC = SimilarityOps.ivfPqTopKIndexed(emb, queries,
      "vec_id", "embedding", path2c, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(afterC == beforeC, "compaction must preserve the probe answer")
    val batchDirs = new java.io.File(s"$path2c/codes").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(batchDirs.toSeq == Seq("batch=base"))
    assert(new java.io.File(s"$path2c/codes/batch=base").listFiles()
      .exists(_.getName.startsWith("cell=")),
      "compacted codes must keep the cell= hive layout")
    graft.CacheScope.release()
  }

  test("cluster store: 3-batch incremental maintenance == one-shot CC; replay-safe") {
    import spark.implicits._
    // deterministic graph: 3 chains that only fully connect across batches
    def edges(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong, (i.toLong * 31 + 7) % 60)
    }
    val all = edges(0, 60)
    val path = s"${Fixtures.tmpRoot}/ccstore_spec"
    DedupOps.buildClusterStore(edges(0, 20).toDF("a", "b"), "a", "b", path)
    DedupOps.updateClusterStore(edges(20, 40).toDF("a", "b"), "a", "b", path, "b1")
    DedupOps.updateClusterStore(edges(40, 60).toDF("a", "b"), "a", "b", path, "b2")
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = labelSet(DedupOps.connectedComponents(all.toDF("a", "b"), "a", "b"))
    assert(labelSet(DedupOps.loadClusterLabels(spark, path)) == oneShot)
    // replay of the LAST batch (crash-retry) converges to the same view
    DedupOps.updateClusterStore(edges(40, 60).toDF("a", "b"), "a", "b", path, "b2")
    assert(labelSet(DedupOps.loadClusterLabels(spark, path)) == oneShot)
    // 'base' is reserved
    val ex = intercept[IllegalArgumentException] {
      DedupOps.updateClusterStore(edges(0, 5).toDF("a", "b"), "a", "b", path, "base")
    }
    assert(ex.getMessage.contains("reserved"))
    // compaction resolves the latest-wins view (NOT a disjoint-id union),
    // preserves it exactly, and collapses to one base batch; further
    // updates on the compacted store still work
    val cPath = s"${Fixtures.tmpRoot}/ccstore_spec_compact"
    DedupOps.compactClusterStore(spark, path, cPath)
    assert(labelSet(DedupOps.loadClusterLabels(spark, cPath)) == oneShot)
    assert(spark.read.parquet(cPath).select("batch").distinct().count() == 1)
    DedupOps.updateClusterStore(edges(0, 60).toDF("a", "b"), "a", "b", cPath, "b3")
    assert(labelSet(DedupOps.loadClusterLabels(spark, cPath)) == oneShot)
    // keep-best over the STORE's labels == keep-best over the raw pairs
    import org.apache.spark.sql.functions.{col => c}
    val docs = (0L until 60L).map(i => (i, i * 13 % 47)).toDF("doc_id", "score")
    val fromPairs = DedupOps.clusterKeepBest(docs, "doc_id", "score",
      all.toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val fromStore = DedupOps.clusterKeepBestFromLabels(docs, "doc_id", "score",
      DedupOps.loadClusterLabels(spark, cPath))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(fromStore == fromPairs)
  }

  test("suggestBinWidth returns the median interval length") {
    import spark.implicits._
    val ivl = Seq((0L, 10L), (0L, 20L), (0L, 30L), (0L, 40L), (0L, 50L))
      .toDF("s", "e")
    assert(RangeJoinOps.suggestBinWidth(ivl, "s", "e") == 30L)
    // empty interval side degrades to 1, never 0
    assert(RangeJoinOps.suggestBinWidth(ivl.limit(0), "s", "e") == 1L)
  }

  test("clusterKeepBest: max score wins, ties to min id, null scores lose, singletons keep") {
    import spark.implicits._
    val d = Seq(
      (1L, Some(10L)), (2L, Some(30L)), (3L, Some(30L)), // cluster A: tie 2 vs 3
      (4L, None), (5L, Some(1L)),                        // cluster B: null loses
      (6L, None), (7L, None),                            // cluster C: all-null -> min id
      (8L, Some(99L))                                    // singleton
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L)).toDF("a", "b")
    val got = DedupOps.clusterKeepBest(d, "doc_id", "score", pairs, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set(
      (1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (4L, 4L, false), (5L, 4L, true),
      (6L, 6L, true), (7L, 6L, false),
      (8L, 8L, true)))
  }

  test("bloomProbeExactDedup == plain store probe; stale bloom refuses to run") {
    val store = s"${Fixtures.tmpRoot}/bloom_spec_store"
    DedupOps.buildFingerprintStore(docs.where(col("doc_id") < 250),
      "doc_id", "text", store)
    DedupOps.buildFingerprintBloom(spark, store)
    val batch = docs.where(col("doc_id") >= 250)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val plain = rows(DedupOps.incrementalExactDedup(batch, "doc_id", "text", store))
    val bloom = rows(DedupOps.bloomProbeExactDedup(batch, "doc_id", "text", store))
    assert(plain.nonEmpty)
    assert(bloom == plain, "bloom path must be exactly the plain probe's answer")
    // appending after the bloom build makes the sketch stale -> loud refusal
    DedupOps.appendFingerprintStore(batch, "doc_id", "text", store, "b2")
    val ex = intercept[IllegalArgumentException] {
      DedupOps.bloomProbeExactDedup(batch, "doc_id", "text", store)
    }
    assert(ex.getMessage.contains("STALE"), ex.getMessage)
    // rebuild over both batches -> probing works again and still equals
    // the plain probe over the grown store
    DedupOps.buildFingerprintBloom(spark, store)
    val plain2 = rows(DedupOps.incrementalExactDedup(batch, "doc_id", "text", store))
    assert(rows(DedupOps.bloomProbeExactDedup(batch, "doc_id", "text", store)) == plain2)
  }

  test("clusterBalancedSample: per-cell quota, contiguous ranks, salt independence") {
    val got = SimilarityOps.clusterBalancedSample(emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.map(_._1).distinct.length == got.length, "no id sampled twice")
    got.groupBy(_._2).foreach { case (cell, rows) =>
      val ranks = rows.map(_._3).sorted
      assert(ranks.length <= 3 && ranks.sameElements(1L to ranks.length),
        s"cell $cell ranks must be a contiguous quota prefix, got ${ranks.toList}")
    }
    // a different salt keeps the same per-cell counts (assignment is
    // salt-independent) but draws a different slot order
    val salted = SimilarityOps.clusterBalancedSample(emb, "vec_id", "embedding", 3,
      salt = "resample")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(salted.groupBy(_._2).view.mapValues(_.length).toMap ==
      got.groupBy(_._2).view.mapValues(_.length).toMap)
    assert(salted.map(_._1).toSet != got.map(_._1).toSet,
      "re-salting should draw a different sample on this fixture")
  }

  test("sharded bloom probe == plain probe; stale shards refuse; meta pins shard count") {
    val store = s"${Fixtures.tmpRoot}/bloomsh_spec_store"
    DedupOps.buildFingerprintStore(docs.where(col("doc_id") < 250),
      "doc_id", "text", store)
    DedupOps.buildShardedFingerprintBloom(spark, store, shards = 4)
    val batch = docs.where(col("doc_id") >= 250)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val plain = rows(DedupOps.incrementalExactDedup(batch, "doc_id", "text", store))
    val sharded = rows(DedupOps.shardedBloomProbeExactDedup(batch, "doc_id", "text", store))
    assert(plain.nonEmpty)
    assert(sharded == plain)
    // all 4 shard sketches exist on disk
    assert((0 until 4).forall(s =>
      new java.io.File(s"$store/_bloomshards/shard=$s/sketch.bin").exists()))
    DedupOps.appendFingerprintStore(batch, "doc_id", "text", store, "b2")
    val ex = intercept[IllegalArgumentException] {
      DedupOps.shardedBloomProbeExactDedup(batch, "doc_id", "text", store)
    }
    assert(ex.getMessage.contains("STALE"), ex.getMessage)
    DedupOps.buildShardedFingerprintBloom(spark, store, shards = 4)
    val plain2 = rows(DedupOps.incrementalExactDedup(batch, "doc_id", "text", store))
    assert(rows(DedupOps.shardedBloomProbeExactDedup(batch, "doc_id", "text", store)) == plain2)
    graft.CacheScope.release()
  }

  test("rangeJoin == brute-force inequality join, keyed and keyless") {
    val ev = Tables.events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("cid"), col("ts").as("ct"))
    val wins = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ts").as("ws"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("we"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("cid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(clicks.join(wins, Seq("user_id"))
      .where(col("ct") >= col("ws") && col("ct") <= col("we")))
    assert(brute.nonEmpty, "fixture should produce matches")
    // keyed, across several bin widths (boundary-crossing windows included)
    for (w <- Seq(60L * 1000000, 30L * 60 * 1000000, 7L * 3600 * 1000000)) {
      val got = pairs(RangeJoinOps.rangeJoin(clicks, "ct", wins, "ws", "we",
        binWidth = w, keys = Seq("user_id")))
      assert(got == brute, s"binWidth=$w")
    }
    // keyless: same windows, key dropped from both sides
    val bruteG = pairs(clicks.drop("user_id").crossJoin(wins.drop("user_id"))
      .where(col("ct") >= col("ws") && col("ct") <= col("we")))
    val gotG = pairs(RangeJoinOps.rangeJoin(clicks.drop("user_id"), "ct",
      wins.drop("user_id"), "ws", "we", binWidth = 30L * 60 * 1000000))
    assert(gotG == bruteG)
    // forced shuffle path (broadcast bound 0) is identical
    val gotS = pairs(RangeJoinOps.rangeJoin(clicks, "ct", wins, "ws", "we",
      binWidth = 30L * 60 * 1000000, keys = Seq("user_id"),
      broadcastMaxExplodedRows = 0))
    assert(gotS == brute)
  }

  test("rangeJoin guards: reversed bounds, bin explosion, shared columns; negative integral axis") {
    import spark.implicits._
    val pts = Seq((1L, -7L), (2L, -3L), (3L, 4L)).toDF("pid", "t")
    val ivl = Seq((10L, -8L, -2L), (11L, 0L, 5L)).toDF("iid", "s", "e")
    // negative axis values bin correctly (floor, not truncate-toward-zero)
    val got = RangeJoinOps.rangeJoin(pts, "t", ivl, "s", "e", binWidth = 3)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 10L), (3L, 11L)))
    val rev = intercept[IllegalArgumentException] {
      RangeJoinOps.rangeJoin(pts, "t",
        Seq((9L, 5L, 1L)).toDF("iid", "s", "e"), "s", "e", binWidth = 3).count()
    }
    assert(rev.getMessage.contains("reversed"), rev.getMessage)
    val boom = intercept[IllegalArgumentException] {
      RangeJoinOps.rangeJoin(pts, "t",
        Seq((9L, 0L, 100000L)).toDF("iid", "s", "e"), "s", "e",
        binWidth = 1, maxBinsPerInterval = 16).count()
    }
    assert(boom.getMessage.contains("raise binWidth"), boom.getMessage)
    val shared = intercept[IllegalArgumentException] {
      RangeJoinOps.rangeJoin(pts, "t",
        Seq((9L, 0L, 1L)).toDF("pid", "s", "e"), "s", "e", binWidth = 3).count()
    }
    assert(shared.getMessage.contains("rename one side"), shared.getMessage)
  }

  test("canonicalizeUrl: scheme/www/case/port/tracking/fragment edges") {
    import spark.implicits._
    val cases = Seq(
      // (input, canonical, host)
      ("HTTPS://WWW.Example.COM:443/A/b/?utm_source=x&id=2#frag",
        "example.com/A/b?id=2", "example.com"),
      ("http://example.com:80/", "example.com", "example.com"),
      ("example.com/path/", "example.com/path", "example.com"),     // scheme-less
      ("https://sub.Example.com:8080/p", "sub.example.com:8080/p",  // non-default port KEPT
        "sub.example.com"),                                         // ...but host drops it
      ("https://example.com/?utm_a=1&utm_b=2&gclid=g", "example.com", "example.com"),
      ("https://example.com/p?ref=abc&id=1&fbclid=f", "example.com/p?id=1", "example.com"),
      ("  https://example.com/CaseSensitive/Path  ",
        "example.com/CaseSensitive/Path", "example.com"),           // path case preserved
      // tracking match is anchored to a ?/& boundary: params merely ENDING
      // in "ref" survive untouched (the old unanchored pattern mangled
      // '?xref=a&id=1' into '?xid=1')
      ("https://example.com/p?xref=a&id=1",
        "example.com/p?xref=a&id=1", "example.com"),
      ("https://example.com/p?href=h&pref=p&id=1",
        "example.com/p?href=h&pref=p&id=1", "example.com"),
      // adjacent tracking params ALL strip (the re-emitted separator keeps
      // the next one anchored; the ?&&-run collapse cleans up after)
      ("https://example.com/?utm_a=1&utm_b=2&utm_c=3&id=9",
        "example.com?id=9", "example.com"),
      // tracking param mid-list leaves no double separator behind
      ("https://example.com/p?id=1&utm_x=9&y=2",
        "example.com/p?id=1&y=2", "example.com"),
      // the /+? collapse is GLOBAL (a later literal '?' in a query value
      // collapses too — pinned so the DuckDB oracle's 'g' flag stays in
      // lockstep with Spark's replace-all)
      ("https://example.com/a/?x=/b/?y", "example.com/a?x=/b?y", "example.com"),
      ("", "", ""))
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalizeUrl(col("url")).as("c"),
        TextOps.urlHost(col("url")).as("h"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    cases.zip(got).foreach { case ((in, wantC, wantH), (gotC, gotH)) =>
      assert(gotC == wantC, s"canon('$in') = '$gotC', want '$wantC'")
      assert(gotH == wantH, s"host('$in') = '$gotH', want '$wantH'")
    }
    // null canonicalizes to '' (module convention), and urlDedupMap groups
    // scheme/tracking variants under the min id
    val d = Seq((1L, "https://www.A.com/x?utm_s=1"), (2L, "http://a.com/x"),
      (3L, "a.com/y")).toDF("id", "url")
    val m = DedupOps.urlDedupMap(d, "id", "url").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(m == Set((1L, "a.com/x", 1L), (2L, "a.com/x", 1L), (3L, "a.com/y", 3L)))
  }

  test("minhash banded store layout: probes equal legacy layout bit-exactly") {
    val base = docs.where(col("doc_id") < 125)
    val delta = docs.where(col("doc_id") >= 125 && col("doc_id") < 250)
    val probeDocs = docs.where(col("doc_id") >= 250)
    val p1 = tmpDir("mh_banded") + "/store"
    DedupOps.buildMinhashStore(base, "doc_id", "text", p1)
    DedupOps.appendMinhashStore(delta, "doc_id", "text", p1, batchToken = "b2")
    assert(spark.read.parquet(p1).columns.contains("bands_32x4"),
      "new stores must materialize the default banding's buckets")
    // materialized buckets must equal the sliced-signature buckets exactly
    val st = spark.read.parquet(p1)
    val mismatch = st.select(col("id"), col("bands_32x4"),
        org.apache.spark.sql.functions.transform(
          sequence(lit(0), lit(31)),
          b => xxhash64(b, slice(col("sig"), b * 4 + 1, lit(4)))).as("recomputed"))
      .where(col("bands_32x4") =!= col("recomputed")).limit(1).collect()
    assert(mismatch.isEmpty, s"materialized band buckets drifted: ${mismatch.toSeq}")
    // legacy twin: same batches with the band column stripped
    val p2 = tmpDir("mh_legacy") + "/store"
    Seq("base", "b2").foreach { tok =>
      spark.read.parquet(s"$p1/batch=$tok").drop("bands_32x4")
        .write.mode("overwrite").parquet(s"$p2/batch=$tok")
      StoreCommit.commit(spark, p2, tok)
    }
    def pairs(path: String) = DedupOps.incrementalNearDupPairs(
      probeDocs, "doc_id", "text", path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = pairs(p1)
    assert(banded == pairs(p2),
      "banded-layout probe must equal the legacy-layout probe")
    assert(banded.nonEmpty, "fixture sanity: the corpus plants near-dups")
    // an append to the LEGACY store must stay legacy-homogeneous (a mixed
    // store would null the column for old rows and drop them silently)
    DedupOps.appendMinhashStore(probeDocs, "doc_id", "text", p2, batchToken = "b3")
    assert(!spark.read.parquet(s"$p2/batch=b3").columns.contains("bands_32x4"),
      "append to a legacy store must not introduce the band column")
    DedupOps.appendMinhashStore(probeDocs, "doc_id", "text", p1, batchToken = "b3")
    val probe2 = docs.where(col("doc_id") >= 200 && col("doc_id") < 250)
    val after = DedupOps.incrementalNearDupPairs(
      probe2, "doc_id", "text", p1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == DedupOps.incrementalNearDupPairs(
      probe2, "doc_id", "text", p2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "mixed-history stores (built banded vs legacy) must still agree")
    graft.CacheScope.release()
  }

  test("simhash banded store layout: probes equal legacy layout bit-exactly") {
    val base = docs.where(col("doc_id") < 125)
    val delta = docs.where(col("doc_id") >= 125 && col("doc_id") < 250)
    val probeDocs = docs.where(col("doc_id") >= 250)
    val p1 = tmpDir("sh_banded") + "/store"
    DedupOps.buildSimhashStore(base, "doc_id", "text", p1)
    DedupOps.appendSimhashStore(delta, "doc_id", "text", p1, batchToken = "b2")
    val st = spark.read.parquet(p1)
    assert(st.columns.contains("blocks_h3") && st.columns.contains("h1") &&
      st.columns.contains("h2"),
      "new stores must materialize the default banding's buckets and halves")
    // materialized columns must equal the probe-side derivations exactly:
    // buckets = xxhash64(band, 16-char block), halves = conv of each
    // 32-bit half of the bit-string
    val bounds = (0 to 4).map(i => i * 64 / 4)
    val mismatch = st.select(col("id"), col("blocks_h3"), col("h1"), col("h2"),
        array((0 until 4).map(i => xxhash64(lit(i), substring(col("simhash"),
          bounds(i) + 1, bounds(i + 1) - bounds(i)))): _*).as("rb"),
        conv(substring(col("simhash"), 1, 32), 2, 10).cast("long").as("rh1"),
        conv(substring(col("simhash"), 33, 32), 2, 10).cast("long").as("rh2"))
      .where(col("blocks_h3") =!= col("rb") || col("h1") =!= col("rh1") ||
        col("h2") =!= col("rh2"))
      .limit(1).collect()
    assert(mismatch.isEmpty, s"materialized simhash layout drifted: ${mismatch.toSeq}")
    // legacy twin: same batches with the layout columns stripped
    val p2 = tmpDir("sh_legacy") + "/store"
    Seq("base", "b2").foreach { tok =>
      spark.read.parquet(s"$p1/batch=$tok").drop("blocks_h3", "h1", "h2")
        .write.mode("overwrite").parquet(s"$p2/batch=$tok")
      StoreCommit.commit(spark, p2, tok)
    }
    def pairs(path: String) = DedupOps.incrementalSimhashPairs(
      probeDocs, "doc_id", "text", path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = pairs(p1)
    assert(banded == pairs(p2),
      "banded-layout probe must equal the legacy-layout probe")
    // an append to the LEGACY store must stay legacy-homogeneous (a mixed
    // store would null the columns for old rows and drop them silently)
    DedupOps.appendSimhashStore(probeDocs, "doc_id", "text", p2, batchToken = "b3")
    assert(!spark.read.parquet(s"$p2/batch=b3").columns.contains("blocks_h3"),
      "append to a legacy store must not introduce the layout columns")
    DedupOps.appendSimhashStore(probeDocs, "doc_id", "text", p1, batchToken = "b3")
    val probe2 = docs.where(col("doc_id") >= 200 && col("doc_id") < 250)
    val after = DedupOps.incrementalSimhashPairs(
      probe2, "doc_id", "text", p1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == DedupOps.incrementalSimhashPairs(
      probe2, "doc_id", "text", p2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "mixed-history stores (built banded vs legacy) must still agree")
    // non-default maxHamming falls back to deriving blocks from the
    // bit-string on BOTH layouts — still identical
    val h1b = DedupOps.incrementalSimhashPairs(
      probe2, "doc_id", "text", p1, maxHamming = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val h1l = DedupOps.incrementalSimhashPairs(
      probe2, "doc_id", "text", p2, maxHamming = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(h1b == h1l, "non-default banding must agree across layouts")
    graft.CacheScope.release()
  }

  test("committed-read plan cache: reuse while unmutated, fresh after mutation") {
    import spark.implicits._
    val p = tmpDir("sc_cache") + "/store"
    val rows = (0L until 50L).map(i => (i, s"content $i")).toDF("doc_id", "text")
    DedupOps.buildFingerprintStore(rows, "doc_id", "text", p)
    val r1 = StoreCommit.read(spark, p)
    val r2 = StoreCommit.read(spark, p)
    assert(r1 eq r2, "unmutated store must return the cached plan object")
    // append: new token => new plan that sees the new batch
    val more = (50L until 60L).map(i => (i, s"content $i")).toDF("doc_id", "text")
    DedupOps.appendFingerprintStore(more, "doc_id", "text", p, batchToken = "b2")
    val r3 = StoreCommit.read(spark, p)
    assert(!(r3 eq r2), "a committed append must invalidate the cached plan")
    assert(r3.count() == 60L, "the fresh plan must see the appended batch")
    // same-token rewrite (the replay shape): token set unchanged, but the
    // batch dir's mtime moved — the cached plan (which pins concrete file
    // names) must NOT be served
    val r4 = StoreCommit.read(spark, p)
    Thread.sleep(5) // ensure a distinct dir mtime even at coarse clocks
    DedupOps.appendFingerprintStore(
      (50L until 61L).map(i => (i, s"content $i")).toDF("doc_id", "text"),
      "doc_id", "text", p, batchToken = "b2")
    val r5 = StoreCommit.read(spark, p)
    assert(!(r5 eq r4), "a same-token rewrite must invalidate the cached plan")
    assert(r5.count() == 61L, "the fresh plan must see the rewritten batch")
  }
}

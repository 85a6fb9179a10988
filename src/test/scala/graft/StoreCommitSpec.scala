package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Committed-read manifest gates ([[StoreCommit]]): a probe racing an
  * append must see only batches whose commit marker landed. The "barrier"
  * here is deterministic: a torn mid-append state is materialized directly
  * (batch dir written, marker withheld) — exactly what a concurrent probe
  * observes between a writer's parquet job and its marker create.
  */
class StoreCommitSpec extends SparkTestBase {

  val dir = "/root/testdata/sf0.001"
  lazy val docs = Tables.documents(spark, dir)

  private def fpProbe(store: String) =
    DedupOps.incrementalExactDedup(
      docs.where(col("doc_id") >= 250 && col("doc_id") < 300),
      "doc_id", "text", store)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("meta: a warm read runs no job; a rebuild at new (k, w) misses the cache") {
    val store = tmpDir("sc_meta_store") + "/store"
    val base = docs.where(col("doc_id") < 100)
    val batch = docs.where(col("doc_id") >= 250 && col("doc_id") < 280)
    assert(StoreCommit.meta(spark, store).isEmpty, "an absent meta reads as None")
    DedupOps.buildWinnowStore(base, "doc_id", "text", store)
    DedupOps.incrementalWinnowingPairs(batch, "doc_id", "text", store).collect()
    assert(StoreCommit.meta(spark, store).map(_.getAs[Int]("k")).contains(4))
    assert(countJobs(StoreCommit.meta(spark, store)) == 0,
      "a warm meta read must not run a Spark job")
    // same JVM, same root, new parameters: the cached (4, 5) row must not
    // answer for the rebuilt store
    DedupOps.buildWinnowStore(base, "doc_id", "text", store, k = 5, w = 9)
    val e = intercept[IllegalArgumentException](
      DedupOps.incrementalWinnowingPairs(batch, "doc_id", "text", store))
    assert(e.getMessage.contains("k=5, w=9"), e.getMessage)
  }

  test("read: append-only growth reuses the schema; a dropped batch infers it again") {
    val store = tmpDir("sc_schema_store")
    DedupOps.buildWinnowStore(docs.where(col("doc_id") < 100), "doc_id", "text", store)
    val fps = StoreCommit.read(spark, store, Some("fps"))
    DedupOps.appendWinnowStore(docs.where(col("doc_id") >= 100 && col("doc_id") < 130),
      "doc_id", "text", store, batchToken = "b1")
    var grown: org.apache.spark.sql.DataFrame = null
    assert(countJobs { grown = StoreCommit.read(spark, store, Some("fps")) } == 0,
      "a read after an append must reuse the schema, not infer it")
    assert(grown.schema == fps.schema && grown.count() > fps.count())
    StoreCommit.uncommit(spark, store, "b1")
    assert(countJobs(StoreCommit.read(spark, store, Some("fps"))) > 0,
      "a read after a batch left the visible set must infer the schema again")
  }

  test("mid-append probe sees only committed batches; commit flips visibility") {
    val store = tmpDir("sc_fp_store")
    DedupOps.buildFingerprintStore(docs.where(col("doc_id") < 200),
      "doc_id", "text", store)
    val before = fpProbe(store)
    assert(before.nonEmpty)
    // torn append: the batch dir lands (fully, even — worse than a partial
    // rename) but the writer dies before its commit marker. The torn rows
    // duplicate the probe docs' texts under SMALLER ids, so once visible
    // they must steal every canonical assignment
    docs.where(col("doc_id") >= 250 && col("doc_id") < 300)
      .select((col("doc_id") - 10000).as("id"),
        graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$store/batch=torn")
    assert(fpProbe(store) == before,
      "an uncommitted batch dir must be invisible to probes")
    assert(StoreCommit.visibleTokens(spark, store) == Seq("base"),
      "visible tokens must exclude the uncommitted dir")
    // the marker commits it: canonical ids may now resolve to stored docs
    StoreCommit.commit(spark, store, "torn")
    val after = fpProbe(store)
    assert(StoreCommit.visibleTokens(spark, store) == Seq("base", "torn"))
    assert(after.forall { case (id, _, canon) => canon == id - 10000 },
      "once committed, every probe doc must canonicalize to its torn twin")
    assert(after != before)
  }

  test("winnow fps+sizes commit all-or-nothing under one marker") {
    val store = tmpDir("sc_wn_store")
    DedupOps.buildWinnowStore(docs.where(col("doc_id") < 200),
      "doc_id", "text", store)
    def probe() = DedupOps.incrementalWinnowingPairs(
      docs.where(col("doc_id") >= 250 && col("doc_id") < 300),
      "doc_id", "text", store, maxDocFreq = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    // torn: fps dir of a new batch lands, sizes (and the marker) do not —
    // the pre-manifest failure mode that under-counted containment sizes
    val t = TextOps.winnowingFingerprints(
      docs.where(col("doc_id") >= 200 && col("doc_id") < 250),
      "doc_id", "text", 4, 5)
      .select(col("id"), col("fingerprint").as("f")).distinct()
    t.write.mode("overwrite").parquet(s"$store/fps/batch=torn")
    assert(probe() == before, "a marker-less fps dir must stay invisible")
    assert(StoreCommit.visibleTokens(spark, store, Some("fps")) == Seq("base"))
  }

  test("legacy store without a manifest keeps the full directory view") {
    val store = tmpDir("sc_legacy")
    docs.where(col("doc_id") < 100)
      .select(col("doc_id").as("id"),
        graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$store/batch=b1")
    assert(StoreCommit.committedTokens(spark, store).isEmpty)
    assert(StoreCommit.visibleTokens(spark, store) == Seq("b1"))
    assert(StoreCommit.read(spark, store).count() == 100)
  }

  test("bloom staleness agrees with the committed view, not the dir listing") {
    val store = tmpDir("sc_bloom")
    DedupOps.buildFingerprintStore(docs.where(col("doc_id") < 200),
      "doc_id", "text", store)
    DedupOps.buildFingerprintBloom(spark, store)
    val batch = docs.where(col("doc_id") >= 250 && col("doc_id") < 300)
    val clean = DedupOps.bloomProbeExactDedup(batch, "doc_id", "text", store)
      .collect().map(_.getLong(0)).toSet
    // a torn (uncommitted) dir must NOT trip the staleness check: the
    // sketch still covers every batch a probe can see
    docs.where(col("doc_id") >= 200 && col("doc_id") < 250)
      .select(col("doc_id").as("id"),
        graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$store/batch=torn")
    assert(DedupOps.bloomProbeExactDedup(batch, "doc_id", "text", store)
      .collect().map(_.getLong(0)).toSet == clean)
    // committing it drifts the store past the sketch -> loud refusal
    StoreCommit.commit(spark, store, "torn")
    val ex = intercept[IllegalArgumentException] {
      DedupOps.bloomProbeExactDedup(batch, "doc_id", "text", store)
    }
    assert(ex.getMessage.contains("STALE"), ex.getMessage)
  }

  test("first commit on a pre-manifest store enrolls every legacy batch dir") {
    val store = tmpDir("sc_migrate")
    // a store written by the pre-manifest engine: batch dirs, no _commits
    def fps(lo: Int, hi: Int) = docs
      .where(col("doc_id") >= lo && col("doc_id") < hi)
      .select(col("doc_id").as("id"),
        graft.operators.TextOps.fingerprint(col("text")).as("fp"))
    fps(0, 100).write.mode("overwrite").parquet(s"$store/batch=base")
    fps(100, 200).write.mode("overwrite").parquet(s"$store/batch=b2")
    assert(StoreCommit.committedTokens(spark, store).isEmpty)
    // the FIRST new-style append creates the manifest — it must enroll the
    // legacy dirs, not silently disown 200 docs of corpus
    DedupOps.appendFingerprintStore(
      docs.where(col("doc_id") >= 200 && col("doc_id") < 250),
      "doc_id", "text", store, "b3")
    assert(StoreCommit.visibleTokens(spark, store) == Seq("b2", "b3", "base"))
    assert(StoreCommit.read(spark, store).count() == 250)
  }

  test("legacy enrollment covers nested family sub-dirs (winnow fps/sizes)") {
    val store = tmpDir("sc_migrate_wn")
    DedupOps.buildWinnowStore(docs.where(col("doc_id") < 200),
      "doc_id", "text", store)
    // strip the manifest: the store now looks pre-manifest
    val cp = new java.io.File(s"$store/_commits")
    cp.listFiles.foreach(_.delete()); cp.delete()
    assert(StoreCommit.committedTokens(spark, store).isEmpty)
    DedupOps.appendWinnowStore(
      docs.where(col("doc_id") >= 200 && col("doc_id") < 250),
      "doc_id", "text", store, batchToken = "b2")
    assert(StoreCommit.visibleTokens(spark, store, Some("fps")) == Seq("b2", "base"))
    assert(StoreCommit.visibleTokens(spark, store, Some("sizes")) == Seq("b2", "base"))
  }

  test("cluster-store replay uncommits before deleting its own batch dir") {
    val store = tmpDir("sc_cluster")
    val pairs = docs.where(col("doc_id") < 50)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
    DedupOps.buildClusterStore(pairs, "id_a", "id_b", store)
    val upd = docs.where(col("doc_id") >= 100 && col("doc_id") < 110)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 200).as("id_b"))
    DedupOps.updateClusterStore(upd, "id_a", "id_b", store, "u1")
    assert(StoreCommit.visibleTokens(spark, store) == Seq("base", "u1"))
    val labels = DedupOps.loadClusterLabels(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay of u1 (crash-retry): result and visibility converge to the
    // same committed state
    DedupOps.updateClusterStore(upd, "id_a", "id_b", store, "u1")
    assert(StoreCommit.visibleTokens(spark, store) == Seq("base", "u1"))
    assert(DedupOps.loadClusterLabels(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == labels)
    graft.CacheScope.release()
  }
  test("bootstrap rename race: loser's tokens land in the winner's manifest, no junk") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.crace.impl", classOf[CommitRaceFileSystem].getName)
    val store = "crace:" + tmpDir("sc_race") + "/store"
    // a legacy store (batch dirs, no manifest) whose first-ever commit will
    // LOSE the bootstrap rename race: the stub filesystem materializes a
    // winner's manifest under the loser's rename, which then nests the
    // loser's tmp dir INSIDE it while still returning true
    docs.where(col("doc_id") < 100)
      .select(col("doc_id").as("id"),
        graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$store/batch=base")
    StoreCommit.commit(spark, store, "b2")
    val committed = StoreCommit.committedTokens(spark, store).get
    // the loser's own batch and its enrolled legacy dirs must be visible
    // DIRECTLY in the manifest (pre-fix they nested under _commits.tmp-*
    // and vanished), alongside the winner's token; the mis-renamed tmp dir
    // must not survive as a junk token
    assert(committed.contains("b2"), s"loser's own token missing: $committed")
    assert(committed.contains("base"), s"enrolled legacy token missing: $committed")
    assert(committed.contains(CommitRaceFileSystem.WinnerToken))
    assert(!committed.exists(_.startsWith("_commits.tmp-")),
      s"junk tmp-dir token polluting the manifest: $committed")
  }
  test("SQ8 code index: uncommitted code batch invisible, commit flips the probe") {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val path = tmpDir("sc_sq8") + "/index"
    val base = emb.where(col("vec_id") >= 10)
    val queries = emb.where(col("vec_id") < 3)
    // the torn batch plants each query's EXACT TWIN under a shifted id —
    // once visible it MUST take every query's top slot (cosine 1), so
    // visibility is observable regardless of the corpus geometry
    val delta = queries.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(delta)
    def probe() = SimilarityOps.sq8TopKIndexed(corpus, queries,
      "vec_id", "embedding", path, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    SimilarityOps.buildSq8Index(base, "vec_id", "embedding", path)
    val baseOnly = probe()
    assert(baseOnly.nonEmpty && !baseOnly.exists(_._2 >= 10000))
    // torn append: the batch dir exists in full (the append ran) but its
    // marker is withheld — exactly what a probe sees between a concurrent
    // appender's parquet job and its commit marker
    SimilarityOps.appendSq8Index(delta, "vec_id", "embedding", path, "b1")
    StoreCommit.uncommit(spark, path, "b1")
    spark.catalog.refreshByPath(s"$path/codes")
    assert(StoreCommit.visibleTokens(spark, path, Some("codes")) == Seq("base"))
    assert(probe() == baseOnly,
      "an uncommitted code batch must be invisible to index probes")
    StoreCommit.commit(spark, path, "b1")
    val full = probe()
    assert((0L to 2L).forall(q => full.contains((q, q + 10000, 1L))),
      s"once committed, every query's twin must take rank 1: $full")
    graft.CacheScope.release()
  }

  test("postings index: postings/terms/counts commit all-or-nothing under one marker") {
    val path = tmpDir("sc_postings") + "/index"
    SearchOps.buildPostingsIndex(docs.where(col("doc_id") < 100),
      "doc_id", "text", path)
    // the appended batch plants one doc carrying a unique term — the
    // observable flip no matter how flat the synthetic vocabulary's idf is
    val delta = docs.where(col("doc_id") >= 100 && col("doc_id") < 200)
      .withColumn("text", when(col("doc_id") === 150,
        concat(col("text"), lit(" zzzuniq"))).otherwise(col("text")))
    def probe() = SearchOps.bm25TopKIndexed(spark, path,
      Seq("zzzuniq"), 5, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(SearchOps.bm25TopKIndexed(spark, path,
      Seq("table"), 5, "doc_id").count() == 5, "sanity: index serves probes")
    assert(probe().isEmpty)
    // torn append: all three family dirs land but the single marker is
    // withheld — a reader must see NONE of them (a postings batch visible
    // without its counts batch would skew idf/avgdl for every query)
    SearchOps.appendPostingsIndex(delta, "doc_id", "text", path, "b2")
    StoreCommit.uncommit(spark, path, "b2")
    Seq("postings", "terms", "counts").foreach { sub =>
      spark.catalog.refreshByPath(s"$path/$sub")
      assert(StoreCommit.visibleTokens(spark, path, Some(sub)) == Seq("base"),
        s"family $sub must hide the uncommitted token")
    }
    assert(probe().isEmpty,
      "an uncommitted postings batch must be invisible to probes")
    StoreCommit.commit(spark, path, "b2")
    val after = probe()
    assert(after.map(_._1) == Seq(150L) && after.head._3 == 1L,
      s"once committed, the planted doc must surface: $after")
    graft.CacheScope.release()
  }

  test("compact: every compactor's dst equals src's compacted view, even rebuilt over a stale dst") {
    import org.apache.spark.sql.DataFrame
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    def d(lo: Int, hi: Int) = docs.where(col("doc_id") >= lo && col("doc_id") < hi)
    def e(lo: Int, hi: Int) = emb.where(col("vec_id") >= lo && col("vec_id") < hi)
    def chain(lo: Int, hi: Int) = spark.range(lo, hi)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    // one row per compactor: build, append a token, compact, and the
    // families (with the fold that resolves src's batches to the compacted
    // rows — identity for disjoint-id unions) plus sidecars to compare
    case class Family(name: String, build: String => Unit,
        append: (String, String, Int) => Unit,
        compact: (String, String) => Unit,
        parts: Seq[(String, DataFrame => DataFrame)],
        sidecars: Seq[String] = Nil)
    val same: DataFrame => DataFrame = identity
    val families = Seq(
      Family("line",
        DedupOps.buildLineStore(d(0, 200), "doc_id", "text", _),
        (p, t, lo) => DedupOps.appendLineStore(d(lo, lo + 100), "doc_id", "text", p,
          batchToken = t),
        DedupOps.compactLineStore(spark, _, _),
        Seq("" -> (_.groupBy("h").agg(sum("c").as("c"))))),
      Family("window",
        DedupOps.buildWindowStore(d(0, 200), "doc_id", "text", _),
        (p, t, lo) => DedupOps.appendWindowStore(d(lo, lo + 100), "doc_id", "text", p,
          batchToken = t),
        DedupOps.compactWindowStore(spark, _, _),
        Seq("" -> (_.groupBy("h").agg(min(struct("id", "p")).as("f"))
          .select(col("h"), col("f.id").as("id"), col("f.p").as("p"))))),
      Family("id: minhash",
        DedupOps.buildMinhashStore(d(0, 200), "doc_id", "text", _),
        (p, t, lo) => DedupOps.appendMinhashStore(d(lo, lo + 100), "doc_id", "text", p,
          batchToken = t),
        DedupOps.compactIdStore(spark, _, _),
        Seq("" -> same)),
      Family("id: fingerprint",
        DedupOps.buildFingerprintStore(d(0, 200), "doc_id", "text", _),
        (p, t, lo) => DedupOps.appendFingerprintStore(d(lo, lo + 100), "doc_id", "text",
          p, t),
        DedupOps.compactIdStore(spark, _, _),
        Seq("" -> same)),
      Family("winnow",
        DedupOps.buildWinnowStore(d(0, 200), "doc_id", "text", _),
        (p, t, lo) => DedupOps.appendWinnowStore(d(lo, lo + 100), "doc_id", "text", p,
          batchToken = t),
        DedupOps.compactWinnowStore(spark, _, _),
        Seq("fps" -> same, "sizes" -> same), Seq("meta")),
      Family("cluster",
        DedupOps.buildClusterStore(chain(0, 50), "a", "b", _),
        (p, t, lo) => DedupOps.updateClusterStore(chain(lo, lo + 50), "a", "b", p, t),
        DedupOps.compactClusterStore(spark, _, _),
        Seq("" -> (_.groupBy("id").agg(max(struct("seq", "component")).as("l"))
          .select(col("id"), col("l.component").as("component"), lit(0L).as("seq"))))),
      Family("postings",
        SearchOps.buildPostingsIndex(d(0, 200), "doc_id", "text", _),
        (p, t, lo) => SearchOps.appendPostingsIndex(d(lo, lo + 100), "doc_id", "text",
          p, t),
        SearchOps.compactPostingsIndex(spark, _, _),
        Seq("postings" -> same,
          "terms" -> (_.groupBy("term", "bkt").agg(sum("df").as("df"))
            .select("term", "df", "bkt")),
          "counts" -> (_.agg(sum("n_docs").as("n_docs"),
            sum("n_tokens").as("n_tokens"))))),
      Family("pq",
        SimilarityOps.buildPqIndex(e(0, 200), "vec_id", "embedding", _),
        (p, t, lo) => SimilarityOps.appendPqIndex(e(lo, lo + 100), "vec_id", "embedding",
          p, t),
        SimilarityOps.compactPqIndex(spark, _, _),
        Seq("codes" -> same), Seq("meta", "codebooks")),
      Family("ivf+pq",
        SimilarityOps.buildIvfPqIndex(e(0, 200), "vec_id", "embedding", _),
        (p, t, lo) => SimilarityOps.appendIvfPqIndex(e(lo, lo + 100), "vec_id",
          "embedding", p, t),
        SimilarityOps.compactIvfPqIndex(spark, _, _),
        Seq("codes" -> same), Seq("centroids", "meta", "codebooks")))
    families.foreach { f =>
      val root = tmpDir("sc_compact")
      val (src, dst) = (s"$root/src", s"$root/dst")
      def rows(df: DataFrame) = df.collect().toSet
      def sub(s: String) = Option(s).filter(_.nonEmpty)
      f.build(src)
      f.append(src, "b1", 200)
      f.compact(src, dst)
      f.append(src, "b2", 300) // dst is now stale: the next compaction rebuilds it
      f.compact(src, dst)
      f.parts.foreach { case (s, fold) =>
        val view = rows(fold(StoreCommit.read(spark, src, sub(s)).drop("batch")))
        assert(view.nonEmpty, s"${f.name}/$s: empty source view")
        assert(StoreCommit.visibleTokens(spark, dst, sub(s)) == Seq("base"), f.name)
        assert(rows(StoreCommit.read(spark, dst, sub(s)).drop("batch")) == view,
          s"${f.name}/$s: compacted rows != src's compacted view")
      }
      f.sidecars.foreach(side => assert(
        rows(spark.read.parquet(s"$dst/$side")) == rows(spark.read.parquet(s"$src/$side")),
        s"${f.name}: sidecar $side"))
      intercept[IllegalArgumentException](f.compact(src, src))
      graft.CacheScope.release()
    }
  }
}

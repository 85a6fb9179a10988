package graft

import graft.storage.TimeseriesStorage
import graft.ts.Align
import org.apache.spark.sql.functions._

/** Scale validation beyond the driver test data: core operators at tens of
  * millions of rows on local[32] — the "would this survive a 100x
  * scale-up" check (the shapes that must NOT degrade: partial-agg dedup,
  * bucketed ffill, as-of join, salted agg). `sbt "runMain graft.ScaleSmoke
  * [rows]"`.
  */
object ScaleSmoke {

  /** Synthetic text corpus: 50-word vocab, ~60 tokens/doc, every 50th doc a
    * near-copy of its predecessor (same words, 3 swapped) — shared by the
    * minhash / top-k / sampling smokes.
    */
  private def syntheticDocs(spark: org.apache.spark.sql.SparkSession, n: Long) = {
    val vocab = array((0 until 50).map(i => lit(s"w$i")): _*)
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(59)),
        i => element_at(vocab,
          (pmod(xxhash64(expr("id div 50") * 100 + i +
            when(col("id") % 50 === 0, (i % 3) * 7).otherwise(0)), lit(50)) + 1)
            .cast("int")))).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    // optional 2nd arg: label substring filter — ONLY for self-contained
    // entries (lsh/minhash/skew/salted); store-backed entries need the
    // ingest entry to have run
    val only = args.lift(1).map(_.toLowerCase)
    val spark = GraftSession.local()
    def time[T](label: String)(f: => T): Unit = {
      if (only.exists(o => !label.toLowerCase.contains(o))) return
      val t0 = System.nanoTime()
      f
      println(f"[scale] $label%-38s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      // each entry is self-contained: drop its operator caches so entries
      // don't contaminate each other's memory budget (measured: the 10M-
      // spine as-of's leftover cache inflated the following minhash entry
      // 68 -> 225 s) — and exercise the release hook at scale while at it
      val released = CacheScope.release()
      if (released > 0) println(s"[scale]   released $released operator cache(s)")
    }

    // n rows across 2 years, 3 versions per timestamp third → dedup-heavy
    val base = spark.range(n).select(
      expr("timestamp_micros(1609459200000000L + (id div 3) * 9467280L)").as("time"),
      (col("id") % 3).as("v"),
      (rand(42) * 100).as("value"))
    val series = base.select(col("time"),
      (col("value") * (col("v") + 1)).as("value"),
      (col("time") - expr("make_interval(0,0,0,0,0,0,v)")).as("created_time"))

    val root = s"/tmp/graft_scale_smoke_${ProcessHandle.current.pid}"
    val p = new org.apache.hadoop.fs.Path(root)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.exists(p)) hfs.delete(p, true)
    val st = new TimeseriesStorage(root, spark)

    time(s"ingest $n rows (hive-partitioned write)") {
      st.save("scale", "f", series)
    }
    val deduped = time("load + latest-version dedup (count)") {
      val d = st.load("scale", "f"); d.count()
    }
    println(s"[scale]   deduped rows: was $n, kept ${n / 3}")
    time("time-range month read (partition-pruned)") {
      st.load("scale", "f",
        from = Some(java.sql.Timestamp.valueOf("2021-06-01 00:00:00")),
        to = Some(java.sql.Timestamp.valueOf("2021-06-30 23:59:59"))).count()
    }
    // store maintenance at ingest cadence: 50 appends interleave every
    // hive partition (one part file per partition PER APPEND — the
    // streaming-trigger fragmentation shape), then one compaction job
    // rewrites the whole store and the same scan is re-measured. The
    // assertion is exactness (row count survives byte-for-byte semantics
    // are specced in StorageSpec); the printed before/after file counts
    // and scan times are the scale evidence.
    time(s"feature compaction: 50-append fragmented store ($n rows)") {
      val per = n / 50
      // ~3 months of event time → ~92 date partitions; 50 appends × 92
      // dirs ≈ 4.6k files pre-compaction. (A 2-year span at 731 dirs was
      // measured too: 36.5k files, 13.8 s → 1.4 s scan — same verdict,
      // but the append loop's per-file fs ops dominated the entry.)
      val stepUs = 7889400000000L / n
      (0 until 50).foreach { a =>
        st.save("scale", "frag", spark.range(per).select(
          expr(s"timestamp_micros(1609459200000000L + (id * 50 + $a) * $stepUs)")
            .as("time"),
          (rand(a) * 100).as("value")))
      }
      def files(): Long = {
        val base = new org.apache.hadoop.fs.Path(st.featurePath("scale", "frag"))
        hfs.listStatus(base).filter(_.isDirectory).map(d =>
          hfs.listStatus(d.getPath).count(s => s.isFile &&
            !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
              .toLong).sum
      }
      val fBefore = files()
      val t0 = System.nanoTime()
      val cBefore = st.scan("scale", "frag").count()
      val scanFrag = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val stats = st.compactFeature("scale", "frag")
      val compactSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val cAfter = st.scan("scale", "frag").count()
      val scanComp = (System.nanoTime() - t2) / 1e9
      require(cBefore == cAfter && cAfter == per * 50,
        s"compaction changed row count: $cBefore -> $cAfter")
      val fAfter = files()
      require(fAfter * 10 <= fBefore,
        s"compaction barely reduced files: $fBefore -> $fAfter")
      println(f"[scale]   files $fBefore -> $fAfter, compact ${compactSec}%.1f s, " +
        f"scan ${scanFrag}%.1f s -> ${scanComp}%.1f s (${scanFrag / scanComp}%.1fx)")
      st.delete("scale", "frag")
    }
    time("bucketed ffill over full deduped series") {
      val withNulls = st.load("scale", "f")
        .withColumn("value", when(pmod(unix_micros(col("time")), lit(7)) < 3, col("value")))
      Align.ffill(withNulls, "time", Seq("value")).count()
    }
    time("ffill under heavy event-time skew (90% in 1h)") {
      // 90% of rows inside one hour of a 2-year span: uniform time-range
      // buckets would funnel the hot hour through one window partition;
      // quantile buckets keep every partition ≈1/nb of the rows
      val skewedTimes = spark.range(n / 2).select(
        when(col("id") % 10 < 9,
          timestamp_micros(lit(1609459200000000L) + pmod(xxhash64(col("id")), lit(3600000000L))))
          .otherwise(timestamp_micros(lit(1609459200000000L) +
            pmod(xxhash64(col("id"), lit(1)), lit(63072000000000L)))).as("time"),
        when(pmod(xxhash64(col("id"), lit(2)), lit(7)) < 3, (col("id") % 1000).cast("double"))
          .as("value"))
      Align.ffill(skewedTimes, "time", Seq("value")).count()
    }
    time("as-of join of 100k-point spine") {
      val spine = spark.range(100000).select(
        timestamp_micros(lit(1609459200000000L) + col("id") * 630000000L).as("time"),
        col("id").as("k"))
      Align.pointInTime(spine, Align.alignOuter("time", Seq("f" -> st.load("scale", "f")),
        doFfill = false), Nil, "time", Seq("f")).count()
    }
    time("as-of join of 10M-point spine (bucketed, shuffle-bounded)") {
      // spine AND data both large: the union still goes through ONE
      // quantile-bucketed two-pass prefix scan (never a global-sort
      // window) — assert the plan holds that shape at this scale
      val spine = spark.range(10000000).select(
        timestamp_micros(lit(1609459200000000L) + col("id") * 6300000L).as("time"),
        col("id").as("k"))
      val out = Align.pointInTime(spine, Align.alignOuter("time",
        Seq("f" -> st.load("scale", "f")), doFfill = false), Nil, "time", Seq("f"))
      out.count()
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        "as-of plan must stay equi/broadcast-joined")
      require(plan.linesIterator.filter(_.contains("windowspecdefinition"))
          .forall(_.contains("__b")),
        "as-of windows must be bucket-partitioned, not global")
    }
    time("minhash LSH dedup over 100k synthetic docs") {
      operators.DedupOps.minhashLshPairs(syntheticDocs(spark, 100000), "doc_id", "text").count()
    }
    time("token top-k over 100k docs") {
      // Zipf-ish head: map-side partial counts then TakeOrdered — no
      // global sort; the result is tiny regardless of corpus size
      val top = operators.TextOps.tokenHistogram(syntheticDocs(spark, 100000),
        "doc_id", "text", 20).collect()
      require(top.length == 20 && top.head.getLong(1) >= top.last.getLong(1))
    }
    time("stratified sample over 100k docs") {
      val langed = syntheticDocs(spark, 100000)
        .withColumn("lang", concat(lit("l"), pmod(xxhash64(col("doc_id")), lit(5))))
      val kept = operators.SampleOps.stratifiedSample(langed, "doc_id", "lang",
        Map("l0" -> 0.5, "l1" -> 0.1), defaultRate = 0.02).count()
      // ~20k l0-docs * 0.5 + ~20k * 0.1 + ~60k * 0.02 ≈ 13.2k; md5-slot
      // keep decisions are uniform enough for a wide sanity band
      require(kept > 10000 && kept < 17000, s"stratified sample kept $kept, expected ~13k")
    }
    time("incremental dedup: 200k-doc store build") {
      operators.DedupOps.buildMinhashStore(syntheticDocs(spark, 200000),
        "doc_id", "text", s"$root/mhstore")
    }
    time("incremental dedup: 5k probe vs 200k store") {
      // realistic batch: 4900 FRESH docs (disjoint text blocks, ids spaced
      // 50 so every fresh doc is unique) + 100 planted copies of corpus
      // blocks 0-1. Every planted doc must rediscover its block's corpus
      // dups WITHOUT re-running the corpus-side signature pass (store sigs
      // are read, store rows outside probe buckets pruned map-side).
      val vocab = array((0 until 50).map(i => lit(s"w$i")): _*)
      val fresh = spark.range(150000000000L, 150000000000L + 4900L * 50, 50).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(59)),
          i => element_at(vocab,
            (pmod(xxhash64(expr("id div 50") * 100 + i), lit(50)) + 1)
              .cast("int")))).as("text"))
      val planted = syntheticDocs(spark, 100)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("text"))
      val pairs = operators.DedupOps.incrementalNearDupPairs(
        fresh.unionByName(planted), "doc_id", "text", s"$root/mhstore")
      val n = pairs.count()
      val plantedSeen = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .where(col("id") >= 4000000L && col("id") < 5000000L).distinct().count()
      require(plantedSeen == 100L,
        s"all 100 planted copies must find their block dups, got $plantedSeen")
      println(s"[scale]   $n incremental pairs (old-old excluded)")
    }
    time("exact-dedup fp store: 5M-doc build") {
      operators.DedupOps.buildFingerprintStore(syntheticDocs(spark, 5000000),
        "doc_id", "text", s"$root/fpstore")
    }
    // batch shared by the plain fp-store probe and its bloom twin:
    // 50k fresh docs (new blocks — but 50 per block share text, so their
    // canonical is the min batch id of the block) + 50k planted exact
    // copies of store docs. syntheticDocs makes the 49 non-swapped docs
    // of each 50-block byte-identical, so every planted copy of a
    // doc with id % 50 != 0 must canonicalize to a STORE id (< 5M) —
    // probing must not touch store rows outside the batch's probe fp set
    def fpProbeBatch = {
      val vocab = array((0 until 50).map(i => lit(s"w$i")): _*)
      val fresh = spark.range(250000000000L, 250000000000L + 50000).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(59)),
          i => element_at(vocab,
            (pmod(xxhash64(expr("id div 50") * 100 + i), lit(50)) + 1)
              .cast("int")))).as("text"))
      // 51021 ids minus the 1021 swapped block-heads leaves exactly 50k
      val planted = syntheticDocs(spark, 51021)
        .where(col("doc_id") % 50 =!= 0)
        .limit(50000)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      fresh.unionByName(planted)
    }
    def fpProbeChecks(probe: org.apache.spark.sql.DataFrame): Unit = {
      val rows = probe.count()
      val storeHits = probe
        .where(col("doc_id") >= 10000000L && col("canonical_id") < 5000000L)
        .count()
      require(rows == 100000L, s"probe must return every batch row, got $rows")
      require(storeHits == 50000L,
        s"all 50k planted copies must canonicalize to store ids, got $storeHits")
      println(s"[scale]   $rows probe rows, $storeHits store-canonical")
    }
    time("exact-dedup fp store: 100k probe vs 5M store") {
      fpProbeChecks(operators.DedupOps.incrementalExactDedup(
        fpProbeBatch, "doc_id", "text", s"$root/fpstore"))
    }
    time("bloom sketch build over the 5M-fp store") {
      operators.DedupOps.buildFingerprintBloom(spark, s"$root/fpstore")
    }
    time("bloom-prefiltered 100k probe vs 5M store (parity)") {
      // identical batch through the bloom path: same invariants, and
      // row-for-row parity with the plain probe via anti-join
      val bloom = operators.DedupOps.bloomProbeExactDedup(
        fpProbeBatch, "doc_id", "text", s"$root/fpstore")
      fpProbeChecks(bloom)
      val plain = operators.DedupOps.incrementalExactDedup(
        fpProbeBatch, "doc_id", "text", s"$root/fpstore")
      val diff = bloom.exceptAll(plain).count() + plain.exceptAll(bloom).count()
      require(diff == 0L, s"bloom path must equal plain probe, $diff rows differ")
    }
    time("sharded bloom (16): build + 100k probe vs 5M store") {
      // the zero-broadcast shape: per-partition lazy sketch loads
      operators.DedupOps.buildShardedFingerprintBloom(spark, s"$root/fpstore")
      fpProbeChecks(operators.DedupOps.shardedBloomProbeExactDedup(
        fpProbeBatch, "doc_id", "text", s"$root/fpstore"))
    }
    time("bigram LM surprise: 1M docs vs 100k-doc reference model") {
      // 1k planted docs drawn from a DISJOINT vocab must score all-OOV
      // (hit_contexts = 0) at EXACTLY bitlen(V) - 1 bits per position
      // (V = 50 ref words -> 5.0 flat). Note the add-one asymmetry this
      // smoke originally got wrong: with a tiny V, full-OOV (-log2 V/1)
      // is CHEAPER than an unseen bigram under a frequent context
      // (-log2 (c1+V)/1 ~ 16 bits here) — the corpus mean therefore sits
      // ABOVE the planted 5.0, and that is correct model behavior, not a
      // defect.
      val corpus = syntheticDocs(spark, 1000000)
      val zvocab = array((0 until 50).map(i => lit(s"z$i")): _*)
      val planted = spark.range(1000).select(
        (col("id") + 20000000L).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(59)),
          i => element_at(zvocab,
            (pmod(xxhash64(col("id") * 100 + i), lit(50)) + 1)
              .cast("int")))).as("text"))
      val scored = operators.TextOps.bigramSurprise(
        corpus.unionByName(planted), syntheticDocs(spark, 100000),
        "doc_id", "text")
      val agg = scored
        .groupBy((col("doc_id") >= 20000000L).as("is_planted"))
        .agg(avg(col("avg_surprise_bits")).as("m"),
          sum(col("hit_contexts")).as("hc"))
        .collect().map(r => r.getBoolean(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
      require(agg(true)._2 == 0L,
        s"planted disjoint-vocab docs must be all-OOV, got contexts ${agg(true)._2}")
      require(agg(true)._1 == 5.0,
        s"all-OOV surprise must be exactly bitlen(50) - 1 = 5.0, got ${agg(true)._1}")
      require(agg(false)._2 > 0L, "corpus must hit the reference model")
      println(f"[scale]   corpus ${agg(false)._1}%.2f bits/pos, planted ${agg(true)._1}%.2f (all-OOV)")
    }
    time("decontamination: 1M docs vs 2k-doc benchmark") {
      // benchmark = blocks 0..39 (2k docs); corpus = the other 980k PLUS
      // 2k planted copies of benchmark texts under fresh ids — every
      // planted id must be flagged (exactness), the rest of the corpus
      // only collides at the ~4-gram-birthday rate. Bench n-grams
      // broadcast; corpus shuffles once (the shingle window's id key).
      val bench = syntheticDocs(spark, 2000)
      val planted = bench.select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      val corpus = syntheticDocs(spark, 1000000).where(col("doc_id") >= 2000)
        .unionByName(planted)
      val ov = operators.CurationOps.ngramOverlap(corpus, bench, "doc_id", "text", k = 4)
      val plan = ov.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin"),
        "benchmark membership must be a broadcast join")
      val flaggedPlanted = ov.where(col("contaminated") && col("doc_id") >= 2000000L).count()
      require(flaggedPlanted == 2000L,
        s"all 2000 planted benchmark copies must be flagged, got $flaggedPlanted")
      val flagged = ov.where(col("contaminated")).count()
      println(s"[scale]   flagged $flagged of 1M docs (2000 planted + background collisions)")
    }
    time("sequence packing: 1M docs into 2048-token chunks") {
      // 60M tokens -> ~29.3k chunks through the distributed prefix sum; no
      // global-order window anywhere in the plan, and every chunk except
      // the last must hold exactly 2048 tokens
      val K = 2048L
      val packed = operators.CurationOps.packChunks(
        syntheticDocs(spark, 1000000), "doc_id", "text", K)
      require(packed.queryExecution.executedPlan.toString
          .linesIterator.filter(_.contains("windowspecdefinition"))
          .forall(_.contains("__b")),
        "packing windows must be bucket-partitioned, not global")
      val sizes = packed.groupBy(col("chunk_id"))
        .agg(sum(col("tok_to") - col("tok_from")).as("sz"))
      val bad = sizes.where(col("sz") =!= K).collect()
      val total = 1000000L * 60L
      require(bad.length <= 1 && bad.forall(_.getLong(1) == total % K),
        s"every chunk but the tail must hold exactly $K tokens: ${bad.mkString(",")}")
    }
    time("sequence packing: materialize 1M docs of chunk text") {
      val K = 2048L
      val chunks = operators.CurationOps.packChunkText(
        syntheticDocs(spark, 1000000), "doc_id", "text", K)
      // spot-check materialized width on a sample (full width check is the
      // span invariant above); count materializes every chunk string
      val sampled = chunks.where(pmod(col("chunk_id"), lit(997)) === 0)
        .select(size(split(col("text"), " ")).as("w"), col("chunk_id")).collect()
      val n = chunks.count()
      require(n == (1000000L * 60L + K - 1) / K, s"chunk count $n")
      require(sampled.forall(r => r.getInt(0) == K || r.getLong(1) == n - 1),
        "sampled chunks must be exactly K tokens wide")
    }
    time("line dedup: 5M docs, 3 boilerplate lines shared by ALL of them") {
      // the operator's design case: lines with 5M occurrences each (nav/
      // cookie/footer boilerplate) — the canonical-occurrence groupBy must
      // absorb them in the map-side partial min, not buffer an occurrence
      // list; 2 unique lines per doc ride along
      val nd = 5000000L
      val docs = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws("\n",
          lit("boiler header"),
          concat(lit("unique "), col("id")),
          lit("cookie banner please accept"),
          concat(lit("body "), col("id"), lit(" text")),
          lit("footer legal notice")).as("text"))
      val out = operators.DedupOps.dedupLines(docs, "doc_id", "text")
      val r = out.agg(count(lit(1)),
        sum(size(filter(split(col("text"), "\n"),
          l => l === "cookie banner please accept"))).cast("long"),
        sum(when(size(split(col("text"), "\n")) === 2, 1L).otherwise(0L)))
        .head()
      require(r.getLong(0) == nd, s"every doc must survive, got ${r.getLong(0)}")
      require(r.getLong(1) == 1L,
        s"boilerplate must keep exactly one copy corpus-wide, got ${r.getLong(1)}")
      require(r.getLong(2) == nd - 1,
        s"all but doc 0 keep exactly their 2 unique lines, got ${r.getLong(2)}")
    }
    time("substring dedup: 2M docs, 200k-occurrence shared passage") {
      // every 10th doc carries the SAME 16-token passage at positions
      // 20..35 inside otherwise globally-unique tokens — 13 window
      // contents with 200k occurrences each (the boilerplate hot-group
      // stress: the content-hash window must spill the occurrence run,
      // not OOM), everything else strictly unique (no false spans)
      val nd = 2000000L
      val docs = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(59)), i =>
          when(col("id") % 10 === 0 && i.between(lit(20), lit(35)),
            concat(lit("p"), i.cast("string")))
            .otherwise(concat(lit("t"), col("id").cast("string"),
              lit("_"), i.cast("string"))))).as("text"))
      val r = operators.DedupOps.duplicateSpanStats(docs, "doc_id", "text")
        .agg(
          sum(when(col("dup_tokens") === 16L && col("n_spans") === 1L, 1L)
            .otherwise(0L)),
          sum(when(col("dup_tokens") =!= 0L, 1L).otherwise(0L))).head()
      require(r.getLong(0) == nd / 10 && r.getLong(1) == nd / 10,
        s"exactly ${nd / 10} docs must carry one 16-token duplicated span, " +
          s"got ${r.getLong(0)} spans-of-16 of ${r.getLong(1)} nonzero")
      CacheScope.release()
      val t1 = System.nanoTime()
      // the cut keeps the passage only in its canonical doc (id 0): every
      // other planted doc loses exactly its 16 passage tokens
      val tok = operators.DedupOps.dropDuplicateSpans(docs, "doc_id", "text")
        .agg(sum(size(split(col("text"), " ")))).head().getLong(0)
      require(tok == nd * 60L - (nd / 10 - 1) * 16L,
        s"total tokens after cut must be ${nd * 60L - (nd / 10 - 1) * 16L}, got $tok")
      println(f"[scale] substring cut over 2M docs         ${(System.nanoTime() - t1) / 1e9}%8.2f s")
    }
    time("vocab token counts: 5M docs, 300M words, broadcast vocab") {
      val nd = 5000000L
      val docs = syntheticDocs(spark, nd)
      val vocab = operators.TextOps.topWordVocab(docs, "text", 25)
      val counted = operators.TextOps.vocabTokenCounts(docs, "doc_id", "text", vocab)
      val r = counted.agg(sum("n_tok"), count(lit(1))).head()
      require(r.getLong(1) == nd, s"every doc must carry a count, got ${r.getLong(1)}")
      // independent expectation from the corpus's 50-word frequency table
      // (tiny by construction): top-25 words (freq desc, word) count 1
      // piece, the other 25 the byte-fallback ceil(bytes/2) — the smoke's
      // exactness does not reuse the operator's join/agg machinery
      val freqs = docs.select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").count().collect().map(x => (x.getString(0), x.getLong(1)))
      val inVocab = freqs.sortBy { case (w, c) => (-c, w) }.take(25).map(_._1).toSet
      val expected = freqs.map { case (w, c) =>
        c * (if (inVocab(w)) 1L
             else math.max(1L, (w.getBytes("UTF-8").length + 1) / 2L)) }.sum
      require(r.getLong(0) == expected,
        s"expected $expected total pieces, got ${r.getLong(0)}")
    }
    time("substring store: 2M-doc build + 100k-doc probe") {
      // store corpus: globally-unique tokens except a fixed 16-token
      // passage planted in every 10th doc (the batch smoke's fixture);
      // probe: 100k fresh unique-token docs, the first 1000 carrying the
      // SAME passage — each must find span [20, 36) purely via STORE hits
      // (no probe-internal duplication), and the cut must remove exactly
      // those 16 tokens per planted doc (canonical lives in the store)
      val nd = 2000000L
      def corpus(ids: org.apache.spark.sql.Dataset[java.lang.Long], tok: String,
          plantEvery: Long): org.apache.spark.sql.DataFrame =
        ids.select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(59)), i =>
            when(col("id") % plantEvery === 0 && i.between(lit(20), lit(35)),
              concat(lit("p"), i.cast("string")))
              .otherwise(concat(lit(tok), col("id").cast("string"),
                lit("_"), i.cast("string"))))).as("text"))
      operators.DedupOps.buildWindowStore(
        corpus(spark.range(nd), "t", 10), "doc_id", "text", s"$root/wstore")
      val probeIds = spark.range(50000000L, 50000000L + 100000L)
      // first 1000 probe ids planted (plantEvery=1 ≡ always), the rest
      // unplanted (no probe id is ≡ 0 mod 1e8, so nothing matches)
      val probe = corpus(probeIds.where(col("id") < 50001000L), "u", 1)
        .unionByName(
          corpus(probeIds.where(col("id") >= 50001000L), "u", 100000000L))
      val t1 = System.nanoTime()
      val spans = operators.DedupOps.incrementalDuplicateSpans(
        probe, "doc_id", "text", s"$root/wstore")
      val r = spans.agg(count(lit(1)),
        sum(when(col("span_from") === 20L && col("span_to") === 36L, 1L)
          .otherwise(0L))).head()
      require(r.getLong(0) == 1000L && r.getLong(1) == 1000L,
        s"exactly the 1000 planted probe docs must span [20,36), " +
          s"got ${r.getLong(1)} of ${r.getLong(0)} spans")
      println(f"[scale]   probe spans (store hits only)      ${(System.nanoTime() - t1) / 1e9}%8.2f s")
      CacheScope.release()
      val t2 = System.nanoTime()
      val tok = operators.DedupOps.incrementalDropDuplicateSpans(
          probe, "doc_id", "text", s"$root/wstore")
        .agg(sum(size(split(col("text"), " ")))).head().getLong(0)
      require(tok == 100000L * 60L - 1000L * 16L,
        s"planted probe docs must lose exactly their 16 passage tokens, total $tok")
      println(f"[scale]   probe cut                          ${(System.nanoTime() - t2) / 1e9}%8.2f s")
    }
    time("connected components 100m-edges: 9M stars + 1M-node chain") {
      // the 100 TB-story stress (VERDICT r6 #5): 100M edges — 9M disjoint
      // 12-node stars (99M edges, components known exactly) + one 1M-node
      // path (diameter 1M: min-label propagation would need 1M rounds).
      // Gates: per-node exactness, component count, and the ROUND COUNT —
      // star contraction must stay O(log n) at this scale or the 100 TB
      // claim is fiction (checkpoint lineage and the active-set freeze are
      // exactly what 10× scale exposes).
      val blocks = 9000000L; val bsize = 12L
      val stars = spark.range(blocks * (bsize - 1)).select(
        ((col("id") / (bsize - 1)).cast("long") * bsize).as("id_a"),
        ((col("id") / (bsize - 1)).cast("long") * bsize +
          pmod(col("id"), lit(bsize - 1)) + 1).as("id_b"))
      val cbase = 1000000000L; val chainLen = 1000000L
      val chain = spark.range(chainLen - 1).select(
        (col("id") + cbase).as("id_a"), (col("id") + cbase + 1).as("id_b"))
      val cc = CacheScope.persist(operators.DedupOps.connectedComponents(
        stars.unionByName(chain), "id_a", "id_b"))
      val mislabeled = cc.where(
        when(col("id") >= cbase, col("component") =!= cbase)
          .otherwise(col("component") =!=
            (col("id") - pmod(col("id"), lit(bsize))))).count()
      val counts = cc.agg(count(lit(1)), count_distinct(col("component"))).head()
      require(mislabeled == 0, s"$mislabeled nodes got a wrong component label")
      require(counts.getLong(0) == blocks * bsize + chainLen &&
        counts.getLong(1) == blocks + 1,
        s"expected ${blocks * bsize + chainLen} nodes in ${blocks + 1} " +
          s"components, got ${counts.getLong(0)} in ${counts.getLong(1)}")
      val rounds = operators.DedupOps.lastCcRounds.get()
      println(s"[scale]   cc rounds = $rounds over 100M edges (1M-diameter chain)")
      require(rounds > 0 && rounds <= 40,
        s"CC took $rounds rounds on a 1M chain — star contraction is " +
          "supposed to be O(log n); something regressed")
    }
    time("substring store 10m-window: 10M-doc build + 1% batch probe + append") {
      // the window-store 100 TB-story stress (VERDICT r6 #5): 10M-doc
      // build, then a 1%-sized batch (100k docs, first 1000 carrying the
      // planted 16-token passage) probes spans purely via store hits and
      // APPENDS its windows — probe+append must cost ∝ batch, not ∝ store
      // (the inner timings make the ratio visible in the log), with the
      // same exactness gates as the 2M twin.
      val nd = 10000000L
      def corpus(ids: org.apache.spark.sql.Dataset[java.lang.Long], tok: String,
          plantEvery: Long): org.apache.spark.sql.DataFrame =
        ids.select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(59)), i =>
            when(col("id") % plantEvery === 0 && i.between(lit(20), lit(35)),
              concat(lit("p"), i.cast("string")))
              .otherwise(concat(lit(tok), col("id").cast("string"),
                lit("_"), i.cast("string"))))).as("text"))
      val t0b = System.nanoTime()
      operators.DedupOps.buildWindowStore(
        corpus(spark.range(nd), "t", 10), "doc_id", "text", s"$root/wstore10m")
      val buildS = (System.nanoTime() - t0b) / 1e9
      println(f"[scale]   10M-doc store build                $buildS%8.2f s")
      val probeIds = spark.range(50000000L, 50000000L + 100000L)
      val probe = corpus(probeIds.where(col("id") < 50001000L), "u", 1)
        .unionByName(
          corpus(probeIds.where(col("id") >= 50001000L), "u", 100000000L))
      val t1 = System.nanoTime()
      val spans = operators.DedupOps.incrementalDuplicateSpans(
        probe, "doc_id", "text", s"$root/wstore10m")
      val r = spans.agg(count(lit(1)),
        sum(when(col("span_from") === 20L && col("span_to") === 36L, 1L)
          .otherwise(0L))).head()
      require(r.getLong(0) == 1000L && r.getLong(1) == 1000L,
        s"exactly the 1000 planted probe docs must span [20,36), " +
          s"got ${r.getLong(1)} of ${r.getLong(0)} spans")
      val probeS = (System.nanoTime() - t1) / 1e9
      println(f"[scale]   1%% probe spans (store hits only)   $probeS%8.2f s")
      CacheScope.release()
      val t2 = System.nanoTime()
      operators.DedupOps.appendWindowStore(
        probe, "doc_id", "text", s"$root/wstore10m", 4, "b1")
      val appendS = (System.nanoTime() - t2) / 1e9
      println(f"[scale]   1%% batch append                    $appendS%8.2f s")
      // ∝-batch gate, loose: a probe or append that rescans the store
      // costs build-scale time; at 1% batch size they must stay well under
      // half the build (empirically they are far lower — the bound only
      // catches an accidental store rescan)
      require(probeS < buildS && appendS < buildS,
        f"1%% batch work must cost less than the full build " +
          f"(build $buildS%.1f s, probe $probeS%.1f s, append $appendS%.1f s)")
    }
    time("winnowing pairs: 1M docs + 2k planted passage quotes") {
      // 1M globally-unique-token docs plus 2k "quoters", each embedding
      // the first 30 tokens of its victim doc after 20 of its own — the
      // containment shape global-Jaccard dedup misses (J ~ 27/80). A
      // shared 30-token run guarantees shared winnowing fingerprints
      // (>= 1 per w+k-1 window), so expected pairs are EXACTLY the 2k
      // planted (victim, quoter) pairs — unique tokens leave no
      // background fingerprint collisions.
      val nd = 1000000L; val q = 2000L
      val base = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(59)),
          i => concat(lit("t"), col("id").cast("string"),
            lit("_"), i.cast("string")))).as("text"))
      val quoters = spark.range(q).select((col("id") + 10000000L).as("doc_id"),
        concat(
          concat_ws(" ", transform(sequence(lit(0), lit(19)),
            i => concat(lit("q"), col("id").cast("string"),
              lit("_"), i.cast("string")))),
          lit(" "),
          concat_ws(" ", transform(sequence(lit(0), lit(29)),
            i => concat(lit("t"), col("id").cast("string"),
              lit("_"), i.cast("string"))))).as("text"))
      val pairs = operators.DedupOps.winnowingPairs(
        base.unionByName(quoters), "doc_id", "text")
      val r = pairs.agg(count(lit(1)),
        sum(when(col("id_b") === col("id_a") + 10000000L &&
          col("id_a") < q, 1L).otherwise(0L))).head()
      require(r.getLong(0) == q && r.getLong(1) == q,
        s"expected exactly $q planted containment pairs, " +
          s"got ${r.getLong(1)} planted of ${r.getLong(0)} total")
    }
    time("winnow store: 1M-doc build + 2k-quoter probe") {
      // the incremental twin of the entry above: the corpus fingerprints
      // persist ONCE, then the 2k quoters arrive as a batch probe — must
      // find exactly the 2k planted (victim, quoter) pairs without
      // re-fingerprinting the million stored docs
      val nd = 1000000L; val q = 2000L
      val base = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(59)),
          i => concat(lit("t"), col("id").cast("string"),
            lit("_"), i.cast("string")))).as("text"))
      val quoters = spark.range(q).select((col("id") + 10000000L).as("doc_id"),
        concat(
          concat_ws(" ", transform(sequence(lit(0), lit(19)),
            i => concat(lit("q"), col("id").cast("string"),
              lit("_"), i.cast("string")))),
          lit(" "),
          concat_ws(" ", transform(sequence(lit(0), lit(29)),
            i => concat(lit("t"), col("id").cast("string"),
              lit("_"), i.cast("string"))))).as("text"))
      operators.DedupOps.buildWinnowStore(base, "doc_id", "text",
        s"$root/wnstore")
      CacheScope.release()
      val t1 = System.nanoTime()
      val pairs = operators.DedupOps.incrementalWinnowingPairs(
        quoters, "doc_id", "text", s"$root/wnstore")
      val r = pairs.agg(count(lit(1)),
        sum(when(col("id_b") === col("id_a") + 10000000L &&
          col("id_a") < q, 1L).otherwise(0L))).head()
      require(r.getLong(0) == q && r.getLong(1) == q,
        s"expected exactly $q planted pairs from the store probe, " +
          s"got ${r.getLong(1)} planted of ${r.getLong(0)} total")
      println(f"[scale]   probe alone (store built above)   ${(System.nanoTime() - t1) / 1e9}%8.2f s")
    }
    // Serving-direction scale evidence for the SIGNATURE families
    // (minhash / simhash / winnow): the production probe shape is a small
    // batch against a big store, and its cost must track the BATCH, not
    // the store — band/bucket keys prune store rows map-side before any
    // join. Built twice at a 7x store-size ratio and probed with the SAME
    // 10k batch; the assertion allows 3x drift over a 2 s floor (job
    // overhead), far below the 7x a store-bound probe would show.
    time("serving probes: 10k batch vs 7x store sizes (minhash/simhash/winnow)") {
      def corpus(n: Long) = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(59)),
          i => concat(lit("t"), col("id").cast("string"),
            lit("_"), i.cast("string")))).as("text"))
      // 9.9k fresh docs (id-unique tokens, no cross-doc overlap) + 100
      // planted EXACT copies of corpus docs 0-99 (present in both sizes)
      def batch = spark.range(9900).select((col("id") + 700000000L).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(59)),
          i => concat(lit("f"), col("id").cast("string"),
            lit("_"), i.cast("string")))).as("text"))
        .unionByName(corpus(100).select((col("doc_id") + 800000000L).as("doc_id"),
          col("text")))
      def timed[T](f: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      }
      def check(fam: String, pairs: org.apache.spark.sql.DataFrame,
          planted: org.apache.spark.sql.Column): Long = {
        val r = pairs.agg(count(lit(1)), sum(when(planted, 1L).otherwise(0L))).head()
        require(r.getLong(0) == 100 && r.getLong(1) == 100,
          s"$fam probe: expected exactly the 100 planted pairs, got " +
            s"${r.getLong(1)} planted of ${r.getLong(0)}")
        r.getLong(0)
      }
      Seq(
        ("minhash", 100000L, 700000L,
          (d: Long) => operators.DedupOps.buildMinhashStore(
            corpus(d), "doc_id", "text", s"$root/svmh_$d"),
          (d: Long) => check("minhash", operators.DedupOps.incrementalNearDupPairs(
            batch, "doc_id", "text", s"$root/svmh_$d"),
            col("id_b") === col("id_a") + 800000000L)),
        ("simhash", 150000L, 1050000L,
          (d: Long) => operators.DedupOps.buildSimhashStore(
            corpus(d), "doc_id", "text", s"$root/svsh_$d"),
          (d: Long) => check("simhash", operators.DedupOps.incrementalSimhashPairs(
            batch, "doc_id", "text", s"$root/svsh_$d"),
            col("id_b") === col("id_a") + 800000000L)),
        ("winnow", 150000L, 1050000L,
          (d: Long) => operators.DedupOps.buildWinnowStore(
            corpus(d), "doc_id", "text", s"$root/svwn_$d"),
          (d: Long) => check("winnow", operators.DedupOps.incrementalWinnowingPairs(
            batch, "doc_id", "text", s"$root/svwn_$d"),
            col("id_b") === col("id_a") + 800000000L))
      ).foreach { case (fam, small, large, build, probe) =>
        build(small); build(large)
        CacheScope.release()
        val (_, tS) = timed(probe(small))
        CacheScope.release()
        val (_, tL) = timed(probe(large))
        CacheScope.release()
        println(f"[scale]   $fam%-8s probe ${tS}%5.1f s @ $small -> ${tL}%5.1f s @ $large " +
          f"(${tL / tS}%.2fx for a ${large.toDouble / small}%.0fx store)")
        require(tL <= 3 * math.max(tS, 2.0),
          f"$fam serving probe scales with the store: ${tS}%.1f s @ $small " +
            f"-> ${tL}%.1f s @ $large")
      }
    }
    time("postings index: 2M-doc build + pruned probe") {
      // 2M common-vocab docs + 1k planted docs holding rare needle terms;
      // the probe must (a) equal the direct whole-corpus scorer EXACTLY,
      // (b) touch only the query terms' bucket partitions
      val docs = syntheticDocs(spark, 2000000).unionByName(
        spark.range(1000).select((col("id") + 50000000L).as("doc_id"),
          concat(lit("needle0 needle1 w0 w1 filler"),
            pmod(col("id"), lit(7)).cast("string")).as("text")))
      operators.SearchOps.buildPostingsIndex(docs, "doc_id", "text", s"$root/pix")
      val terms = Seq("needle0", "needle1", "w0")
      val probe = operators.SearchOps.keywordTopKIndexed(spark, s"$root/pix",
        terms, 100, idCol = "doc_id")
      val got = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toList
      val pf = probe.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("PartitionFilters")).toList
      require(pf.nonEmpty && pf.forall(l => l.contains("bkt")),
        "probe must partition-prune on the term buckets")
      CacheScope.release()
      val t1 = System.nanoTime()
      val direct = operators.TextOps.keywordTopK(docs, "doc_id", "text", terms, 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList
      require(got == direct, "index probe must equal the direct corpus scorer")
      require(got.take(1000).forall(_._2 > 0), "needle docs must outrank")
      println(f"[scale]   direct re-scan for parity         ${(System.nanoTime() - t1) / 1e9}%8.2f s")
    }
    time("bm25: 2M-doc pruned probe vs direct scan") {
      // same index + corpus as the postings entry; the BM25 probe must
      // stay bucket-pruned (dl rides the posting rows — no corpus-sized
      // doc-length join) and equal the direct scan bit-for-bit
      val docs = syntheticDocs(spark, 2000000).unionByName(
        spark.range(1000).select((col("id") + 50000000L).as("doc_id"),
          concat(lit("needle0 needle1 w0 w1 filler"),
            pmod(col("id"), lit(7)).cast("string")).as("text")))
      val terms = Seq("needle0", "needle1", "w0")
      val probe = operators.SearchOps.bm25TopKIndexed(spark, s"$root/pix",
        terms, 100, idCol = "doc_id")
      val got = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toList
      val pf = probe.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("PartitionFilters")).toList
      require(pf.nonEmpty && pf.forall(l => l.contains("bkt")),
        "bm25 probe must partition-prune on the term buckets")
      CacheScope.release()
      val t1 = System.nanoTime()
      val direct = operators.TextOps.bm25TopK(docs, "doc_id", "text", terms, 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList
      require(got == direct, "bm25 index probe must equal the direct scan")
      println(f"[scale]   direct re-scan for parity         ${(System.nanoTime() - t1) / 1e9}%8.2f s")
    }
    // 1M disjoint 11-node stars (components known exactly by
    // construction) + one 65536-node path at a disjoint id range — the
    // diameter stress star contraction exists for: min-label propagation
    // would need 64k rounds, alternating large/small star must finish in
    // O(log² n). Exactness is checked per node, for BOTH variants: the
    // chain is also the active-set variant's design case — the 10M star
    // edges freeze in the first rounds and the remaining ~17 chain rounds
    // run over 64k edges instead of 10M.
    def ccGraphGate(freeze: Boolean): Unit = {
      val blocks = 1000000L; val bsize = 11L
      val stars = spark.range(blocks * (bsize - 1)).select(
        ((col("id") / (bsize - 1)).cast("long") * bsize).as("id_a"),
        ((col("id") / (bsize - 1)).cast("long") * bsize + pmod(col("id"), lit(bsize - 1)) + 1)
          .as("id_b"))
      val cbase = 100000000L; val chainLen = 65536L
      val chain = spark.range(chainLen - 1).select(
        (col("id") + cbase).as("id_a"), (col("id") + cbase + 1).as("id_b"))
      // persisted: the two gate actions below (per-node exactness + counts)
      // must not each re-evaluate the 10M-node label join
      val cc = CacheScope.persist(operators.DedupOps.connectedComponents(
        stars.unionByName(chain), "id_a", "id_b", freezeStars = freeze))
      val mislabeled = cc.where(
        when(col("id") >= cbase, col("component") =!= cbase)
          .otherwise(col("component") =!= (col("id") - pmod(col("id"), lit(bsize))))).count()
      val counts = cc.agg(count(lit(1)), count_distinct(col("component"))).head()
      require(mislabeled == 0, s"$mislabeled nodes got a wrong component label")
      require(counts.getLong(0) == blocks * bsize + chainLen &&
        counts.getLong(1) == blocks + 1,
        s"expected ${blocks * bsize + chainLen} nodes in ${blocks + 1} components, " +
          s"got ${counts.getLong(0)} in ${counts.getLong(1)}")
    }
    time("connected components: 10M star edges + 64k-node chain") {
      ccGraphGate(freeze = false)
    }
    time("connected components, freezeStars: same graph + exactness") {
      ccGraphGate(freeze = true)
    }
    time("cluster store: build from 10M star edges") {
      val blocks = 1000000L; val bsize = 11L
      val stars = spark.range(blocks * (bsize - 1)).select(
        ((col("id") / (bsize - 1)).cast("long") * bsize).as("id_a"),
        ((col("id") / (bsize - 1)).cast("long") * bsize + pmod(col("id"), lit(bsize - 1)) + 1)
          .as("id_b"))
      operators.DedupOps.buildClusterStore(stars, "id_a", "id_b", s"$root/ccstore")
    }
    time("cluster store: 100k-bridge incremental update + exactness") {
      // bridge k fuses blocks 2k and 2k+1 → 200k of the 1M components
      // merge; the update must touch ONLY those (2.2M member labels), not
      // re-cluster the 11M-node graph, and the latest-wins view must match
      // the closed-form labeling per node
      val bsize = 11L
      val bridges = spark.range(100000).select(
        (col("id") * 2L * bsize).as("id_a"),
        ((col("id") * 2L + 1L) * bsize).as("id_b"))
      operators.DedupOps.updateClusterStore(bridges, "id_a", "id_b",
        s"$root/ccstore", "b1")
      val labels = operators.DedupOps.loadClusterLabels(spark, s"$root/ccstore")
        .withColumn("b", expr(s"id div $bsize"))
      val mislabeled = labels.where(col("component") =!=
        when(col("b") < 200000L, (col("b") - pmod(col("b"), lit(2L))) * bsize)
          .otherwise(col("b") * bsize)).count()
      val total = labels.count()
      require(mislabeled == 0L, s"$mislabeled nodes got a wrong merged label")
      require(total == 11000000L, s"expected 11M labeled nodes, got $total")
    }
    time("cluster split: 11M docs, leakage-safe 80/10/10") {
      // split hashed on the MERGED label view (post-bridge): every
      // component must land split-pure, the partition must stay total, and
      // realized shares must track cluster mass within a loose band
      val labels = operators.DedupOps.loadClusterLabels(spark, s"$root/ccstore")
      val docs = spark.range(11000000L).select(col("id").as("doc_id"))
      val split = CacheScope.persist(operators.SampleOps.splitAssignClustered(
        docs, "doc_id", labels,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      val impure = split.join(labels, split("doc_id") === labels("id"), "left")
        .withColumn("c", coalesce(col("component"), col("doc_id")))
        .groupBy(col("c")).agg(count_distinct(col("split")).as("k"))
        .where(col("k") > 1L).count()
      require(impure == 0L, s"$impure components straddle splits")
      val counts = split.groupBy(col("split")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = counts.values.sum
      require(total == 11000000L, s"partition must stay total, got $total")
      val trainShare = counts("train").toDouble / total
      require(math.abs(trainShare - 0.8) < 0.05,
        s"train share $trainShare drifted past the binomial band")
    }
    time("grouped pack: 20M docs, 90% in one language") {
      // the grouped prefix sum's design case: one group dominating the
      // corpus must ride its per-bucket share of bucket-local windows,
      // never one `PARTITION BY lang` window holding 18M rows. Exactness:
      // per-group covered tokens == per-group token totals, and chunk ids
      // are dense 0..maxChunk per group (conservation + no gaps)
      val gdocs = spark.range(n).select(
        col("id").as("doc_id"),
        when(col("id") % 10 < 9, lit("en"))
          .otherwise(concat(lit("l"), pmod(col("id"), lit(7)).cast("string")))
          .as("lang"),
        (pmod(col("id") * 2654435761L, lit(97L)) + 3L).as("__n"))
      val spans = operators.CurationOps.prefixSumGrouped(
        gdocs.select(col("lang"), col("doc_id"), col("__n")),
        "lang", "doc_id", "__n", "__cum")
      val bad = spans.groupBy(col("lang"))
        .agg(max(col("__cum")).as("mx"), sum(col("__n")).as("s"))
        .where(col("mx") =!= col("s")).count()
      require(bad == 0L, "per-group running sum must end at the group total")
    }
    time("salted join: 20M skewed fact rows vs 1k-row dim, vs plain join") {
      // 90% of fact rows share one key — a plain shuffle join funnels
      // them through one reducer task; the salt-replicate join spreads
      // them 32 ways. Row-count parity against the plain join (full
      // exceptAll at 20M would dominate the entry; counts + the unit
      // spec's exact parity cover it).
      val fact = spark.range(n).select(
        when(col("id") % 10 < 9, lit(0L)).otherwise(col("id") % 1000).as("k"),
        col("id").as("x"))
      val dim = spark.range(1000).select(col("id").as("k"),
        (col("id") * 7 % 97).as("tag"))
      val got = operators.SkewOps.saltedJoin(fact, dim, Seq("k"), 32).count()
      val plain = fact.join(dim, Seq("k")).count()
      require(got == plain, s"salted join $got != plain $plain")
      println(s"[scale]   $got joined rows (== plain join)")
    }
    time("salted aggregation over skewed key") {
      // 90% of rows share one key — the shape AQE can't fix for groupBy
      val skewed = spark.range(n).select(
        when(col("id") % 10 < 9, lit(0)).otherwise(col("id") % 1000).as("k"),
        col("id").as("x"))
      operators.SkewOps.saltedAgg(skewed, Seq("k"),
        Seq(operators.SkewOps.Agg("x", "sum"), operators.SkewOps.Agg("*", "count")), 32).count()
    }
    time("spine rolling: 20M obs, 1M spine instants, closed-form exactness") {
      // 1M entities x 20 daily observations; each entity's spine instant
      // sits at noon of day d = entity % 20, so its (t-7d, t] count is
      // min(d+1, 7) in closed form — checked for every spine row.
      val t0us = 1704067200000000L
      val dayUs = 86400000000L
      val robs = spark.range(20000000L).select(
        (col("id") % 1000000L).as("ent"),
        timestamp_micros(lit(t0us) + (col("id") / 1000000L).cast("bigint") * dayUs).as("t"),
        lit(1L).as("v"))
      val rspine = spark.range(1000000L).select(
        col("id").as("ent"), (col("id") % 20).as("d"),
        timestamp_micros(lit(t0us) + (col("id") % 20) * dayUs + lit(dayUs / 2)).as("t"))
      val out = graft.ts.Rolling.trailingAtSpine(rspine, robs, "ent", "t",
        "7d", Seq(graft.ts.Rolling.Agg("*", "count")))
      val bad = out.where(col("count_rows_w") =!= least(col("d") + 1, lit(7))).count()
      require(bad == 0L, s"spine rolling: $bad of 1M spine rows off closed form")
      println(s"[scale]   1M spine instants exact (min(d+1,7) law)")
    }
    time("SCD2 store: 20M obs build, 200k-row update touching 1% of entities") {
      // 1M entities x 20 observations; attr flips pseudo-randomly so
      // ~half the observations are change points. The update batch
      // touches 10k entities (1%) with 20 new rows each — cost must ride
      // the batch, not the store. Exactness: the resolved view over the
      // touched slice equals the one-shot change capture over the full
      // history (closed-form spot check on a 1k-entity sample).
      val ne = 1000000L
      def obsOf(ids: org.apache.spark.sql.DataFrame, lo: Int, hi: Int) =
        ids.select(col("ent"), explode(sequence(lit(lo), lit(hi - 1))).as("k"))
          .select(col("ent"),
            timestamp_micros(lit(1704067200000000L) + col("k") * 3600000000L).as("t"),
            pmod(xxhash64(col("ent"), col("k") * col("k")), lit(3))
              .cast("string").as("attr"),
            (col("ent") * 100 + col("k")).as("tie"))
      val ents = spark.range(ne).select(col("id").as("ent"))
      val base = obsOf(ents, 0, 20)
      val scdPath = s"$root/scd_store"
      val t0 = System.nanoTime()
      graft.ts.Scd.buildScdStore(base, "ent", "t", Seq("attr"), Seq("tie"), scdPath)
      println(f"[scale]   build 20M obs                     ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val touched = spark.range(10000).select((col("id") * 100).as("ent"))
      val upd = obsOf(touched, 20, 40)
      val t1 = System.nanoTime()
      graft.ts.Scd.updateScdStore(upd, scdPath, "b1")
      println(f"[scale]   update 200k obs / 10k entities    ${(System.nanoTime() - t1) / 1e9}%8.2f s")
      // exactness on a sample: entities 0, 100, ..., 99900 (all touched)
      val sample = spark.range(1000).select((col("id") * 100).as("ent"))
      val got = graft.ts.Scd.loadScd(spark, scdPath)
        .join(sample, Seq("ent"), "left_semi")
      val oneShot = graft.ts.Scd.scdIntervals(
        base.unionByName(upd).join(sample, Seq("ent"), "left_semi"),
        "ent", "t", Seq("attr"), Seq("tie"))
      require(got.exceptAll(oneShot).isEmpty && oneShot.exceptAll(got).isEmpty,
        "incremental SCD2 view diverged from the one-shot capture at scale")
      // pruned store probe: 10k spine rows against the 20M-obs store —
      // cost must ride the probed entities, not the store
      val t2 = System.nanoTime()
      val spine = spark.range(10000).select((col("id") * 100 % 1000000L).as("ent"),
        timestamp_micros(lit(1704067200000000L) + (col("id") % 30) * 86400000000L).as("t"))
      val probed = graft.ts.Scd.scdAsOfStored(spine, scdPath, "t").count()
      println(f"[scale]   pruned as-of probe, 10k spine      ${(System.nanoTime() - t2) / 1e9}%8.2f s ($probed rows)")
      require(probed == 10000L, s"probe must return one row per spine row, got $probed")
    }
    time("zorder layout: 20M rows, 256 files, 2-D box prune vs brute") {
      // two independent uniform dims; a (1/16 x 1/16) box covers 1/256 of
      // the key space. Z-clustering must confine it to a small fraction
      // of the 256 files (boundary fragmentation allows a few extra); the
      // pruned read must equal the full-scan filter row-for-row.
      val zdir = s"$root/zorder"
      val zdf = spark.range(n).select(
        col("id"),
        pmod(xxhash64(col("id")), lit(4096L)).as("x"),
        pmod(xxhash64(col("id"), lit(13)), lit(4096L)).as("y"))
      operators.LayoutOps.writeZOrdered(zdf, Seq("x", "y"), zdir,
        nFiles = 256, bits = 12)
      val box = Seq(("x", 1024L, 1279L), ("y", 2048L, 2303L))
      val (sel, total) = operators.LayoutOps.selectFiles(spark, zdir, box)
      require(total == 256, s"expected 256 files, manifest saw $total")
      require(sel.length <= 32,
        s"z-order pruning too weak at scale: ${sel.length}/256 files for a 1/256 box")
      val got = operators.LayoutOps.readPruned(spark, zdir, box).count()
      val brute = spark.read.parquet(zdir)
        .where(col("x").between(1024, 1279) && col("y").between(2048, 2303))
        .count()
      require(got == brute, s"pruned read $got != brute $brute")
      println(s"[scale]   ${sel.length}/256 files opened, $got rows (== brute)")
    }
    time("range join: 10M points vs 200k windows, keyed, vs brute") {
      // 20k users, 1h windows, 30-min bins → each window explodes to ≤3
      // cells and the 600k-row exploded side broadcasts: the 10M-point
      // side joins without shuffling. Brute force = equi-join on user +
      // residual filter (~1e8 intermediate rows) as ground truth.
      val t0us = 1704067200000000L // 2024-01-01
      val span = 30L * 86400 * 1000000
      val pts = spark.range(10000000).select(
        (col("id") % 20000).as("uid"), col("id").as("pid"),
        timestamp_micros(lit(t0us) + pmod(xxhash64(col("id")), lit(span))).as("t"))
      val wins = spark.range(200000).select(
        (col("id") % 20000).as("uid"), col("id").as("wid"),
        timestamp_micros(lit(t0us) + pmod(xxhash64(col("id"), lit(7)), lit(span))).as("ws"))
        .withColumn("we", col("ws") + expr("INTERVAL 1 HOUR"))
      val got = operators.RangeJoinOps.rangeJoin(pts, "t", wins, "ws", "we",
        binWidth = 30L * 60 * 1000000, keys = Seq("uid")).count()
      val brute = pts.join(wins, Seq("uid"))
        .where(col("t") >= col("ws") && col("t") <= col("we")).count()
      require(got == brute, s"range join $got != brute $brute")
      println(s"[scale]   $got matched pairs (== brute force)")
    }
    time("RH-LSH embedding near-dup over 1M vectors") {
      // 950k random 64-dim vectors + 50k planted near-identical copies
      // (ids >= 950k copy id-950k's vector with one perturbed dim).
      // bands/rows sized for this n: background candidate rate is
      // ~ bands * 2^-rows * n^2/2, so rows grows with log2(n); (128, 20)
      // gives pair-miss ~0.3% at cosine 0.9 and ~6e7 background cands.
      val nv = 1000000L; val planted = 50000L
      // Params scale with n: background candidates/band ≈ C(n,2)/2^rows, so
      // rows must grow with log2(n²) — at (192, 24): ~5.5e6 background
      // pairs (the verify-join intermediate carries a 512B vector per
      // candidate, so candidate count IS the shuffle budget), pair-miss at
      // cosine 0.9 ≈ (1-0.856^24)^192 ≈ 1%.
      // per-dim exprs (codegen'd), not a transform lambda (interpreted)
      val dims = (0 until 64).map { i =>
        (pmod(xxhash64(pmod(col("id"), lit(nv - planted)), lit(i)), lit(2001)) - lit(1000))
          .cast("double") / lit(1000.0) +
          (if (i == 0) when(col("id") >= (nv - planted), lit(0.001)).otherwise(lit(0.0))
           else lit(0.0))
      }
      val vecs = spark.range(nv).select(col("id").as("vec_id"),
        array(dims: _*).as("embedding"))
      val pairs = operators.SimilarityOps.rhpNearDupPairs(
        vecs, "vec_id", "embedding", 0.9, bands = 192, rowsPerBand = 24)
      val plan = pairs.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        "LSH near-dup plan must not contain a nested-loop join")
      val found = pairs.count()
      println(s"[scale]   planted $planted near-dup pairs, found $found " +
        f"(recall >= ${found.toDouble / planted}%.4f incl. any true random dups)")
      CacheScope.release()
      // end-to-end semantic dedup on the same fixture: pairs -> clusters ->
      // one representative kept; every planted copy is a 2-cluster with its
      // original, so the kept count is exact
      val t1 = System.nanoTime()
      val kept = operators.SimilarityOps.semanticDedupKeep(
        vecs, "vec_id", "embedding", 0.9, bands = 192, rowsPerBand = 24).count()
      println(f"[scale] semantic dedup keep over 1M vectors  ${(System.nanoTime() - t1) / 1e9}%8.2f s")
      // tight band, not exact equality: 100% LSH recall on the planted pairs
      // and zero background cosine>=0.9 merges among 950k random vectors are
      // both overwhelmingly likely but probabilistic
      require(kept >= nv - planted - 5 && kept <= nv - planted,
        s"expected ~${nv - planted} kept (band ±5) after collapsing $planted planted 2-clusters, got $kept")
    }
    time("SQ8 index: 1M-vector build + 100-query probe vs brute force") {
      // same 64-dim synthetic family as the RH-LSH entry (no plants —
      // recall here is vs the exact brute-force answer, not a construction)
      val nv = 1000000L
      val dims = (0 until 64).map { i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(2001)) - lit(1000))
          .cast("double") / lit(1000.0)
      }
      val vecs = spark.range(nv).select(col("id").as("vec_id"),
        array(dims: _*).as("embedding"))
      val queries = vecs.where(col("vec_id") < 100)
      val path = s"$root/sq8_smoke"
      val t0 = System.nanoTime()
      operators.SimilarityOps.buildSq8Index(vecs, "vec_id", "embedding", path)
      println(f"[scale]   sq8 build 1M x 64d               ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val t1 = System.nanoTime()
      val got = operators.SimilarityOps.sq8TopKIndexed(vecs, queries,
        "vec_id", "embedding", path, 10, candFactor = 8)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[scale]   sq8 probe (40 cands/query)        ${(System.nanoTime() - t1) / 1e9}%8.2f s")
      CacheScope.release()
      // recall baseline on a 16-query subsample: the exact scan is
      // O(queries × corpus) full-precision dots by definition — the cost
      // the sq8 path exists to avoid — so the smoke buys its ground truth
      // 1/6th as often as it probes (recall estimate ±~5% at 160 checks)
      val t2 = System.nanoTime()
      val exact = operators.SimilarityOps.bruteForceTopK(vecs,
        vecs.where(col("vec_id") < 16), "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[scale]   brute-force 16-query baseline     ${(System.nanoTime() - t2) / 1e9}%8.2f s")
      val gotSub = got.filter(_._1 < 16)
      val recall = (exact & gotSub).size.toDouble / exact.size
      println(f"[scale]   sq8 recall vs brute force         $recall%8.4f")
      require(recall >= 0.85,
        s"sq8 recall $recall at 1M vectors below 0.85 — candidate pool too tight")
    }
    time("length-bucketed batches over 5M variable-length docs") {
      val nd = 5000000L
      // token counts 1..512, exact independently-computable total
      val lens = spark.range(nd).select(col("id"),
        (pmod(xxhash64(col("id")), lit(512)) + 1).as("len"))
      val docs = lens.select(col("id"),
        concat_ws(" ", transform(sequence(lit(1), col("len")), _ => lit("t")))
          .as("text"))
      val batches = operators.CurationOps.lengthBucketBatches(docs, "id",
        "text", boundaries = Seq(64L, 128L, 256L, 512L), batchDocs = 16,
        shards = 64)
      val agg = batches.agg(
        sum("n_docs").as("docs"), sum("sum_tokens").as("toks"),
        max("n_docs").as("mx"), sum("pad_tokens").as("pad")).head()
      val expectTokens = lens.agg(sum("len")).head().getLong(0)
      require(agg.getLong(0) == nd && agg.getLong(1) == expectTokens,
        s"batching must partition all docs/tokens exactly, got $agg")
      require(agg.getLong(2) <= 16, "no batch may exceed batchDocs")
      println(f"[scale]   pad fraction                      ${agg.getLong(3).toDouble / expectTokens}%8.4f")
    }
    time("PQ index: 1M-vector build + 100-query probe vs brute force") {
      // same synthetic vector family as the SQ8 entry. These vectors are
      // UNIFORM RANDOM — structure-free, PQ's documented worst case (no
      // clusters for codebooks to exploit; sub-dot errors concentrate), so
      // this entry is a recall FLOOR for real embedding corpora. m=16
      // sub-spaces of 4 dims (128-bit codes vs SQ8's 512) with a deeper
      // 320-candidate pool hold recall; at m=8/80-cand the same data gave
      // 0.53 — the honest compression/recall trade, printed not hidden.
      val nv = 1000000L
      val dims = (0 until 64).map { i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(2001)) - lit(1000))
          .cast("double") / lit(1000.0)
      }
      val vecs = spark.range(nv).select(col("id").as("vec_id"),
        array(dims: _*).as("embedding"))
      val queries = vecs.where(col("vec_id") < 100)
      val path = s"$root/pq_smoke"
      val t0 = System.nanoTime()
      operators.SimilarityOps.buildPqIndex(vecs, "vec_id", "embedding", path,
        m = 16, ksub = 256, refineIters = 1)
      println(f"[scale]   pq build 1M x 64d (m=16, k=256)   ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val t1 = System.nanoTime()
      val got = operators.SimilarityOps.pqTopKIndexed(vecs, queries,
        "vec_id", "embedding", path, 10, candFactor = 32)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[scale]   pq probe (320 cands/query)        ${(System.nanoTime() - t1) / 1e9}%8.2f s")
      CacheScope.release()
      // ground truth on a 16-query subsample (same budget discipline as
      // the SQ8 entry: the exact scan is the cost ANN exists to avoid)
      val exact = operators.SimilarityOps.bruteForceTopK(vecs,
        vecs.where(col("vec_id") < 16), "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotSub = got.filter(_._1 < 16)
      val recall = (exact & gotSub).size.toDouble / exact.size
      println(f"[scale]   pq recall vs brute force          $recall%8.4f")
      require(recall >= 0.75,
        s"pq recall $recall at 1M vectors below 0.75 — codebooks or candidate pool too tight")
    }
    time("balanced PQ vs plain PQ on energy-skewed dims (the OPQ-lite claim)") {
      // 500k vectors whose energy concentrates in dims 0..7 (signal x32,
      // the rest near-noise): POSITIONAL sub-spaces dump all signal dims
      // into sub-space 0 and quantize them through one ksub-way codebook
      // while three sub-spaces quantize noise; the balanced permutation
      // deals 2 signal dims to each sub-space. Recall@10 against the
      // exact scan must not degrade under balancing, and the usual floor
      // holds — the CLAIM (balance >= plain on skewed energy) is printed
      // and asserted with a small tie tolerance.
      val nv = 500000L
      val dims = (0 until 64).map { i =>
        val raw = (pmod(xxhash64(col("id"), lit(i)), lit(2001)) - lit(1000))
          .cast("double") / lit(1000.0)
        if (i < 8) raw * 32.0 else raw
      }
      val vecs = spark.range(nv).select(col("id").as("vec_id"),
        array(dims: _*).as("embedding"))
      val queries = vecs.where(col("vec_id") < 16)
      val exact = operators.SimilarityOps.bruteForceTopK(vecs, queries,
        "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      CacheScope.release()
      def recallOf(res: org.apache.spark.sql.DataFrame): Double = {
        val got = res.select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (exact & got).size.toDouble / exact.size
      }
      val plain = recallOf(operators.SimilarityOps.pqTopK(vecs, queries,
        "vec_id", "embedding", 10, m = 4, ksub = 64, refineIters = 1,
        candFactor = 16))
      CacheScope.release()
      val balanced = recallOf(operators.SimilarityOps.pqTopKBalanced(vecs,
        queries, "vec_id", "embedding", 10, m = 4, ksub = 64,
        refineIters = 1, candFactor = 16))
      CacheScope.release()
      println(f"[scale]   recall plain=$plain%6.4f balanced=$balanced%6.4f")
      // measured at 500k: plain 0.025, balanced 0.319 — a ~13x gap. The
      // construction is deliberately adversarial (structure-free noise
      // dims + coarse 64-cell codebooks), so absolute recall is low for
      // BOTH; the claim under test is the balance DELTA, asserted with a
      // wide margin plus a floor well above plain's collapse point.
      require(balanced >= plain + 0.1,
        s"balanced PQ recall $balanced no longer beats plain $plain on skewed energy")
      require(balanced >= 0.2,
        s"balanced PQ recall $balanced below the 0.2 floor on skewed energy")
    }
    time("IVF+PQ: 1M-vector cell-partitioned index, pruned probe") {
      // same structure-free vector family as the PQ entry — with uniform
      // vectors IVF cells tile the sphere arbitrarily, so the probed
      // 8/64 of the corpus bounds recall vs the full-scan PQ answer: this
      // measures the PRUNING mechanics (cell-partitioned layout, probe
      // reads only its cells' dirs, candidates ∝ nProbe/nCells) and the
      // agreement floor, honestly below clustered real-embedding recall.
      val nv = 1000000L
      val dims = (0 until 64).map { i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(2001)) - lit(1000))
          .cast("double") / lit(1000.0)
      }
      val vecs = spark.range(nv).select(col("id").as("vec_id"),
        array(dims: _*).as("embedding"))
      val queries = vecs.where(col("vec_id") < 100)
      val path = s"$root/ivfpq_smoke"
      val t0 = System.nanoTime()
      operators.SimilarityOps.buildIvfPqIndex(vecs, "vec_id", "embedding",
        path, nCells = 64, ivfRefine = 1, m = 16, ksub = 256, pqRefine = 1)
      println(f"[scale]   ivfpq build (64 cells, m=16)      ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val t1 = System.nanoTime()
      val got = operators.SimilarityOps.ivfPqTopKIndexed(vecs, queries,
        "vec_id", "embedding", path, 10, nProbe = 8, candFactor = 32)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[scale]   ivfpq probe (8/64 cells)          ${(System.nanoTime() - t1) / 1e9}%8.2f s")
      require(got.size == 1000, s"expected 100 queries x 10 rows, got ${got.size}")
      CacheScope.release()
      // agreement vs the unpruned PQ scan on a 16-query subsample (the
      // exact scan baseline lives in the PQ entry; here the delta under
      // test is the cell pruning itself)
      val t2 = System.nanoTime()
      val full = operators.SimilarityOps.pqTopK(vecs,
        vecs.where(col("vec_id") < 16), "vec_id", "embedding", 10,
        m = 16, ksub = 256, refineIters = 1, candFactor = 32)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[scale]   full-scan PQ (16q, same params)   ${(System.nanoTime() - t2) / 1e9}%8.2f s")
      val gotSub = got.filter(_._1 < 16)
      val agree = (full & gotSub).size.toDouble / full.size
      println(f"[scale]   probed/full agreement             $agree%8.4f")
      require(agree >= 0.25,
        s"8/64-cell probe agreement $agree vs full PQ scan collapsed — pruning broken?")
      CacheScope.release()
    }
    time("wide fan-in: 100-feature loadFeatures through one flat plan") {
      // feature-store width (M2 fan-in at training-set-export scale): 100
      // features, each its own time grid, loaded through ONE plan. Above
      // Align.WideAlignThreshold the align runs stack-then-pivot — one
      // shuffle and a flat plan — instead of a 100-deep full-outer join
      // chain (whose Catalyst analysis alone is the scale risk here);
      // equivalence of the two shapes is pinned in AlignSpec.
      val fsRoot = s"$root/widefs"
      val fstore = new graft.api.FeatureStore(fsRoot, spark)
      fstore.catalog.createNamespace(graft.catalog.NamespaceDef("wide", "wide smoke"))
      val nf = 100
      val perF = 20000L
      val t0 = System.nanoTime()
      (0 until nf).foreach { i =>
        fstore.createFeature(s"wide/f$i")
        fstore.saveDf(spark.range(perF).select(
          timestamp_micros(lit(1609459200000000L) + col("id") * 600000000L +
            lit(i.toLong * 7000000L)).as("time"),
          (col("id") + i.toLong * 1000000L).cast("double").as("value"),
          timestamp_micros(lit(1609459200000000L)).as("created_time")),
          name = Some(s"wide/f$i"))
      }
      println(f"[scale]   ingest 100 x 20k features         ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val names = (0 until nf).map(i => s"wide/f$i")
      val t1 = System.nanoTime()
      val wide = fstore.loadFeatures(names)
      val assembleSecs = (System.nanoTime() - t1) / 1e9
      println(f"[scale]   assemble (scans+cuts job)         $assembleSecs%8.2f s")
      val t1b = System.nanoTime()
      val plan = wide.queryExecution.executedPlan // forces analysis+planning
      val catalystSecs = (System.nanoTime() - t1b) / 1e9
      println(f"[scale]   catalyst (analyze+optimize)       $catalystSecs%8.2f s")
      val planSecs = assembleSecs + catalystSecs
      val t2 = System.nanoTime()
      val cnt = wide.count()
      println(f"[scale]   execute (count)                   ${(System.nanoTime() - t2) / 1e9}%8.2f s")
      // every (feature, id) time is distinct by construction: offsets 7s
      // apart inside a 600s id step
      require(cnt == nf * perF, s"wide align row count $cnt != ${nf * perF}")
      // plan build is dominated by the 100 per-feature FILE LISTINGS
      // (driver-side InMemoryFileIndex init; ~0.5 s each here) — since
      // r12 they run on a bounded driver pool (loadFeatures wide path),
      // so the guard tightened 90 s -> 20 s; it still also catches the
      // old join-chain analysis blowup, which was MINUTES
      require(planSecs < 20.0, f"plan build took $planSecs%.1f s — " +
        "listings no longer parallel, or the join-chain blowup is back?")
      val nEx = plan.toString.linesIterator.count(_.contains("Exchange"))
      // the r11 fused path: per-feature latest-version dedup rides INSIDE
      // the one pivot aggregation (Align.alignOuterRaw) — pre-fuse, each
      // feature planned its own dedup exchange before the stack and this
      // gate read 404
      require(nEx < 30, s"wide load ran $nEx exchanges — expected the one-shuffle pivot shape")
    }
    time("wide fan-in x10: 1000-feature export, constant exchange count") {
      // 10x the export width at reduced rows/feature: the one-scan fused
      // path's promise is that exchange count is a CONSTANT of the align
      // machinery (independent of width) and plan build is one parallel
      // listing (linear in dirs, not features x sequential-latency).
      // Fixture plumbing: 1000 saveDf round-trips would be ~25 min of
      // per-call job overhead, so the hive layout is written by ONE
      // partitioned job (feature name as a staging partition column,
      // renamed into the per-feature dirs) with value dtypes pinned at
      // create time — the 100-feature entry above keeps exercising the
      // real saveDf ingest path.
      val fsRoot = s"$root/widefs1k"
      val fstore = new graft.api.FeatureStore(fsRoot, spark)
      fstore.catalog.createNamespace(graft.catalog.NamespaceDef("w1k", "wide x10 smoke"))
      val nf = 1000
      val perF = 2000L
      val t0 = System.nanoTime()
      (0 until nf).foreach { i =>
        fstore.createFeature(s"w1k/f$i",
          meta = Map(graft.catalog.Catalog.ValueDtypeKey -> "double"))
      }
      println(f"[scale]   catalog create 1000 features      ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val t1 = System.nanoTime()
      val staging = s"$root/widefs1k_staging"
      spark.range(nf.toLong * perF).select(
        concat(lit("f"), (col("id") % nf).cast("string")).as("__name"),
        timestamp_micros(lit(1609459200000000L) +
          expr(s"id div $nf") * 600000000L + (col("id") % nf) * 7000L).as("time"),
        (col("id") % nf * 1000000L + expr(s"id div $nf")).cast("double").as("value"),
        timestamp_micros(lit(1609459200000000L)).as("created_time"))
        .withColumn("partition", date_format(col("time"), "yyyy-MM-dd"))
        .repartition(col("__name"), col("partition"))
        .write.partitionBy("__name", "partition").mode("overwrite").parquet(staging)
      val hfs = new org.apache.hadoop.fs.Path(staging)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (0 until nf).foreach { i =>
        val dst = new org.apache.hadoop.fs.Path(s"$fsRoot/feature/w1k/f$i")
        hfs.mkdirs(dst.getParent)
        require(hfs.rename(new org.apache.hadoop.fs.Path(s"$staging/__name=f$i"), dst),
          s"staging rename for f$i failed")
      }
      println(f"[scale]   bulk ingest 1000 x 2k features    ${(System.nanoTime() - t1) / 1e9}%8.2f s")
      val names = (0 until nf).map(i => s"w1k/f$i")
      val t2 = System.nanoTime()
      val wide = fstore.loadFeatures(names)
      val assembleSecs = (System.nanoTime() - t2) / 1e9
      println(f"[scale]   assemble (one parallel listing)   $assembleSecs%8.2f s")
      val t3 = System.nanoTime()
      val plan = wide.queryExecution.executedPlan
      val catalystSecs = (System.nanoTime() - t3) / 1e9
      println(f"[scale]   catalyst (analyze+optimize)       $catalystSecs%8.2f s")
      val t4 = System.nanoTime()
      val cnt = wide.count()
      println(f"[scale]   execute (count)                   ${(System.nanoTime() - t4) / 1e9}%8.2f s")
      require(cnt == nf * perF, s"wide x10 row count $cnt != ${nf * perF}")
      // 10x the width must NOT 10x the plan build (one listing, parallel)
      require(assembleSecs + catalystSecs < 60.0,
        f"1000-feature plan build took ${assembleSecs + catalystSecs}%.1f s — linear-sequential again?")
      val nEx = plan.toString.linesIterator.count(_.contains("Exchange"))
      require(nEx < 30,
        s"1000-feature load ran $nEx exchanges — the fused pivot's width-independence broke")
    }
    time("media decode: 200k real WAV clips, exact stats") {
      // codec throughput shape: executor-side encode then decode of 200k
      // genuine WAV containers (~120M samples) through the batched
      // mapPartitions plumbing — no shuffle, embarrassingly parallel, the
      // 100 TB story is partition count × this per-core rate. Exactness:
      // sample sums are closed-form, so the aggregate total is checked
      // against driver-side arithmetic, not just row counts.
      val nClips = 200000L
      val ids = spark.range(nClips).select(col("id").as("doc_id"))
      val t0 = System.nanoTime()
      val stats = operators.MultimodalOps.decodeAudioStats(
        operators.MultimodalOps.syntheticAudioTable(ids, "doc_id"))
      val agg = stats.toDF().agg(
        sum("n_samples"), sum("sum_val"), count(lit(1))).head()
      println(f"[scale]   encode+decode 200k WAVs           ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      require(agg.getLong(2) == nClips, s"every clip must decode, got ${agg.getLong(2)}")
      // driver-side truth over the closed forms (id-periodic, cheap)
      var wantN = 0L; var wantSum = 0L
      var id = 0L
      while (id < nClips) {
        val n = operators.MultimodalOps.synthAudioLen(id)
        wantN += n
        var i = 0
        while (i < n) {
          wantSum += ((((id * 31 + i.toLong * 7) % 65536) + 65536) % 65536) - 32768
          i += 1
        }
        id += 1
      }
      require(agg.getLong(0) == wantN && agg.getLong(1) == wantSum,
        s"decoded totals (${agg.getLong(0)}, ${agg.getLong(1)}) != ($wantN, $wantSum)")
    }
    time("quantileKeepLarge == exact cut over 5M scored rows") {
      val nr = 5000000L
      val scored = spark.range(nr).select(col("id"),
        pmod(xxhash64(col("id"), lit(7)), lit(1000000)).as("score"),
        pmod(col("id"), lit(5)).cast("string").as("grp"))
      val large = operators.CurationOps.quantileKeepLarge(
        scored, "id", "score", "grp", 0.2).select("id")
      val exact = operators.CurationOps.quantileKeep(
        scored, "id", "score", "grp", 0.2).select("id")
      // set equality, not just count equality: same size AND no difference
      val exactKept = exact.count()
      require(large.count() == exactKept &&
          large.except(exact).count() == 0,
        s"pre-cut path diverged from the exact cut at scale ($exactKept exact)")
    }
    hfs.delete(p, true)
    spark.stop()
  }
}

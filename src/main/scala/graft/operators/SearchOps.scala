package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted keyword-search index — the build-once/probe-many twin of
  * [[TextOps.keywordTopK]] (which re-scans the corpus per query), and the
  * fourth member of the store family (minhash / fingerprint / IVF /
  * postings): at 100 TB the tokenize+count pass is the expensive part and
  * must be paid at ingest, not per query.
  *
  * Layout at `path` (all appends per-token atomic overwrites, the
  * [[DedupOps.appendMinhashStore]] replay contract):
  *  - `postings/batch=<tok>/bkt=<b>/` — (id, term, tf) rows,
  *    hive-partitioned by `bkt = baseHash(term) % TermBuckets`, so a probe
  *    reads ONLY its query terms' bucket dirs (partition pruning:
  *    ~|terms|/256 of the index regardless of corpus size);
  *  - `terms/batch=<tok>/bkt=<b>/` — per-batch (term, df) document
  *    frequencies, additive across batches (batches hold disjoint ids);
  *  - `counts/batch=<tok>/` — one (n_docs) row per batch.
  * The df/count sidecars are derived by READING BACK the just-written
  * postings batch (columnar, term column only) — never a second tokenize
  * pass over the text, and consistent with the postings by construction.
  */
object SearchOps {

  /** Term-hash partition fan-out. Fixed: changing it across appends would
    * scatter a term over mismatched bucket dirs and break probe pruning.
    */
  val TermBuckets = 256

  private def bucketOf(term: String): Long =
    graft.functions.Md5Prefix60.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(term)) % TermBuckets

  /** Build (overwrite) the index at `path` from scratch. */
  def buildPostingsIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
      graft.StoreCommit.rebuild(docs.sparkSession, path) {
    appendPostingsIndex(docs, idCol, textCol, path, "base")
  }

  /** Append one batch of NEW docs (ids must be disjoint from every prior
    * batch — the additivity of the df/count sidecars depends on it).
    * Re-running with the same token overwrites that token's dirs rather
    * than duplicating rows.
    */
  def appendPostingsIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String,
      batchToken: String = java.util.UUID.randomUUID.toString): Unit =
      graft.StoreLock.withLock(docs.sparkSession, path) {
    DedupOps.ensureHashRegistered(docs)
    // null text = empty text: the doc must still reach the postings (as its
    // [''] token) so the n_docs sidecar counts it — [[keywordTopKIndexed]]
    // and [[TextOps.keywordTopK]] must agree on N for any corpus
    // dl (doc length in tokens) rides DENORMALIZED on every posting row:
    // BM25's length normalization needs it at probe time, and a separate
    // per-doc sidecar would cost the probe an O(corpus) id-join — carrying
    // one int per posting keeps the probe fully bucket-pruned
    graft.StoreCommit.writeBatch(docs.sparkSession, path, batchToken)(
      writePostingsBatch(_, docs.select(col(idCol).as("id"),
          explode(TextOps.tokens(coalesce(col(textCol), lit("")))).as("term"),
          TextOps.tokenCount(coalesce(col(textCol), lit(""))).as("dl"))
        .groupBy(col("id"), col("term"))
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .withColumn("bkt", pmod(DedupOps.baseHash(col("term")), lit(TermBuckets.toLong)))))
  }

  /** One token's three families from its (id, term, tf, dl, bkt) postings
    * — shared by appends and compaction, so both derive the df/count
    * sidecars the same way; they commit ALL-OR-NOTHING under the token's
    * one marker ([[graft.StoreCommit]]'s multi-family contract).
    */
  private def writePostingsBatch(b: graft.StoreCommit.BatchWriter,
      postings: DataFrame): Unit = {
    val dir = b.dir("postings")
    postings
      .repartition(TermBuckets, col("bkt")) // one writer task per bucket — no small files
      .write.partitionBy("bkt").mode("overwrite")
      .parquet(dir)
    // sidecars from the written batch: one (id, term) row per doc-term, so
    // count(*) per term IS the batch's df and count_distinct(id) its size
    // (every doc emits >= 1 token — split of "" is [""])
    val back = postings.sparkSession.read.parquet(dir)
    back.groupBy(col("term"), col("bkt"))
      .agg(count(lit(1)).as("df"))
      .repartition(TermBuckets, col("bkt"))
      .write.partitionBy("bkt").mode("overwrite")
      .parquet(b.dir("terms"))
    // n_tokens = Σ tf over the batch = Σ dl over its (disjoint) docs —
    // additive across batches like n_docs, and the probe's avgdl input
    b.write(back.agg(count_distinct(col("id")).as("n_docs"),
        sum(col("tf")).cast("long").as("n_tokens"))
      .coalesce(1), "counts")
  }

  /** Compact a many-batch index (a long-running streaming tail appends one
    * batch dir per micro-batch) into a fresh single-batch index at
    * `dstPath` — WITHOUT re-tokenizing any text: postings are read from
    * the source index and rewritten under one `batch=base`, sidecars
    * re-derived the same way an append derives them. Crash-safe by
    * construction: `dstPath` is rebuilt from scratch (an interrupted
    * compaction leaves a partial dst to overwrite, never a double-counted
    * src — which is why this does NOT compact in place: a crash between
    * writing a merged batch and deleting the old dirs would double df/N).
    * The caller swaps paths when the new index is complete.
    */
  def compactPostingsIndex(spark: SparkSession, srcPath: String,
      dstPath: String): Unit =
    graft.StoreCommit.compact(spark, srcPath, dstPath)(
      writePostingsBatch(_, graft.StoreCommit.read(spark, srcPath, Some("postings"))
        .select(col("id"), col("term"), col("tf"), col("dl"), col("bkt"))))

  /** Top-k docs for `terms` from a persisted index: IDENTICAL result to
    * [[TextOps.keywordTopK]] over the union of all appended batches (df
    * and N sum across batches; idf_bits = bitlen(N) - bitlen(df); ranking
    * by (score DESC, id ASC)) — but the corpus is never touched: the
    * postings and terms scans prune to the query terms' bucket partitions
    * (the bucket set is computed DRIVER-side with the same md5-prefix
    * hash), so probe cost is ~|terms|/[[TermBuckets]] of the index.
    * `idCol` only names the output column.
    */
  def keywordTopKIndexed(spark: SparkSession, path: String,
      terms0: Seq[String], k: Int, idCol: String = "id"): DataFrame = {
    require(terms0.nonEmpty, "need at least one query term")
    require(k > 0, "k must be positive")
    // postings hold lowercased tokens ([[TextOps.tokens]]) — normalize the
    // query BEFORE hashing, or a mixed-case term probes the wrong bucket
    // and silently matches nothing
    val terms = terms0.map(_.toLowerCase).distinct
    val bkts = terms.map(bucketOf).distinct
    def pruned(sub: String): DataFrame =
      graft.StoreCommit.read(spark, path, Some(sub))
        .where(col("bkt").cast("long").isin(bkts: _*) &&
          col("term").isin(terms: _*))
    val n = graft.StoreCommit.read(spark, path, Some("counts"))
      .agg(sum(col("n_docs"))).head().getLong(0)
    def bitlen(x: org.apache.spark.sql.Column) = length(bin(x))
    val dfT = pruned("terms")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .select(col("term"),
        (bitlen(lit(n)) - bitlen(col("df"))).cast("long").as("__idf"))
    pruned("postings")
      .join(broadcast(dfT), Seq("term"))
      .groupBy(col("id"))
      // ids are disjoint across batches and (id, term) unique within one,
      // so the row count per id is its matched distinct-term count
      .agg(sum(col("tf") * col("__idf")).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("score"), col("n_terms"))
  }

  /** BM25 top-k from a persisted index (Robertson/Spärck Jones; k1 = 1.2,
    * b = 0.75, the standard defaults) — [[keywordTopKIndexed]]'s ranking
    * upgraded with term-frequency saturation and document-length
    * normalization, and [[TextOps.bm25TopK]]'s build-once/probe-many twin
    * (identical results over the union of batches).
    *
    * Engine-exact quantization instead of float scoring: with k1 = 6/5 and
    * b = 3/4, the per-term BM25 contribution
    * `idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` becomes — after
    * quantizing avgdl to tenths of a token, `a10 = (10·T) div N` — the
    * integer-exact floor division
    * `(22000·a10·idf·tf) div (10·a10·tf + 3·a10 + 90·dl)`,
    * i.e. the true value scaled by 1000 and floored, with the same
    * bit-length idf as [[keywordTopKIndexed]]. All operands positive, so
    * Spark's `div` and the oracle's `//` agree exactly. Safe while
    * `a10·idf·tf < 4·10^14` (avgdl·tf ≲ 6·10^11 — beyond any real
    * corpus/doc pair; exceeding it would need a single document of ~10^6
    * tokens in a corpus averaging ~10^5).
    *
    * Scale shape identical to [[keywordTopKIndexed]]: bucket-pruned
    * postings/terms scans (dl rides on the posting rows — no per-doc
    * sidecar join), broadcast df table, TakeOrdered top-k; N and T are the
    * two driver scalars from the counts sidecar.
    */
  def bm25TopKIndexed(spark: SparkSession, path: String,
      terms0: Seq[String], k: Int, idCol: String = "id"): DataFrame = {
    require(terms0.nonEmpty, "need at least one query term")
    require(k > 0, "k must be positive")
    val terms = terms0.map(_.toLowerCase).distinct
    val bkts = terms.map(bucketOf).distinct
    def pruned(sub: String): DataFrame =
      graft.StoreCommit.read(spark, path, Some(sub))
        .where(col("bkt").cast("long").isin(bkts: _*) &&
          col("term").isin(terms: _*))
    val cnt = graft.StoreCommit.read(spark, path, Some("counts"))
      .agg(sum(col("n_docs")).cast("long").as("n"),
        sum(col("n_tokens")).cast("long").as("t")).head()
    val n = cnt.getLong(0)
    require(n > 0, "bm25TopKIndexed: empty index")
    val a10 = 10L * cnt.getLong(1) / n // avgdl in tenths; >= 10 (>= 1 tok/doc)
    def bitlen(x: org.apache.spark.sql.Column) = length(bin(x))
    val dfT = pruned("terms")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .select(col("term"),
        (bitlen(lit(n)) - bitlen(col("df"))).cast("long").as("__idf"))
    pruned("postings")
      .join(broadcast(dfT), Seq("term"))
      .withColumn("__num", lit(22000L * a10) * col("__idf") * col("tf"))
      .withColumn("__den",
        lit(10L * a10) * col("tf") + lit(3L * a10) + lit(90L) * col("dl"))
      .withColumn("__c", expr("__num div __den"))
      .groupBy(col("id"))
      .agg(sum(col("__c")).as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("score"), col("n_terms"))
  }
}

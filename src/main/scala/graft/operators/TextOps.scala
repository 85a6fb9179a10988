package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, BPE-ish token counting, quality signals, language-ID
  * heuristic, document fingerprinting. All are pure column expressions
  * (whole-stage-codegen'd, no UDFs) so they scale embarrassingly — no
  * shuffle, no driver involvement, pushdown-friendly.
  *
  * Determinism contract (for the DuckDB oracle): only IEEE double ops on
  * exact integers — no `round()` of computed doubles (Spark rounds the
  * shortest-string repr, other engines the binary value).
  */
object TextOps {

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(text), " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: runs of letters, digits, or single other
    * non-space chars — the standard pre-tokenizer shape.
    */
  val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))
  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Count of punctuation chars. */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[.,;:!?'\"()\\-]"), lit(0)))

  /** Unicode NFC normalization ([[graft.functions.NfcNormalize]], codegen'd,
    * ASCII fast-path). Register via [[cleanText]] or GraftExtensions.
    */
  def nfc(text: Column): Column =
    call_function(graft.functions.NfcNormalize.name, text)

  /** Corpus text normalization — the standard pre-dedup cleanup pass:
    * 1. Unicode NFC composition (composed/decomposed "é" unify, so
    *    byte-level fingerprints/shingles/line-dedup downstream agree);
    * 2. control characters other than tab/newline/CR become spaces;
    * 3. runs of spaces/tabs collapse to one space; 4. trim.
    * Newlines survive — line-level operators ([[DedupOps.dedupLines]])
    * depend on them. Null text normalizes to "".
    *
    * Scale: pure map-side column expressions (the NFC kernel is a custom
    * codegen'd Expression — a scala UDF here would break whole-stage
    * codegen for the entire downstream stage), no shuffle, fully
    * pushdown-transparent.
    */
  def cleanText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.NfcNormalize.register(df.sparkSession)
    df.select(col(idCol),
      trim(regexp_replace(
        regexp_replace(nfc(coalesce(col(textCol), lit(""))),
          "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", " "),
        "[ \\t]+", " ")).as(textCol))
  }

  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be")

  /** Number of tokens that are stopwords (quality signal: natural prose has
    * a healthy stopword rate; keyword-stuffed or boilerplate text does not).
    */
  def stopwordCount(text: Column): Column = {
    val sw = array(Stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(sw, t)))
  }

  /** Mean token length as an exact double (sum of lengths / token count). */
  def meanTokenLength(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t)).cast("double") /
      tokenCount(text).cast("double")

  /** Composite quality score in [0,1]-ish: stopword rate (0.4 weight),
    * length saturation at 1000 chars (0.3), inverse punct density (0.3).
    * Pure IEEE arithmetic over integer counts — cross-engine exact.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val stopRate = stopwordCount(text).cast("double") / nTok
    val lenScore = least(length(text).cast("double") / 1000.0, lit(1.0))
    val punctRate = punctCount(text).cast("double") / length(text).cast("double")
    stopRate * 0.4 + lenScore * 0.3 + (lit(1.0) - punctRate) * 0.3
  }

  /** fasttext-shaped hashed linear quality classifier: per document,
    * score = Σ_tokens w[baseHash(token) mod dims] / n_tokens + intercept —
    * the mean of hashed-bucket weights, i.e. a linear model over a
    * bag-of-words hashing-trick feature vector (Weinberger 2009; the
    * fastText supervised scorer used by CCNet/LLaMA-style quality filters
    * is exactly this shape plus a softmax). The caller supplies the
    * trained weights as a (bucket, weight) frame — typically a few MBs
    * even at fastText's 2M-bucket default, so it BROADCASTS; tokens
    * missing from the weight table contribute 0 (they still count in the
    * denominator, as an untrained fastText bucket would).
    *
    * Scale: tokens explode map-side, the weight join is broadcast-hash
    * (no corpus shuffle), and the per-doc mean is one id-keyed partial
    * aggregate — the corpus is shuffled once, as (id, weight) pairs.
    * Docs with no tokens (null/empty text) score exactly `intercept`.
    * Hash is the engine-reproducible md5-prefix base hash, so scores are
    * oracle-exact when the weights are (integer-valued doubles sum
    * exactly in any order; arbitrary doubles agree to ~1 ulp).
    */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, dims: Int,
      bucketCol: String = "bucket", weightCol: String = "w",
      intercept: Double = 0.0): DataFrame = {
    require(dims > 0, "dims must be positive")
    DedupOps.ensureHashRegistered(df)
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol),
        pmod(DedupOps.baseHash(col("__t")), lit(dims.toLong)).as("__b"))
    val scored = toks
      .join(broadcast(weights.select(col(bucketCol).as("__b"),
        col(weightCol).cast("double").as("__w"))), Seq("__b"), "left")
      .groupBy(col(idCol))
      .agg((coalesce(sum(col("__w")), lit(0.0)) / count(lit(1))
        + lit(intercept)).as("score"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("score"), lit(intercept)).as("score"))
  }

  /** The `n` most frequent whitespace words of the corpus as a
    * `(word, pieces)` vocab with `pieces = 1` — the self-contained demo
    * builder for [[vocabTokenCounts]] (frequent words are single tokens in
    * any trained tokenizer). Ties at the cut rank break on the word
    * itself, so the vocab is deterministic across engines and reruns.
    *
    * Scale: one corpus-word shuffle (the frequency groupBy) + a
    * `TakeOrdered` top-n — no global sort materializes.
    */
  def topWordVocab(docs: DataFrame, textCol: String, n: Int): DataFrame =
    docs.select(explode(tokens(coalesce(col(textCol), lit("")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("word"))
      .limit(n)
      .select(col("word"), lit(1L).as("pieces"))

  /** Top-n corpus words as a `(word, pieces)` vocab whose `pieces` is the
    * piece SEQUENCE (here: the word itself as a single piece — frequent
    * words are single tokens in any trained tokenizer), the materializing
    * sibling of [[topWordVocab]]'s counts-only table. A real tokenizer's
    * dump plugs in behind the same (word, array-of-piece-strings) schema.
    * Ties at the cut rank break on the word — deterministic anywhere.
    */
  def topWordPieceVocab(docs: DataFrame, textCol: String, n: Int): DataFrame =
    docs.select(explode(tokens(coalesce(col(textCol), lit("")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("word"))
      .limit(n)
      .select(col("word"), array(col("word")).as("pieces"))

  /** Piece-sequence tokenizer: each whitespace word maps through the
    * broadcast `vocabMap` (word → array of piece strings); out-of-vocab
    * words fall back to consecutive 2-char pieces — exactly ceil(len/2)
    * of them, the SAME count [[vocabTokenCounts]]' byte-fallback charges,
    * so piece-denominated accounting and piece materialization can never
    * disagree. Pure column expression (the map rides a one-row broadcast
    * crossJoin), so it slots into any `tokenizer: Column => Column` hook.
    */
  def pieceTokens(text: Column, vocabMap: Column): Column =
    flatten(transform(tokens(coalesce(text, lit(""))), w =>
      coalesce(element_at(vocabMap, w),
        when(length(w) === lit(0), array(lit("")))
          .otherwise(transform(
            sequence(lit(0), ((length(w) - 1) / lit(2)).cast("int")),
            i => w.substr(i * 2 + 1, lit(2)))))))

  /** Token accounting in a REAL tokenizer's counts, the way a 100 TB
    * pipeline actually does it: per-word piece counts are precomputed
    * OFFLINE by running the tokenizer over a vocabulary (a table of
    * megabytes for the top-1M words, covering ~95% of token mass) and
    * broadcast; words outside the vocab get the byte-fallback bound
    * `max(1, ceil(bytes/2))` — deterministic, engine-reproducible, and an
    * upper-bound-shaped estimate like real byte-level BPE fallback.
    * Appends `outCol` (long) to `docs`; null/empty text charges exactly 1.
    *
    * `vocab` is any `(word, pieces)` frame — [[topWordVocab]] for a
    * self-contained corpus-derived one, or a real tokenizer's dump. Feed
    * the result to the token-denominated operators via their counter hook:
    * `packChunks(counted, ..., tokenCounter = _ => col("n_tok"))`.
    *
    * Scale: word explode is map-side, the vocab join is broadcast-hash
    * (never a corpus shuffle), the per-doc sum is one id-keyed partial
    * aggregate, and the join back onto `docs` reuses that aggregate's
    * hash(id) partitioning — the corpus shuffles twice (sum + rejoin),
    * with no skew sensitivity (hot words ride the broadcast join).
    */
  def vocabTokenCounts(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, outCol: String = "n_tok"): DataFrame = {
    val words = docs.select(col(idCol),
      explode(tokens(coalesce(col(textCol), lit("")))).as("__w"))
    val v = vocab.select(col("word").as("__w"), col("pieces").cast("long").as("__p"))
    val counted = words.join(broadcast(v), Seq("__w"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("__p"),
        greatest(lit(1L), expr("(octet_length(__w) + 1) div 2")))).as(outCol))
    // split() yields >= 1 (possibly empty) word per doc, so the left join
    // never misses; the coalesce only documents the invariant
    docs.join(counted, Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), lit(1L)))
  }

  /** Language-ID: argmax of marker-stopword hits per language; ties and
    * zero-hit docs resolve to the lexically-first candidate ("unknown"
    * sorts last). N-gram-free heuristic — a real model slots in behind the
    * same column contract.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "es" -> Seq("el", "la", "los", "que", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  /** Bigram language-model surprise — CCNet-style LM quality scoring
    * (Wenzek 2020: score a crawl against a model trained on a trusted
    * corpus, filter by perplexity bucket) re-expressed engine-exact. An
    * add-one-smoothed bigram model is counted from `ref` (the trusted
    * side: wiki-sized, megabytes-to-gigabytes) and every doc is charged a
    * QUANTIZED code length per bigram position:
    * `bitlen(c(w1)+V) - bitlen(c(w1,w2)+1)`, an integer within 1 bit of
    * the true -log2 p̂ = log2((c(w1)+V)/(c(w1w2)+1)). Floating log is NOT
    * reproducible across engines (JVM Math.log and C libm differ in ulps);
    * bit lengths are exact integers everywhere, and perplexity FILTERING
    * consumes head/middle/tail buckets for which 1-bit-per-position
    * resolution is ample. The only non-integer output is one final IEEE
    * division for the mean.
    *
    * Output: one row per doc — `(idCol, n_bigrams, hit_bigrams,
    * hit_contexts, surprise_bits, avg_surprise_bits)`; docs with < 2
    * tokens (no bigram evidence) score `(0, 0, 0, 0, null)`.
    *
    * Scale: the model is two word-keyed aggregates over REF plus one
    * distinct-count action for V (driver scalars: V and the guard bound —
    * both tiny, computed once per model). The corpus side explodes to
    * bigram positions map-side and joins the model tables — broadcast
    * under the same char-bound guard as [[CurationOps.ngramOverlap]]
    * (fail-safe to `shuffle_hash` above it: an over-sized "reference"
    * must not be collected onto the driver), then one id-keyed aggregate.
    */
  def bigramSurprise(docs: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, broadcastRefChars: Long = 64000000L): DataFrame = {
    val refBg = bigramRows(ref, textCol, Seq.empty)
    val c12 = refBg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__c12"))
    val c1 = refBg.groupBy(col("w1")).agg(count(lit(1)).as("__c1"))
    val (vocabV, refChars) = vocabAndChars(ref, textCol)
    scoreBigramModel(docs, idCol, textCol, c12, c1, vocabV, refChars,
      broadcastRefChars)
  }

  /** Vocabulary size (distinct tokens) and total text chars of a corpus in
    * ONE pass — these fed two separate full-scan driver actions per
    * [[bigramSurprise]] / [[buildLmModel]] call. Each row's char length is
    * charged to its first exploded token row (the tokenizer yields [""]
    * for empty text, so every row has one; `posexplode_outer` + the
    * null-pos arm keep the sum exact even if a future tokenizer returns
    * an empty array), and `count_distinct` skips the outer-explode null —
    * both scalars equal the two-pass values by construction.
    */
  private def vocabAndChars(ref: DataFrame, textCol: String): (Long, Long) = {
    val r = ref
      .select(posexplode_outer(tokens(coalesce(col(textCol), lit("")))),
        length(coalesce(col(textCol), lit(""))).as("__len"))
      .agg(count_distinct(col("col")).as("v"),
        coalesce(sum(when(col("pos") === 0 || col("pos").isNull,
          col("__len")).otherwise(0L)), lit(0L)).as("chars"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def bigramRows(df: DataFrame, textCol: String,
      extra: Seq[Column]): DataFrame = {
    val tks = tokens(coalesce(col(textCol), lit("")))
    df.select(extra :+ explode(zip_with(
        slice(tks, lit(1), greatest(size(tks) - 1, lit(0))),
        slice(tks, lit(2), greatest(size(tks) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"): _*)
      .select("*").withColumn("w1", col("__bg.w1"))
      .withColumn("w2", col("__bg.w2")).drop("__bg")
  }

  /** Shared scoring tail of [[bigramSurprise]] / [[bigramSurpriseStored]]:
    * `c12` = (w1, w2, __c12), `c1` = (w1, __c1), plus the two driver
    * scalars (V, the broadcast-guard char bound of the reference corpus).
    */
  private def scoreBigramModel(docs: DataFrame, idCol: String,
      textCol: String, c12: DataFrame, c1: DataFrame, vocabV: Long,
      refChars: Long, broadcastRefChars: Long): DataFrame = {
    def joinModel(pos: DataFrame, model: DataFrame, keys: Seq[String]) =
      if (refChars <= broadcastRefChars) pos.join(broadcast(model), keys, "left")
      else pos.join(model.hint("shuffle_hash"), keys, "left")
    def bitlen(x: Column): Column = length(bin(x))
    val pos = bigramRows(docs.select(col(idCol), col(textCol)), textCol,
      Seq(col(idCol)))
    val scored = joinModel(joinModel(pos, c12, Seq("w1", "w2")), c1, Seq("w1"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("__c12").isNotNull, 1L).otherwise(0L)).as("hit_bigrams"),
        sum(when(col("__c1").isNotNull, 1L).otherwise(0L)).as("hit_contexts"),
        sum(bitlen(coalesce(col("__c1") + vocabV, lit(vocabV))).cast("long")
          - bitlen(coalesce(col("__c12"), lit(0L)) + 1L).cast("long"))
          .as("surprise_bits"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("hit_bigrams"), lit(0L)).as("hit_bigrams"),
        coalesce(col("hit_contexts"), lit(0L)).as("hit_contexts"),
        coalesce(col("surprise_bits"), lit(0L)).as("surprise_bits"),
        when(col("n_bigrams") > 0,
          col("surprise_bits").cast("double") / col("n_bigrams"))
          .as("avg_surprise_bits"))
  }

  /** Persist [[bigramSurprise]]'s reference model — the quality tier's
    * build-once/probe-many member of the store family (minhash /
    * fingerprint / window / postings / labels / LM): a production pipeline
    * trains the LM ONCE on the trusted corpus and scores every crawl batch
    * against it; re-counting wiki per scoring call is the per-query
    * corpus re-scan this family exists to kill.
    *
    * Layout at `path`: `c12/` (w1, w2, c), `c1/` (w1, c), `meta/` one row
    * (v = vocabulary size, ref_chars = the broadcast-guard bound). Counts
    * are additive across ref batches but V (distinct words) is not — the
    * model REBUILDS per reference snapshot by design (trusted corpora are
    * curated releases, not streams); [[buildLmModel]] overwrites.
    */
  def buildLmModel(ref: DataFrame, textCol: String, path: String): Unit =
      graft.StoreCommit.rebuild(ref.sparkSession, path) {
    val spark = ref.sparkSession
    val refBg = graft.CacheScope.persist(bigramRows(ref, textCol, Seq.empty))
    refBg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$path/c12")
    refBg.groupBy(col("w1")).agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$path/c1")
    val (vocabV, refChars) = vocabAndChars(ref, textCol)
    spark.range(1).select(lit(vocabV).as("v"), lit(refChars).as("ref_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    Seq("c12", "c1", "meta").foreach(sub =>
      spark.catalog.refreshByPath(s"$path/$sub"))
  }

  /** [[bigramSurprise]] against a model persisted by [[buildLmModel]] —
    * result-identical to the inline form over the same reference, but the
    * reference corpus is never touched: the probe reads the two count
    * tables (broadcast under the persisted ref_chars bound, shuffle_hash
    * past it) and the one-row meta. */
  def bigramSurpriseStored(docs: DataFrame, idCol: String, textCol: String,
      path: String, broadcastRefChars: Long = 64000000L): DataFrame = {
    val spark = docs.sparkSession
    val meta = graft.StoreCommit.meta(spark, path).getOrElse(
      throw new IllegalStateException(s"no bigram model at $path"))
    val c12 = spark.read.parquet(s"$path/c12")
      .select(col("w1"), col("w2"), col("c").as("__c12"))
    val c1 = spark.read.parquet(s"$path/c1")
      .select(col("w1"), col("c").as("__c1"))
    scoreBigramModel(docs, idCol, textCol, c12, c1,
      meta.getAs[Long]("v"), meta.getAs[Long]("ref_chars"), broadcastRefChars)
  }

  /** DSIR-style hashed-n-gram importance log-ratio (Xie et al. 2023,
    * arXiv:2302.03169 "Data Selection for Language Models via Importance
    * Resampling"): score each raw-corpus doc by how target-like its hashed
    * n-gram features are. Features are the doc's word unigrams AND bigrams
    * hashed into `buckets` buckets (the paper's hashed-n-gram feature
    * space); bucket counts are aggregated over `target` (the trusted
    * distribution — wiki/books-sized) and over `docs` itself (the raw
    * distribution being resampled), and each feature occurrence is charged
    * the QUANTIZED log ratio `bitlen(ct_b + 1) - bitlen(cr_b + 1)` — an
    * integer within 1 bit of log2((ct_b+1)/(cr_b+1)), the same bit-length
    * quantization as [[bigramSurprise]] (floating log is not
    * engine-reproducible; bit lengths are exact everywhere). The smoothing
    * normalizer log2((Nt+B)/(Nr+B)) is a per-feature CONSTANT and is
    * deliberately not folded in: it shifts every avg by the same amount
    * and cancels in any threshold/rank selection; callers needing the
    * absolute value add `n_feats × const` back.
    *
    * Output: one row per doc — `(idCol, n_feats, logratio_bits,
    * avg_logratio_bits)`; select target-like docs by avg threshold or
    * top-k, e.g. via [[SampleOps]]' deterministic samplers.
    *
    * Scale: both bucket tables are ≤ `buckets` rows (the paper uses 10k) —
    * broadcast BY CONSTRUCTION, never a corpus shuffle; the corpus side
    * explodes to feature rows map-side and aggregates once on the doc id.
    * Hot features ride the broadcast joins, so skew is a non-issue. The
    * corpus explode runs TWICE (once folding into the ≤`buckets`-row raw
    * count table, once to score) — deliberate: at corpus scale,
    * recomputing a map-side explode is cheaper than materializing
    * corpus×features rows to save the second pass.
    */
  def dsirLogRatio(docs: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // the count tables are broadcast BY CONSTRUCTION (≤ buckets rows);
    // a corpus-cardinality bucket count would OOM the driver instead of
    // hashing — fail loudly (the paper's feature space is 10k buckets)
    require(buckets <= (1 << 24),
      s"buckets = $buckets: the per-bucket count tables broadcast, so the " +
        "bucket space must stay driver-sized (<= 2^24); hashed-n-gram " +
        "features do not need more (DSIR uses 10k)")
    DedupOps.ensureHashRegistered(docs)
    def featRows(df: DataFrame, extra: Seq[Column]): DataFrame = {
      val tks = tokens(coalesce(col(textCol), lit("")))
      val bigrams = zip_with(
        slice(tks, lit(1), greatest(size(tks) - 1, lit(0))),
        slice(tks, lit(2), greatest(size(tks) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))
      df.select(extra :+ explode(concat(tks, bigrams)).as("__f"): _*)
        .withColumn("__b",
          pmod(DedupOps.baseHash(col("__f")), lit(buckets.toLong)))
        .drop("__f")
    }
    val ct = featRows(target.select(col(textCol)), Seq.empty)
      .groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val cr = featRows(docs.select(col(textCol)), Seq.empty)
      .groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    def bitlen(x: Column): Column = length(bin(x))
    val scored = featRows(docs.select(col(idCol), col(textCol)), Seq(col(idCol)))
      .join(broadcast(ct), Seq("__b"), "left")
      .join(broadcast(cr), Seq("__b"), "left") // never null: cr counts these rows
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        sum(bitlen(coalesce(col("__ct"), lit(0L)) + 1L).cast("long")
          - bitlen(coalesce(col("__cr"), lit(0L)) + 1L).cast("long"))
          .as("logratio_bits"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("logratio_bits"), lit(0L)).as("logratio_bits"),
        when(col("n_feats") > 0,
          col("logratio_bits").cast("double") / col("n_feats"))
          .as("avg_logratio_bits"))
  }

  /** Integer-exact tf-idf keyword search — the inverted-index analytics
    * query over a training corpus ("which docs are about X"): score(doc) =
    * Σ_t tf(t, doc) × idf_bits(t) with idf_bits = bitlen(N) - bitlen(df_t),
    * a quantized log2(N/df_t) (within 1 bit; BM25's saturation terms are
    * floats a cross-engine oracle cannot gate — the quantized tf-idf keeps
    * every score an exact integer). Returns the top `k` docs by
    * (score DESC, id ASC) — a deterministic total order — with the matched
    * distinct-term count.
    *
    * Scale: the token stream filters to the query terms MAP-SIDE (literal
    * IN over a handful of terms), tf is one (id, term) partial-count
    * aggregate, df is one ≤|terms|-row aggregate over the same filtered
    * rows broadcast back, and the ranking plans as TakeOrdered —
    * per-partition top-k heaps, no global sort. N (corpus doc count) is
    * the one driver scalar.
    */
  def keywordTopK(docs: DataFrame, idCol: String, textCol: String,
      terms0: Seq[String], k: Int): DataFrame = {
    require(terms0.nonEmpty, "need at least one query term")
    require(k > 0, "k must be positive")
    // the token stream is lowercased ([[tokens]]); a mixed-case query term
    // would silently match nothing — normalize here instead
    val terms = terms0.map(_.toLowerCase).distinct
    val n = docs.count()
    def bitlen(x: Column): Column = length(bin(x))
    // persisted: tf feeds BOTH the df aggregate and the scoring join, and
    // it is tiny (≤ N×|terms| rows) while its lineage is the corpus-wide
    // explode scan — without the persist the corpus is tokenized twice.
    // null text = empty text (the curation-wide convention): the doc still
    // counts in N and still emits its [''] token row, exactly like the
    // postings index's n_docs sidecar — the two paths must agree on idf
    val tf = graft.CacheScope.persist(
      docs.select(col(idCol),
          explode(tokens(coalesce(col(textCol), lit("")))).as("__t"))
        .where(col("__t").isin(terms: _*))
        .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__tf")))
    val dfT = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .select(col("__t"),
        (bitlen(lit(n)) - bitlen(col("__df"))).cast("long").as("__idf"))
    tf.join(broadcast(dfT), Seq("__t"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf") * col("__idf")).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"), col("n_terms"))
  }

  /** BM25 top-k by corpus re-scan — [[keywordTopK]]'s ranking with
    * term-frequency saturation and doc-length normalization, result-
    * identical to [[SearchOps.bm25TopKIndexed]] over the same corpus
    * (that scaladoc derives the shared integer quantization: k1 = 1.2,
    * b = 0.75, contribution = `(22000·a10·idf·tf) div
    * (10·a10·tf + 3·a10 + 90·dl)` with `a10 = (10·T) div N`).
    *
    * Scale shape mirrors [[keywordTopK]] — one corpus tokenize (dl is
    * computed pre-explode, free), term-filtered map-side, persisted tf
    * feeding both the df aggregate and the scoring join, TakeOrdered
    * top-k; N and T come from one extra corpus aggregate. Prefer the
    * indexed probe for repeated queries.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms0: Seq[String], k: Int): DataFrame = {
    require(terms0.nonEmpty, "need at least one query term")
    require(k > 0, "k must be positive")
    val terms = terms0.map(_.toLowerCase).distinct
    val txt = coalesce(col(textCol), lit(""))
    val cnt = docs.agg(count(lit(1)).as("n"),
      sum(tokenCount(txt)).cast("long").as("t")).head()
    val n = cnt.getLong(0)
    require(n > 0, "bm25TopK: empty corpus")
    val a10 = 10L * cnt.getLong(1) / n
    def bitlen(x: Column): Column = length(bin(x))
    val tf = graft.CacheScope.persist(
      docs.select(col(idCol), explode(tokens(txt)).as("__t"),
          tokenCount(txt).as("__dl"))
        .where(col("__t").isin(terms: _*))
        .groupBy(col(idCol), col("__t"))
        .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl")))
    val dfT = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .select(col("__t"),
        (bitlen(lit(n)) - bitlen(col("__df"))).cast("long").as("__idf"))
    tf.join(broadcast(dfT), Seq("__t"))
      .withColumn("__num", lit(22000L * a10) * col("__idf") * col("__tf"))
      .withColumn("__den",
        lit(10L * a10) * col("__tf") + lit(3L * a10) + lit(90L) * col("__dl"))
      .withColumn("__c", expr("__num div __den"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"), col("n_terms"))
  }

  /** Observed-metrics name for [[tfidfCosinePairs]]' stop-term accounting:
    * (stop_terms, zero_idf_terms).
    */
  val TfidfStopMetrics = "graft_tfidf_stop"

  /** Pairwise document similarity over integer tf-idf vectors (Elsayed/
    * Lin/Oard 2008, "Pairwise Document Similarity in Large Collections
    * with MapReduce" — the per-term postings-join construction): each doc
    * is the sparse vector w(t, d) = tf(t, d) × idf_bits(t) (the same
    * quantized idf as [[keywordTopK]]), and docs sharing >= 1 LIVE term
    * pair up with dot = Σ_t w(t,a)·w(t,b), one partial product per shared
    * term. The embedding-free member of the similarity family: no vectors
    * needed, catches topical near-dups the shingle paths miss (same
    * vocabulary, different word order).
    *
    * Output: (id_a, id_b, dot, norm2_a, norm2_b) for pairs with
    * cosine >= minCosNum/minCosDen, i.e. dot²·den² >= num²·n2a·n2b —
    * compared in doubles of exact integers: bit-exact in any engine while
    * the products stay under 2^53 (num²·norm2² bounds it; norm2 <=
    * |doc|·w_max²).
    *
    * Terms are LIVE when doc_freq <= `maxDocFreq` AND idf_bits > 0. Stop
    * terms both explode the per-term self-join (C(df, 2) pairs) and weigh
    * nothing — bitlen(N) - bitlen(df) = 0 for any term in more than half
    * the corpus — so the cut cannot lose a pair the scoring would keep;
    * it is still REPORTED via [[TfidfStopMetrics]]. Within the cap each
    * term fans out <= C(maxDocFreq, 2) partial products.
    *
    * Scale: tf partial-aggregates on (id, term); doc frequency, the live
    * cut and the self-join all key on the term — the Zipf head is exactly
    * what the stop cut removes, so live postings lists are short and the
    * join is shuffle-bounded. The weight frame feeds three consumers
    * (norms + both join sides) and is persisted (live doc-term pairs ≪
    * token stream).
    */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      minCosNum: Int = 4, minCosDen: Int = 5,
      maxDocFreq: Int = 1000): DataFrame = {
    require(minCosDen > 0 && minCosNum >= 0 && minCosNum <= minCosDen,
      "cosine threshold must be a fraction in [0, 1]")
    require(maxDocFreq >= 2, "maxDocFreq must be >= 2 (pairs need two docs)")
    val n = docs.count()
    def bitlen(x: Column): Column = length(bin(x))
    val tf = docs.select(col(idCol).as("id"),
        explode(tokens(coalesce(col(textCol), lit("")))).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .withColumn("idf", (bitlen(lit(n)) - bitlen(col("df"))).cast("long"))
      .observe(TfidfStopMetrics,
        sum(when(col("df") > maxDocFreq, 1L).otherwise(0L)).as("stop_terms"),
        sum(when(col("idf") <= 0, 1L).otherwise(0L)).as("zero_idf_terms"))
    val live = dfT.where(col("df") <= maxDocFreq && col("idf") > 0)
    val w = graft.CacheScope.persist(
      tf.join(live.select(col("t"), col("idf")), Seq("t"))
        .select(col("t"), col("id"), (col("tf") * col("idf")).as("w")))
    val norms = w.groupBy(col("id")).agg(sum(col("w") * col("w")).as("norm2"))
    val den2 = (minCosDen.toLong * minCosDen).toDouble
    val num2 = (minCosNum.toLong * minCosNum).toDouble
    w.as("a").join(w.as("b"),
        col("a.t") === col("b.t") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
      .join(norms.select(col("id").as("id_a"), col("norm2").as("norm2_a")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("norm2").as("norm2_b")), Seq("id_b"))
      .where(col("dot").cast("double") * col("dot").cast("double") * lit(den2) >=
        lit(num2) * col("norm2_a").cast("double") * col("norm2_b").cast("double"))
      .select(col("id_a"), col("id_b"), col("dot"),
        col("norm2_a"), col("norm2_b"))
  }

  def langId(text: Column): Column = {
    val tks = tokens(text)
    val scored = LangMarkers.map { case (lang, markers) =>
      val m = array(markers.map(lit): _*)
      struct(size(filter(tks, t => array_contains(m, t))).as("hits"), lit(lang).as("lang"))
    }
    // greatest(struct) = max hits, ties broken by max lang string; to get the
    // lexically-FIRST winner on ties, compare on (hits, reversed-rank) instead
    val ranked = scored.zipWithIndex.map { case (s, i) =>
      struct(s.getField("hits").as("hits"), lit(-i).as("rank"), s.getField("lang").as("lang"))
    }
    val best = greatest(ranked: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("unknown"))
  }

  /** Document fingerprint: md5 of the whitespace-normalized lowercase text —
    * byte-identical content maps to one 128-bit key for exact dedup/sharding.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Word k-shingles (k consecutive tokens joined by one space), distinct.
    * Empty array when the doc has fewer than k tokens.
    */
  def shingles(text: Column, k: Int): Column = {
    val tks = tokens(text)
    when(size(tks) >= k,
      array_distinct(transform(sequence(lit(0), size(tks) - k),
        i => concat_ws(" ", slice(tks, i + 1, lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exploded (id, p, shingle) rows — NOT de-duplicated — via a lead()
    * window over exploded tokens (`p` = 0-based shingle start position).
    * This is the codegen-friendly twin of [[shingles]]: interpreted
    * higher-order lambdas building per-doc string arrays cost ~4s per 5k
    * docs; the window shape streams token rows through whole-stage codegen
    * with one shuffle on the doc id (which downstream per-doc aggregations
    * then reuse).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol).as("id"), posexplode(tokens(col(textCol))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "t")
    val w = Window.partitionBy(col("id")).orderBy(col("p"))
    val withLeads = (1 until k).foldLeft(tok) { (d, i) =>
      d.withColumn(s"t$i", lead(col("t"), i).over(w))
    }
    withLeads
      .where(col(s"t${k - 1}").isNotNull)
      .select(col("id"), col("p"),
        concat_ws(" ", (col("t") +: (1 until k).map(i => col(s"t$i"))): _*).as("s"))
  }

  /** Array-built twin of [[shingleRows]]: the same non-distinct (id, p, s)
    * rows via per-row token-array slicing instead of k-1 chained `lead()`
    * window columns. MEASURED LOSER at every tested k (100k×120-token
    * docs: window 2.4 s vs array 9.8 s even at k = 50 — the chained leads
    * stay whole-stage-codegen'd while `transform`/`slice` lambdas run
    * interpreted per element), so [[DedupOps.duplicatedWindows]] uses it
    * ONLY for k = 1, where the window shape cannot run (it needs >= 1
    * lead column to anchor its full-window filter). Kept public as the
    * shuffle-free variant: the window path pays one id exchange, this
    * shape none — relevant if a caller's input is already exploded-cost-
    * dominated. Row order differs from [[shingleRows]]; content is
    * identical (parity-tested).
    */
  def shinglePosRows(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tks = tokens(coalesce(col(textCol), lit("")))
    df.select(col(idCol).as("id"),
        explode(when(size(tks) >= k,
          transform(sequence(lit(0), size(tks) - k),
            i => struct(i.as("p"), concat_ws(" ", slice(tks, i + 1, lit(k))).as("s"))))
          .otherwise(array().cast("array<struct<p:int,s:string>>"))).as("__w"))
      .select(col("id"), col("__w.p").as("p"), col("__w.s").as("s"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * standard public local-fingerprinting construction): hash every token
    * k-gram, slide a window of `w` consecutive k-gram hashes, keep each
    * window's minimum (ties → rightmost), and de-duplicate the selections.
    * Any substring of ≥ w+k-1 shared tokens yields ≥ 1 shared fingerprint;
    * selection density ≈ 2/(w+1) of the k-grams.
    *
    * Hashes are the engine-reproducible md5-prefix base hash, the per-doc
    * window parallelizes across docs (one shuffle on the id), and the
    * min-of-window is a struct min — no per-row UDF. Docs with fewer than
    * w k-grams emit nothing (no full window exists).
    *
    * Output: (id, pos, fingerprint) — pos is the selected k-gram's start.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    DedupOps.ensureHashRegistered(df)
    val rows = shingleRows(df, idCol, textCol, k)
      .select(col("id"), col("p"), DedupOps.baseHash(col("s")).as("h"))
    val wspec = Window.partitionBy(col("id")).orderBy(col("p"))
      .rowsBetween(Window.currentRow, w - 1)
    rows
      .withColumn("win", min(struct(col("h"), (-col("p")).as("np"))).over(wspec))
      .withColumn("cnt", count(lit(1)).over(wspec))
      .where(col("cnt") === w) // only full windows select a fingerprint
      .select(col("id"), (-col("win.np")).cast("bigint").as("pos"),
        col("win.h").as("fingerprint"))
      .distinct()
  }

  /** Corpus vocabulary top-k: the `k` most frequent whitespace tokens with
    * total occurrence count (`freq`) and document frequency (`doc_freq`),
    * ties broken by token text — a deterministic total order, so the row
    * set is engine-exact even at the cut boundary.
    *
    * Scale shape: explode → groupBy(token) partial-aggregates map-side
    * (vocab ≪ corpus, Zipf head combines before the one shuffle);
    * `orderBy.limit(k)` plans as TakeOrdered — per-partition top-k heaps,
    * no global sort. doc_freq's distinct pass expands to (token, doc)
    * pairs which partial-aggregate the same way.
    */
  /** HTML → text extraction (the CommonCrawl-pipeline stage upstream of
    * every quality/dedup operator; C4 consumed pre-extracted WET text,
    * RefinedWeb re-extracts from HTML — Penedo et al. 2023 §3.1). A
    * deterministic regex pipeline in the shared Java-regex/RE2 subset
    * (non-greedy dotall blocks, character classes — no backreferences,
    * no lookaround), so the DuckDB oracle replays it byte-identically:
    * script blocks, then style blocks, then comments are removed; the
    * surviving tags are COUNTED (`n_tags` — a markup-density quality
    * signal) and replaced with spaces; a fixed entity set decodes with
    * `&amp;` last (anything else double-decodes `&amp;lt;`); whitespace
    * collapses. Pure column expressions — shuffle-free, whole-stage
    * codegen, embarrassingly parallel at any corpus size.
    *
    * Not a browser: unclosed script/style blocks survive to the tag
    * strip (their text content then leaks), CDATA and exotic entities
    * pass through. Those are the documented limits of the regex tier —
    * the standard practical trade every regex extractor makes.
    */
  def stripHtml(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val noScript = regexp_replace(col(htmlCol),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val tagPat = "<[^>]+>"
    val nTags = size(regexp_extract_all(noComment, lit(tagPat), lit(0)))
      .cast("bigint")
    val noTags = regexp_replace(noComment, tagPat, " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, rep)) => regexp_replace(c, ent, rep) }
    df.select(col(idCol), nTags.as("n_tags"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("text"))
  }

  /** Strided token windows (the LM-eval / context-window prep shape:
    * window `window`, stride `stride`, last partial window kept): one row
    * per (doc, start multiple of stride < n_tokens) with the token span
    * and its text. Pure explode over a per-doc sequence — embarrassingly
    * parallel, output ∝ n_tokens/stride per doc, no shuffle at all.
    */
  def tokenWindows(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), col("__t"),
        posexplode(sequence(lit(0L), expr(s"(size(__t) - 1) div $stride"))))
      .select(col(idCol), col("col").as("win"),
        (col("col") * stride).as("tok_from"),
        least(col("col") * stride + window, size(col("__t")).cast("bigint"))
          .as("tok_to"),
        concat_ws(" ", slice(col("__t"),
          (col("col") * stride + 1).cast("int"), lit(window))).as("win_text"))
  }

  /** Per-group distinctive keywords (c-TF-IDF in the topic-labeling
    * spirit — Grootendorst 2022's BERTopic formulation, here with the
    * repo's engine-exact integer idf over OCCURRENCE counts, the same
    * `bitlen` quantization as the search tier): score(token, group) =
    * tf_in_group × (bitlen(totalTokens) − bitlen(globalFreq)); corpus-
    * saturating tokens (freq within a power of two of the total) score 0
    * and drop. Output: top `k` tokens per group by (score desc, token
    * asc) with a deterministic rank.
    *
    * Scale shape: explode → (group, token) partial-aggregated counts,
    * one global-frequency aggregation over the vocab, one total scalar.
    * The final top-k windows PER GROUP — groups are the parallel unit;
    * for a single giant group compose with the salted two-phase top-k
    * instead ([[SimilarityOps]]'s `topKTwoPhase` shape).
    */
  def groupKeywords(df: DataFrame, groupCol: String, textCol: String,
      k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    def bitlen(x: Column): Column = length(bin(x))
    val tok = df.select(col(groupCol).as("__grp"),
      explode(tokens(col(textCol))).as("token"))
    val tf = tok.groupBy(col("__grp"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val gf = tf.groupBy(col("token")).agg(sum(col("tf")).as("gf"))
    val total = gf.select(sum(col("gf"))).head().getLong(0)
    val scored = tf.join(gf, "token")
      .withColumn("idf", (bitlen(lit(total)) - bitlen(col("gf"))).cast("bigint"))
      .where(col("idf") > 0)
      .withColumn("score", col("tf") * col("idf"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("__grp"))
          .orderBy(col("score").desc, col("token"))).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("__grp").as(groupCol), col("token"), col("score"), col("rank"))
  }

  /** Dataset-card corpus report: per-language doc / token / char counts
    * with integer-ppm doc shares — the one-pass release summary. One
    * partial-aggregated groupBy over the language key plus a share
    * window bounded by the language count (never by data volume).
    */
  def corpusReport(df: DataFrame, langCol: String, textCol: String): DataFrame = {
    val h = df.groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol)).cast("bigint")).as("n_tokens"),
        sum(length(col(textCol)).cast("bigint")).as("n_chars"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    h.withColumn("__t", sum(col("n_docs")).over(all))
      .select(col(langCol), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("n_docs * 1000000 div __t").as("docs_ppm"))
  }

  /** EXACT corpus heavy hitters — every token with global frequency
    * ≥ total/k — with BOUNDED memory and no full-vocabulary shuffle.
    *
    * Two passes. (1) Candidates: each partition runs a Misra–Gries
    * summary with k counters (Misra & Gries 1982; the classic streaming
    * frequent-items algorithm) over its own tokens. MG's guarantee —
    * any item with partition count > n_i/(k+1) keeps a counter — plus an
    * averaging argument (a token with global count ≥ N/k must have
    * count_i ≥ n_i/k > n_i/(k+1) in SOME partition) makes the union of
    * partition summaries a SUPERSET of the true heavy hitters, at most
    * k·partitions candidates total. (2) Confirm: exact counts of the
    * candidates only (broadcast semi-join), integer threshold
    * `freq · k ≥ N`. The candidate set depends on partitioning; the
    * OUTPUT does not — the confirm pass makes the result exact and
    * partitioning-independent.
    *
    * At 100 TB this is the difference between shuffling the full
    * (token → count) vocabulary — fine for Zipfian text, ruinous for
    * high-cardinality token spaces (urls, ids) — and shuffling
    * ≤ k·partitions candidate rows. mapPartitions is warranted here:
    * MG's decrement-all step is genuinely imperative per-partition
    * state.
    */
  def heavyHitters(df: DataFrame, textCol: String, k: Int = 200): DataFrame = {
    require(k > 1, s"heavyHitters: k must be > 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    // null text = empty text (the module convention) — an un-coalesced
    // null array would NPE inside the imperative candidate pass
    val toks = df.select(tokens(coalesce(col(textCol), lit(""))).as("__t"))
    val cands = toks.as[Seq[String]].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(_.foreach { tok =>
        counters.get(tok) match {
          case Some(c) => counters(tok) = c + 1
          case None if counters.size < k => counters(tok) = 1L
          case None =>
            counters.keys.toList.foreach { t =>
              val c = counters(t) - 1
              if (c == 0) counters -= t else counters(t) = c
            }
        }
      })
      counters.keysIterator
    }.distinct().collect()
    val totRow = toks.select(sum(size(col("__t")))).head()
    val totalN = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    val cdf = broadcast(cands.toSeq.toDF("token"))
    df.select(explode(tokens(coalesce(col(textCol), lit("")))).as("token"))
      .join(cdf, "token")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .where(col("freq") * k >= lit(totalN))
  }

  /** Redaction patterns: the common Java-regex/RE2 subset (no
    * backreferences, no lookaround) so Spark and any RE2-based engine
    * (the DuckDB oracle) match identically; both use leftmost greedy
    * semantics on these character-class shapes.
    */
  val UrlPattern = "https?://[^\\s]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9 ()\\-]{6,}[0-9]"

  /** Tracking query parameters stripped by [[canonicalizeUrl]] — the
    * RefinedWeb-style set: analytics campaign tags and click ids that vary
    * per crawl of the SAME page and defeat URL-keyed dedup. Anchored to a
    * `?`/`&` param boundary (captured and re-emitted as `$1`) so `ref=`
    * can't match inside param names that merely END in it (`href=`,
    * `pref=`, `xref=`); the re-emitted separator leaves the NEXT param
    * anchored too (adjacent tracking params all strip), at the cost of a
    * possible `?&`/`&&` run that [[SeparatorRunPattern]] collapses.
    */
  val TrackingParamPattern =
    "(?i)([?&])(utm_[a-z0-9_]+|fbclid|gclid|ref)=[^&#]*"

  /** Separator runs (`?&&x`, `a=1&&b=2`) left behind by tracking-param
    * removal, collapsed back to the leading separator.
    */
  val SeparatorRunPattern = "([?&])&+"

  /** Canonical form of a URL for URL-keyed dedup and host-level filtering
    * (the cheapest cut of a pretraining pipeline — RefinedWeb/CCNet dedup
    * by canonical URL before any content pass): drop the fragment, strip
    * the scheme, lowercase the host and strip a leading `www.` and the
    * default ports `:80`/`:443`, remove tracking query parameters
    * ([[TrackingParamPattern]]), and trim trailing `?`/`&`/`/`. The path
    * and surviving query keep their case (paths are case-sensitive).
    *
    * Pure regexp/string column expressions in the shared Java-regex/RE2
    * subset (see [[UrlPattern]]) — shuffle-free, codegen'd, replayable
    * verbatim by the DuckDB oracle. Null URLs canonicalize to ''.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(trim(coalesce(url, lit(""))), "#.*$", "")
    val noScheme = regexp_replace(noFrag, "(?i)^https?://", "")
    val host0 = lower(regexp_extract(noScheme, "^[^/?]*", 0))
    val rest0 = regexp_replace(noScheme, "^[^/?]*", "")
    val host = regexp_replace(
      regexp_replace(host0, "^www\\.", ""), ":(80|443)$", "")
    val noTrack = regexp_replace(
      regexp_replace(rest0, TrackingParamPattern, "$1"),
      SeparatorRunPattern, "$1")
    // path-final slash: strip before a surviving query ("/a/?x" -> "/a?x")
    // and at the end — RE2 has no lookahead, so the pre-query form is a
    // literal "/+\?" -> "?" collapse the oracle replays verbatim
    val rest = regexp_replace(regexp_replace(
      regexp_replace(noTrack, "/+\\?", "?"), "[?&]$", ""), "/+$", "")
    concat(host, rest)
  }

  /** The canonical HOST of a URL (lowercased, `www.`-stripped, any port
    * dropped) — the key for host/domain blocklists, pluggable straight
    * into [[CurationOps.curateKeep]]'s `sourceCol`/`blockedSources` seam.
    */
  def urlHost(url: Column): Column =
    regexp_replace(
      regexp_extract(canonicalizeUrl(url), "^[^/?]*", 0), ":[0-9]+$", "")

  /** Per-row URL canonicalization: (id, url, canon_url, host). */
  def canonicalUrls(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), col(urlCol).as("url"),
      canonicalizeUrl(col(urlCol)).as("canon_url"),
      urlHost(col(urlCol)).as("host"))

  /** PII/link scrubbing for training corpora: URLs, then emails, then
    * phone-shaped digit runs are replaced with sentinel tokens, with
    * per-kind match counts. Counts are taken on the PROGRESSIVELY redacted
    * text (emails inside URLs count as the URL that swallowed them, not
    * twice). Pure column expressions — shuffle-free, whole-stage codegen,
    * embarrassingly parallel at any corpus size.
    */
  def redactionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val afterUrl = regexp_replace(col(textCol), UrlPattern, "<URL>")
    val afterEmail = regexp_replace(afterUrl, EmailPattern, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, PhonePattern, "<PHONE>")
    df.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(UrlPattern), lit(0)))
        .cast("bigint").as("n_urls"),
      size(regexp_extract_all(afterUrl, lit(EmailPattern), lit(0)))
        .cast("bigint").as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(PhonePattern), lit(0)))
        .cast("bigint").as("n_phones"),
      afterPhone.as("redacted_text"))
  }

  /** Gopher-style repetition quality signals (Rae et al. 2021,
    * arXiv:2112.11446 Table A1 — "fraction in the most frequent n-gram" /
    * "fraction in duplicated n-grams", re-expressed over word unigrams and
    * bigrams; original implementation): boilerplate and spam score high,
    * natural prose low. Per doc:
    *  - `n_tokens`, `top_token_frac` — share of the most frequent token;
    *  - `top_bigram_frac` — share of the most frequent word bigram;
    *  - `dup_bigram_frac` — share of bigram occurrences whose bigram
    *    appears more than once (0.0 for docs with < 2 tokens).
    *
    * Shape at scale: bigrams are built map-side from the token array (one
    * interpreted zip_with pass per doc — chosen over a posexplode+window
    * build, which would add a second shuffle), then ONE doc-id-partial
    * groupBy per gram size. Fractions are IEEE divisions of exact longs —
    * cross-engine reproducible.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
    val tokCounts = toks.select(col("id"), explode(col("t")).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("c"))
    val tokStats = tokCounts.groupBy(col("id")).agg(
      sum(col("c")).as("n_tokens"), max(col("c")).as("top_tok"))
    val bg = toks.where(size(col("t")) >= 2).select(col("id"),
      explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
    val bgCounts = bg.groupBy(col("id"), col("bg")).agg(count(lit(1)).as("c"))
    val bgStats = bgCounts.groupBy(col("id")).agg(
      sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bg"),
      sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_bg"))
    tokStats.join(bgStats, Seq("id"), "left").select(
      col("id").as(idCol),
      col("n_tokens").cast("bigint").as("n_tokens"),
      (col("top_tok").cast("double") / col("n_tokens").cast("double")).as("top_token_frac"),
      coalesce(col("top_bg").cast("double") / col("n_bigrams").cast("double"), lit(0.0))
        .as("top_bigram_frac"),
      coalesce(col("dup_bg").cast("double") / col("n_bigrams").cast("double"), lit(0.0))
        .as("dup_bigram_frac"))
  }

  def tokenHistogram(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).as("__doc"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"),
        count_distinct(col("__doc")).as("doc_freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)

  // ---- in-engine BPE: learn merges, rank-greedy encode ---------------------

  /** Split a word into single-code-point symbols (surrogate-pair safe). */
  private def bpeSyms(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** One left-to-right pass merging every (a, b) occurrence. Equivalent to
    * repeatedly merging the FIRST occurrence until none remain (the
    * property spec proves the equivalence against that independent form).
    */
  private def mergePass(s: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var j = 0
    while (j < s.length) {
      if (j < s.length - 1 && s(j) == a && s(j + 1) == b) { out += a + b; j += 2 }
      else { out += s(j); j += 1 }
    }
    out.toArray
  }

  /** Standard rank-greedy BPE application: repeatedly merge the adjacent
    * pair with the LOWEST merge rank until no ranked pair remains. Because
    * application strictly follows rank order, encoding under a PREFIX of a
    * merge list reaches the exact intermediate state of the full list —
    * piece counts are monotonically non-increasing in the prefix length
    * (the `mono_ok` gate invariant).
    */
  private[graft] def bpeEncodeWord(sym0: Array[String],
      rank: collection.Map[(String, String), Int]): Array[String] = {
    var s = sym0
    var go = s.length > 1 && rank.nonEmpty
    while (go) {
      var bestR = Int.MaxValue; var ba = ""; var bb = ""
      var i = 0
      while (i < s.length - 1) {
        rank.get((s(i), s(i + 1))).foreach { r =>
          if (r < bestR) { bestR = r; ba = s(i); bb = s(i + 1) }
        }
        i += 1
      }
      if (bestR == Int.MaxValue) go = false
      else {
        s = mergePass(s, ba, bb)
        if (s.length < 2) go = false
      }
    }
    s
  }

  /** Learn `nMerges` BPE merge rules from the corpus — a REAL in-engine
    * tokenizer trainer, shaped the way production trainers are: one Spark
    * aggregation produces the (word, count) frequency table (the corpus
    * never streams through the trainer — 100 TB of text is a few million
    * distinct words), the table is capped at `maxWords` by (count DESC,
    * word) and trained DRIVER-side with the classic Sennrich loop: count
    * adjacent symbol pairs weighted by word frequency, merge the best
    * pair everywhere, repeat. Deterministic end to end: the cap order,
    * the best-pair choice (count DESC, then lexicographically smallest
    * pair), and the left-to-right merge pass all tie-break identically
    * across runs/engines. Stops early when no pair occurs twice.
    */
  def learnBpeMerges(docs: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int = 100000): Seq[(String, String)] = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    require(maxWords > 0, s"maxWords must be positive, got $maxWords")
    val wc = docs
      .select(explode(tokens(coalesce(col(textCol), lit("")))).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var words: Array[(Array[String], Long)] =
      wc.map { case (w, c) => (bpeSyms(w), c) }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var iter = 0
    var done = false
    while (iter < nMerges && !done) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (s, c) =>
        var j = 0
        while (j < s.length - 1) {
          val k = (s(j), s(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          j += 1
        }
      }
      // best = max count, ties to the lexicographically smallest pair
      val best = counts.foldLeft(Option.empty[((String, String), Long)]) {
        case (acc, kv @ (p, c)) => acc match {
          case Some((bp, bc)) if bc > c || (bc == c &&
            (bp._1 < p._1 || (bp._1 == p._1 && bp._2 <= p._2))) => acc
          case _ => Some(kv)
        }
      }
      best match {
        case Some((p, c)) if c >= 2 =>
          merges += p
          words = words.map { case (s, wcnt) => (mergePass(s, p._1, p._2), wcnt) }
          iter += 1
        case _ => done = true // nothing merges twice: further rules are noise
      }
    }
    merges.toSeq
  }

  /** Learned-tokenizer vocabulary in the (word, pieces) shape
    * [[pieceTokens]] / [[CurationOps.packChunkPieces]] consume: the top
    * `maxWords` corpus words encoded under `merges` — the in-engine twin
    * of the "offline tokenizer dump" the piece-packing tier was built
    * around, closing the train-tokenizer → pack-corpus loop without
    * leaving the engine.
    */
  def bpeWordPieceVocab(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)], maxWords: Int = 100000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rank = merges.zipWithIndex.toMap
    val rankB = spark.sparkContext.broadcast(rank)
    docs.select(explode(tokens(coalesce(col(textCol), lit("")))).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("word"))
      .limit(maxWords)
      .select(col("word")).as[String]
      .mapPartitions { ws =>
        val r = rankB.value
        ws.map(w => (w, bpeEncodeWord(bpeSyms(w), r).toSeq))
      }
      .toDF("word", "pieces")
  }

  /** Per-doc BPE integrity report over the corpus — the gate-able face of
    * the encoder. The greedy merge loop itself is not SQL-expressible, so
    * the gate follows the `approx_stats` shape: emit the SQL-recomputable
    * facts (word and code-point counts under the shared whitespace
    * tokenization) next to self-checked INVARIANT booleans the oracle
    * expects true —
    *  - `lossless`: concatenating every word's pieces reproduces the word
    *    (BPE merges never drop or alter characters);
    *  - `bounds_ok`: n_words <= n_pieces <= n_chars (>= one piece per
    *    word; merging only ever shrinks);
    *  - `mono_ok`: pieces under ALL merges <= pieces under the first half
    *    (rank-greedy application makes prefix encodings intermediate
    *    states — see [[bpeEncodeWord]]).
    * Exactness of the algorithm itself is property-gated in the spec
    * against an independent first-occurrence-at-a-time implementation.
    * Scale shape: merges broadcast (tiny), one narrow mapPartitions over
    * the docs — no shuffle, the batched-codec shape.
    */
  def bpeEncodeStats(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fullB = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    val halfB = spark.sparkContext.broadcast(
      merges.take(merges.size / 2).zipWithIndex.toMap)
    docs.select(col(idCol).cast("long").as("id"),
        tokens(coalesce(col(textCol), lit(""))).as("ws"))
      .as[(Long, Seq[String])]
      .mapPartitions { rows =>
        val full = fullB.value; val half = halfB.value
        rows.map { case (id, ws0) =>
          val ws = ws0.filter(_.nonEmpty)
          var nw = 0L; var nc = 0L; var pf = 0L; var ph = 0L
          var lossless = true
          ws.foreach { w =>
            val s = bpeSyms(w)
            nw += 1; nc += s.length
            val ef = bpeEncodeWord(s, full)
            val eh = bpeEncodeWord(s, half)
            pf += ef.length; ph += eh.length
            if (ef.mkString != w) lossless = false
          }
          (id, nw, nc, pf <= ph, nw <= pf && pf <= nc, lossless)
        }
      }
      .toDF("doc_id", "n_words", "n_chars", "mono_ok", "bounds_ok", "lossless")
  }

  /** Convenience: one row per doc with all text signals. */
  def textStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      tokenCount(t).cast("bigint").as("n_tokens"),
      bpeTokenCount(t).cast("bigint").as("n_bpe_tokens"),
      punctCount(t).cast("bigint").as("n_punct"),
      stopwordCount(t).cast("bigint").as("n_stopwords"),
      meanTokenLength(t).as("mean_token_len"),
      qualityScore(t).as("quality"))
  }
}

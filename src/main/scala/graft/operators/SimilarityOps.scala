package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus; one pass, no corpus shuffle. The baseline.
  *  - [[ivfTopK]]: IVF-style scale path — corpus pre-assigned to coarse
  *    cells (one cheap pass); at query time only `nProbe` cells per query
  *    are scanned (partition-pruned by the cell join), then exact rerank.
  *    ~nProbe/nCells of the corpus touched per query.
  *
  * Determinism contract: vectors are quantized to fixed-point ints
  * (floor(x * 1e6)) so dot products and norms are integer-exact regardless
  * of accumulation order or engine; the final cosine is a single IEEE
  * divide of exact doubles — bit-reproducible anywhere (norms < 2^53).
  */
object SimilarityOps {

  val Scale = 1000000L

  /** array<float> → array<int> fixed-point (floor(x·1e6); |x| < 2147 by
    * contract — embeddings are unit-ish scale). Int elements halve every
    * vector shuffle vs bigint; dot products still accumulate in long
    * ([[graft.functions.LongDotProduct]] takes either element type).
    * Codegen'd ([[graft.functions.QuantizeVec]]) — the transform-lambda
    * spelling runs interpreted per element on every vector touched.
    */
  def quantize(v: Column): Column =
    call_function(graft.functions.QuantizeVec.name, v, lit(Scale))

  /** Integer dot product of two quantized vectors — the codegen'd custom
    * expression [[graft.functions.LongDotProduct]] (a tight primitive loop)
    * instead of interpreted `aggregate(zip_with(...))` lambdas. Callers
    * must have registered it ([[ensureRegistered]] / GraftSession.tune).
    */
  def dotInt(a: Column, b: Column): Column =
    call_function(graft.functions.LongDotProduct.name, a, b)

  private def ensureRegistered(df: DataFrame): Unit = {
    graft.functions.LongDotProduct.register(df.sparkSession)
    graft.functions.QuantizeVec.register(df.sparkSession)
    graft.functions.PqEncode.register(df.sparkSession)
    graft.functions.PqAdcTable.register(df.sparkSession)
    graft.functions.PqAdcScore.register(df.sparkSession)
    graft.functions.IvfBestCell.register(df.sparkSession)
  }

  /** (id, quantized vector, precomputed norm): norms are computed once per
    * vector, not once per pair — the dominant cost in pairwise scoring.
    */
  private def prep(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vAs: String, nAs: String): DataFrame =
    df.select(col(idCol).as(idAs), quantize(col(vecCol)).as(vAs))
      .withColumn(nAs, sqrt(dotInt(col(vAs), col(vAs)).cast("double")))

  private def cosPre(va: Column, vb: Column, na: Column, nb: Column): Column =
    dotInt(va, vb).cast("double") / (na * nb)

  /** Exact top-k neighbors for each query vector (excluding self-matches).
    * `queries` must be small enough to broadcast — the corpus streams by
    * once with no shuffle until the final per-query top-k aggregation.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    ensureRegistered(corpus)
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val q = prep(queries, idCol, vecCol, "query_id", "qv", "qn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosPre(col("qv"), col("cv"), col("qn"), col("cn")))
    topKPerQuery(scored, k)
  }

  /** Exact top-k under a metadata PREDICATE — filtered vector search, the
    * vector-store table stake ("nearest qualifying neighbors": lang,
    * date, source filters next to the similarity). PRE-filtering is the
    * exact semantics: the predicate cuts the corpus BEFORE scoring, so
    * every query receives k true neighbors among qualifying vectors —
    * post-filtering an index's unfiltered top-k underfills whenever
    * fewer than k of them qualify, and silently biases the rest.
    *
    * Scale: Catalyst pushes the predicate into the corpus scan (parquet
    * filter pushdown; partition pruning when it hits a partition column),
    * and the brute pass streams the survivors once against the broadcast
    * queries — for a selective predicate this BEATS unfiltered ANN
    * probing, because the scan already did the pruning. For broad
    * predicates over a huge corpus, compose the predicate with the
    * IVF/SQ8/PQ candidate frames and raise candFactor instead
    * (approximate, recall traded explicitly).
    */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, predicate: Column): DataFrame =
    bruteForceTopK(corpus.where(predicate), queries, idCol, vecCol, k)

  /** CLUSTER-BALANCED (diversity) sampling: assign every embedding to its
    * semantic k-means cell (the IVF coarse quantizer — deterministic
    * floored-integer Lloyd, so the assignment itself is cross-engine
    * exact and oracle-checkable) and keep an equal per-cell quota in
    * md5-slot order. Uniform sampling over a corpus dominated by one
    * topic keeps mostly that topic; quota-per-semantic-cluster is the
    * standard diversity-selection shape (the sampling side of the
    * SemDeDup/cluster-pruning literature). Re-salting draws an
    * independent per-cell sample.
    *
    * Scale: assignment is one map-side pass against the broadcast
    * centroids (codegen'd argmax kernel); the quota is one shuffle on the
    * cell key. A giant cell's candidates funnel through that cell's
    * window partition — same escape as [[SampleOps.quotaSample]]: when
    * quotas are tiny next to cells, pre-filter with
    * [[SampleOps.hashSample]] at a rate comfortably above
    * quota/E[cell size]; the kept prefix is unchanged as long as the
    * pre-filter retains every slot the quota admits.
    */
  def clusterBalancedSample(emb: DataFrame, idCol: String, vecCol: String,
      perCellQuota: Int, nCells: Int = 16, refineIters: Int = 2,
      salt: String = ""): DataFrame = {
    require(perCellQuota > 0, s"perCellQuota must be positive, got $perCellQuota")
    ensureRegistered(emb)
    DedupOps.ensureHashRegistered(emb)
    val cq = prep(emb, idCol, vecCol, "id", "v", "nrm")
    val cents = refinedCentroids(cq, nCells, refineIters)
    val assigned = bestCell(cq, cents, "id", "v", "nrm")
      .select(col("id"), col("cell"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(SampleOps.slot(col("id"), salt), col("id"))
    assigned.withColumn("sample_rank", row_number().over(w).cast("bigint"))
      .where(col("sample_rank") <= perCellQuota)
      .select(col("id").as(idCol), col("cell"), col("sample_rank"))
  }

  /** IVF: assign corpus rows to their nearest of `nCells` coarse centroids
    * (deterministically seeded from the corpus itself: the rows with the
    * smallest ids act as centroids — kmeans iterations can refine this but
    * aren't needed for the plumbing); queries scan only their `nProbe`
    * closest cells, then rerank exactly.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4, refineIters: Int = 2): DataFrame = {
    ensureRegistered(corpus)
    val cq = prep(corpus, idCol, vecCol, "id", "v", "nrm")
    val cents = refinedCentroids(cq, nCells, refineIters)
    probeIvf(bestCell(cq, cents, "id", "v", "nrm"), cents, queries, idCol, vecCol, k, nProbe)
  }

  /** Build the IVF index ONCE and persist it: `{path}/centroids` (tiny) and
    * `{path}/assigned` — the quantized corpus hive-partitioned BY CELL, so
    * a probe reads only its nProbe cells' directories (dynamic partition
    * pruning against the broadcast probe set). The build-once/probe-many
    * split is the actual ANN serving shape: the assign+refine cost is paid
    * at ingest, per-query cost is nProbe/nCells of the corpus.
    */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nCells: Int = 16, refineIters: Int = 2): Unit =
      graft.StoreCommit.rebuild(corpus.sparkSession, path) {
    ensureRegistered(corpus)
    val cq = prep(corpus, idCol, vecCol, "id", "v", "nrm")
    val cents = refinedCentroids(cq, nCells, refineIters)
    graft.StoreCommit.writeBatch(corpus.sparkSession, path, "base") { b =>
      b.sidecar(cents, "centroids")
      writeByCell(bestCell(cq, cents, "id", "v", "nrm"), b.dir("assigned"))
    }
  }

  /** A batch dir of cell-keyed rows (`assigned/` or IVF+PQ `codes/`)
    * with `cell` kept as a hive partition column, so probes keep pruning
    * to their nProbe cells' dirs within every batch.
    */
  private def writeByCell(rows: DataFrame, dir: String): Unit =
    rows
      .repartition(col("cell")) // one writer task per cell — no small files
      .write.partitionBy("cell").mode("overwrite")
      .parquet(dir)

  /** Append new vectors to a persisted IVF index WITHOUT a rebuild — the
    * serving-side ingest path (mirrors [[DedupOps.appendMinhashStore]]):
    * new vectors are assigned to the EXISTING centroids (broadcast, one
    * map-side pass + the [[bestCell]] aggregation) and written as their own
    * `assigned/batch=<token>` dir, so a replayed append overwrites itself
    * instead of duplicating rows. Probes after an append return exactly
    * what a from-scratch build over base ∪ appended would IF the centroids
    * were refined on the base alone — centroids are deliberately NOT
    * re-refined here (that is the rebuild's job; as the appended mass
    * drifts from the base distribution, per-probe recall decays — rebuild
    * periodically). Ids must be new to the index; a vector whose dimension
    * disagrees with the index's is rejected loudly (it would silently
    * score garbage dot products against every centroid).
    */
  def appendIvfIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      path: String,
      batchToken: String = java.util.UUID.randomUUID.toString): Unit =
      graft.StoreLock.withLock(newVecs.sparkSession, path) {
    ensureRegistered(newVecs)
    val spark = newVecs.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    val dim = cents.select(size(col("cv")).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalStateException(s"no IVF index at $path"))
    val bad = newVecs.where(size(col(vecCol)) =!= dim).limit(1).collect()
    require(bad.isEmpty,
      s"appendIvfIndex: appended vector dimension != index dimension $dim at $path")
    val nq = prep(newVecs, idCol, vecCol, "id", "v", "nrm")
    graft.StoreCommit.writeBatch(spark, path, batchToken)(b =>
      writeByCell(bestCell(nq, cents, "id", "v", "nrm"), b.dir("assigned")))
  }

  /** Probe a persisted IVF index (see [[buildIvfIndex]]); same results as
    * [[ivfTopK]] with the same parameters, minus the per-query build cost.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
      idCol: String, vecCol: String, path: String, k: Int, nProbe: Int = 4): DataFrame = {
    ensureRegistered(queries)
    val cents = spark.read.parquet(s"$path/centroids")
    val assigned = graft.StoreCommit.read(spark, path, Some("assigned"))
    probeIvf(assigned, cents, queries, idCol, vecCol, k, nProbe)
  }

  /** Lloyd-refined coarse centroids: seeded deterministically from the
    * lowest-id vectors, then `refineIters` assign → floored-integer-mean
    * rounds — each one small shuffle; cells get tighter, recall per probe
    * rises. Centroids are a small broadcast DataFrame — NOT a literal
    * expression tree (16 cells × 64 dims of literals would make every
    * derived plan pay analysis/codegen for the constants).
    */
  private def refinedCentroids(cq: DataFrame, nCells: Int, refineIters: Int): DataFrame = {
    var cents = cq.orderBy(col("id")).limit(nCells)
      .select(col("id").as("cell"), col("v").as("cv"), col("nrm").as("cn"))
    for (_ <- 1 to refineIters) {
      val assigned = bestCell(cq, cents, "id", "v", "nrm")
      val means = assigned
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"),
          // floor (not cast): exact-integer avg of int components, floored
          // identically in any engine — the whole refinement is then
          // cross-engine deterministic and oracle-checkable
          transform(col("pm"), p => floor(p.getField("m")).cast("bigint")).as("cv"))
        .withColumn("cn", sqrt(dotInt(col("cv"), col("cv")).cast("double")))
      cents = means.localCheckpoint(eager = true) // cut the growing lineage
    }
    cents
  }

  /** Per-row best cell via the [[graft.functions.IvfBestCell]] codegen
    * kernel: the centroid block (nCells·dim longs, cell-id-sorted) rides
    * ONE broadcast row and each corpus row runs one tight argmax loop —
    * n rows of work. The previous declarative shape (broadcast-join every
    * row against nCells centroids + `max_by`) streamed n·nCells joined
    * rows each dragging both full vectors through an ObjectHashAggregate:
    * 64M ~1 KB rows at 1M×64 cells, measured 1352 s of the IVF+PQ smoke's
    * build vs seconds for the kernel. Bit-identical by the kernel's
    * exactness contract (ties to the lowest cell id, NaN ordered largest).
    */
  private def bestCell(df: DataFrame, cents: DataFrame,
      idC: String, vC: String, nC: String): DataFrame = {
    val packed = cents.agg(
      array_sort(collect_list(struct(col("cell"), col("cv"), col("cn")))).as("p"))
      .select(
        transform(col("p"), x => x.getField("cell")).as("__cells"),
        flatten(transform(col("p"), x => x.getField("cv"))).as("__fcents"),
        transform(col("p"), x => x.getField("cn")).as("__cns"))
    df.crossJoin(broadcast(packed))
      .select(col(idC),
        element_at(col("__cells"),
          call_function(graft.functions.IvfBestCell.name,
            col(vC), col("__fcents"), col("__cns")) + 1).as("cell"),
        col(vC), col(nC))
  }

  /** Rerank stage shared by the in-memory and persisted-index paths:
    * queries keep their nProbe closest cells (a window is fine HERE — the
    * query set is small by contract; the corpus never goes through one),
    * then exact cosine over only those cells' members.
    */
  private def probeIvf(assigned: DataFrame, cents: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val q = prep(queries, idCol, vecCol, "query_id", "qv", "qn")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(cosPre(col("qv"), col("cv"), col("qn"), col("cn")).desc, col("cell"))
    val probes = q.join(broadcast(cents))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= nProbe)
      .drop("__r", "cv", "cn")
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosPre(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** EXACT embedding near-duplicate pairs above a cosine threshold, as a
    * blocked distributed cartesian: rows are hashed into `blocks` even
    * blocks; a tiny broadcast table of block pairs (i ≤ j) routes each
    * unordered row pair to exactly ONE equi-join match, so the plan is
    * BroadcastHashJoin + one shuffled equi-join — no
    * BroadcastNestedLoopJoin, no whole-table broadcast, per-task memory
    * bounded by two blocks. Compute is inherently O(n²/2) dot products
    * (that is the price of exactness at low thresholds, where no LSH
    * family separates near-dups from background — see
    * [[rhpNearDupPairs]] for the high-threshold scale path); shuffle
    * volume is O(n·blocks), so pick blocks ≈ n/8k to keep block pairs
    * task-sized.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, blocks: Int = 0): DataFrame = {
    ensureRegistered(df)
    val spark = df.sparkSession
    // persisted ONCE and referenced by both join sides (and by the
    // autosizing count below) — without this, autosizing re-evaluated the
    // whole upstream pipeline a second time just to count it. The cache is
    // non-eager and tracked by graft.CacheScope (release() between batches).
    val base = graft.CacheScope.persist(prep(df, idCol, vecCol, "id", "v", "nrm"))
    val nb = if (blocks > 0) blocks
      else math.max(4, math.min(1024, (base.count() / 8192L).toInt + 1))
    val a = base.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      .withColumn("__ba", pmod(xxhash64(col("id_a")), lit(nb)))
    val b = base.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
      .withColumn("__bb", pmod(xxhash64(col("id_b")), lit(nb)))
    // block pairs (i, j) with i <= j: each unordered row pair matches once
    val blockPairs = spark.range(nb.toLong * nb)
      .select((col("id") / nb).cast("long").as("__pi"),
        (col("id") % nb).cast("long").as("__pj"))
      .where(col("__pi") <= col("__pj"))
    a.join(broadcast(blockPairs), col("__ba") === col("__pi"))
      .join(b, col("__bb") === col("__pj") &&
        // same block: order ids; cross block: the (i,j) row is unique already
        (col("__ba") =!= col("__bb") || col("id_a") < col("id_b")))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        cosPre(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Build (overwrite) a persisted EMBEDDING store at `path` — prepped
    * `(id, v, nrm)` rows (fixed-point ints + norm, [[cosineNearDupPairs]]'
    * verify currency) under `batch=<tok>` dirs: the vector prep runs once
    * at ingest and incremental near-dup probes
    * ([[incrementalCosinePairs]]) read it back without touching raw
    * embeddings.
    */
  def buildEmbStore(df: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
      graft.StoreCommit.rebuild(df.sparkSession, path) {
    appendEmbStore(df, idCol, vecCol, path, "base")
  }

  /** Append one batch of NEW vectors (ids disjoint from prior batches);
    * same-token re-runs overwrite rather than duplicate. */
  def appendEmbStore(df: DataFrame, idCol: String, vecCol: String,
      path: String,
      batchToken: String = java.util.UUID.randomUUID.toString): Unit =
      graft.StoreLock.withLock(df.sparkSession, path) {
    ensureRegistered(df)
    graft.operators.DedupOps.writeStoreBatch(
      prep(df, idCol, vecCol, "id", "v", "nrm"), path, batchToken)
  }

  /** EXACT embedding near-dup pairs of a NEW batch against a persisted
    * store (plus new-new pairs) — [[cosineNearDupPairs]] over
    * store ∪ batch restricted to pairs touching >= 1 new id, WITHOUT the
    * store-store quadratic: the batch broadcasts against one streaming
    * pass of the store (|store|·|batch| dot products, distributed over
    * the store's partitions — the honest incremental cost of exactness
    * at low thresholds), and batch-internal pairs ride the blocked
    * cartesian. Batches above `maxBroadcastRows` refuse loudly — a
    * backfill that size should rebuild via the one-shot path instead of
    * silently broadcasting a giant frame.
    */
  def incrementalCosinePairs(newVecs: DataFrame, idCol: String,
      vecCol: String, path: String, minCosine: Double,
      maxBroadcastRows: Long = 1000000L): DataFrame = {
    ensureRegistered(newVecs)
    val spark = newVecs.sparkSession
    val fresh = graft.CacheScope.persist(
      prep(newVecs, idCol, vecCol, "id", "v", "nrm"))
    val n = fresh.count()
    require(n <= maxBroadcastRows,
      s"incrementalCosinePairs: probe batch has $n rows (> $maxBroadcastRows)" +
        " — a backfill this size should go through the one-shot" +
        " cosineNearDupPairs over store ∪ batch instead")
    val store = graft.StoreCommit.read(spark, path)
      .select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val oldNew = store
      .join(broadcast(fresh.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb"))))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        cosPre(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
      .where(col("cosine") >= minCosine)
    val newNew = cosineNearDupPairs(newVecs, idCol, vecCol, minCosine)
    oldNew.unionByName(newNew)
  }

  /** APPROXIMATE near-duplicate pairs at scale via random-hyperplane LSH:
    * band keys from the codegen'd [[graft.functions.RademacherBands]]
    * signature, candidates from the shared band-bucket machinery
    * ([[DedupOps.bandedCandidatePairs]], hot-bucket accounting included),
    * then EXACT cosine verification of candidates only — zero false
    * positives, miss probability (1 - p^r)^b with p = 1 - θ/π.
    *
    * Meant for high thresholds (≥ ~0.8), where r rows/band kill the
    * background collision rate while b bands keep recall ≈ 1: at
    * minCosine = 0.9 the defaults give pair-miss < 1e-4 and background
    * (θ ≈ π/2) bucket collision ≈ 1e-5/band. At low thresholds the p-gap
    * vanishes — use [[cosineNearDupPairs]] and accept the quadratic cost.
    *
    * SIZE THE PARAMS TO THE CORPUS: background candidates ≈
    * bands · C(n,2) / 2^rowsPerBand, and each candidate carries a full
    * quantized vector through the verify-join shuffle — candidate count IS
    * the shuffle budget. The defaults (64 × 16) suit n ≤ ~100k; at n = 1M
    * use ≥ 24 rows/band with bands raised to hold recall (e.g. 192 × 24:
    * ~5e6 background candidates, ~1% pair-miss at cosine 0.9).
    *
    * The internal vector cache is non-eager and tracked by
    * [[graft.CacheScope]] — release between batches in long-lived sessions
    * with `CacheScope.release()`.
    */
  def rhpNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, bands: Int = 64, rowsPerBand: Int = 16,
      seed: Long = 42L, maxBucket: Int = 1000): DataFrame = {
    ensureRegistered(df)
    graft.functions.RademacherBands.register(df.sparkSession)
    // referenced three times (banding + both verify sides): persist so the
    // upstream (possibly expensive) vector pipeline evaluates once
    val p = graft.CacheScope.persist(prep(df, idCol, vecCol, "id", "v", "nrm"))
    val banded = p.select(col("id"),
        posexplode(call_function(graft.functions.RademacherBands.name,
          col("v"), lit(bands), lit(rowsPerBand), lit(seed))))
      .select(col("id"), col("pos").as("band"), col("col").as("key"))
    val cands = DedupOps.bandedCandidatePairs(banded, maxBucket)
    // large-large equi-joins: hint shuffle-hash so the planner never tries
    // to BROADCAST the corpus side (a driver-side collect of the whole
    // vector table — exactly the failure mode this operator exists to avoid)
    cands
      .join(p.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(p.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
        .hint("shuffle_hash"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosPre(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Threshold above which random-hyperplane LSH separates near-dups from
    * background well enough for candidate volume to stay sub-quadratic
    * (see [[rhpNearDupPairs]]: at lower thresholds the per-band collision
    * gap vanishes and no banding scheme helps).
    */
  val RhpCosineThreshold = 0.8

  /** Unified embedding near-duplicate entry point — the scaladoc routing
    * policy as code: at `minCosine >= RhpCosineThreshold` take the
    * sub-quadratic LSH path ([[rhpNearDupPairs]] — approximate, miss
    * probability documented there); below it, no LSH family separates
    * near-dups from background, so take the exact blocked-cartesian path
    * ([[cosineNearDupPairs]]) and pay the O(n²/2) dot products that
    * exactness costs. Both routes return (id_a, id_b, cosine) with
    * id_a < id_b and cosine >= minCosine.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, blocks: Int = 0, bands: Int = 64,
      rowsPerBand: Int = 16, seed: Long = 42L, maxBucket: Int = 1000): DataFrame =
    if (minCosine >= RhpCosineThreshold)
      rhpNearDupPairs(df, idCol, vecCol, minCosine, bands, rowsPerBand, seed, maxBucket)
    else cosineNearDupPairs(df, idCol, vecCol, minCosine, blocks)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540, re-expressed over this module's exact/LSH pair
    * machinery): embedding near-duplicate PAIRS → transitive clusters →
    * keep the min-id representative of each cluster (singletons keep
    * themselves). Returns `(idCol, component)` for KEPT rows only —
    * `component` is the cluster label the row represents, so the dropped
    * set is recoverable by anti-join.
    *
    * Composition of [[nearDupPairs]] (routing and its cost model documented
    * there) and [[DedupOps.connectedComponents]] (logarithmic-round star
    * contraction) — both already 100 TB-shaped; the final keep is one
    * id-keyed left join against the tiny (|clustered nodes|) label map.
    */
  def semanticDedupKeep(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, blocks: Int = 0, bands: Int = 64,
      rowsPerBand: Int = 16, seed: Long = 42L,
      maxBucket: Int = 1000, freezeStars: Boolean = true): DataFrame = {
    val pairs = nearDupPairs(df, idCol, vecCol, minCosine, blocks, bands,
      rowsPerBand, seed, maxBucket)
    // the label frame's columns are renamed to reserved names BEFORE the
    // join so any caller idCol works — with idCol = "id", col(idCol) would
    // otherwise be ambiguous between the two sides. freezeStars passes
    // through to [[DedupOps.connectedComponents]] — near-dup cluster graphs
    // are exactly its design case (masses of tiny clusters + the odd
    // hot-bucket chain).
    val cc = DedupOps.connectedComponents(pairs, "id_a", "id_b",
      freezeStars = freezeStars)
      .select(col("id").as("__cc_id"), col("component").as("__cc_component"))
    df.select(col(idCol))
      .join(cc, col(idCol) === col("__cc_id"), "left")
      .where(col("__cc_component").isNull || col("__cc_component") === col(idCol))
      .select(col(idCol), coalesce(col("__cc_component"), col(idCol)).as("component"))
  }

  /** SQ8 two-stage ANN: scan a symmetric-int8-quantized corpus for
    * candidates, then rerank only those exactly — the standard memory/IO
    * trade for billion-vector search (4 bytes/dim float → 1 byte/dim,
    * so the candidate scan moves 4× less data; FAISS's SQ8 flat index is
    * this exact shape). Quantization uses ONE per-corpus scale (the max
    * absolute fixed-point coordinate, a build-time constant):
    * `q = ((x + gmax)·127) div gmax − 127 ∈ [−127, 127]` — the shift
    * keeps the dividend non-negative, where floor and truncation agree,
    * so any engine reproduces the codes bit-for-bit; candidate scores
    * `Σ qa·qb` are then small exact integers (≤ 127²·dims) and the
    * candidate SET is deterministic (score desc, id tiebreak). Stage 2
    * rescores the `k·candFactor` survivors per query with the exact
    * fixed-point cosine, restoring exact scores — only the RANKING
    * beyond the candidate pool is approximate, and recall vs brute force
    * is property-tested. Queries with coordinates beyond the corpus gmax
    * quantize linearly past ±127 (no clamp) — benign, but keep queries
    * on the corpus scale for the int8 intuition to hold.
    *
    * Scale shape: corpus scanned once map-side against broadcast
    * quantized queries (identical to [[bruteForceTopK]] but on int8
    * codes); rescore touches only candidates (broadcast-joined back to
    * the full vectors). Deployment note: persist the q8 codes next to
    * the corpus (cf. [[buildIvfIndex]]) so probes never touch the float
    * vectors until rescore.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      candFactor: Int = 4): DataFrame = {
    require(k > 0 && candFactor > 0, "k and candFactor must be positive")
    ensureRegistered(corpus)
    val c = graft.CacheScope.persist(
      prep(corpus, idCol, vecCol, "neighbor_id", "cv", "cn"))
    val q = graft.CacheScope.persist(
      prep(queries, idCol, vecCol, "query_id", "qv", "qn"))
    val gm = corpusGmax(c, "cv")
    val c8 = c.crossJoin(broadcast(gm))
      .select(col("neighbor_id"), q8Expr("cv").as("c8"))
    sq8Rescore(sq8Candidates(c8, sq8Queries(q, gm), k, candFactor), c, q, k)
  }

  /** One-row frame holding the per-corpus SQ8 scale `__gm` — the max
    * absolute fixed-point coordinate (exact long aggregation).
    */
  private def corpusGmax(c: DataFrame, vCol: String): DataFrame =
    c.select(max(expr(
      s"aggregate($vCol, 0L, (m, x) -> greatest(m, abs(CAST(x AS BIGINT))))"))
      .as("__gm"))

  /** The stored SQ8 scale of an index's `meta` row as a one-row `__gm`
    * frame — the shape [[corpusGmax]] builds from a corpus.
    */
  private def storedGmax(spark: org.apache.spark.sql.SparkSession,
      meta: org.apache.spark.sql.Row): DataFrame =
    spark.range(1).select(lit(meta.get(meta.fieldIndex("gmax"))).cast("bigint").as("__gm"))

  /** Engine-exact int8 codes for the vector column named `v`, given a
    * `__gm` scale column in scope: `((x + gm)·127) div gm − 127` — the
    * shift keeps the dividend non-negative, where floor == truncation.
    */
  private def q8Expr(v: String): Column = expr(
    s"""transform($v, x -> CASE WHEN __gm = 0L THEN 0L
       |  ELSE ((CAST(x AS BIGINT) + __gm) * 127L) DIV __gm - 127L
       |END)""".stripMargin)

  private def sq8Queries(q: DataFrame, gm: DataFrame): DataFrame =
    q.crossJoin(broadcast(gm)).select(col("query_id"), q8Expr("qv").as("qq8"))

  /** Stage 1: scan int8 codes against broadcast int8 queries, keep the
    * `k·candFactor` best integer scores per query (score desc, id).
    */
  private def sq8Candidates(c8: DataFrame, q8q: DataFrame,
      k: Int, candFactor: Int): DataFrame =
    topKTwoPhase(
      c8.join(broadcast(q8q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          dotInt(col("qq8"), col("c8")).as("s8")),
      "query_id", "neighbor_id",
      Seq(col("s8").desc, col("neighbor_id")), k * candFactor)
      .select(col("query_id"), col("neighbor_id"))

  /** Stage 2: exact fixed-point cosine over candidates only. */
  private def sq8Rescore(cands: DataFrame, c: DataFrame, q: DataFrame,
      k: Int): DataFrame =
    topKPerQuery(
      c.join(broadcast(cands), Seq("neighbor_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cosine",
          cosPre(col("qv"), col("cv"), col("qn"), col("cn"))), k)

  /** Persist the SQ8 side of [[sq8TopK]] — build once, probe many. Layout:
    * `path/meta` (one row: the scale `gmax` + vector dim) and
    * `path/codes/batch=<token>/` (id, int8 code array; parquet bit-packing
    * stores the small ints near 1 byte/dim). The float/fixed-point vectors
    * are NOT duplicated into the index: stage-2 rescore touches only
    * `k·candFactor` rows per query, a semi-join point-lookup against the
    * source corpus — the scan-side win is what the index exists for.
    * Appends ([[appendSq8Index]]) reuse the STORED scale so codes stay
    * mutually comparable, and land as replay-idempotent `batch=` dirs
    * (the minhash-store pattern); a drifting data range eventually wants
    * a rebuild, which recomputes the scale.
    */
  def buildSq8Index(corpus: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
      graft.StoreCommit.rebuild(corpus.sparkSession, path) {
    ensureRegistered(corpus)
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    // an empty corpus has no scale: a zero-row meta would make every later
    // probe silently return nothing — fail at build time instead (the same
    // loud contract as appendSq8Index on a missing index)
    require(!c.isEmpty, s"buildSq8Index: empty corpus, no scale to derive for $path")
    val gm = corpusGmax(c, "cv")
    graft.StoreCommit.writeBatch(c.sparkSession, path, "base") { b =>
      b.sidecar(c.crossJoin(broadcast(gm))
        .select(col("__gm").as("gmax"), size(col("cv")).as("dim"))
        .limit(1), "meta")
      b.write(sq8Codes(c, gm), "codes")
    }
  }

  /** (id, c8) SQ8 code rows of prepped vectors under the scale `gm`. */
  private def sq8Codes(c: DataFrame, gm: DataFrame): DataFrame =
    c.crossJoin(broadcast(gm))
      .select(col("neighbor_id").as("id"),
        q8Expr("cv").cast("array<int>").as("c8"))

  /** Append new vectors' codes to a persisted SQ8 index without a rebuild
    * (cf. [[appendIvfIndex]]): encode under the STORED scale, reject a
    * dimension mismatch loudly, land as an atomic `batch=<token>` dir.
    *
    * Ids must be NEW: a duplicate id lands duplicate code rows, stage 1
    * then emits the same neighbor twice and the rescore can displace true
    * top-k rows. `checkIds` (default on) rejects an overlap loudly with
    * one id-column scan of the OTHER batches (parquet prunes to the id
    * column; the appending batch's own dir is partition-pruned out, so a
    * same-token replay stays idempotent). Turn it off only when the caller
    * proves disjointness upstream.
    */
  def appendSq8Index(newVecs: DataFrame, idCol: String, vecCol: String,
      path: String,
      batchToken: String = java.util.UUID.randomUUID.toString,
      checkIds: Boolean = true): Unit =
      graft.StoreLock.withLock(newVecs.sparkSession, path) {
    ensureRegistered(newVecs)
    val spark = newVecs.sparkSession
    val meta = graft.StoreCommit.meta(spark, path).getOrElse(
      throw new IllegalStateException(s"no SQ8 index at $path"))
    val dim = meta.getAs[Int]("dim")
    val bad = newVecs.where(size(col(vecCol)) =!= dim).limit(1).collect()
    require(bad.isEmpty,
      s"appendSq8Index: appended vector dimension != index dimension $dim at $path")
    if (checkIds) {
      val existing = graft.StoreCommit.read(spark, path, Some("codes"))
        .where(col("batch") =!= lit(batchToken)).select(col("id"))
      val clash = existing
        .join(newVecs.select(col(idCol).as("id")), Seq("id"))
        .limit(1).collect()
      require(clash.isEmpty,
        s"appendSq8Index: id ${clash.head.get(0)} already present in the index " +
          s"at $path — duplicate codes corrupt top-k results (pass checkIds " +
          "= false only with upstream disjointness)")
    }
    val c = prep(newVecs, idCol, vecCol, "neighbor_id", "cv", "cn")
    val gm = storedGmax(spark, meta)
    graft.StoreCommit.writeBatch(spark, path, batchToken)(
      _.write(sq8Codes(c, gm), "codes"))
  }

  /** Probe a persisted SQ8 index: stage-1 candidates from the stored
    * codes (queries encoded under the STORED scale), stage-2 exact
    * rescore against `corpus` (the source of truth for vectors — only
    * candidate rows are touched). With the index built from the same
    * corpus, results == [[sq8TopK]] with the same parameters.
    */
  def sq8TopKIndexed(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, path: String, k: Int,
      candFactor: Int = 4): DataFrame = {
    require(k > 0 && candFactor > 0, "k and candFactor must be positive")
    ensureRegistered(corpus)
    val spark = corpus.sparkSession
    // a zero-row meta (e.g. a corrupt or hand-built index) would cross-join
    // to an empty query set and silently return no neighbors — fail loudly
    // like appendSq8Index does on a missing index
    val meta = graft.StoreCommit.meta(spark, path)
    require(meta.nonEmpty, s"sq8TopKIndexed: empty SQ8 meta at $path")
    val gm = storedGmax(spark, meta.get)
    val c8 = graft.StoreCommit.read(spark, path, Some("codes"))
      .select(col("id").as("neighbor_id"), col("c8"))
    val q = graft.CacheScope.persist(
      prep(queries, idCol, vecCol, "query_id", "qv", "qn"))
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    sq8Rescore(sq8Candidates(c8, sq8Queries(q, gm), k, candFactor), c, q, k)
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ) ANN — the compression step past SQ8
  // ---------------------------------------------------------------------

  /** PQ two-stage ANN (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011; FAISS's PQ index family): vectors split
    * into `m` sub-spaces; each sub-space gets its own `ksub`-centroid
    * codebook (same deterministic floored-integer Lloyd as
    * [[refinedCentroids]], seeded from the lowest-id vectors, run per
    * sub-space); a vector's code is its m nearest-sub-centroid ranks —
    * m·log2(ksub) bits instead of 32·dim, an order of magnitude smaller
    * than even SQ8's 8·dim. Query scoring is ADC (asymmetric distance
    * computation): per query ONE table of exact integer sub-dot-products
    * against every live sub-centroid, then each corpus vector's
    * approximate dot is m table gathers — no per-pair arithmetic beyond m
    * adds. Stage 2 rescores the k·candFactor survivors with the exact
    * fixed-point cosine (identical tail to [[sq8TopK]]).
    *
    * Everything integral: codebook refinement uses floored integer means
    * (exact-integer avgs in double, |sums| < 2^53), assignment minimizes
    * the exact long L2 Σ(x−c)² with ties to the lowest cell rank, ADC
    * tables are exact long dots — so the candidate SET is
    * engine-reproducible and the gate oracle replays the whole
    * construction in SQL (the [[ivfTopK]] contract, per sub-space).
    *
    * Scale shape: the codebook is k-means-small (m·ksub·subDim longs —
    * 16K at m=8/ksub=256/64d) and lives DRIVER-side between rounds, flat
    * broadcast arrays during them; encode / table / score are the three
    * codegen'd kernels in [[graft.functions.PqEncode]] — ONE tight loop
    * per corpus row, no joined n·m·ksub stream (the declarative
    * explode+join+max_by spelling streamed 2·10⁹ rows into an
    * ObjectHashAggregate whose 128-key sort fallback spilled 80 GB on the
    * 1M-vector smoke before this shape replaced it). Refinement's means
    * are ONE primitive-buffer hash aggregation per round over the
    * (j, code, component) explode. The probe scan is map-side (codes ×
    * broadcast per-query tables) into the salted two-phase top-k; rescore
    * touches only candidates. Recall at equal candidate budget trails SQ8
    * (64-bit codes vs 512-bit at m=8/ksub=256) — buy it back with
    * `candFactor`, measured in the 1M-vector ScaleSmoke.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 4, ksub: Int = 8, refineIters: Int = 1,
      candFactor: Int = 4): DataFrame = {
    require(k > 0 && candFactor > 0, "k and candFactor must be positive")
    ensureRegistered(corpus)
    val c = graft.CacheScope.persist(
      prep(corpus, idCol, vecCol, "neighbor_id", "cv", "cn"))
    val q = graft.CacheScope.persist(
      prep(queries, idCol, vecCol, "query_id", "qv", "qn"))
    val book = trainPqBook(c.select(col("neighbor_id").as("id"), col("cv").as("v")),
      m, ksub, refineIters)
    val codes = pqEncodeAll(c.select(col("neighbor_id").as("id"), col("cv").as("v")), book)
    val tables = pqAdcTables(q, book)
    sq8Rescore(pqCandidates(codes, tables, k * candFactor), c, q, k)
  }

  /** OPQ-lite: deterministic variance-balancing dimension PERMUTATION
    * before PQ (cf. Ge et al., "Optimized Product Quantization", CVPR
    * 2013 — the learned-rotation idea restricted to a permutation, which
    * keeps the construction integer-exact and cross-engine
    * reproducible). Plain PQ splits dims by POSITION; when energy
    * concentrates in a few leading dims, one sub-space carries most of
    * the distortion budget while others quantize noise. Dealing dims
    * round-robin in decreasing corpus-energy order equalizes each
    * sub-space's energy at equal code budget. A permutation applied to
    * corpus AND queries preserves dot products and norms exactly, so the
    * exact-rescore tail (and the meaning of the final cosine) is
    * untouched — only the stage-1 candidate quality improves.
    *
    * Per-dim energy Σx² is summed in DECIMAL(38,0) over the quantized
    * corpus (long products; the decimal sum cannot saturate at any
    * corpus size, unlike a long accumulator at ~10⁶-scale components).
    * Ranks tie-break on dim index; sub-space j takes ranked dims with
    * rank ≡ j (mod m), in rank order — exactly the construction the
    * `ann_pq_balanced` gate oracle replays in SQL.
    *
    * Scale shape: one dim-bounded aggregation (dim rows to the driver —
    * the same k-means-small codebook channel PQ already uses), then the
    * permutation is a fixed projection folded into codegen; everything
    * downstream is [[pqTopK]] unchanged.
    */
  def pqTopKBalanced(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 4, ksub: Int = 8, refineIters: Int = 1,
      candFactor: Int = 4): DataFrame = {
    ensureRegistered(corpus)
    val perm = balancedPerm(corpus.select(quantize(col(vecCol)).as("v")), m)
    def permute(df: DataFrame) = df.withColumn(vecCol,
      array(perm.map(i => col(vecCol).getItem(i)).toIndexedSeq: _*))
    pqTopK(permute(corpus), permute(queries), idCol, vecCol, k,
      m, ksub, refineIters, candFactor)
  }

  /** The balanced permutation itself: output slot `j*(dim/m) + r/m` holds
    * the dim with energy rank r (desc, ties by dim index), for r ≡ j
    * (mod m).
    */
  private[operators] def balancedPerm(q: DataFrame, m: Int): Array[Int] = {
    val en = q.select(posexplode(col("v")))
      .select(col("pos"),
        (col("col").cast("bigint") * col("col").cast("bigint"))
          .cast("decimal(38,0)").as("xx"))
      .groupBy("pos").agg(sum(col("xx")).as("e"))
      .collect().map(r => (r.getInt(0), r.getDecimal(1)))
    require(en.nonEmpty, "balancedPerm: empty corpus")
    val dim = en.length
    require(dim % m == 0, s"balancedPerm: dimension $dim not divisible by m=$m")
    val ranked = en.sortWith { case ((ia, ea), (ib, eb)) =>
      val c = ea.compareTo(eb)
      if (c != 0) c > 0 else ia < ib
    }.map(_._1)
    (0 until m).flatMap(j => (0 until dim).filter(_ % m == j).map(ranked)).toArray
  }

  /** Driver-side PQ codebook: flat centroid components in (sub-space,
    * cell rank, component) order + per-sub-space rank offsets (jagged —
    * a refinement round may empty a cell; see
    * [[graft.functions.PqEncode]] for the layout contract).
    */
  private[operators] case class PqBook(flat: Array[Long], joff: Array[Long],
      m: Int, dim: Int) {
    def frame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      Seq((flat.toSeq, joff.toSeq)).toDF("__cents", "__joff")
    }
    /** (j, cell, cv) rows for persistence — cell = rank within sub-space. */
    def rows: Seq[(Int, Long, Seq[Long])] = {
      val sub = dim / m
      (0 until m).flatMap { j =>
        (joff(j) until joff(j + 1)).map { g =>
          (j, g - joff(j), flat.slice((g * sub).toInt, ((g + 1) * sub).toInt).toSeq)
        }
      }
    }
  }

  private def pqEncodeCol(v: Column, cents: Column, joff: Column): Column =
    call_function(graft.functions.PqEncode.name, v, cents, joff)

  /** Train per-sub-space codebooks: seeds = the ksub lowest ids' vectors
    * (ranks in id order — the oracle's seed-id order), then `refineIters`
    * assign → floored-integer-mean rounds. Each round is one codegen'd
    * encode pass + one primitive hash aggregation; the (tiny) means come
    * back to the driver, exactly like any k-means training loop.
    */
  private def trainPqBook(df: DataFrame, m: Int, ksub: Int,
      refineIters: Int): PqBook = {
    require(m >= 1 && ksub >= 1 && refineIters >= 0,
      "m, ksub must be >= 1; refineIters >= 0")
    val spark = df.sparkSession
    val seeds = df.orderBy(col("id")).limit(ksub)
      .select(col("v").cast("array<bigint>")).collect()
      .map(_.getSeq[Long](0).toArray)
    require(seeds.nonEmpty, "pq: empty corpus, no codebooks to train")
    val dim = seeds.head.length
    require(dim % m == 0, s"pq: vector dimension $dim not divisible by m=$m")
    val sub = dim / m
    def bookOf(cells: Array[Array[Array[Long]]]): PqBook = {
      val joff = cells.map(_.length.toLong).scanLeft(0L)(_ + _)
      PqBook(cells.flatMap(_.flatten), joff, m, dim)
    }
    // seed book: sub-slice j of each seed vector, ranks in seed-id order
    var book = bookOf(Array.tabulate(m) { j =>
      seeds.map(_.slice(j * sub, (j + 1) * sub))
    })
    for (_ <- 1 to refineIters) {
      val bf = book.frame(spark)
      val means = df.crossJoin(broadcast(bf))
        .select(col("v"),
          posexplode(pqEncodeCol(col("v"), col("__cents"), col("__joff"))))
        .select(col("col").as("code"), col("pos").as("j"),
          posexplode(slice(col("v"), col("pos") * sub + 1, lit(sub))))
        .groupBy(col("j"), col("code"), col("pos"))
        // exact-integer avg of int components (|sums| < 2^53), floored
        // identically in any engine — cross-engine deterministic
        .agg(avg(col("col")).as("mn"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
          math.floor(r.getDouble(3)).toLong))
      val cells = Array.tabulate(m) { j =>
        means.filter(_._1 == j).groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (_, comps) =>
            val arr = new Array[Long](sub)
            comps.foreach { case (_, _, p, x) => arr(p) = x }
            arr
          }.toArray
      }
      book = bookOf(cells)
    }
    book
  }

  /** Encode the corpus: (id, codes array<int>) — one codegen'd pass, no
    * explode, no join, no aggregation.
    */
  private def pqEncodeAll(df: DataFrame, book: PqBook): DataFrame = {
    val bf = book.frame(df.sparkSession)
    df.crossJoin(broadcast(bf))
      .select(col("id"),
        pqEncodeCol(col("v"), col("__cents"), col("__joff")).as("codes"))
  }

  /** Per-query ADC tables: one codegen'd pass over the (small) query set;
    * each row carries the table plus the rank offsets the scorer gathers
    * through.
    */
  private def pqAdcTables(q: DataFrame, book: PqBook): DataFrame = {
    val bf = book.frame(q.sparkSession)
    q.crossJoin(broadcast(bf))
      .select(col("query_id"),
        call_function(graft.functions.PqAdcTable.name,
          col("qv"), col("__cents"), col("__joff")).as("table"),
        col("__joff"))
  }

  /** Stage 1: ADC scan — corpus codes against broadcast per-query tables;
    * each score is m table gathers summed ([[graft.functions.PqAdcScore]],
    * exact longs); keep the `n` best (score desc, id) via the salted
    * two-phase top-k. `tables` carries (query_id, table, __joff).
    *
    * The fan-out join is SPLIT: the nested-loop product runs over the
    * query IDS alone, and the (wide — m·ksub longs) ADC table attaches
    * afterwards through a broadcast HASH join, whose codegen consumes the
    * build-side row in place. Fanning the table itself through the
    * nested-loop join copied it into every one of the corpus×queries
    * output rows — at 1M×100 and a 16 KB table that was ~1.6 TB of row
    * traffic, measured 5× slower than this shape.
    */
  private def pqCandidates(codes: DataFrame, tables: DataFrame,
      n: Int): DataFrame =
    topKTwoPhase(
      codes.select(col("id").as("neighbor_id"), col("codes"))
        .join(broadcast(tables.select(col("query_id"))),
          col("query_id") =!= col("neighbor_id"))
        .join(broadcast(tables), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          call_function(graft.functions.PqAdcScore.name,
            col("codes"), col("table"), col("__joff")).as("s8")),
      "query_id", "neighbor_id",
      Seq(col("s8").desc, col("neighbor_id")), n)
      .select(col("query_id"), col("neighbor_id"))

  /** IVF + PQ composed ANN — the canonical billion-scale serving shape
    * (FAISS's IVFPQ family): IVF cells PRUNE the scan — only the query's
    * nProbe cells' codes are ADC-scored, nProbe/nCells of the corpus —
    * while PQ codes COMPRESS what is scanned. The construction is the
    * exact composition of [[ivfTopK]]'s cell machinery (same centroids,
    * same assignment tie-breaks) and [[pqTopK]]'s codebooks over the FULL
    * corpus vectors (not per-cell residuals: residual codes couple every
    * code to its cell centroid, so a centroid refresh would invalidate
    * the whole code store and appends under frozen codebooks — the store
    * family's contract — would be impossible). Both chains are
    * deterministic, so the DuckDB oracle replays them and joins: ADC
    * candidates restricted to probed cells, top k·candFactor by
    * (int score DESC, id), exact rescore to k.
    *
    * Scale: centroids and codebooks broadcast (tiny); the cell
    * restriction is an equi-join of the code frame with the assignment
    * frame on id (in the persisted layout the codes would live
    * `cell=*`-partitioned, making this a directory prune instead); the
    * candidate fan-out joins broadcast probe/table frames and feeds the
    * salted two-phase top-k. Per-query scan cost drops from |corpus|
    * codes ([[pqTopK]]) to |corpus|·nProbe/nCells.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 4, ksub: Int = 8,
      ivfRefine: Int = 2, pqRefine: Int = 1, candFactor: Int = 4): DataFrame = {
    require(k > 0 && candFactor > 0 && nProbe > 0, "k, candFactor, nProbe must be positive")
    ensureRegistered(corpus)
    val c = graft.CacheScope.persist(
      prep(corpus, idCol, vecCol, "neighbor_id", "cv", "cn"))
    val q = graft.CacheScope.persist(
      prep(queries, idCol, vecCol, "query_id", "qv", "qn"))
    val cq = c.select(col("neighbor_id").as("id"), col("cv").as("v"), col("cn").as("nrm"))
    val cents = refinedCentroids(cq, nCells, ivfRefine)
    val assigned = bestCell(cq, cents, "id", "v", "nrm")
      .select(col("id").as("neighbor_id"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(cosPre(col("qv"), col("cv"), col("qn"), col("cn")).desc, col("cell"))
    val probes = q.join(broadcast(cents))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= nProbe)
      .select(col("query_id"), col("cell"))
    val book = trainPqBook(
      c.select(col("neighbor_id").as("id"), col("cv").as("v")), m, ksub, pqRefine)
    val codes = pqEncodeAll(
      c.select(col("neighbor_id").as("id"), col("cv").as("v")), book)
    val tables = pqAdcTables(q, book)
    val scoredCands = codes.select(col("id").as("neighbor_id"), col("codes"))
      .join(assigned, Seq("neighbor_id"))
      .join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(tables), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        call_function(graft.functions.PqAdcScore.name,
          col("codes"), col("table"), col("__joff")).as("s8"))
    val cands = topKTwoPhase(scoredCands, "query_id", "neighbor_id",
      Seq(col("s8").desc, col("neighbor_id")), k * candFactor)
      .select(col("query_id"), col("neighbor_id"))
    sq8Rescore(cands, c, q, k)
  }

  /** Persist the IVF+PQ serving index — build once, probe many:
    * `path/centroids` (coarse cells, tiny), `path/meta` + `path/codebooks`
    * (the PQ side, as [[buildPqIndex]]), and `path/codes/batch=<token>` of
    * `cell=N` subdirs — PQ codes hive-partitioned BY CELL, so a probe
    * reads ONLY its nProbe cells' directories (the directory prune that
    * [[ivfPqTopK]]'s in-memory equi-join stands in for: at 100 TB the
    * probe's scan is nProbe/nCells of the code store, enforced by
    * partition pruning, not a filter after a full scan). Source vectors
    * are not duplicated; rescore point-looks-up the corpus like every
    * store in the family.
    */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nCells: Int = 16, ivfRefine: Int = 2,
      m: Int = 4, ksub: Int = 8, pqRefine: Int = 1): Unit =
      graft.StoreCommit.rebuild(corpus.sparkSession, path) {
    ensureRegistered(corpus)
    val c = prep(corpus, idCol, vecCol, "id", "v", "nrm")
    require(!c.isEmpty, s"buildIvfPqIndex: empty corpus, nothing to train for $path")
    graft.StoreCommit.writeBatch(corpus.sparkSession, path, "base") { b =>
      val cents = refinedCentroids(c, nCells, ivfRefine)
      b.sidecar(cents, "centroids")
      val book = trainPqBook(c.select(col("id"), col("v")), m, ksub, pqRefine)
      writePqBook(corpus.sparkSession, b, book, m, ksub)
      writeByCell(cellCodes(bestCell(c, cents, "id", "v", "nrm"), book),
        b.dir("codes"))
    }
  }

  /** One batch's (id, codes, cell) rows: [[bestCell]] assignments encoded
    * against `book`, for [[writeByCell]].
    */
  private def cellCodes(assigned: DataFrame, book: PqBook): DataFrame =
    assigned.crossJoin(broadcast(book.frame(assigned.sparkSession)))
      .select(col("id"),
        pqEncodeCol(col("v"), col("__cents"), col("__joff")).as("codes"),
        col("cell"))

  /** The PQ `meta` (m, ksub, dim) and `codebooks` sidecars of a build. */
  private def writePqBook(spark: org.apache.spark.sql.SparkSession,
      b: graft.StoreCommit.BatchWriter, book: PqBook, m: Int, ksub: Int): Unit = {
    import spark.implicits._
    b.sidecar(Seq((m, ksub, book.dim)).toDF("m", "ksub", "dim"), "meta")
    b.sidecar(book.rows.toDF("j", "cell", "cv"), "codebooks")
  }

  /** Append new vectors under the FROZEN centroids and codebooks: assign
    * to the stored cells, encode against the stored sub-centroids, land as
    * a replay-idempotent `batch=<token>/cell=*` dir. Dimension mismatches
    * and id overlaps are rejected loudly (cf. [[appendPqIndex]]); neither
    * the centroids nor the codebooks retrain — that is a rebuild's job.
    */
  def appendIvfPqIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      path: String,
      batchToken: String = java.util.UUID.randomUUID.toString,
      checkIds: Boolean = true): Unit =
      graft.StoreLock.withLock(newVecs.sparkSession, path) {
    ensureRegistered(newVecs)
    val spark = newVecs.sparkSession
    val meta = graft.StoreCommit.meta(spark, path)
      .getOrElse(throw new IllegalStateException(s"no IVF+PQ index at $path"))
    val (m, dim) = (meta.getAs[Int]("m"), meta.getAs[Int]("dim"))
    val bad = newVecs.where(size(col(vecCol)) =!= dim).limit(1).collect()
    require(bad.isEmpty,
      s"appendIvfPqIndex: appended vector dimension != index dimension $dim at $path")
    if (checkIds) {
      val clash = graft.StoreCommit.read(spark, path, Some("codes"))
        .where(col("batch") =!= lit(batchToken)).select(col("id"))
        .join(newVecs.select(col(idCol).as("id")), Seq("id"))
        .limit(1).collect()
      require(clash.isEmpty,
        s"appendIvfPqIndex: id ${clash.headOption.map(_.get(0)).orNull} already " +
          s"present in the index at $path — duplicate codes corrupt top-k " +
          "(pass checkIds = false only with upstream disjointness)")
    }
    val cents = spark.read.parquet(s"$path/centroids")
    val book = readPqBook(spark, path, m, dim)
    val c = prep(newVecs, idCol, vecCol, "id", "v", "nrm")
    graft.StoreCommit.writeBatch(spark, path, batchToken)(b => writeByCell(
      cellCodes(bestCell(c, cents, "id", "v", "nrm"), book), b.dir("codes")))
  }

  /** Probe a persisted IVF+PQ index: the probed cell set (≤ queries ×
    * nProbe scalars) is collected and pushed as a partition filter, so the
    * scan touches ONLY those cells' code directories; ADC scores cut to
    * k·candFactor, exact rescore against `corpus` (the vectors' source of
    * truth). Built from the same corpus and parameters, results ==
    * [[ivfPqTopK]].
    */
  def ivfPqTopKIndexed(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, path: String, k: Int,
      nProbe: Int = 4, candFactor: Int = 4): DataFrame = {
    require(k > 0 && candFactor > 0 && nProbe > 0, "k, candFactor, nProbe must be positive")
    ensureRegistered(corpus)
    val spark = corpus.sparkSession
    val meta = graft.StoreCommit.meta(spark, path)
      .getOrElse(throw new IllegalStateException(s"no IVF+PQ index at $path"))
    val (m, dim) = (meta.getAs[Int]("m"), meta.getAs[Int]("dim"))
    val cents = spark.read.parquet(s"$path/centroids")
    val book = readPqBook(spark, path, m, dim)
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val q = graft.CacheScope.persist(
      prep(queries, idCol, vecCol, "query_id", "qv", "qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(cosPre(col("qv"), col("cv"), col("qn"), col("cn")).desc, col("cell"))
    val probes = graft.CacheScope.persist(q.join(broadcast(cents))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= nProbe)
      .select(col("query_id"), col("cell")))
    // scalar-bounded driver carry: <= queries * nProbe cell ids, pushed as
    // a static partition filter so unprobed cell dirs are never listed
    val cells = probes.select(col("cell")).distinct().collect().map(_.getLong(0))
    val codes = graft.StoreCommit.read(spark, path, Some("codes"))
      .where(col("cell").cast("bigint").isin(cells: _*))
      .select(col("id").as("neighbor_id"), col("codes"),
        col("cell").cast("bigint").as("cell"))
    val scoredCands = codes
      .join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(pqAdcTables(q, book)), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        call_function(graft.functions.PqAdcScore.name,
          col("codes"), col("table"), col("__joff")).as("s8"))
    val cands = topKTwoPhase(scoredCands, "query_id", "neighbor_id",
      Seq(col("s8").desc, col("neighbor_id")), k * candFactor)
      .select(col("query_id"), col("neighbor_id"))
    sq8Rescore(cands, c, q, k)
  }

  /** Persist the PQ side of [[pqTopK]] — build once, probe many (the
    * [[buildSq8Index]] layout): `path/meta` (m, ksub, dim),
    * `path/codebooks` (the live sub-centroids — tiny), `path/codes/
    * batch=<token>` (id, m-code array; the small ints bit-pack near
    * log2(ksub) bits in parquet). Source vectors are NOT duplicated —
    * rescore point-looks-up the corpus like every store in the family.
    */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, m: Int = 4, ksub: Int = 8, refineIters: Int = 1): Unit =
      graft.StoreCommit.rebuild(corpus.sparkSession, path) {
    ensureRegistered(corpus)
    val c = prep(corpus, idCol, vecCol, "id", "v", "nrm")
    require(!c.isEmpty, s"buildPqIndex: empty corpus, no codebooks to train for $path")
    graft.StoreCommit.writeBatch(corpus.sparkSession, path, "base") { b =>
      val book = trainPqBook(c.select(col("id"), col("v")), m, ksub, refineIters)
      writePqBook(corpus.sparkSession, b, book, m, ksub)
      b.write(pqEncodeAll(c.select(col("id"), col("v")), book), "codes")
    }
  }

  /** Read a persisted codebook back into driver form. */
  private def readPqBook(spark: org.apache.spark.sql.SparkSession,
      path: String, m: Int, dim: Int): PqBook = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .select(col("j").cast("int"), col("cell").cast("bigint"),
        col("cv").cast("array<bigint>"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray))
      .sortBy(t => (t._1, t._2))
    val cells = Array.tabulate(m)(j => rows.filter(_._1 == j).map(_._3))
    val joff = cells.map(_.length.toLong).scanLeft(0L)(_ + _)
    PqBook(cells.flatMap(_.flatten), joff, m, dim)
  }

  /** Append new vectors' codes under the FROZEN codebooks (cf.
    * [[appendSq8Index]]): encode against the stored sub-centroids, reject
    * dimension mismatches and id overlaps loudly, land as an atomic
    * replay-idempotent `batch=<token>` dir. Codebooks are deliberately not
    * re-trained — that is the rebuild's job; drifting appended mass decays
    * per-candidate recall until a rebuild.
    */
  def appendPqIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      path: String,
      batchToken: String = java.util.UUID.randomUUID.toString,
      checkIds: Boolean = true): Unit =
      graft.StoreLock.withLock(newVecs.sparkSession, path) {
    ensureRegistered(newVecs)
    val spark = newVecs.sparkSession
    val meta = graft.StoreCommit.meta(spark, path)
      .getOrElse(throw new IllegalStateException(s"no PQ index at $path"))
    val (m, dim) = (meta.getAs[Int]("m"), meta.getAs[Int]("dim"))
    val bad = newVecs.where(size(col(vecCol)) =!= dim).limit(1).collect()
    require(bad.isEmpty,
      s"appendPqIndex: appended vector dimension != index dimension $dim at $path")
    if (checkIds) {
      val clash = graft.StoreCommit.read(spark, path, Some("codes"))
        .where(col("batch") =!= lit(batchToken)).select(col("id"))
        .join(newVecs.select(col(idCol).as("id")), Seq("id"))
        .limit(1).collect()
      require(clash.isEmpty,
        s"appendPqIndex: id ${clash.headOption.map(_.get(0)).orNull} already " +
          s"present in the index at $path — duplicate codes corrupt top-k " +
          "(pass checkIds = false only with upstream disjointness)")
    }
    val book = readPqBook(spark, path, m, dim)
    val c = prep(newVecs, idCol, vecCol, "id", "v", "nrm")
    graft.StoreCommit.writeBatch(spark, path, batchToken)(
      _.write(pqEncodeAll(c.select(col("id"), col("v")), book), "codes"))
  }

  /** RECALL-DRIFT probe for a persisted PQ index — the monitoring signal
    * VERDICT r6 asked for: appends encode under FROZEN codebooks, so a
    * drifting corpus silently degrades candidate recall with no signal
    * until this probe reports it. Sampled exact-vs-indexed comparison:
    * `queries`' exact cosine top-k ([[bruteForceTopK]] semantics, self
    * excluded) against the index's top-k at the same `candFactor`, one
    * aggregate row out — (n_queries, possible, hits, recall_ppm), all
    * integer-exact (ppm = hits·10⁶ div possible), so thresholds compare
    * reproducibly across engines and runs. Schedule it like any drift
    * report; a sagging recall_ppm is the "rebuild or
    * [[compactPqIndexRetrain]]" trigger.
    *
    * Cost: |queries| exact scans (sample-sized — pick tens, not
    * thousands) + one indexed probe; both sides deterministic, so the
    * probe value is stable for a frozen (corpus, index) pair. An EMPTY
    * query sample reports n_queries = 0 with NULL recall_ppm (never a
    * fake 0 or 10⁶) — alert on null like any missing metric.
    */
  def pqRecallProbe(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, path: String, k: Int,
      candFactor: Int = 4): DataFrame = {
    require(k > 0, "k must be positive")
    // both sides exclude self-matches (bruteForceTopK by its join
    // predicate, the indexed scan inside pqCandidates) — the comparison
    // is k true neighbors against k served neighbors, no freebies
    recallReport(
      bruteForceTopK(corpus, queries, idCol, vecCol, k),
      pqTopKIndexed(corpus, queries, idCol, vecCol, path, k, candFactor))
  }

  /** [[pqRecallProbe]] for a persisted IVF index ([[buildIvfIndex]]):
    * drift here means appended mass assigned under FROZEN centroids —
    * cells stop matching the data's clusters and nProbe covers less of
    * each query's true neighborhood. Same integer-exact report.
    */
  def ivfRecallProbe(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, path: String, k: Int, nProbe: Int = 4): DataFrame = {
    require(k > 0, "k must be positive")
    recallReport(
      bruteForceTopK(corpus, queries, idCol, vecCol, k),
      ivfTopKIndexed(corpus.sparkSession, queries, idCol, vecCol, path,
        k, nProbe))
  }

  /** [[pqRecallProbe]] for the composed IVF+PQ store
    * ([[buildIvfPqIndex]]) — the billion-vector serving shape, where BOTH
    * frozen layers decay under drift (cell coverage and code
    * discrimination). Same integer-exact report.
    */
  def ivfPqRecallProbe(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, path: String, k: Int, nProbe: Int = 4,
      candFactor: Int = 4): DataFrame = {
    require(k > 0, "k must be positive")
    recallReport(
      bruteForceTopK(corpus, queries, idCol, vecCol, k),
      ivfPqTopKIndexed(corpus, queries, idCol, vecCol, path, k,
        nProbe, candFactor))
  }

  /** Shared recall aggregate: exact-vs-served top-k overlap folded to one
    * integer-exact row; both inputs carry (query_id, neighbor_id) with
    * self-matches already excluded.
    */
  private def recallReport(exact0: DataFrame, approx0: DataFrame): DataFrame = {
    val exact = exact0.select(col("query_id"), col("neighbor_id"))
    val approx = approx0.select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("__h"))
    val perQ = exact.groupBy(col("query_id")).agg(count(lit(1)).as("__p"))
      .join(hits, Seq("query_id"), "left")
      .select(col("__p"), coalesce(col("__h"), lit(0L)).as("__h"))
    perQ.agg(count(lit(1)).as("n_queries"),
        sum(col("__p")).as("possible"), sum(col("__h")).as("hits"))
      .select(col("n_queries"), col("possible"), col("hits"),
        (col("hits") * lit(1000000L) / col("possible")).cast("bigint")
          .as("recall_ppm"))
  }

  /** [[compactPqIndex]] with CODEBOOK RETRAIN — the codebook-refresh path
    * for a store whose appended mass drifted away from the build-time
    * distribution: re-trains fresh sub-codebooks from the CURRENT source
    * vectors of exactly the ids the store holds and re-encodes everything,
    * equal by construction to `buildPqIndex` over that corpus slice at the
    * stored (m, ksub). The source corpus is required to still carry every
    * stored id (codes hold no vectors — a retrain cannot invent them);
    * missing ids fail loudly. Crash-safe like [[compactPqIndex]]: dst is
    * rebuilt from scratch, src untouched until the caller swaps paths.
    */
  def compactPqIndexRetrain(corpus: DataFrame, idCol: String, vecCol: String,
      srcPath: String, dstPath: String, refineIters: Int = 1): Unit = {
    require(srcPath != dstPath, "compact to a NEW path, then swap")
    ensureRegistered(corpus)
    val spark = corpus.sparkSession
    val meta = graft.StoreCommit.meta(spark, srcPath)
      .getOrElse(throw new IllegalStateException(s"no PQ index at $srcPath"))
    val (m, ksub) = (meta.getAs[Int]("m"), meta.getAs[Int]("ksub"))
    val ids = graft.StoreCommit.read(spark, srcPath, Some("codes"))
      .select(col("id")).distinct()
    val vecs = corpus.join(ids.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
    // coverage compares DISTINCT ids (a duplicate corpus row must never
    // mask a missing stored id), and duplicate rows themselves refuse:
    // two vectors under one id would encode two code rows and corrupt
    // every probe's top-k
    val (nStored, nRows, nDistinct) = {
      val s = ids.agg(count(lit(1))).head().getLong(0)
      val r = vecs.agg(count(lit(1)),
        count_distinct(col(idCol))).head()
      (s, r.getLong(0), r.getLong(1))
    }
    require(nDistinct == nStored,
      s"compactPqIndexRetrain: the store at $srcPath holds $nStored ids but " +
        s"the corpus serves only $nDistinct of them — codes carry no vectors, " +
        "so every stored id must still resolve in the source corpus")
    require(nRows == nDistinct,
      s"compactPqIndexRetrain: the corpus carries ${nRows - nDistinct} " +
        "duplicate rows across stored ids — exactly one vector per id is " +
        "required (duplicate codes corrupt top-k)")
    buildPqIndex(vecs, idCol, vecCol, dstPath, m, ksub, refineIters)
  }

  /** Compact a streaming-grown PQ index to a NEW path: meta + codebooks
    * rewritten verbatim, the many `batch=` code dirs collapsed into one
    * `batch=base` (code rows are per-id and ids are disjoint across
    * batches — the [[graft.operators.DedupOps.compactIdStore]] contract,
    * here with the index sidecars carried along), through
    * [[graft.StoreCommit.compact]].
    */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit =
    graft.StoreCommit.compact(spark, srcPath, dstPath) { b =>
      Seq("meta", "codebooks").foreach(side =>
        b.sidecar(spark.read.parquet(s"$srcPath/$side"), side))
      b.write(graft.StoreCommit.read(spark, srcPath, Some("codes")).drop("batch"),
        "codes")
    }

  /** [[compactPqIndex]] for the IVF+PQ layout: centroids come along and
    * the rewritten codes KEEP their `cell=` partitioning (one writer task
    * per cell), so probes stay directory-pruned after compaction.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit =
    graft.StoreCommit.compact(spark, srcPath, dstPath) { b =>
      Seq("centroids", "meta", "codebooks").foreach(side =>
        b.sidecar(spark.read.parquet(s"$srcPath/$side"), side))
      writeByCell(graft.StoreCommit.read(spark, srcPath, Some("codes")).drop("batch"),
        b.dir("codes"))
    }

  /** Probe a persisted PQ index: ADC scan over the stored codes, exact
    * rescore against `corpus` (vectors' source of truth; only candidate
    * rows touched). With the index built from the same corpus and
    * parameters, results == [[pqTopK]].
    */
  def pqTopKIndexed(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, path: String, k: Int,
      candFactor: Int = 4): DataFrame = {
    require(k > 0 && candFactor > 0, "k and candFactor must be positive")
    ensureRegistered(corpus)
    val spark = corpus.sparkSession
    val meta = graft.StoreCommit.meta(spark, path)
      .getOrElse(throw new IllegalStateException(s"no PQ index at $path"))
    val (m, dim) = (meta.getAs[Int]("m"), meta.getAs[Int]("dim"))
    val book = readPqBook(spark, path, m, dim)
    val codes = graft.StoreCommit.read(spark, path, Some("codes"))
      .select(col("id"), col("codes"))
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val q = graft.CacheScope.persist(
      prep(queries, idCol, vecCol, "query_id", "qv", "qn"))
    sq8Rescore(pqCandidates(codes, pqAdcTables(q, book), k * candFactor), c, q, k)
  }

  /** Salt buckets for the two-phase per-key top-k: phase-1 sorts are
    * (corpus/keys)/TopKSalts rows each instead of one partition per key.
    */
  val TopKSalts = 32

  /** Per-key top-n in two phases — the scale-correct shape for few queries
    * over a huge scored corpus: a single window over `keyCol` funnels each
    * key's ENTIRE candidate set through one sort partition (1M corpus × 1
    * query = one 1M-row sort on one core); instead phase 1 ranks within
    * (key, id-salt) — `TopKSalts`-way parallel, each bucket keeps its best
    * n — and phase 2 ranks the ≤ n·TopKSalts survivors per key. The result
    * is IDENTICAL (every global top-n row is its salt bucket's top-n, and
    * both phases order by the same (order, id) total order); the big sort
    * is gone and the per-key serial work is O(n·TopKSalts·log).
    * The salt hashes the id (not pmod on the raw column): a non-numeric id
    * would cast to null under pmod and collapse every row into one bucket —
    * still correct, but with the parallelism silently gone.
    */
  private def topKTwoPhase(scored: DataFrame, keyCol: String, idCol: String,
      order: Seq[Column], n: Int): DataFrame = {
    val w1 = Window.partitionBy(col(keyCol),
        pmod(xxhash64(col(idCol)), lit(TopKSalts.toLong)))
      .orderBy(order: _*)
    val w2 = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    scored
      .withColumn("__r1", row_number().over(w1))
      .where(col("__r1") <= n)
      .withColumn("rank", row_number().over(w2))
      .where(col("rank") <= n)
      .drop("__r1")
  }

  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    topKTwoPhase(
      scored.select(col("query_id"), col("neighbor_id"), col("cosine")),
      "query_id", "neighbor_id",
      Seq(col("cosine").desc, col("neighbor_id")), k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("bigint").as("rank"), col("cosine"))
}

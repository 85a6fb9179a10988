package graft.api

import graft.GraftSession
import graft.catalog._
import graft.checks.Checks
import graft.storage.TimeseriesStorage
import graft.ts.{Align, TimeUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.sql.Timestamp

/** Named Scala transforms (`DataFrame => DataFrame`), re-registered at startup.
  * The durable cross-session transform format is SQL text; this registry covers
  * arbitrary logic the way the reference's cloudpickle did
  * (reference src/qafs/utils.py:29-58) without the unpicklable-closure trap.
  */
class TransformRegistry {
  private val fns = scala.collection.concurrent.TrieMap[String, DataFrame => DataFrame]()
  def register(name: String, fn: DataFrame => DataFrame): Unit = fns(name) = fn
  def get(name: String): Option[DataFrame => DataFrame] = fns.get(name)
}

/** The public facade — the Spark-native equivalent of the reference's
  * `FeatureStore` (reference src/qafs/core.py:20-600). All reads compose ONE
  * lazy DataFrame plan per call, so Catalyst sees the whole transform DAG and
  * pushes time filters through every level.
  */
class FeatureStore(
    val storageRoot: String,
    val spark: SparkSession,
    val failOnCheckError: Boolean = true) {

  GraftSession.tune(spark)
  val catalog: Catalog = new JsonFileCatalog(storageRoot, spark.sparkContext.hadoopConfiguration)
  // storage format dispatches per namespace through the Backends table
  // (the reference's available_backends seam, src/qafs/model.py:104-110);
  // the per-IO resolution is LENIENT — a leniently-loaded catalog doc with
  // a foreign selector stays readable (parquet fallback, warned once) —
  // while createNamespace stays strict
  val storage = new TimeseriesStorage(storageRoot, spark,
    ns => graft.catalog.Backends.dispatchFormatFor(
      catalog.getNamespace(ns).map(_.backend).getOrElse("spark")))
  val registry = new TransformRegistry

  import TimeseriesStorage._

  // ---- namespace CRUD (C1) -------------------------------------------------

  /** `backend` picks the namespace's storage engine from
    * [[graft.catalog.Backends.available]] ("spark" = parquet, "spark-orc" =
    * ORC); unknown selectors refuse loudly, and the selector is immutable
    * after creation.
    */
  def createNamespace(name: String, description: String = "",
      meta: Map[String, String] = Map.empty,
      backend: String = "spark"): Unit =
    catalog.createNamespace(NamespaceDef(name, description, meta, backend = backend))

  def updateNamespace(name: String, description: Option[String] = None,
      metaPatch: Map[String, Option[String]] = Map.empty): Unit =
    catalog.updateNamespace(name, description, metaPatch)

  def deleteNamespace(name: String): Unit = catalog.deleteNamespace(name)

  def listNamespaces(regex: Option[String] = None): Seq[NamespaceDef] =
    catalog.listNamespaces(regex)

  /** GC stored feature dirs that are no longer in the catalog
    * (reference src/qafs/model.py:112-120).
    */
  def cleanNamespace(name: String): Seq[String] = {
    val known = catalog.listFeatures(Some(name)).map(_.name).toSet
    val orphans = storage.listStoredFeatures(name).filterNot(known)
    orphans.foreach(storage.delete(name, _))
    orphans
  }

  // ---- feature CRUD (C2-C4) -------------------------------------------------

  def createFeature(qualified: String, description: String = "",
      partition: String = "date", serialized: Boolean = false,
      check: Option[CheckSpec] = None, meta: Map[String, String] = Map.empty): Unit = {
    val (ns, n) = Catalog.splitName(qualified)
    catalog.createFeature(FeatureDef(ns, n, description, partition, serialized,
      check = check, meta = meta))
  }

  def updateFeature(qualified: String, description: Option[String] = None,
      metaPatch: Map[String, Option[String]] = Map.empty,
      check: Option[CheckSpec] = None): Unit = {
    val (ns, n) = Catalog.splitName(qualified)
    catalog.updateFeature(ns, n, description, metaPatch, None, check)
  }

  def deleteFeature(qualified: String, deleteData: Boolean = false): Unit = {
    val (ns, n) = Catalog.splitName(qualified)
    catalog.deleteFeature(ns, n)
    if (deleteData) storage.delete(ns, n)
  }

  def listFeatures(namespace: Option[String] = None, regex: Option[String] = None): Seq[FeatureDef] =
    catalog.listFeatures(namespace, regex)

  /** Clone catalog entry + data (reference intent of src/qafs/core.py:315-356,
    * re-specified from its tests since the reference impl crashes on
    * undefined vars — SURVEY.md §2 C3).
    */
  def cloneFeature(from: String, to: String): Unit = {
    val (fns, fn) = Catalog.splitName(from)
    val (tns, tn) = Catalog.splitName(to)
    val src = catalog.getFeature(fns, fn)
      .getOrElse(throw new MissingFeatureException(s"no feature: $from"))
    // createFeature upserts — an existing target would silently merge
    // metadata and then have its data replaced; the reference rejects it
    if (catalog.getFeature(tns, tn).isDefined)
      throw new FeatureStoreException(s"clone target exists: $to")
    catalog.createFeature(src.copy(namespace = tns, name = tn, version = 1))
    if (src.transform.isEmpty)
      storage.copy(fns, fn, tns, tn,
        src.meta.get(FeatureStore.EntityKeysMeta).fold(Seq.empty[String])(_.split(",").toSeq),
        src.partitionScheme)
  }

  /** Small-file compaction for one feature's stored data — the store
    * maintenance path for append-cadence ingest (every [[saveDf]] call and
    * streaming micro-batch appends a part-file set; see
    * [[graft.storage.TimeseriesStorage.compactFeature]] for the rewrite
    * contract: all `(time, created_time)` versions preserved, crash-safe
    * swap under the store lock). Compacts the one layout the catalog
    * entry names: entity-keyed when it carries
    * [[FeatureStore.EntityKeysMeta]], plain otherwise.
    */
  def compactFeature(qualified: String,
      targetBytes: Long = graft.storage.TimeseriesStorage.DefaultCompactTargetBytes)
      : graft.storage.CompactionStats = {
    val (ns, n) = Catalog.splitName(qualified)
    val f = catalog.getFeature(ns, n)
      .getOrElse(throw new MissingFeatureException(s"no feature: $ns/$n"))
    if (f.meta.contains(FeatureStore.EntityKeysMeta)) storage.compactKeyed(ns, n, targetBytes)
    else storage.compactFeature(ns, n, targetBytes)
  }

  /** [[compactFeature]] for a feature group's single wide table. */
  def compactGroup(qualified: String,
      targetBytes: Long = graft.storage.TimeseriesStorage.DefaultCompactTargetBytes)
      : graft.storage.CompactionStats = {
    val (ns, n) = Catalog.splitName(qualified)
    storage.compactGroup(ns, n, targetBytes)
  }

  // ---- persisted store/index registry ---------------------------------------

  /** Register a persisted store/index artifact in the catalog (see
    * [[graft.catalog.StoreDef]]): discovery + params pinning + a stable
    * name for staleness metadata, for the batch-dir stores the dedup/ANN/
    * search operators otherwise address by bare path. Upsert by name
    * (re-register after a rebuild or compact-and-swap); every path-based
    * operator API keeps working unchanged.
    */
  def registerStore(name: String, family: String, path: String,
      params: Map[String, String] = Map.empty, description: String = ""): Unit =
    catalog.registerStore(StoreDef(name, family, path, params, description))

  def unregisterStore(name: String): Unit = catalog.unregisterStore(name)

  /** Registered stores with LIVE staleness metadata: the committed batch
    * tokens currently visible in each store's [[graft.StoreCommit]]
    * manifest (the bloom `batches.txt` coverage pattern generalized —
    * compare a consumer's built-over list against these to decide a
    * rebuild). Token listing costs one directory listing per store.
    */
  def listStores(regex: Option[String] = None): Seq[StoreStatus] =
    catalog.listStores(regex).map(status)

  def storeStatus(name: String): StoreStatus =
    status(catalog.getStore(name).getOrElse(
      throw new MissingFeatureException(s"no store: $name")))

  private def status(sd: StoreDef): StoreStatus =
    StoreStatus(sd, graft.StoreCommit.visibleTokens(spark, sd.path,
      StoreStatus.tokenSub(sd.family)))

  /** Enforce pinned store params before a mutation — the
    * [[graft.operators.SimilarityOps.appendIvfIndex]] dimension check
    * generalized: every (key, value) the caller is about to append under
    * must match the registered pin (absent keys pass; register them to
    * pin). A winnow appender at a different (k, w), a PQ appender at a
    * different (m, ksub), or an IVF appender at a drifted dim corrupts
    * probes silently — this makes the mismatch loud at the seam.
    */
  def verifyStoreParams(name: String, params: Map[String, String]): Unit = {
    val sd = catalog.getStore(name).getOrElse(
      throw new MissingFeatureException(s"no store: $name"))
    val bad = params.filter { case (k, v) => sd.params.get(k).exists(_ != v) }
    if (bad.nonEmpty)
      throw new FeatureStoreException(
        s"store $name params mismatch: " + bad.map { case (k, v) =>
          s"$k=$v (pinned ${sd.params(k)})" }.mkString(", "))
  }

  // ---- save (M1 fan-out + Q1 quality gate + S1 sink) ------------------------

  /** Save a frame of one or more feature columns. Columns other than
    * `time`/`created_time` are features; a lone `value` column requires
    * `name`. Mirrors reference save_df (src/qafs/core.py:385-439).
    */
  def saveDf(df: DataFrame, name: Option[String] = None,
      defaultNamespace: Option[String] = None): Unit = {
    val featureCols = df.columns.filterNot(c => c == TimeCol || c == CreatedCol)
    featureCols match {
      case Array(ValueCol) =>
        val q = name.getOrElse(throw new FeatureStoreException(
          "a 'value' column needs an explicit feature name"))
        saveOne(q, df, defaultNamespace)
      case cols =>
        cols.foreach { c =>
          val base = df.columns.filter(x => x == TimeCol || x == CreatedCol) :+ c
          saveOne(c, df.select(base.head, base.tail: _*).withColumnRenamed(c, ValueCol),
            defaultNamespace)
        }
    }
  }

  private def saveOne(qualified: String, df: DataFrame, defaultNs: Option[String]): Unit = {
    val (ns, n) = Catalog.splitName(qualified, defaultNs)
    val f = catalog.getFeature(ns, n)
      .getOrElse(throw new MissingFeatureException(s"no feature: $ns/$n — create it first"))
    if (f.transform.isDefined)
      throw new FeatureStoreException(s"cannot save data to virtual feature $ns/$n")
    // drift gate against the catalog-pinned dtype (pinned at first
    // SUCCESSFUL write) — NOT against parquet footers: a schema probe per
    // append is a driver-side storage listing per write, a bottleneck at
    // high write QPS
    val pinAfterSave: () => Unit = if (!f.serialized) {
      val incoming = df.schema(TimeseriesStorage.ValueCol).dataType.catalogString
      f.meta.get(Catalog.ValueDtypeKey) match {
        case Some(stored) if stored != incoming =>
          throw new FeatureStoreException(
            s"schema drift on $ns/$n: stored value is $stored, incoming is $incoming; " +
              "use serialized=true for drifting values")
        case Some(_) => () => ()
        // pin only once the check gate AND the write succeed — pinning
        // up front would let a wrong-typed FAILED first save poison every
        // subsequent correctly-typed save as "drift"
        case None => () => catalog.pinFeatureDtype(ns, n, incoming)
      }
    } else () => ()
    f.check match {
      case Some(spec) if failOnCheckError =>
        // Q1 fail-fast: the gate must run BEFORE the write so a failing
        // frame writes nothing — one validation pass, then the write pass
        Checks.enforce(df, spec, s"$ns/$n", failOnError = true)
        storage.save(ns, n, df, f.partitionScheme, f.serialized, checkDrift = false)
      case Some(spec) =>
        // log-only mode: fuse predicate counting into the write scan via
        // Observation — the check costs ZERO extra passes over the input
        val (instrumented, violations) = Checks.observed(df, spec)
        storage.save(ns, n, instrumented, f.partitionScheme, f.serialized, checkDrift = false)
        val vs = violations()
        if (vs.nonEmpty)
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"quality check failed for $ns/$n: ${vs.mkString("; ")}")
      case None =>
        storage.save(ns, n, df, f.partitionScheme, f.serialized, checkDrift = false)
    }
    pinAfterSave()
  }

  // ---- transforms (T1/T2) ----------------------------------------------------

  /** Register a SQL-expression virtual feature. `sqlExpr` references its
    * inputs by bare feature name (e.g. `"numbers * numbers"`).
    */
  def registerSqlTransform(qualified: String, inputs: Seq[String], sqlExpr: String,
      description: String = ""): Unit = {
    val (ns, n) = Catalog.splitName(qualified)
    requireInputsExist(inputs, ns)
    catalog.createFeature(FeatureDef(ns, n, description,
      transform = Some(TransformSpec("sql", sqlExpr, qualifyAll(inputs, ns)))))
  }

  /** Register a Scala-function virtual feature. The function receives a frame
    * with `time` plus one column per input (bare names, in `inputs` order) and
    * must return `time` + exactly one value column
    * (single-column rule: reference src/qafs/timeseries.py:27-30).
    */
  def registerScalaTransform(qualified: String, inputs: Seq[String],
      fn: DataFrame => DataFrame, description: String = ""): Unit = {
    val (ns, n) = Catalog.splitName(qualified)
    requireInputsExist(inputs, ns)
    val key = s"$ns/$n"
    registry.register(key, fn)
    catalog.createFeature(FeatureDef(ns, n, description,
      transform = Some(TransformSpec("registry", key, qualifyAll(inputs, ns)))))
  }

  private def qualifyAll(inputs: Seq[String], defaultNs: String): Seq[String] =
    inputs.map { i => val (a, b) = Catalog.splitName(i, Some(defaultNs)); s"$a/$b" }

  private def requireInputsExist(inputs: Seq[String], defaultNs: String): Unit =
    inputs.foreach { i =>
      val (a, b) = Catalog.splitName(i, Some(defaultNs))
      if (catalog.getFeature(a, b).isEmpty)
        throw new MissingFeatureException(s"transform input missing: $a/$b")
    }

  // ---- load (M2 fan-in) ------------------------------------------------------

  /** Load N features into a wide, outer-aligned, forward-filled frame:
    * `time` + one column per feature named `"ns/name"`
    * (reference load_features, src/qafs/core.py:441-488).
    */
  def loadFeatures(names: Seq[String], from: Option[String] = None,
      to: Option[String] = None, freq: Option[String] = None,
      timeTravel: Option[String] = None,
      defaultNamespace: Option[String] = None,
      how: String = "ffill"): DataFrame = {
    require(names.nonEmpty, "no features requested")
    require(how == "ffill" || how == "interp",
      s"loadFeatures: how must be 'ffill' or 'interp', got '$how'")
    val fromTs = from.map(TimeUtil.parseTimestamp)
    val toTs = to.map(TimeUtil.parseTimestamp)
    val defs = names.map { q =>
      val (ns, n) = Catalog.splitName(q, defaultNamespace)
      s"$ns/$n" -> catalog.getFeature(ns, n)
        .getOrElse(throw new MissingFeatureException(s"no feature: $ns/$n"))
    }
    // per-read-shape cuts memo: the second identical read skips the ffill
    // bucket-cuts job (cuts are load-balancing hints — stale ones cost
    // balance, never answers)
    val memoKey = s"align|$how|${defs.map(_._1).mkString(",")}|$from|$to|$freq|$timeTravel"

    // WIDE-EXPORT FUSED PATH: past the stack-pivot threshold, when every
    // requested feature is a plain stored series (no transform DAG to
    // evaluate) and their value dtypes agree, the per-feature
    // latest-version dedup FUSES into the pivot aggregation
    // ([[graft.ts.Align.alignOuterRaw]]) — ONE shuffle for the whole
    // width instead of one dedup exchange per feature before the stack.
    // The general path below stays for transforms, resamples, interp, and
    // mixed dtypes.
    val fusible = how == "ffill" && freq.isEmpty &&
      defs.size > Align.WideAlignThreshold &&
      defs.forall { case (_, f) =>
        f.transform.isEmpty && !f.meta.contains(FeatureStore.EntityKeysMeta) }
    if (fusible) {
      // ONE-SCAN wide export: every feature's pruned partition dirs feed
      // a single multi-dir read (feature identity from the file path) —
      // one listing, one codegen'd scan leg, files coalesced across
      // features ([[graft.storage.TimeseriesStorage.scanStackedWithBounds]]).
      // Requires a shared pinned value dtype and path-safe names; both
      // hold for every store this library writes. The per-feature-scan
      // union below stays as the fallback (unpinned dtypes: features
      // created but never written, or foreign data needing inference).
      val dtypes = defs.map { case (_, f) =>
        if (f.serialized) Some("string") else f.meta.get(Catalog.ValueDtypeKey)
      }
      val pathSafe = defs.forall { case (q, _) =>
        q.matches("[A-Za-z0-9_.\\-]+/[A-Za-z0-9_.\\-]+") }
      val oneDtype = dtypes.forall(_.isDefined) &&
        dtypes.flatten.distinct.size == 1 &&
        scala.util.Try(org.apache.spark.sql.types.DataType.fromDDL(
          dtypes.head.get)).isSuccess
      if (pathSafe && oneDtype) {
        val sc = storage.scanStackedWithBounds(
          defs.map { case (_, f) => (f.namespace, f.name, f.partitionScheme) },
          fromTs, toTs, timeTravel, dtypes.head.get)
        val memo = cutsMemoFor(memoKey)
        // seed the ffill's bucket cuts from the bounds the LISTING already
        // knows — uniform over the partition cover. A balance HINT only
        // (quantile cuts would need a full read-and-aggregate job before
        // the first task of the actual export); skewed time axes cost
        // bucket balance, never answers.
        sc.timeBoundsMicros.foreach { case (lo, hi) =>
          val nb = spark.sparkContext.defaultParallelism.toLong
          if (hi - lo >= nb)
            memo.seed((1L until nb).map(i => lo + (hi - lo) * i / nb))
        }
        return Align.alignOuterStacked(TimeCol, ValueCol, CreatedCol,
          sc.df, defs.map(_._1), memo = Some(memo))
      }
      // fallback: per-feature scans on a bounded driver pool (the eager
      // per-scan listings would otherwise be sequential — linear in
      // width), stacked through the same fused dedup+pivot
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, defs.size))
      val scans = try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        defs.map { case (q, f) =>
          scala.concurrent.Future {
            val dtype = if (f.serialized) Some("string")
              else f.meta.get(Catalog.ValueDtypeKey)
            q -> storage.scan(f.namespace, f.name, fromTs, toTs,
              timeTravel, f.partitionScheme, f.serialized, dtype)
          }
        }.map(scala.concurrent.Await.result(
          _, scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
      if (scans.map(_._2.schema(ValueCol).dataType).distinct.size == 1)
        return Align.alignOuterRaw(TimeCol, ValueCol, CreatedCol, scans,
          memo = Some(cutsMemoFor(memoKey)))
      // mixed dtypes cannot stack — fall through to the join-chain path
    }

    // memoize per-feature plans within this call: a DAG that references the
    // same input twice (directly + through a transform) reuses ONE subtree,
    // letting Catalyst/AQE reuse the scan+dedup exchange instead of
    // re-reading storage per reference
    val memo = scala.collection.mutable.Map[String, DataFrame]()
    val frames = defs.map { case (q, f) =>
      q -> loadOne(f, fromTs, toTs, freq, timeTravel, Set.empty, memo)
    }
    if (how == "interp")
      Align.alignInterp(TimeCol, frames, memo = Some(cutsMemoFor(memoKey)))
    else
      Align.alignOuter(TimeCol, frames, memo = Some(cutsMemoFor(memoKey)))
  }

  private val cutsMemos =
    new java.util.concurrent.ConcurrentHashMap[String, Align.CutsMemo]()
  private def cutsMemoFor(key: String): Align.CutsMemo = {
    if (cutsMemos.size > 1024) cutsMemos.clear()
    cutsMemos.computeIfAbsent(key, _ => new Align.CutsMemo)
  }

  /** Point-in-time correct load: for every row of an arbitrary `spine`
    * frame (a `time` column + any payload columns, e.g. label events),
    * attach each requested feature's value as of that row's time — the
    * training-set constructor ([[graft.ts.Align.pointInTime]] over the
    * outer-aligned features). `how = "ffill"` serves the last value
    * at-or-before the instant, optionally bounded by a staleness
    * `tolerance`; `how = "interp"` interpolates linearly between the
    * feature's neighboring observations — for continuous signals where a
    * carry would serve stale state as fact — exact at observation
    * instants, null outside a feature's span, DOUBLE out. `timeTravel`
    * composes: "as of spine time, knowing only what had arrived by
    * event-time+Δ".
    */
  def loadFeaturesAsOf(spine: DataFrame, names: Seq[String],
      timeTravel: Option[String] = None,
      defaultNamespace: Option[String] = None,
      tolerance: Option[String] = None,
      how: String = "ffill"): DataFrame = {
    require(names.nonEmpty, "no features requested")
    require(how == "ffill" || how == "interp",
      s"loadFeaturesAsOf: how must be 'ffill' or 'interp', got '$how'")
    require(how == "ffill" || tolerance.isEmpty,
      "loadFeaturesAsOf: a tolerance applies to how = 'ffill' only")
    val memo = scala.collection.mutable.Map[String, DataFrame]()
    val frames = names.map { q =>
      val (ns, n) = Catalog.splitName(q, defaultNamespace)
      val f = catalog.getFeature(ns, n)
        .getOrElse(throw new MissingFeatureException(s"no feature: $ns/$n"))
      s"$ns/$n" -> loadOne(f, None, None, None, timeTravel, Set.empty, memo)
    }
    // keyed by feature set only: a DIFFERENT spine with the same features
    // reuses cuts quantiled over the previous spine — safe (cuts are
    // balance hints; a radically different spine just rebalances worse
    // until the memo is refreshed by a new store instance)
    val set = frames.map(_._1).mkString(",")
    val key =
      if (how == "interp") s"asofinterp|$set|$timeTravel"
      else s"asof|${tolerance.getOrElse("")}|$set|$timeTravel"
    Align.pointInTime(spine, Align.alignOuter(TimeCol, frames, doFfill = false), Nil,
      TimeCol, frames.map(_._1), if (how == "interp") Align.Interp else Align.Backward,
      tolerance.map(parseTolerance("loadFeaturesAsOf", _)), Some(cutsMemoFor(key)))
  }

  /** A staleness/lookahead bound in micros: matches farther than it
    * serve null, never silently stale.
    */
  private def parseTolerance(caller: String, t: String): Long = {
    val v = TimeUtil.parseMicros(t)
    require(v >= 0, s"$caller: tolerance must be >= 0, got '$t'")
    v
  }

  /** Recursive, cycle-checked feature load (T2 — reference
    * src/qafs/model.py:183-218). Returns df(time, value).
    */
  private def loadOne(f: FeatureDef, from: Option[Timestamp], to: Option[Timestamp],
      freq: Option[String], timeTravel: Option[String],
      callers: Set[String],
      memo: scala.collection.mutable.Map[String, DataFrame] = scala.collection.mutable.Map()): DataFrame = {
    val key = f.qualified
    if (f.meta.contains(FeatureStore.EntityKeysMeta))
      throw new FeatureStoreException(
        s"$key is entity-keyed — load it with loadKeyed/loadKeyedAsOf, not loadFeatures")
    if (callers.contains(key))
      throw new FeatureStoreException(
        s"circular transform dependency detected at $key (via ${callers.mkString(" -> ")})")
    memo.get(key).foreach(return _)
    val result = f.transform match {
      case None =>
        // serialized values are stored as JSON strings (dtype known);
        // otherwise the catalog-pinned dtype lets the scan skip its
        // parquet footer probe (pin gates every write, so they agree)
        val dtype = if (f.serialized) Some("string")
          else f.meta.get(Catalog.ValueDtypeKey)
        storage.load(f.namespace, f.name, from, to, freq, timeTravel,
          f.partitionScheme, f.serialized, valueDtype = dtype)
      case Some(t) =>
        // recursively load inputs with the same from/to/freq/time_travel
        // pushed down (reference src/qafs/model.py:196-211)
        val inputs = t.args.map { q =>
          val (ns, n) = Catalog.splitName(q)
          val in = catalog.getFeature(ns, n)
            .getOrElse(throw new MissingFeatureException(s"transform input missing: $q"))
          q -> loadOne(in, from, to, freq, timeTravel, callers + key, memo)
        }
        // align inputs on the time axis, expose them under bare names in arg order
        val aligned = Align.alignOuter(TimeCol, inputs, memo = Some(cutsMemoFor(
          s"transform|$key|${t.args.mkString(",")}|$from|$to|$freq|$timeTravel")))
        val bare = t.args.map(q => Catalog.splitName(q)._2)
        val renamed = t.args.zip(bare).foldLeft(aligned) { case (d, (q, b)) =>
          d.withColumnRenamed(q, b)
        }
        val out = t.format match {
          case "sql"      => renamed.select(col(TimeCol), expr(t.body).as(ValueCol))
          case "registry" =>
            val fn = registry.get(t.body).getOrElse(throw new FeatureStoreException(
              s"transform '${t.body}' not registered in this session"))
            coerceSingleValue(fn(renamed.select((col(TimeCol) +: bare.map(col)): _*)))
          case other => throw new FeatureStoreException(s"unknown transform format: $other")
        }
        out.select(TimeCol, ValueCol)
    }
    memo(key) = result
    result
  }

  /** Enforce the one-value-column rule on transform output
    * (reference src/qafs/timeseries.py:17-32).
    */
  private def coerceSingleValue(df: DataFrame): DataFrame = {
    val valueCols = df.columns.filterNot(_ == TimeCol)
    valueCols match {
      case Array(ValueCol) => df
      case Array(single)   => df.withColumnRenamed(single, ValueCol)
      case _ => throw new FeatureStoreException(
        s"transform must return one value column, got: ${valueCols.mkString(",")}")
    }
  }

  // ---- feature groups (multi-column tables, extension) -----------------------

  def createGroup(qualified: String, columns: Seq[String], description: String = "",
      partition: String = "date"): Unit = {
    val (ns, n) = Catalog.splitName(qualified)
    catalog.createGroup(GroupDef(ns, n, columns, description, partition))
  }

  def saveGroup(qualified: String, df: DataFrame): Unit = {
    val (ns, n, g, _) = resolveGroup(qualified)
    storage.saveGroup(ns, n, df, g.columns, g.partitionScheme)
  }

  /** Load a column subset of a group: one scan, parquet column pruning,
    * latest-row dedup — no N-way join.
    */
  def loadGroup(qualified: String, columns: Seq[String] = Nil,
      from: Option[String] = None, to: Option[String] = None,
      timeTravel: Option[String] = None): DataFrame = {
    val (ns, n, g, cols) = resolveGroup(qualified, columns)
    storage.loadGroup(ns, n, cols, from.map(TimeUtil.parseTimestamp),
      to.map(TimeUtil.parseTimestamp), timeTravel, g.partitionScheme)
  }

  /** The catalog entry of group `qualified` and the requested column
    * subset (every column when `columns` is empty), checked against it.
    */
  private def resolveGroup(qualified: String, columns: Seq[String] = Nil)
      : (String, String, GroupDef, Seq[String]) = {
    val (ns, n) = Catalog.splitName(qualified)
    val g = catalog.getGroup(ns, n)
      .getOrElse(throw new MissingFeatureException(s"no group: $qualified"))
    val cols = if (columns.isEmpty) g.columns else columns
    val unknown = cols.filterNot(g.columns.contains)
    if (unknown.nonEmpty)
      throw new FeatureStoreException(s"group $qualified has no columns: ${unknown.mkString(",")}")
    (ns, n, g, cols)
  }

  /** Create an ENTITY-KEYED feature group: N signals per entity in one
    * table (keys ride in group meta, like keyed features). The wide
    * serving layout — [[loadKeyedGroup]] is one column-pruned scan with
    * latest-row dedup per (keys, time), never an N-way per-entity join.
    */
  def createKeyedGroup(qualified: String, keys: Seq[String],
      columns: Seq[String], description: String = "",
      partition: String = "date"): Unit = {
    require(keys.nonEmpty, "keyed group needs at least one key column")
    val (ns, n) = Catalog.splitName(qualified)
    catalog.createGroup(GroupDef(ns, n, columns, description, partition,
      meta = Map(FeatureStore.EntityKeysMeta -> keys.mkString(","))))
  }

  def saveKeyedGroup(qualified: String, df: DataFrame): Unit = {
    val (ns, n, g, _) = resolveGroup(qualified)
    storage.saveKeyedGroup(ns, n, df, keyedGroupKeys(g, qualified),
      g.columns, g.partitionScheme)
  }

  def loadKeyedGroup(qualified: String, columns: Seq[String] = Nil,
      from: Option[String] = None, to: Option[String] = None,
      timeTravel: Option[String] = None): DataFrame =
    readKeyedGroup(qualified, columns, from, to, timeTravel)._3

  /** [[loadKeyedGroup]] plus the group's entity keys and the resolved
    * column subset — one catalog lookup for the latest/as-of reads.
    */
  private def readKeyedGroup(qualified: String, columns: Seq[String],
      from: Option[String], to: Option[String], timeTravel: Option[String])
      : (Seq[String], Seq[String], DataFrame) = {
    val (ns, n, g, cols) = resolveGroup(qualified, columns)
    val keys = keyedGroupKeys(g, qualified)
    (keys, cols, storage.loadKeyedGroup(ns, n, keys, cols,
      from.map(TimeUtil.parseTimestamp), to.map(TimeUtil.parseTimestamp),
      timeTravel, g.partitionScheme))
  }

  /** [[loadKeyedLatest]] for a keyed GROUP: each entity's most recent wide
    * row (at-or-before `asOf` when given) — the bulk refresh an online
    * store ingests, all signals mutually consistent because the whole row
    * wins together. One partial max_by-shaped aggregate, no window.
    */
  def loadKeyedGroupLatest(qualified: String, columns: Seq[String] = Nil,
      asOf: Option[String] = None,
      timeTravel: Option[String] = None): DataFrame = {
    val (keys, cols, data) = readKeyedGroup(qualified, columns, None, asOf, timeTravel)
    data.groupBy(keys.map(col): _*)
      .agg(max(struct((TimeCol +: cols).map(col): _*)).as("__last"))
      .select(keys.map(col) ++
        (TimeCol +: cols).map(c => col("__last").getField(c).as(c)): _*)
  }

  /** Point-in-time per-entity join of a keyed GROUP onto a spine: each
    * spine row (keys..., time, payload) gets the group's columns from the
    * entity's last row at-or-before the spine instant — the multi-signal
    * serving query in ONE window stage (vs one stage per feature in
    * [[loadKeyedFeaturesAsOf]]), because the signals already live in one
    * table.
    */
  def loadKeyedGroupAsOf(spine: DataFrame, qualified: String,
      columns: Seq[String] = Nil,
      timeTravel: Option[String] = None): DataFrame = {
    val (keys, cols, data) = readKeyedGroup(qualified, columns, None, None, timeTravel)
    Align.pointInTime(spine, data, keys, TimeCol, cols)
  }

  private def keyedGroupKeys(g: GroupDef, qualified: String): Seq[String] =
    g.meta.get(FeatureStore.EntityKeysMeta)
      .map(_.split(",").toSeq.filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .getOrElse(throw new FeatureStoreException(
        s"group $qualified is not entity-keyed (use saveGroup/loadGroup)"))

  // ---- entity-keyed features (extension) --------------------------------------

  /** Create a per-entity feature: values are keyed by (entity keys, time)
    * instead of time alone — the "feature per user" shape a training-data
    * pipeline needs and the reference's single-series model cannot hold.
    * Keys live in feature meta (additive — no catalog format change).
    */
  /** `schemaDDL` (optional) declares key/value dtypes up front (e.g.
    * `"user_id STRING, time TIMESTAMP, value DOUBLE"`) so reads BEFORE the
    * first write return a correctly-typed empty frame instead of the
    * LongType/DoubleType default — without it, a string-keyed feature
    * joined against a spine pre-write fails at analysis time. The same
    * schema is pinned automatically on the first successful save.
    */
  def createKeyedFeature(qualified: String, keys: Seq[String],
      description: String = "", partition: String = "date",
      schemaDDL: Option[String] = None): Unit = {
    require(keys.nonEmpty, "keyed feature needs at least one key column")
    val (ns, n) = Catalog.splitName(qualified)
    catalog.createFeature(FeatureDef(ns, n, description, partition,
      meta = Map(FeatureStore.EntityKeysMeta -> keys.mkString(",")) ++
        schemaDDL.map(FeatureStore.KeyedSchemaMeta -> _)))
  }

  private def keyedKeys(ns: String, n: String): Seq[String] = {
    val f = catalog.getFeature(ns, n)
      .getOrElse(throw new MissingFeatureException(s"no feature: $ns/$n"))
    f.meta.get(FeatureStore.EntityKeysMeta)
      .map(_.split(",").toSeq)
      .getOrElse(throw new FeatureStoreException(s"$ns/$n is not an entity-keyed feature"))
  }

  def saveKeyed(qualified: String, df: DataFrame): Unit = {
    val (ns, n) = Catalog.splitName(qualified)
    val f = catalog.getFeature(ns, n)
      .getOrElse(throw new MissingFeatureException(s"no feature: $qualified"))
    f.check.foreach(spec => Checks.enforce(df, spec, s"$ns/$n", failOnCheckError))
    val keys = keyedKeys(ns, n)
    storage.saveKeyed(ns, n, df, keys, f.partitionScheme)
    // pin the (keys, time, value) schema AFTER a successful save so
    // pre-first-write reads return a correctly-typed empty frame (same
    // after-the-write contract as the value-dtype pin in saveOne)
    if (!f.meta.contains(FeatureStore.KeyedSchemaMeta)) {
      val sch = StructType(keys.map(k => df.schema(k)) :+
        StructField(TimeseriesStorage.TimeCol, TimestampType) :+
        df.schema(TimeseriesStorage.ValueCol))
      catalog.pinFeatureMeta(ns, n, FeatureStore.KeyedSchemaMeta, sch.toDDL)
    }
  }

  /** Deduped per-entity read (latest version per (keys, time)). */
  def loadKeyed(qualified: String, from: Option[String] = None,
      to: Option[String] = None, timeTravel: Option[String] = None): DataFrame = {
    val (ns, n) = Catalog.splitName(qualified)
    val f = catalog.getFeature(ns, n)
      .getOrElse(throw new MissingFeatureException(s"no feature: $qualified"))
    storage.loadKeyed(ns, n, keyedKeys(ns, n), from.map(TimeUtil.parseTimestamp),
      to.map(TimeUtil.parseTimestamp), timeTravel, f.partitionScheme,
      emptySchema = f.meta.get(FeatureStore.KeyedSchemaMeta).map(StructType.fromDDL))
  }

  /** ONLINE-SERVING read: each entity's most recent value (at-or-before
    * `asOf` when given) — one row per observed entity,
    * `(keys..., time, value)` with `time` the served observation's
    * instant. The lookup behind a feature-serving endpoint's bulk
    * refresh, and the materialization an online K/V store ingests.
    *
    * Scale: ONE partial (map-side combinable) `max_by`-shaped aggregate
    * over the pruned keyed scan — no window sort; an upper time bound
    * still prunes partitions. `timeTravel` composes ("what the serving
    * layer knew as of arrival time + Δ").
    */
  def loadKeyedLatest(qualified: String, asOf: Option[String] = None,
      timeTravel: Option[String] = None): DataFrame = {
    val (ns, n) = Catalog.splitName(qualified)
    val keys = keyedKeys(ns, n)
    val data = loadKeyed(qualified, to = asOf, timeTravel = timeTravel)
    data.groupBy(keys.map(col): _*)
      .agg(max(struct(col(TimeCol), col(ValueCol))).as("__last"))
      .select((keys.map(col) :+ col("__last").getField(TimeCol).as(TimeCol) :+
        col("__last").getField(ValueCol).as(ValueCol)): _*)
  }

  /** Per-bucket profiling report of a feature's latest-version view — the
    * monitoring surface production feature stores ship next to ingestion
    * (row counts and value envelopes per period; the data-quality
    * complement of the write-side [[graft.checks.Checks]]): one row per
    * `freq` bucket (UTC-floored epoch buckets, so "1d"/"6h"/"15min" all
    * work) with `(time_bucket, n, sum_value, min_value, max_value)`.
    *
    * The sum accumulates in DECIMAL(28,6): IEEE double summation depends
    * on partial-aggregation order (different partitioning → different
    * low bits → an irreproducible monitoring report), decimal addition is
    * exact and associative; the result surfaces as double.
    *
    * Scale: one partial (map-side combinable) hash aggregate over the
    * pruned scan — time bounds still push into partition pruning; no
    * window, no join.
    */
  def profileFeature(qualified: String, freq: String = "1d",
      from: Option[String] = None, to: Option[String] = None,
      timeTravel: Option[String] = None): DataFrame = {
    val (ns, n) = Catalog.splitName(qualified)
    val step = TimeUtil.parseMicros(freq)
    require(step > 0, s"profileFeature: freq must be positive, got '$freq'")
    val data = storage.load(ns, n, from.map(TimeUtil.parseTimestamp),
      to.map(TimeUtil.parseTimestamp), timeTravel = timeTravel)
    val us = unix_micros(col(TimeCol))
    data.groupBy(
        timestamp_micros(us - pmod(us, lit(step))).as("time_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col(ValueCol).cast("decimal(28,6)")).cast("double").as("sum_value"),
        min(col(ValueCol)).as("min_value"),
        max(col(ValueCol)).as("max_value"))
  }

  /** Distribution-drift report for one feature between two time windows
    * (reference window vs current window): fixed equal-width bins over
    * [lo, hi), out-of-range values clamped into the edge bins (standard
    * PSI practice — mass outside the reference range is exactly what
    * drift monitoring must not drop). Emits, per observed bin:
    * `n_ref`/`n_cur` counts and `ref_ppm`/`cur_ppm` integer floor-ppm
    * shares of each window plus `delta_ppm` — all integer-exact, so the
    * report is bit-reproducible across engines (a float `p*log(p/q)` PSI
    * is partial-agg-order-dependent; total-variation distance
    * `sum(abs(delta_ppm))/2` is the exact drift scalar this report
    * supports). Bins empty in BOTH windows are absent.
    *
    * Scale shape: each window's scan is partition-pruned by its own time
    * bounds (two bounded loads, not one covering scan spanning the gap
    * between the windows), one hash aggregate over `bins` keys, and the
    * share window runs over at most `bins` rows (driver-bounded by the
    * caller's bin count, never by data volume). Empty-window shares are
    * null, never a division error.
    */
  def profileDrift(qualified: String, refFrom: String, refTo: String,
      curFrom: String, curTo: String, lo: Double, hi: Double, bins: Int,
      timeTravel: Option[String] = None): DataFrame = {
    val (ns, n) = Catalog.splitName(qualified)
    require(bins > 0, s"profileDrift: bins must be positive, got $bins")
    require(hi > lo, s"profileDrift: need hi > lo, got [$lo, $hi)")
    def slice(f: String, t: String, tag: Int) =
      storage.load(ns, n, Some(TimeUtil.parseTimestamp(f)),
          Some(TimeUtil.parseTimestamp(t)), timeTravel = timeTravel)
        .select(col(ValueCol), lit(tag).as("__w"))
    // null/NaN values are DROPPED, not binned: floor(null|NaN) casts to
    // null and greatest(null, 0L) would silently route them into bin 0,
    // inflating the lowest bin instead of reporting missing data
    val u = slice(refFrom, refTo, 0).unionAll(slice(curFrom, curTo, 1))
      .where(col(ValueCol).isNotNull && !isnan(col(ValueCol)))
    val h = u.select(driftBin(lo, hi, bins).as("bin"), col("__w"))
      .groupBy("bin")
      .agg(sum(when(col("__w") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__w") === 1, 1L).otherwise(0L)).as("n_cur"))
    graft.operators.DriftOps.ppmShares(h, Seq("bin"))
  }

  /** [[profileDrift]]'s bin of `value`: `bins` equal-width bins over
    * [lo, hi), out-of-range values clamped into the edge bins.
    */
  private def driftBin(lo: Double, hi: Double, bins: Int): Column =
    least(greatest(floor((col(ValueCol) - lit(lo)) / lit((hi - lo) / bins)).cast("bigint"),
      lit(0L)), lit((bins - 1).toLong))

  /** Z-score-normalized latest view (feature scaling for training): the
    * moments come from EXACT integer cents sums (a double mean/variance
    * accumulates in partial-aggregation order and is irreproducible
    * across runs; quantize-then-sum is exact), and the per-row transform
    * is one deterministic IEEE expression over those exact longs —
    * bit-reproducible across engines up to double formatting. One
    * moment aggregation + a broadcast scalar join; the transform itself
    * is map-side.
    */
  def normalizeFeature(qualified: String, from: Option[String] = None,
      to: Option[String] = None,
      timeTravel: Option[String] = None): DataFrame = {
    val (ns, n) = Catalog.splitName(qualified)
    val data = storage.load(ns, n, from.map(TimeUtil.parseTimestamp),
        to.map(TimeUtil.parseTimestamp), timeTravel = timeTravel)
      .select(col(TimeCol),
        floor(col(ValueCol) * 100 + 0.5).cast("bigint").as("cents"))
    val m = data.agg(
      sum(col("cents").cast("decimal(38,0)")).as("__s1"),
      sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("__s2"),
      count(lit(1)).as("__n"))
    val mean = col("__s1").cast("double") / col("__n")
    val variance = col("__s2").cast("double") / col("__n") - mean * mean
    data.crossJoin(broadcast(m))
      .select(col(TimeCol), col("cents"),
        // constant feature → null z, never NaN (0/0 or sqrt of a tiny
        // negative rounding residue would flow silently into training)
        when(variance > 0,
          (col("cents").cast("double") - mean) / sqrt(variance)).as("z"))
  }

  /** Persist the REFERENCE side of [[profileDrift]] — build once, probe
    * many (the monitoring-tier member of the store-family pattern): the
    * reference window's histogram and its binning parameters land under
    * `path` (`hist` + one-row `meta`), so recurring drift checks against
    * a frozen training-time reference never rescan the reference window.
    */
  def buildHistStore(qualified: String, refFrom: String, refTo: String,
      lo: Double, hi: Double, bins: Int, path: String,
      timeTravel: Option[String] = None): Unit = {
    val (ns, n) = Catalog.splitName(qualified)
    require(bins > 0, s"buildHistStore: bins must be positive, got $bins")
    require(hi > lo, s"buildHistStore: need hi > lo, got [$lo, $hi)")
    // store MUTATOR ⇒ StoreLock, like every other member of the persisted-
    // store family: two concurrent builders must not interleave hist/meta
    graft.StoreLock.withLock(spark, path) {
      storage.load(ns, n, Some(TimeUtil.parseTimestamp(refFrom)),
          Some(TimeUtil.parseTimestamp(refTo)), timeTravel = timeTravel)
        .where(col(ValueCol).isNotNull && !isnan(col(ValueCol))) // never bin 0
        .select(driftBin(lo, hi, bins).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/hist")
      import spark.implicits._
      Seq((lo, hi, bins, refFrom, refTo))
        .toDF("lo", "hi", "bins", "ref_from", "ref_to")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    }
  }

  /** [[profileDrift]] against a persisted reference histogram
    * ([[buildHistStore]]): bins the CURRENT window under the store's
    * frozen binning and emits the same integer-exact report — identical
    * output to the two-window [[profileDrift]] over the same windows,
    * with only the current window scanned.
    */
  def profileDriftStored(qualified: String, curFrom: String, curTo: String,
      path: String, timeTravel: Option[String] = None): DataFrame = {
    val (ns, n) = Catalog.splitName(qualified)
    val meta = graft.StoreCommit.meta(spark, path).getOrElse(
      throw new IllegalStateException(s"no histogram store at $path"))
    val (lo, hi, bins) = (meta.getDouble(0), meta.getDouble(1), meta.getInt(2))
    val cur = storage.load(ns, n, Some(TimeUtil.parseTimestamp(curFrom)),
        Some(TimeUtil.parseTimestamp(curTo)), timeTravel = timeTravel)
      .where(col(ValueCol).isNotNull && !isnan(col(ValueCol))) // never bin 0
      .select(driftBin(lo, hi, bins).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
    val ref = spark.read.parquet(s"$path/hist")
    val h = ref.join(cur, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    graft.operators.DriftOps.ppmShares(h, Seq("bin"))
  }

  /** Point-in-time per-entity join: each spine row (keys..., time, payload)
    * gets the feature's value for the SAME entity per `direction` —
    * `backward` (last at-or-before, the default), `forward` (first
    * at-or-after) or `nearest` (ties backward) — optionally bounded by
    * `tolerance` ([[graft.ts.Align.pointInTime]] over the stored feature).
    */
  def loadKeyedAsOf(spine: DataFrame, qualified: String,
      as: Option[String] = None, timeTravel: Option[String] = None,
      tolerance: Option[String] = None,
      direction: String = "backward"): DataFrame = {
    val mode = Map("backward" -> Align.Backward, "forward" -> Align.Forward,
      "nearest" -> Align.Nearest).get(direction)
    require(mode.isDefined, s"direction must be backward/forward/nearest, got '$direction'")
    val (ns, n) = Catalog.splitName(qualified)
    val keys = keyedKeys(ns, n)
    val vc = as.getOrElse(s"$ns/$n")
    val data = loadKeyed(qualified, timeTravel = timeTravel).withColumnRenamed(ValueCol, vc)
    Align.pointInTime(spine, data, keys, TimeCol, Seq(vc), mode.get,
      tolerance.map(parseTolerance("loadKeyedAsOf", _)))
  }

  /** Multi-feature ENTITY-KEYED point-in-time retrieval — THE online/
    * offline serving query of a feature platform: for every spine row
    * (keys..., time, payload), attach EACH requested keyed feature's
    * value per the shared `direction`/`tolerance` contract (default:
    * last value at-or-before the spine instant). All features must be
    * keyed on the same entity columns (checked loudly — silently joining
    * on different entities is a wrong-training-set generator).
    *
    * Plan shape: one [[graft.ts.Align.pointInTime]] stage per
    * feature folded over the spine — every stage partitions its window
    * by the SAME entity keys, so parallelism stays per-entity throughout
    * and no stage widens beyond spine + that feature's rows. N is
    * feature-retrieval-sized (a handful to dozens); for hundreds of
    * features on one entity, store them as a feature GROUP
    * ([[createGroup]]) and as-of the group's one table instead.
    */
  def loadKeyedFeaturesAsOf(spine: DataFrame, names: Seq[String],
      timeTravel: Option[String] = None,
      tolerance: Option[String] = None,
      direction: String = "backward"): DataFrame = {
    require(names.nonEmpty, "no features requested")
    val resolved = names.map { q =>
      val (ns, n) = Catalog.splitName(q)
      (s"$ns/$n", keyedKeys(ns, n))
    }
    val keySets = resolved.map(_._2).distinct
    require(keySets.size == 1,
      s"loadKeyedFeaturesAsOf: all features must share one entity key set, " +
        s"got ${resolved.map { case (q, k) => s"$q->${k.mkString(",")}" }.mkString("; ")}")
    resolved.foldLeft(spine) { case (acc, (qualified, _)) =>
      loadKeyedAsOf(acc, qualified, as = Some(qualified),
        timeTravel = timeTravel, tolerance = tolerance, direction = direction)
    }
  }

  /** Per-entity resample: every observed entity × a regular [from, to] grid,
    * each cell holding the entity's last value at-or-before the grid
    * instant (as-of/LOCF semantics) — the periodic-training-snapshot
    * generator. Output size is |entities| × |grid| by design; the as-of
    * machinery parallelizes per entity.
    */
  def loadKeyedResampled(qualified: String, from: String, to: String,
      freq: String, timeTravel: Option[String] = None,
      how: String = "ffill"): DataFrame = {
    require(how == "ffill" || how == "interp",
      s"loadKeyedResampled: how must be 'ffill' or 'interp', got '$how'")
    val (ns, n) = Catalog.splitName(qualified)
    val keys = keyedKeys(ns, n)
    val data = loadKeyed(qualified, timeTravel = timeTravel)
    val grid = Align.grid(spark, TimeUtil.parseTimestamp(from),
      TimeUtil.parseTimestamp(to), TimeUtil.parseMicros(freq), TimeCol)
    val spine = data.select(keys.map(col): _*).distinct().crossJoin(grid)
    Align.pointInTime(spine, data, keys, TimeCol, Seq(ValueCol),
      if (how == "interp") Align.Interp else Align.Backward)
  }

  // ---- SQL surface ------------------------------------------------------------

  /** Expose features as a temp view so arbitrary `spark.sql` runs over the
    * loaded (deduped, aligned, ffilled) frame — the full Spark SQL function
    * library becomes the ad-hoc query language over features.
    */
  def createFeatureView(viewName: String, names: Seq[String],
      from: Option[String] = None, to: Option[String] = None,
      freq: Option[String] = None, timeTravel: Option[String] = None): Unit = {
    val df = loadFeatures(names, from, to, freq, timeTravel)
    // "ns/name" column names need backticks in SQL — expose bare feature
    // names instead when they're unambiguous
    val bare = df.columns.map(c => c.split("/").last)
    val renamed = if (bare.distinct.length == bare.length)
      df.toDF(bare.toIndexedSeq: _*)
    else df
    renamed.createOrReplaceTempView(viewName)
  }

  // ---- A2/A3 convenience ------------------------------------------------------

  def firstValue(qualified: String): Option[(Timestamp, Any)] = {
    val (ns, n) = Catalog.splitName(qualified)
    storage.firstValue(ns, n)
  }

  def lastValue(qualified: String): Option[(Timestamp, Any)] = {
    val (ns, n) = Catalog.splitName(qualified)
    storage.lastValue(ns, n)
  }
}

object FeatureStore {
  /** Feature-meta key listing an entity-keyed feature's key columns. */
  val EntityKeysMeta = "entity_keys"

  /** Feature-meta key holding the keyed feature's (keys..., time, value)
    * schema as Spark DDL — declared at create time or pinned on first
    * successful save; drives the typed empty frame for pre-write reads.
    */
  val KeyedSchemaMeta = "keyed_schema"

  /** Read-side decode for `serialized` feature values: parse the stored
    * JSON strings of `column` into `ddl`-typed values, NULL on rows whose
    * stored shape drifted away from that schema — the Spark-typed analogue
    * of the reference's read-side `json.loads`
    * (/root/reference/src/qafs/backend/pandas.py:133-140); a static schema
    * replaces Python's dynamic objects, and the caller picks WHICH drift
    * generation to decode by the schema it passes (decode twice with two
    * schemas to split generations). Complex types (`"a INT, b STRING"`,
    * `"array<double>"`, ...) go through `from_json`; atomics (`"bigint"`)
    * through `try_cast`. A struct decode that matches NO field (PERMISSIVE
    * from_json hands back an all-null row for e.g. a drifted scalar) is
    * normalized to NULL — the one ambiguity is a legitimately-stored
    * all-null object, which also decodes to NULL.
    */
  def decodeSerialized(df: DataFrame, column: String, ddl: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
    DataType.fromDDL(ddl) match {
      case st: StructType =>
        val parsed = from_json(col(column), st, Map.empty[String, String])
        val allNull = st.fieldNames.map(f => parsed.getField(f).isNull).reduce(_ && _)
        df.withColumn(column,
          when(parsed.isNull || allNull, lit(null).cast(st)).otherwise(parsed))
      case t @ (_: ArrayType | _: MapType) =>
        df.withColumn(column, from_json(col(column), t, Map.empty[String, String]))
      case t =>
        df.withColumn(column, expr(s"try_cast(`$column` AS ${t.sql})"))
    }
  }
}

/** A registered store plus its LIVE committed-token coverage (read from
  * the store's [[graft.StoreCommit]] manifest at listing time; empty for
  * a store whose path holds no batch dirs yet).
  */
case class StoreStatus(store: graft.catalog.StoreDef, committedTokens: Seq[String])

object StoreStatus {
  /** Which sub-dir carries a family's batch tokens: multi-family stores
    * commit ONE marker per token at the store root, so any single family
    * listing is the committed set (winnow's `fps`, the ANN indexes'
    * `codes`/`assigned`, the postings index's `postings`); plain stores
    * keep their batch dirs at the root.
    */
  def tokenSub(family: String): Option[String] = family match {
    case "winnow" => Some("fps")
    case "sq8" | "pq" | "ivfpq" => Some("codes")
    case "ivf" => Some("assigned")
    case "postings" => Some("postings")
    case _ => None
  }
}

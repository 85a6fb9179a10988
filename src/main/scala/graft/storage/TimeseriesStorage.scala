package graft.storage

import graft.catalog.{FeatureStoreException, PartitionScheme}
import graft.ts.{Align, TimeUtil}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.sql.Timestamp
import scala.util.control.NonFatal

/** Partitioned-parquet timeseries storage for feature data.
  *
  * Physical layout mirrors the reference (src/qafs/backend/pandas.py:33-39,
  * 72-93): `{root}/feature/{namespace}/{name}/partition={p}/part-*.parquet`,
  * snappy parquet, append-only; logical upsert happens at read time by keeping
  * the max-`created_time` row per `time` (src/qafs/backend/pandas.py:161).
  * Entity-keyed features (`{root}/keyed/...`), groups and keyed groups
  * (`{root}/group/...`) are the same table with key and/or several value
  * columns: all four layouts share one write, one pruned read and one
  * latest-wins dedup (the private `Table` primitive below).
  *
  * Scale design:
  *  - writes are hive-partitioned on the derived `partition` column so reads
  *    with a time range prune whole directories (the partition-bound filters
  *    are derived from the time range — see [[TimeseriesStorage.scan]]);
  *  - time filters are plain comparisons on a parquet column → pushed to the
  *    scan by Catalyst (visible as PushedFilters in explain);
  *  - dedup is an agg with map-side partial aggregation (`max_by`-shaped
  *    `max(struct(created_time, value))`), not a full-sort window.
  */
class TimeseriesStorage(val root: String, spark: SparkSession,
    backendFormat: String => String = _ => "parquet") {
  import TimeseriesStorage._

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Per-namespace storage format (the [[graft.catalog.Backends]] dispatch
    * seam). Resolved per call, NOT memoized: a namespace can be deleted
    * and recreated under a different backend within one session (and can
    * be probed before it exists), so a memo here would serve a stale
    * format and write e.g. parquet files into an ORC-declared namespace.
    * The catalog's own mtime-checked document cache makes each resolve
    * one file stat — noise next to the IO it fronts.
    */
  private def fmt(namespace: String): String = backendFormat(namespace)

  /** Format-dispatched reader for one namespace's feature data. */
  private def readFmt(namespace: String, path: String): DataFrame =
    spark.read.format(fmt(namespace)).load(path)

  def featurePath(namespace: String, name: String): String =
    s"$root/feature/$namespace/$name"

  // ---- the one table shape: append, pruned read, latest-wins dedup --------

  /** One append-only, time-partitioned timeseries table: the physical
    * shape every feature layout shares — plain features ([[save]]),
    * entity-keyed features ([[saveKeyed]]), groups ([[saveGroup]]) and
    * keyed groups ([[saveKeyedGroup]]). Files live under
    * `{dir}/partition={p}/` with the [[columns]] below plus the derived
    * hive `partition`; the logical upsert key is `(keys, time)`.
    *
    * The dedup rule ([[latest]]) is fixed per layout: single-value
    * layouts (`wholeRow = false`: plain and keyed features) keep the
    * non-null-preferring `max(struct(__nonnull, created_time, value))`;
    * groups (`wholeRow = true`) keep the whole row with max
    * `created_time`, `max(struct(created_time, cols…))`, so a row's
    * signals stay mutually consistent.
    *
    * Empty-directory contract: a table whose directory is missing, or
    * holds no readable partition (never written, or every partition
    * dropped by [[dropBefore]]), reads as its typed empty frame — time
    * columns `timestamp`, keys `long`, values `double` unless `types`
    * pins them — never as an error. [[read]] detects it from the reader's
    * own `PATH_NOT_FOUND` / `UNABLE_TO_INFER_SCHEMA`, without a separate
    * existence probe.
    */
  private case class Table(namespace: String, dir: String,
      keys: Seq[String] = Nil, values: Seq[String] = Seq(ValueCol),
      wholeRow: Boolean = false, types: Map[String, DataType] = Map.empty) {
    /** Stored column order (minus `partition`), per layout. */
    def columns: Seq[String] =
      if (wholeRow) keys ++ (TimeCol +: CreatedCol +: values)
      else keys ++ (TimeCol +: values :+ CreatedCol)
  }

  /** Extraneous columns are an error (reference
    * src/qafs/backend/pandas.py:257-260), and so is a missing key, `time`
    * or value column; `created_time` is optional.
    */
  private def requireColumns(t: Table, df: DataFrame, what: String): Unit = {
    val extra = df.columns.toSet -- t.columns
    if (extra.nonEmpty)
      throw new FeatureStoreException(s"unexpected columns ${extra.mkString(",")} saving $what")
    val missing = (t.keys ++ (TimeCol +: t.values)).filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing columns saving $what: ${missing.mkString(",")}")
  }

  /** Coerce + derive partition + write one frame into `t`: `time` cast to
    * timestamp, `created_time` defaulted to now, snappy, hive-partitioned.
    */
  private def write(t: Table, df: DataFrame, scheme: PartitionScheme,
      mode: String = "append"): Unit =
    df.withColumn(TimeCol, col(TimeCol).cast(TimestampType))
      .withColumn(CreatedCol,
        if (df.columns.contains(CreatedCol))
          coalesce(col(CreatedCol).cast(TimestampType), current_timestamp())
        else current_timestamp())
      .withColumn(PartCol, partitionExpr(scheme, col(TimeCol)))
      .select((t.columns :+ PartCol).map(col): _*)
      // co-locate each hive partition's rows in one task: otherwise every
      // writer task emits a file per partition value (tasks × partitions
      // small files — a scan-killer at scale and locally)
      .repartition(col(PartCol))
      .write
      .format(fmt(t.namespace))
      .option("compression", "snappy")
      .partitionBy(PartCol)
      .mode(mode)
      .save(t.dir)

  /** Pruned read of `t`'s stored rows (all versions): time-range filters,
    * plus the same bounds *translated to partition bounds* so hive pruning
    * kicks in (the derived `partition` column is monotonic in `time` for
    * both schemes; the reference relies on dask's filters= for the same
    * effect, src/qafs/backend/pandas.py:97-117), then the time-travel
    * predicate. All filters are Catalyst-pushable. `schema` skips the
    * reader's inference when the caller knows the stored schema.
    */
  private def read(t: Table, scheme: PartitionScheme,
      from: Option[Timestamp], to: Option[Timestamp], timeTravel: Option[String],
      schema: Option[StructType] = None): DataFrame = {
    def empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(t.columns.map(c => StructField(c, t.types.getOrElse(c,
        if (c == TimeCol || c == CreatedCol) TimestampType
        else if (t.keys.contains(c)) LongType
        else DoubleType)))))
    // a never-written dir is answered on the driver: handing it to the
    // reader makes Spark's sink-metadata probe log a WARN and a full stack
    // trace before PATH_NOT_FOUND. The catch stays for a dir dropped
    // between this check and the listing, and for an emptied one.
    if (!fs.exists(new Path(t.dir))) return empty
    val stored = try schema.fold(spark.read)(spark.read.schema(_))
        .format(fmt(t.namespace)).load(t.dir) catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(c =>
            c == "PATH_NOT_FOUND" || c.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
        return empty
    }
    val (f, u) = clampRange(from, to)
    var df = within(stored, f, u)
    f.foreach(a => df = df.where(col(PartCol) >= lit(partitionValue(scheme, a))))
    u.foreach(b => df = df.where(col(PartCol) <= lit(partitionValue(scheme, b))))
    travelled(df.select(t.columns.map(col): _*), timeTravel)
  }

  /** [[read]] → [[latest]], projected to `keys ++ time ++ values`. */
  private def loadTable(t: Table, scheme: PartitionScheme,
      from: Option[Timestamp], to: Option[Timestamp],
      timeTravel: Option[String]): DataFrame =
    latest(read(t, scheme, from, to, timeTravel), t.keys, t.values, t.wholeRow)
      .select((t.keys ++ (TimeCol +: t.values)).map(col): _*)

  /** Degenerate range clamp: to < from → to = from (reference pandas.py:155-156). */
  private def clampRange(from: Option[Timestamp], to: Option[Timestamp])
      : (Option[Timestamp], Option[Timestamp]) = (from, to) match {
    case (Some(a), Some(b)) if b.before(a) => (Some(a), Some(a))
    case other => other
  }

  /** Row-level `from <= time <= to` filters. */
  private def within(df: DataFrame, from: Option[Timestamp],
      to: Option[Timestamp]): DataFrame = {
    val lo = from.fold(df)(a => df.where(col(TimeCol) >= lit(a)))
    to.fold(lo)(b => lo.where(col(TimeCol) <= lit(b)))
  }

  /** F2 time-travel: keep rows already known at event-time + `timeTravel`. */
  private def travelled(df: DataFrame, timeTravel: Option[String]): DataFrame =
    timeTravel.fold(df) { tt =>
      df.where(unix_micros(col(CreatedCol)) <=
        unix_micros(col(TimeCol)) + lit(TimeUtil.parseMicros(tt)))
    }

  /** The one partition-dir listing: `dir`'s `partition=` subdirectories
    * (none when `dir` does not exist).
    */
  private def partitionDirs(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$PartCol="))

  /** Partition values stored under `dir`, lexically (= time) sorted. */
  private def partitionValues(dir: String): Seq[String] =
    partitionDirs(new Path(dir)).map(_.getPath.getName.stripPrefix(s"$PartCol=")).sorted

  /** Retention (TTL) delete of one table: drop every hive partition
    * STRICTLY OLDER than `cutoff`'s partition — pure directory removal
    * against the partition listing, no data scan or rewrite at any size
    * (the point of deriving the partition from the time axis, S2's pruning
    * run in reverse). The cutoff's own partition survives even when
    * partially expired: sub-partition retention would mean rewriting
    * files, and a retention policy that needs sub-day precision should
    * partition sub-day instead. Returns the dropped partition values.
    * Idempotent; reads after a drop see the new listing
    * ([[org.apache.spark.sql.catalog.Catalog.refreshByPath]]) — and a
    * table with every partition dropped reads empty.
    */
  private def dropBefore(dir: String, cutoff: Timestamp,
      scheme: PartitionScheme): Seq[String] = {
    val cutPart = partitionValue(scheme, cutoff)
    val dropped = partitionValues(dir).filter(_ < cutPart)
    dropped.foreach(part => fs.delete(new Path(s"$dir/$PartCol=$part"), true))
    if (dropped.nonEmpty) spark.catalog.refreshByPath(dir)
    dropped
  }

  // ---- S1: append sink ----------------------------------------------------

  /** Validate + coerce + derive partition + append-write one feature frame.
    * Input df columns: `time` (+ optional `created_time`) + `value`.
    */
  def save(namespace: String, name: String, df: DataFrame,
      scheme: PartitionScheme = PartitionScheme.Date,
      serialized: Boolean = false, append: Boolean = true,
      checkDrift: Boolean = true): Unit = {
    val t = Table(namespace, featurePath(namespace, name))
    requireColumns(t, df, s"$namespace/$name")
    // non-serialized features pin their value type at first write: a
    // drifted append would land parquet files whose schemas can't merge
    // (reference rejects drift too, tests/test_feature_store.py:400-427;
    // `serialized=true` is the sanctioned drift path via JSON strings).
    // The gate applies to OVERWRITES as well: an overwrite that changes
    // the dtype under a catalog-pinned feature would leave the pin stale
    // and hard-fail every later pinned-schema read — delete and recreate
    // the feature to change its type. FeatureStore.saveOne passes
    // checkDrift=false — it already enforced the catalog-pinned dtype
    // without this footer probe.
    if (checkDrift && !serialized) {
      val p = new Path(featurePath(namespace, name))
      if (fs.exists(p)) {
        // an unreadable dir (crashed write, no footers) must not block the
        // overwrite that repairs it; an APPEND into one would only add to
        // the wreckage, so there the read failure propagates. Only NonFatal
        // probe failures count as "unreadable" — OOM/interrupts propagate.
        val existingOpt =
          try Some(readFmt(namespace, p.toString).schema(ValueCol).dataType)
          catch { case e: Throwable if !append && NonFatal(e) => None }
        existingOpt.foreach { existing =>
          val incoming = df.schema(ValueCol).dataType
          if (existing.catalogString != incoming.catalogString)
            throw new FeatureStoreException(
              s"schema drift on $namespace/$name: stored value is ${existing.catalogString}, " +
                s"incoming is ${incoming.catalogString}; use serialized=true for drifting " +
                "values, or delete and recreate the feature to change its type")
        }
      }
    }

    val encoded =
      if (serialized)
        df.withColumn(ValueCol, serializeValue(df(ValueCol), df.schema(ValueCol).dataType))
      else df
    write(t, encoded, scheme, if (append) "append" else "overwrite")
  }

  // ---- S2 + F1/F2: scan with pushdown -------------------------------------

  /** Raw scan of one feature's stored rows (all versions) with time-range
    * partition pruning and optional time-travel predicate — [[read]].
    */
  def scan(namespace: String, name: String,
      from: Option[Timestamp] = None, to: Option[Timestamp] = None,
      timeTravel: Option[String] = None,
      scheme: PartitionScheme = PartitionScheme.Date,
      serialized: Boolean = false,
      valueDtype: Option[String] = None): DataFrame = {
    // a catalog-pinned value dtype yields a fully-known read schema, so the
    // reader SKIPS its parquet footer probe — one fewer remote round-trip
    // per feature per query (a real cost on object stores; the pin gates
    // every write, so the footer could never disagree). Unpinned features
    // (pre-first-write, or foreign data) fall back to inference.
    val schema = valueDtype
      .flatMap(d => scala.util.Try(org.apache.spark.sql.types.DataType.fromDDL(d)).toOption)
      .map(dt => StructType(Seq(
        StructField(TimeCol, TimestampType),
        StructField(ValueCol, dt),
        StructField(CreatedCol, TimestampType),
        StructField(PartCol, StringType)))) // both schemes write string partitions
    read(Table(namespace, featurePath(namespace, name)), scheme, from, to, timeTravel, schema)
  }

  /** ONE multi-directory scan over MANY features — the wide training-set
    * export's input shape, returning stacked rows
    * `(time, __f = "ns/name", value, created_time)`.
    *
    * Why not N [[scan]]s unioned: each scan is its own eagerly-listed file
    * index and its own physical plan leg — at export width that is N
    * driver-side listings, N codegen units (thrashing the JVM-wide
    * codegen cache at N > ~100, so every execution re-compiles), and no
    * file coalescing ACROSS features (the 100-feature 20M smoke planned
    * 2801 scan tasks for 2M rows; ~60 s of per-leg overhead PER
    * execution). Here every feature's pruned partition dirs feed one
    * `load(dirs: _*)` — one listing (parallelized by Spark past 32
    * paths), one codegen'd leg, files coalesced globally — and the
    * feature identity is recovered from the file path, which the hive
    * layout carries for free.
    *
    * Per-feature partition pruning happens at LISTING time (driver-side
    * compare of partition-dir names against each feature's own scheme
    * bounds — same monotonic-partition argument as [[scan]]'s pruning);
    * the row-level time filters and the time-travel predicate still push
    * into the one scan. Namespaces on different storage formats
    * (parquet/ORC) split into one leg per format.
    *
    * Caller contract (enforced by [[graft.api.FeatureStore.loadFeatures]]
    * before routing here): every feature is plain-stored with ONE shared
    * pinned value dtype, and namespace/name are path-safe (no characters
    * the path-derived identity regexp could misparse).
    *
    * Also returns the time bounds the LISTING already knows: the min/max
    * selected partition values parse to a conservative `[lo, hi)` micros
    * cover of every stored row's time (partition is monotonic in time for
    * both schemes) — callers seed downstream bucketing hints from it
    * instead of running a bounds job ([[graft.ts.Align.CutsMemo.seed]]).
    */
  def scanStackedWithBounds(feats: Seq[(String, String, PartitionScheme)],
      from: Option[Timestamp] = None, to: Option[Timestamp] = None,
      timeTravel: Option[String] = None,
      valueDtype: String = "double"): StackedScan = {
    val dt = org.apache.spark.sql.types.DataType.fromDDL(valueDtype)
    val schema = StructType(Seq(
      StructField(TimeCol, TimestampType),
      StructField(ValueCol, dt),
      StructField(CreatedCol, TimestampType)))
    val (f, t) = clampRange(from, to)
    // per-feature pruned partition-dir listing, on a bounded driver pool
    // (one listStatus per feature; sequential would be linear in width)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, feats.size)))
    val listed: Seq[(String, Seq[String], PartitionScheme, Seq[String])] = try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      feats.map { case (ns, n, scheme) =>
        scala.concurrent.Future {
          val lo = f.map(partitionValue(scheme, _))
          val hi = t.map(partitionValue(scheme, _))
          val vals = partitionValues(featurePath(ns, n))
            .filter(v => lo.forall(v >= _) && hi.forall(v <= _))
          (fmt(ns),
            vals.map(v => s"${featurePath(ns, n)}/$PartCol=$v"),
            scheme, vals)
        }
      }.map(scala.concurrent.Await.result(
        _, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
    val dirsByFmt: Seq[(String, Seq[String])] =
      listed.groupBy(_._1).view.mapValues(_.flatMap(_._2)).toSeq
    // conservative [lo, hi) micros cover of every selected row's time,
    // from partition values alone (no job): a Date dir covers its day, a
    // Year dir its year
    val covers = listed.flatMap { case (_, _, scheme, vals) =>
      vals.map(v => partitionCoverMicros(scheme, v)) }
    val bounds =
      if (covers.isEmpty) None else Some((covers.map(_._1).min, covers.map(_._2).max))
    val legs = dirsByFmt.filter(_._2.nonEmpty).map { case (format, dirs) =>
      val stacked = spark.read.schema(schema).format(format).load(dirs: _*)
        .withColumn("__f", regexp_extract(input_file_name(),
          ".*/feature/([^/]+/[^/]+)/" + PartCol + "=[^/]*/[^/]*$", 1))
        .select(col(TimeCol), col("__f"), col(ValueCol), col(CreatedCol))
      travelled(within(stacked, f, t), timeTravel)
    }
    val df =
      if (legs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField(TimeCol, TimestampType),
            StructField("__f", StringType),
            StructField(ValueCol, dt),
            StructField(CreatedCol, TimestampType))))
      else org.apache.spark.sql.GraftSqlBridge.unionAll(legs)
    StackedScan(df, bounds)
  }

  /** `[lo, hi)` micros covered by one partition value of `scheme`. */
  private def partitionCoverMicros(scheme: PartitionScheme, v: String): (Long, Long) = {
    def us(d: java.time.LocalDate): Long =
      d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000L
    scheme match {
      case PartitionScheme.Date =>
        val d = java.time.LocalDate.parse(v)
        (us(d), us(d.plusDays(1)))
      case PartitionScheme.Year =>
        val d = java.time.LocalDate.of(v.toInt, 1, 1)
        (us(d), us(d.plusYears(1)))
    }
  }

  // ---- A1: latest-version dedup -------------------------------------------

  /** Latest-wins dedup per `(keys, time)`, by the [[Table]]'s layout rule.
    *
    * Single-value (`wholeRow = false`): keep the value with max
    * `created_time` (ties broken by max value — deterministic). Non-null
    * values are preferred over null ones regardless of version, matching
    * the reference's `groupby().last()` which skips NaN
    * (src/qafs/backend/pandas.py:161); emits `keys ++ (time, value,
    * created_time)`. Whole-row (`wholeRow = true`): the row with max
    * `created_time` wins all its `values` together; emits `keys ++ time ++
    * values`.
    *
    * Shaped as groupBy + max(struct(...)) so Spark plans a partial
    * (map-side) aggregate before the shuffle, instead of sorting the whole
    * frame through a window; per-entity parallelism comes from the
    * groupBy hash. (Non-orderable value types — e.g. map — fail at
    * analysis time; store those as `serialized` features.)
    */
  private def latest(df: DataFrame, keys: Seq[String], values: Seq[String],
      wholeRow: Boolean): DataFrame = {
    val by = (keys :+ TimeCol).map(col)
    val nonNullFirst = if (wholeRow) Nil else Seq(col(ValueCol).isNotNull.as("__nonnull"))
    val out = if (wholeRow) values else values :+ CreatedCol
    df.groupBy(by: _*)
      .agg(max(struct(nonNullFirst ++ (CreatedCol +: values).map(col): _*)).as("s"))
      .select(by ++ out.map(c => col(s"s.$c").as(c)): _*)
  }

  /** A plain feature's latest-version dedup: per `time`, the [[latest]]
    * single-value rule; emits `(time, value, created_time)`.
    */
  def dedupLatest(df: DataFrame): DataFrame =
    latest(df, Nil, Seq(ValueCol), wholeRow = false)

  // ---- load = scan → dedup → resample/ffill -------------------------------

  /** Full read query for one feature (reference Backend.load,
    * src/qafs/backend/pandas.py:148-177).
    */
  def load(namespace: String, name: String,
      from: Option[Timestamp] = None, to: Option[Timestamp] = None,
      freq: Option[String] = None, timeTravel: Option[String] = None,
      scheme: PartitionScheme = PartitionScheme.Date,
      serialized: Boolean = false,
      valueDtype: Option[String] = None,
      how: String = "ffill"): DataFrame = {
    require(how == "ffill" || how == "interp",
      s"load: how must be 'ffill' (as-of) or 'interp' (linear), got '$how'")
    val scanned = scan(namespace, name, from, to, timeTravel, scheme,
      serialized, valueDtype)
    freq match {
      case None => dedupLatest(scanned).select(TimeCol, ValueCol)
      case Some(fr) =>
        val memo = cutsMemoFor(s"$namespace/$name|$from|$to|$fr|$timeTravel|$how")
        // spine needs concrete bounds; default to data min/max like the
        // reference (src/qafs/backend/pandas.py:151-154). When bounds must
        // be computed, persist the scan+dedup frame FIRST so the bounds
        // job materializes the same cache the fill reads — one evaluation
        // of the storage pipeline instead of two — and compute the fill's
        // quantile CUTS in the SAME aggregation (seeded into the memo), so
        // the bounds probe and the cuts job are ONE driver action, not
        // two, even on the first read. Bounds are semantics (the grid
        // extent) and are recomputed per read; only the cuts — pure
        // load-balancing hints — are memoized.
        val (deduped, bounds) = clampRange(from, to) match {
          case (Some(a), Some(b)) =>
            (dedupLatest(scanned), Some((a, b)))
          case _ =>
            val cached = graft.CacheScope.persist(dedupLatest(scanned))
            val us = unix_micros(col(TimeCol))
            val nb = spark.sparkContext.defaultParallelism
            val probs = (1 until nb).map(_.toDouble / nb)
            val r = cached.agg(min(TimeCol), max(TimeCol),
              percentile_approx(us, array(probs.map(lit): _*), lit(1000))).head()
            if (!r.isNullAt(0)) memo.seed(r.getSeq[Long](2))
            (cached,
              if (r.isNullAt(0)) None
              else Some((from.getOrElse(r.getTimestamp(0)), to.getOrElse(r.getTimestamp(1)))))
        }
        bounds match {
          case None => deduped.select(TimeCol, ValueCol) // empty feature
          case Some((a, b)) =>
            Align.pointInTime(Align.grid(spark, a, b, TimeUtil.parseMicros(fr), TimeCol),
              deduped, Nil, TimeCol, Seq(ValueCol),
              if (how == "interp") Align.Interp else Align.Backward, memo = Some(memo))
        }
    }
  }

  /** Per-read-shape [[Align.CutsMemo]] registry: repeated identical resample
    * reads skip the bucket-cuts job (stale cuts cost balance, never
    * answers). Coarsely bounded — a clear() at 1024 shapes beats an LRU's
    * bookkeeping for what is a pure performance hint.
    */
  private val cutsMemos =
    new java.util.concurrent.ConcurrentHashMap[String, Align.CutsMemo]()
  private def cutsMemoFor(key: String): Align.CutsMemo = {
    if (cutsMemos.size > 1024) cutsMemos.clear()
    cutsMemos.computeIfAbsent(key, _ => new Align.CutsMemo)
  }

  // ---- A2/A3: bounds + first/last via partition pruning --------------------

  def timeBounds(namespace: String, name: String): Option[(Timestamp, Timestamp)] = {
    val df = scan(namespace, name)
    if (df.isEmpty) None
    else {
      val r = df.agg(min(TimeCol), max(TimeCol)).head()
      Some((r.getTimestamp(0), r.getTimestamp(1)))
    }
  }

  /** List hive partition values, lexically sorted. */
  def listPartitions(namespace: String, name: String, reverse: Boolean = false): Seq[String] = {
    val parts = partitionValues(featurePath(namespace, name))
    if (reverse) parts.reverse else parts
  }

  /** First (earliest) value at-or-after the optional bound, reading edge
    * partitions only — the reference's partition-pruned fast path with its
    * `from_date`/`to_date` forms (src/qafs/backend/pandas.py:196-222,
    * re-specified without its DatetimeIndex bug). Partitions are visited
    * lazily in order, so the usual cost is ONE partition read; a bound
    * landing in an empty/filtered-out partition advances to the next.
    */
  def firstValue(namespace: String, name: String,
      from: Option[Timestamp] = None,
      scheme: PartitionScheme = PartitionScheme.Date): Option[(Timestamp, Any)] =
    edgeValue(namespace, name, reverse = false, from, scheme)

  /** Last (latest) value at-or-before the optional bound; see [[firstValue]]. */
  def lastValue(namespace: String, name: String,
      to: Option[Timestamp] = None,
      scheme: PartitionScheme = PartitionScheme.Date): Option[(Timestamp, Any)] =
    edgeValue(namespace, name, reverse = true, to, scheme)

  private def edgeValue(namespace: String, name: String, reverse: Boolean,
      bound: Option[Timestamp], scheme: PartitionScheme): Option[(Timestamp, Any)] = {
    val all = listPartitions(namespace, name, reverse)
    // both schemes' partition strings compare lexically in time order
    val parts = bound match {
      case Some(b) =>
        val bv = partitionValue(scheme, b)
        if (reverse) all.filter(_ <= bv) else all.filter(_ >= bv)
      case None => all
    }
    parts.iterator.map { p =>
      var df = readFmt(namespace, s"${featurePath(namespace, name)}/$PartCol=$p")
      bound.foreach { b =>
        df = if (reverse) df.where(col(TimeCol) <= lit(b)) else df.where(col(TimeCol) >= lit(b))
      }
      val deduped = dedupLatest(df)
      val ordered = if (reverse) deduped.orderBy(col(TimeCol).desc) else deduped.orderBy(col(TimeCol))
      ordered.limit(1).collect().headOption
    }.collectFirst { case Some(r) => (r.getAs[Timestamp](TimeCol), r.getAs[Any](ValueCol)) }
  }

  /** All four edge probes — first, last, bounded first (at-or-after `from`),
    * bounded last (at-or-before `to`) — in ONE fused Spark job over ONE
    * partition listing, where four separate [[firstValue]]/[[lastValue]]
    * calls cost a listing + a read + a `limit(1)` action EACH (~8 driver
    * round-trips; scale-neutral but job-floor-dominated — the r4 bench
    * measured the unfused gate at 3.4× the fused shape). The fused read
    * touches only the candidate edge partitions (outermost dirs plus the
    * bound-straddling dir per bound) and computes all four slots as
    * min/max_by aggregates in one pass. A slot whose candidate partition
    * turns out empty after the bound filter (bound past the partition's
    * rows) falls back to the lazy per-partition walk FOR THAT SLOT ONLY —
    * the usual cost stays one job.
    */
  def firstLastValues(namespace: String, name: String,
      from: Option[Timestamp] = None, to: Option[Timestamp] = None,
      scheme: PartitionScheme = PartitionScheme.Date):
      (Option[(Timestamp, Any)], Option[(Timestamp, Any)],
       Option[(Timestamp, Any)], Option[(Timestamp, Any)]) = {
    val all = listPartitions(namespace, name)
    if (all.isEmpty) return (None, None, None, None)
    // candidate edge partitions: global edges + the first dir at-or-after
    // `from` + the last dir at-or-before `to` (partition strings compare
    // lexically in time order for both schemes)
    val cands = scala.collection.mutable.LinkedHashSet(all.head, all.last)
    val fromPart = from.flatMap { b => all.find(_ >= partitionValue(scheme, b)) }
    val toPart = to.flatMap { b => val bv = partitionValue(scheme, b)
      all.reverseIterator.find(_ <= bv) }
    fromPart.foreach(cands += _)
    toPart.foreach(cands += _)
    val paths = cands.toSeq.map(p => s"${featurePath(namespace, name)}/$PartCol=$p")
    // dedupLatest across the union is per-partition-equivalent: time keys
    // never span partition dirs (the partition value derives from the time)
    val d = dedupLatest(
      spark.read.format(fmt(namespace)).load(paths: _*))
    // each bounded slot is confined to ITS candidate dir's rows (partition
    // value re-derived map-side from the time — it's a function of it):
    // without the confinement, a qualifying row from the OTHER edge dir in
    // the union (e.g. the last dir for a `from` bound) would win the
    // aggregate while the true answer sits in an unread middle dir
    def boundedAggs(b: Option[Timestamp], part: Option[String], ge: Boolean): Seq[Column] =
      (b, part) match {
        case (Some(ts), Some(p)) =>
          val inPart = partitionExpr(scheme, col(TimeCol)) === lit(p)
          val t = when(inPart &&
            (if (ge) col(TimeCol) >= lit(ts) else col(TimeCol) <= lit(ts)), col(TimeCol))
          // min_by/max_by skip null ordering keys, so the when-filter
          // confines each slot without a second scan
          if (ge) Seq(min(t), min_by(col(ValueCol), t)) else Seq(max(t), max_by(col(ValueCol), t))
        case _ => Seq(min(lit(null).cast(TimestampType)), min(lit(null)))
      }
    val aggs = Seq(min(col(TimeCol)), min_by(col(ValueCol), col(TimeCol)),
      max(col(TimeCol)), max_by(col(ValueCol), col(TimeCol))) ++
      boundedAggs(from, fromPart, ge = true) ++ boundedAggs(to, toPart, ge = false)
    val r = d.agg(aggs.head, aggs.tail: _*).head()
    def slot(i: Int): Option[(Timestamp, Any)] =
      if (r.isNullAt(2 * i)) None
      else Some((r.getTimestamp(2 * i), r.get(2 * i + 1)))
    val first = slot(0).orElse(edgeValue(namespace, name, reverse = false, None, scheme))
    val last = slot(1).orElse(edgeValue(namespace, name, reverse = true, None, scheme))
    // bounded slots: null means either no bound requested, or the bound's
    // candidate partition held no qualifying rows — the answer (if any) is
    // in a LATER (resp. earlier) partition; the lazy walk finds it
    val bFirst = from.flatMap(b =>
      slot(2).orElse(edgeValue(namespace, name, reverse = false, Some(b), scheme)))
    val bLast = to.flatMap(b =>
      slot(3).orElse(edgeValue(namespace, name, reverse = true, Some(b), scheme)))
    (first, last, bFirst, bLast)
  }

  // ---- feature groups (multi-column tables, extension) ---------------------

  def groupPath(namespace: String, name: String): String =
    s"$root/group/$namespace/$name"

  /** Append a wide frame (time [+ created_time] + N signal columns) as ONE
    * hive-partitioned table. Same coercion/partition semantics as [[save]];
    * the win is on the read side: any column subset costs one scan with
    * parquet column pruning, no N-way join.
    */
  def saveGroup(namespace: String, name: String, df: DataFrame,
      columns: Seq[String], scheme: PartitionScheme = PartitionScheme.Date): Unit =
    saveKeyedGroup(namespace, name, df, Nil, columns, scheme)

  /** Read a column subset of a group with the feature read semantics:
    * time-range + partition pruning, optional time-travel, then latest-ROW
    * dedup per time (max created_time wins for the whole row — signals
    * stay mutually consistent). Column pruning happens before dedup, so
    * unrequested columns never leave the parquet reader.
    */
  def loadGroup(namespace: String, name: String, columns: Seq[String],
      from: Option[Timestamp] = None, to: Option[Timestamp] = None,
      timeTravel: Option[String] = None,
      scheme: PartitionScheme = PartitionScheme.Date): DataFrame =
    loadKeyedGroup(namespace, name, Nil, columns, from, to, timeTravel, scheme)

  /** ENTITY-KEYED feature group — [[saveGroup]] with entity key columns:
    * N signals per entity in ONE hive-partitioned table, the wide
    * serving-table layout (loads are one column-pruned scan instead of an
    * N-way per-entity join). The logical upsert key is (keys, time).
    */
  def saveKeyedGroup(namespace: String, name: String, df: DataFrame,
      keys: Seq[String], columns: Seq[String],
      scheme: PartitionScheme = PartitionScheme.Date): Unit = {
    val t = Table(namespace, groupPath(namespace, name), keys, columns, wholeRow = true)
    requireColumns(t, df, s"group $namespace/$name")
    write(t, df, scheme)
  }

  /** Read a column subset of a keyed group: one pruned scan, then
    * latest-ROW dedup per (keys, time) — max created_time wins the whole
    * row, so the signals stay mutually consistent (the [[loadGroup]]
    * contract with the entity in the upsert key). Partial-aggregable —
    * no window sort at any size.
    */
  def loadKeyedGroup(namespace: String, name: String, keys: Seq[String],
      columns: Seq[String], from: Option[Timestamp] = None,
      to: Option[Timestamp] = None, timeTravel: Option[String] = None,
      scheme: PartitionScheme = PartitionScheme.Date): DataFrame = {
    require(columns.nonEmpty, "no columns requested")
    loadTable(Table(namespace, groupPath(namespace, name), keys, columns, wholeRow = true),
      scheme, from, to, timeTravel)
  }

  // ---- entity-keyed features (extension) -----------------------------------

  def keyedPath(namespace: String, name: String): String =
    s"$root/keyed/$namespace/$name"

  /** Append a per-entity feature frame (keys... + time + value
    * [+ created_time]) — the training-data shape ("feature per user"),
    * which the reference's single-series features cannot hold. Same
    * coercion / hive-date-partition / append semantics as [[save]]; the
    * logical upsert key becomes (keys, time) instead of (time).
    */
  def saveKeyed(namespace: String, name: String, df: DataFrame, keys: Seq[String],
      scheme: PartitionScheme = PartitionScheme.Date): Unit = {
    require(keys.nonEmpty, "keyed feature needs at least one key column")
    val t = Table(namespace, keyedPath(namespace, name), keys)
    requireColumns(t, df, s"keyed $namespace/$name")
    write(t, df, scheme)
  }

  /** Read a keyed feature: time-range + partition pruning + optional
    * time-travel, then latest-version dedup per (keys, time) — the
    * single-value [[latest]] rule, sharded across entities by the groupBy
    * hash. `emptySchema` types the empty frame a not-yet-written (or
    * fully expired) feature reads as: the LongType/DoubleType default
    * makes string-keyed features fail at analysis time when joined
    * against a spine.
    */
  def loadKeyed(namespace: String, name: String, keys: Seq[String],
      from: Option[Timestamp] = None, to: Option[Timestamp] = None,
      timeTravel: Option[String] = None,
      scheme: PartitionScheme = PartitionScheme.Date,
      emptySchema: Option[StructType] = None): DataFrame =
    loadTable(Table(namespace, keyedPath(namespace, name), keys,
        types = emptySchema.fold(Map.empty[String, DataType])(
          _.fields.map(f => f.name -> f.dataType).toMap)),
      scheme, from, to, timeTravel)

  // ---- S4/S5/S6: listing, delete, copy -------------------------------------

  /** Feature names with stored data in `namespace`, in either single-value
    * layout (plain or entity-keyed) — the set [[delete]] removes from.
    */
  def listStoredFeatures(namespace: String): Seq[String] =
    Seq("feature", "keyed").flatMap { layout =>
      val p = new Path(s"$root/$layout/$namespace")
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    }.distinct.sorted

  def delete(namespace: String, name: String): Unit = {
    // a feature's data lives in exactly one of the two layouts — remove both
    for (dir <- Seq(featurePath(namespace, name), keyedPath(namespace, name))) {
      val p = new Path(dir)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Retention (TTL) delete for a plain feature — see [[dropBefore]]. */
  def deleteBefore(namespace: String, name: String, cutoff: Timestamp,
      scheme: PartitionScheme = PartitionScheme.Date): Seq[String] =
    dropBefore(featurePath(namespace, name), cutoff, scheme)

  /** [[deleteBefore]] for the entity-KEYED layout. */
  def deleteKeyedBefore(namespace: String, name: String, cutoff: Timestamp,
      scheme: PartitionScheme = PartitionScheme.Date): Seq[String] =
    dropBefore(keyedPath(namespace, name), cutoff, scheme)

  /** Copy one feature's stored rows, every version, to another feature
    * location (clone support, reference src/qafs/backend/pandas.py:274-296
    * — overwrite semantics): the entity-keyed table when `keys` is
    * non-empty, the plain one otherwise. A feature with no data copies
    * nothing.
    */
  def copy(fromNs: String, fromName: String, toNs: String, toName: String,
      keys: Seq[String] = Nil, scheme: PartitionScheme = PartitionScheme.Date): Unit = {
    def table(ns: String, n: String) =
      if (keys.isEmpty) Table(ns, featurePath(ns, n)) else Table(ns, keyedPath(ns, n), keys)
    val from = table(fromNs, fromName)
    if (fs.exists(new Path(from.dir)))
      write(table(toNs, toName), read(from, scheme, None, None, None), scheme, "overwrite")
  }

  // ---- small-file compaction (store maintenance) ----------------------------

  /** Rewrite a feature's over-fragmented hive partitions into right-sized
    * files, preserving every stored row — including SUPERSEDED
    * `(time, created_time)` versions, so time-travel reads and the
    * `serialized` drift history survive byte-exactly. The store is
    * append-only by design (one part-file set per [[save]] call and per
    * streaming micro-batch — the reference shares the layout,
    * src/qafs/backend/pandas.py:86, and mitigates only at read time
    * with a 25 MB repartition, :118), so under ingest cadence a partition
    * dir accumulates unbounded tiny files and scan cost grows with FILE
    * COUNT, not data; this is the rewrite path that resets it.
    *
    * Shape at scale: ONE Spark job rewrites every selected partition —
    * the candidates are read together (`basePath` keeps the partition
    * column), salted to `ceil(bytes / targetBytes)` write tasks per
    * partition, and written hive-partitioned to a dot-prefixed build dir
    * that live scans never list. The swap is per-partition directory
    * renames (metadata-only). A driver loop of per-partition jobs would
    * be thousands of tiny jobs at ingest-partitioned scale.
    *
    * Crash safety ([[graft.operators.DedupOps.compactWindowStore]]'s
    * rebuild-aside-then-swap contract, adapted to in-place hive dirs):
    * the build dir is fully written and count-verified BEFORE any live
    * dir moves; each swap renames the live dir into a trash dir and the
    * rebuilt dir into place. A crash between those two renames leaves
    * that one partition unlisted but BOTH copies on disk; the recovery
    * sweep at the next compaction entry ([[recoverCompaction]]) completes
    * the swap. Runs under [[graft.StoreLock]] (beside the feature dir),
    * so a concurrent `save`'s new files can never land in a dir mid-swap.
    * Racing READERS are the documented residual: a scan listing files
    * exactly inside one partition's two-rename window misses that
    * partition — compaction is a maintenance operation; schedule it like
    * one (the dedup/index-store compactors share this contract).
    */
  def compactFeature(namespace: String, name: String,
      targetBytes: Long = DefaultCompactTargetBytes): CompactionStats =
    compactHiveDir(featurePath(namespace, name), namespace, targetBytes)

  /** [[compactFeature]] for the entity-KEYED layout. */
  def compactKeyed(namespace: String, name: String,
      targetBytes: Long = DefaultCompactTargetBytes): CompactionStats =
    compactHiveDir(keyedPath(namespace, name), namespace, targetBytes)

  /** [[compactFeature]] for the feature-GROUP layout (plain and keyed
    * groups share the directory).
    */
  def compactGroup(namespace: String, name: String,
      targetBytes: Long = DefaultCompactTargetBytes): CompactionStats =
    compactHiveDir(groupPath(namespace, name), namespace, targetBytes)

  private def dataFiles(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Complete any swap a crashed compaction left half-done: a trash entry
    * whose live partition dir is MISSING means the crash hit between the
    * two swap renames — the fully-verified rebuilt dir (still in the
    * build dir) is renamed into place. If the rebuilt copy is ALSO
    * missing (the one legitimate state: a zero-row candidate writes no
    * built dir, and the crash landed between its rename-aside and the
    * empty-dir mkdirs fallback), the swap is UNDONE instead — the trash
    * copy renames back into place, so the data is live again and the next
    * compaction run simply re-selects the partition. Every other
    * trash/build leftover is stale (the rebuild preceding a completed
    * swap, or a build that never reached its swap) and is dropped.
    * Idempotent; called on entry by [[compactFeature]] under the same
    * lock.
    */
  def recoverCompaction(dir: String): Unit = {
    val live = new Path(dir)
    val build = new Path(dir, CompactBuildDir)
    val trash = new Path(dir, CompactTrashDir)
    if (fs.exists(trash)) {
      partitionDirs(trash).foreach { t =>
        val liveDir = new Path(live, t.getPath.getName)
        val built = new Path(build, t.getPath.getName)
        if (!fs.exists(liveDir)) {
          if (fs.exists(built))
            require(fs.rename(built, liveDir),
              s"compaction recovery: rename $built -> $liveDir failed")
          else {
            // no rebuilt copy: undo the half-swap rather than dead-end —
            // the trash copy IS the data, put it back
            require(fs.rename(t.getPath, liveDir),
              s"compaction recovery: undo rename ${t.getPath} -> $liveDir failed")
          }
        }
        if (fs.exists(t.getPath)) fs.delete(t.getPath, true)
      }
      fs.delete(trash, true)
    }
    if (fs.exists(build)) fs.delete(build, true)
  }

  private def compactHiveDir(dir: String, namespace: String,
      targetBytes: Long): CompactionStats =
      graft.StoreLock.withLock(spark, dir) {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    recoverCompaction(dir)
    val live = new Path(dir)
    // candidates: partitions whose file count exceeds what their bytes
    // justify — already-compact partitions are never rewritten (the second
    // run of a compaction is a listing, no job)
    val cands = partitionDirs(live).flatMap { d =>
      val files = dataFiles(d.getPath)
      val bytes = files.map(_.getLen).sum
      val want = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong)
      if (files.size <= want) None
      else Some((d.getPath.getName.stripPrefix(s"$PartCol="), files.size.toLong, bytes, want))
    }
    if (cands.isEmpty) CompactionStats(0, 0, 0, 0)
    else {
      val buildDir = new Path(dir, CompactBuildDir)
      val trashDir = new Path(dir, CompactTrashDir)
      // ONE rewrite job over every candidate partition: basePath keeps the
      // partition column (pinned back to its stored string form — partition
      // type inference would otherwise read dates/years as DATE/INT); the
      // salt spreads each partition over its target file count's worth of
      // write tasks (hash-partitioned shuffle, so a task writes one file
      // per (partition, salt) group it holds)
      val nf = spark.createDataFrame(cands.map(c => (c._1, c._4)))
        .toDF("__pv", "__nf")
      val src = spark.read.format(fmt(namespace)).option("basePath", dir)
        .load(cands.map(c => s"$dir/$PartCol=${c._1}"): _*)
        .withColumn(PartCol, col(PartCol).cast(StringType))
      // metadata-only count (footers) — sizes the row-count backstop below
      // and verifies the rebuild afterwards
      val srcCount = src.count()
      val salted = src
        .join(broadcast(nf), col(PartCol) === col("__pv"))
        .withColumn("__salt", pmod(xxhash64(col(TimeCol), col(CreatedCol)), col("__nf")))
        .drop("__pv", "__nf")
      // file sizing is two-layer: the salt gives each partition ~its target
      // file count's worth of WRITE TASKS (parallelism for huge partitions),
      // and maxRecordsPerFile — rows-per-target derived from the store's
      // observed bytes/row — deterministically splits any task that ended up
      // holding more (AQE legitimately coalesces small salt groups into one
      // task; salt-hash collisions merge groups — both land here)
      val candBytes = cands.map(_._3).sum
      val avgRowBytes = math.max(1L, candBytes / math.max(1L, srcCount))
      val maxRecords = math.max(1L, targetBytes / avgRowBytes)
      salted
        .repartition(col(PartCol), col("__salt"))
        .drop("__salt")
        .write.format(fmt(namespace)).option("compression", "snappy")
        .option("maxRecordsPerFile", maxRecords)
        .partitionBy(PartCol).mode("overwrite")
        .save(buildDir.toString)
      // verify the rebuild BEFORE any live dir moves: a row lost here would
      // silently rewrite history (metadata-only counts — parquet footers)
      val builtParts = cands.map(c => s"$buildDir/$PartCol=${c._1}")
        .filter(p => fs.exists(new Path(p)))
      val builtCount =
        if (builtParts.isEmpty) 0L
        else spark.read.format(fmt(namespace))
          .option("basePath", buildDir.toString).load(builtParts: _*).count()
      require(builtCount == srcCount,
        s"compaction rebuild of $dir dropped rows ($srcCount -> $builtCount); " +
          "live store untouched")
      // swap, partition by partition: rename live aside, rebuilt in, drop aside
      fs.mkdirs(trashDir)
      var after = 0L
      cands.foreach { case (p, _, _, _) =>
        val liveDir = new Path(live, s"$PartCol=$p")
        val built = new Path(buildDir, s"$PartCol=$p")
        val aside = new Path(trashDir, s"$PartCol=$p")
        require(fs.rename(liveDir, aside), s"compaction swap: rename $liveDir aside failed")
        // a candidate whose files held ZERO rows produces no rebuilt dir —
        // the compacted form of "listed but empty" is an empty dir, not a
        // dropped partition (listPartitions semantics survive)
        if (fs.exists(built))
          require(fs.rename(built, liveDir), s"compaction swap: rename $built in failed")
        else fs.mkdirs(liveDir)
        after += dataFiles(liveDir).size
        fs.delete(aside, true)
      }
      fs.delete(trashDir, true)
      fs.delete(buildDir, true)
      spark.catalog.refreshByPath(dir)
      CompactionStats(cands.size, cands.map(_._2).sum, after, cands.map(_._3).sum)
    }
  }
}

/** What one [[TimeseriesStorage.compactFeature]] run did: partitions
  * rewritten, data-file count before/after, bytes rewritten. A no-op run
  * (already compact) is all zeros.
  */
case class CompactionStats(partitionsCompacted: Int, filesBefore: Long,
    filesAfter: Long, bytesRewritten: Long)

/** [[TimeseriesStorage.scanStackedWithBounds]]'s result: the stacked
  * `(time, __f, value, created_time)` frame plus the `[lo, hi)` micros
  * cover of every selected row's time, derived from the partition listing
  * (None when no partitions were selected).
  */
case class StackedScan(df: org.apache.spark.sql.DataFrame,
    timeBoundsMicros: Option[(Long, Long)])

object TimeseriesStorage {
  val TimeCol = "time"
  val ValueCol = "value"
  val CreatedCol = "created_time"
  val PartCol = "partition"

  /** Compaction file-size target. 128 MiB locally and in tests would make
    * every fixture a single-file no-op; at cluster scale callers pass the
    * real target (commonly 128-512 MiB — around
    * `spark.sql.files.maxPartitionBytes` so one file ≈ one scan split).
    */
  val DefaultCompactTargetBytes: Long = 128L * 1024 * 1024
  private[storage] val CompactBuildDir = ".compact_build"
  private[storage] val CompactTrashDir = ".compact_trash"

  /** Derived partition column (reference src/qafs/backend/pandas.py:62-70).
    *
    * Partition values compare LEXICOGRAPHICALLY at scan time (the hive
    * partition column is pinned to string), which agrees with numeric
    * order only while years render at exactly 4 digits — so writes
    * outside [1, 9999] (Date; "yyyy" zero-pads short years) or
    * [1000, 9999] (Year; no padding) raise instead of landing partitions
    * that later time-bounded scans would silently mis-prune. Scan bounds
    * outside the range are clamped into it by [[partitionValue]] (their
    * rendering would be lexicographically out of order too).
    */
  def partitionExpr(scheme: PartitionScheme, time: org.apache.spark.sql.Column) = {
    val y = year(time)
    scheme match {
      case PartitionScheme.Date =>
        when(y < 1 || y > 9999, raise_error(lit(
          "Date partition scheme supports years 1-9999 (4-digit lexicographic order)")))
          .otherwise(date_format(time, "yyyy-MM-dd"))
      case PartitionScheme.Year =>
        when(y < 1000 || y > 9999, raise_error(lit(
          "Year partition scheme supports years 1000-9999 (4-digit lexicographic order)")))
          .otherwise(y.cast(StringType))
    }
  }

  /** Partition bound for a time bound, rendered in UTC. MUST agree with
    * [[partitionExpr]], which `date_format`s under the session timezone
    * (pinned to UTC by GraftSession.tune) — deriving this from the JVM
    * default zone would shift the bounds on non-UTC JVMs and silently
    * prune partitions that contain matching rows.
    *
    * Bounds whose YEAR falls outside the scheme's writable range (see
    * [[partitionExpr]]) are CLAMPED into it before rendering: out-of-range
    * years render lexicographically out of order (ISO years > 9999 gain a
    * '+' prefix that sorts before every digit; short Year-scheme years
    * lose their 4-digit width), which would prune partitions that DO
    * contain matching rows. Clamping can only over-include — no partition
    * outside the range exists (writes raise) and the row-level time filter
    * still applies.
    */
  def partitionValue(scheme: PartitionScheme, t: Timestamp): String = {
    val utc = t.toInstant.atZone(java.time.ZoneOffset.UTC)
    scheme match {
      case PartitionScheme.Date =>
        if (utc.getYear < 1) "0001-01-01"
        else if (utc.getYear > 9999) "9999-12-31"
        else utc.toLocalDate.toString
      case PartitionScheme.Year =>
        math.min(9999, math.max(1000, utc.getYear)).toString
    }
  }

  /** JSON-encode arbitrary values to strings for `serialized` features
    * (reference src/qafs/backend/pandas.py:262-263). Complex types go through
    * `to_json`; atomics are cast — the read side keeps StringType because the
    * whole point is surviving schema drift (SURVEY.md §1.2).
    */
  def serializeValue(c: org.apache.spark.sql.Column, dt: DataType): org.apache.spark.sql.Column =
    dt match {
      case _: StructType | _: MapType | _: ArrayType => to_json(c)
      case _ => c.cast(StringType)
    }
}

package graft.ts

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Time-axis operators: forward-fill, resample-to-grid, multi-series align.
  * These implement the reference's R1/R2 operators (reference
  * src/qafs/backend/pandas.py:163-172, src/qafs/timeseries.py:12-14) with a
  * partition-parallel execution shape instead of the reference's
  * single-process pandas.
  */
object Align {

  /** Driver-side memo for quantile bucket cuts. The cuts are load-balancing
    * HINTS — any monotone cut list produces identical results, the buckets
    * only decide which window partition fills which row — so reusing the
    * cuts of a previous identical read is always CORRECT; staleness (data
    * appended since) costs balance, never answers. Callers key one memo
    * per read shape (feature set + range + freq): the second and every
    * later identical read then skips the bounds+cuts aggregation job — at
    * toy scale that job is a third of the query's driver-action floor, and
    * repeated training-set reads of slowly-changing features are the
    * common production access pattern.
    */
  final class CutsMemo {
    @volatile private[graft] var cuts: Option[Seq[Long]] = None
    /** Seed cuts computed OUTSIDE the fill (e.g. fused into a bounds probe
      * that was running anyway) so even the FIRST fill pass skips its cuts
      * job. Never overwrites an existing memo.
      */
    private[graft] def seed(cs: Seq[Long]): Unit =
      if (cuts.isEmpty) cuts = Some(cs.distinct.sorted)
  }

  /** Forward-fill (LOCF) of `valueCols` ordered by `timeCol` — [[biFill]]
    * with no backward columns: the two-pass parallel prefix ("scan")
    * shape instead of a `Window.orderBy(time)` that pulls the whole
    * dataset through ONE task (correct at 60k rows, dead at 100 TB).
    * Rows tied on `timeCol` fill in no defined order among themselves.
    */
  def ffill(df: DataFrame, timeCol: String, valueCols: Seq[String],
      buckets: Int = 0, memo: Option[CutsMemo] = None): DataFrame =
    biFill(df, timeCol, None, valueCols, Nil, buckets, memo)

  /** Which observation a [[pointInTime]] join serves at a spine instant. */
  sealed trait Mode
  /** The last observation at-or-before the instant (as-of / LOCF). */
  case object Backward extends Mode
  /** The first observation at-or-after it (label lookahead). */
  case object Forward extends Mode
  /** Whichever of the two is closer in time; a tie goes backward
    * (deterministic; pandas merge_asof leaves it unspecified). */
  case object Nearest extends Mode
  /** v0 + (v1−v0)·(g−t0)/(t1−t0) between the two; exact at an
    * observation, null outside the observed span, DOUBLE out. */
  case object Interp extends Mode

  /** A regular `[from, to]` grid of `freqMicros` steps as a one-column
    * `timeCol` spine — what [[pointInTime]] resamples onto.
    */
  def grid(spark: SparkSession, from: Timestamp, to: Timestamp,
      freqMicros: Long, timeCol: String): DataFrame = {
    require(freqMicros > 0, "resample frequency must be positive")
    val lo = TimeUtil.micros(from)
    spark.range(0, (TimeUtil.micros(to) - lo) / freqMicros + 1)
      .select(timestamp_micros(lit(lo) + col("id") * lit(freqMicros)).as(timeCol))
  }

  /** Point-in-time join: each `spine` row (keys…, time, payload…) gets,
    * per value column of `data` (keys…, time, values…), the observation of
    * the SAME keys that `mode` picks around the spine instant — the
    * training-set constructor ("what was known at each label event") and,
    * on a [[grid]] spine, the resampler (the reference's spine + merge +
    * ffill + right-join, src/qafs/backend/pandas.py:163-172). Output is
    * `keys…, time, payload…, values…`. An observation AT the spine instant
    * is seen from both directions. `tolerance` (micros; pandas merge_asof's,
    * and the serving-freshness contract) nulls a match farther than the
    * bound in the chosen direction's distance — an entity that stopped
    * emitting is not served its last value forever. N unkeyed frames are
    * first outer-aligned with `alignOuter(…, doFfill = false)`.
    *
    * One union of the tagged spine and data, one fill, one projection:
    *  - empty `keys`: the quantile-bucketed prefix scan ([[biFill]], tie on
    *    the spine flag) — one shuffle of |spine| + |data| rows whatever
    *    the size, never a global-sort window (a 10M-row spine is gated in
    *    ScaleSmoke with the plan asserted bucket-partitioned);
    *  - keys: both windows partition by the keys, so parallelism comes per
    *    entity; a single hot entity degrades to its row count — salt the
    *    key upstream if one dominates.
    * Only the directions `mode` reads are filled, each carrying every
    * column's (t, v) observation struct; the projection picks per mode.
    * `memo` holds the bucket cuts of the unkeyed scan, so it takes no keys.
    */
  def pointInTime(spine: DataFrame, data: DataFrame, keys: Seq[String],
      timeCol: String, valueCols: Seq[String], mode: Mode = Backward,
      tolerance: Option[Long] = None, memo: Option[CutsMemo] = None): DataFrame = {
    require(tolerance.forall(_ >= 0), "tolerance must be >= 0")
    require(mode != Interp || tolerance.isEmpty, "Interp takes no tolerance")
    require(keys.isEmpty || memo.isEmpty, "a cuts memo serves only the unkeyed scan")
    val head = keys.map(col) :+ col(timeCol)
    val payload = spine.columns.toSeq
      .filterNot(c => c == timeCol || keys.contains(c)).map(col)
    val unioned = spine.select(head ++ payload: _*).withColumn("__spine", lit(1))
      .unionByName(data.select(head ++ valueCols.map(col): _*)
        .withColumn("__spine", lit(0)), allowMissingColumns = true)
    val fwd = if (mode == Forward) Nil else valueCols.map(c => s"__p_$c")
    val bwd = if (mode == Backward) Nil else valueCols.map(c => s"__n_$c")
    val seeded = observations(unioned, timeCol, valueCols, col("__spine") === 0,
      fwd.nonEmpty, bwd.nonEmpty)
    val filled =
      if (keys.isEmpty) biFill(seeded, timeCol, Some("__spine"), fwd, bwd, memo = memo)
      else windowFill(seeded, keys.map(col), timeCol, Some("__spine"), fwd, bwd)
    val us = unix_micros(col(timeCol))
    val tol = lit(tolerance.getOrElse(Long.MaxValue))
    val out = valueCols.map { c =>
      val p = col(s"__p_$c"); val n = col(s"__n_$c")
      val back = when(p.isNotNull && us - p.getField("t") <= tol, p.getField("v"))
      val ahead = when(n.isNotNull && n.getField("t") - us <= tol, n.getField("v"))
      (mode match {
        case Backward => back
        case Forward => ahead
        case Nearest =>
          when(p.isNull || (n.isNotNull &&
            n.getField("t") - us < us - p.getField("t")), ahead).otherwise(back)
        case Interp => interpolate(p, n, us)
      }).as(c)
    }
    filled.where(col("__spine") === 1).select(head ++ payload ++ out: _*)
  }

  /** `df` with each value column replaced by its (t, v) observation struct
    * — null where `observed` is false or the value is null — as a `__p_`
    * copy for the forward carry and/or a `__n_` copy for the backward one.
    * One select, never a per-column `withColumn` fold: a fold nests one
    * Project per column, and at export width (1000+ features) the
    * analyzer recurses that plan into StackOverflow.
    */
  private def observations(df: DataFrame, timeCol: String, valueCols: Seq[String],
      observed: Column, fwd: Boolean, bwd: Boolean): DataFrame = {
    val us = unix_micros(col(timeCol))
    df.select(df.columns.toSeq.filterNot(valueCols.contains).map(col) ++
      valueCols.flatMap { c =>
        val obs = when(observed && col(c).isNotNull, struct(us.as("t"), col(c).as("v")))
        (if (fwd) Seq(obs.as(s"__p_$c")) else Nil) ++ (if (bwd) Seq(obs.as(s"__n_$c")) else Nil)
      }: _*)
  }

  /** Linear interpolation at `g` between the previous observation struct
    * `p` = (t0, v0) and the next `n` = (t1, v1): exact when both are the
    * same observation, null when either side is missing (no extrapolation).
    */
  private def interpolate(p: Column, n: Column, g: Column): Column = {
    val t0 = p.getField("t"); val v0 = p.getField("v").cast("double")
    val t1 = n.getField("t"); val v1 = n.getField("v").cast("double")
    when(p.isNull || n.isNull, lit(null).cast("double"))
      .when(t1 === t0, v0)
      .otherwise(v0 + (v1 - v0) * ((g - t0).cast("double") / (t1 - t0).cast("double")))
  }

  /** Bucket boundaries from approximate time QUANTILES, not uniform range
    * splits: under event-time skew (90% of rows in one hour of a 2-year
    * span) uniform buckets funnel the hot mass through ONE window
    * partition. Accuracy 1000 is plenty: the cuts are load-balancing
    * hints, not semantics (any monotone bucketing is correct). A memo hit
    * skips this job entirely — this is the ONLY driver action left in the
    * fill machinery. Returns None on empty input with no memo.
    */
  private def bucketCuts(cached: DataFrame, us: Column, nb: Int,
      memo: Option[CutsMemo]): Option[Seq[Long]] =
    memo.flatMap(_.cuts).orElse {
      val probs = (1 until nb).map(_.toDouble / nb)
      val r = cached.agg(min(us).as("lo"),
        percentile_approx(us, array(probs.map(lit): _*), lit(1000)).as("cuts")).head()
      if (r.isNullAt(0)) None
      else {
        val cs = r.getSeq[Long](1).distinct.sorted
        memo.foreach(_.cuts = Some(cs))
        Some(cs)
      }
    }

  /** Monotone codegen'd bucket id: #cuts <= t (equal times → equal
    * bucket). A null time has no defined fill order — it fails LOUDLY
    * in-plan (there is no driver materialization left to check it on).
    */
  private def bucketCol(us: Column, cuts: Seq[Long], timeCol: String): Column = {
    val bucketOf = cuts.zipWithIndex.reverse.foldLeft(lit(cuts.length.toLong): Column) {
      case (acc, (c, i)) => when(us < lit(c), lit(i.toLong)).otherwise(acc)
    }
    when(us.isNull, raise_error(lit(
      s"ffill: rows with null '$timeCol' cannot be ordered — filter them upstream"))
      .cast("bigint"))
      .otherwise(bucketOf)
  }

  /** One-pass BIDIRECTIONAL bucketed fill: `fwdCols` forward-fill (LOCF)
    * and `bwdCols` backward-fill (NOCB, reading direction reversed) — the
    * two-pass parallel-prefix shape, ENTIRELY in one Catalyst plan:
    *
    *  1. persist the input (MEMORY_AND_DISK — released by CacheScope), so
    *     the carries and fill subtrees evaluate the upstream ONCE;
    *  2. QUANTILE-bucket rows by time ([[bucketCuts]] — a driver action
    *     only on a memo miss); each bucket's carry-outs for both directions
    *     are ONE plain aggregation — `max`/`min(struct(order…, c))` over
    *     non-null rows — NOT a window;
    *  3. carry-IN of bucket b = last non-null carry-out over buckets < b
    *     (first over buckets > b backward): a prefix window over the
    *     O(buckets)-row aggregate (single partition of ≈#parallelism rows —
    *     trivially small), BROADCAST back and coalesced under the
    *     intra-bucket window fill ([[windowFill]]: two window sorts over
    *     ONE bucket-key exchange).
    *
    * In-plan, the prefix scan costs ZERO extra driver actions: on a memo
    * hit the whole fill is ONE action (the consumer's), which at the
    * ~0.2-0.3 s-per-action local floor is the difference between a 0.3 s
    * and a 0.9 s feature-store read, and on a real cluster removes two
    * plan→schedule→collect round-trips per read. Cost at any data size:
    * one upstream evaluation + one bucket-key shuffle + one broadcast of
    * #buckets rows. Each step is one select, so the plan depth does not
    * grow with the column count.
    *
    * `tie` (the spine flag) breaks equal-time order: ascending on the
    * forward axis (data rows sort before spine rows, so a spine row sees
    * an observation AT its instant) and DESCENDING on the backward one
    * (spine rows sort before data rows, so the same observation is
    * visible from the other side too). With `tie = None` the time axis
    * must be unique (the aligned-union case).
    */
  private def biFill(df: DataFrame, timeCol: String, tie: Option[String],
      fwdCols: Seq[String], bwdCols: Seq[String], buckets: Int = 0,
      memo: Option[CutsMemo] = None): DataFrame = {
    if (fwdCols.isEmpty && bwdCols.isEmpty) return df
    val spark = df.sparkSession
    val nb = if (buckets > 0) buckets else spark.sparkContext.defaultParallelism
    // tracked persist: released in bulk by graft.CacheScope.release() (the
    // ContextCleaner otherwise reclaims it only once the plan is unreachable)
    val cached = graft.CacheScope.persist(df)
    val us = unix_micros(col(timeCol))
    val cuts = bucketCuts(cached, us, nb, memo) match {
      case None => cached.unpersist(false); return df // empty input
      case Some(cs) => cs
    }
    val withB = cached.withColumn("__b", bucketCol(us, cuts, timeCol))
    // both directions' carry-outs in ONE aggregate: fwd = value on the
    // LAST (time, tie asc) non-null row = max struct; bwd = value on the
    // FIRST (time, tie desc) non-null row = min struct over (time, -tie)
    val aggs =
      fwdCols.map(c => max(when(col(c).isNotNull, struct(
        ((col(timeCol) +: tie.map(col).toSeq) :+ col(c).as("__v")): _*))).as(s"__s_$c")) ++
      bwdCols.map(c => min(when(col(c).isNotNull, struct(
        (col(timeCol) +: tie.map(t => (-col(t)).as("__td")).toSeq :+
          col(c).as("__v")): _*))).as(s"__e_$c"))
    val carries = withB.groupBy(col("__b")).agg(aggs.head, aggs.tail: _*)
    val wPrev = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.orderBy(col("__b"))
      .rowsBetween(1, Window.unboundedFollowing)
    val carryIn = carries.select(
      col("__b") +:
        (fwdCols.map(c => last(col(s"__s_$c"), ignoreNulls = true).over(wPrev)
          .getField("__v").as(s"__carry_$c")) ++
         bwdCols.map(c => first(col(s"__e_$c"), ignoreNulls = true).over(wNext)
          .getField("__v").as(s"__cn_$c"))): _*)
    val filled = windowFill(withB, Seq(col("__b")), timeCol, tie, fwdCols, bwdCols)
    val joined = filled.join(broadcast(carryIn), Seq("__b"), "left")
    val (fw, bw) = (fwdCols.toSet, bwdCols.toSet)
    joined.select(filled.columns.toSeq.filter(_ != "__b").map { c =>
      if (fw(c)) coalesce(col(c), col(s"__carry_$c")).as(c)
      else if (bw(c)) coalesce(col(c), col(s"__cn_$c")).as(c)
      else col(c)
    }: _*)
  }

  /** In-place window fill of `fwdCols` (last non-null up to the row) and
    * `bwdCols` (first non-null from the row on), both partitioned `by` and
    * ordered by time then `tie` (ascending forward, descending backward —
    * see [[biFill]]). One select for every column.
    */
  private def windowFill(df: DataFrame, by: Seq[Column], timeCol: String,
      tie: Option[String], fwdCols: Seq[String], bwdCols: Seq[String]): DataFrame = {
    val wF = Window.partitionBy(by: _*).orderBy((col(timeCol) +: tie.map(col).toSeq): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = Window.partitionBy(by: _*)
      .orderBy((col(timeCol) +: tie.map(t => col(t).desc).toSeq): _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val (fw, bw) = (fwdCols.toSet, bwdCols.toSet)
    df.select(df.columns.toSeq.map { c =>
      if (fw(c)) last(col(c), ignoreNulls = true).over(wF).as(c)
      else if (bw(c)) first(col(c), ignoreNulls = true).over(wB).as(c)
      else col(c)
    }: _*)
  }

  /** Above this many frames (with one common value dtype), [[alignOuter]]
    * switches from the full-outer join chain to the stacked-pivot shape —
    * see the scale note inside.
    */
  val WideAlignThreshold = 16

  /** Outer-align N named series on the time axis then forward-fill each —
    * the reference's `pd.concat(..., join="outer", axis=1).ffill()`
    * (src/qafs/timeseries.py:12-14). Inputs: (columnName, df(time, value)).
    *
    * Scale note (feature-store width): the natural spelling — a reduce of
    * full-outer joins — is a LEFT-LINEAR chain: n−1 shuffle joins and an
    * O(n)-deep plan whose Catalyst analysis cost grows superlinearly in n.
    * Fine at the 2–8 features queries ask for; wrong at the 50–200 a
    * training-set export loads. Past [[WideAlignThreshold]] frames (when
    * every frame's value dtype agrees — mixed dtypes can't stack) the same
    * result is computed as stack-then-pivot: union all frames to
    * (time, feature, value) rows and aggregate once by time with one
    * conditional-max column per feature — ONE shuffle and a flat n-wide
    * plan instead of n chained exchanges. Equivalent because each input
    * frame is time-unique (latest-version dedup upstream guarantees one
    * row per time per feature — the conditional max picks THE value, never
    * a winner among several).
    */
  def alignOuter(timeCol: String, frames: Seq[(String, DataFrame)],
      doFfill: Boolean = true, memo: Option[CutsMemo] = None): DataFrame = {
    require(frames.nonEmpty, "alignOuter needs at least one frame")
    val renamed = frames.map { case (n, d) => d.select(col(timeCol), col("value").as(n)) }
    val oneDtype = frames.map(_._2.schema("value").dataType).distinct.size == 1
    val joined =
      if (frames.size > WideAlignThreshold && oneDtype) {
        // N-ary union analyzed once (GraftSqlBridge): a pairwise reduce
        // re-analyzes every intermediate Dataset's whole subtree — O(n²)
        // plan nodes, driver-side ~minutes at export width. Pivot via a
        // per-time entry map, not one max(when) agg per feature — the
        // latter's agg buffer is `width` nullable slots per time key
        // (see [[alignOuterRaw]]'s shape note); inputs here are
        // time-unique per feature (latest-version dedup upstream), which
        // map_from_entries' duplicate-key EXCEPTION policy enforces
        // loudly rather than silently picking a winner
        val stacked = org.apache.spark.sql.GraftSqlBridge.unionAll(
          frames.map { case (n, d) =>
            d.select(col(timeCol), lit(n).as("__f"), col("value"))
          })
        val pivoted = stacked.groupBy(col(timeCol))
          .agg(map_from_entries(collect_list(
            struct(col("__f"), col("value")))).as("__m"))
        pivoted.select(col(timeCol) +: frames.map {
          case (n, _) => col("__m").getItem(n).as(n) }: _*)
      } else renamed.reduce((a, b) => a.join(b, Seq(timeCol), "full_outer"))
    // ffill exists to fill the holes the outer join punches; a single frame
    // has none, so skip the bucketed-window machinery (2 driver jobs) there.
    // (Divergence note: stored NULL values in a lone series are then not
    // LOCF'd — the reference's concat+ffill would; no test or doc of the
    // reference exercises that edge.)
    // No presentation sort here: a global orderBy is a full-data sort the
    // caller may not need — downstream consumers order explicitly.
    if (doFfill && frames.size > 1) ffill(joined, timeCol, frames.map(_._1), memo = memo)
    else joined
  }

  /** Wide-export FUSED align over RAW storage rows — [[alignOuter]]'s
    * stack-pivot shape with per-feature latest-version dedup fused INTO
    * the pivot aggregation. Inputs are raw `(time, value, created_time)`
    * frames (multiple versions per time allowed); each output cell is
    * `max(struct(value IS NOT NULL, created_time, value))` over that
    * feature's rows at that time — exactly
    * [[graft.storage.TimeseriesStorage.dedupLatest]]'s winner — computed
    * as a conditional aggregate of the ONE stacked groupBy(time).
    *
    * Why it exists: the pre-fused wide path stacked ALREADY-DEDUPED
    * frames, so a 100-feature training-set export still planned 100
    * per-feature dedup shuffles before its "one-shuffle" pivot (the
    * ScaleSmoke wide fan-in entry's exchange-count gate caught the gap).
    *
    * Pivot shape (r12): NOT one `max(when(__f===i, ...))` agg column per
    * feature — that spells a 2M-key hash aggregate whose buffer is
    * `width` nullable structs per time key (~2.4 KB/key at width 100:
    * GB-scale agg maps, sort-fallback spills, and ~50 s per execution on
    * the 20M smoke, paid EVERY run). Instead two narrow-buffer stages:
    * (1) the dedup reduction keyed (time, feature) — buffer is ONE
    * struct, partial-aggregable map-side, collapsing the version
    * multiplicity right at the scans; (2) the pivot keyed time collects
    * the surviving (feature, value) entries into a map and projects one
    * column per feature — buffer is the per-time entry list, sized by
    * how many features observe that instant, never by export width.
    * Exchange count stays width-independent (two narrow exchanges plus
    * the ffill's bucket exchange); duplicate map keys are impossible
    * after stage 1, which `map_from_entries`'s EXCEPTION dedup policy
    * turns into a loud guard rather than a silent winner.
    */
  def alignOuterRaw(timeCol: String, valueCol: String, createdCol: String,
      frames: Seq[(String, DataFrame)], doFfill: Boolean = true,
      memo: Option[CutsMemo] = None): DataFrame = {
    require(frames.nonEmpty, "alignOuterRaw needs at least one frame")
    // N-ary union analyzed once — see [[alignOuter]]'s wide path
    val stacked = org.apache.spark.sql.GraftSqlBridge.unionAll(
      frames.map { case (n, d) =>
        d.select(col(timeCol), lit(n).as("__f"), col(valueCol), col(createdCol))
      })
    alignOuterStacked(timeCol, valueCol, createdCol, stacked,
      frames.map(_._1), doFfill, memo)
  }

  /** [[alignOuterRaw]] over a PRE-STACKED `(time, __f, value,
    * created_time)` frame — the entry point for
    * [[graft.storage.TimeseriesStorage.scanStackedWithBounds]]'s one-scan wide
    * export, where the stack comes from a single multi-dir read instead
    * of a per-feature union. `__f` values must be the entries of `names`.
    */
  def alignOuterStacked(timeCol: String, valueCol: String, createdCol: String,
      stacked: DataFrame, names: Seq[String], doFfill: Boolean = true,
      memo: Option[CutsMemo] = None): DataFrame = {
    require(names.nonEmpty, "alignOuterStacked needs at least one name")
    val winners = stacked.groupBy(col(timeCol), col("__f"))
      .agg(max(struct(col(valueCol).isNotNull.as("__nn"), col(createdCol),
        col(valueCol))).as("__w"))
    val pivoted = winners.groupBy(col(timeCol))
      .agg(map_from_entries(collect_list(
        struct(col("__f"), col("__w").getField(valueCol).as("__v")))).as("__m"))
    val named = pivoted.select(col(timeCol) +: names.map {
      n => col("__m").getItem(n).as(n) }: _*)
    if (doFfill && names.size > 1)
      ffill(named, timeCol, names, memo = memo)
    else named
  }

  /** N-feature outer align with LINEAR INTERPOLATION — [[alignOuter]]'s
    * interp twin: frames outer-align on the union time axis, then each
    * feature's holes fill as v0 + (v1−v0)·(t−t0)/(t1−t0) between that
    * feature's OWN neighboring observations; exact at its observation
    * instants, null before its first / after its last (no extrapolation —
    * that is what the ffill flavor holds for). All feature columns come
    * back DOUBLE.
    *
    * Scale shape: the [[alignOuter]] join (or wide stack-pivot), then ONE
    * fused bidirectional quantile-bucketed prefix scan over the aligned
    * frame ([[biFill]]) — forward carrying each column's last (t, v)
    * observation struct, backward carrying the next; one cache, one
    * carries aggregate, one bucket exchange. No per-column branch, no
    * grid join, no global-sort window at any size.
    */
  def alignInterp(timeCol: String, frames: Seq[(String, DataFrame)],
      memo: Option[CutsMemo] = None): DataFrame = {
    require(frames.nonEmpty, "alignInterp needs at least one frame")
    val names = frames.map(_._1)
    val seeded = observations(alignOuter(timeCol, frames, doFfill = false),
      timeCol, names, lit(true), fwd = true, bwd = true)
    // union times are unique (the outer join / pivot keys on the instant),
    // so the axis alone is a total order — no tie-break column needed
    val both = biFill(seeded, timeCol, None,
      names.map(c => s"__p_$c"), names.map(c => s"__n_$c"), memo = memo)
    both.select(col(timeCol) +: names.map(c =>
      interpolate(col(s"__p_$c"), col(s"__n_$c"), unix_micros(col(timeCol))).as(c)): _*)
  }
}

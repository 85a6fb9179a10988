package graft.ts

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Trailing-window per-entity aggregates at observation times — the
  * sliding-window feature-engineering staple ("orders in the last 7
  * days", "spend in the last hour") every feature platform materializes.
  *
  * Each input row gains the aggregate of its OWN entity's rows with
  * `time ∈ [t - window, t]` (inclusive both ends — the pandas
  * `rolling("7d")` convention). Implemented as RANGE-framed window
  * functions over `unix_micros(time)`, so the frame is defined by TIME
  * DISTANCE, not row counts: entities with bursty histories get exactly
  * the events inside the horizon.
  *
  * Reproducibility: `sum` is restricted to integral columns (a
  * double-sum's value depends on the frame evaluation order, which
  * differs between engines and between runs; integerize first — cents,
  * micros, counts). `min`/`max`/`count` are order-free and unrestricted.
  *
  * Scale shape: one hash shuffle on the entity key, per-entity sort
  * inside the window — a hot entity costs its own history length, the
  * natural unit. There is no cross-entity state and no global sort.
  * Serving these at arbitrary spine instants is NOT a plain as-of join
  * (events age OUT of the horizon between observations — the value at a
  * spine instant t can be smaller than at the last observation before
  * t); materialize on a grid via `resample` first if spine-time serving
  * is needed.
  */
object Rolling {

  case class Agg(col: String, fn: String) // fn: sum | count | min | max

  /** Output columns: all of `df`, then `{fn}_{col}_w` per agg
    * (`count_rows_w` for count over "*").
    *
    * Frame convention (`closed`, pandas naming): `"both"` (default) is
    * the inclusive `[t − window, t]` pandas `rolling("7d")` frame;
    * `"right"` is the half-open `(t − window, t]` frame. NOTE
    * [[trailingAtSpine]] is ALWAYS half-open (the differenceable form) —
    * the two "trailing" APIs agree at observation instants ONLY under
    * `closed = "right"`: with the default an event sitting exactly at
    * `t − window` is inside this frame but outside the spine one, a
    * silent offline/serving skew if the conventions are mixed.
    */
  def trailingAgg(df: DataFrame, entityCol: String, timeCol: String,
      window: String, aggs: Seq[Agg], closed: String = "both"): DataFrame = {
    require(aggs.nonEmpty, "need at least one aggregate")
    val micros = TimeUtil.parseMicros(window)
    require(micros > 0, s"trailingAgg: window must be positive, got '$window'")
    val lo = closed match {
      case "both"  => -micros      // [t − window, t]
      case "right" => -micros + 1L // (t − window, t] — trailingAtSpine's frame
      case other => throw new IllegalArgumentException(
        s"trailingAgg: closed must be 'both' or 'right', got '$other'")
    }
    val w = Window.partitionBy(col(entityCol))
      .orderBy(unix_micros(col(timeCol)))
      .rangeBetween(lo, 0)
    val intTypes = Set("ByteType", "ShortType", "IntegerType", "LongType")
    val outs = aggs.map { a =>
      val c = a.fn match {
        case "count" => count(if (a.col == "*") lit(1) else col(a.col))
        case "sum" =>
          val dt = df.schema(a.col).dataType.toString
          require(intTypes.contains(dt) || dt.startsWith("DecimalType"),
            s"trailingAgg: sum over $dt is evaluation-order-dependent; " +
              "integerize first (cents/micros/counts)")
          sum(col(a.col))
        case "min" => min(col(a.col))
        case "max" => max(col(a.col))
        case other => throw new IllegalArgumentException(
          s"non-windowable fn: $other")
      }
      c.over(w).as(outName(a))
    }
    df.select(df.columns.map(col) ++ outs: _*)
  }

  private def outName(a: Agg) =
    if (a.col == "*") s"${a.fn}_rows_w"
    else s"${a.fn}_${a.col.replaceAll("[^a-zA-Z0-9_]", "_")}_w"

  /** Trailing-window aggregates at ARBITRARY spine instants — the
    * point-in-time-correct windowed feature ("user's 7-day order count
    * as of each training example's timestamp"). A plain as-of from the
    * last observation is WRONG between observations: events age OUT of
    * the horizon, so the true value at a spine instant t can be SMALLER
    * than at the last observation before t. Exact construction: each
    * windowed count/sum at t is the difference of the per-entity PREFIX
    * aggregate F at t and at t−window, both served by the same backward
    * as-of machinery ([[Align.pointInTime]]). Window semantics are
    * half-open `(t−window, t]` — the differenceable form (an
    * observation exactly at t−window belongs to F(t−window) and
    * cancels). NOTE this differs from [[trailingAgg]]'s DEFAULT
    * inclusive-both-ends pandas frame: at a spine instant equal to an
    * observation time the two agree only with `trailingAgg(closed =
    * "right")` — pick one convention per pipeline or the offline and
    * spine-served values skew whenever an event sits exactly on the
    * horizon edge.
    *
    * Only `count` and integral `sum` are supported: they difference;
    * min/max do not (and a double sum would be order-dependent —
    * [[trailingAgg]]'s rule). Observations are pre-aggregated per
    * (entity, instant) first, so tied instants carry one deterministic
    * prefix row. Cost: one per-entity prefix pass over observations +
    * two as-of joins — three entity-keyed shuffles, no per-spine-row
    * explode, no range join.
    */
  def trailingAtSpine(spine: DataFrame, obs: DataFrame, entityCol: String,
      timeCol: String, window: String, aggs: Seq[Agg]): DataFrame = {
    require(aggs.nonEmpty, "need at least one aggregate")
    val micros = TimeUtil.parseMicros(window)
    require(micros > 0, s"trailingAtSpine: window must be positive, got '$window'")
    val intTypes = Set("ByteType", "ShortType", "IntegerType", "LongType")
    val perInstant = aggs.zipWithIndex.map { case (a, i) =>
      (a.fn match {
        case "count" => count(if (a.col == "*") lit(1) else col(a.col))
        case "sum" =>
          val dt = obs.schema(a.col).dataType.toString
          require(intTypes.contains(dt) || dt.startsWith("DecimalType"),
            s"trailingAtSpine: sum over $dt is evaluation-order-dependent; " +
              "integerize first (cents/micros/counts)")
          sum(col(a.col))
        case other => throw new IllegalArgumentException(
          s"trailingAtSpine supports count|sum (differenceable), got: $other")
      }).as(s"__v$i")
    }
    val w = Window.partitionBy(col(entityCol)).orderBy(col(timeCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // persisted: both as-of joins below consume `cum` — without the
    // persist the observation aggregation + prefix window run twice
    // (CacheScope convention; callers release between batches)
    val cum = graft.CacheScope.persist(
      obs.groupBy(col(entityCol), col(timeCol))
        .agg(perInstant.head, perInstant.tail: _*)
        .select(col(entityCol) +: col(timeCol) +:
          aggs.indices.map(i => sum(col(s"__v$i")).over(w).as(s"__F$i")): _*))

    val fCols = aggs.indices.map(i => s"__F$i")
    val at = Align.pointInTime(spine, cum, Seq(entityCol), timeCol, fCols)
    val renamedA = aggs.indices.foldLeft(at) { (d, i) =>
      d.withColumnRenamed(s"__F$i", s"__Fa$i")
    }
    val shifted = renamedA
      .withColumn("__t_orig", col(timeCol))
      .withColumn(timeCol,
        timestamp_micros(unix_micros(col(timeCol)) - micros))
    val atPrev = Align.pointInTime(shifted, cum, Seq(entityCol), timeCol, fCols)
    val withOuts = aggs.zipWithIndex.foldLeft(atPrev) { case (d, (a, i)) =>
      d.withColumn(outName(a),
        coalesce(col(s"__Fa$i"), lit(0L)) - coalesce(col(s"__F$i"), lit(0L)))
    }
    withOuts
      .withColumn(timeCol, col("__t_orig"))
      .drop("__t_orig")
      .drop(aggs.indices.flatMap(i => Seq(s"__Fa$i", s"__F$i")): _*)
  }

  /** Exponentially-DECAYED trailing sum at arbitrary spine instants
    * ("recency-weighted spend"), exact and engine-reproducible: the
    * contribution of an observation aged `a` halves once per elapsed
    * `halflife`, at BUCKET granularity — observations in age bucket
    * j (age ∈ [jH, (j+1)H)) contribute `floor(bucketSum / 2^j)`, and
    * buckets older than `halfLives` contribute nothing. Integer halving
    * instead of `exp(-λa)` is what makes the result bit-identical
    * across engines (a float decay sum is accumulation-order-dependent).
    *
    * Scale shape: bucket j's sum at spine instant t is
    * `F(t−jH) − F(t−(j+1)H)` of the per-entity PREFIX aggregate F —
    * so the whole feature is k+1 as-of lookups on ONE exploded spine
    * pass (explode × (k+1), one as-of join, a (k+1)-row window per
    * spine row), never a spine×observations pairs join. Values must be
    * NON-NEGATIVE integers (enforced against the frame's type; bucket
    * sums must stay < 2^52 for the exact floored division).
    */
  def decayedAtSpine(spine: DataFrame, obs: DataFrame, entityCol: String,
      timeCol: String, valueCol: String, halflife: String,
      halfLives: Int): DataFrame = {
    val h = TimeUtil.parseMicros(halflife)
    require(h > 0, s"decayedAtSpine: halflife must be positive, got '$halflife'")
    require(halfLives >= 1 && halfLives <= 52,
      s"decayedAtSpine: halfLives must be in [1, 52], got $halfLives")
    val intTypes = Set("ByteType", "ShortType", "IntegerType", "LongType")
    require(intTypes.contains(obs.schema(valueCol).dataType.toString),
      s"decayedAtSpine: $valueCol must be an integral type (quantize first)")
    require(!spine.columns.exists(c => c.startsWith("__")),
      "decayedAtSpine: spine columns must not start with __")
    val k = halfLives
    val w = Window.partitionBy(col(entityCol)).orderBy(col(timeCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = graft.CacheScope.persist(
      obs.groupBy(col(entityCol), col(timeCol))
        .agg(sum(col(valueCol)).as("__v"))
        .select(col(entityCol), col(timeCol), sum(col("__v")).over(w).as("__F")))

    val spineCols = spine.columns.toSeq
    val exploded = spine
      .withColumn("__t_orig", col(timeCol))
      .withColumn("__j", explode(sequence(lit(0), lit(k))))
      .withColumn(timeCol,
        timestamp_micros(unix_micros(col(timeCol)) - col("__j") * h))
    val at = Align.pointInTime(exploded, cum, Seq(entityCol), timeCol,
      Seq("__F"))
    // bucket j's decayed contribution: floor((F_j - F_{j+1}) / 2^j),
    // F monotone per entity so the difference is >= 0 for non-negative
    // values; the j=k row exists only to close bucket k-1
    val perSpine = Window
      .partitionBy((spineCols.filterNot(_ == timeCol).map(col) :+
        col("__t_orig")): _*)
      .orderBy(col("__j"))
    at.withColumn("__Fn", lead(col("__F"), 1).over(perSpine))
      .where(col("__j") < k)
      .withColumn("__c", floor(
        (coalesce(col("__F"), lit(0L)) - coalesce(col("__Fn"), lit(0L)))
          .cast("double") / pow(lit(2.0), col("__j"))).cast("bigint"))
      .groupBy((spineCols.filterNot(_ == timeCol).map(col) :+
        col("__t_orig").as(timeCol)): _*)
      .agg(sum(col("__c")).cast("bigint").as(s"decayed_${valueCol}"))
      .select((spineCols.map(col) :+ col(s"decayed_${valueCol}")): _*)
  }

  /** Per-entity last-N event sequence (sequence-model training input:
    * "the user's most recent N actions, oldest first"): one row per
    * entity with the total observation count and the last `n` values of
    * `attrCol` in (time, tieCols...) order joined by `sep`.
    *
    * Ordering must be total (supply tiebreaks) or the sequence string is
    * nondeterministic. One hash aggregation on the entity; a hot
    * entity's history collects on one task, which is the natural unit —
    * bound it upstream if single entities exceed task memory (the
    * sequence semantics itself is last-N, so a time-bounded pre-filter
    * loses nothing once the filter window covers N observations).
    */
  def lastNSequence(df: DataFrame, entityCol: String, timeCol: String,
      attrCol: String, n: Int, tieCols: Seq[String] = Nil,
      sep: String = ">"): DataFrame = {
    require(n > 0, "n must be positive")
    val ordered = struct((col(timeCol) +: tieCols.map(col)) :+ col(attrCol): _*)
    val h = df.groupBy(col(entityCol))
      .agg(sort_array(collect_list(ordered)).as("__h"))
    val lastN = when(size(col("__h")) > n, slice(col("__h"), -n, n))
      .otherwise(col("__h"))
    h.select(col(entityCol),
      size(col("__h")).cast("bigint").as("n_events"),
      // null attrs render as EMPTY segments (concat_ws would silently
      // drop them, making seq length disagree with the consumed slots)
      concat_ws(sep,
        transform(lastN, x => coalesce(x.getField(attrCol), lit(""))))
        .as("seq"))
  }
}

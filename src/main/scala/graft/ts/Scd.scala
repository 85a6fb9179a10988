package graft.ts

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Change-capture / SCD-type-2 materialization: turn a per-entity event
  * stream of attribute observations into validity intervals
  * `[valid_from, valid_to)` — one row per *change*, consecutive repeats of
  * the same attribute tuple collapsed into the run's first observation.
  *
  * This is the dimension-history shape a training pipeline joins against
  * point-in-time (the as-of family in [[Align]] consumes raw observations;
  * an SCD2 table is the compacted equivalent: |changes| rows instead of
  * |observations|, with the join predicate `valid_from <= t < valid_to`).
  * The reference keeps full observation history and replays merge_asof
  * (src/qafs/backend/pandas.py:163-172); materializing intervals is the
  * warehouse-idiomatic compaction of exactly that semantics.
  *
  * Scale shape: both window passes partition BY ENTITY — there is no
  * global sort and no single-partition window anywhere; cost is one hash
  * shuffle on the entity key reused by both stages (Catalyst plans the lag
  * and lead windows over the same partitioning without a second exchange).
  * A hot entity costs its own row count, which for per-entity event
  * streams is bounded by that entity's history — the natural unit.
  */
object Scd {

  /** Collapse `df` (one row per observation) into SCD2 intervals per
    * `entityCol`, tracking `attrCols` for changes.
    *
    * Ordering within an entity is by `timeCol`, then `tieCols` (supply
    * enough of a tiebreak to make the order total — with equal timestamps
    * and no tiebreak, which observation "wins" the instant would be
    * nondeterministic, and a nondeterministic dimension table is a
    * nondeterministic training set).
    *
    * Output: entity, attrCols..., `valid_from`, `valid_to` (null for the
    * currently-open interval). An interval opens at the first observation
    * of a run of equal attr tuples and closes at the next run's first
    * observation time. Null attribute values are treated as values (null →
    * null is "no change"), matching SQL `IS NOT DISTINCT FROM`.
    */
  def scdIntervals(df: DataFrame, entityCol: String, timeCol: String,
      attrCols: Seq[String], tieCols: Seq[String] = Nil): DataFrame = {
    require(attrCols.nonEmpty, "need at least one tracked attribute column")
    val order = (col(timeCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(col(entityCol)).orderBy(order: _*)

    // change flag: any tracked attr differs from the previous observation
    // of the SAME entity. struct() comparison gives tuple equality with
    // null-safe per-field semantics via the <=> on the struct.
    val attrs = struct(attrCols.map(col): _*)
    val isChange = !(attrs <=> lag(attrs, 1).over(w)) ||
      row_number().over(w) === 1

    val changes = df
      .withColumn("__chg", isChange)
      .where(col("__chg"))
      .drop("__chg")

    // valid_to = the next change's valid_from, over the SAME entity
    // partitioning (no extra shuffle: same keys, same order)
    val w2 = Window.partitionBy(col(entityCol))
      .orderBy((col(timeCol) +: tieCols.map(col)).map(_.asc): _*)
    changes
      .withColumn("valid_from", col(timeCol))
      .withColumn("valid_to", lead(col(timeCol), 1).over(w2))
      .select((entityCol +: attrCols).map(col) :+ col("valid_from") :+ col("valid_to"): _*)
  }

  /** Point-in-time lookup against an SCD2 table: each spine row
    * (entity, t, payload...) receives the attribute tuple valid at its
    * instant — the interval with the latest `valid_from <= t`. Because
    * intervals of one entity abut (each closes where the next opens),
    * this IS a per-entity backward as-of join on `valid_from`, so it
    * rides [[Align.pointInTime]]'s keyed union+window shape: one hash
    * shuffle on the entity key, no interval explode, no range join.
    *
    * Empty intervals (`valid_to == valid_from`, produced by two changes
    * at the same instant) never serve — they are closed before they
    * open — so they are dropped first, which also makes the lookup
    * deterministic at tied instants: the tie's LAST change (by the SCD2
    * build's tiebreak) owns the instant. Spine rows before an entity's
    * first interval get nulls.
    *
    * The attribute tuple carries through the as-of as ONE struct column,
    * never per-column: `pointInTime`'s per-column ignoreNulls carry
    * would skip an interval whose attribute is legitimately NULL (null
    * is a value in SCD2 — a spine row inside a null interval must see
    * null, not the previous interval's value) and could stitch a mixed
    * tuple from different intervals when several attrs are tracked. The
    * struct itself is non-null on every interval row, so the carry is
    * interval-atomic.
    */
  def scdAsOf(spine: DataFrame, scd: DataFrame, entityCol: String,
      timeCol: String, attrCols: Seq[String]): DataFrame = {
    val clash = attrCols.filter(spine.columns.contains)
    require(clash.isEmpty,
      s"scdAsOf: spine columns collide with tracked attrs: ${clash.mkString(", ")} " +
        "(the as-of would serve the spine's own values); rename the spine columns")
    require(!spine.columns.contains("__scd_attrs"),
      "column name __scd_attrs is reserved by scdAsOf")
    val live = scd.where(col("valid_to").isNull || col("valid_to") > col("valid_from"))
      .select(col(entityCol), col("valid_from").as(timeCol),
        struct(attrCols.map(col): _*).as("__scd_attrs"))
    val joined = Align.pointInTime(spine, live,
      Seq(entityCol), timeCol, Seq("__scd_attrs"))
    attrCols.foldLeft(joined) { (d, a) =>
      d.withColumn(a, col(s"__scd_attrs.$a"))
    }.drop("__scd_attrs")
  }

  // ---- persisted SCD2 store (build / update / load / compact) -------------
  //
  // The dimension-history MERGE every warehouse runs nightly, as a member
  // of the repo's persisted-store family. Layout:
  //   {path}/meta                    one row: column names
  //   {path}/intervals/batch=<tok>   interval rows + a numeric `seq`
  // An interval row is addressed by (entity, valid_from); a later batch
  // SHADOWS an earlier row at the same address (latest-wins on seq) —
  // that is how an update CLOSES a previously-open interval without
  // rewriting the old batch. Update cost ∝ touched entities + batch:
  // only the LAST stored interval of entities present in the batch is
  // read back (semi-join prune before the latest-wins aggregate — the
  // cluster-store lesson), closed history is never re-emitted.
  //
  // Arrival contract: observations append STRICTLY AFTER the entity's
  // last stored OBSERVATION (tracked as `last_obs` on the open interval
  // row — the open interval's valid_from is only the last CHANGE time;
  // discarded repeats after it are real observations the one-shot
  // semantics orders against, so a batch row at or before last_obs
  // would silently diverge from a rebuild). Violations REFUSE loudly;
  // rebuild from raw history is the correct tool for late data.
  // Replaying a batch token reuses the token's ORIGINAL seq AND
  // recomputes against the store state AS OF that seq (rows with
  // seq < token's seq), so a replay of any token — latest or not —
  // reproduces the token's original output byte-for-byte: the arrival
  // guard sees exactly the state it passed against the first time, and
  // newer batches' higher-seq shadowing rows still win the latest-wins
  // resolve. The token dir is only touched by the FINAL overwrite
  // write — a guard failure (or any earlier error) leaves the store
  // exactly as it was. Single-writer appends, like every store in the
  // family.

  private def fsOf(spark: org.apache.spark.sql.SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Intervals + the per-entity `last_obs` marker on each entity's open
    * (last) interval row — what the arrival guard orders against.
    */
  private def intervalsWithLastObs(df: DataFrame, entityCol: String,
      timeCol: String, attrCols: Seq[String],
      tieCols: Seq[String]): DataFrame = {
    val iv = scdIntervals(df, entityCol, timeCol, attrCols, tieCols)
    val lastT = df.groupBy(col(entityCol)).agg(max(col(timeCol)).as("__lastT"))
    iv.join(lastT, Seq(entityCol))
      .withColumn("last_obs",
        when(col("valid_to").isNull, col("__lastT")))
      .drop("__lastT")
  }

  /** Build (overwrite) the SCD2 store from the full observation history. */
  def buildScdStore(df: DataFrame, entityCol: String, timeCol: String,
      attrCols: Seq[String], tieCols: Seq[String], path: String): Unit =
    writeBase(df.sparkSession, path, entityCol, timeCol, attrCols, tieCols,
      intervalsWithLastObs(df, entityCol, timeCol, attrCols, tieCols))

  /** Rebuild `path` as its meta plus one `base` interval batch at seq 0 —
    * the shape both the build and compaction leave.
    */
  private def writeBase(spark: org.apache.spark.sql.SparkSession, path: String,
      entityCol: String, timeCol: String, attrCols: Seq[String],
      tieCols: Seq[String], intervals: DataFrame): Unit =
    graft.StoreCommit.rebuild(spark, path) {
      import spark.implicits._
      Seq((entityCol, timeCol, attrCols.mkString(","), tieCols.mkString(",")))
        .toDF("entity_col", "time_col", "attr_cols", "tie_cols")
        .coalesce(1).write.parquet(s"$path/meta")
      intervals.withColumn("seq", lit(0L))
        .write.parquet(s"$path/intervals/batch=base")
    }

  private def readMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (String, String, Seq[String], Seq[String]) = {
    val m = graft.StoreCommit.meta(spark, path).getOrElse(
      throw new IllegalStateException(s"no SCD store at $path"))
    def split(s: String) = if (s.isEmpty) Nil else s.split(",").toSeq
    (m.getString(0), m.getString(1), split(m.getString(2)), split(m.getString(3)))
  }

  private def rawIntervals(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$path/intervals")

  /** Fold one batch of NEW observations into the store. Touched entities'
    * open intervals close (shadowed at the same (entity, valid_from) by
    * the new seq) and their new intervals append; unseen entities start
    * fresh; untouched entities cost nothing.
    */
  def updateScdStore(df: DataFrame, path: String, batchToken: String): Unit =
      graft.StoreLock.withLock(df.sparkSession, path) {
    require(batchToken != "base", "batch token 'base' is reserved for the build")
    val spark = df.sparkSession
    val (entityCol, timeCol, attrCols, tieCols) = readMeta(spark, path)
    require(!((attrCols :+ entityCol :+ timeCol) ++ tieCols).contains("__nb"),
      "column name __nb is reserved by updateScdStore")
    val fs = fsOf(spark, path)
    val own = new org.apache.hadoop.fs.Path(s"$path/intervals/batch=$batchToken")
    // Replay keeps the token's ORIGINAL seq and recomputes against the
    // store AS OF that seq (rows with seq < it — excludes the token's
    // own rows AND later batches), so any token replays idempotently.
    // The dir is NOT deleted here: the guard below must be able to fail
    // without having touched committed intervals; the final write
    // overwrites it. Only a crashed attempt's UNREADABLE dir is removed
    // up front (it would poison the recursive store read and carries
    // nothing committed) and falls through to the fresh path.
    val replaySeq: Option[Long] =
      if (!fs.exists(own)) None
      else scala.util.Try(
        spark.read.parquet(own.toString).select(col("seq")).head().getLong(0)
      ).toOption match {
        case s @ Some(_) => s
        case None => fs.delete(own, true); None
      }
    // read every batch dir EXCEPT the token's own: the final overwrite
    // targets that dir, so it must never be part of the (lazy) read plan
    val otherDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/intervals"))
      .map(_.getPath)
      .filter(p => p.getName.startsWith("batch=") &&
        p.getName != s"batch=$batchToken")
      .map(_.toString).toSeq
    require(otherDirs.nonEmpty,
      s"updateScdStore: no store at $path — run buildScdStore first")
    val raw = spark.read.option("recursiveFileLookup", "true")
      .parquet(otherDirs: _*)
    val store = replaySeq.fold(raw)(s => raw.where(col("seq") < s))
    val seqN = replaySeq.getOrElse(
      raw.agg(max(col("seq"))).head().getLong(0) + 1L)

    val touched = df.select(col(entityCol)).distinct()
    val pruned = store.join(touched, Seq(entityCol), "left_semi")
    // latest version of the LAST interval per touched entity: max_by the
    // lexicographic (valid_from, seq) — shadowed rows share valid_from
    // with a lower seq, earlier intervals have lower valid_from
    val payload = struct((attrCols.map(col) :+ col("valid_from")) :+
      col("last_obs") :+ col("seq"): _*)
    val last = pruned.groupBy(col(entityCol))
      .agg(max_by(payload, struct(col("valid_from"), col("seq"))).as("__r"))
      .select(col(entityCol) +: (attrCols.map(a => col(s"__r.$a").as(a)) :+
        col("__r.valid_from").as("valid_from") :+
        col("__r.last_obs").as("last_obs")): _*)

    // arrival contract: every batch row must be STRICTLY after its
    // entity's last stored OBSERVATION (not just its last change — a
    // repeat after the last change is a real observation the one-shot
    // ordering respects, so admitting a batch row at or before it would
    // silently diverge from a rebuild)
    val viol = df.groupBy(col(entityCol))
      .agg(min(col(timeCol)).as("__minT"))
      .join(last, Seq(entityCol))
      .where(col("__minT") <= coalesce(col("last_obs"), col("valid_from")))
      .count()
    require(viol == 0L,
      s"updateScdStore: $viol entities have batch observations at or " +
        "OLDER than their last stored observation — late data rewrites " +
        "history; rebuild from raw observations instead")

    // the open interval re-enters as a pseudo-observation ordered before
    // every batch row at the same instant (__nb 0 < 1)
    val pseudo = last.select(
      (col(entityCol) +: col("valid_from").as(timeCol) +: attrCols.map(col)) ++
        tieCols.map(t => lit(null).cast(df.schema(t).dataType).as(t)) :+
        lit(0).as("__nb"): _*)
    val fresh = df.select(
      (col(entityCol) +: col(timeCol) +: attrCols.map(col)) ++
        tieCols.map(col) :+ lit(1).as("__nb"): _*)
    val merged = pseudo.unionByName(fresh)
    val iv = scdIntervals(merged, entityCol, timeCol, attrCols,
      tieCols = "__nb" +: tieCols)
    // new last_obs = max batch time per entity (every batch time is
    // strictly after the stored last_obs by the guard above)
    val lastT = df.groupBy(col(entityCol)).agg(max(col(timeCol)).as("__lastT"))
    iv.join(lastT, Seq(entityCol))
      .withColumn("last_obs", when(col("valid_to").isNull, col("__lastT")))
      .drop("__lastT")
      .withColumn("seq", lit(seqN))
      // overwrite is the ONLY mutation of the token dir in this method:
      // everything above (including the arrival guard) ran against the
      // untouched store, so a throw anywhere earlier changes nothing
      .write.mode("overwrite").parquet(s"$path/intervals/batch=$batchToken")
  }

  /** The store's current SCD2 view: latest-wins per (entity, valid_from).
    * This materializes the WHOLE table (the compaction/export read); for
    * point-in-time probes prefer [[scdAsOf]] over a loaded (or compacted)
    * view with the probe's entities pruned first.
    */
  def loadScd(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val (entityCol, _, attrCols, _) = readMeta(spark, path)
    val raw = rawIntervals(spark, path)
    val payload = struct((attrCols.map(col) :+ col("valid_to")) :+ col("seq"): _*)
    raw.groupBy(col(entityCol), col("valid_from"))
      .agg(max_by(payload, col("seq")).as("__r"))
      .select((col(entityCol) +: attrCols.map(a => col(s"__r.$a").as(a))) :+
        col("valid_from") :+ col("__r.valid_to").as("valid_to"): _*)
  }

  /** Point-in-time lookup straight against the persisted store — the
    * production probe path: the spine's entities prune the store's raw
    * rows BEFORE the latest-wins resolve (the family lesson: never run
    * the resolving aggregate over the full store on a hot path; the
    * prune is trivially exact here because the resolve groups BY
    * entity), then the pruned resolved slice serves [[scdAsOf]]. Cost ∝
    * the probed entities' history + spine, not the store.
    */
  def scdAsOfStored(spine: DataFrame, path: String,
      timeCol: String): DataFrame = {
    val spark = spine.sparkSession
    val (entityCol, _, attrCols, _) = readMeta(spark, path)
    val touched = spine.select(col(entityCol)).distinct()
    val pruned = rawIntervals(spark, path)
      .join(touched, Seq(entityCol), "left_semi")
    val payload = struct((attrCols.map(col) :+ col("valid_to")) :+ col("seq"): _*)
    val resolved = pruned.groupBy(col(entityCol), col("valid_from"))
      .agg(max_by(payload, col("seq")).as("__r"))
      .select((col(entityCol) +: attrCols.map(a => col(s"__r.$a").as(a))) :+
        col("valid_from") :+ col("__r.valid_to").as("valid_to"): _*)
    scdAsOf(spine, resolved, entityCol, timeCol, attrCols)
  }

  /** Re-materialize the resolved view at a NEW path as one base batch
    * (crash-safe: the source store stays readable throughout; the caller
    * swaps paths after completion — the family's compaction contract).
    */
  def compactScdStore(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit = {
    require(srcPath != dstPath, "compaction must target a NEW path")
    val (entityCol, timeCol, attrCols, tieCols) = readMeta(spark, srcPath)
    // resolve WITH last_obs: the compacted store must keep the arrival
    // guard's marker (the resolved view alone only remembers changes,
    // not the discarded repeats last_obs orders against)
    val raw = rawIntervals(spark, srcPath)
    val payload = struct((attrCols.map(col) :+ col("valid_to")) :+
      col("last_obs") :+ col("seq"): _*)
    val resolved = raw.groupBy(col(entityCol), col("valid_from"))
      .agg(max_by(payload, col("seq")).as("__r"))
      .select((col(entityCol) +: attrCols.map(a => col(s"__r.$a").as(a))) :+
        col("valid_from") :+ col("__r.valid_to").as("valid_to") :+
        col("__r.last_obs").as("last_obs"): _*)
    writeBase(spark, dstPath, entityCol, timeCol, attrCols, tieCols, resolved)
  }
}

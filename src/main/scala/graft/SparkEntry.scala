package graft

import graft.catalog.CheckSpec
import graft.checks.Checks
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry exercises a SURVEY §2 operator end-to-end through the
  * real engine (write path into a feature store, then the read path under
  * test); `oracleSql` states the same result as ANSI SQL DuckDB runs on the
  * raw driver tables. Names are keyed to the §2 inventory ids.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: multi-feature
    * aligned + ffilled load with a transform DAG on top.
    */
  def entry(spark: SparkSession): DataFrame = {
    val fs = Fixtures.store(spark, "/root/testdata/sf0.001")
    fs.loadFeatures(Seq("events/click", "events/purchase", "events/click_comb"))
  }

  // -- shared SQL fragments for the oracle side --------------------------------
  // deduped latest-version view of one event feature: the tripled fixture's
  // max-created_time row per time is v=0 → plain `value` (see Fixtures).
  private def ev(et: String) =
    s"SELECT CAST(ts AS TIMESTAMP) AS time, value FROM events WHERE event_type = '$et'"

  // deterministic messy-URL fixture over documents (the table carries no
  // URL column): scheme/WWW casing, default port, trailing slash, tracking
  // params and fragments all vary by doc_id residues, so canonicalization
  // has real work and URL-dedup groups form on (host, path, surviving
  // query). The DuckDB oracle replays the SAME construction.
  private val urlFixtureExpr =
    """concat(
      CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.'
           WHEN doc_id % 4 = 1 THEN 'http://'
           WHEN doc_id % 4 = 2 THEN 'https://www.'
           ELSE '' END,
      'Site', CAST(doc_id % 7 AS STRING), '.Example.COM',
      CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
      '/Page/', CAST(doc_id % 40 AS STRING),
      CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
      CASE WHEN doc_id % 2 = 0
             THEN concat('?utm_source=feed&x=', CAST(doc_id % 40 AS STRING), '&gclid=abc')
           WHEN doc_id % 3 = 1 THEN concat('?x=', CAST(doc_id % 40 AS STRING))
           ELSE '' END,
      CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1+S1/S2/P2-P4/M1/M2: ingest (tripled versions) → scan → latest dedup
    "fs_load_latest" -> ((s, dir) =>
      Fixtures.store(s, dir).storage.load("events", "click")),

    // F1: inclusive time-range filter (+ partition pruning from time bounds)
    "fs_time_range" -> ((s, dir) =>
      Fixtures.store(s, dir).storage.load("events", "click",
        from = Some(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
        to = Some(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))),

    // F2: time-travel — "-30s" excludes the v=0 version → v=1 → value*2
    "fs_time_travel" -> ((s, dir) =>
      Fixtures.store(s, dir).storage.load("events", "click", timeTravel = Some("-30s"))),

    // store maintenance: small-file compaction rewrites the fragmented
    // 3-appends-per-partition twin in place (first run; later runs are a
    // listing no-op), preserving every (time, created_time) version — the
    // load after it must equal the uncompacted click read exactly
    "fs_compact_load" -> ((s, dir) => {
      val fs = Fixtures.store(s, dir)
      fs.compactFeature("events/click_compact")
      fs.storage.load("events", "click_compact")
    }),

    // Backends dispatch seam: the SAME bounded latest-dedup read served
    // from the "spark-orc" namespace — ORC writer/reader stack end-to-end
    // (ingest, hive partitioning, time-bound pruning, dedup), value-equal
    // to the parquet path and to the recomputing oracle
    "fs_orc_backend" -> ((s, dir) =>
      Fixtures.store(s, dir).storage.load("events_orc", "click",
        from = Some(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
        to = Some(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))),

    // R1: resample to a 2h grid with as-of (last-known-value) semantics
    "fs_resample_2h" -> ((s, dir) =>
      Fixtures.store(s, dir).storage.load("events", "click",
        from = Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        to = Some(java.sql.Timestamp.valueOf("2024-01-08 00:00:00")),
        freq = Some("2h"))),

    // R1 flavor 2: resample to the same 2h grid with LINEAR interpolation
    // between the neighboring observations (no extrapolation past the
    // data's ends)
    "fs_resample_interp" -> ((s, dir) =>
      Fixtures.store(s, dir).storage.load("events", "click",
        from = Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        to = Some(java.sql.Timestamp.valueOf("2024-01-08 00:00:00")),
        freq = Some("2h"), how = "interp")),

    // per-bucket monitoring profile of the latest view: daily row counts +
    // exact-decimal value sums + envelopes, one partial hash aggregate
    "fs_daily_profile" -> ((s, dir) =>
      Fixtures.store(s, dir).profileFeature("events/click", "1d")),

    // R2: N-feature outer align + per-column forward fill
    "fs_align_ffill" -> ((s, dir) =>
      Fixtures.store(s, dir).loadFeatures(Seq("events/click", "events/purchase"))),

    // R2's interp twin: outer align, then each feature interpolates its
    // holes between its OWN neighboring observations (null outside span)
    "fs_align_interp" -> ((s, dir) =>
      Fixtures.store(s, dir).loadFeatures(Seq("events/click", "events/purchase"),
        how = "interp")),

    // T1/T2: stored-transform DAG (click_comb = click + click^2), time filter
    // pushed through every DAG level
    "fs_transform_dag" -> ((s, dir) =>
      Fixtures.store(s, dir).loadFeatures(Seq("events/click_comb"),
        from = Some("2024-01-05"), to = Some("2024-01-15"))),

    // A2/A3: first/last via edge-partition pruning (reads 2 of ~30
    // partitions), plus the reference's date-bounded forms
    // (first(name, from_date) / last(name, to_date))
    "fs_first_last" -> ((s, dir) => {
      val fs = Fixtures.store(s, dir)
      val b = ts.TimeUtil.parseTimestamp("2024-01-15 12:00:00")
      // one fused job for all four edge probes (was four lazy walks = ~8
      // sequential driver actions — the r4 bench's 3.4x regression)
      val (fo, lo, bfo, blo) =
        fs.storage.firstLastValues("events", "click", from = Some(b), to = Some(b))
      val (ft, fv) = fo.get
      val (lt, lv) = lo.get
      val (bft, bfv) = bfo.get
      val (blt, blv) = blo.get
      import s.implicits._
      Seq((ft, fv.asInstanceOf[Double], lt, lv.asInstanceOf[Double],
          bft, bfv.asInstanceOf[Double], blt, blv.asInstanceOf[Double]))
        .toDF("first_time", "first_value", "last_time", "last_value",
          "bounded_first_time", "bounded_first_value",
          "bounded_last_time", "bounded_last_value")
    }),

    // Q1: quality-check evaluation — per-predicate violation counts in ONE pass
    "fs_check_violations" -> ((s, dir) => {
      val fs = Fixtures.store(s, dir)
      val df = fs.storage.load("events", "click")
      val spec = CheckSpec(None, Seq("value > 1", "value < 400"))
      val vs = Checks.validate(df, spec)
      val all = spec.predicates.map(p => p -> vs.find(_.predicate == p).map(_.count).getOrElse(0L))
      import s.implicits._
      all.toDF("predicate", "violations")
    }),

    // general aggregation over lineitem (decimal-exact money sums)
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-12-31 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          (sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
            .cast("bigint")) / 100.0).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // join pipeline: broadcast dim join + agg + deterministic top-k
    "q3_topk" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, dir)
        .where(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      val li = Tables.lineitem(s, dir)
      li.join(broadcast(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg((sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
          .cast("bigint")) / 100.0).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ---- general relational surface (exposed to transforms, SURVEY §2.2) --

    // window functions: per-user lag delta
    "w_lag_delta" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"))
    }),

    // window ranking: top-3 events per user by value (deterministic ties)
    "w_rank_topn" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          row_number().over(w).cast("bigint").as("rn"))
        .where(col("rn") <= 3)
    }),

    // set operations: nations having customers minus nations having suppliers
    "set_ops" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      val su = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
      c.except(su).unionByName(c.intersect(su).withColumn("nationkey", col("nationkey") + 1000))
    }),

    // grouping sets: rollup over order status x priority (ordered output:
    // the driver hash is sensitive to row order / integer width, see oracle)
    "rollup_agg" -> ((s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("bigint")).as("total_cents"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // distinct aggregation per key
    "distinct_agg" -> ((s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value") * 100 + 0.5).cast("bigint")).as("value_cents"))
        .orderBy(col("event_type"))),

    // 5-table broadcast-join chain: revenue per nation
    "q5_join" -> ((s, dir) => {
      val n = Tables.nation(s, dir); val r = Tables.region(s, dir)
      val c = Tables.customer(s, dir); val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      li.join(broadcast(o.join(broadcast(c.join(broadcast(n.join(broadcast(r),
            col("n_regionkey") === col("r_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))),
          col("o_custkey") === col("c_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"))
        .agg((sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
          .cast("bigint")) / 100.0).as("revenue"))
    }),

    // scalar function surface: string/date/json over events
    "scalar_funcs" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        upper(col("event_type")).as("type_upper"),
        length(col("props")).cast("bigint").as("props_len"),
        get_json_object(col("props"), "$.k").cast("bigint").as("prop_k"),
        year(col("ts")).cast("bigint").as("y"),
        dayofmonth(col("ts")).cast("bigint").as("d"),
        (floor(col("value")) % 7).cast("bigint").as("bucket"))),

    // skew-safe salted aggregation: two small shuffles instead of one hot
    // reducer per heavy key (results identical to a plain groupBy)
    "skew_salted_agg" -> ((s, dir) =>
      operators.SkewOps.saltedAgg(
        Tables.events(s, dir)
          .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("bigint").as("cents")),
        Seq("event_type"),
        Seq(operators.SkewOps.Agg("*", "count"), operators.SkewOps.Agg("cents", "sum"),
          operators.SkewOps.Agg("cents", "max")),
        buckets = 8).orderBy(col("event_type"))),

    // skew-safe salted equi-join (salt-replicate): the fact side's hot key
    // spreads across 8 tasks instead of one reducer; dim rows replicated
    // once per salt bucket. Result identical to the plain inner join.
    "skew_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("type_rows"),
          countDistinct(col("user_id")).as("type_users"))
      operators.SkewOps.saltedJoin(
        ev.select(col("event_id"), col("event_type"),
          floor(col("value")).cast("bigint").as("vfloor")),
        dim, Seq("event_type"), buckets = 8)
        .orderBy(col("event_id"))
    }),

    // Z-order layout + file-skipping manifest: 2-D range box over a
    // Morton-clustered 32-file table opens only the files whose per-file
    // min/max stats intersect the box; the residual filter restores the
    // exact inclusive predicate. Result identical to a full-scan filter.
    "layout_zorder" -> ((s, dir) =>
      operators.LayoutOps.readPruned(s, Fixtures.zLayoutPath(s, dir),
        Seq(("x", 32L, 63L), ("y", 100L, 199L)))
        .orderBy(col("event_id"))),

    // incremental z-layout: base batch (even ids) + appended batch (odd
    // ids, batch-locally clustered); the manifest is the commit log, so
    // the pruned read serves base ∪ append exactly like one table.
    "layout_zorder_append" -> ((s, dir) =>
      operators.LayoutOps.readPruned(s, Fixtures.zLayoutAppendPath(s, dir),
        Seq(("x", 32L, 63L), ("y", 100L, 199L)))
        .orderBy(col("event_id"))),

    // SCD2 change capture: per-user event_type history collapsed into
    // validity intervals [valid_from, valid_to) — consecutive repeats
    // merge, the open interval's valid_to is null. Both window passes
    // partition by the entity (no global sort anywhere).
    "fs_scd2" -> ((s, dir) =>
      ts.Scd.scdIntervals(
        Tables.events(s, dir).select(col("user_id"), col("ts"),
          col("event_type"), col("event_id")),
        "user_id", "ts", Seq("event_type"), tieCols = Seq("event_id"))
        .orderBy(col("user_id"), col("valid_from"), col("event_type"),
          col("valid_to").asc_nulls_last)),

    // HTML → text extraction: documents wrapped in a fixed page skeleton
    // (script/style/comment noise + entities) in BOTH engines, stripped
    // back to clean text + a surviving-tag count
    "text_html_strip" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;" +
          "</script><style>p { color: red }</style></head><body>" +
          "<h1>Title</h1><p>"),
        col("text"),
        lit("</p><!-- hidden --><div>Tail &amp; more &lt;tags&gt;</div>" +
          "</body></html>"))
      operators.TextOps.stripHtml(
        Tables.documents(s, dir).select(col("doc_id"), html.as("html")),
        "doc_id", "html").orderBy(col("doc_id"))
    }),

    // c-TF-IDF distinctive keywords per source group: integer bit-length
    // idf over group document frequency, top-10 by (score desc, token)
    "text_group_keywords" -> ((s, dir) =>
      operators.TextOps.groupKeywords(Tables.documents(s, dir), "source", "text", 10)
        .orderBy(col("source"), col("rank"))),

    // per-user last-8 action sequence, oldest first — sequence-model
    // training input assembled in one entity aggregation
    "fs_user_sequences" -> ((s, dir) =>
      ts.Rolling.lastNSequence(Tables.events(s, dir), "user_id", "ts",
        "event_type", n = 8, tieCols = Seq("event_id"))
        .orderBy(col("user_id"))),

    // exact heavy hitters with bounded memory: per-partition Misra-Gries
    // candidates (superset guarantee) + exact confirm of candidates only
    // — no full-vocabulary shuffle, output partitioning-independent
    "text_heavy_hitters" -> ((s, dir) =>
      operators.TextOps.heavyHitters(Tables.documents(s, dir), "text", 200)
        .orderBy(col("token"))),

    // strided token windows (LM-eval prep): window 32, stride 16, last
    // partial window kept — pure per-doc explode, no shuffle
    "corpus_windows" -> ((s, dir) =>
      operators.TextOps.tokenWindows(
        Tables.documents(s, dir), "doc_id", "text", window = 32, stride = 16)
        .orderBy(col("doc_id"), col("win"))),

    // co-located bucketed join: fact and dim pre-bucketed on user_id, so
    // the join (forced off broadcast) runs bucket-to-bucket with ZERO
    // exchanges — the pay-the-shuffle-once-at-write strategy. Result
    // identical to the plain join.
    // (the zero-exchange plan shape is gated in SourcesSpec/PlanSpec —
    // here the gate owns RESULT correctness through the bucketed path)
    "layout_bucketed_join" -> ((s, dir) => {
      val (fact, dim) = Fixtures.bucketedTables(s, dir)
      s.table(fact).join(s.table(dim), "user_id").orderBy(col("event_id"))
    }),

    // streaming z-layout maintenance: 3 cold-start micro-batches each land
    // as a manifested batch; the pruned read over the streamed table must
    // equal the one-shot full-scan filter (same oracle as layout_zorder)
    "stream_zorder" -> ((s, dir) =>
      operators.LayoutOps.readPruned(s, Fixtures.streamZLayoutPath(s, dir),
        Seq(("x", 32L, 63L), ("y", 100L, 199L)))
        .orderBy(col("event_id"))),

    // point-in-time-correct windowed features at arbitrary spine
    // instants: prefix-aggregate DIFFERENCES (events age out of the
    // horizon — a plain as-of would serve stale counts), (t-7d, t]
    "fs_rolling_spine" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val spine = ev.where(col("event_type") === "purchase")
        .select(col("user_id"),
          (col("ts") + expr("INTERVAL 37 MINUTES")).as("ts"), col("event_id"))
      val obs = ev.select(col("user_id"), col("ts"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("cents"))
      ts.Rolling.trailingAtSpine(spine, obs, "user_id", "ts", "7d",
        Seq(ts.Rolling.Agg("*", "count"), ts.Rolling.Agg("cents", "sum")))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // recency-decayed spend at spine instants: cents halve per elapsed
    // 3-day half-life (bucket-granular integer halving — engine-exact,
    // unlike a float exp decay), 4 half-lives of horizon, computed as 5
    // as-of prefix lookups per spine row — never a pairs join
    "fs_decayed_spine" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val spine = ev.where(col("event_type") === "purchase")
        .select(col("user_id"),
          (col("ts") + expr("INTERVAL 37 MINUTES")).as("ts"), col("event_id"))
      val obs = ev.select(col("user_id"), col("ts"),
        floor(col("value") * 100 + 0.5).cast("bigint").as("cents"))
      ts.Rolling.decayedAtSpine(spine, obs, "user_id", "ts", "cents",
        halflife = "3d", halfLives = 4)
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // trailing-window per-entity aggregates: 7-day count + cents sum +
    // max at each event time, RANGE-framed (time distance, not rows)
    "fs_rolling_agg" -> ((s, dir) =>
      ts.Rolling.trailingAgg(
        Tables.events(s, dir).select(col("user_id"),
          col("ts").as("time"),
          floor(col("value") * 100 + 0.5).cast("bigint").as("cents")),
        "user_id", "time", "7d",
        Seq(ts.Rolling.Agg("*", "count"), ts.Rolling.Agg("cents", "sum"),
          ts.Rolling.Agg("cents", "max")))
        .orderBy(col("user_id"), col("time"))),

    // incremental SCD2 store: base (events < Jan 15) + update batch (the
    // rest); touched entities' open intervals close by shadowing, new
    // intervals append — the resolved latest-wins view must equal the
    // one-shot change capture (shared fs_scd2 oracle)
    "fs_scd2_incremental" -> ((s, dir) =>
      ts.Scd.loadScd(s, Fixtures.scdStorePath(s, dir))
        .orderBy(col("user_id"), col("valid_from"), col("event_type"),
          col("valid_to").asc_nulls_last)),

    // streaming SCD2 maintenance: 3 time-ordered micro-batches fold into
    // the store; the resolved view equals the one-shot change capture
    "stream_scd2" -> ((s, dir) =>
      ts.Scd.loadScd(s, Fixtures.streamScdPath(s, dir))
        .orderBy(col("user_id"), col("valid_from"), col("event_type"),
          col("valid_to").asc_nulls_last)),

    // the same point-in-time lookup straight against the PERSISTED
    // store: spine entities prune the raw rows before the latest-wins
    // resolve — result identical to fs_scd2_asof (shared oracle)
    "fs_scd2_asof_stored" -> ((s, dir) => {
      val spine = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"),
          (col("ts") + expr("INTERVAL 37 MINUTES")).as("ts"), col("event_id"))
      ts.Scd.scdAsOfStored(spine, Fixtures.scdStorePath(s, dir), "ts")
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // SCD2 point-in-time lookup: each (user, purchase time + 37 min)
    // spine instant serves the event_type valid THEN — a backward as-of
    // on valid_from (intervals abut), per-entity windows only.
    "fs_scd2_asof" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val scd = ts.Scd.scdIntervals(
        ev.select(col("user_id"), col("ts"), col("event_type"), col("event_id")),
        "user_id", "ts", Seq("event_type"), tieCols = Seq("event_id"))
      val spine = ev.where(col("event_type") === "purchase")
        .select(col("user_id"),
          (col("ts") + expr("INTERVAL 37 MINUTES")).as("ts"), col("event_id"))
      ts.Scd.scdAsOf(spine, scd, "user_id", "ts", Seq("event_type"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // the same drift report against a PERSISTED reference histogram —
    // only the current window is scanned; result identical to
    // fs_drift_hist (same oracle)
    "fs_drift_stored" -> ((s, dir) =>
      Fixtures.store(s, dir).profileDriftStored("events/click",
        "2024-01-10 00:00:00", "2024-01-31 00:00:00",
        Fixtures.histStorePath(s, dir)).orderBy(col("bin"))),

    // stream-maintained drift: the current window drains in 3
    // micro-batches into an additive histogram; the report vs the frozen
    // reference equals the two-window profileDrift (shared oracle)
    "stream_drift" -> ((s, dir) => {
      val cur = Fixtures.streamDriftPath(s, dir)
      streaming.StreamingOps.driftReport(s, Fixtures.histStorePath(s, dir), cur)
        .orderBy(col("bin"))
    }),

    // categorical drift: event_type shares between the two drift windows
    // — vanished/new categories surface with zero counts, never dropped
    "fs_drift_cat" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def win(f: String, t: String) = ev.where(
        col("ts") >= lit(java.sql.Timestamp.valueOf(f)) &&
          col("ts") <= lit(java.sql.Timestamp.valueOf(t)))
      operators.DriftOps.categoricalDrift(
        win("2024-01-01 00:00:00", "2024-01-09 23:59:59"),
        win("2024-01-10 00:00:00", "2024-01-31 00:00:00"), "event_type")
        .orderBy(col("category"))
    }),

    // one-row drift summary: exact TV distance + the bitlen-quantized
    // PSI surrogate over the numeric drift report
    "fs_drift_summary" -> ((s, dir) =>
      operators.DriftOps.driftSummary(
        Fixtures.store(s, dir).profileDrift("events/click",
          "2024-01-01 00:00:00", "2024-01-09 23:59:59",
          "2024-01-10 00:00:00", "2024-01-31 00:00:00",
          lo = 0.0, hi = 500.0, bins = 20))),

    // z-score feature scaling from exact integer moments (quantize-then-
    // sum; double accumulation would be partial-agg-order-dependent)
    "fs_normalize" -> ((s, dir) =>
      Fixtures.store(s, dir).normalizeFeature("events/click")
        .orderBy(col("time"))),

    // deterministic k-fold assignment: md5 slot through 5 equal ppm
    // ranges — disjoint + total, stable under corpus growth, no shuffle
    "sample_folds" -> ((s, dir) =>
      operators.SampleOps.foldAssign(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", k = 5).orderBy(col("doc_id"))),

    // dataset-card corpus report: per-language doc/token/char counts +
    // integer-ppm doc shares in one pass
    "corpus_report" -> ((s, dir) =>
      operators.TextOps.corpusReport(Tables.documents(s, dir), "lang", "text")
        .orderBy(col("lang"))),

    // distribution-drift report: first-9-days window vs rest-of-month
    // window of the latest click view, 20 fixed bins over [0, 500),
    // integer-ppm shares + delta (sum(abs(delta_ppm))/2 = exact TV
    // distance). Each window's scan partition-pruned by its own bounds.
    "fs_drift_hist" -> ((s, dir) =>
      Fixtures.store(s, dir).profileDrift("events/click",
        "2024-01-01 00:00:00", "2024-01-09 23:59:59",
        "2024-01-10 00:00:00", "2024-01-31 00:00:00",
        lo = 0.0, hi = 500.0, bins = 20).orderBy(col("bin"))),

    // approximate aggregates. Estimates are engine-specific, so the oracle
    // checks BOUNDS instead of values: the query itself computes the exact
    // answers alongside the sketches and emits pass/fail booleans —
    // approx_count_distinct(rsd=0.01) within 5% relative error (5σ; the
    // default rsd 0.05 measurably misses 5% at ~1.5k distincts),
    // percentile_approx(accuracy=1000 → rank error 1e-3) inside the exact
    // [0.495, 0.505] quantile envelope. The oracle recomputes exact_users
    // and expects every bound to hold.
    "approx_stats" -> ((s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50"),
          expr("percentile(value, 0.495)").as("lo"),
          expr("percentile(value, 0.505)").as("hi"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users").cast("double") / col("exact_users") - 1) <= 0.05).as("users_ok"),
          (col("p50") >= col("lo") && col("p50") <= col("hi")).as("p50_ok"))
        .orderBy(col("event_type"))),

    // catalog CRUD surface incl. F3 regex listing. Self-contained namespace
    // (other gate queries add features to `events` in nondeterministic
    // order) → the listing is literal-deterministic and oracle-checkable.
    "catalog_ops" -> ((s, dir) => {
      val fs = Fixtures.store(s, dir)
      if (fs.catalog.getNamespace("catq").isEmpty) {
        fs.createNamespace("catq", "catalog surface fixture")
        fs.createFeature("catq/alpha", "plain feature")
        fs.createFeature("catq/alpha2", "second plain feature")
        fs.createFeature("catq/beta")
        fs.registerSqlTransform("catq/alpha_sq", Seq("alpha"), "alpha * alpha")
        fs.updateFeature("catq/beta", description = Some("updated")) // version bump
        fs.deleteFeature("catq/alpha2")
      }
      import s.implicits._
      val all = fs.listFeatures(Some("catq")).map(f =>
        (f.namespace, f.name, f.version.toLong, f.transform.isDefined, "all"))
      val regexed = fs.listFeatures(Some("catq"), Some("^alpha")).map(f =>
        (f.namespace, f.name, f.version.toLong, f.transform.isDefined, "regex"))
      (all ++ regexed).toDF("namespace", "name", "version", "is_virtual", "listing")
    }),

    // persisted store/index registry: catalog rows (family/path/params,
    // upsert bumps the version) joined with LIVE committed-token coverage
    // from each store's StoreCommit manifest; params pins verified at the
    // mutation seam
    "store_registry" -> ((s, dir) => {
      val fs = Fixtures.store(s, dir)
      if (fs.catalog.getStore("docs_winnow").isEmpty) {
        fs.registerStore("docs_winnow", "winnow",
          Fixtures.winnowStorePath(s, dir), Map("k" -> "4", "w" -> "5"))
        fs.registerStore("docs_simhash", "simhash",
          Fixtures.simhashStorePath(s, dir), Map("bits" -> "64"))
        fs.registerStore("docs_fp", "fingerprint",
          Fixtures.fingerprintStorePath(s, dir))
        fs.registerStore("docs_postings", "postings",
          Fixtures.postingsIndexPath(s, dir))
        // re-registration = upsert: version bumps, params merge
        fs.registerStore("docs_fp", "fingerprint",
          Fixtures.fingerprintStorePath(s, dir), Map("algo" -> "md5"))
      }
      fs.verifyStoreParams("docs_winnow", Map("k" -> "4")) // pinned → passes
      import s.implicits._
      fs.listStores().map(st => (st.store.name, st.store.family,
          st.store.version.toLong, st.committedTokens.mkString(","),
          st.store.params.toSeq.sorted.map { case (k, v) => s"$k=$v" }
            .mkString(",")))
        .toDF("name", "family", "version", "tokens", "params")
    }),

    // M3: serialized (JSON-encoded) values surviving schema drift
    "fs_serialized" -> ((s, dir) => serializedLoad(s, dir)),

    // read-side decode of the same drifted feature: the struct generation
    // parses, the drifted long generation nulls out — the caller-chosen
    // static schema replacing the reference's dynamic json.loads
    "fs_serialized_decoded" -> ((s, dir) =>
      api.FeatureStore.decodeSerialized(
        serializedLoad(s, dir), "value", "event_type STRING, user_id BIGINT")
        .select(col("time"), col("value.event_type").as("event_type"),
          col("value.user_id").as("user_id"))
        .orderBy(col("time"))),

    // pivot: event counts per day x type (explicit pivot values)
    "events_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Fixtures.EventTypes)
        .agg(count(lit(1)))),

    // C3/S6: clone feature (catalog copy + data copy), then read it back
    "fs_clone_load" -> ((s, dir) => {
      val fs = Fixtures.store(s, dir)
      if (fs.catalog.getFeature("events", "click_clone").isEmpty)
        fs.cloneFeature("events/click", "events/click_clone")
      fs.storage.load("events", "click_clone")
    }),

    // ---- LLM-pipeline extension operators (documents/embeddings) ----------

    // exact dedup: content fingerprint → canonical (min) id per group
    "dedup_exact_map" -> ((s, dir) =>
      operators.DedupOps.exactDedupMap(Tables.documents(s, dir), "doc_id", "text")),

    // URL canonicalization: scheme/www/case/port/tracking-param/fragment
    // variants collapse to one canonical form + host
    "text_url_canon" -> ((s, dir) =>
      operators.TextOps.canonicalUrls(
        Tables.documents(s, dir).withColumn("url", expr(urlFixtureExpr)),
        "doc_id", "url")),

    // URL-keyed exact dedup (RefinedWeb's cheapest cut): canonical URL →
    // min doc_id per group, before any content pass
    "dedup_url" -> ((s, dir) =>
      operators.DedupOps.urlDedupMap(
        Tables.documents(s, dir).withColumn("url", expr(urlFixtureExpr)),
        "doc_id", "url")),

    // MinHash(128) + LSH(32 bands × 4 rows) near-dup pairs, exact-verified
    "dedup_minhash_lsh" -> ((s, dir) =>
      operators.DedupOps.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text")),

    // exact n-gram Jaccard pairs with the boilerplate guard: shingles in
    // more than 50 docs are cut from every set before the per-shingle
    // self-join (bounded by |vocab|·C(50,2) instead of quadratic in one
    // hot shingle's df); the uncapped form stays the property-test baseline
    "dedup_ngram_jaccard" -> ((s, dir) =>
      operators.DedupOps.exactJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        maxDocFreq = 50)),

    // SimHash signature per document (64-char bit-string)
    "dedup_simhash" -> ((s, dir) =>
      operators.DedupOps.simhashDf(Tables.documents(s, dir), "doc_id", "text")),

    // SimHash near-dup pairs: hamming <= 3 via EXACT bit-block banding
    // (pigeonhole over 4 x 16-bit blocks — 100% recall, equals the
    // exhaustive scan; h=3 on 64 bits is the classic operating point)
    "dedup_simhash_pairs" -> ((s, dir) =>
      operators.DedupOps.simhashNearDupPairs(Tables.documents(s, dir),
        "doc_id", "text", maxHamming = 3)),

    // incremental SimHash: probe docs >= 250 against a persisted two-batch
    // signature store of docs < 250 — must equal the one-shot whole-corpus
    // pairs restricted to pairs touching the batch (pigeonhole survives
    // the store prune: touched buckets keep ALL their store rows)
    "dedup_simhash_incremental" -> ((s, dir) =>
      operators.DedupOps.incrementalSimhashPairs(
        Tables.documents(s, dir).where(col("doc_id") >= 250), "doc_id", "text",
        Fixtures.simhashStorePath(s, dir), maxHamming = 3)),

    // incremental dedup: build a signature store from docs < 250, probe
    // docs >= 250 against it (old-new + new-new pairs only; the corpus-side
    // minhash pass runs once, probes prune store rows by the probe's
    // bucket set)
    "dedup_incremental" -> ((s, dir) =>
      // store built once per (JVM, sf) — the operator's whole point is
      // that the corpus pass is NOT repeated per probe; only the probe
      // is the repeated query
      operators.DedupOps.incrementalNearDupPairs(
        Tables.documents(s, dir).where(col("doc_id") >= 250), "doc_id", "text",
        Fixtures.minhashStorePath(s, dir))),

    // incremental EXACT dedup: probe docs >= 250 against a persisted
    // fingerprint store of docs < 250 — each probe row keyed to the min id
    // sharing its fingerprint across store ∪ batch (store rows pruned
    // map-side by the probe's broadcast fp set)
    "dedup_exact_incremental" -> ((s, dir) =>
      operators.DedupOps.incrementalExactDedup(
        Tables.documents(s, dir).where(col("doc_id") >= 250), "doc_id", "text",
        Fixtures.fingerprintStorePath(s, dir))),

    // the SERVING direction of the same operators: a SMALL batch
    // (docs < 250) probes a LARGE store (docs >= 250) — the production
    // shape where the corpus pass ran at ingest and probe cost must be
    // ∝ batch + matches, never store size. Same code, roles flipped;
    // the bench contrast with the backfill-shaped *_incremental twins
    // (batch ≈ corpus) is the scale evidence.
    "dedup_exact_serving" -> ((s, dir) =>
      operators.DedupOps.incrementalExactDedup(
        Tables.documents(s, dir).where(col("doc_id") < 250), "doc_id", "text",
        Fixtures.fingerprintServingStorePath(s, dir))),

    "dedup_minhash_serving" -> ((s, dir) =>
      operators.DedupOps.incrementalNearDupPairs(
        Tables.documents(s, dir).where(col("doc_id") < 250), "doc_id", "text",
        Fixtures.minhashServingStorePath(s, dir))),

    "dedup_simhash_serving" -> ((s, dir) =>
      operators.DedupOps.incrementalSimhashPairs(
        Tables.documents(s, dir).where(col("doc_id") < 250), "doc_id", "text",
        Fixtures.simhashServingStorePath(s, dir), maxHamming = 3)),

    "dedup_winnow_serving" -> ((s, dir) =>
      operators.DedupOps.incrementalWinnowingPairs(
        Tables.documents(s, dir).where(col("doc_id") < 250), "doc_id", "text",
        Fixtures.winnowServingStorePath(s, dir), maxDocFreq = 20)),

    // the same probe behind the store's broadcast Bloom sketch: membership
    // tested map-side, only bloom-positive fingerprints drive the
    // store-confirm join; result identical to dedup_exact_incremental
    "dedup_bloom_probe" -> ((s, dir) =>
      operators.DedupOps.bloomProbeExactDedup(
        Tables.documents(s, dir).where(col("doc_id") >= 250), "doc_id", "text",
        Fixtures.fingerprintBloomPath(s, dir))),

    // the SHARDED sketches (per-partition lazy load, zero broadcast —
    // the past-1e9-keys shape): same answer again
    "dedup_bloom_sharded" -> ((s, dir) =>
      operators.DedupOps.shardedBloomProbeExactDedup(
        Tables.documents(s, dir).where(col("doc_id") >= 250), "doc_id", "text",
        Fixtures.shardedBloomPath(s, dir))),

    // the same incremental dedup as TRUE STREAMING: three micro-batches
    // probe-then-append against the store; cross-batch pairs must be found
    // by the later batch. Drained pairs == the one-shot oracle.
    "stream_dedup_incremental" -> ((s, dir) =>
      s.read.parquet(Fixtures.incrementalDedupMbPath(s, dir))
        .select("id_a", "id_b", "intersect_size", "union_size")),

    // streaming winnow maintenance drained cold-start over the corpus in
    // 3 micro-batches: the per-batch pair dirs must union to the one-shot
    // whole-corpus containment pairs (uncapped: 500 docs < the df cap)
    "stream_winnow" -> ((s, dir) =>
      s.read.parquet(Fixtures.streamWinnowPath(s, dir))
        .select("id_a", "id_b", "shared_fps", "n_a", "n_b")),

    // pre-dedup text normalization: NFC composition (codegen'd custom
    // Expression), control-char scrub, whitespace collapse, trim
    "text_clean" -> ((s, dir) =>
      operators.TextOps.cleanText(Tables.documents(s, dir), "doc_id", "text")),

    // text-analysis signals: token counts, punct/stopword counts, quality
    "text_stats" -> ((s, dir) =>
      operators.TextOps.textStats(Tables.documents(s, dir), "doc_id", "text")),

    // language-ID heuristic
    "text_langid" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        operators.TextOps.langId(col("text")).as("lang_guess"))),

    // winnowing fingerprints: k-gram rolling selection (SIGMOD'03)
    "text_winnow" -> ((s, dir) =>
      operators.TextOps.winnowingFingerprints(Tables.documents(s, dir), "doc_id", "text")),

    // embedding-free pairwise similarity (Elsayed 2008): integer tf-idf
    // vectors, per-term postings join, cosine >= 4/5 in exact-int doubles;
    // stop terms (df > 30) cut — on this corpus only the rare marker word
    // survives as a live term (everything else has idf_bits = 0 anyway)
    "sim_tfidf_pairs" -> ((s, dir) =>
      operators.TextOps.tfidfCosinePairs(Tables.documents(s, dir),
        "doc_id", "text", maxDocFreq = 30)),

    // MOSS-style local-fingerprint pairs: docs sharing >= 2 winnowing
    // fingerprints (catches partial overlap/containment that whole-doc
    // Jaccard misses); fingerprints in > 20 docs are stop fingerprints
    "dedup_winnow_pairs" -> ((s, dir) =>
      operators.DedupOps.winnowingPairs(Tables.documents(s, dir),
        "doc_id", "text", maxDocFreq = 20)),

    // incremental winnowing: probe docs >= 250 against a persisted
    // two-batch fingerprint store of docs < 250 — must equal the one-shot
    // whole-corpus pairs restricted to pairs touching the batch
    "dedup_winnow_incremental" -> ((s, dir) =>
      operators.DedupOps.incrementalWinnowingPairs(
        Tables.documents(s, dir).where(col("doc_id") >= 250), "doc_id", "text",
        Fixtures.winnowStorePath(s, dir), maxDocFreq = 20)),

    // corpus vocabulary: top-100 tokens by frequency (+ doc frequency)
    "text_token_topk" -> ((s, dir) =>
      operators.TextOps.tokenHistogram(Tables.documents(s, dir), "doc_id", "text", 100)),

    // Gopher-style repetition filters: top-token / top-bigram / duplicated-
    // bigram shares per doc (boilerplate and spam score high)
    "text_repetition" -> ((s, dir) =>
      operators.TextOps.repetitionStats(Tables.documents(s, dir), "doc_id", "text")),

    // PII/link scrubbing: URL -> email -> phone redaction with counts
    "text_redact" -> ((s, dir) =>
      operators.TextOps.redactionStats(Tables.documents(s, dir), "doc_id", "text")),

    // C4-style line-level dedup: every line keeps one copy corpus-wide (at
    // its smallest (doc, position) occurrence), docs rebuilt from surviving
    // lines. The synthetic docs are single-line, so the gate runs at token
    // granularity (delim = " ") — degenerate for prose but a maximal
    // cross-doc-collision stress for the canonical-occurrence machinery;
    // real multi-line semantics are pinned in OperatorsSpec.
    "text_line_dedup" -> ((s, dir) =>
      operators.DedupOps.dedupLines(Tables.documents(s, dir), "doc_id", "text",
        delim = " ")),

    // C4/RefinedWeb boilerplate rule: lines (words here — the fixture is
    // single-line) repeated >= 50 times corpus-wide vanish from EVERY doc
    "text_boilerplate" -> ((s, dir) =>
      operators.DedupOps.removeFrequentLines(Tables.documents(s, dir),
        "doc_id", "text", minCount = 50, delim = " ")),

    // the same removal against the persisted two-batch line census —
    // census counts sum across batches, result equals the one-shot form
    "text_boilerplate_stored" -> ((s, dir) =>
      operators.DedupOps.removeFrequentLinesStored(Tables.documents(s, dir),
        "doc_id", "text", Fixtures.lineStorePath(s, dir),
        minCount = 50, delim = " ")),

    // streaming census maintenance: each micro-batch strips against the
    // census of the batches BEFORE it (strip-then-count), deterministic
    // given the mod-3 file order — the oracle replays the cumulative
    // census per batch
    "stream_boilerplate" -> ((s, dir) =>
      s.read.parquet(Fixtures.streamBoilerplatePath(s, dir))
        .select("doc_id", "text", "n_cut_lines")),

    // exact substring dedup (Lee et al. 2021 ExactSubstr re-expressed at
    // k-window granularity): maximal spans of 4-token windows whose content
    // repeats anywhere in the corpus, merged per doc
    "dedup_substring_spans" -> ((s, dir) =>
      operators.DedupOps.duplicateSpans(Tables.documents(s, dir), "doc_id", "text")),

    // incremental ExactSubstr: spans of a NEW batch (docs >= 250) against
    // a persisted two-batch window-hash store of docs < 250 — must equal
    // the one-shot whole-corpus spans restricted to the batch
    "dedup_substring_incremental" -> ((s, dir) =>
      operators.DedupOps.incrementalDuplicateSpans(
        Tables.documents(s, dir).where(col("doc_id") >= 250), "doc_id", "text",
        Fixtures.windowStorePath(s, dir))),

    // the incremental cut: store hits always cut (the store precedes the
    // batch), batch-only duplicates keep their batch-minimal copy
    "dedup_substring_incremental_cut" -> ((s, dir) =>
      operators.DedupOps.incrementalDropDuplicateSpans(
        Tables.documents(s, dir).where(col("doc_id") >= 250), "doc_id", "text",
        Fixtures.windowStorePath(s, dir))),

    // per-doc duplicated-token coverage over the same spans — the "how much
    // of this corpus is repeated substance" accounting
    "dedup_substring_stats" -> ((s, dir) =>
      operators.DedupOps.duplicateSpanStats(Tables.documents(s, dir), "doc_id", "text")),

    // the ExactSubstr cut: docs rebuilt with every non-canonical duplicated
    // window removed — one copy of each repeated >= 4-token run survives,
    // later copies vanish
    "dedup_substring_cut" -> ((s, dir) =>
      operators.DedupOps.dropDuplicateSpans(Tables.documents(s, dir), "doc_id", "text")),

    // fasttext-shaped hashed linear quality scorer: mean of md5-hashed
    // bucket weights over the doc's tokens; gate weights are deterministic
    // integer-valued doubles (md5 of the bucket id), so the mean is
    // IEEE-exact in both engines
    "quality_linear" -> ((s, dir) => {
      val w = s.range(4096).select(col("id").as("bucket"),
        (pmod(operators.DedupOps.baseHash(concat(lit("w"), col("id"))), lit(1001L))
          - 500L).cast("double").as("w"))
      operators.TextOps.hashedLinearScore(Tables.documents(s, dir),
        "doc_id", "text", w, 4096)
    }),

    // CCNet-style LM quality scoring: add-one bigram model counted from
    // the trusted slice (lang = 'en'), every doc charged the quantized
    // (bit-length) code length of its bigrams under it — integer-exact
    // across engines, one final division for the mean
    "quality_lm_surprise" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      operators.TextOps.bigramSurprise(d, d.where(col("lang") === "en"),
        "doc_id", "text")
    }),

    // the same scoring through a PERSISTED LM model (train once on the
    // trusted slice, score any batch without touching the reference
    // corpus) — must equal the inline scorer cell-for-cell
    "quality_lm_stored" -> ((s, dir) =>
      operators.TextOps.bigramSurpriseStored(Tables.documents(s, dir),
        "doc_id", "text", Fixtures.lmModelPath(s, dir))),

    // DSIR-style importance weights (Xie 2023): hashed unigram+bigram
    // features, target = the lang='en' slice, raw = the whole corpus;
    // per-feature quantized log ratio bitlen(ct+1) - bitlen(cr+1)
    "dsir_weights" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      operators.TextOps.dsirLogRatio(d, d.where(col("lang") === "en"),
        "doc_id", "text")
    }),

    // integer-exact tf-idf keyword search: top-20 docs for a mixed
    // rare+common term set, idf quantized to bit lengths, deterministic
    // (score DESC, doc_id) order
    "search_tfidf_topk" -> ((s, dir) =>
      operators.TextOps.keywordTopK(Tables.documents(s, dir), "doc_id", "text",
        Seq("dup", "spark", "query"), k = 20)),

    // the same search through a PERSISTED two-batch postings index (base =
    // docs < 250, append = docs >= 250): probe prunes to the query terms'
    // bucket partitions, df/N sum across batches — must equal the
    // whole-corpus scorer cell-for-cell
    "search_index_topk" -> ((s, dir) =>
      operators.SearchOps.keywordTopKIndexed(s,
        Fixtures.postingsIndexPath(s, dir),
        Seq("dup", "spark", "query"), k = 20, idCol = "doc_id")),

    // BM25 (k1=1.2, b=0.75) through the same persisted two-batch index:
    // integer-quantized contributions (×1000, floored; avgdl in tenths
    // from the additive n_tokens sidecar), dl denormalized on posting rows
    // so the probe stays bucket-pruned
    "search_bm25_topk" -> ((s, dir) =>
      operators.SearchOps.bm25TopKIndexed(s,
        Fixtures.postingsIndexPath(s, dir),
        Seq("dup", "spark", "query"), k = 20, idCol = "doc_id")),

    // the same search through an index built by STREAMING maintenance
    // (one batch dir per micro-batch) and then COMPACTED — accumulation,
    // additivity and compaction must all preserve the scorer exactly
    "search_index_stream" -> ((s, dir) =>
      operators.SearchOps.keywordTopKIndexed(s,
        Fixtures.streamedPostingsPath(s, dir),
        Seq("dup", "spark", "query"), k = 20, idCol = "doc_id")),

    // benchmark decontamination: word-4-gram overlap of the corpus (doc_id %
    // 17 != 0) against the benchmark split (doc_id % 17 == 0), GPT-3-style
    // any-collision contamination flag; benchmark n-grams broadcast
    "text_contam" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      operators.CurationOps.ngramOverlap(
        d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0),
        "doc_id", "text", k = 4)
    }),

    // span-level decontamination (GPT-3 appendix C's other half): cut the
    // colliding 4-windows plus a 2-token margin, keep the rest of the doc
    "text_contam_cut" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      operators.CurationOps.decontaminateSpans(
        d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0),
        "doc_id", "text", k = 4, margin = 2)
    }),

    // end-to-end curation: exact-dedup canonical ∧ decontaminated ∧
    // length/repetition quality cuts -> the kept corpus
    "curate_keep" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      operators.CurationOps.curateKeep(
        d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0),
        "doc_id", "text", "lang", k = 4, minTokens = 20, maxTopTokenFrac = 0.12)
    }),

    // curateKeep behind a HOST blocklist: the doc's source is its URL's
    // canonical host ([[TextOps.urlHost]] through the existing
    // blockedSources seam) — blocked hosts drop FIRST, and duplicates
    // re-canonicalize among the survivors
    "curate_keep_hosts" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val withHost = d.withColumn("source",
        operators.TextOps.urlHost(expr(urlFixtureExpr)))
      import s.implicits._
      operators.CurationOps.curateKeep(
        withHost.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0),
        "doc_id", "text", "lang", k = 4, minTokens = 20, maxTopTokenFrac = 0.12,
        blockedSources = Some(
          Seq("site0.example.com", "site3.example.com").toDF("host")))
    }),

    // curation composed with the persisted near-dup label store: the dedup
    // stage is quality-aware keep-best (score = n_chars, ties min id) over
    // the store's latest-wins component view; non-keepers drop before the
    // contamination/length/repetition work
    "curate_keep_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val labels = operators.DedupOps.loadClusterLabels(
        s, Fixtures.clusterStorePath(s, dir))
      operators.CurationOps.curateKeepClustered(
        d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0),
        "doc_id", "text", "lang", labels, "n_chars",
        k = 4, minTokens = 20, maxTopTokenFrac = 0.12)
    }),

    // accounting twin of curate_keep_dedup: blocked -> non_keeper ->
    // contaminated -> short -> repetitive -> kept precedence; kept rows ==
    // curate_keep_dedup's result set, counts partition the corpus
    "curation_report_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val labels = operators.DedupOps.loadClusterLabels(
        s, Fixtures.clusterStorePath(s, dir))
      operators.CurationOps.curationReportClustered(
        d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0),
        "doc_id", "text", "lang", labels, "n_chars",
        k = 4, minTokens = 20, maxTopTokenFrac = 0.12)
    }),

    // CAPSTONE composition — the whole engine end to end: near-dup label
    // store -> quality-aware keep-best curation -> the survivors packed
    // into group-local (per-language) 256-token training chunks. One
    // lazy Catalyst plan from store probe to span arithmetic.
    "pipeline_curate_pack" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val labels = operators.DedupOps.loadClusterLabels(
        s, Fixtures.clusterStorePath(s, dir))
      val kept = operators.CurationOps.curateKeepClustered(
        d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0),
        "doc_id", "text", "lang", labels, "n_chars",
        k = 4, minTokens = 20, maxTopTokenFrac = 0.12)
      operators.CurationOps.packChunksGrouped(
        d.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        "doc_id", "text", "lang", chunkTokens = 256)
    }),

    // the curation pipeline as TRUE STREAMING: three id-range micro-batches
    // through store-probe dedup + curateKeep, kept docs appended per batch;
    // the drained kept set must equal the batch oracle on the same split
    "stream_curate" -> ((s, dir) =>
      s.read.parquet(Fixtures.curateStreamMbPath(s, dir))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("top_token_frac"))),

    // curation with a RefinedWeb-style source blocklist: blocked sources
    // drop first (highest precedence in the report), dedup re-canonicalizes
    // among survivors, and the report partition gains a `blocked` outcome
    "curation_report_domains" -> ((s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
      operators.CurationOps.curationReport(
        d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0),
        "doc_id", "text", "lang", k = 4, minTokens = 20, maxTopTokenFrac = 0.12,
        blockedSources = Some(Seq("src3", "src7", "src11").toDF("source")))
    }),

    // curation accounting: per-(lang, first-failing-rule) doc + token
    // counts; 'kept' rows == curate_keep's result set
    "curation_report" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      operators.CurationOps.curationReport(
        d.where(col("doc_id") % 17 =!= 0), d.where(col("doc_id") % 17 === 0),
        "doc_id", "text", "lang", k = 4, minTokens = 20, maxTopTokenFrac = 0.12)
    }),

    // sequence packing: concat docs in id order, cut into 512-token training
    // chunks (docs split across cut points); distributed prefix sum + map-
    // side span arithmetic
    "corpus_pack" -> ((s, dir) =>
      operators.CurationOps.packChunks(Tables.documents(s, dir),
        "doc_id", "text", chunkTokens = 512)),

    // per-language packing: chunks never mix languages; chunk ids are
    // group-local, prefix sums restart per group (grouped two-pass scan)
    "corpus_pack_grouped" -> ((s, dir) =>
      operators.CurationOps.packChunksGrouped(Tables.documents(s, dir),
        "doc_id", "text", "lang", chunkTokens = 512)),

    // the grouped spans materialized: (lang, chunk_id, text) train shards
    "corpus_pack_grouped_text" -> ((s, dir) =>
      operators.CurationOps.packChunkTextGrouped(Tables.documents(s, dir),
        "doc_id", "text", "lang", chunkTokens = 512)),

    // the same packing re-denominated in BPE-ish subword tokens via the
    // pluggable counter — chunk budgets in real pipelines are tokenizer
    // tokens, not whitespace words; identical distributed shape
    "corpus_pack_bpe" -> ((s, dir) =>
      operators.CurationOps.packChunks(Tables.documents(s, dir),
        "doc_id", "text", chunkTokens = 512,
        tokenCounter = operators.TextOps.bpeTokenCount)),

    // the same packing denominated in REAL-tokenizer-style counts: a
    // broadcast (word -> piece-count) vocab — here derived from the corpus
    // itself (top-500 words = 1 piece), in production a real tokenizer's
    // offline dump — with byte-fallback max(1, ceil(bytes/2)) for OOV
    // words; the precomputed count column feeds the counter hook
    "corpus_pack_vocab" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val counted = operators.TextOps.vocabTokenCounts(d, "doc_id", "text",
        operators.TextOps.topWordVocab(d, "text", 500))
      operators.CurationOps.packChunks(counted, "doc_id", "text",
        chunkTokens = 512, tokenCounter = _ => col("n_tok"))
    }),

    // packing-efficiency accounting: one summary row over the same spans
    // (chunk count, boundary-split docs, total tokens, tail fill)
    "corpus_pack_stats" -> ((s, dir) =>
      operators.CurationOps.packStats(Tables.documents(s, dir),
        "doc_id", "text", chunkTokens = 512)),

    // dynamic-batching alternative to packing: length-bucketed batches of
    // 8 docs within (bucket, shard), with exact per-batch padding waste;
    // docs past the 512-token cap drop like a trainer's max_seq_len
    "pack_length_batches" -> ((s, dir) =>
      operators.CurationOps.lengthBucketBatches(Tables.documents(s, dir),
        "doc_id", "text", boundaries = Seq(32L, 64L, 128L, 256L, 512L),
        batchDocs = 8, shards = 4)),

    // the doc->batch assignment behind the same batching — what a
    // trainer's loader consumes (one row per admitted doc)
    "pack_length_assign" -> ((s, dir) =>
      operators.CurationOps.lengthBucketAssign(Tables.documents(s, dir),
        "doc_id", "text", boundaries = Seq(32L, 64L, 128L, 256L, 512L),
        batchDocs = 8, shards = 4)),

    // per-group exact-quantile cut: keep each language's shortest 40% by
    // n_chars — the rank-based form of "drop the worst X% per language"
    "quality_quantile_keep" -> ((s, dir) =>
      operators.CurationOps.quantileKeep(Tables.documents(s, dir),
          "doc_id", "n_chars", "lang", 0.4)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("q_rank"), col("q_n"))),

    // CCNet-style head/middle/tail banding: every doc labeled by the band
    // its exact per-language (score, id) rank falls in — a partition of
    // each group, not a cut
    "quality_quantile_label" -> ((s, dir) =>
      operators.CurationOps.quantileLabel(Tables.documents(s, dir),
          "doc_id", "n_chars", "lang",
          Seq("head" -> 0.1, "middle" -> 0.4, "tail" -> 0.5))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("q_rank"), col("q_n"), col("band"))),

    // the scale path: approx-threshold pre-cut + exact rank among the
    // survivors, containment checked — same answer, same oracle
    "quality_quantile_keep_large" -> ((s, dir) =>
      operators.CurationOps.quantileKeepLarge(Tables.documents(s, dir),
          "doc_id", "n_chars", "lang", 0.4)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("q_rank"), col("q_n"))),

    // materialized training sequences: the packed spans joined back to
    // tokens and concatenated per chunk (512 tokens each except the tail)
    "corpus_pack_text" -> ((s, dir) =>
      operators.CurationOps.packChunkText(Tables.documents(s, dir),
        "doc_id", "text", chunkTokens = 512)),

    // chunk materialization in PIECE space: top-200-word vocab maps words
    // to piece sequences (single pieces here; a real tokenizer dump slots
    // in), OOV words fall back to 2-char pieces, and the 512-PIECE cut +
    // concat runs on the piece stream — the oracle replays vocab,
    // fallback split and packing in SQL
    "corpus_pack_pieces" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // vocab comes from the persisted tokenizer-dump fixture (top-200
      // corpus words, derived once per JVM+sf) — content identical to an
      // inline topWordPieceVocab(docs, "text", 200)
      operators.CurationOps.packChunkPieces(docs, "doc_id", "text",
        s.read.parquet(Fixtures.pieceVocabPath(s, dir)),
        chunkTokens = 512)
    }),

    // in-engine BPE: merges learned from the corpus's word-frequency table
    // (deterministic Sennrich loop), rank-greedy encode per doc. The merge
    // loop is not SQL-expressible, so the gate follows the approx_stats
    // shape: SQL-recomputable word/char counts next to self-checked
    // invariants (lossless reconstruction, piece-count bounds, prefix
    // monotonicity) the oracle expects true; algorithmic exactness is
    // property-gated in the spec against an independent implementation
    "corpus_bpe_roundtrip" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      operators.TextOps.bpeEncodeStats(d, "doc_id", "text",
        Fixtures.bpeMergeTable(s, dir))
        .orderBy(col("doc_id"))
    }),

    // train-ready sharded layout: write 16-chunk contiguous shards, read
    // back, and account (shard, n_chunks, n_tokens) — the write path is
    // under test, the oracle recomputes the accounting from raw docs
    "corpus_pack_shards" -> ((s, dir) => {
      val path = s"${Fixtures.tmpRoot}/packed_gate"
      operators.CurationOps.writePackedCorpus(Tables.documents(s, dir),
        "doc_id", "text", chunkTokens = 512, path, chunksPerShard = 16)
      s.read.parquet(path)
        .groupBy(col("shard").cast("bigint").as("shard"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(size(split(col("text"), " "))).cast("bigint").as("n_tokens"))
    }),

    // shuffled-shard writer: chunks hash-assigned to 8 shards (one fixed
    // global permutation at write time), read back and accounted
    "corpus_pack_shuffled" -> ((s, dir) => {
      val path = s"${Fixtures.tmpRoot}/packed_shuf_gate"
      operators.CurationOps.writePackedCorpusShuffled(Tables.documents(s, dir),
        "doc_id", "text", chunkTokens = 512, path, shards = 8)
      s.read.parquet(path)
        .groupBy(col("shard").cast("bigint").as("shard"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(size(split(col("text"), " "))).cast("bigint").as("n_tokens"))
    }),

    // deterministic stratified sample: per-language keep rates over a
    // content hash of the id — reproducible across engines/partitionings
    "sample_stratified" -> ((s, dir) =>
      operators.SampleOps.stratifiedSample(Tables.documents(s, dir),
          "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))),

    // deterministic quota sample: 20 smallest-hash docs per language
    "sample_quota" -> ((s, dir) =>
      operators.SampleOps.quotaSample(Tables.documents(s, dir),
          "doc_id", "lang", n = 20)
        .select(col("doc_id"), col("lang"), col("sample_rank"))),

    // token-budget sample: per-lang TOKEN budgets filled in hash order
    // (corpus mixing by token share)
    "sample_token_budget" -> ((s, dir) =>
      operators.SampleOps.tokenBudgetSample(Tables.documents(s, dir),
          "doc_id", "text", "lang",
          Map("en" -> 5000L, "de" -> 2000L), defaultBudget = 1000L)
        .select(col("doc_id"), col("lang"), col("cum_tokens"))),

    // corpus mixing: target weights en 0.5 / de 0.3 / fr 0.2 over a 10k
    // global token budget -> per-lang budgets 5000/3000/2000, filled in
    // hash order; es/zh are outside the mixture and dropped
    "sample_mixture" -> ((s, dir) =>
      operators.SampleOps.mixtureTokenSample(Tables.documents(s, dir),
          "doc_id", "text", "lang",
          Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2), totalTokens = 10000L)
        .select(col("doc_id"), col("lang"), col("cum_tokens"))),

    // achieved-vs-target mixture accounting for the same sample
    "sample_mixture_report" -> ((s, dir) =>
      operators.SampleOps.mixtureReport(Tables.documents(s, dir),
        "doc_id", "text", "lang",
        Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2), totalTokens = 10000L)),

    // deterministic train/val/test assignment: disjoint + total by
    // construction from the id-hash slot (80/10/10)
    "sample_split" -> ((s, dir) =>
      operators.SampleOps.splitAssign(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split"))),

    // leakage-safe split: the slot hashes the near-dup COMPONENT from the
    // persisted label store, so whole clusters land in one split and a
    // near-dup pair can never straddle train/val
    "sample_split_clustered" -> ((s, dir) => {
      val labels = operators.DedupOps.loadClusterLabels(
        s, Fixtures.clusterStorePath(s, dir))
      operators.SampleOps.splitAssignClustered(Tables.documents(s, dir),
          "doc_id", labels, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split"))
    }),

    // eval hygiene end-to-end: the same 80/10/10 split, then every TRAIN
    // doc sharing a word 4-gram with the val∪test holdout is flagged —
    // splitAssign composed with the guarded ngramOverlap
    "split_decontam" -> ((s, dir) => {
      val split = operators.SampleOps.splitAssign(Tables.documents(s, dir),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      operators.CurationOps.ngramOverlap(
          split.where(col("split") === "train"),
          split.where(col("split") =!= "train"), "doc_id", "text")
        .where(col("contaminated"))
    }),

    // connected components: dedup pairs -> duplicate clusters (min-id
    // label) via alternating large-star/small-star contraction. Edges are
    // a deterministic fixture (7-blocks chained every 3rd block) so the
    // oracle can rebuild them and close them transitively in SQL.
    "dedup_clusters" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val stars = d.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") - col("doc_id") % 7).as("id_b"))
      val bridges = d.where(col("doc_id") % 21 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") - 1).as("id_b"))
      operators.DedupOps.connectedComponents(stars.union(bridges), "id_a", "id_b")
    }),

    // incremental CC maintenance: the label store built base + one update
    // batch (bridges fusing base-era components) must read back as the
    // one-shot CC of the full edge set — same oracle as dedup_clusters
    "dedup_clusters_incremental" -> ((s, dir) =>
      operators.DedupOps.loadClusterLabels(s, Fixtures.clusterStorePath(s, dir))),

    // streaming cluster maintenance drained over the whole corpus from
    // cold-start stores: the label view must equal the one-shot CC over
    // the corpus's full near-dup pair set
    "stream_clusters" -> ((s, dir) =>
      operators.DedupOps.loadClusterLabels(s, Fixtures.streamClustersPath(s, dir))),

    // keep-BEST-quality representative per near-dup cluster (quality =
    // n_chars, ties to min id; singletons keep themselves) — served from
    // the PERSISTED cluster-label store's latest-wins view (the store
    // maintains the same %7/%21 graph; its view == one-shot CC is itself
    // gated by dedup_clusters_incremental), so this gate measures the
    // keep-best selection, not a re-clustering of edges the store already
    // labeled — the production curation shape
    "dedup_cluster_keep" -> ((s, dir) =>
      operators.DedupOps.clusterKeepBestFromLabels(Tables.documents(s, dir),
        "doc_id", "n_chars",
        operators.DedupOps.loadClusterLabels(s, Fixtures.clusterStorePath(s, dir)))),

    // cluster-balanced diversity sampling: equal md5-slot quota from each
    // semantic k-means cell (the IVF coarse quantizer's assignment)
    "sample_cluster_balanced" -> ((s, dir) =>
      operators.SimilarityOps.clusterBalancedSample(
        Tables.embeddings(s, dir), "vec_id", "embedding", perCellQuota = 5)),

    // exact cosine top-10 for the first 10 vectors as queries
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.bruteForceTopK(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", 10)
    }),

    // filtered vector search: exact top-10 among vectors satisfying a
    // metadata predicate (vec_id % 3 = 0) — pre-filter semantics, the
    // predicate pushed into the corpus scan
    "ann_filtered_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.filteredTopK(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", 10,
        col("vec_id") % 3 === 0)
    }),

    // IVF-bucketed ANN (approximate; validated vs brute force in tests)
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.ivfTopK(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", 10)
    }),

    // same IVF search through a PERSISTED index (build once, probe many;
    // assignments hive-partitioned by cell -> probes prune directories);
    // results — and the oracle — are identical to ann_ivf_topk
    "ann_ivf_persisted" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // the index is a memoized fixture (built once per JVM+sf): the gate
      // times the probe — the repeated query of a build-once-probe-many
      // index — not the one-time construction
      operators.SimilarityOps.ivfTopKIndexed(s,
        emb.where(col("vec_id") < 10), "vec_id", "embedding",
        Fixtures.ivfIndexPath(s, dir), 10)
    }),

    // incremental index serving: build on the base corpus (vec_id >= 50),
    // append the new batch against the FROZEN base centroids, probe — the
    // oracle refines centroids on the base rows only and assigns everything
    "ann_ivf_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.ivfTopKIndexed(s,
        emb.where(col("vec_id") < 10), "vec_id", "embedding",
        Fixtures.ivfAppendIndexPath(s, dir), 10)
    }),

    // SQ8 two-stage ANN: int8-quantized candidate scan (40 candidates),
    // exact fixed-point rescore to top 10 — candidate codes and scores
    // are engine-exact integers, so the oracle replays both stages
    "ann_sq8_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.sq8TopK(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", 10)
    }),

    // same SQ8 search through a PERSISTED code index (build once, probe
    // many; rescore touches only candidate rows of the source corpus) —
    // results, and the oracle, are identical to ann_sq8_topk
    "ann_sq8_persisted" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.sq8TopKIndexed(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding",
        Fixtures.sq8IndexPath(s, dir), 10)
    }),

    // PQ two-stage ANN: per-subspace codebooks (m=4, ksub=8, one
    // floored-integer Lloyd refinement), exact-long ADC candidate scan
    // (40 candidates), exact fixed-point rescore to top 10 — codebooks,
    // codes and candidate scores are engine-exact integers, so the oracle
    // replays the whole construction per sub-space
    "ann_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.pqTopK(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", 10,
        m = 4, ksub = 8, refineIters = 1)
    }),

    // OPQ-lite: variance-balancing dimension permutation (energy-ranked,
    // round-robin dealt) before the same PQ construction — sub-spaces get
    // equal energy, the exact-rescore tail is permutation-invariant
    "ann_pq_balanced" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.pqTopKBalanced(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", 10,
        m = 4, ksub = 8, refineIters = 1)
    }),

    // same PQ search through a PERSISTED code index (codebooks + codes on
    // disk; rescore point-looks-up the source corpus) — results, and the
    // oracle, are identical to ann_pq_topk
    "ann_pq_persisted" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.pqTopKIndexed(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding",
        Fixtures.pqIndexPath(s, dir), 10)
    }),

    // ANN recall-drift probe (the codebook-staleness monitoring signal):
    // sampled exact top-k vs the persisted PQ index's top-k, one
    // integer-exact aggregate row (n_queries, possible, hits, recall_ppm).
    // Both sides are deterministic, so the oracle replays the exact chain
    // AND the PQ chain and counts the overlap — the probe VALUE is gated,
    // not just its shape
    "ann_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.pqRecallProbe(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding",
        Fixtures.pqIndexPath(s, dir), 10)
    }),

    // IVF + PQ composed ANN (the billion-scale serving shape): IVF cells
    // prune the ADC scan to nProbe/nCells of the corpus, PQ codes compress
    // what is scanned, exact rescore of the survivors — both constructions
    // deterministic, so the oracle replays the two chains and joins them
    "ann_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.ivfPqTopK(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", 10)
    }),

    // same IVF+PQ search through a PERSISTED index: codes live CELL-
    // partitioned on disk, the probe lists only its nProbe cells' dirs —
    // results, and the oracle, are identical to ann_ivfpq_topk
    "ann_ivfpq_persisted" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.ivfPqTopKIndexed(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding",
        Fixtures.ivfPqIndexPath(s, dir), 10)
    }),

    // PQ search through an index maintained by the STREAMING append path
    // and then COMPACTED (batch dirs collapsed, sidecars carried): codebooks
    // trained on the base corpus (vec_id < 350), the rest drained micro-
    // batch by micro-batch under frozen codebooks; the oracle replays the
    // same construction (training restricted to the base, encoding over
    // everything) — so accumulation AND compaction must both preserve it
    "ann_pq_stream" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.SimilarityOps.pqTopKIndexed(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding",
        Fixtures.streamedPqPath(s, dir), 10)
    }),

    // embedding near-duplicate pairs (quantized-exact cosine >= 0.4)
    "emb_neardup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).where(col("vec_id") < 500)
      // unified entry point: 0.4 < RhpCosineThreshold routes to the exact
      // blocked-cartesian path (LSH cannot separate at low thresholds)
      operators.SimilarityOps.nearDupPairs(emb, "vec_id", "embedding", 0.4)
    }),

    // incremental exact embedding near-dup: probe vecs 350-499 against a
    // persisted two-batch store of vecs < 350 — batch broadcasts over one
    // store pass (no store-store quadratic), new-new pairs via the
    // blocked cartesian; equals the one-shot pairs touching the batch
    "emb_neardup_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .where(col("vec_id") >= 350 && col("vec_id") < 500)
      operators.SimilarityOps.incrementalCosinePairs(emb, "vec_id",
        "embedding", Fixtures.embStorePath(s, dir), 0.4)
    }),

    // streaming embedding near-dup drained cold-start over vec_id < 500 in
    // 3 micro-batches: batch pair dirs union to the one-shot exact pairs
    "stream_emb_neardup" -> ((s, dir) =>
      s.read.parquet(Fixtures.streamEmbNearDupPath(s, dir))
        .select("id_a", "id_b", "cosine")),

    // SemDeDup: near-dup pairs -> transitive clusters -> keep one
    // representative per cluster (exact pair path at this threshold)
    "semdedup_keep" -> ((s, dir) =>
      operators.SimilarityOps.semanticDedupKeep(
        Tables.embeddings(s, dir).where(col("vec_id") < 500),
        "vec_id", "embedding", 0.4)),

    // point-in-time (as-of) join of features onto an arbitrary spine —
    // the training-set constructor
    "fs_asof_spine" -> ((s, dir) => {
      val spine = s.range(0, 100).select(
        expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,cast(id*7 as int),0,0)")
          .as("time"),
        col("id").as("spine_id"))
      Fixtures.store(s, dir).loadFeaturesAsOf(spine,
        Seq("events/click", "events/purchase"))
    }),

    // the same spine with INTERPOLATED features: each feature linear
    // between its own neighbors around the spine instant, null outside
    // its span — continuous-signal training sets without stale carries
    "fs_asof_spine_interp" -> ((s, dir) => {
      val spine = s.range(0, 100).select(
        expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,cast(id*7 as int),0,0)")
          .as("time"),
        col("id").as("spine_id"))
      Fixtures.store(s, dir).loadFeaturesAsOf(spine,
        Seq("events/click", "events/purchase"), how = "interp")
    }),

    // the same spine under a 5min staleness bound: a carry older than 5min
    // at the spine instant serves null, never stale state (at sf0.01 most
    // spine instants are that stale, some are not)
    "fs_asof_spine_tol" -> ((s, dir) => {
      val spine = s.range(0, 100).select(
        expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,cast(id*7 as int),0,0)")
          .as("time"),
        col("id").as("spine_id"))
      Fixtures.store(s, dir).loadFeaturesAsOf(spine,
        Seq("events/click", "events/purchase"), tolerance = Some("5min"))
    }),

    // entity-keyed as-of join: per-user last click value at each purchase
    "asof_keyed" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val spine = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("time"), col("value").as("last_click"))
      ts.Align.pointInTime(spine, clicks, Seq("user_id"), "time", Seq("last_click"))
    }),

    // entity-keyed feature: per-(user, time) latest-version dedup load
    "fs_keyed_load" -> ((s, dir) =>
      Fixtures.store(s, dir).loadKeyed("events/click_by_user")),

    // entity-keyed point-in-time join THROUGH the store (vs asof_keyed's
    // raw-operator path): last stored click per user at each purchase
    "fs_keyed_asof" -> ((s, dir) => {
      val spine = Tables.events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      Fixtures.store(s, dir)
        .loadKeyedAsOf(spine, "events/click_by_user", as = Some("last_click"))
    }),

    // keyed as-of with a 2-day STALENESS BOUND (pandas merge_asof
    // tolerance / serving-freshness contract): a user's last click older
    // than 2d at the purchase instant comes back null, never stale
    "fs_keyed_asof_tol" -> ((s, dir) => {
      val spine = Tables.events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      Fixtures.store(s, dir)
        .loadKeyedAsOf(spine, "events/click_by_user", as = Some("last_click"),
          tolerance = Some("2d"))
    }),

    // online-serving bulk read: each user's most recent click value
    // at-or-before the bound — one partial max_by aggregate, no window
    "fs_keyed_latest" -> ((s, dir) =>
      Fixtures.store(s, dir).loadKeyedLatest("events/click_by_user",
        asOf = Some("2024-01-15"))),

    // the multi-feature keyed serving query: per-user last click AND last
    // view as of each purchase, one per-entity window stage per feature
    "fs_keyed_multi_asof" -> ((s, dir) => {
      val spine = Tables.events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      Fixtures.store(s, dir).loadKeyedFeaturesAsOf(spine,
        Seq("events/click_by_user", "events/view_by_user"))
    }),

    // merge_asof direction='forward': the FIRST click at-or-after each
    // purchase (label-lookahead join)
    "fs_keyed_asof_fwd" -> ((s, dir) => {
      val spine = Tables.events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      Fixtures.store(s, dir)
        .loadKeyedAsOf(spine, "events/click_by_user", as = Some("next_click"),
          direction = "forward")
    }),

    // merge_asof direction='nearest': the closer of the user's last and
    // next click, ties to the backward side (deterministic)
    "fs_keyed_asof_nearest" -> ((s, dir) => {
      val spine = Tables.events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      Fixtures.store(s, dir)
        .loadKeyedAsOf(spine, "events/click_by_user", as = Some("near_click"),
          direction = "nearest")
    }),

    // keyed as-of WITH time travel: "-30s" excludes the v=0 version of
    // every stored click (created_time == time), so the per-user as-of
    // sees v=1 → value*2 — the leakage-audited keyed training set:
    // "as of spine time, knowing only what had arrived 30s before event".
    "fs_keyed_asof_tt" -> ((s, dir) => {
      val spine = Tables.events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      Fixtures.store(s, dir)
        .loadKeyedAsOf(spine, "events/click_by_user", as = Some("last_click"),
          timeTravel = Some("-30s"))
    }),

    // per-entity resample: every user × a 12h grid, LOCF per user
    "fs_keyed_resample" -> ((s, dir) =>
      Fixtures.store(s, dir).loadKeyedResampled("events/click_by_user",
        "2024-01-01", "2024-01-08", "12h")),

    // the same per-entity grid with LINEAR interpolation between each
    // user's neighboring observations (null outside each user's data span)
    "fs_keyed_interp" -> ((s, dir) =>
      Fixtures.store(s, dir).loadKeyedResampled("events/click_by_user",
        "2024-01-01", "2024-01-08", "12h", how = "interp")),

    // multi-column feature group: full-width load (one scan, no join)
    "fg_load_wide" -> ((s, dir) =>
      Fixtures.store(s, dir).loadGroup("events/metrics")),

    // ENTITY-KEYED group: per-user wide serving table, latest-row dedup
    // per (user, time) — one scan, tripled versions resolve to v=0
    "fg_keyed_load" -> ((s, dir) =>
      Fixtures.store(s, dir).loadKeyedGroup("events/metrics_by_user")),

    // each user's most recent wide row at-or-before the bound — the bulk
    // online-store refresh, all signals from ONE winning row
    "fg_keyed_latest" -> ((s, dir) =>
      Fixtures.store(s, dir).loadKeyedGroupLatest("events/metrics_by_user",
        asOf = Some("2024-01-15"))),

    // the group's columns as-of each purchase, ONE window stage for all
    // signals (they live in one table)
    "fg_keyed_asof" -> ((s, dir) => {
      val spine = Tables.events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      Fixtures.store(s, dir).loadKeyedGroupAsOf(spine, "events/metrics_by_user")
    }),

    // group column-subset load in a time range: parquet reads ONLY `value`
    "fg_load_pruned" -> ((s, dir) =>
      Fixtures.store(s, dir).loadGroup("events/metrics", Seq("value"),
        from = Some("2024-01-10"), to = Some("2024-01-20"))),

    // ---- streaming (Structured Streaming, drained with AvailableNow) ------

    // streaming ingest through the batch save path → identical storage
    "stream_ingest_load" -> ((s, dir) =>
      Fixtures.streamedStore(s, dir).storage.load("events", "stream_click")),

    // the same ingest PACED into ~4 micro-batches with compactEvery=2 —
    // the auto-compaction policy end-to-end: content identical, files
    // rewritten mid-stream (file-count assertion in StreamingSpec)
    "stream_ingest_compacted" -> ((s, dir) =>
      Fixtures.streamedCompactStore(s, dir).storage.load("events", "stream_click_c")),

    // watermarked tumbling-window agg over the event stream
    "stream_window_counts" -> ((s, dir) =>
      s.read.parquet(Fixtures.windowedCountsPath(s, dir))
        .orderBy(col("window_start"), col("event_type"))),

    // watermark-bounded streaming dedup: 3x-duplicated stream collapses
    // back to the distinct source events
    "stream_dedup" -> ((s, dir) =>
      s.read.parquet(Fixtures.dedupedStreamPath(s, dir))
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .orderBy(col("event_id"))),

    // custom state machine: session windows via flatMapGroupsWithState
    "stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
        .as[streaming.StreamingOps.SessionEvent]
      streaming.StreamingOps.sessionizeStateful(ev, 30).toDF()
    }),

    // the TRUE streaming sessionizer (EventTimeTimeout state) over a real
    // multi-micro-batch file stream (maxFilesPerTrigger=1): sessions
    // straddling the batch boundary must stay whole; watermark sentinels
    // (negative user_ids, filtered here) close the tail sessions. Must
    // reproduce the batch gaps-and-islands oracle exactly.
    "stream_sessionize_mb" -> ((s, dir) =>
      s.read.parquet(Fixtures.sessionizedMbPath(s, dir))
        .where(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))),

    // same sessions via the declarative gaps-and-islands path
    "sessionize_batch" -> ((s, dir) =>
      streaming.StreamingOps.sessionizeBatch(
        Tables.events(s, dir).select(col("user_id"), col("ts")), "ts", "user_id", 30)),

    // binned range join, keyed: every click inside a same-user purchase's
    // 2h attribution window. 30-minute bins -> each window explodes to
    // <= 5 cells; the equi-join runs on (user_id, cell), never a
    // nested-loop. Oracle is DuckDB's literal inequality join.
    "range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val windows = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
      operators.RangeJoinOps.rangeJoin(clicks, "click_ts", windows,
          "w_start", "w_end", binWidth = 30L * 60 * 1000000, keys = Seq("user_id"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("click_ts"))
    }),

    // binned range join, KEYLESS: clicks inside ANY error's 5-minute
    // blast window — the bin cells alone carry the parallelism (no equi
    // key to hash on), which is exactly where Spark's own planner falls
    // back to a broadcast nested-loop
    "range_join_global" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
      val windows = ev.where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("w_end"))
      operators.RangeJoinOps.rangeJoin(clicks, "click_ts", windows,
          "w_start", "w_end", binWidth = 5L * 60 * 1000000)
        .select(col("click_id"), col("error_id"), col("click_ts"))
    }),

    // multimodal: metadata-only pass over the opaque binary column
    "mm_media_meta" -> ((s, dir) =>
      operators.MultimodalOps.mediaMeta(
        operators.MultimodalOps.asMediaTable(Tables.documents(s, dir), "doc_id", "text"))),

    // multimodal: batched per-partition decode stub → typed features
    "mm_decode_features" -> ((s, dir) =>
      operators.MultimodalOps.decodeFeatures(
        operators.MultimodalOps.asMediaTable(Tables.documents(s, dir), "doc_id", "text"))
        .toDF().select(col("id"), col("n_bytes"),
          col("width").cast("bigint").as("width"), col("height").cast("bigint").as("height"),
          posexplode(col("feature")))
        .select(col("id"), col("n_bytes"), col("width"), col("height"),
          col("pos").cast("bigint").as("dim"), col("col").cast("bigint").as("fval"))
        .orderBy(col("id"), col("dim"))),

    // multimodal: frame/window sampling stub (id, frame_idx) inventory
    "mm_frame_sample" -> ((s, dir) =>
      operators.MultimodalOps.sampleFrames(
        operators.MultimodalOps.asMediaTable(Tables.documents(s, dir), "doc_id", "text"))
        .toDF().select(col("id"), col("frame_idx").cast("bigint").as("frame_idx"),
          length(col("frame_bytes")).cast("bigint").as("n_bytes"))),

    // multimodal: REAL image decode — executor-generated PNG payloads whose
    // pixels are the closed form (id·31 + x·7 + y·13 + c·101) mod 256,
    // decoded back through the JDK's javax.imageio codec; PNG is lossless,
    // so the oracle reproduces the decoded per-channel pixel sums
    // arithmetically without a codec
    "mm_decode_real" -> ((s, dir) =>
      operators.MultimodalOps.decodeImageStats(
        operators.MultimodalOps.syntheticImageTable(
          Tables.documents(s, dir), "doc_id"))
        .toDF().orderBy(col("id"), col("channel"))),

    // multimodal: REAL audio decode — executor-generated WAV payloads whose
    // 16-bit PCM samples are the closed form ((id·31 + i·7) mod 65536) −
    // 32768, decoded back through the JDK's javax.sound.sampled WAV parser;
    // PCM-in-WAV is lossless, so the oracle reproduces the decoded sample
    // statistics (incl. zero-crossing counts) arithmetically
    "mm_audio_stats" -> ((s, dir) =>
      operators.MultimodalOps.decodeAudioStats(
        operators.MultimodalOps.syntheticAudioTable(
          Tables.documents(s, dir), "doc_id"))
        .toDF().orderBy(col("id"))),

    // multimodal: REAL video decode — executor-generated RIFF/AVI
    // containers (in-engine muxer, public chunk arithmetic) holding
    // Motion-PNG frames whose pixels are the closed form
    // ((id + f·1000003)·31 + x·7 + y·13 + c·101) mod 256; the in-engine
    // demuxer walks the movi list and javax.imageio decodes each frame.
    // PNG frames are lossless, so the oracle reproduces every frame's
    // decoded channel sums arithmetically. First 120 docs: the per-row
    // cost is frames × pixels, and 120 clips exercise every (dims,
    // frame-count) residue class
    "mm_video_stats" -> ((s, dir) =>
      operators.MultimodalOps.decodeVideoStats(
        operators.MultimodalOps.syntheticVideoTable(
          Tables.documents(s, dir).where(col("doc_id") < 120), "doc_id"))
        .toDF().orderBy(col("id"), col("frame"), col("channel"))),

    // multimodal: video frame SAMPLING — decode only every 2nd frame (the
    // training-pipeline pre-processing shape); same oracle filtered to the
    // sampled frame indices
    "mm_video_sample" -> ((s, dir) =>
      operators.MultimodalOps.decodeVideoStats(
        operators.MultimodalOps.syntheticVideoTable(
          Tables.documents(s, dir).where(col("doc_id") < 120), "doc_id"),
        stride = 2)
        .toDF().orderBy(col("id"), col("frame"), col("channel"))),

    // REAL Motion-JPEG decode (fourcc MJPG — the dominant intra-frame AVI
    // codec in the wild): the same RIFF demux, `javax.imageio`'s JPEG
    // codec per frame, executor-side. JPEG is lossy, so decoded sums are
    // codec-dependent — the gate follows the approx_stats shape:
    // SQL-recomputable structure (id, frame, width, height, channel) next
    // to a self-checked bound the oracle expects true: each decoded
    // channel sum within 8 gray-levels/pixel of the lossless closed form
    // (the JDK codec's worst case over every frame here measures 4.6 —
    // and a broken decode path scores ~85, so the bound separates hard)
    "mm_video_mjpeg" -> ((s, dir) => {
      val d = Tables.documents(s, dir).where(col("doc_id") < 120)
      val decoded = operators.MultimodalOps.decodeVideoStats(
        operators.MultimodalOps.syntheticVideoTable(d, "doc_id",
          still = "jpg")).toDF()
      val exact = d.select(col("doc_id").cast("long").as("id"))
        .withColumn("w", lit(8L) + pmod(col("id"), lit(9L)))
        .withColumn("h", lit(8L) + pmod(floor(col("id") / 9), lit(9L)))
        .withColumn("nf", lit(3L) + pmod(col("id"), lit(4L)))
        .select(col("id"), col("w"), col("h"),
          explode(sequence(lit(0L), col("nf") - 1)).as("frame"))
        .select(col("id"), col("w"), col("h"), col("frame"),
          explode(sequence(lit(0L), lit(2L))).as("channel"))
        .withColumn("exact_sum", expr(
          "aggregate(sequence(0L, w - 1), 0L, (acc, x) -> acc + " +
            "aggregate(sequence(0L, h - 1), 0L, (a2, y) -> a2 + " +
            "((id + frame*1000003)*31 + x*7 + y*13 + channel*101) % 256))"))
      decoded.join(exact, Seq("id", "frame", "channel"))
        .select(col("id"), col("frame"), col("width"), col("height"),
          col("channel"),
          (abs(col("pix_sum") - col("exact_sum")) <=
            lit(8L) * col("width") * col("height")).as("err_ok"))
        .orderBy(col("id"), col("frame"), col("channel"))
    }),

    // perceptual image hashing: dHash over REAL decoded PNG pixels —
    // nearest-neighbor 9x8 grid, integer-exact gray (r+g+b), 64-bit
    // gradient signature. PNG is lossless and the grid is pure integer
    // arithmetic, so the oracle replays every bit from the closed-form
    // pixel formula
    "mm_image_dhash" -> ((s, dir) =>
      operators.MultimodalOps.imageDHash(
        operators.MultimodalOps.syntheticImageTable(
          Tables.documents(s, dir).where(col("doc_id") < 200), "doc_id"))
        .select(col("id"), col("simhash").as("dhash"))
        .orderBy(col("id"))),

    // image NEAR-DUP on those hashes: the SimHash pigeonhole machinery
    // over dHash signatures (banded exact hamming <= 3) — image dedup
    // composed from the existing banded search, no new shuffle shapes
    "mm_image_neardup" -> ((s, dir) =>
      operators.DedupOps.simhashPairsFromSigs(
        operators.MultimodalOps.imageDHash(
          operators.MultimodalOps.syntheticImageTable(
            Tables.documents(s, dir).where(col("doc_id") < 200), "doc_id")),
        maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),
  )

  /** Fixture + load for the `serialized` drift feature: 500 struct values,
    * then the same 500 times shifted +40d with plain-long values appended
    * to the SAME feature — the sanctioned drift path. Shared by the raw
    * (`fs_serialized`) and decoded (`fs_serialized_decoded`) gates.
    */
  private def serializedLoad(s: SparkSession, dir: String): DataFrame = {
    val fs = Fixtures.store(s, dir)
    if (fs.catalog.getFeature("events", "props_ser").isEmpty) {
      fs.createFeature("events/props_ser", serialized = true)
      val ev = Tables.events(s, dir).limit(500)
      // struct values first...
      fs.saveDf(ev.select(col("ts").as("time"),
        struct(col("event_type"), col("user_id")).as("value"),
        col("ts").as("created_time")), name = Some("events/props_ser"))
      // ...then drifted plain longs appended to the same feature
      fs.saveDf(ev.select((col("ts") + expr("INTERVAL 40 DAYS")).as("time"),
        col("user_id").as("value"), col("ts").as("created_time")),
        name = Some("events/props_ser"))
    }
    fs.storage.load("events", "props_ser", serialized = true)
  }

  /** Shared oracle fragment: exact 3-shingle Jaccard pairs >= 1/2 over
    * documents — the ground truth both the LSH path and the brute-force
    * path must reproduce (integer-exact: 2*intersect >= union).
    */
  private val jaccardOracle =
    """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
       sh AS (SELECT DISTINCT doc_id, tks[i] || ' ' || tks[i+1] || ' ' || tks[i+2] AS s
              FROM docs, unnest(generate_series(1, len(tks) - 2)) t(i) WHERE len(tks) >= 3),
       sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       inter AS (SELECT a.doc_id ia, b.doc_id ib, count(*) m
                 FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       SELECT ia AS id_a, ib AS id_b, m AS intersect_size, sa.n + sb.n - m AS union_size
       FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
       WHERE 2 * m >= sa.n + sb.n - m ORDER BY 1, 2"""

  /** Shared oracle fragment: fixed-point-quantized embeddings flattened to
    * (vec_id, dim index, int value) — dot products and norms become
    * integer-exact sums, so cosine is bit-reproducible across engines.
    */
  private val embFlat =
    """e AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) v FROM embeddings),
       flat AS (SELECT vec_id, unnest(v) x, unnest(range(len(v))) i FROM e),
       norms AS (SELECT vec_id, sum(x * x) n2 FROM flat GROUP BY 1)"""

  def oracleSql: Map[String, String] = oracleSqlBase +
    // the persisted-index probe computes the same answer as the in-memory
    // IVF search — one oracle, two execution paths
    ("ann_ivf_persisted" -> oracleSqlBase("ann_ivf_topk")) +
    // the persisted SQ8 probe computes the same answer as the in-memory
    // two-stage search — one oracle, two execution paths
    ("ann_sq8_persisted" -> oracleSqlBase("ann_sq8_topk")) +
    // the persisted PQ probe computes the same answer as the in-memory
    // search (same codebooks, codes, tables) — one oracle, two paths
    ("ann_pq_persisted" -> oracleSqlBase("ann_pq_topk")) +
    // the persisted IVF+PQ probe computes the same answer as the in-memory
    // composition (same centroids, codebooks, cells, tie-breaks) — one
    // oracle, two execution paths
    ("ann_ivfpq_persisted" -> oracleSqlBase("ann_ivfpq_topk")) +
    // the stored-reference drift probe computes the same report as the
    // two-window scan — one oracle, two execution paths
    ("fs_drift_stored" -> oracleSqlBase("fs_drift_hist")) +
    // the drift summary folds the numeric report into the exact TV
    // distance + bitlen-PSI scalars (report oracle nested as a CTE)
    ("fs_drift_summary" ->
      s"""WITH rep AS (${oracleSqlBase("fs_drift_hist")})
          SELECT CAST(sum(abs(delta_ppm)) // 2 AS BIGINT) AS tv_ppm,
            CAST(sum((coalesce(cur_ppm, 0) - coalesce(ref_ppm, 0)) *
              (length(bin(coalesce(cur_ppm, 0) + 1))
                - length(bin(coalesce(ref_ppm, 0) + 1)))) AS BIGINT) AS psi_q
          FROM rep""") +
    // the incremental store's resolved view equals the one-shot change
    // capture — one oracle, two execution paths
    ("fs_scd2_incremental" -> oracleSqlBase("fs_scd2")) +
    // the streamed store's resolved view equals the one-shot change
    // capture — one oracle, three execution paths now
    ("stream_scd2" -> oracleSqlBase("fs_scd2")) +
    // the pruned store probe serves the same lookups as the in-memory
    // as-of — one oracle, two execution paths
    ("fs_scd2_asof_stored" -> oracleSqlBase("fs_scd2_asof")) +
    // the stream-maintained current histogram reproduces the two-window
    // drift report — one oracle, three execution paths now
    ("stream_drift" -> oracleSqlBase("fs_drift_hist")) +
    // the pre-cut scale path keeps the exact cut's answer by construction
    // (containment checked at run time) — one oracle, two execution paths
    ("quality_quantile_keep_large" -> oracleSqlBase("quality_quantile_keep")) +
    // micro-batched incremental dedup drains to the same pair set as the
    // one-shot probe — one oracle, two execution paths
    ("stream_dedup_incremental" -> oracleSqlBase("dedup_incremental")) +
    // the bloom pre-filtered probe computes the same answer as the plain
    // store probe (exact confirm join) — one oracle, two execution paths
    ("dedup_bloom_probe" -> oracleSqlBase("dedup_exact_incremental")) +
    ("dedup_bloom_sharded" -> oracleSqlBase("dedup_exact_incremental")) +
    // the incrementally-maintained label store reads back as the one-shot
    // CC labeling — one oracle, two execution paths
    ("dedup_clusters_incremental" -> oracleSqlBase("dedup_clusters"))

  private def oracleSqlBase: Map[String, String] = Map(
    "fs_load_latest" ->
      s"SELECT time, value FROM (${ev("click")}) ORDER BY time",

    // compaction preserves every version: the rewritten fragmented twin
    // reads back as the same latest-version series
    "fs_compact_load" ->
      s"SELECT time, value FROM (${ev("click")}) ORDER BY time",

    "fs_time_range" ->
      s"""SELECT time, value FROM (${ev("click")})
          WHERE time >= TIMESTAMP '2024-01-10 00:00:00'
            AND time <= TIMESTAMP '2024-01-20 00:00:00' ORDER BY time""",

    "fs_time_travel" ->
      s"SELECT time, value * 2 AS value FROM (${ev("click")}) ORDER BY time",

    // the ORC-backend namespace serves the same bounded latest view
    "fs_orc_backend" ->
      s"""SELECT time, value FROM (${ev("click")})
          WHERE time >= TIMESTAMP '2024-01-10 00:00:00'
            AND time <= TIMESTAMP '2024-01-20 00:00:00' ORDER BY time""",

    "fs_resample_2h" ->
      s"""WITH d AS (${ev("click")}),
          g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                 TIMESTAMP '2024-01-08 00:00:00', INTERVAL 2 HOUR)) AS time)
          SELECT g.time, d.value FROM g ASOF LEFT JOIN d ON d.time <= g.time
          ORDER BY g.time""",

    // d is bounded to the requested window: the engine's scan only reads
    // [from, to] (F1 inclusive bounds), so interpolation anchors only on
    // observations the query actually loaded
    "fs_resample_interp" ->
      s"""WITH d AS (SELECT * FROM (${ev("click")})
                     WHERE time >= TIMESTAMP '2024-01-01 00:00:00'
                       AND time <= TIMESTAMP '2024-01-08 00:00:00'),
          g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                 TIMESTAMP '2024-01-08 00:00:00', INTERVAL 2 HOUR)) AS time),
          pr AS (SELECT g.time,
                   (SELECT max(d.time) FROM d WHERE d.time <= g.time) AS t0,
                   (SELECT min(d.time) FROM d WHERE d.time >= g.time) AS t1
                 FROM g),
          j AS (SELECT pr.time, pr.t0, pr.t1, d0.value AS v0, d1.value AS v1
                FROM pr LEFT JOIN d d0 ON d0.time = pr.t0
                        LEFT JOIN d d1 ON d1.time = pr.t1)
          SELECT time,
            CASE WHEN t0 IS NULL OR t1 IS NULL THEN NULL
                 WHEN t1 = t0 THEN v0
                 ELSE v0 + (v1 - v0) *
                   (CAST(epoch_us(time) - epoch_us(t0) AS DOUBLE)
                    / CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE)) END AS value
          FROM j ORDER BY time""",

    "fs_align_ffill" ->
      s"""WITH c AS (${ev("click")}), p AS (${ev("purchase")}),
          j AS (SELECT coalesce(c.time, p.time) AS time, c.value AS cv, p.value AS pv
                FROM c FULL OUTER JOIN p ON c.time = p.time)
          SELECT time,
            last_value(cv IGNORE NULLS) OVER (ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS "events/click",
            last_value(pv IGNORE NULLS) OVER (ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS "events/purchase"
          FROM j ORDER BY time""",

    "fs_daily_profile" ->
      s"""WITH d AS (${ev("click")})
          SELECT make_timestamp(epoch_us(time) - epoch_us(time) % 86400000000)
              AS time_bucket,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
            min(value) AS min_value,
            max(value) AS max_value
          FROM d GROUP BY 1 ORDER BY 1""",

    "fs_align_interp" ->
      s"""WITH c AS (${ev("click")}), p AS (${ev("purchase")}),
          j AS (SELECT coalesce(c.time, p.time) AS time, c.value AS cv, p.value AS pv
                FROM c FULL OUTER JOIN p ON c.time = p.time),
          f AS (SELECT time,
            last_value(CASE WHEN cv IS NOT NULL THEN time END IGNORE NULLS)
              OVER wf AS ct0,
            last_value(cv IGNORE NULLS) OVER wf AS cv0,
            first_value(CASE WHEN cv IS NOT NULL THEN time END IGNORE NULLS)
              OVER wb AS ct1,
            first_value(cv IGNORE NULLS) OVER wb AS cv1,
            last_value(CASE WHEN pv IS NOT NULL THEN time END IGNORE NULLS)
              OVER wf AS pt0,
            last_value(pv IGNORE NULLS) OVER wf AS pv0,
            first_value(CASE WHEN pv IS NOT NULL THEN time END IGNORE NULLS)
              OVER wb AS pt1,
            first_value(pv IGNORE NULLS) OVER wb AS pv1
            FROM j
            WINDOW wf AS (ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wb AS (ORDER BY time ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
          SELECT time,
            CASE WHEN ct0 IS NULL OR ct1 IS NULL THEN NULL
                 WHEN ct1 = ct0 THEN cv0
                 ELSE cv0 + (cv1 - cv0) *
                   (CAST(epoch_us(time) - epoch_us(ct0) AS DOUBLE)
                    / CAST(epoch_us(ct1) - epoch_us(ct0) AS DOUBLE)) END
              AS "events/click",
            CASE WHEN pt0 IS NULL OR pt1 IS NULL THEN NULL
                 WHEN pt1 = pt0 THEN pv0
                 ELSE pv0 + (pv1 - pv0) *
                   (CAST(epoch_us(time) - epoch_us(pt0) AS DOUBLE)
                    / CAST(epoch_us(pt1) - epoch_us(pt0) AS DOUBLE)) END
              AS "events/purchase"
          FROM f ORDER BY time""",

    "fs_transform_dag" ->
      s"""SELECT time, value + value * value AS "events/click_comb"
          FROM (${ev("click")})
          WHERE time >= TIMESTAMP '2024-01-05 00:00:00'
            AND time <= TIMESTAMP '2024-01-15 00:00:00' ORDER BY time""",

    "fs_first_last" ->
      s"""WITH d AS (${ev("click")})
          SELECT min(time) AS first_time,
                 arg_min(value, time) AS first_value,
                 max(time) AS last_time,
                 arg_max(value, time) AS last_value,
                 min(time) FILTER (WHERE time >= TIMESTAMP '2024-01-15 12:00:00')
                   AS bounded_first_time,
                 arg_min(value, time) FILTER (WHERE time >= TIMESTAMP '2024-01-15 12:00:00')
                   AS bounded_first_value,
                 max(time) FILTER (WHERE time <= TIMESTAMP '2024-01-15 12:00:00')
                   AS bounded_last_time,
                 arg_max(value, time) FILTER (WHERE time <= TIMESTAMP '2024-01-15 12:00:00')
                   AS bounded_last_value FROM d""",

    "fs_check_violations" ->
      s"""WITH d AS (${ev("click")})
          SELECT 'value > 1' AS predicate, count(*) FILTER (WHERE NOT (value > 1)) AS violations FROM d
          UNION ALL
          SELECT 'value < 400', count(*) FILTER (WHERE NOT (value < 400)) FROM d""",

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_disc_price,
           COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",

    "q3_topk" ->
      """SELECT o_orderkey, o_orderdate,
           SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",

    "w_lag_delta" ->
      """SELECT event_id, user_id,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS delta
         FROM events ORDER BY event_id""",

    "w_rank_topn" ->
      """SELECT user_id, event_id, value, rn FROM
           (SELECT user_id, event_id, value, row_number() OVER
              (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn FROM events)
         WHERE rn <= 3 ORDER BY user_id, rn""",

    "set_ops" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
            s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
         SELECT nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
         UNION ALL
         SELECT nationkey + 1000 FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)""",

    // NOTE: DuckDB promotes sum(BIGINT) to HUGEINT (int128), which the
    // driver's hasher renders differently from Spark's int64 — every
    // integer sum below is CAST back to BIGINT (values are identical).
    "rollup_agg" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "distinct_agg" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q5_join" ->
      """SELECT n_name,
           SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
         FROM region, nation, customer, orders, lineitem
         WHERE r_regionkey = n_regionkey AND n_nationkey = c_nationkey
           AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         GROUP BY n_name ORDER BY n_name""",

    "scalar_funcs" ->
      """SELECT event_id, upper(event_type) AS type_upper,
           length(props) AS props_len,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           CAST(year(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y,
           CAST(day(CAST(ts AS TIMESTAMP)) AS BIGINT) AS d,
           CAST(floor(value) AS BIGINT) % 7 AS bucket
         FROM events ORDER BY event_id""",

    "fs_clone_load" ->
      s"SELECT time, value FROM (${ev("click")}) ORDER BY time",

    "skew_salted_agg" ->
      """SELECT event_type, count(*) AS count_rows,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
           max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_cents
         FROM events GROUP BY event_type ORDER BY event_type""",

    "layout_zorder" ->
      """SELECT event_id, user_id % 256 AS x, CAST(floor(value) AS BIGINT) AS y
         FROM events
         WHERE user_id % 256 BETWEEN 32 AND 63
           AND CAST(floor(value) AS BIGINT) BETWEEN 100 AND 199
         ORDER BY event_id""",

    "text_html_strip" ->
      """WITH h AS (SELECT doc_id,
           '<html><head><script type="text/javascript">var x = 1 < 2;</script><style>p { color: red }</style></head><body><h1>Title</h1><p>'
           || text ||
           '</p><!-- hidden --><div>Tail &amp; more &lt;tags&gt;</div></body></html>' AS html
         FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') x FROM h),
         s2 AS (SELECT doc_id, regexp_replace(x, '(?is)<style[^>]*>.*?</style>', ' ', 'g') x FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(x, '(?s)<!--.*?-->', ' ', 'g') x FROM s2),
         s4 AS (SELECT doc_id,
             CAST(len(regexp_extract_all(x, '<[^>]+>')) AS BIGINT) AS n_tags,
             regexp_replace(x, '<[^>]+>', ' ', 'g') x FROM s3),
         s5 AS (SELECT doc_id, n_tags,
             replace(replace(replace(replace(replace(replace(x,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
               '&nbsp;', ' '), '&amp;', '&') x
           FROM s4)
         SELECT doc_id, n_tags, trim(regexp_replace(x, '\s+', ' ', 'g')) AS text
         FROM s5 ORDER BY doc_id""",

    "text_group_keywords" ->
      """WITH tok AS (SELECT source AS grp, unnest(string_split(lower(text), ' ')) t
                      FROM documents),
         tf AS (SELECT grp, t, CAST(count(*) AS BIGINT) tf FROM tok GROUP BY 1, 2),
         gf AS (SELECT t, CAST(sum(tf) AS BIGINT) gf FROM tf GROUP BY t),
         n AS (SELECT CAST(sum(gf) AS BIGINT) total FROM gf),
         sc AS (SELECT tf.grp, tf.t,
                  tf.tf * (length(bin((SELECT total FROM n))) - length(bin(gf.gf))) AS score
                FROM tf JOIN gf ON tf.t = gf.t
                WHERE length(bin((SELECT total FROM n))) - length(bin(gf.gf)) > 0)
         SELECT grp AS source, t AS token, CAST(score AS BIGINT) AS score, rank FROM
           (SELECT *, CAST(row_number() OVER (PARTITION BY grp
              ORDER BY score DESC, t) AS BIGINT) AS rank FROM sc)
         WHERE rank <= 10 ORDER BY source, rank""",

    "fs_user_sequences" ->
      """WITH h AS (SELECT user_id, list(event_type ORDER BY ts, event_id) l
                    FROM events GROUP BY user_id)
         SELECT user_id, CAST(len(l) AS BIGINT) AS n_events,
           array_to_string(l[-8:], '>') AS seq
         FROM h ORDER BY user_id""",

    "text_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(lower(coalesce(text, '')), ' ')) tok
                    FROM documents),
         n AS (SELECT CAST(count(*) AS BIGINT) total FROM t)
         SELECT tok AS token, CAST(count(*) AS BIGINT) AS freq
         FROM t, n GROUP BY tok, total HAVING count(*) * 200 >= total
         ORDER BY token""",

    "corpus_windows" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') t FROM documents),
         g AS (SELECT doc_id, t, unnest(generate_series(0, (len(t)-1)//16)) AS i FROM d)
         SELECT doc_id, i AS win, i*16 AS tok_from,
           LEAST(i*16+32, len(t)) AS tok_to,
           array_to_string(t[(i*16+1):LEAST(i*16+32, len(t))], ' ') AS win_text
         FROM g ORDER BY doc_id, win""",

    // the 3 streamed micro-batches cover all events, so the oracle is the
    // same full-scan filter as layout_zorder's
    "stream_zorder" ->
      """SELECT event_id, user_id % 256 AS x, CAST(floor(value) AS BIGINT) AS y
         FROM events
         WHERE user_id % 256 BETWEEN 32 AND 63
           AND CAST(floor(value) AS BIGINT) BETWEEN 100 AND 199
         ORDER BY event_id""",

    // base ∪ appended batches cover all events, so the oracle is the same
    // full-scan filter as layout_zorder's
    "layout_zorder_append" ->
      """SELECT event_id, user_id % 256 AS x, CAST(floor(value) AS BIGINT) AS y
         FROM events
         WHERE user_id % 256 BETWEEN 32 AND 63
           AND CAST(floor(value) AS BIGINT) BETWEEN 100 AND 199
         ORDER BY event_id""",

    "fs_drift_cat" ->
      """WITH u AS (
           SELECT event_type AS category, 0 AS w FROM events
             WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
               AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-09 23:59:59'
           UNION ALL
           SELECT event_type, 1 FROM events
             WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
               AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-31 00:00:00'
         ),
         h AS (SELECT category,
                 CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) n_ref,
                 CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) n_cur
               FROM u GROUP BY 1),
         t AS (SELECT h.*, sum(n_ref) OVER () tr, sum(n_cur) OVER () tc FROM h)
         SELECT category, n_ref, n_cur,
           CASE WHEN tr > 0 THEN CAST(n_ref * 1000000 // tr AS BIGINT) END AS ref_ppm,
           CASE WHEN tc > 0 THEN CAST(n_cur * 1000000 // tc AS BIGINT) END AS cur_ppm,
           (CASE WHEN tc > 0 THEN CAST(n_cur * 1000000 // tc AS BIGINT) END)
             - (CASE WHEN tr > 0 THEN CAST(n_ref * 1000000 // tr AS BIGINT) END) AS delta_ppm
         FROM t ORDER BY category""",

    "fs_normalize" ->
      s"""WITH v AS (SELECT time, CAST(floor(value * 100 + 0.5) AS BIGINT) c
                     FROM (${ev("click")})),
          m AS (SELECT CAST(sum(c) AS DOUBLE) s1,
                  CAST(sum(c * c) AS DOUBLE) s2,
                  CAST(count(*) AS BIGINT) n FROM v)
          SELECT time, c AS cents,
            CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
              THEN (CAST(c AS DOUBLE) - s1 / n)
                   / sqrt(s2 / n - (s1 / n) * (s1 / n)) END AS z
          FROM v, m ORDER BY time""",

    "sample_folds" ->
      """SELECT doc_id, lang,
           CAST(slot * 5 // 1000000 AS BIGINT) AS fold
         FROM (SELECT doc_id, lang,
                 CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 1000000 AS slot
               FROM documents)
         ORDER BY doc_id""",

    "layout_bucketed_join" ->
      """SELECT e.user_id, e.event_id, e.event_type,
           CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents,
           u.user_rows, u.user_types
         FROM events e
         JOIN (SELECT user_id, count(*) AS user_rows,
                 count(DISTINCT event_type) AS user_types
               FROM events GROUP BY 1) u
           ON e.user_id = u.user_id
         ORDER BY e.event_id""",

    "corpus_report" ->
      """WITH h AS (SELECT lang, CAST(count(*) AS BIGINT) n_docs,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) n_tokens,
             CAST(sum(length(text)) AS BIGINT) n_chars
           FROM documents GROUP BY lang),
         t AS (SELECT h.*, sum(n_docs) OVER () total FROM h)
         SELECT lang, n_docs, n_tokens, n_chars,
           CAST(n_docs * 1000000 // total AS BIGINT) AS docs_ppm
         FROM t ORDER BY lang""",

    "fs_decayed_spine" ->
      """WITH sp AS (SELECT user_id,
             CAST(ts AS TIMESTAMP) + INTERVAL 37 MINUTE AS ts, event_id
           FROM events WHERE event_type = 'purchase'),
         jj AS (SELECT unnest(generate_series(0, 3)) AS j),
         b AS (SELECT sp.user_id, sp.ts, sp.event_id, jj.j,
                 CAST(coalesce(sum(CASE
                   WHEN epoch_us(CAST(e.ts AS TIMESTAMP))
                          > epoch_us(sp.ts) - (jj.j + 1) * 259200000000
                    AND epoch_us(CAST(e.ts AS TIMESTAMP))
                          <= epoch_us(sp.ts) - jj.j * 259200000000
                   THEN CAST(floor(e.value * 100 + 0.5) AS BIGINT) END), 0)
                 AS BIGINT) s
               FROM sp CROSS JOIN jj
               LEFT JOIN events e ON e.user_id = sp.user_id
               GROUP BY 1, 2, 3, 4)
         SELECT user_id, ts, event_id,
           CAST(sum(CAST(floor(s / pow(2, j)) AS BIGINT)) AS BIGINT)
             AS decayed_cents
         FROM b GROUP BY 1, 2, 3 ORDER BY user_id, ts, event_id""",

    "fs_rolling_spine" ->
      """WITH sp AS (SELECT user_id,
             CAST(ts AS TIMESTAMP) + INTERVAL 37 MINUTE AS ts, event_id
           FROM events WHERE event_type = 'purchase')
         SELECT sp.user_id, sp.ts, sp.event_id,
           CAST(count(e.ts) AS BIGINT) AS count_rows_w,
           CAST(coalesce(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)), 0)
             AS BIGINT) AS sum_cents_w
         FROM sp LEFT JOIN events e
           ON e.user_id = sp.user_id
           AND CAST(e.ts AS TIMESTAMP) > sp.ts - INTERVAL 7 DAY
           AND CAST(e.ts AS TIMESTAMP) <= sp.ts
         GROUP BY sp.user_id, sp.ts, sp.event_id
         ORDER BY sp.user_id, sp.ts, sp.event_id""",

    "fs_rolling_agg" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS time,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           CAST(count(*) OVER w AS BIGINT) AS count_rows_w,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT)
             AS sum_cents_w,
           max(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS max_cents_w
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
                      RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
         ORDER BY user_id, time""",

    "fs_scd2_asof" ->
      """WITH o AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id,
             CASE WHEN row_number() OVER w = 1
                    OR lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ),
         c AS (SELECT user_id, event_type, ts AS valid_from, event_id
               FROM o WHERE chg = 1),
         iv AS (SELECT user_id, event_type, valid_from,
                  lead(valid_from) OVER (PARTITION BY user_id
                                         ORDER BY valid_from, event_id) AS valid_to
                FROM c),
         live AS (SELECT * FROM iv
                  WHERE valid_to IS NULL OR valid_to > valid_from),
         sp AS (SELECT user_id,
                  CAST(ts AS TIMESTAMP) + INTERVAL 37 MINUTE AS ts, event_id
                FROM events WHERE event_type = 'purchase')
         SELECT sp.user_id, sp.ts, sp.event_id, live.event_type
         FROM sp ASOF LEFT JOIN live
           ON sp.user_id = live.user_id AND sp.ts >= live.valid_from
         ORDER BY sp.user_id, sp.ts, sp.event_id""",

    "skew_salted_join" ->
      """SELECT e.event_id, e.event_type, CAST(floor(e.value) AS BIGINT) AS vfloor,
           t.type_rows, t.type_users
         FROM events e
         JOIN (SELECT event_type, count(*) AS type_rows,
                 count(DISTINCT user_id) AS type_users
               FROM events GROUP BY 1) t
           ON e.event_type = t.event_type
         ORDER BY e.event_id""",

    "fs_scd2" ->
      """WITH o AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id,
             CASE WHEN row_number() OVER w = 1
                    OR lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ),
         c AS (SELECT user_id, event_type, ts AS valid_from, event_id
               FROM o WHERE chg = 1)
         SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to
         FROM c
         ORDER BY user_id, valid_from, event_type, valid_to NULLS LAST""",

    "fs_drift_hist" ->
      s"""WITH v AS (${ev("click")}),
         u AS (
           SELECT value, 0 AS w FROM v
             WHERE time >= TIMESTAMP '2024-01-01 00:00:00'
               AND time <= TIMESTAMP '2024-01-09 23:59:59'
           UNION ALL
           SELECT value, 1 AS w FROM v
             WHERE time >= TIMESTAMP '2024-01-10 00:00:00'
               AND time <= TIMESTAMP '2024-01-31 00:00:00'
         ),
         h AS (
           SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 25.0) AS BIGINT), 0), 19) AS bin,
             CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
           FROM u GROUP BY 1
         ),
         t AS (SELECT h.*, sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc FROM h)
         SELECT bin, n_ref, n_cur,
           CASE WHEN tr > 0 THEN CAST(n_ref * 1000000 // tr AS BIGINT) END AS ref_ppm,
           CASE WHEN tc > 0 THEN CAST(n_cur * 1000000 // tc AS BIGINT) END AS cur_ppm,
           (CASE WHEN tc > 0 THEN CAST(n_cur * 1000000 // tc AS BIGINT) END)
             - (CASE WHEN tr > 0 THEN CAST(n_ref * 1000000 // tr AS BIGINT) END) AS delta_ppm
         FROM t ORDER BY bin""",

    "dedup_exact_map" ->
      """WITH f AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) fp
                    FROM documents)
         SELECT doc_id, fp AS fingerprint, min(doc_id) OVER (PARTITION BY fp) AS canonical_id
         FROM f ORDER BY doc_id""",

    // independent replay of the URL fixture construction AND the
    // canonicalization chain (host lowercased, www./default-port stripped,
    // tracking params cut, trailing separators trimmed)
    "text_url_canon" ->
      """WITH u AS (
           SELECT doc_id, concat(
             CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.'
                  WHEN doc_id % 4 = 1 THEN 'http://'
                  WHEN doc_id % 4 = 2 THEN 'https://www.'
                  ELSE '' END,
             'Site', CAST(doc_id % 7 AS VARCHAR), '.Example.COM',
             CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
             '/Page/', CAST(doc_id % 40 AS VARCHAR),
             CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
             CASE WHEN doc_id % 2 = 0
                    THEN concat('?utm_source=feed&x=', CAST(doc_id % 40 AS VARCHAR), '&gclid=abc')
                  WHEN doc_id % 3 = 1 THEN concat('?x=', CAST(doc_id % 40 AS VARCHAR))
                  ELSE '' END,
             CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
           FROM documents),
         s2 AS (SELECT doc_id, url,
             regexp_replace(regexp_replace(trim(url), '#.*$', ''), '(?i)^https?://', '') AS ns
           FROM u),
         hp AS (SELECT doc_id, url,
             regexp_replace(regexp_replace(lower(regexp_extract(ns, '^[^/?]*')),
               '^www\.', ''), ':(80|443)$', '') AS host,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(ns, '^[^/?]*', ''),
               '(?i)([?&])(utm_[a-z0-9_]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g'),
               '([?&])&+', '\1', 'g'),
               '/+\?', '?', 'g'), '[?&]$', ''), '/+$', '') AS rest
           FROM s2),
         canon AS (SELECT doc_id, url, host || rest AS canon_url,
             regexp_replace(host, ':[0-9]+$', '') AS host_only
           FROM hp)
         SELECT doc_id, url, canon_url, host_only AS host
         FROM canon ORDER BY doc_id""",

    "dedup_url" ->
      """WITH u AS (
           SELECT doc_id, concat(
             CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.'
                  WHEN doc_id % 4 = 1 THEN 'http://'
                  WHEN doc_id % 4 = 2 THEN 'https://www.'
                  ELSE '' END,
             'Site', CAST(doc_id % 7 AS VARCHAR), '.Example.COM',
             CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
             '/Page/', CAST(doc_id % 40 AS VARCHAR),
             CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
             CASE WHEN doc_id % 2 = 0
                    THEN concat('?utm_source=feed&x=', CAST(doc_id % 40 AS VARCHAR), '&gclid=abc')
                  WHEN doc_id % 3 = 1 THEN concat('?x=', CAST(doc_id % 40 AS VARCHAR))
                  ELSE '' END,
             CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
           FROM documents),
         s2 AS (SELECT doc_id, url,
             regexp_replace(regexp_replace(trim(url), '#.*$', ''), '(?i)^https?://', '') AS ns
           FROM u),
         hp AS (SELECT doc_id, url,
             regexp_replace(regexp_replace(lower(regexp_extract(ns, '^[^/?]*')),
               '^www\.', ''), ':(80|443)$', '') AS host,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(ns, '^[^/?]*', ''),
               '(?i)([?&])(utm_[a-z0-9_]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g'),
               '([?&])&+', '\1', 'g'),
               '/+\?', '?', 'g'), '[?&]$', ''), '/+$', '') AS rest
           FROM s2),
         canon AS (SELECT doc_id, url, host || rest AS canon_url,
             regexp_replace(host, ':[0-9]+$', '') AS host_only
           FROM hp)
         SELECT doc_id, canon_url,
           min(doc_id) OVER (PARTITION BY canon_url) AS canonical_id
         FROM canon ORDER BY doc_id""",

    // store = docs < 250, batch = docs >= 250 covers the corpus, so the
    // min over store ∪ batch per fingerprint IS the corpus-wide window min
    // restricted to batch rows
    "dedup_exact_incremental" ->
      """WITH f AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) fp
                    FROM documents),
         w AS (SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS canonical_id FROM f)
         SELECT doc_id, fp AS fingerprint, canonical_id
         FROM w WHERE doc_id >= 250 ORDER BY doc_id""",

    // the serving twin: whole-corpus ground truth restricted to the
    // SMALL probe batch (docs < 250); canonical = min id across
    // store (>= 250) ∪ batch == min over the corpus per fingerprint
    "dedup_exact_serving" ->
      """WITH f AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) fp
                    FROM documents),
         w AS (SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS canonical_id FROM f)
         SELECT doc_id, fp AS fingerprint, canonical_id
         FROM w WHERE doc_id < 250 ORDER BY doc_id""",

    "dedup_minhash_lsh" -> jaccardOracle,

    // CC labeling over the corpus's full near-dup pair set (the jaccard
    // oracle's edge set, which the LSH path reproduces exactly here)
    "stream_clusters" ->
      """WITH RECURSIVE
         docs AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         sh AS (SELECT DISTINCT doc_id, tks[i] || ' ' || tks[i+1] || ' ' || tks[i+2] AS s
                FROM docs, unnest(generate_series(1, len(tks) - 2)) t(i) WHERE len(tks) >= 3),
         sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id ia, b.doc_id ib, count(*) m
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         e AS (SELECT ia AS a, ib AS b
               FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
               WHERE 2 * m >= sa.n + sb.n - m),
         sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(id, r) AS (
           SELECT DISTINCT a AS id, a AS r FROM sym
           UNION
           SELECT s.a AS id, rc.r FROM sym s JOIN reach rc ON s.b = rc.id)
         SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""",

    // same ground truth restricted to pairs touching the new split
    // (doc_id >= 250), but over 31-bit shingle-hash sets — exactly what the
    // store persists; both engines hash identically so sizes agree by
    // construction
    "dedup_incremental" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT DISTINCT doc_id, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3] AS s
               FROM d, unnest(range(len(tks) - 2)) t(i) WHERE len(tks) >= 3),
         h AS (SELECT DISTINCT doc_id,
                 CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % 2147483648 AS hh
               FROM g),
         sizes AS (SELECT doc_id, count(*) n FROM h GROUP BY 1),
         inter AS (SELECT a.doc_id ia, b.doc_id ib, count(*) isz
                   FROM h a JOIN h b ON a.hh = b.hh AND a.doc_id < b.doc_id
                   WHERE a.doc_id >= 250 OR b.doc_id >= 250
                   GROUP BY 1, 2)
         SELECT ia id_a, ib id_b, CAST(isz AS BIGINT) intersect_size,
           CAST(sa.n + sb.n - isz AS BIGINT) union_size
         FROM inter JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
         WHERE 2 * isz >= (sa.n + sb.n - isz)
         ORDER BY 1, 2""",

    // serving twin of dedup_incremental: pairs touching the small batch
    "dedup_minhash_serving" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT DISTINCT doc_id, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3] AS s
               FROM d, unnest(range(len(tks) - 2)) t(i) WHERE len(tks) >= 3),
         h AS (SELECT DISTINCT doc_id,
                 CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % 2147483648 AS hh
               FROM g),
         sizes AS (SELECT doc_id, count(*) n FROM h GROUP BY 1),
         inter AS (SELECT a.doc_id ia, b.doc_id ib, count(*) isz
                   FROM h a JOIN h b ON a.hh = b.hh AND a.doc_id < b.doc_id
                   WHERE a.doc_id < 250 OR b.doc_id < 250
                   GROUP BY 1, 2)
         SELECT ia id_a, ib id_b, CAST(isz AS BIGINT) intersect_size,
           CAST(sa.n + sb.n - isz AS BIGINT) union_size
         FROM inter JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
         WHERE 2 * isz >= (sa.n + sb.n - isz)
         ORDER BY 1, 2""",
    // the gated path applies the df<=50 stop-shingle cut: sizes,
    // intersections and unions over the surviving vocabulary only (at
    // sf0.1 max shingle df is 25, so the capped and uncapped answers
    // coincide — the SQL still expresses the capped contract)
    "dedup_ngram_jaccard" ->
      """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         sh AS (SELECT DISTINCT doc_id, tks[i] || ' ' || tks[i+1] || ' ' || tks[i+2] AS s
                FROM docs, unnest(generate_series(1, len(tks) - 2)) t(i) WHERE len(tks) >= 3),
         live AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
         tok AS (SELECT sh.doc_id, sh.s FROM sh JOIN live USING (s)),
         sz AS (SELECT doc_id, count(*) n FROM tok GROUP BY 1),
         inter AS (SELECT a.doc_id ia, b.doc_id ib, count(*) m
                   FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT ia AS id_a, ib AS id_b, m AS intersect_size, sa.n + sb.n - m AS union_size
         FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
         WHERE 2 * m >= sa.n + sb.n - m ORDER BY 1, 2""",

    "dedup_simhash" ->
      """WITH tok AS (SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) h FROM documents),
         bits AS (SELECT doc_id, b,
             sum(CASE WHEN ((strpos('0123456789abcdef', substring(h, b // 4 + 1, 1)) - 1)
                            >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END) s
           FROM tok, unnest(generate_series(0, 63)) t(b) GROUP BY 1, 2)
         SELECT doc_id, string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
         FROM bits GROUP BY doc_id ORDER BY doc_id""",

    // exhaustive-scan twin of the banded Spark path (banding is exact here)
    "dedup_simhash_pairs" ->
      """WITH tok AS (SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) h FROM documents),
         bits AS (SELECT doc_id, b,
             sum(CASE WHEN ((strpos('0123456789abcdef', substring(h, b // 4 + 1, 1)) - 1)
                            >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END) s
           FROM tok, unnest(generate_series(0, 63)) t(b) GROUP BY 1, 2),
         sh AS (SELECT doc_id, string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS sig
                FROM bits GROUP BY doc_id),
         pairs AS (SELECT a.doc_id ia, b.doc_id ib, a.sig sa, b.sig sb
                   FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         h AS (SELECT ia, ib,
                 CAST(len(list_filter(range(64),
                   i -> substring(sa, CAST(i + 1 AS INT), 1)
                        != substring(sb, CAST(i + 1 AS INT), 1))) AS BIGINT) hamming
               FROM pairs)
         SELECT ia AS id_a, ib AS id_b, hamming FROM h
         WHERE hamming <= 3 ORDER BY 1, 2""",

    // dedup_simhash_pairs restricted to pairs touching the probed batch
    "dedup_simhash_incremental" ->
      """WITH tok AS (SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) h FROM documents),
         bits AS (SELECT doc_id, b,
             sum(CASE WHEN ((strpos('0123456789abcdef', substring(h, b // 4 + 1, 1)) - 1)
                            >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END) s
           FROM tok, unnest(generate_series(0, 63)) t(b) GROUP BY 1, 2),
         sh AS (SELECT doc_id, string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS sig
                FROM bits GROUP BY doc_id),
         pairs AS (SELECT a.doc_id ia, b.doc_id ib, a.sig sa, b.sig sb
                   FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         h AS (SELECT ia, ib,
                 CAST(len(list_filter(range(64),
                   i -> substring(sa, CAST(i + 1 AS INT), 1)
                        != substring(sb, CAST(i + 1 AS INT), 1))) AS BIGINT) hamming
               FROM pairs)
         SELECT ia AS id_a, ib AS id_b, hamming FROM h
         WHERE hamming <= 3 AND (ia >= 250 OR ib >= 250) ORDER BY 1, 2""",

    // serving twin: pairs touching the small batch
    "dedup_simhash_serving" ->
      """WITH tok AS (SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) h FROM documents),
         bits AS (SELECT doc_id, b,
             sum(CASE WHEN ((strpos('0123456789abcdef', substring(h, b // 4 + 1, 1)) - 1)
                            >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END) s
           FROM tok, unnest(generate_series(0, 63)) t(b) GROUP BY 1, 2),
         sh AS (SELECT doc_id, string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS sig
                FROM bits GROUP BY doc_id),
         pairs AS (SELECT a.doc_id ia, b.doc_id ib, a.sig sa, b.sig sb
                   FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         h AS (SELECT ia, ib,
                 CAST(len(list_filter(range(64),
                   i -> substring(sa, CAST(i + 1 AS INT), 1)
                        != substring(sb, CAST(i + 1 AS INT), 1))) AS BIGINT) hamming
               FROM pairs)
         SELECT ia AS id_a, ib AS id_b, hamming FROM h
         WHERE hamming <= 3 AND (ia < 250 OR ib < 250) ORDER BY 1, 2""",

    // RE2's \x escapes and DuckDB's nfc_normalize mirror the engine's
    // Java-regex + java.text.Normalizer pipeline exactly
    "text_clean" ->
      """SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(nfc_normalize(coalesce(text, '')),
               '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', ' ', 'g'),
             '[ \t]+', ' ', 'g')) AS text
         FROM documents ORDER BY doc_id""",

    "text_stats" ->
      """WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') tks FROM documents)
         SELECT doc_id,
           len(tks) AS n_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens,
           len(regexp_extract_all(text, '[.,;:!?''"()\-]')) AS n_punct,
           len(list_filter(tks, x -> x IN ('the','a','an','and','or','of','to','in','is','it',
               'that','this','for','on','with','as','at','by','be'))) AS n_stopwords,
           CAST(list_sum(list_transform(tks, x -> length(x))) AS DOUBLE)
             / CAST(len(tks) AS DOUBLE) AS mean_token_len,
           (CAST(len(list_filter(tks, x -> x IN ('the','a','an','and','or','of','to','in','is','it',
               'that','this','for','on','with','as','at','by','be'))) AS DOUBLE)
             / CAST(len(tks) AS DOUBLE)) * 0.4
           + least(CAST(length(text) AS DOUBLE) / 1000.0, 1.0) * 0.3
           + (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?''"()\-]')) AS DOUBLE)
                    / CAST(length(text) AS DOUBLE)) * 0.3 AS quality
         FROM t ORDER BY doc_id""",

    "text_langid" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         s AS (SELECT doc_id,
           len(list_filter(tks, x -> x IN ('der','die','das','und','nicht','ist'))) de,
           len(list_filter(tks, x -> x IN ('the','a','of','and','is','to'))) en,
           len(list_filter(tks, x -> x IN ('el','la','los','que','y','es'))) es,
           len(list_filter(tks, x -> x IN ('le','la','les','et','est','une'))) fr,
           len(list_filter(tks, x -> x IN ('的','是','了','在','我','有'))) zh
           FROM t)
         SELECT doc_id, CASE
             WHEN greatest(de, en, es, fr, zh) = 0 THEN 'unknown'
             WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
             WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
             WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
             WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
             ELSE 'zh' END AS lang_guess
         FROM s ORDER BY doc_id""",

    // winnowing: same k-gram hash (md5-prefix60), same window-min with
    // rightmost tie-break (struct min on (hash, -pos)), full windows only
    "text_winnow" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, i, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3] || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         h AS (SELECT doc_id, i, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) hh FROM g),
         sel AS (SELECT doc_id,
                   min(struct_pack(hh := hh, np := -i))
                     OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) win,
                   count(*) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) cnt
                 FROM h)
         SELECT DISTINCT doc_id AS id, CAST(-win.np AS BIGINT) AS pos,
           win.hh AS fingerprint
         FROM sel WHERE cnt = 5 ORDER BY id, pos""",

    // same quantized idf as the search gates; live terms df <= 20 AND
    // idf > 0; threshold compare mirrors the Spark-side exact-int doubles
    "sim_tfidf_pairs" ->
      """WITH tok AS (SELECT doc_id,
                        unnest(string_split(lower(coalesce(text, '')), ' ')) t
                      FROM documents),
         tf AS (SELECT doc_id, t, count(*) tf FROM tok GROUP BY 1, 2),
         dft AS (SELECT t, count(*) df,
                   length(bin((SELECT count(*) FROM documents)))
                     - length(bin(count(*))) idf
                 FROM tf GROUP BY t),
         live AS (SELECT t, idf FROM dft WHERE df <= 30 AND idf > 0),
         w AS (SELECT tf.t, tf.doc_id, tf.tf * live.idf AS w
               FROM tf JOIN live ON tf.t = live.t),
         nrm AS (SELECT doc_id, sum(w * w) n2 FROM w GROUP BY doc_id),
         d AS (SELECT a.doc_id ia, b.doc_id ib, sum(a.w * b.w) dot
               FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT ia AS id_a, ib AS id_b, CAST(dot AS BIGINT) dot,
           CAST(na.n2 AS BIGINT) norm2_a, CAST(nb.n2 AS BIGINT) norm2_b
         FROM d JOIN nrm na ON d.ia = na.doc_id
                JOIN nrm nb ON d.ib = nb.doc_id
         WHERE CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE) * 25.0
           >= 16.0 * CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)
         ORDER BY id_a, id_b""",

    // same winnowing construction as text_winnow, then: distinct (doc, fp),
    // stop-fingerprint cut at doc-freq 20, per-fp self-join pair counts,
    // shared >= 2, sizes joined back
    "dedup_winnow_pairs" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, i, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         h AS (SELECT doc_id, i, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) hh FROM g),
         sel AS (SELECT doc_id,
                   min(struct_pack(hh := hh, np := -i))
                     OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) win,
                   count(*) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) cnt
                 FROM h),
         fp AS (SELECT DISTINCT doc_id, win.hh AS f FROM sel WHERE cnt = 5),
         dfq AS (SELECT f, count(*) c FROM fp GROUP BY f),
         live AS (SELECT fp.doc_id, fp.f FROM fp JOIN dfq ON fp.f = dfq.f
                  WHERE dfq.c <= 20),
         pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) shared
                   FROM live a JOIN live b ON a.f = b.f AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         sz AS (SELECT doc_id, count(*) n FROM fp GROUP BY doc_id)
         SELECT ia AS id_a, ib AS id_b, CAST(shared AS BIGINT) shared_fps,
           CAST(sa.n AS BIGINT) n_a, CAST(sb.n AS BIGINT) n_b
         FROM pairs JOIN sz sa ON pairs.ia = sa.doc_id
                    JOIN sz sb ON pairs.ib = sb.doc_id
         WHERE shared >= 2 ORDER BY id_a, id_b""",

    // dedup_winnow_pairs restricted to pairs touching the probed batch
    // (docs >= 250): the store-probe result must equal the one-shot
    // whole-corpus computation on that slice
    "dedup_winnow_incremental" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, i, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         h AS (SELECT doc_id, i, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) hh FROM g),
         sel AS (SELECT doc_id,
                   min(struct_pack(hh := hh, np := -i))
                     OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) win,
                   count(*) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) cnt
                 FROM h),
         fp AS (SELECT DISTINCT doc_id, win.hh AS f FROM sel WHERE cnt = 5),
         dfq AS (SELECT f, count(*) c FROM fp GROUP BY f),
         live AS (SELECT fp.doc_id, fp.f FROM fp JOIN dfq ON fp.f = dfq.f
                  WHERE dfq.c <= 20),
         pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) shared
                   FROM live a JOIN live b ON a.f = b.f AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         sz AS (SELECT doc_id, count(*) n FROM fp GROUP BY doc_id)
         SELECT ia AS id_a, ib AS id_b, CAST(shared AS BIGINT) shared_fps,
           CAST(sa.n AS BIGINT) n_a, CAST(sb.n AS BIGINT) n_b
         FROM pairs JOIN sz sa ON pairs.ia = sa.doc_id
                    JOIN sz sb ON pairs.ib = sb.doc_id
         WHERE shared >= 2 AND (ia >= 250 OR ib >= 250)
         ORDER BY id_a, id_b""",

    // serving twin: pairs touching the small batch
    "dedup_winnow_serving" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, i, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         h AS (SELECT doc_id, i, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) hh FROM g),
         sel AS (SELECT doc_id,
                   min(struct_pack(hh := hh, np := -i))
                     OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) win,
                   count(*) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) cnt
                 FROM h),
         fp AS (SELECT DISTINCT doc_id, win.hh AS f FROM sel WHERE cnt = 5),
         dfq AS (SELECT f, count(*) c FROM fp GROUP BY f),
         live AS (SELECT fp.doc_id, fp.f FROM fp JOIN dfq ON fp.f = dfq.f
                  WHERE dfq.c <= 20),
         pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) shared
                   FROM live a JOIN live b ON a.f = b.f AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         sz AS (SELECT doc_id, count(*) n FROM fp GROUP BY doc_id)
         SELECT ia AS id_a, ib AS id_b, CAST(shared AS BIGINT) shared_fps,
           CAST(sa.n AS BIGINT) n_a, CAST(sb.n AS BIGINT) n_b
         FROM pairs JOIN sz sa ON pairs.ia = sa.doc_id
                    JOIN sz sb ON pairs.ib = sb.doc_id
         WHERE shared >= 2 AND (ia < 250 OR ib < 250)
         ORDER BY id_a, id_b""",

    // dedup_winnow_pairs without the df cut (500 docs can never cross the
    // default 1000-doc cap): the streamed drain must union to exactly this
    "stream_winnow" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, i, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         h AS (SELECT doc_id, i, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) hh FROM g),
         sel AS (SELECT doc_id,
                   min(struct_pack(hh := hh, np := -i))
                     OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) win,
                   count(*) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) cnt
                 FROM h),
         fp AS (SELECT DISTINCT doc_id, win.hh AS f FROM sel WHERE cnt = 5),
         pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) shared
                   FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         sz AS (SELECT doc_id, count(*) n FROM fp GROUP BY doc_id)
         SELECT ia AS id_a, ib AS id_b, CAST(shared AS BIGINT) shared_fps,
           CAST(sa.n AS BIGINT) n_a, CAST(sb.n AS BIGINT) n_b
         FROM pairs JOIN sz sa ON pairs.ia = sa.doc_id
                    JOIN sz sb ON pairs.ib = sb.doc_id
         WHERE shared >= 2 ORDER BY id_a, id_b""",

    "text_token_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                      FROM documents)
         SELECT token, CAST(count(*) AS BIGINT) AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
         FROM tok GROUP BY token
         ORDER BY freq DESC, token LIMIT 100""",

    // same Java-regex/RE2-common patterns and URL -> email -> phone
    // order as TextOps.redactionStats; counts on progressively redacted text
    "text_redact" ->
      """WITH s1 AS (SELECT doc_id, text,
              regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t1
            FROM documents),
         s2 AS (SELECT doc_id, text, t1,
              regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                '<EMAIL>', 'g') AS t2
            FROM s1)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(t1,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t2,
             '\+?[0-9][0-9 ()\-]{6,}[0-9]')) AS BIGINT) AS n_phones,
           regexp_replace(t2, '\+?[0-9][0-9 ()\-]{6,}[0-9]', '<PHONE>', 'g')
             AS redacted_text
         FROM s2""",

    // line-level dedup at token granularity: canonical occurrence = min
    // (doc_id, idx) struct per line, docs rebuilt by position, lost-all-
    // lines docs come back as ''
    "text_line_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') tks
                    FROM documents),
         l AS (SELECT doc_id, i AS idx, tks[i+1] AS line
               FROM d, unnest(range(len(tks))) t(i)),
         c AS (SELECT line, min(struct_pack(d := doc_id, i := idx)) f
               FROM l GROUP BY line),
         k AS (SELECT l.doc_id, l.idx, l.line FROM l JOIN c ON l.line = c.line
               WHERE (c.f).d = l.doc_id AND (c.f).i = l.idx),
         r AS (SELECT doc_id, string_agg(line, ' ' ORDER BY idx) txt
               FROM k GROUP BY doc_id)
         SELECT d0.doc_id, coalesce(r.txt, '') AS text
         FROM documents d0 LEFT JOIN r ON d0.doc_id = r.doc_id""",

    // words with corpus-wide occurrence count >= 50 stripped from every
    // doc; n_cut_lines = original token count minus survivors
    "text_boilerplate" ->
      """WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') tks
                    FROM documents),
         l AS (SELECT doc_id, i AS idx, tks[i+1] AS line
               FROM d, unnest(range(len(tks))) t(i)),
         c AS (SELECT line, count(*) cc FROM l GROUP BY line),
         k AS (SELECT l.doc_id, l.idx, l.line FROM l JOIN c ON l.line = c.line
               WHERE c.cc < 50),
         r AS (SELECT doc_id, string_agg(line, ' ' ORDER BY idx) txt,
                 count(*) kc FROM k GROUP BY doc_id)
         SELECT d0.doc_id, coalesce(r.txt, '') AS text,
           CAST(len(string_split(coalesce(d0.text, ''), ' '))
             - coalesce(r.kc, 0) AS BIGINT) AS n_cut_lines
         FROM documents d0 LEFT JOIN r ON d0.doc_id = r.doc_id
         ORDER BY d0.doc_id""",

    // identical semantics — the persisted census must reproduce the
    // one-shot removal exactly (counts additive across the two batches)
    "text_boilerplate_stored" ->
      """WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') tks
                    FROM documents),
         l AS (SELECT doc_id, i AS idx, tks[i+1] AS line
               FROM d, unnest(range(len(tks))) t(i)),
         c AS (SELECT line, count(*) cc FROM l GROUP BY line),
         k AS (SELECT l.doc_id, l.idx, l.line FROM l JOIN c ON l.line = c.line
               WHERE c.cc < 50),
         r AS (SELECT doc_id, string_agg(line, ' ' ORDER BY idx) txt,
                 count(*) kc FROM k GROUP BY doc_id)
         SELECT d0.doc_id, coalesce(r.txt, '') AS text,
           CAST(len(string_split(coalesce(d0.text, ''), ' '))
             - coalesce(r.kc, 0) AS BIGINT) AS n_cut_lines
         FROM documents d0 LEFT JOIN r ON d0.doc_id = r.doc_id
         ORDER BY d0.doc_id""",

    // per-batch cumulative census: batch m strips words counted >= 50
    // among the batches BEFORE it (doc_id % 3 < m)
    "stream_boilerplate" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 AS m,
                      string_split(coalesce(text, ''), ' ') tks
                    FROM documents),
         l AS (SELECT doc_id, m, i AS idx, tks[i+1] AS line
               FROM d, unnest(range(len(tks))) t(i)),
         cen AS (SELECT m2.m, l.line, count(*) cc
                 FROM l JOIN (VALUES (0), (1), (2)) m2(m) ON l.m < m2.m
                 GROUP BY 1, 2),
         k AS (SELECT l.doc_id, l.idx, l.line
               FROM l LEFT JOIN cen ON cen.m = l.m AND cen.line = l.line
               WHERE coalesce(cen.cc, 0) < 50),
         r AS (SELECT doc_id, string_agg(line, ' ' ORDER BY idx) txt,
                 count(*) kc FROM k GROUP BY doc_id)
         SELECT d0.doc_id, coalesce(r.txt, '') AS text,
           CAST(len(string_split(coalesce(d0.text, ''), ' '))
             - coalesce(r.kc, 0) AS BIGINT) AS n_cut_lines
         FROM documents d0 LEFT JOIN r ON d0.doc_id = r.doc_id
         ORDER BY d0.doc_id""",

    // duplicated 4-windows via the same md5-prefix60 content hash; islands
    // merge while the position gap <= 4 (lag default -5 = -k-1 makes the
    // first row a break); spans are [min, max+4) token intervals
    "dedup_substring_spans" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, i, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         h AS (SELECT doc_id, i, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) hh FROM g),
         dup AS (SELECT doc_id, i FROM (
                  SELECT doc_id, i, count(*) OVER (PARTITION BY hh) n FROM h) WHERE n > 1),
         sp AS (SELECT doc_id, i,
                 CASE WHEN i - coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), -5) > 4
                      THEN 1 ELSE 0 END brk FROM dup),
         isl AS (SELECT doc_id, i,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY i) isl FROM sp)
         SELECT doc_id, CAST(min(i) AS BIGINT) span_from,
           CAST(max(i) + 4 AS BIGINT) span_to, CAST(count(*) AS BIGINT) n_windows
         FROM isl GROUP BY doc_id, isl ORDER BY doc_id, span_from""",

    // the incremental probe must equal the whole-corpus computation
    // restricted to the probe batch — the oracle IS the one-shot spans SQL
    // with the final output filtered to doc_id >= 250
    "dedup_substring_incremental" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, i, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         h AS (SELECT doc_id, i, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) hh FROM g),
         dup AS (SELECT doc_id, i FROM (
                  SELECT doc_id, i, count(*) OVER (PARTITION BY hh) n FROM h) WHERE n > 1),
         sp AS (SELECT doc_id, i,
                 CASE WHEN i - coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), -5) > 4
                      THEN 1 ELSE 0 END brk FROM dup),
         isl AS (SELECT doc_id, i,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY i) isl FROM sp)
         SELECT doc_id, CAST(min(i) AS BIGINT) span_from,
           CAST(max(i) + 4 AS BIGINT) span_to, CAST(count(*) AS BIGINT) n_windows
         FROM isl WHERE doc_id >= 250
         GROUP BY doc_id, isl ORDER BY doc_id, span_from""",

    // one-shot cut SQL with output (and the token/rebuild side) restricted
    // to the probe batch; the canonical CTEs stay corpus-wide
    "dedup_substring_incremental_cut" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, i, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         h AS (SELECT doc_id, i, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) hh FROM g),
         c AS (SELECT hh, min(struct_pack(d := doc_id, i := i)) f, count(*) n
               FROM h GROUP BY hh),
         nc AS (SELECT h.doc_id, h.i FROM h JOIN c ON h.hh = c.hh
                WHERE c.n > 1 AND NOT ((c.f).d = h.doc_id AND (c.f).i = h.i)),
         cut AS (SELECT DISTINCT doc_id, pos FROM
                  (SELECT doc_id, unnest(range(i, i + 4)) pos FROM nc)
                 WHERE doc_id >= 250),
         tk AS (SELECT doc_id, j AS pos, tks0[j+1] AS t
                FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') tks0
                      FROM documents WHERE doc_id >= 250),
                     unnest(range(len(tks0))) u(j)),
         kept AS (SELECT tk.doc_id, tk.pos, tk.t FROM tk LEFT JOIN cut
                  ON tk.doc_id = cut.doc_id AND tk.pos = cut.pos
                  WHERE cut.pos IS NULL),
         r AS (SELECT doc_id, string_agg(t, ' ' ORDER BY pos) txt
               FROM kept GROUP BY doc_id)
         SELECT d0.doc_id, coalesce(r.txt, '') AS text
         FROM (SELECT * FROM documents WHERE doc_id >= 250) d0
         LEFT JOIN r ON d0.doc_id = r.doc_id""",

    // per-doc coverage: spans are disjoint by construction so the token sum
    // is exact; n_tokens = whitespace tokens (split yields >= 1 per doc)
    "dedup_substring_stats" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, i, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         h AS (SELECT doc_id, i, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) hh FROM g),
         dup AS (SELECT doc_id, i FROM (
                  SELECT doc_id, i, count(*) OVER (PARTITION BY hh) n FROM h) WHERE n > 1),
         sp AS (SELECT doc_id, i,
                 CASE WHEN i - coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), -5) > 4
                      THEN 1 ELSE 0 END brk FROM dup),
         isl AS (SELECT doc_id, i,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY i) isl FROM sp),
         spans AS (SELECT doc_id, min(i) span_from, max(i) + 4 span_to
                   FROM isl GROUP BY doc_id, isl),
         ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_spans,
                  CAST(sum(span_to - span_from) AS BIGINT) dup_tokens
                FROM spans GROUP BY doc_id)
         SELECT d0.doc_id, CAST(len(string_split(lower(d0.text), ' ')) AS BIGINT) n_tokens,
           coalesce(ag.n_spans, 0) AS n_spans, coalesce(ag.dup_tokens, 0) AS dup_tokens,
           CAST(coalesce(ag.dup_tokens, 0) AS DOUBLE)
             / CAST(len(string_split(lower(d0.text), ' ')) AS DOUBLE) AS dup_frac
         FROM documents d0 LEFT JOIN ag ON d0.doc_id = ag.doc_id""",

    // canonical occurrence = min (doc, pos) struct per window content;
    // tokens covered by any LATER occurrence are cut, docs reassembled from
    // original-case tokens by position (all-cut docs come back as '')
    "dedup_substring_cut" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, i, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         h AS (SELECT doc_id, i, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) hh FROM g),
         c AS (SELECT hh, min(struct_pack(d := doc_id, i := i)) f, count(*) n
               FROM h GROUP BY hh),
         nc AS (SELECT h.doc_id, h.i FROM h JOIN c ON h.hh = c.hh
                WHERE c.n > 1 AND NOT ((c.f).d = h.doc_id AND (c.f).i = h.i)),
         cut AS (SELECT DISTINCT doc_id, pos FROM
                  (SELECT doc_id, unnest(range(i, i + 4)) pos FROM nc)),
         tk AS (SELECT doc_id, j AS pos, tks0[j+1] AS t
                FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') tks0
                      FROM documents),
                     unnest(range(len(tks0))) u(j)),
         kept AS (SELECT tk.doc_id, tk.pos, tk.t FROM tk LEFT JOIN cut
                  ON tk.doc_id = cut.doc_id AND tk.pos = cut.pos
                  WHERE cut.pos IS NULL),
         r AS (SELECT doc_id, string_agg(t, ' ' ORDER BY pos) txt
               FROM kept GROUP BY doc_id)
         SELECT d0.doc_id, coalesce(r.txt, '') AS text
         FROM documents d0 LEFT JOIN r ON d0.doc_id = r.doc_id""",

    // hashed linear scorer: same md5-prefix bucket hash and md5-derived
    // integer weights as the Spark side; integer-valued doubles sum exactly
    // in any order, so the mean is IEEE-identical
    "quality_linear" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) t
                      FROM documents),
         b AS (SELECT doc_id,
                 CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % 4096 AS bk
               FROM tok),
         w AS (SELECT doc_id,
                 (CAST('0x' || substring(md5('w' || bk), 1, 15) AS BIGINT) % 1001)
                   - 500 AS w
               FROM b),
         s AS (SELECT doc_id, CAST(sum(w) AS DOUBLE) / count(*) AS score
               FROM w GROUP BY doc_id)
         SELECT d.doc_id, coalesce(s.score, 0.0) AS score
         FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""",

    // bigram position i pairs tks[i+1], tks[i+2] (1-based); surprise per
    // position = bitlen(c1+V) - bitlen(c12+1), bin() renders unpadded in
    // both engines; V = distinct ref unigrams
    "quality_lm_surprise" ->
      """WITH d AS (SELECT doc_id, lang, string_split(lower(text), ' ') tks
                    FROM documents),
         rb AS (SELECT tks[i+1] w1, tks[i+2] w2 FROM d, unnest(range(len(tks) - 1)) t(i)
                WHERE lang = 'en' AND len(tks) >= 2),
         c12 AS (SELECT w1, w2, count(*) c FROM rb GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) c FROM rb GROUP BY 1),
         v AS (SELECT count(DISTINCT t) vv FROM
                 (SELECT unnest(tks) t FROM d WHERE lang = 'en')),
         pos AS (SELECT doc_id, tks[i+1] w1, tks[i+2] w2
                 FROM d, unnest(range(len(tks) - 1)) t(i) WHERE len(tks) >= 2),
         j AS (SELECT doc_id,
                 length(bin(coalesce(c1.c + v.vv, v.vv)))
                   - length(bin(coalesce(c12.c, 0) + 1)) AS s,
                 CASE WHEN c12.c IS NULL THEN 0 ELSE 1 END hb,
                 CASE WHEN c1.c IS NULL THEN 0 ELSE 1 END hc
               FROM pos CROSS JOIN v
                 LEFT JOIN c12 ON c12.w1 = pos.w1 AND c12.w2 = pos.w2
                 LEFT JOIN c1 ON c1.w1 = pos.w1),
         a AS (SELECT doc_id, count(*) nb, sum(hb) hb, sum(hc) hc, sum(s) sb
               FROM j GROUP BY 1)
         SELECT doc.doc_id, CAST(coalesce(a.nb, 0) AS BIGINT) n_bigrams,
           CAST(coalesce(a.hb, 0) AS BIGINT) hit_bigrams,
           CAST(coalesce(a.hc, 0) AS BIGINT) hit_contexts,
           CAST(coalesce(a.sb, 0) AS BIGINT) surprise_bits,
           CASE WHEN a.nb > 0 THEN CAST(a.sb AS DOUBLE) / a.nb END avg_surprise_bits
         FROM documents doc LEFT JOIN a ON a.doc_id = doc.doc_id
         ORDER BY doc.doc_id""",

    // identical semantics to quality_lm_surprise — the persisted-model
    // probe must reproduce the inline scorer exactly
    "quality_lm_stored" ->
      """WITH d AS (SELECT doc_id, lang, string_split(lower(text), ' ') tks
                    FROM documents),
         rb AS (SELECT tks[i+1] w1, tks[i+2] w2 FROM d, unnest(range(len(tks) - 1)) t(i)
                WHERE lang = 'en' AND len(tks) >= 2),
         c12 AS (SELECT w1, w2, count(*) c FROM rb GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) c FROM rb GROUP BY 1),
         v AS (SELECT count(DISTINCT t) vv FROM
                 (SELECT unnest(tks) t FROM d WHERE lang = 'en')),
         pos AS (SELECT doc_id, tks[i+1] w1, tks[i+2] w2
                 FROM d, unnest(range(len(tks) - 1)) t(i) WHERE len(tks) >= 2),
         j AS (SELECT doc_id,
                 length(bin(coalesce(c1.c + v.vv, v.vv)))
                   - length(bin(coalesce(c12.c, 0) + 1)) AS s,
                 CASE WHEN c12.c IS NULL THEN 0 ELSE 1 END hb,
                 CASE WHEN c1.c IS NULL THEN 0 ELSE 1 END hc
               FROM pos CROSS JOIN v
                 LEFT JOIN c12 ON c12.w1 = pos.w1 AND c12.w2 = pos.w2
                 LEFT JOIN c1 ON c1.w1 = pos.w1),
         a AS (SELECT doc_id, count(*) nb, sum(hb) hb, sum(hc) hc, sum(s) sb
               FROM j GROUP BY 1)
         SELECT doc.doc_id, CAST(coalesce(a.nb, 0) AS BIGINT) n_bigrams,
           CAST(coalesce(a.hb, 0) AS BIGINT) hit_bigrams,
           CAST(coalesce(a.hc, 0) AS BIGINT) hit_contexts,
           CAST(coalesce(a.sb, 0) AS BIGINT) surprise_bits,
           CASE WHEN a.nb > 0 THEN CAST(a.sb AS DOUBLE) / a.nb END avg_surprise_bits
         FROM documents doc LEFT JOIN a ON a.doc_id = doc.doc_id
         ORDER BY doc.doc_id""",

    // token/bigram repetition shares; bigram i pairs tks[i], tks[i+1]
    // (1-based, range end-exclusive = Spark's zip_with of the two slices);
    // fractions are IEEE divisions of exact integers on both sides
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tks FROM documents),
         tc AS (SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(tks) AS tok FROM t) GROUP BY 1, 2),
         ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_tok
                FROM tc GROUP BY 1),
         bgr AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(tks)),
                     i -> tks[i] || ' ' || tks[i + 1])) AS bg
                 FROM t WHERE len(tks) >= 2),
         bc AS (SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY 1, 2),
         bs AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bg,
                  sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_bg
                FROM bc GROUP BY 1)
         SELECT ts.doc_id, ts.n_tokens,
           CAST(top_tok AS DOUBLE) / CAST(ts.n_tokens AS DOUBLE) AS top_token_frac,
           coalesce(CAST(top_bg AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0)
             AS top_bigram_frac,
           coalesce(CAST(dup_bg AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0)
             AS dup_bigram_frac
         FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id""",

    // hashed unigram+bigram features (md5-prefix60 % 4096), target counts
    // from lang='en', raw counts from all docs; per-occurrence quantized
    // log ratio via bin() lengths — integers both engines, one final mean
    "dsir_weights" ->
      """WITH d AS (SELECT doc_id, lang,
                      string_split(lower(coalesce(text, '')), ' ') tks
                    FROM documents),
         f AS (SELECT doc_id, lang, unnest(list_concat(tks,
                 list_transform(range(1, len(tks)), i -> tks[i] || ' ' || tks[i+1]))) ft
               FROM d),
         b AS (SELECT doc_id, lang,
                 CAST('0x' || substring(md5(ft), 1, 15) AS BIGINT) % 4096 bk FROM f),
         ct AS (SELECT bk, count(*) c FROM b WHERE lang = 'en' GROUP BY bk),
         cr AS (SELECT bk, count(*) c FROM b GROUP BY bk),
         j AS (SELECT b.doc_id,
                 length(bin(coalesce(ct.c, 0) + 1)) - length(bin(cr.c + 1)) s
               FROM b LEFT JOIN ct ON b.bk = ct.bk JOIN cr ON b.bk = cr.bk),
         a AS (SELECT doc_id, count(*) nf, sum(s) sb FROM j GROUP BY 1)
         SELECT d0.doc_id, CAST(coalesce(a.nf, 0) AS BIGINT) n_feats,
           CAST(coalesce(a.sb, 0) AS BIGINT) logratio_bits,
           CASE WHEN a.nf > 0 THEN CAST(a.sb AS DOUBLE) / a.nf END avg_logratio_bits
         FROM documents d0 LEFT JOIN a ON d0.doc_id = a.doc_id""",

    // tf from tokens filtered to the query terms, idf_bits = bitlen(N) -
    // bitlen(df) over the same filtered rows, (score DESC, doc_id) total
    // order at the cut
    "search_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) t
                      FROM documents),
         q AS (SELECT doc_id, t FROM tok WHERE t IN ('dup', 'spark', 'query')),
         tf AS (SELECT doc_id, t, count(*) tf FROM q GROUP BY 1, 2),
         dft AS (SELECT t, length(bin((SELECT count(*) FROM documents)))
                      - length(bin(count(*))) idf FROM tf GROUP BY t),
         s AS (SELECT doc_id, sum(tf * idf) score, count(*) n_terms
               FROM tf JOIN dft USING (t) GROUP BY 1)
         SELECT doc_id, CAST(score AS BIGINT) score, CAST(n_terms AS BIGINT) n_terms
         FROM s ORDER BY score DESC, doc_id LIMIT 20""",

    // BM25 quantization replayed exactly: a10 = (10·T) // N, per-term
    // contribution (22000·a10·idf·tf) // (10·a10·tf + 3·a10 + 90·dl);
    // all operands positive so DuckDB's // and Spark's div agree
    "search_bm25_topk" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks
                    FROM documents),
         stats AS (SELECT count(*) n, CAST(sum(len(tks)) AS BIGINT) t FROM d),
         a AS (SELECT n, (10 * t) // n AS a10 FROM stats),
         tok AS (SELECT doc_id, unnest(tks) tk, len(tks) dl FROM d),
         q AS (SELECT doc_id, tk, dl FROM tok
               WHERE tk IN ('dup', 'spark', 'query')),
         tf AS (SELECT doc_id, tk, count(*) tf, max(dl) dl FROM q GROUP BY 1, 2),
         dft AS (SELECT tk, length(bin((SELECT n FROM stats)))
                      - length(bin(count(*))) idf FROM tf GROUP BY tk),
         c AS (SELECT doc_id,
                 (22000 * a.a10 * idf * tf)
                   // (10 * a.a10 * tf + 3 * a.a10 + 90 * dl) AS cc
               FROM tf JOIN dft USING (tk), a),
         s AS (SELECT doc_id, sum(cc) score, count(*) n_terms FROM c GROUP BY 1)
         SELECT doc_id, CAST(score AS BIGINT) score, CAST(n_terms AS BIGINT) n_terms
         FROM s ORDER BY score DESC, doc_id LIMIT 20""",

    // identical semantics to search_tfidf_topk — the streamed-then-
    // compacted index probe must reproduce the whole-corpus scorer exactly
    "search_index_stream" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) t
                      FROM documents),
         q AS (SELECT doc_id, t FROM tok WHERE t IN ('dup', 'spark', 'query')),
         tf AS (SELECT doc_id, t, count(*) tf FROM q GROUP BY 1, 2),
         dft AS (SELECT t, length(bin((SELECT count(*) FROM documents)))
                      - length(bin(count(*))) idf FROM tf GROUP BY t),
         s AS (SELECT doc_id, sum(tf * idf) score, count(*) n_terms
               FROM tf JOIN dft USING (t) GROUP BY 1)
         SELECT doc_id, CAST(score AS BIGINT) score, CAST(n_terms AS BIGINT) n_terms
         FROM s ORDER BY score DESC, doc_id LIMIT 20""",

    // identical semantics to search_tfidf_topk — the index probe must
    // reproduce the whole-corpus scorer exactly (df/N additive across the
    // two store batches)
    "search_index_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) t
                      FROM documents),
         q AS (SELECT doc_id, t FROM tok WHERE t IN ('dup', 'spark', 'query')),
         tf AS (SELECT doc_id, t, count(*) tf FROM q GROUP BY 1, 2),
         dft AS (SELECT t, length(bin((SELECT count(*) FROM documents)))
                      - length(bin(count(*))) idf FROM tf GROUP BY t),
         s AS (SELECT doc_id, sum(tf * idf) score, count(*) n_terms
               FROM tf JOIN dft USING (t) GROUP BY 1)
         SELECT doc_id, CAST(score AS BIGINT) score, CAST(n_terms AS BIGINT) n_terms
         FROM s ORDER BY score DESC, doc_id LIMIT 20""",

    // 4-grams via 1-based list indexing over range(len-3) (end-exclusive) =
    // Spark's sequence(0, size-4) shingle starts; corpus/bench split on
    // doc_id % 17; DISTINCT-per-doc overlap counts, any-collision flag
    "text_contam" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
         corp AS (SELECT doc_id, count(DISTINCT s) n_shingles,
                    count(DISTINCT s) FILTER (s IN (SELECT s FROM bench)) n_overlap
                  FROM g WHERE doc_id % 17 != 0 GROUP BY 1)
         SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           n_overlap > 0 AS contaminated
         FROM corp ORDER BY doc_id""",

    // matched windows = corpus 4-grams in the bench distinct set; cut
    // positions [i-2, i+5] clamped at 0 (range end-exclusive i+6), docs
    // rebuilt from surviving original-case tokens
    "text_contam_cut" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, i, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
         m AS (SELECT doc_id, i FROM g
               WHERE doc_id % 17 != 0 AND s IN (SELECT s FROM bench)),
         cut AS (SELECT DISTINCT doc_id, pos FROM
                  (SELECT doc_id, unnest(range(greatest(i - 2, 0), i + 6)) pos FROM m)),
         tk AS (SELECT doc_id, j AS pos, tks0[j+1] AS t
                FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') tks0
                      FROM documents WHERE doc_id % 17 != 0),
                     unnest(range(len(tks0))) u(j)),
         kept AS (SELECT tk.doc_id, tk.pos, tk.t FROM tk LEFT JOIN cut
                  ON tk.doc_id = cut.doc_id AND tk.pos = cut.pos
                  WHERE cut.pos IS NULL),
         r AS (SELECT doc_id, string_agg(t, ' ' ORDER BY pos) txt, count(*) kc
               FROM kept GROUP BY doc_id)
         SELECT d0.doc_id, coalesce(r.txt, '') AS text,
           CAST(len(string_split(lower(coalesce(d0.text, '')), ' '))
             - coalesce(r.kc, 0) AS BIGINT) AS n_cut_tokens
         FROM (SELECT * FROM documents WHERE doc_id % 17 != 0) d0
         LEFT JOIN r ON d0.doc_id = r.doc_id""",

    // composition of the text_contam, text_repetition and dedup_exact_map
    // oracles restricted to the corpus split, with the keep thresholds
    // applied; fractions are IEEE divisions of exact integers on both sides
    "curate_keep" ->
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 17 != 0),
         d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
         contam AS (SELECT doc_id FROM g WHERE doc_id % 17 != 0
                    GROUP BY 1
                    HAVING count(DISTINCT s) FILTER (s IN (SELECT s FROM bench)) > 0),
         tc AS (SELECT doc_id, tok, count(*) c
                FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) tok
                      FROM corpus) GROUP BY 1, 2),
         rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens,
                   CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) top_token_frac
                 FROM tc GROUP BY 1),
         canon AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY
                     md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) cid
                   FROM corpus)
         SELECT r.doc_id, c2.lang, r.n_tokens, r.top_token_frac
         FROM rep r
         JOIN corpus c2 ON c2.doc_id = r.doc_id
         JOIN canon cn ON cn.doc_id = r.doc_id AND cn.cid = r.doc_id
         WHERE r.doc_id NOT IN (SELECT doc_id FROM contam)
           AND r.n_tokens >= 20 AND r.top_token_frac <= 0.12
         ORDER BY r.doc_id""",

    // curate_keep behind the host blocklist: the corpus CTE drops the
    // blocked hosts' residues FIRST (host = 'site{doc_id%7}.example.com'),
    // then the identical dedup/contamination/quality rules apply
    "curate_keep_hosts" ->
      """WITH corpus AS (SELECT * FROM documents
                        WHERE doc_id % 17 != 0 AND doc_id % 7 NOT IN (0, 3)),
         d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
         contam AS (SELECT doc_id FROM g WHERE doc_id % 17 != 0
                    GROUP BY 1
                    HAVING count(DISTINCT s) FILTER (s IN (SELECT s FROM bench)) > 0),
         tc AS (SELECT doc_id, tok, count(*) c
                FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) tok
                      FROM corpus) GROUP BY 1, 2),
         rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens,
                   CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) top_token_frac
                 FROM tc GROUP BY 1),
         canon AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY
                     md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) cid
                   FROM corpus)
         SELECT r.doc_id, c2.lang, r.n_tokens, r.top_token_frac
         FROM rep r
         JOIN corpus c2 ON c2.doc_id = r.doc_id
         JOIN canon cn ON cn.doc_id = r.doc_id AND cn.cid = r.doc_id
         WHERE r.doc_id NOT IN (SELECT doc_id FROM contam)
           AND r.n_tokens >= 20 AND r.top_token_frac <= 0.12
         ORDER BY r.doc_id""",

    // curate_keep's CTEs with canon replaced by keep-best over the
    // dedup_clusters recursive-CTE components: winner per component among
    // CORPUS members = max n_chars, ties min doc_id; per-doc stats run
    // over representatives only (identical per-doc either way)
    "curate_keep_dedup" ->
      """WITH RECURSIVE
         e AS (SELECT doc_id AS a, doc_id - doc_id % 7 AS b FROM documents
               WHERE doc_id % 7 != 0
               UNION ALL
               SELECT doc_id, doc_id - 1 FROM documents
               WHERE doc_id % 21 = 0 AND doc_id > 0),
         sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(id, r) AS (
           SELECT DISTINCT a AS id, a AS r FROM sym
           UNION
           SELECT s.a AS id, rc.r FROM sym s JOIN reach rc ON s.b = rc.id),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         corpus AS (SELECT * FROM documents WHERE doc_id % 17 != 0),
         lab AS (SELECT c0.doc_id, coalesce(cp.component, c0.doc_id) AS component,
                        c0.n_chars
                 FROM corpus c0 LEFT JOIN comp cp ON c0.doc_id = cp.id),
         mx AS (SELECT component, max(n_chars) AS m FROM lab GROUP BY 1),
         win AS (SELECT l.component, min(l.doc_id) AS keep_id
                 FROM lab l JOIN mx ON l.component = mx.component AND l.n_chars = mx.m
                 GROUP BY 1),
         reps AS (SELECT c0.* FROM corpus c0
                  JOIN lab l ON c0.doc_id = l.doc_id
                  JOIN win w ON l.component = w.component AND c0.doc_id = w.keep_id),
         d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
         contam AS (SELECT doc_id FROM g
                    WHERE doc_id IN (SELECT doc_id FROM reps)
                    GROUP BY 1
                    HAVING count(DISTINCT s) FILTER (s IN (SELECT s FROM bench)) > 0),
         tc AS (SELECT doc_id, tok, count(*) c
                FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) tok
                      FROM reps) GROUP BY 1, 2),
         rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens,
                   CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) top_token_frac
                 FROM tc GROUP BY 1)
         SELECT r.doc_id, c2.lang, r.n_tokens, r.top_token_frac
         FROM rep r
         JOIN corpus c2 ON c2.doc_id = r.doc_id
         WHERE r.doc_id NOT IN (SELECT doc_id FROM contam)
           AND r.n_tokens >= 20 AND r.top_token_frac <= 0.12
         ORDER BY r.doc_id""",

    // curate_keep_dedup's CTEs with the outcome CASE; per-doc stats exist
    // only for representatives, non-keepers account via the raw token len
    "curation_report_dedup" ->
      """WITH RECURSIVE
         e AS (SELECT doc_id AS a, doc_id - doc_id % 7 AS b FROM documents
               WHERE doc_id % 7 != 0
               UNION ALL
               SELECT doc_id, doc_id - 1 FROM documents
               WHERE doc_id % 21 = 0 AND doc_id > 0),
         sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(id, r) AS (
           SELECT DISTINCT a AS id, a AS r FROM sym
           UNION
           SELECT s.a AS id, rc.r FROM sym s JOIN reach rc ON s.b = rc.id),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         corpus AS (SELECT * FROM documents WHERE doc_id % 17 != 0),
         lab AS (SELECT c0.doc_id, coalesce(cp.component, c0.doc_id) AS component,
                        c0.n_chars
                 FROM corpus c0 LEFT JOIN comp cp ON c0.doc_id = cp.id),
         mx AS (SELECT component, max(n_chars) AS m FROM lab GROUP BY 1),
         win AS (SELECT l.component, min(l.doc_id) AS keep_id
                 FROM lab l JOIN mx ON l.component = mx.component AND l.n_chars = mx.m
                 GROUP BY 1),
         reps AS (SELECT c0.* FROM corpus c0
                  JOIN lab l ON c0.doc_id = l.doc_id
                  JOIN win w ON l.component = w.component AND c0.doc_id = w.keep_id),
         d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
         contam AS (SELECT doc_id FROM g
                    WHERE doc_id IN (SELECT doc_id FROM reps)
                    GROUP BY 1
                    HAVING count(DISTINCT s) FILTER (s IN (SELECT s FROM bench)) > 0),
         tc AS (SELECT doc_id, tok, count(*) c
                FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) tok
                      FROM reps) GROUP BY 1, 2),
         rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens,
                   CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) top_token_frac
                 FROM tc GROUP BY 1),
         oc AS (SELECT a.doc_id, a.lang,
                  CASE WHEN r.doc_id IS NULL THEN 'non_keeper'
                       WHEN a.doc_id IN (SELECT doc_id FROM contam)
                         THEN 'contaminated'
                       WHEN rep.n_tokens < 20 THEN 'short'
                       WHEN rep.top_token_frac > 0.12 THEN 'repetitive'
                       ELSE 'kept' END AS outcome,
                  coalesce(rep.n_tokens,
                    CAST(len(string_split(lower(a.text), ' ')) AS BIGINT)) AS nt
                FROM corpus a
                LEFT JOIN (SELECT DISTINCT doc_id FROM reps) r
                  ON a.doc_id = r.doc_id
                LEFT JOIN rep ON a.doc_id = rep.doc_id)
         SELECT lang, outcome, CAST(count(*) AS BIGINT) n_docs,
           CAST(sum(nt) AS BIGINT) n_tokens
         FROM oc GROUP BY 1, 2 ORDER BY 1, 2""",

    // curate_keep_dedup's kept set fed through corpus_pack_grouped's
    // per-language running sum at 256 tokens
    "pipeline_curate_pack" ->
      """WITH RECURSIVE
         e AS (SELECT doc_id AS a, doc_id - doc_id % 7 AS b FROM documents
               WHERE doc_id % 7 != 0
               UNION ALL
               SELECT doc_id, doc_id - 1 FROM documents
               WHERE doc_id % 21 = 0 AND doc_id > 0),
         sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(id, r) AS (
           SELECT DISTINCT a AS id, a AS r FROM sym
           UNION
           SELECT s.a AS id, rc.r FROM sym s JOIN reach rc ON s.b = rc.id),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         corpus AS (SELECT * FROM documents WHERE doc_id % 17 != 0),
         lab AS (SELECT c0.doc_id, coalesce(cp.component, c0.doc_id) AS component,
                        c0.n_chars
                 FROM corpus c0 LEFT JOIN comp cp ON c0.doc_id = cp.id),
         mx AS (SELECT component, max(n_chars) AS m FROM lab GROUP BY 1),
         win AS (SELECT l.component, min(l.doc_id) AS keep_id
                 FROM lab l JOIN mx ON l.component = mx.component AND l.n_chars = mx.m
                 GROUP BY 1),
         reps AS (SELECT c0.* FROM corpus c0
                  JOIN lab l ON c0.doc_id = l.doc_id
                  JOIN win w ON l.component = w.component AND c0.doc_id = w.keep_id),
         d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
         contam AS (SELECT doc_id FROM g
                    WHERE doc_id IN (SELECT doc_id FROM reps)
                    GROUP BY 1
                    HAVING count(DISTINCT s) FILTER (s IN (SELECT s FROM bench)) > 0),
         tc AS (SELECT doc_id, tok, count(*) c
                FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) tok
                      FROM reps) GROUP BY 1, 2),
         rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens,
                   CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) top_token_frac
                 FROM tc GROUP BY 1),
         kept AS (SELECT r.doc_id FROM rep r
                  WHERE r.doc_id NOT IN (SELECT doc_id FROM contam)
                    AND r.n_tokens >= 20 AND r.top_token_frac <= 0.12),
         kd AS (SELECT c.lang, c.doc_id,
                  len(string_split(lower(c.text), ' ')) AS n
                FROM corpus c JOIN kept k ON c.doc_id = k.doc_id),
         cum AS (SELECT lang, doc_id, n,
                   CAST(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM kd),
         sp AS (SELECT lang, doc_id, n, cum - n AS strt, cum
                FROM cum WHERE n > 0)
         SELECT lang, CAST(b AS BIGINT) AS chunk_id, doc_id,
           CAST(greatest(0, b * 256 - strt) AS BIGINT) AS tok_from,
           CAST(least(n, (b + 1) * 256 - strt) AS BIGINT) AS tok_to
         FROM sp, unnest(range(strt // 256, ((cum - 1) // 256) + 1)) u(b)
         ORDER BY lang, chunk_id, doc_id""",

    // curate_keep's CTEs restricted to the streamed split (doc_id >= 250):
    // the canonical window spans ALL % 17 != 0 docs, so a store hit
    // (earlier fp holder < 250) and a cross-batch dup (earlier streamed
    // holder) both resolve to "not its own canonical" exactly like the
    // store-probe + first-seen-wins streaming semantics (batches ride in
    // id order by construction of the fixture)
    "stream_curate" ->
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 17 != 0),
         d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
         contam AS (SELECT doc_id FROM g WHERE doc_id % 17 != 0
                    GROUP BY 1
                    HAVING count(DISTINCT s) FILTER (s IN (SELECT s FROM bench)) > 0),
         tc AS (SELECT doc_id, tok, count(*) c
                FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) tok
                      FROM corpus) GROUP BY 1, 2),
         rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens,
                   CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) top_token_frac
                 FROM tc GROUP BY 1),
         canon AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY
                     md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) cid
                   FROM corpus)
         SELECT r.doc_id, c2.lang, r.n_tokens, r.top_token_frac
         FROM rep r
         JOIN corpus c2 ON c2.doc_id = r.doc_id
         JOIN canon cn ON cn.doc_id = r.doc_id AND cn.cid = r.doc_id
         WHERE r.doc_id NOT IN (SELECT doc_id FROM contam)
           AND r.doc_id >= 250
           AND r.n_tokens >= 20 AND r.top_token_frac <= 0.12
         ORDER BY r.doc_id""",

    // same CTEs as curate_keep with CASE precedence duplicate ->
    // contaminated -> short -> repetitive -> kept; counts partition corpus
    "curation_report" ->
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 17 != 0),
         d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
         contam AS (SELECT doc_id FROM g WHERE doc_id % 17 != 0
                    GROUP BY 1
                    HAVING count(DISTINCT s) FILTER (s IN (SELECT s FROM bench)) > 0),
         tc AS (SELECT doc_id, tok, count(*) c
                FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) tok
                      FROM corpus) GROUP BY 1, 2),
         rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens,
                   CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) top_token_frac
                 FROM tc GROUP BY 1),
         canon AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY
                     md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) cid
                   FROM corpus),
         o AS (SELECT c2.lang, r.n_tokens,
                 CASE WHEN cn.cid != r.doc_id THEN 'duplicate'
                      WHEN r.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
                      WHEN r.n_tokens < 20 THEN 'short'
                      WHEN r.top_token_frac > 0.12 THEN 'repetitive'
                      ELSE 'kept' END AS outcome
               FROM rep r JOIN corpus c2 ON c2.doc_id = r.doc_id
               JOIN canon cn ON cn.doc_id = r.doc_id)
         SELECT lang, outcome, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM o GROUP BY 1, 2 ORDER BY 1, 2""",

    // curation_report with a source blocklist: blocked wins the CASE,
    // dedup/contamination CTEs run over the unblocked survivors only
    "curation_report_domains" ->
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 17 != 0),
         live AS (SELECT * FROM corpus WHERE source NOT IN ('src3','src7','src11')),
         d AS (SELECT doc_id, string_split(lower(text), ' ') tks FROM documents),
         g AS (SELECT doc_id, tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3]
                 || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
         contam AS (SELECT g.doc_id FROM g JOIN live ON live.doc_id = g.doc_id
                    GROUP BY 1
                    HAVING count(DISTINCT s) FILTER (s IN (SELECT s FROM bench)) > 0),
         tc AS (SELECT doc_id, tok, count(*) c
                FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) tok
                      FROM corpus) GROUP BY 1, 2),
         rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens,
                   CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) top_token_frac
                 FROM tc GROUP BY 1),
         canon AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY
                     md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) cid
                   FROM live),
         o AS (SELECT c2.lang, r.n_tokens,
                 CASE WHEN c2.source IN ('src3','src7','src11') THEN 'blocked'
                      WHEN cn.cid != r.doc_id THEN 'duplicate'
                      WHEN r.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
                      WHEN r.n_tokens < 20 THEN 'short'
                      WHEN r.top_token_frac > 0.12 THEN 'repetitive'
                      ELSE 'kept' END AS outcome
               FROM rep r JOIN corpus c2 ON c2.doc_id = r.doc_id
               LEFT JOIN canon cn ON cn.doc_id = r.doc_id)
         SELECT lang, outcome, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM o GROUP BY 1, 2 ORDER BY 1, 2""",

    // inclusive running token count over doc_id order (sum OVER = Spark's
    // bucketed prefix scan); chunk ids via BIGINT floor division (`//` =
    // Spark's `div`) on exact longs; range end-exclusive = sequence
    // inclusive + 1
    "corpus_pack" ->
      """WITH t AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS n
                    FROM documents),
         c AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) cum FROM t),
         s AS (SELECT doc_id, n, cum - n AS strt, cum FROM c WHERE n > 0)
         SELECT CAST(b AS BIGINT) AS chunk_id, doc_id,
           CAST(greatest(0, b * 512 - strt) AS BIGINT) AS tok_from,
           CAST(least(n, (b + 1) * 512 - strt) AS BIGINT) AS tok_to
         FROM s, unnest(range(strt // 512, ((cum - 1) // 512) + 1)) u(b)
         ORDER BY chunk_id, doc_id""",

    // corpus_pack with the running sum PARTITIONed by lang — chunk ids
    // restart per group and no span crosses a language boundary
    "corpus_pack_grouped" ->
      """WITH t AS (SELECT lang, doc_id,
                      len(string_split(lower(text), ' ')) AS n
                    FROM documents),
         c AS (SELECT lang, doc_id, n,
                 CAST(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM t),
         s AS (SELECT lang, doc_id, n, cum - n AS strt, cum FROM c WHERE n > 0)
         SELECT lang, CAST(b AS BIGINT) AS chunk_id, doc_id,
           CAST(greatest(0, b * 512 - strt) AS BIGINT) AS tok_from,
           CAST(least(n, (b + 1) * 512 - strt) AS BIGINT) AS tok_to
         FROM s, unnest(range(strt // 512, ((cum - 1) // 512) + 1)) u(b)
         ORDER BY lang, chunk_id, doc_id""",

    // aggregate of the corpus_pack span set; last_chunk_tokens falls out
    // of totals (all non-tail chunks hold exactly 512 by construction)
    // length-bucketed batches: bucket = first boundary the whitespace
    // token count fits under (cap 512 drops longer docs), shard = id-hash
    // slot mod 4, batches of 8 in (tokens, id) order within (bucket, shard)
    "pack_length_batches" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(string_split(lower(coalesce(text, '')), ' ')) AS BIGINT) n,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 4 AS shard
           FROM documents),
         b AS (SELECT doc_id, n, shard,
                 CASE WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
                      WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256
                      WHEN n <= 512 THEN 512 END AS bucket
               FROM t),
         r AS (SELECT *, row_number() OVER (PARTITION BY bucket, shard
                 ORDER BY n, doc_id) rn
               FROM b WHERE bucket IS NOT NULL)
         SELECT CAST(bucket AS BIGINT) AS bucket, shard,
           CAST((rn - 1) // 8 AS BIGINT) AS batch,
           CAST(count(*) AS BIGINT) AS n_docs,
           max(n) AS max_tokens, CAST(sum(n) AS BIGINT) AS sum_tokens,
           CAST(count(*) * max(n) - sum(n) AS BIGINT) AS pad_tokens
         FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    // the per-doc assignment the batch stats aggregate over
    "pack_length_assign" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(string_split(lower(coalesce(text, '')), ' ')) AS BIGINT) n,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 4 AS shard
           FROM documents),
         b AS (SELECT doc_id, n, shard,
                 CASE WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
                      WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256
                      WHEN n <= 512 THEN 512 END AS bucket
               FROM t),
         r AS (SELECT *, row_number() OVER (PARTITION BY bucket, shard
                 ORDER BY n, doc_id) rn
               FROM b WHERE bucket IS NOT NULL)
         SELECT doc_id, n AS n_tokens, CAST(bucket AS BIGINT) AS bucket,
           shard, CAST((rn - 1) // 8 AS BIGINT) AS batch
         FROM r ORDER BY doc_id""",

    // exact per-language quantile cut in ppm-integer arithmetic:
    // rank <= ceil(n * 0.4) == (n * 400000 + 999999) // 1000000
    "quality_quantile_keep" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY n_chars, doc_id) AS BIGINT) q_rank,
             CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) q_n
           FROM documents)
         SELECT doc_id, lang, n_chars, q_rank, q_n FROM r
         WHERE q_rank <= (q_n * 400000 + 999999) // 1000000
         ORDER BY doc_id""",

    // cumulative ppm rank thresholds (head 100000, +middle -> 500000),
    // last band absorbs the remainder
    "quality_quantile_label" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY n_chars, doc_id) AS BIGINT) q_rank,
             CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) q_n
           FROM documents)
         SELECT doc_id, lang, n_chars, q_rank, q_n,
           CASE WHEN q_rank <= (q_n * 100000 + 999999) // 1000000 THEN 'head'
                WHEN q_rank <= (q_n * 500000 + 999999) // 1000000 THEN 'middle'
                ELSE 'tail' END AS band
         FROM r ORDER BY doc_id""",

    "corpus_pack_stats" ->
      """WITH t AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS n
                    FROM documents),
         c AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) cum FROM t),
         s AS (SELECT doc_id, n, cum - n AS strt, cum FROM c WHERE n > 0),
         sp AS (SELECT b AS chunk_id, doc_id,
                  greatest(0, b * 512 - strt) AS tok_from,
                  least(n, (b + 1) * 512 - strt) AS tok_to
                FROM s, unnest(range(strt // 512, ((cum - 1) // 512) + 1)) u(b))
         SELECT CAST(max(chunk_id) + 1 AS BIGINT) AS chunks,
           CAST(count(*) AS BIGINT) AS incidences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS packed_docs,
           CAST(count(DISTINCT CASE WHEN tok_from > 0 THEN doc_id END) AS BIGINT)
             AS split_docs,
           CAST(sum(tok_to - tok_from) AS BIGINT) AS total_tokens,
           CAST(sum(tok_to - tok_from) - max(chunk_id) * 512 AS BIGINT)
             AS last_chunk_tokens
         FROM sp""",

    // corpus_pack under the BPE-ish counter: identical span arithmetic,
    // n re-denominated as the regex token count (same RE2-subset pattern
    // as text_stats' n_bpe_tokens oracle)
    "corpus_pack_bpe" ->
      """WITH t AS (SELECT doc_id,
                      len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n
                    FROM documents),
         c AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) cum FROM t),
         s AS (SELECT doc_id, n, cum - n AS strt, cum FROM c WHERE n > 0)
         SELECT CAST(b AS BIGINT) AS chunk_id, doc_id,
           CAST(greatest(0, b * 512 - strt) AS BIGINT) AS tok_from,
           CAST(least(n, (b + 1) * 512 - strt) AS BIGINT) AS tok_to
         FROM s, unnest(range(strt // 512, ((cum - 1) // 512) + 1)) u(b)
         ORDER BY chunk_id, doc_id""",

    // corpus_pack under vocab piece counts: top-500 corpus words count 1
    // piece, OOV words max(1, ceil(bytes/2)) (DuckDB strlen = bytes =
    // Spark octet_length); vocab cut is total-ordered (count DESC, word)
    // so the rank-500 tie resolves identically in both engines
    "corpus_pack_vocab" ->
      """WITH w AS (SELECT doc_id,
                      unnest(string_split(lower(coalesce(text, '')), ' ')) AS word
                    FROM documents),
         vc AS (SELECT word, 1 AS pieces FROM w GROUP BY word
                ORDER BY count(*) DESC, word LIMIT 500),
         t AS (SELECT w.doc_id,
                 CAST(sum(coalesce(vc.pieces,
                   greatest(1, (strlen(w.word) + 1) // 2))) AS BIGINT) AS n
               FROM w LEFT JOIN vc USING (word) GROUP BY w.doc_id),
         c AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) cum FROM t),
         s AS (SELECT doc_id, n, cum - n AS strt, cum FROM c WHERE n > 0)
         SELECT CAST(b AS BIGINT) AS chunk_id, doc_id,
           CAST(greatest(0, b * 512 - strt) AS BIGINT) AS tok_from,
           CAST(least(n, (b + 1) * 512 - strt) AS BIGINT) AS tok_to
         FROM s, unnest(range(strt // 512, ((cum - 1) // 512) + 1)) u(b)
         ORDER BY chunk_id, doc_id""",

    // corpus_pack's span arithmetic + DuckDB 1-based inclusive list slice
    // tks[a+1:e] == Spark slice(t, a+1, e-a); fragment order pinned by
    // doc_id on both sides
    "corpus_pack_text" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tks
                    FROM documents),
         c AS (SELECT doc_id, tks, len(tks) n,
                 CAST(sum(len(tks)) OVER (ORDER BY doc_id ROWS UNBOUNDED
                   PRECEDING) AS BIGINT) cum FROM t),
         s AS (SELECT doc_id, tks, n, cum - n AS strt, cum FROM c WHERE n > 0),
         sp AS (SELECT CAST(b AS BIGINT) chunk_id, doc_id, tks,
                  CAST(greatest(0, b * 512 - strt) AS BIGINT) a,
                  CAST(least(n, (b + 1) * 512 - strt) AS BIGINT) e
                FROM s, unnest(range(strt // 512, ((cum - 1) // 512) + 1)) u(b))
         SELECT chunk_id,
           string_agg(array_to_string(tks[a+1:e], ' '), ' ' ORDER BY doc_id)
             AS text
         FROM sp GROUP BY 1 ORDER BY 1""",

    // corpus_pack_text with the running sum and chunk key partitioned by
    // lang — materialized chunks never splice languages
    "corpus_pack_grouped_text" ->
      """WITH t AS (SELECT lang, doc_id, string_split(lower(text), ' ') AS tks
                    FROM documents),
         c AS (SELECT lang, doc_id, tks, len(tks) n,
                 CAST(sum(len(tks)) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM t),
         s AS (SELECT lang, doc_id, tks, n, cum - n AS strt, cum
               FROM c WHERE n > 0),
         sp AS (SELECT lang, CAST(b AS BIGINT) chunk_id, doc_id, tks,
                  CAST(greatest(0, b * 512 - strt) AS BIGINT) a,
                  CAST(least(n, (b + 1) * 512 - strt) AS BIGINT) e
                FROM s, unnest(range(strt // 512, ((cum - 1) // 512) + 1)) u(b))
         SELECT lang, chunk_id,
           string_agg(array_to_string(tks[a+1:e], ' '), ' ' ORDER BY doc_id)
             AS text
         FROM sp GROUP BY 1, 2 ORDER BY 1, 2""",

    // piece-space packing: replay the top-200 vocab (count DESC, word),
    // the single-piece vocab hit / 2-char OOV fallback split, then the
    // same 512-cut concat machinery over the piece stream
    // in-engine BPE roundtrip: word/char counts recomputed under the same
    // whitespace tokenization; the encoder's invariants arrive as booleans
    // the oracle expects true (the approx_stats pattern)
    "corpus_bpe_roundtrip" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
                      FROM documents)
         SELECT doc_id,
           CAST(count(*) FILTER (WHERE t != '') AS BIGINT) AS n_words,
           CAST(coalesce(sum(length(t)), 0) AS BIGINT) AS n_chars,
           true AS mono_ok, true AS bounds_ok, true AS lossless
         FROM tok GROUP BY doc_id ORDER BY doc_id""",

    "corpus_pack_pieces" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS wds FROM documents),
         voc AS (SELECT word FROM (SELECT unnest(wds) word FROM w) t
                 GROUP BY word ORDER BY count(*) DESC, word LIMIT 200),
         wx AS (SELECT doc_id, unnest(wds) wrd, unnest(range(len(wds))) i FROM w),
         wp AS (SELECT wx.doc_id, wx.i,
                  CASE WHEN v.word IS NOT NULL THEN [wx.wrd]
                       WHEN len(wx.wrd) = 0 THEN ['']
                       ELSE list_transform(range((len(wx.wrd)-1)//2 + 1),
                              k -> substring(wx.wrd, k*2+1, 2)) END pcs
                FROM wx LEFT JOIN voc v ON v.word = wx.wrd),
         pc AS (SELECT doc_id, flatten(list(pcs ORDER BY i)) tks FROM wp GROUP BY doc_id),
         c AS (SELECT doc_id, tks, len(tks) n,
                 CAST(sum(len(tks)) OVER (ORDER BY doc_id ROWS UNBOUNDED
                   PRECEDING) AS BIGINT) cum FROM pc),
         s AS (SELECT doc_id, tks, n, cum - n AS strt, cum FROM c WHERE n > 0),
         sp AS (SELECT CAST(b AS BIGINT) chunk_id, doc_id, tks,
                  CAST(greatest(0, b * 512 - strt) AS BIGINT) a,
                  CAST(least(n, (b + 1) * 512 - strt) AS BIGINT) e
                FROM s, unnest(range(strt // 512, ((cum - 1) // 512) + 1)) u(b))
         SELECT chunk_id,
           string_agg(array_to_string(tks[a+1:e], ' '), ' ' ORDER BY doc_id)
             AS text
         FROM sp GROUP BY 1 ORDER BY 1""",

    // shard = chunk_id // 16 (contiguous), token shares recomputed from
    // the same span arithmetic as corpus_pack
    "corpus_pack_shards" ->
      """WITH t AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS n
                    FROM documents),
         c AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) cum FROM t),
         s AS (SELECT doc_id, n, cum - n AS strt, cum FROM c WHERE n > 0),
         sp AS (SELECT CAST(b AS BIGINT) chunk_id,
                  CAST(greatest(0, b * 512 - strt) AS BIGINT) a,
                  CAST(least(n, (b + 1) * 512 - strt) AS BIGINT) e
                FROM s, unnest(range(strt // 512, ((cum - 1) // 512) + 1)) u(b))
         SELECT CAST(chunk_id // 16 AS BIGINT) AS shard,
           CAST(count(DISTINCT chunk_id) AS BIGINT) AS n_chunks,
           CAST(sum(e - a) AS BIGINT) AS n_tokens
         FROM sp GROUP BY 1 ORDER BY 1""",

    // shard = 60-bit md5-prefix hash of the chunk id string, mod 8 (salt
    // ''); token shares from the same span arithmetic as corpus_pack
    "corpus_pack_shuffled" ->
      """WITH t AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS n
                    FROM documents),
         c AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) cum FROM t),
         s AS (SELECT doc_id, n, cum - n AS strt, cum FROM c WHERE n > 0),
         sp AS (SELECT CAST(b AS BIGINT) chunk_id,
                  CAST(greatest(0, b * 512 - strt) AS BIGINT) a,
                  CAST(least(n, (b + 1) * 512 - strt) AS BIGINT) e
                FROM s, unnest(range(strt // 512, ((cum - 1) // 512) + 1)) u(b))
         SELECT CAST('0x' || substring(md5(CAST(chunk_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 8 AS shard,
           CAST(count(DISTINCT chunk_id) AS BIGINT) AS n_chunks,
           CAST(sum(e - a) AS BIGINT) AS n_tokens
         FROM sp GROUP BY 1 ORDER BY 1""",

    // same 60-bit md5-prefix slot hash as the Spark side; ppm thresholds
    // are floor(rate * 1e6)
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
         WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000
             < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
                         ELSE 100000 END
         ORDER BY doc_id""",

    // same slot hash + (slot, doc_id) order; inclusive running token sum
    // within budget (prefix semantics on both sides)
    "sample_token_budget" ->
      """WITH t AS (SELECT doc_id, lang, len(string_split(lower(text), ' ')) n,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 AS slot
           FROM documents),
         c AS (SELECT doc_id, lang, CAST(sum(n) OVER (PARTITION BY lang
                 ORDER BY slot, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
               FROM t)
         SELECT doc_id, lang, cum AS cum_tokens FROM c
         WHERE cum <= CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000
                      ELSE 1000 END
         ORDER BY doc_id""",

    // budgets are floor(w/sum(w) * 10000): en 5000, de 3000, fr 2000;
    // unlisted strata drop (budget 0)
    "sample_mixture" ->
      """WITH t AS (SELECT doc_id, lang, len(string_split(lower(text), ' ')) n,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 AS slot
           FROM documents),
         c AS (SELECT doc_id, lang, CAST(sum(n) OVER (PARTITION BY lang
                 ORDER BY slot, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
               FROM t)
         SELECT doc_id, lang, cum AS cum_tokens FROM c
         WHERE cum <= CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 3000
                      WHEN 'fr' THEN 2000 ELSE 0 END
         ORDER BY doc_id""",

    // same slot hash; cumulative ppm thresholds 800000/900000, last split
    // absorbs the remainder
    "sample_split" ->
      """SELECT doc_id, lang,
           CASE WHEN slot < 800000 THEN 'train'
                WHEN slot < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id, lang,
                 CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 1000000 AS slot
               FROM documents)
         ORDER BY doc_id""",

    // sample_split's slot CASE hashed on the dedup_clusters recursive-CTE
    // component (singleton = own id) instead of the doc id
    "sample_split_clustered" ->
      """WITH RECURSIVE
         e AS (SELECT doc_id AS a, doc_id - doc_id % 7 AS b FROM documents
               WHERE doc_id % 7 != 0
               UNION ALL
               SELECT doc_id, doc_id - 1 FROM documents
               WHERE doc_id % 21 = 0 AND doc_id > 0),
         sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(id, r) AS (
           SELECT DISTINCT a AS id, a AS r FROM sym
           UNION
           SELECT s.a AS id, rc.r FROM sym s JOIN reach rc ON s.b = rc.id),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         keyed AS (SELECT d.doc_id, d.lang,
                     coalesce(cp.component, d.doc_id) AS ck
                   FROM documents d LEFT JOIN comp cp ON d.doc_id = cp.id)
         SELECT doc_id, lang,
           CASE WHEN slot < 800000 THEN 'train'
                WHEN slot < 900000 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id, lang,
                 CAST('0x' || substring(md5(CAST(ck AS VARCHAR)), 1, 15) AS BIGINT)
                   % 1000000 AS slot
               FROM keyed)
         ORDER BY doc_id""",

    // the text_contam shape with the slot-hash split as the benchmark
    // boundary: holdout = slot >= 800000 (val + test), corpus = train
    "split_decontam" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') tks,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 AS slot
           FROM documents),
         g AS (SELECT doc_id, slot, tks[i+1] || ' ' || tks[i+2] || ' ' ||
                 tks[i+3] || ' ' || tks[i+4] AS s
               FROM d, unnest(range(len(tks) - 3)) t(i) WHERE len(tks) >= 4),
         bench AS (SELECT DISTINCT s FROM g WHERE slot >= 800000),
         corp AS (SELECT doc_id, count(DISTINCT s) n_shingles,
                    count(DISTINCT s) FILTER (s IN (SELECT s FROM bench)) n_overlap
                  FROM g WHERE slot < 800000 GROUP BY 1)
         SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           n_overlap > 0 AS contaminated
         FROM corp WHERE n_overlap > 0 ORDER BY doc_id""",

    "sample_mixture_report" ->
      """WITH t AS (SELECT doc_id, lang, len(string_split(lower(text), ' ')) n,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 AS slot
           FROM documents),
         c AS (SELECT doc_id, lang, CAST(sum(n) OVER (PARTITION BY lang
                 ORDER BY slot, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
               FROM t),
         k AS (SELECT lang, count(*) kd, max(cum) kt FROM c
               WHERE cum <= CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 3000
                            WHEN 'fr' THEN 2000 ELSE 0 END
               GROUP BY lang),
         b AS (SELECT 'en' AS stratum, 5000 AS tb UNION ALL
               SELECT 'de', 3000 UNION ALL SELECT 'fr', 2000)
         SELECT b.stratum, CAST(b.tb AS BIGINT) AS target_tokens,
           CAST(coalesce(k.kd, 0) AS BIGINT) AS kept_docs,
           CAST(coalesce(k.kt, 0) AS BIGINT) AS kept_tokens
         FROM b LEFT JOIN k ON k.lang = b.stratum
         ORDER BY b.stratum""",

    "sample_quota" ->
      """WITH h AS (SELECT doc_id, lang,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 AS slot
           FROM documents),
         r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY slot, doc_id) AS rk
           FROM h)
         SELECT doc_id, lang, CAST(rk AS BIGINT) AS sample_rank
         FROM r WHERE rk <= 20 ORDER BY doc_id""",

    // transitive closure of the same deterministic edge fixture; component
    // = min reachable id
    "dedup_clusters" ->
      """WITH RECURSIVE
         e AS (SELECT doc_id AS a, doc_id - doc_id % 7 AS b FROM documents
               WHERE doc_id % 7 != 0
               UNION ALL
               SELECT doc_id, doc_id - 1 FROM documents
               WHERE doc_id % 21 = 0 AND doc_id > 0),
         sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(id, r) AS (
           SELECT DISTINCT a AS id, a AS r FROM sym
           UNION
           SELECT s.a AS id, rc.r FROM sym s JOIN reach rc ON s.b = rc.id)
         SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""",

    "dedup_cluster_keep" ->
      """WITH RECURSIVE
         e AS (SELECT doc_id AS a, doc_id - doc_id % 7 AS b FROM documents
               WHERE doc_id % 7 != 0
               UNION ALL
               SELECT doc_id, doc_id - 1 FROM documents
               WHERE doc_id % 21 = 0 AND doc_id > 0),
         sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(id, r) AS (
           SELECT DISTINCT a AS id, a AS r FROM sym
           UNION
           SELECT s.a AS id, rc.r FROM sym s JOIN reach rc ON s.b = rc.id),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
                        d.n_chars
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         mx AS (SELECT component, max(n_chars) AS m FROM lab GROUP BY 1),
         win AS (SELECT l.component, min(l.doc_id) AS keep_id
                 FROM lab l JOIN mx ON l.component = mx.component AND l.n_chars = mx.m
                 GROUP BY 1)
         SELECT l.doc_id, l.component, l.doc_id = w.keep_id AS keep
         FROM lab l JOIN win w ON l.component = w.component ORDER BY 1""",

    "ann_cosine_topk" ->
      s"""WITH $embFlat,
          q AS (SELECT * FROM flat WHERE vec_id < 10),
          dots AS (SELECT q.vec_id qid, c.vec_id nid, sum(q.x * c.x) dot
                   FROM q JOIN flat c ON q.i = c.i AND q.vec_id != c.vec_id GROUP BY 1, 2),
          scored AS (SELECT qid query_id, nid neighbor_id,
              CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) cosine
            FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = nid)
          SELECT query_id, neighbor_id, rank, cosine FROM
            (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) rank FROM scored)
          WHERE rank <= 10 ORDER BY query_id, rank""",

    // ann_cosine_topk with the neighbor side pre-filtered to the
    // qualifying vectors (vec_id % 3 = 0); queries stay unfiltered
    "ann_filtered_topk" ->
      s"""WITH $embFlat,
          q AS (SELECT * FROM flat WHERE vec_id < 10),
          c0 AS (SELECT * FROM flat WHERE vec_id % 3 = 0),
          dots AS (SELECT q.vec_id qid, c.vec_id nid, sum(q.x * c.x) dot
                   FROM q JOIN c0 c ON q.i = c.i AND q.vec_id != c.vec_id GROUP BY 1, 2),
          scored AS (SELECT qid query_id, nid neighbor_id,
              CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) cosine
            FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = nid)
          SELECT query_id, neighbor_id, rank, cosine FROM
            (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) rank FROM scored)
          WHERE rank <= 10 ORDER BY query_id, rank""",

    // SQ8 replay: int8 codes q = ((x+gmax)*127)//gmax - 127 over the
    // fixed-point ints (shift keeps the dividend non-negative, where floor
    // and truncation agree), integer candidate scores, 40 candidates per
    // query by (score DESC, id), exact-cosine rescore to top 10
    "ann_sq8_topk" ->
      s"""WITH $embFlat,
          g AS (SELECT max(abs(x)) gm FROM flat),
          q8 AS (SELECT vec_id, i,
                   CASE WHEN gm = 0 THEN 0
                        ELSE ((x + gm) * 127) // gm - 127 END AS q
                 FROM flat, g),
          qq AS (SELECT * FROM q8 WHERE vec_id < 10),
          s8 AS (SELECT qq.vec_id qid, c.vec_id nid, sum(qq.q * c.q) sc
                 FROM qq JOIN q8 c ON qq.i = c.i AND qq.vec_id != c.vec_id
                 GROUP BY 1, 2),
          cand AS (SELECT qid, nid FROM
                     (SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY sc DESC, nid) r FROM s8)
                   WHERE r <= 40),
          dots AS (SELECT qid, nid, sum(fq.x * fc.x) dot
                   FROM cand JOIN flat fq ON fq.vec_id = qid
                   JOIN flat fc ON fc.vec_id = nid AND fq.i = fc.i
                   GROUP BY 1, 2),
          scored AS (SELECT qid query_id, nid neighbor_id,
              CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) cosine
            FROM dots JOIN norms nq ON nq.vec_id = qid
            JOIN norms nc ON nc.vec_id = nid)
          SELECT query_id, neighbor_id, rank, cosine FROM
            (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) rank FROM scored)
          WHERE rank <= 10 ORDER BY query_id, rank""",

    // PQ is deterministic end-to-end too: the oracle replays the whole
    // construction per sub-space (j = i div 16 at m=4 over 64 dims) —
    // seed cells = 8 lowest ids' sub-vectors, one floored-integer-mean
    // Lloyd refinement, nearest-sub-centroid assignment maximizing the
    // exact long 2·x·c − |c|² (ties to the lowest cell), ADC scores =
    // per-(query, sub-space) exact dot with the ASSIGNED sub-centroid
    // summed over sub-spaces, top 40 candidates (score DESC, id), exact
    // cosine rerank to top 10
    // the ann_pq_topk chain verbatim, except `sub`'s (j, p) mapping comes
    // from the energy-ranked round-robin permutation instead of position:
    // rank r (energy desc, ties dim asc) → sub-space r % 4, slot r // 4
    "ann_pq_balanced" ->
      s"""WITH $embFlat,
          nn AS (SELECT vec_id, sqrt(CAST(n2 AS DOUBLE)) nrm FROM norms),
          en AS (SELECT i, sum(x * x) e FROM flat GROUP BY i),
          pr AS (SELECT i, row_number() OVER (ORDER BY e DESC, i) - 1 AS r FROM en),
          pm AS (SELECT i, r % 4 AS j, r // 4 AS p FROM pr),
          sub AS (SELECT f.vec_id, pm.j, pm.p, f.x FROM flat f JOIN pm ON pm.i = f.i),
          c0 AS (SELECT s.j, s.vec_id AS cell, s.p, s.x AS cx FROM sub s
                 WHERE s.vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)),
          d0 AS (SELECT s.vec_id, s.j, c.cell,
                   CAST(2*sum(s.x*c.cx) - sum(c.cx*c.cx) AS BIGINT) sc
                 FROM sub s JOIN c0 c ON c.j = s.j AND c.p = s.p
                 GROUP BY 1, 2, 3),
          a0 AS (SELECT vec_id, j, cell FROM d0
                 QUALIFY row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY sc DESC, cell) = 1),
          m1 AS (SELECT a0.j, a0.cell, s.p,
                   CAST(floor(avg(CAST(s.x AS DOUBLE))) AS BIGINT) cx
                 FROM a0 JOIN sub s ON s.vec_id = a0.vec_id AND s.j = a0.j
                 GROUP BY 1, 2, 3),
          d1 AS (SELECT s.vec_id, s.j, c.cell,
                   CAST(2*sum(s.x*c.cx) - sum(c.cx*c.cx) AS BIGINT) sc
                 FROM sub s JOIN m1 c ON c.j = s.j AND c.p = s.p
                 GROUP BY 1, 2, 3),
          a1 AS (SELECT vec_id, j, cell FROM d1
                 QUALIFY row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY sc DESC, cell) = 1),
          qd AS (SELECT s.vec_id qid, c.j, c.cell, CAST(sum(s.x*c.cx) AS BIGINT) dot
                 FROM sub s JOIN m1 c ON c.j = s.j AND c.p = s.p
                 WHERE s.vec_id < 10 GROUP BY 1, 2, 3),
          sc AS (SELECT q.qid, a.vec_id nid, CAST(sum(q.dot) AS BIGINT) s8
                 FROM a1 a JOIN qd q ON q.j = a.j AND q.cell = a.cell
                 WHERE q.qid != a.vec_id GROUP BY 1, 2),
          cand AS (SELECT qid, nid FROM sc
                   QUALIFY row_number() OVER (PARTITION BY qid
                     ORDER BY s8 DESC, nid) <= 40),
          dots AS (SELECT c.qid, c.nid, sum(q.x * n.x) dot
                   FROM cand c JOIN flat q ON q.vec_id = c.qid
                     JOIN flat n ON n.vec_id = c.nid AND n.i = q.i
                   GROUP BY 1, 2),
          scored AS (SELECT qid query_id, nid neighbor_id,
                       CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) cosine
                     FROM dots JOIN nn nq ON nq.vec_id = qid
                       JOIN nn nc ON nc.vec_id = nid)
          SELECT query_id, neighbor_id, rank, cosine FROM
            (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) rank FROM scored)
          WHERE rank <= 10 ORDER BY query_id, rank""",

    "ann_pq_topk" ->
      s"""WITH $embFlat,
          nn AS (SELECT vec_id, sqrt(CAST(n2 AS DOUBLE)) nrm FROM norms),
          sub AS (SELECT vec_id, i // 16 AS j, i % 16 AS p, x FROM flat),
          c0 AS (SELECT s.j, s.vec_id AS cell, s.p, s.x AS cx FROM sub s
                 WHERE s.vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)),
          d0 AS (SELECT s.vec_id, s.j, c.cell,
                   CAST(2*sum(s.x*c.cx) - sum(c.cx*c.cx) AS BIGINT) sc
                 FROM sub s JOIN c0 c ON c.j = s.j AND c.p = s.p
                 GROUP BY 1, 2, 3),
          a0 AS (SELECT vec_id, j, cell FROM d0
                 QUALIFY row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY sc DESC, cell) = 1),
          m1 AS (SELECT a0.j, a0.cell, s.p,
                   CAST(floor(avg(CAST(s.x AS DOUBLE))) AS BIGINT) cx
                 FROM a0 JOIN sub s ON s.vec_id = a0.vec_id AND s.j = a0.j
                 GROUP BY 1, 2, 3),
          d1 AS (SELECT s.vec_id, s.j, c.cell,
                   CAST(2*sum(s.x*c.cx) - sum(c.cx*c.cx) AS BIGINT) sc
                 FROM sub s JOIN m1 c ON c.j = s.j AND c.p = s.p
                 GROUP BY 1, 2, 3),
          a1 AS (SELECT vec_id, j, cell FROM d1
                 QUALIFY row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY sc DESC, cell) = 1),
          qd AS (SELECT s.vec_id qid, c.j, c.cell, CAST(sum(s.x*c.cx) AS BIGINT) dot
                 FROM sub s JOIN m1 c ON c.j = s.j AND c.p = s.p
                 WHERE s.vec_id < 10 GROUP BY 1, 2, 3),
          sc AS (SELECT q.qid, a.vec_id nid, CAST(sum(q.dot) AS BIGINT) s8
                 FROM a1 a JOIN qd q ON q.j = a.j AND q.cell = a.cell
                 WHERE q.qid != a.vec_id GROUP BY 1, 2),
          cand AS (SELECT qid, nid FROM sc
                   QUALIFY row_number() OVER (PARTITION BY qid
                     ORDER BY s8 DESC, nid) <= 40),
          dots AS (SELECT c.qid, c.nid, sum(q.x * n.x) dot
                   FROM cand c JOIN flat q ON q.vec_id = c.qid
                     JOIN flat n ON n.vec_id = c.nid AND n.i = q.i
                   GROUP BY 1, 2),
          scored AS (SELECT qid query_id, nid neighbor_id,
                       CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) cosine
                     FROM dots JOIN nn nq ON nq.vec_id = qid
                       JOIN nn nc ON nc.vec_id = nid)
          SELECT query_id, neighbor_id, rank, cosine FROM
            (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) rank FROM scored)
          WHERE rank <= 10 ORDER BY query_id, rank""",

    // recall probe: the ann_pq_topk chain's served top-10 intersected with
    // the exact top-10 (ann_cosine_topk chain), folded to one integer
    // aggregate row — the probe VALUE is hash-gated, not just its shape
    "ann_pq_recall" ->
      s"""WITH $embFlat,
          nn AS (SELECT vec_id, sqrt(CAST(n2 AS DOUBLE)) nrm FROM norms),
          sub AS (SELECT vec_id, i // 16 AS j, i % 16 AS p, x FROM flat),
          c0 AS (SELECT s.j, s.vec_id AS cell, s.p, s.x AS cx FROM sub s
                 WHERE s.vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)),
          d0 AS (SELECT s.vec_id, s.j, c.cell,
                   CAST(2*sum(s.x*c.cx) - sum(c.cx*c.cx) AS BIGINT) sc
                 FROM sub s JOIN c0 c ON c.j = s.j AND c.p = s.p
                 GROUP BY 1, 2, 3),
          a0 AS (SELECT vec_id, j, cell FROM d0
                 QUALIFY row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY sc DESC, cell) = 1),
          m1 AS (SELECT a0.j, a0.cell, s.p,
                   CAST(floor(avg(CAST(s.x AS DOUBLE))) AS BIGINT) cx
                 FROM a0 JOIN sub s ON s.vec_id = a0.vec_id AND s.j = a0.j
                 GROUP BY 1, 2, 3),
          d1 AS (SELECT s.vec_id, s.j, c.cell,
                   CAST(2*sum(s.x*c.cx) - sum(c.cx*c.cx) AS BIGINT) sc
                 FROM sub s JOIN m1 c ON c.j = s.j AND c.p = s.p
                 GROUP BY 1, 2, 3),
          a1 AS (SELECT vec_id, j, cell FROM d1
                 QUALIFY row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY sc DESC, cell) = 1),
          qd AS (SELECT s.vec_id qid, c.j, c.cell, CAST(sum(s.x*c.cx) AS BIGINT) dot
                 FROM sub s JOIN m1 c ON c.j = s.j AND c.p = s.p
                 WHERE s.vec_id < 10 GROUP BY 1, 2, 3),
          sc AS (SELECT q.qid, a.vec_id nid, CAST(sum(q.dot) AS BIGINT) s8
                 FROM a1 a JOIN qd q ON q.j = a.j AND q.cell = a.cell
                 WHERE q.qid != a.vec_id GROUP BY 1, 2),
          cand AS (SELECT qid, nid FROM sc
                   QUALIFY row_number() OVER (PARTITION BY qid
                     ORDER BY s8 DESC, nid) <= 40),
          pdots AS (SELECT c.qid, c.nid, sum(q.x * n.x) dot
                    FROM cand c JOIN flat q ON q.vec_id = c.qid
                      JOIN flat n ON n.vec_id = c.nid AND n.i = q.i
                    GROUP BY 1, 2),
          pqtop AS (SELECT qid query_id, nid neighbor_id FROM
              (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                 ORDER BY CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) DESC, nid) rank
               FROM pdots JOIN nn nq ON nq.vec_id = qid
                 JOIN nn nc ON nc.vec_id = nid)
            WHERE rank <= 10),
          xq AS (SELECT * FROM flat WHERE vec_id < 10),
          xdots AS (SELECT xq.vec_id qid, c.vec_id nid, sum(xq.x * c.x) dot
                    FROM xq JOIN flat c ON xq.i = c.i AND xq.vec_id != c.vec_id
                    GROUP BY 1, 2),
          extop AS (SELECT qid query_id, nid neighbor_id FROM
              (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                 ORDER BY CAST(dot AS DOUBLE) /
                   (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) DESC,
                   nid) rank
               FROM xdots JOIN norms nq ON nq.vec_id = qid
                 JOIN norms nc ON nc.vec_id = nid)
            WHERE rank <= 10),
          agg AS (SELECT
              (SELECT count(DISTINCT query_id) FROM extop) nq,
              (SELECT count(*) FROM extop) poss,
              (SELECT count(*) FROM extop e
                 JOIN pqtop p ON p.query_id = e.query_id
                   AND p.neighbor_id = e.neighbor_id) h)
          SELECT CAST(nq AS BIGINT) AS n_queries, CAST(poss AS BIGINT) AS possible,
            CAST(h AS BIGINT) AS hits, CAST(h * 1000000 // poss AS BIGINT) AS recall_ppm
          FROM agg""",

    // IVF + PQ composed: the ann_ivf_topk chain (2 Lloyd rounds, assign by
    // (cos DESC, cell), probe 4 cells/query) supplies the candidate POOL;
    // the ann_pq_topk chain (p-prefixed CTEs) supplies ADC scores that cut
    // the pool to 40; exact cosine rerank to 10 — the joined replay of the
    // two verified constructions
    "ann_ivfpq_topk" ->
      s"""WITH $embFlat,
          nn AS (SELECT vec_id, sqrt(CAST(n2 AS DOUBLE)) nrm FROM norms),
          c0 AS (SELECT vec_id AS cell, i, x AS cx FROM flat
                 WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
          cn0 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM c0 GROUP BY 1),
          d0 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM flat f JOIN c0 c ON f.i = c.i GROUP BY 1, 2),
          a0 AS (SELECT vec_id, cell FROM
                   (SELECT d0.vec_id, d0.cell,
                      CAST(dot AS DOUBLE) / (nn.nrm * cn0.cn) cos
                    FROM d0 JOIN nn USING (vec_id) JOIN cn0 USING (cell))
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cell) = 1),
          m1 AS (SELECT a0.cell, f.i, CAST(floor(avg(CAST(f.x AS DOUBLE))) AS BIGINT) cx
                 FROM a0 JOIN flat f USING (vec_id) GROUP BY 1, 2),
          cn1 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM m1 GROUP BY 1),
          d1 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM flat f JOIN m1 c ON f.i = c.i GROUP BY 1, 2),
          a1 AS (SELECT vec_id, cell FROM
                   (SELECT d1.vec_id, d1.cell,
                      CAST(dot AS DOUBLE) / (nn.nrm * cn1.cn) cos
                    FROM d1 JOIN nn USING (vec_id) JOIN cn1 USING (cell))
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cell) = 1),
          m2 AS (SELECT a1.cell, f.i, CAST(floor(avg(CAST(f.x AS DOUBLE))) AS BIGINT) cx
                 FROM a1 JOIN flat f USING (vec_id) GROUP BY 1, 2),
          cn2 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM m2 GROUP BY 1),
          d2 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM flat f JOIN m2 c ON f.i = c.i GROUP BY 1, 2),
          sc2 AS (SELECT d2.vec_id, d2.cell,
                    CAST(dot AS DOUBLE) / (nn.nrm * cn2.cn) cos
                  FROM d2 JOIN nn USING (vec_id) JOIN cn2 USING (cell)),
          assigned AS (SELECT vec_id, cell FROM sc2
                       QUALIFY row_number() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cell) = 1),
          probes AS (SELECT vec_id, cell FROM sc2 WHERE vec_id < 10
                     QUALIFY row_number() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, cell) <= 4),
          sub AS (SELECT vec_id, i // 16 AS j, i % 16 AS p, x FROM flat),
          pc0 AS (SELECT s.j, s.vec_id AS cell, s.p, s.x AS cx FROM sub s
                  WHERE s.vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)),
          pd0 AS (SELECT s.vec_id, s.j, c.cell,
                    CAST(2*sum(s.x*c.cx) - sum(c.cx*c.cx) AS BIGINT) sc
                  FROM sub s JOIN pc0 c ON c.j = s.j AND c.p = s.p
                  GROUP BY 1, 2, 3),
          pa0 AS (SELECT vec_id, j, cell FROM pd0
                  QUALIFY row_number() OVER (PARTITION BY vec_id, j
                    ORDER BY sc DESC, cell) = 1),
          pm1 AS (SELECT pa0.j, pa0.cell, s.p,
                    CAST(floor(avg(CAST(s.x AS DOUBLE))) AS BIGINT) cx
                  FROM pa0 JOIN sub s ON s.vec_id = pa0.vec_id AND s.j = pa0.j
                  GROUP BY 1, 2, 3),
          pd1 AS (SELECT s.vec_id, s.j, c.cell,
                    CAST(2*sum(s.x*c.cx) - sum(c.cx*c.cx) AS BIGINT) sc
                  FROM sub s JOIN pm1 c ON c.j = s.j AND c.p = s.p
                  GROUP BY 1, 2, 3),
          pa1 AS (SELECT vec_id, j, cell FROM pd1
                  QUALIFY row_number() OVER (PARTITION BY vec_id, j
                    ORDER BY sc DESC, cell) = 1),
          qd AS (SELECT s.vec_id qid, c.j, c.cell, CAST(sum(s.x*c.cx) AS BIGINT) dot
                 FROM sub s JOIN pm1 c ON c.j = s.j AND c.p = s.p
                 WHERE s.vec_id < 10 GROUP BY 1, 2, 3),
          cand0 AS (SELECT p.vec_id qid, a.vec_id nid
                    FROM probes p JOIN assigned a USING (cell)
                    WHERE p.vec_id != a.vec_id),
          sc AS (SELECT c.qid, c.nid, CAST(sum(q.dot) AS BIGINT) s8
                 FROM cand0 c JOIN pa1 a ON a.vec_id = c.nid
                   JOIN qd q ON q.qid = c.qid AND q.j = a.j AND q.cell = a.cell
                 GROUP BY 1, 2),
          cand AS (SELECT qid, nid FROM sc
                   QUALIFY row_number() OVER (PARTITION BY qid
                     ORDER BY s8 DESC, nid) <= 40),
          dots AS (SELECT c.qid, c.nid, sum(q.x * n.x) dot
                   FROM cand c JOIN flat q ON q.vec_id = c.qid
                     JOIN flat n ON n.vec_id = c.nid AND n.i = q.i
                   GROUP BY 1, 2),
          scored AS (SELECT qid query_id, nid neighbor_id,
                       CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) cosine
                     FROM dots JOIN nn nq ON nq.vec_id = qid
                       JOIN nn nc ON nc.vec_id = nid)
          SELECT query_id, neighbor_id, rank, cosine FROM
            (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) rank FROM scored)
          WHERE rank <= 10 ORDER BY query_id, rank""",

    // the streamed PQ index: same construction as ann_pq_topk, except the
    // codebooks train only on the BASE corpus (vec_id < 350 — the d0
    // training assignment is restricted; seeds are the 8 lowest ids, which
    // the base contains) while d1 encodes EVERY vector, base + streamed,
    // under those frozen codebooks — exactly what the streaming append does
    "ann_pq_stream" ->
      s"""WITH $embFlat,
          nn AS (SELECT vec_id, sqrt(CAST(n2 AS DOUBLE)) nrm FROM norms),
          sub AS (SELECT vec_id, i // 16 AS j, i % 16 AS p, x FROM flat),
          c0 AS (SELECT s.j, s.vec_id AS cell, s.p, s.x AS cx FROM sub s
                 WHERE s.vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)),
          d0 AS (SELECT s.vec_id, s.j, c.cell,
                   CAST(2*sum(s.x*c.cx) - sum(c.cx*c.cx) AS BIGINT) sc
                 FROM sub s JOIN c0 c ON c.j = s.j AND c.p = s.p
                 WHERE s.vec_id < 350
                 GROUP BY 1, 2, 3),
          a0 AS (SELECT vec_id, j, cell FROM d0
                 QUALIFY row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY sc DESC, cell) = 1),
          m1 AS (SELECT a0.j, a0.cell, s.p,
                   CAST(floor(avg(CAST(s.x AS DOUBLE))) AS BIGINT) cx
                 FROM a0 JOIN sub s ON s.vec_id = a0.vec_id AND s.j = a0.j
                 GROUP BY 1, 2, 3),
          d1 AS (SELECT s.vec_id, s.j, c.cell,
                   CAST(2*sum(s.x*c.cx) - sum(c.cx*c.cx) AS BIGINT) sc
                 FROM sub s JOIN m1 c ON c.j = s.j AND c.p = s.p
                 GROUP BY 1, 2, 3),
          a1 AS (SELECT vec_id, j, cell FROM d1
                 QUALIFY row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY sc DESC, cell) = 1),
          qd AS (SELECT s.vec_id qid, c.j, c.cell, CAST(sum(s.x*c.cx) AS BIGINT) dot
                 FROM sub s JOIN m1 c ON c.j = s.j AND c.p = s.p
                 WHERE s.vec_id < 10 GROUP BY 1, 2, 3),
          sc AS (SELECT q.qid, a.vec_id nid, CAST(sum(q.dot) AS BIGINT) s8
                 FROM a1 a JOIN qd q ON q.j = a.j AND q.cell = a.cell
                 WHERE q.qid != a.vec_id GROUP BY 1, 2),
          cand AS (SELECT qid, nid FROM sc
                   QUALIFY row_number() OVER (PARTITION BY qid
                     ORDER BY s8 DESC, nid) <= 40),
          dots AS (SELECT c.qid, c.nid, sum(q.x * n.x) dot
                   FROM cand c JOIN flat q ON q.vec_id = c.qid
                     JOIN flat n ON n.vec_id = c.nid AND n.i = q.i
                   GROUP BY 1, 2),
          scored AS (SELECT qid query_id, nid neighbor_id,
                       CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) cosine
                     FROM dots JOIN nn nq ON nq.vec_id = qid
                       JOIN nn nc ON nc.vec_id = nid)
          SELECT query_id, neighbor_id, rank, cosine FROM
            (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) rank FROM scored)
          WHERE rank <= 10 ORDER BY query_id, rank""",

    // IVF is deterministic end-to-end (int-quantized vectors, exact-integer
    // centroid means floored identically, tie-breaks pinned) — the oracle
    // unrolls the 2 Lloyd iterations: seed cells = 16 lowest ids, assign by
    // (cos DESC, cell), re-mean, assign again, then probe 4 cells per query
    // and exact-rerank top 10.
    // ann_ivf_topk's unrolled 2-iter Lloyd refinement (identical CTEs),
    // then an equal per-cell quota in md5-slot order
    "sample_cluster_balanced" ->
      s"""WITH $embFlat,
          nn AS (SELECT vec_id, sqrt(CAST(n2 AS DOUBLE)) nrm FROM norms),
          c0 AS (SELECT vec_id AS cell, i, x AS cx FROM flat
                 WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
          cn0 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM c0 GROUP BY 1),
          d0 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM flat f JOIN c0 c ON f.i = c.i GROUP BY 1, 2),
          a0 AS (SELECT vec_id, cell FROM
                   (SELECT d0.vec_id, d0.cell,
                      CAST(dot AS DOUBLE) / (nn.nrm * cn0.cn) cos
                    FROM d0 JOIN nn USING (vec_id) JOIN cn0 USING (cell))
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cell) = 1),
          m1 AS (SELECT a0.cell, f.i, CAST(floor(avg(CAST(f.x AS DOUBLE))) AS BIGINT) cx
                 FROM a0 JOIN flat f USING (vec_id) GROUP BY 1, 2),
          cn1 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM m1 GROUP BY 1),
          d1 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM flat f JOIN m1 c ON f.i = c.i GROUP BY 1, 2),
          a1 AS (SELECT vec_id, cell FROM
                   (SELECT d1.vec_id, d1.cell,
                      CAST(dot AS DOUBLE) / (nn.nrm * cn1.cn) cos
                    FROM d1 JOIN nn USING (vec_id) JOIN cn1 USING (cell))
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cell) = 1),
          m2 AS (SELECT a1.cell, f.i, CAST(floor(avg(CAST(f.x AS DOUBLE))) AS BIGINT) cx
                 FROM a1 JOIN flat f USING (vec_id) GROUP BY 1, 2),
          cn2 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM m2 GROUP BY 1),
          d2 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM flat f JOIN m2 c ON f.i = c.i GROUP BY 1, 2),
          assigned AS (SELECT vec_id, cell FROM
                         (SELECT d2.vec_id, d2.cell,
                            CAST(dot AS DOUBLE) / (nn.nrm * cn2.cn) cos
                          FROM d2 JOIN nn USING (vec_id) JOIN cn2 USING (cell))
                       QUALIFY row_number() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cell) = 1),
          h AS (SELECT vec_id,
                  CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
                    % 1000000 AS slot
                FROM embeddings),
          r AS (SELECT a.vec_id, a.cell,
                  row_number() OVER (PARTITION BY a.cell ORDER BY h.slot, a.vec_id) rk
                FROM assigned a JOIN h USING (vec_id))
          SELECT vec_id, cell, CAST(rk AS BIGINT) AS sample_rank
          FROM r WHERE rk <= 5 ORDER BY vec_id""",

    "ann_ivf_topk" ->
      s"""WITH $embFlat,
          nn AS (SELECT vec_id, sqrt(CAST(n2 AS DOUBLE)) nrm FROM norms),
          c0 AS (SELECT vec_id AS cell, i, x AS cx FROM flat
                 WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
          cn0 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM c0 GROUP BY 1),
          d0 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM flat f JOIN c0 c ON f.i = c.i GROUP BY 1, 2),
          a0 AS (SELECT vec_id, cell FROM
                   (SELECT d0.vec_id, d0.cell,
                      CAST(dot AS DOUBLE) / (nn.nrm * cn0.cn) cos
                    FROM d0 JOIN nn USING (vec_id) JOIN cn0 USING (cell))
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cell) = 1),
          m1 AS (SELECT a0.cell, f.i, CAST(floor(avg(CAST(f.x AS DOUBLE))) AS BIGINT) cx
                 FROM a0 JOIN flat f USING (vec_id) GROUP BY 1, 2),
          cn1 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM m1 GROUP BY 1),
          d1 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM flat f JOIN m1 c ON f.i = c.i GROUP BY 1, 2),
          a1 AS (SELECT vec_id, cell FROM
                   (SELECT d1.vec_id, d1.cell,
                      CAST(dot AS DOUBLE) / (nn.nrm * cn1.cn) cos
                    FROM d1 JOIN nn USING (vec_id) JOIN cn1 USING (cell))
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cell) = 1),
          m2 AS (SELECT a1.cell, f.i, CAST(floor(avg(CAST(f.x AS DOUBLE))) AS BIGINT) cx
                 FROM a1 JOIN flat f USING (vec_id) GROUP BY 1, 2),
          cn2 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM m2 GROUP BY 1),
          d2 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM flat f JOIN m2 c ON f.i = c.i GROUP BY 1, 2),
          sc2 AS (SELECT d2.vec_id, d2.cell,
                    CAST(dot AS DOUBLE) / (nn.nrm * cn2.cn) cos
                  FROM d2 JOIN nn USING (vec_id) JOIN cn2 USING (cell)),
          assigned AS (SELECT vec_id, cell FROM sc2
                       QUALIFY row_number() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cell) = 1),
          probes AS (SELECT vec_id, cell FROM sc2 WHERE vec_id < 10
                     QUALIFY row_number() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, cell) <= 4),
          cand AS (SELECT p.vec_id qid, a.vec_id nid
                   FROM probes p JOIN assigned a USING (cell)
                   WHERE p.vec_id != a.vec_id),
          dots AS (SELECT c.qid, c.nid, sum(q.x * n.x) dot
                   FROM cand c JOIN flat q ON q.vec_id = c.qid
                     JOIN flat n ON n.vec_id = c.nid AND n.i = q.i
                   GROUP BY 1, 2),
          scored AS (SELECT qid query_id, nid neighbor_id,
                       CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) cosine
                     FROM dots JOIN nn nq ON nq.vec_id = qid
                       JOIN nn nc ON nc.vec_id = nid)
          SELECT query_id, neighbor_id, rank, cosine FROM
            (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) rank FROM scored)
          WHERE rank <= 10 ORDER BY query_id, rank""",

    // ann_ivf_topk's unrolled Lloyd refinement restricted to the BASE rows
    // (vec_id >= 50, seeds = 16 lowest base ids) — the append path freezes
    // those centroids — with the FINAL assignment over all vectors
    "ann_ivf_append" ->
      s"""WITH $embFlat,
          nn AS (SELECT vec_id, sqrt(CAST(n2 AS DOUBLE)) nrm FROM norms),
          bflat AS (SELECT * FROM flat WHERE vec_id >= 50),
          c0 AS (SELECT vec_id AS cell, i, x AS cx FROM bflat
                 WHERE vec_id IN (SELECT vec_id FROM e WHERE vec_id >= 50
                                  ORDER BY vec_id LIMIT 16)),
          cn0 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM c0 GROUP BY 1),
          d0 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM bflat f JOIN c0 c ON f.i = c.i GROUP BY 1, 2),
          a0 AS (SELECT vec_id, cell FROM
                   (SELECT d0.vec_id, d0.cell,
                      CAST(dot AS DOUBLE) / (nn.nrm * cn0.cn) cos
                    FROM d0 JOIN nn USING (vec_id) JOIN cn0 USING (cell))
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cell) = 1),
          m1 AS (SELECT a0.cell, f.i, CAST(floor(avg(CAST(f.x AS DOUBLE))) AS BIGINT) cx
                 FROM a0 JOIN bflat f USING (vec_id) GROUP BY 1, 2),
          cn1 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM m1 GROUP BY 1),
          d1 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM bflat f JOIN m1 c ON f.i = c.i GROUP BY 1, 2),
          a1 AS (SELECT vec_id, cell FROM
                   (SELECT d1.vec_id, d1.cell,
                      CAST(dot AS DOUBLE) / (nn.nrm * cn1.cn) cos
                    FROM d1 JOIN nn USING (vec_id) JOIN cn1 USING (cell))
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cell) = 1),
          m2 AS (SELECT a1.cell, f.i, CAST(floor(avg(CAST(f.x AS DOUBLE))) AS BIGINT) cx
                 FROM a1 JOIN bflat f USING (vec_id) GROUP BY 1, 2),
          cn2 AS (SELECT cell, sqrt(CAST(sum(cx*cx) AS DOUBLE)) cn FROM m2 GROUP BY 1),
          d2 AS (SELECT f.vec_id, c.cell, sum(f.x * c.cx) dot
                 FROM flat f JOIN m2 c ON f.i = c.i GROUP BY 1, 2),
          sc2 AS (SELECT d2.vec_id, d2.cell,
                    CAST(dot AS DOUBLE) / (nn.nrm * cn2.cn) cos
                  FROM d2 JOIN nn USING (vec_id) JOIN cn2 USING (cell)),
          assigned AS (SELECT vec_id, cell FROM sc2
                       QUALIFY row_number() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cell) = 1),
          probes AS (SELECT vec_id, cell FROM sc2 WHERE vec_id < 10
                     QUALIFY row_number() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, cell) <= 4),
          cand AS (SELECT p.vec_id qid, a.vec_id nid
                   FROM probes p JOIN assigned a USING (cell)
                   WHERE p.vec_id != a.vec_id),
          dots AS (SELECT c.qid, c.nid, sum(q.x * n.x) dot
                   FROM cand c JOIN flat q ON q.vec_id = c.qid
                     JOIN flat n ON n.vec_id = c.nid AND n.i = q.i
                   GROUP BY 1, 2),
          scored AS (SELECT qid query_id, nid neighbor_id,
                       CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) cosine
                     FROM dots JOIN nn nq ON nq.vec_id = qid
                       JOIN nn nc ON nc.vec_id = nid)
          SELECT query_id, neighbor_id, rank, cosine FROM
            (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) rank FROM scored)
          WHERE rank <= 10 ORDER BY query_id, rank""",

    "emb_neardup" ->
      s"""WITH $embFlat,
          f5 AS (SELECT * FROM flat WHERE vec_id < 500),
          dots AS (SELECT a.vec_id ia, b.vec_id ib, sum(a.x * b.x) dot
                   FROM f5 a JOIN f5 b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
          SELECT ia AS id_a, ib AS id_b,
            CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
          FROM dots JOIN norms na ON na.vec_id = ia JOIN norms nb ON nb.vec_id = ib
          WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.4
          ORDER BY 1, 2""",

    // identical semantics to emb_neardup — the streamed drain must union
    // to exactly the one-shot exact pair set
    "stream_emb_neardup" ->
      s"""WITH $embFlat,
          f5 AS (SELECT * FROM flat WHERE vec_id < 500),
          dots AS (SELECT a.vec_id ia, b.vec_id ib, sum(a.x * b.x) dot
                   FROM f5 a JOIN f5 b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
          SELECT ia AS id_a, ib AS id_b,
            CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
          FROM dots JOIN norms na ON na.vec_id = ia JOIN norms nb ON nb.vec_id = ib
          WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.4
          ORDER BY 1, 2""",

    // emb_neardup's exact pair set restricted to pairs touching the
    // probed batch (vec_id >= 350)
    "emb_neardup_incremental" ->
      s"""WITH $embFlat,
          f5 AS (SELECT * FROM flat WHERE vec_id < 500),
          dots AS (SELECT a.vec_id ia, b.vec_id ib, sum(a.x * b.x) dot
                   FROM f5 a JOIN f5 b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
          SELECT ia AS id_a, ib AS id_b,
            CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
          FROM dots JOIN norms na ON na.vec_id = ia JOIN norms nb ON nb.vec_id = ib
          WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.4
            AND (ia >= 350 OR ib >= 350)
          ORDER BY 1, 2""",

    // transitive closure over the emb_neardup pair set; kept = singletons
    // plus each cluster's min id (DuckDB needs RECURSIVE on the first CTE
    // of the chain even though only `reach` recurses)
    "semdedup_keep" ->
      s"""WITH RECURSIVE $embFlat,
          f5 AS (SELECT * FROM flat WHERE vec_id < 500),
          dots AS (SELECT a.vec_id ia, b.vec_id ib, sum(a.x * b.x) dot
                   FROM f5 a JOIN f5 b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
          pairs AS (SELECT ia a, ib b
            FROM dots JOIN norms na ON na.vec_id = ia JOIN norms nb ON nb.vec_id = ib
            WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.4),
          sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
          reach(id, r) AS (SELECT DISTINCT a, a FROM sym
                           UNION SELECT s.a, rc.r FROM sym s JOIN reach rc ON s.b = rc.id),
          comp AS (SELECT id, min(r) component FROM reach GROUP BY id)
          SELECT f.vec_id, coalesce(c.component, f.vec_id) AS component
          FROM (SELECT DISTINCT vec_id FROM flat WHERE vec_id < 500) f
          LEFT JOIN comp c ON c.id = f.vec_id
          WHERE c.component IS NULL OR c.component = f.vec_id
          ORDER BY f.vec_id""",

    "mm_media_meta" ->
      """SELECT doc_id AS id, octet_length(encode(text)) AS n_bytes, 'fake/rgb8' AS format
         FROM documents ORDER BY doc_id""",

    "events_pivot" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY 1 ORDER BY 1""",

    "asof_keyed" ->
      s"""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value FROM events
                     WHERE event_type = 'click'),
          p AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, event_id FROM events
                WHERE event_type = 'purchase')
          SELECT p.user_id, p.t AS time, p.event_id, c.value AS last_click
          FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.t <= p.t
          ORDER BY p.user_id, p.t""",

    "fs_asof_spine" ->
      s"""WITH g AS (SELECT TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 7 HOUR AS time,
                 i AS spine_id FROM range(100) t(i)),
          c AS (${ev("click")}), p AS (${ev("purchase")})
          SELECT g.time, g.spine_id, c.value AS "events/click", p.value AS "events/purchase"
          FROM g ASOF LEFT JOIN c ON c.time <= g.time
                 ASOF LEFT JOIN p ON p.time <= g.time
          ORDER BY g.time""",

    "fs_asof_spine_interp" ->
      s"""WITH g AS (SELECT TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 7 HOUR AS time,
                 i AS spine_id FROM range(100) t(i)),
          c AS (${ev("click")}), p AS (${ev("purchase")}),
          pr AS (SELECT g.time, g.spine_id,
                   (SELECT max(c.time) FROM c WHERE c.time <= g.time) ct0,
                   (SELECT min(c.time) FROM c WHERE c.time >= g.time) ct1,
                   (SELECT max(p.time) FROM p WHERE p.time <= g.time) pt0,
                   (SELECT min(p.time) FROM p WHERE p.time >= g.time) pt1
                 FROM g),
          j AS (SELECT pr.*, c0.value cv0, c1.value cv1, p0.value pv0, p1.value pv1
                FROM pr LEFT JOIN c c0 ON c0.time = pr.ct0
                        LEFT JOIN c c1 ON c1.time = pr.ct1
                        LEFT JOIN p p0 ON p0.time = pr.pt0
                        LEFT JOIN p p1 ON p1.time = pr.pt1)
          SELECT time, spine_id,
            CASE WHEN ct0 IS NULL OR ct1 IS NULL THEN NULL
                 WHEN ct1 = ct0 THEN cv0
                 ELSE cv0 + (cv1 - cv0) *
                   (CAST(epoch_us(time) - epoch_us(ct0) AS DOUBLE)
                    / CAST(epoch_us(ct1) - epoch_us(ct0) AS DOUBLE)) END
              AS "events/click",
            CASE WHEN pt0 IS NULL OR pt1 IS NULL THEN NULL
                 WHEN pt1 = pt0 THEN pv0
                 ELSE pv0 + (pv1 - pv0) *
                   (CAST(epoch_us(time) - epoch_us(pt0) AS DOUBLE)
                    / CAST(epoch_us(pt1) - epoch_us(pt0) AS DOUBLE)) END
              AS "events/purchase"
          FROM j ORDER BY time""",

    "fs_asof_spine_tol" ->
      s"""WITH g AS (SELECT TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 7 HOUR AS time,
                 i AS spine_id FROM range(100) t(i)),
          c AS (${ev("click")}), p AS (${ev("purchase")})
          SELECT g.time, g.spine_id,
            CASE WHEN epoch_us(g.time) - epoch_us(c.time) <= 300000000
                 THEN c.value END AS "events/click",
            CASE WHEN epoch_us(g.time) - epoch_us(p.time) <= 300000000
                 THEN p.value END AS "events/purchase"
          FROM g ASOF LEFT JOIN c ON c.time <= g.time
                 ASOF LEFT JOIN p ON p.time <= g.time
          ORDER BY g.time""",

    "fs_keyed_load" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS time, value FROM events
         WHERE event_type = 'click' ORDER BY time, user_id""",

    "fs_keyed_asof" ->
      s"""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value FROM events
                     WHERE event_type = 'click'),
          p AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, event_id FROM events
                WHERE event_type = 'purchase')
          SELECT p.user_id, p.t AS time, p.event_id, c.value AS last_click
          FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.t <= p.t
          ORDER BY p.user_id, p.t""",

    // the ASOF join with the match voided when the carried observation is
    // more than 2 days old at the spine instant
    "fs_keyed_asof_tol" ->
      s"""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value FROM events
                     WHERE event_type = 'click'),
          p AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, event_id FROM events
                WHERE event_type = 'purchase')
          SELECT p.user_id, p.t AS time, p.event_id,
            CASE WHEN epoch_us(p.t) - epoch_us(c.t) <= 172800000000
                 THEN c.value END AS last_click
          FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.t <= p.t
          ORDER BY p.user_id, p.t""",

    // per-user arg_max at-or-before the inclusive bound
    "fs_keyed_latest" ->
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value FROM events
                    WHERE event_type = 'click')
         SELECT user_id, max(t) AS time, arg_max(value, t) AS value
         FROM c WHERE t <= TIMESTAMP '2024-01-15 00:00:00'
         GROUP BY user_id ORDER BY user_id""",

    // two chained per-user ASOF joins onto the purchase spine
    "fs_keyed_multi_asof" ->
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value FROM events
                    WHERE event_type = 'click'),
         v AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value FROM events
               WHERE event_type = 'view'),
         p AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, event_id FROM events
               WHERE event_type = 'purchase')
         SELECT p.user_id, p.t AS time, p.event_id,
           c.value AS "events/click_by_user",
           v.value AS "events/view_by_user"
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.t <= p.t
                ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.t <= p.t
         ORDER BY p.user_id, p.t""",

    // first click at-or-after the purchase, via the min-t1 subquery shape
    // (the fs_keyed_interp oracle's proven construction)
    "fs_keyed_asof_fwd" ->
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, event_id FROM events
               WHERE event_type = 'purchase'),
         pr AS (SELECT p.user_id, p.t, p.event_id,
                  (SELECT min(c.t) FROM c
                   WHERE c.user_id = p.user_id AND c.t >= p.t) AS t1
                FROM p)
         SELECT pr.user_id, pr.t AS time, pr.event_id, c1.value AS next_click
         FROM pr LEFT JOIN c c1 ON c1.user_id = pr.user_id AND c1.t = pr.t1
         ORDER BY pr.user_id, pr.t""",

    // closer of last/next click; equal distances go to the backward side
    "fs_keyed_asof_nearest" ->
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, event_id FROM events
               WHERE event_type = 'purchase'),
         pr AS (SELECT p.user_id, p.t, p.event_id,
                  (SELECT max(c.t) FROM c
                   WHERE c.user_id = p.user_id AND c.t <= p.t) AS t0,
                  (SELECT min(c.t) FROM c
                   WHERE c.user_id = p.user_id AND c.t >= p.t) AS t1
                FROM p),
         j AS (SELECT pr.user_id, pr.t, pr.event_id, pr.t0, pr.t1,
                 c0.value v0, c1.value v1
               FROM pr LEFT JOIN c c0 ON c0.user_id = pr.user_id AND c0.t = pr.t0
                       LEFT JOIN c c1 ON c1.user_id = pr.user_id AND c1.t = pr.t1)
         SELECT user_id, t AS time, event_id,
           CASE WHEN t0 IS NULL AND t1 IS NULL THEN NULL
                WHEN t0 IS NULL THEN v1
                WHEN t1 IS NULL THEN v0
                WHEN epoch_us(t1) - epoch_us(t) < epoch_us(t) - epoch_us(t0)
                  THEN v1
                ELSE v0 END AS near_click
         FROM j ORDER BY user_id, t""",

    // time travel drops the v=0 version (created_time == event time), so
    // the surviving latest version is v=1 → value*2
    "fs_keyed_asof_tt" ->
      s"""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value * 2 AS value
                     FROM events WHERE event_type = 'click'),
          p AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, event_id FROM events
                WHERE event_type = 'purchase')
          SELECT p.user_id, p.t AS time, p.event_id, c.value AS last_click
          FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.t <= p.t
          ORDER BY p.user_id, p.t""",

    "fs_keyed_resample" ->
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value FROM events
                    WHERE event_type = 'click'),
         u AS (SELECT DISTINCT user_id FROM c),
         g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                TIMESTAMP '2024-01-08 00:00:00', INTERVAL 12 HOUR)) AS time),
         s AS (SELECT u.user_id, g.time FROM u, g)
         SELECT s.user_id, s.time, c.value
         FROM s ASOF LEFT JOIN c ON s.user_id = c.user_id AND c.t <= s.time
         ORDER BY s.user_id, s.time""",

    "fs_keyed_interp" ->
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value FROM events
                    WHERE event_type = 'click'),
         u AS (SELECT DISTINCT user_id FROM c),
         g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                TIMESTAMP '2024-01-08 00:00:00', INTERVAL 12 HOUR)) AS time),
         s AS (SELECT u.user_id, g.time FROM u, g),
         pr AS (SELECT s.user_id, s.time,
                  (SELECT max(c.t) FROM c
                   WHERE c.user_id = s.user_id AND c.t <= s.time) AS t0,
                  (SELECT min(c.t) FROM c
                   WHERE c.user_id = s.user_id AND c.t >= s.time) AS t1
                FROM s),
         j AS (SELECT pr.user_id, pr.time, pr.t0, pr.t1, c0.value AS v0, c1.value AS v1
               FROM pr LEFT JOIN c c0 ON c0.user_id = pr.user_id AND c0.t = pr.t0
                       LEFT JOIN c c1 ON c1.user_id = pr.user_id AND c1.t = pr.t1)
         SELECT user_id, time,
           CASE WHEN t0 IS NULL OR t1 IS NULL THEN NULL
                WHEN t1 = t0 THEN v0
                ELSE v0 + (v1 - v0) *
                  (CAST(epoch_us(time) - epoch_us(t0) AS DOUBLE)
                   / CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE)) END AS value
         FROM j ORDER BY user_id, time""",

    "fg_load_wide" ->
      """SELECT CAST(ts AS TIMESTAMP) AS time, value,
           CAST(user_id * 1000 + event_id % 1000 AS DOUBLE) AS user_val
         FROM events ORDER BY time""",

    // the fixture's v=0 version (created_time == time) wins the whole row
    "fg_keyed_load" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS time, value,
           CAST(user_id * 1000 + event_id % 1000 AS DOUBLE) AS user_val
         FROM events WHERE event_type = 'click' ORDER BY user_id, time""",

    // per-user arg_max of the whole row at-or-before the inclusive bound
    "fg_keyed_latest" ->
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value,
               CAST(user_id * 1000 + event_id % 1000 AS DOUBLE) AS user_val
             FROM events WHERE event_type = 'click')
         SELECT user_id, max(t) AS time, arg_max(value, t) AS value,
           arg_max(user_val, t) AS user_val
         FROM c WHERE t <= TIMESTAMP '2024-01-15 00:00:00'
         GROUP BY user_id ORDER BY user_id""",

    // one ASOF join serving both group columns per purchase
    "fg_keyed_asof" ->
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, value,
               CAST(user_id * 1000 + event_id % 1000 AS DOUBLE) AS user_val
             FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, event_id FROM events
               WHERE event_type = 'purchase')
         SELECT p.user_id, p.t AS time, p.event_id, c.value, c.user_val
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.t <= p.t
         ORDER BY p.user_id, p.t""",

    "fg_load_pruned" ->
      """SELECT CAST(ts AS TIMESTAMP) AS time, value FROM events
         WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
           AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-20 00:00:00' ORDER BY time""",

    "stream_ingest_load" ->
      s"SELECT time, value FROM (${ev("click")}) ORDER BY time",

    // auto-compacted streamed ingest reads back the identical series
    "stream_ingest_compacted" ->
      s"SELECT time, value FROM (${ev("click")}) ORDER BY time",

    "stream_window_counts" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "stream_dedup" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
         FROM events ORDER BY event_id""",

    "stream_sessionize" -> sessionizeOracle,
    "stream_sessionize_mb" -> sessionizeOracle,
    "sessionize_batch" -> sessionizeOracle,

    "range_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
                    FROM events WHERE event_type = 'click'),
          p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS w_start
                FROM events WHERE event_type = 'purchase')
         SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts
         FROM c JOIN p ON c.user_id = p.user_id
           AND c.click_ts >= p.w_start AND c.click_ts <= p.w_start + INTERVAL 2 HOUR
         ORDER BY 1, 2, 3""",

    "range_join_global" ->
      """WITH c AS (SELECT event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
                    FROM events WHERE event_type = 'click'),
          w AS (SELECT event_id AS error_id, CAST(ts AS TIMESTAMP) AS w_start
                FROM events WHERE event_type = 'error')
         SELECT c.click_id, w.error_id, c.click_ts
         FROM c JOIN w ON c.click_ts >= w.w_start
           AND c.click_ts <= w.w_start + INTERVAL 5 MINUTE
         ORDER BY 1, 2""",

    // frame sampling stub is pure block arithmetic: every `stride`-th
    // 64-byte block of the UTF-8 payload.
    "mm_frame_sample" ->
      """WITH d AS (SELECT doc_id AS id, octet_length(encode(text)) AS len
                    FROM documents)
         SELECT id, CAST(b AS BIGINT) AS frame_idx, CAST(64 AS BIGINT) AS n_bytes
         FROM d, unnest(range(0, len // 64, 4)) t(b)
         ORDER BY id, frame_idx""",

    // decode stub: per-64-byte-block 32-bit md5-prefix digests summed per
    // dim (i % 8), width/height from the whole-payload digest. Documents
    // text is pure ASCII (verified: octet_length(encode(text)) == length
    // for every row), so VARCHAR substring == byte slicing and DuckDB's
    // md5(VARCHAR) hashes the same bytes the Scala side digests.
    "mm_decode_features" ->
      """WITH d AS (SELECT doc_id AS id, text, octet_length(encode(text)) AS len
                    FROM documents),
         blk AS (SELECT id, i,
                   CAST('0x' || substring(md5(substring(text, CAST(i*64+1 AS BIGINT), 64)), 1, 8) AS BIGINT) v
                 FROM d, unnest(range(0, len // 64)) t(i)),
         feat AS (SELECT id, i % 8 AS dim, CAST(sum(v) AS BIGINT) fval FROM blk GROUP BY 1, 2),
         dims AS (SELECT id, unnest(range(0, 8)) dim FROM d),
         wh AS (SELECT id, len, CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) h FROM d)
         SELECT w.id, CAST(w.len AS BIGINT) AS n_bytes,
           CAST(16 + w.h % 16 AS BIGINT) AS width,
           CAST(16 + (w.h // 16) % 16 AS BIGINT) AS height,
           CAST(dm.dim AS BIGINT) AS dim, COALESCE(f.fval, 0) AS fval
         FROM wh w JOIN dims dm ON dm.id = w.id
         LEFT JOIN feat f ON f.id = dm.id AND f.dim = dm.dim
         ORDER BY 1, 5""",

    // REAL image decode: the synthetic PNGs' pixels are the closed form
    // (id*31 + x*7 + y*13 + c*101) mod 256 at dims (8 + id%9, 8 + (id/9)%9);
    // PNG is lossless, so the decoded per-channel sums equal the formula's
    "mm_decode_real" ->
      """WITH d AS (SELECT doc_id AS id, 8 + doc_id % 9 AS w,
                      8 + (doc_id // 9) % 9 AS h FROM documents),
         px AS (SELECT d.id, c, CAST(sum((d.id*31 + x*7 + y*13 + c*101) % 256) AS BIGINT) s
                FROM d, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y),
                     unnest(range(0, 3)) tc(c)
                GROUP BY 1, 2)
         SELECT d.id, CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
           CAST(px.c AS BIGINT) AS channel, px.s AS pix_sum
         FROM d JOIN px ON px.id = d.id
         ORDER BY 1, 4""",

    // REAL audio decode: the synthetic WAVs' samples are the closed form
    // ((id*31 + i*7) % 65536) - 32768 over 400 + (id%7)*100 samples; WAV
    // PCM is lossless, so the decoded statistics equal the formula's. The
    // zero-crossing definition is a sign-class change (s>=0) between
    // consecutive samples, reproduced with a lag window.
    "mm_audio_stats" ->
      """WITH d AS (SELECT doc_id AS id, 400 + (doc_id % 7) * 100 AS n FROM documents),
         s AS (SELECT d.id, i, ((d.id*31 + i*7) % 65536) - 32768 AS v
               FROM d, unnest(range(0, n)) t(i)),
         z AS (SELECT id, i, v, lag(v) OVER (PARTITION BY id ORDER BY i) AS pv FROM s)
         SELECT id, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_val,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
           CAST(min(v) AS BIGINT) AS min_val,
           CAST(max(v) AS BIGINT) AS max_val,
           CAST(sum(CASE WHEN pv IS NOT NULL AND ((v >= 0) != (pv >= 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
         FROM z GROUP BY 1 ORDER BY 1""",

    // REAL video decode: the synthetic AVIs carry 3 + id%4 Motion-PNG
    // frames of the image formula with the id shifted by frame·1000003;
    // PNG frames are lossless, so every decoded channel sum equals the
    // closed form. Duck's % follows the sign of the dividend, but every
    // term here is non-negative, so no adjustment is needed.
    "mm_video_stats" ->
      """WITH d AS (SELECT doc_id AS id, 8 + doc_id % 9 AS w,
                      8 + (doc_id // 9) % 9 AS h, 3 + doc_id % 4 AS nf
                    FROM documents WHERE doc_id < 120),
         px AS (SELECT d.id, f, c,
                  CAST(sum(((d.id + f*1000003)*31 + x*7 + y*13 + c*101) % 256)
                    AS BIGINT) s
                FROM d, unnest(range(0, nf)) tf(f), unnest(range(0, w)) tx(x),
                     unnest(range(0, h)) ty(y), unnest(range(0, 3)) tc(c)
                GROUP BY 1, 2, 3)
         SELECT d.id, CAST(px.f AS BIGINT) AS frame,
           CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
           CAST(px.c AS BIGINT) AS channel, px.s AS pix_sum
         FROM d JOIN px ON px.id = d.id
         ORDER BY 1, 2, 5""",

    // video frame sampling: the same decode filtered to every 2nd frame
    "mm_video_sample" ->
      """WITH d AS (SELECT doc_id AS id, 8 + doc_id % 9 AS w,
                      8 + (doc_id // 9) % 9 AS h, 3 + doc_id % 4 AS nf
                    FROM documents WHERE doc_id < 120),
         px AS (SELECT d.id, f, c,
                  CAST(sum(((d.id + f*1000003)*31 + x*7 + y*13 + c*101) % 256)
                    AS BIGINT) s
                FROM d, unnest(range(0, nf)) tf(f), unnest(range(0, w)) tx(x),
                     unnest(range(0, h)) ty(y), unnest(range(0, 3)) tc(c)
                WHERE f % 2 = 0
                GROUP BY 1, 2, 3)
         SELECT d.id, CAST(px.f AS BIGINT) AS frame,
           CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
           CAST(px.c AS BIGINT) AS channel, px.s AS pix_sum
         FROM d JOIN px ON px.id = d.id
         ORDER BY 1, 2, 5""",

    // Motion-JPEG decode: structure replayed arithmetically, the lossy
    // codec's channel sums carried as a bound-check boolean the oracle
    // expects true (approx_stats shape)
    "mm_video_mjpeg" ->
      """WITH d AS (SELECT doc_id AS id, 8 + doc_id % 9 AS w,
                      8 + (doc_id // 9) % 9 AS h, 3 + doc_id % 4 AS nf
                    FROM documents WHERE doc_id < 120)
         SELECT d.id, CAST(f AS BIGINT) AS frame,
           CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
           CAST(c AS BIGINT) AS channel, true AS err_ok
         FROM d, unnest(range(0, nf)) tf(f), unnest(range(0, 3)) tc(c)
         ORDER BY 1, 2, 5""",

    // dHash replayed bit-for-bit from the pixel formula: gray(X,Y) =
    // sum over c of ((id*31 + X*7 + Y*13 + c*101) % 256) at the
    // nearest-neighbor grid X = (x*w)//9, Y = (y*h)//8; bit = right
    // neighbor strictly brighter, row-major
    "mm_image_dhash" ->
      """WITH d AS (SELECT doc_id AS id, 8 + doc_id % 9 AS w,
                      8 + (doc_id // 9) % 9 AS h
                    FROM documents WHERE doc_id < 200),
         g AS (SELECT id, y*8 + x AS pos,
                 ((id*31 + (((x+1)*w)//9)*7 + ((y*h)//8)*13) % 256
                  + (id*31 + (((x+1)*w)//9)*7 + ((y*h)//8)*13 + 101) % 256
                  + (id*31 + (((x+1)*w)//9)*7 + ((y*h)//8)*13 + 202) % 256) AS gr,
                 ((id*31 + ((x*w)//9)*7 + ((y*h)//8)*13) % 256
                  + (id*31 + ((x*w)//9)*7 + ((y*h)//8)*13 + 101) % 256
                  + (id*31 + ((x*w)//9)*7 + ((y*h)//8)*13 + 202) % 256) AS gl
               FROM d, unnest(range(0, 8)) ty(y), unnest(range(0, 8)) tx(x))
         SELECT id, string_agg(CASE WHEN gr > gl THEN '1' ELSE '0' END,
                               '' ORDER BY pos) AS dhash
         FROM g GROUP BY id ORDER BY id""",

    // the pairs: same hash construction, exhaustive hamming <= 3 (the
    // engine's pigeonhole banding is exact, so the answers coincide)
    "mm_image_neardup" ->
      """WITH d AS (SELECT doc_id AS id, 8 + doc_id % 9 AS w,
                      8 + (doc_id // 9) % 9 AS h
                    FROM documents WHERE doc_id < 200),
         g AS (SELECT id, y*8 + x AS pos,
                 ((id*31 + (((x+1)*w)//9)*7 + ((y*h)//8)*13) % 256
                  + (id*31 + (((x+1)*w)//9)*7 + ((y*h)//8)*13 + 101) % 256
                  + (id*31 + (((x+1)*w)//9)*7 + ((y*h)//8)*13 + 202) % 256) AS gr,
                 ((id*31 + ((x*w)//9)*7 + ((y*h)//8)*13) % 256
                  + (id*31 + ((x*w)//9)*7 + ((y*h)//8)*13 + 101) % 256
                  + (id*31 + ((x*w)//9)*7 + ((y*h)//8)*13 + 202) % 256) AS gl
               FROM d, unnest(range(0, 8)) ty(y), unnest(range(0, 8)) tx(x)),
         sh AS (SELECT id, string_agg(CASE WHEN gr > gl THEN '1' ELSE '0' END,
                                      '' ORDER BY pos) AS sig
                FROM g GROUP BY id),
         pairs AS (SELECT a.id ia, b.id ib, a.sig sa, b.sig sb
                   FROM sh a JOIN sh b ON a.id < b.id),
         hm AS (SELECT ia, ib,
                  CAST(len(list_filter(range(64),
                    i -> substring(sa, CAST(i + 1 AS INT), 1)
                         != substring(sb, CAST(i + 1 AS INT), 1))) AS BIGINT) hamming
                FROM pairs)
         SELECT ia AS id_a, ib AS id_b, hamming FROM hm
         WHERE hamming <= 3 ORDER BY 1, 2""",

    // approximate aggregates: the Spark side emits bound-check booleans
    // (sketch vs exact computed in the same query); the oracle recomputes
    // the exact distinct counts and expects every bound to hold.
    "approx_stats" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           true AS users_ok, true AS p50_ok
         FROM events GROUP BY 1 ORDER BY 1""",

    // listing after create/virtual/update/delete: literal expected rows
    "catalog_ops" ->
      """SELECT * FROM (VALUES
           ('catq', 'alpha',    CAST(1 AS BIGINT), false, 'all'),
           ('catq', 'alpha_sq', CAST(1 AS BIGINT), true,  'all'),
           ('catq', 'beta',     CAST(2 AS BIGINT), false, 'all'),
           ('catq', 'alpha',    CAST(1 AS BIGINT), false, 'regex'),
           ('catq', 'alpha_sq', CAST(1 AS BIGINT), true,  'regex'))
         t(namespace, name, version, is_virtual, listing)""",

    // deterministic registry listing: fixture stores' names/families/
    // versions, their builders' batch tokens ("b2" sorts before "base"),
    // and the pinned params
    "store_registry" ->
      """SELECT * FROM (VALUES
           ('docs_fp',       'fingerprint', CAST(2 AS BIGINT), 'base',    'algo=md5'),
           ('docs_postings', 'postings',    CAST(1 AS BIGINT), 'b2,base', ''),
           ('docs_simhash',  'simhash',     CAST(1 AS BIGINT), 'b2,base', 'bits=64'),
           ('docs_winnow',   'winnow',      CAST(1 AS BIGINT), 'b2,base', 'k=4,w=5'))
         t(name, family, version, tokens, params)""",

    // M3 serialized drift: struct half JSON-encoded, long half cast to
    // string; read keeps StringType by design (SURVEY §1.2)
    "fs_serialized" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) t, event_type, user_id
                    FROM events LIMIT 500)
         SELECT t AS time,
           CAST(to_json(struct_pack(event_type := event_type, user_id := user_id)) AS VARCHAR) AS value
         FROM e
         UNION ALL
         SELECT t + INTERVAL 40 DAY, CAST(user_id AS VARCHAR) FROM e
         ORDER BY time""",

    // decoded form: struct generation parses, drifted long generation is
    // NULLed by the static schema
    "fs_serialized_decoded" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) t, event_type, user_id
                    FROM events LIMIT 500)
         SELECT t AS time, event_type, user_id FROM e
         UNION ALL
         SELECT t + INTERVAL 40 DAY, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT) FROM e
         ORDER BY time""",
  )

  /** Gaps-and-islands sessionization (30min inactivity gap) — ground truth
    * for both the stateful (flatMapGroupsWithState) and declarative paths.
    */
  private lazy val sessionizeOracle =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) t FROM events),
       x AS (SELECT user_id, t,
               CASE WHEN lag(t) OVER w IS NULL
                      OR t - lag(t) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END ns
             FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
       y AS (SELECT user_id, t, sum(ns) OVER
               (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) sid FROM x)
       SELECT user_id, min(t) AS session_start, max(t) AS session_end, count(*) AS n_events
       FROM y GROUP BY user_id, sid ORDER BY user_id, session_start"""
}

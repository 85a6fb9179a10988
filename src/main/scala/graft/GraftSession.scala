package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session construction + shared conf for the graft engine.
  *
  * All entry points (tests, Verify, Bench, driver-supplied sessions) must see
  * the same semantics, so the data-dependent confs are also applied at runtime
  * via [[GraftSession.tune]] — safe on an already-running session.
  */
object GraftSession {

  /** Runtime-settable confs the engine depends on. Applied defensively at
    * every entry point because the driver may hand us its own session.
    *
    *  - `nanosAsLong`: the driver test data stores `events.ts` as parquet
    *    TIMESTAMP(NANOS) which Spark cannot read natively; with this flag it
    *    arrives as epoch-nanos LongType (see [[Tables.events]]).
    *  - UTC: oracle (DuckDB) timestamps are naive; pin the session zone.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // feature storage treats hive partition values as strings ("2024-01-03",
    // "2024"); don't let Spark re-infer them as date/int
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    // ObjectHashAggregate (any agg whose buffer isn't primitive: max_by on
    // a struct, first on an array, collect_list) falls back to SORT-BASED
    // aggregation after this many in-memory keys — the 128 default turns
    // every large object agg into a full sort-spill of its input stream
    // (the PQ smoke's 2e9-row encode join spilled 80 GB through it before
    // the codegen'd encode kernel replaced that plan). 256K keys/task keeps
    // the map memory bounded while covering the per-task key counts of the
    // shapes this engine runs (bestCell, latest-dedup max_by, code packs).
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
    // distributed file-listing jobs (multi-dir reads past the 32-path
    // threshold) default to up to 10,000 listing tasks — at a wide
    // export's 10k+ partition dirs that is pure task-scheduling overhead
    // (~15 s for a listing 64 tasks finish in ~1 s). Scale to the
    // cluster, not the path count.
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.parallelism",
      (spark.sparkContext.defaultParallelism * 2).toString)
    // AQE post-shuffle coalescing: target partition BYTES, not the default
    // parallelism floor. parallelismFirst=true (the default) refuses to
    // coalesce below defaultParallelism, so every tiny shuffle still runs
    // one near-empty task per core — pure scheduling overhead locally, and
    // at scale it is the advisory size that should drive partition counts
    // anyway (optimization guide §2.2: size reduce partitions in the
    // hundreds-of-MB band and let AQE coalesce). The advisory size is
    // env-tunable for cluster deployments (e.g. 256m on fast networks, §9);
    // the default stays Spark's 64m so local and driver benches share one
    // methodology. Partitioning-only: no query result depends on partition
    // count (no spark_partition_id / round-robin anywhere in the engine).
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    sys.env.get("SPARK_GRAFT_ADVISORY_PARTITION").foreach(v =>
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", v))
    // columnar writes: zstd over the snappy default — markedly smaller
    // files at similar read speed (guide §6), which at the 100 TB design
    // point is less to scan on every probe of a persisted store; env-
    // overridable for deployments that must match an existing layout.
    spark.conf.set("spark.sql.parquet.compression.codec",
      sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "zstd"))
    // scan split size stays at Spark's 128m default unless a deployment
    // overrides it — large sequential cluster scans want 512m-1g (§6);
    // forcing that locally would serialize the (tiny) test scans.
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES").foreach(v =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", v))
    // custom codegen'd functions available on every session we touch
    graft.functions.LongDotProduct.register(spark)
    graft.functions.Md5Prefix60.register(spark)
    graft.functions.RademacherBands.register(spark)
    graft.functions.QuantizeVec.register(spark)
    graft.functions.PqEncode.register(spark)
    graft.functions.PqAdcTable.register(spark)
    graft.functions.PqAdcScore.register(spark)
    graft.functions.IvfBestCell.register(spark)
    spark
  }

  /** The mains' core count: `SPARK_GRAFT_CPUS`, else every core. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Local session used by tests and mains. `local[32]`-ish parallelism with
    * shuffle partitions matched to cores (not the 200 default), AQE on so
    * skewed shuffles re-plan at runtime — the same settings that hold on a
    * real cluster, minus the resource manager.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }
}

/** Typed accessors for the driver-generated test tables (TESTDATA.md).
  * Every query in [[SparkEntry.queries]] reads through here so the
  * ns-timestamp handling lives in exactly one place.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.tune(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** `events` with `ts` normalized to a microsecond session-tz
    * TimestampType column plus raw epoch-nanos kept as `ts_ns`. The
    * driver's testdata has shipped `ts` two ways across rounds — epoch-
    * nanos int64 (TIMESTAMP(NANOS) physical, which Spark surfaces as
    * LONG) and timestamp[us] (surfaced as TIMESTAMP_NTZ) — so the
    * loader dispatches on the read schema instead of assuming either;
    * DuckDB reads both as its microsecond TIMESTAMP, so the oracle side
    * is unchanged. The UTC-pinned session makes the NTZ→TimestampType
    * cast value-preserving.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }
  }
}

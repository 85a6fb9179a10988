package perfbench

import org.apache.spark.sql.SparkSession

/** What one operation returned: whether it matched the expected answer,
  * how many rows it moved (accepted, returned or processed), and counts
  * the layer metrics read (`user_bytes`, `bytes_rewritten`, `pairs`).
  */
final case class Outcome(ok: Boolean, rows: Long = 0L, detail: String = "",
    counters: Map[String, Double] = Map.empty)

/** One call into the public API. `footprint` is a directory whose file
  * and byte counts a traced run snapshots around the call (outside its
  * timing).
  */
final case class Op(kind: String, run: () => Outcome, footprint: Option[String] = None)

/** A seeded workload. The measured phase draws `units` — groups of
  * operations that run back to back (a dedup batch is a probe and an
  * append) — until the run's time is up.
  */
trait Workload {
  /** Build the store under `root`: the writes set-up time measures. */
  def setup(root: String): Unit
  /** One round of every call the measured phase makes, on shapes it never
    * requests; rounds repeat until the JIT has settled, so warming costs
    * stay out of the measurement. `round` keeps each round's shapes new.
    */
  def warmUp(round: Int): Unit
  def units: Iterator[Seq[Op]]
  /** Checks after the measured phase, one outcome per check. */
  def verify(): Seq[Outcome]
  /** Directory whose bytes on disk are the stored bytes. */
  def storeRoot: String
  /** Bytes of user data the store accepted, setup and measured phase. */
  def userBytes: Long
}

object Workload {
  val Names: Seq[String] = Seq("ingest", "dedup_incremental")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "ingest" => new Ingest(spark, seed)
    case "dedup_incremental" => new DedupIncremental(spark, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** Operation types, for the per-layer metrics every traced run prints. */
  val OpKinds: Seq[String] = Seq("save", "save_rejected", "compact", "last_value",
    "read_range", "list_features", "dedup_probe_winnow", "dedup_append_winnow")
}

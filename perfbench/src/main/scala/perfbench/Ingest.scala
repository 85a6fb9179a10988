package perfbench

import scala.collection.mutable

import graft.api.FeatureStore
import graft.catalog.{CheckFailedException, CheckSpec}
import org.apache.spark.sql.SparkSession

/** Write-mostly feature-store traffic: check-gated one-feature x one-day
  * appends, late rewrites with a newer `created_time`, planned check
  * violations, compaction every `CompactEvery`-th accepted append to a
  * feature, and a few reads that confirm what was written: latest values,
  * multi-day range reads and catalog listings.
  */
final class Ingest(spark: SparkSession, seed: Long) extends Workload {
  import Ingest._

  private val feats = (0 until Features).map(i =>
    FeatureSpec(i, Namespace, f"i$i%02d", Cadence))
  private var fs: FeatureStore = _
  private var root: String = _
  // the generator's view of the store: feature -> day -> accepted version
  private val versions = Array.fill(Features)(mutable.Map[Int, Int]())
  private var acceptedRows = 0L

  def storeRoot: String = root
  def userBytes: Long = acceptedRows * Series.UserRowBytes

  private def save(f: FeatureSpec, a: Append): Unit =
    fs.saveDf(Series.frame(spark, rows(seed, f, a)), Some(f.qualified))

  private def accept(f: FeatureSpec, day: Int, version: Int): Unit = {
    versions(f.idx)(day) = version
    acceptedRows += f.slotsPerDay
  }

  private def quartersAt(f: FeatureSpec, minute: Long): Long =
    Gen.quarters(seed, f.idx, minute, versions(f.idx)(Math.floorDiv(minute, Gen.MinutesPerDay).toInt))

  /** Every feature created with its check and day 0 written at version 0. */
  def setup(root: String): Unit = {
    this.root = root
    fs = new FeatureStore(root, spark)
    versions.foreach(_.clear())
    acceptedRows = 0L
    fs.createNamespace(Namespace)
    feats.foreach { f =>
      fs.createFeature(f.qualified, check = Some(Check))
      save(f, Append(f.idx, 0, 0, 0L, None))
      accept(f, 0, 0)
    }
  }

  /** Every call the measured phase makes, on a feature it never touches. */
  def warmUp(round: Int): Unit = {
    val warm = FeatureSpec(Features, Namespace, "warm", Cadence)
    if (round == 0) fs.createFeature(warm.qualified, check = Some(Check))
    val day = 2 * round
    save(warm, Append(warm.idx, day, 0, 0L, None))
    save(warm, Append(warm.idx, day, 1, 1L, None))
    try save(warm, Append(warm.idx, day + 1, 0, 2L, Some(0))) catch { case _: CheckFailedException => }
    fs.compactFeature(warm.qualified)
    fs.lastValue(warm.qualified)
    Series.released(fs.loadFeatures(Seq(warm.qualified, feats.head.qualified),
      from = Some(Gen.dayString(day)), to = Some(Gen.dayString(day) + " 23:59:59")).collect())
    fs.listFeatures(Some("none"))
  }

  def units: Iterator[Seq[Op]] = Ingest.plan(seed).map(s => Seq(op(s)))

  private def op(step: Step): Op = step match {
    case a @ Append(fi, day, version, _, None) =>
      val f = feats(fi)
      Op("save", () =>
        try {
          save(f, a)
          accept(f, day, version)
          Outcome(ok = true, rows = f.slotsPerDay,
            counters = Map("user_bytes" -> (f.slotsPerDay * Series.UserRowBytes).toDouble))
        } catch { case e: Exception => Series.failure(s"save ${f.qualified} day $day", e) },
        footprint = Some(fs.storage.featurePath(Namespace, f.name)))
    case a @ Append(fi, day, _, _, Some(_)) =>
      val f = feats(fi)
      Op("save_rejected", () =>
        try {
          save(f, a)
          Outcome(ok = false, detail = s"${f.qualified} day $day: violating append accepted")
        } catch {
          case _: CheckFailedException => Outcome(ok = true)
          case e: Exception => Series.failure(s"reject ${f.qualified} day $day", e)
        })
    case Compact(fi) =>
      val f = feats(fi)
      Op("compact", () =>
        try {
          val st = fs.compactFeature(f.qualified)
          Outcome(ok = true, counters = Map("bytes_rewritten" -> st.bytesRewritten.toDouble))
        } catch { case e: Exception => Series.failure(s"compact ${f.qualified}", e) })
    case LastValue(fi) =>
      val f = feats(fi)
      Op("last_value", () =>
        try {
          val minute = f.minutesOf(versions(fi).keys.max).last
          val want = (Gen.micros(minute), quartersAt(f, minute) / 4.0)
          fs.lastValue(f.qualified) match {
            case Some((t, v: Double)) if (Series.micros(t), v) == want => Outcome(ok = true, rows = 1)
            case got => Outcome(ok = false, rows = 1, detail = s"lastValue ${f.qualified}: got $got, want $want")
          }
        } catch { case e: Exception => Series.failure(s"lastValue ${f.qualified}", e) })
    case ReadBack(fi, d0, d1) =>
      val fsel = fi.map(feats)
      Op("read_range", () =>
        try Series.released {
          val got = fs.loadFeatures(fsel.map(_.qualified), from = Some(Gen.dayString(d0)),
            to = Some(Gen.dayString(d1) + " 23:59:59")).collect()
          Series.check(s"read $step", Series.digest(got, fsel.map(_.qualified)),
            Series.expectedRead(fsel, d0, d1, quartersAt), got.length.toLong)
        } catch { case e: Exception => Series.failure(s"read $step", e) })
    case ListAll =>
      val want = (feats.map(_.name) :+ "warm").toSet
      Op("list_features", () =>
        try {
          val got = fs.listFeatures(Some(Namespace)).map(_.name).toSet
          if (got == want) Outcome(ok = true, rows = got.size.toLong)
          else Outcome(ok = false, detail = s"listFeatures: got $got, want $want")
        } catch { case e: Exception => Series.failure("listFeatures", e) })
  }

  /** Each feature's full history matches the latest versions accepted;
    * rejected appends left nothing.
    */
  def verify(): Seq[Outcome] = feats.map { f =>
    try Series.released {
      val rows = fs.loadFeatures(Seq(f.qualified)).collect()
      val days = versions(f.idx).keys
      Series.check(s"history ${f.qualified}", Series.digest(rows, Seq(f.qualified)),
        Series.expectedRead(Seq(f), days.min, days.max, quartersAt), rows.length.toLong)
    } catch { case e: Exception => Series.failure(s"history ${f.qualified}", e) }
  }
}

object Ingest {
  val Namespace = "ing"
  val Features = 4
  val Cadence = 5
  val CompactEvery = 4
  val Check = CheckSpec(dtype = Some("double"), predicates = Seq("value >= 0"))

  sealed trait Step
  /** `badSlot`: the row given a value the check rejects, if any. */
  final case class Append(feature: Int, day: Int, version: Int, createdSec: Long,
      badSlot: Option[Int]) extends Step
  final case class Compact(feature: Int) extends Step
  final case class LastValue(feature: Int) extends Step
  /** Days `fromDay`..`toDay` of two features, all already written. */
  final case class ReadBack(features: Seq[Int], fromDay: Int, toDay: Int) extends Step
  case object ListAll extends Step

  /** The rows an append writes: (minute, value, created micros). */
  def rows(seed: Long, f: FeatureSpec, a: Append): Seq[(Long, Double, Long)] =
    f.minutesOf(a.day).zipWithIndex.map { case (m, j) =>
      val v = if (a.badSlot.contains(j)) -1.0 else Gen.value(seed, f.idx, m, a.version)
      (m, v, Gen.EpochMicros + a.createdSec * 1000000L)
    }

  /** Every block of 20 steps holds 14 new-day appends, 2 late rewrites
    * (about 10% of appends), 1 violating append (about 5%), 1 latest-value
    * read, 1 range read and 1 listing. The order is fixed so every run's
    * time window holds the same mix; the seed picks features, days and
    * values.
    */
  private val Block = Seq("new", "new", "late", "new", "new", "reject", "new", "new", "last",
    "new", "new", "read", "new", "new", "late", "new", "new", "list", "new", "new")

  /** The seeded, endless step sequence. Setup wrote day 0 of every feature
    * at version 0; steps append forward from day 1, one feature at a time.
    */
  def plan(seed: Long): Iterator[Step] = new Iterator[Step] {
    private val rng = new Gen.Rng(seed)
    private val nextDay = Array.fill(Features)(1)
    private val version = Array.fill(Features)(mutable.Map(0 -> 0))
    // staggered so compactions of different features do not bunch up
    private val appends = Array.tabulate(Features)(identity)
    private val queue = mutable.Queue[Step]()
    private var block = Seq.empty[String]
    private var rr = 0
    private var created = 0L
    def hasNext = true
    def next(): Step = {
      if (queue.isEmpty) fill()
      queue.dequeue()
    }
    private def accept(f: Int, day: Int, v: Int): Unit = {
      version(f)(day) = v
      queue += Append(f, day, v, created, None)
      appends(f) += 1
      if (appends(f) % CompactEvery == 0) queue += Compact(f)
    }
    private def fill(): Unit = {
      if (block.isEmpty) block = Block
      val slot = block.head
      block = block.tail
      created += 1
      slot match {
        case "new" =>
          val f = rr % Features
          rr += 1
          accept(f, nextDay(f), 0)
          nextDay(f) += 1
        case "late" =>
          val f = rng.nextInt(Features)
          val day = rng.nextInt(nextDay(f))
          accept(f, day, version(f)(day) + 1)
        case "reject" =>
          val f = rng.nextInt(Features)
          queue += Append(f, nextDay(f), 0, created, Some(rng.nextInt(Gen.MinutesPerDay / Cadence)))
        case "last" =>
          queue += LastValue(rng.nextInt(Features))
        case "read" =>
          val fs = rng.distinct(2, Features, () => rng.nextInt(Features)).sorted
          val d1 = fs.map(nextDay).min - 1
          queue += ReadBack(fs, math.max(0, d1 - rng.nextInt(3)), d1)
        case _ =>
          queue += ListAll
      }
    }
  }
}

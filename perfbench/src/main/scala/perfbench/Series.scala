package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A stored feature: one observation every `cadence` minutes of each day
  * written, starting at minute 0 of the day.
  */
final case class FeatureSpec(idx: Int, namespace: String, name: String, cadence: Int) {
  def qualified: String = s"$namespace/$name"
  def slotsPerDay: Int = Gen.MinutesPerDay / cadence
  def minutesOf(day: Int): Seq[Long] =
    (0 until slotsPerDay).map(j => day.toLong * Gen.MinutesPerDay + j.toLong * cadence)
}

/** Order-independent summary of a result: row count, summed row times
  * (seconds past the epoch), summed values (quarters) and null cells.
  */
final case class Digest(rows: Long, timeSeconds: Long, valueQuarters: Long, nulls: Long)

object Series {
  val Schema: StructType = StructType(Seq(
    StructField("time", TimestampType),
    StructField("value", DoubleType),
    StructField("created_time", TimestampType)))

  /** User bytes of one accepted row: time, value and created_time, 8 each. */
  val UserRowBytes = 24L

  /** A `(time, value, created_time)` frame; rows are (minute, value,
    * created micros).
    */
  def frame(spark: SparkSession, rows: Seq[(Long, Double, Long)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (m, v, c) =>
        Row(Gen.timestamp(Gen.micros(m)), v, Gen.timestamp(c))
      }: _*), Schema)

  def micros(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** Digest of collected rows of a `time` + double-columns frame. */
  def digest(rows: Array[Row], valueCols: Seq[String]): Digest = {
    var secs = 0L; var sum = 0L; var nulls = 0L
    if (rows.nonEmpty) {
      val ti = rows.head.fieldIndex("time")
      val vi = valueCols.map(rows.head.fieldIndex)
      rows.foreach { r =>
        secs += Math.floorDiv(micros(r.getTimestamp(ti)) - Gen.EpochMicros, 1000000L)
        vi.foreach(i => if (r.isNullAt(i)) nulls += 1 else sum += Gen.toQuarters(r.getDouble(i)))
      }
    }
    Digest(rows.length.toLong, secs, sum, nulls)
  }

  /** Expected digest of `loadFeatures(feats, day d0 .. day d1)`: every
    * minute any feature observes, each column forward-filled from its
    * latest observation. Every window starts at a day boundary, which
    * every cadence divides, so no cell is null. `quartersAt` gives a
    * feature's latest accepted value at a minute it observes.
    */
  def expectedRead(feats: Seq[FeatureSpec], d0: Int, d1: Int,
      quartersAt: (FeatureSpec, Long) => Long): Digest = {
    var rows = 0L; var secs = 0L; var sum = 0L
    var m = d0.toLong * Gen.MinutesPerDay
    val end = (d1 + 1).toLong * Gen.MinutesPerDay
    while (m < end) {
      if (feats.exists(f => m % f.cadence == 0)) {
        rows += 1; secs += m * 60
        feats.foreach(f => sum += quartersAt(f, m / f.cadence * f.cadence))
      }
      m += 1
    }
    Digest(rows, secs, sum, 0L)
  }

  /** Run `body`, then drop the caches graft operators created for it. */
  def released[A](body: => A): A =
    try body finally graft.CacheScope.release()

  def check(name: String, got: Digest, want: Digest, rows: Long): Outcome =
    if (got == want) Outcome(ok = true, rows = rows)
    else Outcome(ok = false, rows = rows, detail = s"$name: got $got, want $want")

  def failure(name: String, e: Throwable): Outcome =
    Outcome(ok = false, detail = s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
}

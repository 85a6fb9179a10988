package graft.ts

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** Parsing for pandas-style duration / frequency strings used by the
  * reference API: `"-15min"` time-travel deltas (reference
  * src/qafs/backend/pandas.py:130) and `"2d"` / `"10min"` resample
  * frequencies (src/qafs/backend/pandas.py:165).
  */
object TimeUtil {
  private val Pattern = """^\s*([+-]?)(\d+)\s*([a-zA-Z]+)\s*$""".r

  private val unitMicros: Map[String, Long] = {
    val us = 1L
    val ms = 1000L * us
    val s  = 1000L * ms
    val m  = 60L * s
    val h  = 60L * m
    val d  = 24L * h
    val w  = 7L * d
    Map(
      "us" -> us, "micros" -> us, "microsecond" -> us, "microseconds" -> us,
      "ms" -> ms, "millis" -> ms, "millisecond" -> ms, "milliseconds" -> ms,
      "s" -> s, "sec" -> s, "second" -> s, "seconds" -> s,
      "min" -> m, "t" -> m, "minute" -> m, "minutes" -> m, "m" -> m,
      "h" -> h, "hr" -> h, "hour" -> h, "hours" -> h,
      "d" -> d, "day" -> d, "days" -> d,
      "w" -> w, "week" -> w, "weeks" -> w)
  }

  /** e.g. "-15min" → -900000000 microseconds. */
  def parseMicros(s: String): Long = s match {
    case Pattern(sign, n, unit) =>
      val u = unitMicros.getOrElse(unit.toLowerCase,
        throw new IllegalArgumentException(s"unknown time unit '$unit' in '$s'"))
      val v = n.toLong * u
      if (sign == "-") -v else v
    case _ => throw new IllegalArgumentException(s"cannot parse duration '$s'")
  }

  /** Wall-clock strings are interpreted as UTC instants, matching the
    * session timezone pinned by GraftSession.tune. `Timestamp.valueOf`
    * would bind them to the JVM default zone instead — on a non-UTC JVM
    * that shifts every user-supplied bound by the zone offset.
    */
  def parseTimestamp(s: String): Timestamp = {
    val norm = if (s.contains(" ") || s.contains("T")) s.replace(' ', 'T') else s + "T00:00:00"
    val ldt = java.time.LocalDateTime.parse(norm)
    Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
  }

  /** Epoch microseconds of `t`, exact on both sides of the epoch — Spark's
    * own conversion, so it agrees with how a timestamp literal or a
    * collected row crosses into and out of the engine.
    */
  def micros(t: Timestamp): Long = DateTimeUtils.fromJavaTimestamp(t)

  /** Inverse of [[micros]]. */
  def timestamp(us: Long): Timestamp = DateTimeUtils.toJavaTimestamp(us)
}

package perfbench

/** Deterministic input generation. Every value the benchmark writes or
  * expects is a closed-form function of (seed, feature, minute, version),
  * so expected answers are computed here in plain Scala, with no Spark.
  */
object Gen {

  /** 2024-01-01T00:00:00Z in microseconds: minute 0 of every store. */
  val EpochMicros: Long = 1704067200L * 1000000L
  val MinutesPerDay = 1440

  /** SplitMix64 finalizer: a stable 64-bit mix of its inputs. */
  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A feature's value at a minute, in quarters: an integer in [0, 4000).
    * Stored as `quarters / 4.0`, which doubles represent exactly, so sums
    * are checked exactly whatever order Spark adds them in.
    */
  def quarters(seed: Long, feature: Int, minute: Long, version: Int): Long =
    java.lang.Math.floorMod(mix(seed, feature.toLong, minute, version.toLong), 4000L)

  def value(seed: Long, feature: Int, minute: Long, version: Int): Double =
    quarters(seed, feature, minute, version) / 4.0

  def toQuarters(v: Double): Long = math.round(v * 4.0)

  def micros(minute: Long): Long = EpochMicros + minute * 60000000L

  def timestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** "2024-01-03" style date of a day index. */
  def dayString(day: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString

  /** Sequential seeded generator (SplitMix64). */
  final class Rng(seed: Long) {
    private var state = mix(seed, 0x5EEDL)
    def nextLong(): Long = { state += 0x9E3779B97F4A7C15L; mix(state) }
    def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def shuffle[A](xs: Seq[A]): Vector[A] = {
      val a = xs.toArray[Any]
      for (i <- a.indices.reverse if i > 0) {
        val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toVector.asInstanceOf[Vector[A]]
    }
    /** k distinct values of [0, n), in draw order. */
    def distinct(k: Int, n: Int, draw: () => Int): Vector[Int] = {
      val out = scala.collection.mutable.LinkedHashSet[Int]()
      while (out.size < math.min(k, n)) out += draw()
      out.toVector
    }
  }

  /** Word-level synthetic text: a seeded draw from a fixed vocabulary of
    * pronounceable lower-case tokens (what the tokenizer keeps).
    */
  object Text {
    private val syll = Vector("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "do", "fi", "gu", "he", "jo", "be")
    val VocabSize = 4096
    def word(i: Int): String = {
      val a = i % 16; val b = (i / 16) % 16; val c = i / 256
      syll(a) + syll(b) + syll(c % 16)
    }
    def doc(rng: Rng, words: Int): Vector[String] =
      Vector.fill(words)(word(rng.nextInt(VocabSize)))
    /** A near-duplicate: `edits` single-word substitutions at seeded
      * positions, well above every pair threshold the workload probes with.
      */
    def nearDup(rng: Rng, src: Vector[String], edits: Int): Vector[String] =
      (0 until edits).foldLeft(src) { (d, _) =>
        d.updated(rng.nextInt(d.size), word(rng.nextInt(VocabSize)))
      }
  }
}

package perfbench

/** One traced interval. `parent` is the operation span a child (a Spark
  * job or SQL execution) belongs to; operation spans have no parent.
  * Times are wall-clock milliseconds, the clock Spark's listener events use.
  */
final case class Span(id: String, parent: Option[String], name: String,
    startMs: Double, endMs: Double) {
  def durationMs: Double = endMs - startMs
}

object Spans {

  /** Length of the union of `intervals` after clipping each to
    * [`lo`, `hi`]; overlapping intervals are counted once.
    */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curLo.isNaN || a > curHi) {
        if (!curLo.isNaN) total += curHi - curLo
        curLo = a; curHi = b
      } else curHi = math.max(curHi, b)
    }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover.
    */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.durationMs - covered(span.startMs, span.endMs,
      children.map(c => (c.startMs, c.endMs)))

  /** Spans as a JSON array, one object per line. */
  def toJson(spans: Seq[Span]): String =
    spans.map { s =>
      Json.obj(Seq("id" -> Json.str(s.id),
        "parent" -> s.parent.fold("null")(Json.str),
        "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)))
    }.mkString("[\n", ",\n", "\n]\n")
}

/** The few JSON shapes the benchmark prints. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full-precision number; non-finite values (no sample) print as 0. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15)
      d.toLong.toString else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

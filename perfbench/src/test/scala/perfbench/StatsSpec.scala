package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.median(Seq(5.0)) == 5.0)
    assert(Stats.median(Seq(1.0, 9.0, 2.0)) == 2.0)
    assert(Stats.median(Nil).isNaN)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("ratios and means report 0 when nothing was measured") {
    assert(Stats.ratio(3, 4) == 0.75)
    assert(Stats.ratio(3, 0) == 0.0)
    assert(Stats.mean(Seq(1.0, 2.0, 6.0)) == 3.0)
    assert(Stats.mean(Nil) == 0.0)
  }

  test("self time subtracts the union of overlapping child spans") {
    val op = Span("op", None, "save", 100, 200)
    def child(a: Double, b: Double) = Span(s"job$a", Some("op"), "job", a, b)
    assert(Spans.selfTime(op, Nil) == 100)
    // two jobs overlapping on [130, 140]: covered 110..160 = 50
    assert(Spans.selfTime(op, Seq(child(110, 140), child(130, 160))) == 50)
    // nested and duplicate children count once
    assert(Spans.selfTime(op, Seq(child(120, 180), child(130, 140), child(120, 180))) == 40)
    // children are clipped to the parent; disjoint ones add up
    assert(Spans.selfTime(op, Seq(child(50, 110), child(150, 160), child(190, 250))) == 70)
    assert(Spans.selfTime(op, Seq(child(0, 50), child(250, 300))) == 100)
  }
}

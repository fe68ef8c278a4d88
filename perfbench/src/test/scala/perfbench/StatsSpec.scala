package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 95) == 95.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("a tail percentile is reported only with at least ten samples beyond it") {
    assert(Stats.samplesBeyond(200, 95) == 10)
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(199).contains(90.0)) // p95 would leave 9
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("interval union merges overlaps and ignores empty intervals") {
    assert(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (7.0, 7.0))) == 4.0)
    assert(Stats.unionLength(Nil) == 0.0)
    assert(Stats.coveredWithin(1.0, 5.0, Seq((0.0, 2.0), (4.0, 9.0))) == 2.0)
  }

  test("driver gap is exec wall minus the union of job spans inside it") {
    // one exec span 0..100; jobs 10..40 and 30..60 overlap, 90..120 spills out
    assert(Stats.driverGap(Seq((0.0, 100.0)), Seq((10.0, 40.0), (30.0, 60.0), (90.0, 120.0))) == 40.0)
    // a job outside every exec span leaves the gap whole
    assert(Stats.driverGap(Seq((0.0, 10.0)), Seq((20.0, 30.0))) == 10.0)
    assert(Stats.driverGap(Seq((0.0, 10.0)), Seq((0.0, 10.0))) == 0.0)
  }

  test("self time is the span minus the part its children cover") {
    assert(Stats.selfTime(0.0, 100.0, Seq((10.0, 30.0), (20.0, 50.0))) == 60.0)
    assert(Stats.selfTime(0.0, 100.0, Nil) == 100.0)
    assert(Stats.selfTime(0.0, 100.0, Seq((-10.0, 200.0))) == 0.0)
    val spans = Seq(
      Span(1, 1, 0, "op", 0, 100, exec = false),
      Span(1, 2, 1, "spark.exec", 20, 80, exec = true),
      Span(1, 3, 2, "inner", 30, 40, exec = false))
    val self = SpanMath.selfTimesMs(spans)
    assert(self(1) == 40 / 1e6 && self(2) == 50 / 1e6 && self(3) == 10 / 1e6)
    assert(math.abs(SpanMath.uncoveredShare(spans) - 0.4) < 1e-12)
  }

  test("write amplification is bytes written per acknowledged user byte") {
    assert(Stats.writeAmplification(900L, 100L) == 9.0)
    assertThrows[IllegalArgumentException](Stats.writeAmplification(1L, 0L))
  }

  test("task skew is max over median task time") {
    assert(Stats.skew(Seq(1.0, 1.0, 4.0)) == 4.0)
    assert(Stats.skew(Nil) == 1.0)
  }

  test("the tracer records parent links and nothing when disabled") {
    val on = new Tracer(true)
    on.root(7L, "op")(on.span("a")(on.span("b")(())))
    val byName = on.recorded.map(s => s.name -> s).toMap
    assert(byName("b").parent == byName("a").id && byName("a").parent == byName("op").id)
    assert(on.recorded.forall(_.trace == 7L))
    val off = new Tracer(false)
    off.root(7L, "op")(off.span("a")(()))
    assert(off.recorded.isEmpty)
  }
}

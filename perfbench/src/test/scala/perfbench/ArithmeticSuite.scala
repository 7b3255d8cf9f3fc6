package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic, pinned without Spark. */
class ArithmeticSuite extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.median(Nil).isNaN)
  }

  test("describe states the median with its sample count") {
    assert(Stats.describe(Seq(1.0, 2.0, 3.0), "s") == "median 2.0000 s (n=3)")
    assert(Stats.describe(Seq(4.0, 1.0), "ms") == "median 2.5000 ms (n=2)")
  }

  test("growth ratio compares the last third with the first third") {
    assert(Stats.growthRatio(Seq(1.0, 1.0, 1.0)) == 1.0)
    assert(Stats.growthRatio(Seq(1.0, 1.0, 9.0, 4.0, 4.0, 4.0)) == 4.0)
    // 7 samples: thirds of 2, the middle sample is ignored
    assert(Stats.growthRatio(Seq(2.0, 4.0, 100.0, 100.0, 100.0, 6.0, 6.0)) == 2.0)
    assertThrows[IllegalArgumentException](Stats.growthRatio(Seq(1.0, 2.0)))
  }

  test("interval union and uncovered time") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
    assert(Stats.uncovered((0L, 100L), Seq((10L, 20L), (15L, 30L), (90L, 150L), (-50L, 5L))) == 100 - 35)
    assert(Stats.uncovered((0L, 10L), Nil) == 10)
  }

  test("busy fraction is task time over cores times wall time") {
    assert(Stats.busyFrac(8.0, 4.0, 4) == 0.5)
    assert(Stats.busyFrac(1.0, 0.0, 4) == 0.0)
  }

  test("self time subtracts the part the children cover") {
    val spans = Seq(
      Span(0, -1, 0, "bench", "op", 0.0, 100.0),
      Span(1, 0, 0, "pipeline", "a", 10.0, 40.0),
      Span(2, 0, 0, "pipeline", "b", 30.0, 60.0), // overlaps a: counted once
      Span(3, 2, 0, "io", "c", 35.0, 45.0),
      Span(4, -1, 1, "bench", "op", 200.0, 210.0))
    val self = Tracer.selfMs(spans)
    assert(self(0) == 50.0)
    assert(self(1) == 30.0)
    assert(self(2) == 20.0)
    assert(self(3) == 10.0)
    assert(self(4) == 10.0)
    assert(Tracer.enclosing(spans, 38.0) == 3)
    assert(Tracer.enclosing(spans, 20.0) == 1)
    assert(Tracer.enclosing(spans, 150.0) == -1)
  }
}

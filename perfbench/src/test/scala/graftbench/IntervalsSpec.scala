package graftbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {

  test("overlapping children are counted once") {
    // parent [0, 100); children [10, 40) and [30, 60) overlap on [30, 40)
    assert(Intervals.covered(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    assert(Intervals.selfTime((0L, 100L), Seq((10L, 40L), (30L, 60L))) == 50)
  }

  test("nested and disjoint children") {
    val kids = Seq((10L, 50L), (20L, 30L), (70L, 80L))
    assert(Intervals.covered(0, 100, kids) == 50)
    assert(Intervals.selfTime((0L, 100L), kids) == 50)
  }

  test("children are clipped to the parent") {
    // a job that started before the span and one that ran past its end
    assert(Intervals.selfTime((100L, 200L), Seq((50L, 120L), (190L, 260L))) == 70)
    assert(Intervals.selfTime((100L, 200L), Seq((0L, 50L), (250L, 300L))) == 100)
  }

  test("touching intervals merge; no children leaves the whole span") {
    assert(Intervals.covered(0, 100, Seq((0L, 10L), (10L, 20L))) == 20)
    assert(Intervals.selfTime((5L, 15L), Nil) == 10)
  }

  test("self and job time of a span tree") {
    val spans = Seq(
      Span(1, 0, "catalog.dml", 1, 0, 100),
      Span(2, 1, "sink.inner", 1, 10, 90),
      Span(-1, 2, "spark.job", 1, 20, 50),
      Span(-2, 2, "spark.job", 1, 40, 70),
      Span(-3, 1, "spark.job", 1, 80, 95))
    val idx = new SpanIndex(spans)
    assert(idx.jobMs("catalog.dml") == 65 / 1e6)
    assert(idx.driverMs("catalog.dml") == 35 / 1e6)
    assert(idx.jobCount("catalog.dml") == 3)
    assert(idx.totalMs("catalog.dml") == 100 / 1e6)
  }
}

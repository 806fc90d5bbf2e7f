package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {
  private def span(id: Long, s: Long, e: Long) = Span(id, 0, 1, "call", s"s$id", s, e)

  test("self time is the duration when there are no children") {
    assert(Intervals.selfNs(span(1, 10, 110), Nil) == 100)
  }

  test("disjoint children are subtracted") {
    assert(Intervals.selfNs(span(1, 0, 100), Seq(span(2, 10, 20), span(3, 50, 80))) == 60)
  }

  test("overlapping children are counted once") {
    assert(Intervals.selfNs(span(1, 0, 100), Seq(span(2, 10, 40), span(3, 30, 60),
      span(4, 35, 45))) == 50)
  }

  test("children are clipped to the parent") {
    assert(Intervals.selfNs(span(1, 100, 200), Seq(span(2, 50, 120), span(3, 190, 300))) == 70)
    assert(Intervals.selfNs(span(1, 100, 200), Seq(span(2, 0, 50))) == 100)
    assert(Intervals.selfNs(span(1, 100, 200), Seq(span(2, 0, 500))) == 0)
  }

  test("touching children merge without double counting") {
    assert(Intervals.coveredNs(Seq((0L, 10L), (10L, 20L), (20L, 25L)), 0, 100) == 25)
  }
}

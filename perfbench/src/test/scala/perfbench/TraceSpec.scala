package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("covered length is the union of the intervals, clipped to the window") {
    assert(Intervals.covered(Nil, 0, 100) == 0)
    assert(Intervals.covered(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20)
    assert(Intervals.covered(Seq((10L, 30L), (20L, 40L)), 0, 100) == 30) // overlap
    assert(Intervals.covered(Seq((10L, 50L), (20L, 30L)), 0, 100) == 40) // nested
    assert(Intervals.covered(Seq((30L, 40L), (10L, 20L), (15L, 35L)), 0, 100) == 30) // unsorted chain
    assert(Intervals.covered(Seq((-10L, 10L), (90L, 120L)), 0, 100) == 20) // clipped
    assert(Intervals.covered(Seq((10L, 20L), (20L, 30L)), 0, 100) == 20) // touching
  }

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, op = 1, name = s"s$id", startNs = start, endNs = end, startMs = 0L)

  test("self time subtracts the union of overlapping children, not their sum") {
    val root = span(1, 0, 0, 100)
    val spans = Seq(root,
      span(2, 1, 10, 40),
      span(3, 1, 30, 60), // overlaps child 2: together they cover 10..60
      span(4, 1, 90, 130), // runs past the parent's end: only 90..100 counts
      span(5, 2, 15, 35)) // a grandchild inside child 2 does not count again
    assert(Span.selfNs(root, spans) == 100 - 50 - 10)
    assert(Span.selfNs(spans(1), spans) == 30 - 20)
    assert(Span.selfNs(spans(2), spans) == 30)
  }

  test("a span with no children is all self time") {
    val s = span(7, 0, 5, 25)
    assert(Span.selfNs(s, Seq(s)) == 20)
  }
}

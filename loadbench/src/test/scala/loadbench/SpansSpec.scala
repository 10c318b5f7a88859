package loadbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, req = 0, layer = "l", name = s"s$id", startNs = start, endNs = end)

  test("self time subtracts the direct children, not the grandchildren") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 40),
      span(2, 1, 15, 35),
      span(3, 0, 50, 70))
    val self = Spans.selfTimes(spans)
    assert(self == Map(0 -> 50L, 1 -> 10L, 2 -> 20L, 3 -> 20L))
  }

  test("overlapping children are counted once and clipped to the parent") {
    val spans = Seq(
      span(0, -1, 100, 200),
      span(1, 0, 90, 130),  // starts before the parent
      span(2, 0, 120, 150), // overlaps span 1
      span(3, 0, 190, 230)) // ends after the parent
    val self = Spans.selfTimes(spans)
    assert(self(0) == 100 - (150 - 100) - (200 - 190))
  }

  test("a span without children is all self time") {
    assert(Spans.selfTimes(Seq(span(0, -1, 5, 9))) == Map(0 -> 4L))
  }
}

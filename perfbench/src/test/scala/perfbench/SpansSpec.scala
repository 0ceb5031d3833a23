package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(a: Long, b: Long) = Span(0L, 0L, "s", a, b)

  test("covered time counts overlapping children once and clips to the parent") {
    assert(Spans.coveredUs(Seq((0L, 10L), (5L, 15L)), 0L, 100L) == 15L)
    assert(Spans.coveredUs(Seq((0L, 10L), (20L, 30L)), 0L, 100L) == 20L)
    assert(Spans.coveredUs(Seq((20L, 30L), (0L, 10L), (2L, 4L)), 0L, 100L) == 20L)
    assert(Spans.coveredUs(Seq((-5L, 5L), (95L, 120L)), 0L, 100L) == 10L)
    assert(Spans.coveredUs(Seq((200L, 300L)), 0L, 100L) == 0L)
    assert(Spans.coveredUs(Nil, 0L, 100L) == 0L)
  }

  test("self time is duration minus the union of the children") {
    val parent = span(100L, 200L)
    val kids = Seq(span(110L, 150L), span(140L, 160L), span(190L, 250L))
    // children cover [110, 160) and [190, 200): 60 us of 100
    assert(Spans.selfUs(parent, kids.map(Spans.interval)) == 40L)
    assert(Spans.selfUs(parent, Nil) == 100L)
  }

  test("driver gap is exec time with no stage running") {
    val run = span(0L, 1000L)
    val stages = Seq((100L, 400L), (300L, 500L), (700L, 900L))
    assert(Spans.selfUs(run, stages) == 1000L - 400L - 200L)
    assert(Spans.selfUs(run, Seq((0L, 1000L))) == 0L)
  }

  test("span records serialize as one JSON object per line") {
    val s = Span(3L, 1L, "exec.run", 10L, 25L, Map("query" -> "q\"1", "n" -> 2))
    assert(Spans.toJson(s) ==
      """{"id":3,"parent":1,"name":"exec.run","start_us":10,"end_us":25,"attrs":{"n":2,"query":"q\"1"}}""")
  }
}

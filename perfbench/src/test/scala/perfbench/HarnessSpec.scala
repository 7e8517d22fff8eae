package perfbench

import org.scalatest.funsuite.AnyFunSuite

import scala.util.{Failure, Success}

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts, in any order") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.5)) == 7.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("a median needs seven samples beyond it") {
    assert(Stats.samplesBeyond(15, 0.5) == 7)
    assert(Stats.samplesBeyond(14, 0.5) == 7)
    assert(Stats.samplesBeyond(13, 0.5) == 6)
    assert(Stats.reportable(14, 0.5, 7))
    assert(!Stats.reportable(13, 0.5, 7))
    assert(!Stats.reportable(0, 0.5, 0))
    // a p90 needs ten times as many samples for the same margin
    assert(Stats.samplesBeyond(100, 0.9) == 10)
  }

  test("ratio metrics") {
    assert(Stats.cpuFrac(3.0, 6.0) == 0.5)
    assert(Stats.coreBusyFrac(taskRunS = 8.0, wallS = 4.0, cores = 4) == 0.5)
    assert(Stats.twinRatio(Seq(2.0, 4.0), Seq(1.0, 2.0)) == 2.0)
    // no work of that kind ran: the ratio reads 0, not NaN
    assert(Stats.cpuFrac(1.0, 0.0) == 0.0)
    assert(Stats.twinRatio(Nil, Nil) == 0.0)
  }
}

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, op = 1, name = s"s$id", startUs = start, endUs = end)

  test("self time subtracts the union of the children, clipped to the span") {
    val spans = Seq(
      span(1, -1, 0, 100),
      span(2, 1, 10, 30),
      span(3, 1, 20, 50), // overlaps span 2: counted once
      span(4, 1, 90, 120), // runs past its parent: clipped at 100
      span(5, 2, 12, 14)) // grandchild: only its parent's self time moves
    val self = Tracer.selfTimesUs(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20 - 2)
    assert(self(3) == 30)
    assert(self(5) == 2)
  }

  test("union length of intervals") {
    assert(Tracer.unionLength(Nil) == 0)
    assert(Tracer.unionLength(Seq((5L, 10L), (0L, 3L), (2L, 6L))) == 10)
  }

  test("an untraced tracer keeps no spans") {
    val t = new Tracer(enabled = false)
    assert(t.span("x", -1, 1)(_ => 42) == 42)
    assert(t.spans.isEmpty)
  }

  test("job spans move under the stage that was running when they started") {
    val t = new Tracer(enabled = true)
    t.add(span(10, 1, 5, 8).copy(name = "job a"))
    t.add(span(11, 1, 25, 30).copy(name = "job b"))
    val stages = Seq(span(2, 1, 0, 20), span(3, 1, 20, 40))
    t.adopt(1, stages)
    assert(t.spans.map(s => s.name -> s.parent).toMap ==
      Map("job a" -> 2, "job b" -> 3))
  }
}

class VerdictSpec extends AnyFunSuite {
  private val d = Digest(3, 7L, 11L)

  test("a thrown or mismatched operation counts as failed") {
    assert(Verdict.ok(Success(None), None))
    assert(Verdict.ok(Success(Some(d)), Some(d)))
    assert(!Verdict.ok(Failure(new RuntimeException("boom")), Some(d)))
    assert(!Verdict.ok(Success(Some(d.copy(rows = 4))), Some(d)))
    assert(!Verdict.ok(Success(Some(d)), None))
  }

  test("error rate is failed over attempted") {
    val t = new Tally
    Seq(true, false, true, false).foreach(t.record)
    assert(t.attempted == 4 && t.failed == 2)
    assert(t.errorRate == 0.5)
    assert(new Tally().errorRate == 0.0)
  }
}

package e2ebench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, fromS: Double, toS: Double): Span = {
    val s = Span(id, parent, s"s$id", (fromS * 1e9).toLong, (fromS * 1000).toLong)
    s.endNs = (toS * 1e9).toLong
    s.endMs = (toS * 1000).toLong
    s
  }

  private def job(id: Int, atS: Double, tag: Option[Int]): JobRec =
    JobRec(id, (atS * 1000).toLong, tag)

  test("self time is the duration minus the union of the children") {
    val op = span(0, -1, 0, 10)
    val spans = Seq(op, span(1, 0, 1, 3), span(2, 0, 2, 5), span(3, 0, 7, 8))
    assert(math.abs(Trace.selfSeconds(op, spans) - 5.0) < 1e-9)
    assert(math.abs(Trace.selfSeconds(spans(1), spans) - 2.0) < 1e-9)
  }

  test("a job goes to its tagged span while that span is open") {
    val spans = Seq(span(0, -1, 0, 10), span(1, 0, 1, 4), span(2, 0, 4, 9))
    assert(Trace.attribute(job(1, 2, Some(1)), spans).map(_.id).contains(1))
    // untagged: the innermost span whose window holds the submission
    assert(Trace.attribute(job(2, 5, None), spans).map(_.id).contains(2))
    // a stale tag (inherited by a pooled thread) falls back to the window
    assert(Trace.attribute(job(3, 6, Some(1)), spans).map(_.id).contains(2))
    // outside every op: unattributed
    assert(Trace.attribute(job(4, 12, None), spans).isEmpty)
  }

  test("jobs under a span include those of its descendants") {
    val spans = Seq(span(0, -1, 0, 10), span(1, 0, 1, 4), span(2, 1, 2, 3), span(3, -1, 11, 12))
    val jobs = Seq(job(1, 2.5, Some(2)), job(2, 3.5, None), job(3, 11.5, None))
    assert(Trace.jobsUnder(spans.head, spans, jobs).map(_.id) == Seq(1, 2))
    assert(Trace.jobsUnder(spans(3), spans, jobs).map(_.id) == Seq(3))
  }

  test("driver-only time is the span minus the time jobs run") {
    val op = span(0, -1, 0, 10)
    val a = job(1, 1, None); a.endMs = 3000
    val b = job(2, 2, None); b.endMs = 4000
    assert(math.abs(Trace.driverOnlySeconds(op, Seq(a, b)) - 7.0) < 1e-9)
  }
}

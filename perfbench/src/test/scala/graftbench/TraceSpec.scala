package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) = Span(id, 1, s"layer.s$id", parent, start, end)

  private def assertBounded(spans: Seq[Span]): Unit = {
    val self = Tracer.selfTimes(spans)
    spans.foreach { s =>
      assert(self(s.id) <= s.seconds + 1e-12, s"self time of ${s.id} exceeds its span")
      assert(self(s.id) >= 0.0, s"negative self time of ${s.id}")
    }
  }

  test("self time is span time minus the time children cover") {
    val spans = Seq(span(0, -1, 0, 10000000000L), span(1, 0, 1000000000L, 3000000000L), span(2, 0, 5000000000L, 6000000000L))
    val self = Tracer.selfTimes(spans)
    assert(math.abs(self(0) - 7.0) < 1e-9)
    assert(math.abs(self(1) - 2.0) < 1e-9)
    assertBounded(spans)
  }

  test("overlapping concurrent children never drive self time below zero") {
    val kids = (1 to 8).map(i => span(i, 0, 0, 4000000000L))
    val spans = span(0, -1, 0, 5000000000L) +: kids
    assert(math.abs(Tracer.selfTimes(spans)(0) - 1.0) < 1e-9)
    assertBounded(spans)
  }

  test("children reaching outside their parent count only inside it") {
    val spans = Seq(span(0, -1, 1000, 2000), span(1, 0, 0, 1500), span(2, 0, 1900, 9000))
    assert(Tracer.selfTimes(spans)(0) == 400 / 1e9)
    assertBounded(spans)
  }

  test("random span trees keep self time within span time") {
    val rnd = new java.util.SplittableRandom(7)
    for (_ <- 1 to 200) {
      val spans = scala.collection.mutable.ArrayBuffer(span(0, -1, 0, 1000000))
      for (i <- 1 until 30) {
        val parent = spans(rnd.nextInt(spans.size))
        val a = parent.startNs + rnd.nextLong(parent.endNs - parent.startNs + 1)
        val b = a + rnd.nextLong(parent.endNs - a + 200)
        spans += span(i, parent.id, a, b)
      }
      assertBounded(spans.toSeq)
    }
  }

  test("a tracer nests spans per thread and records work handed to other threads") {
    val t = new Tracer(true)
    t.beginPass(3)
    t.span("control.fanout") {
      val parent = t.current
      val th = new Thread(() => t.span("sinks.load", parent = parent)(Thread.sleep(5)))
      th.start(); th.join()
      t.span("control.inner")(())
    }
    val spans = t.spansOf(3)
    val root = spans.find(_.name == "control.fanout").get
    assert(spans.size == 3)
    assert(spans.filter(_.name != "control.fanout").forall(_.parent == root.id))
    assertBounded(spans)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(false)
    assert(t.span("x.y")(42) == 42)
    assert(t.spans.isEmpty)
  }
}

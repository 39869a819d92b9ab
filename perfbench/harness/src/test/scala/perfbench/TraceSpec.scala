package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def s(trace: Int, id: Int, parent: Int, layer: String, start: Long, end: Long) =
    Span(trace, id, parent, s"span$id", layer, start, end)

  test("self time charges each instant to the deepest active span") {
    val spans = Seq(
      s(1, 1, -1, "query", 0, 100),
      s(1, 2, 1, "catalyst", 10, 30),
      s(1, 3, 1, "job", 40, 70),
      s(1, 4, 3, "stage", 50, 60))
    assert(Trace.selfTimeByLayer(spans) ===
      Map("query" -> 50L, "catalyst" -> 20L, "job" -> 20L, "stage" -> 10L))
  }

  test("layer self times add up to the root walls even when children overlap or overhang") {
    val spans = Seq(
      s(1, 1, -1, "query", 0, 100),
      s(1, 2, 1, "job", 10, 40),
      s(1, 3, 1, "catalyst", 30, 60), // overlaps its sibling
      s(1, 4, 2, "stage", 20, 55),    // overhangs its parent: clipped to 40
      s(1, 5, 1, "job", 90, 130),     // overhangs the root: clipped to 100
      s(2, 6, -1, "query", 200, 260),
      s(2, 7, 6, "job", 190, 210))    // starts before the root: clipped to 200
    val self = Trace.selfTimeByLayer(spans)
    assert(self.values.sum === Trace.rootWall(spans))
    assert(Trace.rootWall(spans) === 160L)
    assert(self === Map("query" -> 90L, "job" -> 30L, "stage" -> 20L, "catalyst" -> 20L))
  }

  test("nest hangs engine spans under the deepest span containing their start") {
    val t = new Tracer
    val tr = t.newTrace()
    val root = t.add(tr, -1, "pipeline", "pipeline", 0, 1000)
    val sink = t.add(tr, root, "sink", "sink", 500, 900)
    t.nest(tr, Seq(
      Span(0, 0, -1, "job 1", "job", 100, 200),
      Span(0, 0, -1, "job 2", "job", 600, 700),
      Span(0, 0, -1, "job 3", "job", 1500, 1600))) // outside the trace: dropped
    val jobs = t.spans.filter(_.layer == "job")
    assert(jobs.map(j => j.name -> j.parent).toMap === Map("job 1" -> root, "job 2" -> sink))
    assert(Trace.selfTimeByLayer(t.spans) ===
      Map("pipeline" -> 500L, "sink" -> 300L, "job" -> 200L))
  }

  test("span records the body's interval and gives children its id") {
    val t = new Tracer
    val tr = t.newTrace()
    val child = t.span(tr, -1, "outer", "outer") { id =>
      t.span(tr, id, "inner", "inner")(_ => Thread.sleep(2))
      id
    }
    val byName = t.spans.map(x => x.name -> x).toMap
    assert(byName("inner").parent === child)
    assert(byName("outer").start <= byName("inner").start)
    assert(byName("inner").end <= byName("outer").end)
    assert(byName("inner").micros >= 2000L)
  }
}

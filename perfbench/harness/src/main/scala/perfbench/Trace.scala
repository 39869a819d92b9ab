package perfbench

import scala.collection.mutable

/** One timed interval of a traced run. Times are epoch microseconds;
  * `parent` is -1 for the root of a trace (one trace per query, per
  * pipeline run or per trigger).
  */
final case class Span(trace: Int, id: Int, parent: Int, name: String, layer: String,
                      start: Long, end: Long) {
  def micros: Long = end - start
}

/** Epoch-microsecond clock: the epoch anchor of the wall clock plus the
  * monotonic nano clock, so spans get sub-millisecond resolution and line
  * up with Spark's epoch-millisecond listener timestamps.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def micros(): Long = anchorMs * 1000L + (System.nanoTime() - anchorNs) / 1000L
}

/** In-memory span recorder. Nothing is written until the run ends. */
final class Tracer {
  private val buf = mutable.LinkedHashMap[Int, Span]()
  private var nextId = 0
  private var nextTrace = 0

  def newTrace(): Int = synchronized { nextTrace += 1; nextTrace }

  /** Record a finished span. */
  def add(trace: Int, parent: Int, name: String, layer: String, start: Long, end: Long): Int =
    synchronized {
      nextId += 1
      buf(nextId) = Span(trace, nextId, parent, name, layer, start, end)
      nextId
    }

  /** Run `body` (given the new span's id, for children) inside a span. */
  def span[A](trace: Int, parent: Int, name: String, layer: String)(body: Int => A): A = {
    val t0 = Clock.micros()
    val id = add(trace, parent, name, layer, t0, t0)
    try body(id)
    finally synchronized { buf(id) = buf(id).copy(end = Clock.micros()) }
  }

  def spans: Seq[Span] = synchronized { buf.values.toList }

  /** Hang engine spans (jobs, Catalyst phases; parent = -1) under the
    * deepest span of `trace` whose interval contains their start.
    * Engine spans that start outside every span of the trace are dropped.
    */
  def nest(trace: Int, engine: Seq[Span]): Unit = {
    val own = spans.filter(_.trace == trace)
    val depth = Trace.depths(own)
    engine.foreach { e =>
      val holders = own.filter(s => s.start <= e.start && e.start < s.end)
      if (holders.nonEmpty) {
        val p = holders.maxBy(s => (depth(s.id), s.start))
        add(trace, p.id, e.name, e.layer, e.start, e.end)
      }
    }
  }
}

object Trace {

  private[perfbench] def depths(spans: Seq[Span]): Map[Int, Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    def d(s: Span): Int = byId.get(s.parent).map(p => d(p) + 1).getOrElse(0)
    spans.map(s => s.id -> d(s)).toMap
  }

  /** Exclusive (self) time per layer, in microseconds. Every instant of a
    * root's interval is charged to exactly one span — the deepest one
    * active then (children are clipped to their parent; ties go to the
    * later start) — so the layer totals of a trace add up to its root's
    * wall time exactly.
    */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val out = mutable.Map[String, Long]().withDefaultValue(0L)
    spans.groupBy(_.trace).values.foreach { tr =>
      val byId = tr.map(s => s.id -> s).toMap
      // clip every span to its (already clipped) parent, top-down
      val clipped = mutable.Map[Int, Span]()
      def clip(s: Span): Span = clipped.getOrElseUpdate(s.id,
        byId.get(s.parent).map(clip) match {
          case Some(p) =>
            val st = math.min(math.max(s.start, p.start), p.end)
            s.copy(start = st, end = math.max(st, math.min(s.end, p.end)))
          case None => s
        })
      val cs = tr.map(clip)
      val depth = depths(cs)
      val cuts = cs.flatMap(s => Seq(s.start, s.end)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val active = cs.filter(s => s.start <= a && s.end >= b)
        if (active.nonEmpty) {
          val owner = active.maxBy(s => (depth(s.id), s.start, s.id))
          out(owner.layer) += b - a
        }
      }
    }
    out.toMap
  }

  /** Total wall of the root spans, in microseconds. */
  def rootWall(spans: Seq[Span]): Long = spans.filter(_.parent < 0).map(_.micros).sum

  def toJson(spans: Seq[Span]): String =
    spans.map { s =>
      s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_us":${s.start},"end_us":${s.end}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

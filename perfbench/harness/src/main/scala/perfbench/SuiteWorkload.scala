package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `suite_warm`: closed-loop passes over a fixed slice of the registered
  * queries (`SparkEntry.queries`), one query at a time, each forced with
  * `.count()` as Bench does.
  *
  * Phase `prep` runs one cold pass in an empty working directory; run.py
  * keeps that directory as the artifact snapshot. Phase `run` starts in a
  * fresh copy of it, makes an untimed warm pass that checks every row
  * count against the slice file, then times at least three passes, for
  * the given seconds. Each query's latency is its median over the timed
  * passes, so a burst of load during one pass does not move it; the pass
  * wall is the sum of those medians. The tables are fixed, so the seed
  * does not change the work.
  */
object SuiteWorkload {

  /** The slice file: one `query<TAB>expected row count` per line. */
  def readSlice(args: Harness.Args): Seq[(String, Long)] =
    Files.readAllLines(args.slice, StandardCharsets.UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> f(1).toLong }

  final case class Timed(name: String, ms: Double, rows: Option[Long], startUs: Long, endUs: Long)

  def apply(spark: SparkSession, a: Harness.Args, listener: EngineListener, res: Result): Unit = {
    val slice = readSlice(a)
    val unknown = slice.map(_._1).filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"slice names unregistered queries: ${unknown.mkString(", ")}")
    res.put("suite.queries", slice.size, "count")
    val sc = spark.sparkContext

    def pass(kind: String): Seq[Timed] = {
      val p = slice.map { case (name, _) =>
        sc.setLocalProperty(EngineListener.OpProperty, name)
        val fn = graft.SparkEntry.queries(name)
        val t0 = Clock.micros()
        val rows = res.op(name)(fn(spark, a.data).count())
        val t1 = Clock.micros()
        Timed(name, (t1 - t0) / 1000.0, rows, t0, t1)
      }
      System.err.println(f"[perfbench] $kind pass ${p.map(_.ms).sum / 1000}%.3f s: " +
        p.map(t => f"${t.name}=${t.ms}%.0f").mkString(" "))
      p
    }

    def check(p: Seq[Timed]): Unit = p.zip(slice).foreach { case (t, (_, want)) =>
      t.rows.filter(_ != want).foreach(got =>
        res.fail(s"${t.name}: $got rows, expected $want"))
    }

    if (a.phase == "prep") {
      val t0 = System.nanoTime()
      check(pass("cold"))
      res.put("artifacts.build_s", (System.nanoTime() - t0) / 1e9, "s")
      return
    }

    check(pass("warm")) // untimed
    res.firstTimedMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val untraced = mutable.ArrayBuffer[Seq[Timed]]()
    val traced = mutable.ArrayBuffer[Seq[Timed]]()
    var firstTracedSnap: Option[EngineListener.Snapshot] = None
    val tracer = new Tracer
    // per-layer figures describe the first traced pass; in a traced run
    // the passes alternate untraced / traced, so the tracing overhead is
    // measured in the same process
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while (untraced.size < 3 || traced.isEmpty && a.trace || elapsed < a.seconds) {
      if (a.trace && i % 2 == 1) {
        listener.reset()
        listener.recording = true
        val p = pass("traced")
        listener.recording = false
        BusDrain(sc)
        val snap = listener.snapshot()
        p.foreach { t =>
          val tr = tracer.newTrace()
          tracer.add(tr, -1, t.name, s"family.${Layers.family(t.name)}", t.startUs, t.endUs)
          tracer.nest(tr, snap.engineSpans)
        }
        if (firstTracedSnap.isEmpty) firstTracedSnap = Some(snap)
        traced += p
      } else untraced += pass("timed")
      i += 1
    }

    val lat = untraced.flatten.filter(_.rows.isDefined).groupBy(_.name).values
      .map(ts => Stats.median(ts.map(_.ms).toSeq)).toSeq
    require(lat.nonEmpty, "every timed query failed")
    res.put("wall_s", lat.sum / 1000.0, "s")
    res.put("latency_p50_ms", Stats.percentile(lat, 50), "ms")
    res.put("latency_p90_ms", Stats.percentile(lat, 90), "ms")
    res.put("throughput_per_s", lat.size / (lat.sum / 1000.0), "1/s")

    if (a.trace) {
      val snap = firstTracedSnap.get
      val first = traced.head
      val firstWallMs = first.map(_.ms).sum
      val firstSpans = tracer.spans.filter(_.trace <= first.size)
      Layers.putEngine(res, snap, firstWallMs)
      val jobsByFamily = snap.jobs.groupBy(j => Layers.family(j.op)).view.mapValues(_.size).toMap
      Layers.families.foreach(f => res.put(s"family.$f.jobs", jobsByFamily.getOrElse(f, 0).toDouble, "count"))
      val famWall = first.groupBy(t => Layers.family(t.name)).toSeq.sortBy(_._1)
        .map { case (f, ts) => (s"family.$f.wall_s", ts.map(_.ms).sum / 1000.0, "s") }
      val prep = a.prepS.map(s => ("artifacts.build_s", s, "s")).toSeq
      Layers.writeTrace(res, a.traceDir, firstSpans, famWall ++ prep,
        tracedMs = Stats.median(traced.map(_.map(_.ms).sum).toSeq),
        untracedMs = Stats.median(untraced.map(_.map(_.ms).sum).toSeq))
    }
  }
}

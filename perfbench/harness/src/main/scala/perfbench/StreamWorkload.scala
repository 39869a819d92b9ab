package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import graft.observe.Metrics
import graft.streaming.StreamingPipeline
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A Kafka record in the wire schema of `graft.sources.KafkaWire`. */
final case class WireRow(key: Array[Byte], value: Array[Byte], topic: String, partition: Int,
                         offset: Long, timestamp: Timestamp, timestampType: Int)

/** Seeded event source for `stream_open_loop`. Event `i` has event time
  * `epoch0 + i * stepS` and one of `nCities` keys, so (city, event time)
  * is unique per event. Besides the unique events it injects, at known
  * shares: redeliveries of an event one batch later, events held back one
  * batch (out of order, far inside the lateness bound), and events older
  * than the watermark of the warm-up (late beyond the bound).
  */
final class EventGen(seed: Long, nCities: Int, stepS: Long,
                     dupShare: Double, oooShare: Double, lateShare: Double) {
  private val rnd = new SplittableRandom(seed)
  private var seq = 0L
  private var carry = Vector.empty[WireRow]
  var unique = 0L
  var dups = 0L
  var late = 0L
  /** Event time below which injected late events fall (set after warm-up). */
  var lateBefore: Option[Long] = None

  def maxEventTime: Long = StreamWorkload.epoch0 + (seq - 1) * stepS

  /** The next `k` unique events plus the injections due in this batch. */
  def next(k: Int, dueMs: Long): Seq[WireRow] = {
    val out = mutable.ArrayBuffer[WireRow]() ++= carry
    val held = mutable.ArrayBuffer[WireRow]()
    (0 until k).foreach { _ =>
      val i = seq; seq += 1; unique += 1
      val city = f"city${rnd.nextInt(nCities)}%02d"
      val r = row(city, StreamWorkload.epoch0 + i * stepS, 5.0 + rnd.nextDouble() * 25.0, dueMs)
      val u = rnd.nextDouble()
      if (u < oooShare) held += r else out += r
      if (u >= oooShare && u < oooShare + dupShare) { held += r; dups += 1 }
      lateBefore.filter(_ => rnd.nextDouble() < lateShare).foreach { lb =>
        out += row(city, lb - 3600L - rnd.nextInt(86400), 15.0, dueMs); late += 1
      }
    }
    carry = held.toVector
    out.toSeq
  }

  /** Events still held back, released now. */
  def release(): Seq[WireRow] = { val c = carry; carry = Vector.empty; c }

  def row(city: String, dt: Long, temp: Double, dueMs: Long): WireRow = {
    val t = String.format(java.util.Locale.ROOT, "%.2f", Double.box(temp))
    val json = s"""{"dt": $dt, "city_name": "$city", "country_code": "ZZ", "main": {"temp": $t, "feels_like": $t, "temp_min": $t, "temp_max": $t, "pressure": 1010, "humidity": 60}, "wind": {"speed": 3.5, "deg": 180}, "weather": [{"main": "Clear", "description": "clear sky"}]}"""
    WireRow(city.getBytes(StandardCharsets.UTF_8), json.getBytes(StandardCharsets.UTF_8),
      "weather", 0, 0L, new Timestamp(dueMs), 0)
  }
}

/** `stream_open_loop`: a generator thread adds wire rows to a
  * `MemoryStream` at a fixed rate while `StreamingPipeline` (decode →
  * dedupWithinWatermark → windowed aggregation → partitioned parquet)
  * consumes them; then fixed backlogs are enqueued and their drains
  * timed. Latency runs from the time an event was due to the commit of
  * the micro-batch that read it.
  */
object StreamWorkload {
  val epoch0: Long = 1735689600L
  val ratePerS = 1000
  val tickMs = 200
  val nCities = 10
  val stepS = 4L // one hour of event time every 0.9 s at the fixed rate
  val window = "1 hour"
  val lateness = "2 hours"
  val warmupS = 3.0
  val backlog = 10000
  val drains = 2
  /** A run whose generator fell further behind its schedule is invalid. */
  val lateBoundMs = 1500.0

  final case class Batch(id: Long, startOffset: Long, endOffset: Long, startMs: Long,
                         durations: Map[String, Long], rows: Long, progress: StreamingQueryProgress) {
    def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  def apply(spark: SparkSession, a: Harness.Args, listener: EngineListener, res: Result): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sc = spark.sparkContext
    val work = Paths.get("stream").toAbsolutePath
    val mem = MemoryStream[WireRow]
    val gen = new EventGen(a.seed, nCities, stepS, dupShare = 0.05, oooShare = 0.05, lateShare = 0.01)
    // due times of the rows behind each MemoryStream offset
    val created = mutable.LinkedHashMap[Long, Seq[Long]]()
    def add(rows: Seq[WireRow]): Unit = if (rows.nonEmpty) {
      val off = mem.addData(rows).json().toLong
      created.synchronized { created(off) = rows.map(_.timestamp.getTime) }
    }

    val batches = mutable.ArrayBuffer[Batch]()
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val src = p.sources.head
        def off(s: String) = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
        batches.synchronized {
          batches += Batch(p.batchId, off(src.startOffset), off(src.endOffset),
            java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows, p)
        }
      }
    }
    spark.streams.addListener(progressListener)
    val began = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] stream ${(System.nanoTime() - began) / 1e9}%.1f s: $what")
    val windowsBefore = Metrics.get(Metrics.StreamWindowsWritten)
    val q = StreamingPipeline.start(spark, StreamingPipeline.Config(
      checkpointDir = work.resolve("ckpt").toString, outputDir = work.resolve("out").toString,
      window = window, lateness = lateness, wireSource = Some(mem.toDF()),
      dedupKeys = Some(Seq("city", "ts"))))

    // waits until the query has committed everything and stays idle,
    // so the eviction batch that follows a data batch is included
    def quiesce(): Unit = {
      q.processAllAvailable()
      val giveUp = System.nanoTime() + 60e9.toLong
      var seen = -1
      var idle = 0
      while (idle < 3 && System.nanoTime() < giveUp) {
        Thread.sleep(100)
        val n = batches.synchronized(batches.size)
        if (q.status.isTriggerActive || n != seen) { idle = 0; seen = n } else idle += 1
      }
    }

    // open loop: `perTick` events every `tickMs` for `secs`, on a schedule
    // that does not wait for the query; returns how late it ran at most.
    // Events are stamped with the time they were due, so a stall of the
    // generator counts against the latency of the events it delayed.
    val perTick = ratePerS * tickMs / 1000
    def openLoop(secs: Double, onTick: Int => Unit): Double = {
      val ticks = math.max(1, (secs * 1000 / tickMs).toInt)
      var lateMax = 0.0
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      val generator = new Thread(() => (0 until ticks).foreach { n =>
        val due = t0 + n * tickMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMax = math.max(lateMax, (System.nanoTime() - due) / 1e6)
        onTick(n)
        add(gen.next(perTick, t0Ms + n * tickMs))
      }, "perfbench-generator")
      generator.start()
      generator.join()
      lateMax
    }

    // warm-up at the same rate: compiles the plans and sets a watermark
    // the injected late events are older than
    openLoop(warmupS, _ => ())
    add(gen.release())
    quiesce()
    gen.lateBefore = Some(gen.maxEventTime - 2 * 3600L)
    mark("warm-up committed")

    val firstTimedOffset = created.synchronized(created.keys.max) + 1
    var recordFromMs = Long.MaxValue
    listener.reset()
    res.firstTimedMs = System.currentTimeMillis()
    val halfway = (a.seconds * 1000 / tickMs / 2).toInt
    val lateMax = openLoop(a.seconds, n =>
      // the second half runs with the engine listener recording, which
      // makes its cost visible as the tracing overhead
      if (a.trace && n == halfway) {
        recordFromMs = System.currentTimeMillis()
        listener.recording = true
      })
    val lastTimedOffset = created.synchronized(created.keys.max)
    mark("open-loop phase over")
    add(gen.release())
    quiesce()
    listener.recording = false
    mark("open-loop events committed")

    // fixed backlogs, each enqueued at once on an idle query; a drain
    // ends with the commit of the last batch it caused
    val drainS = (0 until drains).map { _ =>
      val rows = gen.next(backlog, System.currentTimeMillis()) ++ gen.release()
      val d0 = System.currentTimeMillis()
      add(rows)
      quiesce()
      val end = batches.synchronized(batches.filter(_.startMs >= d0).map(_.commitMs).max)
      (end - d0) / 1000.0
    }

    // close every window: two events far past the last one; the second
    // (a redelivery of the first) runs a batch under the advanced watermark
    val flush = gen.row("flush", gen.maxEventTime + 10 * 86400L, 0.0, System.currentTimeMillis())
    mark("backlogs drained")
    add(Seq(flush)); q.processAllAvailable()
    add(Seq(flush)); q.processAllAvailable()
    gen.dups += 1
    mark("windows closed")
    res.attempt()
    try q.stop()
    catch { case e: Exception => res.fail(s"stream stop: $e") }
    q.exception.foreach(e => res.fail(s"stream query failed: $e"))
    mark("stopped")
    spark.streams.removeListener(progressListener)
    BusDrain(sc)

    val bs = batches.synchronized(batches.toList).sortBy(_.id)
    val committed = bs.map(_.endOffset).maxOption.getOrElse(-1L)
    val offsets = created.synchronized(created.toList)
    res.attempt(offsets.map(_._2.size.toLong).sum)
    val uncommitted = offsets.filter(_._1 > committed).map(_._2.size.toLong).sum
    if (uncommitted > 0) res.fail(s"$uncommitted events uncommitted at stop", uncommitted)

    // latency of the timed events: due time to the commit of their batch
    val lat = offsets.filter { case (o, _) => o >= firstTimedOffset && o <= lastTimedOffset }
      .flatMap { case (o, cs) =>
        bs.find(b => b.startOffset < o && o <= b.endOffset).toSeq
          .flatMap(b => cs.map(c => (b.commitMs - c).toDouble))
      }
    res.put("latency_p50_ms", Stats.percentile(lat, 50), "ms")
    res.put("latency_p90_ms", Stats.percentile(lat, 90), "ms")
    res.put("wall_s", Stats.median(drainS), "s")
    res.put("throughput_per_s", backlog / Stats.median(drainS), "1/s")

    // output check: windows written hold every unique in-lateness event
    res.attempt()
    val windowed = spark.read.parquet(work.resolve("out").resolve("windowed").toString)
    val (nSum, nWindows) = {
      val r = windowed.agg(sum("n"), org.apache.spark.sql.functions.count("*")).head()
      (r.getLong(0), r.getLong(1))
    }
    if (nSum != gen.unique)
      res.fail(s"windows hold $nSum events, expected ${gen.unique} unique in-lateness events")
    val windowsWritten = Metrics.get(Metrics.StreamWindowsWritten) - windowsBefore
    if (windowsWritten != nWindows)
      res.fail(s"sink counted $windowsWritten windows, parquet holds $nWindows")
    mark("output checked")
    if (lateMax > lateBoundMs)
      res.invalid(f"generator ran $lateMax%.0f ms late, above the $lateBoundMs%.0f ms bound")

    // per-layer figures of the timed phase's triggers
    val timed = bs.filter(b => b.endOffset >= firstTimedOffset && b.startOffset < lastTimedOffset)
    def p50(key: String) = Stats.median(timed.map(_.durations.getOrElse(key, 0L).toDouble))
    val ops = bs.flatMap(_.progress.stateOperators.toSeq)
    res.put("stream.triggers", timed.size, "count")
    res.put("stream.rows_per_trigger_p50", Stats.median(timed.map(_.rows.toDouble)), "count")
    val lastOps = timed.last.progress.stateOperators.toSeq
    res.put("state.rows_total", lastOps.map(_.numRowsTotal).sum, "count")
    res.put("state.memory_bytes", lastOps.map(_.memoryUsedBytes).sum, "bytes")
    res.put("state.rows_dropped_by_watermark", ops.map(_.numRowsDroppedByWatermark).sum, "count")
    val droppedDups = ops.map(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
      .map(_.longValue).getOrElse(0L)).sum
    res.put("dedup.dropped_over_injected", droppedDups.toDouble / math.max(1L, gen.dups), "ratio")
    res.put("sink.windows_written", windowsWritten, "count")

    if (a.trace) {
      // triggers that started after the engine listener began recording
      // are traced; the earlier ones are the untraced baseline
      val (traced, untraced) = timed.partition(_.startMs >= recordFromMs)
      val tracer = new Tracer
      val snap = listener.snapshot().during(traced.map(b => (b.startMs, b.commitMs)))
      val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      traced.foreach { b =>
        val tr = tracer.newTrace()
        val root = tracer.add(tr, -1, s"trigger ${b.id}", "stream", b.startMs * 1000, b.commitMs * 1000)
        // progress reports phase durations only; they run in this order
        var t = b.startMs * 1000
        phases.foreach { p =>
          val d = b.durations.getOrElse(p, 0L) * 1000
          if (d > 0) tracer.add(tr, root, p, s"stream.$p", t, t + d)
          t += d
        }
        tracer.nest(tr, snap.engineSpans)
      }
      def trig(bs: Seq[Batch]) = bs.map(b => (b.commitMs - b.startMs).toDouble)
      Layers.putEngine(res, snap, trig(traced).sum)
      val extra = (("trigger", "triggerExecution") +: phases.map(p => (p, p))).map { case (n, k) =>
        (s"stream.${n}_ms_p50", p50(k), "ms")
      } ++ Seq(
        ("state.update_ms", ops.map(_.allUpdatesTimeMs.toDouble).sum, "ms"),
        ("state.commit_ms", ops.map(_.commitTimeMs.toDouble).sum, "ms"),
        ("gen.late_max_ms", lateMax, "ms"))
      Layers.writeTrace(res, a.traceDir, tracer.spans, extra,
        tracedMs = Stats.median(trig(traced)), untracedMs = Stats.median(trig(untraced)))
    }
    System.err.println("[perfbench] triggers (id:ms:rows): " + bs.map(b =>
      s"${b.id}:${b.durations.getOrElse("triggerExecution", 0L)}:${b.rows}").mkString(" "))
    System.err.println(f"[perfbench] stream: ${gen.unique} unique, ${gen.dups} dups, ${gen.late} late, " +
      f"generator late max $lateMax%.0f ms, ${timed.size} timed triggers")
  }
}

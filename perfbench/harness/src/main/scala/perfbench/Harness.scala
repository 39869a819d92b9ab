package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark process. run.py starts it in a fresh
  * working directory (the artifact stores and the media fixture cache
  * resolve against it) and reads the result file it writes.
  *
  * {{{
  * perfbench.Harness --workload suite_warm|pipeline_batch|stream_open_loop
  *   --phase prep|run --seed N --seconds S --trace 0|1
  *   --data DIR --slice FILE --out FILE --trace-dir DIR [--prep-s S]
  * }}}
  * `--prep-s` hands the `suite_warm` run phase the artifact build time of
  * its prep phase, for the per-layer table.
  */
object Harness {

  final case class Args(workload: String, phase: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, slice: Path, out: Path, traceDir: Path,
                        prepS: Option[Double])

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"arguments come in --name value pairs: ${argv.mkString(" ")}")
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), m.getOrElse("phase", "run"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), Paths.get(get("slice")), Paths.get(get("out")),
      Paths.get(get("trace-dir")), m.get("prep-s").map(_.toDouble))
  }

  /** The session every workload runs on: the driver's Bench settings at
    * local[nproc], capped at 4 cores so one run's work (and the time it
    * takes) does not grow with the box.
    */
  def session(): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = graft.sink.BucketedMirror.withSessionConfs(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result
    val spark = session()
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    try {
      // the same engine warm-up Bench does before its first timed query
      spark.range(1000000).selectExpr("sum(id)").collect()
      Layers.zeroWorkloadCounts(res)
      a.workload match {
        case "suite_warm" => SuiteWorkload(spark, a, listener, res)
        case "pipeline_batch" => PipelineWorkload(spark, a, listener, res)
        case "stream_open_loop" => StreamWorkload(spark, a, listener, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      res.put("peak_rss_mb", peakRssMb(), "MB")
    } finally spark.stop()
    Files.createDirectories(a.out.getParent)
    Files.write(a.out, res.toJson.getBytes(StandardCharsets.UTF_8))
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Per-layer reporting shared by the workloads. */
object Layers {

  val families: Seq[String] =
    Seq("q", "a", "w", "o", "j", "c", "f", "t", "d", "s", "e", "m", "z", "er", "g", "ml", "dq")

  /** Query family: the letters before the first digit of its name. */
  def family(query: String): String = query.takeWhile(_.isLetter)

  /** Counts only some workloads produce. The others report 0, meaning
    * the layer does not run in them.
    */
  val workloadCounts: Seq[(String, String)] = Seq(
    "suite.queries" -> "count",
    "pipeline.jobs" -> "count", "pipeline.raw_scan_amplification" -> "ratio",
    "ingest.records_in" -> "count", "ingest.records_kept" -> "count",
    "clean.jobs" -> "count", "analyze.jobs" -> "count",
    "sink.files_written" -> "count", "sink.bytes_written" -> "bytes",
    "stream.triggers" -> "count", "stream.rows_per_trigger_p50" -> "count",
    "state.rows_total" -> "count", "state.memory_bytes" -> "bytes",
    "state.rows_dropped_by_watermark" -> "count",
    "dedup.dropped_over_injected" -> "ratio", "sink.windows_written" -> "count") ++
    families.map(f => s"family.$f.jobs" -> "count")

  def zeroWorkloadCounts(res: Result): Unit =
    workloadCounts.foreach { case (n, u) => res.put(n, 0, u) }

  /** The engine metrics every workload reports for its traced unit of
    * work, `wallMs` being that unit's wall time.
    */
  def putEngine(res: Result, s: EngineListener.Snapshot, wallMs: Double): Unit = {
    res.put("engine.jobs", s.jobs.size, "count")
    res.put("engine.stages", s.stages.size, "count")
    res.put("engine.tasks", s.tasks, "count")
    res.put("catalyst.analysis_ms", s.phaseMs("analysis"), "ms")
    res.put("catalyst.optimization_ms", s.phaseMs("optimization"), "ms")
    res.put("catalyst.planning_ms", s.phaseMs("planning"), "ms")
    res.put("engine.job_wall_ms", s.jobWallMs, "ms")
    res.put("engine.driver_gap_ms", wallMs - s.jobWallMs, "ms")
    res.put("executor.run_ms", s.runMs, "ms")
    res.put("executor.cpu_ms", s.cpuMs, "ms")
    res.put("io.scan_bytes", s.scanBytes, "bytes")
    res.put("io.scan_records", s.scanRecords, "count")
    res.put("io.shuffle_write_bytes", s.shuffleWriteBytes, "bytes")
    res.put("io.shuffle_read_bytes", s.shuffleReadBytes, "bytes")
    res.put("io.spill_bytes", s.spillBytes, "bytes")
    res.put("io.output_bytes", s.outputBytes, "bytes")
  }

  /** Span file, per-layer self-time table and the trace metrics. `extra`
    * holds the workload's own layer figures (name, value, unit) for the
    * table. `untracedMs`/`tracedMs` give the tracing overhead.
    */
  def writeTrace(res: Result, dir: Path, spans: Seq[Span], extra: Seq[(String, Double, String)],
                 tracedMs: Double, untracedMs: Double): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("spans.json"), Trace.toJson(spans).getBytes(StandardCharsets.UTF_8))
    val self = Trace.selfTimeByLayer(spans).toSeq.sortBy(-_._2)
    val wallUs = Trace.rootWall(spans)
    val rows = self.map { case (l, us) => (s"self.$l", us / 1000.0, "ms") } ++
      Seq(("self.total", self.map(_._2).sum / 1000.0, "ms"), ("roots.wall", wallUs / 1000.0, "ms"),
        ("trace.overhead", tracedMs - untracedMs, "ms")) ++ extra
    val table = rows.map { case (n, v, u) => f"$n%-40s ${Json.num(v)}%s $u%s" }.mkString("", "\n", "\n")
    Files.write(dir.resolve("layers.tsv"),
      rows.map { case (n, v, u) => s"$n\t${Json.num(v)}\t$u" }.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    System.err.print(s"[perfbench] per-layer table ($dir/layers.tsv)\n$table")
    res.put("trace.spans", spans.size, "count")
    res.put("trace.wall_ms", wallUs / 1000.0, "ms")
    res.put("trace.overhead_ms", tracedMs - untracedMs, "ms")
    Seq("job", "catalyst").foreach(l =>
      res.put(s"trace.self_${l}_ms", self.toMap.getOrElse(l, 0L) / 1000.0, "ms"))
    res.put("trace.self_driver_ms",
      self.filterNot(x => Set("job", "catalyst")(x._1)).map(_._2).sum / 1000.0, "ms")
  }
}

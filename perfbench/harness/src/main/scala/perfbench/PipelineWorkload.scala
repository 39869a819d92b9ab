package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Pipeline
import graft.analyze.{AnalysisDoc, Analytics}
import graft.ingest.Ingest
import graft.sink.{Figures, Sinks}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `pipeline_batch`: `Pipeline.run` over a seeded raw OWM corpus with
  * full sinks and figures, timed from the first run in a fresh process —
  * the way the reference's scheduled job runs it, so JIT and codegen
  * warm-up are part of the wall time. Runs repeat for the given seconds;
  * the outputs of the last one are then checked.
  *
  * A traced run adds two runs: `Pipeline.run` with the engine listener
  * on (jobs and raw-scan amplification), then the same calls one by one
  * in `Pipeline.run`'s order — ingest, clean, analyze, sink — each forced
  * and wrapped in a span.
  */
object PipelineWorkload {

  /** The analyses Pipeline.run writes, in its order. */
  val analyses: Seq[String] = Seq("basic_stats", "city_comparisons", "extremes", "daily",
    "conditions", "condition_mode", "trends")

  // the reference's five configured cities, one week of hourly polls
  val nCities = 5
  val days = 7

  def apply(spark: SparkSession, a: Harness.Args, listener: EngineListener, res: Result): Unit = {
    val work = Paths.get("pipeline").toAbsolutePath
    val raw = work.resolve("raw")
    val corpus = Corpus.write(raw, a.seed, nCities, days)
    System.err.println(s"[perfbench] corpus: $corpus")
    val cfg = Pipeline.Config(raw.toString, work.resolve("processed").toString,
      work.resolve("output").toString)
    val sc = spark.sparkContext

    // wall ms of one run, and when each of its outputs appeared
    def run(): Option[(Double, Seq[Double])] = res.op("Pipeline.run") {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      Pipeline.run(spark, cfg)
      ((System.nanoTime() - t0) / 1e6, outputTimes(cfg).map(_ - startMs))
    }

    res.firstTimedMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val runs = mutable.ArrayBuffer[(Double, Seq[Double])]()
    var tries = 0
    while (tries == 0 || (System.nanoTime() - start) / 1e9 < a.seconds) {
      runs ++= run()
      tries += 1
    }
    require(runs.nonEmpty, "every timed Pipeline.run failed")
    System.err.println("[perfbench] Pipeline.run walls ms: " + runs.map(_._1).mkString(" "))
    validate(spark, cfg, corpus, res)
    val wallMs = Stats.median(runs.map(_._1).toSeq)
    val outputMs = runs.flatMap(_._2).toSeq
    res.put("wall_s", wallMs / 1000.0, "s")
    res.put("latency_p50_ms", Stats.percentile(outputMs, 50), "ms")
    res.put("latency_p90_ms", Stats.percentile(outputMs, 90), "ms")
    res.put("throughput_per_s", corpus.lines / (wallMs / 1000.0), "1/s")

    if (a.trace) {
      // untraced run with the listener on: the job count and how often
      // the lazily composed frame re-reads the raw corpus
      sc.setLocalProperty(EngineListener.OpProperty, "pipeline")
      listener.reset(); listener.recording = true
      val untracedMs = run().map(_._1)
      listener.recording = false
      BusDrain(sc)
      val whole = listener.snapshot()
      res.put("pipeline.jobs", whole.jobs.size, "count")
      res.put("pipeline.raw_scan_amplification", whole.scanRecords.toDouble / corpus.lines, "ratio")

      listener.reset(); listener.recording = true
      val tracer = new Tracer
      val tr = tracer.newTrace()
      val root = tracer.span(tr, -1, "pipeline", "pipeline") { id =>
        decomposed(spark, cfg, tracer, tr, id, res)
        id
      }
      listener.recording = false
      BusDrain(sc)
      val snap = listener.snapshot()
      sc.setLocalProperty(EngineListener.OpProperty, null)
      tracer.nest(tr, snap.engineSpans)
      val spans = tracer.spans
      val rootWallMs = spans.find(_.id == root).get.micros / 1000.0
      Layers.putEngine(res, snap, rootWallMs)
      res.put("clean.jobs", snap.jobs.count(_.op == "clean"), "count")
      res.put("analyze.jobs", snap.jobs.count(_.op == "analyze"), "count")
      val (files, bytes) = outputFiles(work.resolve("processed"), work.resolve("output"))
      res.put("sink.files_written", files, "count")
      res.put("sink.bytes_written", bytes, "bytes")
      val layerMs = Seq("ingest", "clean", "analyze", "sink").map { l =>
        (s"$l.ms", spans.filter(s => s.parent == root && s.layer == l).map(_.micros).sum / 1000.0, "ms")
      }
      Layers.writeTrace(res, a.traceDir, spans, layerMs, rootWallMs,
        untracedMs.getOrElse(Double.NaN))
    }
  }

  /** Pipeline.run's calls one at a time, each output forced, each in a span. */
  private def decomposed(spark: SparkSession, cfg: Pipeline.Config, tracer: Tracer, tr: Int,
                         root: Int, res: Result): Unit = {
    def layer[A](l: String, parent: Int)(body: Int => A): A = {
      spark.sparkContext.setLocalProperty(EngineListener.OpProperty, l)
      tracer.span(tr, parent, l, l)(body)
    }
    def call[A](parent: Int, name: String, l: String)(body: => A): A =
      tracer.span(tr, parent, name, l)(_ => body)
    def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val (raw, inCount, kept) = layer("ingest", root) { id =>
      val raw = call(id, "Ingest.readRawJson", "ingest")(Ingest.readRawJson(spark, cfg.rawPath))
      val n = call(id, "count raw", "ingest")(raw.count())
      val k = call(id, "Ingest.flatten", "ingest")(Ingest.flatten(raw).count())
      (raw, n, k)
    }
    val processed = layer("clean", root) { id =>
      val p = call(id, "Ingest.transform", "clean")(Ingest.transform(raw))
      call(id, "force processed", "clean")(force(p))
      p
    }
    val computed = layer("analyze", root) { id =>
      val as = Seq(
        "basic_stats" -> (() => Analytics.basicStats(processed, "timestamp", "temperature")),
        "city_comparisons" -> (() => Analytics.groupMultiAgg(processed, "city", "temperature")),
        "extremes" -> (() => Analytics.extremeGroupsLabelled(processed, "city", "temperature")),
        "daily" -> (() => Analytics.dailyAgg(processed, "timestamp", "city", "temperature")),
        "conditions" -> (() => Analytics.valueCounts(processed, "weather_condition")),
        "condition_mode" -> (() => Analytics.modePerGroup(processed, "city", "weather_condition")),
        "trends" -> (() => Analytics.trendAnalysis(processed, "timestamp", "city", "temperature")))
        .map { case (n, f) => n -> call(id, s"Analytics.$n", "analyze") { val df = f(); force(df); df } }
      val doc = call(id, "AnalysisDoc.build", "analyze")(AnalysisDoc.build(processed))
      (as, doc)
    }
    layer("sink", root) { id =>
      val out = cfg.outputPath
      call(id, "Sinks.writePartitioned", "sink")(Sinks.writePartitioned(processed, cfg.processedPath))
      call(id, "Sinks.writeCsv", "sink")(Sinks.writeCsv(processed, s"$out/report_csv"))
      call(id, "Sinks.writeJson", "sink")(Sinks.writeJson(processed, s"$out/report_json"))
      call(id, "Sinks.writeSummaryCsv", "sink")(Sinks.writeSummaryCsv(processed, "city",
        Seq("temperature", "humidity", "wind_speed"), s"$out/summary_csv"))
      computed._1.foreach { case (n, df) =>
        call(id, s"analysis json $n", "sink")(df.write.mode("overwrite").json(s"$out/analysis/$n"))
      }
      call(id, "analysis_doc.json", "sink") {
        val p = Paths.get(out, "analysis_doc.json")
        Files.createDirectories(p.getParent)
        Files.writeString(p, computed._2)
      }
      call(id, "Figures.writeFigures", "sink")(Figures.writeFigures(processed, s"$out/figures"))
    }
    res.put("ingest.records_in", inCount, "count")
    res.put("ingest.records_kept", kept, "count")
  }

  /** Output checks: processed rows equal the corpus's valid records, and
    * every declared sink exists.
    */
  private def validate(spark: SparkSession, cfg: Pipeline.Config, corpus: Corpus.Written,
                       res: Result): Unit = {
    def check(what: String)(ok: => Boolean): Unit = {
      res.attempt()
      val passed = try ok catch { case e: Exception => res.fail(s"$what: $e"); return }
      if (!passed) res.fail(what)
    }
    check(s"processed rows == ${corpus.valid} valid records") {
      spark.read.parquet(cfg.processedPath).count() == corpus.valid
    }
    check("5 SVG figures") {
      val figs = Paths.get(cfg.outputPath, "figures")
      Files.list(figs).iterator().asScala.count(_.toString.endsWith(".svg")) == 5
    }
    check("analysis_doc.json") {
      Files.size(Paths.get(cfg.outputPath, "analysis_doc.json")) > 0
    }
    check(s"summary_csv has one row per city ($nCities)") {
      spark.read.option("header", "true").csv(s"${cfg.outputPath}/summary_csv").count() == nCities
    }
  }

  /** When each declared output of a run was complete (epoch ms): the
    * commit marker of every Spark-written sink, the analysis document and
    * the figures.
    */
  private def outputTimes(cfg: Pipeline.Config): Seq[Double] = {
    val out = Paths.get(cfg.outputPath)
    val markers = (Seq(Paths.get(cfg.processedPath), out.resolve("report_csv"), out.resolve("report_json"),
      out.resolve("summary_csv")) ++ analyses.map(n => out.resolve("analysis").resolve(n)))
      .map(_.resolve("_SUCCESS"))
    val figures = Files.list(out.resolve("figures")).iterator().asScala.toSeq
    (markers ++ figures :+ out.resolve("analysis_doc.json"))
      .map(p => Files.getLastModifiedTime(p).toMillis.toDouble)
  }

  /** Data files (no checksums or markers) under the sink directories. */
  private def outputFiles(dirs: Path*): (Long, Long) = {
    val fs = dirs.flatMap(d => Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)))
      .filterNot { p => val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
    (fs.size.toLong, fs.map(Files.size).sum)
  }
}

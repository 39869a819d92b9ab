package graft.quality

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ArtifactSwap

/** Append-only persisted metric history — the cross-RUN seam of the dq
  * family (the HashLedger discipline applied to check reports): each
  * pipeline run appends its report's metrics stamped with a sortable
  * period id; [[Checks.driftReport]] then judges the newest run against
  * the trailing distribution. A suite validates one snapshot; the store
  * is what makes "is today where it has been?" answerable at all —
  * without it every run's report dies with the run.
  *
  * Period ids must sort in run order under STRING comparison (ISO dates
  * `2024-01-07`, zero-padded batch ids `b000012`) — the store neither
  * invents time nor trusts wall clocks, so ordering is the caller's
  * contract (the same reason [[graft.analyze.Lifecycle.scd2ApplyBatch]]
  * takes the split from its caller). History volume is
  * runs × checks rows — years of daily runs stay driver-trivial; the
  * parquet append is one tiny file per run, and a periodic
  * [[compact]] folds them (the ledger maintenance pass).
  */
object ReportStore {

  /** Append one run's report metrics under `period`. Accepts any frame
    * with (check_name, col_name, metric) — the [[Checks.run]] report's
    * threshold/passed columns are judgment at append time and are
    * deliberately not stored (history rows are observations; see
    * [[Checks.runByPeriod]]).
    *
    * Idempotent PER PERIOD: each period writes its own subdirectory with
    * overwrite semantics, so a replayed run (a restarted
    * [[graft.streaming.Streaming.qualityDriftStream]] re-delivering a
    * micro-batch under its own batch id) REPLACES its period instead of
    * accumulating duplicate (period, check) rows that would double-count
    * the trailing mean. [[load]] additionally collapses the
    * replay-after-[[compact]] seam (old rows lifted to the top level by
    * the fold) with the per-period subdirectory row winning — so a
    * post-compact replay that CORRECTS a metric deterministically
    * supersedes the compacted value.
    */
  def append(report: DataFrame, path: String, period: String): Unit = {
    require(period.nonEmpty && !period.contains("/") && !period.contains("\\"),
      s"period must be a plain path segment; got '$period'")
    ArtifactSwap.hadoop(report.sparkSession, path).recover()
    report.select(lit(period).as("period"), col("check_name"),
        col("col_name"), col("metric"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/$period")
  }

  /** The full metric history: (period, check_name, col_name, metric).
    * Reads the per-period subdirectories and any compacted top-level
    * files in one recursive scan. Duplicates from the replay-after-
    * compact seam collapse DETERMINISTICALLY: a row whose file sits in
    * its own `path/<period>/` subdirectory is a fresh (re-)append and
    * wins over a compacted top-level row of the same (period, check,
    * col) key — so a period replayed after a compact with a corrected
    * metric always surfaces the correction, never an arbitrary survivor.
    * (Metric is the final tie-break, so even a store whose files were
    * hand-copied collapses reproducibly. Caveat: don't NAME the store
    * directory itself like a period id — the parent-directory test is
    * how freshness is recognized.)
    */
  def load(spark: SparkSession, path: String): DataFrame = {
    ArtifactSwap.hadoop(spark, path).recover()
    spark.read.option("recursiveFileLookup", "true").parquet(path)
      .withColumn("__fresh",
        element_at(split(input_file_name(), "/"), -2) === col("period"))
      .groupBy("period", "check_name", "col_name")
      .agg(max_by(col("metric"), struct(col("__fresh"), col("metric")))
        .as("metric"))
  }

  /** Rewrite the store as one compact file set (the HashLedger compact
    * pass — a year of daily appends is 365 tiny files), swapped in per
    * [[ArtifactSwap]]. Every entry point recovers an interrupted compact
    * first (here through [[load]]).
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val swap = ArtifactSwap.hadoop(spark, path)
    load(spark, path).coalesce(1).write.parquet(swap.stage())
    swap.commit()
  }

  /** Append `report` under `period`, then judge it against the stored
    * trailing history: one [[append]] + one [[Checks.driftReport]] over
    * the store — the per-run drift gate a curation pipeline calls where
    * it called `Checks.run` alone before. Returns the drift report for
    * the newly-appended period.
    */
  def appendAndDrift(report: DataFrame, path: String, period: String,
                     maxAbsDelta: Double): DataFrame = {
    append(report, path, period)
    Checks.driftReport(load(report.sparkSession, path), maxAbsDelta)
  }
}

package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** The ONE crash-safe swap protocol of every artifact store that is
  * rewritten in place — the ANN indexes' generation folds
  * ([[graft.sim.IvfIndex]], [[graft.sim.PqIndex]],
  * [[graft.sim.IvfPqIndex]], [[graft.sim.SrpIndex]]), the re-grouping
  * compacts of [[graft.dedup.LshIndex]] / [[graft.dedup.HashLedger]],
  * [[graft.er.NameIndex]]'s merged append, [[StateStore]]'s epoch
  * replay, and the Hadoop-path stores [[graft.quality.ReportStore]] /
  * [[graft.sink.ZOrderTable]]. It is Structured Streaming's
  * log-then-commit, recover-on-start discipline applied to directory
  * leaves, and every store's scaladoc links here instead of restating
  * it.
  *
  * A swap covers a fixed set of LEAVES (files or directories) under one
  * root. Names, for leaf `L`:
  *  - `L` — the live leaf readers see;
  *  - `L__compact` — the new contents, staged beside the live leaf;
  *  - `L__precompact` — the old live leaf, parked during its swap;
  *  - `<first leaf>__commit` — the commit marker of the whole set.
  *
  * Crash contract:
  *  1. The store writes every staged leaf fully ([[stage]]); with
  *     [[FoldedKeys]] in the set, [[commit]] stages the folded-keys
  *     ledger (old keys ∪ the completed `append_<key>` generations the
  *     fold read) as one more leaf. Nothing live has changed: a crash
  *     here rolls BACK.
  *  2. [[commit]] creates the marker — the single commit point, for one
  *     leaf or many.
  *  3. Roll-forward, every step idempotent: per leaf, park the live leaf
  *     (if any), rename the staged leaf in, drop the parked copy; then,
  *     for a generation fold, drop every `append_` generation; then
  *     delete the marker.
  *  4. [[recover]] runs at every entry point before any read or write:
  *     marker present → finish step 3; absent → discard staged leaves and
  *     restore a leaf parked with no live copy (drop it otherwise).
  * A crash at ANY point therefore leaves a state that is either the old
  * artifact or the new one — never a mix of leaves from two layouts, and
  * never NO live leaf (a store would cold-rebuild from its source and
  * silently lose every appended batch). The live leaf is absent only
  * between two metadata renames, so concurrent readers must run outside
  * the maintenance window, like OPTIMIZE. Each rename must be atomic:
  * object stores without an atomic directory rename are not supported.
  *
  * The failpoint passed to [[commit]] (each store's test hook) and the
  * [[crashHook]] variable both see every phase label the roll-forward
  * emits: `committed`, `<leaf>-aside`, `<leaf>-swapped`, `gens-dropped`.
  * Staged, parked and marker names end in a reserved suffix, and
  * [[listLive]] — the one prefix listing every store reads through —
  * never returns them.
  */
private[graft] final class ArtifactSwap private (fs: FileSystem, root: Path,
                                                 leaves: Seq[String]) {
  import ArtifactSwap._

  private def live(leaf: String) = new Path(root, leaf)
  private def staged(leaf: String) = new Path(root, leaf + Staged)
  private def parked(leaf: String) = new Path(root, leaf + Parked)
  private val marker = new Path(root, leaves.head + Commit)

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"artifact swap rename failed: $from -> $to")

  /** Finish (marker present) or undo (absent) an interrupted swap. */
  def recover(): Unit =
    if (fs.exists(marker)) rollForward(_ => ())
    else leaves.foreach { leaf =>
      fs.delete(staged(leaf), true)
      if (fs.exists(parked(leaf))) {
        if (fs.exists(live(leaf))) fs.delete(parked(leaf), true)
        else rename(parked(leaf), live(leaf))
      }
    }

  /** The cleared staging path of `leaf`, for the store to write to. */
  def stage(leaf: String = leaves.head): String = {
    fs.delete(staged(leaf), true)
    staged(leaf).toString
  }

  /** The batch keys already folded into the live leaves. */
  def folded: Set[String] = {
    val f = live(FoldedKeys)
    if (!fs.exists(f)) Set.empty
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  /** Commit the staged leaves and roll them in. `foldedGens` are the
    * completed generations the fold read: only they may enter the
    * ledger — marking an incomplete one would no-op its replay while
    * its rows are in no leaf.
    */
  def commit(failpoint: String => Unit = _ => (),
             foldedGens: Seq[java.io.File] = Nil): Unit = {
    if (leaves.contains(FoldedKeys)) {
      val keys = folded ++ foldedGens.map(_.getName.stripPrefix(GenPrefix))
      val out = fs.create(staged(FoldedKeys), true)
      try out.write(keys.toSeq.sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    fs.create(marker, true).close()
    val hook = crashHook.value
    val fp = (phase: String) => { failpoint(phase); hook(phase) }
    fp("committed")
    rollForward(fp)
  }

  private def rollForward(fp: String => Unit): Unit = {
    leaves.foreach { leaf =>
      if (fs.exists(staged(leaf))) {
        if (fs.exists(live(leaf))) {
          fs.delete(parked(leaf), true)
          rename(live(leaf), parked(leaf))
        }
        fp(s"$leaf-aside")
        rename(staged(leaf), live(leaf))
      }
      fp(s"$leaf-swapped")
      fs.delete(parked(leaf), true)
    }
    if (leaves.contains(FoldedKeys)) {
      fs.listStatus(root).map(_.getPath)
        .filter(p => p.getName.startsWith(GenPrefix) && !inFlight(p.getName))
        .foreach(fs.delete(_, true))
      fp("gens-dropped")
    }
    fs.delete(marker, false)
  }
}

private[graft] object ArtifactSwap {

  /** The folded-keys ledger leaf: one newline-separated key per folded
    * generation, read by append to no-op a replay of a folded batch
    * (its generation is gone; re-creating it would double-count rows
    * the fold already holds).
    */
  val FoldedKeys = "folded_keys"

  private val GenPrefix = "append_"
  private val Staged = "__compact"
  private val Parked = "__precompact"
  private val Commit = "__commit"

  private def inFlight(name: String): Boolean =
    name.endsWith(Staged) || name.endsWith(Parked) || name.endsWith(Commit)

  /** Crash-injection hook beside each store's own `failpoint` parameter,
    * for the stores whose public API has none (StateStore, ReportStore,
    * ZOrderTable). Thread-scoped; a no-op unless a test binds it.
    */
  val crashHook = new scala.util.DynamicVariable[String => Unit](_ => ())

  private lazy val localFs: FileSystem = {
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    fs
  }

  /** A swap of `leaves` under a local store root (no checksum files, so
    * the swapped layout stays byte-identical to a direct write).
    */
  def local(root: java.io.File, leaves: String*): ArtifactSwap =
    new ArtifactSwap(localFs, new Path(root.getAbsolutePath), leaves)

  /** A swap of the one leaf at a Hadoop `path` (staged beside it). */
  def hadoop(spark: org.apache.spark.sql.SparkSession, path: String): ArtifactSwap = {
    val p = new Path(path)
    new ArtifactSwap(p.getFileSystem(spark.sessionState.newHadoopConf()),
      p.getParent, Seq(p.getName))
  }

  /** `dir`'s entries named `prefix*`, sorted, never a staged, parked or
    * marker name — the one listing prefix readers go through.
    */
  def listLive(dir: java.io.File, prefix: String): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith(prefix) && !inFlight(f.getName))
      .sortBy(_.getName)

  /** Leaves of `dir` that an interrupted swap left in flight. */
  def pending(dir: java.io.File): Seq[String] =
    Option(dir.list).toSeq.flatten.filter(inFlight)
      .map(_.stripSuffix(Staged).stripSuffix(Parked).stripSuffix(Commit)).distinct

  /** `key`, checked as a `[A-Za-z0-9_-]+` label that no swap suffix can
    * shadow (batch keys of `append_<key>`, epoch keys of `epoch_<key>`).
    */
  def checkKey(key: String): String = {
    require(key.nonEmpty && key.forall(c => c.isLetterOrDigit || c == '-' || c == '_') &&
      !inFlight(key), s"key must be a [A-Za-z0-9_-]+ label without a swap suffix; got '$key'")
    key
  }

  // ---- the `append_<key>` generation helpers of the ANN indexes ----

  /** The generation directory of batch `key` under an index root. */
  def generation(base: java.io.File, key: String): java.io.File =
    new java.io.File(base, GenPrefix + checkKey(key))

  /** Generations whose `leaves` (the generation itself when none) all
    * committed their `_SUCCESS` — exactly the set readers union and a
    * fold reads.
    */
  def completed(base: java.io.File, leaves: String*): Seq[java.io.File] =
    listLive(base, GenPrefix).filter { g =>
      (if (leaves.isEmpty) Seq(g) else leaves.map(new java.io.File(g, _)))
        .forall(d => new java.io.File(d, "_SUCCESS").isFile)
    }

  /** Start a fresh index lifetime: a ledger surviving from a prior one
    * would no-op appends that reuse a batch key, and a surviving
    * generation would union a prior lifetime's rows into the new index.
    */
  def resetGenerations(base: java.io.File): Unit = {
    new java.io.File(base, FoldedKeys).delete()
    listLive(base, GenPrefix).foreach(ArtifactKey.rmRecursive)
  }

  /** Output files for a fold of `dirs`, sized by their on-disk parquet
    * bytes (a listing, no Spark job): one ~256 MB file per chunk.
    */
  def foldFiles(dirs: Seq[java.io.File]): Int = {
    val bytes = dirs.flatMap(d => Option(d.listFiles).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val target = graft.sink.BucketedMirror.targetBucketBytes
    math.max(1L, (bytes + target - 1) / target).toInt
  }
}

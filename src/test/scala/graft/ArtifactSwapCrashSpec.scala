package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One crash suite for every store that swaps through [[ArtifactSwap]]:
  * a table of rows, one per store, each driven through the same script.
  *  1. An uncommitted staged leaf (no commit marker) is discarded at the
  *     next entry point, which serves the old rows without a rebuild.
  *  2. A live leaf parked by hand with no marker (the mid-swap state of
  *     a crash between two renames) is restored at the next entry point.
  *  3. A clean swap records every phase label the module emits; then,
  *     per label, the store grows by one batch, the swap crashes at that
  *     label, and the next entry point must not rebuild, must serve the
  *     rows of the cold layout over everything landed so far, and must
  *     leave no `append_` generation behind.
  *  4. A replay of a folded batch through the store's own append is a
  *     no-op on the rows.
  */
class ArtifactSwapCrashSpec extends SparkTestBase {
  import spark.implicits._

  /** One store under the script. `root`/`leaf`: where its primary leaf
    * lives. `grow(i)` lands batch i (if the swap itself does not);
    * `swap(fp, i)` runs the store's swap with `fp` as the failpoint;
    * `read` is an entry point that must never rebuild; `cold(i)` is what
    * it must return once batches 0..i landed (`cold(-1)`: none);
    * `replay(n)` lands an already-folded batch again once `n` crash
    * rounds have run. `compacted` tells a rolled-forward swap from a
    * rolled-back one where rows cannot (a compact that is a permutation).
    */
  private case class Row(root: java.io.File, leaf: String,
                         setup: () => Unit,
                         grow: Int => Unit,
                         swap: (String => Unit, Int) => Unit,
                         read: () => Any,
                         cold: Int => Any,
                         gens: () => Int = () => 0,
                         compacted: () => Boolean = () => true,
                         replay: Option[Int => Any] = None)

  private def conf = spark.sessionState.newHadoopConf()

  private def genCount(base: java.io.File): Int =
    Option(base.listFiles).getOrElse(Array.empty[java.io.File])
      .count(_.getName.startsWith("append_"))

  private def noRebuild[T]: T = fail("recovery must not rebuild")

  /** Parquet file count per directory under `d`: a compact writes one
    * per group directory, every append adds more.
    */
  private def filesPerDir(d: java.io.File): Iterable[Int] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(d.toPath).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".parquet")).groupBy(_.getParent).values.map(_.size)
  }

  private def hooked(fp: String => Unit)(body: => Unit): Unit =
    ArtifactSwap.crashHook.withValue(fp)(body)

  private def run(row: Row): Unit = {
    row.setup()
    // 1. rollback: an uncommitted staged leaf is discarded
    val junk = new java.io.File(row.root, row.leaf + "__compact")
    assert(junk.mkdirs())
    java.nio.file.Files.write(new java.io.File(junk, "part-junk.parquet").toPath,
      Array[Byte](1))
    assert(row.read() === row.cold(-1))
    assert(!junk.exists(), "uncommitted staged leaf must be rolled back")
    // 2. a live leaf parked with no commit marker is restored
    val live = new java.io.File(row.root, row.leaf)
    val parked = new java.io.File(row.root, row.leaf + "__precompact")
    assert(live.renameTo(parked) && !live.exists(), "crash simulation: leaf parked")
    assert(row.read() === row.cold(-1), "a parked leaf must be restored")
    assert(row.cold(0) !== row.cold(-1), "a batch must change the expected rows")
    assert(live.exists() && !parked.exists())
    // 3. every phase label of a clean swap, then a crash at each
    val phases = scala.collection.mutable.ArrayBuffer.empty[String]
    row.grow(0)
    row.swap(phases += _, 0)
    assert(phases.headOption === Some("committed"), s"phases: $phases")
    info(s"phases: ${phases.mkString(", ")}")
    assert(row.read() === row.cold(0))
    phases.zipWithIndex.foreach { case (phase, j) =>
      val i = j + 1
      row.grow(i)
      val boom = intercept[RuntimeException] {
        row.swap(p => if (p == phase) throw new RuntimeException(s"boom-$phase"), i)
      }
      assert(boom.getMessage === s"boom-$phase")
      assert(row.read() === row.cold(i), s"rows diverged recovering from a crash at $phase")
      assert(row.gens() === 0, s"generations survived recovery from $phase")
      assert(row.compacted(), s"the committed swap was not rolled forward after $phase")
      assert(ArtifactSwap.pending(row.root).isEmpty, s"in-flight leftovers after $phase")
    }
    // 4. a replay of a folded batch is a no-op
    row.replay.foreach(r => assert(r(phases.size) === row.cold(phases.size)))
  }

  /** Vectors for the ANN rows: ids ≥ 40 are the base corpus, batch i is
    * ids [4i, 4i + 4) — room for nine batches.
    */
  private def vectors(seed: Int, dim: Int): Seq[(Long, Seq[Float])] = {
    val gen = new scala.util.Random(seed)
    (0L until 120L).map(i => (i, Seq.fill(dim)(gen.nextFloat())))
  }
  private def upto(all: Seq[(Long, Seq[Float])], i: Int): DataFrame =
    all.filter(t => t._1 >= 40 || t._1 < 4L * (i + 1)).toDF("vec_id", "embedding")
  private def batch(all: Seq[(Long, Seq[Float])], i: Int): DataFrame =
    all.filter(t => t._1 >= 4L * i && t._1 < 4L * (i + 1)).toDF("vec_id", "embedding")

  private def ivfRow(): Row = {
    import graft.sim.{IvfIndex, Similarity}
    val all = vectors(41, 8)
    val (dir, sub) = ("/x/ivf_crash_spec", "crash")
    var cents = Seq.empty[Seq[Double]]
    def rows(df: DataFrame) =
      df.select($"vec_id", $"__cell", $"__qc", $"__sc").collect().map(_.toSeq).toSet
    def read(r: (DataFrame, Seq[Seq[Double]])) = (rows(r._1), r._2)
    Row(IvfIndex.root(dir, sub, conf), "corpus",
      setup = () => {
        IvfIndex.drop(dir, sub)
        cents = IvfIndex.ensure(spark, dir, upto(all, -1), subset = sub)._2
      },
      grow = i => IvfIndex.append(spark, dir, s"p$i", batch(all, i), subset = sub),
      swap = (fp, _) => IvfIndex.compact(spark, dir, sub, fp),
      read = () => read(IvfIndex.ensure(spark, dir, noRebuild, subset = sub)),
      cold = i => (rows(Similarity.assignCells(upto(all, i), cents)), cents),
      gens = () => genCount(IvfIndex.root(dir, sub, conf)),
      replay = Some(_ => read(IvfIndex.append(spark, dir, "p0", batch(all, 0), subset = sub))))
  }

  private def srpRow(): Row = {
    import graft.sim.SrpIndex
    val all = vectors(43, 8)
    val (dir, sub) = ("/x/srp_crash_spec", "crash")
    var geometry = (0, 0)
    def read(h: SrpIndex.Handle) = ((h.planes, h.groups), h.vectors.count(), h.buckets.count())
    Row(SrpIndex.root(dir, 4, conf, sub), "vectors",
      setup = () => {
        SrpIndex.drop(dir, 4, sub)
        val h = SrpIndex.ensure(spark, dir, upto(all, -1), nTables = 4, subset = sub)
        geometry = (h.planes, h.groups)
      },
      grow = i => SrpIndex.append(spark, dir, 4, s"p$i", batch(all, i), subset = sub),
      swap = (fp, _) => SrpIndex.compact(spark, dir, 4, sub, fp),
      read = () => read(SrpIndex.ensure(spark, dir, noRebuild, nTables = 4, subset = sub)),
      cold = i => { val n = 80L + 4L * (i + 1); (geometry, n, n * 4) },
      gens = () => genCount(SrpIndex.root(dir, 4, conf, sub)),
      replay = Some(_ => read(SrpIndex.append(spark, dir, 4, "p0", batch(all, 0), subset = sub))))
  }

  private def pqRow(): Row = {
    import graft.sim.{PqIndex, Similarity}
    val all = vectors(47, 16)
    val (dir, sub) = ("/x/pq_crash_spec", "crash")
    var cb = Seq.empty[Seq[Seq[Double]]]
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Byte](1).toSeq)).toSet
    def read(r: (DataFrame, Seq[Seq[Seq[Double]]])) = (rows(r._1), r._2)
    def root = PqIndex.root(dir, hadoopConf = conf, subset = sub)
    Row(root, "codes",
      setup = () => {
        PqIndex.drop(dir, subset = sub)
        cb = PqIndex.ensure(spark, dir, upto(all, -1), subset = sub)._2
      },
      grow = i => PqIndex.append(spark, dir, s"p$i", batch(all, i), subset = sub),
      swap = (fp, _) => PqIndex.compact(spark, dir, subset = sub, failpoint = fp),
      read = () => read(PqIndex.ensure(spark, dir, noRebuild, subset = sub)),
      cold = i => (rows(Similarity.pqEncode(upto(all, i), cb)), cb),
      gens = () => genCount(root),
      replay = Some(_ => read(PqIndex.append(spark, dir, "p0", batch(all, 0), subset = sub))))
  }

  private def ivfPqRow(): Row = {
    import graft.sim.{IvfIndex, IvfPqIndex, PqIndex, Similarity}
    val all = vectors(53, 16)
    val (dir, sub) = ("/x/ivfpq_crash_spec", "crash")
    var quantizers = (Seq.empty[Seq[Double]], Seq.empty[Seq[Seq[Double]]])
    def rows(df: DataFrame) = df.select($"vec_id", $"__codes", $"__cell")
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1).toSeq, r.getInt(2))).toSet
    def read(r: (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]])) = (rows(r._1), r._2, r._3)
    def root = IvfPqIndex.root(dir, conf, sub)
    Row(root, "codes_by_cell",
      setup = () => {
        IvfPqIndex.drop(dir, sub); IvfIndex.drop(dir, sub); PqIndex.drop(dir, subset = sub)
        val (_, cents, cb) = IvfPqIndex.ensure(spark, dir, upto(all, -1), subset = sub)
        quantizers = (cents, cb)
      },
      grow = i => IvfPqIndex.append(spark, dir, s"p$i", batch(all, i), subset = sub),
      swap = (fp, _) => IvfPqIndex.compact(spark, dir, sub, fp),
      read = () => read(IvfPqIndex.ensure(spark, dir, noRebuild, subset = sub)),
      cold = i => {
        val (cents, cb) = quantizers
        val df = upto(all, i)
        (rows(Similarity.pqEncode(df, cb).join(
          Similarity.assignCells(df, cents).select($"vec_id", $"__cell"), Seq("vec_id"))),
          cents, cb)
      },
      gens = () => genCount(root),
      replay = Some(_ => read(IvfPqIndex.append(spark, dir, "p0", batch(all, 0), subset = sub))))
  }

  /** Documents for the text rows: 400 docs of 12 words over a 60-word
    * vocabulary. Ids 0–239 are the base corpus, 240 + 20i until
    * 260 + 20i is batch i, and 360–399 are probes that are never indexed:
    * each copies (even id) or edits one word of (odd id) a doc spread
    * over the corpus and every batch, so each batch changes what the
    * probes find.
    */
  private lazy val docs: DataFrame = {
    val gen = new scala.util.Random(7)
    val words = Array.fill(400)(Seq.fill(12)(s"w${gen.nextInt(60)}"))
    (360 until 400).foreach { i =>
      val src = words((i - 360) * 9)
      words(i) = if (i % 2 == 0) src else src.updated(0, "edit")
    }
    words.toSeq.zipWithIndex.map { case (w, i) => (i.toLong, w.mkString(" ")) }
      .toDF("doc_id", "text")
  }
  private def ids(from: Int, until: Int) = docs.filter($"doc_id" >= from && $"doc_id" < until)
  private def docCorpus(i: Int) = ids(0, 260 + 20 * i)
  private def docBatch(i: Int) = ids(240 + 20 * i, 260 + 20 * i)
  private def probes = ids(360, 400)

  private def lshRow(): Row = {
    import graft.dedup.{Dedup, LshIndex}
    val (dir, sub) = ("/x/lsh_crash_spec", "crash")
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the probe-parity gate IS the corruption detector: a stale meta group
    // count against a re-grouped layout drops candidates, and no layout
    // row may sit outside the meta group count
    val root = LshIndex.root(dir, 3, 8, 4, sub)
    def read(h: LshIndex.Handle) =
      (pairs(Dedup.incrementalCandidatePairsIndexed(h, probes, "doc_id", "text")),
        h.buckets.filter(col("__grp") >= h.groups).count())
    Row(root, "buckets",
      setup = () => {
        LshIndex.drop(dir, subset = sub)
        LshIndex.ensure(spark, dir, docCorpus(-1), subset = sub)
      },
      grow = i => LshIndex.append(spark, dir, docBatch(i), subset = sub),
      swap = (fp, _) => LshIndex.compact(spark, dir, subset = sub, failpoint = fp),
      read = () => read(LshIndex.ensure(spark, dir, noRebuild, subset = sub)),
      cold = i => (pairs(Dedup.incrementalCandidatePairs(probes, docCorpus(i),
        "doc_id", "text")), 0L),
      compacted = () => filesPerDir(new java.io.File(root, "buckets")).forall(_ == 1),
      replay = Some(_ => read(LshIndex.append(spark, dir, docBatch(0), subset = sub))))
  }

  private def hashLedgerRow(): Row = {
    import graft.dedup.{Dedup, HashLedger}
    val (dir, sub) = ("/x/ledger_crash_spec", "crash")
    def ledger = HashLedger.ensure(spark, dir, noRebuild, subset = sub)
    def land(i: Int) = HashLedger.append(spark, dir,
      Dedup.incrementalExactNewIndexed(ledger, docBatch(i), "doc_id", "text")
        .select("content_md5"), subset = sub)
    val root = HashLedger.root(dir, sub)
    def read(h: HashLedger.Handle) =
      Dedup.incrementalExactNewIndexed(h, probes, "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    Row(root, "hashes",
      setup = () => {
        HashLedger.drop(dir, subset = sub)
        HashLedger.ensure(spark, dir, docCorpus(-1), subset = sub)
      },
      grow = i => land(i),
      swap = (fp, _) => HashLedger.compact(spark, dir, subset = sub, failpoint = fp),
      read = () => read(ledger),
      cold = i => Dedup.incrementalExactNew(probes, docCorpus(i), "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet,
      compacted = () => filesPerDir(new java.io.File(root, "hashes")).forall(_ == 1),
      replay = Some(_ => read(land(0))))
  }

  private def nameIndexRow(): Row = {
    import graft.er.{EntityResolution, NameIndex}
    val (dir, sub) = ("/x/name_crash_spec", "crash")
    val standing = Seq("alpha zz one", "beta zz two", "gamma qq").toDF("p_name")
    def batch(i: Int) = Seq(s"delta$i zz three", s"epsi$i qq four").toDF("p_name")
    def pairs(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val base = NameIndex.root(dir, "part", sub, 3)
    Row(base.getParentFile, base.getName,
      setup = () => {
        NameIndex.drop(dir, "part", sub, 3)
        NameIndex.ensure(spark, dir, "part", sub, standing, "p_name", 3)
      },
      grow = _ => (),
      // the append IS the swap: the merged universe is staged and rolled in
      swap = (fp, i) => NameIndex.append(spark, dir, "part", sub, batch(i), "p_name", 3,
        failpoint = fp),
      read = () => pairs(NameIndex.ensure(spark, dir, "part", sub, noRebuild, "p_name", 3)),
      cold = i => pairs(EntityResolution.standingTokenBlocks(
        (0 to i).map(batch).foldLeft(standing)(_.unionByName(_)), "p_name", 3)),
      replay = Some(_ => pairs(
        NameIndex.append(spark, dir, "part", sub, batch(0), "p_name", 3))))
  }

  private def reportStoreRow(): Row = {
    import graft.quality.ReportStore
    val path = java.nio.file.Files.createTempDirectory("graft_swap_reports").toString + "/s"
    def report(m: Double) = Seq(("completeness", "v", m)).toDF("check_name", "col_name", "metric")
    def period(i: Int) = f"2024-02-${i + 1}%02d"
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    Row(new java.io.File(path).getParentFile, "s",
      setup = () => {
        ReportStore.append(report(1.0), path, "2024-01-01")
        ReportStore.append(report(0.9), path, "2024-01-02")
      },
      grow = i => ReportStore.append(report(0.5 + i / 100.0), path, period(i)),
      swap = (fp, _) => hooked(fp)(ReportStore.compact(spark, path)),
      read = () => rows(ReportStore.load(spark, path)),
      cold = i => (Seq(("2024-01-01", 1.0), ("2024-01-02", 0.9)) ++
        (0 to i).map(j => (period(j), 0.5 + j / 100.0)))
        .map { case (p, m) => Seq(p, "completeness", "v", m) }.toSet,
      // a compact folds every per-period subdirectory into top-level files
      compacted = () => !new java.io.File(path).listFiles.exists(_.isDirectory),
      replay = Some(_ => {
        ReportStore.append(report(0.5), path, period(0))
        rows(ReportStore.load(spark, path))
      }))
  }

  private def zOrderTableRow(): Row = {
    import graft.sink.ZOrderTable
    val path = java.nio.file.Files.createTempDirectory("graft_swap_zorder").toString + "/t"
    def ab(from: Long, until: Long) = spark.range(from, until)
      .select(pmod(xxhash64(col("id")), lit(1000)).as("a"),
              pmod(xxhash64(col("id") + 7), lit(1000)).as("b"))
    def rows(df: DataFrame): (Long, Long) =
      (df.count(), df.agg(sum(hash(col("a"), col("b")).cast("long"))).collect()(0).getLong(0))
    Row(new java.io.File(path).getParentFile, "t",
      setup = () => ZOrderTable.append(ab(0L, 4096L), Seq("a", "b"), path, 4),
      grow = i => ZOrderTable.append(ab(4096L + 256L * i, 4096L + 256L * (i + 1)),
        Seq("a", "b"), path, 2),
      swap = (fp, _) => hooked(fp)(ZOrderTable.compact(spark, path, Seq("a", "b"), 4)),
      read = () => { ZOrderTable.recover(spark, path); rows(spark.read.parquet(path)) },
      cold = i => rows(ab(0L, 4096L + 256L * (i + 1))),
      // the compact writes its 4 files; every append adds 2
      compacted = () => filesPerDir(new java.io.File(path)).sum == 4)
  }

  private def stateStoreRow(): Row = {
    val (dir, name, epoch) = ("/x/state_crash_spec", "crash_spec_state", "0001")
    def state(v: Long) = Seq((1L, v)).toDF("k", "v")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    Row(StateStore.root(dir, "events", name, conf), "seed",
      setup = () => {
        StateStore.drop(dir, "events", name)
        StateStore.ensure(spark, dir, "events", name, state(10L))
      },
      // a write of the epoch, then its replay is the swap under test
      grow = i => StateStore.advance(spark, dir, "events", name, epoch, state(100L + i)),
      swap = (fp, i) => hooked(fp)(
        StateStore.advance(spark, dir, "events", name, epoch, state(200L + i))),
      read = () => {
        StateStore.ensure(spark, dir, "events", name, noRebuild)
        rows(StateStore.latest(spark, dir, "events", name).get)
      },
      cold = i => Set(Seq(1L, if (i < 0) 10L else 200L + i)),
      replay = Some(n => {
        StateStore.advance(spark, dir, "events", name, epoch, state(200L + n))
        rows(StateStore.latest(spark, dir, "events", name).get)
      }))
  }

  test("swap names stay invisible to prefix readers and can never be keys") {
    val d = java.nio.file.Files.createTempDirectory("graft_swap_names").toFile
    Seq("epoch_0002", "epoch_0002__compact", "epoch_0001__precompact", "epoch_0002__commit")
      .foreach(n => assert(new java.io.File(d, n).mkdirs()))
    assert(ArtifactSwap.listLive(d, "epoch_").map(_.getName) === Seq("epoch_0002"))
    assert(ArtifactSwap.pending(d).toSet === Set("epoch_0001", "epoch_0002"))
    Seq("", "a/b", "k__compact", "k__precompact", "k__commit").foreach { k =>
      intercept[IllegalArgumentException](ArtifactSwap.checkKey(k))
    }
    // a store rejects such a key before it touches the disk
    intercept[IllegalArgumentException] {
      StateStore.advance(spark, "/x/state_crash_spec", "events", "keys", "0002__compact",
        Seq((1L, 1L)).toDF("k", "v"))
    }
  }

  Seq("IvfIndex" -> (() => ivfRow()), "SrpIndex" -> (() => srpRow()),
      "PqIndex" -> (() => pqRow()), "IvfPqIndex" -> (() => ivfPqRow()),
      "LshIndex" -> (() => lshRow()), "HashLedger" -> (() => hashLedgerRow()),
      "NameIndex" -> (() => nameIndexRow()), "ReportStore" -> (() => reportStoreRow()),
      "ZOrderTable" -> (() => zOrderTableRow()), "StateStore" -> (() => stateStoreRow()))
    .foreach { case (store, row) =>
      test(s"$store: a crash at every swap phase recovers the cold layout") {
        run(row())
      }
    }
}

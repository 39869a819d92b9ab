package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Build-or-reuse the persisted product-quantization index of an
  * embedding corpus — the compressed-scan sibling of [[IvfIndex]]: pay
  * the train (bounded sample, [[Similarity.pqTrain]]) and the one
  * full-corpus encode pass ONCE, persist the m-bytes-per-vector code
  * table plus its codebooks, and every later search streams the code
  * table with the ADC scorer.
  *
  * The code table is the 100 TB point: at d=64/m=8 it is 32× smaller
  * than the float32 corpus (a 100 TB embedding column becomes a ~3 TB
  * code scan), and the search plan never reads embedding bytes until
  * the exact rerank of kCand·|queries| survivors. Where [[IvfIndex]]
  * prunes WHICH rows are read (cell DPP), PQ shrinks HOW MUCH each row
  * costs — at full scale the two compose (IVF-PQ: probe cells, scan
  * codes), which [[Similarity.pqCandidatePairsEncoded]]'s code-table
  * input shape keeps open (pass it the cell-pruned slice).
  *
  * Reuse ladder, artifact keying, supersede-on-rebuild, empty-corpus
  * memo: all identical to [[IvfIndex]] (one discipline, one set of
  * rationales — see that scaladoc). Index lives under
  * target/pq_index/<version>/<stamped-dir>/<m_ksub geometry> — the
  * geometry leg keeps a warm call with different m/ksub from silently
  * being served another geometry's codes.
  *
  * Reference analog: the SQLite index built once per load
  * (/root/reference/src/load.py:143-144) — here the "index" is a
  * quantized mirror instead of a B-tree.
  */
object PqIndex {

  /** Bump when the code layout or train semantics change: reuse is
    * keyed only by source dir + geometry, so an index persisted by
    * OLDER code would otherwise silently serve stale codes. v2 = the
    * geometry-keyed directory layout (r17) — v1 stored codes directly
    * under the stamped dir, which the geometry subdirs would otherwise
    * share a parent with. v3: per-`subset` keying (different indexed
    * slices of one source must not share a directory — the
    * LshIndex/IvfIndex convention) + idempotent [[append]] generations.
    */
  private val version = "v3"

  /** Geometry leg of the artifact key: codes written at one (m, ksub)
    * must never be served to an ensure() asking for another — the ADC
    * scorer would misread them. 0 = "auto" keys separately from every
    * explicit value (auto RESOLVES per corpus size, so it cannot alias
    * a fixed setting). Same discipline as [[graft.dedup.LshIndex.root]]
    * keying its (s, b, r) geometry under the stamped dir.
    */
  private def geom(m: Int, ksub: Int): String =
    s"m${if (m > 0) m.toString else "auto"}_k${if (ksub > 0) ksub.toString else "auto"}"

  def root(dir: String, m: Int = 0, ksub: Int = 0,
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration(),
           subset: String = "all"): java.io.File =
    new java.io.File(
      s"target/pq_index/$version/${graft.ArtifactKey.stamped(dir, hadoopConf)}/" +
        s"${subset}_${geom(m, ksub)}")
      .getAbsoluteFile

  /** Delete the persisted index (forces the next ensure to rebuild). */
  def drop(dir: String, m: Int = 0, ksub: Int = 0,
           subset: String = "all"): Unit =
    graft.ArtifactKey.rmRecursive(root(dir, m, ksub, subset = subset))

  private val emptyMemo =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.HashMap[String, (DataFrame, Seq[Seq[Seq[Double]]])]]()

  private def sessionMemo(spark: SparkSession)
      : scala.collection.mutable.HashMap[String, (DataFrame, Seq[Seq[Seq[Double]]])] =
    emptyMemo.computeIfAbsent(spark, _ => scala.collection.mutable.HashMap.empty)

  /** The (code table, codebooks) pair for `<dir>`'s corpus: codes are
    * (idCol, __codes array<byte>), codebooks m × ksub × dsub. `corpus`
    * is only scanned on a cold build.
    */
  def ensure(spark: SparkSession, dir: String, corpus: => DataFrame,
             m: Int = 0, ksub: Int = 0,
             idCol: String = "vec_id", vecCol: String = "embedding",
             subset: String = "all"
            ): (DataFrame, Seq[Seq[Seq[Double]]]) = synchronized {
    val base = root(dir, m, ksub, spark.sessionState.newHadoopConf(), subset)
    swap(base).recover()
    val codesPath = new java.io.File(base, "codes").getPath
    val booksPath = new java.io.File(base, "codebooks").getPath
    if (!new java.io.File(codesPath, "_SUCCESS").isFile ||
        !new java.io.File(booksPath, "_SUCCESS").isFile) {
      sessionMemo(spark).get(base.getPath) match {
        case Some(h) => return h
        case None =>
      }
      // superseded = older CONTENT stamps of the same source (siblings of
      // the stamped dir); geometry variants live INSIDE one stamped dir
      // and coexist
      val stampedDir = base.getParentFile
      graft.ArtifactKey.dropSuperseded(
        stampedDir.getParentFile, graft.ArtifactKey.pathKey(dir) + "_",
        stampedDir.getName)
      val df = corpus
      val cb = Similarity.pqTrain(df, m, ksub, iters = 2, idCol, vecCol)
      if (cb.isEmpty) {
        // empty corpus: nothing to persist (no parquet footer to read
        // back) — return the inline paths' empty contract without
        // writing an index
        val h = (df.select(col(idCol)).limit(0), Seq.empty[Seq[Seq[Double]]])
        sessionMemo(spark)(base.getPath) = h
        return h
      }
      graft.ArtifactSwap.resetGenerations(base)
      // codebooks persist beside the codes: ADC LUTs must use the EXACT
      // quantizer the codes were written with, across JVMs
      import spark.implicits._
      cb.zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (cent, c) => (s, c, cent) }
      }.toDF("sub", "cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(booksPath)
      Similarity.pqEncode(df, cb, idCol, vecCol)
        .write.mode("overwrite").parquet(codesPath)
    }
    (readAll(spark, base), readBooks(spark, booksPath))
  }

  /** The persisted codebooks, memoized per (session, path, content
    * fingerprint) — [[graft.ReadCache]] — so a warm ensure/append/search
    * pays a metadata walk, not a read + collect job, per access.
    */
  private def readBooks(spark: SparkSession, booksPath: String): Seq[Seq[Seq[Double]]] =
    graft.ReadCache.collectedLocal(spark, new java.io.File(booksPath)) { df =>
      val books = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      books.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rows) =>
        rows.sortBy(_._2).map(_._3.toSeq).toSeq
      }
    }

  /** The code table: base build plus every completed [[append]]
    * generation, one read per root unioned (the IvfIndex shape; handles
    * ReadCache-memoized like IvfIndex.readAll).
    */
  private def readAll(spark: SparkSession, base: java.io.File): DataFrame =
    (new java.io.File(base, "codes") +: graft.ArtifactSwap.completed(base))
      .map(graft.ReadCache.parquetLocal(spark, _)).reduce(_.unionByName(_))

  private def swap(base: java.io.File) =
    graft.ArtifactSwap.local(base, "codes", graft.ArtifactSwap.FoldedKeys)

  /** Fold a batch of NEW vectors into the persisted code table — the
    * [[IvfIndex.append]] rung for the compression path: batch rows
    * encode with the PERSISTED codebooks (a pure per-row function — the
    * quantizer-immutability argument verbatim; re-training moves every
    * codeword and forces a full re-encode, i.e. a rebuild) and land as
    * their own generation beside the base codes. The corpus is never
    * re-scanned and the ADC search scans the appended table exactly as
    * it would a cold same-codebook encode of corpus ∪ batches
    * (SimilaritySpec gates the bit equality). IDEMPOTENT per
    * `batchKey` — a replay overwrites its own generation, and a replay
    * of a batch [[compact]] already folded no-ops on the keys ledger.
    */
  def append(spark: SparkSession, dir: String, batchKey: String,
             batch: DataFrame, m: Int = 0, ksub: Int = 0,
             idCol: String = "vec_id", vecCol: String = "embedding",
             subset: String = "all"): (DataFrame, Seq[Seq[Seq[Double]]]) = synchronized {
    val base = root(dir, m, ksub, spark.sessionState.newHadoopConf(), subset)
    val gen = graft.ArtifactSwap.generation(base, batchKey)
    val sw = swap(base)
    sw.recover()
    val codesPath = new java.io.File(base, "codes").getPath
    val booksPath = new java.io.File(base, "codebooks").getPath
    require(new java.io.File(codesPath, "_SUCCESS").isFile &&
      new java.io.File(booksPath, "_SUCCESS").isFile,
      s"no persisted index at $base — ensure() a base corpus before append()")
    val cb = readBooks(spark, booksPath)
    if (sw.folded.contains(batchKey)) return (readAll(spark, base), cb)
    // REBALANCE (AQE) sizes the generation's files (the SrpIndex.append
    // note): un-hinted, the codes land in the batch's input partitioning
    // — dozens of near-empty files per append at test scale
    Similarity.pqEncode(batch, cb, idCol, vecCol).hint("rebalance")
      .write.mode("overwrite").parquet(gen.getPath)
    (readAll(spark, base), cb)
  }

  /** Fold every completed [[append]] generation back into the base
    * codes leaf — the [[IvfIndex.compact]] maintenance pass for the
    * compression path (file count, not bytes, is what appends grow).
    * Rows preserved exactly; codebooks untouched (re-sizing the
    * quantizer is a rebuild). Crash safety and the folded-keys ledger
    * are [[graft.ArtifactSwap]]'s. Run offline.
    */
  def compact(spark: SparkSession, dir: String, m: Int = 0, ksub: Int = 0,
              subset: String = "all",
              failpoint: String => Unit = _ => ()): (DataFrame, Seq[Seq[Seq[Double]]]) = synchronized {
    val base = root(dir, m, ksub, spark.sessionState.newHadoopConf(), subset)
    val sw = swap(base)
    sw.recover()
    val codesDir = new java.io.File(base, "codes")
    val booksPath = new java.io.File(base, "codebooks").getPath
    require(new java.io.File(codesDir, "_SUCCESS").isFile &&
      new java.io.File(booksPath, "_SUCCESS").isFile,
      s"compact requires a persisted index — ensure() first ($codesDir)")
    val cb = readBooks(spark, booksPath)
    // codes are m bytes/vector — usually one file suffices at test scale
    val gens = graft.ArtifactSwap.completed(base)
    readAll(spark, base)
      .repartition(graft.ArtifactSwap.foldFiles(codesDir +: gens))
      .write.mode("overwrite").parquet(sw.stage())
    sw.commit(failpoint, gens)
    (readAll(spark, base), cb)
  }
}

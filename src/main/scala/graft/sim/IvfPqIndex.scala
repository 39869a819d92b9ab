package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Build-or-reuse the composed IVF-PQ index — the two persisted ANN
  * structures folded into the one layout a 100 TB search actually
  * scans: the PQ code table ([[PqIndex]]) partitioned by IVF cell
  * ([[IvfIndex]]). A search probes nProbes cells (dynamic partition
  * pruning drops every other cell directory at scan time) and pays m
  * code bytes per surviving row (ADC) — pruning × compression, the
  * faiss IVFPQ layout re-expressed as a partitioned parquet table.
  *
  * The build REUSES the sibling ensures (one quantizer discipline:
  * probe selection must use the exact centroids the cells were assigned
  * with, ADC the exact codebooks the codes were encoded with — both
  * persist beside their own index) and pays one extra build-time
  * equi-join of the two frames on the vector id to lay codes out by
  * cell. Reuse ladder / artifact keying / empty-corpus memo identical
  * to [[IvfIndex]]; [[compact]]'s crash safety is [[graft.ArtifactSwap]]'s.
  */
object IvfPqIndex {

  /** v2: per-`subset` keying + idempotent [[append]] generations. */
  private val version = "v2"

  def root(dir: String,
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration(),
           subset: String = "all"): java.io.File =
    new java.io.File(
      s"target/ivfpq_index/$version/${graft.ArtifactKey.stamped(dir, hadoopConf)}/$subset")
      .getAbsoluteFile

  /** Delete the persisted index (forces the next ensure to rebuild). */
  def drop(dir: String, subset: String = "all"): Unit =
    graft.ArtifactKey.rmRecursive(root(dir, subset = subset))

  private val emptyMemo =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.HashMap[String, (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]])]]()

  private def sessionMemo(spark: SparkSession)
      : scala.collection.mutable.HashMap[String, (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]])] =
    emptyMemo.computeIfAbsent(spark, _ => scala.collection.mutable.HashMap.empty)

  /** The cell-partitioned code table: base build plus every completed
    * [[append]] generation (each its own cell-partitioned root, so
    * dynamic partition pruning applies to all of them alike — the
    * IvfIndex shape).
    */
  private def readAll(spark: SparkSession, base: java.io.File): DataFrame =
    // handles ReadCache-memoized like IvfIndex.readAll: unchanged roots
    // skip the per-read listing + schema-inference job
    (new java.io.File(base, "codes_by_cell") +: graft.ArtifactSwap.completed(base))
      .map(graft.ReadCache.parquetLocal(spark, _)).reduce(_.unionByName(_))

  private def swap(base: java.io.File) =
    graft.ArtifactSwap.local(base, "codes_by_cell", graft.ArtifactSwap.FoldedKeys)

  /** The (cell-partitioned code table, IVF centroids, PQ codebooks)
    * triple for `<dir>`'s corpus: codes are (idCol, __codes, __cell)
    * with __cell the partition column. `corpus` is only scanned on cold
    * builds of the underlying indexes.
    */
  def ensure(spark: SparkSession, dir: String, corpus: => DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding",
             subset: String = "all"
            ): (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = synchronized {
    // the sibling ensures are each memoized/persisted themselves, so
    // these calls are cheap reads on every warm path
    val (assigned, cents) = IvfIndex.ensure(spark, dir, corpus, idCol, vecCol, subset)
    val (codes, cb) = PqIndex.ensure(spark, dir, corpus,
      idCol = idCol, vecCol = vecCol, subset = subset)
    val base = root(dir, spark.sessionState.newHadoopConf(), subset)
    swap(base).recover()
    val joinedPath = new java.io.File(base, "codes_by_cell").getPath
    if (!new java.io.File(joinedPath, "_SUCCESS").isFile) {
      sessionMemo(spark).get(base.getPath) match {
        case Some(h) => return h
        case None =>
      }
      if (cb.isEmpty || cents.isEmpty) {
        val h = (codes.select(col(idCol)).limit(0), cents, cb)
        sessionMemo(spark)(base.getPath) = h
        return h
      }
      graft.ArtifactKey.dropSuperseded(
        base.getParentFile.getParentFile, graft.ArtifactKey.pathKey(dir) + "_",
        base.getParentFile.getName)
      graft.ArtifactSwap.resetGenerations(base)
      // one build-time equi-join lays the codes out by cell; repartition
      // on the cell first so partitionBy writes ONE file per cell
      // directory (the IvfIndex alignment trick)
      codes.join(assigned.select(col(idCol), col("__cell")), Seq(idCol))
        .repartition(cents.length, col("__cell"))
        .write.mode("overwrite").partitionBy("__cell").parquet(joinedPath)
    }
    (readAll(spark, base), cents, cb)
  }

  /** Fold a batch of NEW vectors into the composed index — the s13/s15
    * rung for the composed layout: batch rows encode with the PERSISTED
    * PQ codebooks and assign to the PERSISTED IVF centroids (both pure
    * per-row functions of frozen quantizers — re-training either is a
    * rebuild) and land as their own cell-partitioned generation. The
    * sibling indexes are their own maintenance surfaces ([[IvfIndex
    * .append]], [[PqIndex.append]]) — this folds the batch into the
    * artifact the composed SEARCH actually scans. IDEMPOTENT per
    * `batchKey`; a replay of a batch [[compact]] already folded no-ops
    * on the keys ledger. Requires an existing composed index (there are
    * no quantizers to encode against otherwise) — seed with [[ensure]].
    */
  def append(spark: SparkSession, dir: String, batchKey: String,
             batch: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding", subset: String = "all"
            ): (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = synchronized {
    val base = root(dir, spark.sessionState.newHadoopConf(), subset)
    val gen = graft.ArtifactSwap.generation(base, batchKey)
    val sw = swap(base)
    sw.recover()
    require(new java.io.File(new java.io.File(base, "codes_by_cell"), "_SUCCESS").isFile,
      s"no persisted index at $base — ensure() a base corpus before append()")
    val (cents, cb) = quantizers(spark, dir, subset)
    if (sw.folded.contains(batchKey)) return (readAll(spark, base), cents, cb)
    // ONE map-side pass derives codes AND cell per batch row (both are
    // pure per-row functions of the frozen quantizers over the same
    // frame) — the previous encode-frame ⋈ assign-frame equi-join on the
    // id re-scanned the batch twice and paid a join exchange to reunite
    // columns that never needed separating
    Similarity.withUnitNorm(batch, vecCol, "__unit")
      .select(col(idCol),
        org.apache.spark.sql.graft.PqFunctions
          .pqEncodeNative(col("__unit"), cb).as("__codes"),
        org.apache.spark.sql.graft.VectorFunctions
          .nearestCellsNative(col(vecCol), cents, 1).getItem(0).as("__cell"))
      .repartition(cents.length, col("__cell"))
      .write.mode("overwrite").partitionBy("__cell").parquet(gen.getPath)
    (readAll(spark, base), cents, cb)
  }

  /** Fold every completed [[append]] generation back into the base
    * leaf — one file per cell again ([[IvfIndex.compact]], applied to
    * the composed layout). Rows preserved exactly; both quantizers
    * untouched. Crash safety and the folded-keys ledger are
    * [[graft.ArtifactSwap]]'s. Run offline.
    */
  def compact(spark: SparkSession, dir: String, subset: String = "all",
              failpoint: String => Unit = _ => ()
             ): (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = synchronized {
    val base = root(dir, spark.sessionState.newHadoopConf(), subset)
    val sw = swap(base)
    sw.recover()
    require(new java.io.File(new java.io.File(base, "codes_by_cell"), "_SUCCESS").isFile,
      s"compact requires a persisted index — ensure() first ($base)")
    val (cents, cb) = quantizers(spark, dir, subset)
    val gens = graft.ArtifactSwap.completed(base)
    readAll(spark, base)
      .repartition(cents.length, col("__cell"))
      .write.mode("overwrite").partitionBy("__cell").parquet(sw.stage())
    sw.commit(failpoint, gens)
    (readAll(spark, base), cents, cb)
  }

  /** The frozen quantizer pair, read from the SIBLING indexes'
    * persisted artifacts (one quantizer discipline: the composed leaf
    * was laid out with exactly these; across JVMs the files are the
    * only truth). Fails loudly if a sibling was dropped out from under
    * the composed index.
    */
  private def quantizers(spark: SparkSession, dir: String,
                         subset: String): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val conf = spark.sessionState.newHadoopConf()
    val centsPath = new java.io.File(IvfIndex.root(dir, subset, conf), "centroids")
    val booksPath = new java.io.File(PqIndex.root(dir, hadoopConf = conf, subset = subset), "codebooks")
    require(new java.io.File(centsPath, "_SUCCESS").isFile,
      s"missing sibling IVF centroids at $centsPath — the composed index " +
        "cannot assign cells without the exact quantizer it was built with")
    require(new java.io.File(booksPath, "_SUCCESS").isFile,
      s"missing sibling PQ codebooks at $booksPath — the composed index " +
        "cannot encode without the exact quantizer it was built with")
    // both sidecars memoized per (session, path, content fingerprint) —
    // [[graft.ReadCache]] — so a warm append/compact pays two metadata
    // walks, not two read + collect jobs
    val cents = graft.ReadCache.collectedLocal(spark, centsPath) { df =>
      df.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1)
        .map(_._2).toSeq
    }
    val cb = graft.ReadCache.collectedLocal(spark, booksPath) { df =>
      val books = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      books.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rows) =>
        rows.sortBy(_._2).map(_._3.toSeq).toSeq
      }
    }
    (cents, cb)
  }
}

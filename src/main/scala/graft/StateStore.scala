package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-or-reuse the persisted STANDING STATE of an incremental fold —
  * the artifact that makes the fold families' deployment story real
  * (the LshIndex/HashLedger discipline applied to fold state instead of
  * index rows): w18's scd2 open runs, w20's session state + frontier
  * and g9's standing edges + lastViews used to be rebuilt from the
  * historical slice EVERY run, so the registered fold queries measured
  * a state BUILD plus an O(batch) fold — the ×100 probe read 3.14× for
  * what is an O(batch) operation at a deployment. With the store, the
  * seed state is a content-stamped artifact built once ([[ensure]]),
  * each fold's output can land as its own epoch snapshot ([[advance]],
  * idempotent per epoch key, invisible until its `_SUCCESS` commits),
  * and [[latest]] hands the next fold its standing input without
  * touching the log.
  *
  * Fold-from-artifact == fold-from-recomputed-state is gated in
  * StateStoreSpec — parquet round-trips every state column exactly
  * (timestamps are microseconds, the session `vsum` is a pinned
  * decimal(38,6), counts are longs), so the artifact can never perturb
  * a downstream hash.
  *
  * Key discipline = [[ArtifactKey]] (source basename + path hash +
  * content stamp) + the state NAME (which derivation this is — two
  * states of one source must not share a directory); a cold build
  * supersedes older stamps of the same source, like every index here.
  */
object StateStore {

  /** Bump when the layout changes. */
  private val version = "v1"

  private def src(dir: String, table: String): String =
    new org.apache.hadoop.fs.Path(dir, s"$table.parquet").toString

  def root(dir: String, table: String, name: String,
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration()): java.io.File =
    new java.io.File(
      s"target/state_store/$version/" +
        s"${ArtifactKey.stamped(src(dir, table), hadoopConf)}/$name")
      .getAbsoluteFile

  /** Finish or undo an epoch swap a crash interrupted — run at every
    * entry point, before [[latest]] can pick a half-swapped epoch.
    */
  private def recover(base: java.io.File): Unit =
    ArtifactSwap.pending(base).foreach(ArtifactSwap.local(base, _).recover())

  /** Delete the persisted state (forces the next ensure to rebuild). */
  def drop(dir: String, table: String, name: String): Unit =
    ArtifactKey.rmRecursive(root(dir, table, name))

  /** The seed snapshot for (source, name): `state` is only evaluated
    * (and its inputs scanned) on a cold build — every later call is a
    * parquet read of the state-sized frame.
    */
  def ensure(spark: SparkSession, dir: String, table: String, name: String,
             state: => DataFrame): DataFrame = synchronized {
    val base = root(dir, table, name, spark.sessionState.newHadoopConf())
    recover(base)
    val seed = new java.io.File(base, "seed")
    if (!new java.io.File(seed, "_SUCCESS").isFile) {
      ArtifactKey.dropSuperseded(
        base.getParentFile.getParentFile,
        ArtifactKey.pathKey(src(dir, table)) + "_", base.getParentFile.getName)
      state.write.mode("overwrite").parquet(seed.getPath)
    }
    ReadCache.parquetLocal(spark, seed)
  }

  /** Persist one fold's OUTPUT as the next standing snapshot — its own
    * epoch directory beside the seed, so the fold loop is: take
    * [[latest]], fold the batch, [[advance]] with the batch's key.
    * IDEMPOTENT per `epochKey`: each write is staged beside the epoch
    * and swapped in ([[ArtifactSwap]]), so an at-least-once replay
    * replaces its own epoch, and a crash at any point leaves [[latest]]
    * serving either the committed snapshot or the new one, never a
    * truncated one. Epoch keys must sort in fold order (zero-padded
    * sequence numbers, ISO dates): [[latest]] takes the lexicographic
    * max.
    */
  def advance(spark: SparkSession, dir: String, table: String, name: String,
              epochKey: String, state: DataFrame): DataFrame = synchronized {
    val leaf = "epoch_" + ArtifactSwap.checkKey(epochKey)
    val base = root(dir, table, name, spark.sessionState.newHadoopConf())
    recover(base)
    require(new java.io.File(new java.io.File(base, "seed"), "_SUCCESS").isFile,
      s"advance requires a seeded state — ensure() first ($base)")
    val sw = ArtifactSwap.local(base, leaf)
    state.write.mode("overwrite").parquet(sw.stage())
    sw.commit()
    ReadCache.parquetLocal(spark, new java.io.File(base, leaf))
  }

  /** The newest committed snapshot for (source, name): the
    * lexicographically-last completed epoch, else the seed, else None
    * (nothing ensured yet).
    */
  def latest(spark: SparkSession, dir: String, table: String,
             name: String): Option[DataFrame] = synchronized {
    val base = root(dir, table, name, spark.sessionState.newHadoopConf())
    recover(base)
    val epochs = ArtifactSwap.listLive(base, "epoch_")
      .filter(f => new java.io.File(f, "_SUCCESS").isFile)
    val pick = epochs.lastOption.orElse {
      val seed = new java.io.File(base, "seed")
      if (new java.io.File(seed, "_SUCCESS").isFile) Some(seed) else None
    }
    pick.map(ReadCache.parquetLocal(spark, _))
  }
}

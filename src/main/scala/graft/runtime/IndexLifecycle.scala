package graft.runtime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types.StructType

/** The lifecycle plumbing every maintained index family shares — the
  * tombstone filter and rewrite, the cap ledger's epochs, and
  * rebuild-time compaction — parameterized only by the family's id and
  * bucket column names. Publication itself (manifests, the writer lock)
  * is [[IndexStatePublisher]]'s.
  */
object IndexLifecycle {

  /** A filter removing the ids tombstoned in `m` from a frame: a
    * broadcast anti-join (the tombstone list is delete-traffic-sized by
    * contract, and the broadcast filter preserves the bucketed layout —
    * no exchange appears above the bucketed scans). `id` names the
    * tombstone list's column; the filter takes a frame and the name of
    * its id column. The identity when `m` has no tombstones.
    */
  def tombstoneFilter(s: SparkSession, dir: String, m: IndexManifest,
      id: String): (DataFrame, String) => DataFrame = m.pathOpt("deleted") match {
    case None => (df, _) => df
    case Some(rel) =>
      val del = broadcast(s.read.parquet(s"$dir/$rel"))
      // re-select the original order: a USING-key anti-join moves the key
      // column first, which would silently swap (a_id, b_id) in the pair
      // artifact for positional consumers
      (df, idCol) => df.join(del.withColumnRenamed(id, idCol), Seq(idCol), "left_anti")
        .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Write the FULL surviving tombstone list — `m`'s plus `del` — to
    * `deleted/gen-<m.gen + 1>`. Rewriting the whole list per generation
    * (delete traffic is small by contract) means one manifest resolution
    * gives a reader a consistent (state, tombstones) pair; appending to
    * a live tombstone dir could tear exactly that pairing.
    */
  def writeTombstones(s: SparkSession, dir: String, m: IndexManifest,
      del: DataFrame): Unit =
    m.pathOpt("deleted")
      .map(rel => s.read.parquet(s"$dir/$rel").unionByName(del).distinct())
      .getOrElse(del)
      .transform(Ckpt.eager)
      .write.mode("overwrite").parquet(s"$dir/deleted/gen-${m.gen + 1}")

  /** The persisted cap ledger of `m` as one frame: (epoch, keys...) —
    * every bucket the cap suppressed, at the epoch it suppressed it.
    */
  def readCapLedger(s: SparkSession, dir: String, m: IndexManifest,
      keys: String*): DataFrame = {
    require(m.pathOpt("capledger").nonEmpty, s"index at $dir has no cap ledger")
    m.epochPaths(dir, "capledger").zipWithIndex
      .map { case (p, e) => s.read.parquet(p).withColumn("epoch", lit(e)) }
      .reduce(_.unionByName(_))
      .select(("epoch" +: keys).map(col): _*)
  }

  /** Write cap-ledger epoch `epoch` of `m`: the buckets this epoch's cap
    * suppressed (`over`), or an empty set when the append ran uncapped.
    * The key columns' types are taken from `bands`, the delta's bucket
    * rows.
    */
  def writeLedgerEpoch(dir: String, m: IndexManifest, epoch: Int,
      over: Option[DataFrame], bands: DataFrame, keys: String*): Unit = {
    val s = bands.sparkSession
    over.getOrElse(s.createDataFrame(s.sparkContext.emptyRDD[Row],
        StructType(keys.map(bands.schema(_)))))
      .select(keys.map(col): _*)
      .write.mode("overwrite")
      .parquet(s"$dir/${m.path("capledger")}/epoch-$epoch")
  }

  /** Rebuild-time COMPACTION, the skeleton every family shares — the
    * scheduled physical half of deletion. Under the writer lock: refuse
    * a LEDGERED index (its cap ledger is suppression HISTORY, which no
    * epoch-collapsed rewrite can preserve; `rebuild` names the family's
    * rebuild, its compaction); then, when the current manifest has
    * tombstones, `rewrite(m, g)` writes the tombstone-filtered artifacts
    * into FRESH generation-suffixed directories and returns the entries
    * it replaced, and generation `g` publishes them with the tombstone
    * entry dropped and every rewritten epoch artifact back at epoch 0.
    * The new manifest derives from `m`, so geometry carries over, and
    * in-flight readers keep their directories until
    * [[IndexStatePublisher.gc]].
    */
  def compact(dir: String, rebuild: String)(
      rewrite: (IndexManifest, Long) => Map[String, String]): Unit =
    IndexStatePublisher.withWriterLock(dir) {
      val m = IndexStatePublisher.current(dir)
      require(m.pathOpt("capledger").isEmpty,
        s"index at $dir is ledgered; compaction would discard the cap " +
          s"ledger and break the rerun contract — use $rebuild instead")
      if (m.pathOpt("deleted").nonEmpty) {
        val g = m.gen + 1
        val fresh = rewrite(m, g)
        IndexStatePublisher.publish(dir, m.copy(gen = g,
          entries = m.entries - "deleted" ++ fresh,
          epochs = m.epochs ++ fresh.keys.filter(m.epochs.contains).map(_ -> 0)))
      }
    }
}

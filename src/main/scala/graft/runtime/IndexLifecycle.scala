package graft.runtime

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, greatest, least, lit, min, sum}
import org.apache.spark.sql.types.StructType
import graft.llm.{Dedup, DedupResolve}

/** The maintained-index runner: the lifecycle every maintained index
  * family shares — the capped delta probe, the cap ledger and its
  * replay, the touched-cluster delete, the tombstone filter and
  * rewrite, the append write-back, rebuild and compaction, and the
  * publish that ends each of them — as plain functions over a
  * [[IndexLifecycle.Probe]]. A family supplies only its signature
  * kernel, its band/bucket derivation, its verify predicate and its
  * own repairs. Publication itself (manifests, the writer lock) is
  * [[IndexStatePublisher]]'s.
  *
  * Every mutation resolves the manifest ONCE, under the writer lock,
  * and derives the generation it publishes from it, so geometry and
  * every untouched entry carry over.
  */
object IndexLifecycle {

  /** A family's probe surface: the bucketed probe table (manifest entry
    * `table`, catalog name `<prefix><table>_<hash>`), its per-bucket
    * population table (entry `counts`, catalog name
    * `<prefix>bcnt_<hash>`; one count row per write, readers SUM over
    * the key), the bucket key columns and the id column. `rowSchema` /
    * `keySchema` are the tables' DDL column lists.
    */
  final case class Probe(prefix: String, table: String, counts: String, id: String,
      keys: Seq[String], rowSchema: String, keySchema: String) {
    def tableAt(loc: String): String = IndexStore.tableFor(s"$prefix${table}_", loc)
    def countsAt(loc: String): String = IndexStore.tableFor(s"${prefix}bcnt_", loc)
    private[runtime] def keyCols: Seq[Column] = keys.map(col)
    private[runtime] def keysEqual: Column =
      keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
  }

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
      val del = broadcast(readTombstones(s, s"$dir/$rel", id))
      // re-select the original order: a USING-key anti-join moves the key
      // column first, which would silently swap (a_id, b_id) in the pair
      // artifact for positional consumers
      (df, idCol) => df.join(del.withColumnRenamed(id, idCol), Seq(idCol), "left_anti")
        .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** A tombstone list at `path`: one BIGINT column `id` (the schema
    * [[writeTombstones]] writes), read with it declared, which spares
    * the schema-inference job of a bare `read.parquet`.
    */
  private def readTombstones(s: SparkSession, path: String, id: String): DataFrame =
    s.read.schema(s"$id BIGINT").parquet(path)

  /** The label table of `m`, read as [[DedupResolve.LabelsSchema]]. */
  def readLabels(s: SparkSession, dir: String, m: IndexManifest): DataFrame =
    s.read.schema(DedupResolve.LabelsSchema).parquet(s"$dir/${m.path("labels")}")

  /** `p`'s probe table at `m`, tombstone-filtered by `minusDel`, and its
    * count table (counts keep counting tombstoned rows: the cap guards
    * the PHYSICAL bucket population a probe joins).
    */
  def readProbe(s: SparkSession, dir: String, m: IndexManifest, p: Probe,
      minusDel: (DataFrame, String) => DataFrame): (DataFrame, DataFrame) = {
    val nb = m.geom(dir, "n_buckets")
    val (rel, c) = (m.path(p.table), m.path(p.counts))
    val counts = IndexStore.ensureBucketedTable(s,
      p.countsAt(s"$dir/$c"), s"${p.keySchema}, cn BIGINT", p.keys.mkString(", "), nb, s"$dir/$c")
    (minusDel(IndexStore.ensureBucketedTable(s, p.tableAt(s"$dir/$rel"), p.rowSchema,
      p.keys.mkString(", "), nb, s"$dir/$rel"), p.id), counts)
  }

  /** The pair evidence of `m` — every epoch, read as the family's
    * declared `schema` (DDL) — minus pairs with a tombstoned endpoint.
    */
  def readPairs(s: SparkSession, dir: String, m: IndexManifest, schema: String,
      minusDel: (DataFrame, String) => DataFrame): DataFrame =
    minusDel(minusDel(s.read.schema(schema).parquet(m.epochPaths(dir, "pairs"): _*), "a_id"), "b_id")

  /** The writes of `rows` as `p`'s probe table at `rel` and of their
    * per-bucket populations at `countsRel`; the returned writes are
    * independent, for the caller's [[Par.run]].
    */
  private def probeWrites(s: SparkSession, dir: String, p: Probe, rows: DataFrame,
      nBuckets: Int, mode: String, rel: String, countsRel: String): Seq[() => Unit] =
    Seq(bucketedWrite(s, rows, nBuckets, s"$dir/$rel", p.tableAt(s"$dir/$rel"), mode, p.keys),
      bucketedWrite(s, rows.groupBy(p.keyCols: _*).agg(count(lit(1)).as("cn")),
        nBuckets, s"$dir/$countsRel", p.countsAt(s"$dir/$countsRel"), mode, p.keys))

  /** A bucketed write of `df` as catalog table `table` at `path`, for the
    * caller's [[Par.run]]; an overwrite drops the catalog name first, at
    * call time.
    */
  def bucketedWrite(s: SparkSession, df: DataFrame, nBuckets: Int, path: String,
      table: String, mode: String, keys: Seq[String]): () => Unit = {
    if (mode == "overwrite") s.sql(s"DROP TABLE IF EXISTS $table")
    () => IndexStore.writeBucketed(df, nBuckets, path, table, mode, keys: _*)
  }

  /** Every write of a freshly derived generation `g` of an index —
    * generation 0, a rebuild or a compaction: `p`'s probe table and its
    * count table from `rows`, each artifact of
    * `epochs` (name → frame) and the cap `ledger`, when given, as epoch
    * 0 of a fresh directory, and `labels`, when given, as
    * `labels/gen-<g>`. Generation 0 uses the plain names; later
    * generations suffix `-g<g>` (fresh directories and catalog names,
    * so in-flight readers keep theirs). Returns the writes and the
    * manifest entries they fill.
    */
  def freshIndex(s: SparkSession, dir: String, p: Probe, rows: DataFrame, nBuckets: Int,
      g: Long, epochs: Map[String, DataFrame], labels: Option[DataFrame],
      ledger: Option[DataFrame] = None): (Seq[() => Unit], Map[String, String]) = {
    val sfx = if (g == 0) "" else s"-g$g"
    val tables = Map(p.table -> s"${p.table}$sfx", p.counts -> s"${p.counts}$sfx")
    val arts = epochs ++ ledger.map(l => "capledger" -> l.select(p.keyCols: _*))
    val lrel = s"labels/gen-$g"
    (probeWrites(s, dir, p, rows, nBuckets, "overwrite", tables(p.table), tables(p.counts)) ++
      arts.map { case (n, df) => () => df.write.mode("overwrite").parquet(s"$dir/$n$sfx/epoch-0") } ++
      labels.map(l => () => l.write.mode("overwrite").parquet(s"$dir/$lrel")),
      tables ++ arts.keys.map(n => n -> s"$n$sfx") ++ labels.map(_ => "labels" -> lrel))
  }

  /** The capped delta probe of one append: the bucket population of each
    * DELTA-TOUCHED bucket is the persisted corpus count (`counts`, summed
    * over its per-write rows) plus the delta's, and buckets above
    * `bucketCap` are dropped from
    * both sides — output-equivalent to capping the full union (a bucket
    * without a delta member emits no candidate), at a delta-bucket-sized
    * cost. Returns (corpus rows, delta rows, the suppressed set — `None`
    * when uncapped). `delta` must be materialized: it is read thrice.
    */
  def capDelta(corpus: DataFrame, counts: DataFrame, delta: DataFrame,
      bucketCap: Int, p: Probe): (DataFrame, DataFrame, Option[DataFrame]) =
    if (bucketCap == Dedup.NoBucketCap) (corpus, delta, None)
    else {
      require(bucketCap > 0, s"bucketCap must be positive or NoBucketCap, got $bucketCap")
      val (k, keys) = (p.keyCols, p.keys)
      val dCnt = delta.groupBy(k: _*).agg(count(lit(1)).as("dn"))
        .transform(Ckpt.eager) // read twice: the count probe + the over-join
      // probe the bucketed counts with the delta's bucket list first
      // (corpus side exchange-free, aggregation input delta-bucket-sized)
      val cCnt = counts
        .join(dCnt.select(k: _*).hint("shuffle_hash"), keys)
        .groupBy(k: _*).agg(sum(col("cn")).as("cn"))
      val over = dCnt
        .join(cCnt, keys, "left_outer")
        .filter(coalesce(col("cn"), lit(0L)) + col("dn") > bucketCap)
        .select(k: _*)
        .transform(Ckpt.eager)
      (corpus.join(over, keys, "left_anti"), delta.join(over, keys, "left_anti"), Some(over))
    }

  /** Candidate pairs with >= 1 delta member, (a_id, b_id, extra...),
    * `a_id < b_id`, not yet distinct: corpus–delta through the bucketed
    * corpus probe table (corpus side scan-only; the delta side alone
    * shuffles into its layout) plus the delta-sized self-join
    * ([[Dedup.candidatePairs]]; `delta` is already capped). `extra` are
    * projections over the joined `a.` / `b.` rows.
    */
  def deltaCandidates(cb: DataFrame, db: DataFrame, p: Probe, extra: Column*): DataFrame =
    cb.alias("a")
      .join(db.hint("shuffle_hash").alias("b"),
        p.keysEqual && col(s"a.${p.id}") =!= col(s"b.${p.id}"))
      .select(Seq(
        least(col(s"a.${p.id}"), col(s"b.${p.id}")).as("a_id"),
        greatest(col(s"a.${p.id}"), col(s"b.${p.id}")).as("b_id")) ++ extra: _*)
      .unionByName(Dedup.candidatePairs(db, p.keys, p.id, Dedup.NoBucketCap, extra: _*))

  /** The epoch-0 cap ledger of a capped build: every bucket of `rows`
    * whose population exceeds `bucketCap` — the rule every append
    * applies to the rows visible at its epoch.
    */
  def overCap(rows: DataFrame, bucketCap: Int, p: Probe): DataFrame =
    rows.groupBy(p.keyCols: _*).agg(count(lit(1)).as("cn"))
      .filter(col("cn") > bucketCap)
      .select(p.keyCols: _*)
      .transform(Ckpt.eager)

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

  /** The LEDGER REPLAY row filter, materialized: the bucket rows of
    * epoch-tagged `rows` the persisted ledger admits. Suppression is
    * MONOTONE — a bucket's population over visible rows only grows with
    * the epoch, so its ledger rows form a suffix [first_over, K] — hence
    * "pair admitted ⇔ some shared bucket not suppressed at
    * max(epoch_a, epoch_b)" ⇔ "both rows' epochs < first_over(bucket)".
    * The filter therefore moves from the pair level to the ROW level,
    * and a mega-bucket suppressed from epoch 0 contributes ZERO rows to
    * the self-join instead of its quadratic candidates.
    */
  def ledgerAdmitted(s: SparkSession, dir: String, m: IndexManifest, rows: DataFrame,
      p: Probe): DataFrame = {
    val firstOver = readCapLedger(s, dir, m, p.keys: _*)
      .groupBy(p.keyCols: _*)
      .agg(min(col("epoch")).as("first_over"))
    rows.join(broadcast(firstOver), p.keys, "left_outer")
      .filter(col("first_over").isNull || col("epoch") < col("first_over"))
      .drop("first_over")
      .transform(Ckpt.eager)
  }

  /** Write cap-ledger epoch `epoch` of `m`: the buckets this epoch's cap
    * suppressed (`over`), or an empty set when the append ran uncapped.
    * The key columns' types are taken from `bands`, the delta's bucket
    * rows.
    */
  private def writeLedgerEpoch(dir: String, m: IndexManifest, epoch: Int,
      over: Option[DataFrame], bands: DataFrame, keys: String*): Unit = {
    val s = bands.sparkSession
    over.getOrElse(s.createDataFrame(s.sparkContext.emptyRDD[Row],
        StructType(keys.map(bands.schema(_)))))
      .select(keys.map(col): _*)
      .write.mode("overwrite")
      .parquet(s"$dir/${m.path("capledger")}/epoch-$epoch")
  }

  /** Write the FULL surviving tombstone list — `m`'s plus `del` — to
    * `deleted/gen-<m.gen + 1>`. Rewriting the whole list per generation
    * (delete traffic is small by contract) means one manifest resolution
    * gives a reader a consistent (state, tombstones) pair; appending to
    * a live tombstone dir could tear exactly that pairing.
    */
  private def writeTombstones(s: SparkSession, dir: String, m: IndexManifest,
      del: DataFrame): Unit =
    m.pathOpt("deleted")
      .map(rel => readTombstones(s, s"$dir/$rel", del.columns.head).unionByName(del).distinct())
      .getOrElse(del)
      .transform(Ckpt.eager)
      .write.mode("overwrite").parquet(s"$dir/deleted/gen-${m.gen + 1}")

  /** A mutation under the writer lock, handed the manifest resolved ONCE
    * for it.
    */
  def mutate[T](dir: String)(body: IndexManifest => T): T =
    IndexStatePublisher.withWriterLock(dir)(body(IndexStatePublisher.current(dir)))

  /** Run `writes` concurrently (independent actions over materialized
    * frames: visibility is the publish, so their order is unobservable),
    * then publish `m`.
    */
  private def writeAndPublish(dir: String, m: IndexManifest, writes: Seq[() => Unit]): Unit = {
    Par.run(writes: _*)
    IndexStatePublisher.publish(dir, m)
  }

  /** The labels directory generation `m.gen + 1` publishes. */
  private def nextLabels(m: IndexManifest): String = s"labels/gen-${m.gen + 1}"

  /** One maintained APPEND's write-back and publish, on manifest `m`:
    * the delta's probe `rows` are appended to the probe table in its
    * bucket layout and one count row per (append, bucket) to the count
    * table (in-place file appends: these are writer-side probe surfaces
    * the lock serializes), each artifact of `epochs` (name → frame)
    * takes a new epoch `e`, a LEDGERED index records the epoch's
    * suppressed set `over` (empty when uncapped) — what makes capped
    * appends rerun-reproducible — and `extra` are the family's other
    * writes. Every epoch artifact advances to `e` together. All inputs
    * must be materialized: their plans probe the tables being appended.
    *
    * `relabel`, when given, is (labels, checkpointed new edges): the
    * touched-subgraph resolution ([[DedupResolve.incrementalLabels]])
    * runs INSIDE one of the overlapped writes (its inputs — the
    * checkpointed evidence and the labels generation this mutation
    * never touches — are immutable), is materialized, written to a
    * fresh labels generation and returned (null without `relabel`).
    * RECOVERY NOTE: the probe tables take in-place appends, so a resolve
    * failure mid-overlap leaves appended rows visible to a reader at the
    * OLD manifest — a wider torn window than a resolve-first order. The
    * writer lock + rebuild contract is the recovery path (the lock is
    * released by try/finally, the manifest is not advanced, and
    * rebuildLedgered/compactIndex re-derive from source). The DELETE
    * path, whose heavy step is the resolve itself, resolves before any
    * write ([[deleteTouched]]); here the writes are the
    * delta-proportional bulk and the overlap is the measured win.
    */
  def appendWriteBack(s: SparkSession, dir: String, m: IndexManifest, p: Probe,
      rows: DataFrame, over: Option[DataFrame], epochs: Map[String, DataFrame],
      relabel: Option[(DataFrame, DataFrame)],
      extra: Seq[() => Unit] = Nil): (IndexManifest, DataFrame) = {
    val (e, epochWrites, next0) = epochAppend(dir, m, epochs)
    @volatile var labels: DataFrame = null
    val ledger =
      if (m.pathOpt("capledger").isEmpty) Nil
      else Seq(() => writeLedgerEpoch(dir, m, e, over, rows, p.keys: _*))
    val resolve = relabel.map { case (old, edges) => () =>
      labels = DedupResolve.incrementalLabels(old, edges).transform(Ckpt.eager)
      labels.write.mode("overwrite").parquet(s"$dir/${nextLabels(m)}")
    }
    val next = if (relabel.isEmpty) next0 else next0.withEntry("labels", nextLabels(m))
    writeAndPublish(dir, next,
      extra ++ probeWrites(s, dir, p, rows, m.geom(dir, "n_buckets"), "append",
        m.path(p.table), m.path(p.counts)) ++ epochWrites ++ resolve ++ ledger)
    (next, labels)
  }

  /** The epoch-append step every maintained append shares, on manifest
    * `m`: the next epoch `e` (every epoch artifact advances to it
    * together), the writes of each frame of `epochs` (name → frame) as
    * that artifact's `epoch-e` directory, and generation `m.gen + 1`
    * with every epoch artifact at `e`.
    */
  private def epochAppend(dir: String, m: IndexManifest,
      epochs: Map[String, DataFrame]): (Int, Seq[() => Unit], IndexManifest) = {
    val e = m.epochs.values.max + 1
    (e, epochs.toSeq.map { case (n, df) =>
        () => df.write.mode("overwrite").parquet(s"$dir/${m.path(n)}/epoch-$e") },
      m.copy(gen = m.gen + 1, epochs = m.epochs.map { case (k, _) => k -> e }))
  }

  /** A maintained APPEND that only adds epochs, on manifest `m` (resolved
    * by [[mutate]]): each frame of `epochs` takes the next epoch, then
    * generation `m.gen + 1` publishes.
    */
  def appendEpochs(dir: String, m: IndexManifest, epochs: Map[String, DataFrame]): Unit = {
    val (_, writes, next) = epochAppend(dir, m, epochs)
    writeAndPublish(dir, next, writes)
  }

  /** Tombstone-only DELETION, for a family whose answer is the filtered
    * artifact itself: one tombstone generation, published under the
    * writer lock.
    */
  def tombstone(s: SparkSession, dir: String, id: String, deleteIds: DataFrame): Unit =
    mutate(dir) { m =>
      writeAndPublish(dir, tombstoned(m), Seq(
        () => writeTombstones(s, dir, m, deleteIds.select(col(id).cast("long").as(id)))))
    }

  /** Generation `m.gen + 1`, publishing its tombstone list. */
  private def tombstoned(m: IndexManifest): IndexManifest =
    m.withEntry("deleted", s"deleted/gen-${m.gen + 1}").copy(gen = m.gen + 1)

  /** Touched-cluster DELETION, for the families whose answer is resolved
    * labels: tombstone `deleteIds` and re-resolve exactly the clusters
    * that lost a member. Connectivity may genuinely SPLIT when a bridge
    * member dies — labels alone cannot recover that — so survivors of
    * touched clusters re-resolve from the persisted `pairs` evidence
    * restricted to touched clusters minus deleted endpoints, plus the
    * family's `repair(touchedLabels, del)` edges (e.g. exact-dup stars
    * lost with their center); untouched clusters keep their labels
    * verbatim (no path between survivor components runs through a
    * cluster none of whose members died). `labels` is (id, cluster).
    *
    * The re-resolution is the mutation's compute (the touched pairs'
    * collect and, within the driver budget, a union-find on the driver;
    * above it the iterative multi-job Spark resolve), so it runs to
    * completion BEFORE any write, and only the two cheap writes overlap:
    * no heavy job shares the memory pool with another (overlapping the
    * resolve with the tombstone rewrite was the prime suspect for d49's
    * intermittent 7× blowup at 32-way task concurrency), and nothing
    * irreversible happens until the failure-prone step has succeeded.
    * Returns the new labels, materialized before the publish that
    * supersedes their input.
    */
  def deleteTouched(s: SparkSession, dir: String, m: IndexManifest, id: String,
      deleteIds: DataFrame, labels: DataFrame, pairs: DataFrame,
      repair: Option[(DataFrame, DataFrame) => DataFrame]): DataFrame = {
    val del = deleteIds.select(col(id).cast("long").as(id)).transform(Ckpt.eager)
    // the touched-cluster list is collected ONCE per delete (the guard's
    // probe is its payload); the touched and untouched joins below
    // reuse the same shaped frame
    val tJoin = DedupResolve.guardedByCluster(
      labels.join(del.select(col(id).as("id")), Seq("id")).select(col("cluster")).distinct())
    val touchedLabels0 = labels.join(tJoin, Seq("cluster")).select(col("id"), col("cluster"))
    // a repair reads the touched labels a second time
    val touchedLabels =
      if (repair.isEmpty) touchedLabels0 else touchedLabels0.transform(Ckpt.eager)
    // an edge's endpoints share a component, so membership is decided by
    // a_id's label
    val survPairs = pairs
      .join(touchedLabels.select(col("id").as("a_id")), Seq("a_id"), "left_semi")
      .join(del.withColumnRenamed(id, "a_id"), Seq("a_id"), "left_anti")
      .join(del.withColumnRenamed(id, "b_id"), Seq("b_id"), "left_anti")
      .select(col("a_id"), col("b_id"))
    val subLabels = DedupResolve.resolveClusters(
      repair.fold(survPairs)(r => survPairs.unionByName(r(touchedLabels, del))))
    val newLabels = labels.join(tJoin, Seq("cluster"), "left_anti")
      .select(col("id"), col("cluster"))
      .unionByName(subLabels.select(col("id"), col("cluster")))
      .transform(Ckpt.eager)
    writeAndPublish(dir, tombstoned(m).withEntry("labels", nextLabels(m)), Seq(
      () => writeTombstones(s, dir, m, del),
      () => newLabels.write.mode("overwrite").parquet(s"$dir/${nextLabels(m)}")))
    newLabels
  }

  /** Publish generation 0 of a freshly written index: `writes` run
    * concurrently, then the manifest, every artifact of `epochs` at
    * epoch 0.
    */
  def publishGen0(dir: String, writes: Seq[() => Unit], entries: Map[String, String],
      epochs: Iterable[String], geometry: Map[String, Int]): Unit =
    writeAndPublish(dir, IndexManifest(0L, entries, epochs.map(_ -> 0).toMap, geometry), writes)

  /** Rebuild-time COMPACTION, the scheduled physical half of deletion.
    * Refuses a LEDGERED index (its cap ledger is suppression HISTORY,
    * which no epoch-collapsed rewrite can preserve; `rebuild` names the
    * family's rebuild, its compaction); otherwise, when the index has
    * tombstones, `rewrite(m, g)` returns the writes of the
    * tombstone-filtered artifacts of `m` into FRESH generation-suffixed
    * directories and the entries they replace (see [[regenerate]]).
    */
  def compact(dir: String, rebuild: String)(
      rewrite: (IndexManifest, Long) => (Seq[() => Unit], Map[String, String])): Unit =
    mutate(dir) { m =>
      require(m.pathOpt("capledger").isEmpty,
        s"index at $dir is ledgered; compaction would discard the cap " +
          s"ledger and break the rerun contract — use $rebuild instead")
      if (m.pathOpt("deleted").nonEmpty) regenerate(dir, m)(rewrite(m, _))
    }

  /** The LEDGERED rebuild: a scheduled, loud re-derivation over the
    * survivors with a fresh epoch-0 ledger — by design NOT necessarily
    * the pre-rebuild maintained answer (the epoch history is gone;
    * suppression re-derives from the survivor population), the same
    * semantic reset a re-banding or centroid retrain performs, never a
    * silent drift. `rewrite(m, g)` returns the writes re-deriving every
    * artifact of `m` into fresh directories and their entries (see
    * [[regenerate]]); a family whose rebuild takes its input from the
    * caller checks it first with [[requireSurvivors]].
    */
  def rebuildLedgered(dir: String)(
      rewrite: (IndexManifest, Long) => (Seq[() => Unit], Map[String, String])): Unit =
    mutate(dir) { m =>
      require(m.pathOpt("capledger").nonEmpty, s"index at $dir is not ledgered — use compactIndex")
      regenerate(dir, m)(rewrite(m, _))
    }

  /** The rebuild input guard: a caller-supplied corpus must hold exactly
    * the index's `survivors` (tombstone-filtered) rows — a refused
    * rebuild leaves the manifest where it was.
    */
  def requireSurvivors(dir: String, got: Long, survivors: Long): Unit =
    require(got == survivors,
      s"rebuildLedgered($dir): caller passed $got rows but the index has " +
        s"$survivors survivors — the rebuild input must be exactly the survivors")

  /** The regeneration skeleton of compaction, rebuild and retrain, on
    * manifest `m` (resolved by [[mutate]]): the writes `rewrite(g)`
    * returns run concurrently and generation `g = m.gen + 1` publishes
    * their entries, with the tombstone entry dropped, every rewritten
    * epoch artifact back at epoch 0 and `geometry` over `m`'s. The new
    * manifest derives from `m`, so every other entry and geometry
    * parameter carries over, and in-flight readers keep their
    * directories until [[IndexStatePublisher.gc]].
    */
  def regenerate(dir: String, m: IndexManifest, geometry: Map[String, Int] = Map.empty)(
      rewrite: Long => (Seq[() => Unit], Map[String, String])): Unit = {
    val g = m.gen + 1
    val (writes, fresh) = rewrite(g)
    writeAndPublish(dir, m.copy(gen = g,
      entries = m.entries - "deleted" ++ fresh,
      epochs = m.epochs ++ fresh.keys.filter(m.epochs.contains).map(_ -> 0),
      geometry = m.geometry ++ geometry), writes)
  }
}

package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.runtime.{Ckpt, IndexLifecycle, IndexManifest, IndexStatePublisher}

/** Incremental corpus-append arms for the remaining signature families
  * of the corpus index (r14 VERDICT ask #5) — the d39 pattern (persist
  * the probe tables BUCKETED on their probe keys; a delta pass probes
  * them with zero corpus-side exchange and unions yesterday's answers)
  * applied to:
  *   - the fixed-width bit-signature families: SimHash (d12/d22) and
  *     pHash (m02–m05) — [[IncrementalSig]];
  *   - the contamination Bloom sketch (d36) — [[IncrementalContam]].
  *
  * Bit-signature pairs are even simpler than d39's minhash path: the
  * verify (exact Hamming over the full signature) needs only the
  * signatures both band rows already carry, and the PAIR LIST itself is
  * the resolvable artifact — no component resolution, no text reads.
  * The incremental answer is exactly
  *   persisted corpus-internal pairs ∪ delta-involved pairs
  * because banding and Hamming are deterministic integer arithmetic:
  * corpus-internal buckets reproduce yesterday's join verbatim, and a
  * delta-involved pair shares a (band, bsig) bucket with ≥ 1 delta
  * member by definition. The gates' oracles are therefore the FULL
  * RERUN SQL, unchanged — the incremental path must change the cost,
  * never the answer (the d39 contract).
  *
  * Decontamination is simpler still: per-document spans are
  * INDEPENDENT across corpus docs (the only shared state is the static
  * benchmark suite), so append = yesterday's spans ∪ spans of the
  * delta probed through the persisted sketch + bucketed gram table.
  */
object IncrementalSig {

  /** The band table: the probe surface, bucketed on (band, bsig). */
  private val Bands = IndexLifecycle.Probe("graft_sig_", "bands", "bandcounts", "doc_id",
    Dedup.BandKeys, "doc_id BIGINT, sig BIGINT, band INT, bsig BIGINT",
    "band INT, bsig BIGINT")

  /** The persisted artifacts: the bucketed band table (probe surface),
    * its per-bucket population counts (the cap's delta-side evidence —
    * the d39 pattern), and yesterday's resolved pair list.
    */
  final case class SigIndex(bands: DataFrame, pairs: DataFrame,
      bits: Int, nBands: Int, bandCounts: DataFrame)

  /** Write + PUBLISH manifest generation 0
    * ([[IndexLifecycle.publishGen0]], the atomic-publication discipline
    * every index family shares; r16 VERDICT #1).
    */
  def writeIndex(corpusSigs: DataFrame, pairs: DataFrame, dir: String,
      bits: Int, nBands: Int, nBuckets: Int = 32,
      capLedger0: Option[DataFrame] = None): Unit = {
    val (writes, entries) = IndexLifecycle.freshIndex(corpusSigs.sparkSession, dir, Bands,
      Dedup.bandsOfSig(corpusSigs, bits, nBands), nBuckets, 0L, Map("pairs" -> pairs), None, capLedger0)
    IndexLifecycle.publishGen0(dir, writes, entries, Seq("pairs") ++ capLedger0.map(_ => "capledger"),
      Map("bits" -> bits, "n_bands" -> nBands, "n_buckets" -> nBuckets))
  }

  /** Load the index at its CURRENT published generation (one manifest
    * resolution = one consistent snapshot; see
    * [[IncrementalDedup.readIndex]]). Tombstones (see [[deleteDocs]])
    * are filtered out of the band table and the pair list with
    * broadcast anti-joins — the bucketed layout survives, deleted docs
    * can neither pair with future deltas nor linger in the answer.
    */
  def readIndex(s: SparkSession, dir: String): SigIndex =
    readIndexAt(s, dir, IndexStatePublisher.current(dir))

  private def readIndexAt(s: SparkSession, dir: String, m: IndexManifest): SigIndex = {
    val minusDel = IndexLifecycle.tombstoneFilter(s, dir, m, "doc_id")
    val (bands, counts) = IndexLifecycle.readProbe(s, dir, m, Bands, minusDel)
    SigIndex(bands, IndexLifecycle.readPairs(s, dir, m, minusDel),
      m.geom(dir, "bits"), m.geom(dir, "n_bands"), counts)
  }

  /** Deletion from a signature index (the d47 lifecycle applied to the
    * bit-signature families): the PAIR LIST is the resolvable artifact —
    * there is no cluster stage to repair — so takedown is exactly a
    * tombstone generation ([[IndexLifecycle.tombstone]]);
    * [[readIndex]] filters every artifact by it.
    * Equivalence (uncapped): surviving docs band identically in a rerun
    * over corpus-minus-deleted, so the rerun's pairs are precisely
    * yesterday's restricted to surviving endpoints — the filtered load.
    * Under a finite cap the mirror of the append caveat applies
    * (buckets falling back under the cap re-admit pairs; SCALING.md
    * §3h). The persisted per-bucket counts intentionally keep counting
    * tombstoned rows: the cap guards the PHYSICAL bucket population the
    * probe join touches, and dead band rows still sit in those buckets
    * until rebuild-time compaction.
    *
    * LEDGERED (capped) indexes: deletion COMPOSES with the cap ledger
    * (r18 VERDICT #1). Suppression sets are population history a
    * takedown cannot rewrite, and counts keep counting tombstones, so
    * post-delete capped appends suppress exactly as the epoch history
    * says; [[rerunWithLedger]] fed the SURVIVING signatures (original
    * epoch tags) equals the tombstone-filtered pair artifact —
    * spec-pinned (IndexPublicationSpec "cap ledger" case).
    */
  def deleteDocs(s: SparkSession, dir: String, deleteIds: DataFrame): Unit =
    IndexLifecycle.tombstone(s, dir, "doc_id", deleteIds)

  /** The LEDGERED family's compaction: a REBUILD
    * ([[IndexLifecycle.rebuildLedgered]] holds the contract). The
    * surviving signatures are recoverable from the tombstone-filtered
    * band table, so no caller-supplied corpus is needed: everything
    * re-derives via [[buildPairsWithLedger]] into FRESH
    * generation-suffixed directories with a fresh EPOCH-0 ledger. The
    * spec pins rebuilt ≡ fresh-build-over-survivors AND that the fresh
    * ledger replays (epoch-0 tags) to the rebuilt answer.
    */
  def rebuildLedgered(s: SparkSession, dir: String, maxHamming: Int,
      bucketCap: Int): Unit = IndexLifecycle.rebuildLedgered(dir) { (m, g) =>
    val (bits, nBands) = (m.geom(dir, "bits"), m.geom(dir, "n_bands"))
    val survSigs = readIndexAt(s, dir, m).bands.select(col("doc_id"), col("sig")).distinct()
      .transform(Ckpt.eager)
    val (pairs, over0) = buildPairsWithLedger(survSigs, bits, nBands, maxHamming, bucketCap)
    IndexLifecycle.freshIndex(s, dir, Bands, Dedup.bandsOfSig(survSigs, bits, nBands),
      m.geom(dir, "n_buckets"), g, Map("pairs" -> pairs.transform(Ckpt.eager)), None, Some(over0))
  }

  /** Rebuild-time compaction ([[IndexLifecycle.compact]] holds the
    * contract): rewrite the band table and pair
    * list minus tombstoned rows, recount buckets (collapsing the
    * maintained index's per-append count rows and the epoch history),
    * drop the tombstone entry. Answer-invariant — the spec pins
    * read-before ≡ read-after.
    */
  def compactIndex(s: SparkSession, dir: String): Unit =
    IndexLifecycle.compact(dir, "rebuildLedgered(dir, maxHamming, bucketCap)") { (m, g) =>
      val idx = readIndexAt(s, dir, m)
      val bands = idx.bands.transform(Ckpt.eager)
      val pairs = idx.pairs.transform(Ckpt.eager)
      IndexLifecycle.freshIndex(s, dir, Bands, bands, m.geom(dir, "n_buckets"), g,
        Map("pairs" -> pairs), None)
    }

  /** The CAPPED build arm with its over-cap evidence (the epoch-0 cap
    * ledger): same semantics as [[Dedup.hammingPairs]] at a finite cap,
    * but the suppressed bucket set is returned for persistence
    * ([[IndexLifecycle.overCap]]).
    */
  private[graft] def buildPairsWithLedger(sigs: DataFrame, bits: Int, nBands: Int,
      maxHamming: Int, bucketCap: Int): (DataFrame, DataFrame) = {
    require(bucketCap != Dedup.NoBucketCap, "ledger build requires a finite cap")
    val over = IndexLifecycle.overCap(Dedup.bandsOfSig(sigs, bits, nBands), bucketCap, Bands)
    (Dedup.hammingPairs(sigs, bits, nBands, maxHamming, bucketCap), over)
  }

  /** One MAINTAINED append (the d46 lifecycle for the signature
    * families): delta bands probe the bucketed corpus band table
    * (corpus side: scan, no exchange) for corpus–delta pairs, plus a
    * delta-sized self-join for delta–delta pairs, under the cap
    * ([[IndexLifecycle.capDelta]]); exact Hamming verify is a
    * projection of the joined rows, and old ∪ new pairs IS the
    * full-corpus answer (class doc). Then the delta's rows are written
    * BACK ([[IndexLifecycle.appendWriteBack]]) — band rows appended in
    * the same bucket layout, one count row per (append, bucket), new
    * pairs (and a ledgered index's suppressed set) as a new epoch — so
    * the directory again holds what a full run over the accumulated
    * corpus would persist. New pairs are checkpointed BEFORE any table
    * mutation (their plan lazily probes the very band table being
    * appended). Under a finite cap the equivalence carries d39's
    * yesterday's-population caveat at cap crossings; the uncapped gates
    * stay exact. Returns the published pair state — old ∪ new,
    * tombstone-filtered, exactly what the next reader sees.
    */
  def appendToIndex(s: SparkSession, dir: String, deltaSigs: DataFrame,
      maxHamming: Int, bucketCap: Int = Dedup.NoBucketCap): DataFrame =
    IndexLifecycle.mutate(dir) { m =>
      val idx = readIndexAt(s, dir, m)
      val db0 = Dedup.bandsOfSig(deltaSigs, idx.bits, idx.nBands).transform(Ckpt.eager)
      val (cb, db, over) = IndexLifecycle.capDelta(idx.bands, idx.bandCounts, db0, bucketCap, Bands)
      val newPairs = Dedup.withinHamming(
          IndexLifecycle.deltaCandidates(cb, db, Bands, Dedup.hamming), maxHamming)
        .transform(Ckpt.eager)
      val (next, _) = IndexLifecycle.appendWriteBack(s, dir, m, Bands, db0, over,
        Map("pairs" -> newPairs), None)
      readIndexAt(s, dir, next).pairs
    }

  /** The persisted cap ledger as one frame: (epoch, band, bsig) — every
    * bucket the cap suppressed, at the epoch it suppressed it.
    */
  def readCapLedger(s: SparkSession, dir: String): DataFrame =
    IndexLifecycle.readCapLedger(s, dir, IndexStatePublisher.current(dir), Bands.keys: _*)

  /** The LEDGER-AWARE RERUN — the engineering contract the cap ledger
    * buys (r16 VERDICT #2): given every document's signature tagged
    * with the epoch it arrived in (`sigsWithEpoch`: doc_id, sig,
    * epoch), recompute from scratch the exact pair set the capped
    * maintained appends produced, using the PERSISTED suppression sets
    * instead of re-deriving caps from populations. The identity: a
    * pair is discovered at epoch e = max(epoch_a, epoch_b) (the epoch
    * its later member arrived), through any shared (band, bsig) bucket
    * NOT suppressed at e — which the row-level replay
    * ([[IndexLifecycle.ledgerAdmitted]]) decides before one self-join.
    * The capped incremental answer thus HAS a rerun-reproducible
    * definition; the spec gates `rerunWithLedger ≡ accumulated index
    * pairs`, and d51 gates the same semantics against a DuckDB oracle
    * that re-derives the suppression sets from running bucket
    * populations.
    */
  def rerunWithLedger(s: SparkSession, dir: String,
      sigsWithEpoch: DataFrame, maxHamming: Int): DataFrame = {
    val m = IndexStatePublisher.current(dir)
    val banded = IndexLifecycle.ledgerAdmitted(s, dir, m,
      Dedup.bandsOfSig(sigsWithEpoch.select(col("doc_id"), col("sig"), col("epoch")),
        m.geom(dir, "bits"), m.geom(dir, "n_bands")),
      Bands)
    Dedup.withinHamming(
      Dedup.candidatePairs(banded, Bands.keys, Bands.id, Dedup.NoBucketCap, Dedup.hamming),
      maxHamming)
  }

  /** The bit-signature family at (`bits`, `nBands`, `maxHamming`), as
    * the lifecycle gates run it ([[IndexScenario]]): `sigs` derives the
    * (doc_id, sig) rows of a gate's input, which every band, count and
    * pair write of every step re-reads. A capped write is ledgered; the
    * answer is a generation's tombstone-filtered pair list.
    */
  final class Family(val name: String, bits: Int, nBands: Int, maxHamming: Int,
      sigs: (SparkSession, String) => DataFrame) extends MaintainedFamily {
    val id = "doc_id"
    def source(s: SparkSession, dir: String): DataFrame = sigs(s, dir)
    def write(s: SparkSession, dir: String, base: DataFrame, cap: Int, nBuckets: Int): Unit =
      if (cap == Dedup.NoBucketCap)
        writeIndex(base, Dedup.hammingPairs(base, bits, nBands, maxHamming), dir, bits, nBands,
          nBuckets)
      else {
        val (pairs, over0) = buildPairsWithLedger(base, bits, nBands, maxHamming, cap)
        writeIndex(base, pairs, dir, bits, nBands, nBuckets, Some(over0))
      }
    def append(s: SparkSession, dir: String, arrived: DataFrame, delta: DataFrame, cap: Int): Unit =
      appendToIndex(s, dir, delta, maxHamming, cap)
    def delete(s: SparkSession, dir: String, ids: DataFrame): Unit = deleteDocs(s, dir, ids)
    def answerAt(s: SparkSession, dir: String, src: DataFrame, m: IndexManifest): DataFrame =
      readIndexAt(s, dir, m).pairs
  }

  /** The gates' 32-bit SimHash family at `bands` bands, Hamming ≤ 7,
    * empty-text docs dropped.
    */
  private[graft] def simhash(bands: Int): Family = new Family("simhash", 32, bands, 7, (s, dir) =>
    Dedup.simhash(s, dir).withColumnRenamed("simhash", "sig"))

  /** The epoch-capped full-rerun oracle of capped maintained appends
    * with a persisted cap ledger (d51): documents carry an arrival epoch
    * (`doc_id % epochMod`), and a pair is admitted iff some shared
    * bucket's population among docs visible at the pair's birth epoch
    * (max of the endpoints' epochs) is within the cap — exactly what the
    * incremental capped pass computes, so the capped posture has a
    * rerun-reproducible definition, not "append-consistent with
    * unbounded drift". Suppression sets are re-derived in SQL from
    * running bucket populations (`pop` = bucket size among docs with
    * epoch ≤ k). The Scala-side ledger replay ([[rerunWithLedger]]) is
    * additionally spec-pinned equal to the maintained artifact.
    */
  def simhashPairsEpochCappedSql(bands: Int, maxHamming: Int, cap: Int,
      epochMod: Int): String = {
    val width = 32 / bands
    val mask = (1L << width) - 1
    s"""WITH sh AS (${Dedup.simhashSqlWhere("")}),
       |e AS (SELECT doc_id, simhash, doc_id % $epochMod AS epoch FROM sh),
       |bands AS (
       |  SELECT doc_id, simhash, epoch, b AS band,
       |    (simhash >> (b * $width)) & $mask AS bsig
       |  FROM e, range(0, $bands) t(b)),
       |pop AS (
       |  SELECT x.band, x.bsig, k.k AS pe, COUNT(*) AS cnt
       |  FROM bands x JOIN range(0, $epochMod) k(k) ON x.epoch <= k.k
       |  GROUP BY 1, 2, 3),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming,
       |    a.band AS band, a.bsig AS bsig,
       |    greatest(a.epoch, b.epoch) AS pe
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
       |SELECT DISTINCT c.a_id, c.b_id, c.hamming
       |FROM cand c JOIN pop p
       |  ON p.band = c.band AND p.bsig = c.bsig AND p.pe = c.pe
       |WHERE p.cnt <= $cap AND c.hamming <= $maxHamming""".stripMargin
  }
}

/** Incremental corpus-append SEMANTIC dedup (d45) — the sign-LSH
  * embedding family (d16) under the d39 pattern: the corpus's
  * (table_id, bucket) table persists bucketed on the probe key, its
  * resolved component labels persist beside it, and the delta pass
  * probes buckets (corpus side scan-only), cosine-verifies only
  * candidates with ≥ 1 delta member, and resolves the TOUCHED subgraph
  * ([[DedupResolve.incrementalLabels]]).
  *
  * Geometry is PINNED (8 tables × 4 bits, cosine ≥ 0.35 — d16's
  * historical fixed point): the shipped d16 derives bits from the
  * corpus COUNT ([[Similarity.AutoBits]]), which is exactly what an
  * incremental index cannot do — yesterday's 80% count and today's
  * 100% count would derive different bucket geometries and the
  * persisted bucket table would be unjoinable. A production deployment
  * re-derives bits at index REBUILD time (the scheduled decision, like
  * d44's centroid retrain), holds them fixed across appends, and that
  * is the contract the oracle enforces: the full rerun at the SAME
  * fixed geometry, hash-exact.
  */
object IncrementalSemantic {

  private val NTables = 8
  private val Bits = 4
  private val MinCos = 0.35

  private[graft] def withSigs(e: DataFrame,
      nTables: Int = NTables, bits: Int = Bits): DataFrame =
    e.withColumn("sigs",
      graft.functions.SignLshBuckets(col("embedding"), nTables, bits))

  /** The (vec_id, carry..., table_id, bucket) rows of `e`'s signatures. */
  private[graft] def bucketsOf(e: DataFrame, carry: String*): DataFrame =
    e.select((col("vec_id") +: carry.map(col)) :+ posexplode(col("sigs")): _*)
      .withColumnRenamed("pos", "table_id")
      .withColumnRenamed("col", "bucket")

  /** The bucket table: the probe surface, bucketed on (table_id,
    * bucket). bucket is INT: SignLshBuckets emits array<int> (≤ 32 bits
    * of bucket id by construction) — a BIGINT declaration would read the
    * int32 parquet column as null and silently empty every probe.
    */
  private val Buckets = IndexLifecycle.Probe("graft_sem_", "buckets", "bucketcounts", "vec_id",
    Seq("table_id", "bucket"), "vec_id BIGINT, table_id INT, bucket INT",
    "table_id INT, bucket INT")

  /** The bucket candidate join ([[Dedup.candidatePairs]] at `bucketCap`)
    * over `buckets`, deduped, + the exact-cosine verify over `e`.
    */
  private def verifiedPairs(e: DataFrame, buckets: DataFrame, minCos: Double,
      bucketCap: Int): DataFrame =
    Similarity.verifyCosineOn(e.select(col("vec_id"), col("embedding"), col("nrm")),
      Dedup.candidatePairs(buckets, Buckets.keys, Buckets.id, bucketCap).distinct(), minCos)

  /** The sign-LSH pair ladder over a signature frame `e` (vec_id,
    * embedding, nrm, sigs — [[withSigs]]): bucket candidates under
    * `bucketCap`, cosine-verified. Yesterday's run of the index, and
    * [[Similarity.signLshPairs]] at its resolved bits and cap.
    */
  private[graft] def corpusPairs(e: DataFrame, minCos: Double = MinCos,
      bucketCap: Int = Dedup.NoBucketCap): DataFrame =
    verifiedPairs(e, bucketsOf(e), minCos, bucketCap)

  final case class SemIndex(buckets: DataFrame, labels: DataFrame, pairs: DataFrame,
      bucketCounts: DataFrame, nTables: Int, bits: Int, nBuckets: Int)

  /** Write + PUBLISH manifest generation 0
    * ([[IndexLifecycle.publishGen0]]): the bucket table, its per-bucket
    * population counts (the cap's delta-side evidence, one count row
    * per (append, bucket); readers SUM over delta-touched keys), the
    * labels and the pair evidence (deletion re-resolves from it), which
    * lives in EPOCH directories like every family's. A LEDGERED write
    * (`capLedger0` present — the d53 capped posture, r17 VERDICT ask #3)
    * additionally persists the epoch-0 ledger. `pairs` is required: an
    * `IllegalArgumentException` naming `dir` otherwise.
    */
  def writeIndex(corpusE: DataFrame, labels: DataFrame, dir: String,
      nBuckets: Int = 32, nTables: Int = NTables, bits: Int = Bits,
      pairs: Option[DataFrame] = None,
      capLedger0: Option[DataFrame] = None): Unit = {
    require(pairs.nonEmpty, s"writeIndex($dir): a semantic index persists its pair " +
      "evidence, which deletion re-resolves from")
    val (writes, entries) = IndexLifecycle.freshIndex(corpusE.sparkSession, dir, Buckets,
      bucketsOf(corpusE), nBuckets, 0L, Map("pairs" -> pairs.get), Some(labels), capLedger0)
    IndexLifecycle.publishGen0(dir, writes, entries, Seq("pairs") ++ capLedger0.map(_ => "capledger"),
      Map("n_buckets" -> nBuckets, "n_tables" -> nTables, "bits" -> bits))
  }

  /** Load the index at its CURRENT published generation (one manifest
    * resolution = one consistent snapshot; see
    * [[IncrementalDedup.readIndex]]). Tombstones (see [[deleteVectors]])
    * are filtered out of the bucket table and the pair evidence with
    * broadcast anti-joins (the bucketed layout survives).
    */
  def readIndex(s: SparkSession, dir: String): SemIndex =
    readIndexAt(s, dir, IndexStatePublisher.current(dir))

  private def readIndexAt(s: SparkSession, dir: String, m: IndexManifest): SemIndex = {
    val minusDel = IndexLifecycle.tombstoneFilter(s, dir, m, "vec_id")
    val (buckets, counts) = IndexLifecycle.readProbe(s, dir, m, Buckets, minusDel)
    SemIndex(buckets, s.read.parquet(s"$dir/${m.path("labels")}"),
      IndexLifecycle.readPairs(s, dir, m, minusDel), counts,
      m.geom(dir, "n_tables"), m.geom(dir, "bits"), m.geom(dir, "n_buckets"))
  }

  /** Incremental DELETION from the semantic index (d49 — the d47
    * touched-cluster lifecycle, [[IndexLifecycle.deleteTouched]], for
    * the embedding family, minus the exact-hash channel text has and
    * embeddings don't): tombstone the vectors, re-resolve exactly the
    * clusters that lost a member from the PERSISTED pair evidence
    * restricted to touched clusters minus deleted endpoints, keep
    * untouched labels verbatim. Uncapped and geometry-pinned, so the
    * equivalence to the full rerun over surviving vectors is exact
    * (per-vector bucketing is deterministic: the rerun's candidates are
    * yesterday's restricted to survivors). Returns the updated labels
    * (checkpointed).
    *
    * LEDGERED (capped) indexes: deletion COMPOSES with the cap ledger
    * (r18 VERDICT #1 — the d56 contract): suppression sets are
    * population history, counts keep counting tombstones, and
    * [[rerunKeptWithLedger]] fed the SURVIVING vectors (original epoch
    * tags) reproduces the maintained answer — gated by d56 at three
    * SFs (an interleaved delete between capped appends) and
    * spec-pinned.
    */
  def deleteVectors(s: SparkSession, dir: String,
      deleteIds0: DataFrame): DataFrame = IndexLifecycle.mutate(dir) { m =>
    val idx = readIndexAt(s, dir, m)
    IndexLifecycle.deleteTouched(s, dir, m, "vec_id", deleteIds0, idx.labels, idx.pairs, None)
  }

  /** The scale-adaptive d53 cap: 75% of the MEAN (table, bucket)
    * population `n / 2^bits` — under it at the 25% base epoch, over it
    * once the accumulated corpus approaches full size, so the ledger
    * BINDS at every verify SF instead of going vacuous (the d51
    * lesson) or suppressing everything (a fixed small cap at sf0.1).
    * The DuckDB oracle computes the same expression from `COUNT(*)`,
    * so the derivation itself is oracle-gated (the d24 AutoBits
    * discipline).
    */
  def semLedgerCap(n: Long, bits: Int = Bits): Int =
    math.max(1, math.floor(0.75 * n / (1L << bits)).toInt)

  /** The CAPPED build arm with its epoch-0 suppression set (the
    * d51/d52 ledger pattern on (table_id, bucket) — r17 VERDICT ask
    * #3): same candidate/verify ladder as [[corpusPairs]] minus the
    * over-cap buckets ([[IndexLifecycle.overCap]]), which are returned
    * for persistence.
    */
  private[graft] def corpusPairsWithLedger(e: DataFrame, bucketCap: Int,
      minCos: Double = MinCos): (DataFrame, DataFrame) = {
    require(bucketCap > 0, s"ledger build requires a finite positive cap, got $bucketCap")
    val buckets0 = bucketsOf(e)
    val over = IndexLifecycle.overCap(buckets0, bucketCap, Buckets)
    (verifiedPairs(e, buckets0.join(over, Buckets.keys, "left_anti"), minCos, Dedup.NoBucketCap),
      over)
  }

  /** One MAINTAINED append on the semantic index (the d46/d51 lifecycle
    * for the embedding family — r17 VERDICT ask #3). Under the writer
    * lock: delta buckets probe the bucketed corpus bucket table (corpus
    * side: scan, no exchange) plus a delta-sized self-join under the cap
    * ([[IndexLifecycle.capDelta]]: suppression from the PERSISTED
    * per-bucket counts summed over delta-touched keys + the delta's own
    * counts); only candidates with ≥ 1 delta member reach the cosine
    * verify; then the write-back and publish
    * ([[IndexLifecycle.appendWriteBack]]) — delta bucket rows appended
    * in the bucket layout, one count row per (append, bucket), verified
    * pairs (and a ledgered index's suppressed set) as a new epoch,
    * labels re-resolved over the touched subgraph (overlapped with the
    * writes) into a fresh generation. On a LEDGERED index
    * ([[writeIndex]] with `capLedger0`) the ledger and the bucket counts
    * make the capped answer rerun-reproducible
    * ([[rerunKeptWithLedger]]). Returns the kept vec_ids of `allE` (the
    * accumulated corpus).
    */
  def appendToIndex(s: SparkSession, dir: String, allE: DataFrame,
      delta: DataFrame, minCos: Double = MinCos,
      bucketCap: Int = Dedup.NoBucketCap): DataFrame = IndexLifecycle.mutate(dir) { m =>
    val idx = readIndexAt(s, dir, m)
    // one checkpoint, not two: bucketsOf is the signature projection's
    // only consumer, so materializing the pre-explode frame separately
    // was a pure extra job (r20)
    val db0 = bucketsOf(withSigs(delta, idx.nTables, idx.bits)).transform(Ckpt.eager)
    val (cb, db, over) = IndexLifecycle.capDelta(idx.buckets, idx.bucketCounts, db0,
      bucketCap, Buckets)
    val candIds = IndexLifecycle.deltaCandidates(cb, db, Buckets).distinct().transform(Ckpt.eager)
    // semi-join-prune the vector table to candidate ENDPOINTS before
    // the cosine verify (the verifyJaccardDf discipline): without it
    // every append re-broadcast the FULL corpus embedding table twice
    // — measured at ×500 (1.02M vecs): append walls ≈ the full-rerun
    // wall (~175 s vs 154 s) instead of delta-proportional
    val candEnds = candIds.select(col("a_id").as("vec_id"))
      .unionByName(candIds.select(col("b_id").as("vec_id")))
      .distinct()
    val eCand = allE.select(col("vec_id"), col("embedding"), col("nrm"))
      .join(candEnds, Seq("vec_id"), "left_semi")
      .transform(Ckpt.eager)
    val verified = Similarity.verifyCosineOn(eCand, candIds, minCos)
      .transform(Ckpt.eager) // materialize BEFORE mutating its input tables
    val (_, labels) = IndexLifecycle.appendWriteBack(s, dir, m, Buckets, db0, over,
      Map("pairs" -> verified), Some((idx.labels, verified)))
    DedupResolve.keptFromLabels(
        allE.select(col("vec_id").as("doc_id")), labels)
      .select(col("doc_id").as("vec_id"))
  }

  /** The persisted cap ledger as one frame: (epoch, table_id, bucket). */
  def readCapLedger(s: SparkSession, dir: String): DataFrame =
    IndexLifecycle.readCapLedger(s, dir, IndexStatePublisher.current(dir), Buckets.keys: _*)

  /** The LEDGER-AWARE RERUN for the semantic family (the
    * [[IndexLifecycle.ledgerAdmitted]] replay plus this family's
    * cosine verify and component resolution): given every vector tagged
    * with its arrival epoch, recompute from scratch the exact KEPT set
    * the capped maintained appends produced, the bucket rows admitted
    * by the ledger replay ([[IndexLifecycle.ledgerAdmitted]]).
    * Spec-pinned equal to the maintained answer; d53 gates the same
    * semantics against the DuckDB epoch-capped oracle.
    */
  def rerunKeptWithLedger(s: SparkSession, dir: String,
      vecsWithEpoch: DataFrame, minCos: Double = MinCos): DataFrame = {
    val m = IndexStatePublisher.current(dir)
    val e = withSigs(vecsWithEpoch, m.geom(dir, "n_tables"), m.geom(dir, "bits"))
      .transform(Ckpt.eager)
    val b = IndexLifecycle.ledgerAdmitted(s, dir, m, bucketsOf(e, "epoch"), Buckets)
    val cand = Dedup.candidatePairs(b, Buckets.keys, Buckets.id, Dedup.NoBucketCap).distinct()
    val verified = Similarity.verifyCosineOn(
      e.select(col("vec_id"), col("embedding"), col("nrm")), cand, minCos)
    DedupResolve.keptFromLabels(
        vecsWithEpoch.select(col("vec_id").as("doc_id")),
        DedupResolve.resolveClusters(verified))
      .select(col("doc_id").as("vec_id"))
  }

  /** The LEDGERED family's compaction: a REBUILD
    * ([[IndexLifecycle.rebuildLedgered]] holds the contract).
    * Embeddings are NOT recoverable from the bucket table (buckets are a
    * lossy projection), so the caller supplies `allE` — the surviving
    * vectors as (vec_id, embedding, nrm); a count guard
    * ([[IndexLifecycle.requireSurvivors]]) cross-checks it against the
    * tombstone-filtered artifact. Everything re-derives via
    * [[corpusPairsWithLedger]] at the index's pinned geometry into FRESH
    * generation-suffixed directories.
    */
  def rebuildLedgered(s: SparkSession, dir: String, allE: DataFrame,
      bucketCap: Int, minCos: Double = MinCos): Unit = IndexLifecycle.rebuildLedgered(dir) { (m, g) =>
    val survivors = readIndexAt(s, dir, m).buckets.select(col("vec_id")).distinct().count()
    IndexLifecycle.requireSurvivors(dir, allE.select(col("vec_id")).distinct().count(), survivors)
    val e = withSigs(allE, m.geom(dir, "n_tables"), m.geom(dir, "bits")).transform(Ckpt.eager)
    val (pairs, over0) = corpusPairsWithLedger(e, bucketCap, minCos)
    val pairsC = pairs.transform(Ckpt.eager)
    IndexLifecycle.freshIndex(s, dir, Buckets, bucketsOf(e), m.geom(dir, "n_buckets"), g,
      Map("pairs" -> pairsC), Some(DedupResolve.resolveClusters(pairsC).transform(Ckpt.eager)),
      Some(over0))
  }

  /** Rebuild-time compaction ([[IndexLifecycle.compact]] holds the
    * contract): rewrite the bucket table and pair evidence minus
    * tombstoned rows into FRESH generation-suffixed directories, recount
    * buckets (collapsing the per-append count rows and the epoch
    * history), drop the tombstone entry. Labels were already
    * rewritten at delete time. Answer-invariant. REFUSED on a ledgered
    * index (its compaction is [[rebuildLedgered]]).
    */
  def compactIndex(s: SparkSession, dir: String): Unit =
    IndexLifecycle.compact(dir, "rebuildLedgered(dir, allE, bucketCap)") { (m, g) =>
      val idx = readIndexAt(s, dir, m)
      val buckets = idx.buckets.transform(Ckpt.eager)
      val pairs = idx.pairs.transform(Ckpt.eager)
      IndexLifecycle.freshIndex(s, dir, Buckets, buckets, m.geom(dir, "n_buckets"), g,
        Map("pairs" -> pairs), None)
    }

  /** The semantic family at the pinned geometry, as the lifecycle gates
    * run it ([[IndexScenario]]): the source is the (vec_id, embedding,
    * nrm) table, checkpointed once; [[Dedup.AutoCap]] means the
    * scale-adaptive [[semLedgerCap]] of the source; a capped write is
    * ledgered. The answer is the kept vec_ids of a generation — its
    * surviving bucket rows' ids minus the losers of its labels.
    */
  object Family extends MaintainedFamily {
    val name = "semantic"
    val id = "vec_id"
    def source(s: SparkSession, dir: String): DataFrame =
      Similarity.vecs(s, dir).transform(Ckpt.eager)
    override def capFor(src: DataFrame, cap: Int): Int =
      if (cap == Dedup.AutoCap) semLedgerCap(src.count()) else cap
    def write(s: SparkSession, dir: String, base: DataFrame, cap: Int, nBuckets: Int): Unit = {
      val e = withSigs(base).transform(Ckpt.eager)
      val (pairs0, over0) =
        if (cap == Dedup.NoBucketCap) (corpusPairs(e), None)
        else { val (p, o) = corpusPairsWithLedger(e, cap); (p, Some(o)) }
      val pairs = pairs0.transform(Ckpt.eager)
      writeIndex(e, DedupResolve.resolveClusters(pairs), dir, nBuckets,
        pairs = Some(pairs), capLedger0 = over0)
    }
    def append(s: SparkSession, dir: String, arrived: DataFrame, delta: DataFrame, cap: Int): Unit =
      appendToIndex(s, dir, arrived, delta, bucketCap = cap)
    def delete(s: SparkSession, dir: String, ids: DataFrame): Unit = deleteVectors(s, dir, ids)
    def answerAt(s: SparkSession, dir: String, src: DataFrame, m: IndexManifest): DataFrame = {
      val idx = readIndexAt(s, dir, m)
      DedupResolve.keptFromLabels(idx.buckets.select(col("vec_id").as("doc_id")).distinct(), idx.labels)
        .select(col("doc_id").as("vec_id"))
    }
  }

  /** d49's oracle, the frozen-geometry full rerun over survivors: d45's
    * closure shape with the takedown predicate threaded through both the
    * pair CTE and the kept select.
    */
  val semanticDeleteSql: String = OracleSql.keptClosureSql(
    s"pairs AS (${Similarity.signLshPairsSqlFor(8, 4, 0.35, vecWhere = "WHERE vec_id % 7 <> 3")})",
    "vec_id", "embeddings", Some("vec_id % 7 <> 3"))

  /** d45's oracle, the frozen-geometry full rerun: d16's
    * recursive-closure shape over [[Similarity.signLshPairsSqlFor]] at the
    * pinned (8, 4, 0.35). Uncapped, fixed bits make corpus buckets
    * count-independent, so incremental ≡ full is exact.
    */
  val semanticAppendSql: String = OracleSql.keptClosureSql(
    s"pairs AS (${Similarity.signLshPairsSqlFor(8, 4, 0.35)})", "vec_id", "embeddings")

  /** The epoch-capped full-rerun kept-set oracle of the capped
    * ledgered SEMANTIC gates (d53, d56): the d51/d52 contract carried to
    * embeddings, with a SCALE-ADAPTIVE cap ([[semLedgerCap]]) so it binds
    * without blanket-suppressing at every verify SF. The d45
    * plane/bucket arithmetic runs at the pinned (8, 4, 0.35) with vectors
    * carrying `vec_id % epochMod` arrival epochs; a candidate pair is
    * admitted iff some shared (table, bucket)'s population among vectors
    * visible at the pair's birth epoch is within the cap (`pop`
    * re-derives the suppression sets the engine persists — over the FULL
    * arrival history, later deletions included; `cap` re-derives
    * [[semLedgerCap]] from COUNT(*)); admitted candidates run the
    * unchanged cosine verify, components close recursively, kept = min
    * per component. When `deadTemplate` is set (d56 — a predicate with
    * `@` standing for the id column, e.g. `"(@ % 7 = 3 AND @ % 3 <= 1)"`),
    * pair ENDPOINTS and the kept set are restricted to survivors AFTER
    * suppression derives — deletion is an event in the index's life, not
    * a rewrite of its history. The Scala-side ledger replay
    * ([[rerunKeptWithLedger]]) is additionally spec-pinned equal to the
    * maintained answer.
    */
  def cappedSemanticSqlFor(epochMod: Int, deadTemplate: Option[String] = None): String = {
    val (nTables, bits, minCos) = (NTables, Bits, MinCos)
    def dead(ref: String): Option[String] = deadTemplate.map(_.replace("@", ref))
    val candDead = deadTemplate.map(_ =>
      s"\n    AND NOT ${dead("a.vec_id").get} AND NOT ${dead("b.vec_id").get}").getOrElse("")
    OracleSql.keptClosureSql(
      s"""cap AS (
         |  SELECT GREATEST(1, CAST(FLOOR(0.75 * COUNT(*) / ${1 << bits}) AS BIGINT)) AS cap
         |  FROM embeddings),
         |${OracleSql.signLshCtes(nTables, Some(bits), materialized = true, epochMod = Some(epochMod))},
         |pop AS (
         |  SELECT x.table_id, x.bucket, kk.k AS pe, COUNT(*) AS cnt
         |  FROM buckets x JOIN range(0, $epochMod) kk(k) ON x.epoch <= kk.k
         |  GROUP BY 1, 2, 3),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM buckets a
         |  JOIN buckets b
         |    ON a.table_id = b.table_id AND a.bucket = b.bucket
         |      AND a.vec_id < b.vec_id
         |  JOIN pop p ON p.table_id = a.table_id AND p.bucket = a.bucket
         |    AND p.pe = greatest(a.epoch, b.epoch)
         |  WHERE p.cnt <= (SELECT cap FROM cap)$candDead),
         |pairs AS (
         |${OracleSql.indented(OracleSql.cosineVerifySql(minCos))})""".stripMargin,
      "vec_id", "embeddings", dead("vec_id").map(p => s"NOT $p"))
  }
}

/** Incremental corpus-append decontamination (d36's sketch ladder with
  * persisted artifacts — see [[IncrementalSig]]'s class doc).
  */
object IncrementalContam {

  /** The persisted artifacts: the benchmark's Bloom sketch (bytes on
    * disk — `BloomFilter.writeTo`), the exact gram table bucketed by gk
    * (the verify join's build side arrives pre-clustered), and
    * yesterday's per-document spans.
    */
  final case class ContamIndex(
      bloom: org.apache.spark.util.sketch.BloomFilter,
      grams: DataFrame,
      spans: DataFrame)

  private def tableFor(dir: String): String =
    graft.runtime.IndexStore.tableFor("graft_contam_grams_", dir)

  /** Write + PUBLISH manifest generation 0 (like every other index
    * family; [[IndexLifecycle.publishGen0]]). Every artifact, the Bloom
    * sketch's bytes included, goes through the Hadoop FileSystem, so
    * `dir` may be a plain path or a URI (`file:///…`, `hdfs://…`).
    */
  def writeIndex(idx: ContamIndex, dir: String, nBuckets: Int = 32): Unit = {
    val s = idx.grams.sparkSession
    val bytes = new java.io.ByteArrayOutputStream()
    idx.bloom.writeTo(bytes)
    graft.runtime.FsUtil.putStream(s, new java.io.ByteArrayInputStream(bytes.toByteArray),
      s"$dir/bloom.bin")
    IndexLifecycle.publishGen0(dir, Seq(
        IndexLifecycle.bucketedWrite(s, idx.grams, nBuckets,
          s"$dir/grams", tableFor(dir), "overwrite", Seq("gk")),
        () => idx.spans.write.mode("overwrite").parquet(s"$dir/spans")),
      Map("bloom" -> "bloom.bin", "grams" -> "grams", "spans" -> "spans"), Nil,
      Map("n_buckets" -> nBuckets))
  }

  def readIndex(s: SparkSession, dir: String): ContamIndex = {
    val m = IndexStatePublisher.current(dir)
    val nb = m.geom(dir, "n_buckets")
    val in = graft.runtime.FsUtil.open(s, s"$dir/${m.path("bloom")}")
    val bloom =
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    ContamIndex(bloom,
      graft.runtime.IndexStore.ensureBucketedTable(s, tableFor(dir),
        "gk BIGINT", "gk", nb, s"$dir/${m.path("grams")}"),
      s.read.parquet(s"$dir/${m.path("spans")}"))
  }

  /** d43: incremental corpus-append decontamination under the d29/d36
    * split (every 10th doc is the benchmark stand-in). Yesterday's
    * corpus = the non-bench docs with doc_id % 5 ≠ 4; today's delta =
    * doc_id % 5 == 4 (never a bench doc). Spans are per-document
    * independent, so yesterday's spans ∪ the delta's spans through the
    * LOADED sketch + bucketed gram table is exactly the full rerun —
    * oracle = d29's exact-span SQL ([[SpanDedup.contamSpansSqlFor]]),
    * the same one d36 is gated on (three plans, one answer).
    */
  def appendDecontam(s: SparkSession, dir: String, minTokens: Int = 8): DataFrame = {
    val k = minTokens
    val docs = Tables.documents(s, dir)
    val bench = docs.where(col("doc_id") % 10 === 0)
    val trainOld = docs.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 5 =!= 4)
    val delta = docs.where(col("doc_id") % 5 === 4)
    val bgrams = SpanDedup.benchGrams(bench, k)
    bgrams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idxDir =
      try {
        val bloom = bgrams.stat.bloomFilter("gk", math.max(bgrams.count(), 1L), 0.01)
        val spansOld = SpanDedup.contamIslands(
          SpanDedup.contamHitsWithSketch(trainOld, bloom, bgrams, k), k)
        val d = graft.runtime.IndexStore.tempIndexDir("graft-inccontam")
        writeIndex(ContamIndex(bloom, bgrams, spansOld), d, IndexScenario.GateBuckets)
        d
      } finally bgrams.unpersist(false)
    val idx = readIndex(s, idxDir)
    idx.spans.unionByName(
      SpanDedup.contamIslands(
        SpanDedup.contamHitsWithSketch(delta, idx.bloom, idx.grams, k), k))
  }
}

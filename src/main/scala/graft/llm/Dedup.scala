package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Hashing._

/** Deduplication operators for training-data pipelines, designed
  * partition-first: every variant is a groupBy/join on a derived key —
  * the shape that scales linearly with executors — never a pairwise
  * comparison of the full corpus.
  *
  * Scale ladder:
  *  - exact: one hash-aggregate over the corpus (content hash as key).
  *  - MinHash+LSH: signature → band buckets → self-join within buckets
  *    only (candidate pairs ∝ actual near-dups, not n²) — the standard
  *    banding construction from Broder's MinHash and the LSH literature.
  *  - SimHash: one 64→32-bit signature per doc; near-dup candidates share
  *    signatures (or band thereof); here we emit the signature itself.
  *  - n-gram Jaccard: exact verifier via per-row gram-array intersection
  *    ([[verifyJaccard]]) — candidate-fed, so its cost is
  *    O(candidates × gram-array size) no matter how the candidates were
  *    produced (LSH bands at scale, or an inverted-index/all-pairs pass on
  *    a bounded slice).
  *
  * Every banding/threshold constant below is an OPERATOR ARGUMENT with the
  * shipped calibration as its default — at 100 TB the user retunes k,
  * rows-per-band, and bucket caps without touching engine source (the
  * reference's knob-as-API pattern, map_reduce_step.go:19-21, applied to
  * the knobs that matter here). Defaults are derived from the verify
  * thresholds via [[LshCalibration]] where the S-curve applies.
  */
object Dedup {

  // Shipped defaults. d02's banding (k=16, 4×4) is the classic
  // low-threshold construction kept for signature-estimate output; the
  // verified ladder (d13) derives its banding from the 0.8 verify
  // threshold via the S-curve midpoint — bandsFor(0.8, 32) = 4 bands of 8
  // (midpoint ≈ 0.84; see LshCalibration for why midpoint ABOVE threshold).
  private val mh = 16 // minhash signature length (d02)
  private val mhRows = 4 // rows per LSH band → 4 bands (d02)
  private val vJaccard = 0.8 // verify threshold of the composed ladder
  private val vK = 32 // signature length of the composed ladder
  private val vBands = LshCalibration.bandsFor(vJaccard, vK) // = 4
  private val vRows = vK / vBands // = 8 rows per band
  private val vEstMin = 0.6 // free signature-estimate prefilter

  /** Sentinel for "no bucket cap": skips the bucket-size pass entirely. */
  val NoBucketCap: Int = Int.MaxValue

  /** Sentinel for "derive the cap": the operator computes
    * [[LshCalibration.capFor]] from its own expected bucket population —
    * O(1) for threshold-calibrated minhash bands, n/2^bits for sign-LSH —
    * so a production pipeline gets the SCALING.md §3b cap prescription by
    * passing one symbol instead of owning the arithmetic. Shipped
    * oracle-compared entries stay [[NoBucketCap]] (their DuckDB mirrors
    * replay the uncapped join); the capped gates (d21, d25) pin explicit
    * caps the oracle replays.
    */
  val AutoCap: Int = -1

  /** `cap`, or under [[AutoCap]] the cap for `expectedBucket` — by name,
    * so a corpus count behind it runs only when the cap is derived.
    */
  private[llm] def resolveCap(cap: Int, expectedBucket: => Double): Int =
    if (cap == AutoCap) LshCalibration.capFor(expectedBucket) else cap

  /** Oversized-bucket guard for template skew: drop `keys` buckets with
    * more than `cap` members before a bucket self-join. A bucket of m docs
    * emits m(m−1)/2 candidate pairs, so one boilerplate template shared by
    * 20% of a corpus turns "candidates ∝ true pairs" into ~n²/50 — capping
    * bounds every bucket's contribution at cap(cap−1)/2. Recall effect:
    * pairs INSIDE a dropped mega-bucket are lost to this signal, which is
    * the right trade — identical/near-identical template floods are exact
    * dedup's job (d01 runs first in every composed pipeline), and a capped
    * bucket's members still pair through their other (discriminative)
    * bands. The count windows over the SAME key the join shuffles on, so
    * with the shuffle_hash join the pass reuses the exchange rather than
    * adding one. Default [[NoBucketCap]] compiles to a no-op: the oracle
    * path is cap-free.
    */
  private def capBuckets(df: DataFrame, cap: Int, keys: Seq[String]): DataFrame =
    if (cap == NoBucketCap) df
    else {
      require(cap > 0,
        s"bucketCap must be positive or NoBucketCap (operators resolve AutoCap first), got $cap")
      val w = Window.partitionBy(keys.map(col): _*)
      df.withColumn("bn", count(lit(1)).over(w))
        .filter(col("bn") <= cap)
        .drop("bn")
    }

  /** The banded candidate join every LSH operator and index runs: bucket
    * rows (an `id` column plus the bucket `keys`) capped at `bucketCap`
    * ([[capBuckets]]), then self-joined on the keys with `a.id < b.id`,
    * as (a_id, b_id, extra...) — `extra` are projections over the joined
    * `a.` / `b.` rows (a verify that needs no join back), one row per
    * shared bucket, so callers dedup. Both sides carry the
    * `shuffle_hash` hint: broadcasting a corpus-sized bucket table cannot
    * scale (it only looks broadcastable on test data), and the shuffle
    * form gives both sides IDENTICAL exchanges, which Spark dedups via
    * ReusedExchange — one corpus scan, one signature pass.
    */
  private[graft] def candidatePairs(rows: DataFrame, keys: Seq[String], id: String,
      bucketCap: Int, extra: Column*): DataFrame = {
    val capped = capBuckets(rows, bucketCap, keys).hint("shuffle_hash")
    capped.alias("a")
      .join(capped.alias("b"), keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col(s"a.$id") < col(s"b.$id"))
      .select(Seq(col(s"a.$id").as("a_id"), col(s"b.$id").as("b_id")) ++ extra: _*)
  }

  /** The band key of every banded signature table: (band, bsig). */
  private[graft] val BandKeys = Seq("band", "bsig")

  /** Exact dedup by content hash: keep the smallest doc_id per distinct
    * text, report group size. One shuffle on a 128-bit key.
    */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** MinHash signatures: `k` min-hashes over distinct 5-char shingles.
    *
    * Uses the standard two-hash construction (Kirsch–Mitzenmacher):
    * h_i(s) = (a(s) + i·b(s)) mod 2^60 with a,b independent md5-derived
    * hashes — 2 md5 computations per shingle instead of k (8× less hash
    * work in the scan, the dominant cost of signature generation at any
    * scale). b is masked to 56 bits so i·b can't overflow a signed 64-bit
    * int in either engine (DuckDB errors on BIGINT overflow).
    *
    * The whole signature comes from the fused codegen expression
    * [[graft.functions.MinHashSig]] (same construction, same md5-60, the
    * min is dedup-invariant): a per-document computation with ZERO data
    * movement — the composed explode → k-way min-aggregate form it
    * replaces shuffled ~one row per corpus character into an aggregate.
    */
  private val h60Mask = (1L << 60) - 1
  private val b56Mask = (1L << 56) - 1

  private def minhashesSqlK(k: Int, docWhere: String = ""): String =
    s"""SELECT doc_id, ${(0 until k)
         .map(i => s"min((a + $i * b) & $h60Mask) AS h$i")
         .mkString(", ")}
       |FROM (SELECT doc_id, ${sqlHash60("s")} AS a,
       |        ${sqlHash60("'#'||s")} & $b56Mask AS b
       |  FROM (SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest(${sqlShingles("text", 5)}) AS s FROM documents $docWhere)))
       |GROUP BY doc_id""".stripMargin

  /** Banded self-join over MinHash signatures: k-hash signature →
    * (band, band-signature) explode → [[candidatePairs]], signature
    * riding along so the match-count estimate is computed directly on the
    * joined rows — no join back to the signatures. Output: (a_id, b_id,
    * est) with est = fraction of matching minhashes.
    */
  private def bandedMinhashPairs(
      s: SparkSession,
      dir: String,
      k: Int,
      rowsPerBand: Int,
      bucketCap: Int): DataFrame =
    bandedPairsFrom(
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.functions.MinHashSig(col("text"), 5, k).as("sig")),
      k, rowsPerBand, bucketCap)

  /** The band self-join over an arbitrary (doc_id, sig) source — shared
    * by the candidate stage ([[bandedMinhashPairs]]) and the verified
    * ladder over a caller-supplied signature frame
    * ([[lshVerifiedPairsFromSigs]]), so both run the IDENTICAL join.
    */
  private def bandedPairsFrom(
      sig: DataFrame,
      k: Int,
      rowsPerBand: Int,
      bucketCap: Int): DataFrame =
    candidatePairs(bandsOf(sig, k, rowsPerBand), BandKeys, "doc_id", bucketCap, sigEst(k).as("est"))
      .distinct()

  /** The band explode of a (doc_id, sig) table — (doc_id, sig, band,
    * bsig), signature riding along for the est computation. Factored out
    * so the incremental corpus-append path ([[IncrementalDedup]]) can
    * band a DELTA batch with the exact construction the corpus run used
    * (band-key equality across runs is what makes a persisted band/sig
    * artifact joinable at all).
    */
  private[graft] def bandsOf(sig: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    require(k % rowsPerBand == 0, s"rowsPerBand=$rowsPerBand must divide k=$k")
    val bandCols = (0 until k / rowsPerBand).map { b =>
      concat_ws(":", (0 until rowsPerBand).map(j =>
        element_at(col("sig"), b * rowsPerBand + j + 1)): _*)
    }
    sig
      .select(col("doc_id"), col("sig"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bsig")
  }

  /** Signature-estimate expression over joined `a.sig`/`b.sig` sides:
    * fraction of matching minhashes (symmetric in the two sides).
    */
  private[graft] def sigEst(k: Int): Column = {
    val matches: Column = (0 until k)
      .map(i => when(element_at(col("a.sig"), i + 1) === element_at(col("b.sig"), i + 1), 1)
        .otherwise(0))
      .reduce(_ + _)
    matches.cast("double") / lit(k.toDouble)
  }

  /** MinHash + LSH near-dup pairs: band the k-hash signature into bands of
    * `rowsPerBand`; docs sharing any full band become candidates; report
    * estimated Jaccard = fraction of matching minhashes. The self-join
    * keys on (band, signature) — bucket sizes stay tiny on natural
    * corpora, so the join output is proportional to real near-duplicates
    * at any corpus size; `bucketCap` bounds the pathological
    * (template-skewed) case.
    */
  def minhashLsh(
      s: SparkSession,
      dir: String,
      k: Int = mh,
      rowsPerBand: Int = mhRows,
      bucketCap: Int = NoBucketCap): DataFrame =
    // threshold-calibrated bands keep E[bucket] = O(1), so AutoCap
    // resolves to capFor(1) = the measured zero-loss floor
    bandedMinhashPairs(s, dir, k, rowsPerBand, resolveCap(bucketCap, 1.0))
      .withColumnRenamed("est", "est_jaccard")

  def minhashLshSqlFor(k: Int, rowsPerBand: Int): String =
    s"""WITH mh AS (${minhashesSqlK(k)}),
       |bands AS (${bandSelectsSql(k, rowsPerBand)}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
       |SELECT p.a_id, p.b_id, ${estSql(k)} AS est_jaccard
       |FROM pairs p
       |JOIN mh ma ON ma.doc_id = p.a_id
       |JOIN mh mb ON mb.doc_id = p.b_id""".stripMargin

  /** The band explode of the minhash mirrors: one `UNION ALL` select per
    * band over the `mh` CTE, as (doc_id, [epoch,] band, sig) — `epochCol`
    * is the epoch-capped oracle's arrival-epoch column.
    */
  private def bandSelectsSql(k: Int, rowsPerBand: Int, epochCol: String = ""): String =
    (0 until k / rowsPerBand).map { b =>
      val sig = (0 until rowsPerBand).map(j => s"h${b * rowsPerBand + j}").mkString("||':'||")
      s"SELECT doc_id, $epochCol$b AS band, $sig AS sig FROM mh"
    }.mkString(" UNION ALL ")

  /** The signature estimate of the minhash mirrors over joined `ma`/`mb`
    * rows: the fraction of matching minhashes ([[sigEst]]'s mirror).
    */
  private def estSql(k: Int): String = {
    val matchSum = (0 until k)
      .map(i => s"(CASE WHEN ma.h$i = mb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"CAST($matchSum AS DOUBLE) / $k.0"
  }

  val minhashLshSql: String = minhashLshSqlFor(mh, mhRows)

  /** SimHash (32-bit) over whitespace tokens: per-bit weighted majority
    * vote of token hashes, computed per ROW by the fused codegen
    * expression [[graft.functions.SimHashSig]] — a pure scan, zero data
    * movement. The composed form (explode every token → 32-conditional-sum
    * hash-aggregate) shuffled one row per corpus token for a per-document
    * statistic; token-less documents, absent from that aggregate, are
    * mirrored here by filtering the `-1` sentinel.
    */
  def simhash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.SimHashSig(col("text"), 32).as("simhash"))
      .where(col("simhash") =!= graft.functions.SimHashSig.Empty)

  private[llm] def simhashSqlWhere(docWhere: String): String = {
    val bits = 32
    val votes = (0 until bits)
      .map(j => s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val sig = (0 until bits)
      .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, ${sqlHash60("t")} AS h FROM (
       |    SELECT doc_id, unnest(${sqlTokens("text")}) AS t FROM documents $docWhere)),
       |votes AS (SELECT doc_id, $votes FROM toks GROUP BY doc_id)
       |SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM votes""".stripMargin
  }

  val simhashSql: String = simhashSqlWhere("")

  /** Band explode of a (doc_id, sig) fixed-width bit signature (SimHash
    * 32, pHash 60) into `nBands` slices of `bits / nBands` bits, as
    * (doc_id, sig, band, bsig) — the one band key of the batch operators
    * and the maintained index, so a persisted band table joins a rerun's
    * by construction.
    */
  private[graft] def bandsOfSig(sigs: DataFrame, bits: Int, nBands: Int): DataFrame = {
    require(bits % nBands == 0, s"bands=$nBands must divide the $bits-bit signature")
    val width = bits / nBands
    val mask = (1L << width) - 1
    // col("*") lets caller-side evidence columns (e.g. the ledger
    // rerun's epoch tag) ride through the explode
    sigs
      .select(col("*"),
        posexplode(array((0 until nBands).map(b =>
          shiftright(col("sig"), b * width).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bsig")
  }

  /** The verify of the bit-signature families: exact Hamming distance
    * over the full signatures the joined band rows carry — a projection
    * of the join.
    */
  private[graft] def hamming: Column =
    bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("int").as("hamming")

  private[graft] def withinHamming(cand: DataFrame, maxHamming: Int): DataFrame =
    cand.filter(col("hamming") <= maxHamming).distinct()

  /** Banded Hamming pairs over a (doc_id, sig) fixed-width bit signature
    * table: [[bandsOfSig]] → [[candidatePairs]] with the signature riding
    * along → exact Hamming verify ≤ `maxHamming` → distinct, as (a_id,
    * b_id, hamming). Pigeonhole: a pair at Hamming distance < `nBands`
    * shares at least one full band, so banding is complete below
    * `nBands` and approximate above. Everything is integer arithmetic —
    * bit-identical in any engine.
    */
  private[graft] def hammingPairs(sigs: DataFrame, bits: Int, nBands: Int,
      maxHamming: Int, bucketCap: Int = NoBucketCap): DataFrame =
    withinHamming(
      candidatePairs(bandsOfSig(sigs, bits, nBands), BandKeys, "doc_id", bucketCap, hamming),
      maxHamming)

  /** SimHash near-dup pairs: [[hammingPairs]] over the 32-bit
    * [[simhash]] in `bands` equal slices (the shipped 4×8-bit banding
    * covers Hamming ≤ 3 exactly and 4–7 probabilistically; `bands = 8`
    * buys the full ≤ 7 guarantee at the cost of coarser 4-bit buckets).
    * [[AutoCap]] sizes the cap from the corpus count: simhash buckets are
    * width-bit values, E[bucket] = n / 2^width.
    */
  def simhashPairs(
      s: SparkSession,
      dir: String,
      bands: Int = 4,
      maxHamming: Int = 7,
      bucketCap: Int = NoBucketCap): DataFrame =
    hammingPairs(simhash(s, dir).withColumnRenamed("simhash", "sig"), 32, bands, maxHamming,
      resolveCap(bucketCap, Tables.documents(s, dir).count().toDouble / (1L << (32 / bands))))

  def simhashPairsSqlFor(bands: Int, maxHamming: Int, bucketCap: Int = NoBucketCap,
      docWhere: String = ""): String = {
    val width = 32 / bands
    val mask = (1L << width) - 1
    // the cap replays Dedup.capBuckets exactly (the d21 pattern): count per
    // (band, bsig) bucket, drop over-cap buckets BEFORE the self-join.
    // Emitted only for a finite cap so the uncapped oracles are unchanged.
    val bandsCte =
      if (bucketCap == NoBucketCap)
        s"""bands AS (
           |  SELECT doc_id, simhash, b AS band, (simhash >> (b * $width)) & $mask AS bsig
           |  FROM sh, range(0, $bands) t(b))""".stripMargin
      else
        s"""bands_all AS (
           |  SELECT doc_id, simhash, b AS band, (simhash >> (b * $width)) & $mask AS bsig
           |  FROM sh, range(0, $bands) t(b)),
           |bands AS (
           |  SELECT doc_id, simhash, band, bsig FROM (
           |    SELECT doc_id, simhash, band, bsig,
           |      COUNT(*) OVER (PARTITION BY band, bsig) AS bn
           |    FROM bands_all)
           |  WHERE bn <= $bucketCap)""".stripMargin
    s"""WITH sh AS (${simhashSqlWhere(docWhere)}),
       |$bandsCte,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= $maxHamming""".stripMargin
  }

  /** The cap of the capped 8-band SimHash gate (d25): full-guarantee
    * banding nobody would run uncapped at corpus scale, paired with the
    * `bucketCap` that bounds every bucket's contribution.
    */
  val simhashCapGate = 64

  /** Candidate-fed exact n-gram Jaccard verifier — the reusable verify
    * stage of the scale ladder: takes ANY (a_id, b_id) candidate set (LSH
    * bands at 100 TB, an inverted index or all-pairs on a bounded slice)
    * and scores each pair by exact `n`-gram Jaccard, keeping those ≥
    * `minJaccard`.
    *
    * Cost discipline: gram arrays are computed ONLY for docs that appear
    * in some pair (semi-join prune — at scale the candidate set touches a
    * small fraction of the corpus), materialized once (both verify sides
    * read them — recompute-under-reuse otherwise, SCALING.md §2), and each
    * pair is scored per ROW with `array_intersect` (codegen'd): no
    * inverted-index join, no Σ df² blowup — verify cost is
    * O(candidates × gram-array size).
    */
  def verifyJaccard(
      s: SparkSession,
      dir: String,
      pairs: DataFrame,
      n: Int = 5,
      minJaccard: Double = vJaccard): DataFrame =
    verifyJaccardDf(Tables.documents(s, dir), pairs, n, minJaccard)

  /** [[verifyJaccard]] over any (doc_id, text) DataFrame (the
    * incremental append path verifies against corpus ⊎ delta).
    */
  private[graft] def verifyJaccardDf(
      docs: DataFrame,
      pairs: DataFrame,
      n: Int = 5,
      minJaccard: Double = vJaccard): DataFrame = {
    // pairs feeds the id prune AND the final join — materialize so an
    // expensive candidate generator doesn't run twice
    val p = pairs.select(col("a_id"), col("b_id")).transform(graft.runtime.Ckpt.eager)
    val ids = p.select(col("a_id").as("doc_id"))
      .unionByName(p.select(col("b_id").as("doc_id")))
      .distinct()
    val gsel = docs
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), graft.functions.ShingleHash60s(col("text"), n).as("gs"))
      .transform(graft.runtime.Ckpt.eager)
    verifyJaccardOn(gsel, p, minJaccard)
  }

  /** Verify stage over a pre-materialized gram table (doc_id, gs) — the
    * corpus-wide callers ([[lshVerifiedPairs]]) pass their own
    * checkpointed gram pass to avoid a second corpus scan.
    */
  private[llm] def verifyJaccardOn(gsel: DataFrame, pairs: DataFrame, minJaccard: Double): DataFrame = {
    val ga = gsel.select(col("doc_id").as("a_id"), col("gs").as("ga"))
    val gb = gsel.select(col("doc_id").as("b_id"), col("gs").as("gb"))
    val inter = size(array_intersect(col("ga"), col("gb"))).cast("double")
    pairs
      .join(ga, "a_id")
      .join(gb, "b_id")
      .select(col("a_id"), col("b_id"),
        (inter / (size(col("ga")) + size(col("gb")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** The composed scale ladder, in one query: corpus-wide MinHash-LSH
    * candidates (NO doc_id bound — the join is banded, so this is the
    * 100 TB-legal pass) verified by EXACT 5-gram Jaccard via
    * [[verifyJaccard]]'s shared verify stage.
    *
    * Three calibration decisions, each measured (SCALING.md §3) and each
    * now an argument:
    *  - banding matched to the verify threshold (defaults k=32, 4 bands ×
    *    8 rows = bandsFor(0.8, 32); d02's 4×4 flooded the verifier with
    *    j≈0.45 template collisions);
    *  - FILTER-AND-VERIFY: candidates first cut on the free signature
    *    estimate (est ≥ 0.6 — at 32 hashes, sd(est) ≈ 0.09, so
    *    P[est < 0.6 | j ≥ 0.8] ≈ 1%), applied AFTER a checkpoint
    *    barrier: pushed down, the k-way comparison becomes an
    *    interpreted join condition evaluated per band collision
    *    (measured 6× slower than the projected form);
    *  - the verifier joins each surviving pair to its two fused gram
    *    arrays ([[graft.functions.ShingleHash60s]], materialized once)
    *    and intersects per ROW.
    */
  def lshVerifiedPairs(
      s: SparkSession,
      dir: String,
      k: Int = vK,
      rowsPerBand: Int = vRows,
      estMin: Double = vEstMin,
      jaccardMin: Double = vJaccard,
      bucketCap: Int = NoBucketCap): DataFrame =
    lshVerifiedPairsDf(Tables.documents(s, dir), k, rowsPerBand, estMin,
      jaccardMin, bucketCap)

  /** [[lshVerifiedPairs]] over any (doc_id, text) DataFrame — the
    * incremental corpus-append path runs it on the corpus SPLIT to
    * build yesterday's resolution ([[IncrementalDedup.buildIndex]]).
    */
  private[graft] def lshVerifiedPairsDf(
      docs: DataFrame,
      k: Int = vK,
      rowsPerBand: Int = vRows,
      estMin: Double = vEstMin,
      jaccardMin: Double = vJaccard,
      bucketCap: Int = NoBucketCap): DataFrame =
    lshVerifiedPairsFromSigs(docs,
      docs.select(col("doc_id"), graft.functions.MinHashSig(col("text"), 5, k).as("sig")),
      k, rowsPerBand, estMin, jaccardMin, bucketCap)

  /** The verified ladder over a caller-supplied (doc_id, sig) frame —
    * the index-build path ([[IncrementalDedup.buildIndex]]) checkpoints
    * ONE corpus MinHash pass and shares it between this ladder and the
    * persisted sig/band artifacts (the lazy form re-ran the fused
    * MinHash scan — the dominant per-row cost — once per artifact
    * write; r20 optimization, guide §1.2 "don't compute things twice").
    */
  private[graft] def lshVerifiedPairsFromSigs(
      docs: DataFrame,
      sigs: DataFrame,
      k: Int,
      rowsPerBand: Int,
      estMin: Double,
      jaccardMin: Double,
      bucketCap: Int): DataFrame = {
    // checkpoint = pushdown barrier: est stays a codegen'd projection
    // computed once per distinct pair, never a join condition
    val pairs = bandedPairsFrom(sigs, k, rowsPerBand, resolveCap(bucketCap, 1.0))
      .transform(graft.runtime.Ckpt.eager)
    val cand = pairs.filter(col("est") >= estMin).select(col("a_id"), col("b_id"))
    // both verify sides read the gram arrays — materialize the corpus-wide
    // md5 gram pass ONCE (recompute-under-reuse otherwise, SCALING.md §2)
    val gsel = docs
      .select(col("doc_id"), graft.functions.ShingleHash60s(col("text"), 5).as("gs"))
      .transform(graft.runtime.Ckpt.eager)
    verifyJaccardOn(gsel, cand, jaccardMin)
  }

  def lshVerifiedPairsSqlFor(
      k: Int,
      rowsPerBand: Int,
      estMin: Double,
      jaccardMin: Double,
      bucketCap: Int = NoBucketCap,
      docWhere: String = ""): String = {
    val bandSelects = bandSelectsSql(k, rowsPerBand)
    // the cap replays Dedup.capBuckets exactly: count per (band, sig)
    // bucket, drop over-cap buckets BEFORE the self-join. Emitted only for
    // a finite cap so the uncapped oracles' SQL text is unchanged.
    val bandsCte =
      if (bucketCap == NoBucketCap) s"bands AS ($bandSelects)"
      else
        s"""bands_all AS ($bandSelects),
           |bands AS (
           |  SELECT doc_id, band, sig FROM (
           |    SELECT doc_id, band, sig,
           |      COUNT(*) OVER (PARTITION BY band, sig) AS bn
           |    FROM bands_all)
           |  WHERE bn <= $bucketCap)""".stripMargin
    s"""WITH mh AS (${minhashesSqlK(k, docWhere)}),
       |$bandsCte,
       |cpairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |${verifiedTailSql(k, estMin, jaccardMin, s" $docWhere")}""".stripMargin
  }

  /** The verify tail of the minhash ladder mirrors over their candidate
    * pairs `cpairs`: the est prefilter, the 5-gram lists of the documents
    * matching `docWhere` (written right after the table name), and the
    * exact Jaccard score.
    */
  private def verifiedTailSql(k: Int, estMin: Double, jaccardMin: Double,
      docWhere: String): String =
    s"""cand AS (
       |  SELECT p.a_id, p.b_id
       |  FROM cpairs p JOIN mh ma ON ma.doc_id = p.a_id
       |  JOIN mh mb ON mb.doc_id = p.b_id
       |  WHERE ${estSql(k)} >= $estMin),
       |grams AS (
       |  SELECT doc_id, list(${sqlHash60("g")}) AS gs FROM (
       |    SELECT DISTINCT doc_id, g FROM (
       |      SELECT doc_id, unnest(${sqlShingles("text", 5)}) AS g FROM documents$docWhere))
       |  GROUP BY doc_id),
       |${jaccardScoredSql("grams", jaccardMin)}""".stripMargin

  /** The exact-Jaccard tail of every Jaccard mirror: each (a_id, b_id) of
    * `cand` scored over the gram lists (doc_id, gs) of table `grams`,
    * kept at ≥ `jaccardMin`.
    */
  private def jaccardScoredSql(grams: String, jaccardMin: Double): String =
    s"""scored AS (
       |  SELECT c.a_id, c.b_id,
       |    CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
       |      / CAST(len(ga.gs) + len(gb.gs) - len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
       |      AS jaccard
       |  FROM cand c
       |  JOIN $grams ga ON ga.doc_id = c.a_id
       |  JOIN $grams gb ON gb.doc_id = c.b_id)
       |SELECT a_id, b_id, jaccard FROM scored WHERE jaccard >= $jaccardMin""".stripMargin

  val lshVerifiedPairsSql: String = lshVerifiedPairsSqlFor(vK, vRows, vEstMin, vJaccard)

  /** [[lshVerifiedPairsSql]] restricted to documents matching `docWhere`
    * (a full "WHERE ..." clause) — the survivor-side pair CTE of the
    * deletion oracle (d47, [[DedupResolve.corpusDedupPipelineSqlWhere]]).
    */
  private[llm] def lshVerifiedPairsSqlWhere(docWhere: String): String =
    lshVerifiedPairsSqlFor(vK, vRows, vEstMin, vJaccard, docWhere = docWhere)

  /** The EPOCH-CAPPED variant of [[lshVerifiedPairsSqlFor]] — the d52
    * oracle's pair stage (see
    * [[IncrementalDedup.cappedMultiAppendDedupSql]]): documents carry an
    * arrival epoch (`doc_id % epochMod`); a candidate pair is admitted
    * iff some shared (band, sig) bucket's population among docs visible
    * at the pair's birth epoch (`pe = greatest` of the endpoints') is
    * within the cap — exactly the suppression rule every capped
    * incremental append applies, re-derived here from running bucket
    * populations instead of the persisted ledger. Admitted candidates
    * run the unchanged est/Jaccard ladder.
    */
  def lshVerifiedPairsEpochCappedSql(
      k: Int,
      rowsPerBand: Int,
      estMin: Double,
      jaccardMin: Double,
      bucketCap: Int,
      epochMod: Int): String =
    s"""WITH mh AS (${minhashesSqlK(k, "")}),
       |bands_all AS (${bandSelectsSql(k, rowsPerBand, s"doc_id % $epochMod AS epoch, ")}),
       |pop AS (
       |  SELECT x.band, x.sig, kk.k AS pe, COUNT(*) AS cnt
       |  FROM bands_all x JOIN range(0, $epochMod) kk(k) ON x.epoch <= kk.k
       |  GROUP BY 1, 2, 3),
       |cpairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands_all a
       |  JOIN bands_all b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |  JOIN pop p ON p.band = a.band AND p.sig = a.sig
       |    AND p.pe = greatest(a.epoch, b.epoch)
       |  WHERE p.cnt <= $bucketCap),
       |${verifiedTailSql(k, estMin, jaccardMin, "")}""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.8), re-expressed as
    * bounded candidate generation + the SHARED verify stage: candidates =
    * distinct pairs sharing at least one 3-gram (inverted-index self-join
    * on the fused 60-bit gram hashes — sound, since j > 0 requires a
    * shared gram), verified by [[verifyJaccard]]. Bounded to doc_id < 600:
    * the inverted-index candidate pass costs Σ_g df(g)² join rows, which
    * stop-grams make quadratic — at 100 TB candidates come from LSH bands
    * ([[lshVerifiedPairs]]) and this exact pass IS the verifier they feed.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 600)
    // grams join on their 60-bit hash, not the string: long keys shuffle
    // and compare cheaper, and both engines hash identically so the
    // (negligible, identical) collision behavior is mirrored too. The
    // shared-gram count aggregate stays NARROW (a_id, b_id only): it runs
    // over the Σ df(g)² join volume, so every extra byte is paid
    // quadratically; the tiny per-doc sizes attach afterwards. "Shares
    // ≥ 1 gram" alone is NOT a usable candidate cut — stop-grams make it
    // admit nearly every pair (measured: the per-row verify over those
    // candidates tripled d04) — so candidates are cut by the exact integer
    // certificate j ≥ 4/5 ⟺ 9·i ≥ 4·(na+nb) BEFORE the shared verify
    // stage re-scores the handful of survivors per row. The self-join may
    // broadcast here because the exact pass is BOUNDED by construction;
    // an unbounded corpus-wide gram index would need the shuffle_hash
    // form d02 uses.
    val gsel = docs
      .select(col("doc_id"), graft.functions.ShingleHash60s(col("text"), 3).as("gs"))
    val grams = gsel.select(col("doc_id"), explode(col("gs")).as("g"))
    val sizes = gsel.select(col("doc_id"), size(col("gs")).as("n"))
    val a = grams.alias("a")
    val b = grams.alias("b")
    val inter = a
      .join(b, col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("i"))
    val sa = sizes.alias("sa")
    val sb = sizes.alias("sb")
    val cand = inter
      .join(sa, col("a_id") === col("sa.doc_id"))
      .join(sb, col("b_id") === col("sb.doc_id"))
      .filter(col("i") * 9 >= (col("sa.n") + col("sb.n")) * 4)
      .select(col("a_id"), col("b_id"))
    verifyJaccard(s, dir, cand, n = 3, minJaccard = 0.8)
  }

  val ngramJaccardSql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, ${sqlHash60("gs")} AS g FROM (
       |    SELECT DISTINCT doc_id, gs FROM (
       |      SELECT doc_id, unnest(${sqlShingles("text", 3)}) AS gs
       |      FROM documents WHERE doc_id < 600))),
       |garr AS (SELECT doc_id, list(g) AS gs FROM grams GROUP BY doc_id),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
       |${jaccardScoredSql("garr", 0.8)}""".stripMargin
}

package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Exact duplicated-SPAN detection — substring-granularity dedup: find,
  * in every document, the maximal runs of ≥ `minTokens` consecutive
  * tokens that occur more than once in the corpus (boilerplate headers,
  * license blocks, templated paragraphs — the stuff document-level dedup
  * can't touch because the surrounding text differs).
  *
  * The literature does this with a corpus-wide suffix array (an
  * inherently sequential external-memory build). The Spark-first
  * restatement: a duplicated token-span of length ≥ k contains only
  * duplicated k-grams, and conversely every maximal run of duplicated
  * k-gram start positions [s, e] recovers a maximal duplicated region
  * [s, e + k - 1]. So the operator is three declarative steps, each a
  * stock Catalyst shape:
  *
  *   1. SEED  — explode every k-gram start position with a 60-bit gram
  *      key (one generator pass over the scan, text never shuffles);
  *   2. COUNT — `groupBy(gram).count > 1` (partial aggregation applies;
  *      the surviving duplicated-gram table is orders of magnitude
  *      smaller than the gram stream) joined back position-side — AQE
  *      picks broadcast when the dup table fits, shuffle join when a
  *      boilerplate-heavy corpus makes it big;
  *   3. MERGE — gaps-and-islands per document (`pos − row_number`) to
  *      fuse consecutive duplicated positions into maximal spans: one
  *      hash exchange on doc_id, one sort.
  *
  * The gram stream feeds both the count and the probe side. Unlike t14
  * (where re-generating the reused intermediate beats pinning it and
  * the default is scan-twice), HERE the pin wins: isolated one-arm-
  * per-JVM A/B at ×200 (1.02M docs, ~55M grams): 35.9 s pinned vs
  * 62.6 s regenerated (SCALING.md §3d) — because re-generation re-runs
  * an md5 per gram (CPU-bound) where t14's re-generation is a cheap
  * codegen'd term explode. The variable in the materialization trade
  * is the COST TO REBUILD, not just the size to cache.
  *
  * Grouping on the 60-bit [[Hashing.hash60]] of the gram instead of the
  * gram string keeps the shuffle rows fixed-width (16 bytes vs a k-token
  * string) — the difference between shuffling ~2× the corpus and ~0.2×
  * of it at 100 TB. A hash collision can only ADD a false duplicated
  * position (birthday bound: ~1e-18 per gram pair, ~10⁻⁵ corpora of 1e12
  * grams); both engines hash identically, so the oracle gate is exact
  * either way.
  *
  * Islands semantics: two distinct duplicated substrings that abut or
  * overlap within a document merge into one reported span — the right
  * answer for the downstream use (cut the whole region).
  *
  * Reference scope: gomrjob (mr_*.go) ships no text operators at all;
  * this extends the engine toward its training-pipeline north star.
  */
object SpanDedup {

  /** Maximal duplicated spans of ≥ `minTokens` whitespace tokens.
    * Output: (doc_id, span_start, span_end, span_tokens), token
    * positions 1-based inclusive.
    */
  def dupSpans(s: SparkSession, dir: String, minTokens: Int): DataFrame =
    dupSpansDf(Tables.documents(s, dir), minTokens)

  /** [[dupSpans]] over any (doc_id, text) DataFrame. */
  def dupSpansDf(docs: DataFrame, minTokens: Int): DataFrame = {
    val hits = dupPositions(docs, minTokens)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (minTokens - 1)).as("span_end"))
      .select(col("doc_id"),
        col("span_start").cast("int").as("span_start"),
        col("span_end").cast("int").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("int").as("span_tokens"))
  }

  /** Start positions (doc_id, pos) of corpus-duplicated `minTokens`-grams.
    * The exploded gram stream is pinned between the count and probe sides
    * (the measured win; see the object scaladoc for the A/B and the t14
    * contrast).
    */
  private def dupPositions(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"minTokens must be >= 2, got $k")
    val grams = gramPositions(docs, k).transform(graft.runtime.Ckpt.eager)
    val dup = grams.groupBy(col("gk")).count().where(col("count") > 1)
      .select(col("gk"))
    grams.join(dup, "gk").select(col("doc_id"), col("pos"))
  }

  /** The 60-bit [[Hashing.hash60]] key of every `k`-token window of the
    * token-array column `t`, in window order (entry i starts at token i).
    */
  private def gramKeys(k: Int): Column =
    transform(sequence(lit(1), size(col("t")) - (k - 1)),
      i => Hashing.hash60(concat_ws(" ", slice(col("t"), i, lit(k)))))

  /** (doc_id, pos, gk): every `k`-gram of the docs with ≥ k tokens, at
    * its 1-based start position.
    */
  private def gramPositions(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("doc_id"), Hashing.tokens(col("text")).as("t"))
      .where(size(col("t")) >= k)
      .select(col("doc_id"), posexplode(gramKeys(k)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gk"))

  /** DuckDB mirror of [[dupSpansDf]] over the `documents` table. */
  def dupSpansSqlFor(k: Int): String = {
    val toks = Hashing.sqlTokens("text")
    val gk = Hashing.sqlHash60(s"array_to_string(t[i:i+${k - 1}], ' ')")
    s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
       |sh AS (SELECT doc_id, CAST(i AS INT) AS pos, $gk AS gk
       |       FROM tok CROSS JOIN LATERAL unnest(range(1, len(t)-${k - 2})) r(i)
       |       WHERE len(t) >= $k),
       |dup AS (SELECT gk FROM sh GROUP BY gk HAVING COUNT(*) > 1),
       |hit AS (SELECT doc_id, pos,
       |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |        FROM sh WHERE gk IN (SELECT gk FROM dup))
       |SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
       |  CAST(MAX(pos) + ${k - 1} AS INT) AS span_end,
       |  CAST(MAX(pos) - MIN(pos) + $k AS INT) AS span_tokens
       |FROM hit GROUP BY doc_id, isl""".stripMargin
  }

  /** The removal half: every document rewritten with its duplicated
    * spans cut out. Output: (doc_id, clean_text, n_removed) for EVERY
    * document (untouched docs pass through with n_removed = 0 — the
    * all-clear rows prove the rewrite is a no-op on clean text).
    *
    * Scale shape — the rewrite never shuffles tokens: duplicated start
    * positions expand to covered positions (equi-join keys, no range
    * join), aggregate to ONE small per-doc position set, join back to
    * the corpus on doc_id (left join; only span-bearing docs carry a
    * set), and a codegen'd index-filter lambda drops the covered tokens
    * per ROW. What moves is O(duplicated positions), not O(corpus).
    */
  def stripSpans(s: SparkSession, dir: String, minTokens: Int): DataFrame =
    stripSpansDf(Tables.documents(s, dir), minTokens)

  /** [[stripSpans]] over any (doc_id, text) DataFrame. */
  def stripSpansDf(docs: DataFrame, minTokens: Int): DataFrame = {
    val cov = dupPositions(docs, minTokens)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (minTokens - 1))).as("pos"))
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("cov"))
    docs
      .select(col("doc_id"), Hashing.tokens(col("text")).as("t"))
      .join(cov, Seq("doc_id"), "left")
      // Spark's filter-lambda index is 0-based; positions are 1-based
      .select(col("doc_id"),
        when(col("cov").isNull, col("t"))
          .otherwise(filter(col("t"),
            (x, i) => !array_contains(col("cov"), i + 1))).as("kept"),
        size(col("t")).as("n_toks"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        (col("n_toks") - size(col("kept"))).cast("int").as("n_removed"))
  }

  /** DuckDB mirror of [[stripSpansDf]] (its lambda index is 1-based). */
  def stripSpansSqlFor(k: Int): String = {
    val toks = Hashing.sqlTokens("text")
    val gk = Hashing.sqlHash60(s"array_to_string(t[i:i+${k - 1}], ' ')")
    s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
       |sh AS (SELECT doc_id, CAST(i AS INT) AS pos, $gk AS gk
       |       FROM tok CROSS JOIN LATERAL unnest(range(1, len(t)-${k - 2})) r(i)
       |       WHERE len(t) >= $k),
       |dup AS (SELECT gk FROM sh GROUP BY gk HAVING COUNT(*) > 1),
       |cov AS (SELECT doc_id, list(DISTINCT CAST(j AS INT)) AS cov
       |        FROM sh CROSS JOIN LATERAL unnest(range(pos, pos + $k)) c(j)
       |        WHERE gk IN (SELECT gk FROM dup) GROUP BY doc_id),
       |kept AS (SELECT t.doc_id,
       |           CASE WHEN cov.cov IS NULL THEN t.t
       |                ELSE list_filter(t.t, (x, i) -> NOT list_contains(cov.cov, i))
       |           END AS kept, len(t.t) AS n_toks
       |         FROM tok t LEFT JOIN cov USING (doc_id))
       |-- array_to_string([]) is NULL in DuckDB but array_join([]) is ''
       |-- in Spark: a fully-duplicated doc strips to the empty string
       |SELECT doc_id, COALESCE(array_to_string(kept, ' '), '') AS clean_text,
       |  CAST(n_toks - len(kept) AS INT) AS n_removed
       |FROM kept""".stripMargin
  }

  /** Span-level benchmark decontamination — the position-bearing upgrade
    * of [[Decontaminate.flagOverlaps]]: for every TRAINING document, the
    * maximal runs of ≥ `minTokens` consecutive tokens that appear
    * verbatim anywhere in the benchmark set (the GPT-3-style 13-gram
    * overlap method, reporting WHERE the leak is so it can be cut with
    * the [[stripSpansDf]] rewrite instead of dropping the whole doc).
    *
    * Scale shape: same SEED/MERGE stages as [[dupSpansDf]], but the
    * membership test replaces the corpus-wide COUNT — the benchmark gram
    * set (eval suites are MBs, not TBs) broadcasts, so the corpus-side
    * gram stream never shuffles at all; the only exchange in the whole
    * plan is the per-doc islands merge over MATCHED positions, which is
    * proportional to actual contamination, not corpus size.
    */
  def contamSpansDf(train: DataFrame, bench: DataFrame, minTokens: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val k = minTokens
    val bgrams = benchGrams(bench, k)
    val hits = gramPositions(train, k)
      .join(broadcast(bgrams), "gk")
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"),
        col("span_start").cast("int").as("span_start"),
        col("span_end").cast("int").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("int").as("span_tokens"))
  }

  /** [[contamSpansDf]] with every 10th doc as the eval stand-in and
    * benchmark docs excluded from the training side (they would
    * trivially self-flag end to end). Every 10th — not d10's every
    * 100th — because the gate must exercise real hits: at k = 8 the
    * sf0.01 corpus has 47 span-bearing docs, none ≡ 0 (mod 100), so the
    * d10 convention would gate an empty result at the driver's SF.
    */
  def contamSpans(s: SparkSession, dir: String, minTokens: Int): DataFrame = {
    val docs = Tables.documents(s, dir)
    contamSpansDf(docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0), minTokens)
  }

  /** DuckDB mirror of [[contamSpans]]. */
  def contamSpansSqlFor(k: Int): String = {
    val toks = Hashing.sqlTokens("text")
    val gk = Hashing.sqlHash60(s"array_to_string(t[i:i+${k - 1}], ' ')")
    s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
       |sh AS (SELECT doc_id, CAST(i AS INT) AS pos, $gk AS gk
       |       FROM tok CROSS JOIN LATERAL unnest(range(1, len(t)-${k - 2})) r(i)
       |       WHERE len(t) >= $k),
       |bg AS (SELECT DISTINCT gk FROM sh WHERE doc_id % 10 = 0),
       |hit AS (SELECT doc_id, pos,
       |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |        FROM sh WHERE doc_id % 10 <> 0 AND gk IN (SELECT gk FROM bg))
       |SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
       |  CAST(MAX(pos) + ${k - 1} AS INT) AS span_end,
       |  CAST(MAX(pos) - MIN(pos) + $k AS INT) AS span_tokens
       |FROM hit GROUP BY doc_id, isl""".stripMargin
  }

  /** [[contamSpansDf]] behind a Bloom-sketch prefilter — the posture for
    * benchmark suites too big to broadcast EXACTLY. [[contamSpansDf]]
    * broadcasts the full distinct gram set (8 bytes/gram + hash-set
    * overhead); at a 10⁹-gram suite that broadcast is ~16 GB and stops
    * fitting. The sketch replaces it with ~1.2 bytes/gram at 1% fpp
    * (`BloomFilter.create` sizing) — an order of magnitude less resident
    * memory per executor — at the price of false positives, which a
    * downstream EXACT verify join removes:
    *
    *   1. build the sketch over the benchmark grams (one distributed
    *      aggregation, `df.stat.bloomFilter` — Spark's mergeable sketch);
    *   2. probe every corpus gram map-side ([[graft.functions.BloomMightContain]],
    *      codegen'd, zero shuffle — this is where ~all of the corpus dies);
    *   3. exact-verify ONLY the survivors against the true gram table
    *      with a SHUFFLE join (`shuffle_hash` hint — the premise is that
    *      the benchmark side must not broadcast): shuffle volume is
    *      true hits + fpp·|corpus grams|, not the corpus;
    *   4. the same islands merge as [[contamSpansDf]].
    *
    * The verify makes the output EXACT — bit-identical to
    * [[contamSpansDf]] and gated against the same oracle (d36 vs d29: two
    * plans, one answer). `expectedGrams` sizes the sketch; the default
    * (-1) spends one count() on the benchmark gram table — the exact
    * sizing a production run would cache alongside the suite.
    */
  def contamSpansBloomDf(train: DataFrame, bench: DataFrame, minTokens: Int,
      fpp: Double = 0.01, expectedGrams: Long = -1L): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val k = minTokens
    val bgrams = benchGrams(bench, k)
    // bgrams has three consumers: the sizing count and the sketch
    // aggregation run EAGERLY here, the exact-verify join lazily after
    // return. Persist across the two eager ones (one tokenize/explode/
    // distinct instead of two), then unpersist BEFORE returning so no
    // corpus-scale cache entry outlives the call — the lazy join
    // recomputes from lineage, which costs one scan and leaks nothing
    // (a function that returns no handle to its cache must not require
    // its caller to run a global unpersist sweep).
    bgrams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom =
      try {
        val expected = if (expectedGrams > 0) expectedGrams
          else math.max(bgrams.count(), 1L)
        bgrams.stat.bloomFilter("gk", expected, fpp)
      } finally bgrams.unpersist(false)
    contamIslands(contamHitsWithSketch(train, bloom, bgrams, k), k)
  }

  /** The distinct k-gram hash keys of the benchmark suite — the exact
    * side of the d36 verify join, and (r15) the gram table the
    * incremental corpus-append decontamination persists bucketed by gk.
    */
  private[graft] def benchGrams(bench: DataFrame, k: Int): DataFrame =
    bench
      .select(Hashing.tokens(col("text")).as("t"))
      .where(size(col("t")) >= k)
      .select(explode(gramKeys(k)).as("gk"))
      .distinct()

  /** Steps 2–3 of the d36 ladder over a GIVEN sketch + gram table: probe
    * every train gram map-side through the Bloom filter (codegen, zero
    * shuffle — ~all of the corpus dies here), exact-verify the
    * survivors with a shuffle join against the true gram table. The
    * seam the incremental append path loads its persisted artifacts
    * into.
    */
  private[graft] def contamHitsWithSketch(train: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      bgrams: DataFrame, k: Int): DataFrame =
    gramPositions(train, k)
      .where(graft.functions.BloomMightContain(bloom, col("gk")))
      .join(bgrams.hint("shuffle_hash"), "gk") // exact verify: kills the fp
      .select(col("doc_id"), col("pos"))

  /** Step 4: merge per-document hit positions into contiguous-island
    * spans (the gaps-and-islands window).
    */
  private[graft] def contamIslands(hits: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"),
        col("span_start").cast("int").as("span_start"),
        col("span_end").cast("int").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("int").as("span_tokens"))
  }

  /** [[contamSpansBloomDf]] under the d29 split (every 10th doc is the
    * benchmark stand-in) — gated against the SAME oracle as
    * [[contamSpans]]: the sketch path must reproduce the exact answer.
    */
  def contamSpansBloom(s: SparkSession, dir: String, minTokens: Int): DataFrame = {
    val docs = Tables.documents(s, dir)
    contamSpansBloomDf(docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0), minTokens)
  }
}

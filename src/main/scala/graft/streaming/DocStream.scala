package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming face of the LLM training-data pipeline: continuous corpus
  * ingestion with exact dedup, near-dup signatures, and quality gating —
  * the same operators as `llm.Dedup`/`llm.TextAnalysis`, expressed as one
  * continuous query. A parquet landing directory stands in for the
  * production source (Kafka/object-store notifications at scale; the
  * transforms are source-agnostic).
  *
  * Scale posture: dedup state is keyed by content hash and sharded across
  * executors; the fused codegen expressions (MinHashSig, CharGini) run
  * per-row inside the streaming micro-batch plan exactly as in batch —
  * custom Catalyst expressions need no streaming-specific treatment.
  */
object DocStream {

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming read of a documents landing dir (see
    * [[EventStream.readEvents]] for the symlink-staging note).
    */
  def readDocs(s: SparkSession, dir: String): DataFrame = {
    val streamDir = {
      val d = java.nio.file.Files.createTempDirectory("graft-docs-stream")
      // deleteOnExit runs in REVERSE registration order: parent first in
      // code → child deleted first at exit, so the (non-empty otherwise)
      // dir actually goes away
      d.toFile.deleteOnExit()
      val link = d.resolve("documents.parquet")
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(s"$dir/documents.parquet"))
      link.toFile.deleteOnExit()
      d.toString
    }
    s.readStream.schema(docsSchema).parquet(streamDir)
  }

  /** Continuous ingestion: per-doc signatures (content hash for exact
    * dedup, MinHash for downstream near-dup banding, char-Gini for spam
    * gating) computed in-stream, then exact-dedup on the content hash.
    * `dropDuplicates` keeps first-seen per hash across micro-batches —
    * the streaming twin of `llm.Dedup.exact` (which keeps min doc_id; a
    * replayed batch corpus yields the same KEPT-count, which is what the
    * spec checks). No watermark: content hashes dedup over the whole
    * stream lifetime — state grows with the corpus; use
    * [[ingestedBounded]] when re-deliveries are known to arrive within a
    * bounded horizon.
    */
  def ingested(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withColumn("minhash_sig", graft.functions.MinHashSig(col("text"), 5, 16))
      .withColumn("char_gini", graft.functions.CharGini(col("text")))
      .dropDuplicates("content_hash")

  /** Bounded-state ingestion dedup: like [[ingested]], but content-hash
    * state is dropped once the watermark passes `horizon` beyond a hash's
    * event time (`dropDuplicatesWithinWatermark`). This is the production
    * form for at-least-once sources whose re-deliveries arrive within a
    * known horizon: state is O(docs per horizon), not O(stream lifetime),
    * and each state partition shards by hash across executors. Corpus-wide
    * dedup beyond the horizon belongs to the batch compaction pass
    * (`llm.Dedup.exact`), which this stream's signatures feed.
    *
    * `docs` must carry an event-time column `tsCol` (ingest or publish
    * time from the source).
    */
  def ingestedBounded(docs: DataFrame, tsCol: String = "ingest_ts",
      horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withColumn("minhash_sig", graft.functions.MinHashSig(col("text"), 5, 16))
      .withColumn("char_gini", graft.functions.CharGini(col("text")))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  /** The curation scrub in-stream — what a production ingest runs FIRST,
    * before any stateful operator: PII redaction (t13's codegen regex
    * chain, `llm.Pii`) and the t05 composite quality filter scored over
    * the REDACTED text (zero-token docs drop). Pure per-row map/filter:
    * no state, no watermark, and the expressions are the SAME Catalyst
    * trees as batch, so batch ≡ stream parity is exact — the spec drives
    * this very function over both a batch frame and a multi-batch stream
    * and compares rows. `text` is REPLACED by its redacted form (the
    * stream continues clean); `n_pii`/`quality` ride along as evidence.
    */
  def scrubbed(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    val (ne, np, ni) = graft.llm.Pii.countPii(col("text"))
    docs
      .withColumn("n_pii", (ne + np + ni).cast("int"))
      .withColumn("text", graft.llm.Pii.redactPii(col("text")))
      .withColumn("st", graft.functions.TokenStats(col("text")))
      .filter(col("st.n_tokens") > 0)
      .withColumn("quality",
        graft.llm.TextAnalysis.qualityScore(col("st"), col("text")))
      .filter(col("quality") >= minQuality)
      // keep the token count the stats pass already paid for — the batch
      // chain carries it as evidence and downstream per-row stages
      // ([[repetitionGated]]) ratio against it rather than re-tokenizing
      .withColumn("n_tokens", col("st.n_tokens").cast("int"))
      .drop("st")
  }

  /** Scrub, then lifetime exact-dedup — the streamed front half of the
    * d33 curation chain (dedup keys on the hash of the SCRUBBED text, so
    * re-deliveries that differ only in redacted PII still collapse).
    */
  def scrubbedIngested(docs: DataFrame): DataFrame =
    ingested(scrubbed(docs))

  /** The curation-v3 repetition cut in-stream — [[scrubbed]] plus the
    * t17 kernel over the redacted text: drop docs whose within-doc
    * duplicated-`repK`-gram coverage exceeds `repMax`. Stateless per-row
    * like the scrub itself (the kernel is ONE codegen'd
    * [[graft.functions.DupGramCovered]] call), so batch ≡ stream parity
    * is exact and the stage adds no state or watermark. `dup_covered`
    * rides along as evidence. The kernel sits behind the same
    * explode(array(...)) pushdown fence as the batch chain
    * ([[graft.llm.Curate.curateV3Df]]) so the cut's filter can never
    * re-inline the scrub upstream of it.
    */
  def repetitionGated(docs: DataFrame, repK: Int = 3, repMax: Double = 0.1,
      minQuality: Double = 0.5): DataFrame =
    scrubbed(docs, minQuality)
      .select(col("*"), explode(array(
        graft.functions.DupGramCovered(col("text"), repK))).as("dup_covered"))
      .filter(col("dup_covered").cast("double")
        / col("n_tokens").cast("double") <= repMax)

  /** Streaming benchmark-contamination gate — the d36 sketch posture made
    * continuous: every arriving doc's k-grams probe the benchmark Bloom
    * filter per ROW (the sketch rides the expression tree to every
    * executor; no state, no watermark, no join), and `n_contam_cand`
    * counts the candidate grams.
    *
    * Routing contract (why a sketch alone is enough in-stream): the
    * filter has NO false negatives, so `n_contam_cand = 0` PROVES the
    * doc shares no k-gram with the benchmark — the clean path (~all of
    * the stream) is exact. Flagged docs are candidates, not verdicts
    * (fpp applies); route them to the batch exact verifier
    * ([[graft.llm.SpanDedup.contamSpansBloomDf]] runs the same sketch
    * THEN an exact join) instead of dropping in-stream. Batch ≡ stream
    * parity is exact because the per-row expression tree is identical —
    * StreamingSpec drives both and checks every d29-flagged doc is
    * flagged here.
    */
  def contamFlagged(docs: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      minTokens: Int = 8): DataFrame = {
    val k = minTokens
    val t = graft.llm.Hashing.tokens(col("text"))
    // the < k guard matters: CaseWhen evaluates lazily, so the descending
    // sequence(1, size-k+1 <= 0) branch never runs for short docs
    docs.withColumn("n_contam_cand",
      when(size(t) < k, lit(0)).otherwise(
        size(filter(
          transform(sequence(lit(1), size(t) - (k - 1)),
            i => graft.llm.Hashing.hash60(concat_ws(" ", slice(t, i, lit(k))))),
          g => graft.functions.BloomMightContain(bloom, g))))
        .cast("int"))
  }

  /** One admitted document (the quota stream's output row). */
  case class AdmittedDoc(doc_id: Long, source: String)

  /** Per-source quota IN-STREAM — the streaming twin of the t11 batch
    * quota (`llm.Mixture.sourceQuota`), and with [[mixtureThrottled]]
    * the last curation stages that still forced a batch boundary.
    *
    * Semantics differ from batch BY DESIGN, the standard stream/batch
    * split for capping: batch quota is a deterministic uniform DRAW (the
    * quota smallest doc_id hashes per source — re-runnable over the full
    * corpus), while a stream cannot know today whether a better-hashed
    * doc arrives tomorrow without retracting emitted rows, which append
    * mode cannot do. So the stream cap is ADMISSION CONTROL: first
    * `quota` docs per source in arrival order (doc_id order within one
    * micro-batch, to pin iterator nondeterminism), then the gate closes.
    * Both emit EXACTLY min(quota, n_source) rows per source — the parity
    * the spec gates — they just choose different representatives.
    *
    * State is one counter per source ([[org.apache.spark.sql.streaming
    * .GroupState]][Long]) — O(sources), the smallest state of any
    * operator in this file. Cost model: the micro-batch group's iterator
    * is consumed in full (picking the smallest doc_ids of the batch
    * requires seeing them all), but MEMORY is O(quota − used) via the
    * bounded max-heap — a hot source holds its remaining quota in
    * memory, never its batch volume. Once the quota is exhausted in a
    * LATER batch, the group emits nothing (the iterator is still drained
    * by the framework; no buffering happens).
    */
  def quotaAdmitted(docs: DataFrame, quota: Int): Dataset[AdmittedDoc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs.select(col("doc_id").cast("long"), col("source"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, AdmittedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source, rows, state) =>
          var used = state.getOption.getOrElse(0L)
          val admitted =
            if (used >= quota) Iterator.empty
            else {
              // bounded selection, not a full-group sort: one pass with a
              // size-(quota-used) max-heap keeps the smallest doc_ids of
              // the batch in O(need) memory — a hot source costs its
              // quota, never its batch volume (the doc's cost claim,
              // honored in the code; a full toArray.sortBy would buffer
              // the whole micro-batch group)
              val need = (quota - used).toInt
              val heap = new java.util.PriorityQueue[Long](
                math.max(need, 1), java.util.Collections.reverseOrder[Long]())
              rows.foreach { case (id, _) =>
                if (heap.size < need) heap.add(id)
                else if (id < heap.peek()) { heap.poll(); heap.add(id) }
              }
              val picked = new Array[Long](heap.size)
              var i = picked.length - 1
              while (i >= 0) { picked(i) = heap.poll(); i -= 1 }
              used += picked.length
              picked.iterator.map(AdmittedDoc(_, source))
            }
          state.update(used)
          admitted
      }
  }

  /** Learned quality scoring IN-STREAM — the t22 model applied to a
    * continuous corpus, the train-batch/score-stream production shape:
    * the (tiny, bucket-count-sized) model is collected batch-side
    * ([[graft.llm.LearnedQuality.trainModel]]) and rides the expression
    * tree as a LITERAL map (the d36 bloom-sketch posture applied to a
    * model) — four map lookups + a sum per row, no join, no state, no
    * watermark, so batch ≡ stream parity is exact (spec-gated).
    * `nb_score`/`nb_keep` ride along as evidence; routing/dropping is
    * the caller's composition choice, as with [[contamFlagged]].
    */
  def learnedQualityScored(docs: DataFrame, model: Map[String, Long]): DataFrame = {
    val (score, keep) = graft.llm.LearnedQuality.scoreColumns(model)
    docs
      .withColumn("st", graft.functions.TokenStats(col("text")))
      .withColumn("nb_score", score)
      .withColumn("nb_keep", keep)
      .drop("st")
  }

  /** BPE token counting IN-STREAM — the learned vocabulary applied to a
    * continuous corpus (what a streaming token-budget/packing decision
    * reads). Train-batch/apply-stream like [[learnedQualityScored]]:
    * the merge list ([[graft.llm.Bpe.mergeList]], Merges rows) is baked
    * into ONE codegen replace chain over the whole text
    * ([[graft.llm.Bpe.tokenCountWithMerges]]) — no explode, no join, no
    * state, exact batch ≡ stream parity (spec additionally pins it
    * equal to the t23 word-table-join computation: two independent
    * evaluation strategies, one answer).
    */
  def bpeSegmented(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs.withColumn("n_bpe_tokens",
      graft.llm.Bpe.tokenCountWithMerges(col("text"), merges))

  /** Mixture rebalance IN-STREAM — the streaming twin of the t12 batch
    * sampler (`llm.Mixture.mixtureSample`), as a stateless stream-static
    * broadcast join: `thresholds` is the tiny per-source keep-rate table
    * calibrated BATCH-side ([[graft.llm.Mixture.sampleThresholds]], the
    * production control loop: counts from the last compaction, filter on
    * today's stream), and the keep decision is the SAME row-local
    * integer arithmetic as batch. Because the decision is a pure
    * function of (doc_id, threshold), stream output equals the batch
    * sample over the same corpus EXACTLY — not a count parity, a
    * same-documents parity (spec-gated).
    */
  def mixtureThrottled(docs: DataFrame, thresholds: DataFrame): DataFrame =
    docs.join(broadcast(thresholds), Seq("source"))
      .filter(graft.llm.Mixture.sampleKeep)
      .select(col("doc_id"), col("source"))

  /** Stream-static corpus-append dedup: the daily delta arrives as a
    * STREAM and probes yesterday's persisted corpus index
    * ([[graft.llm.IncrementalDedup.CorpusIndex]], the d39 artifacts) —
    * the streaming face of the incremental append pass:
    *   - exact: stream-static LEFT ANTI on content_hash against the
    *     (bucketed) corpus hash table — a doc whose exact text is
    *     already in the corpus drops in its own micro-batch;
    *   - near-dup: one stream-static LEFT ANTI per LSH band against the
    *     (bucketed) corpus band table, keyed on the band signature with
    *     the minhash-match estimate (`est ≥ estMin`) as the join
    *     condition — a doc with ANY est-qualified banded corpus match
    *     drops. The stream side stays one row per doc (the band slice
    *     is a projection, not an explode), so the whole stage is
    *     STATELESS: no watermark, no cross-batch state, every decision
    *     is row-local against the static index — which is what makes
    *     batch ≡ stream parity exact (the same joins over a batch frame
    *     return the same survivors; spec-gated across micro-batches).
    *
    * Scope (the production split of labor, as in [[ingestedBounded]]):
    * this stage flags the delta AGAINST THE CORPUS at signature
    * precision — delta-internal duplicates and the exact-Jaccard
    * verify + cluster resolution belong to the batch compaction pass
    * ([[graft.llm.IncrementalDedup.appendKept]]), which consumes the
    * same artifacts and gates the full equivalence (d39).
    */
  /** [[corpusDeduped]] against the MAINTAINED on-disk index (r16 VERDICT
    * #8): each micro-batch resolves the index manifest once and probes
    * exactly the generation it names
    * ([[graft.llm.IncrementalDedup.readIndexAt]]) — an
    * append/delete/compaction landing BETWEEN
    * micro-batches changes the served answer exactly as the batch path
    * over a fresh [[graft.llm.IncrementalDedup.readIndex]] would
    * (spec-pinned). Resolution is cached BY GENERATION: the per-batch
    * cost on an unchanged index is one manifest-file read, and because
    * generations are immutable a cached index can never be torn by a
    * concurrent writer (the atomic-publication contract). `foreachBatch`
    * is the honest shape: the static side genuinely changes between
    * batches, which a fixed stream-static join plan cannot express.
    */
  def corpusDedupedMaintained(
      docs: DataFrame,
      idxDir: String,
      k: Int = 32,
      rowsPerBand: Int = 8,
      estMin: Double = 0.6)(sink: (DataFrame, Long) => Unit): StreamingQuery = {
    var cached: Option[(Long, graft.llm.IncrementalDedup.CorpusIndex)] = None
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: java.lang.Long) =>
        val m = graft.runtime.IndexStatePublisher.current(idxDir)
        val idx = cached match {
          case Some((g, i)) if g == m.gen => i
          case _ =>
            val i = graft.llm.IncrementalDedup.readIndexAt(batch.sparkSession, idxDir, m)
            cached = Some((m.gen, i))
            i
        }
        sink(corpusDeduped(batch.toDF(), idx, k, rowsPerBand, estMin), batchId)
      }
      .start()
  }

  def corpusDeduped(docs: DataFrame, idx: graft.llm.IncrementalDedup.CorpusIndex,
      k: Int = 32, rowsPerBand: Int = 8, estMin: Double = 0.6): DataFrame = {
    val enriched = docs
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withColumn("sig", graft.functions.MinHashSig(col("text"), 5, k))
    var out = enriched.join(
      idx.hashes.select(col("content_hash")), Seq("content_hash"), "left_anti")
    val corpusBands = idx.bands match {
      case Some(b) if idx.bandK == k && idx.bandRows == rowsPerBand => b
      case _ => graft.llm.Dedup.bandsOf(idx.sigs, k, rowsPerBand)
    }
    // fraction of matching minhashes between the stream row's sig and a
    // corpus band row's sig — the same estimate the batch pass projects
    val est = (0 until k)
      .map(i => when(element_at(col("sig"), i + 1) ===
        element_at(col("c_sig"), i + 1), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(k.toDouble)
    for (b <- 0 until k / rowsPerBand) {
      val bandSig = concat_ws(":", (0 until rowsPerBand).map(j =>
        element_at(col("sig"), b * rowsPerBand + j + 1)): _*)
      val cb = corpusBands.filter(col("band") === b)
        .select(col("bsig").as("c_bsig"), col("sig").as("c_sig"))
      out = out.join(cb, bandSig === col("c_bsig") && est >= estMin, "left_anti")
    }
    out.drop("sig")
  }
}

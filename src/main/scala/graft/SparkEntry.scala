package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.llm._
import graft.llm.IndexScenario.{Append, Delete, Row}
import graft.mr.MrQueries
import graft.queries.{Compositions, Relational}
import graft.runtime.Ckpt

/** Driver contract (SURVEY.md §7): the engine's public inventory, one
  * row per operator from SURVEY.md §2 plus the LLM-pipeline extensions.
  * Each row holds the query's Spark call and its DuckDB oracle, built
  * from the same arguments, so a grid point or a lifecycle scenario is
  * its row: the arguments that gate the knob plumbing are written once,
  * next to the oracle they must agree with. Oracle column names and
  * arithmetic match the Spark side bit for bit (see graft.queries.Exact
  * for why decimal accumulation). `queries` and `oracleSql` are the two
  * views of the table that the driver and the harnesses read.
  */
object SparkEntry {

  /** One inventory row: the Spark call over (session, sf dir) and the
    * DuckDB oracle SQL its answer must hash-match.
    */
  final case class Query(run: (SparkSession, String) => DataFrame, oracle: String)

  /** Flagship query (SURVEY.md §2C #33) on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Compositions.fieldFrequency(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    inventory.map { case (name, q) => name -> q.run }

  def oracleSql: Map[String, String] = inventory.map { case (name, q) => name -> q.oracle }

  private val inventory: Map[String, Query] = Map(
    // §2C compositions — the reference's own demonstrated workloads
    "q01_field_freq" -> Query(Compositions.fieldFrequency, Compositions.fieldFrequencySql),
    "q02_sum_by_key" -> Query(Compositions.sumByKey, Compositions.sumByKeySql),
    "q03_wordcount" -> Query(Compositions.wordCount, Compositions.wordCountSql),
    "q04_multistep" -> Query(Compositions.multiStep, Compositions.multiStepSql),
    "q05_filtered" -> Query(Compositions.filteredCount, Compositions.filteredCountSql),
    // §2A dataflow core run through the typed MR path (mapper → combiner →
    // hash+sort shuffle → sorted-run reducer) and the typed Aggregator
    "q06_mr_field_freq" -> Query(MrQueries.mrFieldFreq, MrQueries.mrFieldFreqSql),
    "q07_typed_agg" -> Query(MrQueries.typedAgg, MrQueries.typedAggSql),
    "q08_mapside_join" -> Query(MrQueries.mapSideJoin(_, _), MrQueries.mapSideJoinSql),
    "q09_mr_multistep" -> Query(MrQueries.mrMultiStep, MrQueries.mrMultiStepSql),
    // Relational surface (user-space compositions in the MR model)
    "q10_join_broadcast" -> Query(Relational.joinBroadcast, Relational.joinBroadcastSql),
    "q11_join_large" -> Query(Relational.joinLarge, Relational.joinLargeSql),
    "q12_semi_join" -> Query(Relational.semiJoin, Relational.semiJoinSql),
    "q13_anti_join" -> Query(Relational.antiJoin, Relational.antiJoinSql),
    "q14_distinct" -> Query(Relational.distinctPairs, Relational.distinctPairsSql),
    "q15_topk_group" -> Query(Relational.topKPerGroup, Relational.topKPerGroupSql),
    "q16_topk_global" -> Query(Relational.topKGlobal, Relational.topKGlobalSql),
    "q17_rollup" -> Query(Relational.rollupAgg, Relational.rollupAggSql),
    "q18_cube" -> Query(Relational.cubeAgg, Relational.cubeAggSql),
    "q19_setops" -> Query(Relational.setOps, Relational.setOpsSql),
    "q20_pricing_summary" -> Query(Relational.pricingSummary, Relational.pricingSummarySql),
    "q21_shipping_priority" -> Query(Relational.shippingPriority, Relational.shippingPrioritySql),
    "q22_running_sum" -> Query(Relational.runningSum, Relational.runningSumSql),
    "q23_scalar_funcs" -> Query(Relational.scalarFunctions, Relational.scalarFunctionsSql),
    "q24_sessionize" -> Query(Relational.sessionize, Relational.sessionizeSql),
    "q25_histogram" -> Query(Relational.histogram, Relational.histogramSql),
    "q26_time_window" -> Query(Relational.timeWindow, Relational.timeWindowSql),
    "q27_asof_join" -> Query(Relational.asofJoin, Relational.asofJoinSql),
    "q28_pivot" -> Query(Relational.pivotCounts, Relational.pivotCountsSql),
    "q29_distinct_counts" -> Query(Relational.distinctCounts, Relational.distinctCountsSql),
    "q30_hash_sample" -> Query(Relational.hashSample, Relational.hashSampleSql),
    "q31_salted_agg" -> Query(Relational.saltedAgg, Relational.saltedAggSql),
    "q32_fuzzy_pairs" -> Query(Relational.fuzzyPairs, Relational.fuzzyPairsSql),
    "q33_discrete_median" -> Query(Relational.discreteMedian, Relational.discreteMedianSql),
    "q34_collect_types" -> Query(Relational.collectTypes, Relational.collectTypesSql),
    "q35_outer_join" -> Query(Relational.outerJoin, Relational.outerJoinSql),
    "q36_setops_all" -> Query(Relational.setOpsAll, Relational.setOpsAllSql),
    "q37_null_group" -> Query(Relational.nullGroup, Relational.nullGroupSql),
    "q38_above_nation_avg" -> Query(Relational.aboveNationAvg, Relational.aboveNationAvgSql),
    "q39_session_window" -> Query(Relational.sessionWindowNative,
      Relational.sessionWindowNativeSql),
    "q40_date_functions" -> Query(Relational.dateFunctions, Relational.dateFunctionsSql),
    "q41_string_functions" -> Query(Relational.stringFunctions, Relational.stringFunctionsSql),
    "q42_json_extract" -> Query(Compositions.jsonExtractSum, Compositions.jsonExtractSumSql),
    "q43_topk_custom_op" -> Query(Relational.topKCustomOp, Relational.topKCustomOpSql),
    "q44_grouping_sets" -> Query(Relational.groupingSets, Relational.groupingSetsSql),
    "q45_array_functions" -> Query(Relational.arrayFunctions, Relational.arrayFunctionsSql),
    "q46_stratified_sample" -> Query(Relational.stratifiedSample, Relational.stratifiedSampleSql),
    "q47_variant_json" -> Query(Compositions.variantExtract, Compositions.variantExtractSql),
    "q48_left_join" -> Query(Relational.leftJoinCounts, Relational.leftJoinCountsSql),
    "q49_window_misc" -> Query(Relational.windowMisc, Relational.windowMiscSql),
    "q50_range_join" -> Query(Relational.rangeJoin, Relational.rangeJoinSql),
    "q51_having" -> Query(Relational.havingFilter, Relational.havingFilterSql),
    "q52_cogroup_join" -> Query(MrQueries.cogroupJoin, MrQueries.cogroupJoinSql),
    "q53_explode_outer" -> Query(Relational.explodeOuter, Relational.explodeOuterSql),
    // LLM-pipeline extensions: dedup, similarity, text analysis, multimodal
    "d01_dedup_exact" -> Query(Dedup.exact, Dedup.exactSql),
    // banding/threshold arguments default to the shipped calibration
    "d02_dedup_minhash" -> Query(Dedup.minhashLsh(_, _), Dedup.minhashLshSql),
    "d03_dedup_simhash" -> Query(Dedup.simhash, Dedup.simhashSql),
    "d04_ngram_jaccard" -> Query(Dedup.ngramJaccard, Dedup.ngramJaccardSql),
    "d05_knn_brute" -> Query(Similarity.bruteKnn, Similarity.bruteKnnSql),
    "d06_knn_lsh" -> Query(Similarity.lshKnn(_, _), Similarity.lshKnnSql),
    "d07_embed_neardup" -> Query(Similarity.embedNearDup, Similarity.embedNearDupSql),
    "d08_dedup_pipeline" -> Query(DedupResolve.dedupPipeline, DedupResolve.dedupPipelineSql),
    "d09_knn_ivf" -> Query(Similarity.ivfKnn(_, _, 16, 2, 200),
      Similarity.ivfKnnSqlFor(16, 2, 200)),
    "d10_decontaminate" -> Query(Decontaminate.flagOverlaps, Decontaminate.flagOverlapsSql),
    "d11_semantic_dedup" -> Query(DedupResolve.semanticDedupPipeline,
      DedupResolve.semanticDedupPipelineSql),
    "d12_simhash_pairs" -> Query(Dedup.simhashPairs(_, _, 4, 7), Dedup.simhashPairsSqlFor(4, 7)),
    "d13_lsh_verified" -> Query(Dedup.lshVerifiedPairs(_, _), Dedup.lshVerifiedPairsSql),
    "d14_dedup_corpus" -> Query(DedupResolve.corpusDedupPipeline(_, _),
      DedupResolve.corpusDedupPipelineSql),
    "d15_curate" -> Query(Curate.curate, Curate.curateSql),
    "d16_semantic_corpus" -> Query(DedupResolve.semanticCorpusPipeline(_, _),
      DedupResolve.semanticCorpusPipelineSql),
    // d17: the higher-recall ladder, k = 48 in bandsFor(0.8, 48) = 6
    // bands of 8 — S-curve midpoint ≈ 0.80, ON the verify threshold, so a
    // true pair at j = 0.8 surfaces with p ≈ 0.66 (vs ≈ 0.52 at the
    // shipped 4×8) for more sub-threshold candidates at the verifier
    "d17_lsh_verified_k48" -> Query(Dedup.lshVerifiedPairs(_, _, 48, 8, 0.6, 0.8),
      Dedup.lshVerifiedPairsSqlFor(48, 8, 0.6, 0.8)),
    // parameter-grid gates: non-shipped (k, bands) / (tables, bits) points,
    // oracles generated from the same arguments — they gate the knob
    // plumbing (band construction, est arithmetic, verify threshold), not
    // just the shipped calibration. d18: k=16 in 2 bands of 8, the
    // low-recall corner (midpoint ≈ 0.92); d19: k=32 in 8 bands of 4, the
    // high-recall/noisy-est corner (midpoint ≈ 0.56)
    "d18_lsh_grid_k16x8" -> Query(Dedup.lshVerifiedPairs(_, _, 16, 8, 0.6, 0.8),
      Dedup.lshVerifiedPairsSqlFor(16, 8, 0.6, 0.8)),
    "d19_lsh_grid_k32x4" -> Query(Dedup.lshVerifiedPairs(_, _, 32, 4, 0.6, 0.8),
      Dedup.lshVerifiedPairsSqlFor(32, 4, 0.6, 0.8)),
    // d20: 4 tables × 8 bits — the same 32 planes regrouped into finer
    // buckets (fewer, higher-precision candidates than the shipped 8×4)
    "d20_signlsh_grid_4x8" -> Query(
      Similarity.signLshPairs(_, _, nTables = 4, bits = 8, minCos = 0.35),
      Similarity.signLshPairsSqlFor(4, 8, 0.35)),
    // the CAPPED ladder: d13's defaults at bucketCap=32, the cap replayed
    // in the oracle (window filter over the same bucket key) — gates the
    // skew guard. At sf0.1 this cap collapses the anchor-bucket flood
    // (14.7k → 5.2k candidates) with no change to the verified output
    // (SCALING.md §3b); at 100 TB the cap is mandatory
    "d21_lsh_capped" -> Query(Dedup.lshVerifiedPairs(_, _, 32, 8, 0.6, 0.8, bucketCap = 32),
      Dedup.lshVerifiedPairsSqlFor(32, 8, 0.6, 0.8, bucketCap = 32)),
    // d22: d12 at the FULL pigeonhole guarantee — 8 bands of 4 bits cover
    // Hamming ≤ 7 completely, for coarser 16-value buckets (sf0.1: ~6M
    // band-join rows, 5.4 s vs 1.9 s for 4×8), which is why it is a grid
    // point and not the shipped default
    "d22_simhash_b8" -> Query(Dedup.simhashPairs(_, _, 8, 7), Dedup.simhashPairsSqlFor(8, 7)),
    // d23: the IVF retuned point the scale runs measured best (64 cells,
    // 4 probes — recall 0.93 on a 6% scan at ×50, SCALING.md §3b)
    "d23_ivf_grid_64x4" -> Query(Similarity.ivfKnn(_, _, 64, 4, 200),
      Similarity.ivfKnnSqlFor(64, 4, 200)),
    // the AUTO-CALIBRATED gate: bits derived from the corpus count (the
    // measured log2(n/target) law), derivation replayed in the oracle CTE;
    // targetBucket=31 so the derived bits differ across SFs (4 bits at
    // sf0.001/sf0.01, 6 at sf0.1) — the shipped 125 derives 4 everywhere
    "d24_signlsh_autobits" -> Query(
      Similarity.signLshPairs(_, _, nTables = 8, minCos = 0.35, targetBucket = 31, minBits = 4),
      Similarity.signLshPairsAutoSqlFor(8, 31, 4, 0.35)),
    // d22's production posture: full-guarantee 8-band simhash + bucketCap,
    // the cap replayed in the oracle window filter (the d21 pattern);
    // capping voids the ≤ 7 guarantee where buckets overflow, so the gate
    // pins the combination's correctness, recall being the cap's choice
    "d25_simhash_b8_capped" -> Query(Dedup.simhashPairs(_, _, 8, 7, Dedup.simhashCapGate),
      Dedup.simhashPairsSqlFor(8, 7, Dedup.simhashCapGate)),
    // the ANN tables knob at the measured production point (d23's pattern
    // for the sign-LSH kNN surface): retuned bits alone collapse recall
    // (0.38 at ×10), so production retunes bits AND scales tables; at the
    // driver SFs the retuned bits are the shipped 4 — 32 tables × 4 bits
    "d26_knn_lsh_t32" -> Query(Similarity.lshKnn(_, _, nTables = 32, bits = 4),
      Similarity.lshKnnSqlFor(32, 4)),
    // d27: substring-granularity dedup — maximal duplicated token spans.
    // d27-d29 and d36 run at k=8 tokens: long enough that word-salad
    // coincidences are rare (the hits are the planted twins' shared
    // regions), short enough that the gates exercise multi-gram islands
    "d27_dup_spans" -> Query(SpanDedup.dupSpans(_, _, 8), SpanDedup.dupSpansSqlFor(8)),
    "d28_strip_spans" -> Query(SpanDedup.stripSpans(_, _, 8), SpanDedup.stripSpansSqlFor(8)),
    "d29_contam_spans" -> Query(SpanDedup.contamSpans(_, _, 8), SpanDedup.contamSpansSqlFor(8)),
    // d30: int8 scalar-quantized kNN — integer-exact ranking kernel
    "d30_knn_sq8" -> Query(Similarity.sq8Knn, Similarity.sq8KnnSql),
    // d31: IVF-SQ8 — cell-probed candidates, integer sq8 re-rank, at the
    // shipped IVF defaults
    "d31_knn_ivf_sq8" -> Query(Similarity.ivfSq8Knn(_, _, 16, 2, 200),
      Similarity.ivfSq8KnnSqlFor(16, 2, 200)),
    // d32: IVF-SQ8 at the measured production grid point (64x4: d23's
    // retuning composed with scalar quantization — 0.92 recall at ×200 on
    // a 6% scan, SCALING.md §3d)
    "d32_ivf_sq8_64x4" -> Query(Similarity.ivfSq8Knn(_, _, 64, 4, 200),
      Similarity.ivfSq8KnnSqlFor(64, 4, 200)),
    // d33: curation v2 — the COMPOSED ingest chain (strip spans -> PII
    // redact -> quality filter -> source quota -> seq-pack), one oracle
    // pinning every stage boundary
    "d33_curate_v2" -> Query(Curate.curateV2(_, _, 8, 12, 256),
      Curate.curateV2SqlFor(8, 12, 256)),
    // d34: sq8 in the packed binary production layout; the oracle rebuilds
    // each code's hex transcription, so the byte layout is gated
    "d34_sq8_packed" -> Query(Similarity.sq8KnnPacked, Similarity.sq8KnnPackedSql),
    // d35: packed codes through the IVF candidate join (what shuffles), at
    // d31's grid point against d31's layout-independent oracle
    "d35_ivf_sq8_packed" -> Query(Similarity.ivfSq8KnnPacked(_, _, 16, 2, 200),
      Similarity.ivfSq8KnnSqlFor(16, 2, 200)),
    // d36: d29's answer through the sketch-broadcast posture — Bloom
    // prefilter + exact verify; same oracle as d29 BY DESIGN (the sketch
    // must change the plan, never the answer)
    "d36_contam_bloom" -> Query(SpanDedup.contamSpansBloom(_, _, 8),
      SpanDedup.contamSpansSqlFor(8)),
    // d37: curation v3 — v2 plus the t17 repetition cut (over REDACTED
    // text, pre-quota) and the t18 window-grain training layout
    "d37_curate_v3" -> Query(Curate.curateV3(_, _, 8, 12, 256, 3, 0.1, 4),
      Curate.curateV3SqlFor(8, 12, 256, 3, 0.1, 4)),
    // d38: curation v4 — v3 plus the t22 LEARNED quality gate as stage
    // 3' (model trained on the chain's own survivors, applied as a
    // literal map — row-local, no join-back, text still never shuffles)
    "d38_curate_v4" -> Query(Curate.curateV4(_, _, 8, 12, 256, 3, 0.1, 4),
      Curate.curateV4SqlFor(8, 12, 256, 3, 0.1, 4)),
    // d41: v4 with the approx-percentile teacher calibration (the 100-TB
    // arm) — same oracle as d38 BY DESIGN: at verify SFs the quantile
    // sketch is exact, so the arm changes the calibration plan, never
    // the answer (exact≡approx additionally spec-pinned)
    "d41_curate_v4_approx" -> Query((s, dir) =>
      Curate.curateV4Df(Tables.documents(s, dir), 8, 12, 256, 3, 0.1, 4, approxTeacher = true),
      Curate.curateV4SqlFor(8, 12, 256, 3, 0.1, 4)),
    "t01_doc_stats" -> Query(TextAnalysis.docStats, TextAnalysis.docStatsSql),
    "t02_lang_dist" -> Query(TextAnalysis.langDistribution, TextAnalysis.langDistributionSql),
    "t03_token_counts" -> Query(TextAnalysis.tokenCounts, TextAnalysis.tokenCountsSql),
    "t04_fingerprint" -> Query(TextAnalysis.fingerprints, TextAnalysis.fingerprintsSql),
    "t05_quality_filter" -> Query(TextAnalysis.qualityFilter, TextAnalysis.qualityFilterSql),
    "t06_bigrams" -> Query(TextAnalysis.bigramCounts, TextAnalysis.bigramCountsSql),
    "t07_term_importance" -> Query(TextAnalysis.termImportance, TextAnalysis.termImportanceSql),
    "t08_profile" -> Query(TextAnalysis.profile, TextAnalysis.profileSql),
    "t09_char_diversity" -> Query(TextAnalysis.charDiversity, TextAnalysis.charDiversitySql),
    "t10_repetition" -> Query(TextAnalysis.repetition, TextAnalysis.repetitionSql),
    // t11/t12: the corpus holds 25 docs/source at sf0.001/sf0.01 and 250 at
    // sf0.1, so quota 12 and target 18 down-sample for real at every
    // verify SF (the keep-all cap branch is spec-covered in MixtureSpec)
    "t11_source_quota" -> Query(Mixture.sourceQuota(_, _, 12), Mixture.sourceQuotaSql(12)),
    "t12_mixture_sample" -> Query(Mixture.mixtureSample(_, _, 18L), Mixture.mixtureSampleSql(18L)),
    // t13 plants deterministic doc_id-derived PII in both engines (the
    // corpus has none organically), then gates detection + redaction
    "t13_pii_redact" -> Query(Pii.piiRedact, Pii.piiRedactSql),
    "t14_lm_typicality" -> Query(TextAnalysis.lmTypicality, TextAnalysis.lmTypicalitySql),
    // t15: budget 256 ≈ 4–5 synthetic docs per window at every verify SF,
    // so the packing exercises multi-doc windows AND straddling boundaries
    "t15_seq_pack" -> Query(Mixture.seqPack(_, _, 256), Mixture.seqPackSql(256)),
    // t16: vocabulary concentration + log-free Zipf doubling ratio
    "t16_vocab_conc" -> Query(TextAnalysis.vocabConcentration, TextAnalysis.vocabConcentrationSql),
    // t17: within-doc duplicated-gram coverage (Gopher repetition rule),
    // shuffle-free per-row HOFs; k=3 is where the corpus has real signal
    "t17_dup_gram_cov" -> Query(TextAnalysis.dupGramCoverage(_, _, k = 3),
      TextAnalysis.dupGramCoverageSqlFor(3)),
    // t18: deterministic shard + training order (seed-keyed permutation);
    // 8 shards ≈ 60–640 docs/shard across the verify SFs, so a broken rank
    // or a wrong modulus shifts thousands of (shard, ord) values
    "t18_shard_order" -> Query(Mixture.shardOrder(_, _, 8, "epoch0"),
      Mixture.shardOrderSql(8, "epoch0")),
    // t19: language-ID heuristic over PLANTED doc_id-derived language
    // markers (the corpus lang column is a label only — raw text would
    // gate a constant); every branch exercised per run
    "t19_lang_guess" -> Query(TextAnalysis.langGuessPlanted, TextAnalysis.langGuessPlantedSql),
    // t20/t21: BPE vocabulary induction — learning over the word-frequency
    // table (never the corpus), merge-by-merge oracle replay.
    "t20_bpe_merges" -> Query(Bpe.merges, Bpe.mergesSql),
    "t21_bpe_vocab" -> Query(Bpe.vocab, Bpe.vocabSql),
    // t22: learned quality — integer-count NB-style scorer distilled from
    // the t05 heuristic, gated on the held-out split, broadcast model join
    "t22_nb_quality" -> Query(LearnedQuality.nbQuality, LearnedQuality.nbQualitySql),
    // t23: per-doc token counts under the LEARNED vocabulary (the apply
    // surface packing/token-budget stages consume)
    "t23_bpe_doc_tokens" -> Query(Bpe.docTokens, Bpe.docTokensSql),
    "m01_media_stats" -> Query(Multimodal.mediaStats, Multimodal.mediaStatsSql),
    // m02 pins the FIXED-threshold plumbing (h=5); the shipped default is
    // AutoHamming, gated by m05 with the derivation replayed in the oracle
    "m02_phash_neardup" -> Query(Multimodal.phashPairs(_, _, maxHamming = 5),
      Multimodal.phashPairsSqlFor(5)),
    // m03: m02's grid twin — a DIFFERENT lossless banding (4 bands of 15
    // bits, Hamming ≤ 3 < bands) against the same banding-independent
    // all-pairs oracle, so the (bands, maxHamming) plumbing is gated
    "m03_phash_grid_h3" -> Query(Multimodal.phashPairs(_, _, bands = 4, maxHamming = 3),
      Multimodal.phashPairsSqlFor(3)),
    // m04: 6 bands at hamming ≤ 4 — every such pair shares ≥ 2 of the 6
    // bands, so the distinct over the per-band join rows must fold each
    // pair, found in 2 to 6 bands, into one row. The name is that of a
    // retired ≥ 2-shared-bands cut, inert by pigeonhole at these arguments
    "m04_phash_minbands" -> Query(Multimodal.phashPairs(_, _, bands = 6, maxHamming = 4),
      Multimodal.phashPairsSqlFor(4)),
    // m05: AutoHamming — threshold derived from the corpus count, the
    // HUGEINT CTE re-derives it oracle-side (h=4 at sf0.01 vs m02's 5)
    "m05_phash_auto" -> Query(
      Multimodal.phashPairs(_, _, budgetLog2 = Multimodal.autoGateBudgetLog2),
      Multimodal.phashPairsAutoSqlFor(Multimodal.autoGateBudgetLog2)),
    // m06: REAL codec behind the decoder seam — genuine P6 PPM byte
    // streams parsed by PpmCodec; oracle replays the generative formula
    "m06_ppm_decode" -> Query(Multimodal.ppmDecodeStats, Multimodal.ppmDecodeStatsSql),
    // m07: the resize/thumbnail path over real parses (box-fit integer
    // arithmetic replayed in the oracle)
    "m07_ppm_resize" -> Query(Multimodal.ppmResize(_, _, 32), Multimodal.ppmResizeSqlFor(32)),
    // t24: BPE train/apply split — merge replay segments UNSEEN words
    "t24_bpe_heldout" -> Query(Bpe.heldoutTokens, Bpe.heldoutTokensSql),
    // t25: per-occurrence token IDS under the learned vocab (the
    // trainer-facing tokenizer output; frequency-ranked id dictionary)
    "t25_bpe_token_ids" -> Query(Bpe.tokenIds, Bpe.tokenIdsSql),
    // t26: t15's packing budgeted by BPE token counts (training budgets
    // are measured in BPE tokens, not whitespace words)
    "t26_bpe_seq_pack" -> Query(Bpe.bpeSeqPack(_, _, 256), Bpe.bpeSeqPackSqlFor(256)),
    // The lifecycle gates are IndexScenario rows: a base split, a list of
    // appends/deletes, a cap, over one maintained family; each answer is
    // one read of the published generation.
    //
    // d39: incremental corpus-append dedup — base = the 80% doc_id split,
    // the 20% delta appended through the maintained bucketed index
    // against the PERSISTED artifacts (hashes + signatures + resolved
    // labels); oracle = the full-corpus rerun SQL, so hash-matching it
    // IS the incremental==full equivalence proof
    "d39_incremental_dedup" -> Query(IndexScenario.run(_, _, IncrementalDedup.Family(),
      Row(col("doc_id") % 5 < 4, Seq(Append(col("doc_id") % 5 >= 4)))),
      DedupResolve.corpusDedupPipelineSql),
    // d40: IVF-SQ8 index PERSISTENCE — train, write the parquet index
    // (centroids + cells + packed codes), read it back, serve kNN from
    // the loaded artifacts; d31's layout-independent oracle (the seam
    // changes where the index lives, never the answer)
    "d40_knn_index_load" -> Query(IndexScenario.run(_, _,
      Similarity.IvfSq8Family(nCells = 16, sampleN = 200, nProbe = 2), Row(lit(true))),
      Similarity.ivfSq8KnnSqlFor(16, 2, 200)),
    // d42: incremental corpus-append SIMHASH pairs at d12's grid point —
    // delta bands probe the persisted bucketed band table; persisted
    // corpus pairs union delta-involved pairs; oracle = d12's full-rerun
    // banded-join SQL
    "d42_incremental_simhash" -> Query(IndexScenario.run(_, _, IncrementalSig.simhash(4),
      Row(col("doc_id") % 5 < 4, Seq(Append(col("doc_id") % 5 >= 4)))),
      Dedup.simhashPairsSqlFor(4, 7)),
    // d43: incremental corpus-append DECONTAMINATION — delta docs probe
    // the persisted Bloom sketch + bucketed gram table; per-doc spans
    // are independent, so yesterday's spans union the delta's IS the
    // full rerun (d29's oracle — three plans, one answer with d36)
    "d43_incremental_decontam" -> Query(IncrementalContam.appendDecontam(_, _, 8),
      SpanDedup.contamSpansSqlFor(8)),
    // m08: incremental corpus-append PHASH pairs over the media corpus
    // (60 bits, 6 bands, Hamming ≤ 5) — pigeonhole-lossless banding
    // through the persistence seam, so the oracle stays m02's all-pairs
    // Hamming SQL. The signatures are checkpointed once: the windowed md5
    // vote per payload is the kernel every step would otherwise re-run
    // (sf0.1, 4 vCPUs: 20% faster checkpointed; SimHash's codegen'd
    // kernel gained under 10%, so its gates re-run the kernel)
    "m08_incremental_phash" -> Query(IndexScenario.run(_, _,
      new IncrementalSig.Family("phash", 60, 6, 5, (s, dir) =>
        Multimodal.perceptualHash(Multimodal.mediaTable(s, dir)).toDF().transform(Ckpt.eager)),
      Row(col("doc_id") % 5 < 4, Seq(Append(col("doc_id") % 5 >= 4)))),
      Multimodal.phashPairsSqlFor(5)),
    // d44: incremental VECTOR APPEND to the persisted ANN index — delta
    // vectors assigned to the FROZEN coarse quantizer + SQ8-coded;
    // oracle = the frozen-quantizer rebuild (centroid CTEs trained on
    // the corpus split, everything else over all vectors)
    "d44_knn_index_append" -> Query(IndexScenario.run(_, _, Similarity.IvfSq8Family(),
      Row(col("vec_id") % 5 < 4, Seq(Append(col("vec_id") % 5 >= 4)))),
      Similarity.ivfSq8IndexAppendSql),
    // d45: incremental corpus-append SEMANTIC dedup — the sign-LSH
    // embedding family under the persisted-index pattern at PINNED
    // geometry (an incremental index cannot re-derive AutoBits per
    // append); oracle = the full rerun at the same fixed geometry
    "d45_incremental_semantic" -> Query(IndexScenario.run(_, _, IncrementalSemantic.Family,
      Row(col("vec_id") % 5 < 4, Seq(Append(col("vec_id") % 5 >= 4)))),
      IncrementalSemantic.semanticAppendSql),
    // d46: MULTI-append through a MAINTAINED index — base = the 40%
    // split, three chained 20% deltas, each written back INTO the
    // persisted artifacts (bucketed appends + labels rewrite), each
    // reading its predecessor's state; oracle = the same full-rerun SQL
    // as d39 (k appends change the cost model, never the answer)
    "d46_multi_append_dedup" -> Query(IndexScenario.run(_, _, IncrementalDedup.Family(),
      Row(col("doc_id") % 5 < 2, (2 to 4).map(m => Append(col("doc_id") % 5 === m)))),
      DedupResolve.corpusDedupPipelineSql),
    // d47: DELETION from the persisted index (takedowns of every doc_id ≡
    // 3 mod 7, which hits cluster representatives, bridges and exact-dup
    // group minima) — tombstoned artifacts + touched-cluster re-resolution
    // from the persisted pair evidence (labels alone can't split a cluster
    // whose bridge died); oracle = the full rerun over the surviving corpus
    "d47_incremental_delete" -> Query(IndexScenario.run(_, _, IncrementalDedup.Family(),
      Row(lit(true), Seq(Delete(col("doc_id") % 7 === 3)))),
      DedupResolve.corpusDedupPipelineSqlWhere("doc_id % 7 <> 3")),
    // d48: deletion from the SIGNATURE index at d12's grid point — the pair
    // list is the artifact (no cluster stage to repair), so takedown =
    // tombstone + filtered load; oracle = the full rerun over the
    // surviving corpus
    "d48_signature_delete" -> Query(IndexScenario.run(_, _, IncrementalSig.simhash(4),
      Row(lit(true), Seq(Delete(col("doc_id") % 7 === 3)))),
      Dedup.simhashPairsSqlFor(4, 7, docWhere = "WHERE doc_id % 7 <> 3")),
    // d49: deletion from the SEMANTIC index — tombstoned buckets +
    // touched-cluster re-resolution from persisted pair evidence (the
    // d47 machinery, minus text's exact-hash channel); oracle = the
    // full rerun over surviving vectors at the pinned geometry
    "d49_semantic_delete" -> Query(IndexScenario.run(_, _, IncrementalSemantic.Family,
      Row(lit(true), Seq(Delete(col("vec_id") % 7 === 3)))),
      IncrementalSemantic.semanticDeleteSql),
    // d50: MULTI-append through a MAINTAINED signature index — base = the
    // 25% split, three chained deltas written back into the
    // band/count/pair artifacts; oracle = d12's unchanged full-rerun
    // banded-join SQL (banding is per-doc deterministic, so after append
    // k the artifacts equal a full run's over the accumulated corpus)
    "d50_signature_multi_append" -> Query(IndexScenario.run(_, _, IncrementalSig.simhash(4),
      Row(col("doc_id") % 4 === 0, (1 to 3).map(m => Append(col("doc_id") % 4 === m)))),
      Dedup.simhashPairsSqlFor(4, 7)),
    // d51: CAPPED maintained appends with a persisted cap ledger — the
    // capped posture's rerun-reproducible definition (r16 VERDICT #2):
    // three chained capped appends; oracle = the epoch-capped full
    // rerun (suppression re-derived from running bucket populations).
    // 8 bands of 4 bits, Hamming ≤ 7, cap 64: 4-bit buckets are dense
    // enough that the cap BINDS at the verify SFs — a ledger gate whose
    // ledger is empty gates nothing
    "d51_capped_ledger_append" -> Query(IndexScenario.run(_, _, IncrementalSig.simhash(8),
      Row(col("doc_id") % 4 === 0, (1 to 3).map(m => Append(col("doc_id") % 4 === m)), 64)),
      IncrementalSig.simhashPairsEpochCappedSql(8, 7, 64, 4)),
    // d52: the d51 contract on the MINHASH family (8×4 banding, cap
    // LedgerCap) — capped maintained appends with a persisted ledger,
    // answer = the resolved KEPT set; oracle = epoch-capped verified
    // pairs ∪ exact stars → closure
    "d52_capped_ledger_dedup" -> Query(IndexScenario.run(_, _,
      IncrementalDedup.Family(rowsPerBand = 4), Row(col("doc_id") % 4 === 0,
        (1 to 3).map(m => Append(col("doc_id") % 4 === m)), IncrementalDedup.LedgerCap)),
      IncrementalDedup.cappedMultiAppendDedupSql),
    // d53: the d51 contract on the SEMANTIC (embedding) family — capped
    // maintained appends with a persisted (table_id, bucket) ledger and
    // a scale-adaptive cap; answer = the resolved kept vec_ids; oracle =
    // epoch-capped sign-LSH pairs (cap re-derived from COUNT(*)) →
    // cosine verify → closure
    "d53_capped_ledger_semantic" -> Query(IndexScenario.run(_, _, IncrementalSemantic.Family,
      Row(col("vec_id") % 4 === 0, (1 to 3).map(m => Append(col("vec_id") % 4 === m)),
        Dedup.AutoCap)),
      IncrementalSemantic.cappedSemanticSqlFor(4)),
    // d54: IVF-KNN at DERIVED geometry — cellsFor/probeFor/sampleFor
    // from one count() (the d24 AutoBits discipline on the ANN family);
    // oracle replays the derivation from COUNT(*) in SQL
    "d54_ivf_auto_geometry" -> Query(Similarity.ivfKnnAuto, Similarity.ivfKnnAutoSql),
    // d55: DELETION on the capped LEDGERED minhash index (r18 VERDICT
    // #1): capped build + append, a takedown of already-arrived docs
    // BETWEEN capped appends (so appends after a delete stay
    // rerun-reproducible), another capped append; oracle = epoch-capped
    // pairs over the FULL arrival history restricted to survivors +
    // survivor-recomputed exact stars → closure → kept over survivors
    // (why the ledger stays valid: cappedLedgerDeleteDedupSql's doc)
    "d55_ledgered_delete_dedup" -> Query(IndexScenario.run(_, _,
      IncrementalDedup.Family(rowsPerBand = 4), Row(col("doc_id") % 3 === 0, Seq(
        Append(col("doc_id") % 3 === 1),
        Delete(col("doc_id") % 7 === 3 && col("doc_id") % 3 <= 1),
        Append(col("doc_id") % 3 === 2)), IncrementalDedup.LedgerCap)),
      IncrementalDedup.cappedLedgerDeleteDedupSql),
    // d56: the d55 contract on the SEMANTIC family — takedown between
    // capped ledgered appends on embeddings; suppression derives from
    // full history, endpoints and kept set restrict to survivors (no
    // exact-star channel, so restriction alone is the whole repair)
    "d56_ledgered_delete_semantic" -> Query(IndexScenario.run(_, _, IncrementalSemantic.Family,
      Row(col("vec_id") % 3 === 0, Seq(
        Append(col("vec_id") % 3 === 1),
        Delete(col("vec_id") % 7 === 3 && col("vec_id") % 3 <= 1),
        Append(col("vec_id") % 3 === 2)), Dedup.AutoCap)),
      IncrementalSemantic.cappedSemanticSqlFor(3, Some("(@ % 7 = 3 AND @ % 3 <= 1)"))),
  )
}

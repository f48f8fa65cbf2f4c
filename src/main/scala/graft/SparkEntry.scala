package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Compositions, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's public inventory: one entry per operator from
  * SURVEY.md §2 (plus the LLM-pipeline extensions), each paired with a
  * DuckDB oracle in `oracleSql` whose column names and arithmetic match
  * bit-for-bit (see graft.queries.Exact for why decimal accumulation).
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §2C #33) on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Compositions.fieldFrequency(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2C compositions — the reference's own demonstrated workloads
    "q01_field_freq"    -> (Compositions.fieldFrequency _),
    "q02_sum_by_key"    -> (Compositions.sumByKey _),
    "q03_wordcount"     -> (Compositions.wordCount _),
    "q04_multistep"     -> (Compositions.multiStep _),
    "q05_filtered"      -> (Compositions.filteredCount _),
    // §2A dataflow core run through the typed MR path (mapper → combiner →
    // hash+sort shuffle → sorted-run reducer) and the typed Aggregator
    "q06_mr_field_freq" -> (graft.mr.MrQueries.mrFieldFreq _),
    "q07_typed_agg"     -> (graft.mr.MrQueries.typedAgg _),
    "q08_mapside_join"  -> ((s, dir) => graft.mr.MrQueries.mapSideJoin(s, dir)),
    "q09_mr_multistep"  -> (graft.mr.MrQueries.mrMultiStep _),
    // Relational surface (user-space compositions in the MR model)
    "q10_join_broadcast" -> (Relational.joinBroadcast _),
    "q11_join_large"     -> (Relational.joinLarge _),
    "q12_semi_join"      -> (Relational.semiJoin _),
    "q13_anti_join"      -> (Relational.antiJoin _),
    "q14_distinct"       -> (Relational.distinctPairs _),
    "q15_topk_group"     -> (Relational.topKPerGroup _),
    "q16_topk_global"    -> (Relational.topKGlobal _),
    "q17_rollup"         -> (Relational.rollupAgg _),
    "q18_cube"           -> (Relational.cubeAgg _),
    "q19_setops"         -> (Relational.setOps _),
    "q20_pricing_summary"   -> (Relational.pricingSummary _),
    "q21_shipping_priority" -> (Relational.shippingPriority _),
    "q22_running_sum"    -> (Relational.runningSum _),
    "q23_scalar_funcs"   -> (Relational.scalarFunctions _),
    "q24_sessionize"     -> (Relational.sessionize _),
    "q25_histogram"      -> (Relational.histogram _),
    "q26_time_window"    -> (Relational.timeWindow _),
    "q27_asof_join"      -> (Relational.asofJoin _),
    "q28_pivot"          -> (Relational.pivotCounts _),
    "q29_distinct_counts" -> (Relational.distinctCounts _),
    "q30_hash_sample"    -> (Relational.hashSample _),
    "q31_salted_agg"     -> (Relational.saltedAgg _),
    "q32_fuzzy_pairs"    -> (Relational.fuzzyPairs _),
    "q33_discrete_median" -> (Relational.discreteMedian _),
    "q34_collect_types"  -> (Relational.collectTypes _),
    "q35_outer_join"     -> (Relational.outerJoin _),
    "q36_setops_all"     -> (Relational.setOpsAll _),
    "q37_null_group"     -> (Relational.nullGroup _),
    "q38_above_nation_avg" -> (Relational.aboveNationAvg _),
    "q39_session_window" -> (Relational.sessionWindowNative _),
    "q40_date_functions" -> (Relational.dateFunctions _),
    "q41_string_functions" -> (Relational.stringFunctions _),
    "q42_json_extract"   -> (Compositions.jsonExtractSum _),
    "q43_topk_custom_op" -> (Relational.topKCustomOp _),
    "q44_grouping_sets"  -> (Relational.groupingSets _),
    "q45_array_functions" -> (Relational.arrayFunctions _),
    "q46_stratified_sample" -> (Relational.stratifiedSample _),
    "q47_variant_json"   -> (Compositions.variantExtract _),
    "q48_left_join"      -> (Relational.leftJoinCounts _),
    "q49_window_misc"    -> (Relational.windowMisc _),
    "q50_range_join"     -> (Relational.rangeJoin _),
    "q51_having"         -> (Relational.havingFilter _),
    "q52_cogroup_join"   -> (graft.mr.MrQueries.cogroupJoin _),
    "q53_explode_outer"  -> (Relational.explodeOuter _),
    // LLM-pipeline extensions: dedup, similarity, text analysis, multimodal
    "d01_dedup_exact"    -> (graft.llm.Dedup.exact _),
    // banding/threshold arguments default to the shipped calibration —
    // explicit lambdas because default-arg methods don't eta-expand to
    // the 2-ary shape
    "d02_dedup_minhash"  -> ((s, dir) => graft.llm.Dedup.minhashLsh(s, dir)),
    "d03_dedup_simhash"  -> (graft.llm.Dedup.simhash _),
    "d04_ngram_jaccard"  -> (graft.llm.Dedup.ngramJaccard _),
    "d05_knn_brute"      -> (graft.llm.Similarity.bruteKnn _),
    "d06_knn_lsh"        -> ((s, dir) => graft.llm.Similarity.lshKnn(s, dir)),
    "d07_embed_neardup"  -> (graft.llm.Similarity.embedNearDup _),
    "d08_dedup_pipeline" -> (graft.llm.DedupResolve.dedupPipeline _),
    "d09_knn_ivf"        -> ((s, dir) => graft.llm.Similarity.ivfKnn(s, dir)),
    "d10_decontaminate"  -> (graft.llm.Decontaminate.flagOverlaps _),
    "d11_semantic_dedup" -> (graft.llm.DedupResolve.semanticDedupPipeline _),
    "d12_simhash_pairs"  -> ((s, dir) => graft.llm.Dedup.simhashPairs(s, dir)),
    "d13_lsh_verified"   -> ((s, dir) => graft.llm.Dedup.lshVerifiedPairs(s, dir)),
    "d14_dedup_corpus"   -> ((s, dir) => graft.llm.DedupResolve.corpusDedupPipeline(s, dir)),
    "d15_curate"         -> (graft.llm.Curate.curate _),
    "d16_semantic_corpus" -> ((s, dir) => graft.llm.DedupResolve.semanticCorpusPipeline(s, dir)),
    "d17_lsh_verified_k48" -> (graft.llm.Dedup.lshVerifiedK48 _),
    // parameter-grid gates: non-shipped (k, bands) / (tables, bits) points,
    // oracles generated from the same arguments — they gate the knob
    // plumbing, not just the shipped calibration
    "d18_lsh_grid_k16x8"  -> (graft.llm.Dedup.lshVerifiedK16 _),
    "d19_lsh_grid_k32x4"  -> (graft.llm.Dedup.lshVerifiedB8 _),
    "d20_signlsh_grid_4x8" -> (graft.llm.Similarity.signLshPairs4x8 _),
    // the CAPPED ladder: bucketCap=32 with the cap replayed in the oracle
    // (window filter over the same bucket key) — gates the skew guard
    "d21_lsh_capped"     -> (graft.llm.Dedup.lshVerifiedCapped _),
    "d22_simhash_b8"     -> (graft.llm.Dedup.simhashPairsB8 _),
    "d23_ivf_grid_64x4"  -> (graft.llm.Similarity.ivfKnn64 _),
    // the AUTO-CALIBRATED gate: bits derived from the corpus count (the
    // measured log2(n/target) law), derivation replayed in the oracle CTE;
    // targetBucket=31 so the derived bits actually differ across SFs
    "d24_signlsh_autobits" -> (graft.llm.Similarity.signLshPairsAuto _),
    // d22's production posture: full-guarantee 8-band simhash + bucketCap,
    // the cap replayed in the oracle window filter (the d21 pattern)
    "d25_simhash_b8_capped" -> (graft.llm.Dedup.simhashPairsB8Capped _),
    // the ANN tables knob at the measured production point (d23's pattern
    // for the sign-LSH kNN surface): 32 tables, oracle from the same args
    "d26_knn_lsh_t32"    -> (graft.llm.Similarity.lshKnn32 _),
    // d27: substring-granularity dedup — maximal duplicated token spans
    "d27_dup_spans"      -> (graft.llm.SpanDedup.dupSpans8 _),
    "d28_strip_spans"    -> (graft.llm.SpanDedup.stripSpans8 _),
    "d29_contam_spans"   -> (graft.llm.SpanDedup.contamSpans8 _),
    // d30: int8 scalar-quantized kNN — integer-exact ranking kernel
    "d30_knn_sq8"        -> (graft.llm.Similarity.sq8Knn _),
    // d31: IVF-SQ8 — cell-probed candidates, integer sq8 re-rank
    "d31_knn_ivf_sq8"    -> (graft.llm.Similarity.ivfSq8Knn16 _),
    // d32: IVF-SQ8 at the measured production grid point (64x4)
    "d32_ivf_sq8_64x4"   -> (graft.llm.Similarity.ivfSq8Knn64 _),
    // d33: curation v2 — the COMPOSED ingest chain (strip spans -> PII
    // redact -> quality filter -> source quota -> seq-pack), one oracle
    // pinning every stage boundary
    "d33_curate_v2"      -> ((s, dir) => graft.llm.Curate.curateV2(s, dir)),
    // d34: sq8 in the packed binary production layout; the oracle rebuilds
    // each code's hex transcription, so the byte layout is gated
    "d34_sq8_packed"     -> (graft.llm.Similarity.sq8KnnPacked _),
    // d35: packed codes through the IVF candidate join (what shuffles)
    "d35_ivf_sq8_packed" -> (graft.llm.Similarity.ivfSq8KnnPacked16 _),
    // d36: d29's answer through the sketch-broadcast posture — Bloom
    // prefilter + exact verify; same oracle as d29 BY DESIGN (the sketch
    // must change the plan, never the answer)
    "d36_contam_bloom"   -> (graft.llm.SpanDedup.contamSpansBloom8 _),
    // d37: curation v3 — v2 plus the t17 repetition cut (over REDACTED
    // text, pre-quota) and the t18 window-grain training layout
    "d37_curate_v3"      -> ((s, dir) => graft.llm.Curate.curateV3(s, dir)),
    // d38: curation v4 — v3 plus the t22 LEARNED quality gate as stage
    // 3' (model trained on the chain's own survivors, applied as a
    // literal map — row-local, no join-back, text still never shuffles)
    "d38_curate_v4"      -> ((s, dir) => graft.llm.Curate.curateV4(s, dir)),
    // d41: v4 with the approx-percentile teacher calibration (the 100-TB
    // arm) — same oracle as d38 BY DESIGN: at verify SFs the quantile
    // sketch is exact, so the arm changes the calibration plan, never
    // the answer (exact≡approx additionally spec-pinned)
    "d41_curate_v4_approx" -> (graft.llm.Curate.curateV4Approx _),
    "t01_doc_stats"      -> (graft.llm.TextAnalysis.docStats _),
    "t02_lang_dist"      -> (graft.llm.TextAnalysis.langDistribution _),
    "t03_token_counts"   -> (graft.llm.TextAnalysis.tokenCounts _),
    "t04_fingerprint"    -> (graft.llm.TextAnalysis.fingerprints _),
    "t05_quality_filter" -> (graft.llm.TextAnalysis.qualityFilter _),
    "t06_bigrams"        -> (graft.llm.TextAnalysis.bigramCounts _),
    "t07_term_importance" -> (graft.llm.TextAnalysis.termImportance _),
    "t08_profile"        -> (graft.llm.TextAnalysis.profile _),
    "t09_char_diversity" -> (graft.llm.TextAnalysis.charDiversity _),
    "t10_repetition"     -> (graft.llm.TextAnalysis.repetition _),
    "t11_source_quota"   -> (graft.llm.Mixture.sourceQuota12 _),
    "t12_mixture_sample" -> (graft.llm.Mixture.mixtureSample18 _),
    // t13 plants deterministic doc_id-derived PII in both engines (the
    // corpus has none organically), then gates detection + redaction
    "t13_pii_redact"     -> (graft.llm.Pii.piiRedact _),
    "t14_lm_typicality"  -> (graft.llm.TextAnalysis.lmTypicality _),
    "t15_seq_pack"       -> (graft.llm.Mixture.seqPack256 _),
    // t16: vocabulary concentration + log-free Zipf doubling ratio
    "t16_vocab_conc"     -> (graft.llm.TextAnalysis.vocabConcentration _),
    // t17: within-doc duplicated-gram coverage (Gopher repetition rule),
    // shuffle-free per-row HOFs; k=3 is where the corpus has real signal
    "t17_dup_gram_cov"   -> ((s, dir) => graft.llm.TextAnalysis.dupGramCoverage(s, dir, k = 3)),
    // t18: deterministic shard + training order (seed-keyed permutation)
    "t18_shard_order"    -> (graft.llm.Mixture.shardOrder8 _),
    // t19: language-ID heuristic over PLANTED doc_id-derived language
    // markers (the corpus lang column is a label only — raw text would
    // gate a constant); every branch exercised per run
    "t19_lang_guess"     -> (graft.llm.TextAnalysis.langGuessPlanted _),
    // t20/t21: BPE vocabulary induction — learning over the word-frequency
    // table (never the corpus), merge-by-merge oracle replay.
    "t20_bpe_merges"     -> (graft.llm.Bpe.merges _),
    "t21_bpe_vocab"      -> (graft.llm.Bpe.vocab _),
    // t22: learned quality — integer-count NB-style scorer distilled from
    // the t05 heuristic, gated on the held-out split, broadcast model join
    "t22_nb_quality"     -> (graft.llm.LearnedQuality.nbQuality _),
    // t23: per-doc token counts under the LEARNED vocabulary (the apply
    // surface packing/token-budget stages consume)
    "t23_bpe_doc_tokens" -> (graft.llm.Bpe.docTokens _),
    "m01_media_stats"    -> (graft.llm.Multimodal.mediaStats _),
    // m02 pins the FIXED-threshold plumbing (h=5); the shipped default is
    // AutoHamming, gated by m05 with the derivation replayed in the oracle
    "m02_phash_neardup"  -> ((s, dir) => graft.llm.Multimodal.phashPairs(s, dir, maxHamming = 5)),
    "m03_phash_grid_h3"  -> (graft.llm.Multimodal.phashPairsH3 _),
    // m04: >=2 shared bands at hamming<=4 — inert by pigeonhole at these
    // arguments (see the honesty note); pins that the nb cut drops nothing
    "m04_phash_minbands" -> (graft.llm.Multimodal.phashPairsMin2 _),
    // m05: AutoHamming — threshold derived from the corpus count, the
    // HUGEINT CTE re-derives it oracle-side (h=4 at sf0.01 vs m02's 5)
    "m05_phash_auto"     -> (graft.llm.Multimodal.phashPairsAuto _),
    // m06: REAL codec behind the decoder seam — genuine P6 PPM byte
    // streams parsed by PpmCodec; oracle replays the generative formula
    "m06_ppm_decode"     -> (graft.llm.Multimodal.ppmDecodeStats _),
    // m07: the resize/thumbnail path over real parses (box-fit integer
    // arithmetic replayed in the oracle)
    "m07_ppm_resize"     -> ((s, dir) => graft.llm.Multimodal.ppmResize(s, dir)),
    // t24: BPE train/apply split — merge replay segments UNSEEN words
    "t24_bpe_heldout"    -> (graft.llm.Bpe.heldoutTokens _),
    // t25: per-occurrence token IDS under the learned vocab (the
    // trainer-facing tokenizer output; frequency-ranked id dictionary)
    "t25_bpe_token_ids"  -> (graft.llm.Bpe.tokenIds _),
    // t26: t15's packing budgeted by BPE token counts (training budgets
    // are measured in BPE tokens, not whitespace words)
    "t26_bpe_seq_pack"   -> ((s, dir) => graft.llm.Bpe.bpeSeqPack(s, dir)),
    // d39: incremental corpus-append dedup — delta batch deduped against
    // the PERSISTED corpus artifacts (hashes + signatures + resolved
    // labels); oracle = the full-corpus rerun SQL, so hash-matching it
    // IS the incremental==full equivalence proof
    "d39_incremental_dedup" -> (graft.llm.IncrementalDedup.appendDedup _),
    // d40: IVF-SQ8 index PERSISTENCE — train, write the parquet index
    // (centroids + cells + packed codes), read it back, serve kNN from
    // the loaded artifacts; d31's layout-independent oracle (the seam
    // changes where the index lives, never the answer)
    "d40_knn_index_load" -> (graft.llm.Similarity.ivfSq8KnnLoaded _),
    // d42: incremental corpus-append SIMHASH pairs — delta bands probe
    // the persisted bucketed band table; persisted corpus pairs union
    // delta-involved pairs; oracle = the full-rerun banded-join SQL
    "d42_incremental_simhash" -> (graft.llm.IncrementalSig.simhashAppend _),
    // d43: incremental corpus-append DECONTAMINATION — delta docs probe
    // the persisted Bloom sketch + bucketed gram table; per-doc spans
    // are independent, so yesterday's spans union the delta's IS the
    // full rerun (d29's oracle — three plans, one answer with d36)
    "d43_incremental_decontam" -> ((s, dir) =>
      graft.llm.IncrementalContam.appendDecontam(s, dir)),
    // m08: incremental corpus-append PHASH pairs over the media corpus —
    // pigeonhole-lossless banding through the persistence seam, so the
    // oracle stays the all-pairs Hamming SQL
    "m08_incremental_phash" -> (graft.llm.IncrementalSig.phashAppend _),
    // d44: incremental VECTOR APPEND to the persisted ANN index — delta
    // vectors assigned to the FROZEN coarse quantizer + SQ8-coded;
    // oracle = the frozen-quantizer rebuild (centroid CTEs trained on
    // the corpus split, everything else over all vectors)
    "d44_knn_index_append" -> (graft.llm.Similarity.ivfSq8IndexAppend _),
    // d45: incremental corpus-append SEMANTIC dedup — the sign-LSH
    // embedding family under the persisted-index pattern at PINNED
    // geometry (an incremental index cannot re-derive AutoBits per
    // append); oracle = the full rerun at the same fixed geometry
    "d45_incremental_semantic" -> (graft.llm.IncrementalSemantic.semanticAppend _),
    // d46: MULTI-append through a MAINTAINED index — three chained 20%
    // deltas, each written back INTO the persisted artifacts (bucketed
    // appends + labels rewrite), each reading its predecessor's state;
    // oracle = the same full-rerun SQL as d39 (k appends change the
    // cost model, never the answer)
    "d46_multi_append_dedup" -> (graft.llm.IncrementalDedup.multiAppendDedup _),
    // d47: DELETION from the persisted index (takedowns) — tombstoned
    // artifacts + touched-cluster re-resolution from the persisted pair
    // evidence (labels alone can't split a cluster whose bridge died);
    // oracle = the full rerun over the surviving corpus
    "d47_incremental_delete" -> (graft.llm.IncrementalDedup.deleteDedup _),
    // d48: deletion from the SIGNATURE index — the pair list is the
    // artifact (no cluster stage to repair), so takedown = tombstone +
    // filtered load; oracle = the full rerun over the surviving corpus
    "d48_signature_delete" -> (graft.llm.IncrementalSig.simhashDelete _),
    // d49: deletion from the SEMANTIC index — tombstoned buckets +
    // touched-cluster re-resolution from persisted pair evidence (the
    // d47 machinery, minus text's exact-hash channel); oracle = the
    // full rerun over surviving vectors at the pinned geometry
    "d49_semantic_delete" -> (graft.llm.IncrementalSemantic.semanticDelete _),
    // d50: MULTI-append through a MAINTAINED signature index — three
    // chained deltas written back into the band/count/pair artifacts;
    // oracle = the unchanged full-rerun banded-join SQL
    "d50_signature_multi_append" -> (graft.llm.IncrementalSig.simhashMultiAppend _),
    // d51: CAPPED maintained appends with a persisted cap ledger — the
    // capped posture's rerun-reproducible definition (r16 VERDICT #2):
    // three chained capped appends; oracle = the epoch-capped full
    // rerun (suppression re-derived from running bucket populations)
    "d51_capped_ledger_append" -> (graft.llm.IncrementalSig.cappedMultiAppend _),
    // d52: the d51 contract on the MINHASH family — capped maintained
    // appends with a persisted ledger, answer = the resolved KEPT set;
    // oracle = epoch-capped verified pairs ∪ exact stars → closure
    "d52_capped_ledger_dedup" -> (graft.llm.IncrementalDedup.cappedMultiAppendDedup _),
    // d53: the d51 contract on the SEMANTIC (embedding) family — capped
    // maintained appends with a persisted (table_id, bucket) ledger and
    // a scale-adaptive cap; answer = the resolved kept vec_ids; oracle =
    // epoch-capped sign-LSH pairs (cap re-derived from COUNT(*)) →
    // cosine verify → closure
    "d53_capped_ledger_semantic" -> (graft.llm.IncrementalSemantic.cappedSemanticMultiAppend _),
    // d54: IVF-KNN at DERIVED geometry — cellsFor/probeFor/sampleFor
    // from one count() (the d24 AutoBits discipline on the ANN family);
    // oracle replays the derivation from COUNT(*) in SQL
    "d54_ivf_auto_geometry" -> (graft.llm.Similarity.ivfKnnAuto _),
    // d55: DELETION on the capped LEDGERED minhash index (r18 VERDICT
    // #1): capped build + append, an interleaved takedown, another
    // capped append; oracle = epoch-capped pairs over the FULL arrival
    // history restricted to survivors + survivor-recomputed exact
    // stars → closure → kept over survivors
    "d55_ledgered_delete_dedup" -> (graft.llm.IncrementalDedup.cappedLedgerDeleteDedup _),
    // d56: the d55 contract on the SEMANTIC family — takedown between
    // capped ledgered appends on embeddings; suppression derives from
    // full history, endpoints and kept set restrict to survivors
    "d56_ledgered_delete_semantic" -> (graft.llm.IncrementalSemantic.cappedSemanticLedgerDelete _),
  )

  def oracleSql: Map[String, String] = Map(
    "q01_field_freq"    -> Compositions.fieldFrequencySql,
    "q02_sum_by_key"    -> Compositions.sumByKeySql,
    "q03_wordcount"     -> Compositions.wordCountSql,
    "q04_multistep"     -> Compositions.multiStepSql,
    "q05_filtered"      -> Compositions.filteredCountSql,
    "q06_mr_field_freq" -> graft.mr.MrQueries.mrFieldFreqSql,
    "q07_typed_agg"     -> graft.mr.MrQueries.typedAggSql,
    "q08_mapside_join"  -> graft.mr.MrQueries.mapSideJoinSql,
    "q09_mr_multistep"  -> graft.mr.MrQueries.mrMultiStepSql,
    "q10_join_broadcast" -> Relational.joinBroadcastSql,
    "q11_join_large"     -> Relational.joinLargeSql,
    "q12_semi_join"      -> Relational.semiJoinSql,
    "q13_anti_join"      -> Relational.antiJoinSql,
    "q14_distinct"       -> Relational.distinctPairsSql,
    "q15_topk_group"     -> Relational.topKPerGroupSql,
    "q16_topk_global"    -> Relational.topKGlobalSql,
    "q17_rollup"         -> Relational.rollupAggSql,
    "q18_cube"           -> Relational.cubeAggSql,
    "q19_setops"         -> Relational.setOpsSql,
    "q20_pricing_summary"   -> Relational.pricingSummarySql,
    "q21_shipping_priority" -> Relational.shippingPrioritySql,
    "q22_running_sum"    -> Relational.runningSumSql,
    "q23_scalar_funcs"   -> Relational.scalarFunctionsSql,
    "q24_sessionize"     -> Relational.sessionizeSql,
    "q25_histogram"      -> Relational.histogramSql,
    "q26_time_window"    -> Relational.timeWindowSql,
    "q27_asof_join"      -> Relational.asofJoinSql,
    "q28_pivot"          -> Relational.pivotCountsSql,
    "q29_distinct_counts" -> Relational.distinctCountsSql,
    "q30_hash_sample"    -> Relational.hashSampleSql,
    "q31_salted_agg"     -> Relational.saltedAggSql,
    "q32_fuzzy_pairs"    -> Relational.fuzzyPairsSql,
    "q33_discrete_median" -> Relational.discreteMedianSql,
    "q34_collect_types"  -> Relational.collectTypesSql,
    "q35_outer_join"     -> Relational.outerJoinSql,
    "q36_setops_all"     -> Relational.setOpsAllSql,
    "q37_null_group"     -> Relational.nullGroupSql,
    "q38_above_nation_avg" -> Relational.aboveNationAvgSql,
    "q39_session_window" -> Relational.sessionWindowNativeSql,
    "q40_date_functions" -> Relational.dateFunctionsSql,
    "q41_string_functions" -> Relational.stringFunctionsSql,
    "q42_json_extract"   -> Compositions.jsonExtractSumSql,
    "q43_topk_custom_op" -> Relational.topKCustomOpSql,
    "q44_grouping_sets"  -> Relational.groupingSetsSql,
    "q45_array_functions" -> Relational.arrayFunctionsSql,
    "q46_stratified_sample" -> Relational.stratifiedSampleSql,
    "q47_variant_json"   -> Compositions.variantExtractSql,
    "q48_left_join"      -> Relational.leftJoinCountsSql,
    "q49_window_misc"    -> Relational.windowMiscSql,
    "q50_range_join"     -> Relational.rangeJoinSql,
    "q51_having"         -> Relational.havingFilterSql,
    "q52_cogroup_join"   -> graft.mr.MrQueries.cogroupJoinSql,
    "q53_explode_outer"  -> Relational.explodeOuterSql,
    "d01_dedup_exact"    -> graft.llm.Dedup.exactSql,
    "d02_dedup_minhash"  -> graft.llm.Dedup.minhashLshSql,
    "d03_dedup_simhash"  -> graft.llm.Dedup.simhashSql,
    "d04_ngram_jaccard"  -> graft.llm.Dedup.ngramJaccardSql,
    "d05_knn_brute"      -> graft.llm.Similarity.bruteKnnSql,
    "d06_knn_lsh"        -> graft.llm.Similarity.lshKnnSql,
    "d07_embed_neardup"  -> graft.llm.Similarity.embedNearDupSql,
    "d08_dedup_pipeline" -> graft.llm.DedupResolve.dedupPipelineSql,
    "d09_knn_ivf"        -> graft.llm.Similarity.ivfKnnSql,
    "d10_decontaminate"  -> graft.llm.Decontaminate.flagOverlapsSql,
    "d11_semantic_dedup" -> graft.llm.DedupResolve.semanticDedupPipelineSql,
    "d12_simhash_pairs"  -> graft.llm.Dedup.simhashPairsSql,
    "d13_lsh_verified"   -> graft.llm.Dedup.lshVerifiedPairsSql,
    "d14_dedup_corpus"   -> graft.llm.DedupResolve.corpusDedupPipelineSql,
    "d15_curate"         -> graft.llm.Curate.curateSql,
    "d16_semantic_corpus" -> graft.llm.DedupResolve.semanticCorpusPipelineSql,
    "d17_lsh_verified_k48" -> graft.llm.Dedup.lshVerifiedK48Sql,
    "d18_lsh_grid_k16x8"  -> graft.llm.Dedup.lshVerifiedK16Sql,
    "d19_lsh_grid_k32x4"  -> graft.llm.Dedup.lshVerifiedB8Sql,
    "d20_signlsh_grid_4x8" -> graft.llm.Similarity.signLshPairs4x8Sql,
    "d21_lsh_capped"     -> graft.llm.Dedup.lshVerifiedCappedSql,
    "d22_simhash_b8"     -> graft.llm.Dedup.simhashPairsB8Sql,
    "d23_ivf_grid_64x4"  -> graft.llm.Similarity.ivfKnn64Sql,
    "d24_signlsh_autobits" -> graft.llm.Similarity.signLshPairsAutoSql,
    "d25_simhash_b8_capped" -> graft.llm.Dedup.simhashPairsB8CappedSql,
    "d26_knn_lsh_t32"    -> graft.llm.Similarity.lshKnn32Sql,
    "d27_dup_spans"      -> graft.llm.SpanDedup.dupSpans8Sql,
    "d28_strip_spans"    -> graft.llm.SpanDedup.stripSpans8Sql,
    "d29_contam_spans"   -> graft.llm.SpanDedup.contamSpans8Sql,
    "d30_knn_sq8"        -> graft.llm.Similarity.sq8KnnSql,
    "d31_knn_ivf_sq8"    -> graft.llm.Similarity.ivfSq8KnnSql,
    "d32_ivf_sq8_64x4"   -> graft.llm.Similarity.ivfSq8Knn64Sql,
    "d33_curate_v2"      -> graft.llm.Curate.curateV2Sql,
    "d34_sq8_packed"     -> graft.llm.Similarity.sq8KnnPackedSql,
    "d35_ivf_sq8_packed" -> graft.llm.Similarity.ivfSq8KnnPackedSql,
    "d36_contam_bloom"   -> graft.llm.SpanDedup.contamSpansBloom8Sql,
    "d37_curate_v3"      -> graft.llm.Curate.curateV3Sql,
    "d38_curate_v4"      -> graft.llm.Curate.curateV4Sql,
    "d41_curate_v4_approx" -> graft.llm.Curate.curateV4Sql,
    "t01_doc_stats"      -> graft.llm.TextAnalysis.docStatsSql,
    "t02_lang_dist"      -> graft.llm.TextAnalysis.langDistributionSql,
    "t03_token_counts"   -> graft.llm.TextAnalysis.tokenCountsSql,
    "t04_fingerprint"    -> graft.llm.TextAnalysis.fingerprintsSql,
    "t05_quality_filter" -> graft.llm.TextAnalysis.qualityFilterSql,
    "t06_bigrams"        -> graft.llm.TextAnalysis.bigramCountsSql,
    "t07_term_importance" -> graft.llm.TextAnalysis.termImportanceSql,
    "t08_profile"        -> graft.llm.TextAnalysis.profileSql,
    "t09_char_diversity" -> graft.llm.TextAnalysis.charDiversitySql,
    "t10_repetition"     -> graft.llm.TextAnalysis.repetitionSql,
    "t11_source_quota"   -> graft.llm.Mixture.sourceQuota12Sql,
    "t12_mixture_sample" -> graft.llm.Mixture.mixtureSample18Sql,
    "t13_pii_redact"     -> graft.llm.Pii.piiRedactSql,
    "t14_lm_typicality"  -> graft.llm.TextAnalysis.lmTypicalitySql,
    "t15_seq_pack"       -> graft.llm.Mixture.seqPack256Sql,
    "t16_vocab_conc"     -> graft.llm.TextAnalysis.vocabConcentrationSql,
    "t17_dup_gram_cov"   -> graft.llm.TextAnalysis.dupGramCoverageSql,
    "t18_shard_order"    -> graft.llm.Mixture.shardOrder8Sql,
    "t19_lang_guess"     -> graft.llm.TextAnalysis.langGuessPlantedSql,
    "t20_bpe_merges"     -> graft.llm.Bpe.mergesSql,
    "t21_bpe_vocab"      -> graft.llm.Bpe.vocabSql,
    "t22_nb_quality"     -> graft.llm.LearnedQuality.nbQualitySql,
    "t23_bpe_doc_tokens" -> graft.llm.Bpe.docTokensSql,
    "m01_media_stats"    -> graft.llm.Multimodal.mediaStatsSql,
    "m02_phash_neardup"  -> graft.llm.Multimodal.phashPairsSql,
    "m03_phash_grid_h3"  -> graft.llm.Multimodal.phashPairsH3Sql,
    "m04_phash_minbands" -> graft.llm.Multimodal.phashPairsMin2Sql,
    "m05_phash_auto"     -> graft.llm.Multimodal.phashPairsAutoSql,
    "m06_ppm_decode"     -> graft.llm.Multimodal.ppmDecodeStatsSql,
    "m07_ppm_resize"     -> graft.llm.Multimodal.ppmResizeSql,
    "t24_bpe_heldout"    -> graft.llm.Bpe.heldoutTokensSql,
    "t25_bpe_token_ids"  -> graft.llm.Bpe.tokenIdsSql,
    "t26_bpe_seq_pack"   -> graft.llm.Bpe.bpeSeqPackSql,
    "d39_incremental_dedup" -> graft.llm.IncrementalDedup.appendDedupSql,
    "d40_knn_index_load" -> graft.llm.Similarity.ivfSq8KnnLoadedSql,
    "d42_incremental_simhash" -> graft.llm.IncrementalSig.simhashAppendSql,
    "d43_incremental_decontam" -> graft.llm.IncrementalContam.appendDecontamSql,
    "m08_incremental_phash" -> graft.llm.IncrementalSig.phashAppendSql,
    "d44_knn_index_append" -> graft.llm.Similarity.ivfSq8IndexAppendSql,
    "d45_incremental_semantic" -> graft.llm.IncrementalSemantic.semanticAppendSql,
    "d46_multi_append_dedup" -> graft.llm.IncrementalDedup.multiAppendDedupSql,
    "d47_incremental_delete" -> graft.llm.IncrementalDedup.deleteDedupSql,
    "d48_signature_delete" -> graft.llm.IncrementalSig.simhashDeleteSql,
    "d49_semantic_delete" -> graft.llm.IncrementalSemantic.semanticDeleteSql,
    "d50_signature_multi_append" -> graft.llm.IncrementalSig.simhashMultiAppendSql,
    "d51_capped_ledger_append" -> graft.llm.IncrementalSig.cappedMultiAppendSql,
    "d52_capped_ledger_dedup" -> graft.llm.IncrementalDedup.cappedMultiAppendDedupSql,
    "d53_capped_ledger_semantic" -> graft.llm.IncrementalSemantic.cappedSemanticMultiAppendSql,
    "d54_ivf_auto_geometry" -> graft.llm.Similarity.ivfKnnAutoSql,
    "d55_ledgered_delete_dedup" -> graft.llm.IncrementalDedup.cappedLedgerDeleteDedupSql,
    "d56_ledgered_delete_semantic" -> graft.llm.IncrementalSemantic.cappedSemanticLedgerDeleteSql,
  )
}

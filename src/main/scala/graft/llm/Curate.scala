package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The end-to-end training-data curation pipeline — the reason this
  * engine exists, as ONE operator: starting from the raw corpus,
  *
  *   1. drop near-duplicates (corpus-wide LSH → exact-verify → connected
  *      components, keep the min-id representative — [[Dedup.lshVerifiedPairs]]
  *      + [[DedupResolve.resolveClusters]]);
  *   2. drop benchmark-contaminated documents (eval-set 16-gram overlap,
  *      broadcast-semi shape — [[Decontaminate.flagOverlaps]]);
  *   3. drop low-quality documents (composite length/diversity/stopword/
  *      alpha score < 0.5, fused single pass — [[TextAnalysis.qualityFilter]]).
  *
  * Every stage is the already-oracle-gated operator, so the composition
  * is itself oracle-checked end to end (recursive-CTE components +
  * mirrored gram/quality SQL). Scale shape: stage 1 is banded equi-joins
  * + O(log d) resolution rounds, stage 2 broadcasts only the (small)
  * benchmark grams, stage 3 is a pure scan; the three removal sets then
  * anti-join the corpus id list — no stage ever materializes more than
  * ids off the scan path.
  */
object Curate {

  def curate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.lshVerifiedPairs(s, dir).select(col("a_id"), col("b_id"))
    val losers = DedupResolve.resolveClusters(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id"))
    val contaminated = Decontaminate.flagOverlaps(s, dir)
      .select(col("doc_id").as("cid"))
    val quality = TextAnalysis.qualityFilter(s, dir).select(col("doc_id"))
    docs.select(col("doc_id"))
      .join(losers, docs("doc_id") === losers("id"), "left_anti")
      .join(contaminated, col("doc_id") === col("cid"), "left_anti")
      .join(quality, Seq("doc_id"), "left_semi")
      .orderBy(col("doc_id"))
  }

  /** Curation v2 (d33) — the chain a production ingest actually runs,
    * composed as ONE DataFrame pipeline so the stage-BOUNDARY contracts
    * are oracle-gated (each stage is individually green as d28/t13/t05/
    * t11/t15; what this pins is that packing sees redacted, stripped,
    * quota'd text — not the raw corpus):
    *
    *   0. ingest with planted PII (the corpus has none organically; the
    *      t13 planting is replayed by the oracle, so the scrub stages do
    *      real work whose effects cascade through every later boundary);
    *   1. strip corpus-duplicated token spans ([[SpanDedup.stripSpansDf]],
    *      k = 8) — text cut BEFORE anything downstream counts tokens;
    *   2. PII-redact the stripped text ([[Pii.redactPii]]) and count what
    *      was caught (n_pii) — detection runs on post-strip text;
    *   3. quality-filter the REDACTED text ([[TextAnalysis.qualityScore]]
    *      ≥ 0.5; docs stripped to zero tokens drop here) — scores shift
    *      when redaction rewrites characters, which is the point;
    *   4. per-source quota (smallest hash60(doc_id) — the t11 bounded-heap
    *      [[graft.plans.TopKPerGroup]] operator) over the SURVIVORS, so
    *      the quota ranks post-filter population;
    *   5. greedy sequence packing (t15 running sum, budget 256) of the
    *      quota'd docs using the redacted text's token counts.
    *
    * Output: (source, doc_id, n_removed, n_pii, quality, n_tokens,
    * seq_no) — one row per packed doc, carrying each boundary's evidence.
    *
    * Scale shape = the stages' own (documented per operator): span strip
    * moves O(duplicated positions); redact/quality are codegen scan
    * passes; the one source-keyed exchange is shared by quota and the
    * packing window (TopKPerGroupExec's final phase clusters by source
    * and propagates its partitioning, so the window re-uses it rather
    * than re-shuffling); redacted TEXT never crosses the quota exchange —
    * only (ids, counts, score) do.
    */
  def curateV2(s: SparkSession, dir: String, minTokens: Int = 8,
      quota: Int = 12, seqTokens: Int = 256): DataFrame =
    curateV2Df(Tables.documents(s, dir), minTokens, quota, seqTokens)

  /** Stages 0–3 of the v2/v3 chain (planted ingest → strip → redact →
    * quality filter), still CARRYING the redacted text — per-row stages
    * may consume it (the v3 repetition cut); callers drop it before the
    * quota exchange so text never shuffles.
    */
  private[graft] def scrubScored(docs: DataFrame, minTokens: Int): DataFrame = {
    val planted = docs.select(col("doc_id"), col("source"), Pii.plantCol.as("text"))
    val stripped = SpanDedup.stripSpansDf(
      planted.select(col("doc_id"), col("text")), minTokens)
    val (ne, np, ni) = Pii.countPii(col("clean_text"))
    val redacted = stripped.select(col("doc_id"), col("n_removed"),
      (ne + np + ni).cast("int").as("n_pii"),
      Pii.redactPii(col("clean_text")).as("rtext"))
    redacted
      .join(planted.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_removed"), col("n_pii"),
        col("rtext"), graft.functions.TokenStats(col("rtext")).as("st"))
      .where(col("st.n_tokens") > 0)
      // explode(array(...)) = the t05 pushdown barrier: the filter can't
      // substitute the score below the Generate, so TokenStats runs once
      .select(col("doc_id"), col("source"), col("n_removed"), col("n_pii"),
        col("rtext"), col("st.n_tokens").cast("int").as("n_tokens"),
        explode(array(TextAnalysis.qualityScore(col("st"), col("rtext"))))
          .as("quality"))
      .filter(col("quality") >= 0.5)
  }

  /** Stages 4–5: quota heap + packing window over ONE shared source
    * exchange. `scored` must already be text-free.
    */
  private def quotaPack(scored: DataFrame, quota: Int, seqTokens: Int): DataFrame = {
    val keyed = scored.withColumn("h",
      Hashing.hash60(col("doc_id").cast("string")))
    val quotad = graft.plans.TopK.perGroup(
        keyed, Seq("source"), Seq(("h", true), ("doc_id", true)), quota)
      .drop("h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    quotad
      .withColumn("cum", sum(col("n_tokens").cast("long")).over(w))
      .withColumn("seq_no", expr(s"(cum - n_tokens) div $seqTokens"))
  }

  /** [[curateV2]] over any (doc_id, source, text) DataFrame. */
  def curateV2Df(docs: DataFrame, minTokens: Int = 8,
      quota: Int = 12, seqTokens: Int = 256): DataFrame =
    quotaPack(scrubScored(docs, minTokens).drop("rtext"), quota, seqTokens)
      .select(col("source"), col("doc_id"), col("n_removed"), col("n_pii"),
        col("quality"), col("n_tokens"), col("seq_no"))

  /** Curation v3 (d37) — v2 with the round-11 operators composed in, so
    * THEIR stage-boundary contracts get a gate too:
    *
    *   3b. repetition cut ([[TextAnalysis.withDupCovered]] — the t17
    *       kernel over the REDACTED text, k = 3): drop docs whose
    *       within-doc duplicated-gram coverage exceeds `repMax`. Runs
    *       BEFORE the quota exchange — a per-row stage, and the quota
    *       must rank the post-cut population;
    *   6.  training layout (the t18 posture at window grain): every
    *       packed window (source, seq_no) gets a shard =
    *       hash60("epoch0:" ‖ source ‖ '#' ‖ seq_no) mod `nShards`, and
    *       each doc its position within the window — the (shard,
    *       pos_in_seq) a data loader consumes. Keyed AFTER packing:
    *       windows, not documents, are the unit a loader shards.
    *
    * Output: v2's columns + (dup_covered, shard, pos_in_seq). The layout
    * window partitions by (source, seq_no), which the existing source
    * hash exchange already clusters — one extra in-partition sort, zero
    * extra exchanges.
    */
  def curateV3(s: SparkSession, dir: String, minTokens: Int = 8,
      quota: Int = 12, seqTokens: Int = 256, repK: Int = 3,
      repMax: Double = 0.1, nShards: Int = 4): DataFrame =
    curateV3Df(Tables.documents(s, dir), minTokens, quota, seqTokens,
      repK, repMax, nShards)

  /** The repetition cut (stage 3b) over an ALREADY-scrubbed frame —
    * text-free and PRE-quota (v3 feeds it [[scrubScored]] directly, v4
    * inserts the learned gate between scrub and this stage). The
    * post-quota output MASKS the cut: per-source quota refill replaces
    * cut docs with lower-ranked survivors. `extraCols` carries v4's
    * evidence columns through the text-dropping select.
    *
    * explode(array(...)) = the same t05 pushdown barrier scrubScored
    * installs for the quality score: the repetition-cut filter below
    * references the GENERATED attribute, so PushDownPredicates cannot
    * substitute the dup-covered kernel (and, transitively, the whole
    * strip->redact chain feeding rtext) into a pre-strip Filter — the
    * round-11 d37 hang was exactly that: a 12 KB inlined Filter
    * re-running the scrub per candidate position. Behind the fence the
    * kernel runs once per scrubbed row.
    */
  private def repCutFrom(scrubbed: DataFrame, repK: Int, repMax: Double,
      extraCols: Seq[String] = Nil): DataFrame =
    TextAnalysis
      .withDupCovered(scrubbed, "rtext", repK)
      .select((Seq(col("doc_id"), col("source"), col("n_removed"), col("n_pii"),
        col("quality")) ++ extraCols.map(col) ++ Seq(col("n_tokens"),
        explode(array(col("dup_covered"))).as("dup_covered"))): _*)
      .filter(col("dup_covered").cast("double")
        / col("n_tokens").cast("double") <= repMax)

  /** [[curateV3]] over any (doc_id, source, text) DataFrame. */
  def curateV3Df(docs: DataFrame, minTokens: Int = 8,
      quota: Int = 12, seqTokens: Int = 256, repK: Int = 3,
      repMax: Double = 0.1, nShards: Int = 4): DataFrame = {
    quotaPack(repCutFrom(scrubScored(docs, minTokens), repK, repMax), quota, seqTokens)
      .withColumn("shard", pmod(Hashing.hash60(
          concat(lit("epoch0:"), col("source"), lit("#"),
            col("seq_no").cast("string"))),
        lit(nShards.toLong)).cast("int"))
      .withColumn("pos_in_seq", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"), col("seq_no")).orderBy(col("doc_id"))))
      .select(col("source"), col("doc_id"), col("n_removed"), col("n_pii"),
        col("quality"), col("n_tokens"), col("dup_covered"), col("seq_no"),
        col("shard"), col("pos_in_seq"))
  }

  /** Curation v4 (d38) — v3 with the LEARNED quality gate (t22) slotted
    * in as stage 3′, between the heuristic quality floor and the
    * repetition cut — the full train-in-the-pipeline posture:
    *
    *   3′. the NB model trains on the chain's OWN survivors (the
    *       post-scrub population, 80% doc_id split), with the chain's
    *       already-computed heuristic `quality` as the teacher at the
    *       corpus-median 0.55 threshold, features over the REDACTED
    *       text; the (bucket-count-sized) model is collected and scores
    *       every survivor ROW-LOCALLY as a literal map
    *       ([[LearnedQuality.scoreColumnsFor]] — no join-back, no
    *       exchange, redacted text still never shuffles). Docs the learned gate rejects drop;
    *       `nb_score` rides along as evidence.
    *
    *   The scrub output is localCheckpointed: the training aggregate and
    *   the main chain both read it, and the checkpoint makes the second
    *   read a block-manager scan instead of a re-run of the strip join
    *   (the §3d pin-vs-regen trade, pinned side). The checkpoint is also
    *   the pushdown fence for the gate's filter — nothing below a
    *   LogicalRDD to inline into (the round-11 hang class is
    *   structurally impossible here).
    */
  def curateV4(s: SparkSession, dir: String, minTokens: Int = 8,
      quota: Int = 12, seqTokens: Int = 256, repK: Int = 3,
      repMax: Double = 0.1, nShards: Int = 4): DataFrame =
    curateV4Df(Tables.documents(s, dir), minTokens, quota, seqTokens,
      repK, repMax, nShards)

  /** Teacher threshold of the v4 learned gate: the EXACT median quality
    * of the train split — DERIVED from the corpus, not fixed (the
    * d24/m05 auto-calibration pattern, and the ×500 lesson that forced
    * it: a threshold frozen at the verify-SF median sat in the ×500
    * population's tail, the teacher labeled ~everything one class, and
    * the gate nuked 549k of 550k scrub survivors; a median-centered
    * teacher keeps the classes balanced at ANY corpus). Exact k-th
    * value, not an approximate quantile, so the oracle replays it
    * bit-for-bit (rank-k of a sorted multiset is tiebreak-independent);
    * a 100 TB deployment would swap in approx_percentile and accept the
    * gate drifting from its oracle — the calibration, not the gate
    * arithmetic, is what changes.
    */
  private[graft] def nbTeacherThreshold(scrubbed: DataFrame): Double = {
    val train = scrubbed.where(col("doc_id") % 5 < 4)
    val n = train.count()
    require(n > 0, "v4 gate: empty train split")
    val k = ((n + 1) / 2).toInt
    train.select(col("quality")).orderBy(col("quality")).limit(k)
      .agg(max(col("quality"))).head().getDouble(0)
  }

  /** Accuracy knob of the approx teacher arm: `approx_percentile`'s
    * relative-error bound is 1/accuracy, and the summaries stay EXACT
    * while the per-partition sample count is below the compression
    * threshold — which at the verify SFs it always is, so the two arms
    * must agree bit-for-bit there (spec-pinned, the d24/m05
    * derive-the-knob pattern).
    */
  private[graft] val ApproxTeacherAccuracy = 10000

  /** The 100-TB arm of the teacher calibration ([[nbTeacherThreshold]]):
    * `approx_percentile(quality, 0.5)` instead of the exact rank-k scan.
    * The exact arm's `orderBy.limit(k)` moves the k smallest qualities
    * to ONE partition — at the verify SFs that is nothing, at a 100-TB
    * train split it is a driver-adjacent bottleneck by construction.
    * The sketch arm is one partial-aggregable pass (Greenwald–Khanna
    * summaries merge associatively), so the calibration costs a scan.
    * Drift posture (SCALING.md §3g): within the summary's ε = 1/accuracy
    * rank error the learned gate may see a slightly different teacher
    * threshold; because the teacher is median-CENTERED by design, an
    * ε-rank drift moves the label boundary through the densest part of
    * the quality distribution but keeps classes balanced — the property
    * the ×500 degenerate-arm lesson actually demanded. At the verify
    * SFs the summaries are exact and the arms agree bit-for-bit
    * (CurationOpsSpec pins it), so the approx arm ships oracle-gated
    * against the SAME d38 mirror (the d36 same-answer-different-plan
    * pattern).
    */
  private[graft] def nbTeacherThresholdApprox(scrubbed: DataFrame): Double = {
    val row = scrubbed.where(col("doc_id") % 5 < 4)
      .agg(expr(s"approx_percentile(quality, 0.5, $ApproxTeacherAccuracy)")).head()
    require(!row.isNullAt(0), "v4 gate: empty train split")
    row.getDouble(0)
  }

  private def nbGateModel(scrubbed: DataFrame, thr: Double): Map[String, Long] =
    LearnedQuality.modelFrom(scrubbed
      .withColumn("nbst", graft.functions.TokenStats(col("rtext")))
      .where(col("doc_id") % 5 < 4)
      .select(
        when(col("quality") >= thr, 1).otherwise(0).as("label"),
        explode(array(
          LearnedQuality.featureExprsFor("nbst", "rtext"): _*)).as("f")))

  /** Stages 0–3′ (scrub → learned gate), text still carried. The
    * post-quota output MASKS the gate's activity (quota refill), so the
    * cut is only visible at this stage (SCALING.md §3f).
    */
  private def nbGatedStage(docs: DataFrame, minTokens: Int,
      approxTeacher: Boolean = false): DataFrame = {
    val scrubbed = scrubScored(docs, minTokens).transform(graft.runtime.Ckpt.eager)
    val thr =
      if (approxTeacher) nbTeacherThresholdApprox(scrubbed)
      else nbTeacherThreshold(scrubbed)
    val model = nbGateModel(scrubbed, thr)
    val (nbScore, nbKeep) =
      LearnedQuality.scoreColumnsFor(model, "nbst", "rtext")
    scrubbed
      .withColumn("nbst", graft.functions.TokenStats(col("rtext")))
      .withColumn("nb_score", nbScore)
      .where(nbKeep === 1)
      .drop("nbst")
  }

  /** [[curateV4]] over any (doc_id, source, text) DataFrame. */
  def curateV4Df(docs: DataFrame, minTokens: Int = 8,
      quota: Int = 12, seqTokens: Int = 256, repK: Int = 3,
      repMax: Double = 0.1, nShards: Int = 4,
      approxTeacher: Boolean = false): DataFrame = {
    val gated = nbGatedStage(docs, minTokens, approxTeacher)
    quotaPack(repCutFrom(gated, repK, repMax, Seq("nb_score")), quota, seqTokens)
      .withColumn("shard", pmod(Hashing.hash60(
          concat(lit("epoch0:"), col("source"), lit("#"),
            col("seq_no").cast("string"))),
        lit(nShards.toLong)).cast("int"))
      .withColumn("pos_in_seq", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"), col("seq_no")).orderBy(col("doc_id"))))
      .select(col("source"), col("doc_id"), col("n_removed"), col("n_pii"),
        col("quality"), col("nb_score"), col("n_tokens"), col("dup_covered"),
        col("seq_no"), col("shard"), col("pos_in_seq"))
  }

  /** DuckDB mirror of [[curateV2]]: the d28 strip CTEs over the planted
    * ingest, the t13 redaction chain, the t05 score, the t11 rank window,
    * the t15 running sum — one CTE per stage boundary.
    */
  /** Shared CTE prefix (stages 0–3, ending at `qf` which CARRIES rtext —
    * the explicit final selects keep it out of both gated outputs).
    */
  private def scrubSqlPrefix(k: Int): String = {
    val toks = Hashing.sqlTokens("text")
    val rtoks = Hashing.sqlTokens("rtext")
    val gk = Hashing.sqlHash60(s"array_to_string(t[i:i+${k - 1}], ' ')")
    s"""WITH p AS (SELECT doc_id, source, __PLANT__ AS text FROM documents),
       |tok AS (SELECT doc_id, $toks AS t FROM p),
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
       |         FROM tok t LEFT JOIN cov USING (doc_id)),
       |stripped AS (SELECT doc_id,
       |    COALESCE(array_to_string(kept, ' '), '') AS clean_text,
       |    CAST(n_toks - len(kept) AS INT) AS n_removed FROM kept),
       |red AS (SELECT doc_id, n_removed,
       |    CAST(len(regexp_extract_all(clean_text, '${Pii.EmailRe}'))
       |       + len(regexp_extract_all(clean_text, '${Pii.PhoneRe}'))
       |       + len(regexp_extract_all(clean_text, '${Pii.IpRe}')) AS INT) AS n_pii,
       |    regexp_replace(regexp_replace(regexp_replace(clean_text,
       |      '${Pii.EmailRe}', '<EMAIL>', 'g'),
       |      '${Pii.PhoneRe}', '<PHONE>', 'g'),
       |      '${Pii.IpRe}', '<IP>', 'g') AS rtext
       |  FROM stripped),
       |q AS (SELECT r.doc_id, p.source, r.n_removed, r.n_pii, r.rtext,
       |    CAST(len($rtoks) AS INT) AS n_tokens,
       |    ${TextAnalysis.qualityScoreSql("rtext")} AS quality
       |  FROM red r JOIN p USING (doc_id)
       |  WHERE len($rtoks) > 0),
       |qf AS (SELECT * FROM q WHERE quality >= 0.5)"""
  }
  // scrubSqlPrefix deliberately KEEPS the __PLANT__ placeholder and its
  // margin pipes: the composing SqlFor methods stripMargin the WHOLE
  // query once and only THEN splice Pii.plantSql (whose continuation
  // lines start with `||` — a second strip would eat their first pipe
  // and hand DuckDB `| '...'`; exactly the round-11 d33/d37 breakage,
  // and exactly what Pii.scala's own splice-after-strip comment warns
  // about).

  /** Stages 4–5 as CTE text: quota rank over `from`, then the packing
    * running sum (carrying `extraCols` through both).
    */
  private def quotaPackSql(from: String, quota: Int, extraCols: String): String =
    s"""qk AS (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source
       |      ORDER BY ${Hashing.sqlHash60("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
       |    FROM $from) WHERE rn <= $quota),
       |packed AS (SELECT source, doc_id, n_removed, n_pii, quality, n_tokens,$extraCols
       |    SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY source
       |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM qk)""".stripMargin

  def curateV2SqlFor(k: Int, quota: Int, seqTokens: Int): String =
    s"""${scrubSqlPrefix(k)},
       |${quotaPackSql("qf", quota, "")}
       |SELECT source, doc_id, n_removed, n_pii, quality, n_tokens,
       |  CAST((cum - n_tokens) // $seqTokens AS BIGINT) AS seq_no
       |FROM packed""".stripMargin.replace("__PLANT__", Pii.plantSql)

  /** DuckDB mirror of [[curateV3]]: the shared prefix, the t17 list-lambda
    * stack over rtext, the v2 quota/pack, then the window-grain layout.
    */
  def curateV3SqlFor(k: Int, quota: Int, seqTokens: Int, repK: Int,
      repMax: Double, nShards: Int): String =
    curateChainSql(k, quota, seqTokens, repK, repMax, nShards, nbGate = false)

  /** The shared v3/v4 chain mirror; `nbGate = true` inserts the stage-3′
    * CTEs (nbf features → nbm model over the 80% split → nbs scores →
    * qf2 keep) between the heuristic floor and the repetition cut,
    * replaying [[nbGateModel]] + [[LearnedQuality.scoreColumnsFor]] in
    * exact integer arithmetic.
    */
  private def curateChainSql(k: Int, quota: Int, seqTokens: Int, repK: Int,
      repMax: Double, nShards: Int, nbGate: Boolean): String = {
    val rgk = Hashing.sqlHash60(s"array_to_string(rt[i:i+${repK - 1}], ' ')")
    val shardKey = Hashing.sqlHash60(
      "'epoch0:' || source || '#' || CAST(seq_no AS VARCHAR)")
    val feats = LearnedQuality
      .featureSqlFor(Hashing.sqlTokens("rtext"), "rtext").mkString(", ")
    val nbCtes = if (!nbGate) "" else
      s"""nbthr AS (SELECT quality AS thr FROM (SELECT quality, row_number() OVER (ORDER BY quality) AS rn, COUNT(*) OVER () AS nn FROM qf WHERE doc_id % 5 < 4) WHERE rn = (nn + 1) // 2),
         |nbf AS (SELECT doc_id, CASE WHEN quality >= (SELECT thr FROM nbthr) THEN 1 ELSE 0 END AS nblabel, unnest([$feats]) AS f FROM qf),
         |nbm AS (SELECT f, CAST((SUM(nblabel) + 1) * 1000000 // (COUNT(*) + 2) AS BIGINT) AS s FROM nbf WHERE doc_id % 5 < 4 GROUP BY f),
         |nbs AS (SELECT doc_id, CAST(SUM(COALESCE(m.s, 500000)) AS BIGINT) AS nb_score, COUNT(*) AS nf FROM nbf t LEFT JOIN nbm m ON t.f = m.f GROUP BY doc_id),
         |qf2 AS (SELECT q.*, nbs.nb_score FROM qf q JOIN nbs USING (doc_id) WHERE 2 * nbs.nb_score >= 1000000 * nbs.nf),
         |""".stripMargin
    val rtFrom = if (nbGate) "qf2" else "qf"
    val nbCol = if (nbGate) " nb_score," else ""
    s"""${scrubSqlPrefix(k)},
       |__NBCTES__rt1 AS (SELECT *, ${Hashing.sqlTokens("rtext")} AS rt FROM $rtFrom),
       |rg AS (SELECT *, CASE WHEN len(rt) >= $repK THEN
       |          [$rgk for i in range(1, len(rt) - ${repK - 2})] END AS g
       |        FROM rt1),
       |rs AS (SELECT *, list_sort(g) AS sg FROM rg),
       |rd AS (SELECT *,
       |         list_distinct(list_filter(sg, (x, i) -> i > 1 AND x = sg[i - 1])) AS dv
       |       FROM rs),
       |rds AS (SELECT *,
       |          list_filter(range(1, len(g) + 1), p -> list_contains(dv, g[p])) AS ds
       |        FROM rd),
       |rc AS (SELECT source, doc_id, n_removed, n_pii, quality,$nbCol n_tokens,
       |         CASE WHEN g IS NULL THEN 0 ELSE
       |           CAST(len(list_filter(range(1, len(rt) + 1),
       |             j -> len(list_filter(ds, p -> j >= p AND j <= p + ${repK - 1})) > 0)) AS INT)
       |         END AS dup_covered
       |       FROM rds),
       |repf AS (SELECT * FROM rc
       |         WHERE CAST(dup_covered AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= $repMax),
       |${quotaPackSql("repf", quota, s" dup_covered,$nbCol")},
       |laid AS (SELECT source, doc_id, n_removed, n_pii, quality,$nbCol n_tokens,
       |    dup_covered, CAST((cum - n_tokens) // $seqTokens AS BIGINT) AS seq_no
       |  FROM packed)
       |SELECT *, CAST(($shardKey) % $nShards AS INT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY source, seq_no ORDER BY doc_id)
       |    AS INT) AS pos_in_seq
       |FROM laid""".stripMargin
      .replace("__NBCTES__", nbCtes)
      .replace("__PLANT__", Pii.plantSql)
  }

  def curateV4SqlFor(k: Int, quota: Int, seqTokens: Int, repK: Int,
      repMax: Double, nShards: Int): String =
    curateChainSql(k, quota, seqTokens, repK, repMax, nShards, nbGate = true)

  val curateSql: String =
    s"""WITH RECURSIVE pairs AS (${Dedup.lshVerifiedPairsSql}),
       |${OracleSql.closureCtes()},
       |contaminated AS (SELECT doc_id FROM (${Decontaminate.flagOverlapsSql})),
       |quality AS (SELECT doc_id FROM (${TextAnalysis.qualityFilterSql}))
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM lbl WHERE id <> cluster)
       |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |  AND doc_id IN (SELECT doc_id FROM quality)
       |ORDER BY doc_id""".stripMargin
}

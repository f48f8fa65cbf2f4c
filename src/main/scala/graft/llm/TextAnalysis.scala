package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Hashing._

/** Text-analysis operators for training-data curation: per-document quality
  * statistics, corpus language distribution, regex token counting, and
  * rolling-hash fingerprinting. All are single-pass scans or one
  * hash-aggregate — the shapes that stay cheap at 100 TB.
  */
object TextAnalysis {

  private val stopwords = graft.functions.TokenStats.DefaultStopwords

  /** Per-document quality statistics: token counts, distinct-token ratio
    * inputs, stopword count, average token length, alpha-char count.
    * Pure per-row computation (no shuffle at all) — embarrassingly parallel.
    *
    * All five counts come from ONE pass of the fused codegen expression
    * [[graft.functions.TokenStats]] (the composed form ran its
    * transform/filter/aggregate lambdas interpreted, plus a regex pass —
    * the t04/t06/t09 finding; whole-stage codegen's subexpression
    * elimination evaluates the struct once per row).
    */
  def docStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars_actual"),
        graft.functions.TokenStats(col("text")).as("st"))
      .select(
        col("doc_id"),
        col("n_chars_actual"),
        col("st.n_tokens").as("n_tokens"),
        col("st.n_distinct_tokens").as("n_distinct_tokens"),
        col("st.n_stopwords").as("n_stopwords"),
        (col("st.token_len_sum").cast("double") / col("st.n_tokens").cast("double"))
          .as("avg_token_len"),
        col("st.n_alpha").as("n_alpha"))

  val docStatsSql: String = {
    val toks = sqlTokens("text")
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |CAST(length(text) AS INT) AS n_chars_actual,
       |CAST(len($toks) AS INT) AS n_tokens,
       |CAST(len(list_distinct($toks)) AS INT) AS n_distinct_tokens,
       |CAST(len(list_filter($toks, t -> t IN ($stopList))) AS INT) AS n_stopwords,
       |CAST(list_sum(list_transform($toks, t -> length(t))) AS DOUBLE)
       |  / CAST(len($toks) AS DOUBLE) AS avg_token_len,
       |CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INT) AS n_alpha
       |FROM documents""".stripMargin
  }

  /** Corpus language distribution with size stats — groupBy on the lang
    * label (map-side combinable, 1 tiny shuffle).
    */
  def langDistribution(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double")).as("avg_chars"))

  val langDistributionSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars
      |FROM documents GROUP BY lang""".stripMargin

  /** BPE-ish regex token counting per source: runs of letters, runs of
    * digits, or single non-space symbols — the pre-tokenization split most
    * BPE pipelines apply before merges.
    */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_bpe_tokens"), count(lit(1)).as("n_docs"))

  val tokenCountsSql: String =
    """SELECT source,
      |CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS n_bpe_tokens,
      |COUNT(*) AS n_docs
      |FROM documents GROUP BY source""".stripMargin

  /** Document fingerprint: minimum rolling-window (8-char shingle) hash —
    * the min-sampling end of winnowing. Equal fingerprints ⇒ shared
    * 8-gram; used as a cheap first-pass near-dup key.
    *
    * Shuffle-free per-row form via the fused codegen expression
    * [[graft.functions.MinShingleHash60]] (one pass over the UTF-8 bytes,
    * no shingle array, no interpreted lambda). The min is invariant under
    * shingle dedup, so this matches the DISTINCT-based oracle exactly; the
    * old explode→groupBy→min plan shuffled one row per shingle (≈ one per
    * character of the corpus) — a scale-killer for a per-doc statistic.
    */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.MinShingleHash60(col("text"), 8).as("fingerprint"))

  val fingerprintsSql: String =
    s"""SELECT doc_id, min(${sqlHash60("g")}) AS fingerprint
       |FROM (SELECT DISTINCT doc_id, g FROM (
       |  SELECT doc_id, unnest(${sqlShingles("text", 8)}) AS g FROM documents))
       |GROUP BY doc_id""".stripMargin

  /** Quality filter: composite 0..1 score from length, lexical diversity,
    * stopword evidence, and alpha ratio; keep docs scoring ≥ 0.5. Every
    * input is an integer count, every operation is mirrored in the oracle
    * in the same order — the doubles are bit-identical, so the threshold
    * cut is engine-stable. Shuffle-free single scan.
    */
  /** The t05 composite score over a fused [[graft.functions.TokenStats]]
    * struct + the text column it was computed from — public so composed
    * pipelines (d33 curateV2) score intermediate text with the exact same
    * arithmetic (same operations in the same order: the doubles stay
    * bit-identical to [[qualityScoreSql]]).
    */
  def qualityScore(st: Column, text: Column): Column = {
    val nt = st.getField("n_tokens").cast("double")
    val nd = st.getField("n_distinct_tokens").cast("double")
    val nStop = st.getField("n_stopwords").cast("double")
    val nAlpha = st.getField("n_alpha").cast("double")
    val nChars = length(text).cast("double")
    lit(0.25) * least(nt / lit(100.0), lit(1.0)) +
      lit(0.25) * (nd / nt) +
      lit(0.25) * least(nStop / nt * lit(5.0), lit(1.0)) +
      lit(0.25) * (nAlpha / nChars)
  }

  /** DuckDB mirror of [[qualityScore]] as one expression over `textExpr`. */
  def qualityScoreSql(textExpr: String): String = {
    val toks = sqlTokens(textExpr)
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""0.25 * least(CAST(len($toks) AS DOUBLE) / 100.0, 1.0) +
       |    0.25 * (CAST(len(list_distinct($toks)) AS DOUBLE) / CAST(len($toks) AS DOUBLE)) +
       |    0.25 * least(CAST(len(list_filter($toks, t -> t IN ($stopList))) AS DOUBLE)
       |      / CAST(len($toks) AS DOUBLE) * 5.0, 1.0) +
       |    0.25 * (CAST(length(regexp_replace($textExpr, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
       |      / CAST(length($textExpr) AS DOUBLE))""".stripMargin
  }

  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    // every count from ONE fused TokenStats pass (see docStats)
    val score = qualityScore(col("st"), col("text"))
    // explode(array(score)) is a PUSHDOWN BARRIER, not data generation:
    // filtering on a plainly projected `quality` lets PushDownPredicates
    // substitute the whole score expression into the Filter, so TokenStats
    // ran once in the Filter and again in the Project — per-operator
    // codegen CSE doesn't span the two. Generator outputs can't be
    // substituted below their Generate, so the stats run exactly once.
    // Measured 0.39 s → 0.24 s at sf0.1; same rows, bit-identical scores.
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), graft.functions.TokenStats(col("text")).as("st"))
      .select(col("doc_id"), explode(array(score)).as("quality"))
      .filter(col("quality") >= 0.5)
  }

  val qualityFilterSql: String =
    s"""SELECT doc_id, quality FROM (
       |  SELECT doc_id, ${qualityScoreSql("text")} AS quality
       |  FROM documents)
       |WHERE quality >= 0.5""".stripMargin

  /** Token-bigram counts per language (n-gram language-model statistics):
    * one pass, bigrams built positionally inside codegen, count ≥ 2 floor
    * to prune the singleton tail. Top-k per lang with bigram tiebreak.
    */
  def bigramCounts(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)

    // Single pass: bigram arrays come from the fused codegen expression
    // [[graft.functions.WordBigrams]] (the HOF transform+concat_ws form ran
    // its lambda interpreted and cost ~75% of the query — same finding as
    // t04/t09), then ONE explode and ONE string group-by. Grouping directly
    // on the string beats hashed-key variants here: partial aggregation
    // already bounds what the exchange carries (one (lang, bigram, cnt) row
    // per distinct bigram per task), so a per-occurrence hash is pure extra
    // CPU — measured slower with both md5-60 and xxhash64 keys — and the
    // string key keeps the result collision-free. This replaces a two-pass
    // rewrite that re-ran the whole explode under broadcast(candidates) —
    // see SCALING.md "recompute-under-broadcast" for the post-mortem; the
    // single-Scan shape is pinned in PlanSpec.
    val counts = docs
      .select(col("lang"),
        explode(graft.functions.WordBigrams(col("text"))).as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    // Singleton tail pruned BEFORE the per-lang sort; the final window sees
    // only repeated bigrams, tie-broken on the string for determinism.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("bigram").asc)
    counts
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("rnk"), col("bigram"), col("cnt"))
  }

  val bigramCountsSql: String = {
    val toks = sqlTokens("text")
    s"""WITH bg AS (
       |  SELECT lang,
       |    unnest([t[i] || ' ' || t[i+1] for i in range(1, greatest(len(t), 1))]) AS bigram
       |  FROM (SELECT lang, $toks AS t FROM documents)),
       |counts AS (SELECT lang, bigram, COUNT(*) AS cnt FROM bg
       |           GROUP BY lang, bigram HAVING COUNT(*) >= 2)
       |SELECT lang, CAST(rnk AS INT) AS rnk, bigram, cnt FROM (
       |  SELECT lang, bigram, cnt,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram ASC) AS rnk
       |  FROM counts)
       |WHERE rnk <= 5""".stripMargin
  }

  /** TF-IDF-style term importance: score = tf × N / df (linear rarity
    * weighting — deliberately log-free: ln() differs by ulps across libm
    * implementations, while integer products and one IEEE division are
    * bit-identical everywhere). Top-3 terms per doc with term tiebreak.
    * Two aggregates + one broadcast join — the classic scalable TF-IDF
    * shape (df table ≪ corpus).
    */
  def termImportance(s: SparkSession, dir: String): DataFrame = {
    // Two structural fixes over the round-3 shape (0.86 s → 0.52 s sf0.1,
    // measured min-of-2; variants in SCALING.md):
    //
    // 1. TF is a ROW-LOCAL statistic: the fused [[graft.functions.TermCounts]]
    //    expression counts each document's terms in one codegen'd pass, so
    //    tf = explode of a projection. The composed explode → groupBy(doc,
    //    term) → count shuffled one row per corpus TOKEN into a
    //    hash-aggregate — the largest data movement in the query, and at
    //    100 TB the whole exploded corpus through one exchange, for counts
    //    a per-row hash map computes with zero movement.
    // 2. tf is referenced TWICE (re-aggregated into df under broadcast(...),
    //    probe side of the join). Un-materialized, each reference re-ran
    //    the corpus scan (recompute-under-broadcast, SCALING.md §2: the
    //    round-3 plan showed 3 scans / 2 explodes). The eager
    //    localCheckpoint materializes it ONCE (lazy checkpointing can
    //    double-compute when the broadcast-subquery job and the main job
    //    race to the unpersisted partitions — eager measured faster).
    //
    // The one remaining parquet scan is the zero-column corpus count for N
    // — footer metadata only.
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(graft.functions.TermCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
      .transform(graft.runtime.Ckpt.eager)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("nn"))
    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") * col("nn") / col("df")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
  }

  val termImportanceSql: String = {
    val toks = sqlTokens("text")
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(*) AS nn FROM documents),
       |scored AS (
       |  SELECT doc_id, tf.term AS term,
       |    CAST(tf AS DOUBLE) * nn / df AS score
       |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
       |SELECT doc_id, CAST(rnk AS INT) AS rnk, term, score FROM (
       |  SELECT doc_id, term, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
       |  FROM scored)
       |WHERE rnk <= 3""".stripMargin
  }

  /** Character-diversity score: Gini impurity of the character
    * distribution, 1 − Σ(cnt²)/len² — catches repeated-character spam and
    * degenerate payloads. Gini instead of entropy on purpose: no log(),
    * so the score is integer arithmetic + one IEEE division, bit-stable
    * across engines (ln() differs by ulps between libm builds).
    */
  def charDiversity(s: SparkSession, dir: String): DataFrame =
    // Shuffle-free: one codegen'd histogram pass per row
    // (graft.functions.CharGini) instead of explode-per-character + two
    // aggregations (~2M shuffle rows at sf0.1; hopeless at 100 TB). Counts
    // and Σcnt² accumulate in longs with one IEEE division at the end —
    // bit-identical to the aggregate form and the oracle. Empty docs were
    // absent from the exploded group-by; the length guard keeps that.
    Tables.documents(s, dir)
      .where(length(col("text")) > 0)
      .select(col("doc_id"),
        graft.functions.CharGini(col("text")).as("char_gini"))

  val charDiversitySql: String =
    """SELECT doc_id,
      |  1.0 - CAST(sumsq AS DOUBLE) / (CAST(len AS DOUBLE) * CAST(len AS DOUBLE)) AS char_gini
      |FROM (
      |  SELECT doc_id, SUM(cnt * cnt) AS sumsq, SUM(cnt) AS len FROM (
      |    SELECT doc_id, ch, COUNT(*) AS cnt FROM (
      |      SELECT doc_id,
      |        unnest([substr(text, x, 1) for x in range(1, length(text) + 1)]) AS ch
      |      FROM documents)
      |    GROUP BY doc_id, ch)
      |  GROUP BY doc_id)""".stripMargin

  /** Gopher-style repetition evidence per document: the most frequent
    * adjacent word pair, its count, and the fraction of the document's
    * bigrams it covers. Highly repetitive documents (boilerplate, keyword
    * stuffing, degenerate generations) score high and get cut by the
    * `rep_ratio` threshold a curation pipeline applies downstream.
    *
    * Shuffle-free: one codegen'd pass per row
    * ([[graft.functions.TopBigram]] — hash-count adjacent pairs, pick
    * max with binary-min tiebreak) instead of explode(bigrams) →
    * groupBy(doc_id, bigram) → window-rank, which shuffles one row per
    * TOKEN of the corpus to compute a per-document statistic — hopeless
    * at 100 TB. The ratio divides the two ints in IEEE double, matching
    * the oracle bit-for-bit. Documents with < 2 tokens have no bigram and
    * are absent from both sides.
    */
  def repetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.TopBigram(col("text")).as("tb"))
      .filter(col("tb.n_bigrams") > 0)
      .select(col("doc_id"),
        col("tb.top_bigram").as("top_bigram"),
        col("tb.top_n").as("top_n"),
        (col("tb.top_n").cast("double") / col("tb.n_bigrams").cast("double"))
          .as("rep_ratio"))

  val repetitionSql: String = {
    val toks = sqlTokens("text")
    s"""WITH toks AS (SELECT doc_id, $toks AS tk FROM documents),
       |bg AS (
       |  SELECT doc_id, len(tk) - 1 AS n_bigrams,
       |    unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram
       |  FROM toks WHERE len(tk) >= 2),
       |cnt AS (SELECT doc_id, n_bigrams, bigram, COUNT(*) AS n
       |        FROM bg GROUP BY 1, 2, 3),
       |rk AS (SELECT doc_id, n_bigrams, bigram, n,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bigram) AS rn
       |       FROM cnt)
       |SELECT doc_id, bigram AS top_bigram, CAST(n AS INT) AS top_n,
       |  CAST(n AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS rep_ratio
       |FROM rk WHERE rn = 1""".stripMargin
  }

  /** Column profiling — the data-quality scan every ingestion pipeline
    * runs first: per-column null counts, distinct counts, and extrema over
    * the events table, emitted long-form (one row per column). One pass,
    * map-side combinable.
    */
  def profile(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // One aggregate branch PER COLUMN, unioned long-form. This looks like
    // "three scans", but each branch's ReadSchema is exactly its one
    // column (pinned in PlanSpec): in a columnar store the three scans
    // read DISJOINT bytes — the total I/O equals one 3-column scan, with
    // no repeated reads. The tempting single-pass alternative (one
    // aggregate with three countDistincts + unpivot) plans an Expand that
    // pushes 4× the fact rows through the aggregate — measured 2.7×
    // slower at sf0.1 (0.41 s → 1.09 s), and the same 4× row multiplier
    // applies at 100 TB. Per-column scans are the scale shape here.
    def row(name: String, c: org.apache.spark.sql.Column, asStr: org.apache.spark.sql.Column) =
      ev.agg(
        count(lit(1)).as("n_rows"),
        count(c).as("n_nonnull"),
        countDistinct(c).as("n_distinct"),
        min(asStr).as("min_str"),
        max(asStr).as("max_str"))
        .select(lit(name).as("column_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct"), col("min_str"), col("max_str"))
    row("event_type", col("event_type"), col("event_type"))
      .unionByName(row("user_id", col("user_id"), col("user_id").cast("string")))
      .unionByName(row("event_id", col("event_id"), col("event_id").cast("string")))
  }

  val profileSql: String = {
    def row(name: String, expr: String) =
      s"""SELECT '$name' AS column_name, COUNT(*) AS n_rows,
         |COUNT($expr) AS n_nonnull, COUNT(DISTINCT $expr) AS n_distinct,
         |MIN(CAST($expr AS VARCHAR)) AS min_str,
         |MAX(CAST($expr AS VARCHAR)) AS max_str FROM events""".stripMargin
    Seq(row("event_type", "event_type"), row("user_id", "user_id"),
      row("event_id", "event_id")).mkString("\nUNION ALL\n")
  }

  /** Unigram-LM typicality score — the CCNet-style "does this document
    * look like the corpus" quality signal, with the corpus itself as the
    * language model: score(d) = Σ_positions p(token) where
    * p(w) = corpus_freq(w) / total_tokens, normalized by document length.
    * Boilerplate and in-distribution text score high; gibberish, wrong
    * language, and rare-token spam score low — the downstream curation
    * cut keeps the middle band (head-heavy boilerplate is what t10
    * catches from the other side).
    *
    * Deliberately LOG-FREE (the §6 exactness rule): the score is
    *   Σ tf(w,d)·freq(w)  /  (n_tokens(d) · total)
    * — an exact integer numerator (associative long sums, safe to ~1e15
    * token corpora) and ONE IEEE double division, bit-identical across
    * engines; a log-prob formulation would drift by libm ulps.
    *
    * Scale shape (the t07 lessons applied): tf comes from the fused
    * codegen [[graft.functions.TermCounts]] pass (no per-token shuffle),
    * feeds both the freq aggregate and the probe side un-checkpointed —
    * recomputing the cheap explode twice beats pinning a corpus-sized
    * stream (measured 15×; see [[lmTypicalityDf]]) — and the vocabulary
    * join is left UNHINTED on purpose: AQE sees
    * the aggregated freq table's true size at runtime and picks broadcast
    * when the vocabulary fits (every measured corpus) — but a heavy-tail
    * 100 TB vocabulary that outgrows the driver degrades to a shuffle
    * join instead of an OOM. The knob turns itself.
    */
  def lmTypicality(s: SparkSession, dir: String): DataFrame =
    lmTypicalityDf(Tables.documents(s, dir))

  /** [[lmTypicality]] over any (doc_id, text) DataFrame.
    *
    * The exploded tf stream feeds both the freq aggregate and the probe
    * side and is recomputed under the broadcast, not pinned (the t07
    * pattern). Measured isolated (one arm per JVM, ×200 = 1.02M docs,
    * SCALING.md §3d, `cur_ab_cold` rows of SCALE_RESULTS_r10.jsonl):
    * recompute 5.7 s vs pinned 85.7 s — a 15× loss for the pin, because
    * the rebuild is one cheap codegen'd [[graft.functions.TermCounts]]
    * explode while the pin checkpoints a corpus-sized stream (contrast
    * [[SpanDedup]], where the rebuild re-runs an md5 per gram and the pin
    * WINS — the variable is the cost to rebuild).
    */
  def lmTypicalityDf(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(graft.functions.TermCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val freq = tf.groupBy(col("term")).agg(sum(col("tf")).as("freq"))
    // Σ freq ≡ Σ tf: total token count comes straight off the tf pass (one partial-sum, no per-term exchange) instead of
    // re-aggregating the vocabulary
    val total = tf.agg(sum(col("tf")).as("tot"))
    tf.join(freq, "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("freq")).as("num"), sum(col("tf")).as("n_toks"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (col("num").cast("double") /
          (col("n_toks").cast("double") * col("tot").cast("double"))).as("lm_score"))
  }

  val lmTypicalitySql: String = {
    val toks = sqlTokens("text")
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
       |freq AS (SELECT term, SUM(tf) AS freq FROM tf GROUP BY term),
       |tot AS (SELECT SUM(freq) AS tot FROM freq)
       |SELECT doc_id,
       |  CAST(SUM(tf * freq) AS DOUBLE)
       |    / (CAST(SUM(tf) AS DOUBLE) * CAST(ANY_VALUE(tot) AS DOUBLE)) AS lm_score
       |FROM tf JOIN freq USING (term) CROSS JOIN tot
       |GROUP BY doc_id""".stripMargin
  }

  /** Per-source vocabulary concentration and a LOG-FREE heavy-tail
    * diagnostic (t16) — the corpus statistics a mixture designer reads
    * before setting sampling weights: vocabulary size, total token mass,
    * the share of mass in the top-10/top-100 tokens, and a Zipf
    * "doubling ratio" — the mean of count(rank k)/count(rank 2k) over
    * k ∈ {1,2,4,8,16,32}. For a Zipf-s law that ratio is 2^s, so it
    * carries the same information as the usual log-log slope WITHOUT
    * computing a single ln(): every input is an integer count, each
    * ratio is one IEEE division of identical integers in both engines,
    * and the ratio mean (up to 6 terms — see the partial-output contract
    * below) accumulates in decimal (the §6 exactness rule — the tree
    * deliberately has no log() anywhere, libm ulp drift).
    *
    * Scale shape: explode→count is one map-side-combinable shuffle onto
    * the (source, token) key space — VOCABULARY-sized, not corpus-sized,
    * and sublinear in the corpus (Heaps' law). The per-source rank
    * window partitions by source over that same vocabulary-sized table,
    * so the skew bound is max vocab per source, not max docs per source.
    *
    * Partial-output contract (ADVICE r11): sources need rank-2 to
    * contribute a ratio (inner join with the ratio branch), so a
    * degenerate single-token-type source is ABSENT from the output
    * entirely — callers aggregating per-source rows must not assume
    * every input source appears. And the "doubling ratio" averages only
    * the probed ranks that EXIST: a source with vocab < 64 contributes
    * fewer than 6 (k, 2k) terms, one with vocab < 4 only the (1,2) term
    * — a partial mean over present ranks, not a fixed 6-term mean. Both
    * behaviors are deliberate (they mirror bit-exactly in the oracle and
    * avoid NULL-ratio rows); a caller needing every source represented
    * should left-join this output back to its source list.
    */
  def vocabConcentration(s: SparkSession, dir: String): DataFrame =
    vocabConcentrationDf(Tables.documents(s, dir))

  /** [[vocabConcentration]] over an explicit (source, text) table. */
  def vocabConcentrationDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tc = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("cnt").desc, col("tok").asc)
    // rk feeds three branches (base aggregate + both ratio sides) —
    // materialize the vocabulary-sized table once
    val rk = tc.withColumn("rnk", row_number().over(w)).transform(graft.runtime.Ckpt.eager)
    val base = rk.groupBy(col("source")).agg(
      count(lit(1)).as("vocab"),
      sum(col("cnt")).as("total_tokens"),
      sum(when(col("rnk") <= 10, col("cnt"))).as("top10"),
      sum(when(col("rnk") <= 100, col("cnt"))).as("top100"))
    val lo = rk.filter(col("rnk").isin(1, 2, 4, 8, 16, 32))
      .select(col("source"), col("rnk").as("k"), col("cnt").as("ck"))
    val hi = rk.filter(col("rnk").isin(2, 4, 8, 16, 32, 64))
      .select(col("source").as("s2"), col("rnk").as("k2"), col("cnt").as("c2k"))
    val zr = lo.join(hi, col("s2") === col("source") && col("k2") === col("k") * 2)
      .select(col("source"), (col("ck").cast("double") / col("c2k").cast("double")).as("r"))
      .groupBy(col("source"))
      .agg((sum(col("r").cast(DecimalType(38, 12))).cast("double")
        / count(col("r")).cast("double")).as("zipf_doubling_ratio"))
    base.join(zr, Seq("source"))
      .select(col("source"), col("vocab"), col("total_tokens"),
        (col("top10").cast("double") / col("total_tokens").cast("double")).as("top10_share"),
        (col("top100").cast("double") / col("total_tokens").cast("double")).as("top100_share"),
        col("zipf_doubling_ratio"))
  }

  /** DuckDB mirror of [[vocabConcentration]]: same count→rank→share/
    * ratio pipeline, same decimal accumulation for the ratio mean.
    */
  val vocabConcentrationSql: String = {
    val toks = sqlTokens("text")
    s"""WITH tc AS (
       |  SELECT source, tok, COUNT(*) AS cnt FROM (
       |    SELECT source, unnest($toks) AS tok FROM documents)
       |  GROUP BY source, tok),
       |rk AS (
       |  SELECT source, tok, cnt,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, tok ASC) AS rnk
       |  FROM tc),
       |base AS (
       |  SELECT source, COUNT(*) AS vocab, SUM(cnt) AS total_tokens,
       |    SUM(cnt) FILTER (rnk <= 10) AS top10,
       |    SUM(cnt) FILTER (rnk <= 100) AS top100
       |  FROM rk GROUP BY source),
       |ratios AS (
       |  SELECT a.source, CAST(a.cnt AS DOUBLE) / CAST(b.cnt AS DOUBLE) AS r
       |  FROM rk a JOIN rk b ON b.source = a.source AND b.rnk = a.rnk * 2
       |  WHERE a.rnk IN (1, 2, 4, 8, 16, 32)),
       |zr AS (
       |  SELECT source,
       |    CAST(SUM(CAST(r AS DECIMAL(38,12))) AS DOUBLE)
       |      / CAST(COUNT(r) AS DOUBLE) AS zipf_doubling_ratio
       |  FROM ratios GROUP BY source)
       |SELECT b.source, CAST(vocab AS BIGINT) AS vocab,
       |  CAST(total_tokens AS BIGINT) AS total_tokens,
       |  CAST(top10 AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS top10_share,
       |  CAST(top100 AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS top100_share,
       |  zipf_doubling_ratio
       |FROM base b JOIN zr z ON z.source = b.source""".stripMargin
  }

  /** Within-document duplicated n-gram coverage (t17) — the Gopher-rule
    * companion to t10: where t10 reports the single most repeated bigram,
    * this reports how much of the document is covered by ANY token
    * k-gram that occurs twice or more WITHIN the document (the published
    * repetition-rule band uses k ∈ 5..10; the shipped GATE runs k = 3
    * because that is where the synthetic corpus has measurable within-doc
    * repetition — at k = 5 every sf's answer is all-zeros, and a gate
    * that cannot fail is not a gate). Degenerate
    * generations, keyword stuffing, and copy-pasted boilerplate push the
    * fraction toward 1; a curation pipeline thresholds it exactly like
    * t05's quality score.
    *
    * Scale shape — deliberately SHUFFLE-FREE, the t10 argument one rule
    * up: a per-document statistic must not shuffle one row per token of
    * the corpus. The whole computation is per-row higher-order functions
    * in one codegen stage (gram-hash → sort → adjacent-equal dup set →
    * covered-position count), so the operator scans and never exchanges:
    * per-row cost is O(n·d) with d = duplicated-start count (zero for
    * clean docs — the common case does one sorted pass and exits).
    * Contrast [[SpanDedup.dupSpansDf]], which answers the CROSS-document
    * version and must shuffle the gram stream; within-doc is exactly the
    * case where that exchange is avoidable.
    *
    * Docs with fewer than k tokens have no k-gram and are absent from
    * both sides (the t10 absence contract). Grams compare by
    * [[Hashing.hash60]] value (identical in the oracle), so the same
    * ~1e-18/pair collision note as [[SpanDedup]] applies.
    */
  def dupGramCoverage(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    dupGramCoverageDf(Tables.documents(s, dir), k)

  /** Append `dup_covered` (tokens of `textCol` covered by a within-doc
    * duplicated k-gram; 0 for docs shorter than k) to any frame — the
    * t17 kernel as a reusable per-row stage, so pipelines ([[Curate]] v3)
    * apply the repetition cut without reshaping their frame. All
    * temporaries stay inside the row; nothing exchanges. The kernel is
    * the fused codegen expression [[graft.functions.DupGramCovered]]
    * (the interpreted-HOF form below is kept as the property-test
    * reference — the round-11 post-mortem: the HOF stack cost 110 s at
    * sf0.1, ~50× the fused pass).
    */
  private[llm] def withDupCovered(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    df.withColumn("dup_covered",
      graft.functions.DupGramCovered(col(textCol), k))
  }

  /** The composed higher-order-function form of the t17 kernel —
    * semantically identical to [[withDupCovered]] and kept ONLY as the
    * reference side of the equivalence property test (the
    * [[Hashing.hash60Reference]] precedent): gram-hash transform →
    * array_sort → adjacent-equal dup set → covered-position count.
    */
  private[graft] def withDupCoveredHof(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val t = tokens(col(textCol))
    val n = size(t)
    df
      // the < k guard: sequence(1, n-k+1 <= 0) would generate DESCENDING;
      // CaseWhen's lazy branches keep it unevaluated, nulls flow through
      // the temporaries, and the final when() maps them to 0
      .withColumn("__g", when(n >= k, transform(sequence(lit(1), n - (k - 1)),
        i => Hashing.hash60(concat_ws(" ", slice(t, i, lit(k)))))))
      .withColumn("__sg", array_sort(col("__g")))
      // values occurring >= 2: adjacent equality in the sorted stream,
      // via zip(sg, tail(sg)) — total even for single-gram docs (the
      // tail slice is empty, zip_with null-pads, the null-filter drops)
      .withColumn("__dv", array_distinct(
        filter(zip_with(col("__sg"),
          slice(col("__sg"), lit(2), greatest(size(col("__sg")) - 1, lit(0))),
          (a, b) => when(a === b, a)),
          v => v.isNotNull)))
      .withColumn("__ds", filter(sequence(lit(1), size(col("__g"))),
        p => array_contains(col("__dv"), element_at(col("__g"), p))))
      .withColumn("dup_covered",
        when(col("__g").isNull, lit(0)).otherwise(
          size(filter(sequence(lit(1), n),
            j => exists(col("__ds"), p => j >= p && j <= p + (k - 1)))))
        .cast("int"))
      .drop("__g", "__sg", "__dv", "__ds")
  }

  /** [[dupGramCoverage]] over any (doc_id, text) DataFrame. */
  def dupGramCoverageDf(docs: DataFrame, k: Int): DataFrame = {
    val n = size(tokens(col("text")))
    withDupCovered(docs.select(col("doc_id"), col("text")), "text", k)
      .where(n >= k)
      .select(col("doc_id"), n.cast("int").as("n_toks"),
        col("dup_covered"),
        (col("dup_covered").cast("double") / n.cast("double")).as("dup_gram_frac"))
  }

  def dupGramCoverageSqlFor(k: Int): String = {
    val toks = sqlTokens("text")
    val gk = Hashing.sqlHash60(s"array_to_string(t[i:i+${k - 1}], ' ')")
    s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
       |gr AS (SELECT doc_id, t,
       |         [$gk for i in range(1, len(t) - ${k - 2})] AS g
       |       FROM tok WHERE len(t) >= $k),
       |srt AS (SELECT doc_id, t, g, list_sort(g) AS sg FROM gr),
       |dup AS (SELECT doc_id, t, g,
       |          list_distinct(list_filter(sg, (x, i) -> i > 1 AND x = sg[i - 1])) AS dv
       |        FROM srt),
       |ds AS (SELECT doc_id, t,
       |         list_filter(range(1, len(g) + 1), p -> list_contains(dv, g[p])) AS ds
       |       FROM dup)
       |SELECT doc_id, CAST(len(t) AS INT) AS n_toks,
       |  CAST(len(list_filter(range(1, len(t) + 1),
       |    j -> len(list_filter(ds, p -> j >= p AND j <= p + ${k - 1})) > 0)) AS INT)
       |    AS dup_covered,
       |  CAST(len(list_filter(range(1, len(t) + 1),
       |    j -> len(list_filter(ds, p -> j >= p AND j <= p + ${k - 1})) > 0)) AS DOUBLE)
       |    / CAST(len(t) AS DOUBLE) AS dup_gram_frac
       |FROM ds""".stripMargin
  }

  /** Heuristic language ID from character/stopword evidence — a Column
    * function usable in any pipeline (tested on hand-built samples in
    * TextAnalysisSpec; oracle-gated by [[langGuessPlanted]] over planted
    * doc_id-derived language markers — the corpus `lang` column is a
    * label only, its text carries no language signal).
    */
  def langGuess(text: Column): Column = {
    val t = lower(text)
    when(length(regexp_replace(t, "[^\\u4e00-\\u9fff]", "")) > length(t) * 0.3, "zh")
      .when(length(regexp_replace(t, "[^а-яё]", "")) > length(t) * 0.3, "ru")
      .when(size(filter(tokens(t), w => w.isin("el", "la", "de", "que", "y", "los"))) >
        size(filter(tokens(t), w => w.isin("the", "and", "of", "is"))), "es")
      .otherwise("en")
  }

  /** The t19 gate for [[langGuess]]: the synthetic corpus's `lang`
    * column is a LABEL ONLY (every doc's text is the same English-ish
    * word salad), so gating the heuristic on raw text would emit a
    * constant — a gate that cannot fail. Instead this PLANTS
    * deterministic language markers derived from `doc_id` (the t13/m02
    * planted-evidence pattern): docs with doc_id ≡ 1 (mod 5) get a CJK
    * block repeated ∝ text length with a floor of 3 repeats (CJK
    * fraction ≥ 0.4 > the 0.3 threshold at EVERY doc length — see
    * [[plantLangCol]]), ≡ 2 a Cyrillic block (same argument), ≡ 3 a
    * Spanish-stopword block whose
    * token count dominates any organic `the/and/of/is` population, and
    * the rest stay unplanted English. The oracle replays the planting
    * arithmetic AND the full heuristic (unicode-class regexes via RE2
    * `\x{...}` ≡ java `\u...`, code-point `length`, token stopword
    * counts), so the gate pins cross-engine parity of every branch on
    * all four outcomes per run.
    *
    * Scale shape: pure per-row scan — no shuffle, no join; language-ID
    * at 100 TB is a map pass whose cost is the read.
    */
  def langGuessPlanted(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), plantLangCol.as("ptext"))
      .select(col("doc_id"), langGuess(col("ptext")).as("lang_guess"))

  /** Marker planting for [[langGuessPlanted]] — block repeat counts are
    * `greatest(floor(length(text)/k), 3)` so the planted fraction clears
    * the 0.3 threshold whatever the doc's size: the proportional term
    * keeps the ratio constant for long docs, and the floor of 3 repeats
    * covers short ones (worst case for the CJK block is the longest doc
    * still taking the floor, length 14: 12 CJK of ≤ 30 chars = 0.4; a
    * plain `floor(len/5)` plants NOTHING for docs under 5 chars — the
    * gate's per-doc exact-recovery contract would silently depend on the
    * corpus's minimum doc length). Both engines compute int/int division
    * as double, floor to bigint, cast to int identically.
    */
  private[graft] def plantLangCol: Column = {
    def block(s: String, divisor: Int): Column =
      concat(col("text"), lit(" "),
        call_function("repeat", lit(s),
          greatest(floor(length(col("text")) / lit(divisor)), lit(3)).cast("int")))
    when(col("doc_id") % 5 === 1, block("中文处理 ", 5))
      .when(col("doc_id") % 5 === 2, block("данные системы ", 5))
      .when(col("doc_id") % 5 === 3, block("el la de que y los ", 20))
      .otherwise(col("text"))
  }

  /** DuckDB mirror of [[langGuessPlanted]] — planting and heuristic
    * replayed branch-for-branch (RE2 spells the CJK class `\x{4e00}`
    * where java spells it `一`; `'g'` makes regexp_replace global
    * to match Spark's replace-all).
    */
  val langGuessPlantedSql: String = {
    def blockSql(s: String, divisor: Int): String =
      s"text || ' ' || repeat('$s', CAST(greatest(floor(length(text)/$divisor), 3) AS INT))"
    val toks = "list_filter(string_split(t, ' '), x -> x <> '')"
    s"""WITH p AS (SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 1 THEN ${blockSql("中文处理 ", 5)}
       |         WHEN doc_id % 5 = 2 THEN ${blockSql("данные системы ", 5)}
       |         WHEN doc_id % 5 = 3 THEN ${blockSql("el la de que y los ", 20)}
       |         ELSE text END AS ptext
       |  FROM documents),
       |lt AS (SELECT doc_id, lower(ptext) AS t FROM p)
       |SELECT doc_id,
       |  CASE
       |    WHEN length(regexp_replace(t, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > length(t)*0.3 THEN 'zh'
       |    WHEN length(regexp_replace(t, '[^а-яё]', '', 'g')) > length(t)*0.3 THEN 'ru'
       |    WHEN len(list_filter($toks, x -> x IN ('el','la','de','que','y','los')))
       |       > len(list_filter($toks, x -> x IN ('the','and','of','is'))) THEN 'es'
       |    ELSE 'en'
       |  END AS lang_guess
       |FROM lt""".stripMargin
  }
}

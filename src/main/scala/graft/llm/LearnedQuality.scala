package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Learned quality scoring (t22): an integer-count Bernoulli-NB-style
  * classifier trained IN the engine — production curation scores with a
  * trained model, not a hand-weighted heuristic, and this is that step's
  * engine shape. The setup is distillation: the t05 quality arithmetic
  * provides labels (teacher) at threshold 0.55 — the corpus MEDIAN, so
  * the classes are balanced and the gate measures discrimination (at the
  * t05 deploy threshold 0.5 the base rate is ~0.8 and any
  * predict-the-prior scorer gets 80% "accuracy" without learning
  * anything) — and the classifier learns to predict them from bucketed
  * document features on an 80/20 doc_id split, scored on the held-out
  * 20%. Measured: 0.81–0.88 held-out accuracy vs 0.44–0.49 base rate at
  * sf0.001/0.01/0.1.
  *
  * Features are the hashed-feature-scorer shape: four bucket features
  * per document — length bucket `L:`, distinct-token-ratio decile `D:`,
  * stopword-ratio bucket `S:`, alpha-ratio decile `A:` — each an
  * integer-division bucket of a [[graft.functions.TokenStats]] count.
  * Word-PRESENCE features were measured and dropped: on this corpus's
  * 31-word vocabulary every word's document frequency is near 1, so
  * presence carries no evidence and the near-constant features dilute
  * the informative ones back to the prior (predict-all-1 at sf0.1); a
  * web-scale vocabulary would put them back.
  *
  * All-integer discipline (SCALING.md §6): per-feature evidence is the
  * add-one-smoothed class posterior in parts-per-million with FLOOR
  * division — `s(f) = (docs_pos(f)+1)·10⁶ div (docs(f)+2)` — a document
  * scores the SUM over its 4 features, and predicts 1 iff the mean
  * posterior ≥ ½: `2·score_sum ≥ 4·10⁶`. The log-free additive cousin
  * of NB's log-likelihood sum (log() differs by ulps across libm
  * builds; integer sums replay exactly). Unseen buckets back off to the
  * smoothed prior 10⁶/2.
  *
  * 100-TB shape: one codegen TokenStats pass per split (no shuffle until
  * the model agg), the MODEL is bucket-count-sized (≤ 40 rows here,
  * vocabulary-sized with word features) and broadcast into the scoring
  * join, so inference is shuffle-free up to the final per-doc
  * aggregation.
  */
object LearnedQuality {

  private val Scale = 1000000L

  /** Teacher threshold: the corpus-median quality (see class doc). */
  private val LabelThreshold = 0.55

  /** `(doc_id, label, f)` — one row per (document, bucket feature). */
  private def featureRows(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), graft.functions.TokenStats(col("text")).as("st"))
      .select(col("doc_id"),
        when(TextAnalysis.qualityScore(col("st"), col("text")) >= LabelThreshold, 1)
          .otherwise(0).as("label"),
        explode(array(featureExprs: _*)).as("f"))

  private def isTrain(c: org.apache.spark.sql.Column) = c % 5 < 4

  /** The four bucket-feature expressions over an in-scope TokenStats
    * struct and text column — shared by the exploded batch path AND the
    * literal-map curation-v4 gate (which scores
    * REDACTED text under different column names), so the scoring forms
    * cannot drift. Ratio denominators are `greatest(·, 1)`-guarded on
    * BOTH engines: t22's own path sits behind no emptiness filter, so an
    * empty or whitespace-only doc (n_tokens = 0, length = 0) must bucket
    * deterministically instead of going null Spark-side and
    * divide-by-zero in the DuckDB mirror (the r13 ADVICE divergence).
    */
  private[llm] def featureExprsFor(st: String, text: String): Seq[org.apache.spark.sql.Column] = Seq(
    expr(s"concat('L:', least($st.n_tokens DIV 20, 9))"),
    expr(s"concat('D:', ($st.n_distinct_tokens * 10) DIV greatest($st.n_tokens, 1))"),
    expr(s"concat('S:', least(($st.n_stopwords * 20) DIV greatest($st.n_tokens, 1), 9))"),
    expr(s"concat('A:', ($st.n_alpha * 10) DIV greatest(length($text), 1))"))

  private def featureExprs: Seq[org.apache.spark.sql.Column] =
    featureExprsFor("st", "text")

  /** DuckDB spellings of [[featureExprsFor]] over a token-list column,
    * a text column, and an in-scope integer `n_tokens` (the list's
    * length, already carried by every caller).
    */
  private[llm] def featureSqlFor(toks: String, text: String): Seq[String] = {
    val stopList = graft.functions.TokenStats.DefaultStopwords
      .map(w => s"'$w'").mkString(", ")
    Seq(
      s"'L:' || least(n_tokens // 20, 9)",
      s"'D:' || (len(list_distinct($toks)) * 10 // greatest(n_tokens, 1))",
      s"'S:' || least(len(list_filter($toks, t -> t IN ($stopList))) * 20 // greatest(n_tokens, 1), 9)",
      s"'A:' || (length(regexp_replace($text, '[^a-zA-Z]', '', 'g')) * 10 // greatest(length($text), 1))")
  }

  /** Train on the 80% split and COLLECT the model — legitimate here and
    * only here: the model is bucket-count-sized (~40 rows; ≤ a few
    * thousand with richer feature sets), and collecting it is what lets
    * inference run with NO join at all (see [[scoreColumnsFor]]).
    */
  def trainModel(s: SparkSession, dir: String): Map[String, Long] =
    modelFrom(featureRows(s, dir).where(isTrain(col("doc_id"))))

  /** Fit the evidence model from `(label, f)` rows and collect it (tiny
    * by construction — one row per feature bucket). THE one place the
    * smoothing/scale formula lives for collected models: the d38
    * curation gate calls this, so the formula cannot drift between
    * consumers (the broadcast-join path in
    * [[nbQuality]] carries its own copy, pinned equal by the t22 gate
    * and the literal-map≡join spec).
    */
  private[llm] def modelFrom(labeledFeatures: DataFrame): Map[String, Long] =
    labeledFeatures
      .groupBy("f")
      .agg(sum(col("label")).as("cp"), count(lit(1)).as("n"))
      .select(col("f"),
        expr(s"CAST((cp + 1) * $Scale DIV (n + 2) AS BIGINT)").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** `(score_sum, predicted)` columns scoring a row against a literal
    * model over caller-named TokenStats/text columns (the curation-v4
    * gate scores redacted text as `nbst`/`rtext`): the map rides the
    * expression tree to every executor (the d36 bloom-sketch posture
    * applied to a model) — four map lookups and a sum, zero joins.
    * Bit-identical to the join path of [[nbQuality]] by construction
    * (same [[featureExprsFor]], same backoff, same decision rule) —
    * spec-pinned.
    */
  def scoreColumnsFor(model: Map[String, Long], st: String, text: String):
      (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val m = typedLit(model)
    val score = featureExprsFor(st, text)
      .map(f => coalesce(element_at(m, f), lit(Scale / 2)))
      .reduce(_ + _)
    (score, when(score * 2 >= lit(4L * Scale), 1).otherwise(0).cast("int"))
  }

  /** t22: held-out per-doc scores — `(doc_id, label, score_sum,
    * predicted)`, every gated column integer-exact.
    */
  def nbQuality(s: SparkSession, dir: String): DataFrame = {
    val rows = featureRows(s, dir)
    val model = rows.where(isTrain(col("doc_id")))
      .groupBy("f")
      .agg(sum(col("label")).as("cp"), count(lit(1)).as("n"))
      .select(col("f"),
        expr(s"CAST((cp + 1) * $Scale DIV (n + 2) AS BIGINT)").as("s"))
    rows.where(!isTrain(col("doc_id")))
      .join(broadcast(model), Seq("f"), "left")
      .select(col("doc_id"), col("label"),
        coalesce(col("s"), lit(Scale / 2)).as("s"))
      .groupBy("doc_id")
      .agg(max(col("label")).cast("int").as("label"),
        count(lit(1)).as("n_feats"),
        sum(col("s")).as("score_sum"))
      .select(col("doc_id"), col("label"), col("score_sum"),
        when(col("score_sum") * 2 >= col("n_feats") * Scale, 1)
          .otherwise(0).cast("int").as("predicted"))
  }

  val nbQualitySql: String = {
    val toks = Hashing.sqlTokens("text")
    val stopList = graft.functions.TokenStats.DefaultStopwords
      .map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CASE WHEN ${TextAnalysis.qualityScoreSql("text")} >= $LabelThreshold THEN 1 ELSE 0 END AS label,
       |    $toks AS toks,
       |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
       |    length(text) AS n_chars
       |  FROM documents),
       |feat AS (
       |  SELECT doc_id, label, unnest([
       |    'L:' || least(len(toks) // 20, 9),
       |    'D:' || (len(list_distinct(toks)) * 10 // greatest(len(toks), 1)),
       |    'S:' || least(len(list_filter(toks, t -> t IN ($stopList))) * 20 // greatest(len(toks), 1), 9),
       |    'A:' || (n_alpha * 10 // greatest(n_chars, 1))]) AS f
       |  FROM base),
       |model AS (
       |  SELECT f, CAST((SUM(label) + 1) * $Scale // (COUNT(*) + 2) AS BIGINT) AS s
       |  FROM feat WHERE doc_id % 5 < 4 GROUP BY f)
       |SELECT doc_id, CAST(MAX(label) AS INT) AS label,
       |  CAST(SUM(COALESCE(s, ${Scale / 2})) AS BIGINT) AS score_sum,
       |  CAST(CASE WHEN 2 * SUM(COALESCE(s, ${Scale / 2})) >= $Scale * COUNT(*)
       |    THEN 1 ELSE 0 END AS INT) AS predicted
       |FROM (SELECT t.doc_id, t.label, m.s FROM feat t LEFT JOIN model m ON t.f = m.f
       |      WHERE t.doc_id % 5 >= 4)
       |GROUP BY doc_id""".stripMargin
  }
}

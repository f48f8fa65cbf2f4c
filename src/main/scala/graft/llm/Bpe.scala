package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Byte-pair-encoding vocabulary induction — the first step of every
  * training-data pipeline (token-budget decisions need a LEARNED
  * subword vocabulary, not a whitespace guess), and the one the
  * reference's multi-step agg-of-agg machinery is shaped for
  * (reference runner.go:352-356: chained steps where one stage's
  * aggregate feeds the next stage's map).
  *
  * Distributed shape (the published Sennrich 2016 optimization): learning
  * runs over the WORD-FREQUENCY table, never the corpus. One corpus pass
  * builds `(word, cnt)` — at 100 TB that table is vocabulary-sized
  * (~10⁷–10⁸ rows), 5–6 orders smaller than the corpus — then every merge
  * round is a narrow per-word map + a small pair aggregation over it. The
  * per-round argmax is a `limit(1)` collect: BPE's merge decision is
  * globally sequential BY DEFINITION (merge k+1 depends on the corpus
  * state after merge k), so one driver-side row per round is the
  * irreducible coordination cost, not a scale smell.
  *
  * Per-round pair counts: every round re-aggregates the adjacent pairs of
  * the whole (checkpointed, vocab-sized) word table. On real text that
  * is the measured winner up to 443k distinct words at 1,024 merges; a
  * delta-maintained pair table first won at 1.5M words (1.16×,
  * SCALE_RESULTS_r15–r17.jsonl), far above the word tables the shipped
  * [[Merges]] learn over here, so only the full loop is kept.
  *
  * Deterministic spec (both engines implement THIS, independently):
  *   - tokens = whitespace split ([[Hashing.tokens]]), empties dropped;
  *   - `~` (symbol marker) and `|` (reserved so the learned vocabulary
  *     and every BPE answer the oracle pins stay as they are) are
  *     RESERVED: both engines delete them from a word before
  *     marker-encoding (`replace(replace(w,'~',''),'|',''))` — so
  *     learned symbols can never contain either and the marker algebra
  *     below is total on ANY input, not just corpora free of the
  *     reserved chars (the r13 ADVICE divergence). A word consisting
  *     entirely of reserved chars scrubs to the empty sequence and
  *     counts zero symbols;
  *   - a word's symbol sequence is encoded as `~s1~s2~…~sn~` — every
  *     symbol carries a leading `~` marker and the string ends with one;
  *   - pair counts weight each word's adjacent symbol pairs by word
  *     frequency; SELF-pairs (x,x) are ineligible for merging — a
  *     documented variant choice that removes the overlapping-occurrence
  *     ambiguity of run merging (BPE variants already differ here);
  *   - the winning pair is argmax by (count DESC, sym_a ASC, sym_b ASC)
  *     — a total order, so ties are deterministic;
  *   - applying merge (a,b) rewrites `~a~b~` → `~ab~` with [[Passes]]
  *     chained left-to-right non-overlapping `replace` calls. One
  *     replace pass can miss an occurrence whose leading `~` was
  *     consumed as the trailing `~` of the immediately-preceding match;
  *     each pass merges at least every other occurrence of a contiguous
  *     run, so ⌈log₂ maxWordLen⌉ passes reach the fixpoint — 8 covers
  *     words to 256 chars. For x≠y (guaranteed by self-pair exclusion)
  *     occurrences never overlap, so the fixpoint equals the standard
  *     simultaneous merge.
  *
  * Memory discipline: the loop's word table lives in ONE rotated
  * localCheckpoint slot ([[CpSlot]]), released before the learn returns —
  * on success or failure — so every query leaves zero persisted RDDs and
  * every returned frame can be materialized any number of times. The
  * final segmentation's token histogram ([[vocab]], the [[tokenIds]]
  * dictionary) is collected from the loop's last checkpoint before that
  * release and comes back as a driver-built frame, like the merge table:
  * it is the model artifact, bounded by base chars + merges.
  *
  * The DuckDB oracle replays the identical algorithm as a chain of
  * MATERIALIZED CTEs, one (pairs → best → rewritten-words) stage per
  * merge round — materialization is load-bearing: DuckDB inlines plain
  * CTEs, which re-evaluates every prior round per round (exponential).
  */
object Bpe {

  /** Shipped merge-round count. 12 is enough for the corpus to
    * reconstruct whole high-frequency words (round 12 learns `join`
    * at sf0.01) while keeping the oracle's CTE chain readable.
    */
  val Merges = 12

  /** Chained-replace passes per merge application (see the fixpoint
    * argument above: ⌈log₂ maxWordLen⌉ suffices; 8 ⇒ words ≤ 256 chars).
    */
  val Passes = 8

  /** Reserved-character scrub (see the spec above): delete the two
    * reserved chars from a word before marker-encoding.
    */
  private def scrub(c: Column): Column =
    replace(replace(c, lit("~"), lit("")), lit("|"), lit(""))

  private def sqlScrub(e: String): String =
    s"replace(replace($e, '~', ''), '|', '')"

  /** A word's marker-encoded symbol sequence `~s1~…~sn~` after replaying
    * `learned` in order (none: the initial character-level encoding).
    * `$1`-backreference inserts a trailing `~` per char. (?s) DOTALL is
    * load-bearing for cross-engine parity: without it, Java's '.' skips
    * \r, U+0085, U+2028, U+2029 while RE2's skips only \n — a token
    * containing \r would be marker-encoded differently by the two
    * engines. With DOTALL both mark EVERY codepoint.
    */
  private def segment(word: Column, learned: Seq[Learned] = Nil): Column =
    replayAll(concat(lit("~"), regexp_replace(scrub(word), "(?s)(.)", "$1~")),
      learned.map(m => (m.a, m.b)))

  /** `(word, cnt, seq)` — the word-frequency table with the initial
    * character-level symbol encoding. The ONE corpus-scale pass.
    */
  private def wordSeqs(docs: DataFrame): DataFrame =
    docs
      .select(explode(Hashing.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"), segment(col("word")).as("seq"))

  private def symsOf(seq: Column): Column =
    filter(split(seq, "~"), x => x =!= "")

  /** Weighted adjacent-pair aggregation over a (cnt, seq) table.
    * `greatest(·, 0)` guards the empty symbol list (a word of only
    * reserved chars scrubs to zero symbols; `slice` throws on a negative
    * length where the oracle's `range(1, greatest(len(y),1))` yields
    * empty — the r13 ADVICE crash-divergence).
    */
  private def pairAgg(df: DataFrame): DataFrame = {
    val syms = symsOf(col("seq"))
    val n = greatest(size(syms) - 1, lit(0))
    df.select(col("cnt"), explode(arrays_zip(
        slice(syms, lit(1), n),
        slice(syms, lit(2), n))).as("pr"))
      .select(col("cnt"), col("pr.0").as("a"), col("pr.1").as("b"))
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(sum("cnt").as("pc"))
  }

  /** One merge application: [[Passes]] chained non-overlapping replaces. */
  private def applyMerge(sq: Column, a: String, b: String): Column = {
    var s = sq
    for (_ <- 1 to Passes) s = replace(s, lit(s"~$a~$b~"), lit(s"~$a$b~"))
    s
  }

  private def replayAll(sq0: Column, merges: Seq[(String, String)]): Column = {
    var s = sq0
    for ((a, b) <- merges) s = applyMerge(s, a, b)
    s
  }

  /** One rotated localCheckpoint slot: each `rotate` materializes the new
    * generation, then releases the superseded one — a learn loop holds
    * exactly one generation per slot instead of Merges+1. The RDD to
    * release is captured DIRECTLY from the checkpoint's LogicalRDD
    * (never diffed out of `sc.getPersistentRDDs`, which on a shared
    * session can capture a concurrent job's cache blocks and later
    * unpersist them — unrecoverable for a localCheckpoint).
    */
  private final class CpSlot {
    private var cur: Option[DataFrame] = None
    def rotate(df: DataFrame): DataFrame = {
      // clamp inherited size stats like every other lifecycle checkpoint
      // (r20 VERDICT #6): if a BPE composition ever checkpoints join
      // outputs the same multiplicative compounding would bite here. The
      // clamp preserves the bare-LogicalRDD plan shape (same `rdd`
      // inside), so [[releaseCp]]'s pattern match and unpersist target
      // are unchanged.
      val out = graft.runtime.Ckpt.eager(df)
      release()
      cur = Some(out)
      out
    }
    def release(): Unit = {
      cur.foreach(releaseCp)
      cur = None
    }
  }

  /** Unpersist a localCheckpoint's block, warning loudly if the plan is
    * not the bare LogicalRDD a checkpoint produces (a future Spark
    * wrapping it would silently reintroduce the Merges+1-generation
    * leak CpSlot exists to prevent — r14 ADVICE).
    */
  private def releaseCp(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case other =>
        org.apache.logging.log4j.LogManager.getLogger(Bpe.getClass).warn(
          s"CpSlot.release: expected a bare LogicalRDD under a localCheckpoint, " +
            s"got ${other.getClass.getSimpleName} — checkpoint block NOT released " +
            s"(zero-residue discipline broken; BpeSpec's residue gate should be failing)")
    }

  private[llm] final case class Learned(round: Int, a: String, b: String, cnt: Long)

  /** The merge loop: one symbol-explode + (a,b) aggregation over the
    * checkpointed word table and one TakeOrdered(1) argmax per round. The
    * corpus is read once, at the first checkpoint. `use` sees the learned
    * merges and the final segmentation — the last checkpoint with the
    * last round's merge applied as a projection, never a rewrite nobody
    * reads — while the slot is live; the slot is released when `use`
    * returns or throws.
    */
  private def learnThen[A](docs: DataFrame)(use: (Seq[Learned], DataFrame) => A): A = {
    val slot = new CpSlot
    try {
      var seqDf = slot.rotate(wordSeqs(docs))
      val merges = scala.collection.mutable.ArrayBuffer.empty[Learned]
      var k = 1
      var exhausted = false
      while (k <= Merges && !exhausted) {
        val best = pairAgg(seqDf)
          .orderBy(col("pc").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          require(!a.contains("~") && !b.contains("~") && !a.contains("|") && !b.contains("|"),
            s"reserved char leaked into a symbol: '$a','$b'")
          merges += Learned(k, a, b, c)
          val merged = seqDf.select(col("word"), col("cnt"),
            when(col("seq").contains(s"~$a~$b~"), applyMerge(col("seq"), a, b))
              .otherwise(col("seq")).as("seq"))
          seqDf = if (k < Merges) slot.rotate(merged) else merged
        }
        k += 1
      }
      use(merges.toSeq, seqDf)
    } finally slot.release()
  }

  /** The learned merges over any (text) DataFrame. */
  private[llm] def learnDf(docs: DataFrame): Seq[Learned] =
    learnThen(docs)((merges, _) => merges)

  /** The learned merges and the final segmentation's `(token, freq)`
    * histogram, collected (base chars + merges rows) and returned as a
    * driver-built frame.
    */
  private def learnVocab(docs: DataFrame): (Seq[Learned], DataFrame) =
    learnThen(docs) { (merges, fin) =>
      val hist = fin
        .select(col("cnt"), explode(symsOf(col("seq"))).as("token"))
        .groupBy("token").agg(sum("cnt").as("freq"))
      (merges, docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(hist.collect(): _*), hist.schema))
    }

  /** t20: the learned merge table — `(merge_round, sym_a, sym_b, merged,
    * pair_freq)`, one row per round in learning order. The output is
    * driver-assembled because each row IS a global decision (see the
    * class doc); the distributed work is the per-round pair aggregation.
    */
  def merges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    learnDf(Tables.documents(s, dir))
      .map(m => (m.round, m.a, m.b, m.a + m.b, m.cnt))
      .toDF("merge_round", "sym_a", "sym_b", "merged", "pair_freq")
  }

  /** t21: the corpus token histogram under the LEARNED segmentation —
    * the apply path (what a token-budget or packing decision consumes).
    */
  def vocab(s: SparkSession, dir: String): DataFrame =
    learnVocab(Tables.documents(s, dir))._2

  /** t23: per-document token counts under the LEARNED vocabulary — the
    * apply surface a token-budget or packing decision (t15) actually
    * consumes. The word→symbol-count map is vocabulary-sized, so the
    * join is left UNHINTED (the t14 posture): AQE broadcasts while the
    * vocab fits and degrades to a shuffle join instead of OOM on a
    * heavy-tailed web vocabulary.
    *
    * The map is built by merge-REPLAY over the distinct words of the
    * same corpus explode the join consumes (the t24 shape) — not by
    * re-aggregating the word-frequency table: the learn loop already
    * paid the one corpus pass, and a second one just to re-derive
    * segmentations the 12-row merge list determines would double the
    * dominant cost at 100 TB (measured as ~+0.8 s at sf0.1, r14).
    */
  def docTokens(s: SparkSession, dir: String): DataFrame =
    docTokensDf(Tables.documents(s, dir))

  /** [[docTokens]] over any (doc_id, text) DataFrame — exposed for the
    * reserved-char parity spec (two evaluation strategies, one answer,
    * on ADVERSARIAL input).
    */
  private[llm] def docTokensDf(docs: DataFrame): DataFrame = {
    val learned = learnDf(docs)
    val tok = docs
      .select(col("doc_id"), explode(Hashing.tokens(col("text"))).as("word"))
    val counts = tok.select(col("word")).distinct()
      .select(col("word"), size(symsOf(segment(col("word"), learned))).as("n_syms"))
    tok
      .join(counts, Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("n_syms")).as("n_bpe_tokens"))
  }

  /** t25: per-document token-ID sequences under the LEARNED vocabulary —
    * the actual trainer-facing output of a tokenizer (models consume
    * integer ids, not symbol strings). Output one row per token
    * OCCURRENCE, keyed by its position: `(doc_id, wpos, spos, token_id)`
    * — word index and symbol-within-word index are the deterministic
    * position encoding both engines can replay (an array column would
    * gate the same bytes but exploded rows hash-compare robustly).
    *
    * ID assignment: rank of the vocab token by (freq DESC, token ASC) —
    * a frequency-ranked dictionary, the layout every tokenizer ships.
    * The global rank window is legal HERE and only here: the vocab
    * table is the MODEL artifact, bounded by merges + base chars (32k
    * merges ⇒ ~33k rows at web scale), never corpus-sized — the same
    * driver-small argument as the collected merge list.
    *
    * Identity gated by the spec: concatenating each word's symbols in
    * (wpos, spos) order reconstructs the scrubbed corpus text mass
    * exactly (merging only ever concatenates).
    */
  def tokenIds(s: SparkSession, dir: String): DataFrame = {
    // the id dictionary ranks the collected histogram; the per-word
    // symbol explode takes the cheaper t24 shape — replay over the
    // distinct words of the corpus explode the join consumes
    val (learned, hist) = learnVocab(Tables.documents(s, dir))
    val vocab = hist
      .withColumn("token_id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("token").asc)).cast("int"))
      .select(col("token"), col("token_id"))
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(Hashing.tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("wpos"),
        col("col").as("word"))
    val wordSyms = tok.select(col("word")).distinct()
      .select(col("word"), posexplode(symsOf(segment(col("word"), learned))))
      .select(col("word"), (col("pos") + 1).cast("int").as("spos"),
        col("col").as("token"))
    tok
      .join(wordSyms, Seq("word"))
      .join(broadcast(vocab), Seq("token"))
      .select(col("doc_id"), col("wpos"), col("spos"), col("token_id"))
  }

  /** t26: sequence packing (the t15 greedy running-sum layout) budgeted
    * by LEARNED-vocabulary token counts instead of whitespace counts —
    * training budgets are measured in BPE tokens, so this is the packing
    * a real run ships. Same one source-keyed exchange as t15; the count
    * column comes from [[docTokens]]'s word-table join. Each word is ≥ 1
    * symbol, so BPE counts dominate whitespace counts and the window
    * boundaries provably move vs t15 wherever a merge left > 1 symbol
    * per word (spec-pinned).
    */
  def bpeSeqPack(s: SparkSession, dir: String, seqTokens: Int = 256): DataFrame = {
    val counts = docTokens(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"))
      .join(counts, Seq("doc_id"))
      .withColumn("cum", sum(col("n_bpe_tokens")).over(w))
      .withColumn("seq_no", expr(s"(cum - n_bpe_tokens) div $seqTokens"))
      .select(col("source"), col("doc_id"), col("n_bpe_tokens"), col("seq_no"))
  }

  /** t24: the BPE train/apply SPLIT — learn on the 80% doc_id split,
    * segment the HELD-OUT 20% by replaying the learned merge list in
    * order (the real tokenizer-inference surface: unseen words segment
    * by merge replay, not by lookup in a seen-word table — the one
    * thing [[docTokens]]'s same-corpus join cannot demonstrate).
    * Segmentation runs over the DISTINCT held-out words (vocab-sized),
    * then joins back per occurrence — the merge replay is a
    * `Merges × Passes` chain of codegen `replace` calls, paid once per
    * distinct word, not per token.
    */
  def heldoutTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val learned = learnDf(docs.where(col("doc_id") % 5 < 4))
    val testTok = docs.where(col("doc_id") % 5 >= 4)
      .select(col("doc_id"), explode(Hashing.tokens(col("text"))).as("word"))
    val segmented = testTok.select(col("word")).distinct()
      .select(col("word"), size(symsOf(segment(col("word"), learned))).as("n_syms"))
    testTok.join(segmented, Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("n_syms")).as("n_bpe_tokens"))
  }

  // ---------------------------------------------------------------- oracle

  /** One (pairs → best → rewrite) CTE stage per round; all MATERIALIZED.
    * `docsWhere` restricts the LEARNING corpus (t24 trains on a split).
    */
  private def oracleChain(n: Int, docsWhere: String = ""): String = {
    val toks = Hashing.sqlTokens("text")
    val stages = new StringBuilder
    stages ++= s"WITH w0 AS MATERIALIZED (SELECT w AS word, COUNT(*) AS cnt FROM (SELECT unnest($toks) AS w FROM documents$docsWhere) GROUP BY w), "
    // \1-backreference: DuckDB's regexp_replace spelling of Spark's $1;
    // 's' flag = the DOTALL of the Spark side's (?s) (see segment)
    stages ++= raw"s0 AS MATERIALIZED (SELECT word, cnt, '~' || regexp_replace(${sqlScrub("word")}, '(.)', '\1~', 'gs') AS seq FROM w0)"
    for (k <- 1 to n) {
      val prev = s"s${k - 1}"
      stages ++= s", p$k AS MATERIALIZED (SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(cnt) AS BIGINT) AS pc FROM (" +
        s"SELECT cnt, unnest([[y[i], y[i+1]] for i in range(1, greatest(len(y),1))]) AS pr " +
        s"FROM (SELECT cnt, list_filter(string_split(seq,'~'), x -> x <> '') AS y FROM $prev)" +
        s") WHERE pr[1] <> pr[2] GROUP BY 1, 2)"
      stages ++= s", b$k AS MATERIALIZED (SELECT $k AS merge_round, a, b, pc FROM p$k ORDER BY pc DESC, a ASC, b ASC LIMIT 1)"
      val rewritten = (1 to Passes).foldLeft("seq") { (e, _) =>
        s"replace($e, '~'||m.a||'~'||m.b||'~', '~'||m.a||m.b||'~')"
      }
      // the UNION ALL arm guards pair exhaustion: with an EMPTY b$k a
      // bare CROSS JOIN would annihilate the word table and every later
      // stage — while the Spark side keeps the final table on exhaustion
      // (the `exhausted` break). Exactly one arm is ever non-empty.
      stages ++= s", s$k AS MATERIALIZED (SELECT s.word, s.cnt, $rewritten AS seq FROM $prev s CROSS JOIN b$k m" +
        s" UNION ALL SELECT word, cnt, seq FROM $prev WHERE NOT EXISTS (SELECT 1 FROM b$k))"
    }
    stages.toString
  }

  val mergesSql: String = {
    val union = (1 to Merges).map(k => s"SELECT * FROM b$k").mkString(" UNION ALL ")
    oracleChain(Merges) +
      s" SELECT CAST(merge_round AS INT) AS merge_round, a AS sym_a, b AS sym_b, a||b AS merged, pc AS pair_freq FROM ($union)"
  }

  val vocabSql: String =
    oracleChain(Merges) +
      s" SELECT y AS token, CAST(SUM(cnt) AS BIGINT) AS freq FROM (SELECT cnt, unnest(list_filter(string_split(seq,'~'), x -> x <> '')) AS y FROM s$Merges) GROUP BY y"

  val docTokensSql: String =
    oracleChain(Merges) +
      s" SELECT doc_id, CAST(SUM(len(list_filter(string_split(m.seq,'~'), x -> x <> ''))) AS BIGINT) AS n_bpe_tokens" +
      s" FROM (SELECT doc_id, unnest(${Hashing.sqlTokens("text")}) AS word FROM documents) t" +
      s" JOIN s$Merges m ON t.word = m.word GROUP BY doc_id"

  /** [[tokenIds]] mirror: the learn chain, then the frequency-ranked id
    * dictionary and the per-occurrence (wpos, spos) position join.
    */
  val tokenIdsSql: String =
    oracleChain(Merges) +
      s", vweb AS MATERIALIZED (SELECT y AS token, CAST(SUM(cnt) AS BIGINT) AS freq FROM (SELECT cnt, unnest(list_filter(string_split(seq,'~'), x -> x <> '')) AS y FROM s$Merges) GROUP BY y)" +
      s", vid AS MATERIALIZED (SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS INT) AS token_id FROM vweb)" +
      s", ws AS MATERIALIZED (SELECT word, CAST(j AS INT) AS spos, y[j] AS token FROM (SELECT word, list_filter(string_split(seq,'~'), x -> x <> '') AS y FROM s$Merges) CROSS JOIN LATERAL unnest(range(1, len(y)+1)) r(j))" +
      s", dw AS (SELECT doc_id, CAST(i AS INT) AS wpos, t[i] AS word FROM (SELECT doc_id, ${Hashing.sqlTokens("text")} AS t FROM documents) CROSS JOIN LATERAL unnest(range(1, len(t)+1)) r(i))" +
      s" SELECT dw.doc_id, dw.wpos, ws.spos, vid.token_id FROM dw JOIN ws ON dw.word = ws.word JOIN vid ON ws.token = vid.token"

  /** [[bpeSeqPack]] mirror: the learn chain, the t23 count join, then
    * the t15 running-sum window over the BPE counts.
    */
  def bpeSeqPackSqlFor(seqTokens: Int): String =
    oracleChain(Merges) +
      s", dt AS (SELECT doc_id, CAST(SUM(len(list_filter(string_split(m.seq,'~'), x -> x <> ''))) AS BIGINT) AS n_bpe_tokens" +
      s" FROM (SELECT doc_id, unnest(${Hashing.sqlTokens("text")}) AS word FROM documents) t" +
      s" JOIN s$Merges m ON t.word = m.word GROUP BY doc_id)" +
      s", sp AS (SELECT d.source, dt.doc_id, dt.n_bpe_tokens," +
      s" SUM(dt.n_bpe_tokens) OVER (PARTITION BY d.source ORDER BY dt.doc_id ROWS UNBOUNDED PRECEDING) AS cum" +
      s" FROM dt JOIN documents d ON d.doc_id = dt.doc_id)" +
      s" SELECT source, doc_id, n_bpe_tokens, CAST((cum - n_bpe_tokens) // $seqTokens AS BIGINT) AS seq_no FROM sp"

  /** [[heldoutTokens]] mirror: the learn chain over the train split,
    * then the merge REPLAY over the distinct held-out words (u-stages,
    * same empty-b$k exhaustion guard), joined back per occurrence.
    */
  val heldoutTokensSql: String = {
    val toks = Hashing.sqlTokens("text")
    val sb = new StringBuilder(oracleChain(Merges, " WHERE doc_id % 5 < 4"))
    sb ++= raw", twd AS MATERIALIZED (SELECT DISTINCT w AS word FROM (SELECT unnest($toks) AS w FROM documents WHERE doc_id % 5 >= 4))"
    sb ++= raw", u0 AS MATERIALIZED (SELECT word, '~' || regexp_replace(${sqlScrub("word")}, '(.)', '\1~', 'gs') AS seq FROM twd)"
    for (k <- 1 to Merges) {
      val rewritten = (1 to Passes).foldLeft("u.seq") { (e, _) =>
        s"replace($e, '~'||m.a||'~'||m.b||'~', '~'||m.a||m.b||'~')"
      }
      sb ++= s", u$k AS MATERIALIZED (SELECT u.word, $rewritten AS seq FROM u${k - 1} u CROSS JOIN b$k m" +
        s" UNION ALL SELECT word, seq FROM u${k - 1} WHERE NOT EXISTS (SELECT 1 FROM b$k))"
    }
    sb ++= s" SELECT doc_id, CAST(SUM(len(list_filter(string_split(u.seq,'~'), x -> x <> ''))) AS BIGINT) AS n_bpe_tokens" +
      s" FROM (SELECT doc_id, unnest($toks) AS word FROM documents WHERE doc_id % 5 >= 4) t" +
      s" JOIN u$Merges u ON t.word = u.word GROUP BY doc_id"
    sb.toString
  }
}

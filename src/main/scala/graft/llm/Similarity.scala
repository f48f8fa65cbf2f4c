package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.runtime.{Ckpt, IndexLifecycle, IndexManifest, IndexStatePublisher}
import OracleSql.{cosineVerifySql, indented, signLshCtes, top5Sql, vecCte}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * Three paths, per the standard ANN playbook:
  *  - [[bruteKnn]]/[[embedNearDup]]: exact cosine — the baseline/verifier
  *    every ANN variant is measured against, now expressed as candidate
  *    generation + the shared [[verifyCosine]] stage.
  *  - [[lshKnn]]: multi-table sign-random-projection LSH (deterministic
  *    md5-derived hyperplanes) — candidates only from shared buckets; the
  *    (table, bucket) equi-join replaces the corpus cross product.
  *  - [[ivfKnn]]: inverted-file cells around centroids with nprobe
  *    probing — the partition-key formulation.
  *
  * Table/bit/cell counts and thresholds are OPERATOR ARGUMENTS with the
  * shipped calibration as defaults — at 100 TB bucket sizes are
  * O(corpus/2^bits), so the user retunes bits/tables (and caps oversized
  * buckets) without touching engine source.
  *
  * Dot products run through the codegen'd [[graft.functions.FloatVecDot]]
  * expression (index-order double accumulation, bit-equal to the HOF
  * `aggregate(zip_with(...))` form but without per-element lambda
  * interpretation) — no Scala UDF, no HOF interpreter in the hot loop.
  */
object Similarity {

  import graft.functions.FloatVecDot

  // shipped defaults: 8 tables × 4 bits — calibrated for ~0.7 recall@5
  // with ~2.4× candidate reduction on the near-random synthetic vectors;
  // real clustered embeddings support more bits per table
  private val defTables = 8
  private val defBits = 4
  private val defCosMin = 0.35

  /** Sentinel for "derive `bits` from the corpus count": the operator runs
    * one `count()` over the signature input and calibrates
    * bits = [[LshCalibration.bitsFor]](n, targetBucket) — the measured
    * bits = log₂(n/target) law (SCALING.md §3b) applied BY the pipeline
    * instead of left to the caller. The DuckDB mirrors replay the same
    * derivation in a CTE (`greatest(minBits, round(log2(count(*)/target)))`,
    * all integer/log arithmetic), so auto-calibrated runs stay hash-exact.
    */
  val AutoBits: Int = 0

  /** Default expected-bucket-population target for [[AutoBits]]: the
    * shipped sf0.1 operating point (2 000 vectors / 2⁴ buckets ≈ 125).
    */
  val DefTargetBucket: Int = 125

  // codegen'd index-order double dot product (see FloatVecDot: bit-equal
  // to the HOF aggregate/zip_with form, ~10× faster on candidate batches)
  private def dotCol = FloatVecDot(col("qv"), col("embedding"))
  private def normCol = sqrt(FloatVecDot(col("embedding"), col("embedding")))
  private def cosCol = dotCol / (col("qn") * col("nrm"))

  /** The (vec_id, embedding, nrm) vector table every kNN operator starts
    * from.
    */
  private[llm] def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", normCol)

  /** The kNN query side: (qid, qv, qn) for the vectors of `e` with
    * vec_id < 50.
    */
  private def queryVecs(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))

  /** The top-5 ranking every kNN operator ends with: per `qid`, the 5
    * best `id`s by `score` desc, ties broken by `id` for full
    * determinism, as (qid, nid, rnk, `out`…).
    */
  private def top5(cands: DataFrame, score: String, id: String, out: Column*): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col(score).desc, col(id).asc)
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(Seq(col("qid"), col(id), col("rnk")) ++ out: _*)
      .withColumnRenamed(id, "nid")
  }

  /** Exact-cosine top-5 over candidate ids (qid, `id`): candidate vectors
    * re-attach from `e` by id, the query vectors broadcast.
    */
  private def cosineTop5(ids: DataFrame, id: String, e: DataFrame): DataFrame =
    top5(ids
      .join(e.select(col("vec_id"), col("embedding"), col("nrm")).withColumnRenamed("vec_id", id), id)
      .join(broadcast(queryVecs(e)), "qid")
      .withColumn("cos", cosCol), "cos", id)

  /** Packed-SQ8 top-5 over candidate ids (qid, nid): corpus codes from
    * `codes`, query codes from `qcodes` (both (vec_id, code)), ranked by
    * the signed-byte integer dot.
    */
  private def packedTop5(candIds: DataFrame, codes: DataFrame, qcodes: DataFrame): DataFrame = {
    import graft.functions.BinVecDot
    top5(candIds
      .join(codes.select(col("vec_id").as("nid"), col("code").as("ncode")), "nid")
      .join(broadcast(qcodes.select(col("vec_id").as("qid"), col("code").as("qcode"))), "qid")
      .withColumn("qdot", BinVecDot(col("qcode"), col("ncode"))), "qdot", "nid", col("qdot"))
  }

  /** Exact cosine top-5 neighbors for each query vector (vec_id < 50).
    * Output is (qid, nid, rank) — ranks, not raw similarities, so the
    * result is robust to last-bit float noise across engines.
    */
  def bruteKnn(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    top5(e.join(broadcast(queryVecs(e)), col("vec_id") =!= col("qid"))
      .withColumn("cos", cosCol), "cos", "vec_id")
  }

  val bruteKnnSql: String =
    s"""WITH ${vecCte("n")},
       |p AS (
       |  SELECT q.vec_id AS qid, e.vec_id AS nid,
       |    list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos
       |  FROM n q, n e WHERE q.vec_id < 50 AND e.vec_id <> q.vec_id)
       |${top5Sql("p", "cos")}""".stripMargin

  /** Int8 scalar-quantized exact kNN (d30) — the memory-compression arm
    * of the ANN family. Normalize-then-quantize, the production cosine
    * recipe: each vector is L2-normalized, then every coordinate maps to
    * `round(v_i / ‖v‖ · 127) ∈ [-127, 127]` ([[sq8Of]]), and candidates
    * rank by the INTEGER dot of quantized vectors (codegen
    * [[graft.functions.IntVecDot]]) — qdot/127² ≈ cosine. The ranking
    * key is integer-exact: unlike the float-cosine paths (portable only
    * because both engines accumulate in index order), an integer dot has
    * one possible value anywhere, so rank parity is by construction. The
    * only FP steps — the norm and the per-coordinate `round` — are plain
    * IEEE double ops both engines compute identically on float32 inputs.
    *
    * Why it matters at 100 TB: int8 coordinates are 4× smaller than
    * float32 (the `array<int>` here models the layout; a packed binary
    * column is the production encoding), so 4× more corpus fits any
    * memory budget — executor cache, broadcast threshold, IVF cell —
    * and the integer kernel vectorizes better. Composes with [[ivfKnn]]
    * (quantize within cells) exactly as IVF-SQ8 does in the standard ANN
    * stacks. Quantization error vs exact cosine is bounded by ~d/127 per
    * dot; the spec measures recall overlap vs [[bruteKnn]].
    *
    * Output (qid, nid, rnk, qdot): the exact integer score ships in the
    * row, so the oracle compare pins values, not just ranks.
    */
  def sq8Knn(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntVecDot
    val e = vecs(s, dir).withColumn("qv", sq8Of).select(col("vec_id"), col("qv"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("qv").as("qa"))
    top5(e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("qdot", IntVecDot(col("qa"), col("qv"))), "qdot", "vec_id", col("qdot"))
  }

  /** The normalize→round CTEs (`n`, `q`) and the all-pairs integer dot
    * (`p`) of the SQ8 mirrors. `list_dot_product` over BIGINT lists is
    * exact here (≤ 64·127² ≈ 1.03e6 ≪ 2^53).
    */
  private val sq8QuantCtes: String =
    s"""${vecCte("n", floor = true)},
       |q AS (
       |  SELECT vec_id,
       |    list_transform(v, x -> CAST(round(x / nrm * 127) AS BIGINT)) AS qv
       |  FROM n)""".stripMargin
  private val sq8PairsCte: String =
    """p AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS qdot
      |  FROM q a, q b WHERE a.vec_id < 50 AND b.vec_id <> a.vec_id)""".stripMargin

  /** DuckDB mirror of [[sq8Knn]]: the same normalize→round→integer-dot
    * pipeline in SQL.
    */
  val sq8KnnSql: String =
    s"WITH $sq8QuantCtes,\n$sq8PairsCte\n${top5Sql("p", "qdot", keepScore = true)}"

  /** d34: [[sq8Knn]] with codes in the PRODUCTION layout — packed binary
    * ([[graft.functions.PackInt8]], one signed byte per coordinate: 64
    * bytes per 64-dim code, vs ~8× that for the `array<int>` modeling
    * layout with its 4-byte slots + null words + header), ranked by the
    * signed-byte integer dot ([[graft.functions.BinVecDot]]). The ranking
    * result is identical to d30 by construction (packing is a bijection on
    * [-127, 127]); what this gate ADDS is the byte-LAYOUT pin:
    * `qcode_md5` is the md5 of the query code's uppercase-hex
    * transcription, which the oracle rebuilds from the same quantization
    * arithmetic with integer/bit ops (`(x + 256) % 256` → two hex chars,
    * concatenated in coordinate order) — so element order, the
    * signed-byte convention, and the one-byte width are all
    * cross-engine-checked, not documented.
    */
  def sq8KnnPacked(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.BinVecDot
    val e = sq8CodesOf(vecs(s, dir))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("code").as("qcode"))
    top5(e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("qdot", BinVecDot(col("qcode"), col("code"))), "qdot", "vec_id",
      col("qdot"), md5(hex(col("qcode"))).as("qcode_md5"))
  }

  /** DuckDB mirror of [[sq8KnnPacked]]: d30's quantize→integer-dot CTEs
    * plus the hex-transcription md5 of each query's packed code.
    */
  val sq8KnnPackedSql: String =
    s"""WITH $sq8QuantCtes,
       |hx AS (
       |  SELECT vec_id, md5(list_aggregate(
       |    list_transform(qv, x -> lpad(to_hex((x + 256) % 256), 2, '0')),
       |    'string_agg', '')) AS qcode_md5
       |  FROM q),
       |$sq8PairsCte
       |${top5Sql("p", "qdot", keepScore = true,
            join = " r JOIN hx ON hx.vec_id = r.qid", joinCols = ", qcode_md5")}""".stripMargin

  /** DuckDB mirror of [[lshKnn]], generated from the SAME (nTables, bits)
    * arguments: hyperplanes recomputed from the same md5 derivation,
    * buckets from dot-product signs, then the same candidate join + rank.
    * Sign decisions are safe against fp summation order
    * (P(|dot| < 1e-13) ≈ 1e-13 per vector-plane).
    */
  def lshKnnSqlFor(nTables: Int, bits: Int): String =
    s"""WITH ${signLshCtes(nTables, Some(bits))},
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
       |  FROM buckets q JOIN buckets c
       |    ON q.table_id = c.table_id AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 50),
       |scored AS (
       |  SELECT ci.qid, ci.nid, list_dot_product(a.v, b.v)/(a.nrm*b.nrm) AS cos
       |  FROM cand ci JOIN e a ON a.vec_id = ci.qid JOIN e b ON b.vec_id = ci.nid)
       |${top5Sql("scored", "cos")}""".stripMargin

  val lshKnnSql: String = lshKnnSqlFor(defTables, defBits)

  /** The sign-LSH ANN grid gate (d26) — the d23 pattern applied to the
    * kNN surface: the scale runs measured that retuned bits alone
    * collapse recall (0.38 at ×10) and the PRODUCTION pair is bits
    * retuned + tables scaled to buy the recall back (t32 rows in
    * SCALING.md §3b). At the driver SFs the retuned bits are the shipped
    * 4, so the gated point is (32 tables, 4 bits) — the tables knob at a
    * non-shipped value, oracle generated from the same arguments.
    */
  def lshKnn32(s: SparkSession, dir: String): DataFrame =
    lshKnn(s, dir, nTables = 32, bits = defBits)

  val lshKnn32Sql: String = lshKnnSqlFor(32, defBits)

  /** Candidate-fed exact cosine verifier — the reusable verify stage of
    * the semantic ladder: takes ANY (a_id, b_id) candidate set (sign-LSH
    * buckets at 100 TB, all-pairs on a bounded slice) and keeps pairs
    * with cosine ≥ `minCos`. Vectors are attached ONLY for ids that
    * appear in some pair (semi-join prune), materialized once, and each
    * pair is scored per row through the codegen'd dot product.
    */
  def verifyCosine(
      s: SparkSession,
      dir: String,
      pairs: DataFrame,
      minCos: Double = defCosMin): DataFrame = {
    // pairs feeds the id prune AND the final join — materialize it so an
    // expensive candidate generator doesn't run twice
    val p = pairs.select(col("a_id"), col("b_id")).transform(graft.runtime.Ckpt.eager)
    val ids = p.select(col("a_id").as("vec_id"))
      .unionByName(p.select(col("b_id").as("vec_id")))
      .distinct()
    val e = Tables.embeddings(s, dir)
      .join(ids, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", normCol)
      .transform(graft.runtime.Ckpt.eager)
    verifyCosineOn(e, p, minCos)
  }

  /** Broadcast budget for the verify joins' vector side, in BYTES — ~384
    * MB, sized so the measured ×200 point (1M 64-float rows ≈ 290 MB with
    * per-row overhead) still broadcasts, comfortably under Spark's
    * broadcast ceiling and the memory of any executor sized for this
    * workload. Bytes, not rows: the forced `broadcast()` hint bypasses
    * the planner's own size check, so a row-count gate would silently
    * broadcast far more than intended for wider embeddings — the gate
    * measures the actual vector width instead of assuming 64 floats. The
    * knob exists because the candidate side is the BIG side here (banded
    * LSH emits O(n·E[bucket]) id pairs): shuffling ~10⁸ wide joined rows
    * against a conservative 10 MB autoBroadcast default spilled ~80 GB
    * and filled the disk at ×200 (SCALING.md §3c lesson 2); the pipeline
    * makes the production call itself — one aggregate pass over the
    * (pruned, usually checkpointed) vector table, broadcast when it
    * provably fits, shuffle join above the bound.
    */
  private val MaxBroadcastBytes: Long = 384L << 20

  /** Verify stage over a pre-materialized vector table (vec_id, embedding,
    * nrm) — callers that already hold the (possibly bounded) vector scan
    * ([[signLshPairs]], [[embedNearDup]]) pass it directly, skipping
    * [[verifyCosine]]'s id prune.
    */
  private[llm] def verifyCosineOn(e: DataFrame, pairs: DataFrame, minCos: Double): DataFrame = {
    // NOTE: one EAGER aggregate (row count + widest vector) runs here, at
    // build time — the join strategy has to be decided when the plan is
    // built, and every caller hands in a checkpointed table where the
    // pass is a cheap scan. 4 bytes per float element + ~32 bytes of
    // row/array envelope per broadcast row.
    val stats = e.agg(count(lit(1)), max(size(col("embedding")))).head()
    val rows = stats.getLong(0)
    val dim = if (stats.isNullAt(1)) 0 else stats.getInt(1)
    val small = rows * (4L * dim + 32L) <= MaxBroadcastBytes
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val ea = e.select(col("vec_id").as("a_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val eb = e.select(col("vec_id").as("b_id"), col("embedding"), col("nrm"))
    pairs
      .join(side(ea), "a_id")
      .join(side(eb), "b_id")
      .withColumn("cos", cosCol)
      .filter(col("cos") >= minCos)
      .select(col("a_id"), col("b_id"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) with cosine ≥ 0.35
    * (threshold calibrated to the synthetic corpus: 271 pairs at sf0.01,
    * nearest value 2.9e-5 from the cut — engine float noise ~1e-15 cannot
    * flip membership), expressed as bounded all-pairs candidate generation
    * + the SHARED [[verifyCosine]] stage. Bounded to vec_id < 1000: the
    * exact pairwise pass is the *verifier*; at corpus scale the LSH
    * buckets of [[signLshPairs]] prefilter candidates first and feed the
    * same verify code path.
    */
  def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    // the bounded slice IS the candidate universe, so the verifier's id
    // prune would be a no-op distinct over every pair row — build the
    // bounded vector table once (it feeds both verify sides) and hand the
    // id-only cross straight to the shared verify stage
    val e = vecs(s, dir).filter(col("vec_id") < 1000).transform(Ckpt.eager)
    val ids = e.select(col("vec_id"))
    val cand = ids.select(col("vec_id").as("a_id"))
      .join(broadcast(ids.select(col("vec_id").as("b_id"))), col("a_id") < col("b_id"))
    verifyCosineOn(e, cand, defCosMin)
  }

  val embedNearDupSql: String =
    s"""WITH ${vecCte("n", " WHERE vec_id < 1000")}
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35""".stripMargin

  /** IVF (inverted-file) ANN: partition the corpus into cells around
    * `nCells` centroids; a query probes only its nearest `nProbe` cells.
    *
    * Centroids are TRAINED with one deterministic Lloyd iteration: seeds =
    * first `nCells` vectors, assignment of a fixed sample (vec_id < 200)
    * by cosine with cid-ascending tiebreak, then the element-wise mean of
    * each cell's sample members. The mean is computed as an ORDERED left
    * fold over members sorted by vec_id — IEEE double addition in a fixed
    * order is bit-identical in every engine, where a partial-aggregated
    * `avg` would depend on partitioning (the §6 exactness rule) — and
    * rounded once to float. Production scales this same shape out:
    * k-means|| iterations over a hash-sample, each iteration = one
    * broadcast-assign + one mean-aggregate; the fold-over-collect_list is
    * per-(cell) work on a bounded sample, never the corpus.
    *
    * Everything is joins + windows over the codegen'd dot product — no
    * UDF, so the whole operator (training included) is SQL-expressible
    * and oracle-checked. All float comparisons are argmax/rank decisions
    * with gaps far above engine noise.
    *
    * At 100 TB: cells are the partition key — each probe touches
    * corpus/nCells of the data, and the cell assignment is a one-off
    * broadcast join materialized with the corpus.
    */
  def ivfKnn(
      s: SparkSession,
      dir: String,
      nCells: Int = 16,
      nProbe: Int = 2,
      sampleN: Int = 200): DataFrame = {
    // 5 branches reference e (seeds, sample, scored, qv, corpus) —
    // materialize once, eagerly (see lshKnn)
    val e = vecs(s, dir).transform(Ckpt.eager)
    cosineTop5(ivfCandidateIds(e, nCells, nProbe, sampleN), "nid", e)
  }

  /** IVF candidate generation shared by [[ivfKnn]] and [[ivfSq8Knn]]:
    * train centroids (one deterministic Lloyd iteration over the fixed
    * sample), assign every vector to its argmax cell, probe each query's
    * nearest `nProbe` cells, and emit the distinct (qid, nid) candidate
    * ids. `e` is the materialized (vec_id, embedding, nrm) table.
    */
  private def ivfCandidateIds(
      e: DataFrame, nCells: Int, nProbe: Int, sampleN: Int): DataFrame = {
    val ranked = ivfRanked(e, ivfCentroids(e, nCells, sampleN))
    val probes = ranked.filter(col("vec_id") < 50 && col("r") <= nProbe)
      .select(col("vec_id").as("qid"), col("cid").as("probe_cell"))
    probeCands(probes, cellsOf(ranked))
  }

  /** The distinct (qid, nid) candidates of (qid, probe_cell) probes over a
    * (vec_id, cell) assignment — the trained and the loaded paths alike.
    */
  private def probeCands(probes: DataFrame, cells: DataFrame): DataFrame =
    probes
      .join(cells.withColumnRenamed("vec_id", "nid"), col("cell") === col("probe_cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"))
      .distinct()

  /** Centroid training (one deterministic Lloyd iteration — see
    * [[ivfKnn]]'s scaladoc): (cid, qv float[], cnrm). Factored out so the
    * persisted-index path ([[buildIvfSq8IndexFrom]]) trains the IDENTICAL
    * centroids the in-plan path uses.
    */
  private def ivfCentroids(e: DataFrame, nCells: Int, sampleN: Int): DataFrame = {
    val dim = 64
    val seeds = e.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("qv"), col("nrm").as("cnrm"))
    // E-step on the deterministic sample: nearest seed per sample vector
    val samp = e.filter(col("vec_id") < sampleN)
    val byVec0 = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid").asc)
    val assign = samp.crossJoin(broadcast(seeds))
      .withColumn("ccos", dotCol / (col("cnrm") * col("nrm")))
      .withColumn("r", row_number().over(byVec0))
      .filter(col("r") === 1)
      .select(col("cid"), col("vec_id"), col("embedding"))
    // M-step: per-cell element-wise mean, ordered fold, rounded to float
    val meanArr = transform(sequence(lit(1), lit(dim)), i =>
      aggregate(col("vs"), lit(0.0d),
        (acc: Column, x: Column) => acc + element_at(x.getField("embedding"), i).cast("double"))
        / size(col("vs")).cast("double"))
    assign.groupBy(col("cid"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("vs"))
      .select(col("cid"), meanArr.cast("array<float>").as("qv"))
      .withColumn("cnrm", sqrt(FloatVecDot(col("qv"), col("qv"))))
  }

  /** Per-vector centroid ranking: (vec_id, cid, r) with the argmax
    * tiebreak — the one ranking both the cell assignment (r = 1) and the
    * query probe selection (r ≤ nProbe) read, in the trained AND loaded
    * paths.
    */
  private def ivfRanked(e: DataFrame, cent: DataFrame): DataFrame = {
    val scored = e.crossJoin(broadcast(cent))
      .withColumn("ccos", dotCol / (col("cnrm") * col("nrm")))
    val byVec = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid").asc)
    scored.withColumn("r", row_number().over(byVec))
  }

  /** The (vec_id, cell) argmax assignment of an [[ivfRanked]] ranking. */
  private def cellsOf(ranked: DataFrame): DataFrame =
    ranked.filter(col("r") === 1).select(col("vec_id"), col("cid").as("cell"))

  /** IVF-SQ8 (d31): the composition [[sq8Knn]]'s scaladoc promises —
    * IVF cell probing for candidate generation, int8 scalar-quantized
    * INTEGER ranking within the probed cells. Candidate membership is
    * exactly [[ivfKnn]]'s (same trained centroids, same argmax cells);
    * only the re-ranking kernel changes, from float cosine to the
    * integer dot of normalize-then-quantize vectors — so the scan is
    * corpus/nCells·nProbe AND the candidate vectors are 4× smaller. This
    * is the standard IVF-SQ stack shape: the coarse quantizer bounds the
    * scan, the scalar quantizer bounds the bytes per scanned row.
    *
    * Rank parity is by construction (one possible integer score), and
    * the exact qdot ships in the output so the oracle pins values.
    */
  def ivfSq8Knn(
      s: SparkSession,
      dir: String,
      nCells: Int = 16,
      nProbe: Int = 2,
      sampleN: Int = 200): DataFrame = {
    import graft.functions.IntVecDot
    val e = vecs(s, dir).transform(Ckpt.eager)
    val candIds = ivfCandidateIds(e, nCells, nProbe, sampleN)
    // quantize ONCE and materialize — the HOF transform is interpreted
    // (no codegen for lambda bodies), and qt feeds both join sides; this
    // is also the production layout: int8 codes are stored, not derived
    val qt = e.withColumn("qv8", sq8Of).select(col("vec_id"), col("qv8"))
      .transform(Ckpt.eager)
    top5(candIds
      .join(qt.select(col("vec_id").as("nid"), col("qv8").as("nv8")), "nid")
      .join(broadcast(qt.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("qv8").as("qq8"))), "qid")
      .withColumn("qdot", IntVecDot(col("qq8"), col("nv8"))), "qdot", "nid", col("qdot"))
  }

  /** d35: [[ivfSq8Knn]] with the candidate-side codes in the packed
    * binary layout — the join that matters at scale: probed candidates
    * shuffle WITH their codes ([[ivfSq8Knn]]'s `candIds ⋈ qt`), so the
    * code layout is exactly what the exchange carries per candidate row
    * (64 bytes packed vs ~8× as `array<int>`). Ranking is unchanged
    * (same integer dots through [[graft.functions.BinVecDot]]), so the
    * oracle is d31's layout-independent SQL at the same grid point; the
    * byte-traffic delta was measured at ×500 (`sq8pack` rows of
    * SCALE_RESULTS_r11.jsonl), not asserted from the schema.
    */
  def ivfSq8KnnPacked(
      s: SparkSession,
      dir: String,
      nCells: Int = 16,
      nProbe: Int = 2,
      sampleN: Int = 200): DataFrame = {
    // 5 branches reference e (seeds, sample, scored, codes, query codes)
    val e = vecs(s, dir).transform(Ckpt.eager)
    val candIds = ivfCandidateIds(e, nCells, nProbe, sampleN)
    // the interpreted HOF packing runs over the corpus once: the query
    // side re-packs only its 50 rows (the vec_id filter sits below it) —
    // and the packed form IS the production layout, not a model of it
    val qt = sq8CodesOf(e)
    packedTop5(candIds, qt, qt.filter(col("vec_id") < 50))
  }

  /** Shared CTE prefix (through `cand_ids`) of the IVF oracles —
    * generated from the same arguments as [[ivfCandidateIds]]. The
    * geometry arrives as SQL expressions: literals for a fixed grid
    * point, or columns of a one-row `geo` CTE (`geoCte`, cross-joined
    * where read) for a geometry derived in SQL. `seedsAnd`/`sampAnd`
    * restrict the centroid training to a corpus split.
    */
  private def ivfCandidateCte(nCells: String, nProbe: String, sampleN: String,
      geoCte: String = "", seedsAnd: String = "", sampAnd: String = ""): String = {
    val (head, geo) = if (geoCte.isEmpty) ("", "") else (geoCte + ",\n", ", geo")
    s"""WITH $head${vecCte("e")},
      |seeds AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e$geo WHERE vec_id < $nCells$seedsAnd),
      |a0 AS (
      |  SELECT s.vec_id, c.cid,
      |    list_dot_product(s.v, c.cv) / (c.cnrm * s.nrm) AS ccos
      |  FROM e s, seeds c$geo WHERE s.vec_id < $sampleN$sampAnd),
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS r
      |    FROM a0) WHERE r = 1),
      |grp AS (
      |  SELECT a.cid, list(s.v ORDER BY s.vec_id) AS vs
      |  FROM assign a JOIN e s ON s.vec_id = a.vec_id GROUP BY a.cid),
      |cmean AS (
      |  SELECT cid,
      |    [list_reduce(list_transform(vs, x -> x[i]), (acc, y) -> acc + y)
      |       / len(vs) for i in range(1, 65)]::FLOAT[] AS cfv
      |  FROM grp),
      |cent AS (
      |  SELECT cid, cfv::DOUBLE[] AS cv,
      |    sqrt(list_dot_product(cfv::DOUBLE[], cfv::DOUBLE[])) AS cnrm
      |  FROM cmean),
      |scored AS (
      |  SELECT e.vec_id, c.cid,
      |    list_dot_product(e.v, c.cv) / (c.cnrm * e.nrm) AS ccos
      |  FROM e, cent c),
      |ranked AS (
      |  SELECT vec_id, cid,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS r
      |  FROM scored),
      |cells AS (SELECT vec_id, cid AS cell FROM ranked WHERE r = 1),
      |probes AS (SELECT vec_id AS qid, cid AS probe_cell FROM ranked$geo
      |           WHERE vec_id < 50 AND r <= $nProbe),
      |cand_ids AS (
      |  SELECT DISTINCT p.qid, c.vec_id AS nid
      |  FROM probes p JOIN cells c ON c.cell = p.probe_cell
      |  WHERE c.vec_id <> p.qid)""".stripMargin
  }

  /** The exact-cosine rank tail of the IVF float oracles. */
  private val ivfCosineRank: String =
    s""",
      |cands AS (
      |  SELECT ci.qid, ci.nid,
      |    list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos
      |  FROM cand_ids ci
      |  JOIN e q ON q.vec_id = ci.qid
      |  JOIN e n ON n.vec_id = ci.nid)
      |${top5Sql("cands", "cos")}""".stripMargin

  /** DuckDB mirror of [[ivfKnn]], generated from the SAME (nCells,
    * nProbe, sampleN) arguments — the d18-d21 grid-gate pattern applied
    * to the IVF knobs (the scale measurements showed 64 cells beating the
    * shipped 16 at a third of the scan budget, so the retuning path must
    * be gated too).
    */
  def ivfKnnSqlFor(nCells: Int, nProbe: Int, sampleN: Int): String =
    ivfCandidateCte(s"$nCells", s"$nProbe", s"$sampleN") + ivfCosineRank

  /** The [[sq8KnnSql]] quantize→integer-dot ranking over `cand_ids`. */
  private val sq8RankSuffix: String =
    s""",
      |qt AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(round(x / greatest(nrm, 1e-12) * 127) AS BIGINT)) AS qv8
      |  FROM e),
      |cands AS (
      |  SELECT ci.qid, ci.nid,
      |    CAST(list_dot_product(a.qv8, b.qv8) AS BIGINT) AS qdot
      |  FROM cand_ids ci
      |  JOIN qt a ON a.vec_id = ci.qid
      |  JOIN qt b ON b.vec_id = ci.nid)
      |${top5Sql("cands", "qdot", keepScore = true)}""".stripMargin

  /** DuckDB mirror of [[ivfSq8Knn]]: the shared candidate CTE plus the
    * SQ8 ranking, generated from the same arguments.
    */
  def ivfSq8KnnSqlFor(nCells: Int, nProbe: Int, sampleN: Int): String =
    ivfCandidateCte(s"$nCells", s"$nProbe", s"$sampleN") + sq8RankSuffix

  /** The d31 gate: IVF-SQ8 at the shipped IVF defaults. */
  def ivfSq8Knn16(s: SparkSession, dir: String): DataFrame =
    ivfSq8Knn(s, dir, nCells = 16, nProbe = 2, sampleN = 200)

  val ivfSq8KnnSql: String = ivfSq8KnnSqlFor(16, 2, 200)

  /** The d32 gate: IVF-SQ8 at the measured production point (64 cells ×
    * 4 probes — the d23 retuning, composed with scalar quantization; the
    * ×10/×50/×200 runs measured 0.92 recall at ×200 on a 6% scan for
    * this pair, SCALING.md §3d).
    */
  def ivfSq8Knn64(s: SparkSession, dir: String): DataFrame =
    ivfSq8Knn(s, dir, nCells = 64, nProbe = 4, sampleN = 200)

  val ivfSq8Knn64Sql: String = ivfSq8KnnSqlFor(64, 4, 200)

  /** The d35 gate posture: packed-code IVF-SQ8 at d31's grid point,
    * against the same layout-independent oracle.
    */
  def ivfSq8KnnPacked16(s: SparkSession, dir: String): DataFrame =
    ivfSq8KnnPacked(s, dir, nCells = 16, nProbe = 2, sampleN = 200)

  val ivfSq8KnnPackedSql: String = ivfSq8KnnSqlFor(16, 2, 200)

  val ivfKnnSql: String = ivfKnnSqlFor(16, 2, 200)

  // ------------------------------------------------- persisted ANN index

  /** The persisted IVF-SQ8 index (d40): what an ANN serving path loads
    * instead of re-training —
    *   - `centroids` (cid, qv float[64], cnrm): the coarse quantizer,
    *     nCells rows — kilobytes;
    *   - `cells` (vec_id, cell): the corpus partition assignment;
    *   - `codes` (vec_id, code binary): PACKED int8 codes (the d34/d35
    *     production layout — 64 bytes per vector, what the candidate
    *     exchange carries).
    * All three round-trip parquet bit-exactly (float/double/binary), so
    * the loaded serve path is value-identical to the trained one —
    * spec-pinned, and d40 ships against d31's layout-independent oracle.
    */
  final case class IvfSq8Index(centroids: DataFrame, cells: DataFrame, codes: DataFrame)

  /** Train the index artifacts over a prepared (vec_id, embedding, nrm)
    * frame — the SAME centroid training, cell argmax, and quantization
    * the in-plan operators use (shared code, so the persisted index
    * cannot drift from the gated in-plan semantics).
    */
  private[graft] def buildIvfSq8IndexFrom(e: DataFrame, nCells: Int, sampleN: Int): IvfSq8Index =
    buildIvfSq8IndexWith(e, ivfCentroids(e, nCells, sampleN))

  /** Index build over EXPLICIT centroids — the seam the retrain path
    * needs: [[ivfCentroids]] seeds and samples by the LOW vec_ids (a
    * deterministic, oracle-replayable convention), so "retraining" over
    * corpus ∪ delta would sample only the old corpus and silently
    * reproduce the frozen quantizer; the retrain trains centroids on an
    * id-remapped view and assigns the real ids here (SCALING.md §3i).
    */
  private def buildIvfSq8IndexWith(e: DataFrame, cent: DataFrame): IvfSq8Index =
    IvfSq8Index(cent, cellsOf(ivfRanked(e, cent)), sq8CodesOf(e))

  /** The one SQ8 quantizer (normalize → ×127 → round, an int per
    * coordinate) over (embedding, nrm) — every SQ8 path, in-plan and
    * persisted, so none can drift.
    */
  private def sq8Of: Column =
    transform(col("embedding"),
      x => round(x.cast("double") / greatest(col("nrm"), lit(1e-12)) * 127).cast("int"))

  /** (vec_id, code): [[sq8Of]] packed one signed byte per coordinate. */
  private def sq8CodesOf(e: DataFrame): DataFrame =
    e.withColumn("code", graft.functions.PackInt8(sq8Of))
      .select(col("vec_id"), col("code"))

  /** Write + PUBLISH generation 0 through the maintained-index runner
    * ([[graft.runtime.IndexLifecycle.publishGen0]]; a reader resolves
    * the manifest per read, so published state must be
    * immutable-per-generation). `centroids` is rewritten only at
    * rebuild; `cells`/`codes` append per epoch. The trained cell count
    * (the centroid rows — a seed no sample vector chose trains no cell)
    * is manifest geometry `n_cells`, read by maintenance and by a
    * derived-probe serve.
    */
  def writeIvfSq8Index(idx: IvfSq8Index, dir: String): Unit =
    IndexLifecycle.publishGen0(dir, Seq(
        () => idx.centroids.write.mode("overwrite").parquet(s"$dir/centroids/gen-0"),
        () => idx.cells.write.mode("overwrite").parquet(s"$dir/cells/epoch-0"),
        () => idx.codes.write.mode("overwrite").parquet(s"$dir/codes/epoch-0")),
      Map("centroids" -> "centroids/gen-0", "cells" -> "cells", "codes" -> "codes"),
      Seq("cells", "codes"), Map("n_cells" -> idx.centroids.count().toInt))

  def readIvfSq8Index(s: SparkSession, dir: String): IvfSq8Index =
    readIvfSq8IndexAt(s, dir, IndexStatePublisher.current(dir))

  /** The index at manifest `m` — the generation a caller resolved. */
  def readIvfSq8IndexAt(s: SparkSession, dir: String, m: IndexManifest): IvfSq8Index =
    IvfSq8Index(
      s.read.parquet(s"$dir/${m.path("centroids")}"),
      s.read.parquet(m.epochPaths(dir, "cells"): _*),
      s.read.parquet(m.epochPaths(dir, "codes"): _*))

  /** MAINTAINED on-disk vector append (the d44 frozen-quantizer contract):
    * assign the delta to the published centroids (the same
    * [[ivfRanked]] argmax the build used), quantize it with the same SQ8
    * formula, and append both as the next epoch of `cells`/`codes`
    * ([[graft.runtime.IndexLifecycle.appendEpochs]]) — nothing touches
    * the corpus side. A reader that resolves the manifest per read
    * ([[readIvfSq8IndexAt]]) serves the generation published before it.
    */
  def appendVectorsToIndexDir(s: SparkSession, dir: String, delta: DataFrame): Unit =
    IndexLifecycle.mutate(dir) { m =>
      val deltaCells = cellsOf(ivfRanked(delta, s.read.parquet(s"$dir/${m.path("centroids")}")))
      IndexLifecycle.appendEpochs(dir, m, Map("cells" -> deltaCells, "codes" -> sq8CodesOf(delta)))
    }

  /** Outcome of one [[maintainIvfSq8IndexDir]] pass: whether the
    * rebuild fired, the counts that drove the trigger, and the
    * geometry to SERVE with — `nProbe` is derived from the live cell
    * count by the pinned scan fraction ([[probeFor]]), so a reader
    * needs no extra artifact to serve a retuned index correctly.
    */
  final case class IvfMaintenance(rebuilt: Boolean, indexedN: Long,
      appendedN: Long, nCells: Int, nProbe: Int)

  /** The composed ANN index maintenance entry point (r18 VERDICT ask
    * #2 — [[shouldRebuild]], [[cellsFor]]/[[probeFor]], and the
    * retrain seam all existed, but nothing composed trigger → retrain
    * → re-tune → republish into one call a scheduler can own). Under
    * the writer lock ([[graft.runtime.IndexLifecycle.mutate]]):
    *   - TRIGGER: indexed = the epoch-0 cell rows (the trained base),
    *     appended = every later epoch's; [[shouldRebuild]] at the
    *     measured default ratio decides;
    *   - not due → report the live geometry (the manifest's `n_cells`;
    *     probe count derived by [[probeFor]] — the historical grid
    *     points (16, 2) and (64, 4) are fixed points of that
    *     derivation, so no persisted probe count is needed);
    *   - due → RETRAIN + RE-TUNE: geometry re-derived at the
    *     accumulated count ([[cellsFor]]/[[probeFor]]/[[ivfSampleFor]]
    *     — the d54-gated arithmetic), centroids retrained on a
    *     hash-interleaved sample ([[ivfCentroids]] seeds/samples by
    *     LOW vec_id, and the accumulated corpus's low ids are all old
    *     corpus — training on them would silently reproduce the frozen
    *     quantizer, the clustered-drift lesson of SCALING.md §3k; the
    *     sample is a distributed TakeOrdered by hashed id, renumbered
    *     only within its ≤ sampleN rows, so no corpus-wide
    *     single-partition sort), published through the runner's
    *     regeneration ([[graft.runtime.IndexLifecycle.regenerate]]):
    *     fresh gen-suffixed directories, epochs back at 0, `n_cells`
    *     re-derived. The ×500 clustered-drift campaign measured the
    *     paired retrain+retune dominating the frozen index on both serve
    *     wall and recall at ratios ≥ 1 (SCALING.md §3k, `incvec` rows of
    *     SCALE_RESULTS_r18.jsonl).
    *
    * `allE` is the accumulated corpus as (vec_id, embedding, nrm); a
    * count guard cross-checks it against the artifact row count.
    */
  def maintainIvfSq8IndexDir(s: SparkSession, dir: String, allE: DataFrame,
      maxAppendRatio: Double = RebuildAppendRatio): IvfMaintenance =
    IndexLifecycle.mutate(dir) { m =>
      val cellPaths = m.epochPaths(dir, "cells")
      val indexedN = s.read.parquet(cellPaths.head).count()
      val appendedN =
        if (cellPaths.size > 1) s.read.parquet(cellPaths.tail: _*).count() else 0L
      if (!shouldRebuild(indexedN, appendedN, maxAppendRatio)) {
        val nc = m.geom(dir, "n_cells")
        IvfMaintenance(rebuilt = false, indexedN, appendedN, nc, probeFor(nc))
      } else {
        val n = allE.count()
        require(n == indexedN + appendedN,
          s"maintainIvfSq8IndexDir($dir): caller passed $n vectors but the " +
            s"index holds ${indexedN + appendedN} — the rebuild corpus must " +
            "be exactly the accumulated vectors")
        val nc = cellsFor(n)
        val ns = ivfSampleFor(nc)
        val hashOrd = Seq(pmod(xxhash64(col("vec_id")), lit(9973L)), col("vec_id"))
        val samp = allE.orderBy(hashOrd: _*).limit(ns).transform(Ckpt.eager)
        val remapped = samp.withColumn("vec_id",
          row_number().over(Window.orderBy(hashOrd: _*)).cast("long") - 1)
        val idx = buildIvfSq8IndexWith(allE, ivfCentroids(remapped, nc, ns))
        IndexLifecycle.regenerate(dir, m, Map("n_cells" -> nc)) { g =>
          (Seq(
            () => idx.centroids.write.mode("overwrite").parquet(s"$dir/centroids/gen-$g"),
            () => idx.cells.write.mode("overwrite").parquet(s"$dir/cells-g$g/epoch-0"),
            () => idx.codes.write.mode("overwrite").parquet(s"$dir/codes-g$g/epoch-0")),
            Map("centroids" -> s"centroids/gen-$g", "cells" -> s"cells-g$g", "codes" -> s"codes-g$g"))
        }
        IvfMaintenance(rebuilt = true, n, 0L, nc, probeFor(nc))
      }
    }

  /** Serve kNN from a LOADED index: only the queries rank against the
    * loaded centroids (the corpus's cell assignment is the artifact —
    * per-vector argmax is independent, so ranking just the query side
    * reproduces the trained path's probes exactly); candidates come from
    * the loaded cells, ranking from the loaded packed codes. No training
    * stage, no corpus-embedding scan beyond the query rows. `queries`
    * carries (vec_id, embedding, nrm) — the request's own vectors are
    * quantized in-plan, so a vector the index has never seen (the normal
    * serving case) is answered, not silently dropped.
    */
  def ivfSq8KnnFromIndex(
      queries: DataFrame,
      idx: IvfSq8Index,
      nProbe: Int = 2): DataFrame = {
    val probes = ivfRanked(queries, idx.centroids)
      .filter(col("r") <= nProbe)
      .select(col("vec_id").as("qid"), col("cid").as("probe_cell"))
    // query-side codes are quantized from the PASSED query frame itself
    // (the same sq8CodesOf formula the index was built with, so an
    // indexed vector gets bit-identical codes) — r15 ADVICE: the
    // previous semi-join against idx.codes silently DROPPED any query
    // vec_id absent from the index, which is precisely the normal
    // serving case (a genuinely new request vector), and scored a
    // changed embedding with its stale indexed code. The query set is
    // serve-request-sized, so the broadcast is bounded by the caller
    packedTop5(probeCands(probes, idx.cells), idx.codes, sq8CodesOf(queries))
  }

  /** The IVF-SQ8 family at (`nCells`, `sampleN`), serving at `nProbe`,
    * as the lifecycle gates run it ([[IndexScenario]]): gen 0 trains on
    * the base split, an append is [[appendVectorsToIndexDir]] (the cap
    * does not apply), and there is no delete. The answer serves the
    * vec_id < 50 queries of the source from a generation
    * ([[ivfSq8KnnFromIndex]]). The source is the plain [[vecs]] scan:
    * its re-reads were measured cheaper at d40 than a checkpoint job.
    */
  final case class IvfSq8Family(nCells: Int = 16, sampleN: Int = 200, nProbe: Int = 2)
      extends MaintainedFamily {
    val name = "ivfsq8"
    val id = "vec_id"
    def source(s: SparkSession, dir: String): DataFrame = vecs(s, dir)
    def write(s: SparkSession, dir: String, base: DataFrame, cap: Int, nBuckets: Int): Unit =
      writeIvfSq8Index(buildIvfSq8IndexFrom(base, nCells, sampleN), dir)
    def append(s: SparkSession, dir: String, arrived: DataFrame, delta: DataFrame, cap: Int): Unit =
      appendVectorsToIndexDir(s, dir, delta)
    def delete(s: SparkSession, dir: String, ids: DataFrame): Unit =
      throw new UnsupportedOperationException("the IVF-SQ8 index has no delete")
    def answerAt(s: SparkSession, dir: String, src: DataFrame, m: IndexManifest): DataFrame =
      ivfSq8KnnFromIndex(src.filter(col("vec_id") < 50), readIvfSq8IndexAt(s, dir, m), nProbe)
  }

  /** d40: the full persistence round — train, WRITE the parquet index,
    * READ it back, serve kNN from the loaded artifacts. Same grid as d31
    * and the same layout-independent oracle ([[ivfSq8KnnSql]]): the
    * persistence seam must change where the index lives, never the
    * answer.
    */
  def ivfSq8KnnLoaded(s: SparkSession, dir: String): DataFrame =
    IndexScenario.run(s, dir, IvfSq8Family(), IndexScenario.Row(lit(true)))

  val ivfSq8KnnLoadedSql: String = ivfSq8KnnSql

  /** d44: incremental VECTOR APPEND to the persisted ANN index — the
    * embedding family's corpus-append arm (completing the d39/d42/d43/
    * m08 matrix): yesterday's index is trained and persisted over the
    * corpus split; today's delta vectors are assigned to the FROZEN
    * coarse quantizer (the same [[ivfRanked]] argmax the build used)
    * and quantized with the same SQ8 formula, through the maintained
    * append ([[appendVectorsToIndexDir]]); serving reads the published
    * generation back.
    *
    * The append CONTRACT — and what the oracle is: append must equal a
    * REBUILD WITH THE FROZEN QUANTIZER over corpus ⊎ delta (the oracle
    * trains its centroid CTEs on the corpus split only, then assigns,
    * quantizes, and ranks over all vectors). Centroid RETRAINING under
    * drift is a scheduled rebuild decision — the ANN analogue of
    * re-banding a minhash corpus — never part of append; per-vector
    * cell assignment is independent given the centroids, which is why
    * append is exact under this contract (the same argument as d40's
    * query-side-only ranking). Delta cost: assignment is
    * |delta| × nCells dots against a broadcast kilobyte-scale centroid
    * table, quantization is a per-row map — nothing touches the corpus
    * side but the artifact append itself.
    */
  def ivfSq8IndexAppend(s: SparkSession, dir: String): DataFrame =
    IndexScenario.run(s, dir, IvfSq8Family(), IndexScenario.Row(col("vec_id") % 5 < 4,
      Seq(IndexScenario.Append(col("vec_id") % 5 >= 4))))

  /** [[ivfSq8IndexAppend]]'s oracle: the frozen-quantizer rebuild —
    * d31's SQL with the centroid training CTEs (seeds + Lloyd sample)
    * restricted to the corpus split; assignment, quantization, and
    * ranking run over ALL vectors.
    */
  val ivfSq8IndexAppendSql: String =
    ivfCandidateCte("16", "2", "200",
      seedsAnd = " AND vec_id % 5 < 4",
      sampAnd = " AND s.vec_id % 5 < 4") + sq8RankSuffix

  /** When to RETRAIN the frozen coarse quantizer — the rebuild decision
    * d44 defers, derived as computation (the d24/m05 calibration-as-code
    * pattern applied to WHEN instead of HOW). Round 17 re-measured the
    * whole derivation at 1,000 queries (5,000 truth rows per point, 1σ
    * difference floor ≈ ±0.95 recall points — the r16 curve's ±2-pt
    * floors made the constant noise-pinned) and added the CLUSTERED
    * drift arm the r16 derivation flagged as unmeasured
    * (SCALING.md §3i/§3j, `incvec` rows of SCALE_RESULTS_r16/r17.jsonl):
    *
    *  - UNIFORM drift: recall imposes NO binding constraint — the
    *    retrained advantage is ≤ 1.3 pts (≤ 1.4σ) through 4× appended
    *    mass. The binding signal is SERVE COST: the frozen index's
    *    per-query wall crosses the retrained one's between ratio 2 and
    *    4 (13.6 vs 19.1 s at 2×, 33.5 vs 22.6 s at 4×) —
    *    [[UniformDriftAppendRatio]] = 2.0, the conservative side of
    *    that bracket.
    *  - CLUSTERED drift (appended mass concentrated in few cells — a
    *    new domain/source): the frozen index starves on serve cost
    *    IMMEDIATELY — 2.8× the retrained wall already at ratio 0.5,
    *    5.6× at ratio 4 (26.6/9.5 → 155.1/27.8 s per 1,000 queries) —
    *    because the whole drifted mass lands in the few stale cells
    *    every drifted query must probe. Frozen recall actually EXCEEDS
    *    retrained at fixed nProbe from ratio 2 up (0.58 vs 0.47: one
    *    coarse cell holds all true neighbors, while a retrained
    *    quantizer splits the dense region across more cells than
    *    nProbe covers — retraining must be paired with an nProbe
    *    re-tune), so the trigger is a COST trigger, not a recall one.
    *    [[RebuildAppendRatio]] = 0.2: the smallest measured ratio
    *    already shows the cliff.
    *
    * The default is the clustered (worst measured) constant — a
    * pipeline that KNOWS its appends are distribution-stable may pass
    * [[UniformDriftAppendRatio]] explicitly. The predicate is the
    * production loop's guard: append while `!shouldRebuild`, schedule
    * a rebuild otherwise. THE REBUILD IT SCHEDULES IS retrain + RE-TUNE
    * (r17 VERDICT ask #2): re-derive the geometry at the accumulated
    * count — nCells = [[cellsFor]](n), nProbe = [[probeFor]](nCells),
    * sampleN = [[ivfSampleFor]](nCells) — then retrain centroids at
    * that geometry. Retraining at FIXED geometry is measurably worse
    * than not retraining at all on clustered-drift recall (0.47 vs
    * 0.58 at ratio 4); the ×500 `incvecc` retuned arm certifies the
    * paired rebuild dominates frozen on both serve wall and recall.
    */
  def shouldRebuild(indexedN: Long, appendedN: Long,
      maxAppendRatio: Double = RebuildAppendRatio): Boolean = {
    require(indexedN > 0, s"indexedN must be positive, got $indexedN")
    require(appendedN >= 0, s"appendedN must be non-negative, got $appendedN")
    appendedN.toDouble > maxAppendRatio * indexedN.toDouble
  }

  /** The uniform-drift relaxation (see [[shouldRebuild]]): serve-cost
    * crossover bracketed in (2, 4) on the ×500 uniform-drift curve.
    */
  val UniformDriftAppendRatio: Double = 2.0

  /** The measured trigger point (see [[shouldRebuild]]): the ×500
    * clustered-drift curve shows the frozen index's serve wall already
    * 2.8–4× the retrained one's at the SMALLEST measured append ratios
    * (0.2–0.5), so the general default triggers there: on the
    * conservative side of the worst regime's measured curve. (r16's 0.5
    * was pinned to a noise-limited 100-query recall curve; the r17 1,000-query
    * re-measurement shows recall was never the binding constraint —
    * serve cost is.)
    */
  val RebuildAppendRatio: Double = 0.2

  /** The IVF grid gate: the retuned point the scale runs measured best
    * (64 cells, 4 probes — recall 0.93 at a 6% scan at the ×50 corpus,
    * SCALING.md §3b) against an oracle generated from the same arguments.
    */
  def ivfKnn64(s: SparkSession, dir: String): DataFrame =
    ivfKnn(s, dir, nCells = 64, nProbe = 4)

  val ivfKnn64Sql: String = ivfKnnSqlFor(64, 4, 200)

  /** The measured-best cell POPULATION: the ×50 grid point (100k
    * vectors at 64 cells × 4 probes — recall 0.93 on a 6% scan,
    * SCALING.md §3b/§3d) expressed as a density, the anchor
    * [[cellsFor]] holds as the corpus grows.
    */
  val IvfTargetCellPop: Int = 1562

  /** The measured-best scan fraction (4/64 at the ×50 point): the
    * share of cells a query probes, held constant by [[probeFor]].
    */
  val IvfScanFrac: Double = 0.0625

  /** IVF geometry derivation at (re)build time (r17 VERDICT ask #2 —
    * the d24 AutoBits pattern on the ANN family): nCells = the
    * power-of-2 nearest n / [[IvfTargetCellPop]], clamped to
    * [minCells, maxCells]. The r17 clustered-drift curve measured WHY
    * this must accompany every retrain: retraining at FIXED geometry
    * lost 11 recall points at ratio 4 (0.47 vs frozen 0.58,
    * SCALING.md §3j) because the re-trained quantizer splits the dense
    * region across more cells than the stale nProbe covers — the
    * rebuild [[shouldRebuild]] schedules is only half the fix without
    * the re-tune. Fixed geometry is also the measured quadratic cliff
    * (75 s vs 5.8 s retuned at ×10, SCALING.md §3b).
    */
  def cellsFor(n: Long, targetCell: Int = IvfTargetCellPop,
      minCells: Int = 16, maxCells: Int = 4096): Int = {
    require(n > 0, s"corpus count must be positive, got $n")
    val raw = math.min(math.max(n.toDouble / targetCell, minCells.toDouble),
      maxCells.toDouble)
    1 << math.round(math.log(raw) / math.log(2)).toInt
  }

  /** The probe half of the re-tune (see [[cellsFor]]): hold the scan
    * fraction at the measured-best [[IvfScanFrac]] — nProbe grows with
    * nCells so a retrained quantizer that splits a dense region across
    * more cells still covers it (the r17 clustered-drift recall hole).
    */
  def probeFor(nCells: Int, scanFrac: Double = IvfScanFrac,
      minProbe: Int = 2): Int =
    math.max(minProbe, math.round(nCells * scanFrac).toInt)

  /** Lloyd-sample size scaled with the cell count (≥ 4 sample vectors
    * per cell; 200 = the historical fixed point at ≤ 50 cells). A
    * sample smaller than the cell count degenerates the M-step.
    */
  def ivfSampleFor(nCells: Int): Int = math.max(200, 4 * nCells)

  /** d54: IVF-KNN at DERIVED geometry — one count() derives
    * (nCells, nProbe, sampleN) via [[cellsFor]]/[[probeFor]]/
    * [[ivfSampleFor]], then the unchanged IVF ladder runs at that
    * point. At the verify SFs the derivation lands on the historical
    * (16, 2, 200) — the d24 AutoBits discipline: the oracle
    * ([[ivfKnnAutoSql]]) REPLAYS the derivation from COUNT(*) in SQL,
    * so the derivation arithmetic itself is gated, not just the grid
    * point it happens to land on.
    */
  def ivfKnnAuto(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(s, dir).count()
    val nc = cellsFor(n)
    ivfKnn(s, dir, nCells = nc, nProbe = probeFor(nc), sampleN = ivfSampleFor(nc))
  }

  /** DuckDB mirror of [[ivfKnnAuto]]: the geometry is DERIVED in SQL —
    * `geo` computes pow2(round(log2(clamp(count/targetCell)))), the
    * probe count and Lloyd-sample size from it — then the [[ivfKnnSqlFor]]
    * CTE chain runs against those values (cross-joined one-row CTE, the
    * signLshPairsAutoSqlFor pattern).
    */
  val ivfKnnAutoSql: String =
    ivfCandidateCte("geo.nc", "geo.np", "geo.ns",
      geoCte = s"""geo AS MATERIALIZED (
        |  SELECT nc, GREATEST(2, CAST(round(nc * $IvfScanFrac) AS INT)) AS np,
        |    GREATEST(200, 4 * nc) AS ns
        |  FROM (SELECT CAST(power(2, round(log2(
        |      LEAST(GREATEST(count(*) / $IvfTargetCellPop.0, 16.0), 4096.0)))) AS INT) AS nc
        |    FROM embeddings))""".stripMargin) + ivfCosineRank

  /** Corpus-wide semantic near-dup PAIRS — the embedding twin of
    * [[graft.llm.Dedup.lshVerifiedPairs]]: sign-LSH bucket collisions
    * (any of `nTables` tables × `bits` bits) generate candidates with NO
    * vec_id bound, then the SHARED [[verifyCosine]] stage keeps exact
    * cosine ≥ `minCos`. Candidate ids dedup BEFORE vectors re-attach (the
    * d06 discipline: the distinct shuffles ids, not 64-float payloads).
    * Recall is the banding's (~0.71 for cosine-0.35 pairs at 8×4 — the
    * nTables/bits arguments are the retuning knob at scale, and
    * `bucketCap` bounds template-skewed buckets); the oracle replays the
    * identical planes, so the approximate-recall set is still hash-exact.
    *
    * A (table, bucket) key holds ~n/2^bits vectors and emits
    * ~C(n/2^bits, 2) candidate pairs, so FIXED bits make the self-join
    * quadratic in corpus size — measured at ×10 corpus: 75 s at bits=4 vs
    * 5.8 s retuned (SCALING.md §3b). The `bits` default is therefore
    * [[AutoBits]]: one cheap `count()` on the signature input derives
    * bits = [[LshCalibration.bitsFor]](n, targetBucket), holding the
    * bucket population (and with it candidates per vector) constant as
    * the corpus grows — at the driver SFs the derivation lands on the
    * historical 4 bits, and the oracle CTE replays it, so auto stays
    * hash-exact. Pass explicit `bits` to pin a grid point (d20).
    */
  def signLshPairs(
      s: SparkSession,
      dir: String,
      nTables: Int = defTables,
      bits: Int = AutoBits,
      minCos: Double = defCosMin,
      bucketCap: Int = Dedup.NoBucketCap,
      targetBucket: Int = DefTargetBucket,
      minBits: Int = defBits): DataFrame = {
    // one count() serves both derivations; skipped entirely when neither
    // knob is auto
    lazy val n = Tables.embeddings(s, dir).count()
    val bitsEff =
      if (bits == AutoBits) LshCalibration.bitsFor(n, targetBucket, minBits)
      else bits
    // referenced by the bucket explode AND both verify sides
    val e = IncrementalSemantic.withSigs(vecs(s, dir), nTables, bitsEff).transform(Ckpt.eager)
    IncrementalSemantic.corpusPairs(e, minCos,
      Dedup.resolveCap(bucketCap, n.toDouble / (1L << bitsEff)))
  }

  /** DuckDB mirror of [[signLshPairs]] (same plane derivation as
    * [[lshKnnSql]], both join sides unbounded), generated from the SAME
    * (nTables, bits, minCos) arguments as the Spark side.
    */
  def signLshPairsSqlFor(nTables: Int, bits: Int, minCos: Double,
      vecWhere: String = ""): String =
    signLshPairsOver("WITH " + signLshCtes(nTables, Some(bits), from = s" $vecWhere"), minCos)

  /** The pair tail of the sign-LSH pair mirrors over their bucket CTEs
    * `ctes`: distinct a < b bucket collisions, cosine-verified, nested as
    * one `SELECT a_id, b_id` query.
    */
  private def signLshPairsOver(ctes: String, minCos: Double): String =
    "SELECT a_id, b_id FROM (\n" + indented(
      s"""$ctes,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM buckets a JOIN buckets b
         |    ON a.table_id = b.table_id AND a.bucket = b.bucket
         |      AND a.vec_id < b.vec_id)
         |${cosineVerifySql(minCos)})""".stripMargin)

  /** DuckDB mirror of [[signLshPairs]] under [[AutoBits]]: the bit count
    * is DERIVED in SQL — `nb` computes
    * greatest(minBits, round(log₂(count(*)/targetBucket))) exactly as
    * [[LshCalibration.bitsFor]] does — then planes/bucket arithmetic run
    * against that value (plane range filtered by `j < nTables·bits`,
    * band id = j // bits, bit position = j % bits; `nb` is a one-row CTE
    * cross-joined where needed). Integer/log arithmetic only, so the
    * auto-calibrated operator is gated hash-exact like every fixed point.
    * `planes` is MATERIALIZED: the bits-dependent filter blocks DuckDB's
    * CTE pruning, and inlined it recomputes the md5 per (vector, plane)
    * joined row — measured 4.5 s vs minutes at sf0.1.
    */
  def signLshPairsAutoSqlFor(
      nTables: Int,
      targetBucket: Int,
      minBits: Int,
      minCos: Double): String =
    signLshPairsOver(
      s"""WITH nb AS MATERIALIZED (
         |  SELECT greatest($minBits,
         |    CAST(round(log2(count(*) / $targetBucket.0)) AS INT)) AS bits
         |  FROM embeddings),
         |${signLshCtes(nTables, None, materialized = true)}""".stripMargin, minCos)

  /** The AutoBits gate's target bucket: small enough that the derivation
    * lands on DIFFERENT bit counts across the driver SFs (500 embeddings
    * → 4 bits at sf0.001/sf0.01, 2 000 → 6 bits at sf0.1), proving the
    * count-driven calibration is live, not a constant that happens to
    * match. (The production default [[DefTargetBucket]] = 125 derives the
    * historical 4 bits at every driver SF — d16 gates that point.)
    */
  val autoGateTargetBucket: Int = 31

  /** The AutoBits oracle gate (d24): [[signLshPairs]] with bits derived
    * from the corpus count at `targetBucket = 31`, against SQL that
    * replays the derivation — the d18-d23 grid-gate pattern applied to
    * the calibration itself.
    */
  def signLshPairsAuto(s: SparkSession, dir: String): DataFrame =
    signLshPairs(s, dir, targetBucket = autoGateTargetBucket)

  val signLshPairsAutoSql: String =
    signLshPairsAutoSqlFor(defTables, autoGateTargetBucket, defBits, defCosMin)

  /** The shipped-default mirror: [[signLshPairs]] with no explicit bits =
    * AutoBits at [[DefTargetBucket]] — what [[graft.llm.DedupResolve
    * .semanticCorpusPipeline]]'s oracle embeds.
    */
  val signLshPairsDefaultSql: String =
    signLshPairsAutoSqlFor(defTables, DefTargetBucket, defBits, defCosMin)

  /** Parameter-GRID gate: the embedding twin at a non-shipped point —
    * 4 tables × 8 bits (same 32 planes, regrouped into finer buckets:
    * fewer, higher-precision candidates), oracle-compared against SQL
    * generated from the same arguments. Gates the (nTables, bits)
    * plumbing, not just the shipped 8×4.
    */
  def signLshPairs4x8(s: SparkSession, dir: String): DataFrame =
    signLshPairs(s, dir, nTables = 4, bits = 8)

  val signLshPairs4x8Sql: String = signLshPairsSqlFor(4, 8, defCosMin)

  /** LSH-bucketed ANN: multi-table sign-random-projection. A vector joins
    * a query's candidate set iff the two share a full bucket in ANY table;
    * the (table, bucket) equi-join replaces the corpus cross product — the
    * part that matters at 100 TB, where the nTables/bits arguments are
    * retuned so bucket sizes stay O(corpus/2^bits). The md5-derived
    * hyperplanes make even the bucketing oracle-checkable ([[lshKnnSql]]
    * recomputes the same planes from the same hashes); recall vs
    * [[bruteKnn]] is additionally asserted in LlmSpec.
    */
  def lshKnn(
      s: SparkSession,
      dir: String,
      nTables: Int = defTables,
      bits: Int = defBits): DataFrame = {
    // signatures via the codegen'd SignLshBuckets expression: planes are a
    // pure function of (plane, dim) and materialize identically on every
    // executor — no UDF (the scan stays in whole-stage codegen), no plane
    // broadcast. e is referenced by 3 branches (buckets×2, corpus, qv);
    // the checkpoint materializes scan+norm+signature ONCE, not per branch
    // — eagerly: lazily, the broadcast (qb, qv) and shuffle (buckets,
    // corpus) branches raced to compute the same cached partitions
    val e = IncrementalSemantic.withSigs(vecs(s, dir), nTables, bits).transform(Ckpt.eager)
    val buckets = IncrementalSemantic.bucketsOf(e, "embedding", "nrm")
    val qb = buckets.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"),
        col("table_id").as("q_table"), col("bucket").as("q_bucket"))
    // candidate pair ids only (a pair can collide in several tables);
    // vectors re-attached after the distinct so the dedup shuffles ids,
    // not 64-float payloads
    val pairIds = buckets.join(broadcast(qb),
      col("table_id") === col("q_table") && col("bucket") === col("q_bucket") &&
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .distinct()
    cosineTop5(pairIds, "vec_id", e)
  }
}

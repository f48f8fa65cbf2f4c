package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Cluster resolution for deduplication: near-dup *pairs* (from MinHash
  * LSH, SimHash, or exact Jaccard) are edges of a similarity graph; the
  * corpus keeps one representative per connected component.
  *
  * Two paths, one answer (every id's component-minimum id):
  *  - DRIVER, while the edge list fits the driver-memory budget
  *    ([[MaxBroadcastClusters]] longs, two per edge): one `limit`ed
  *    collect of the edges, then union-find over primitive arrays on
  *    the driver, returned as a one-partition local frame. The graphs
  *    the maintained index mutations resolve are delta- or
  *    touched-cluster-sized, and there the propagation loop's cost is
  *    its job count (a checkpoint, a convergence probe and a jump
  *    checkpoint per round, ~12 jobs per resolve), not its data; the
  *    collect is one action.
  *  - SPARK, above the budget: label propagation to the component
  *    minimum ([[resolveClustersCounted]]). Each iteration is one join +
  *    one min-aggregate (both shuffle on id — the partitioning is reused
  *    across iterations), converging in O(component diameter) rounds —
  *    near-dup clusters are shallow (stars/cliques), so 3-5 rounds
  *    suffice in practice. `localCheckpoint` truncates lineage so plans
  *    don't grow with iterations. This is the standard Spark shape for
  *    connected components at scale (cf. large-join literature in
  *    PAPERS.md), and it holds no graph state on the driver.
  */
object DedupResolve {

  /** The one driver-memory budget, for a touched-cluster list and for
    * the driver resolve's edge list: ~32 MB of longs. The list is
    * delta-proportional by contract, but the contract must be
    * self-enforcing (r15 VERDICT #5) — a corpus-sized misuse would OOM
    * the driver silently under an unconditional collect or `broadcast()`.
    */
  private val MaxBroadcastClusters = 4L * 1000 * 1000

  /** The driver resolve's edge budget: two longs per edge. */
  private val MaxDriverEdges = MaxBroadcastClusters / 2

  /** The (id, cluster) schema of a resolved label table, as DDL: every
    * labels artifact is written and read with it.
    */
  private[graft] val LabelsSchema = "id BIGINT, cluster BIGINT"

  /** pairs(a_id, b_id) → (id, cluster) where cluster = min doc id of the
    * connected component. Ids not present in any pair are absent (they are
    * their own cluster). Resolved on the driver while the edges fit
    * [[MaxDriverEdges]], by [[resolveClustersCounted]] above it.
    */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    resolveWithin(pairs, maxIter = maxIter)

  /** [[resolveClusters]] with the driver edge budget `maxEdges` (a test
    * seam: a small budget forces the Spark loop).
    */
  private[graft] def resolveWithin(pairs: DataFrame, maxEdges: Long = MaxDriverEdges,
      maxIter: Int = 20): DataFrame = {
    val edges = pairs
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .limit(probeLimit(maxEdges))
      .collect()
    if (edges.length > maxEdges) resolveClustersCounted(pairs, maxIter)._1
    else {
      val (ids, mins) = componentMins(edges.map(_.getLong(0)), edges.map(_.getLong(1)))
      localFrame(pairs.sparkSession, ids.indices.map(i => Row(ids(i), mins(i))),
        StructType.fromDDL(LabelsSchema))
    }
  }

  /** Union-find over the edges (src(i), dst(i)): every distinct endpoint,
    * ascending, and its component's minimum id. Nodes are the indexes
    * of the sorted distinct ids, and a union always hangs the larger
    * root under the smaller one, so a component's root is its minimum
    * id; path halving keeps the finds short.
    */
  private def componentMins(src: Array[Long], dst: Array[Long]): (Array[Long], Array[Long]) = {
    val all = src ++ dst
    java.util.Arrays.sort(all)
    var n = 0
    for (i <- all.indices if i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
    val ids = java.util.Arrays.copyOf(all, n)
    val parent = Array.tabulate(n)(identity)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    for (e <- src.indices) {
      val a = find(java.util.Arrays.binarySearch(ids, src(e)))
      val b = find(java.util.Arrays.binarySearch(ids, dst(e)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    (ids, Array.tabulate(n)(i => ids(find(i))))
  }

  /** Driver-held rows as a frame of ONE partition: a label table built
    * from it is written as one file, not one per core.
    */
  private def localFrame(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(rows.asJava, schema).coalesce(1)

  /** A `limit` of one more row than `max` decides "fits within `max`";
    * clamped, since a bound ≥ Int.MaxValue would overflow to a NEGATIVE
    * limit (r16 ADVICE) — and any bound that large is already "never
    * on the driver", which the clamped probe still decides correctly.
    */
  private def probeLimit(max: Long): Int = math.min(max + 1, Int.MaxValue.toLong).toInt

  /** The Spark label-propagation loop — [[resolveClusters]] above the
    * driver budget — plus the number of rounds the propagation ran: at
    * scale the ROUND COUNT is the cost of resolution (each round is a
    * full join+agg over the edge set). The ×10/×50 runs recorded it per
    * corpus size and chain length to verify the O(log diameter) claim
    * (SCALING.md §3b, SCALE_RESULTS_r08.jsonl).
    */
  def resolveClustersCounted(pairs: DataFrame, maxIter: Int = 20): (DataFrame, Int) = {
    // ONE pass over the pair source emits both edge directions (explode
    // of a two-struct array) — the old two-branch union needed the
    // producer materialized first so it wouldn't run twice (the
    // recompute-under-reuse smell, SCALING.md §2); the explode form
    // reads it once in the same job, so the separate p0 checkpoint
    // (one extra materialization job per resolve call) is gone (r20
    // optimization: each resolve is called up to 4× per lifecycle
    // query, and at gate SFs the job COUNT is the cost).
    val edges = pairs
      .select(col("a_id").cast("long").as("a_id"), col("b_id").cast("long").as("b_id"))
      .select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .transform(graft.runtime.Ckpt.eager)
    // fold propagation round 1 into the init: from labels₀ = identity,
    // round 1 computes exactly labels₁(x) = min(x, min_{y∈N(x)} y) — one
    // groupBy over the edge set instead of a full join+agg+probe+jump
    // iteration. The loop below continues the identical descent (labels
    // only decrease toward the component min), so the fixpoint — and
    // therefore every caller-visible answer — is unchanged; iter starts
    // at 1 so the reported round count keeps meaning "propagation
    // rounds run" for the O(log diameter) record.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nbr_min"))
      .select(col("src").as("id"),
        least(col("src"), col("nbr_min")).as("cluster"))
      .transform(graft.runtime.Ckpt.eager)
    var iter = 1
    var done = false
    while (!done && iter < maxIter) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "dst_id"), col("dst") === col("dst_id"))
        .groupBy(col("src"))
        .agg(min(col("cluster")).as("nbr_min"))
      // keep old and new label side by side through the checkpoint: the
      // convergence probe then scans materialized partitions instead of
      // paying a labels⋈updated join per iteration
      val step = labels
        .join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"), col("cluster"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("new_cluster"))
        .transform(graft.runtime.Ckpt.eager)
      val changed = step
        .filter(col("new_cluster") =!= col("cluster"))
        .limit(1).count() // converged ⇔ no label moved; limit(1) early-exits
      done = changed == 0
      if (!done) {
        // pointer jumping: cluster ← cluster(cluster). Labels start at id
        // and only decrease (least), so label(label(x)) ≤ label(x) — the
        // shortcut squares propagation distance per round, turning
        // O(diameter) rounds into O(log diameter). Long CHAINS (common in
        // threshold graphs) made plain propagation the iteration-count
        // bottleneck; each avoided round is a full join+agg over the edge
        // set — at 100 TB the rounds, not the per-round cost, dominate.
        // Skipped at the fixpoint (changed == 0): the jump is provably a
        // no-op there, and running it anyway paid one full join +
        // materialization over the label set per resolve call.
        val cur = step.select(col("id"), col("new_cluster").as("cluster"))
        val asMap = cur.select(col("id").as("cid"), col("cluster").as("cc"))
        labels = cur
          .join(asMap, cur("cluster") === asMap("cid"), "left")
          .select(col("id"), coalesce(col("cc"), col("cluster")).as("cluster"))
          .transform(graft.runtime.Ckpt.eager)
      }
      iter += 1
    }
    (labels, iter)
  }

  /** Deduplicated corpus: every doc, minus non-representative members of
    * near-dup clusters (representative = smallest doc_id in component).
    */
  def dedupedDocIds(s: SparkSession, docs: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = resolveClusters(pairs)
    val losers = clusters.filter(col("id") =!= col("cluster")).select(col("id"))
    docs.select(col("doc_id"))
      .join(losers, docs("doc_id") === losers("id"), "left_anti")
  }

  /** A `touched` cluster list shaped for joining. ONE `limit(max+1)`
    * collect is both the size probe and the payload: while the list fits
    * the budget (the expected, delta-proportional case) the collected
    * rows are broadcast as a local frame; above it `touched` is
    * checkpointed (both joins against it read it) and joined as a
    * shuffle-hash side (completes instead of OOMing).
    */
  private[graft] def guardedByCluster(touched: DataFrame,
      maxBroadcast: Long = MaxBroadcastClusters): DataFrame = {
    val rows = touched.limit(probeLimit(maxBroadcast)).collect()
    if (rows.length <= maxBroadcast)
      broadcast(localFrame(touched.sparkSession, rows.toIndexedSeq, touched.schema))
    else touched.transform(graft.runtime.Ckpt.eager).hint("shuffle_hash")
  }

  /** TOUCHED-subgraph incremental resolution — the delta-proportional
    * stage every maintained corpus-append dedup family shares
    * (d39/d45/d46): given yesterday's resolved `labels` (id, cluster;
    * cluster = component min, itself a member) and `newEdges` of
    * delta-involved evidence, MATERIALIZED (it is read three times, and
    * the maintained append checkpoints it before its artifact mutation),
    * resolve components over newEdges ∪ the label stars of clusters
    * with ≥ 1 member incident to new evidence; untouched clusters keep
    * yesterday's labels verbatim. Identical to a full resolution over
    * (all label stars ∪ newEdges): a component either contains new
    * evidence — then every one of its clusters is touched, by the path
    * that enters it through an incident member — or is an untouched
    * cluster unchanged. Output: the UPDATED full label table (the
    * artifact a maintained index rewrites — d46).
    */
  private[graft] def incrementalLabels(labels: DataFrame, newEdges: DataFrame): DataFrame = {
    val evNodes = newEdges.select(col("a_id").as("id"))
      .unionByName(newEdges.select(col("b_id").as("id")))
      .distinct()
    val tJoin = guardedByCluster(labels.join(evNodes, Seq("id")).select(col("cluster")).distinct())
    val touchedStars = labels
      .join(tJoin, Seq("cluster"))
      .filter(col("id") =!= col("cluster"))
      .select(col("cluster").as("a_id"), col("id").as("b_id"))
    val subClusters = resolveClusters(newEdges.unionByName(touchedStars))
    val untouched = labels
      .join(tJoin, Seq("cluster"), "left_anti")
      .select(col("id"), col("cluster"))
    untouched.unionByName(subClusters.select(col("id"), col("cluster")))
  }

  /** Kept ids of `allIds` under a label table: everything minus the
    * non-representative cluster members (one `doc_id` column,
    * doc_id-ordered — the d14 output contract).
    */
  private[graft] def keptFromLabels(allIds: DataFrame, labels: DataFrame): DataFrame = {
    val losers = labels.filter(col("id") =!= col("cluster")).select(col("id"))
    allIds
      .join(losers, allIds("doc_id") === losers("id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Full dedup pipeline through the verify gate: exact-Jaccard near-dup
    * pairs → connected components → keep one representative per cluster.
    * The oracle computes the same components with a recursive CTE
    * (transitive closure) — an independent algorithm agreeing on the same
    * fixpoint, which is the strongest check an iterative operator can get.
    */
  def dedupPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).filter(col("doc_id") < 600)
    val pairs = Dedup.ngramJaccard(s, dir).select(col("a_id"), col("b_id"))
    dedupedDocIds(s, docs, pairs).orderBy(col("doc_id"))
  }

  val dedupPipelineSql: String = OracleSql.keptClosureSql(
    s"pairs AS (${Dedup.ngramJaccardSql})", "doc_id", "documents", Some("doc_id < 600"))

  /** CORPUS-WIDE dedup, end to end — the production pipeline with no id
    * bound anywhere: fused MinHash signatures → threshold-calibrated LSH
    * candidates → est filter-and-verify → exact-Jaccard survivors
    * ([[Dedup.lshVerifiedPairs]]) → pointer-jumping components → keep the
    * min doc_id per cluster. [[dedupPipeline]] is the bounded exact-pass
    * twin (its verifier is the Σ df² inverted index on a slice); this is
    * the shape that ships at 100 TB. Oracle: recursive-CTE transitive
    * closure over the independently recomputed pair set.
    */
  def corpusDedupPipeline(
      s: SparkSession,
      dir: String,
      bucketCap: Int = Dedup.NoBucketCap): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    // production callers pass Dedup.AutoCap to get the SCALING.md §3b cap
    // derivation; the shipped default stays uncapped to mirror the oracle
    val pairs = Dedup.lshVerifiedPairs(s, dir, bucketCap = bucketCap)
      .select(col("a_id"), col("b_id"))
    dedupedDocIds(s, docs, pairs).orderBy(col("doc_id"))
  }

  /** [[corpusDedupPipelineSql]] restricted to documents matching
    * `docWhere` (a bare predicate, e.g. "doc_id % 7 <> 3") — the
    * full-rerun-on-survivors oracle of the deletion gate (d47).
    */
  def corpusDedupPipelineSqlWhere(docWhere: String): String = OracleSql.keptClosureSql(
    s"pairs AS (${Dedup.lshVerifiedPairsSqlWhere(s"WHERE $docWhere")})", "doc_id", "documents",
    Some(docWhere))

  val corpusDedupPipelineSql: String = OracleSql.keptClosureSql(
    s"pairs AS (${Dedup.lshVerifiedPairsSql})", "doc_id", "documents")

  /** CORPUS-WIDE semantic dedup — the embedding twin of
    * [[corpusDedupPipeline]], with no vec_id bound at any stage: sign-LSH
    * bucket candidates → exact cosine verify ([[Similarity.signLshPairs]])
    * → pointer-jumping components → keep min vec_id. [[semanticDedupPipeline]]
    * is the bounded exact-pass twin (its verifier is the all-pairs cosine
    * on a slice); this is the shape that ships. Recall is the banding's —
    * the kept set differs from the exact pipeline's exactly where LSH
    * misses a threshold pair, and the oracle replays the same buckets, so
    * the operator is still hash-exact. The sign-LSH stage runs at
    * [[Similarity.AutoBits]] (the default): bits derive from the corpus
    * count, so THIS pipeline — not its caller — holds the bucket
    * population constant as the corpus grows (the measured quadratic-at-
    * fixed-bits regime, SCALING.md §3b); the oracle replays the same
    * count-driven derivation in its `nb` CTE.
    */
  def semanticCorpusPipeline(
      s: SparkSession,
      dir: String,
      bucketCap: Int = Dedup.NoBucketCap): DataFrame = {
    val vecs = graft.Tables.embeddings(s, dir).select(col("vec_id").as("doc_id"))
    val pairs = Similarity.signLshPairs(s, dir, bucketCap = bucketCap)
      .select(col("a_id"), col("b_id"))
    dedupedDocIds(s, vecs, pairs)
      .select(col("doc_id").as("vec_id"))
      .orderBy(col("vec_id"))
  }

  val semanticCorpusPipelineSql: String = OracleSql.keptClosureSql(
    s"pairs AS (${Similarity.signLshPairsDefaultSql})", "vec_id", "embeddings")

  /** Semantic dedup (the SemDeDup shape): embedding-cosine near-dup PAIRS
    * (d07's exact verifier — at scale, LSH/IVF candidates feed it) become
    * the similarity graph; keep one representative (min vec_id) per
    * connected component. Same resolution machinery as [[dedupPipeline]],
    * different similarity signal — near-dups by MEANING (shared
    * embedding direction), which catches paraphrases n-gram overlap
    * misses. Oracle: the same recursive-CTE transitive closure over the
    * independently-computed pair set.
    */
  def semanticDedupPipeline(s: SparkSession, dir: String): DataFrame = {
    val vecs = graft.Tables.embeddings(s, dir)
      .filter(col("vec_id") < 1000)
      .select(col("vec_id").as("doc_id"))
    val pairs = Similarity.embedNearDup(s, dir).select(col("a_id"), col("b_id"))
    dedupedDocIds(s, vecs, pairs)
      .select(col("doc_id").as("vec_id"))
      .orderBy(col("vec_id"))
  }

  val semanticDedupPipelineSql: String = OracleSql.keptClosureSql(
    s"pairs AS (${Similarity.embedNearDupSql})", "vec_id", "embeddings", Some("vec_id < 1000"))
}

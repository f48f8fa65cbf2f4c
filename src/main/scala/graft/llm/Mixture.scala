package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.Hashing.{hash60, sqlHash60}

/** Data-mixture control for training-corpus assembly: per-source quotas
  * and proportion rebalancing. Both operators are DETERMINISTIC — the
  * kept set is a pure function of (doc_id, source counts), so a re-run
  * over re-partitioned, re-ordered, or incrementally-grown input keeps
  * the same documents. That is the property a 100 TB pipeline needs:
  * sampling by `rand()` changes the corpus under retry, and sampling by
  * row position changes it under repartition.
  */
object Mixture {

  /** Cap every source at `quota` documents, keeping the `quota` docs with
    * the smallest `hash60(doc_id)` (doc_id tiebreak) — a deterministic
    * uniform draw per source. The domain-cap step of CommonCrawl-style
    * curation: no single domain may dominate the mixture.
    *
    * Scale shape: rank-per-source via a window sorts every group to rank
    * rows the cap then throws away; this instead reuses the
    * [[graft.plans.TopKPerGroup]] physical operator — a bounded
    * quota-sized heap per source per partition, O(n log quota), memory
    * O(sources · quota), one hash exchange total (the same operator behind
    * q43). The hash-order draw also makes the kept set MONOTONE: growing a
    * source only ever replaces kept docs with lower-hash ones, never
    * reshuffles the whole sample.
    */
  def sourceQuota(s: SparkSession, dir: String, quota: Int): DataFrame =
    sourceQuotaDf(Tables.documents(s, dir), quota)

  /** [[sourceQuota]] over any (doc_id, source, …) DataFrame. */
  def sourceQuotaDf(docs: DataFrame, quota: Int): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("source"),
      hash60(col("doc_id").cast("string")).as("h"))
    graft.plans.TopK.perGroup(
        keyed, Seq("source"), Seq(("h", true), ("doc_id", true)), quota)
      .select(col("doc_id"), col("source"))
  }

  def sourceQuotaSql(quota: Int): String =
    s"""SELECT doc_id, source FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ${sqlHash60("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= $quota""".stripMargin

  /** Rebalance the mixture toward `targetPerSource` documents per source:
    * each source is down-sampled at rate min(1, target/n_src) via a hash
    * threshold. Unlike [[sourceQuota]] this needs NO ranking at all —
    * the keep decision is row-local once the per-source rate is known:
    *
    *   1. one tiny aggregate (sources × counts — map-side combined),
    *   2. broadcast it back onto the scan,
    *   3. keep rows with hash60(doc_id) mod 10000 below the source's
    *      integer threshold ⌊target·10000 / n_src⌋.
    *
    * All-integer arithmetic (Spark `div` ≡ DuckDB `//` on non-negative
    * longs), so the oracle replays the derivation exactly. The kept count
    * per source is binomial around the target, not exact — the standard
    * trade: an exact-count draw needs a per-source rank (see sourceQuota),
    * the thresholded draw is a pure scan. At 100 TB the aggregate reads
    * one string column and the second pass is shuffle-free.
    */
  def mixtureSample(s: SparkSession, dir: String, targetPerSource: Long): DataFrame =
    mixtureSampleDf(Tables.documents(s, dir), targetPerSource)

  /** [[mixtureSample]] over any (doc_id, source, …) DataFrame. */
  def mixtureSampleDf(docs: DataFrame, targetPerSource: Long): DataFrame = {
    val thresholds = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"))
      .withColumn("thresh",
        least(lit(10000L), expr(s"CAST(${targetPerSource * 10000L} AS BIGINT) div n_src")))
    docs.join(broadcast(thresholds), Seq("source"))
      .filter(pmod(hash60(col("doc_id").cast("string")), lit(10000L)) < col("thresh"))
      .select(col("doc_id"), col("source"))
  }

  def mixtureSampleSql(targetPerSource: Long): String =
    s"""WITH c AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source)
       |SELECT d.doc_id, d.source FROM documents d JOIN c USING (source)
       |WHERE (${sqlHash60("CAST(doc_id AS VARCHAR)")}) % 10000
       |  < least(10000, ${targetPerSource * 10000L} // n_src)""".stripMargin

  /** Training-sequence packing: assign documents to fixed-budget context
    * windows (`seqTokens` whitespace tokens) by greedy concatenation in
    * (source, doc_id) order — seq_no = ⌊tokens-before-this-doc / budget⌋,
    * i.e. a document lands in the window where it STARTS (windows may
    * overflow by one straddling doc; the trainer's chopper handles the
    * boundary — this operator decides grouping, deterministically).
    *
    * Determinism is the point: packing by running totals over a declared
    * total order survives retry, repartition, and incremental growth of
    * OTHER sources; `rand()`-shuffled packing re-deals every epoch.
    *
    * Scale shape: token counts come from the fused codegen
    * [[graft.functions.TokenStats]] pass (shuffle-free), then ONE window
    * running-sum per source. A running sum is inherently sequential per
    * pack unit — the source is the parallelism grain (hash exchange on
    * source, sort within partition), which is the right grain for corpus
    * assembly: sources pack independently, so 1000 executors pack 1000
    * sources at once. A single giant source would serialize; the cure at
    * that scale is sub-sharding the source key (the q31 salting pattern)
    * and offsetting seq_no by shard — same arithmetic, two levels.
    */
  def seqPack(s: SparkSession, dir: String, seqTokens: Int): DataFrame =
    seqPackDf(Tables.documents(s, dir), seqTokens)

  /** [[seqPack]] over any (doc_id, source, text) DataFrame. */
  def seqPackDf(docs: DataFrame, seqTokens: Int): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .select(col("source"), col("doc_id"),
        graft.functions.TokenStats(col("text")).as("st"))
      .select(col("source"), col("doc_id"), col("st.n_tokens").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens").cast("long")).over(w))
      // integer div on non-negative longs: Spark `div` ≡ DuckDB `//`
      .withColumn("seq_no", expr(s"(cum - n_tokens) div $seqTokens"))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("seq_no"))
  }

  def seqPackSql(seqTokens: Int): String = {
    val toks = Hashing.sqlTokens("text")
    s"""SELECT source, doc_id, CAST(n_tokens AS INT) AS n_tokens,
       |  CAST((cum - n_tokens) // $seqTokens AS BIGINT) AS seq_no
       |FROM (
       |  SELECT source, doc_id, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM (SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
       |        FROM documents))""".stripMargin
  }

  /** Deterministic training-order assignment (t18): every document gets a
    * shard (which data-loader rank reads it) and an order WITHIN the shard
    * (the position the loader yields it) — both pure functions of
    * (seed, doc_id):
    *
    *   shard = hash60(seed ‖ ':' ‖ doc_id) mod nShards
    *   ord   = rank of that hash within the shard (doc_id tiebreak)
    *
    * This is the missing last step of corpus assembly: after dedup,
    * curation, quota, and packing, the trainer needs the data in a
    * shuffled, shardable order — and `rand()` or row-position orders
    * break under retry, repartition, and incremental growth (the
    * [[Mixture]] determinism contract). Changing `seed` re-deals the
    * entire permutation: per-epoch reshuffles are a seed bump, zero
    * extra state.
    *
    * Scale shape: the hash is a codegen'd scan pass; the only exchange is
    * one hash partition on `shard` + an in-partition sort — EXACTLY the
    * plan of Spark's own `repartition(nShards, shard)
    * .sortWithinPartitions(h)` write path, so materializing the physical
    * layout costs the same plan this logical form declares. nShards sets
    * the parallelism grain; the per-shard sort is n/nShards·log(n/nShards)
    * with uniform shard sizes by construction (the hash is uniform over
    * the 60-bit space).
    */
  def shardOrder(s: SparkSession, dir: String, nShards: Int, seed: String): DataFrame =
    shardOrderDf(Tables.documents(s, dir), nShards, seed)

  /** [[shardOrder]] over any (doc_id, …) DataFrame. */
  def shardOrderDf(docs: DataFrame, nShards: Int, seed: String): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    docs
      .select(col("doc_id"),
        hash60(concat(lit(seed), lit(":"), col("doc_id").cast("string"))).as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)).cast("int"))
      .withColumn("ord", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("ord"))
  }

  def shardOrderSql(nShards: Int, seed: String): String = {
    val h = sqlHash60(s"'$seed:' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, CAST(h % $nShards AS INT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY h % $nShards ORDER BY h, doc_id)
       |    AS INT) AS ord
       |FROM (SELECT doc_id, $h AS h FROM documents)""".stripMargin
  }
}

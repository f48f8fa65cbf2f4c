package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import scala.collection.mutable

/** Whole-operator customization (SURVEY.md §7.4 case (c)): top-k rows per
  * group as a first-class physical operator.
  *
  * Why custom, measured against Spark 4 (×200 corpus, SCALING.md §3c,
  * `t11_quota*` rows of SCALE_RESULTS_r09.jsonl): the engine's own
  * `row_number().over(window) <= k` path has narrowed the gap —
  * `InferWindowGroupLimit` plans a partial WindowGroupLimit below the
  * exchange, so BOTH formulations now bound
  * the shuffle to ≤ groups·k rows per input partition (640k vs the 1.02M
  * input at ×200, identical in the A/B). What the window path still pays
  * is the SORT: WindowGroupLimitExec consumes sorted input, so every
  * partition is locally sorted O(n log n) on the map side and the winners
  * re-sorted on the reduce side. This operator never sorts — a bounded
  * k-heap per group gives O(n log k) with memory O(groups·k) per
  * partition — and emits in rank order without materializing a rank
  * column. The two arms' outputs are verified IDENTICAL under a total
  * order (arm_diff = 0 at ×10/×200).
  *
  * Plan integration, the Spark-native way:
  *  - [[TopKPerGroup]] — logical node (resolution happens through the
  *    analyzer's generic expression rules)
  *  - [[TopKStrategy]] — planner strategy (injectable via
  *    `GraftExtensions`, or per-session through
  *    `spark.experimental.extraStrategies`)
  *  - [[TopKPerGroupExec]] — physical node, planned as TWO phases
  *    (partial → final, like partial aggregation): the partial phase
  *    heaps within each input partition with no distribution
  *    requirement, the final phase declares
  *    `ClusteredDistribution(groupExprs)` so Catalyst inserts the ONE
  *    required hash exchange (satisfiable from an existing partitioning
  *    if the child already clusters by the key) — which now carries at
  *    most groups·k rows per input partition, not the input
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, so, k, child) =>
      // Two-phase, like partial aggregation: top-k per group is a
      // semigroup (topk(A ∪ B) = topk(topk(A) ∪ topk(B)) under a total
      // order), so a map-side partial pass bounds what the exchange
      // carries to ≤ groups·k rows PER INPUT PARTITION instead of every
      // row. At 100 TB that is the operator's whole value: the window
      // formulation and a single-phase heap both shuffle the entire
      // input; the partial phase shuffles ~nothing.
      TopKPerGroupExec(g, so, k, partial = false,
        TopKPerGroupExec(g, so, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroup"

  // the partial phase runs wherever the data already is; only the final
  // phase demands co-location of each group (one exchange, or zero if the
  // child is already clustered by the key)
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) super.requiredChildDistribution
    else ClusteredDistribution(groupExprs) :: Nil

  // both phases only drop rows within each partition (mapPartitions, no
  // movement), so the child's partitioning survives. Without this override
  // SparkPlan reports UnknownPartitioning and EnsureRequirements inserts an
  // exchange above the partial phase even when the child is already
  // hash-clustered by the group key — the zero-shuffle path the scaladoc
  // promises.
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val gExprs = groupExprs
    val order = sortOrder
    val kk = k
    child.execute().mapPartitions { it =>
      val groupProj = UnsafeProjection.create(gExprs, childOutput)
      // comparator consistent with the requested rank order: row a ranks
      // before b  ⇔  compare(a, b) < 0
      val cmp = GenerateOrdering.generate(order, childOutput)
      // max-heap keyed by the WORST retained row → O(log k) replace
      val heapOrd = new Ordering[InternalRow] {
        def compare(a: InternalRow, b: InternalRow): Int = cmp.compare(a, b)
      }
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      it.foreach { row =>
        // lookup with the projection's reused row; copy only on first sight
        // (getOrElseUpdate would evaluate key.copy() for every input row)
        val key = groupProj(row)
        var heap = heaps.getOrElse(key, null)
        if (heap == null) {
          heap = mutable.PriorityQueue.empty(heapOrd)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) {
          heap.enqueue(row.copy())
        } else if (cmp.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }
      heaps.iterator.flatMap { case (_, heap) =>
        heap.dequeueAll.reverseIterator // rank order within the group
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** User-facing API. */
object TopK {

  /** Register the strategy on a session (idempotent). `GraftSession.build`
    * sessions get it via extensions; this covers externally-built ones.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(TopKStrategy)) {
      spark.experimental.extraStrategies = cur :+ TopKStrategy
    }
  }

  /** Top `k` rows per group of `groupCols`, ranked by `orderCols`
    * ((name, ascending) pairs). Columns are resolved by name against the
    * child's analyzed output here — Spark 4's Column nodes resolve lazily
    * through per-operator analyzer support that custom logical nodes don't
    * get, so name-based resolution is the robust seam. Output keeps the
    * child schema; rows emit in rank order within each group.
    */
  def perGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    ensureRegistered(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(name: String) = analyzed.output
      .find(a => spark.sessionState.conf.resolver(a.name, name))
      .getOrElse(throw new IllegalArgumentException(
        s"column $name not in ${analyzed.output.map(_.name).mkString(", ")}"))
    val sortOrder = orderCols.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    val plan = TopKPerGroup(groupCols.map(attr), sortOrder, k, analyzed)
    GraftShims.ofRows(spark, plan)
  }
}

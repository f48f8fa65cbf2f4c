package graft.runtime

import org.apache.spark.sql.DataFrame

/** `localCheckpoint` with inherited-statistics clamping — see
  * [[org.apache.spark.sql.GraftShims.clampCheckpointStats]] for the
  * full story (checkpointed join outputs compound their size ESTIMATES
  * multiplicatively across lifecycle steps until every optimizer pass
  * drowns in thousand-digit BigInteger arithmetic; profiled as the
  * dominant driver-side cost of the d5x index-lifecycle queries).
  *
  * Use via `.transform(Ckpt.eager)` in place of `.localCheckpoint(true)`
  * so call sites stay chainable.
  */
object Ckpt {
  /** 1 PiB: far above any honest per-frame estimate these pipelines
    * produce, far below where BigInt digit growth starts to cost — and
    * still "never broadcast" for every planner decision, exactly like
    * the unclamped garbage product it replaces.
    */
  val CapBytes: BigInt = BigInt(1L) << 50

  def eager(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftShims.clampCheckpointStats(df.localCheckpoint(true), CapBytes)
}

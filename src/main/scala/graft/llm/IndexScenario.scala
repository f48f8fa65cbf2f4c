package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.runtime.{IndexManifest, IndexStatePublisher, IndexStore}

/** One maintained index family, as the lifecycle gates drive it: write
  * generation 0 over a base split, apply appends and deletes through the
  * family's maintained mutations, and answer from a published
  * generation. Each family object holds its implementation
  * ([[IncrementalDedup.Family]], [[IncrementalSig.Family]],
  * [[IncrementalSemantic.Family]], [[Similarity.IvfSq8Family]]); the
  * runner ([[IndexScenario.run]]) chains the steps, the way gomrjob's
  * runner chains a job's steps (PAPER.md §3).
  */
trait MaintainedFamily {
  /** Prefix of a gate's temp index directory. */
  def name: String
  /** The id column of the family's rows. */
  def id: String
  /** The rows a gate over `dir` draws its base split and its ops from. */
  def source(s: SparkSession, dir: String): DataFrame
  /** `cap` as the family applies it over `src` (the semantic family
    * derives [[Dedup.AutoCap]] from the corpus size).
    */
  def capFor(src: DataFrame, cap: Int): Int = cap
  /** Write and publish generation 0 over `base`; a capped write is
    * ledgered.
    */
  def write(s: SparkSession, dir: String, base: DataFrame, cap: Int, nBuckets: Int): Unit
  /** One maintained append of `delta`; `arrived` holds every live row,
    * the delta included.
    */
  def append(s: SparkSession, dir: String, arrived: DataFrame, delta: DataFrame, cap: Int): Unit
  /** One maintained delete of the ids in `ids`. */
  def delete(s: SparkSession, dir: String, ids: DataFrame): Unit
  /** The gate's answer, read from generation `m` alone. */
  def answerAt(s: SparkSession, dir: String, src: DataFrame, m: IndexManifest): DataFrame

  final def answer(s: SparkSession, dir: String, src: DataFrame): DataFrame =
    answerAt(s, dir, src, IndexStatePublisher.current(dir))
}

/** The lifecycle gates as scenario rows: a base split, a list of ops and
  * a cap, run over one [[MaintainedFamily]]. Each answer is one read of
  * the published generation, so the oracle checks what a reader sees.
  */
object IndexScenario {

  sealed trait Op
  /** Append the source rows matching `delta`. */
  final case class Append(delta: Column) extends Op
  /** Delete the source rows matching `ids`. */
  final case class Delete(ids: Column) extends Op

  final case class Row(base: Column, ops: Seq[Op] = Nil, cap: Int = Dedup.NoBucketCap)

  /** The bucket count of every gate's index. Bucket COUNT is a layout
    * knob: it never changes the answer (the bucketed-join plan shape is
    * pinned by spec at the default 32), and at the verify SFs 32 buckets
    * per bucketed artifact are ~100 near-empty files of pure write/read
    * overhead per run.
    */
  val GateBuckets = 8

  /** Run `row` over family `f` in a fresh temp index directory (deleted
    * at JVM exit: the returned plan reads it lazily) and return the
    * answer of the final published generation.
    */
  def run(s: SparkSession, dir: String, f: MaintainedFamily, row: Row): DataFrame = {
    val src = f.source(s, dir)
    val idxDir = IndexStore.tempIndexDir(s"graft-${f.name}")
    val cap = f.capFor(src, row.cap)
    f.write(s, idxDir, src.where(row.base), cap, GateBuckets)
    row.ops.foldLeft((row.base, lit(false))) {
      case ((held, dead), Append(d)) =>
        f.append(s, idxDir, src.where((held || d) && !dead), src.where(d), cap)
        (held || d, dead)
      case ((held, dead), Delete(p)) =>
        f.delete(s, idxDir, src.where(p).select(col(f.id)))
        (held, dead || p)
    }
    f.answer(s, idxDir, src)
  }
}

package graft.perfbench

import graft.mr.{BuiltinSteps, MrRunner, MrStep}

/** `mr_jobs`: gomrjob's own surface — `MrRunner.run` over JSON lines and
  * `key\tvalue` lines. The two field-frequency inputs put the number of
  * distinct keys on both sides of the map-side combiner's capacity.
  */
final class MrJobs(b: Bench, inputs: String, work: String) extends Workload {
  private val low = s"$inputs/mr/low.jsonl"
  private val high = s"$inputs/mr/high.jsonl"
  private val kv = s"$inputs/mr/kv.tsv"
  private var seq = 0

  private def job(kind: String, file: String, steps: Seq[MrStep], gzip: Boolean = false): Unit = {
    seq += 1
    val out = s"$work/mr-out/$seq-$kind"
    b.op(kind) {
      MrRunner(kind, Seq(file), steps, output = Some(out), compressOutput = gzip,
        tmpBase = s"$work/tmp").run(b.spark)
    }.foreach { case (path, counters) =>
      b.note("output" -> path, "counters" -> counters.value)
    }
  }

  private val mix: Seq[() => Unit] = Seq(
    () => job("mr_low", low, Seq(new BuiltinSteps.FieldFrequencyStep())),
    () => job("mr_high", high, Seq(new BuiltinSteps.FieldFrequencyStep())),
    () => job("mr_chain", high,
      Seq(new BuiltinSteps.FieldFrequencyStep(), BuiltinSteps.CountHistogramStep), gzip = true),
    () => job("mr_sum", kv, Seq(BuiltinSteps.Sum)))

  def warm(): Unit = mix.foreach(_())

  /** The mix in order, cyclically, while time remains (at least one full
    * round), so no job kind is left unmeasured. */
  def measure(deadline: Long): Unit = {
    mix.foreach(_())
    Iterator.continually(mix).flatten.takeWhile(_ => System.nanoTime() < deadline).foreach(_())
  }

  def traced(): Unit = mix.foreach(_())
}

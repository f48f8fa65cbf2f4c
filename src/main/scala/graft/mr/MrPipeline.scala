package graft.mr

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** In-engine runner for [[MrStep]] pipelines — the Spark-native equivalent of
  * the reference's job runner + Hadoop Streaming shuffle
  * (/root/reference/runner.go:130-199, notes.txt:6-19).
  *
  * Physical mapping, chosen to mirror Hadoop's contract exactly while staying
  * idiomatic Spark:
  *
  *  - mapper  → `mapPartitions` over input lines (per-split transform,
  *    /root/reference/runner.go:280-287)
  *    — each input partition is one split and one map task; under
  *    MrRunner a splittable input gets at least one split per core, sized
  *    from its total bytes (`Sources.textLines` has the rule), and a `.gz`
  *    file stays one split
  *  - combiner → bounded LRU pre-aggregation inside the map task — the same
  *    trick the reference's example hand-rolls with an LRU counter
  *    ("less Mapper output makes for faster sorting",
  *    /root/reference/example/example_mr.go:25-29), generalized: evicted
  *    groups are combined and emitted early, so memory stays bounded no
  *    matter how many distinct keys a 100 TB input produces
  *  - shuffle → `repartition(n, key)` + `sortWithinPartitions(key)`: hash
  *    partition by serialized key, byte-sort within partition — precisely
  *    Hadoop Streaming's partition/sort/merge as the reference documents it
  *    (/root/reference/notes.txt:6-19); `n` honors the per-step override
  *    (/root/reference/runner.go:171-174)
  *  - reducer → per-partition sorted-run iteration: consecutive equal
  *    serialized keys form one group, the exact boundary-detection contract
  *    of the reference's internal protocols
  *    (/root/reference/mrproto/protocol.go:101,163,318)
  *
  * Step chaining is plain Dataset composition — no tmp-dir materialization
  * between steps (the reference round-trips HDFS per step,
  * /root/reference/runner.go:137-151; Spark's lazy DAG elides that I/O and
  * lets AQE re-plan across what used to be job boundaries).
  */
object MrPipeline {

  /** Default map-side combiner capacity (distinct keys held per task before
    * LRU eviction). The reference's example uses 100
    * (/root/reference/example/example_mr.go:29); we default larger since a
    * JVM task comfortably holds more, but the bound is what matters.
    */
  val DefaultCombinerCapacity = 4096

  def run(
      input: Dataset[String],
      steps: Seq[MrStep],
      counters: Counters,
      combinerCapacity: Int = DefaultCombinerCapacity): Dataset[String] =
    steps.foldLeft(input)((ds, s) => runStep(ds, s, counters, combinerCapacity))

  def runStep(
      input: Dataset[String],
      step: MrStep,
      counters: Counters,
      combinerCapacity: Int = DefaultCombinerCapacity): Dataset[String] = {
    val spark = input.sparkSession
    withProperties(spark, step.properties) { runStepImpl(input, step, counters, combinerCapacity) }
  }

  /** Apply engine properties for the duration of `body`, restoring prior
    * values (or unsetting) after — the scope of a per-step/per-job `-D`.
    * A key the session did not set is unset again, not pinned to its
    * default, so a later default (e.g. `Sources.lineSplitConf`) still sees
    * it as unset.
    */
  private[mr] def withProperties[A](
      spark: org.apache.spark.sql.SparkSession,
      props: Map[String, String])(body: => A): A =
    if (props.isEmpty) body
    else {
      val conf = spark.sessionState.conf
      val old = props.keys.map(k => k -> Option.when(conf.contains(k))(conf.getConfString(k))).toSeq
      props.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

  private def runStepImpl(
      input: Dataset[String],
      step: MrStep,
      counters: Counters,
      combinerCapacity: Int): Dataset[String] = {
    val spark = input.sparkSession
    import spark.implicits._

    // 1. map (identity = parse k\tv lines, counting tab-less ones like
    //    /root/reference/mrproto/protocol.go:96-100)
    val mapped: Dataset[KV] = step.mapper match {
      case Some(f) => input.mapPartitions(it => f(it, counters))
      case None =>
        input.flatMap { line =>
          val kv = KV.fromLine(line)
          if (kv.isEmpty) counters.inc("unknown", "invalid line - no tab")
          kv
        }
    }

    // 2. map-side combine (only when the step implements it, matching
    //    /root/reference/runner.go:188-190)
    val combined: Dataset[KV] = step.combiner match {
      case Some(c) =>
        mapped.mapPartitions(it => combinePartition(it, c, counters, combinerCapacity))
      case None => mapped
    }

    // 3. shuffle: hash-partition by serialized key, byte-sort within
    //    partition — Hadoop Streaming's partition/sort/merge.
    val numParts = step.reducerTasks
      .getOrElse(spark.sessionState.conf.numShufflePartitions)
    val sortCols = if (step.sortValues) Seq(col("key"), col("value")) else Seq(col("key"))
    val shuffled = combined
      .repartition(numParts, col("key"))
      .sortWithinPartitions(sortCols: _*)
      .as[KV]

    // 4. reduce: sorted-run group iteration per partition.
    shuffled
      .mapPartitions { it =>
        sortedRuns(it).flatMap { case (k, vs) => step.reducer(k, vs, counters) }
      }
      .map(KV.toLine)
  }

  /** Convert a pipeline's final `k \t v` lines into a 2-column DataFrame. */
  def toDataFrame(output: Dataset[String], keyName: String, valueName: String): DataFrame = {
    val spark = output.sparkSession
    import spark.implicits._
    output
      .flatMap(KV.fromLine(_))
      .toDF()
      .select(col("key").as(keyName), col("value").as(valueName))
  }

  /** Group a key-sorted KV iterator into (key, values) runs. The values
    * iterator is single-pass; advancing to the next group drains any
    * unconsumed values — the same pull contract as the reference's
    * `JsonKeyChan{Key, Values <-chan}` streams
    * (/root/reference/mrproto/protocol.go:71-74).
    */
  private[mr] def sortedRuns(it: Iterator[KV]): Iterator[(String, Iterator[String])] =
    new Iterator[(String, Iterator[String])] {
      private val buf = it.buffered
      private var current: ValuesIterator = null

      final class ValuesIterator(key: String) extends Iterator[String] {
        def hasNext: Boolean = buf.hasNext && buf.head.key == key
        def next(): String = {
          if (!hasNext) throw new NoSuchElementException
          buf.next().value
        }
        def drain(): Unit = while (hasNext) { buf.next(); () }
      }

      def hasNext: Boolean = {
        if (current != null) current.drain()
        buf.hasNext
      }
      def next(): (String, Iterator[String]) = {
        if (!hasNext) throw new NoSuchElementException
        val key = buf.head.key
        current = new ValuesIterator(key)
        (key, current)
      }
    }

  /** Bounded map-side pre-aggregation: group values per key in an LRU map of
    * at most `capacity` keys; on eviction (and at end-of-partition) run the
    * user combiner on the buffered group and emit the partial results.
    * Correct for any associative combiner because the reducer sees the
    * partials grouped again after the shuffle.
    *
    * Streaming on BOTH sides: input is consumed only as output is pulled,
    * and evicted partials are yielded as they happen — retained memory is
    * O(capacity) groups plus one combiner call's output, never
    * O(distinct keys in partition). The reference gets the same property by
    * writing partials straight to stdout as the LRU evicts
    * (/root/reference/example/example_mr.go:25-29).
    */
  private[mr] def combinePartition(
      it: Iterator[KV],
      combiner: (String, Iterator[String], Counters) => Iterator[String],
      counters: Counters,
      capacity: Int): Iterator[KV] = new Iterator[KV] {
    // Partials from at most ONE eviction wait here between pulls.
    private val pending = mutable.Queue.empty[KV]
    private var flush: Iterator[KV] = null // end-of-input drain, built lazily

    private val lru = new java.util.LinkedHashMap[String, mutable.ArrayBuffer[String]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, mutable.ArrayBuffer[String]]): Boolean = {
        if (size() > capacity) {
          counters.inc("graft.combiner", "lru evictions")
          combiner(e.getKey, e.getValue.iterator, counters)
            .foreach(v => pending += KV(e.getKey, v))
          true
        } else false
      }
    }

    private def advance(): Unit = {
      while (pending.isEmpty && it.hasNext) {
        val kv = it.next()
        var vs = lru.get(kv.key)
        if (vs == null) { vs = mutable.ArrayBuffer.empty[String]; lru.put(kv.key, vs) }
        vs += kv.value
      }
      if (pending.isEmpty && !it.hasNext && flush == null) {
        import scala.jdk.CollectionConverters._
        flush = lru.entrySet().iterator().asScala.flatMap { e =>
          combiner(e.getKey, e.getValue.iterator, counters).map(v => KV(e.getKey, v))
        }
      }
    }

    def hasNext: Boolean = {
      advance()
      pending.nonEmpty || (flush != null && flush.hasNext)
    }
    def next(): KV = {
      if (!hasNext) throw new NoSuchElementException
      if (pending.nonEmpty) pending.dequeue() else flush.next()
    }
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import graft.mr.Counters

/** Input sources (SURVEY.md §2B #11-14).
  *
  * The reference reads newline-delimited byte records with a 2 MiB buffer
  * (/root/reference/mrproto/protocol.go:46-69) and JSON-per-line with
  * skip-and-count on malformed input (:17-42); input paths may be globs on
  * any Hadoop scheme incl. *.gz (/root/reference/runner.go:51-52,
  * hdfs/job.go:27-43). Spark's readers subsume the byte plumbing
  * (vectorized, codec-transparent, glob/scheme-native); what we add is the
  * reference's lenient-ingestion contract: malformed records are counted
  * and dropped, never fatal.
  */
object Sources {

  /** Text-line source (#11): one string per line; globs, every Hadoop
    * scheme, and compressed files (#13, #14) come free from the reader.
    *
    * Splits: the scan runs one map task per input split, like Hadoop
    * Streaming. Under [[lineSplitConf]] (MrRunner applies it for the whole
    * run) each splittable file is cut into splits of
    * `min(maxPartitionBytes, max(open, (bytes + files × open) / cores))`
    * with `open` = [[LineSplitOpenCost]] and `cores` the session's default
    * parallelism. That is `FileInputFormat`'s
    * `max(minSize, min(totalSize / numSplits, blockSize))` with the core
    * count as the map-task hint. So one file larger than
    * `(cores − 1) × open` maps in at least one task per core, inputs past
    * 128 MB per core keep 128 MB splits, many small files pack into about
    * one task per core (never more than two), and a `.gz` file stays one
    * split. A line that straddles a split boundary belongs to the split it
    * starts in (Hadoop's `LineRecordReader`). Without that conf Spark's
    * 4 MiB default open cost maps any input under 4 MiB per core in fewer
    * tasks than cores, a 4 MB file in one.
    */
  def textLines(s: SparkSession, path: String): Dataset[String] = {
    import s.implicits._
    s.read.textFile(path)
  }

  /** Open cost, in bytes, that [[lineSplitConf]] charges per input file:
    * the smallest split it cuts, and the weight that packs small files
    * together, so a tiny input is not cut into near-empty tasks. Never 0:
    * Spark would then size the splits of an input smaller than `cores`
    * bytes at 0 bytes and fail.
    */
  val LineSplitOpenCost: Long = 64L * 1024

  /** Session conf under which [[textLines]] plans splits as documented
    * there. It is Spark's own `spark.sql.files.openCostInBytes` and is read
    * when the scan is planned, i.e. at the action, so it has to be in effect
    * around the action and not only where the Dataset is built. Empty when
    * the session already sets the key, and a job's `properties` applied on
    * top of it win, so an explicit setting always decides.
    */
  def lineSplitConf(s: SparkSession): Map[String, String] = {
    val key = SQLConf.FILES_OPEN_COST_IN_BYTES.key
    if (s.sessionState.conf.contains(key)) Map.empty else Map(key -> LineSplitOpenCost.toString)
  }

  /** JSON-lines source (#12): schema-on-read with PERMISSIVE mode; rows
    * whose JSON fails to parse land in `_corrupt_record`, are counted into
    * `counters("unknown", "invalid line")` — the reference's counter name
    * (/root/reference/mrproto/protocol.go:33) — and dropped.
    *
    * The count happens inside the returned plan (an accumulator bump in a
    * filter), so it aggregates across executors without a second scan.
    */
  def jsonLines(
      s: SparkSession,
      path: String,
      counters: Counters): DataFrame = {
    // schema inference over the clean subset (Spark 4 forbids filtering a
    // raw JSON read on its corrupt-record column alone, and caching the
    // whole input as the suggested workaround is a non-starter at scale);
    // the data pass itself goes text → from_json, one scan, no cache.
    val schema = s.read.option("mode", "DROPMALFORMED").json(path).schema
    jsonLinesFrom(s.read.textFile(path), schema, counters)
  }

  /** JSON-lines over an existing Dataset[String] (e.g. a column extracted
    * upstream), same lenient contract but without schema inference cost:
    * caller provides the schema.
    */
  def jsonLinesFrom(
      lines: Dataset[String],
      schema: org.apache.spark.sql.types.StructType,
      counters: Counters): DataFrame = {
    // PERMISSIVE from_json yields a struct of nulls for garbage — only a
    // corrupt-record field in the parse schema distinguishes "all fields
    // null" from "line did not parse".
    val corrupt = "_corrupt_record"
    val parseSchema = schema.add(corrupt, org.apache.spark.sql.types.StringType)
    val withParsed = lines.withColumn("_parsed",
      from_json(col("value"), parseSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt)))
    // asNondeterministic pins evaluation (the optimizer may otherwise elide
    // or duplicate a "deterministic" UDF). Counter semantics are
    // AT-LEAST-ONCE, like the reference's Hadoop counters under task retry:
    // Spark only guarantees exactly-once accumulator updates inside actions,
    // so retries/speculation/re-execution of this transformation can
    // over-count. Exact invalid-line counts, when needed, come from an
    // aggregate over the corrupt column instead.
    val keep = udf { (ok: Boolean) =>
      if (!ok) counters.inc("unknown", "invalid line")
      ok
    }.asNondeterministic()
    withParsed
      .filter(keep(col(s"_parsed.$corrupt").isNull))
      .select(col("_parsed.*"))
      .drop(corrupt)
  }
}

package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared plumbing for the persisted-index families (the lifecycle
  * gates d39–d56 and m08):
  * per-invocation temp directories with a bounded lifetime, collision-
  * safe catalog names, and idempotent bucketed-table registration.
  *
  * All three exist because the incremental operators return LAZY plans
  * over on-disk artifacts — the artifact must outlive the returned
  * DataFrame (so deletion waits for JVM exit), the catalog entry must
  * be unique per directory (so two indexes in one JVM cannot alias),
  * and re-registration must be a no-op when the entry already points at
  * the right files (so two readers of the same index do not race each
  * other's DROP/CREATE — r15 ADVICE).
  */
object IndexStore {

  /** Directories queued for deletion at JVM exit, drained by ONE
    * shutdown hook (registered lazily on first use). One hook per
    * [[tempIndexDir]] call accumulated an unbounded thread list in a
    * long-lived JVM, each thread pinning its File (r16 ADVICE).
    */
  private val reapQueue = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val reapHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var f = reapQueue.poll()
      while (f != null) {
        try org.apache.commons.io.FileUtils.deleteDirectory(f)
        catch { case _: Exception => () }
        f = reapQueue.poll()
      }
    }))

  /** Create a per-invocation temp index dir, deleted by a JVM shutdown
    * hook. Deleting earlier would break the caller's lazy reads (the
    * returned plan materializes at the harness's action, long after the
    * gate function returns); never deleting leaked dozens of dirs per
    * three-SF Verify/Bench campaign (r15 VERDICT #4).
    */
  def tempIndexDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    reapHook
    reapQueue.add(p.toFile)
    p.toString
  }

  /** Catalog table name for an index directory: the FULL 64 bits of two
    * independent murmur passes. The previous 32-bit truncation made a
    * cross-directory collision plausible within one long-lived JVM
    * (birthday bound ~2¹⁶ dirs — a Verify sweep creates dozens per run),
    * and a collision re-points the first index's live catalog table at
    * the second's files, silently serving wrong rows (r15 ADVICE).
    */
  def tableFor(prefix: String, dir: String): String = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(dir)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(dir, 0x9747b28c)
    prefix + java.lang.Long.toHexString((h1.toLong << 32) | (h2.toLong & 0xffffffffL))
  }

  private def existingLocation(s: SparkSession, name: String): Option[String] =
    if (!s.catalog.tableExists(name)) None
    else
      try s.sql(s"DESCRIBE TABLE EXTENDED $name").collect()
        .find(r => r.getString(0) == "Location")
        .map(_.getString(1))
      catch { case _: Exception => None }

  /** Scheme-normalized location identity: catalogs report locations as
    * URIs (`file:/p`, `file:///p`, `hdfs://nn/p`) while callers pass
    * plain paths — the literal string compare the old check used never
    * matched the URI forms, so every cross-JVM read silently fell back
    * to DROP/CREATE, re-introducing the concurrent-reader race
    * idempotent registration exists to fix (r16 ADVICE). A null scheme
    * means the local FS (= `file`).
    */
  private def normLoc(loc: String): (String, String, String) = {
    val u = new org.apache.hadoop.fs.Path(loc).toUri
    (Option(u.getScheme).getOrElse("file"),
      Option(u.getAuthority).getOrElse(""),
      u.getPath.stripSuffix("/"))
  }

  /** Bucket-aligned bucketed write (r20 optimization, guide §6 "aim for
    * output files in the 128 MB – 1 GB range" / avoid small files): a
    * bucketed `saveAsTable` writes one file per (task, bucket-id) pair,
    * so a frame arriving in T partitions can emit up to T × nBuckets
    * files — measured ~1.5 s of commit overhead per tiny artifact write
    * at the gate SFs, and a small-files problem at any scale. Hash-
    * repartitioning on the bucket columns into nBuckets partitions uses
    * the SAME pmod(murmur3) arithmetic as the bucket-id assignment, so
    * every task holds exactly one bucket and the write emits exactly
    * nBuckets files, each a whole bucket (delta/nBuckets sized — the
    * production nBuckets is the file-sizing knob). The added exchange
    * carries only the rows being written (delta-proportional on the
    * append paths).
    */
  def writeBucketed(
      df: DataFrame,
      nBuckets: Int,
      path: String,
      table: String,
      mode: String,
      keys: String*): Unit =
    df.repartition(nBuckets, keys.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(mode).format("parquet")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .option("path", path)
      .saveAsTable(table)

  /** Register (or reuse) the external bucketed table backing an index
    * artifact. When the catalog already has `name` pointing at exactly
    * `location`, the existing entry is returned untouched — the DROP/
    * CREATE the old readIndex issued unconditionally raced concurrent
    * readers of the same directory (a plan mid-resolution by name saw
    * the table vanish). A name pointing anywhere else is re-created.
    */
  def ensureBucketedTable(
      s: SparkSession,
      name: String,
      schema: String,
      clusterBy: String,
      nBuckets: Int,
      location: String): DataFrame = {
    val samePath = existingLocation(s, name).exists(loc => normLoc(loc) == normLoc(location))
    if (!samePath) {
      s.sql(s"DROP TABLE IF EXISTS $name")
      s.sql(s"CREATE TABLE $name ($schema) USING PARQUET " +
        s"CLUSTERED BY ($clusterBy) INTO $nBuckets BUCKETS LOCATION '$location'")
    } else {
      // drop THIS session's cached relation (file listing included): the
      // session resolving the table is not always the session that last
      // appended to it — a reader on another session of the same context
      // has a SessionCatalog that caches its own file index, so without
      // the refresh it kept probing the files of the generation it first
      // resolved (pinned by IndexStoreSpec's cross-session case)
      s.catalog.refreshTable(name)
    }
    s.table(name)
  }
}

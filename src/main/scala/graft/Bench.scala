package graft

/** Benchmark main (driver contract): runs the query inventory on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is forced through the `noop` sink — a plain `count()` would
  * let Catalyst prune away projected columns (a scalar-function query
  * would "benchmark" a row count instead of its expressions); noop fully
  * materializes every output column through the whole plan, which is what
  * a downstream consumer would pay.
  */
object Bench {
  /** JSON-escape a string: quote, backslash and every control char below
    * 0x20, the one escaper of the bench's env note and Verify's
    * `oracle_sql.json` (r20 ADVICE #3: a SPARK_GRAFT_ENV_NOTE carrying a
    * quote/backslash/control char produced an invalid JSON artifact).
    */
  private[graft] def jesc(raw: String): String = raw.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** `raw` JSON-escaped and then cut to at most `n` chars, by whole code
    * points: never mid-escape, never half a surrogate pair.
    */
  private[graft] def jescTake(raw: String, n: Int): String = {
    val pieces = raw.codePoints.toArray.map(cp => jesc(new String(Character.toChars(cp))))
    pieces.take(pieces.scanLeft(0)(_ + _.length).tail.takeWhile(_ <= n).length).mkString
  }

  /** Where the full per-query record goes: `SPARK_GRAFT_BENCH_FILE`, else
    * `BENCH_local_latest.json`. A subset run (`SPARK_GRAFT_BENCH_ONLY`)
    * writes only to an explicitly named file, so timing a few queries
    * cannot overwrite the full-inventory record.
    */
  private[graft] def recordFile(only: Option[String], file: Option[String]): Option[String] =
    if (only.exists(_.nonEmpty)) file else Some(file.getOrElse("BENCH_local_latest.json"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.driverSession("graft-bench")
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

    // per-query watchdog (round-11 lesson: one hanging plan, warmup query
    // #37, timed out the whole main and voided every query's number —
    // rc=124, parsed:null). A timed-out or failed query records -1 and
    // the run continues: skip-bad-and-count, the reference's own protocol
    // posture (reference mrproto/protocol.go:32-35) applied to the harness.
    // Verify's parquet-dump harness uses its own SPARK_GRAFT_VERIFY_TIMEOUT
    // (300 s default) — see Verify.main; this knob tunes only the bench
    val measuredTimeout = Watchdog.secs("SPARK_GRAFT_QUERY_TIMEOUT", 150)
    val warmupTimeout = Watchdog.secs("SPARK_GRAFT_WARMUP_TIMEOUT", 60)

    // post-timeout settle (r19 VERDICT #2: d56 blew the watchdog twice and
    // its cancelled-but-still-exiting tasks inflated every m-family number
    // plus q01 — one pathological query voided a family's bench signal).
    // After a timeout/failure, park until the cancelled group's tasks have
    // actually exited (active-job poll, bounded) before the next measured
    // query starts. A DRIVER-side hang has no Spark jobs to drain — its
    // one zombie core is the documented residual (Watchdog class doc).
    def settle(maxWaitSec: Int = 60): Unit = {
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.nanoTime() + maxWaitSec * 1000L * 1000 * 1000
      while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(200)
      if (tracker.getActiveJobIds().nonEmpty)
        System.err.println(
          s"[bench] settle: cancelled tasks still active after ${maxWaitSec}s " +
            "- subsequent timings may carry residue")
    }

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val elapsed =
        Watchdog.run(spark, s"bench-$name", measuredTimeout) {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        } match {
          case Watchdog.Ok => (System.nanoTime() - t0) / 1e9
          case Watchdog.TimedOut =>
            System.err.println(s"[bench] $name timed out (${measuredTimeout}s)")
            settle()
            -1.0
          case Watchdog.Failed(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            settle()
            -1.0
        }
      // checkpoint-using queries (t07, d06, d09, d13-d15) persist RDDs that
      // only release on GC; across 78 queries × 3 executions the
      // accumulated blocks add allocator/GC noise to later timings — the
      // shared-JVM drift the round-3 numbers showed. Release them OUTSIDE
      // the timed region.
      sweep()
      elapsed
    }

    // local-iteration filter: comma-separated name prefixes (e.g.
    // "t20,t21,d39"). The driver never sets it — full inventory.
    val onlyEnv = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val only = onlyEnv.map(_.split(",").toSet)
    val outFile = recordFile(onlyEnv, sys.env.get("SPARK_GRAFT_BENCH_FILE"))
    if (outFile.isEmpty)
      System.err.println("[bench] SPARK_GRAFT_BENCH_ONLY is set and SPARK_GRAFT_BENCH_FILE " +
        "is not: this subset run prints its line but writes no file record")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // JVM/classloader warmup on the smallest SF so per-query numbers
    // reflect steady-state execution, not first-plan JIT + codegen cost.
    names.foreach { n =>
      Watchdog.run(spark, s"warmup-$n", warmupTimeout) {
        SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
          .write.format("noop").mode("overwrite").save()
      } match {
        case Watchdog.TimedOut =>
          System.err.println(s"[bench] warmup $n timed out (${warmupTimeout}s)")
          settle()
        case Watchdog.Failed(_) => settle()
        case _ => ()
      }
      sweep()
    }

    // two measured runs, report the min — single-shot numbers on a shared
    // machine carry ±20% scheduler noise; min-of-2 is the steady state.
    // The two samples are taken as two FULL INTERLEAVED sweeps over the
    // inventory (pass A of every query, then pass B of every query)
    // instead of back-to-back per query (r20 VERDICT #2: back-to-back
    // samples sit inside the same multi-minute external-load spike, so
    // min-of-2 inherited the spike — the r20 driver artifact recorded
    // 100 phantom regressions that its own 8-core rerun refuted; with
    // the sweeps ~N minutes apart, a spike inflates at most one sample
    // and the min recovers the clean number). Timing methodology is
    // UNCHANGED: same noop sink, same timed region, same min-of-2
    // aggregation — only the ORDER of the 2×N measurements moved.
    // A query where only ONE run survived (the other timed out/failed)
    // reports the survivor but is listed in "degraded": that number is a
    // single-shot measurement, possibly inflated by the timed-out
    // sibling's zombie-thread residual core — discount it downstream.
    val passA = names.map(n => n -> runOnce(n)).toMap
    val passB = names.map(n => n -> runOnce(n)).toMap
    val runs = names.map(n => (n, passA(n), passB(n)))
    val results = runs.map { case (n, a, b) =>
      n -> (if (a < 0 || b < 0) math.max(a, b) else math.min(a, b))
    }
    val degraded = runs.collect { case (n, a, b) if (a < 0) != (b < 0) => n }
    // 3-decimal seconds: full-precision doubles tripled the line length
    // and overflowed the driver's tail capture (round 3 lost the d-family
    // timings); ms resolution is already below scheduler noise.
    // Locale.ROOT: the f interpolator uses the JVM default locale, which on
    // comma-decimal locales (de_DE, ...) would emit "0,412" — invalid JSON.
    def fmt(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // keys are the unique id prefix ("d01", "q20", ...): with full query
    // names the line ran ~2.4k chars and the driver's 2000-char tail capture
    // cut the head (round 4 lost d01-d05); short keys fit the whole line
    val qs = results.map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // compact per-family totals AFTER "queries", so a tail-truncated
    // capture still retains the family picture
    val fams = results.groupBy(_._1.substring(0, 1)).toSeq.sortBy(_._1)
      .map { case (f, rs) => "\"" + f + "\":" + fmt(rs.map(_._2).filter(_ >= 0).sum) }
      .mkString("{", ",", "}")
    val deg = degraded.map(n => "\"" + n.takeWhile(_ != '_') + "\"").mkString("[", ",", "]")
    // self-adjudication (r13 VERDICT ask #7): carry the two-run spread so
    // host noise is machine-distinguishable from a plan regression —
    // a slow query with a small spread is a plan problem; a slow query
    // with a large spread is scheduler noise. Per-query spreads are
    // emitted ONLY where relative spread > 25% ("noisy") to keep the
    // line inside the driver's tail capture; "spread_med" is the
    // machine-health summary (median relative spread across queries).
    val rels = runs.collect { case (n, a, b) if a >= 0 && b >= 0 =>
      n -> (math.abs(a - b) / math.max(math.min(a, b), 0.001))
    }
    val spreadMed =
      if (rels.isEmpty) -1.0
      else rels.map(_._2).sorted.apply(rels.size / 2)
    val noisy = rels.filter(_._2 > 0.25)
      .map { case (n, r) => "\"" + n.takeWhile(_ != '_') + "\":" + fmt(r) }
      .mkString("{", ",", "}")
    // FULL per-query spread map, file line only (r20 VERDICT #2: the
    // driver needs to flag contaminated ROWS, not just the median — a
    // regressed-looking query with a large spread is host noise, one
    // with a tight spread is a plan change). The stdout line keeps only
    // spread_med to stay inside the driver's ~2000-char tail capture.
    val spreadAll = rels
      .map { case (n, r) => "\"" + n.takeWhile(_ != '_') + "\":" + fmt(r) }
      .mkString("{", ",", "}")
    // self-describing environment note (r18 VERDICT #3/#7: the r18
    // bench ran on a measurably hot host and the artifact itself
    // carried no signal — a future consumer diffed 268 s against 176 s
    // unknowingly). The driver never sets the env var; the default
    // names the one health metric the line already carries so a
    // cross-round comparison knows what to check first.
    val envNote = jesc(sys.env.getOrElse("SPARK_GRAFT_ENV_NOTE",
      "shared host, no isolation; cross-round deltas need an interleaved A/B " +
        "or a same-round control family - check spread_med first"))
    val fileLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"families":$fams,"sf":"$sfDir","runs":2,"agg":"min","interleaved":true,"degraded":$deg,"spread_med":${fmt(spreadMed)},"noisy":$noisy,"spread":$spreadAll,"warmup":"sf0.001","env_note":"$envNote"}"""
    // STDOUT gets a SHORTER line than the file: the driver captures only
    // stdout's ~2000-char TAIL, after which sbt's epilogue still follows
    // — r15's full line (132 queries + the noisy map) overflowed the
    // window and shipped parsed:null AGAIN despite the r14 file fix. The
    // stdout line drops "noisy"/"agg"/"warmup" (provenance lives in the
    // file) and trims per-query values to 2 decimals with trailing-zero
    // strip (10 ms resolution — an order below the recorded host spread);
    // the file keeps the full 3-decimal record.
    def fmt2(v: Double): String =
      if (v < 0) "-1"
      else {
        val t = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
        val s0 = t.reverse.dropWhile(_ == '0').reverse
        if (s0.endsWith(".")) s0 + "0" else s0
      }
    val qs2 = results.map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + fmt2(v) }
      .mkString("{", ",", "}")
    // env_note rides the STDOUT line too (r19 VERDICT #2: only the file
    // line carried it, so the driver artifact — built from stdout's tail —
    // shipped without the health note). The stdout copy is escaped, then
    // cut to 60 chars, to keep the line inside a ~2000-char capture of
    // stdout's tail.
    val envNote2 = sys.env.get("SPARK_GRAFT_ENV_NOTE")
      .map(n => jescTake(n, 60))
      .getOrElse("shared host, no isolation - check spread_med")
    val stdoutLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs2,"families":$fams,"sf":"$sfDir","runs":2,"degraded":$deg,"spread_med":${fmt(spreadMed)},"env_note":"$envNote2"}"""
    println(stdoutLine)
    // the full line goes to a file: the durable per-query record
    // (r14 VERDICT ask #3).
    outFile.foreach { f =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (fileLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $f: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

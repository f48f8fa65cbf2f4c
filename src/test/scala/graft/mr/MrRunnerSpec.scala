package graft.mr

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.internal.SQLConf
import graft.sources.{KvSink, Sources}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** End-to-end runner parity: input glob → steps → gzip'd part-* output +
  * counters — the whole gomrjob user journey in one call.
  */
class MrRunnerSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("MrTest harness reproduces the reference's golden example") {
    // the exact fixture of /root/reference/example/example_mr_test.go:14-31
    val r = MrTest.testStep(spark, new BuiltinSteps.FieldFrequencyStep(),
      input = Seq(
        """{"key_field":"z"}""", """{"key_field":"a"}""", """{"key_field":"another"}""",
        """{"key_field":"z"}""", """{"key_field":"z"}""", """{"another_key":"a"}"""),
      golden = Seq("\"another_key\"\t1", "\"key_field\"\t5", "\"lines_read\"\t6"))
    assert(r.passed, r.diff.mkString("\n"))
    val bad = MrTest.testStep(spark, BuiltinSteps.Sum,
      input = Seq("k\t1"), golden = Seq("k\t2"))
    assert(!bad.passed && bad.diff.nonEmpty)
  }

  test("KV sink encodes composite array keys like encoding/json") {
    // parity with /root/reference/mrproto/protocol_test.go:27-42
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-arr").toString + "/out"
    val df = Seq((Seq("b", "c"), 1L)).toDF("k", "v")
    graft.sources.KvSink.writeKvLines(df, "k", "v", dir)
    val back = graft.sources.KvSink.readKvLines(spark, dir).collect()
    assert(back.toSeq == Seq("[\"b\",\"c\"]\t1"))
  }

  test("MrRunner reads gzipped input globs transparently") {
    val in = Files.createTempDirectory("graft-gz-in")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(in.resolve("part1.json.gz")))
    gz.write(Seq("""{"key_field":"z"}""", """{"key_field":"z"}""").mkString("\n").getBytes)
    gz.close()
    val (outPath, _) = MrRunner(
      name = "gz-input",
      inputFiles = Seq(s"$in/*.json.gz"),
      steps = Seq(new BuiltinSteps.FieldFrequencyStep())).run(spark)
    val lines = graft.sources.KvSink.readKvLines(spark, outPath).collect().sorted
    assert(lines.toSeq == Seq("\"key_field\"\t2", "\"lines_read\"\t2"))
  }

  test("keys containing tabs and newlines survive the wire format") {
    // JSON string escaping keeps the k\tv line format unambiguous even for
    // keys with raw tabs/newlines (encoding/json parity,
    // /root/reference/mrproto/protocol.go:233-239)
    val input = Seq("{\"a\\tb\":1}", "{\"c\\nd\":1}", "{\"a\\tb\":2}")
    val r = MrTest.testStep(spark, new BuiltinSteps.FieldFrequencyStep(),
      input = input,
      golden = Seq("\"a\\tb\"\t2", "\"c\\nd\"\t1", "\"lines_read\"\t3"))
    assert(r.passed, r.diff.mkString("\n"))
  }

  test("job-wide reducerTasks preserves a step's sortValues (secondary sort)") {
    // regression: the old anonymous re-wrap dropped sortValues, so a
    // secondary-sort reducer saw undefined value order under a job-wide
    // parallelism override
    val in = Files.createTempDirectory("graft-secsort-in")
    Files.write(in.resolve("part1.txt"),
      Seq("k\tc", "k\ta", "k\tb", "j\t2", "j\t10", "j\t1").mkString("\n").getBytes)
    val step = new MrStep {
      override val sortValues: Boolean = true
      override def reducer(key: String, values: Iterator[String], c: Counters): Iterator[KV] =
        Iterator.single(KV(key, values.mkString("|")))
    }
    val (outPath, _) = MrRunner(
      name = "secsort-parallel",
      inputFiles = Seq(s"$in/part*.txt"),
      steps = Seq(step),
      reducerTasks = Some(3)).run(spark)
    val lines = graft.sources.KvSink.readKvLines(spark, outPath).collect().sorted
    assert(lines.toSeq == Seq("j\t1|10|2", "k\ta|b|c"))
  }

  test("withReducerTasks forwards every member of the original step") {
    val base = new MrStep {
      override val mapper = Some((it: Iterator[String], c: Counters) =>
        it.flatMap(KV.fromLine))
      override def reducer(key: String, values: Iterator[String], c: Counters): Iterator[KV] =
        Iterator.single(KV(key, values.size.toString))
      override val combiner =
        Some((k: String, vs: Iterator[String], c: Counters) => Iterator.single(vs.mkString(",")))
      override val sortValues: Boolean = true
      override def properties: Map[String, String] = Map("spark.graft.flag" -> "on")
    }
    val copied = base.withReducerTasks(7)
    assert(copied.reducerTasks.contains(7))
    assert(copied.sortValues)
    assert(copied.mapper.isDefined && copied.combiner.isDefined)
    assert(copied.properties == Map("spark.graft.flag" -> "on"))
  }

  test("MrRunner runs the flagship job from files to compressed output") {
    val in = Files.createTempDirectory("graft-run-in")
    Files.write(in.resolve("part1.json"),
      Seq("""{"key_field":"z"}""", """{"key_field":"a"}""", "garbage").mkString("\n").getBytes)
    Files.write(in.resolve("part2.json"),
      Seq("""{"key_field":"z"}""", """{"another_key":"a"}""").mkString("\n").getBytes)
    val outBase = Files.createTempDirectory("graft-run-out").toString

    val (outPath, counters) = MrRunner(
      name = "field-freq-e2e",
      inputFiles = Seq(s"$in/part*.json"),
      steps = Seq(new BuiltinSteps.FieldFrequencyStep()),
      output = Some(s"$outBase/result"),
      compressOutput = true,
      reducerTasks = Some(2)).run(spark)

    val files = new java.io.File(outPath).listFiles().map(_.getName)
    assert(files.count(_.startsWith("part-")) == 2)     // ReducerTasks parity
    assert(files.filter(_.startsWith("part-")).forall(_.endsWith(".gz")))
    val lines = graft.sources.KvSink.readKvLines(spark, outPath).collect().sorted
    assert(lines.toSeq == Seq(
      "\"another_key\"\t1", "\"key_field\"\t3", "\"lines_read\"\t4"))
    assert(counters.get("example", "invalid line") == 1) // the garbage row
  }

  private def cores = spark.sparkContext.defaultParallelism

  /** Runs `job` and returns the partition count of the one file scan it
    * ran: the number of map tasks. A unique job group keeps stages of
    * other jobs, still queued on the listener bus, out of the count.
    */
  private def mapTasks(job: => Unit): Int = {
    val group = s"map-tasks-${java.util.UUID.randomUUID()}"
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageInfo.rddInfos.filter(_.name == "FileScanRDD").foreach(r => scans.add(r.numPartitions))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "map task count")
      try job finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (scans.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(scans.size == 1, s"expected one file scan, saw $scans")
    scans.peek()
  }

  private def readOutput(path: String): Seq[String] =
    KvSink.readKvLines(spark, path).collect().toSeq.sorted

  private def fieldFreq(in: String, properties: Map[String, String] = Map.empty) =
    MrRunner("split-test", Seq(in), Seq(new BuiltinSteps.FieldFrequencyStep()),
      properties = properties).run(spark)

  /** ~1 MB of JSON lines: CRLF and LF endings, 0.5% malformed lines, no
    * newline after the last line, and a line across every split boundary
    * the split rule puts in it. Returns the file and its lines.
    */
  private def splittableFile(dir: Path): (Path, Seq[String]) = {
    def build(seed: Int): (Array[Byte], Seq[String]) = {
      val rnd = new scala.util.Random(seed)
      val lines = (0 until 20000).map { i =>
        if (i % 200 == 7) s"not json $i {"
        else s"""{"k${rnd.nextInt(24)}":$i,"pad":"${"x" * rnd.nextInt(60)}"}"""
      }
      val text = lines.zipWithIndex.map { case (l, i) =>
        if (i == lines.size - 1) l else if (i % 3 == 0) l + "\r\n" else l + "\n"
      }.mkString
      (text.getBytes(UTF_8), lines)
    }
    val (bytes, lines) = Iterator.from(1).map(build).find { case (b, _) =>
      // a boundary straddles a line unless the line before it ended there
      val open = Sources.LineSplitOpenCost
      val split = math.max(open, (b.length + open) / cores)
      (split until b.length.toLong by split).forall(at => b(at.toInt - 1) != '\n')
    }.get
    val f = dir.resolve("big.jsonl")
    Files.write(f, bytes)
    (f, lines)
  }

  test("one ~1 MB file maps in at least one task per core, answers as MrTest does") {
    val dir = Files.createTempDirectory("graft-split")
    val (file, lines) = splittableFile(dir)
    var result: (String, Counters) = null
    val tasks = mapTasks { result = fieldFreq(file.toString) }
    assert(tasks >= cores, s"$tasks map tasks for ${Files.size(file)} bytes at $cores cores")
    val (outPath, counters) = result
    val got = readOutput(outPath)
    val oracle = MrTest.testStep(spark, new BuiltinSteps.FieldFrequencyStep(), lines, got)
    assert(oracle.passed, oracle.diff.mkString("\n"))
    assert(counters.value == oracle.counters.value)
    assert(counters.get("example", "invalid line") == lines.count(_.startsWith("not json")))
  }

  test("a .gz input stays one split") {
    val dir = Files.createTempDirectory("graft-split-gz")
    val (file, lines) = splittableFile(dir)
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(dir.resolve("big.jsonl.gz")))
    try gz.write(Files.readAllBytes(file)) finally gz.close()
    var out = ""
    assert(mapTasks { out = fieldFreq(s"$dir/*.gz")._1 } == 1)
    val valid = lines.count(!_.startsWith("not json"))
    assert(readOutput(out).contains(s"\"lines_read\"\t$valid"))
  }

  test("50 tiny files pack into at most two tasks per core") {
    val dir = Files.createTempDirectory("graft-split-tiny")
    (0 until 50).foreach { i =>
      Files.write(dir.resolve(f"part-$i%02d.jsonl"), s"""{"a":$i}\n{"b":$i}\n""".getBytes(UTF_8))
    }
    var out = ""
    val tasks = mapTasks { out = fieldFreq(s"$dir/part-*.jsonl")._1 }
    assert(tasks <= 2 * cores, s"$tasks map tasks for 50 tiny files at $cores cores")
    assert(readOutput(out) == Seq("\"a\"\t50", "\"b\"\t50", "\"lines_read\"\t100"))
  }

  test("an input of fewer bytes than cores maps in one task (the open-cost floor)") {
    val dir = Files.createTempDirectory("graft-split-floor")
    Files.write(dir.resolve("t.jsonl"), "{}".getBytes(UTF_8))
    var out = ""
    assert(mapTasks { out = fieldFreq(s"$dir/t.jsonl")._1 } == 1)
    assert(readOutput(out) == Seq("\"lines_read\"\t1"))
  }

  test("an explicit split setting, job-wide or session-wide, wins over the default; the conf is restored") {
    val key = SQLConf.FILES_OPEN_COST_IN_BYTES.key
    assert(!spark.sessionState.conf.contains(key))
    val (file, lines) = splittableFile(Files.createTempDirectory("graft-split-prop"))
    // Spark's own 4 MiB open cost maps a 1 MB file in one task
    var out = ""
    assert(mapTasks { out = fieldFreq(file.toString, Map(key -> (4L << 20).toString))._1 } == 1)
    assert(!spark.sessionState.conf.contains(key), "the run must restore the session conf")
    val valid = lines.count(!_.startsWith("not json"))
    assert(readOutput(out).contains(s"\"lines_read\"\t$valid"))
    // the default is scoped to the run as well
    fieldFreq(file.toString)
    assert(!spark.sessionState.conf.contains(key))
    // and a session-wide setting is not overridden by it
    spark.conf.set(key, (4L << 20).toString)
    try assert(mapTasks(fieldFreq(file.toString)) == 1)
    finally spark.conf.unset(key)
  }

  test("MrRunner creates no workspace when output is given") {
    val in = Files.createTempDirectory("graft-ws-in")
    Files.write(in.resolve("a.jsonl"), """{"a":1}""".getBytes(UTF_8))
    val tmp = Files.createTempDirectory("graft-ws-tmp")
    val out = Files.createTempDirectory("graft-ws-out").toString + "/result"
    val (path, _) = MrRunner("ws-given", Seq(s"$in/a.jsonl"),
      Seq(new BuiltinSteps.FieldFrequencyStep()), output = Some(out), tmpBase = tmp.toString).run(spark)
    assert(path == out)
    assert(new java.io.File(tmp.toString).list().isEmpty, "no workspace under tmpBase")
  }

  test("two same-name jobs without output keep separate workspaces") {
    val in = Files.createTempDirectory("graft-ws-twice")
    Files.write(in.resolve("a.jsonl"), """{"a":1}""".getBytes(UTF_8))
    Files.write(in.resolve("b.jsonl"), """{"b":1}""".getBytes(UTF_8))
    val tmp = Files.createTempDirectory("graft-ws-tmp").toString
    def job(f: String) = MrRunner("same-name", Seq(s"$in/$f"),
      Seq(new BuiltinSteps.FieldFrequencyStep()), tmpBase = tmp).run(spark)._1
    val (first, second) = (job("a.jsonl"), job("b.jsonl"))
    assert(first != second)
    assert(readOutput(first) == Seq("\"a\"\t1", "\"lines_read\"\t1"))
    assert(readOutput(second) == Seq("\"b\"\t1", "\"lines_read\"\t1"))
  }
}

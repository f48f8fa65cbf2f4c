package graft.runtime

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.{Counters, TestSession}
import graft.sources.{KvSink, Sources}
import java.nio.file.Files

class RuntimeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("json source counts and drops malformed lines (lenient ingestion)") {
    val dir = Files.createTempDirectory("graft-src").toString
    Files.write(java.nio.file.Paths.get(s"$dir/in.json"),
      Seq("""{"a":1,"b":"x"}""", "not-json", """{"a":2,"b":"y"}""", "{broken")
        .mkString("\n").getBytes)
    val counters = Counters.create(spark.sparkContext, "t-src")
    val df = Sources.jsonLines(spark, s"$dir/in.json", counters)
    assert(df.count() == 2)
    assert(counters.get("unknown", "invalid line") == 2)
    assert(df.columns.toSet == Set("a", "b"))
  }

  test("KV sink round-trip with gzip and controlled part count") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/out"
    val df = Seq(("a", 1L), ("b", 2L), (("c"), 3L)).toDF("k", "v")
    KvSink.writeKvLines(df, "k", "v", dir, gzip = true, numFiles = Some(2))
    val files = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(files.length == 2, files.toSeq)           // reducer-count parity
    assert(files.forall(_.endsWith(".gz")))          // CompressOutput parity
    val back = KvSink.readKvLines(spark, dir).collect().sorted
    assert(back.toSeq == Seq("\"a\"\t1", "\"b\"\t2", "\"c\"\t3"))
  }

  test("glob + multi-scheme text source") {
    val dir = Files.createTempDirectory("graft-glob").toString
    Files.write(java.nio.file.Paths.get(s"$dir/f1.txt"), "l1\nl2".getBytes)
    Files.write(java.nio.file.Paths.get(s"$dir/f2.txt"), "l3".getBytes)
    // file:// scheme + glob, as the reference's input resolution allows
    val got = Sources.textLines(spark, s"file://$dir/f*.txt").collect().sorted
    assert(got.toSeq == Seq("l1", "l2", "l3"))
  }

  test("FsUtil: mkdir/exists/put/ls/move/copy/rmr on the local scheme") {
    val base = Files.createTempDirectory("graft-fs").toString
    assert(FsUtil.mkdir(spark, s"$base/d1"))
    assert(FsUtil.exists(spark, s"$base/d1") && FsUtil.isDirectory(spark, s"$base/d1"))
    val local = Files.createTempFile("graft", ".txt")
    Files.write(local, "hello".getBytes)
    FsUtil.put(spark, local.toString, s"$base/d1/f.txt")
    val listed = FsUtil.ls(spark, s"$base/d1")
    assert(listed.length == 1 && listed.head.size == 5 && !listed.head.isDirectory)
    FsUtil.copy(spark, s"$base/d1/f.txt", s"$base/d1/f2.txt")
    assert(FsUtil.move(spark, s"$base/d1/f2.txt", s"$base/d1/f3.txt"))
    assert(FsUtil.exists(spark, s"$base/d1/f3.txt"))
    var lines = Vector.empty[String]
    FsUtil.cat(spark, s"$base/d1/f*.txt")(it => lines = it.toVector)
    assert(lines == Vector("hello", "hello"))
    assert(FsUtil.rmr(spark, s"$base/d1"))
    assert(!FsUtil.exists(spark, s"$base/d1"))
  }

  test("CpuAudit reports nonzero per-stage cpu after a job") {
    val audit = CpuAudit.install(spark)
    spark.range(1000000).select(sum($"id")).collect()
    // listener bus is async; poll for the stage-completed events
    val deadline = System.currentTimeMillis() + 10000
    while (audit.report.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(audit.report.nonEmpty)
    assert(audit.totalCpuMs >= 0)
  }

  test("FsUtil.putStream streams an in-memory source to the filesystem") {
    val base = Files.createTempDirectory("graft-ps").toString
    val payload = ("line1\nline2\n" * 1000).getBytes
    val n = FsUtil.putStream(spark, new java.io.ByteArrayInputStream(payload), s"$base/s.txt")
    assert(n == payload.length)
    val listed = FsUtil.ls(spark, base)
    assert(listed.exists(f => f.path.endsWith("s.txt") && f.size == payload.length))
    var lines = Vector.empty[String]
    FsUtil.cat(spark, s"$base/s.txt")(it => lines = it.toVector)
    assert(lines.length == 2000 && lines.head == "line1")
  }

  test("TaskFailureLog surfaces a failed task's excerpt at the driver") {
    val log = TaskFailureLog.install(spark)
    val boom = udf { (i: Long) =>
      if (i == 13L) throw new IllegalStateException("task-side boom on row 13")
      i
    }
    intercept[Throwable] {
      spark.range(100).repartition(4).select(boom($"id")).collect()
    }
    // listener bus is async — poll like the CpuAudit test
    val deadline = System.currentTimeMillis() + 10000
    while (log.failures.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(log.failures.nonEmpty)
    val f = log.failures.head
    assert(f.excerpt.startsWith(s"[${f.host}]"), f.excerpt)
    assert(log.merged.contains("task-side boom on row 13"), log.merged)
  }

  test("per-job properties apply during run and restore after") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val in = Files.createTempDirectory("graft-props-in")
    // 50 distinct keys so both shuffle partitions are non-empty
    Files.write(in.resolve("p.json"),
      (0 until 50).map(i => s"""{"key$i":1}""").mkString("\n").getBytes)
    val (outPath, _) = graft.mr.MrRunner(
      name = "props-job",
      inputFiles = Seq(s"$in/p.json"),
      steps = Seq(new graft.mr.BuiltinSteps.FieldFrequencyStep()),
      properties = Map("spark.sql.shuffle.partitions" -> "2")).run(spark)
    val files = new java.io.File(outPath).listFiles().map(_.getName)
    assert(files.count(_.startsWith("part-")) == 2, files.toSeq) // -D took effect
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before) // and restored
  }

  test("per-step properties scope to that step's plan build") {
    val counters = Counters.create(spark.sparkContext, "t-step-props")
    val step = new graft.mr.MrStep {
      override def properties: Map[String, String] =
        Map("spark.sql.shuffle.partitions" -> "3")
      override def reducer(key: String, values: Iterator[String],
          c: Counters): Iterator[graft.mr.KV] =
        Iterator.single(graft.mr.KV(key, values.size.toString))
    }
    val input = spark.createDataset((0 until 20).map(i => s"k$i\tv"))
    val out = graft.mr.MrPipeline.runStep(input, step, counters)
    assert(out.rdd.getNumPartitions == 3) // the step's -D sized its shuffle
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4") // restored
  }

  test("map-side join fails fast when the side table is over the bound") {
    val ex = intercept[IllegalArgumentException] {
      graft.mr.MrQueries.mapSideJoin(spark, "/root/testdata/sf0.001", maxSideRows = 3)
    }
    assert(ex.getMessage.contains("3-row distributed-cache bound"), ex.getMessage)
  }

  test("SideData.broadcastMap ships a guarded lookup; shipFile round-trips") {
    val bc = SideData.broadcastMap(Seq((1L, "a"), (2L, "b")).toDS(), maxRows = 10)
    assert(bc.value == Map(1L -> "a", 2L -> "b"))
    intercept[IllegalArgumentException] {
      SideData.broadcastMap(spark.range(100).as[Long].map(i => (i, i)), maxRows = 10)
    }
    val f = Files.createTempFile("graft-side", ".txt")
    Files.write(f, "lookup-payload".getBytes)
    val name = SideData.shipFile(spark, f.toString)
    val local = SideData.localPath(name)
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(local))) == "lookup-payload")
  }

  test("TaskLogStream: non-failing tasks' log lines reach the driver, prefixed") {
    val log = TaskLogStream.install(spark)
    val ch = log.channel
    spark.range(40).as[Long].repartition(4).mapPartitions { it =>
      val rows = it.toVector
      ch.log(s"partition processed ${rows.size} rows")
      rows.iterator
    }.collect()
    // accumulator values land with task completion; listener bus is async
    val deadline = System.currentTimeMillis() + 10000
    while ((ch.lines.size < 4 || log.taskLines.isEmpty) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(ch.lines.size == 4, ch.lines)
    assert(ch.lines.forall(l => l.matches("\\[\\S+ \\d+:\\d+\\] partition processed \\d+ rows")), ch.lines)
    // lifecycle excerpts exist for successful tasks too, host-prefixed
    assert(log.taskLines.exists(_.contains("] ok in")), log.taskLines)
    assert(log.merged.contains("partition processed"))
  }

  test("Workspace create/cleanup lifecycle") {
    val base = Files.createTempDirectory("graft-ws").toString
    Reporter.status(spark, "workspace test")
    val ws = Workspace.create(spark, base, "jobname")
    assert(ws.contains("/tmp/jobname."))
    assert(FsUtil.exists(spark, ws))
    // the timestamp has one-second resolution; the path is unique anyway
    val again = Workspace.create(spark, base, "jobname")
    assert(again != ws)
    assert(Workspace.cleanup(spark, again))
    assert(Workspace.cleanup(spark, ws))
    assert(!FsUtil.exists(spark, ws))
  }
}

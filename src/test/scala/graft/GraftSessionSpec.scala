package graft

import org.scalatest.funsuite.AnyFunSuite

/** The two session profiles, pinned as conf maps without starting a
  * session: `engine` is the library session (`perfbench`),
  * `driver` is the session `Bench`, `Verify` and `graft.tools` run on, key
  * for key the config `Bench` built by hand. And the one core-count parse.
  */
class GraftSessionSpec extends AnyFunSuite {
  private val cores = java.lang.Runtime.getRuntime.availableProcessors
  private val shared = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  test("profiles: engine is 2 × cores with extensions, driver is Bench's config without") {
    val n = GraftSession.cpus
    assert(n == GraftSession.parseCpus(sys.env.get("SPARK_GRAFT_CPUS")))
    val shuffle = (2 * n).toString
    assert(GraftSession.shufflePartitions == shuffle)
    assert(GraftSession.engine ==
      GraftSession.Profile(shared + ("spark.sql.shuffle.partitions" -> shuffle), extensions = true))
    assert(GraftSession.driver ==
      GraftSession.Profile(shared + ("spark.sql.shuffle.partitions" -> n.toString), extensions = false))
  }

  test("SPARK_GRAFT_CPUS: unset means every core; malformed warns and falls back") {
    def parse(raw: Option[String]): (Int, String) = {
      val err = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(err, true))
      try (GraftSession.parseCpus(raw), err.toString) finally System.setErr(old)
    }
    Seq(None -> cores, Some("6") -> 6, Some(" 6 ") -> 6).foreach { case (raw, want) =>
      val (n, err) = parse(raw)
      assert(n == want && !err.contains("SPARK_GRAFT_CPUS"), s"$raw: $n, $err")
    }
    Seq("abc", "0", "-3", "").foreach { bad =>
      val (n, warning) = parse(Some(bad))
      assert(n == cores, s"'$bad'")
      assert(warning.contains(s"ignoring malformed SPARK_GRAFT_CPUS='$bad'"), warning)
    }
  }
}

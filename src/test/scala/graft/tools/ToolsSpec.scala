package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The command-line surface the README documents: every `runMain` class
  * it names exists and has a `main`, and every Measure mode refuses to
  * run without a valid query list.
  */
class ToolsSpec extends AnyFunSuite {

  test("every runMain class named in README.md resolves to a main method") {
    val readme = java.nio.file.Paths.get("README.md")
    assert(java.nio.file.Files.exists(readme), s"README.md not found from ${readme.toAbsolutePath}")
    val text = java.nio.file.Files.readString(readme)
    val named = "runMain (graft(?:\\.\\w+)+)".r.findAllMatchIn(text).map(_.group(1)).toSeq.distinct
    assert(named.nonEmpty, "README.md names no runMain class")
    named.foreach { cls =>
      val main =
        try Class.forName(cls).getMethod("main", classOf[Array[String]])
        catch {
          case e: ReflectiveOperationException =>
            fail(s"README.md names `runMain $cls`, which does not resolve: $e")
        }
      assert(java.lang.reflect.Modifier.isStatic(main.getModifiers), s"$cls.main is not static")
    }
  }

  test("Measure: names come from args; empty or unknown lists are refused") {
    val (d39, m08, d56) = ("d39_incremental_dedup", "m08_incremental_phash", "d56_ledgered_delete_semantic")
    assert(Measure.parse(Nil).isLeft)
    assert(Measure.parse(Seq("no_such_mode", d39)).isLeft)
    assert(Measure.parse(Seq("explain")).isLeft)
    assert(Measure.parse(Seq("explain", d39, "no_such_query")) == Left("unknown queries: no_such_query"))
    assert(Measure.parse(Seq("explain", d39, m08)) == Right("explain" -> Seq(d39, m08)))
    assert(Measure.parse(Seq("profile")).isLeft)
    assert(Measure.parse(Seq("profile", d39, m08)).isLeft)
    assert(Measure.parse(Seq("profile", "d56")) == Left("unknown queries: d56"))
    assert(Measure.parse(Seq("profile", d56)) == Right("profile" -> Seq(d56)))
    // a mistyped name is refused up front, not timed as a failed query
    assert(Measure.parse(Seq("cold", d39, "d4_ngram_jaccard")) == Left("unknown queries: d4_ngram_jaccard"))
    assert(Measure.parse(Seq("cold", d39)) == Right("cold" -> Seq(d39)))
    val heavy = Measure.parse(Seq("cold")).map(_._2).getOrElse(Nil)
    assert(heavy.size == 10 && heavy.forall(graft.SparkEntry.queries.contains))
    assert(Measure.parse(Seq("hunt", d39)).isLeft)
    assert(Measure.parse(Seq("hunt")) == Right("hunt" -> graft.SparkEntry.queries.keys.toSeq.sorted))
  }
}

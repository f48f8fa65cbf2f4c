package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The command-line surface the README documents: every `runMain` class
  * it names exists and has a `main`, and ExplainDump refuses to run
  * without a valid query list.
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

  test("ExplainDump: names come from args; empty or unknown lists are refused") {
    assert(ExplainDump.selected(Nil).isLeft)
    assert(ExplainDump.selected(Seq("d39_incremental_dedup", "no_such_query")) ==
      Left("unknown queries: no_such_query"))
    assert(ExplainDump.selected(Seq("d39_incremental_dedup", "m08_incremental_phash")) ==
      Right(Seq("d39_incremental_dedup", "m08_incremental_phash")))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static lint over every registered DuckDB oracle — the class of bug
  * that broke d33/d37 in round 11 (a second stripMargin ate the first
  * pipe of Pii.plantSql's `||` concat continuation lines, shipping
  * syntactically invalid SQL the suite never executed). The driver runs
  * these strings verbatim; text-level invariants are checkable here
  * without a DuckDB dependency.
  */
class OracleSqlSpec extends AnyFunSuite {

  test("every oracle is non-empty and every gated query has an oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
    }
  }

  test("no oracle line carries margin-pipe residue from a double stripMargin") {
    // residue looks like `| '...'` at line start: a SINGLE pipe (DuckDB's
    // concat operator is `||`, which is fine) after optional indent.
    val residue = """^\s*\|(?!\|)""".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      sql.linesIterator.zipWithIndex.foreach { case (line, i) =>
        assert(residue.findFirstIn(line).isEmpty,
          s"$name line ${i + 1} starts with a lone margin pipe — " +
            s"double-stripMargin residue: '$line'")
      }
    }
  }

  test("no oracle leaks an unsubstituted template placeholder") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("__PLANT__"),
        s"$name: __PLANT__ placeholder never replaced")
      // a template authored without its `s` prefix ships `${...}` verbatim
      assert(!sql.contains("${"), s"$name: uninterpolated template residue")
    }
  }

  test("one copy: the closure and sign-LSH plane CTEs are each written once in src/main") {
    // every oracle that needs the CTEs goes through graft.llm.OracleSql;
    // every LSH operator bands through Dedup.bandsOfSig /
    // IncrementalSemantic.bucketsOf, norms through Similarity's normCol,
    // and every span operator keys grams through SpanDedup.gramKeys. Doc
    // comments may still name them
    import scala.jdk.CollectionConverters._
    val snippets = Seq("reach(a, b) AS (", "planes AS", "shiftright(", """posexplode(col("sigs"))""",
      """FloatVecDot(col("embedding"), col("embedding"))""", """sequence(lit(1), size(col("t"))""")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found from ${root.toAbsolutePath}")
    val stream = java.nio.file.Files.walk(root)
    val hits = try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !Seq("//", "/*", "*").exists(line.trim.startsWith) =>
            snippets.filter(line.contains).map(_ -> s"$p:${i + 1}")
        }.flatten
      }.toList
    finally stream.close()
    snippets.foreach { s =>
      val at = hits.collect { case (`s`, where) => where }
      assert(at.size == 1, s"'$s' is written ${at.size} times:\n${at.mkString("\n")}")
    }
  }

  test("oracle_sql.json: Verify's JSON parses back to exactly the oracle map") {
    import scala.jdk.CollectionConverters._
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def parsed(m: Map[String, String]): Map[String, String] =
      json.readValue(Verify.oracleJson(m), classOf[java.util.Map[String, String]]).asScala.toMap
    assert(parsed(SparkEntry.oracleSql) == SparkEntry.oracleSql)
    val odd = Map("q\"x\\y\tz\u0001" -> "SELECT '\"', '\\', '\t', '\u0001'\r\n")
    assert(parsed(odd) == odd)
  }
}

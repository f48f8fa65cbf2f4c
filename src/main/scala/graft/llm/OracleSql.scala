package graft.llm

/** The DuckDB text the similarity and dedup oracles share — one copy of
  * each building block, so a change to one of them is one edit:
  *  - [[vecCte]]: the (vec_id, v, nrm) vector table;
  *  - [[signLshCtes]]: the md5-derived sign-LSH planes and buckets;
  *  - [[cosineVerifySql]]: the exact cosine verify of candidate pairs;
  *  - [[top5Sql]]: the per-query top-5 rank tail of the kNN mirrors;
  *  - [[closureCtes]]/[[keptClosureSql]]: the recursive transitive
  *    closure and the kept set (min id per component).
  *
  * Pure string generators: no Spark code reads them, so each oracle
  * stays an independent algorithm over the raw tables.
  */
object OracleSql {

  private val selfNorm = "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"

  /** The `name` CTE: (vec_id, v DOUBLE[], nrm) over `embeddings`, `from`
    * appended verbatim after the table name (e.g. " WHERE vec_id < 1000").
    * `floor` clamps the norm at 1e-12, the SQ8 quantizer's guard.
    */
  private[llm] def vecCte(name: String, from: String = "", floor: Boolean = false): String = {
    val nrm = if (floor) s"greatest($selfNorm, 1e-12)" else selfNorm
    s"""$name AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    $nrm AS nrm
       |  FROM embeddings$from)""".stripMargin
  }

  /** The `e` vector CTE plus the sign-LSH `planes` (md5-derived
    * hyperplanes, the [[graft.functions.SignLshBuckets]] derivation),
    * `dots` and `buckets` (vec_id, table_id, bucket) CTEs, for `nTables`
    * tables of `bits` bits. `bits = None` is the AutoBits replay: the bit
    * count comes from the one-row `nb` CTE the caller defines first, and
    * the plane range is filtered by it. `epochMod` adds the
    * `vec_id % epochMod` arrival epoch to every bucket row.
    */
  private[llm] def signLshCtes(nTables: Int, bits: Option[Int], from: String = "",
      materialized: Boolean = false, epochMod: Option[Int] = None): String = {
    val planeRange = bits match {
      case Some(b) => s"range(0, ${nTables * b}) t1(j), range(0, 64) t2(i))"
      case None => s"range(0, ${nTables * 30}) t1(j), range(0, 64) t2(i), nb\n  WHERE j < $nTables * nb.bits)"
    }
    val buckets = bits match {
      case Some(b) =>
        val epoch = epochMod.map(m => s"vec_id % $m AS epoch, ").getOrElse("")
        s"""buckets AS (
           |  SELECT vec_id, ${epoch}j // $b AS table_id,
           |    SUM(CASE WHEN d >= 0 THEN (1 << (j % $b)) ELSE 0 END) AS bucket
           |  FROM dots GROUP BY vec_id, j // $b)""".stripMargin
      case None =>
        """buckets AS (
          |  SELECT vec_id, table_id,
          |    SUM(CASE WHEN d >= 0 THEN (1 << bitpos) ELSE 0 END) AS bucket
          |  FROM (SELECT vec_id, j // nb.bits AS table_id, j % nb.bits AS bitpos, d
          |        FROM dots, nb)
          |  GROUP BY vec_id, table_id)""".stripMargin
    }
    s"""${vecCte("e", from)},
       |planes AS${if (materialized) " MATERIALIZED" else ""} (
       |  SELECT j, i,
       |    (((${Hashing.sqlHash60("j||':'||i")}) % 2000) - 1000)/1000.0 AS w
       |  FROM $planeRange,
       |dots AS (
       |  SELECT e.vec_id, p.j, SUM(e.v[p.i + 1] * p.w) AS d
       |  FROM e, planes p GROUP BY e.vec_id, p.j),
       |$buckets""".stripMargin
  }

  /** The exact cosine verify over the `cand` (a_id, b_id) CTE against the
    * `e` vector CTE: the pairs with cosine ≥ `minCos`.
    */
  private[llm] def cosineVerifySql(minCos: Double): String =
    s"""SELECT c.a_id, c.b_id
       |FROM cand c
       |JOIN e ea ON ea.vec_id = c.a_id
       |JOIN e eb ON eb.vec_id = c.b_id
       |WHERE list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) >= $minCos""".stripMargin

  /** The kNN rank tail: top 5 `nid` per `qid` of the (qid, nid, score)
    * relation `from`, by `score` DESC then `nid` ASC, as (qid, nid, rnk).
    * `keepScore` ships the score column too (the integer-exact SQ8
    * mirrors); `join` and `joinCols` attach per-query columns to the
    * ranked rows (aliased `r`).
    */
  private[llm] def top5Sql(from: String, score: String, keepScore: Boolean = false,
      join: String = "", joinCols: String = ""): String = {
    val (outer, inner) = if (keepScore) (s", $score", s" $score,") else ("", "")
    s"""SELECT qid, nid, CAST(rnk AS INT) AS rnk$outer$joinCols FROM (
       |  SELECT qid, nid,$inner
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY $score DESC, nid ASC) AS rnk
       |  FROM $from)$join
       |WHERE rnk <= 5""".stripMargin
  }

  /** The transitive closure over the `pairs` (a_id, b_id) CTE and every
    * CTE in `extraEdges` (e.g. the exact-dup `hstars`): `edges`
    * (undirected), the recursive `reach`, and `lbl` (id → min id of its
    * component). Needs a `WITH RECURSIVE` head.
    */
  private[llm] def closureCtes(extraEdges: Seq[String] = Nil): String = {
    val more = extraEdges.map(t =>
      s"\n  UNION SELECT a_id, b_id FROM $t\n  UNION SELECT b_id, a_id FROM $t").mkString
    s"""edges AS (
       |  SELECT a_id AS a, b_id AS b FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs$more),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |lbl AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a)""".stripMargin
  }

  /** The kept-set oracle: the CTEs `ctes` (ending in or defining `pairs`)
    * → [[closureCtes]] → every `id` of `table` that is not a
    * non-representative component member, id-ordered. `survivor`, a
    * predicate over `id`, restricts the kept set (bounded slices,
    * takedowns).
    */
  private[llm] def keptClosureSql(ctes: String, id: String, table: String,
      survivor: Option[String] = None, extraEdges: Seq[String] = Nil): String =
    s"WITH RECURSIVE $ctes,\n${closureCtes(extraEdges)}\n" +
      s"SELECT $id FROM $table\n" +
      s"WHERE ${survivor.map(p => s"$p\n  AND ").getOrElse("")}$id NOT IN (SELECT id FROM lbl WHERE id <> cluster)\n" +
      s"ORDER BY $id"

  /** `sql` with every line indented by two spaces — the nested form an
    * oracle takes inside `SELECT … FROM (…)`.
    */
  private[llm] def indented(sql: String): String = sql.linesIterator.map("  " + _).mkString("\n")
}

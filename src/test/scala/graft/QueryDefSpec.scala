package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[QueryDef.materializeCtes]] — the DuckDB CTE execution-fence
  * rewrite applied to the measured-slow oracles (round 15). The
  * transform must touch EXACTLY the statement's top-level WITH list:
  * a `WINDOW w AS (…)` clause (round 15's regex-prototype failure
  * mode), an `AS (` inside a CTE body, and the main SELECT must all
  * stay byte-identical. Non-WITH statements return unchanged; a WITH
  * RECURSIVE list is rewritten like any other WITH list. Parens and
  * `AS (` inside string literals, quoted identifiers and `--` comments
  * are text, not syntax.
  */
class QueryDefSpec extends AnyFunSuite {

  import QueryDef.materializeCtes

  test("rewrites every top-level CTE and nothing else") {
    val sql =
      """WITH t AS (SELECT doc_id, x AS (y) FROM docs),
        |s AS (SELECT doc_id FROM t WINDOW w AS (PARTITION BY doc_id))
        |SELECT * FROM s""".stripMargin
    val got = materializeCtes(sql)
    assert(got.contains("WITH t AS MATERIALIZED (SELECT"))
    assert(got.contains("s AS MATERIALIZED (SELECT doc_id FROM t"))
    // the WINDOW clause inside the CTE body is untouched
    assert(got.contains("WINDOW w AS (PARTITION BY doc_id)"))
  }

  test("main-query WINDOW clause after the CTE list is untouched") {
    val sql =
      """WITH t AS (SELECT a FROM x)
        |SELECT a, lag(a) OVER w FROM t WINDOW w AS (ORDER BY a)""".stripMargin
    val got = materializeCtes(sql)
    assert(got.contains("WITH t AS MATERIALIZED (SELECT a FROM x)"))
    assert(got.contains("WINDOW w AS (ORDER BY a)"))
  }

  test("CTE column lists keep their AS in the list") {
    val sql = "WITH t(a, b) AS (SELECT 1, 2), u AS (SELECT a FROM t) " +
      "SELECT * FROM u"
    val got = materializeCtes(sql)
    assert(got.contains("WITH t(a, b) AS MATERIALIZED (SELECT 1, 2)"))
    assert(got.contains("u AS MATERIALIZED (SELECT a FROM t)"))
  }

  test("WITH RECURSIVE lists are transformed; non-WITH statements " +
      "return unchanged") {
    val rec = "WITH RECURSIVE r AS (SELECT 1 UNION ALL SELECT n + 1 FROM r) " +
      "SELECT * FROM r"
    assert(materializeCtes(rec) ==
      "WITH RECURSIVE r AS MATERIALIZED (SELECT 1 UNION ALL " +
        "SELECT n + 1 FROM r) SELECT * FROM r")
    val plain = "SELECT 1 AS (x)"
    assert(materializeCtes(plain) == plain)
  }

  test("string literals containing parens do not derail the scan") {
    val sql = "WITH t AS (SELECT regexp_extract(s, '([a-z])(') FROM x), " +
      "u AS (SELECT 1) SELECT * FROM t, u"
    val got = materializeCtes(sql)
    assert(got.contains("t AS MATERIALIZED ("))
    assert(got.contains("u AS MATERIALIZED (SELECT 1)"))
    assert(got.contains("'([a-z])('"))
  }

  test("-- line comments do not derail the scan") {
    val sql = "WITH t AS (SELECT 1 AS one -- closes early: ) AS (\n  FROM x),\n" +
      "u AS (SELECT 2) SELECT * FROM t, u"
    assert(materializeCtes(sql) ==
      "WITH t AS MATERIALIZED (SELECT 1 AS one -- closes early: ) AS (\n" +
        "  FROM x),\nu AS MATERIALIZED (SELECT 2) SELECT * FROM t, u")
  }

  test("quoted identifiers containing parens or AS ( do not derail the scan") {
    val sql = "WITH \"odd)name\" AS (SELECT 1 AS \"x AS (y\"), " +
      "u AS (SELECT 2) SELECT * FROM \"odd)name\", u"
    assert(materializeCtes(sql) ==
      "WITH \"odd)name\" AS MATERIALIZED (SELECT 1 AS \"x AS (y\"), " +
        "u AS MATERIALIZED (SELECT 2) SELECT * FROM \"odd)name\", u")
  }

  test("oracle results are what changed the round-14 gate: the rewrite " +
      "is applied to the e64 lifecycle oracle") {
    val e64 = SparkEntry.oracleSql("e64_graph_lifecycle_served")
    assert(e64.contains("AS MATERIALIZED ("))
    // and NOT to the d05 shingle-pair family, where the fence measured
    // ~1.5 s slower per query
    val d05 = SparkEntry.oracleSql("d05_jaccard_dup_pairs")
    assert(!d05.contains("MATERIALIZED"))
  }
}

package graft

/** Every registered QueryDef runs end-to-end on sf0.001 and yields rows,
  * read from the shared ANSI-on [[RegistryRun]]. (Value-level correctness
  * is enforced by the DuckDB oracle diff — see scripts/check_oracle.py and
  * the CORRECTNESS gate.)
  */
class QueriesSpec extends SparkSpec {

  test("every query has an oracle") {
    val noOracle = SparkEntry.allQueries.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"queries missing an oracle: $noOracle")
  }

  test("query names are unique") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} runs and returns rows on sf0.001") {
      val (schema, rows) = registryRun(q.name).ansiOn.get
      assert(schema.nonEmpty)
      assert(rows.nonEmpty)
    }
  }
}

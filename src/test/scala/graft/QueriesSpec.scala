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

  test("a prefix and a full name select the same query; an unknown name aborts") {
    val byPrefix = SparkEntry.select(Some("e46"))
    assert(byPrefix.map(_._1) == Seq("e46_ivfpq_index_served"))
    assert(SparkEntry.select(Some("e46_ivfpq_index_served")).map(_._1) == byPrefix.map(_._1))
    // a mixed list comes back sorted by name, duplicates once
    val mixed = SparkEntry.select(Some("q02,e46_ivfpq_index_served,e46,q01"))
    assert(mixed.map(n => SparkEntry.prefix(n._1)) == Seq("e46", "q01", "q02"))
    assert(SparkEntry.select(None).size == SparkEntry.queries.size)
    val e = intercept[IllegalArgumentException](SparkEntry.select(Some("q01,e4")))
    assert(e.getMessage.contains("e4") && !e.getMessage.contains("q01"))
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

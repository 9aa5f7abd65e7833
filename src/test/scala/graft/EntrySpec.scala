package graft

/** Driver-contract sanity: entry() returns rows; every query runs on the
  * smoke SF; every oracle key has a query (column-name parity between the
  * two sides is enforced by the DuckDB compare in tools/check_oracle.py).
  */
class EntrySpec extends SparkTestBase {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("every query is oracle-checked (no weaker rows-only entries)") {
    // the driver records a weaker rows-only check for queries without
    // oracle SQL; this repo's bar is an oracle for EVERY query
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"queries without oracle SQL: $unchecked")
  }

  test("a query name declared twice fails the registry instead of dropping one") {
    val specs = Seq("SELECT 1 AS id", "SELECT 2 AS id").map(sql =>
      QuerySpec("twice", (s, _) => s.sql(sql), sql))
    val e = intercept[IllegalArgumentException](SparkEntry.byName(specs)(_.oracle))
    assert(e.getMessage.contains("twice"), e.getMessage)
  }

  test("all queries execute and are non-degenerate on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    // the Verify/Bench contract: the tombstone fixture registers before
    // the query loop (the forget queries price the read path)
    SparkEntry.registerForgetFixtures(spark, sf)
    // serve_page (and its live twin) are legitimately empty at sf0.001:
    // page 2 needs > 20 users and the corpus has 15 (14 after the
    // registered tombstone set) — both non-degenerate from sf0.01 up
    val allowEmpty = Set("serve_page", "serve_forget_page")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0 && (allowEmpty(name) || n > 0), s"$name returned $n rows")
    }
  }
}

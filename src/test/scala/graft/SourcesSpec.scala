package graft

/** The driver entry smoke and contract checks. */
class SourcesSpec extends SparkSpec {

  test("driver contract smoke: entry() returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("driver contract: every oracleSql key has a query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
    assert(qs.size == SparkEntry.allQueries.size) // no name collisions
  }
}

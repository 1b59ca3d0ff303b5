package graft

/** Smoke: every declared query runs on sf0.001 and yields rows (the
  * value-level check is the external DuckDB oracle — dev/check.py /
  * the driver's t2 gate).
  */
class QueriesSpec extends SparkSuite {

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows") {
      assert(fn(spark, sfDir).count() > 0)
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle entry has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("registry rejects a name declared by two modules, naming it") {
    val plan: queries.Q = (s, d) => s.range(1).toDF()
    val a = Seq(queries.Query("q_dup", plan, None), queries.Query("q_a", plan, None))
    val b = Seq(queries.Query("q_dup", plan, Some("SELECT 1")))
    val e = intercept[IllegalArgumentException](queries.Query.registry(a, b))
    assert(e.getMessage.contains("q_dup"), e.getMessage)
    assert(!e.getMessage.contains("q_a"), e.getMessage)
  }

  test("registry holds 393 queries, 372 with oracle SQL") {
    assert(SparkEntry.queries.size == 393)
    assert(SparkEntry.oracleSql.size == 372)
  }
}

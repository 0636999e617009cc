package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke-level coverage: the flagship entry and every registered query must
  * plan and execute on sf0.001. The DuckDB oracle (driver-run; locally via
  * tools/check_oracle.py) owns value-level correctness for oracled queries;
  * the specs own the rest. */
class QueriesSpec extends AnyFunSuite with SparkTestBase {

  test("entry (wx_wow_record flagship) produces full WOW records") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.length === 13) // event_id + the 12 D4 fields
    assert(df.columns.contains("dateutc") && df.columns.contains("baromin"))
    val n = df.count()
    assert(n === 1000L, s"expected one record per event, got $n")
  }

  test("every query in the registry executes at sf0.001") {
    val mustBeNonEmpty = SparkEntry.queries.keySet --
      Set("join_anti", "set_except", "dedup_embed") // legitimately empty/small
    SparkEntry.queries.foreach { case (name, fn) =>
      // collect, not count: under count() Catalyst prunes every output
      // column no operator references, so a broken column would pass
      val n = fn(spark, SF).collect().length
      assert(n >= 0, s"$name failed")
      if (mustBeNonEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without queries: $orphans")
  }
}

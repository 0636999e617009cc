package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Formats, Tables}

/** Round-trip coverage for the non-parquet formats (schema-explicit reads —
  * no inference scan). */
class FormatsSpec extends AnyFunSuite with SparkTestBase {

  test("jsonl round-trip preserves rows and types") {
    val orders = Tables.orders(spark, SF)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val path = scratchDir("graft_fmt_jsonl_").getAbsolutePath
    Formats.writeJsonl(orders, path)
    val back = Formats.readJsonl(spark, path, orders.schema)
    assert(back.schema === orders.schema)
    assert(back.count() === orders.count())
    assert(back.exceptAll(orders).count() === 0L)
  }

  test("csv round-trip preserves rows (typed via explicit schema)") {
    val nation = Tables.nation(spark, SF)
    val path = scratchDir("graft_fmt_csv_").getAbsolutePath
    Formats.writeCsv(nation, path)
    val back = Formats.readCsv(spark, path, nation.schema)
    assert(back.count() === 25L)
    assert(back.exceptAll(nation).count() === 0L)
    // and the JSON-in-CSV style props column of events survives quoting
    val events = Tables.events(spark, SF).select("event_id", "event_type", "props")
    val path2 = scratchDir("graft_fmt_csv2_").getAbsolutePath
    Formats.writeCsv(events, path2)
    val back2 = Formats.readCsv(spark, path2, events.schema)
    assert(back2.exceptAll(events).count() === 0L)
    assert(back2.filter(get_json_object(col("props"), "$.k").isNotNull).count() ===
      events.filter(get_json_object(col("props"), "$.k").isNotNull).count())
  }
}

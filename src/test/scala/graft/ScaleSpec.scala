package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scale
import graft.sources.Tables

/** Evidence that the scale machinery does what it claims: salting preserves
  * join semantics, bucketed tables join without an Exchange, partitioned
  * writes prune at the scan. */
class ScaleSpec extends AnyFunSuite with SparkTestBase {

  test("saltedJoin == plain join on a skewed key") {
    val events = Tables.events(spark, SF) // 1000 rows over only 15 users: skewed
    val userDim = events.groupBy("user_id")
      .agg(countDistinct("event_type").as("n_types"))
    val plain = events.join(userDim, "user_id")
      .select("event_id", "n_types")
    val salted = Scale.saltedJoin(events, userDim, "user_id", "event_id", 8)
      .select("event_id", "n_types")
    assert(plain.count() === salted.count())
    assert(plain.exceptAll(salted).count() === 0L)
    assert(salted.exceptAll(plain).count() === 0L)
  }

  test("bandedRangeJoin == nested-loop range join, but plans as an equi-join") {
    val c = Tables.customer(spark, SF).select("c_custkey", "c_acctbal")
    val s = Tables.supplier(spark, SF).select("s_suppkey", "s_acctbal")
    val bnlj = c.join(s, col("c_acctbal").between(col("s_acctbal") - 50.0,
        col("s_acctbal") + 50.0))
      .select("c_custkey", "s_suppkey")
    val banded = Scale.bandedRangeJoin(c, "c_acctbal", s, "s_acctbal", 50.0)
      .select("c_custkey", "s_suppkey")
    assert(banded.exceptAll(bnlj).count() === 0L)
    assert(bnlj.exceptAll(banded).count() === 0L)
    val planStr = banded.queryExecution.executedPlan.toString
    assert(!planStr.contains("BroadcastNestedLoop") && !planStr.contains("CartesianProduct"),
      s"banded join must plan as an equi-join:\n$planStr")
  }

  test("bucketed tables join without a shuffle exchange") {
    val o = Tables.orders(spark, SF)
    val c = Tables.customer(spark, SF)
    // the writer drops each table and clears its path itself
    val dir = graft.core.scratchRoot(spark)
    Scale.writeBucketed(o.select("o_orderkey", "o_custkey", "o_totalprice"),
      "graft_orders_bkt", s"$dir/graft_orders_bkt", 8, Seq("o_custkey"))
    Scale.writeBucketed(c.select("c_custkey", "c_name"),
      "graft_cust_bkt", s"$dir/graft_cust_bkt", 8, Seq("c_custkey"))
    // force SMJ (a broadcast would trivially avoid the shuffle); bucketed
    // layout must make the hash-partitioning Exchange unnecessary
    val joined = spark.table("graft_orders_bkt").hint("merge")
      .join(spark.table("graft_cust_bkt"),
        col("o_custkey") === col("c_custkey"))
    assert(joined.count() === o.count()) // every order has a customer
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("SortMergeJoin"), s"expected SMJ:\n$planStr")
    assert(!planStr.contains("Exchange hashpartitioning"),
      s"bucketed SMJ should not shuffle:\n$planStr")
  }

  test("partitioned write enables partition pruning at the scan") {
    val path = "/tmp/graft_events_partitioned"
    val events = Tables.events(spark, SF)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Scale.writePartitioned(events, path, "day")
    val pruned = spark.read.parquet(path).filter(col("day") === "2024-01-05")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("2024-01-05"),
      s"expected partition pruning in scan:\n$scan")
    // pruning must actually reduce files read vs. full scan
    val expected = events.filter(col("day") === "2024-01-05").count()
    assert(pruned.count() === expected)
  }
}

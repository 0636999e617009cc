package graft

import org.scalatest.funsuite.AnyFunSuite

/** EXPLAIN.md diffs show plan changes only: the values that change from
  * run to run of one plan are masked. */
class ExplainAuditSpec extends AnyFunSuite {

  test("mask replaces run-to-run ids and keeps the plan text") {
    val plan =
      """Arguments: hashpartitioning(doc_id#228L, 8), ENSURE_REQUIREMENTS, [plan_id=648]
        |Arguments: [doc_id#228L, s#237L], MapPartitionsRDD[46] at localCheckpoint at Dedup.scala:150, ExistingRDD
        |Functions [1]: [topkaggregator(cos#892, graft.functions.TopKAggregator@2411cf8b, true)]
        |Condition : isnotnull(arg_min_distsq(embedding#1392, [[D@6cf2b638).j)
        |Input: graft.operators.Dedup$$Lambda/0x00007f3c0c1b2a40@5e2c3a1
        |Scan parquet spark_catalog.default.graft_ndix_c0aea9a61e4e1790c70208aa4b3d6a12 (4)
        |Location: InMemoryFileIndex [file:/tmp/graft_local-1792394797460/ndix_cfc1c0f83032cec2d515f3624a930b1b/sizes.parquet]
        |""".stripMargin
    assert(ExplainAudit.mask(plan) ===
      """Arguments: hashpartitioning(doc_id#nL, 8), ENSURE_REQUIREMENTS, [plan_id=n]
        |Arguments: [doc_id#nL, s#nL], MapPartitionsRDD[n] at localCheckpoint at Dedup.scala, ExistingRDD
        |Functions [1]: [topkaggregator(cos#n, graft.functions.TopKAggregator@h, true)]
        |Condition : isnotnull(arg_min_distsq(embedding#n, [[D@h).j)
        |Input: graft.operators.Dedup$$Lambda@h
        |Scan parquet spark_catalog.default.graft_ndix_h (4)
        |Location: InMemoryFileIndex [file:/tmp/graft_local-n/ndix_cfc1c0f83032cec2d515f3624a930b1b/sizes.parquet]
        |""".stripMargin)
  }
}

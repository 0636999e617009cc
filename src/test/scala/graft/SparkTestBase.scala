package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (scalatest runs suites
  * sequentially in the forked test JVM). */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session
  /** Smallest scale factor — unit tests verify semantics, not throughput. */
  val SF = "/root/testdata/sf0.001"
}

object SparkTestBase {
  /** The Bench/Verify session (same confs, so the suites run what Bench
    * measures), with the suites' own warehouse path. */
  lazy val session: SparkSession =
    Harness.session(8, "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")
}

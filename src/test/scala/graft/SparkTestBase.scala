package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (scalatest runs suites
  * sequentially in the forked test JVM). */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session
  /** Smallest scale factor — unit tests verify semantics, not throughput. */
  val SF = "/root/testdata/sf0.001"

  /** A new, uniquely named directory under the session's scratch root
    * ([[core.scratchRoot]]), which the JVM-exit hook wipes, so specs
    * leave nothing behind in `java.io.tmpdir`. */
  def scratchDir(prefix: String): java.io.File = {
    val root = core.scratchRoot(spark)
    root.mkdirs()
    java.nio.file.Files.createTempDirectory(root.toPath, prefix).toFile
  }
}

object SparkTestBase {
  /** The Bench/Verify session (same confs, so the suites run what Bench
    * measures), with the suites' own warehouse path. */
  lazy val session: SparkSession =
    Harness.session(8, "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared harness pieces: query selection, the recursive delete and
  * the single-query check of `core.withSessionConf` and
  * `WeatherStream.drain` (the only case that starts the shared
  * session). */
class HarnessSpec extends AnyFunSuite with SparkTestBase {

  private val registry = Set("agg_groupby", "join_inner", "topk")

  test("SPARK_GRAFT_ONLY unset selects the whole registry") {
    assert(Harness.selectQueries(None, registry) === registry)
  }

  test("SPARK_GRAFT_ONLY drops blank entries and trims names") {
    assert(Harness.selectQueries(Some(" topk,, agg_groupby ,"), registry) ===
      Set("topk", "agg_groupby"))
  }

  test("SPARK_GRAFT_ONLY rejects unknown names and names them") {
    val e = intercept[IllegalArgumentException] {
      Harness.selectQueries(Some("topk,tpok,join_iner"), registry)
    }
    assert(e.getMessage.contains("join_iner,tpok"))
  }

  test("SPARK_GRAFT_ONLY set to blanks only is rejected, not an empty run") {
    intercept[IllegalArgumentException] {
      Harness.selectQueries(Some(" , "), registry)
    }
  }

  test("rmTree removes a nested tree and tolerates a missing path") {
    val root = java.nio.file.Files.createTempDirectory("rmtree_").toFile
    val leaf = new java.io.File(root, "a/b/c")
    assert(leaf.mkdirs())
    java.nio.file.Files.writeString(new java.io.File(leaf, "f.txt").toPath, "x")
    java.nio.file.Files.writeString(new java.io.File(root, "a/g.txt").toPath, "y")
    core.rmTree(root)
    assert(!root.exists())
    core.rmTree(root)
  }

  test("withSessionConf refuses to run while a stream is active on the session") {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = spark.conf.getOption(key)
    val q = spark.readStream.format("rate").load()
      .writeStream.format("noop").queryName("harness_active_stream").start()
    try {
      val e = intercept[IllegalStateException] {
        core.withSessionConf(spark, key, "false")(fail("body must not run"))
      }
      assert(e.getMessage.contains(key))
      assert(e.getMessage.contains("harness_active_stream"))
      assert(spark.conf.getOption(key) === before)
      val shuffleKey = "spark.sql.shuffle.partitions"
      val shuffleBefore = spark.conf.getOption(shuffleKey)
      val e2 = intercept[IllegalStateException] {
        graft.streaming.WeatherStream.drain(spark.readStream.format("rate").load(),
          "harness_drain", graft.streaming.WeatherStream.FileSink())
      }
      assert(e2.getMessage.contains(shuffleKey))
      assert(spark.conf.getOption(shuffleKey) === shuffleBefore)
    } finally q.stop()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared harness pieces that need no session: query selection and
  * the recursive delete. */
class HarnessSpec extends AnyFunSuite {

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
}

package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The session scratch root is wiped at JVM exit whichever module put
  * something under it first. The check runs in a child JVM of its own
  * (with its own `java.io.tmpdir`): a JVM that builds a stored index and
  * runs no stream must leave nothing behind. */
class ScratchRootSpec extends AnyFunSuite {

  test("a JVM that only builds a stored-index dir leaves no scratch root behind") {
    val tmp = Files.createTempDirectory("graft_scratch_spec_").toFile
    try {
      val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens"))
      val cmd = Seq(new File(sys.props("java.home"), "bin/java").getPath) ++ opens ++ Seq(
        "-Xmx512m", s"-Djava.io.tmpdir=${tmp.getAbsolutePath}",
        "-cp", sys.props("java.class.path"), ScratchRootChild.getClass.getName.stripSuffix("$"))
      val out = new File(tmp, "child.log")
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(out).start()
      if (!p.waitFor(180, TimeUnit.SECONDS)) {
        p.destroyForcibly()
        fail("child JVM did not exit within 180 s")
      }
      val log = new String(Files.readAllBytes(out.toPath), "UTF-8")
      assert(p.exitValue() === 0, log.takeRight(2000))
      val dir = log.linesIterator.collectFirst {
        case l if l.startsWith(ScratchRootChild.Marker) => l.stripPrefix(ScratchRootChild.Marker)
      }.getOrElse(fail(s"child printed no index dir:\n${log.takeRight(2000)}"))
      assert(dir.startsWith(tmp.getAbsolutePath), dir)
      assert(!new File(dir).exists(), s"$dir survived the child JVM's exit")
      val left = Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft_"))
      assert(left.isEmpty, s"scratch roots left in the child's tmpdir: $left")
    } finally core.rmTree(tmp)
  }
}

/** Child-JVM body for [[ScratchRootSpec]]: create the session-scoped IVF
  * index dir with one file in it, print its path, and exit. */
object ScratchRootChild {
  val Marker = "INDEX_DIR="

  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val dir = new File(operators.Similarity.ivfIndexDir(s, "scratch-root-spec"))
    assert(dir.mkdirs(), s"could not create $dir")
    Files.writeString(new File(dir, "part-0").toPath, "x")
    println(Marker + dir.getAbsolutePath)
    s.stop()
    sys.exit(0)
  }
}

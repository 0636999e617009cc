package graft

import java.io.File
import java.nio.file.{FileSystems, Files}
import org.scalatest.funsuite.AnyFunSuite

/** README.md and BASELINE.md cite repo-root artifacts by name in inline
  * code spans. Every such name (`*.md`, `*.json`, `*.txt`, globs
  * included) must match a file in the repo root: a cited artifact that
  * was never written, or was retired, is a figure the reader cannot
  * check. Paths with a directory part and `file:line` references are
  * out of scope. */
class DocsCitationSpec extends AnyFunSuite {

  private val root = new File(sys.props("user.dir"))
  private val RootName = """[A-Za-z0-9_.*?\[\]-]+\.(?:md|json|txt)""".r
  private val Fence = "(?s)```.*?```".r
  private val Span = "`([^`\n]+)`".r

  /** The repo-root file names cited in `doc`'s inline code spans. */
  private def cited(doc: String): Seq[String] = {
    val text = new String(Files.readAllBytes(new File(root, doc).toPath), "UTF-8")
    Span.findAllMatchIn(Fence.replaceAllIn(text, ""))
      .map(_.group(1).trim).filter(RootName.matches).toSeq.distinct
  }

  private val rootFiles: Seq[String] =
    Option(root.listFiles()).toSeq.flatten.filter(_.isFile).map(_.getName)

  for (doc <- Seq("README.md", "BASELINE.md"))
    test(s"$doc cites only repo-root files that exist") {
      assert(new File(root, doc).isFile, s"run from the repo root; no $doc in $root")
      val missing = cited(doc).filterNot { name =>
        val glob = FileSystems.getDefault.getPathMatcher(s"glob:$name")
        rootFiles.exists(f => glob.matches(new File(f).toPath))
      }
      assert(missing.isEmpty, s"$doc cites ${missing.mkString(", ")}, which match no file in $root")
    }
}

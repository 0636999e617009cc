package graft

import java.io.File
import java.nio.file.{FileSystems, Files}
import org.scalatest.funsuite.AnyFunSuite

/** README.md and BASELINE.md cite repo-root artifacts by name in inline
  * code spans. Every such name (`*.md`, `*.json`, `*.txt`, globs
  * included) must match a file in the repo root: a cited artifact that
  * was never written, or was retired, is a figure the reader cannot
  * check. Paths with a directory part and `file:line` references are
  * out of scope. The same two docs and `src/main/scala` also agree on
  * the entry points: each `runMain` command names a main that exists,
  * and README.md gives each main one. */
class DocsCitationSpec extends AnyFunSuite {

  private val root = new File(sys.props("user.dir"))
  private val RootName = """[A-Za-z0-9_.*?\[\]-]+\.(?:md|json|txt)""".r
  private val Fence = "(?s)```.*?```".r
  private val Span = "`([^`\n]+)`".r

  /** The repo-root file names cited in `doc`'s inline code spans. */
  private def read(f: File): String = new String(Files.readAllBytes(f.toPath), "UTF-8")

  private def cited(doc: String): Seq[String] = {
    val text = read(new File(root, doc))
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

  private val RunMain = """runMain\s+(graft\.[\w.]+)""".r
  private val Package = """(?m)^package\s+([\w.]+)""".r
  private val ObjectOrMain =
    """(?m)^\s*(?:(?:private|final|case)\s+)*object\s+(\w+)|^\s*(?:override\s+)?def\s+main\s*\(""".r

  /** Fully qualified names of the objects under src/main/scala that
    * define `main`: each `def main` declaration belongs to the nearest
    * `object` declared before it in its file (lines that open a
    * declaration only, so comments do not count). */
  private def mains: Set[String] = {
    def files(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten
      .flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    files(new File(root, "src/main/scala")).flatMap { f =>
      val text = read(f)
      val pkg = Package.findFirstMatchIn(text).map(_.group(1) + ".").getOrElse("")
      ObjectOrMain.findAllMatchIn(text).foldLeft((Option.empty[String], Set.empty[String])) {
        case ((_, found), m) if m.group(1) != null => (Some(m.group(1)), found)
        case ((obj, found), _) => (obj, found ++ obj.map(pkg + _))
      }._2
    }.toSet
  }

  test("docs name only mains that exist, and README.md gives every main a runMain command") {
    val ms = mains
    assert(ms.nonEmpty, s"no main under $root/src/main/scala")
    val commands = Seq("README.md", "BASELINE.md")
      .map(d => d -> RunMain.findAllMatchIn(read(new File(root, d))).map(_.group(1)).toSet).toMap
    val stale = commands.toSeq.flatMap { case (d, ns) => (ns -- ms).toSeq.sorted.map(n => s"$d: $n") }
    assert(stale.isEmpty, s"runMain of a main that does not exist: ${stale.mkString(", ")}")
    val undocumented = (ms -- commands("README.md")).toSeq.sorted
    assert(undocumented.isEmpty,
      s"mains with no runMain command in README.md: ${undocumented.mkString(", ")}")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every runnable object under src/main is named in README, and every
  * main the docs run exists, so adding or deleting a main cannot leave
  * the docs behind.
  */
class MainsDocumentedSpec extends AnyFunSuite {
  private val src = Paths.get("src/main/scala")

  /** The `pkg.Object` name of every object under src/main/scala that
    * declares a `main`.
    */
  private def mains: Seq[String] = {
    assert(Files.isDirectory(src), s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val Package = """(?m)^package\s+([\w.]+)""".r
    // a declaration at the start of a line, so "object" in prose is skipped
    val Object = """(?m)^\s*(?:private\S*\s+|final\s+|case\s+)*object\s+(\w+)""".r
    val walk = Files.walk(src)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), UTF_8)
        val pkg = Package.findFirstMatchIn(text).map(_.group(1) + ".").getOrElse("")
        """\bdef\s+main\s*\(""".r.findAllMatchIn(text).map { m =>
          val owner = Object.findAllMatchIn(text.take(m.start)).toSeq.last.group(1)
          pkg + owner
        }
      }.toSeq.distinct.sorted
    finally walk.close()
  }

  private def read(doc: String): String =
    new String(Files.readAllBytes(Paths.get(doc)), UTF_8)

  test("README names every object with a main under src/main/scala") {
    val all = mains
    assert(all.contains("graft.Bench") && all.contains("graft.Verify"), all)
    val readme = read("README.md")
    val undocumented = all.filterNot(readme.contains)
    assert(undocumented.isEmpty, s"mains not named in README.md: $undocumented")
  }

  test("every runMain in README and the verify skill names a main under src/main/scala") {
    val all = mains.toSet
    for (doc <- Seq("README.md", ".claude/skills/verify/SKILL.md")) {
      val named = """runMain\s+(graft\.[\w.]+)""".r.findAllMatchIn(read(doc))
        .map(_.group(1).stripSuffix(".")).toSeq.distinct
      assert(named.nonEmpty, doc)
      val stale = named.filterNot(all)
      assert(stale.isEmpty, s"$doc runs mains that do not exist: $stale")
    }
  }
}

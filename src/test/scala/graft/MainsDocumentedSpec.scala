package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every runnable object under src/main is named in README, so adding or
  * deleting a main cannot leave the docs behind.
  */
class MainsDocumentedSpec extends AnyFunSuite {
  test("README names every object with a main under src/main/scala") {
    val src = Paths.get("src/main/scala")
    assert(Files.isDirectory(src), s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val Package = """(?m)^package\s+([\w.]+)""".r
    // a declaration at the start of a line, so "object" in prose is skipped
    val Object = """(?m)^\s*(?:private\S*\s+|final\s+|case\s+)*object\s+(\w+)""".r
    val walk = Files.walk(src)
    val mains = try walk.iterator().asScala
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
    assert(mains.contains("graft.Bench") && mains.contains("graft.Verify"), mains)
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), UTF_8)
    val undocumented = mains.filterNot(readme.contains)
    assert(undocumented.isEmpty, s"mains not named in README.md: $undocumented")
  }
}

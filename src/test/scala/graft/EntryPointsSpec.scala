package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine jar's runnable entry points are exactly the four served or
  * checked surfaces. Measurement lives in `perfbench`, a separate build,
  * so a new `main` under `src/main` (a timing lab, a probe) fails here.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val mainRoot: Path = Paths.get("src/main/scala")

  /** Objects that declare `def main(` or extend `App`: each `def main(` is
    * attributed to the nearest `object` declared above it in its file (a
    * declaration starts its line, so "object" inside a comment is skipped). */
  private def entryObjects(file: Path): Seq[String] = {
    val text = new String(Files.readAllBytes(file), "UTF-8")
    val objects = """(?m)^\s*(?:(?:private|protected|final|case)\s+)*object\s+(\w+)""".r
      .findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
    val viaMain = """\bdef\s+main\s*\(""".r.findAllMatchIn(text).flatMap { m =>
      objects.takeWhile(_._1 < m.start).lastOption.map(_._2)
    }
    val viaApp = """(?m)^\s*object\s+(\w+)\s+extends\s+App\b""".r.findAllMatchIn(text).map(_.group(1))
    (viaMain ++ viaApp).toSeq
  }

  test("src/main declares main only in Cli, Explain, Server and Verify") {
    assert(Files.isDirectory(mainRoot), s"run from the project root: ${mainRoot.toAbsolutePath}")
    val files = Files.walk(mainRoot).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    val found = files.flatMap(f => entryObjects(f).map(_ -> mainRoot.relativize(f).toString))
    assert(found.map(_._1).toSet == Set("Cli", "Explain", "Server", "Verify"),
      found.sorted.mkString("entry points: ", ", ", ""))
  }
}

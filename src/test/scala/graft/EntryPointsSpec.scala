package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** README's "Entry points" table names exactly the objects in src/main
  * that declare a `main`: a new, renamed or deleted main must update it. */
class EntryPointsSpec extends AnyFunSuite {

  private val objectRe = """(?m)^object\s+(\w+)""".r
  private val packageRe = """(?m)^package\s+([\w.]+)""".r

  /** Fully-qualified names of the top-level objects declaring `def main(`. */
  private def sourceMains(root: Path): Set[String] = {
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList finally walk.close()
    files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      val pkg = packageRe.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      // a file's top-level objects, each with the text up to the next one
      val starts = objectRe.findAllMatchIn(src).toList
      val ends = starts.drop(1).map(_.start) :+ src.length
      starts.zip(ends).collect {
        case (m, end) if src.substring(m.start, end).contains("def main(") =>
          pkg + m.group(1)
      }
    }.toSet
  }

  /** Mains named in the first column of README's "Entry points" table. */
  private def readmeMains(readme: Path): Set[String] = {
    val lines = Files.readAllLines(readme).asScala.toList
    val table = lines.dropWhile(_ != "## Entry points").drop(1)
      .dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|")).drop(2)
    val name = """`(graft\.[\w.]+)""".r
    table.flatMap(row => name.findAllMatchIn(row.split('|')(1)).map(_.group(1))).toSet
  }

  test("README's entry-point table lists exactly the mains in src/main") {
    val root = Paths.get("src/main/scala")
    val readme = Paths.get("README.md")
    assert(Files.isDirectory(root) && Files.isRegularFile(readme),
      s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val mains = sourceMains(root)
    assert(mains.contains("graft.Bench"), mains)
    assert(readmeMains(readme) == mains)
  }
}

package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point is documented, and every documented entry point
  * exists: the set of objects with a `def main` under src/main/scala
  * equals the set of `runMain` targets in README.md. A new main needs a
  * README line; a deleted one takes its line with it.
  */
class MainsInventorySpec extends AnyFunSuite {

  private def read(f: File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** Fully qualified name of each object declaring `def main`: the last
    * `object` declared before the `def main` in its file.
    */
  private lazy val mains: Set[String] = scalaFiles(new File("src/main/scala")).flatMap { f =>
    val src = read(f)
    val pkg = "(?m)^package\\s+([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1) + ".")
      .getOrElse("")
    val objects = "\\bobject\\s+(\\w+)".r.findAllMatchIn(src).toSeq
    "\\bdef\\s+main\\s*\\(".r.findAllMatchIn(src).flatMap { m =>
      objects.filter(_.start < m.start).lastOption.map(pkg + _.group(1))
    }
  }.toSet

  private lazy val documented: Set[String] =
    "runMain\\s+(graft(?:\\.\\w+)+)".r.findAllMatchIn(read(new File("README.md")))
      .map(_.group(1)).toSet

  test("every main under src/main/scala has a runMain line in README.md") {
    assert(mains.nonEmpty, s"no mains found under ${new File("src/main/scala").getAbsolutePath}")
    val undocumented = mains -- documented
    assert(undocumented.isEmpty, s"mains with no README runMain line: ${undocumented.toSeq.sorted.mkString(", ")}")
  }

  test("every runMain in README.md names an existing main") {
    assert(documented.nonEmpty, "README.md names no runMain target")
    val dangling = documented -- mains
    assert(dangling.isEmpty, s"README runMain targets with no main: ${dangling.toSeq.sorted.mkString(", ")}")
  }
}

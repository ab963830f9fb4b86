package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** The program's environment options are exactly the two the mains
  * document: no file under src/main/scala reads an env var other than
  * `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS`, and every read names its
  * variable with a literal.
  */
class EnvInventorySpec extends AnyFunSuite {

  private val allowed = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("no file under src/main/scala reads an env var beyond the two documented") {
    val files = scalaFiles(new File("src/main/scala"))
    assert(files.nonEmpty, s"no sources under ${new File("src/main/scala").getAbsolutePath}")
    val reads = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      "(?:sys\\.env|System\\.getenv)(?:\\.(?:getOrElse|get|contains)\\b)?(\\(\\s*\"(\\w+)\")?".r
        .findAllMatchIn(text)
        .map(m => f.getName -> Option(m.group(2)).getOrElse("<not a literal>"))
    }
    val other = reads.filterNot { case (_, name) => allowed(name) }
    assert(reads.nonEmpty, "no env reads found at all")
    assert(other.isEmpty, s"env reads beyond ${allowed.toSeq.sorted.mkString(", ")}: " +
      other.map { case (f, n) => s"$n in $f" }.distinct.mkString(", "))
  }
}

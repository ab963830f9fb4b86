package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** No `object` under src/main/scala declares a `var`: an object's state
  * is process-global, so a mutable member is a switch that any caller can
  * flip for every other caller. Fields of classes and locals inside
  * methods are not object state and are not checked.
  */
class ObjectStateSpec extends AnyFunSuite {

  /** The only object vars allowed, each a hook that specs set and no
    * code under src/main/scala does.
    */
  private val testHooks = Set(
    // crash-point failpoints driven by SwapCrashSpec and the store specs
    "graft.dedup.DedupStore.swapFailAfterRenames",
    "graft.ml.ClassifierStore.removeFailAfterWrites",
    // lowered by the store specs to reach the pruned probe on fixture-sized stores
    "graft.dedup.SpanStore.PruneMinStoreBytes")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** `src` with comments, string and char literals blanked, newlines kept. */
  private def code(src: String): String =
    "(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"|'(?:\\\\.|[^'\\\\\\n])'|//[^\\n]*|/\\*.*?\\*/".r
      .replaceAllIn(src, m => m.matched.filter(_ == '\n'))

  /** `pkg.Object.name` of each `var` whose innermost enclosing braces are
    * an object's body.
    */
  private def objectVars(f: File): Seq[String] = {
    val text = {
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try code(s.mkString) finally s.close()
    }
    val pkg = "(?m)^package\\s+([\\w.]+)".r.findFirstMatchIn(text).map(_.group(1) + ".")
      .getOrElse("")
    var scopes = List.empty[Option[String]] // Some(name): that object's body
    var header: Option[String] = None // inside `object name`'s header, before its `{`
    "\\bobject\\s+(\\w+)|\\bvar\\b\\s*(\\w*)|\\b(?:def|val|class|trait|case|type)\\b|[{};=]".r
      .findAllMatchIn(text).flatMap { m =>
        val found = Option(m.group(2)).flatMap(v => scopes.headOption.flatten.map(o => s"$pkg$o.$v"))
        m.matched match {
          case "{" => scopes = header :: scopes
          case "}" => scopes = scopes.drop(1)
          case _ =>
        }
        header = Option(m.group(1))
        found
      }.toSeq
  }

  test("no object under src/main/scala declares a var beyond the listed spec hooks") {
    val files = scalaFiles(new File("src/main/scala"))
    assert(files.nonEmpty, s"no sources under ${new File("src/main/scala").getAbsolutePath}")
    val found = files.flatMap(objectVars).toSet
    assert((found -- testHooks).isEmpty, s"object-level vars: ${(found -- testHooks).toSeq.sorted.mkString(", ")}")
    assert((testHooks -- found).isEmpty, s"listed hooks no longer declared: ${(testHooks -- found).toSeq.sorted.mkString(", ")}")
  }
}

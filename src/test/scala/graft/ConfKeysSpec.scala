package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source rules over src/main/scala:
  *  - every `spark.graft.*` option the program reads is documented: the
  *    set of `"spark.graft.` string literals equals the option table in
  *    README.md, so a new option cannot land undocumented and a retired
  *    one cannot linger in the table;
  *  - no code writes session conf (`conf.set(` / `conf.unset(`):
  *    `Sessions.local` configures a session before it is built;
  *  - `read.parquet(` appears only in `Sinks`, the one parquet reader.
  */
class ConfKeysSpec extends AnyFunSuite {
  private val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
  private val row = "^\\|\\s*`(spark\\.graft\\.[A-Za-z0-9_.]+)`\\s*\\|.*".r
  private val blockComment = "(?s)/\\*.*?\\*/".r

  /** (file name, text) of every main source file. */
  private lazy val sources: List[(String, String)] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.map(f => f.getFileName.toString -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
  }

  /** `file:line` of each code line (scaladoc and block comments
    * removed) containing `needle`. */
  private def codeLines(needle: String, files: List[(String, String)]): List[String] =
    files.flatMap { case (name, text) =>
      val code = blockComment.replaceAllIn(text, m => m.matched.filter(_ == '\n'))
      code.split("\n").zipWithIndex.collect { case (l, i) if l.contains(needle) => s"$name:${i + 1}" }
    }

  test("spark.graft.* literals in src/main equal the README option table") {
    val read = sources.flatMap { case (_, text) => key.findAllMatchIn(text).map(_.group(1)) }.toSet
    val documented = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("README.md"))
      .asScala.collect { case row(k) => k }.toSet
    assert(read.nonEmpty && documented.nonEmpty)
    assert(read == documented,
      s"read but undocumented: ${read -- documented}; " +
        s"documented but never read: ${documented -- read}")
    assert(documented.size == 7)
  }

  test("no code in src/main writes session conf") {
    assert(sources.nonEmpty)
    val writes = codeLines("conf.set(", sources) ++ codeLines("conf.unset(", sources)
    assert(writes.isEmpty, s"session-conf writes at $writes")
  }

  test("read.parquet( appears in src/main only inside Sinks") {
    assert(codeLines("read.parquet(", sources.filter(_._1 == "Sinks.scala")).nonEmpty)
    val bare = codeLines("read.parquet(", sources.filter(_._1 != "Sinks.scala"))
    assert(bare.isEmpty, s"parquet reads outside Sinks at $bare")
  }
}

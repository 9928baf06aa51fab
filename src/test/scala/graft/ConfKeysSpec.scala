package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every `spark.graft.*` option the program reads is documented: the
  * set of `"spark.graft.` string literals under src/main/scala must
  * equal the option table in README.md, so a new option cannot land
  * undocumented and a retired one cannot linger in the table.
  */
class ConfKeysSpec extends AnyFunSuite {
  private val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
  private val row = "^\\|\\s*`(spark\\.graft\\.[A-Za-z0-9_.]+)`\\s*\\|.*".r

  test("spark.graft.* literals in src/main equal the README option table") {
    val files = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val read = files.flatMap { f =>
      key.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
        .map(_.group(1))
    }.toSet
    val documented = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("README.md"))
      .asScala.collect { case row(k) => k }.toSet
    assert(read.nonEmpty && documented.nonEmpty)
    assert(read == documented,
      s"read but undocumented: ${read -- documented}; " +
        s"documented but never read: ${documented -- read}")
  }
}

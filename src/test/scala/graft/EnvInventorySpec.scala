package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The README's environment-variable table lists exactly the variables
  * `src/main` reads, so a new switch cannot land undocumented and a
  * deleted one cannot linger in the table.
  */
class EnvInventorySpec extends AnyFunSuite {

  test("README's environment table equals the sys.env keys read under " +
    "src/main") {
    val read = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        """(?:sys\.env|System\.getenv)\s*(?:\.\w+)?\s*\(\s*"([^"]+)""""
          .r.findAllMatchIn(Files.readString(p)).map(_.group(1))
      }.toSet
    val readme = Files.readString(Paths.get("README.md"))
    val from = readme.indexOf("## Driver contract")
    val section = readme.substring(from, readme.indexOf("\n## ", from + 1))
    val documented = """(?m)^\| `([A-Z0-9_]+)` \|""".r
      .findAllMatchIn(section).map(_.group(1)).toSet
    assert(read.nonEmpty && documented.nonEmpty)
    assert(read === documented,
      s"read but undocumented: ${read -- documented}; " +
        s"documented but not read: ${documented -- read}")
  }
}

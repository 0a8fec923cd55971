package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `SPARK_GRAFT_*` environment variable the mains read is listed in
  * README.md's environment-variable table, and the table lists nothing
  * that no code reads — a knob can neither appear undocumented nor
  * linger in the docs after its code is gone. Plain file scans; no
  * Spark session. */
class EnvVarsSpec extends AnyFunSuite {

  private val name = "SPARK_GRAFT_[A-Z0-9_]+".r
  private val literal = ("\"(" + name.regex + ")\"").r

  /** Variables named by a string literal in `src/main` (a read; comments
    * name variables in backticks, not quotes). */
  private def readInMain: Set[String] = {
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap(p => literal.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    finally files.close()
  }

  /** The first-column names of README.md's table rows. */
  private def documented: Set[String] =
    Files.readAllLines(Paths.get("README.md")).asScala
      .filter(_.startsWith("| `SPARK_GRAFT_"))
      .flatMap(l => name.findFirstIn(l))
      .toSet

  test("README's environment-variable table lists exactly the variables " +
    "read under src/main") {
    val read = readInMain
    val doc = documented
    assert(read.nonEmpty && doc.nonEmpty)
    assert((read -- doc).isEmpty, "read in src/main but not in README")
    assert((doc -- read).isEmpty, "in README but read nowhere in src/main")
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators under `src/main` materialize a derived relation one way,
  * `GraftSql.sizedView`: no second view primitive, no eager
  * `localCheckpoint()`, and `persist`/`cache` only where the scaladoc of
  * `GraftSql.sizedView` says why (the artifact store's relation builds,
  * `Example`, and the RDD inside `sizedView` itself). Plain file scans of
  * code lines (comments dropped); no Spark session. */
class MaterializeGuardSpec extends AnyFunSuite {

  /** Each `src/main` Scala file's code lines, by path: `//` tails and
    * scaladoc / block-comment lines removed. */
  private lazy val code: Map[String, Seq[String]] = {
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map((p: Path) => p.toString ->
        Files.readAllLines(p).asScala.toSeq
          .map(_.replaceAll("//.*$", ""))
          .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*")))
      .toMap
    finally files.close()
  }

  /** Occurrences of `re` per file, files without one left out. */
  private def hits(re: String): Map[String, Int] =
    code.map { case (f, ls) => f -> ls.map(re.r.findAllIn(_).size).sum }
      .filter(_._2 > 0)

  test("src/main has no persistedView") {
    assert(code.nonEmpty)
    assert(hits("""\bpersistedView\b""").isEmpty)
  }

  test("src/main has no eager localCheckpoint") {
    // `localCheckpoint(false)` is lazy; anything else materializes
    assert(hits("""localCheckpoint\((?!\s*(eager\s*=\s*)?false\s*\))""")
      .isEmpty)
  }

  test("persist and cache appear only in the store's relation builds, " +
    "Example and sizedView") {
    val allowed = Map(
      "src/main/scala/graft/queries/LlmQueries.scala" -> 1,
      "src/main/scala/graft/Example.scala" -> 1,
      "src/main/scala/org/apache/spark/sql/GraftSql.scala" -> 1)
    val found = hits("""\.(persist|cache)\(""")
    assert(found.forall { case (f, n) => n <= allowed.getOrElse(f, 0) },
      s"persist/cache sites $found outside $allowed")
  }
}

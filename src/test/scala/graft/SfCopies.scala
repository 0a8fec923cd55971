package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.commons.io.FileUtils

/** Temp copies of sf0.001's documents and embeddings, for suites whose
  * artifact-store entries must be their own: each copy is a fresh table
  * path, and after the suite its store entries are dropped and the copy
  * deleted. */
trait SfCopies extends SparkSpec {

  private val tempDirs = scala.collection.mutable.Buffer[Path]()

  override def afterAll(): Unit =
    try tempDirs.foreach { dir =>
      Seq("documents", "embeddings").foreach(t =>
        Tables.invalidateCache(s"$dir/$t.parquet"))
      FileUtils.deleteDirectory(dir.toFile)
    } finally super.afterAll()

  def tempCopy(): String = {
    val dir = Files.createTempDirectory("sf-copy")
    tempDirs += dir
    Seq("documents", "embeddings").foreach(t =>
      Files.copy(Paths.get(sf(), s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir.toString
  }
}

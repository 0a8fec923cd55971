package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col

import graft.queries.LlmQueries

/** The derived-artifact store's lifecycle ([[Artifacts]]), on temp copies
  * of sf0.001's documents and embeddings tables: a rewrite rebuilds and
  * releases, directories and sessions own their own entries, nested
  * builds run from an empty store, and concurrent callers share one
  * build. */
class ArtifactsSpec extends SparkSpec {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val tempDirs = scala.collection.mutable.Buffer[Path]()

  private def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir
  }

  // release this suite's entries and delete its tables
  override def afterAll(): Unit =
    try tempDirs.foreach { dir =>
      Seq("documents", "embeddings").foreach(t =>
        Tables.invalidateCache(s"$dir/$t.parquet"))
      FileUtils.deleteDirectory(dir.toFile)
    } finally super.afterAll()

  /** A fresh directory holding copies of sf0.001's documents and
    * embeddings tables. */
  private def tempCopy(): String = {
    val dir = tempDir("artifacts")
    Seq("documents", "embeddings").foreach(t =>
      Files.copy(Paths.get(sf(), s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir.toString
  }

  /** Replace `dir`'s `table` file with the even-`id` half of it, as an
    * outside writer would: Spark's own writer would also refresh the
    * cached plans over the path and hide a missing release. */
  private def rewriteHalf(dir: String, table: String, id: String): Unit = {
    val staged = tempDir("artifacts-staged").resolve(table)
    Tables.read(spark, sf(), table).filter(col(id) % 2 === 0).coalesce(1)
      .write.parquet(staged.toString)
    val part = Files.list(staged).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, Paths.get(dir, s"$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("rewriting a table rebuilds its relations and models and releases " +
    "the old relation's blocks") {
    val dir = tempCopy()
    val base = persisted
    val edges = LlmQueries.webEdges(spark, dir)
    val edgeRows = edges.count()
    val oldBlocks = persisted -- base
    assert(oldBlocks.size == 1)
    val centroids = LlmQueries.trainedCentroids(spark, dir)
    assert(LlmQueries.webEdges(spark, dir) eq edges)
    assert(LlmQueries.trainedCentroids(spark, dir) eq centroids)

    rewriteHalf(dir, "documents", "doc_id")
    rewriteHalf(dir, "embeddings", "vec_id")
    val edges2 = LlmQueries.webEdges(spark, dir)
    assert(!(edges2 eq edges), "a rewritten table must rebuild its relation")
    assert(edges2.count() < edgeRows)
    val newBlocks = persisted -- base
    assert(newBlocks.size == 1 && (newBlocks & oldBlocks).isEmpty,
      s"persisted RDDs past the baseline: $newBlocks (old: $oldBlocks)")
    val centroids2 = LlmQueries.trainedCentroids(spark, dir)
    assert(!(centroids2 eq centroids), "a rewritten table must retrain")
    assert(centroids2 != centroids)
  }

  test("a build for one directory keeps another directory's entries") {
    val (a, b) = (tempCopy(), tempCopy())
    val before = persisted
    val edgesB = LlmQueries.webEdges(spark, b)
    val blocksB = persisted -- before
    val centroidsB = LlmQueries.trainedCentroids(spark, b)
    LlmQueries.webEdges(spark, a)
    LlmQueries.trainedCentroids(spark, a)
    rewriteHalf(a, "documents", "doc_id")
    rewriteHalf(a, "embeddings", "vec_id")
    LlmQueries.webEdges(spark, a)
    LlmQueries.trainedCentroids(spark, a)
    assert(LlmQueries.webEdges(spark, b) eq edgesB)
    assert(LlmQueries.trainedCentroids(spark, b) eq centroidsB)
    assert(blocksB.subsetOf(persisted))
  }

  test("a new session gets its own entries and keeps the parent's") {
    val dir = tempCopy()
    val before = persisted
    val edges = LlmQueries.webEdges(spark, dir)
    val blocks = persisted -- before
    val centroids = LlmQueries.trainedCentroids(spark, dir)
    val child = spark.newSession()
    val childEdges = LlmQueries.webEdges(child, dir)
    val childCentroids = LlmQueries.trainedCentroids(child, dir)
    assert(!(childEdges eq edges) && (childEdges.sparkSession eq child))
    assert(!(childCentroids eq centroids) && childCentroids == centroids)
    assert(LlmQueries.webEdges(child, dir) eq childEdges)
    assert(LlmQueries.webEdges(spark, dir) eq edges)
    assert(LlmQueries.trainedCentroids(spark, dir) eq centroids)
    assert(blocks.subsetOf(persisted))
  }

  test("nested builds run from an empty store, each dependency once") {
    def deps(dir: String) = Seq[() => Any](
      () => LlmQueries.jaccardPairs(spark, dir),
      () => LlmQueries.contamScores(spark, dir),
      () => LlmQueries.embCount(spark, dir),
      () => LlmQueries.trainedCentroids(spark, dir),
      () => LlmQueries.trainedPqBooks(spark, dir),
      () => LlmQueries.trainedImiQuantizers(spark, dir))
    def tops(dir: String): Unit = {
      LlmQueries.curationDrops(spark, dir)
      LlmQueries.ivfPqIndex(spark, dir)
      LlmQueries.imiIndex(spark, dir)
    }
    /** Persisted RDDs a build sequence leaves behind. */
    def leaves(build: => Unit): Int = {
      val before = persisted
      build
      (persisted -- before).size
    }
    // top-down from an empty store: every dependency is built inside
    // another build
    val nested = tempCopy()
    val nestedLeft = leaves(tops(nested))
    val first = deps(nested).map(_())
    assert(jobsDuring(deps(nested).foreach(_())) == 0,
      "the nested builds must store every dependency")
    deps(nested).zip(first).foreach { case (d, v) => assert(d() == v) }
    // bottom-up: every dependency built on its own first — a nested
    // build that ran a dependency twice would leave more behind
    val flat = tempCopy()
    val flatLeft = leaves { deps(flat).foreach(_()); tops(flat) }
    assert(nestedLeft == flatLeft,
      s"top-down left $nestedLeft persisted RDDs, bottom-up $flatLeft")
  }

  test("concurrent callers of one relation share one build") {
    val dir = tempCopy()
    val base = persisted
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val calls = (1 to 4).map(_ =>
        Future { start.await(); LlmQueries.webEdges(spark, dir) })
      start.countDown()
      val got = calls.map(Await.result(_, 5.minutes))
      assert(got.forall(_ eq got.head))
      assert((persisted -- base).size == 1)
    } finally pool.shutdown()
  }
}

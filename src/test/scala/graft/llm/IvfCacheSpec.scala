package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.LlmQueries

/** The IVF centroid cache must key on the DATA, not the directory name:
  * rewriting a directory's embeddings parquet in-process has to retrain
  * (VERDICT r4 nit — a name-keyed cache would serve stale centroids). */
class IvfCacheSpec extends SparkSpec {

  private def writeEmb(dir: String, shift: Double): Unit = {
    import spark.implicits._
    val df = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => (((i * 7 + d) % 13).toFloat / 13f + shift.toFloat)))
    }.toDF("vec_id", "embedding")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def checkRetrain(dir: String): Unit = {
    writeEmb(dir, 0.0)
    val first = LlmQueries.trainedCentroids(spark, dir)
    // same data, same key → the cached object comes back (no retrain)
    assert(LlmQueries.trainedCentroids(spark, dir) eq first,
      "unchanged data must hit the cache")
    writeEmb(dir, 1.0) // rewrite IN THE SAME DIRECTORY with different data
    val second = LlmQueries.trainedCentroids(spark, dir)
    assert(!(second eq first), "rewritten data must miss the cache")
    assert(second != first, "retrained centroids must reflect the new data")
  }

  test("rewriting a directory's embeddings retrains the quantizer") {
    checkRetrain(Files.createTempDirectory("ivfcache").toString)
  }

  // a URI-form directory names the same files through the Hadoop
  // filesystem, so its fingerprint must see the rewrite too
  test("rewriting a file: URI directory's embeddings retrains the quantizer") {
    checkRetrain("file:" + Files.createTempDirectory("ivfcache"))
  }
}

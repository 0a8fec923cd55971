package graft.queries

import org.apache.spark.sql.GraftSql

import graft.{Artifacts, SfCopies, SparkEntry}

/** Storage hygiene of the registry's pairs → components → anti-join
  * builders and of the media pair-graph builds, on temp copies of
  * sf0.001's documents and embeddings: once a query's output is
  * released, nothing it persisted is left; a relation build pins only
  * the stored relation, which the store's eviction releases; a model
  * trained through Spark pins nothing. */
class DedupReleaseSpec extends SfCopies {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  // the stored pair graphs the video, MP4 and Jaccard dedup queries read
  // are built before any baseline is taken. (`pipe_curate` is left out:
  // its stored drop set is itself a materialized leaf of its output, so
  // releasing that output would reach the store.)
  private lazy val warmDir: String = {
    val dir = tempCopy()
    LlmQueries.videoPairs(spark, dir)
    LlmQueries.mp4Pairs(spark, dir)
    LlmQueries.jaccardPairs(spark, dir)
    dir
  }

  for (name <- Seq("mm_image_dedup", "mm_audio_dedup", "mm_video_dedup",
      "mm_mp4_dedup", "dedup_semdedup_graph", "dedup_clusters",
      "dedup_drop_near", "dedup_keep_best"))
    test(s"$name leaves nothing persisted once its output is released") {
      val dir = warmDir
      val before = persisted
      val out = SparkEntry.queries(name)(spark, dir)
      assert(out.queryExecution.toRdd.count() > 0)
      GraftSql.unpersistCheckpointTree(out)
      assert(persisted -- before == Set.empty)
    }

  // (kind, what must be in the store first, the build)
  for ((kind, deps, build) <- Seq[(String, String => Any, String => Any)](
      ("videoPairs", _ => (), LlmQueries.videoPairs(spark, _)),
      ("mp4Pairs", _ => (), LlmQueries.mp4Pairs(spark, _)),
      ("jaccardPairs", _ => (), LlmQueries.jaccardPairs(spark, _)),
      ("contamScores", _ => (), LlmQueries.contamScores(spark, _)),
      ("webEdges", _ => (), LlmQueries.webEdges(spark, _)),
      ("curationDrops",
        d => (LlmQueries.jaccardPairs(spark, d),
          LlmQueries.contamScores(spark, d)),
        LlmQueries.curationDrops(spark, _)),
      ("fixedQueryBatch", _ => (), LlmQueries.fixedQueryBatch(spark, _)),
      ("ivfIndex", _ => (), LlmQueries.ivfIndex(spark, _)),
      ("imiIndex", _ => (), LlmQueries.imiIndex(spark, _)),
      ("ivfPqIndex", _ => (), LlmQueries.ivfPqIndex(spark, _))))
    test(s"$kind pins only its stored relation, released by eviction") {
      val dir = tempCopy()
      deps(dir)
      val before = persisted
      build(dir)
      assert((persisted -- before).size == 1)
      Artifacts.evict(spark, Set(kind))
      assert(persisted -- before == Set.empty)
    }

  for ((kind, build) <- Seq[(String, String => Any)](
      "trainedCentroids" -> (LlmQueries.trainedCentroids(spark, _)),
      "trainedPqBooks" -> (LlmQueries.trainedPqBooks(spark, _)),
      "trainedRpSplits" -> (LlmQueries.trainedRpSplits(spark, _)),
      "trainedRpForest" -> (LlmQueries.trainedRpForest(spark, _, 2, 3)),
      "bpeMerges" -> (LlmQueries.bpeMerges(spark, _))))
    test(s"$kind, a model built through Spark, pins nothing") {
      val dir = tempCopy()
      val before = persisted
      build(dir)
      assert(persisted -- before == Set.empty)
    }
}

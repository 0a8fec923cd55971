package graft.llm

import org.apache.spark.sql.{DataFrame, GraftSql, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

import graft.SfCopies

/** [[Dedup.connectedComponents]] picks its route from the measured pair
  * size: union-find on the driver when the pairs fit
  * `spark.sql.autoBroadcastJoinThreshold`, label rounds otherwise (after
  * clique contraction when a clique map is given). Both routes must give
  * the same labels, schema and errors — to the operator's callers too;
  * each test runs the default bound (driver route) and a bound of -1
  * (rounds route) on the same input. */
class DedupRouteSpec extends SfCopies {
  import spark.implicits._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Schema and rows of a materialized cluster labelling, then released;
    * `driver` says which route must have produced it (a local relation
    * comes only from the driver route). */
  private def labels(df: DataFrame, driver: Boolean): (StructType, Set[Row]) =
    try {
      assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation] == driver,
        df.queryExecution.analyzed.nodeName)
      (df.schema, df.collect().toSet)
    } finally GraftSql.unpersistCheckpointTree(df)

  /** The labels of `clusters` on both routes, asserted equal. */
  private def sameOnBothRoutes(clusters: => DataFrame): Map[Any, Any] = {
    val (dSchema, dRows) = labels(clusters, driver = true)
    val (sSchema, sRows) = onRoundsRoute(labels(clusters, driver = false))
    assert(dSchema == sSchema)
    assert(dRows == sRows)
    dRows.map(r => r.get(0) -> r.get(1)).toMap
  }

  test("sf0.001 documents: same clusters and same dedup on both routes") {
    val docs = graft.Tables.read(spark, sf(), "documents")
    val got = sameOnBothRoutes(Dedup.nearDupClusters(docs, "doc_id", "text"))
    assert(got.size > 1)
    def kept(): (StructType, Set[Row]) = {
      val out = Dedup.dropNearDuplicates(docs, "doc_id", "text")
      try (out.schema, out.select("doc_id").collect().toSet)
      finally GraftSql.unpersistCheckpointTree(out)
    }
    assert(kept() == onRoundsRoute(kept()))
  }

  test("isolated exact cliques and mixed components on both routes") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val alt = "completely different text about graph contraction semantics here yes"
    val df = Seq(
      (1L, base), (2L, base), (3L, base),
      (10L, alt), (11L, alt), (12L, alt + " extra"),
      (99L, "an unrelated singleton document with no duplicate partner at all")
    ).toDF("doc_id", "text")
    val got = sameOnBothRoutes(Dedup.nearDupClusters(df, "doc_id", "text"))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("string ids take min in UTF-8 byte order on both routes") {
    // U+FFFD sorts after the surrogate pair of U+1F600 in UTF-16
    // (String.compareTo) but before it in UTF-8 bytes, which is `min`'s
    // order; "b"/"b2" are exact duplicates, so contraction runs too
    val (rep, emoji) = ("\uFFFD", "\uD83D\uDE00")
    val df = Seq((rep, "alpha one"), (emoji, "alpha two"),
        ("b", "same text"), ("b2", "same text"), ("c", "gamma"))
      .toDF("doc_id", "text")
    val pairs = Seq((emoji, rep), ("b", "b2"), ("b2", "c"))
      .toDF("id_a", "id_b")
    val got = sameOnBothRoutes(
      Dedup.nearDupClustersFromPairs(pairs, df, "doc_id", "text"))
    assert(got == Map(rep -> rep, emoji -> rep,
      "b" -> "b", "b2" -> "b", "c" -> "b"))
  }

  test("a NULL id fails alike on both routes and leaves nothing persisted") {
    val df = Seq(("a", "x y z"), ("b", "x y z")).toDF("doc_id", "text")
    val pairs = Seq((Option("a"), Option("b")), (Option("b"), None))
      .toDF("id_a", "id_b")
    def message(): String = {
      val before = persisted
      val e = intercept[IllegalArgumentException](
        Dedup.nearDupClustersFromPairs(pairs, df, "doc_id", "text"))
      assert(persisted == before)
      e.getMessage
    }
    val onDriverRoute = message()
    assert(onDriverRoute.contains("connectedComponents: NULL ids in (id_a, id_b)"))
    assert(onRoundsRoute(message()) == onDriverRoute)
  }

  test("plain connected components: same labels and schema on both " +
      "routes, for non-nullable and nullable ids") {
    val longs = sameOnBothRoutes(Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"),
      "id_a", "id_b"))
    assert(longs == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L))
    val strings = sameOnBothRoutes(Dedup.connectedComponents(
      Seq(("b", "a"), ("c", "b"), ("x", "y")).toDF("id_a", "id_b"),
      "id_a", "id_b"))
    assert(strings == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x",
      "y" -> "x"))
  }

  // the store's pair graphs and drop set are this suite's own
  private lazy val copyDir: String = tempCopy()

  /** Schema and rows (a multiset) of `build`'s frame, then released;
    * `driver` says whether the driver union-find (the one `collect` in
    * Dedup.scala) must have run while building it. */
  private def output(build: => DataFrame,
      driver: Boolean): (StructType, Seq[String]) = {
    var df: DataFrame = null
    val own = ownJobs { df = build }
    assert(own.exists(_.startsWith("collect at Dedup.scala")) == driver,
      own.mkString(", "))
    try (df.schema, df.collect().map(_.toSeq.mkString("|")).toSeq.sorted)
    finally GraftSql.unpersistCheckpointTree(df)
  }

  for (name <- Seq("mm_image_dedup", "mm_audio_dedup", "mm_video_dedup",
      "mm_mp4_dedup", "dedup_semdedup_graph"))
    test(s"$name gives the same rows and schema on both routes") {
      val dir = copyDir
      def run = graft.SparkEntry.queries(name)(spark, dir)
      val (schema, rows) = output(run, driver = true)
      assert(rows.nonEmpty)
      assert(onRoundsRoute(output(run, driver = false)) == ((schema, rows)))
    }

  test("the curation drop set is the same on both routes") {
    val dir = copyDir
    // the drop set is a stored artifact: each route builds its own
    def build = {
      graft.Artifacts.evict(spark, Set("curationDrops"))
      graft.queries.LlmQueries.curationDrops(spark, dir)
    }
    val (schema, rows) = output(build, driver = true)
    assert(rows.nonEmpty)
    assert(onRoundsRoute(output(build, driver = false)) == ((schema, rows)))
    graft.Artifacts.evict(spark, Set("curationDrops"))
  }
}

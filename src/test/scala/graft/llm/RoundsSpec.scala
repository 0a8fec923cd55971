package graft.llm

import org.apache.spark.sql.{DataFrame, GraftSql, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Inputs shared by the [[Rounds]] specs. */
object RoundsFixtures {

  /** GraphSpec's bipartite lineitem graph (string ids). */
  def lineitemEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.read(spark, dir, "lineitem")
    li.select(concat(lit("p"), col("l_partkey")).as("s"),
        concat(lit("s"), col("l_suppkey")).as("d"))
      .union(li.select(concat(lit("s"), col("l_suppkey")).as("s"),
        concat(lit("p"), col("l_partkey")).as("d")))
  }

  /** NnDescentSpec's clustered corpus: `nClusters` well-separated ±1
    * centers (hash-signed per dim), `perCluster` members each with a
    * small deterministic jitter. No zero vectors (ANSI divide). */
  def clustered(spark: SparkSession, nClusters: Int, perCluster: Int,
      dim: Int = 64): DataFrame = {
    import spark.implicits._
    def h(parts: Long*): Long = {
      var z = 0x9e3779b97f4a7c15L
      parts.foreach { p =>
        z ^= p + 0x9e3779b97f4a7c15L + (z << 6) + (z >>> 2)
        z *= 0xbf58476d1ce4e5b9L; z ^= z >>> 27
      }
      z & Long.MaxValue
    }
    (0 until nClusters).flatMap { c =>
      val center = Array.tabulate(dim)(d =>
        if ((h(c.toLong, d.toLong) & 1L) == 1L) 1.0f else -1.0f)
      (0 until perCluster).map { m =>
        val id = (c * perCluster + m).toLong
        (id, center.zipWithIndex.map { case (x, d) =>
          x + 0.05f * ((h(id, d.toLong, 7L) % 100L) / 100.0f)
        })
      }
    }.toDF("vec_id", "embedding")
  }
}

/** Cost shape and storage hygiene of the iterative operators that run on
  * [[Rounds]]: jobs per round (HITS, BFS, connected components and
  * PageRank; NN-descent's count is checked beside its oracle in
  * [[RoundsOracleSpec]]) and the persisted RDDs left behind on success
  * and on failure. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._
  import RoundsFixtures._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `f` and returns its result with the number of jobs it ran. */
  private def counted[T](f: => T): (T, Int) = {
    var out: Option[T] = None
    val n = jobsDuring { out = Some(f) }
    (out.get, n)
  }

  private def release(df: DataFrame): Unit =
    GraftSql.unpersistCheckpointTree(df)

  test("HITS launches at most 4 jobs per iteration") {
    val e = lineitemEdges(spark, sf("sf0.001"))
    def jobs(iters: Int): Int = {
      val (out, n) = counted(Graph.hits(e, "s", "d", iters))
      release(out)
      n
    }
    val (one, three) = (jobs(1), jobs(3))
    assert((three - one) % 2 == 0 && (three - one) / 2 <= 4,
      s"iters 1: $one jobs, iters 3: $three jobs")
  }

  test("BFS stops after the first hop that reaches nothing new") {
    val e = lineitemEdges(spark, sf("sf0.001"))
    val seeds = Seq("p1", "p2").toDF("n")
    def run(hops: Int): (Long, Int) = {
      val (out, n) = counted(Graph.bfsDepth(e, "s", "d", seeds, "n", hops))
      val d = out.agg(max("depth")).head().getLong(0)
      release(out)
      (d, n)
    }
    val (d, at12) = run(12)
    assert(d + 1 < 12, s"the graph must be shallower than 12 hops, got $d")
    assert(run(d.toInt + 1) == (d, at12))
  }

  test("connected components: one job per materialization, none to " +
      "test convergence or NULL ids") {
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // the pair view, the initial labels and one per round
    for (k <- Seq(1, 2)) {
      val own = onRoundsRoute(ownJobs(intercept[IllegalArgumentException](
        Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = k))))
      assert(own.size == 2 + k && own.forall(_.startsWith("sizedView at")),
        s"maxIter $k: ${own.mkString(", ")}")
    }
    val bad = Seq((Option(1L), Option.empty[Long])).toDF("id_a", "id_b")
    val own = onRoundsRoute(ownJobs(intercept[IllegalArgumentException](
      Dedup.connectedComponents(bad, "id_a", "id_b"))))
    assert(own.size == 1 && own.head.startsWith("sizedView at"),
      own.mkString(", "))
  }

  test("connected components on the driver route: the pair view and its " +
      "collect, whatever maxIter; NULL ids fail after the first") {
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (k <- Seq(1, 2)) {
      var out: DataFrame = null
      val own = ownJobs {
        out = Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = k)
      }
      assert(own.map(_.takeWhile(_ != ' ')) == Seq("sizedView", "collect"),
        s"maxIter $k: ${own.mkString(", ")}")
      assert(out.select("cluster_id").distinct().collect().toSeq ==
        Seq(org.apache.spark.sql.Row(0L)))
    }
    val bad = Seq((Option(1L), Option.empty[Long])).toDF("id_a", "id_b")
    var message = ""
    val own = ownJobs { message = intercept[IllegalArgumentException](
      Dedup.connectedComponents(bad, "id_a", "id_b")).getMessage }
    assert(own.size == 1 && own.head.startsWith("sizedView at"),
      own.mkString(", "))
    assert(message == onRoundsRoute(intercept[IllegalArgumentException](
      Dedup.connectedComponents(bad, "id_a", "id_b")).getMessage))
  }

  test("pageRank keeps its 4-job setup and 3 jobs per round") {
    val e = lineitemEdges(spark, sf("sf0.001"))
    def jobs(iters: Int): Int = {
      val (out, n) = counted(Graph.pageRank(e, "s", "d", iters))
      release(out)
      n
    }
    assert((jobs(1), jobs(3)) == ((7, 13)))
  }

  test("each operator leaves only its result persisted") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("e", "e"))
      .toDF("s", "d")
    val emb = clustered(spark, 4, 5)
    val before = persisted
    for (op <- Seq(
        () => Graph.pageRank(e, "s", "d", iters = 2),
        () => Graph.trustRank(e, "s", "d", Seq("a").toDF("n"), "n", 2),
        () => Graph.hits(e, "s", "d", iters = 2),
        () => Graph.bfsDepth(e, "s", "d", Seq("a").toDF("n"), "n"),
        () => onRoundsRoute(Dedup.connectedComponents(e, "s", "d")),
        () => Similarity.nnDescentGraph(emb, "vec_id", "embedding", 3, 2))) {
      val out = op()
      assert((persisted -- before).size == 1, out.columns.mkString(","))
      release(out)
      assert(persisted == before, out.columns.mkString(","))
    }
  }

  test("connected components on the driver route leave nothing persisted") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("e", "e"))
      .toDF("s", "d")
    val before = persisted
    val out = Dedup.connectedComponents(e, "s", "d")
    assert(persisted == before)
    assert(out.count() == 5)
  }

  test("failing connected components and HITS leave nothing persisted") {
    val before = persisted
    val bad = Seq((Option("a"), Option.empty[String])).toDF("id_a", "id_b")
    def nullFails(): Unit = intercept[IllegalArgumentException](
      Dedup.connectedComponents(bad, "id_a", "id_b"))
    nullFails()
    assert(persisted == before, "NULL id, driver route")
    onRoundsRoute(nullFails())
    assert(persisted == before, "NULL id, rounds route")
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    onRoundsRoute(intercept[IllegalArgumentException](
      Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 2)))
    assert(persisted == before, "no convergence")
    intercept[IllegalArgumentException](
      Graph.hits(Seq((1L, 2L), (2L, 3L)).toDF("s", "d"), "s", "d",
        scale = 5L))
    assert(persisted == before, "scale below twice the node count")
  }

  test("dropNearDuplicates pins only the shingle pair relations") {
    val docs = graft.Tables.read(spark, sf("sf0.001"), "documents")
    val before = persisted
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text")
    release(kept)
    // jaccardShinglePairs' two materializations are released by the call
    // that made them, once the clusters are materialized
    val left = persisted -- before
    left.foreach(spark.sparkContext.getPersistentRDDs(_).unpersist())
    assert(left.isEmpty)
  }

  test("near-dup clusters: 4 own jobs on the driver route, 9 when " +
      "distributed; dropping near-duplicates adds 1") {
    val docs = graft.Tables.read(spark, sf("sf0.001"), "documents")
    // the kind of each own job ("sizedView at Dedup.scala:580" → sizedView)
    def kinds(f: => DataFrame): Seq[String] = {
      var out: DataFrame = null
      val own = ownJobs { out = f }
      release(out)
      own.map(_.takeWhile(_ != ' ')).sorted
    }
    def clusters = Dedup.nearDupClusters(docs, "doc_id", "text")
    def drop = Dedup.dropNearDuplicates(docs, "doc_id", "text")
    // the shingle sets and prefix index, the sized pair view, its collect
    assert(kinds(clusters) ==
      Seq("collect", "sizedView", "sizedView", "sizedView"))
    // ... and the sized loser set
    assert(kinds(drop) == (kinds(clusters) :+ "sizedView").sorted)
    // a bound of -1 forces the distributed route: the same two
    // materializations and pair view, the node representatives, the edges,
    // initial labels and 2 rounds of connectedComponents, and the fan-out
    val (dc, dd) = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
      (kinds(clusters), kinds(drop)))
    assert(dc.size == 9, dc.mkString(", "))
    assert(dd.size == 10, dd.mkString(", "))
  }
}

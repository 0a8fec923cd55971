package graft.llm

import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.SparkSpec

/** HITS, BFS depth, connected components (on [[Rounds]] and on the
  * driver route) and the NN-descent graph on [[Rounds]] against their
  * own-loop oracles in [[HandRolledLoops]]:
  * bit-identical rows (as multisets) on seeded random graphs with Long,
  * Int and String ids — self-loops, repeated edges, dangling and
  * isolated nodes, NULL endpoints — inputs split by `repartition(17)`,
  * chains and random forests, and NnDescentSpec's clustered corpus. */
class RoundsOracleSpec extends SparkSpec {
  import spark.implicits._

  private val Nodes = 60

  /** Random edges over ids `0 until Nodes`: the top fifth of the ids is
    * never a source (dangling), a tenth of the edges repeat, five nodes
    * carry a self-loop, and ids Nodes..Nodes+2 have only a self-loop
    * (isolated). */
  private def randomEdges(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val es = Seq.fill(120)(
      (rnd.nextInt(Nodes * 4 / 5).toLong, rnd.nextInt(Nodes).toLong))
    es ++ es.take(12) ++ (0L until 5L).map(i => (i * 3, i * 3)) ++
      (Nodes.toLong until Nodes + 3L).map(i => (i, i))
  }

  /** Edges and node ids re-encoded as `kind`: "long" (plus edges with a
    * NULL endpoint), "int" or "string". */
  private def typed(kind: String, es: Seq[(Long, Long)],
      ids: Seq[Long]): (DataFrame, DataFrame) = kind match {
    case "long" =>
      val nulls = Seq((Some(1L), None), (None, Some(2L)), (Some(3L), None),
        (None, None))
      ((es.map { case (a, b) => (Option(a), Option(b)) } ++ nulls)
        .toDF("s", "d"), ids.toDF("n"))
    case "int" =>
      (es.map { case (a, b) => (a.toInt, b.toInt) }.toDF("s", "d"),
        ids.map(_.toInt).toDF("n"))
    case "string" =>
      (es.map { case (a, b) => (s"n$a", s"n$b") }.toDF("s", "d"),
        ids.map(i => s"n$i").toDF("n"))
  }

  /** The frame's rows as a sorted multiset; its persisted RDDs released. */
  private def rows(df: DataFrame): Seq[String] = {
    val out = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    GraftSql.unpersistCheckpointTree(df)
    out
  }

  // seeds: a subset, a dangling node, an isolated one and an id outside
  // the graph
  private val seedIds = Seq(0L, 3L, Nodes - 1L, Nodes + 1L, Nodes + 9L)

  for ((kind, seed, iters, hops) <- Seq(("long", 21L, 3, 12),
      ("int", 22L, 1, 4), ("string", 23L, 1, 1)))
    test(s"HITS (iters $iters) and BFS (maxHops $hops) equal their " +
        s"own-loop oracles on $kind ids") {
      val (e, seeds) = typed(kind, randomEdges(seed), seedIds)
      val hits = rows(Graph.hits(e.repartition(17), "s", "d", iters))
      assert(hits.nonEmpty)
      assert(hits == rows(HandRolledLoops.hits(e, "s", "d", iters)))
      val bfs = rows(Graph.bfsDepth(e.repartition(17), "s", "d",
        seeds.repartition(17), "n", hops))
      assert(bfs.size > seedIds.size)
      assert(bfs == rows(HandRolledLoops.bfsDepth(e, "s", "d", seeds, "n",
        hops)))
    }

  test("connected components equal the own-loop oracle on a chain, a " +
      "random forest and a random graph") {
    val rnd = new scala.util.Random(25L)
    // a forest: every node but the roots links to a random earlier node
    val forest = (1L until 60L).filter(_ % 17 != 0)
      .map(i => (i, rnd.nextInt(i.toInt).toLong))
    for ((kind, es) <- Seq(
        "long" -> (0L until 40L).map(i => (i + 1, i)),
        "string" -> forest,
        "int" -> randomEdges(26))) {
      val (e, _) = typed(kind, es, Nil)
      val pairs = e.na.drop() // connectedComponents rejects NULL ids
      val want = rows(HandRolledLoops.connectedComponents(pairs, "s", "d"))
      // only the driver route answers with a local relation
      def got(driver: Boolean): Seq[String] = {
        val cc = Dedup.connectedComponents(pairs.repartition(17), "s", "d")
        assert(cc.queryExecution.analyzed.isInstanceOf[LocalRelation] ==
          driver, s"$kind ids")
        rows(cc)
      }
      assert(got(driver = true) == want, s"$kind ids, driver route")
      assert(onRoundsRoute(got(driver = false)) == want,
        s"$kind ids, rounds route")
    }
  }

  test("NN-descent equals its own-loop oracle at rounds 0, 1 and 2, " +
      "in no more jobs") {
    val emb = RoundsFixtures.clustered(spark, 8, 8)
    for (rounds <- Seq(0, 1, 2)) {
      val input = if (rounds == 1) emb.repartition(17) else emb
      var (got, want) = (Seq.empty[String], Seq.empty[String])
      val jobs = jobsDuring { got = rows(Similarity.nnDescentGraph(input,
        "vec_id", "embedding", 4, rounds)) }
      val was = jobsDuring { want = rows(HandRolledLoops.nnDescentGraph(emb,
        "vec_id", "embedding", 4, rounds)) }
      assert(got.nonEmpty && got == want, s"rounds $rounds")
      if (rounds == 2)
        assert(jobs <= was, s"$jobs jobs, the own loop took $was")
    }
  }
}

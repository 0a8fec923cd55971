package graft.llm

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The shared rank loop behind [[Graph.pageRank]] and [[Graph.trustRank]]
  * against the two-loop oracle [[JoinBackRank]]: bit-identical
  * `(node, rank)` on seeded random multigraphs (self-loops, repeated
  * edges, dangling nodes) with Long, Int and String ids, `iters` 1, 3
  * and 5, seed sets that are a subset of the nodes or all of them, and
  * inputs split by `repartition(17)`. */
class RankOracleSpec extends SparkSpec {
  import spark.implicits._

  private val Nodes = 60

  /** Random edges over ids `0 until Nodes`: the top fifth of the ids is
    * never a source (dangling), a tenth of the edges repeat, and five
    * nodes carry a self-loop. */
  private def randomEdges(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val es = Seq.fill(200)(
      (rnd.nextInt(Nodes * 4 / 5).toLong, rnd.nextInt(Nodes).toLong))
    es ++ es.take(20) ++ (0L until 5L).map(i => (i * 3, i * 3))
  }

  /** Edges and node ids re-encoded as `kind` ("long", "int", "string"). */
  private def typed(kind: String, es: Seq[(Long, Long)],
      ids: Seq[Long]): (DataFrame, DataFrame) = kind match {
    case "long" => (es.toDF("s", "d"), ids.toDF("n"))
    case "int" =>
      (es.map { case (a, b) => (a.toInt, b.toInt) }.toDF("s", "d"),
        ids.map(_.toInt).toDF("n"))
    case "string" =>
      (es.map { case (a, b) => (s"n$a", s"n$b") }.toDF("s", "d"),
        ids.map(i => s"n$i").toDF("n"))
  }

  private def ranks(df: DataFrame): Map[Any, Long] = {
    val m = df.collect().map(r => r.get(0) -> r.getLong(1)).toMap
    org.apache.spark.sql.GraftSql.unpersistCheckpointTree(df)
    m
  }

  for ((kind, graphSeed) <- Seq("long" -> 11L, "int" -> 12L, "string" -> 13L))
    test(s"pageRank and trustRank equal the two-loop oracle on $kind ids") {
      // a seed subset (with one id outside the graph) and every id
      val subset = (0L until Nodes by 7) :+ (Nodes + 3L)
      val (e, some) = typed(kind, randomEdges(graphSeed), subset)
      val (_, all) = typed(kind, Nil, 0L until Nodes)
      for (iters <- Seq(1, 3, 5)) {
        val pr = ranks(Graph.pageRank(e.repartition(17), "s", "d", iters))
        assert(pr == ranks(JoinBackRank.pageRank(e, "s", "d", iters)),
          s"pageRank, iters $iters")
        assert(pr.size > Nodes * 4 / 5 && pr.values.exists(_ > 0L))
        assert(ranks(Graph.trustRank(e.repartition(17), "s", "d", some, "n",
            iters)) ==
          ranks(JoinBackRank.trustRank(e, "s", "d", some, "n", iters)),
          s"trustRank over a seed subset, iters $iters")
        // the oracle's trustRank over every node is its pageRank
        assert(ranks(Graph.trustRank(e, "s", "d", all.repartition(17), "n",
            iters)) == pr, s"trustRank over every node, iters $iters")
      }
    }
}

package graft.llm

import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec

/** Cost shape and storage hygiene of the rank loop: jobs per round, the
  * physical plan of every round, and persisted RDDs released on both the
  * normal and the failing paths. */
class RankLoopSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** GraphSpec's bipartite lineitem graph (string ids). */
  private def lineitemEdges: DataFrame = {
    val li = graft.Tables.read(spark, sf("sf0.001"), "lineitem")
    li.select(concat(lit("p"), col("l_partkey")).as("s"),
        concat(lit("s"), col("l_suppkey")).as("d"))
      .union(li.select(concat(lit("s"), col("l_suppkey")).as("s"),
        concat(lit("p"), col("l_partkey")).as("d")))
  }

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("sizedView's exact stats and fold come from its one job") {
    val df = spark.range(0L, 1000L, 1L, 3).toDF("v")
    var got: (DataFrame, Long) = null
    assert(jobsDuring { got = GraftSql.sizedView(df, _.getLong(0)) } == 1)
    val (view, folded) = got
    assert(folded == 999L * 1000L / 2)
    val stats = view.queryExecution.optimizedPlan.stats
    // one-long UnsafeRow: 8-byte null bitset + 8-byte field
    assert(stats.rowCount.contains(BigInt(1000)) &&
      stats.sizeInBytes == BigInt(16 * 1000))
    GraftSql.unpersistCheckpoint(view)
  }

  test("pageRank launches at most 3 jobs per round over a fixed setup") {
    val e = lineitemEdges
    def jobs(iters: Int): Int = {
      var out: DataFrame = null
      val n = jobsDuring { out = Graph.pageRank(e, "s", "d", iters) }
      GraftSql.unpersistCheckpointTree(out)
      n
    }
    val (one, three) = (jobs(1), jobs(3))
    val perRound = (three - one) / 2
    assert((three - one) % 2 == 0 && perRound <= 3,
      s"iters 1: $one jobs, iters 3: $three jobs")
    // setup + one round; setup is the edge and node materializations
    assert(one - perRound <= 4, s"setup took ${one - perRound} jobs")
  }

  test("every round is one shuffle with no nested-loop or cartesian join") {
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val out = Graph.personalizedRank(lineitemEdges, "s", "d", None, 3, 85,
      100, 1000000000L, observe = rounds += _)
    GraftSql.unpersistCheckpointTree(out)
    assert(rounds.size == 3)
    for (r <- rounds) {
      val plan = r.queryExecution.executedPlan
      assert(collect(plan) {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }.isEmpty, plan.toString)
      assert(collect(plan) { case x: ShuffleExchangeExec => x }.size == 1,
        plan.toString)
    }
  }

  test("a finished pageRank and trustRank own only their result's RDD") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")).toDF("s", "d")
    val before = persisted
    val pr = Graph.pageRank(e, "s", "d")
    assert((persisted -- before).size == 1)
    GraftSql.unpersistCheckpointTree(pr)
    assert(persisted == before)
    val tr = Graph.trustRank(e, "s", "d", Seq("a").toDF("n"), "n")
    assert((persisted -- before).size == 1)
    GraftSql.unpersistCheckpointTree(tr)
    assert(persisted == before)
  }

  test("failing pageRank and trustRank leave nothing persisted") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("s", LongType), StructField("d", LongType))))
    val before = persisted
    intercept[IllegalArgumentException](Graph.pageRank(empty, "s", "d"))
    assert(persisted == before)
    val e = Seq(("A", "B")).toDF("s", "d")
    intercept[IllegalArgumentException](
      Graph.trustRank(e, "s", "d", Seq("Z").toDF("n"), "n"))
    assert(persisted == before)
  }
}

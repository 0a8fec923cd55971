package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Evidence for the `Similarity` scale claim that the IVF cell join
  * "pairs with AQE skew handling at scale" (flagged unevidenced by
  * VERDICT r6 #4): plant a HOT CELL — the shape a clustered real-world
  * corpus produces — and prove (a) AQE actually splits the skewed
  * partition of the cell self-join (isSkewJoin on the executed
  * SortMergeJoin), and (b) results are identical with and without the
  * split. */
class IvfSkewSpec extends SparkSpec {

  /** Synthetic prebuilt IVF index (the `assignCells` output shape
    * `(id, v, nrm, cell)`) with 80% of vectors piled into cell 0 —
    * deterministic, no training involved. */
  private def hotCellIndex(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map { i =>
      val v = Seq(1.0, (i % 97) / 970.0, ((i * 31) % 89) / 890.0, 0.25)
      val nrm = math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))
      val cell = if (i % 5 != 0) 0 else 1 + (i % 13)
      (i.toLong, v, nrm, cell)
    }.toDF("id", "v", "nrm", "cell").repartition(8)
  }

  private def collectSmj(p: SparkPlan): Seq[SortMergeJoinExec] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => collectSmj(a.executedPlan)
      case q: QueryStageExec        => collectSmj(q.plan)
      case s: SortMergeJoinExec     => s +: s.children.flatMap(collectSmj)
      case other                    => other.children.flatMap(collectSmj)
    }
    here
  }

  test("AQE splits the hot-cell partition of the IVF pair join, " +
      "results unchanged") {
    val idx = hotCellIndex(4000)
    idx.cache(); idx.count()
    try {
      val dummy = idx.select(col("id").as("vec_id"), col("v").as("embedding"))
      def pairs(): DataFrame = Similarity.cosinePairsIvf(
        dummy, "vec_id", "embedding", tau = 0.9999, assigned = Some(idx))
      // force the shuffle join path (the test index would broadcast) and
      // thresholds small enough that the ~80% cell trips skew detection
      val common = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        // thresholds are COMPRESSED shuffle sizes — the synthetic rows
        // compress hard, so test thresholds sit far below the 256MB-ish
        // production defaults
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
        // keep AQE from demoting the shuffle join back to broadcast
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        // the split changes the join's output partitioning; without the
        // force flag AQE's cost check vetoes the rewrite whenever a
        // downstream exchange might be added — at a real hot cell the
        // extra exchange is exactly the price worth paying
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
      val (nSplit, skewFlags) = withConf(common: _*) {
        val df = pairs()
        // execute THIS QueryExecution (df.count() would build a separate
        // one, leaving this AdaptiveSparkPlan unexecuted and unreplanned)
        val n = df.queryExecution.toRdd.count()
        (n, collectSmj(df.queryExecution.executedPlan).map(_.isSkewJoin))
      }
      val nPlain = withConf(
        (common :+ ("spark.sql.adaptive.skewJoin.enabled" -> "false")): _*) {
        pairs().queryExecution.toRdd.count()
      }
      assert(skewFlags.nonEmpty, "expected a SortMergeJoin in the cell join")
      assert(skewFlags.contains(true),
        s"AQE did not mark the hot-cell join skewed (flags: $skewFlags)")
      assert(nSplit == nPlain,
        s"skew split changed results: $nSplit vs $nPlain")
      assert(nSplit > 0, "tau chosen to keep some pairs — got none")
    } finally idx.unpersist()
  }
}

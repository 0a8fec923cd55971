package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{ColumnarToRowExec, CoalesceExec, FilterExec, GlobalLimitExec, InputAdapter, LocalLimitExec, ProjectExec, RowToColumnarExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.plans.AsOfJoinExec

/** Plan-quality gate over EVERY declared query (VERDICT r3 #5): the
  * scale-killers that correctness tests can't see — O(n·m) join
  * strategies and single-partition windows — fail HERE, locally, instead
  * of surfacing as a 100×-scale-up regression later.
  *
  * Checked on the physical plan of each `SparkEntry.queries` entry at
  * sf0.001:
  *  - no `CartesianProductExec` anywhere;
  *  - no `BroadcastNestedLoopJoinExec` outside the licensed queries
  *    below;
  *  - no partition-less `WindowExec` (every range-surviving row through
  *    ONE partition — the round-2 scale-killer class);
  *  - no single-partition `AsOfJoinExec` (a keyless view with TTL 0 — the
  *    same class; no declared query has one, and the licensed case is
  *    pinned by "a keyless TTL-0 view is the one single-partition as-of
  *    merge" below).
  */
class PlanAuditSpec extends SparkSpec {

  /** All nodes including subqueries and (pre-execution) AQE subtrees. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case n => Seq(n)
    }

  /** All nodes of an executed adaptive plan, query stages opened. */
  private def deep(p: SparkPlan): Seq[SparkPlan] = nodes(p).flatMap {
    case q: QueryStageExec => q +: deep(q.plan)
    case n => Seq(n)
  }

  /** Queries licensed to broadcast-nested-loop:
    *  - brute-force kNN, which is BY DEFINITION all-pairs scoring against
    *    a small broadcast query side — it exists as the exact baseline;
    *    the scale paths are knn_lsh_bucketed / knn_ivf (equi-joins,
    *    audited here with no exemption);
    *  - the recall evaluation, whose ground-truth side IS that brute
    *    baseline (recall is measured against exact top-k over a SAMPLED
    *    query set — Similarity.knnRecall's documented contract); the
    *    approximate side under evaluation stays equi-join-audited;
    *  - the SQ8 FLAT index, which is the brute scan over one-byte codes
    *    (the memory-compression contrast: same all-pairs-by-definition
    *    shape, 4× smaller scanned index);
    *  - the flat-PQ index, the same deliberate flat scan over m-byte
    *    codes (ADC: m lookups per candidate). The pruned siblings remain
    *    the equi-join-audited LSH/IVF paths — including knn_ivfpq, whose
    *    cell equi-join is audited here with no exemption;
    *  - project+rerank's stage 1, the same flat-scan-over-compressed
    *    family (JL-projected 16-of-64 dims against the broadcast query
    *    side — linear in corpus, 4× fewer bytes per comparison); its
    *    stage 2 re-rank joins back by id and stays equi-join-audited;
    *  - RRF fusion, whose DENSE leg is exactly the licensed
    *    knn_cosine_brute shape (all-pairs against the broadcast sampled
    *    query side — swap in an LSH/IVF retriever and the exemption is
    *    unneeded); the fusion full-outer join itself is an audited
    *    equi-join on (qid, nid). rag_fusion_rrf_ivf IS that swap — the
    *    IVF-dense + pruned-sparse twin runs here with NO exemption;
    *  - the MMR re-rank, whose candidate GENERATION is the same brute
    *    baseline (retriever-agnostic stages — Similarity.mmrRerank doc);
    *    its pair-matrix join is an audited qid equi-join and the greedy
    *    selection runs on k-bounded collected arrays. */
  private val nlJoinAllowed =
    Set("knn_cosine_brute", "knn_recall_lsh",
      "knn_rptree_recall", // its EXACT side is the licensed brute
      // baseline (recall is measured against it by definition); the
      // forest side under audit is leaf equi-joins only —
      // knn_rptree_forest itself carries NO exemption
      "knn_imi_recall", // same shape: brute exact side only; knn_imi
      // itself (product-cell equi-join) carries NO exemption
      "knn_graph_recall", // same shape again: the EXACT side is the
      // licensed brute baseline over the %100 sample; the NN-descent
      // graph under audit is LSH-bucket + neighbor-of-neighbor
      // equi-joins only — knn_graph itself carries NO exemption
      "knn_sq8", "knn_pq", "knn_project_rerank", "rag_fusion_rrf",
      "rag_mmr_rerank")

  /** True iff `p` provably produces at most one row: a grouping-less
    * global aggregate, or any row-count-preserving/reducing chain above
    * one. A nested-loop join whose BUILD side is such a plan is a
    * "broadcast one scalar row to every partition" pattern (sketch
    * stats rows, BM25 corpus stats) — constant cost per probe row, the
    * opposite of a scale-killer — so it is licensed STRUCTURALLY
    * instead of by name. */
  /** Unary nodes that can never INCREASE row count. An explicit whitelist,
    * not a blanket UnaryExecNode case (ADVICE r5): GenerateExec (explode)
    * and ExpandExec multiply rows, and blanket-passing them would let an
    * expanding build side slip through the structural BNLJ license. */
  private def rowPreserving(u: UnaryExecNode): Boolean = u match {
    case _: ProjectExec | _: FilterExec | _: SortExec | _: CoalesceExec |
         _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec |
         _: RowToColumnarExec | _: ShuffleExchangeExec |
         _: BroadcastExchangeExec | _: LocalLimitExec |
         _: GlobalLimitExec => true
    case _ => false
  }

  private def maxOneRow(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec =>
      // partial grouping-less aggregates emit one row PER PARTITION —
      // only the Final/Complete stage is provably single-row (ADVICE r5)
      a.groupingExpressions.isEmpty &&
        a.aggregateExpressions.forall(e =>
          e.mode == Final || e.mode == Complete)
    case q: QueryStageExec => maxOneRow(q.plan)
    case r: ReusedExchangeExec => maxOneRow(r.child)
    case a: AdaptiveSparkPlanExec => maxOneRow(a.executedPlan)
    case j: BroadcastNestedLoopJoinExec => // 1-row × 1-row stats chains
      maxOneRow(j.left) && maxOneRow(j.right)
    case u: UnaryExecNode if rowPreserving(u) => maxOneRow(u.child)
    case _ => false
  }

  private def buildSideOf(j: BroadcastNestedLoopJoinExec): SparkPlan =
    j.buildSide match { case BuildLeft => j.left; case BuildRight => j.right }

  /** A partition-less window whose input is already limit-bounded (a
    * global top-k sits below it) runs on ≤k rows by construction — the
    * display-rank-after-limit pattern, not the round-2 scale-killer.
    * The limit must sit on the DIRECT input chain, reached only through
    * row-preserving nodes (ADVICE r5): a limit buried elsewhere in the
    * subtree — e.g. on one side of a join below the window — bounds
    * nothing about the window's input cardinality. */
  private def limitBounded(p: SparkPlan): Boolean = p match {
    case _: TakeOrderedAndProjectExec | _: GlobalLimitExec => true
    case q: QueryStageExec => limitBounded(q.plan)
    case r: ReusedExchangeExec => limitBounded(r.child)
    case a: AdaptiveSparkPlanExec => limitBounded(a.executedPlan)
    case u: UnaryExecNode if rowPreserving(u) => limitBounded(u.child)
    case _ => false
  }

  test("no cartesian / stray nested-loop joins / partition-less windows") {
    val dir = sf("sf0.001")
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan
        val all = nodes(plan)
        val cart = all.collect { case c: CartesianProductExec => c }
          .map(_ => s"$name: CartesianProductExec")
        val bnlj =
          if (nlJoinAllowed(name)) Nil
          else all.collect {
            case j: BroadcastNestedLoopJoinExec if !maxOneRow(buildSideOf(j)) => j
          }.map(j => s"$name: BroadcastNestedLoopJoinExec(${j.joinType})")
        val winNoPart = all.collect {
          case w: WindowExec
            if w.partitionSpec.isEmpty && !limitBounded(w.child) => w
        }.map(_ => s"$name: partition-less WindowExec")
        val asOfOnePart = all.collect {
          case j: AsOfJoinExec if j.leftKeys.isEmpty => j
        }.map(_ => s"$name: single-partition AsOfJoinExec")
        cart ++ bnlj ++ winNoPart ++ asOfOnePart
    }
    assert(violations.isEmpty,
      s"plan-quality violations:\n  ${violations.mkString("\n  ")}")
  }

  test("no broadcast hint on dup-mass-proportional anti-join sides") {
    // VERDICT r16 #2: the drop-losers / drop-set / contamination /
    // near-id relations are the DUPLICATE MASS — corpus-proportional at
    // web-crawl dup density — and Spark always honors a broadcast hint
    // on an equi-anti-join, so a forced hint there is a driver OOM at
    // scale. The library convention names those columns `__graft_*`;
    // this audit machine-asserts that NO LeftAnti join against such a
    // relation carries a static BROADCAST hint in any declared query
    // (AQE may still broadcast at runtime when the side actually fits —
    // that is the correct, size-aware decision). Measured-bounded
    // broadcast anti-joins (e.g. the hot-item df gate, whose hint is
    // CONDITIONAL on the exact driver-side count staying under
    // Dedup.HotBroadcastCap — see sharedItemPairs) use other column
    // names and stay licensed; their bound is a measured row count, not
    // a structural guarantee.
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    val dir = sf("sf0.001")
    val dropCols = Set("__graft_loser", "__graft_drop", "__graft_contam",
      "__graft_near")
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val lp = fn(spark, dir).queryExecution.optimizedPlan
        lp.collectWithSubqueries {
          case j: Join if j.joinType == LeftAnti &&
              ((j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) &&
                j.right.output.exists(a => dropCols(a.name))) ||
               (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) &&
                j.left.output.exists(a => dropCols(a.name)))) =>
            s"$name: BROADCAST-hinted LeftAnti against a drop relation"
        }
    }
    assert(violations.isEmpty,
      s"forced-broadcast anti-join violations:\n  " +
        violations.mkString("\n  "))
  }

  test("Engine PIT runs one AsOfJoinExec per view and no window") {
    import java.sql.Timestamp
    import spark.implicits._
    import graft.model.FeatureView
    import graft.sources.FeatureSource
    // the benchmark's three-view shape: keyed with created_ts and a TTL,
    // keyed with TTL 0, keyless with a TTL
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    Seq((1L, t, t, 1.0)).toDF("user_id", "event_ts", "created_ts", "clicks")
      .createOrReplaceTempView("audit_stats")
    Seq((1L, t, 30)).toDF("user_id", "event_ts", "age")
      .createOrReplaceTempView("audit_profile")
    Seq((t, 0.5)).toDF("event_ts", "load")
      .createOrReplaceTempView("audit_global")
    def src(tbl: String, created: Option[String] = None) = FeatureSource(
      table = Some(tbl), eventTimestampColumn = "event_ts",
      createdTimestampColumn = created)
    val views = Seq(
      FeatureView("stats", Seq("user_id"),
        src("audit_stats", Some("created_ts")), Seq("clicks"), 2 * 86400),
      FeatureView("profile", Seq("user_id"), src("audit_profile"),
        Seq("age"), 0),
      FeatureView("global", Nil, src("audit_global"), Seq("load"), 3600))
    val spine = Seq((1L, Timestamp.valueOf("2024-01-01 11:00:00")))
      .toDF("user_id", "event_timestamp")
    val df = new Engine(spark)
      .getHistoricalFeatures(EntityFrame(spine), views).toDF
    df.queryExecution.toRdd.count()
    val all = deep(df.queryExecution.executedPlan)
    val asOf = all.collect { case j: AsOfJoinExec => j }
    assert(asOf.size == views.size,
      s"expected ${views.size} AsOfJoinExec, got ${asOf.size}:\n" +
        df.queryExecution.executedPlan)
    assert(!all.exists(_.isInstanceOf[WindowExec]),
      s"Engine PIT must not run a window:\n${df.queryExecution.executedPlan}")
  }

  test("latest-per-key pulls and the store merge run no window") {
    import java.sql.Timestamp
    import spark.implicits._
    import graft.sources.FeatureSource
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    val u = Timestamp.valueOf("2024-01-01 11:00:00")
    Seq((1L, t, t, 1.0, 1L), (1L, u, t, 2.0, 2L), (2L, t, u, 3.0, 3L))
      .toDF("user_id", "event_ts", "created_ts", "clicks", "seq")
      .createOrReplaceTempView("audit_latest")
    val src = FeatureSource(table = Some("audit_latest"),
      eventTimestampColumn = "event_ts",
      createdTimestampColumn = Some("created_ts"))
    def pull(keys: Seq[String]) = PullLatest.pullLatest(spark, src, keys,
      Seq("clicks"), "event_ts", Some("created_ts"), t, u, Seq("seq"))
    val store = new OnlineStore(Seq("user_id"), "event_ts", Some("created_ts"))
    store.write(pull(Seq("user_id")))
    val batch = spark.table("audit_latest").drop("seq")
    for ((name, df, keyed) <- Seq(
        ("keyed pullLatest", pull(Seq("user_id")), true),
        ("keyless pullLatest", pull(Nil), false),
        ("OnlineStore.write merge", store.merge(batch), true))) {
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan
      val all = deep(plan)
      assert(!all.exists(_.isInstanceOf[WindowExec]),
        s"$name must not run a window:\n$plan")
      if (keyed) {
        val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
        assert(shuffles == 1,
          s"$name must shuffle once, got $shuffles:\n$plan")
      }
    }
  }

  /** Licensed trade-off: with no key and no TTL there is no bucket to
    * hash on, so the merge takes the whole entity df and every feature row
    * up to the latest entity ts in one partition — O(n log n), against the
    * O(entity ts × feature rows) nested loop it replaced. Keyed views and
    * keyless views with a TTL stay hash-partitioned. */
  test("a keyless TTL-0 view is the one single-partition as-of merge") {
    import java.sql.Timestamp
    import spark.implicits._
    import graft.model.FeatureView
    import graft.sources.FeatureSource
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    Seq((1L, t, 1.0)).toDF("user_id", "event_ts", "clicks")
      .createOrReplaceTempView("audit_keyed")
    Seq((t, 0.5)).toDF("event_ts", "load")
      .createOrReplaceTempView("audit_keyless")
    def src(tbl: String) =
      FeatureSource(table = Some(tbl), eventTimestampColumn = "event_ts")
    val spine = Seq((1L, Timestamp.valueOf("2024-01-01 11:00:00")))
      .toDF("user_id", "event_timestamp")
    def singlePartition(v: FeatureView): Boolean = {
      val plan = PointInTime.getHistoricalFeatures(spine, Seq(v))
        .queryExecution.executedPlan
      val asOf = nodes(plan).collect { case j: AsOfJoinExec => j }
      assert(asOf.size == 1, plan)
      asOf.head.leftKeys.isEmpty
    }
    assert(singlePartition(
      FeatureView("g0", Nil, src("audit_keyless"), Seq("load"), 0)))
    assert(!singlePartition(
      FeatureView("g1", Nil, src("audit_keyless"), Seq("load"), 3600)))
    assert(!singlePartition(
      FeatureView("k0", Seq("user_id"), src("audit_keyed"), Seq("clicks"), 0)))
  }
}

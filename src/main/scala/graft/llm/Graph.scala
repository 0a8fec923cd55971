package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph centrality as a data-quality signal — the web-graph PageRank
  * that large-scale corpus pipelines use to score source quality
  * (RefinedWeb/C4-style URL weighting), re-expressed Spark-first.
  *
  * The iteration is FIXED-POINT INTEGER arithmetic end to end (ranks are
  * longs scaled by `scale`; the damping factor is the rational
  * dampNum/dampDen; per-edge contributions use integer division): long
  * sums are order-free, so every iteration — and therefore the final
  * ranking — is bit-identical across partitionings AND engines, the same
  * trick the IVF k-means trainer uses. The oracle unrolls the identical
  * iterations in SQL.
  *
  * Scale posture: each round is ONE plan with ONE exchange — the rank
  * vector's src-keyed equi-join to the edge list (broadcast or shuffle,
  * chosen from the MEASURED sizes of both persisted relations), its
  * per-edge contributions unioned with the rank rows themselves and
  * summed in a single dst-keyed `groupBy` — the standard distributed
  * PageRank shape (edge-partitioned joins, no driver-side graph). The
  * job that materializes a round also folds the dangling-node mass,
  * which enters the next round as a literal. Every iterative operator
  * here (PageRank/TrustRank, HITS, BFS) runs on that one loop,
  * [[Rounds]].
  */
object Graph {

  /** `iters` rounds of damped PageRank over `edges(srcCol, dstCol)`
    * (multi-edges collapse to simple edges; every endpoint is a node; an
    * edge with a NULL endpoint is not an edge). Returns
    * `(node, rank_scaled)` for ALL nodes — rank_scaled is the
    * fixed-point long; callers rank by it directly (exact ordering, no
    * FP ties). Runs as [[trustRank]] with every node a seed: the initial
    * rank `scale/n`, the base term and the dangling share `d div n` are
    * the same integer expressions. */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000L): DataFrame =
    personalizedRank(edges, srcCol, dstCol, None, iters, dampNum, dampDen,
      scale).withColumnRenamed("r", "rank_scaled")

  /** The one rank loop behind [[pageRank]] (`seeds` = None: every node
    * is a seed) and [[trustRank]] (`seeds` = a relation with a `node`
    * column), run by [[Rounds]]. Returns `(node, r)`. `observe` sees
    * each round's plan after it ran (specs assert its shape).
    *
    * Setup is two materializations: the distinct non-NULL edges, and
    * ONE node aggregate over `(src, 1) ∪ (dst, 0) ∪ (seed, NULL)` summed
    * by node — out-degree (0 = dangling), seed flag, and a NULL sum for
    * seeds outside the graph, which drop. Its job also counts the seeds
    * and the dangling seeds (the initial dangling mass), packed into one
    * long. A round sums each rank row's own `(node, outdeg, is_seed, 0)`
    * with the per-edge contributions `r div outdeg` in one `groupBy`,
    * so no join back to the node relation and no per-round dangling
    * aggregate exist. */
  private[llm] def personalizedRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Option[DataFrame], iters: Int, dampNum: Long, dampDen: Long,
      scale: Long, observe: DataFrame => Unit = _ => ()): DataFrame = {
    require(iters >= 1 && dampNum >= 0 && dampNum <= dampDen,
      "need iters >= 1 and 0 <= dampNum <= dampDen")
    import org.apache.spark.sql.GraftSql.{sizedView, unpersistCheckpoint}
    val idType = edges.schema(srcCol).dataType
    require(idType == edges.schema(dstCol).dataType,
      s"node id columns must share a type; got $srcCol: $idType, " +
        s"$dstCol: ${edges.schema(dstCol).dataType}")
    // materialize the iteration-invariant edges ONCE, ids in their
    // NATIVE type (long-keyed graphs move 8-byte keys every round)
    val e = sizedView(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull).distinct())
    try {
      val everySeed = lit(if (seeds.isEmpty) 1L else 0L)
      val ends = e.select(col("src").as("node"), lit(1L).as("deg"),
          everySeed.as("seed"))
        .union(e.select(col("dst"), lit(0L), everySeed))
      val tagged = seeds.fold(ends)(s => ends.union(s.select(
        col("node").cast(idType), lit(null).cast("bigint"), lit(1L))))
      // low 32 bits: seeds; high 32 bits: dangling seeds (N < 2^32)
      val (nodes, packed) = sizedView(tagged.groupBy("node")
          .agg(sum("deg").as("outdeg"), max("seed").as("is_seed"))
          .filter(col("outdeg").isNotNull),
        r => r.getLong(2) * (if (r.getLong(1) == 0L) (1L << 32) + 1 else 1L))
      val nSeeds = packed & 0xffffffffL
      if (nSeeds == 0) unpersistCheckpoint(nodes)
      require(nSeeds > 0, seeds.fold("pageRank needs a non-empty edge list")(
        _ => "trustRank needs at least one seed present in the graph"))
      val init = scale / nSeeds // integer division — identical in the oracle
      val base = init * (dampDen - dampNum) / dampDen
      // the round's job also sums the mass on dangling nodes, the next
      // round's literal
      val (rank, _, _) = Rounds.run(
          nodes.select(col("node"), col("outdeg"), col("is_seed"),
            (col("is_seed") * init).as("r")),
          (packed >>> 32) * init, iters, observe = observe) {
        (rank, dangling, _) =>
          // per-edge contribution: INTEGER division (`div`, not `/` —
          // Spark's `/` on longs is double division, whose truncation
          // could diverge from the oracle's exact `//` near integer
          // boundaries)
          val contrib = rank.join(e, col("node") === col("src"))
            .select(col("dst").as("node"), lit(0L).as("outdeg"),
              lit(0L).as("is_seed"), expr("r div outdeg").as("c"))
          (rank.select(col("node"), col("outdeg"), col("is_seed"),
              lit(0L).as("c"))
            .union(contrib)
            .groupBy("node").agg(sum("outdeg").as("outdeg"),
              sum("is_seed").as("is_seed"), sum("c").as("in_sum"))
            .select(col("node"), col("outdeg"), col("is_seed"), expr(
              s"is_seed * $base + ($dampNum * (in_sum + is_seed * " +
                s"${dangling / nSeeds})) div $dampDen").as("r")),
            r => if (r.getLong(1) == 0L) r.getLong(3) else 0L)
      }
      rank.select(col("node"), col("r"))
    } finally unpersistCheckpoint(e)
  }

  /** The DuckDB twin of [[pageRank]] as a WITH-clause body: unrolled
    * iterations generated from the SAME parameters, over an `edges`
    * CTE the caller supplies (columns `src`, `dst`). Returns SQL whose
    * final SELECT yields `(node, rank_scaled)`. */
  def pageRankSql(
      edgesCte: String, iters: Int = 3, dampNum: Long = 85,
      dampDen: Long = 100, scale: Long = 1000000000L): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS node, sum($prev.r // o.outdeg)::BIGINT AS in_sum
         |       FROM $prev JOIN o ON $prev.node = o.src
         |       JOIN e ON $prev.node = e.src GROUP BY 1),
         |d$i AS (SELECT coalesce(sum(r), 0)::BIGINT AS d FROM $prev
         |        WHERE node NOT IN (SELECT src FROM o)),
         |r$i AS (SELECT nodes.node,
         |          ((SELECT base FROM consts)
         |           + ($dampNum * (coalesce(c$i.in_sum, 0)
         |                          + (SELECT d FROM d$i) // (SELECT n FROM nn)))
         |             // $dampDen)::BIGINT AS r
         |        FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |e AS (SELECT DISTINCT src, dst FROM edges_in
       |      WHERE src IS NOT NULL AND dst IS NOT NULL),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |o AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |consts AS (SELECT ($scale // n) * (${dampDen - dampNum}) // $dampDen AS base,
       |                  $scale // n AS init FROM nn),
       |r0 AS (SELECT node, (SELECT init FROM consts) AS r FROM nodes),
       |$rounds""".stripMargin
  }

  /** EXACT PER-NODE TRIANGLE COUNTS over the undirected simple graph
    * induced by `edges(srcCol, dstCol)` (direction, multi-edges and
    * self-loops dropped) — the local community signal centrality can't
    * express: a link farm's star hub closes almost no triangles
    * relative to its degree, while an organic neighborhood closes many,
    * so triangle support per node is the standard spam/quality feature
    * next to PageRank/TrustRank in web-corpus pipelines.
    *
    * Algorithm: DEGREE ORIENTATION (Schank & Wagner 2005; the
    * MapReduce formulation of Suri & Vassilvitskii 2011): orient every
    * undirected edge from its (degree, node)-smaller endpoint to the
    * larger. The orientation is an acyclic tournament, so each triangle
    * {x,y,z} (ordered x→y→z by (degree, node)) materializes EXACTLY
    * once as the wedge x→y ⋈ y→z closed by the edge x→z — no
    * per-triangle dedup needed. Out-degrees under this orientation are
    * bounded by O(√m), so the wedge join's fan-out is O(m^1.5) TOTAL
    * regardless of the maximum raw degree: the hub that makes a naive
    * neighbor self-join quadratic only RECEIVES oriented edges here.
    *
    * Scale posture: one distinct (simple-graph collapse), one degree
    * aggregate joined back (both map-side combinable), the wedge
    * equi-join on the middle vertex, and a closing LEFT SEMI equi-join
    * on the (x,z) pair — every shuffle key-partitioned, no window, no
    * driver-side graph state. Counts are exact integers: bit-identical
    * across engines and partitionings. Returns `(node, tri_cnt)` for
    * every node on ≥1 triangle. */
  def triangles(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    import org.apache.spark.sql.GraftSql.{sizedView, unpersistCheckpoint}
    require(edges.schema(srcCol).dataType == edges.schema(dstCol).dataType,
      s"node id columns must share a type; got $srcCol: " +
        s"${edges.schema(srcCol).dataType}, $dstCol: " +
        s"${edges.schema(dstCol).dataType}")
    // canonical simple undirected edges (u < v); materialized once —
    // the degree join and both triangle joins all read it
    val e = sizedView(edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct())
    val deg = e.select(col("u").as("n"))
      .union(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    // orientation: (degree, node)-smaller endpoint first. u < v holds
    // canonically, so on an exact degree tie the canonical order IS the
    // node-order tiebreak — one comparison decides both components.
    val o = sizedView(e
      .join(deg.select(col("n").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("dg").as("dv")), Seq("v"))
      .select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("a"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("b")))
    val paths = o.select(col("a").as("x"), col("b").as("y"))
      .join(o.select(col("a").as("y"), col("b").as("z")), Seq("y"))
    val tri = paths.join(o,
      paths("x") === o("a") && paths("z") === o("b"), "left_semi")
    val out = sizedView(tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt")))
    unpersistCheckpoint(e); unpersistCheckpoint(o)
    out
  }

  /** The DuckDB twin of [[triangles]] as a WITH-clause body over an
    * `edges_in` CTE the caller supplies (columns `src`, `dst`). The
    * final CTE `tri_counts` yields `(node, tri_cnt)`. */
  def trianglesSql(edgesCte: String): String =
    s"""$edgesCte,
       |e AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM edges_in WHERE src <> dst),
       |deg AS (SELECT n, count(*) AS dg
       |        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) t
       |        GROUP BY n),
       |o AS MATERIALIZED (
       |  SELECT CASE WHEN du.dg <= dv.dg THEN e.u ELSE e.v END AS a,
       |         CASE WHEN du.dg <= dv.dg THEN e.v ELSE e.u END AS b
       |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
       |tri AS (SELECT p1.a AS x, p1.b AS y, p2.b AS z
       |        FROM o p1 JOIN o p2 ON p2.a = p1.b
       |        WHERE EXISTS (SELECT 1 FROM o
       |                      WHERE o.a = p1.a AND o.b = p2.b)),
       |tri_counts AS (SELECT node, count(*) AS tri_cnt
       |               FROM (SELECT unnest([x, y, z]) AS node FROM tri) n
       |               GROUP BY node)""".stripMargin

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge list
    * — the two-sided centrality PageRank can't express: a node is a good
    * HUB if it points at good authorities, a good AUTHORITY if good hubs
    * point at it (link-farm detection, seed-list expansion, quality
    * priors on bipartite graphs).
    *
    * Same exact-arithmetic discipline as [[pageRank]]: scores are
    * `scale`-scaled longs; each half-iteration is one key-grouped long
    * sum along the edges, then L1 normalization by the half-step's
    * global sum (integer division) — long sums are order-free, so the
    * result is bit-identical across partitionings and engines, and the
    * oracle unrolls the identical rounds.
    *
    * Overflow headroom: normalized scores sum to ≤ `scale`, so every
    * raw sum ≤ `scale · maxDegree` and every normalization product
    * ≤ `scale² · maxDegree` — the default `scale` = 10^6 keeps products
    * under 2^63 for degrees up to ~9·10^6 (host-graph out-degrees are
    * orders of magnitude below that). `scale` must also exceed the node
    * count or normalization underflows to zero (required below).
    *
    * Scale posture: the [[Rounds]] loop over 2·`iters` half-steps,
    * authority then hub. The state holds one row per node and one per
    * edge; a half-step is ONE window sum keyed by the receiving endpoint
    * (dst for authority, src for hub), so node rows get their raw score
    * and edge rows the score the next half-step sends — one exchange, no
    * join, no driver-side graph. The half-step's job also folds its L1
    * sum, which normalizes the scores as a literal in the next half-step
    * (and the final hub column). Setup is two materializations: the
    * distinct edges, and the distinct nodes, whose job counts them.
    * Output: (node, auth_scaled, hub_scaled) for ALL nodes. */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "need iters >= 1")
    import org.apache.spark.sql.GraftSql.{sizedView, unpersistCheckpoint}
    require(edges.schema(srcCol).dataType == edges.schema(dstCol).dataType,
      s"node id columns must share a type; got $srcCol: " +
        s"${edges.schema(srcCol).dataType}, $dstCol: " +
        s"${edges.schema(dstCol).dataType}")
    val e = sizedView(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val (nodes, n) = try sizedView(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
        .distinct(), _ => 1L)
    catch { case t: Throwable => unpersistCheckpoint(e); throw t }
    if (n == 0 || scale < 2 * n) {
      unpersistCheckpoint(e); unpersistCheckpoint(nodes)
    }
    require(n > 0, "hits needs a non-empty edge list")
    require(scale >= 2 * n,
      s"scale ($scale) must be >= 2x the node count ($n) or integer " +
        "normalization underflows")
    // node rows carry src = dst = node; an edge with a NULL endpoint
    // sends nothing from it, but its mass still counts toward the L1 sum
    val init = nodes.select(col("node").as("src"), col("node").as("dst"),
        lit(false).as("edge"))
      .union(e.select(col("src"), col("dst"), lit(true)))
      .select(col("src"), col("dst"), col("edge"), lit(0L).as("a"),
        lit(scale / n).as("h"))
    def normalized(c: String, l1: Long): Column =
      if (l1 == 0L) lit(0L) else expr(s"($c * $scale) div $l1")
    val (state, hubL1, _) = Rounds.run(init, 0L, 2 * iters) {
      (st, l1, r) =>
        val (from, to, sent, got, at) =
          if (r % 2 == 1) ("src", "dst", "h", "a", 3)
          else ("dst", "src", "a", "h", 4)
        (st.withColumn(sent, if (r == 1) col(sent) else normalized(sent, l1))
            .withColumn(got, sum(when(col("edge") && col(from).isNotNull,
              col(sent)).otherwise(0L)).over(Window.partitionBy(to))),
          row => if (row.getBoolean(2)) 0L else row.getLong(at))
    }
    state.filter(!col("edge") && col("src").isNotNull)
      .select(col("src").as("node"), col("a").as("auth_scaled"),
        normalized("h", hubL1).as("hub_scaled"))
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004) — PageRank with
    * the teleport vector CONCENTRATED on a trusted seed set: trust mass
    * originates only at seeds and attenuates along links, so pages far
    * from any seed score ~0 regardless of raw in-degree. This is the
    * spam-demotion / source-allowlisting signal corpus pipelines layer
    * over plain PageRank (a link farm can inflate in-degree but cannot
    * buy proximity to a curated seed list).
    *
    * Same exact-arithmetic discipline as [[pageRank]]: `scale`-scaled
    * long scores, integer division everywhere, dangling mass
    * redistributed to the SEED distribution (the personalized-PageRank
    * convention — mass must re-enter through the teleport vector, or
    * dangling nodes would leak trust to the whole graph). Long sums are
    * order-free ⇒ bit-identical across partitionings and engines; the
    * oracle unrolls the identical rounds.
    *
    * Scale posture: the SAME loop as [[pageRank]] — one plan with one
    * exchange per round, the dangling mass folded by the round's
    * materializing job. The seeds enter the setup node aggregate ONCE
    * as an `is_seed` flag — per-iteration cost is independent of |S|.
    * Seeds outside the graph are ignored; an edge with a NULL endpoint
    * is not an edge. */
  def trustRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iters: Int = 3, dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000L): DataFrame =
    personalizedRank(edges, srcCol, dstCol,
      Some(seeds.select(col(seedCol).as("node"))), iters, dampNum, dampDen,
      scale).withColumnRenamed("r", "trust_scaled")

  /** The DuckDB twin of [[trustRank]] as a WITH-clause body: unrolled
    * iterations from the SAME parameters, over caller-supplied
    * `edges_in` (src, dst) and `seeds_in` (node) CTEs. The final
    * relation `t{iters}` yields `(node, r)`. */
  def trustRankSql(
      edgesCte: String, seedsCte: String, iters: Int = 3,
      dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000L): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "t0" else s"t${i - 1}"
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node, sum($prev.r // o.outdeg)::BIGINT AS in_sum
         |       FROM $prev JOIN o ON $prev.node = o.src
         |       JOIN e ON $prev.node = e.src GROUP BY 1),
         |d$i AS (SELECT coalesce(sum(r), 0)::BIGINT AS d FROM $prev
         |        WHERE node NOT IN (SELECT src FROM o)),
         |t$i AS MATERIALIZED (SELECT nodes.node,
         |          (nodes.is_seed * (SELECT base FROM consts)
         |           + ($dampNum * (coalesce(c$i.in_sum, 0)
         |                          + nodes.is_seed *
         |                            ((SELECT d FROM d$i) // (SELECT s FROM ns))))
         |             // $dampDen)::BIGINT AS r
         |        FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |$seedsCte,
       |e AS (SELECT DISTINCT src, dst FROM edges_in
       |      WHERE src IS NOT NULL AND dst IS NOT NULL),
       |allnodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |o AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |nodes AS (SELECT a.node,
       |            CASE WHEN s.node IS NULL THEN 0 ELSE 1 END::BIGINT AS is_seed
       |          FROM allnodes a
       |          LEFT JOIN (SELECT DISTINCT node FROM seeds_in) s
       |            ON a.node = s.node),
       |ns AS (SELECT sum(is_seed)::BIGINT AS s FROM nodes),
       |consts AS (SELECT ($scale // s) * (${dampDen - dampNum}) // $dampDen AS base,
       |                  $scale // s AS init FROM ns),
       |t0 AS (SELECT node, (is_seed * (SELECT init FROM consts))::BIGINT AS r
       |       FROM nodes),
       |$rounds""".stripMargin
  }

  /** The DuckDB twin of [[hits]] as a WITH-clause body: unrolled rounds
    * generated from the SAME parameters, over an `edges_in` CTE the
    * caller supplies (columns `src`, `dst`). The final relation
    * `hits{iters}` yields `(node, auth_scaled, hub_scaled)`. */
  def hitsSql(
      edgesCte: String, iters: Int = 3, scale: Long = 1000000L): String = {
    val rounds = (1 to iters).map { i =>
      val prevH = if (i == 1) "h0" else s"h${i - 1}"
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS node, sum(p.h)::BIGINT AS raw
         |        FROM e JOIN $prevH p ON p.node = e.src GROUP BY 1),
         |as$i AS (SELECT sum(raw)::BIGINT AS s FROM ar$i),
         |a$i AS MATERIALIZED (SELECT n.node,
         |          coalesce((ar$i.raw * $scale) // (SELECT s FROM as$i),
         |                   0)::BIGINT AS a
         |        FROM nodes n LEFT JOIN ar$i ON n.node = ar$i.node),
         |hr$i AS MATERIALIZED (SELECT e.src AS node, sum(a$i.a)::BIGINT AS raw
         |        FROM e JOIN a$i ON a$i.node = e.dst GROUP BY 1),
         |hs$i AS (SELECT sum(raw)::BIGINT AS s FROM hr$i),
         |h$i AS MATERIALIZED (SELECT n.node,
         |          coalesce((hr$i.raw * $scale) // (SELECT s FROM hs$i),
         |                   0)::BIGINT AS h
         |        FROM nodes n LEFT JOIN hr$i ON n.node = hr$i.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |e AS (SELECT DISTINCT src, dst FROM edges_in),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |h0 AS (SELECT node,
       |         ($scale // (SELECT n FROM nn))::BIGINT AS h FROM nodes),
       |$rounds,
       |hits$iters AS (SELECT a$iters.node, a$iters.a AS auth_scaled,
       |                      h$iters.h AS hub_scaled
       |               FROM a$iters JOIN h$iters
       |                 ON a$iters.node = h$iters.node)""".stripMargin
  }

  /** MULTI-SOURCE BFS HOP DISTANCE from a seed set over the directed
    * graph `edges(srcCol, dstCol)` — the crawl-depth / link-distance
    * signal next to the centrality family (OPIC-style frontier
    * prioritization, Common-Crawl's seed-distance stratification,
    * Gyöngyi's "trust attenuates with distance" argument made literal):
    * depth(v) = length of the shortest directed path from ANY seed,
    * computed as up to `maxHops` rounds of frontier relaxation. Nodes not
    * reached within `maxHops` are absent (the caller's outer join
    * decides a sentinel).
    *
    * Exactness: depths are small integers produced by set algebra only
    * (join / distinct / anti-join) — no FP, no tie-breaks; the result
    * is independent of partitioning and engine by construction.
    *
    * Scale posture: hop r is one [[Rounds]] round — the CURRENT FRONTIER
    * (the reached rows at depth r-1, not the full reached set) src-keyed
    * equi-joined against the edge list, a distinct on its span, one
    * key-partitioned LEFT ANTI join against the reached relation, and
    * the union with it materialized as the next reached relation — the
    * textbook distributed BFS (Pregel's message set, expressed
    * relationally). Per-hop work is O(edges out of frontier). The hop's
    * job also counts the rows it added; the loop ends after the first
    * hop that adds none (later hops would find nothing). No windows, no
    * driver-side graph.
    *
    * Seeds outside the graph's node set are dropped (semi join) so both
    * engines agree on the universe. Returns `(node, depth)` for every
    * node within `maxHops` of a seed. */
  def bfsDepth(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1 && maxHops <= 12, "maxHops must be in [1, 12]")
    import org.apache.spark.sql.GraftSql.{sizedView, unpersistCheckpoint}
    require(edges.schema(srcCol).dataType == edges.schema(dstCol).dataType,
      s"node id columns must share a type; got $srcCol: " +
        s"${edges.schema(srcCol).dataType}, $dstCol: " +
        s"${edges.schema(dstCol).dataType}")
    val e = sizedView(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    try {
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val (d0, nSeeds) = sizedView(seeds.select(col(seedCol).as("node"))
        .distinct().join(nodes, Seq("node"), "left_semi")
        .withColumn("depth", lit(0L)), _ => 1L)
      Rounds.run(d0, nSeeds, maxHops, stop = _ == 0L) { (reached, _, r) =>
        val found = reached.filter(col("depth") === r - 1)
          .join(e, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(reached, Seq("node"), "left_anti")
          .withColumn("depth", lit(r.toLong))
        (reached.unionByName(found),
          row => if (row.getLong(1) == r) 1L else 0L)
      }._1
    } finally unpersistCheckpoint(e)
  }

  /** The DuckDB twin of [[bfsDepth]] as a WITH-clause body over
    * `edges_in` (columns `src`, `dst`) and `seeds_in` (column `node`)
    * CTEs the caller supplies — the same `maxHops` rounds unrolled, each
    * MATERIALIZED so the engine relaxes frontiers exactly once like the
    * Spark loop. The reached-set exclusion is spelled NOT EXISTS, not
    * NOT IN: a NULL node in the reached set would make NOT IN evaluate
    * to NULL for EVERY frontier row (emptying the frontier), where the
    * Spark side's left_anti join keeps non-matching rows — NOT EXISTS
    * has exactly the anti-join's null semantics. The final CTE
    * `bfs$maxHops` yields `(node, depth)`. */
  def bfsDepthSql(edgesCte: String, seedsCte: String,
      maxHops: Int = 4): String = {
    val rounds = (1 to maxHops).map { r =>
      val prevD = s"bfs${r - 1}"
      val prevF = if (r == 1) "bfs0" else s"f${r - 1}"
      s"""f$r AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node FROM e
         |  JOIN $prevF p ON p.node = e.src
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM $prevD d WHERE d.node = e.dst)),
         |bfs$r AS MATERIALIZED (
         |  SELECT node, depth FROM $prevD
         |  UNION ALL SELECT node, $r FROM f$r)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |$seedsCte,
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges_in),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |bfs0 AS (SELECT DISTINCT s.node, 0 AS depth FROM seeds_in s
       |         WHERE s.node IN (SELECT node FROM nodes)),
       |$rounds""".stripMargin
  }
}

package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSql.unpersistCheckpoint
import org.apache.spark.sql.OracleViews.persistedView
import org.apache.spark.sql.functions._

/** Test oracle: HITS, BFS depth, connected components and the NN-descent
  * graph as each ran its own round loop before they shared [[Rounds]]
  * (per-round `persistedView`s or `localCheckpoint`s, hand-kept release
  * lists, a separate convergence job, broadcast single-row HITS sums
  * crossed into every row, BFS running all `maxHops` rounds). Results
  * must be bit-identical to the operators' — the loops below are kept
  * as they were, not tidied, so a divergence points at the new loop. */
object HandRolledLoops {

  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "need iters >= 1")
    require(edges.schema(srcCol).dataType == edges.schema(dstCol).dataType,
      s"node id columns must share a type; got $srcCol: " +
        s"${edges.schema(srcCol).dataType}, $dstCol: " +
        s"${edges.schema(dstCol).dataType}")
    val e = persistedView(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val nodes = persistedView(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
        .distinct())
    val n = nodes.count() // driver scalar: init is a literal
    require(n > 0, "hits needs a non-empty edge list")
    require(scale >= 2 * n,
      s"scale ($scale) must be >= 2x the node count ($n) or integer " +
        "normalization underflows")
    var hub = nodes.select(col("node"), lit(scale / n).as("h"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      // authority update: sum incoming hub mass, L1-normalize to scale
      val araw = hub.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), col("h").as("c"))
        .groupBy("node").agg(sum("c").as("raw"))
      val asum = araw.agg(sum("raw").as("s"))
      val a = nodes.join(araw, Seq("node"), "left")
        .crossJoin(broadcast(asum))
        .select(col("node"), expr(
          s"coalesce((raw * $scale) div s, CAST(0 AS BIGINT))").as("a"))
      // hub update: sum outgoing authority mass, L1-normalize
      val hraw = a.join(e, col("node") === col("dst"))
        .select(col("src").as("node"), col("a").as("c"))
        .groupBy("node").agg(sum("c").as("raw"))
      val hsum = hraw.agg(sum("raw").as("s"))
      val h = nodes.join(hraw, Seq("node"), "left")
        .crossJoin(broadcast(hsum))
        .select(col("node"), expr(
          s"coalesce((raw * $scale) div s, CAST(0 AS BIGINT))").as("h"))
      // checkpoint the round (truncates the growing two-join lineage),
      // release the superseded round's storage
      val both = persistedView(a.join(h, Seq("node"))
        .select(col("node"), col("a"), col("h")))
      prev.foreach(unpersistCheckpoint)
      prev = Some(both)
      hub = both.select(col("node"), col("h"))
    }
    val out = prev.get.select(col("node"), col("a").as("auth_scaled"),
      col("h").as("hub_scaled"))
    unpersistCheckpoint(e); unpersistCheckpoint(nodes)
    out
  }

  def bfsDepth(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1 && maxHops <= 12, "maxHops must be in [1, 12]")
    require(edges.schema(srcCol).dataType == edges.schema(dstCol).dataType,
      s"node id columns must share a type; got $srcCol: " +
        s"${edges.schema(srcCol).dataType}, $dstCol: " +
        s"${edges.schema(dstCol).dataType}")
    val e = persistedView(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val d0 = seeds.select(col(seedCol).as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
      .withColumn("depth", lit(0L))
    var reached = persistedView(d0)
    var frontier = reached
    // every persisted per-round frame EXCEPT the final reached relation
    // (which is the result) is released once the loop is done — each
    // round's union is eagerly materialized, so parents are safe to drop
    val retired = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (r <- 1 to maxHops) {
      val next = persistedView(frontier
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(reached, Seq("node"), "left_anti")
        .withColumn("depth", lit(r.toLong)))
      retired += reached
      retired += next
      reached = persistedView(reached.unionByName(next))
      frontier = next
    }
    retired.foreach(unpersistCheckpoint)
    unpersistCheckpoint(e)
    reached
  }

  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    val aType = pairs.schema(aCol).dataType
    val bType = pairs.schema(bCol).dataType
    require(aType == bType,
      s"id columns must share a type; got $aCol: $aType, $bCol: $bType")
    val e = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val edges = persistedView(
      e.union(e.select(col("b").as("a"), col("a").as("b"))))
    require(
      edges.filter(col("a").isNull || col("b").isNull).isEmpty,
      s"connectedComponents: NULL ids in ($aCol, $bCol) — NULL never " +
        "equi-joins, so its edges would silently vanish; filter or fix ids")
    var labels = persistedView(
      edges.select(col("a").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels, edges("a") === labels("id"))
        .select(edges("b").as("id"), col("lbl"))
      val jump = labels.as("x")
        .join(labels.as("p"), col("x.lbl") === col("p.id"))
        .select(col("x.id").as("id"), col("p.lbl").as("lbl"))
      // The node's OWN current label rides through the union (non-null
      // only on the `labels` contribution, which has exactly one row per
      // id), so convergence is a partition-local filter over the already-
      // persisted result — no per-round join against the previous state.
      // `labels` keeps the extra column between rounds: projecting it
      // away would wrap the persisted RDD in a Project and defeat
      // unpersistCheckpoint.
      val lblType = labels.schema("lbl").dataType
      val next = persistedView(
        labels.select(col("id"), col("lbl")).withColumn("own", col("lbl"))
          .union(prop.withColumn("own", lit(null).cast(lblType)))
          .union(jump.withColumn("own", lit(null).cast(lblType)))
          .groupBy("id").agg(min("lbl").as("lbl"), min("own").as("own")))
      converged = next.filter(col("lbl") < col("own")).isEmpty
      unpersistCheckpoint(labels)
      labels = next
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    unpersistCheckpoint(edges)
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  def nnDescentGraph(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, rounds: Int = 2, dim: Int = 64): DataFrame = {
    require(k >= 1 && rounds >= 0)
    val n = emb.select(col(idCol).as("nid"), col(vecCol).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .localCheckpoint()
    val planes = Similarity.nnDescentPlanes(n.count(), k)
    val signs = Similarity.planeSigns(2 * planes, dim)
    val b = n
      .withColumn("__b1", Similarity.bucketExpr(col("v"), signs.slice(0, planes)))
      .withColumn("__b2",
        Similarity.bucketExpr(col("v"), signs.slice(planes, 2 * planes)))
      .withColumn("__tb", explode(array(
        struct(lit(0L).as("t"), col("__b1").as("bk")),
        struct(lit(1L).as("t"), col("__b2").as("bk")))))
      .select(col("nid"), col("v"), col("nrm"),
        col("__tb.t").as("t"), col("__tb.bk").as("bk"))
    // fresh aliases on every shared-lineage column (corpus self-joins)
    val q0 = b.select(col("nid").as("qid"), col("v").as("qv"),
      col("nrm").as("qn"), col("t").as("t"), col("bk").as("bk"))
    val scored0 = b.join(q0, Seq("t", "bk"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
      // a pair found by both tables scores identically — group-min dedup
      .groupBy("qid", "nid").agg(min("sim").as("sim"))
    val topk = udaf(new graft.functions.TopKAgg(k))
    // per-node top-k with the RAW double sim carried between rounds
    // (the reverse cap ranks on it); the public rounded/ranked shape is
    // applied once at the end
    def keepK(scored: DataFrame): DataFrame = scored
      .groupBy("qid").agg(topk(col("sim"), col("nid")).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e.id").as("nid"), col("e.score").as("sim"))
    var cur = keepK(scored0).localCheckpoint()
    for (_ <- 1 to rounds) {
      val rev = cur
        .select(col("nid").as("qid"), col("qid").as("nid"), col("sim"))
      val revCapped = keepK(rev)
      val e = cur.select("qid", "nid")
        .unionByName(revCapped.select("qid", "nid"))
        .select(col("qid").as("u"), col("nid").as("x"))
      val eR = e.select(col("u").as("u2"), col("x").as("y"))
      val cand = e.join(eR, col("u") === col("u2"))
        .filter(col("x") =!= col("y"))
        .select(col("x").as("qid"), col("y").as("nid"))
        .unionByName(cur.select("qid", "nid"))
        .distinct()
      val scored = cand
        .join(n.select(col("nid").as("qid"), col("v").as("qv"),
          col("nrm").as("qn")), Seq("qid"))
        .join(n, Seq("nid"))
        .select(col("qid"), col("nid"),
          (Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
      cur = keepK(scored).localCheckpoint()
    }
    // public contract: rank by (sim DESC, nid ASC), round like topK
    cur.groupBy("qid").agg(topk(col("sim"), col("nid")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("nid"),
        (col("pos") + 1).as("rank"),
        round(col("col.score"), 6).as("sim"))
  }
}

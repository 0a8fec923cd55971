package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test oracle: PageRank and TrustRank as two separate per-round loops,
  * independent of the shared loop that [[Graph.pageRank]] and
  * [[Graph.trustRank]] run. Per round: rank ⋈ edges, a dst-keyed sum,
  * a LEFT join back to the node relation (out-degree NULL = dangling),
  * and the dangling mass as a broadcast single-row aggregate crossed
  * into every row. The same fixed-point integer formula, so results
  * must be bit-identical. Edges with NULL endpoints are out of scope
  * here (this loop counts a NULL node as dangling). */
object JoinBackRank {

  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && dampNum >= 0 && dampNum <= dampDen,
      "need iters >= 1 and 0 <= dampNum <= dampDen")
    import org.apache.spark.sql.GraftSql.unpersistCheckpoint
    import org.apache.spark.sql.OracleViews.persistedView
    require(edges.schema(srcCol).dataType == edges.schema(dstCol).dataType,
      s"node id columns must share a type; got $srcCol: " +
        s"${edges.schema(srcCol).dataType}, $dstCol: " +
        s"${edges.schema(dstCol).dataType}")
    val e = persistedView(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    // node relation carrying the out-degree (NULL for dangling nodes)
    val nodeDeg = persistedView(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
        .distinct()
        .join(e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("outdeg")), Seq("node"), "left"))
    val n = nodeDeg.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    val init = scale / n
    val base = (scale / n) * (dampDen - dampNum) / dampDen
    var rank = nodeDeg.select(col("node"), col("outdeg"), lit(init).as("r"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val contrib = rank
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node"), expr("r div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("in_sum"))
      // dangling mass (nodes with no out-edges) redistributed uniformly
      val dangling = rank.filter(col("outdeg").isNull)
        .agg(coalesce(sum("r"), lit(0L)).as("d"))
      val next = persistedView(nodeDeg
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("outdeg"), expr(
          s"$base + ($dampNum * (coalesce(in_sum, CAST(0 AS BIGINT))" +
            s" + d div $n)) div $dampDen").as("r")))
      prev.foreach(unpersistCheckpoint)
      prev = Some(next)
      rank = next
    }
    val out = rank.select(col("node"), col("r").as("rank_scaled"))
    unpersistCheckpoint(e); unpersistCheckpoint(nodeDeg)
    out
  }

  def trustRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iters: Int = 3, dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && dampNum >= 0 && dampNum <= dampDen,
      "need iters >= 1 and 0 <= dampNum <= dampDen")
    import org.apache.spark.sql.GraftSql.unpersistCheckpoint
    import org.apache.spark.sql.OracleViews.persistedView
    require(edges.schema(srcCol).dataType == edges.schema(dstCol).dataType,
      s"node id columns must share a type; got $srcCol: " +
        s"${edges.schema(srcCol).dataType}, $dstCol: " +
        s"${edges.schema(dstCol).dataType}")
    val e = persistedView(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val sd = seeds.select(col(seedCol).as("node")).distinct()
    // node relation: out-degree (NULL = dangling) plus the seed flag
    val nodeDeg = persistedView(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
        .distinct()
        .join(e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("outdeg")), Seq("node"), "left")
        .join(sd.withColumn("is_seed", lit(1L)), Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          coalesce(col("is_seed"), lit(0L)).as("is_seed")))
    val nSeeds = nodeDeg.filter(col("is_seed") === 1L).count()
    require(nSeeds > 0, "trustRank needs at least one seed present in the graph")
    val init = scale / nSeeds
    val base = (scale / nSeeds) * (dampDen - dampNum) / dampDen
    var rank = nodeDeg.select(col("node"), col("outdeg"), col("is_seed"),
      (col("is_seed") * init).as("r"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val contrib = rank
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node"), expr("r div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("in_sum"))
      val dangling = rank.filter(col("outdeg").isNull)
        .agg(coalesce(sum("r"), lit(0L)).as("d"))
      val next = persistedView(nodeDeg
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("outdeg"), col("is_seed"), expr(
          s"is_seed * $base + ($dampNum * (coalesce(in_sum, CAST(0 AS BIGINT))" +
            s" + is_seed * (d div $nSeeds))) div $dampDen").as("r")))
      prev.foreach(unpersistCheckpoint)
      prev = Some(next)
      rank = next
    }
    val out = rank.select(col("node"), col("r").as("trust_scaled"))
    unpersistCheckpoint(e); unpersistCheckpoint(nodeDeg)
    out
  }
}

package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Fixed-point PageRank semantics: hand-computed ranks on a tiny graph,
  * bit-exact repartition invariance, and the degree→centrality ordering
  * the quality signal exists for. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("one iteration matches hand-computed fixed-point arithmetic") {
    // a→b, c→b; N=3, scale=900, damping 85/100:
    // init=300, base=45; contribs to b: 300+300=600; dangling(b)=300,
    // d//N=100 → r(a)=r(c)=45+85*100//100=130, r(b)=45+85*700//100=640
    val edges = Seq(("a", "b"), ("c", "b")).toDF("s", "d")
    val got = Graph.pageRank(edges, "s", "d", iters = 1, scale = 900L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 130L, "b" -> 640L, "c" -> 130L))
  }

  test("an edge with a NULL endpoint is not an edge") {
    // a→NULL drops, leaving the hand-computed graph above (a NULL node
    // must not count as dangling, nor a's out-degree as 2)
    val edges = Seq(("a", Some("b")), ("c", Some("b")), ("a", None))
      .toDF("s", "d")
    val got = Graph.pageRank(edges, "s", "d", iters = 1, scale = 900L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 130L, "b" -> 640L, "c" -> 130L))
    // seeds {a, c}: init=450, base=67; b collects 450+450, dangles 0
    val trust = Graph.trustRank(edges, "s", "d", Seq("a", "c").toDF("n"), "n",
        iters = 1, scale = 900L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(trust == Map("a" -> 67L, "b" -> 765L, "c" -> 67L))
  }

  test("ranks are bit-identical under repartitioning and mass is conserved") {
    val li = graft.Tables.read(spark, sf("sf0.001"), "lineitem")
    val fwd = li.select(concat(lit("p"), col("l_partkey")).as("s"),
      concat(lit("s"), col("l_suppkey")).as("d"))
    val rev = li.select(concat(lit("s"), col("l_suppkey")).as("s"),
      concat(lit("p"), col("l_partkey")).as("d"))
    val e = fwd.union(rev)
    val a = Graph.pageRank(e, "s", "d", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Graph.pageRank(e.repartition(17), "s", "d", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    // integer truncation only ever LOSES mass; damping base restores a
    // fixed share — total stays within 1% of the scale
    val total = a.values.sum
    assert(math.abs(total - 1000000000L) < 10000000L, s"mass $total")
    // every supplier (degree ~hundreds) outranks every part (degree ~4)
    val minSupp = a.filter(_._1.startsWith("s")).values.min
    val maxPart = a.filter(_._1.startsWith("p")).values.max
    assert(minSupp > maxPart,
      s"supplier floor $minSupp vs part ceiling $maxPart")
  }
}

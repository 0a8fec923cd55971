package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(5.0), 99) == 5.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- 1 to 3000; p <- Stats.tailPercentile(n)) {
      assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
      val higher = Stats.TailLadder.takeWhile(_ > p)
      assert(higher.forall(q => Stats.beyond(n, q) < 10), s"n=$n p=$p")
    }
  }

  test("summaries carry the sample count, median and tail") {
    val s = Stats.summarize((1 to 100).map(_.toDouble))
    assert(s.n == 100 && s.p50 == 50.5 && s.tailP.contains(90.0) && s.tail.contains(90.0))
  }

  test("job coverage is the clipped union of job intervals") {
    assert(Tracer.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Tracer.unionMs(Seq((0L, 10L), (5L, 15L)), 8, 12) == 4)
    assert(Tracer.unionMs(Nil, 0, 10) == 0)
  }

  test("row digests ignore row order and see every value") {
    val rows = Seq(Seq("a" -> 1, "b" -> null), Seq("a" -> 2, "b" -> "x"))
    assert(RowHash.of(rows.iterator) == RowHash.of(rows.reverse.iterator))
    assert(RowHash.of(rows.iterator) == RowHash.of(rows.map(_.reverse).iterator))
    assert(RowHash.of(rows.iterator) != RowHash.of(Seq(rows.head, Seq("a" -> 2, "b" -> "y")).iterator))
    assert(RowHash.of(rows.iterator) != RowHash.of(rows.take(1).iterator))
  }
}

package graftbench

import org.scalatest.funsuite.AnyFunSuite

object OracleSpec {
  final case class R(key: Int, ev: Long, cr: Long, v: String)
}

class OracleSpec extends AnyFunSuite {
  import OracleSpec.R
  private def asOf(rows: Seq[R], ttl: Long) = new Oracle.AsOf[R](rows, _.ev, _.cr, ttl)

  test("TTL 0 means no lower bound") {
    val o = asOf(Seq(R(1, 10, 0, "old")), ttl = 0)
    assert(o.at(1000000L).map(_.v).contains("old"))
  }

  test("both bounds are inclusive") {
    val o = asOf(Seq(R(1, 100, 0, "a")), ttl = 50)
    assert(o.at(100).isDefined, "event_ts == entity ts must match")
    assert(o.at(150).isDefined, "event_ts == entity ts - ttl must match")
    assert(o.at(151).isEmpty, "one past the TTL must not match")
    assert(o.at(99).isEmpty, "a later row must not match")
  }

  test("created_ts breaks an event_ts tie, whatever the input order") {
    val rows = Seq(R(1, 100, 7, "late"), R(1, 100, 3, "early"), R(1, 90, 9, "older"))
    assert(asOf(rows, 0).at(100).map(_.v).contains("late"))
    assert(asOf(rows.reverse, 0).at(120).map(_.v).contains("late"))
  }

  test("the latest row within the TTL wins over older ones") {
    val o = asOf(Seq(R(1, 10, 0, "a"), R(1, 20, 0, "b"), R(1, 30, 0, "c")), ttl = 100)
    assert(o.at(25).map(_.v).contains("b"))
  }

  test("latest-per-key uses inclusive window bounds") {
    val l = new Oracle.Latest[Int, R](_.key, _.ev, _.cr)
    val rows = Seq(R(1, 10, 0, "edge-lo"), R(2, 20, 0, "edge-hi"), R(3, 21, 0, "out"))
    assert(l.merge(rows, 10, 20) == 2)
    assert(l.get(1).map(_.v).contains("edge-lo"))
    assert(l.get(2).map(_.v).contains("edge-hi"))
    assert(l.get(3).isEmpty)
  }

  test("latest-per-key keeps the newest row whatever the merge order") {
    val rows = Seq(R(1, 10, 0, "old"), R(1, 30, 1, "new"), R(1, 30, 0, "tie-loser"))
    val fwd = new Oracle.Latest[Int, R](_.key, _.ev, _.cr)
    fwd.merge(rows, 0, 15); fwd.merge(rows, 16, 40)
    val back = new Oracle.Latest[Int, R](_.key, _.ev, _.cr)
    back.merge(rows, 16, 40); back.merge(rows, 0, 15)
    assert(fwd.get(1).map(_.v).contains("new"))
    assert(back.get(1).map(_.v).contains("new"))
    assert(fwd.size == 1)
  }
}

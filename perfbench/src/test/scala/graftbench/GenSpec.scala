package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  test("the same seed generates the same feature-store inputs") {
    val a = Gen.pit(7); val b = Gen.pit(7)
    assert(a.stats.sameElements(b.stats))
    assert(a.profiles.sameElements(b.profiles))
    assert(a.global.sameElements(b.global))
    assert(a.spine.sameElements(b.spine))
    assert(a.rowCounts == b.rowCounts)
  }

  test("another seed generates other inputs") {
    assert(!Gen.pit(7).spine.sameElements(Gen.pit(8).spine))
    assert(!Gen.corpus(7).docs.sameElements(Gen.corpus(8).docs))
  }

  test("the same seed generates the same corpus, graph and embeddings") {
    val a = Gen.corpus(3); val b = Gen.corpus(3)
    assert(a.docs.sameElements(b.docs))
    assert(a.edges.sameElements(b.edges))
    assert(a.vectors.map(_.v.toSeq).sameElements(b.vectors.map(_.v.toSeq)))
    assert(a.queries.flatten.map(_.v.toSeq).sameElements(b.queries.flatten.map(_.v.toSeq)))
    assert(a.rowCounts == b.rowCounts)
  }

  test("stats rows never repeat both timestamps of a user, and ties exist") {
    val st = Gen.pit(1).stats
    assert(st.map(r => (r.userId, r.eventMs, r.createdMs)).distinct.length == st.length)
    assert(st.groupBy(r => (r.userId, r.eventMs)).values.exists(_.length > 1))
  }

  test("the spine plants every row kind, and about 1/6 of keys never match") {
    val in = Gen.pit(1)
    Gen.SpineKinds.foreach(k => assert(in.spineKinds(k) > 0, k))
    assert(in.spineKinds.values.sum == Gen.SpineRows)
    val unmatched = in.spine.count(_.userId > Gen.Users).toDouble / in.spine.length
    assert(unmatched > 0.08 && unmatched < 0.2, unmatched)
    assert(in.spine.groupBy(identity).values.exists(_.length > 1), "no duplicate spine rows")
  }

  test("verbatim copies repeat a base text; base texts are distinct") {
    val c = Gen.corpus(5)
    val base = c.docs.filterNot(d => c.verbatimCopies(d.docId) || c.nearCopies(d.docId))
    assert(base.map(_.text).distinct.length == base.length)
    val baseTexts = base.map(_.text).toSet
    assert(c.verbatimCopies.nonEmpty)
    c.docs.filter(d => c.verbatimCopies(d.docId)).foreach(d => assert(baseTexts(d.text)))
    c.docs.filter(d => c.nearCopies(d.docId)).foreach(d => assert(!baseTexts(d.text)))
  }

  test("read keys are skewed and include never-materialized ids") {
    val k = new Gen.KeyDraw(9)
    val draws = Seq.fill(20000)(k.next())
    val miss = draws.count(_ > Gen.Users).toDouble / draws.size
    assert(miss > 0.08 && miss < 0.12, miss)
    val top = draws.filter(_ <= Gen.Users).groupBy(identity).values.map(_.size).max
    assert(top > 20000 / Gen.Users * 10, s"hottest key drawn only $top times")
  }
}

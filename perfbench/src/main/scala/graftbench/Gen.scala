package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. Everything the benchmark feeds graft is made
  * here, in plain Scala, from the `--seed` argument: the same seed gives
  * the same rows. Each table draws from its own stream (seed mixed with a
  * table salt), so resizing one table leaves the others unchanged. */
object Gen {

  val T0Ms: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val SecMs: Long = 1000L
  val HourMs: Long = 3600L * SecMs
  val DayMs: Long = 24L * HourMs
  val Days: Int = 30

  val StatsTtlS: Long = 2L * 86400L
  val ProfileTtlS: Long = 0L
  val GlobalTtlS: Long = 3600L

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  // ── feature-store tables ──────────────────────────────────────────────

  final case class StatRow(userId: Long, eventMs: Long, createdMs: Long,
      clicks: Long, spend: Double)
  final case class ProfileRow(userId: Long, eventMs: Long, age: Int,
      tier: String)
  final case class GlobalRow(eventMs: Long, load: Double)
  final case class SpineRow(userId: Long, eventMs: Long)

  // The feature-store shape this benchmark models (100k users, 2M stat
  // rows, 500k spine rows) scaled down 50-fold, keeping rows per user and
  // the spine's share of unmatched keys, so that a retrieval takes one to
  // three seconds on a 4-core box.
  val Users: Int = 2000
  val StatsPerUser: Int = 20
  val ProfilesPerUser: Int = 3
  val GlobalStepMs: Long = 10L * 60L * SecMs
  val SpineRows: Int = 10000

  /** `user_stats`: [[StatsPerUser]] rows per user spread over [[Days]] days.
    * About 5 % of rows repeat the previous row's `event_ts` with a later
    * `created_ts` — the ties `created_ts` must break. No two rows of a
    * user share both timestamps, so the latest row is always unique. */
  def stats(seed: Long): Array[StatRow] = {
    val r = rng(seed, 0x51A75L)
    val out = new Array[StatRow](Users * StatsPerUser)
    var i = 0
    for (u <- 1 to Users) {
      val seen = mutable.HashSet[Long]()
      var prev: StatRow = null
      for (_ <- 0 until StatsPerUser) {
        val row =
          if (prev != null && r.nextInt(100) < 5)
            prev.copy(createdMs = prev.createdMs + SecMs * (1 + r.nextInt(600)),
              clicks = r.nextInt(1000).toLong,
              spend = r.nextInt(100000) / 100.0)
          else {
            var ev = 0L
            while ({ ev = T0Ms + SecMs * r.nextLong(Days * 86400L); seen(ev) }) ()
            StatRow(u.toLong, ev, ev + SecMs * r.nextInt(3600),
              r.nextInt(1000).toLong, r.nextInt(100000) / 100.0)
          }
        seen += row.eventMs
        out(i) = row; i += 1
        prev = row
      }
    }
    out
  }

  /** `user_profile`: TTL 0, no created column, distinct `event_ts` per
    * user, starting a month before the stats so old profiles still
    * match (TTL 0 means unbounded lookback). */
  def profiles(seed: Long): Array[ProfileRow] = {
    val r = rng(seed, 0x960F1L)
    val tiers = Array("free", "plus", "pro")
    (1 to Users).iterator.flatMap { u =>
      val evs = mutable.LinkedHashSet[Long]()
      while (evs.size < ProfilesPerUser)
        evs += T0Ms - Days * DayMs + SecMs * r.nextLong(2L * Days * 86400L)
      evs.iterator.map(ev => ProfileRow(u.toLong, ev, 18 + r.nextInt(60),
        tiers(r.nextInt(tiers.length))))
    }.toArray
  }

  /** `global_stats`: entity-less, one row every [[GlobalStepMs]]. */
  def global(seed: Long): Array[GlobalRow] = {
    val r = rng(seed, 0x610BL)
    val n = (Days * DayMs / GlobalStepMs).toInt
    Array.tabulate(n)(i =>
      GlobalRow(T0Ms + i * GlobalStepMs, r.nextInt(1000000) / 10000.0))
  }

  /** Spine row kinds, in the order the generator draws them. */
  val SpineKinds: Seq[String] = Seq("random", "duplicate", "ttl_edge_in",
    "ttl_edge_out", "at_event", "tie", "global_edge")

  /** The entity spine: keys drawn from 1.2 × users, so about 1/6 of rows
    * never match `user_stats`. Besides random rows it plants exact
    * duplicates of earlier rows, rows exactly at and one second past a
    * stat row's TTL edge, rows exactly at a stat row's `event_ts`, rows at
    * a `created_ts` tie, and rows exactly one TTL after a global row.
    * Returns the rows and the count of each kind. */
  def spine(seed: Long, st: Array[StatRow],
      gl: Array[GlobalRow]): (Array[SpineRow], Map[String, Long]) = {
    val r = rng(seed, 0x5B1EL)
    val ties = st.indices.filter(i =>
      i > 0 && st(i).userId == st(i - 1).userId &&
        st(i).eventMs == st(i - 1).eventMs).toArray
    val keySpace = Users + Users / 5
    val counts = mutable.LinkedHashMap(SpineKinds.map(_ -> 0L): _*)
    val out = new Array[SpineRow](SpineRows)
    val ttlMs = StatsTtlS * SecMs
    for (i <- out.indices) {
      val roll = r.nextInt(1000)
      def stat = st(r.nextInt(st.length))
      val (kind, row) =
        if (roll < 20 && i > 0) "duplicate" -> out(r.nextInt(i))
        else if (roll < 30) { val x = stat; "ttl_edge_in" -> SpineRow(x.userId, x.eventMs + ttlMs) }
        else if (roll < 40) { val x = stat; "ttl_edge_out" -> SpineRow(x.userId, x.eventMs + ttlMs + SecMs) }
        else if (roll < 50) { val x = stat; "at_event" -> SpineRow(x.userId, x.eventMs) }
        else if (roll < 55 && ties.nonEmpty) {
          val x = st(ties(r.nextInt(ties.length)))
          "tie" -> SpineRow(x.userId, x.eventMs)
        }
        else if (roll < 60) {
          val g = gl(r.nextInt(gl.length))
          "global_edge" -> SpineRow(1L + r.nextInt(keySpace), g.eventMs + GlobalTtlS * SecMs)
        }
        else "random" -> SpineRow(1L + r.nextInt(keySpace),
          T0Ms + DayMs + SecMs * r.nextLong((Days - 1) * 86400L))
      out(i) = row
      counts(kind) += 1
    }
    (out, counts.toMap)
  }

  final case class PitInputs(stats: Array[StatRow], profiles: Array[ProfileRow],
      global: Array[GlobalRow], spine: Array[SpineRow],
      spineKinds: Map[String, Long]) {
    def rowCounts: Map[String, Long] = Map(
      "user_stats" -> stats.length.toLong,
      "user_profile" -> profiles.length.toLong,
      "global_stats" -> global.length.toLong,
      "spine" -> spine.length.toLong,
      "created_ts_ties" -> stats.indices.count(i => i > 0 &&
        stats(i).userId == stats(i - 1).userId &&
        stats(i).eventMs == stats(i - 1).eventMs).toLong) ++
      spineKinds.map { case (k, v) => s"spine_$k" -> v }
  }

  def pit(seed: Long): PitInputs = {
    val st = stats(seed)
    val gl = global(seed)
    val (sp, kinds) = spine(seed, st, gl)
    PitInputs(st, profiles(seed), gl, sp, kinds)
  }

  /** Percent of point-read keys drawn from ids that are never
    * materialized. */
  val MissPct: Int = 10

  /** Read keys for point reads: Zipf(1.1)-skewed over the [[Users]], with
    * [[MissPct]] percent drawn from ids above them. */
  final class KeyDraw(seed: Long) {
    private val r = rng(seed, 0x6E75L)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(Users)(i => 1.0 / math.pow(i + 1, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    // hot ranks map to scattered ids, not to the lowest ids
    private val perm: Array[Long] = {
      val a = Array.tabulate(Users)(i => (i + 1).toLong)
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    def next(): Long =
      if (r.nextInt(100) < MissPct) Users + 1L + r.nextInt(Users / 10)
      else {
        val u = r.nextDouble()
        var lo = 0; var hi = cdf.length - 1
        while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
        perm(lo)
      }
  }

  // ── curation corpus ───────────────────────────────────────────────────

  final case class Doc(docId: Long, text: String, lang: String)
  final case class Edge(src: Long, dst: Long)
  final case class Vec(id: Long, v: Array[Double])

  // Small enough that one pass of every stage takes a few seconds on a
  // 4-core box, where job launches rather than data volume dominate.
  val BaseDocs: Int = 800
  val VerbatimPct: Int = 8
  val NearPct: Int = 4
  val LowQualityPct: Int = 5
  val Nodes: Int = 5000
  val Edges: Int = 20000
  val Vectors: Int = 2000
  val Dim: Int = 64
  val Clusters: Int = 16
  val QueryBatches: Int = 3
  val QueriesPerBatch: Int = 40

  private val Stop = Array("the", "and", "of", "to", "in", "is", "that",
    "for", "it", "with", "as", "was", "on", "be", "by")
  private val Syll = Array("ka", "lo", "mi", "ter", "pon", "sa", "ve", "dru",
    "ni", "qua", "ro", "tel", "ba", "zin", "fo", "gre", "ul", "den")

  final case class CorpusInputs(docs: Array[Doc], verbatimCopies: Set[Long],
      nearCopies: Set[Long], lowQuality: Set[Long], edges: Array[Edge],
      nodes: Int, vectors: Array[Vec], queries: Array[Array[Vec]]) {
    def rowCounts: Map[String, Long] = Map(
      "documents" -> docs.length.toLong,
      "verbatim_copies" -> verbatimCopies.size.toLong,
      "near_copies" -> nearCopies.size.toLong,
      "low_quality_docs" -> lowQuality.size.toLong,
      "link_edges" -> edges.length.toLong,
      "link_nodes" -> nodes.toLong,
      "embeddings" -> vectors.length.toLong,
      "queries" -> queries.map(_.length).sum.toLong)
  }

  def corpus(seed: Long): CorpusInputs = {
    val r = rng(seed, 0xD0C5L)
    val vocab = Array.tabulate(4000)(i =>
      Syll(i % Syll.length) + Syll((i / Syll.length) % Syll.length) +
        Syll((i / (Syll.length * Syll.length)) % Syll.length))
    def word(): String =
      if (r.nextInt(100) < 30) Stop(r.nextInt(Stop.length))
      else vocab(math.min(vocab.length - 1,
        (vocab.length * math.pow(r.nextDouble(), 2)).toInt))
    val langs = Array("en", "en", "en", "en", "en", "en", "en", "de", "fr", "es")
    val texts = mutable.HashSet[String]()
    val docs = mutable.ArrayBuffer[Doc]()
    val low = mutable.Set[Long]()
    while (docs.size < BaseDocs) {
      val id = docs.size + 1L
      val t =
        if (r.nextInt(100) < LowQualityPct) {
          low += id
          Array.fill(20 + r.nextInt(40))(
            (r.nextInt(90000) + 10000).toString + "#$").mkString(" ")
        } else Array.fill(20 + r.nextInt(50))(word()).mkString(" ")
      if (texts.add(t)) docs += Doc(id, t, langs(r.nextInt(langs.length)))
      else low -= id
    }
    val base = docs.toIndexedSeq
    val verb = mutable.Set[Long](); val near = mutable.Set[Long]()
    for (_ <- 0 until BaseDocs * VerbatimPct / 100) {
      val d = base(r.nextInt(base.size)); val id = docs.size + 1L
      docs += Doc(id, d.text, d.lang); verb += id
    }
    for (_ <- 0 until BaseDocs * NearPct / 100) {
      val d = base(r.nextInt(base.size)); val id = docs.size + 1L
      val w = d.text.split(' ')
      for (_ <- 0 until 3) w(r.nextInt(w.length)) = "edit" + r.nextInt(1000)
      val t = w.mkString(" ")
      if (!texts(t)) { texts += t; docs += Doc(id, t, d.lang); near += id }
    }

    val er = rng(seed, 0xED6EL)
    val edges = Array.fill(Edges) {
      Edge(1L + er.nextInt(Nodes),
        1L + math.min(Nodes - 1, (Nodes * math.pow(er.nextDouble(), 2)).toInt))
    }

    val vr = rng(seed, 0xE3BL)
    def gauss(): Double = {
      // Box-Muller on the seeded stream (SplittableRandom has no gaussian)
      val u1 = 1.0 - vr.nextDouble(); val u2 = vr.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val centers = Array.fill(Clusters)(Array.fill(Dim)(gauss()))
    def sample(id: Long): Vec = {
      val c = centers(vr.nextInt(centers.length))
      Vec(id, c.map(x => math.rint((x + 0.35 * gauss()) * 1e6) / 1e6))
    }
    val vecs = Array.tabulate(Vectors)(i => sample(i + 1L))
    val queries = Array.tabulate(QueryBatches)(b =>
      Array.tabulate(QueriesPerBatch)(q =>
        sample(Vectors + 1L + b * QueriesPerBatch + q)))
    CorpusInputs(docs.toArray, verb.toSet, near.toSet, low.toSet, edges,
      edges.iterator.flatMap(e => Iterator(e.src, e.dst)).toSet.size,
      vecs, queries)
  }
}

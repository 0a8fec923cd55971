package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextOps.{hash32, hash32Sql}

/** Entity resolution: approximate STRING joins under an edit-distance
  * bound — the record-linkage primitive (matching dirty customer /
  * vendor / author names across feeds) that set-similarity dedup
  * (Jaccard over shingles) can't express, because a single character
  * typo is invisible to word-level tokens while edit distance prices it
  * exactly.
  *
  * Candidate generation is the POSITIONAL Q-GRAM COUNT FILTER of
  * Gravano et al., VLDB 2001 ("Approximate string joins in a database
  * (almost) for free"): k edits destroy at most q grams of EACH string
  * and shift later positions by ≤ k, so a true pair keeps at least
  * `len − q + 1 − k·q` of each side's positional q-grams matching
  * within a ±k position band, and the lengths differ by ≤ k. Both
  * per-side counts are thresholded (one-sided counting against
  * max(len) can false-negative when the other string is longer), and
  * every condition is relational: ONE equi-join on (gram, position)
  * with the ±k band folded INTO the key by replicating each left gram
  * at positions p−k..p+k — the join's fan-out is then the true
  * band-matched pair set itself, (2k+1)× smaller than a gram-only key
  * whose band filter runs after the blowup — one map-side-combinable
  * distinct-position count per candidate pair, one integer threshold.
  * Survivors are verified with
  * the exact Wagner–Fischer `levenshtein` both engines implement
  * identically over integer DP — so the operator's output is the TRUE
  * edit-distance join, the filter only prunes.
  *
  * Scale posture: the gram join's fan-out is governed by gram document
  * frequency (name-token distribution), never N²; the count filter is a
  * grouped aggregate on the (lid, rid) candidate key; the O(|s|·|t|)
  * verify runs once per SURVIVING candidate. No windows, no driver
  * state, no cartesian — the classic distributed set-similarity-join
  * shape with an edit-distance bound on top.
  */
object Fuzzy {

  /** Positional q-gram edit-distance join: all pairs (l, r) from
    * `left(idCol, nameCol)` × `right(idCol, nameCol)` with
    * `levenshtein(l.name, r.name) ≤ k`. Returns
    * `(l_id, r_id, edit_dist)`.
    *
    * `pad = true` (the default) is Gravano's full construction: each
    * name is extended with q−1 begin sentinels (U+0001) and q−1 end
    * sentinels (U+0002) before gram extraction, so a length-L string
    * yields L + q − 1 positional grams and EVERY string — down to the
    * empty string — is joinable; the count threshold becomes
    * `(L + q − 1) − k·q`. With `pad = false` (the bare construction,
    * q-gram counts `L − q + 1`) a string shorter than q has NO grams
    * and could never match — that regime now RAISES (a per-row guard
    * folded into the gram pipeline, no extra pass) instead of silently
    * false-negativing; callers who want sub-q strings dropped should
    * pre-filter explicitly.
    *
    * Ultra-short regime: the count bound guarantees a true pair shares
    * ≥ `L + q − 1 − k·q` grams (padded; `L − q + 1 − k·q` bare), which
    * is ≤ 0 — guaranteeing NOTHING, k edits can destroy every gram —
    * for `L ≤ B` where B = k·q − q + 1 padded / k·q + q − 1 bare. A
    * true pair needs only ONE side above B (that side's own bound then
    * forces ≥ 1 shared gram), so completeness needs a separate arm
    * exactly for BOTH-short pairs: a length-band join (±k folded into
    * the equi-key like the position band) over the ≤ B subset, disjoint
    * from the gram arm by construction (gram candidates with both sides
    * ≤ B are filtered out, so no dedup shuffle). That arm is
    * near-quadratic WITHIN the ultra-short subset — semantically forced
    * (at L ≤ k·q most same-length pairs ARE within k edits); for
    * short-code corpora lower q or pre-block on an exact prefix.
    * Sentinel collision caveat: names containing the control
    * characters U+0001/U+0002 would alias the sentinels — out of
    * alphabet for any real name corpus. */
  def qgramEditJoin(left: DataFrame, right: DataFrame,
      idCol: String, nameCol: String, q: Int = 3, k: Int = 2,
      pad: Boolean = true): DataFrame =
    verifyCandidates(
      qgramCandidates(left, right, idCol, nameCol, q, k, pad), k)

  /** [[qgramEditJoin]]'s candidate relation (gram-count-filter survivors
    * ∪ both-short band arm, BEFORE the exact levenshtein verify) —
    * exposed so scale probes can count candidates, the quantity the
    * filter's fan-out argument is about. Columns
    * `(lid, rid, lnm, rnm, llen, rlen)`.
    *
    * PRECONDITION: `idCol` must be UNIQUE within each input (a key for
    * its row). The count filter groups by `(lid, rid, llen, rlen)` and
    * the names re-attach by id equi-join, so duplicate ids would merge
    * the gram counts of different same-length names and cross-product
    * the re-attach — changing THIS exposed relation (the final
    * [[qgramEditJoin]] output stays correct only because the exact
    * levenshtein verify prunes the extras). Same precondition for
    * [[segmentPairCandidates]]. */
  def qgramCandidates(left: DataFrame, right: DataFrame,
      idCol: String, nameCol: String, q: Int = 3, k: Int = 2,
      pad: Boolean = true): DataFrame = {
    require(q >= 2 && k >= 1 && k <= q, s"need q >= 2, 1 <= k <= q")
    // gram count of a length-L name: L + q − 1 padded, L − q + 1 bare —
    // the count-filter threshold subtracts k·q destroyed grams from it
    val gramBase = if (pad) (q - 1).toLong else (1 - q).toLong
    def grams(df: DataFrame, p: String): DataFrame = {
      val nm = col(nameCol)
      val gsrc =
        if (pad) concat(lit("\u0001" * (q - 1)), nm, lit("\u0002" * (q - 1)))
        // bare construction: length < q would produce no grams in either
        // engine (Spark's sequence would otherwise run DESCENDING on a
        // negative span) — fail loudly instead of silently excluding;
        // the guard rides the gram-source column so it costs no extra
        // pass and cannot be pruned (the column is always consumed)
        else when(length(nm) < q, raise_error(concat(
            lit(s"qgramEditJoin: string shorter than q=$q with " +
              "pad=false (would be silently unmatchable): '"),
            nm, lit("'")))).otherwise(nm)
      df
        // (no repartition here: the gram join below pins its exchanges
        // on the join keys AFTER the explode — see gramCand — which is
        // where the parallelism floor actually matters; an id-keyed
        // shuffle of the pre-explode relation gets AQE-coalesced to one
        // partition and would not survive to the join anyway)
        // NARROW (r17, guide "shuffle keys, not payloads"): the name
        // string is NOT carried through the explode/join/aggregate —
        // 10.5M matched rows x 2 names dominated the exchange bytes and
        // the 7.5M-entry aggregation state (GC-bound); names re-attach
        // to the (tiny) filter-survivor set below
        .select(col(idCol).as(s"${p}id"),
          length(nm).cast("long").as(s"${p}len"), gsrc.as(s"${p}gs"))
        .withColumn("__x", explode(expr(
          s"transform(sequence(1, char_length(${p}gs) - ${q - 1}), " +
            s"i -> struct(substr(${p}gs, i, $q) AS g, CAST(i AS BIGINT) AS p))")))
        .select(col(s"${p}id"), col(s"${p}len"),
          col("__x.g").as(s"${p}g"), col("__x.p").as(s"${p}p"))
    }
    // the ±k position band is part of the EQUI-KEY, not a post-join
    // residual: the left grams replicate at positions p−k..p+k and the
    // join matches (gram, position) exactly — so the join's fan-out is
    // the true band-matched pair set, (2k+1)× smaller than a gram-only
    // key whose residual filter runs after the blowup. Each true
    // (lp, rp) pair matches exactly once (δ = rp − lp is unique), so
    // the distinct-position counts are unaffected.
    val lg = grams(left, "l")
      .withColumn("__d", explode(array((-k to k).map(lit(_)): _*)))
      .withColumn("ljp", col("lp") + col("__d"))
      .drop("__d")
    val rg = grams(right, "r")
    // completeness: k edits leave ≥ len − q + 1 − k·q grams of EACH
    // side untouched, and an untouched gram band-matches — so both
    // distinct-position counts must clear their own side's bound
    // (thresholding only one side against max(len) can false-negative
    // when the other string is longer)
    // the length bound below which a side's own count bound guarantees
    // zero shared grams for a true pair (see scaladoc): pairs with BOTH
    // sides <= B route through the length-band completeness arm instead
    val B = (k * q - gramBase).toLong
    // JOIN-KEY-pinned exchanges (r17): the gram join's fan-out (10.5M
    // matched rows from 5k x 5k names at sf0.1) is invisible to AQE's
    // pre-join stats (both inputs are a few MB), so the planner-owned
    // exchanges get coalesced to ONE partition and a single task grinds
    // the whole match+count stage - and near the broadcast threshold the
    // plan flip-flops between BHJ and single-partition SMJ run-to-run
    // (measured 10 s vs 80 s bimodality). Repartitioning both sides on
    // the exact equi-keys with a PINNED count (user REPARTITION_BY_NUM
    // is exempt from AQE coalescing) makes the join reuse these
    // exchanges in SMJ/SHJ mode and keeps the stream side spread in BHJ
    // mode; defaultParallelism stays scale-adaptive.
    val par = left.sparkSession.sparkContext.defaultParallelism
    // count filter over the narrow match relation. size(collect_set(p))
    // == count(DISTINCT p) (positions are never null), but it plans as
    // ONE ObjectHashAggregate with bounded per-group set state (<= gram
    // count of a name) instead of the two-countDistinct Expand plan that
    // replicated every matched row 2x before aggregating. Group keys are
    // ids + lengths only; idCol must identify its row (true of every
    // caller and of the oracle twin, which groups by (id, name) pairs —
    // identical grouping when id is a key).
    val hits = lg.repartition(par, col("lg"), col("ljp"))
      .join(rg.repartition(par, col("rg"), col("rp")),
        col("lg") === col("rg") &&
          col("ljp") === col("rp") &&
          abs(col("llen") - col("rlen")) <= k)
      .groupBy("lid", "rid", "llen", "rlen")
      .agg(size(collect_set(col("lp"))).cast("long").as("__lhits"),
        size(collect_set(col("rp"))).cast("long").as("__rhits"))
      .filter(col("__lhits") >= col("llen") + gramBase - k * q &&
        col("__rhits") >= col("rlen") + gramBase - k * q)
      .filter(!(col("llen") <= B && col("rlen") <= B))
    val gramCand = hits
      .join(left.select(col(idCol).as("lid"), col(nameCol).as("lnm")), "lid")
      .join(right.select(col(idCol).as("rid"), col(nameCol).as("rnm")), "rid")
      .select("lid", "rid", "lnm", "rnm", "llen", "rlen")
    // BOTH-short completeness arm: every (<= B, <= B) pair within the
    // ±k length band is a candidate — the band rides the equi-key (left
    // rows replicate at lengths len−k..len+k), never a cartesian; the
    // two arms are disjoint by the gram arm's both-short exclusion
    def shorts(df: DataFrame, p: String) = df
      .filter(length(col(nameCol)).cast("long") <= B &&
        (if (pad) lit(true) else length(col(nameCol)) >= q))
      // pinned like the gram arm: the length-band explode + join below
      // multiply this tiny relation past what AQE's pre-explode stats see
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol).as(s"${p}id"), col(nameCol).as(s"${p}nm"),
        length(col(nameCol)).cast("long").as(s"${p}len"))
    val shortCand = shorts(left, "l")
      .withColumn("__t", explode(array((-k to k).map(lit(_)): _*)))
      .withColumn("__bl", col("llen") + col("__t"))
      .drop("__t")
      .join(shorts(right, "r"), col("__bl") === col("rlen"))
      .select("lid", "rid", "lnm", "rnm", "llen", "rlen")
    gramCand.unionByName(shortCand)
  }

  /** Shared exact-verify suffix: candidates → the true edit join. */
  private def verifyCandidates(cand: DataFrame, k: Int): DataFrame =
    cand
      .withColumn("edit_dist", levenshtein(col("lnm"), col("rnm")))
      .filter(col("edit_dist") <= k)
      .select(col("lid").as("l_id"), col("rid").as("r_id"),
        col("edit_dist").cast("long").as("edit_dist"))

  /** The DuckDB twin of [[qgramEditJoin]] as a WITH-clause body over
    * caller-supplied relations `lrel`/`rrel` (columns `id`, `name`) —
    * the same grams, band join, count filter and levenshtein verify.
    * The final CTE `er_out` yields `(l_id, r_id, edit_dist)`. */
  def qgramEditJoinSql(lrel: String, rrel: String,
      q: Int = 3, k: Int = 2, pad: Boolean = true): String = {
    val gramBase = if (pad) q - 1 else 1 - q
    def grams(rel: String, p: String) = {
      val gsrc =
        if (pad) s"repeat(chr(1), ${q - 1}) || name || repeat(chr(2), ${q - 1})"
        else "name"
      s"""${p}grams AS (
         |  SELECT id AS ${p}id, name AS ${p}nm, len(name)::BIGINT AS ${p}len,
         |         x.g AS ${p}gr, x.p AS ${p}p
         |  FROM $rel, LATERAL (
         |    SELECT unnest(list_transform(range(1, len($gsrc) - ${q - 2}),
         |      i -> struct_pack(g := substr($gsrc, CAST(i AS INT), $q),
         |                       p := i::BIGINT))) AS x) t)""".stripMargin
    }
    val bB = k * q - gramBase
    val shortLenPred =
      if (pad) s"len(name) <= $bB" else s"len(name) BETWEEN $q AND $bB"
    s"""${grams(lrel, "l")},
       |${grams(rrel, "r")},
       |cand AS (
       |  SELECT lid, rid, lnm, rnm, llen, rlen
       |  FROM lgrams JOIN rgrams ON lgr = rgr
       |    AND abs(lp - rp) <= $k AND abs(llen - rlen) <= $k
       |  GROUP BY 1, 2, 3, 4, 5, 6
       |  HAVING count(DISTINCT lp) >= llen + $gramBase - ${k * q}
       |     AND count(DISTINCT rp) >= rlen + $gramBase - ${k * q}
       |     AND NOT (llen <= $bB AND rlen <= $bB)
       |  UNION ALL
       |  SELECT l.id, r.id, l.name, r.name,
       |         len(l.name)::BIGINT, len(r.name)::BIGINT
       |  FROM (SELECT * FROM $lrel WHERE $shortLenPred) l
       |  JOIN (SELECT * FROM $rrel WHERE $shortLenPred) r
       |    ON abs(len(l.name) - len(r.name)) <= $k),
       |er_out AS (
       |  SELECT lid AS l_id, rid AS r_id,
       |         levenshtein(lnm, rnm)::BIGINT AS edit_dist
       |  FROM cand WHERE levenshtein(lnm, rnm) <= $k)""".stripMargin
  }

  /** Partition-signature edit-distance join — the SCALE path for entity
    * resolution on head-heavy name data. Output identical to
    * [[qgramEditJoin]] (the true edit join); only candidate generation
    * differs.
    *
    * Why grams aren't enough: every q-gram scheme (Gravano count filter,
    * Ed-Join frequency prefixes) keys candidates by length-q substrings,
    * and a name corpus has a BOUNDED gram alphabet with a heavy head —
    * the most common given name is carried by ~0.5–1.5 % of all people,
    * so its positional grams alone contribute Θ((p·N)²) join fan-out no
    * matter how the filter thresholds are tuned. The cure is LONGER
    * signatures spanning the high-entropy part of the string, which is
    * what partition schemes give (PassJoin — Li, Deng, Feng, PVLDB 5(1)
    * 2011: pigeonhole over k+1 disjoint segments; PartEnum — Arasu,
    * Ganti, Kaushik, VLDB 2006: multi-piece signatures for stronger
    * pruning).
    *
    * This operator uses the TWO-SEGMENT pigeonhole: partition each right
    * name into k+2 disjoint segments (even split). An optimal alignment
    * locates each of the ≤ k edits in exactly one right segment, so at
    * least TWO segments are untouched; each untouched segment appears
    * verbatim in the left string, shifted by the net indel count before
    * it. If sA is the earlier copy's shift and sB the later's, then
    * |sA| + |sB − sA| ≤ k (indels before A plus indels between A and B
    * never exceed the edit budget). Candidates are therefore ONE
    * equi-join on (segA, segB, slotA, slotB, rlen): the right side emits
    * its C(k+2, 2) segment pairs; the left side enumerates right lengths
    * ℓ ∈ [len−k, len+k] (semi-joined against the observed distinct right
    * lengths — a value-space-bounded relation, ≤ max name length rows,
    * broadcast by construction), the segment-pair slots, and the
    * |sA| + |d| ≤ k shift grid, and extracts the would-be copies by
    * substring. Survivors dedup to (lid, rid) and verify with the exact
    * `levenshtein` — the output IS the true edit join, candidates only
    * prune.
    *
    * Scale posture: a candidate needs TWO segments of length
    * ≈ len/(k+2) matching jointly, so the key space is exponential in
    * the segment length and the fan-out of a head block (everyone named
    * "james") is divided by the entropy of the OTHER segment — the
    * surname-bearing slots. On a corpus with high-entropy surnames the
    * candidate count is Θ(true pairs + N²/2^(joint segment bits)),
    * linear until N approaches the joint key space, where any
    * bounded-alphabet gram scheme is already quadratic in the given-name
    * head. Names shorter than k+2 (cannot host k+2 nonempty segments)
    * route through a band-join completeness arm over that ≤ (k+1)-char
    * subset, disjoint from the main arm by right length.
    */
  def segmentPairEditJoin(left: DataFrame, right: DataFrame,
      idCol: String, nameCol: String, k: Int = 2): DataFrame =
    verifyCandidates(
      segmentPairCandidates(left, right, idCol, nameCol, k), k)

  /** [[segmentPairEditJoin]]'s deduped candidate relation (segment-pair
    * equi-join survivors ∪ short-right band arm, BEFORE the exact
    * levenshtein verify) — exposed so scale probes can count candidates
    * head-to-head against [[qgramCandidates]]. Columns
    * `(lid, rid, lnm, rnm)`.
    *
    * PRECONDITION (same as [[qgramCandidates]]): `idCol` must be UNIQUE
    * within each input — the candidate dedup and name re-attach key on
    * ids, so duplicate ids would merge distinct rows' candidates and
    * cross-product the re-attach in this exposed relation. */
  def segmentPairCandidates(left: DataFrame, right: DataFrame,
      idCol: String, nameCol: String, k: Int = 2): DataFrame = {
    require(k >= 1, "need k >= 1")
    val nSeg = k + 2
    // even split of a length-L string into nSeg segments: the first
    // L mod nSeg segments get ⌈L/nSeg⌉ chars, the rest ⌊L/nSeg⌋ — both
    // sides compute the SAME deterministic boundaries from (slot, L)
    def q(l: Column): Column =
      ((l - pmod(l, lit(nSeg.toLong))) / nSeg).cast("long")
    def segLen(i: Column, l: Column): Column =
      q(l) + when(i < pmod(l, lit(nSeg.toLong)), 1L).otherwise(0L)
    def segStart(i: Column, l: Column): Column =
      lit(1L) + i * q(l) + least(i, pmod(l, lit(nSeg.toLong)))
    val slotPairs = for {
      a <- 0 until nSeg; b <- (a + 1) until nSeg
    } yield (a, b)
    val pairArr = array(slotPairs.map { case (a, b) =>
      struct(lit(a.toLong).as("a"), lit(b.toLong).as("b"))
    }: _*)
    // the |sA| + |d| ≤ k shift grid (d = sB − sA): 13 cells at k = 2
    val shiftArr = array((for {
      sA <- -k to k; d <- -(k - math.abs(sA)) to (k - math.abs(sA))
    } yield struct(lit(sA.toLong).as("sa"), lit(d.toLong).as("d"))): _*)

    val r0 = right
      // pinned parallelism floor (see qgramCandidates): the segment-pair
      // explode below multiplies this tiny relation past what AQE's
      // pre-explode stats see, and an unpinned keyed repartition gets
      // coalesced to one task
      .repartition(right.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol).as("rid"), col(nameCol).as("rnm"),
        length(col(nameCol)).cast("long").as("rlen"))
    // NARROW (r17): the name string is not carried through the explode
    // or the signature join — segments are derived here and the names
    // re-attach to the deduped candidate set at the end
    val rMain = r0.filter(col("rlen") >= nSeg)
      .withColumn("__ab", explode(pairArr))
      .select(col("rid"), col("rnm"), col("rlen"),
        col("__ab.a").as("ra"), col("__ab.b").as("rb"))
      .select(col("rid"), col("rlen"), col("ra"), col("rb"),
        col("rnm").substr(segStart(col("ra"), col("rlen")).cast("int"),
          segLen(col("ra"), col("rlen")).cast("int")).as("rsegA"),
        col("rnm").substr(segStart(col("rb"), col("rlen")).cast("int"),
          segLen(col("rb"), col("rlen")).cast("int")).as("rsegB"))

    // observed distinct right lengths: bounded by the VALUE SPACE (max
    // name length), never the corpus — broadcast is structural here
    val rLens = r0.select(col("rlen").as("ell")).distinct()
    val l0 = left
      .repartition(left.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol).as("lid"), col(nameCol).as("lnm"),
        length(col(nameCol)).cast("long").as("llen"))
    val lProbe = l0
      .withColumn("__t", explode(array((-k to k).map(t => lit(t.toLong)): _*)))
      .withColumn("ell", col("llen") + col("__t"))
      .filter(col("ell") >= nSeg)
      .join(broadcast(rLens), "ell")
      .withColumn("__ab", explode(pairArr))
      .withColumn("__sh", explode(shiftArr))
      .select(col("lid"), col("lnm"), col("llen"), col("ell"),
        col("__ab.a").as("la"), col("__ab.b").as("lb"),
        (segStart(col("__ab.a"), col("ell")) + col("__sh.sa")).as("pA"),
        segLen(col("__ab.a"), col("ell")).as("wA"),
        (segStart(col("__ab.b"), col("ell")) + col("__sh.sa") +
          col("__sh.d")).as("pB"),
        segLen(col("__ab.b"), col("ell")).as("wB"))
      .filter(col("pA") >= 1 && col("pA") + col("wA") - 1 <= col("llen") &&
        col("pB") >= 1 && col("pB") + col("wB") - 1 <= col("llen"))
      .select(col("lid"), col("ell"), col("la"), col("lb"),
        col("lnm").substr(col("pA").cast("int"), col("wA").cast("int"))
          .as("lsegA"),
        col("lnm").substr(col("pB").cast("int"), col("wB").cast("int"))
          .as("lsegB"))

    // JOIN-KEY-pinned exchanges, same rationale as qgramCandidates: the
    // probe side explodes ~(2k+1)·pairs·shifts (~390x at k = 2) past
    // anything AQE's pre-join stats can see, so without a pinned
    // repartition on the equi-keys the signature join runs in one
    // AQE-coalesced partition (measured 11 s vs 80 s run-to-run at
    // sf0.1 as the plan flip-flopped near the broadcast threshold)
    val par = left.sparkSession.sparkContext.defaultParallelism
    val mainCand = lProbe
      .repartition(par, col("lsegA"), col("lsegB"),
        col("la"), col("lb"), col("ell"))
      .join(rMain.repartition(par, col("rsegA"), col("rsegB"),
          col("ra"), col("rb"), col("rlen")),
        col("lsegA") === col("rsegA") && col("lsegB") === col("rsegB") &&
          col("la") === col("ra") && col("lb") === col("rb") &&
          col("ell") === col("rlen"))
      .select(col("lid"), col("rid"))

    // completeness arm for rights too short to host k+2 nonempty
    // segments (rlen ≤ k+1): a length-band join over that tiny subset —
    // the band rides the equi-key (left replicates at llen−k..llen+k)
    val rShort = r0.filter(col("rlen") < nSeg)
    val shortCand = l0
      .withColumn("__t", explode(array((-k to k).map(t => lit(t.toLong)): _*)))
      .withColumn("__bl", col("llen") + col("__t"))
      .join(rShort, col("__bl") === rShort("rlen"))
      .select(col("lid"), col("rid"))

    // dedup on the narrow (lid, rid) pairs, then re-attach names for the
    // verify — two small equi-joins against the input relations (idCol
    // must identify its row, as in every caller and the oracle twin)
    mainCand.unionByName(shortCand)
      .distinct()
      .join(left.select(col(idCol).as("lid"), col(nameCol).as("lnm")), "lid")
      .join(right.select(col(idCol).as("rid"), col(nameCol).as("rnm")), "rid")
      .select(col("lid"), col("rid"), col("lnm"), col("rnm"))
  }

  /** The 64-word fixture vocabulary for the entity-resolution query —
    * pairwise edit distance ≥ 3 (verified at generation), so two
    * 3-word names differing in ANY word slot are > k = 2 apart and the
    * only true matches are a name and its perturbations (or an exact
    * 1-in-64³ name collision). Shared verbatim with the oracle. */
  val ErWords: IndexedSeq[String] = IndexedSeq(
    "anchor", "bramble", "cascade", "dolphin", "ember", "fortress",
    "glacier", "harvest", "island", "jasmine", "kernel", "lantern",
    "meadow", "nocturne", "orchard", "pavilion", "quarry", "rampart",
    "saffron", "umbrella", "vortex", "walnut", "xylophone", "yonder",
    "zephyr", "basilica", "cobalt", "drizzle", "enclave", "foxglove",
    "granite", "hemlock", "ivory", "juniper", "kestrel", "lagoon",
    "marble", "nimbus", "obsidian", "parchment", "quiver", "russet",
    "sterling", "thistle", "velvet", "wisteria", "yarrow", "zucchini",
    "almond", "breeze", "crimson", "flint", "grove", "harbor", "inlet",
    "jigsaw", "knoll", "ledger", "mosaic", "nutmeg", "prairie",
    "sycamore", "topaz", "waterfall")

  /** Deterministic 3-word entity name for a key — word i picked by
    * `hash32("ern" i ":" key) % 64` from [[ErWords]]. */
  def erName(key: Column): Column = {
    val arr = array(ErWords.map(lit(_)): _*)
    def w(i: Int) = element_at(arr,
      (pmod(hash32(concat(lit(s"ern$i:"), key.cast("string"))), lit(64L))
        + 1L).cast("int"))
    concat_ws(" ", w(1), w(2), w(3))
  }

  /** The DuckDB twin of [[erName]]. */
  def erNameSql(keySql: String): String = {
    val arr = ErWords.map(w => s"'$w'").mkString("[", ", ", "]")
    def w(i: Int) =
      s"$arr[CAST(${hash32Sql(s"'ern$i:' || CAST($keySql AS VARCHAR)")} " +
        s"% 64 + 1 AS INT)]"
    s"(${w(1)} || ' ' || ${w(2)} || ' ' || ${w(3)})"
  }

  /** Deterministic dirt: with h = hash32("erp:" key) and 0-based
    * position p = (h div 4) mod len(name) — h%4 = 0 substitutes the
    * char at p with '0' (never a no-op: [[ErWords]] contain no digits),
    * h%4 = 1 deletes it, else the name is clean. One substitution or
    * deletion ⇒ true edit distance exactly 1. */
  def erDirty(name: Column, key: Column): Column = {
    val h = hash32(concat(lit("erp:"), key.cast("string")))
    val m = pmod(h, lit(4L))
    // h < 2^32 and non-negative: shiftright(h, 2) IS h div 4
    val p = pmod(shiftright(h, 2), length(name).cast("long"))
    val pre = name.substr(lit(1), p.cast("int"))
    val post = name.substr((p + lit(2L)).cast("int"), length(name))
    when(m === 0L, concat(pre, lit("0"), post))
      .when(m === 1L, concat(pre, post))
      .otherwise(name)
  }

  // ---- realistic name corpus (the probe-rowable generator) ----------
  //
  // The 64-word fixture above deliberately CAPS gram diversity (its
  // point is a cheap, collision-free gate); a scale row priced on it
  // would measure the fixture's degenerate gram df, not the operator
  // (the lesson of STATUS.md's Zipfian-vocabulary contrast table).
  // erName2 is the probe generator: full names
  // with the two statistical properties that govern edit-join fan-out
  // on real person/vendor records —
  //   * a HEAD-HEAVY given name (two-draw octave-Zipf over 2^16 ranks:
  //     e = max of two uniform octave draws, rank uniform inside the
  //     octave — P(top name) ≈ 0.4 %, the US-census ballpark, and the
  //     head block is what breaks gram schemes), and
  //   * a HIGH-ENTROPY surname (48 uniform bits — the identity-carrying
  //     tail every real record corpus has; it is what partition
  //     signatures exploit and gram df can't see).
  // Words are rendered as proquints (Wilkerson 2009: 16 consonants ×
  // 4 vowels alternating, 16 bits per 5-char word) so the character
  // statistics are pronounceable-name-like and every arithmetic step is
  // integer-exact in both engines (no exp/log FP to diverge on).

  private val PqCon = "bdfghjklmnprstvz"
  private val PqVow = "aiou"

  /** 5-char proquint of the low 16 bits of a non-negative long. */
  def proquint16(v: Column): Column = {
    def c(shift: Int) = lit(PqCon).substr(
      (pmod(shiftright(v, shift), lit(16L)) + 1L).cast("int"), lit(1))
    def w(shift: Int) = lit(PqVow).substr(
      (pmod(shiftright(v, shift), lit(4L)) + 1L).cast("int"), lit(1))
    concat(c(12), w(10), c(6), w(4), c(0))
  }

  /** The DuckDB twin of [[proquint16]]. */
  def proquint16Sql(vSql: String): String = {
    def c(div: Long) =
      s"substr('$PqCon', CAST((($vSql) // $div) % 16 AS INT) + 1, 1)"
    def w(div: Long) =
      s"substr('$PqVow', CAST((($vSql) // $div) % 4 AS INT) + 1, 1)"
    s"(${c(4096)} || ${w(1024)} || ${c(64)} || ${w(16)} || ${c(1)})"
  }

  /** Deterministic full entity name for a key: `surname given` with a
    * 15-char uniform-48-bit surname (three proquints) and a 5-char
    * two-draw-octave-Zipf given name — 21 chars total. Surname first so
    * the even segment split puts high-entropy characters in every
    * segment-pair signature. Integer-exact; replayed by [[erName2Sql]]. */
  def erName2(key: Column): Column = {
    def h(tag: String) =
      TextOps.hash32(concat(lit(tag), key.cast("string")))
    val hg = h("egn:"); val hg2 = h("egm:")
    val em = greatest(pmod(hg, lit(16L)), pmod(hg2, lit(16L)))
    val pw = element_at(
      array((0 to 15).map(i => lit(1L << i)): _*), (em + 1L).cast("int"))
    val rank = pw + pmod(shiftright(hg, 4), pw)
    val sur = concat(
      proquint16(pmod(h("es1:"), lit(65536L))),
      proquint16(pmod(h("es2:"), lit(65536L))),
      proquint16(pmod(h("es3:"), lit(65536L))))
    concat(sur, lit(" "), proquint16(rank))
  }

  /** The DuckDB twin of [[erName2]]. */
  def erName2Sql(keySql: String): String = {
    def h(tag: String) =
      hash32Sql(s"'$tag' || CAST($keySql AS VARCHAR)")
    val hg = h("egn:"); val hg2 = h("egm:")
    val pwList = (0 to 15).map(i => (1L << i).toString).mkString("[", ", ", "]")
    val pw = s"($pwList[CAST(greatest(($hg) % 16, ($hg2) % 16) AS INT) + 1])"
    val rank = s"($pw + ((($hg) // 16) % $pw))"
    val sur = Seq("es1:", "es2:", "es3:")
      .map(t => proquint16Sql(s"(${h(t)}) % 65536"))
      .mkString(" || ")
    s"($sur || ' ' || ${proquint16Sql(rank)})"
  }

  /** The DuckDB twin of [[erDirty]] over a name SQL fragment. */
  def erDirtySql(nameSql: String, keySql: String): String = {
    val h = hash32Sql(s"'erp:' || CAST($keySql AS VARCHAR)")
    val p = s"((($h) // 4) % len($nameSql))"
    val pre = s"substr($nameSql, 1, CAST($p AS INT))"
    val post = s"substr($nameSql, CAST($p + 2 AS INT))"
    s"""(CASE
       |  WHEN ($h) % 4 = 0 THEN $pre || '0' || $post
       |  WHEN ($h) % 4 = 1 THEN $pre || $post
       |  ELSE $nameSql END)""".stripMargin
  }
}

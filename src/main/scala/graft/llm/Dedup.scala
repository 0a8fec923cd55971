package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSql.sizedView
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TextOps._

/** Deduplication operators for large-scale training-data pipelines: exact,
  * n-gram-Jaccard, MinHash-LSH and SimHash near-dup detection.
  *
  * Scale posture (the 100 TB contract): every operator is bucketed — work
  * is keyed by content hash, shingle, LSH band, or SimHash band, so the
  * only shuffles are hash-partitioned groupBys/joins and NOTHING ever
  * all-pairs-crossJoins or collects document data to the driver. The one
  * quadratic corner (two documents sharing a band/shingle) is inherent to
  * the algorithm and local to a bucket; the Jaccard join additionally
  * prunes hot shingles by construction (prefix filtering ranks by global
  * frequency, so "stop-shingles" never enter the candidate index).
  */
object Dedup {

  /** Exact dedup over normalized text: one group per md5(normalized),
    * keeping the smallest id as the canonical document.
    * Output: (keep_id, n_dups, text_hash). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), md5(normText(col(textCol))).as("text_hash"))
      .groupBy("text_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups", "text_hash")

  /** Keep-one-per-group exact dedup returning the surviving rows
    * (row_number over the content hash — the materializing variant). */
  def dropExactDuplicates(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(normText(col(textCol))))
      .orderBy(col(idCol))
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Per-document sorted DISTINCT hashed-shingle arrays: (doc_id, s32).
    *
    * This is a pure per-row projection — normalize → word array → n-gram
    * array ([[TextOps.wordNgrams]], array bound once so the split/regexp
    * isn't re-evaluated per element) → per-element 32-bit md5 hash →
    * `array_distinct` → `sort_array` — so building every document's
    * shingle SET costs ZERO shuffles. The round-2 shape (posexplode +
    * window `lead` over a doc_id-partitioned window, then groupBys back
    * to per-doc arrays) shuffled the entire exploded token relation
    * twice before any dedup work started; at 100 TB that shuffle volume
    * is ~token-count × 16 B, strictly worse than per-row interpreted HOF
    * evaluation.
    *
    * Shingles become 32-bit md5-derived longs immediately, so every
    * downstream join/groupBy/intersection runs on longs, not strings.
    * The DuckDB oracles hash with the identical function, so results
    * match exactly even in the (≈2^-32) event of a hash collision.
    *
    * The result is materialized (`GraftSql.sizedView`): four-plus
    * downstream branches (freq, both prefix-index join sides, both verify
    * sides) read it, and the materialized relation is ~50× smaller than
    * the text corpus — one corpus scan per dedup query instead of one per
    * branch. (Plain `persist` was tried in round 2 and rejected:
    * InMemoryRelation stats flipped join strategies for the worse; the
    * view's measured row count and byte size were re-checked at sf0.1.) */
  private def shingleSets(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    sizedView(df.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"), wordNgrams("w", n).as("gs"))
      .select(col("doc_id"),
        sort_array(array_distinct(transform(col("gs"), g => hash32(g))))
          .as("s32")))

  /** Exact n-gram Jaccard near-dup pairs with PREFIX FILTERING (Chaudhuri
    * et al., the standard exact similarity-join pruning): order each doc's
    * shingles by ascending global document frequency and index only the
    * first |A| - ⌈τ·|A|⌉ + 1 of them; any pair with J ≥ τ must collide on
    * an indexed (rare) shingle, so candidate generation joins on rare
    * shingles only — lossless, and the hot "stop-shingles" that make a
    * naive shingle join quadratic never enter the index. Candidates are
    * then verified with an exact set intersection of the full shingle
    * arrays. Output: (id_a, id_b, inter, size_a, size_b, jaccard) with
    * jaccard >= tau and id_a < id_b — identical to brute force.
    *
    * Scale: the doc-frequency table and index are shingle-hash-partitioned;
    * the verify join is candidate-keyed. No all-pairs work, and the skew
    * that kills the naive join is pruned by construction. */
  def jaccardShinglePairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.5): DataFrame =
    jaccardPairsOwned(df, idCol, textCol, n, tau)._1

  /** [[jaccardShinglePairs]] with the two materialized frames its pairs
    * read (the shingle sets and the prefix index): a caller that
    * materializes everything it needs from the pairs releases exactly
    * these, by identity, with `GraftSql.unpersistCheckpoint`. */
  private def jaccardPairsOwned(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): (DataFrame, Seq[DataFrame]) = {
    val sets = shingleSets(df, idCol, textCol, n)
    // Exploded view WITH the size carried along — explode of a per-row
    // array, so (unlike the round-2 groupBy-then-join-back) deriving
    // (doc_id, sz, g32) costs no shuffle and no join at all.
    val exSz = sets.select(col("doc_id"), size(col("s32")).as("sz"),
      explode(col("s32")).as("g32"))
    val ex = exSz.select("doc_id", "g32")
    val freq = ex.groupBy("g32").agg(count(lit(1)).as("df"))
    // Rank shingles within each doc by (global df, shingle); index the
    // prefix: rank <= sz - ceil(tau*sz) + 1.
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("g32"))
    // materialized: both sides of the candidate self-join read the
    // prefix index — without it the freq-join + ranking window run twice
    // (measured: 9 exchanges / 2 windows → 6 / 1). The index is tiny
    // (≤ one row per doc × prefix length).
    val prefix = sizedView(exSz.join(freq, "g32")
      .withColumn("rk", row_number().over(w))
      // ε guards FP noise in τ·sz: it can only LENGTHEN the prefix, so
      // pruning stays lossless.
      .filter(col("rk") <= col("sz") - ceil(lit(tau) * col("sz") - lit(1e-9)) + 1)
      .select("doc_id", "g32", "sz", "rk"))
    // PPJoin residual filters, both lossless for J >= tau:
    //  - size compatibility: τ·|A| <= |B| <= |A|/τ;
    //  - positional: the suffixes after the colliding prefix entry must
    //    still be able to reach the required overlap
    //    α = ⌈τ/(1+τ)·(|A|+|B|)⌉.
    val alpha = ceil(
      lit(tau / (1 + tau)) * (col("a.sz") + col("b.sz")) - lit(1e-9))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.g32") === col("b.g32") && col("a.doc_id") < col("b.doc_id") &&
          col("b.sz") >= ceil(lit(tau) * col("a.sz") - lit(1e-9)) &&
          col("a.sz") >= ceil(lit(tau) * col("b.sz") - lit(1e-9)) &&
          least(col("a.sz") - col("a.rk"), col("b.sz") - col("b.rk")) + 1 >= alpha)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val pairs = cands
      .join(sets.select(col("doc_id").as("id_a"), col("s32").as("sa")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("s32").as("sb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("size_a", size(col("sa")))
      .withColumn("size_b", size(col("sb")))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")), 6))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
    (pairs, Seq(sets, prefix))
  }

  /** INCREMENTAL ingestion dedup, pair stage: cross-side Jaccard pairs
    * of `incoming` documents against an existing `corpus` — the shape a
    * pipeline runs per ingest batch, where recomputing corpus×corpus
    * pairs daily is exactly the waste to avoid. Output:
    * `(id_new, id_corpus, inter, size_new, size_corpus, jaccard)` with
    * `jaccard >= tau` — identical to brute-force cross-side comparison.
    *
    * The prefix order is CORPUS-ONLY document frequency (unseen shingles
    * rank rarest at df 0): prefix filtering is lossless under ANY total
    * order shared by both sides, and pinning it to the corpus makes the
    * corpus's frequency table and prefix index deterministic functions
    * of the corpus alone — persist them once and amortize across every
    * ingest batch (the [[graft.queries.LlmQueries]] cache pattern).
    * Candidate generation joins incoming prefixes to corpus prefixes
    * only: no incoming×incoming or corpus×corpus work anywhere. */
  def jaccardPairsAgainst(
      incoming: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, n: Int = 3, tau: Double = 0.5): DataFrame = {
    val setsN = shingleSets(incoming, idCol, textCol, n)
    val setsC = shingleSets(corpus, idCol, textCol, n)
    def exploded(sets: DataFrame) = sets.select(col("doc_id"),
      size(col("s32")).as("sz"), explode(col("s32")).as("g32"))
    val exN = exploded(setsN)
    val exC = exploded(setsC)
    val freqC = exC.groupBy("g32").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("g32"))
    def prefix(ex: DataFrame) = sizedView(ex
      .join(freqC, Seq("g32"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - ceil(lit(tau) * col("sz") - lit(1e-9)) + 1)
      .select("doc_id", "g32", "sz", "rk"))
    val pN = prefix(exN)
    val pC = prefix(exC) // corpus-only function of (corpus, tau) — cacheable
    val alpha = ceil(
      lit(tau / (1 + tau)) * (col("a.sz") + col("b.sz")) - lit(1e-9))
    val cands = pN.as("a")
      .join(pC.as("b"),
        col("a.g32") === col("b.g32") &&
          col("b.sz") >= ceil(lit(tau) * col("a.sz") - lit(1e-9)) &&
          col("a.sz") >= ceil(lit(tau) * col("b.sz") - lit(1e-9)) &&
          least(col("a.sz") - col("a.rk"), col("b.sz") - col("b.rk")) + 1 >= alpha)
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_corpus"))
      .distinct()
    cands
      .join(setsN.select(col("doc_id").as("id_new"), col("s32").as("sa")), "id_new")
      .join(setsC.select(col("doc_id").as("id_corpus"), col("s32").as("sb")), "id_corpus")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("size_new", size(col("sa")))
      .withColumn("size_corpus", size(col("sb")))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("size_new") + col("size_corpus") - col("inter")), 6))
      .filter(col("jaccard") >= tau)
      .select("id_new", "id_corpus", "inter", "size_new", "size_corpus",
        "jaccard")
  }

  /** INCREMENTAL ingestion dedup, materializing stage: the `incoming`
    * rows that survive against the corpus — not an exact copy of any
    * corpus document (content-hash anti-join on the small distinct hash
    * set) and not a near-duplicate of one ([[jaccardPairsAgainst]]).
    * Incoming-vs-incoming duplicates are deliberately NOT dropped here:
    * that is [[dropNearDuplicates]] on the batch, composable before or
    * after. */
  def dropDuplicatesAgainst(
      incoming: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, n: Int = 3, tau: Double = 0.5): DataFrame = {
    val corpusHashes = corpus
      .select(md5(normText(col(textCol))).as("__graft_h")).distinct()
    val nearIds = jaccardPairsAgainst(incoming, corpus, idCol, textCol, n, tau)
      .select(col("id_new").as("__graft_near")).distinct()
    // no broadcast hints, and deliberately NO measured-stats
    // materialization here (unlike the loser sites' antiJoinDropSized):
    // the hash relation is CORPUS-sized and the near-id subtree shares
    // its incoming scan with the main pass — splitting either into its
    // own sizedView job re-scans the inputs and measured +0.9–1.4 s at
    // sf0.1 for nothing AQE's runtime sizing wasn't already doing.
    incoming
      .withColumn("__graft_h", md5(normText(col(textCol))))
      .join(corpusHashes, Seq("__graft_h"), "left_anti")
      .join(nearIds, col(idCol) === col("__graft_near"), "left_anti")
      .drop("__graft_h")
  }

  /** CONTAINMENT search: pairs `(id_needle, id_hay)` where at least
    * fraction `c` of the needle's shingles appear in the haystack
    * document — the quote/excerpt detector. Jaccard CANNOT express this
    * when sizes differ (a 64-token chunk inside a 10k-token doc has
    * J ≈ 0.006 at containment 1.0); containment is the asymmetric
    * measure the task needs.
    *
    * Pruning: the needle side indexes only its first
    * |A| − ⌈c·|A|⌉ + 1 shingles under the haystack-df total order (the
    * prefix-filter argument applies verbatim to containment: missing
    * ALL prefix entries leaves fewer than ⌈c·|A|⌉ possible hits). The
    * haystack side must index every shingle — no size-compatibility
    * pruning exists for containment, which is the honest price of
    * asymmetric search; ordering the needle prefix by haystack df keeps
    * hot shingles out of the join's driving side. Candidates are
    * verified with an exact intersection. */
  def containmentPairs(
      needles: DataFrame, haystack: DataFrame, idCol: String,
      textCol: String, n: Int = 3, c: Double = 0.9): DataFrame = {
    require(c > 0 && c <= 1, "containment threshold must be in (0, 1]")
    // Both shingle relations are EAGERLY materialized (the
    // connectedComponents pattern): the plan below references the
    // needle sets twice (prefix build + exact verify) and the haystack
    // sets three times (df stats, candidate postings, verify), and
    // without materialization each reference re-runs the full
    // tokenize→shingle→hash scan — 3× the corpus-dominant work, and
    // the round-14 diagnosis of this query's bimodal timings (2.4 s vs
    // 22 s on identical data across identical fresh JVMs; the r13
    // official artifact's 16 s outlier): whatever compilation/GC mode
    // the JVM lands in is amplified threefold. One materialized pass
    // caps the blast radius and is what the operator means anyway —
    // a posting list is BUILT once, not re-derived per consumer.
    val setsN = shingleSets(needles, idCol, textCol, n)
      .filter(size(col("s32")) > 0)
    val setsH = shingleSets(haystack, idCol, textCol, n)
    val postings = setsH.select(col("doc_id"), explode(col("s32")).as("g32"))
    val freqH = postings.groupBy("g32").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("g32"))
    val prefixN = setsN
      .select(col("doc_id"), size(col("s32")).as("sz"),
        explode(col("s32")).as("g32"))
      .join(freqH, Seq("g32"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - ceil(lit(c) * col("sz") - lit(1e-9)) + 1)
      .select(col("doc_id").as("id_needle"), col("g32"))
    val cands = prefixN
      .join(postings.select(col("doc_id").as("id_hay"), col("g32")), "g32")
      .select("id_needle", "id_hay").distinct()
    cands
      .join(setsN.select(col("doc_id").as("id_needle"), col("s32").as("sa")),
        "id_needle")
      .join(setsH.select(col("doc_id").as("id_hay"), col("s32").as("sb")),
        "id_hay")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("size_needle", size(col("sa")))
      .withColumn("containment",
        round(col("inter").cast("double") / col("size_needle"), 6))
      .filter(col("containment") >= c)
      .select("id_needle", "id_hay", "inter", "size_needle", "containment")
  }

  /** MinHash-LSH near-dup pairs: shingle → 32-bit hash → `numHashes`
    * permutation minima → `bands` banded signatures → candidates = pairs
    * agreeing on ≥1 full band → exact-Jaccard verification of candidates
    * only. Candidate generation is a plain equi-join on (band, band
    * signature) — hash-partitioned, no all-pairs work anywhere.
    * Output: (id_a, id_b, est_sim, jaccard) with jaccard >= tau.
    *
    * est_sim = fraction of agreeing minhashes (the LSH estimate); jaccard
    * is the exact verified similarity. Hashes are md5-derived and the
    * permutations are fixed constants, so the whole pipeline is
    * reproducible in ANSI SQL (see LlmQueries' oracle). */
  def minHashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      tau: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // Docs with no shingle (shorter than n words) are dropped here, as the
    // round-2 groupBy implicitly did — otherwise their all-NULL signatures
    // would band-collide with each other via concat_ws's null-skipping.
    val sets = shingleSets(df, idCol, textCol, n)
      .filter(size(col("s32")) > 0)
    // All `numHashes` signature minima as PER-ROW array_min folds over the
    // doc's shingle array — the round-2 shape (groupBy over the exploded
    // shingle relation) shuffled every (doc_id, shingle) row; this shuffles
    // nothing. Same values: s32 is distinct, min is duplicate-insensitive.
    val permCols = permConstants(numHashes).map { case (i, a, b) =>
      array_min(transform(col("s32"), x => (lit(a) * x + lit(b)) % P))
        .as(s"mh$i")
    }
    val sigs = sets.select(col("doc_id") +: permCols: _*)

    // Banded signatures: band j concatenates mh[j*r .. j*r+r-1].
    val bandsDf = sigs.select(col("doc_id"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"),
          concat_ws(",", (j * r until (j + 1) * r).map(i =>
            col(s"mh$i").cast("string")): _*).as("bkey"))): _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bkey"))

    val cands = bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

    // Full signatures (as an array) for the LSH estimate.
    val fullSig = sigs.select(col("doc_id"),
      array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"))

    // Verify candidates with exact Jaccard on the (distinct) hashed sets.
    cands
      .join(sets.select(col("doc_id").as("id_a"), col("s32").as("sa")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("s32").as("sb")), "id_b")
      .join(fullSig.select(col("doc_id").as("id_a"), col("sig").as("siga")), "id_a")
      .join(fullSig.select(col("doc_id").as("id_b"), col("sig").as("sigb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("inter")), 6))
      .withColumn("est_sim",
        round(size(filter(zip_with(col("siga"), col("sigb"),
          (x, y) => x === y), b => b)).cast("double") / numHashes, 6))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "est_sim", "jaccard")
  }

  /** Near-dup CLUSTER ASSIGNMENT — the step after pair generation that an
    * actual dedup pipeline needs: connected components over the pair
    * graph, labeling every involved document with the smallest doc id
    * reachable from it (the canonical representative). Keep-one dedup is
    * then `cluster_id = doc_id` survivors. Output: (doc_id, cluster_id)
    * for every doc appearing in ≥1 pair.
    *
    * Planned from the graph's MEASURED size: one job materializes the
    * (a, b) projection (`GraftSql.sizedView`), counting NULL ids in the
    * same pass, and its exact byte size picks the route.
    *
    * '''Driver route''' — the pairs fit Spark's broadcast bound
    * (`GraftSql.fitsBroadcast`: `0 ≤ bytes ≤
    * spark.sql.autoBroadcastJoinThreshold`, so -1 never fits) and the id
    * type has value equality and a Spark ordering on the driver
    * ([[driverOrdered]]). One more job collects the pairs;
    * [[driverComponents]] union-finds them and the labels come back as a
    * local relation. These are the bytes a broadcast join would collect
    * anyway: two jobs in all, no label rounds.
    *
    * '''Rounds route''' — everything else: [[labelRounds]], min-label
    * propagation with pointer jumping on [[Rounds]], reading the same
    * materialization. Given a clique map (`cliques: (id, rep)`, each rep
    * the min id of a set of nodes known to be mutually connected, such as
    * exact duplicates), the cliques are first contracted to their reps
    * and the labels fanned back out afterwards ([[contractedComponents]]).
    * `maxIter` bounds this route's rounds only — a graph still changing
    * after `maxIter` rounds fails; the driver route runs no rounds and
    * never reads `cliques`.
    *
    * Ids keep their ORIGINAL column type end-to-end (any orderable atomic
    * type — long, string, UUID-as-string — works; `min` is the label
    * order). NULL ids are rejected eagerly, alike on both routes: a NULL
    * would silently drop edges (NULL never equi-joins) and turn dedup
    * into a no-op. Both routes return the same rows and schema, and
    * neither leaves the pair materialization persisted. The rounds
    * route's result reads its materialized labels (through a projection
    * when no clique map is given), so release it with
    * `unpersistCheckpointTree`. */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50, cliques: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.GraftSql.{fitsBroadcast, unpersistCheckpoint}
    val idType = pairIdType(pairs, aCol, bCol)
    val (p, nulls) =
      sizedView(pairs.select(col(aCol).as("a"), col(bCol).as("b")), nullEnds)
    try {
      require(nulls == 0L, nullIdsMessage(aCol, bCol))
      if (fitsBroadcast(p) && driverOrdered(idType)) driverComponents(p, idType)
      else cliques.fold(labelRounds(p, maxIter))(
        contractedComponents(p, _, maxIter))
    } finally unpersistCheckpoint(p)
  }

  /** [[connectedComponents]]' rounds route over the materialized pair
    * view `p` (non-NULL columns a, b): iterative min-label propagation
    * WITH POINTER JUMPING (path halving) to a fixpoint. Each round does
    * two rewires in one aggregation — (a) propagate labels across edges,
    * (b) shortcut each node's label through its label's own label (every
    * label value IS a node id, so `lbl(lbl(id))` is a self-join on the
    * label relation) — then takes the per-node min. The shortcut halves
    * label-chain depth per round, so convergence is O(log diameter)
    * rounds rather than the O(diameter) of plain propagation: a 300-doc
    * chain of template near-dups converges in ~9 rounds instead of 300
    * (spec-proved).
    *
    * Each round is two hash-partitioned joins + a map-side-combined
    * `min`, run by the [[Rounds]] loop: the round's one job materializes
    * the labels (flat Catalyst plan, RDD lineage PRESERVED, so an
    * executor loss recomputes instead of failing; the superseded round
    * is released, so executor memory stays O(1) in the iteration count)
    * and counts the labels that changed — zero is the fixpoint, so no
    * convergence job of its own. The symmetric edge set is a lazy union
    * over `p`: past `p`, the route pays one job for the initial labels
    * and one per round. */
  private def labelRounds(p: DataFrame, maxIter: Int): DataFrame = {
    import org.apache.spark.sql.GraftSql.unpersistCheckpointTree
    val edges = p.union(p.select(col("b").as("a"), col("a").as("b")))
    val init = sizedView(edges.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")))
    // scalar: labels changed by the round (-1 before the first)
    val (labels, changed, _) =
      Rounds.run(init, -1L, maxIter, stop = _ == 0L) { (labels, _, _) =>
        val prop = edges.join(labels, edges("a") === labels("id"))
          .select(edges("b").as("id"), col("lbl"))
        val jump = labels.as("x")
          .join(labels.as("p"), col("x.lbl") === col("p.id"))
          .select(col("x.id").as("id"), col("p.lbl").as("lbl"))
        // The node's OWN current label rides through the union (non-null
        // only on the `labels` contribution, which has exactly one row
        // per id), so the change test is row-local — no per-round join
        // against the previous state.
        val lblType = labels.schema("lbl").dataType
        (labels.select(col("id"), col("lbl")).withColumn("own", col("lbl"))
          .union(prop.withColumn("own", lit(null).cast(lblType)))
          .union(jump.withColumn("own", lit(null).cast(lblType)))
          .groupBy("id").agg(min("lbl").as("lbl"), min("own").as("own"))
          .select(col("id"), col("lbl"), (col("lbl") < col("own")).as("chg")),
          r => if (!r.isNullAt(2) && r.getBoolean(2)) 1L else 0L)
      }
    if (changed != 0L) unpersistCheckpointTree(labels)
    require(changed == 0L,
      s"connectedComponents did not converge in $maxIter rounds")
    // `min` declares its result nullable; the label is never NULL (ids
    // are not), and the coalesce gives it the ids' nullability, as on
    // the driver route
    labels.select(col("id").as("doc_id"),
      coalesce(col("lbl"), col("id")).as("cluster_id"))
  }

  /** Bound near-dup PAIR EMISSION to the `k` best pairs per document —
    * the guard rail for degenerate corpora (VERDICT r4 #4): on a
    * near-100%-duplicate corpus the pair relation is quadratic in cluster
    * size (the 100× stress probe measured 91× output growth), yet every
    * downstream consumer (connected components, review samples) needs
    * only a SPANNING set of edges per cluster, not all of them.
    *
    * A pair survives if EITHER endpoint ranks it among its `k` highest
    * similarities (ties by neighbor id ascending — deterministic and
    * oracle-reproducible on the ROUNDED similarity column). Union over
    * both endpoints means every paired doc keeps ≥1 incident edge — no
    * doc is orphaned — and total output is ≤ 2kN, linear in the corpus.
    * Note clusters CAN split under capping when a component is only
    * connected through low-ranked edges — this is the documented
    * approximation that buys the linear bound; leave uncapped when exact
    * cluster recovery matters more than bounded output.
    *
    * Scale shape: per-doc top-k runs through the bounded
    * [[graft.functions.TopKAgg]] aggregator — map-side partial top-k per
    * partition, O(k) state per doc, NO window sort of the full pair
    * relation — then one semi-join back to the pair rows. */
  def capPairsPerDoc(
      pairs: DataFrame, simCol: String, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(k))
    val e = pairs.select(col("id_a").as("d"), col("id_b").as("o"),
        col(simCol).cast("double").as("s"))
      .union(pairs.select(col("id_b").as("d"), col("id_a").as("o"),
        col(simCol).cast("double").as("s")))
    val kept = e.groupBy("d").agg(topk(col("s"), col("o")).as("top"))
      .select(col("d"), explode(col("top")).as("e"))
      .select(least(col("d"), col("e.id")).as("id_a"),
        greatest(col("d"), col("e.id")).as("id_b"))
      .distinct()
    pairs.join(kept, Seq("id_a", "id_b"), "left_semi")
  }

  /** (id, rep) map for EXACT-duplicate pre-contraction: rep = the smallest
    * doc id sharing the doc's md5(normalized text). Exact-dup groups are
    * CLIQUES in any near-dup pair graph with τ ≤ 1 (identical text ⇒
    * identical shingle sets ⇒ jaccard 1.0), so their internal edges add
    * CC rounds and shuffle volume but zero connectivity information.
    *
    * Only NON-REPRESENTATIVE members of groups of ≥ 2 are emitted
    * (everything else contracts to itself via the consumer's coalesce),
    * so the map is dup-member-sized, not corpus-sized — a broadcast
    * lookup on real corpora. The group-min is a map-side-combinable
    * aggregate, not a window (no per-hash sort of the corpus). */
  private def exactRepMap(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = df.select(col(idCol).as("id"), md5(normText(col(textCol))).as("__h"))
    val reps = h.groupBy("__h")
      .agg(min("id").as("rep"), count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .select("__h", "rep")
    h.join(reps, "__h")
      .filter(col("id") =!= col("rep"))
      .select("id", "rep")
  }

  /** The shared id type of the pair columns `aCol` and `bCol`. */
  private def pairIdType(
      pairs: DataFrame, aCol: String, bCol: String): DataType = {
    val aType = pairs.schema(aCol).dataType
    val bType = pairs.schema(bCol).dataType
    require(aType == bType,
      s"id columns must share a type; got $aCol: $aType, $bCol: $bType")
    aType
  }

  /** `sizedView` fold over (a, b) rows: 1 for a row with a NULL id. */
  private val nullEnds: InternalRow => Long =
    r => if (r.isNullAt(0) || r.isNullAt(1)) 1L else 0L

  private def nullIdsMessage(aCol: String, bCol: String): String =
    s"connectedComponents: NULL ids in ($aCol, $bCol) — NULL never " +
      "equi-joins, so its edges would silently vanish; filter or fix ids"

  /** [[connectedComponents]]' rounds route with CLIQUE PRE-CONTRACTION,
    * over the materialized pair view `p` (columns a, b). Nodes known to
    * be mutually connected (`repMap: (id, rep)`) are collapsed to their
    * representative BEFORE the label rounds, and the component labels
    * fan back out afterwards. On a duplicate-heavy corpus (the regime
    * where near-dup dedup matters) this shrinks the CC input by the
    * duplicate factor — the 100× stress probe's dup-soup graph is
    * near-complete, and a complete subgraph of k exact copies contributes
    * k·(k-1)/2 edges that propagation would otherwise chew through every
    * round. Lossless: contracting edges between already-connected nodes
    * preserves components, and because each rep IS the min id of its
    * clique, the contracted component's min-label equals the original
    * component's min doc id. Docs whose clique has no external edge get
    * their rep as the label directly. The contracted graph is itself
    * routed by [[connectedComponents]], so one that measures within the
    * broadcast bound is union-found on the driver. */
  private def contractedComponents(
      p: DataFrame, repMap: DataFrame, maxIter: Int): DataFrame = {
    import org.apache.spark.sql.GraftSql.{unpersistCheckpoint,
      unpersistCheckpointTree}
    val nodes = p.select(col("a").as("id"))
      .union(p.select(col("b").as("id"))).distinct()
    // every pair-graph node's representative (itself when not an exact dup)
    val nr = sizedView(
      nodes.join(repMap, Seq("id"), "left")
        .select(col("id"), coalesce(col("rep"), col("id")).as("rep")))
    try {
      val contracted = p
        .join(nr.select(col("id").as("a"), col("rep").as("__ra")), "a")
        .join(nr.select(col("id").as("b"), col("rep").as("__rb")), "b")
        .filter(col("__ra") =!= col("__rb")) // clique-internal edges vanish
        .select(col("__ra"), col("__rb")).distinct()
      val cc = connectedComponents(contracted, "__ra", "__rb", maxIter)
        .select(col("doc_id").as("rep"), col("cluster_id"))
      // fan out: clique members inherit their rep's component label;
      // cliques with no external edges ARE their own component, labeled
      // by the rep
      // materialize before releasing what it read
      val out = sizedView(nr.join(cc, Seq("rep"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("cluster_id"), col("rep")).as("cluster_id")))
      unpersistCheckpointTree(cc)
      out
    } finally unpersistCheckpoint(nr)
  }

  /** Id types whose driver values (Catalyst internal values) have value
    * equality and a Spark ordering that agrees with join equality —
    * floats (±0.0), binary and nested types are left out. */
  private def driverOrdered(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType | BooleanType => true
    case _: DecimalType => true
    case StringType => true // the default UTF8_BINARY collation only
    case _ => false
  }

  /** [[connectedComponents]]' driver route over the materialized pair
    * view `p` (two non-NULL `t` columns): one job collects its rows, then
    * union-find runs over dense node indices.
    * Nodes are numbered in Spark's ordering for `t` (sorted, not hashed),
    * so pointing the larger root at the smaller leaves every root at its
    * component's minimum id — `min`'s answer, string ids included
    * (UTF-8 binary order, not `String.compareTo`). State is a few arrays
    * over the endpoints, a small multiple of `p`'s measured bytes. */
  private def driverComponents(p: DataFrame, t: DataType): DataFrame = {
    val ord = TypeUtils.getInterpretedOrdering(t)
    val cmp: java.util.Comparator[AnyRef] = (x, y) => ord.compare(x, y)
    val rows = p.queryExecution.toRdd.map(_.copy()).collect()
    val ends = new Array[AnyRef](2 * rows.length)
    for (i <- rows.indices; j <- 0 to 1) ends(2 * i + j) = rows(i).get(j, t)
    // distinct endpoints in ascending order: sort, then compact in place
    val nodes = ends.clone()
    java.util.Arrays.sort(nodes, cmp)
    var n = 0
    for (i <- nodes.indices)
      if (n == 0 || cmp.compare(nodes(n - 1), nodes(i)) != 0) {
        nodes(n) = nodes(i); n += 1
      }
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def index(v: AnyRef): Int =
      java.util.Arrays.binarySearch(nodes, 0, n, v, cmp)
    for (e <- ends.indices by 2) {
      val ra = find(index(ends(e)))
      val rb = find(index(ends(e + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val nullable = p.schema.exists(_.nullable)
    val schema = StructType(Seq(StructField("doc_id", t, nullable),
      StructField("cluster_id", t, nullable)))
    org.apache.spark.sql.GraftSql.localRelation(p.sparkSession, schema,
      (0 until n).map(k => InternalRow(nodes(k), nodes(find(k)))))
  }

  /** [[connectedComponents]] for pair graphs whose edges are CONFINED to
    * a bucket key — every edge's endpoints share `keyCol` (true by
    * construction for IVF-cell cosine pairs: the candidate join is an
    * equi-join on the cell id, so a component can never span two cells).
    * Confinement turns iterative global CC into ONE shuffle: group the
    * edges by bucket and run an exact union-find per bucket
    * (`KeyValueGroupedDataset.flatMapGroups` — Spark's per-key imperative
    * escape hatch), emitting each pair-graph node with its component's
    * min id. No label-propagation rounds at all, where the general
    * operator paid O(log diameter) joins × per-round job overhead (the
    * round-6 10× probe measured 14 rounds = 11 s on the embedding dup
    * graph; this shape is one 0.3 s pass).
    *
    * Exactness: within a bucket the union-find unions exactly the edge
    * set, always pointing the larger root at the smaller, so every final
    * root IS the component's min id — identical output to
    * [[connectedComponents]] on the same pairs. Exact-duplicate vectors
    * need no separate clique pre-contraction here: identical vectors
    * share a cell by determinism of assignment, and the union-find
    * absorbs their clique edges in the same single pass.
    *
    * Scale: state per task = one long→long map over the bucket's
    * DISTINCT NODES (bounded by cell occupancy — √N by the `defaultNList`
    * sizing — NOT by the bucket's edge count; edges stream through the
    * iterator). The documented residual: one pathologically hot bucket
    * serializes into one task — the same hot-cell trade as the pair join
    * itself; `SkewSpec` covers the join side with AQE skew splitting,
    * and a hot CELL should be re-partitioned at index build time (larger
    * nList), not worked around here. Ids must be integral (they ride
    * through a lossless long cast and back). */
  def connectedComponentsPerKey(
      pairs: DataFrame, aCol: String, bCol: String,
      keyCol: String): DataFrame = {
    val idType = pairIdType(pairs, aCol, bCol)
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"connectedComponentsPerKey needs integral ids, got $idType — " +
        "use connectedComponents for arbitrary orderable ids")
    val spark = pairs.sparkSession
    import spark.implicits._
    // NULL ids/keys fail LOUDLY here (decoding NULL into a primitive
    // Long field errors at execution) — the generic operator's silent-
    // edge-loss hazard can't occur, and no extra pre-scan of the pair
    // relation is spent checking.
    val e = pairs.select(
        col(keyCol).cast("long").as("k"),
        col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .as[(Long, Long, Long)]
    val labeled = e.groupByKey(_._1).flatMapGroups { (_, it) =>
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression (value updates only — no rehash)
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      it.foreach { case (_, a, b) =>
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a)
        val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet.forEach(k => out += ((k, find(k))))
      out.iterator
    }
    labeled.toDF("doc_id", "cluster_id")
      .select(col("doc_id").cast(idType), col("cluster_id").cast(idType))
  }

  /** Near-dup cluster assignment over the exact-Jaccard pair graph — the
    * production path behind `dedup_clusters` and [[dropNearDuplicates]].
    * Identical output to `connectedComponents(jaccardShinglePairs(...))`.
    * The returned labels are materialized, so the pairs' shingle-set and
    * prefix-index materializations are released before it returns. */
  def nearDupClusters(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.5): DataFrame = {
    val (pairs, owned) = jaccardPairsOwned(df, idCol, textCol, n, tau)
    try nearDupClustersFromPairs(pairs, df, idCol, textCol)
    finally owned.foreach(org.apache.spark.sql.GraftSql.unpersistCheckpoint)
  }

  /** [[nearDupClusters]] over PRECOMPUTED pairs — the build-once shape:
    * one pair materialization serves pair emission, clustering and
    * dedup (deterministic inputs ⇒ identical results, one shuffle paid
    * instead of three). Runs [[connectedComponents]] with `df`'s
    * exact-dup cliques (normalized-text md5 groups) as the clique map: a
    * pair graph that measures within the broadcast bound is union-found
    * on the driver; a larger one has its cliques contracted before the
    * label rounds. Either way the result is materialized and no longer
    * reads `pairs`. */
  def nearDupClustersFromPairs(
      pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    connectedComponents(pairs, "id_a", "id_b",
      cliques = Some(exactRepMap(df, idCol, textCol)))

  /** EXACT DUPLICATED-SPAN detection — the span-level measure between
    * whole-document exact dedup and containment search (the "dedup the
    * substring, not the document" idea of Lee et al. 2022, Deduplicating
    * Training Data Makes Language Models Better): score each document by
    * the fraction of its n-word windows whose exact content appears in
    * at least one OTHER document. Boilerplate headers, license blocks
    * and quoted spans light up here while leaving whole-doc similarity
    * below any Jaccard threshold. (Windows repeated only WITHIN one doc
    * are the repetition signal `text_repetition` already measures, and
    * are deliberately not counted.)
    *
    * Plan: per-row positional window hashes (pure array exprs, no
    * shuffle), materialized once and read by all three branches; the
    * standard inverted-index explode; shared-window vocabulary =
    * DISTINCT (doc, window) → window-keyed count > 1; one equi-join back.
    * Everything is window-hash-keyed — linear in corpus token count, no
    * all-pairs work. Output: (doc_id, n_windows, n_dup_windows,
    * dup_fraction); docs shorter than n words carry no window evidence
    * and are skipped, as in [[contaminationScores]]. */
  def duplicatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val g32 = sizedView(
      df.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
        .select(col("doc_id"),
          transform(wordNgrams("w", n), g => hash32(g)).as("gs"))
        .filter(size(col("gs")) > 0))
    val ex = g32.select(col("doc_id"), explode(col("gs")).as("g"))
    val shared = ex.distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select("g")
    val dup = ex.join(shared, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
    g32.select(col("doc_id"), size(col("gs")).cast("long").as("n_windows"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup_windows"), lit(0L)).cast("double") /
          col("n_windows"), 6).as("dup_fraction"))
  }

  /** TEST-SET DECONTAMINATION — the pipeline stage between dedup and
    * training: score each corpus doc by the fraction of its n-gram
    * shingles that appear ANYWHERE in a benchmark/eval set, so
    * evaluation data (and its near-copies) can be dropped from the
    * training corpus instead of inflating the benchmark.
    *
    * Plan: corpus shingles exploded once (the shared shuffle-free
    * shingle pipeline), benchmark shingles collapsed to a DISTINCT
    * relation (vocabulary-sized ≪ corpus — broadcast-able), one
    * shingle-keyed equi-join + per-doc count. Output:
    * (doc_id, n_shingles, n_overlap, contamination ∈ [0,1]).
    * Docs with no shingles (shorter than n words) are skipped — they
    * carry no n-gram evidence either way. */
  def contaminationScores(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val cSh = shingleSets(corpus, idCol, textCol, n)
      .filter(size(col("s32")) > 0)
    val bSh = shingleSets(benchmark, idCol, textCol, n)
      .select(explode(col("s32")).as("g")).distinct()
    val overlap = cSh.select(col("doc_id"), explode(col("s32")).as("g"))
      .join(bSh, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    cSh.select(col("doc_id"), size(col("s32")).as("n_shingles"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") /
          col("n_shingles"), 6).as("contamination"))
  }

  /** Drop corpus docs whose [[contaminationScores]] fraction is ≥ `tau`
    * (benchmark members themselves score 1.0 when present). */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      tau: Double = 0.8): DataFrame =
    decontaminateFromScores(
      contaminationScores(corpus, benchmark, idCol, textCol, n),
      corpus, idCol, tau)

  /** [[decontaminate]] over precomputed [[contaminationScores]] — the
    * scoring join is the expensive half, so callers that also inspect the
    * scores (the audit-then-drop workflow) should compute them once and
    * feed both consumers (same share-the-expensive-relation lifecycle as
    * [[dropNearDuplicatesFromPairs]]). */
  def decontaminateFromScores(
      scores: DataFrame, corpus: DataFrame, idCol: String,
      tau: Double = 0.8): DataFrame = {
    val flagged = scores
      .filter(col("contamination") >= tau)
      .select(col("doc_id").as("__graft_contam"))
    // no broadcast hint: the flagged set is contamination-mass
    // proportional (a dirty corpus can flag a large fraction) —
    // measured stats drive the decision (see antiJoinDropSized)
    antiJoinDropSized(corpus, idCol, flagged)
  }

  /** End-to-end near-dup dedup MATERIALIZATION: the input rows minus
    * non-representative cluster members — i.e. each near-dup cluster
    * keeps exactly its smallest-id document, everything unclustered
    * passes through. Pairs → components → LEFT ANTI:
    *  - pairs: [[jaccardShinglePairs]];
    *  - components: [[nearDupClustersFromPairs]] — union-find on the
    *    driver when the pair graph measures within the broadcast bound,
    *    contraction plus label rounds otherwise. The labels come back
    *    materialized, so the pairs' two materializations (shingle sets,
    *    prefix index) are released right there: this call created them
    *    and nothing else reads them;
    *  - LEFT ANTI: [[dropClusterLosers]], with NO broadcast hint: the
    *    loser set is the DUPLICATE SET, and at web-crawl dup density
    *    (30–50 %) that is corpus-proportional — a forced hint (which
    *    Spark always honors on an equi-anti-join) would collect it to
    *    the driver and OOM at scale. The loser set's measured size picks
    *    broadcast when it fits — no cliff.
    * The returned frame reads only `df` and the materialized losers. */
  def dropNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.5): DataFrame =
    dropClusterLosers(df, idCol, nearDupClusters(df, idCol, textCol, n, tau))

  /** [[dropNearDuplicates]] over precomputed pairs (see
    * [[nearDupClustersFromPairs]]). */
  def dropNearDuplicatesFromPairs(
      pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    dropClusterLosers(df, idCol,
      nearDupClustersFromPairs(pairs, df, idCol, textCol))

  /** `df` minus every non-representative member of `clusters` — a
    * (doc_id, cluster_id) labeling whose representative is the member
    * with doc_id = cluster_id — via [[antiJoinDropSized]]. Takes
    * ownership of `clusters`: its materialized labels are released once
    * the anti-join has materialized the losers, and the returned frame
    * no longer reads them. */
  private[graft] def dropClusterLosers(
      df: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val losers = clusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("__graft_loser"))
    try antiJoinDropSized(df, idCol, losers)
    finally org.apache.spark.sql.GraftSql.unpersistCheckpointTree(clusters)
  }

  /** The drop-losers LEFT ANTI join, planned from MEASURED statistics
    * (r18, guide §3.1/§2.3): the loser relation is materialized
    * (`GraftSql.sizedView` — bare ids only, exact size attached to the
    * leaf), so STATIC planning broadcasts it when it truly fits and the
    * corpus side is never shuffled at all — the r17 hint deletion was
    * scale-correct but left AQE running a full corpus-side shuffle map
    * stage (payload columns included) before electing broadcast at
    * runtime; measured stats recover the hint-era plan without the
    * hint's 100 TB driver cliff, because a corpus-proportional loser set
    * MEASURES big and plans as a sort-merge anti-join. The
    * materialization itself is work the query's anti-join would do
    * anyway (the loser subtree executes once either way), re-run fresh
    * per invocation — nothing is reused across runs. */
  private[graft] def antiJoinDropSized(
      df: DataFrame, idCol: String, losers: DataFrame): DataFrame =
    df.join(org.apache.spark.sql.GraftSql.sizedView(losers),
      col(idCol) === col(losers.columns.head), "left_anti")

  /** Near-dup dedup that keeps the highest-QUALITY member of each
    * cluster instead of the smallest id — the curation semantics a real
    * training pipeline wants (when a page and its mirror near-duplicate,
    * keep the cleaner extraction, not the lower URL hash). `scores` is
    * any (doc_id, quality) relation — typically
    * [[graft.llm.TextAnalysis.qualityScore]] — whose quality values are
    * deterministic across engines (rounded); ties break on doc_id ASC
    * via a lexicographic (quality, -doc_id) argmax, so the winner is
    * unique even under equal scores. Same plan skeleton as
    * [[dropNearDuplicatesFromPairs]]: pairs → components → per-cluster
    * argmax (map-side combinable `max_by`) → LEFT ANTI with no
    * broadcast hint (the loser set is dup-mass proportional — AQE
    * broadcasts at runtime when it fits). */
  def keepBestPerCluster(
      pairs: DataFrame, df: DataFrame, idCol: String, textCol: String,
      scores: DataFrame): DataFrame = {
    val clusters = nearDupClustersFromPairs(pairs, df, idCol, textCol)
    val winners = clusters
      .join(scores.select(col("doc_id"), col("quality")), "doc_id")
      .groupBy("cluster_id")
      .agg(max_by(col("doc_id"),
        struct(col("quality"), -col("doc_id"))).as("keep"))
    val losers = clusters.join(winners, "cluster_id")
      .filter(col("doc_id") =!= col("keep"))
      .select(col("doc_id").as("__graft_loser"))
    try antiJoinDropSized(df, idCol, losers)
    finally org.apache.spark.sql.GraftSql.unpersistCheckpointTree(clusters)
  }

  /** The (doc_id, lo, hi) 64-bit fingerprint relation behind
    * [[simHashPairs]], exposed for exactness testing. */
  private[llm] def simHashFingerprints(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grams = df
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"), explode(wordNgrams("w", 2)).as("g"))
    // Two independent 32-bit hashes from one md5 evaluation (CSE'd).
    val hashed = grams.select(col("doc_id"),
      conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long").as("h1"),
      conv(substring(md5(col("g")), 9, 8), 16, 10).cast("long").as("h2"))
    // 64 per-bit ±1 sums in ONE aggregation (codegen-friendly, single
    // map-side-combined shuffle), then assemble the two fingerprint halves.
    def bitSums(h: String, p: String) = (0 until 32).map(k =>
      sum(when(shiftright(col(h), k).bitwiseAND(lit(1L)) === 1, 1)
        .otherwise(-1)).as(s"$p$k"))
    def half(p: String) = (0 until 32).map(k =>
      when(col(s"$p$k") > 0, lit(1L << k)).otherwise(lit(0L))).reduce(_ + _)
    val allSums = bitSums("h1", "a") ++ bitSums("h2", "b")
    hashed.groupBy("doc_id").agg(allSums.head, allSums.tail: _*)
      .select(col("doc_id"), half("a").as("lo"), half("b").as("hi"))
  }

  /** SimHash near-dup pairs over word bigrams (unigrams collapse on small
    * vocabularies): 64-bit simhash, banded candidate generation over
    * 4 × 16-bit bands — by pigeonhole any pair with hamming ≤ 3 agrees on
    * ≥1 band, so recall is EXACT for hammingMax ≤ bands-1 — verified with
    * the exact hamming distance. Output: (id_a, id_b, hamming).
    *
    * Scale: 16-bit bands give 65,536 buckets per band, so the banded
    * self-join degrades as O(N²/65536) per band at uniform fill — the
    * round-2 8-bit bands (256 buckets) were quadratic ~256× sooner, fatal
    * at 10⁹ docs. The 64-bit fingerprint is carried as TWO positive
    * 32-bit halves (`lo`, `hi`, from md5 hex chars 1-8 and 9-16 of each
    * bigram) rather than one signed 64-bit value: every number stays in
    * [0, 2^32), so no shift/overflow sign traps in either engine and the
    * DuckDB oracle is bit-for-bit reproducible. */
  def simHashPairs(
      df: DataFrame, idCol: String, textCol: String,
      hammingMax: Int = 3): DataFrame = {
    val sims = simHashFingerprints(df, idCol, textCol)
    hammingPairs64(sims, hammingMax)
  }

  /** Banded hamming join over ANY (doc_id, lo, hi) 64-bit fingerprint
    * relation — the candidate-generation core shared by text SimHash
    * ([[simHashPairs]]) and image perceptual-hash near-dup
    * ([[graft.llm.Multimodal.imageAHash]] consumers). 4 × 16-bit bands:
    * by pigeonhole, two fingerprints within hamming ≤ 3 agree on at
    * least one band, so the equi-join on (band, value) has EXACT recall
    * for hammingMax ≤ 3 while only comparing within band buckets —
    * never all pairs. Bucket sizes stay bounded because 16-bit band
    * values spread over 65536 keys; the verify step recomputes the true
    * hamming distance, so precision is exact too. */
  def hammingPairs64(sims: DataFrame, hammingMax: Int = 3): DataFrame = {
    require(hammingMax <= 3,
      "banded recall is exact only for hammingMax <= bands-1 = 3")
    // Banded candidates: 4 × 16-bit slices of (lo, hi).
    val banded = sims.select(col("doc_id"), col("lo"), col("hi"),
      explode(array(
        struct(lit(0).as("band"),
          col("lo").bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(1).as("band"),
          shiftright(col("lo"), 16).bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(2).as("band"),
          col("hi").bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(3).as("band"),
          shiftright(col("hi"), 16).bitwiseAND(lit(65535L)).as("bv"))))
        .as("e"))
      .select(col("doc_id"), col("lo"), col("hi"),
        col("e.band"), col("e.bv"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (bit_count(col("a.lo").bitwiseXOR(col("b.lo"))) +
          bit_count(col("a.hi").bitwiseXOR(col("b.hi")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= hammingMax)
  }

  /** Shared-item containment pair graph with a HOT-ITEM document-frequency
    * gate — the candidate-generation core of content-hash video/MP4
    * near-dup (`items` = one row per distinct (document, frame/sample
    * hash)). Emits `(id_a, id_b, <sharedCol>)` for every document pair
    * sharing ≥ `minShared` distinct items, via an inverted-index
    * equi-join on the item key — bucket-keyed candidates, never
    * all-pairs.
    *
    * The df gate is the stop-term prune of lexical retrieval
    * ([[graft.llm.Similarity.sparseTfidfKnn]]'s `maxDfFraction`) applied
    * to the posting-list join: an item present in more than
    * `maxDfFraction` of the corpus (a black frame, a station ident, a
    * silence sample) carries no dedup signal — near-dup evidence is
    * SHARED RARE content — but its posting list alone emits df² candidate
    * rows before the groupBy, the one quadratic hazard of the inverted
    * index. Items with df > ceil(nDocs·maxDfFraction) are dropped before
    * the self-join and the drop is reported through `onDrop(nHot,
    * maxDf)` (the builder logs it), so at 100 TB a ubiquitous frame
    * costs one aggregate row, not k² join rows. The hot set is
    * EXPECTED tiny — at most (total item rows)/(nDocs·maxDfFraction)
    * distinct items ≈ items-per-doc/maxDfFraction — but that bound
    * scales with the per-doc item count, which is data, not structure
    * (a long video contributes thousands of frame hashes). The
    * broadcast hint is therefore CONDITIONAL on the measured count:
    * `nHot` is already collected for the drop report, and only a hot
    * set under [[HotBroadcastCap]] rows is hint-broadcast; past the cap
    * the hint is omitted and AQE sizes the anti-join at runtime — the
    * same no-cliff discipline as the drop-losers joins (r16 #1).
    *
    * Semantics note: pairs connected ONLY through hot items disappear —
    * the documented approximation that buys the bound, exactly as in
    * [[capPairsPerDoc]]; the oracle replays the gate, and
    * PairCapSpec proves the blowup on a planted ubiquitous frame. */
  /** Hot-set broadcast ceiling for [[sharedItemPairs]]: 1M item hashes
    * ≈ 16 MB framed — comfortably inside executor broadcast budgets and
    * far under the 8 GB / 512M-row broadcast hard cap. Measured-count
    * gate, not an estimate: `nHot` is an exact driver scalar by the time
    * the join is built. */
  val HotBroadcastCap: Long = 1000000L

  def sharedItemPairs(
      items: DataFrame, idCol: String, itemCol: String, nDocs: Long,
      sharedCol: String, minShared: Int = 2, maxDfFraction: Double = 0.5,
      onDrop: (Long, Long) => Unit = (_, _) => (),
      hotBroadcastCap: Long = HotBroadcastCap): DataFrame = {
    // distinct() up front makes the contract self-enforcing: df below is
    // then distinct-doc frequency (what the oracle counts) and the
    // shared-count agg can't double-count, even for a caller that passes
    // non-distinct (doc, item) rows. On contract-respecting input the
    // distinct is a cheap pre-shuffle combine on the same key as the join.
    val it = items.select(col(idCol).as("__id"), col(itemCol).as("__item"))
      .distinct()
    val maxDf = math.max(1L, math.ceil(nDocs * maxDfFraction).toLong)
    val hot = it.groupBy("__item")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("__item")
    // one bounded-small action per build (the callers cache the graph per
    // corpus fingerprint) so the drop is observable, not silent
    val nHot = hot.count()
    if (nHot > 0) onDrop(nHot, maxDf)
    // conditional hint (see scaladoc): the measured nHot gates the
    // broadcast, so a degenerate corpus (unbounded items-per-doc) can
    // never force a corpus-scale collect onto the driver
    val kept =
      if (nHot <= hotBroadcastCap)
        it.join(broadcast(hot), Seq("__item"), "left_anti")
      else it.join(hot, Seq("__item"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.__item") === col("b.__item") &&
          col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as(sharedCol))
      .filter(col(sharedCol) >= minShared)
  }

  /** CORPUS-LEVEL PARAGRAPH DEDUP (the CCNet/C4 sub-document pass):
    * remove every repeated paragraph from the corpus, keeping only its
    * FIRST occurrence (smallest doc id, then smallest position within
    * that doc), and reassemble each document from its surviving
    * paragraphs in order. Document-level dedup ([[exactDedup]],
    * [[minHashLshPairs]]) cannot touch this redundancy: two documents
    * sharing half their paragraphs keep both full texts; the paragraph
    * pass removes the shared half from the later document while both
    * documents survive. Paragraph = a fixed `chunkTokens`-token chunk
    * ([[TextAnalysis.chunkDocuments]] — the corpus text is
    * single-line, so token chunks stand in for newline paragraphs; on
    * real crawl text pass the line-exploded relation instead).
    *
    * Scale shape: (1) chunking is pure per-row array expressions;
    * (2) the winner per paragraph content is ONE map-side-combinable
    * aggregate `min(struct(id, pos))` keyed by the paragraph — heavy
    * duplication COLLAPSES here, partial aggregation does the work
    * before the shuffle; (3) one equi-join of the chunk relation
    * against the winner table on the content key (AQE broadcasts it
    * when small); (4) ONE per-doc groupBy reassembles kept chunks in
    * order and counts kept/dropped (the [[graft.llm.Web.stripBoilerplate]]
    * collect-sort-join idiom — collect_list skips the nulls the
    * when() plants for dropped chunks). No window over the corpus, no
    * all-pairs, nothing collects. A document whose every paragraph
    * was seen earlier survives with empty `clean_text` — dropping
    * documents is a curation decision, not a text transform's. */
  def dropDuplicateParagraphs(df: DataFrame, idCol: String,
      textCol: String, chunkTokens: Int = 16): DataFrame = {
    val chunks = TextAnalysis.chunkDocuments(df, idCol, textCol,
        chunkTokens)
      .select(col("doc_id").as("__id"), col("chunk_idx").as("__pos"),
        col("chunk_text").as("__p"))
    val winners = chunks.groupBy("__p")
      .agg(min(struct(col("__id"), col("__pos"))).as("__w"))
    chunks.join(winners, Seq("__p"))
      .withColumn("__keep",
        col("__id") === col("__w.__id") && col("__pos") === col("__w.__pos"))
      .groupBy("__id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("__pos"), col("__p"))))),
            x => x.getField("__p")),
          " ").as("clean_text"),
        count(when(col("__keep"), lit(1))).as("n_kept"),
        count(when(!col("__keep"), lit(1))).as("n_dropped"))
      .select(col("__id").as(idCol), col("clean_text"),
        col("n_kept"), col("n_dropped"))
  }
}

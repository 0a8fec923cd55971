package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSql.{sizedView, unpersistCheckpoint}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Determinism contract (shared with the DuckDB oracles): every dot
  * product is a LEFT-TO-RIGHT fold over double-widened elements starting
  * at 0.0 — in DuckDB `list_reduce([0.0] || list_transform(...), +)`, here
  * the native codegen [[graft.functions.DotProduct]] expression, whose
  * generated loop performs the identical IEEE sequence. Every result bit
  * matches across engines.
  *
  * Scale posture: the BRUTE baselines keep an explicit broadcast hint on
  * the query side (all-pairs against a sampled query set is their
  * contract — the hint documents it). Every pruned retriever (LSH / IVF
  * / IVF-PQ / RP-tree / binary sketch / champion lists) candidate-joins
  * on an equi-key with NO query-side hint: a probe-sized query batch
  * broadcasts via AQE's runtime sizing anyway, and a corpus-vs-corpus
  * batch (attribution sweeps, all-pairs semdedup at the query tier) is
  * free to plan as a shuffled equi-join instead of collecting the batch
  * to the driver. No collect() of vector data anywhere.
  */
object Similarity {

  /** Left-fold dot product — the native codegen expression (identical
    * semantics to `aggregate(zip_with(a, b, _*_), 0d, _+_)`, ~order of
    * magnitude faster than the interpreted HOF chain). */
  private[llm] def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSql
    GraftSql.column(graft.functions.DotProduct(
      GraftSql.expression(a), GraftSql.expression(b)))
  }

  /** L2 norm (same fold shape). */
  private[llm] def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k: exact baseline. `queries` is the (small)
    * query-vector side — broadcast — and each corpus partition scores
    * locally; the only shuffle is the final per-query top-k window.
    * Output: (qid, nid, rank, sim).
    *
    * BATCH INVARIANT (the `broadcast(q)` license): `queries` must be a
    * BOUNDED SERVING BATCH — this is the licensed brute-force yardstick,
    * and every declared caller passes either the fixed 200-row batch or
    * a small probe slice. A corpus-proportional batch does not belong
    * here: corpus-vs-corpus retrieval is [[nnDescentKnnGraph]] (no
    * broadcast, no driver collect). */
  def bruteForceKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val v = corpus.select(col(idCol).as("nid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    // broadcast licensed by the batch invariant above
    val scored = v.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    topK(scored, k)
  }

  /** Per-query top-k via the bounded [[graft.functions.TopKAgg]]
    * aggregator: map-side partial top-k per partition, then a k-sized
    * merge — no window sort of the full scored set (the scored relation
    * is corpus-sized; at scale the window formulation shuffles all of it).
    * Ordering (score DESC, id ASC) matches the oracle's row_number. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(k))
    scored.groupBy("qid")
      .agg(topk(col("sim"), col("nid")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("nid"),
        (col("pos") + 1).as("rank"),
        round(col("col.score"), 6).as("sim"))
  }

  /** RECIPROCAL-RANK FUSION of two retrieval rank lists (the hybrid
    * dense+sparse RAG stack). Inputs are (qid, nid, rank) relations —
    * each already k-bounded by its retriever — fused with union
    * semantics via a full-outer join on (qid, nid):
    *
    *   score_scaled = Σ_lists round(1e9 / (c + rank))
    *
    * The classic RRF `Σ 1/(c+r)` made EXACT-integer: each term is ONE
    * correctly-rounded IEEE division followed by a round-to-long (no
    * denominator 1e9/(c+r) with c=60, r≥1 lands on .5 — that would
    * need (c+r) | 2e9 with an odd quotient, and 61..70 has only 64,
    * whose quotient is even), and the sum is a 2-term long add — so
    * ranks, scores, and the re-ranked output are bit-identical across
    * engines and partitionings. Scale: the fused relation is ≤ 2k rows
    * per query (both inputs are k-bounded), so the per-query re-rank
    * window is O(k log k) on KB-sized partitions regardless of corpus
    * size; all heavy lifting stays inside the two retrievers' own
    * scale paths. */
  def rrfFuse(dense: DataFrame, sparse: DataFrame, k: Int,
      c: Int = 60): DataFrame = {
    val d = dense.select(col("qid"), col("nid"),
      col("rank").cast("int").as("r_dense"))
    val s = sparse.select(col("qid"), col("nid"),
      col("rank").cast("int").as("r_sparse"))
    def term(r: Column): Column =
      coalesce(round(lit(1e9) / (lit(c) + r)).cast("long"), lit(0L))
    val fused = d.join(s, Seq("qid", "nid"), "full_outer")
      .withColumn("rrf_scaled",
        term(col("r_dense")) + term(col("r_sparse")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("rrf_scaled").desc, col("nid"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "rank", "rrf_scaled", "r_dense", "r_sparse")
  }

  /** RAG CONTEXT PACKING — the assembly stage AFTER retrieval (and any
    * fusion/re-rank): stuff the ranked candidates into the model's
    * context window in rank order, cutting at the first document whose
    * inclusion would push the running total past `budgetTokens`.
    * PREFIX-CUT semantics — the industry-default "fill until full";
    * skip-and-continue or lost-in-the-middle reordering variants change
    * only this stage and compose with the same inputs.
    *
    * Retriever-agnostic like [[mmrRerankCandidates]]: `candidates` is
    * any (qid, nid, rank, …) list ([[ivfKnnTrained]], [[rrfFuse]],
    * [[mmrRerank]] output re-ranked). Token counts use the repo's
    * BPE-ish regex ([[TextAnalysis.tokenCounts]] `n_bpe_tokens`), so
    * the budget is the same unit the corpus-level token accounting
    * (text_tokens / sample_token_budget) already reports.
    *
    * Scale shape: the candidate list is k-bounded PER QUERY, so (1) the
    * corpus is pruned to candidate docs by an equi-semi-join on the id
    * BEFORE the tokenizer regex runs — the expensive per-char scan
    * touches ≤ k·|Q| docs, never the corpus; (2) the running-total
    * window partitions by qid over ≤ k rows — no corpus-sized window
    * anywhere. Output: (qid, nid, rank, n_tokens, cum_tokens), rows
    * whose cumulative total fits the budget. */
  def contextPack(docs: DataFrame, candidates: DataFrame,
      idCol: String, textCol: String, budgetTokens: Long,
      pruneIds: Boolean = false): DataFrame = {
    val cand = candidates.select(col("qid"), col("nid"), col("rank"))
    // pruneIds: the serving-shaped read — candidate ids are k-bounded
    // per query, so a bounded batch's distinct id set (≤ k·|Q| longs)
    // inlines as an IN predicate and the docs read becomes a point
    // lookup (row-group pruning on an ID-ORDERED table; partition
    // pruning on an id-bucketed one) instead of a corpus scan per
    // batch — the prunedByCells argument applied to the assembly
    // stage. Results invariant: the filter only narrows the docs side
    // to ids the join would keep, and the loud missing-id check below
    // still fires (a missing id stays missing). Corpus-proportional
    // batches skip it (the id set stops inlining) — same cap logic.
    // CALLER CONTRACT: the collect EXECUTES the candidate plan once —
    // pass a persisted/materialized candidate list, or leave this off
    // when the docs store is unsorted (nothing prunes; the declared
    // gate rows leave it off for exactly that reason — the probe
    // corpora are written unordered, so the id IN buys no row-group
    // pruning and the collect just re-runs retrieval).
    val docsScan =
      if (!pruneIds) docs
      else {
        val ids = cand.select(col("nid")).distinct()
          .limit(PruneIdCap + 1).collect().map(_.getLong(0))
        if (ids.length > PruneIdCap) docs
        else docs.filter(col(idCol).isin(ids.map(Long.box): _*))
      }
    val hitTokens = docsScan
      .select(col(idCol).as("nid"), col(textCol).as("__text"))
      .join(cand.select("nid").distinct(), "nid")
      .select(col("nid"),
        size(regexp_extract_all(lower(col("__text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy("rank")
    // LEFT join + loud failure on a candidate id absent from the docs
    // table (ADVICE r14): an inner join would silently drop the missing
    // rank and let later ranks slide into the budget — violating the
    // strict prefix-cut contract (a doc after the gap would pack as if
    // the missing one never existed). Missing docs are a pipeline bug
    // (the retriever indexed something the corpus no longer has), so
    // fail the job rather than mis-pack the context.
    cand.join(hitTokens, Seq("nid"), "left")
      .withColumn("n_tokens",
        when(col("n_tokens").isNull, raise_error(concat(
          lit("contextPack: candidate id absent from docs table: "),
          col("nid").cast("string")))).otherwise(col("n_tokens")))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select("qid", "nid", "rank", "n_tokens", "cum_tokens")
  }

  /** MMR DIVERSIFICATION RE-RANK (Carbonell & Goldstein, SIGIR'98): the
    * post-retrieval pass that keeps the k passages handed to a model
    * from being k near-copies of one source. Three stages, each keeping
    * its own scale path:
    *
    *  1. candidate generation — [[bruteForceKnn]] top-`kCand` here (the
    *     exact baseline; swap in the LSH/IVF retrievers for the
    *     sub-linear path, the re-rank stages are retriever-agnostic);
    *  2. the candidate×candidate cosine matrix — a qid-equi-join of the
    *     candidate list against itself (`a < b` upper triangle):
    *     ≤ kCand²/2 rows PER QUERY, linear in query count, never
    *     corpus×corpus;
    *  3. greedy λ-selection — the all-integer [[graft.functions.MmrSelect]]
    *     over the per-query collected arrays (k-bounded, KB-sized rows).
    *
    * Relevance and pair similarities are 1e6-scaled longs
    * (`round(sim,6)·1e6`), so selection is exact-integer and
    * bit-identical to the oracle's unrolled greedy replay. Output:
    * (qid, nid, sel_rank, mmr_scaled). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, kCand: Int, k: Int,
      lamNum: Int = 7, lamDen: Int = 10): DataFrame =
    mmrRerankCandidates(corpus,
      bruteForceKnn(corpus, queries, idCol, vecCol, kCand),
      idCol, vecCol, k, lamNum, lamDen)

  /** Stages 2–3 of [[mmrRerank]] alone, over ANY retriever's
    * (qid, nid, …, sim) candidate list — the retriever-agnostic form:
    * pass [[ivfKnnTrained]]/[[lshKnn]] top-k output here and the whole
    * MMR pipeline needs no brute-force pass anywhere (the declared
    * rag_mmr_rerank_ivf path). `sim` must be the retriever's 6dp-rounded
    * cosine (every kNN in this file emits exactly that). */
  def mmrRerankCandidates(corpus: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      lamNum: Int = 7, lamDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.GraftSql
    val cands = candidates
      .select(col("qid"), col("nid"),
        round(col("sim") * 1e6).cast("long").as("rel"))
    val v = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .withColumn("nn", norm(col("nv")))
    val cv = cands.join(v, "nid")
    val pairs = cv.select(col("qid"), col("nid").as("a"),
        col("nv").as("av"), col("nn").as("an"))
      .join(cv.select(col("qid"), col("nid").as("b"),
        col("nv").as("bv"), col("nn").as("bn")), Seq("qid"))
      .filter(col("a") < col("b"))
      .select(col("qid"), col("a"), col("b"),
        round(round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6)
          * 1e6).cast("long").as("s"))
    val cg = cands.groupBy("qid")
      .agg(sort_array(collect_list(struct(col("nid"), col("rel")))).as("c"))
    val pg = pairs.groupBy("qid")
      .agg(collect_list(struct(col("a"), col("b"), col("s"))).as("p"))
    // a 1-candidate query has no pairs: left join + typed empty array
    val emptyPairs = expr(
      "cast(array() as array<struct<a:bigint,b:bigint,s:bigint>>)")
    val sel = GraftSql.column(graft.functions.MmrSelect(
      GraftSql.expression(col("c")),
      GraftSql.expression(coalesce(col("p"), emptyPairs)),
      k, lamNum, lamDen))
    cg.join(pg, Seq("qid"), "left")
      .select(col("qid"), explode(sel).as("m"))
      .select(col("qid"), col("m.nid").as("nid"),
        col("m.sel_rank").as("sel_rank"),
        col("m.mmr_scaled").as("mmr_scaled"))
  }

  /** Sparse lexical kNN: TF-IDF cosine over the corpus vocabulary via a
    * term-keyed inverted index — the retrieval modality the dense-ANN
    * family (LSH/IVF/PQ) cannot express: exact lexical-overlap search
    * (near-verbatim retrieval, citation/quote lookup). Weights are
    * QUANTIZED to integers (w = round(tf·ln(N/df)·10³)) so every dot
    * product and squared norm is an exact long; sim = dot/(√qn·√dn) is
    * then bit-identical in any engine (IEEE sqrt + divide of identical
    * operands — the meanPoolFixed recipe). Zero-weight terms (df = N)
    * drop from the index identically on both sides.
    *
    * Plan: one token explode → map-side-combined (doc, term) tf agg →
    * term-keyed df counts derived from tf (AQE-broadcast when the
    * vocabulary fits; |vocab| ≪ |tokens| but Heaps-law growing, so no
    * forced hint) → the query-side posting+norm relation joined against
    * the corpus posting list (equi-join on term — the inverted-index
    * probe; AQE broadcasts a probe-sized query side at runtime) → (qid, doc) map-side-combined dot agg → norm attach →
    * bounded [[graft.functions.TopKAgg]]. Candidate volume is
    * Σ_t df(t)·[t ∈ queries] — the classic postings cost, linear in
    * corpus per query term; hot (Zipfian) terms are ordinary shuffle-key
    * skew (AQE). `queryPred` is a boolean over the `doc_id` column.
    * Output: (qid, nid, rank, sim) like every kNN operator.
    *
    * `maxDfFraction` is the STOP-TERM prune every production lexical
    * index applies: a term in more than that fraction of the corpus
    * carries near-zero idf but dominates the postings probe (on a
    * Zipfian vocabulary the ~100 head terms sit in nearly every doc, so
    * without the prune the probe volume is quadratic in N no matter how
    * large the vocabulary — measured 360M candidate rows at 50k docs vs
    * 5.6M pruned). 1.0 (default) disables the prune — the declared
    * oracle-gated query keeps exact full-vocabulary semantics; 0.5 is
    * the classic production setting. */
  def sparseTfidfKnn(docs: DataFrame, idCol: String, textCol: String,
      queryPred: Column, k: Int, maxDfFraction: Double = 1.0): DataFrame = {
    val (wts, norms) = tfidfIndex(docs, idCol, textCol, maxDfFraction)
    // no broadcast hint on the query-term relation: a probe-sized query
    // set broadcasts via AQE anyway, and a corpus-vs-corpus batch (an
    // attribution sweep) must be free to plan as a shuffled term join
    val qrel =
      wts.filter(queryPred)
        .join(norms, "doc_id")
        .select(col("doc_id").as("qid"), col("term"),
          col("w").as("qw"), col("nsq").as("qnsq"))
    val dots = wts.join(qrel, "term")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy("qid", "qnsq", "doc_id")
      .agg(sum(col("w") * col("qw")).as("dot"))
    val scored = dots.join(norms, "doc_id")
      .select(col("qid"), col("doc_id").as("nid"),
        (col("dot").cast("double") /
          (sqrt(col("qnsq").cast("double")) *
            sqrt(col("nsq").cast("double")))).as("sim"))
    topK(scored, k)
  }

  /** The shared quantized TF-IDF posting index: `(wts, norms)` with
    * `wts(doc_id, term, w)` and `norms(doc_id, nsq)`, df-gated at
    * `maxDfFraction`. Both are materialized (`GraftSql.sizedView`): wts
    * feeds THREE consumers (norms, the query-side relation, the posting
    * probe) and norms feeds two — without it the corpus explode + tf/df
    * aggregation chain re-runs per consumer (measured 7.7 s → 3.8 s at
    * sf0.1); the materialized postings relation is
    * ~|docs|·|vocab-per-doc| rows of longs, far smaller than the text
    * corpus (the shingleSets rationale in Dedup). */
  private def tfidfIndex(docs: DataFrame, idCol: String, textCol: String,
      maxDfFraction: Double): (DataFrame, DataFrame) = {
    val n = docs.count() // licensed driver scalar (the tfIdf license)
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(graft.llm.TextOps.words(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= lit(math.ceil(n * maxDfFraction).toLong))
    // dfreq is the VOCABULARY relation — Heaps-law growth with the
    // corpus, so no forced broadcast; AQE broadcasts it when it fits
    val wts = sizedView(tf.join(dfreq, "term")
      .withColumn("w",
        round(col("tf") * log(lit(n.toDouble) / col("df")) * 1000)
          .cast("long"))
      .filter(col("w") > 0)
      .select("doc_id", "term", "w"))
    val norms = sizedView(wts.groupBy("doc_id")
      .agg(sum(col("w") * col("w")).as("nsq")))
    (wts, norms)
  }

  /** CHAMPION-LIST sparse retrieval (Manning/Raghavan/Schütze,
    * Introduction to Information Retrieval §7.1.3 — "champion lists" /
    * impact-ordered posting truncation): candidate generation probes
    * only each query term's `championC` HIGHEST-WEIGHT postings, so
    * per-query candidate volume is ≤ |query terms| · championC —
    * CORPUS-SIZE-INDEPENDENT. This is the lever that keeps lexical
    * retrieval subquadratic on a Zipfian vocabulary, where mid-rank
    * head terms hold df ≈ 0.1–0.5·N and a df gate alone leaves the
    * postings probe quadratic (measured 58×/decade on the Zipf probe
    * corpus for the df-gated [[sparseTfidfKnn]], which stays declared
    * as the exact full-postings contrast). Candidates are then scored
    * EXACTLY — the full shared-term dot and true norms of each
    * candidate pair (the ivfpq_rerank two-stage shape) — so truncation
    * costs recall only, never score error on returned results.
    *
    * Plan: the shared [[tfidfIndex]]; champion lists via the bounded
    * [[graft.functions.TopKAgg]] per term ((w DESC, doc_id) total
    * order — map-side-combinable, ≤ championC state per term, NO
    * window over postings); candidate (qid, nid) distinct from the
    * champion ⋈ query-term equi-join; exact scoring via candidate ⋈
    * postings-by-doc ⋈ query-terms-by-(qid, term); bounded top-k. */
  def sparseTfidfChampionKnn(docs: DataFrame, idCol: String,
      textCol: String, queryPred: Column, k: Int, championC: Int,
      maxDfFraction: Double = 1.0): DataFrame = {
    require(championC > 0, "championC must be positive")
    val (wts, norms) = tfidfIndex(docs, idCol, textCol, maxDfFraction)
    val topc = udaf(new graft.functions.TopKAgg(championC))
    val champions = wts.groupBy("term")
      .agg(topc(col("w").cast("double"), col("doc_id")).as("top"))
      .select(col("term"), explode(col("top")).as("c"))
      .select(col("term"), col("c.id").as("doc_id"))
    // no broadcast hint on the query-term relation: a probe-sized query
    // set broadcasts via AQE anyway, and a corpus-vs-corpus batch (an
    // attribution sweep) must be free to plan as a shuffled term join
    val qrel =
      wts.filter(queryPred)
        .join(norms, "doc_id")
        .select(col("doc_id").as("qid"), col("term"),
          col("w").as("qw"), col("nsq").as("qnsq"))
    val cand = champions
      .join(qrel.select(col("qid"), col("term")), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .select("qid", "doc_id").distinct()
    val dots = cand
      .join(wts, Seq("doc_id"))
      .join(qrel.select(col("qid"), col("term"), col("qw"), col("qnsq")),
        Seq("qid", "term"))
      .groupBy("qid", "qnsq", "doc_id")
      .agg(sum(col("w") * col("qw")).as("dot"))
    val scored = dots.join(norms, "doc_id")
      .select(col("qid"), col("doc_id").as("nid"),
        (col("dot").cast("double") /
          (sqrt(col("qnsq").cast("double")) *
            sqrt(col("nsq").cast("double")))).as("sim"))
    topK(scored, k)
  }

  /** Deterministic ±1 hyperplane matrix (nPlanes × dim); the oracle
    * embeds the identical literals (`planesSql` calls this function, so
    * the two sides can never diverge). Each entry is bit 0 of a
    * SPLITMIX64 finalizer of the flat index — a full-avalanche mixer.
    * The original single-round LCG (`bit 16 of a·i+c`) carried its
    * affine structure straight into the matrix: row cross-correlations
    * up to 0.94 (near-duplicate hyperplanes), which silently collapsed
    * the effective bucket count of every LSH operator (correlated sign
    * bits ⇒ far fewer than 2^p distinct buckets) and inflated JL
    * distortion from ~4% to ~43% out-of-band. Measured after the fix:
    * mean |row corr| 0.106 ≈ the 1/√dim ideal, JL in-band fraction
    * matches a true-random matrix. */
  def planeSigns(nPlanes: Int, dim: Int): Seq[Seq[Int]] =
    (0 until nPlanes).map { j =>
      (0 until dim).map { d =>
        var z = (j.toLong * dim + d + 1) + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= (z >>> 31)
        if ((z & 1L) == 1L) 1 else -1
      }
    }

  /** Johnson–Lindenstrauss RANDOM PROJECTION: dim → `dOut` via the
    * deterministic ±1 plane matrix scaled by `1/√dOut` (Achlioptas
    * 2003 — ±1 entries preserve pairwise distances in expectation like
    * Gaussian ones, and make the projection exactly replayable). The
    * dimensionality-reduction pre-step of a large-scale ANN/clustering
    * pipeline: a 64→16 projection cuts every downstream distance
    * computation and index byte 4×, per-row with no shuffle. Output is
    * EXPLODED to (vec_id, j, value) — scalar columns, engine-portable —
    * with each component the shared left-fold dot × the shared scale,
    * rounded 6dp. */
  def randomProject(
      df: DataFrame, idCol: String, vecCol: String,
      dOut: Int, dim: Int = 64): DataFrame =
    projectedVecs(df, idCol, vecCol, dOut, dim)
      .select(col("vec_id"), posexplode(col("pv")))
      .select(col("vec_id"), col("pos").as("j"), col("col").as("value"))

  /** The projected vectors as ARRAYS of 6dp-rounded components — the
    * internal form [[randomProject]] explodes and [[projectRerankKnn]]
    * scores on. Rounding BEFORE any downstream arithmetic makes the
    * projected space's values literal-identical across engines, so
    * candidate selection in that space can never tie-break differently. */
  private def projectedVecs(
      df: DataFrame, idCol: String, vecCol: String,
      dOut: Int, dim: Int): DataFrame = {
    val signs = planeSigns(dOut, dim)
    val scale = 1.0 / math.sqrt(dOut.toDouble)
    val comps = array(signs.map(row =>
      round(dot(col("v"), lit(row.map(_.toDouble).toArray)) * lit(scale),
        6)): _*)
    df.select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .select(col("vec_id"), comps.as("pv"))
  }

  /** TWO-STAGE ANN: candidate generation in the JL-projected space,
    * exact re-rank in the original space — the classic
    * reduce-then-refine layout (dimensionality reduction is lossy, so
    * the projected score only SELECTS `m` candidates per query; the
    * returned top-k and its similarities are exact cosine on the full
    * vectors). At scale the win is stage 1 touching `dOut/dim` of the
    * bytes per comparison (64→16 = 4×) with the same broadcast-queries
    * / local-scoring shape as [[bruteForceKnn]]; stage 2 then scores
    * only `m·|queries|` full-width pairs — a broadcastable candidate
    * list joined back to the corpus by id, never an all-pairs pass.
    * Projected scores are dots of 6dp-rounded components (see
    * [[projectedVecs]]) so both engines select identical candidates.
    * Output: (qid, nid, rank, sim) — same contract as the other knn
    * operators.
    *
    * BATCH INVARIANT (the broadcast licenses): `queries` must be a
    * bounded serving batch — `qp` is |Q| projected rows, `topm` is
    * m·|Q| id pairs, `q` is |Q| full vectors; all three broadcasts are
    * batch-bounded, never corpus-bounded. Corpus-vs-corpus shapes are
    * [[nnDescentKnnGraph]]'s job ([[bruteForceKnn]] note). */
  def projectRerankKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int,
      dOut: Int = 16, dim: Int = 64): DataFrame = {
    val cp = projectedVecs(corpus, idCol, vecCol, dOut, dim)
    val qp = projectedVecs(queries, idCol, vecCol, dOut, dim)
      .select(col("vec_id").as("qid"), col("pv").as("qpv"))
    // stage 1: approximate score in dOut dims, bounded top-m per query
    val cand = cp.join(broadcast(qp), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        dot(col("qpv"), col("pv")).as("sim"))
    val topm = topK(cand, m).select("qid", "nid")
    // stage 2: exact cosine on the full vectors for the survivors only
    val v = corpus.select(col(idCol).as("nid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val exact = v.join(broadcast(topm), "nid").join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    topK(exact, k)
  }

  /** Default LSH plane count as a function of corpus size:
    * `max(8, ⌈log₂N⌉)` — bucket count 2^planes lands in [N, 2N), so
    * expected in-bucket candidate work per query stays O(1) as the
    * corpus grows (the fixed-8-planes form was O(N²/256): the r6 10×
    * probe measured 7.0×/decade on `knn_lsh_bucketed` from exactly
    * that — the same defect, and the same cure, as the IVF family's
    * [[defaultNList]]). Occupancy ~1 makes single-probe LSH the
    * maximum-pruning contrast — closest-angular-neighbor detection;
    * recall at equal pruning is the multi-probe and IVF variants' job.
    * PURE INTEGER arithmetic (smallest p with 2^p ≥ N), mirrored in the
    * oracle as an integer scalar subquery — no cross-engine log2
    * rounding to trust. Capped at 30 so bucket ids stay well inside a
    * BIGINT and plane tables stay bounded. */
  def autoPlanes(n: Long): Int = {
    var p = 0
    while (p < 30 && (1L << p) < n) p += 1
    math.max(8, p)
  }

  /** SQ8 (scalar-quantized) ANN — the MEMORY-compression path: each
    * corpus vector is stored as 64 one-byte codes under a per-dimension
    * affine quantizer (`code_d = round((x_d − min_d)/scale_d)`,
    * `scale_d = (max_d − min_d)/255`), a 4× (float) / 8× (double)
    * index-size reduction, and queries score ASYMMETRICALLY (full-
    * precision query × decoded corpus code — the FAISS SQ8 flat/IVF
    * recipe). At 100 TB the index either fits executor memory or it
    * doesn't — this is the knob that makes it fit; recall loss from
    * 8-bit codes is negligible (spec-measured ≥ 0.9 @5 against the
    * exact baseline on the testdata corpus).
    *
    * Determinism contract: the quantizer is per-dim MIN/MAX (exact —
    * no FP summation), scales and decode are plain double arithmetic
    * on identical operands in both engines, `round` on a non-negative
    * operand agrees (half-up ≡ half-away-from-zero), a zero-range
    * dimension decodes to its constant, and scoring is [[DotProduct]]'s
    * exact left fold — the oracle replays the whole index build and
    * search bit-for-bit. The min/max pass collects exactly 2·dim
    * scalars to the driver (the J1 coarse-range license) and enters the
    * plan as literals, so code assignment is a per-row projection.
    * Output: (qid, nid, rank, sim) — sim is the QUANTIZED cosine.
    *
    * BATCH INVARIANT: `queries` must be a bounded serving batch (the
    * `broadcast(q)` license — see [[bruteForceKnn]]). */
  def sq8Knn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    val vd = corpus.select(col(idCol).as("nid"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val mmRow = vd.agg(
      array((1 to dim).map(d => min(element_at(col("v"), d))): _*).as("mins"),
      array((1 to dim).map(d => max(element_at(col("v"), d))): _*).as("maxs"))
      .head()
    val mins = mmRow.getSeq[Double](0)
    val scales = mmRow.getSeq[Double](1).zip(mins).map { case (mx, mn) =>
      (mx - mn) / 255.0 }
    val minsL = lit(mins.toArray)
    val scalesL = lit(scales.toArray)
    // decoded corpus value: min_d + scale_d * round((x_d − min_d)/scale_d)
    // — the double the one-byte code represents
    val decoded = transform(col("v"), (x, i) => {
      val mn = element_at(minsL, i + 1)
      val sc = element_at(scalesL, i + 1)
      when(sc > 0, mn + sc * round((x - mn) / sc)).otherwise(mn)
    })
    val nb = vd.select(col("nid"), decoded.as("vh"))
      .withColumn("nrm", norm(col("vh")))
    val q = queries.select(col(idCol).as("qid"),
        transform(col(vecCol), x => x.cast("double")).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = nb.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("vh")) / (col("qn") * col("nrm"))).as("sim"))
    topK(scored, k)
  }

  /** Random-hyperplane-LSH bucketed ANN — the scale path. Each vector gets
    * an `nPlanes`-bit signature (bit j = sign of <v, plane_j>); candidates
    * are corpus vectors in the SAME bucket as the query, found by an
    * equi-join on the bucket id (hash-partitioned — no all-pairs work),
    * then ranked by exact cosine within the bucket. Approximate: recall
    * trades against bucket width via `nPlanes` (more planes → smaller
    * buckets). NOTE: recall depends on the corpus having genuine angular
    * cluster structure; on near-uniform random vectors (like the synthetic
    * testdata, where top-5 cosines are ~0.3-0.45) ANY bucketing scheme has
    * near-random recall — measured and documented, not a defect. Real
    * embedding corpora cluster, which is what makes LSH work. Output:
    * (qid, nid, rank, sim) — rank within candidates. */
  /** The nPlanes-bit signature as ONE native loop expression over a
    * referenced plane matrix ([[graft.functions.PlaneBucket]]): with
    * [[autoPlanes]] scaling the plane count, the unrolled
    * sum-of-`when(dot > 0)` form put nPlanes literal arrays + dot nodes
    * into the plan per side — ~1.7 s of driver-side planning per query
    * build at 15 planes, 10× the execution cost (the [[ArgmaxCell]]
    * plan-size lesson, applied to LSH). Bit-identical arithmetic. */
  private[llm] def bucketExpr(v: Column, signs: Seq[Seq[Int]]): Column = {
    import org.apache.spark.sql.GraftSql
    GraftSql.column(graft.functions.PlaneBucket(
      GraftSql.expression(v), signs.map(_.map(_.toDouble))))
  }

  def lshKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, dim: Int = 64,
      multiProbe: Boolean = false): DataFrame = {
    val signs = planeSigns(nPlanes, dim)
    def bucket(v: Column): Column = bucketExpr(v, signs)

    val v = corpus.select(col(idCol).as("nid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("bkt", bucket(col("v")))
    val q0 = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("bkt0", bucket(col("qv")))
    // MULTI-PROBE: also search every bucket at hamming distance 1 from
    // the query's signature (one flipped hyperplane bit) — the standard
    // recall lever: near neighbors that disagree with the query on
    // exactly one plane live there. Candidate volume grows ×(nPlanes+1)
    // on the QUERY side only; the corpus stays single-bucketed, and each
    // (query, neighbor) pair appears at most once (probed buckets are
    // distinct). Corpus-side plan is unchanged.
    val q =
      if (!multiProbe) q0.withColumnRenamed("bkt0", "bkt")
      else q0.withColumn("bkt", explode(array(
          col("bkt0") +: (0 until nPlanes).map(j =>
            col("bkt0").bitwiseXOR(lit(1L << j))): _*)))
        .drop("bkt0")
    val scored = v.join(q, Seq("bkt"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    topK(scored, k)
  }

  /** MULTI-TABLE LSH ANN — `nTables` INDEPENDENT hyperplane tables, the
    * standard production recall lever (and the reason single-table LSH
    * is only a contrast): a true neighbor is missed only if it lands in
    * a different bucket in EVERY table, so miss probability decays
    * exponentially in `nTables` while per-table pruning stays at the
    * [[autoPlanes]] O(1)-candidates regime. The corpus index carries L
    * rows per vector — the textbook L-table space/recall trade, built
    * here with one `posexplode` over L [[graft.functions.PlaneBucket]]
    * signatures (plan size constant in L·nPlanes).
    *
    * Candidates = pairs sharing (table, bucket) for at least one table;
    * a pair found by several tables is collapsed by a (qid, nid) groupBy
    * before ranking (`min` of identical sims — deterministic). Exact
    * cosine rank within candidates, same output contract as [[lshKnn]]:
    * (qid, nid, rank, sim). Table t uses plane rows
    * [t·nPlanes, (t+1)·nPlanes) of the shared [[planeSigns]] matrix, so
    * the oracle re-derives every table from the same literals. */
  def lshKnnMultiTable(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, nTables: Int = 4, dim: Int = 64): DataFrame = {
    val all = planeSigns(nTables * nPlanes, dim)
    def buckets(v: Column): Column = array((0 until nTables).map { t =>
      bucketExpr(v, all.slice(t * nPlanes, (t + 1) * nPlanes))
    }: _*)
    def explodeTables(df: DataFrame): DataFrame = df
      .select(col("*"), posexplode(col("bkts")))
      .drop("bkts")
      .withColumnRenamed("pos", "t")
      .withColumnRenamed("col", "bkt")
    val v = explodeTables(
      corpus.select(col(idCol).as("nid"), col(vecCol).as("v"))
        .withColumn("nrm", norm(col("v")))
        .withColumn("bkts", buckets(col("v"))))
    val q = explodeTables(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
        .withColumn("qn", norm(col("qv")))
        .withColumn("bkts", buckets(col("qv"))))
    val cand = v.join(q, Seq("t", "bkt"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
      .groupBy("qid", "nid").agg(min("sim").as("sim"))
    topK(cand, k)
  }

  /** BINARY-QUANTIZATION ANN WITH EXACT RERANK — the memory-tier ANN
    * between the LSH buckets and SQ8 (FAISS's binary index / the
    * "binary quantization" production layout): every vector compresses
    * to a 64-BIT SIGN SKETCH (bit j = sign of <v, plane_j> over the
    * shared deterministic plane matrix — a 32× smaller scanned index at
    * dim 64 float), candidates are all corpus vectors within hamming
    * `hammingMax` of the query's sketch, and survivors are re-scored
    * with EXACT cosine on the full vectors, so quantization costs
    * recall only, never score error (the ivfpq_rerank contract).
    *
    * Candidate generation is the 4×16-bit BANDED equi-join shared with
    * the fingerprint dedup family ([[graft.llm.Dedup.hammingPairs64]]):
    * two pigeonholes — 4 bands, ≤ 3 differing bits — guarantee every
    * pair within the hamming radius shares at least one exact band, so
    * sketch-level recall is EXACT (never all-pairs; fan-out is governed
    * by 16-bit band occupancy ≈ N/65536 per band value). Cross-band
    * duplicate candidates collapse by a (qid, nid) group-min before the
    * bounded top-k — sims are identical wherever a pair meets (the
    * multi-table convention). The sketch is two 32-plane
    * [[graft.functions.PlaneBucket]] halves (lo, hi) — one native loop
    * per half, plan size constant in the plane count. */
  def binaryRerankKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      hammingMax: Int = 3, dim: Int = 64): DataFrame = {
    require(hammingMax >= 0 && hammingMax <= 3,
      "banded recall is exact only for hammingMax <= bands-1 = 3")
    val signs = planeSigns(64, dim)
    def sketch(df: DataFrame, id: String, idOut: String, v: String,
        vOut: String, nOut: String): DataFrame = df
      .select(col(id).as(idOut), col(v).as(vOut))
      .withColumn(nOut, norm(col(vOut)))
      .withColumn("__lo", bucketExpr(col(vOut), signs.slice(0, 32)))
      .withColumn("__hi", bucketExpr(col(vOut), signs.slice(32, 64)))
      .withColumn("__b", explode(array(
        struct(lit(0).as("band"),
          col("__lo").bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(1).as("band"),
          shiftright(col("__lo"), 16).bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(2).as("band"),
          col("__hi").bitwiseAND(lit(65535L)).as("bv")),
        struct(lit(3).as("band"),
          shiftright(col("__hi"), 16).bitwiseAND(lit(65535L)).as("bv")))))
      .select(col(idOut), col(vOut), col(nOut),
        col("__lo"), col("__hi"), col("__b.band").as("band"),
        col("__b.bv").as("bv"))
    val v = sketch(corpus, idCol, "nid", vecCol, "v", "nrm")
    val q = sketch(queries, idCol, "qid", vecCol, "qv", "qn")
      .withColumnRenamed("__lo", "qlo").withColumnRenamed("__hi", "qhi")
    // NO self-exclusion: unlike the query-is-corpus-member LSH/IVF
    // entries, the binary tier's natural caller probes with EXTERNAL
    // vectors (a corrupted/truncated embedding hunting its source), so
    // an id match is a retrieval HIT, not an identity artifact —
    // excluding ids here is the caller's concern.
    val cand = v.join(q, Seq("band", "bv"))
      .filter(
        (bit_count(col("__lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("__hi").bitwiseXOR(col("qhi")))) <= hammingMax)
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
      .groupBy("qid", "nid").agg(min("sim").as("sim"))
    topK(cand, k)
  }

  /** RECALL@k EVALUATION of an approximate knn result against the exact
    * brute-force baseline — the metric an embedding pipeline watches
    * when tuning nPlanes/nTables/nProbe. Both inputs use the (qid, nid)
    * contract every knn operator here emits. Output one row per query:
    * (qid, n_exact, n_hits, recall). Plan: one (qid, nid) equi-join +
    * per-query count — trivially distributed; at scale the exact
    * baseline comes from a SAMPLED query set (running brute force over
    * all queries would defeat the point). */
  def knnRecall(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("qid"), col("nid"))
      .join(approx.select(col("qid"), col("nid"), lit(1).as("__hit")),
        Seq("qid", "nid"), "left")
      .groupBy("qid").agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
      .select(col("qid"), col("n_exact"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_exact"), 6).as("recall"))

  /** Initial-graph LSH plane count for [[nnDescentGraph]]: the smallest
    * p ≤ 30 with 2^p ≥ N/k (expected bucket occupancy ≈ k — each node
    * starts with about one bucket's worth of provisional neighbors),
    * floored at 4. Pure integer shifts/comparisons — the oracle mirrors
    * it exactly (the autoPlanes discipline). */
  def nnDescentPlanes(n: Long, k: Int): Int = {
    val target = math.max(1L, n / k)
    var p = 0
    while (p < 30 && (1L << p) < target) p += 1
    math.max(4, p)
  }

  /** APPROXIMATE k-NN GRAPH over the whole corpus — NN-DESCENT (Dong,
    * Moses, Li: "Efficient k-nearest neighbor graph construction for
    * generic similarity measures", WWW 2011). This is the
    * CORPUS-VS-CORPUS retrieval shape (SemDeDup at the query tier,
    * attribution sweeps, diversity mining, graph-ANN index bootstrap)
    * where every query-batch ANN entry is structurally wrong: both
    * sides ARE the corpus, so neither can broadcast and per-query index
    * probing pays N × (in-cell occupancy) — N^1.5 under a √N inverted
    * file, N^(4/3) under the multi-index. NN-descent instead converges
    * the whole graph at O(N·k²) work PER ROUND:
    *
    *  - INIT: TWO independent hyperplane-LSH tables sized to expected
    *    occupancy ≈ k each ([[nnDescentPlanes]]) give each node a
    *    provisional neighbor list — one (table, bucket) equi-join with
    *    cross-table (qid, nid) group-min dedup, the lshKnnMultiTable
    *    shape (and its skew license: a pathological bucket is ordinary
    *    join-key skew). Two tables matter for CONNECTIVITY, not just
    *    recall: local joins only ever propagate within a connected
    *    component of the init graph, and a cluster split by one
    *    projection is bridged by the other.
    *  - ROUND ("local join"): if u lists v and w as neighbors, v and w
    *    become candidates OF EACH OTHER — neighbors-of-neighbors
    *    relationally: E = B ∪ reverse(B) (reverse degree capped at k by
    *    (sim DESC, id) — Dong's reverse sampling, ρ = 1, keeps hub
    *    in-degrees from breaking the per-round bound), then ONE
    *    self-equi-join of E on the shared endpoint, ≤ (2k)² candidate
    *    pairs per node. Candidates union the current edges (a neighbor
    *    is never lost — per-node top-k is monotone across rounds),
    *    dedup, rescore by exact cosine, and keep the per-node top-k via
    *    the bounded TopKAgg. The vectors are materialized once (the
    *    job also counts them) and released after the last round; each
    *    round is one [[Rounds]] materialization (flat lineage, the
    *    superseded round released), as Graph's rank loop runs.
    *
    * Every round is two corpus-key equi-joins + one k²-bounded
    * self-join — no broadcast of anything corpus-sized, no windows, no
    * driver state beyond the plane count. Convergence: each round can
    * only improve per-node lists (union with current edges + top-k);
    * on clustered corpora 2 rounds from the LSH warm start recover
    * most of the exact graph (`NnDescentSpec` measures it; the dial is
    * `rounds`, and k itself — larger lists explore more per round).
    * Output: (qid, nid, rank, sim) — k rows per node, the knn contract.
    */
  def nnDescentGraph(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, rounds: Int = 2, dim: Int = 64): DataFrame = {
    require(k >= 1 && rounds >= 0)
    val (n, count) = sizedView(emb.select(col(idCol).as("nid"),
      col(vecCol).as("v")).withColumn("nrm", norm(col("v"))), _ => 1L)
    try {
      val planes = nnDescentPlanes(count, k)
      val signs = planeSigns(2 * planes, dim)
      val b = n
        .withColumn("__b1", bucketExpr(col("v"), signs.slice(0, planes)))
        .withColumn("__b2",
          bucketExpr(col("v"), signs.slice(planes, 2 * planes)))
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
          (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
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
      val (cur, _, _) = Rounds.run(sizedView(keepK(scored0)), 0L, rounds) {
        (cur, _, _) =>
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
              (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
          (keepK(scored), _ => 0L)
      }
      // public contract: rank by (sim DESC, nid ASC), round like topK
      cur.groupBy("qid").agg(topk(col("sim"), col("nid")).as("top"))
        .select(col("qid"), posexplode(col("top")))
        .select(col("qid"), col("col.id").as("nid"),
          (col("pos") + 1).as("rank"),
          round(col("col.score"), 6).as("sim"))
    } finally unpersistCheckpoint(n)
  }

  /** IVF (inverted-file) ANN — the second scale path, complementing
    * [[lshKnn]]. A coarse quantizer of `nList` centroids partitions the
    * corpus into cells; each query probes its `nProbe` nearest cells and
    * ranks candidates by exact cosine.
    *
    * The quantizer is DETERMINISTIC and data-derived with no training
    * loop: the centroids are the `nList` lowest-id corpus vectors, so the
    * DuckDB oracle can re-derive the identical quantizer from the same
    * table (no literal injection). A production deployment would swap in
    * k-means centroids — everything downstream is unchanged.
    *
    * Scale: the centroids are collected to the driver (nList × dim floats
    * — a few KB, the coarse quantizer IS small by design; corpus data is
    * never collected) and enter the plan as literals, so CELL ASSIGNMENT
    * IS PER-ROW MAP WORK — no shuffle, no join — and the corpus-side
    * candidate lookup is an equi-join on cell id, hash-partitioned like
    * every other bucketed operator here. Cells are skew-prone on real
    * clustered data (that's what makes them work) — pair with AQE skew
    * handling at scale. Output: (qid, nid, rank, sim). */
  def ivfKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nList: Int = 16, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.Row
    // the quantizer: nList lowest-id vectors (deterministic, oracle-reproducible)
    val centroids: Seq[(Int, Seq[Double], Double)] = corpus
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
      .orderBy(col("cid")).limit(nList)
      .collect().toSeq.zipWithIndex.map { case (r: Row, i) =>
        // numeric-agnostic: embeddings may be array<float> or array<double>
        val v = r.getSeq[Number](1).map(_.doubleValue)
        // centroid norm precomputed driver-side with the same left fold
        (i, v, math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x)))
      }
    // (cid, vector, norm) triples → the loop expressions' matrix form;
    // argmax ties resolve to the larger cid, mirrored in the oracle
    val cpairs = centroids.map { case (_, cv, cn) => (cv, cn) }

    val v = corpus.select(col(idCol).as("nid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("cell", argmaxCell(col("v"), col("nrm"), cpairs))
    // query side: nProbe nearest cells, exploded to (qid, cell) probe rows
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("probes", topCells(col("qv"), col("qn"), cpairs, nProbe))
      .select(col("qid"), col("qv"), col("qn"),
        explode(col("probes")).as("cell"))
    val scored = v.join(q, Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    topK(scored, k)
  }

  /** Default IVF cell count as a function of corpus size: `⌈√N⌉`
    * (floored at 16) keeps expected cell OCCUPANCY at √N, so same-cell
    * candidate work per probe grows as √N instead of linearly — the
    * standard IVF sizing. A fixed nList makes cells denser as the corpus
    * grows (the 100× probe measured 6.2×/decade on knn_ivf with
    * nList=16 at 200k vectors). Mirrored in the oracle as a scalar
    * subquery (`greatest(16, ceil(sqrt(count(*))))`) — both sides take
    * `ceil(sqrt)` of an exact integer count, which is deterministic
    * IEEE arithmetic, so the engines derive the identical cell count. */
  def defaultNList(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** K-means TRAINING-set size: `min(N, max(4096, 64·nList))` — the
    * standard IVF practice of training the coarse quantizer on a sample
    * (~64 vectors per cell is plenty for a stable Lloyd's fixed point)
    * rather than every row. Without it training cost is
    * O(iters·N·nList·d) = O(N^1.5·d) under the √N cell default — the
    * term that dominated `knn_ivf` at the 10× probe scale. Pure integer
    * arithmetic, mirrored verbatim in the oracle's scalar subquery, so
    * both engines train on the identical subset: the first S rows of the
    * same `(hash32("ivf:"+id), id)` total order the seed centroids are
    * the nList-prefix of. */
  def trainSampleSize(n: Long, nList: Int): Long =
    math.min(n, math.max(4096L, 64L * nList.toLong))

  /** Fixed-point quantization scale for k-means training: vectors enter
    * the training space as `floor(x · 2^20)`. Every training-time sum is
    * then an exact long — ORDER-INDEPENDENT — so Spark's distributed
    * aggregation and a single-threaded oracle produce bit-identical
    * centroids, and retraining on a repartitioned corpus cannot move a
    * centroid by one ulp (spec-asserted). Dots over quantized values stay
    * exact in doubles (64 · 2^40 ≪ 2^53). */
  val KMeansScale: Double = 1048576.0

  private def quantLong(v: Column): Column =
    transform(v, x => floor(x.cast("double") * lit(KMeansScale)))
  private def quantDouble(v: Column): Column =
    transform(v,
      x => floor(x.cast("double") * lit(KMeansScale)).cast("double"))

  /** argmax cell over centroid cosine sims; ties → larger cid (struct max
    * ≡ the oracle's `ORDER BY s DESC, cid DESC` rank-1). A native LOOP
    * expression ([[graft.functions.ArgmaxCell]]): generated-code size is
    * constant in nList, where the previous unrolled
    * `array_max(array(struct…))` form blew past janino limits once nList
    * started scaling with ⌈√N⌉ (the 10× bench measured the IVF family
    * 9-36× slower from exactly that). Bit-identical fold + tie order. */
  private def argmaxCell(
      vqd: Column, qnrm: Column, cents: Seq[(Seq[Double], Double)]): Column = {
    import org.apache.spark.sql.GraftSql
    GraftSql.column(graft.functions.ArgmaxCell(
      GraftSql.expression(vqd), GraftSql.expression(qnrm),
      cents.map(_._1), cents.map(_._2)))
  }

  /** Top `nProbe` cells for a query vector, ordered (sim desc, cid desc)
    * — the loop form of `slice(reverse(array_sort(array(struct…))), 1,
    * nProbe)` (same codegen-size trap as [[argmaxCell]]). */
  private def topCells(
      vqd: Column, qnrm: Column, cents: Seq[(Seq[Double], Double)],
      nProbe: Int): Column = {
    import org.apache.spark.sql.GraftSql
    GraftSql.column(graft.functions.TopCells(
      GraftSql.expression(vqd), GraftSql.expression(qnrm),
      cents.map(_._1), cents.map(_._2), nProbe))
  }

  private def withNormPair(cv: Seq[Double]): (Seq[Double], Double) =
    // same left fold as the oracle's sqrt(dot(cv, cv))
    (cv, math.sqrt(cv.foldLeft(0.0)((s, x) => s + x * x)))

  /** Deterministic Lloyd's k-means coarse quantizer (VERDICT r3 #4).
    *
    * Init: the `nList` vectors with smallest `(hash32("ivf:" || id), id)`
    * — id-hash-seeded, so the seed set is data-derived but arbitrary-
    * order-stable. Training runs on the [[trainSampleSize]]-prefix of
    * that SAME total order (the seeds are its nList-prefix): `iters`
    * fixed rounds of: assign each training vector to its max-cosine
    * centroid (per-row loop against the referenced centroid matrix — no
    * shuffle), recompute each centroid as the exact-integer component
    * mean of its members (`posexplode` → groupBy(cell, pos) — the one
    * shuffle per round, nList·dim result rows). Cells that lose all
    * members keep their centroid. Only nList·dim sums ever reach the
    * driver (a few KB — the coarse quantizer IS small by design).
    *
    * Returns centroids in the QUANTIZED space (cosine is scale-invariant,
    * so assignment quality is unaffected). */
  def trainIvfKMeans(
      corpus: DataFrame, idCol: String, vecCol: String,
      nList: Int = 16, iters: Int = 3): IndexedSeq[Seq[Double]] = {
    val base = corpus.select(col(idCol).as("id"),
      quantLong(col(vecCol)).as("vq"),
      quantDouble(col(vecCol)).as("vqd"))
      .withColumn("qnrm", norm(col("vqd")))
      .withColumn("h", TextOps.hash32(
        concat(lit("ivf:"), col("id").cast("string"))))

    // TRAINING SUBSET: the first `sample` rows of the (h, id) total order
    // (see trainSampleSize) — a unique set, so partitioning cannot change
    // it. The limit's single-partition residue is repartitioned away
    // before the iteration passes; S is small by construction.
    val sample = trainSampleSize(corpus.count(), nList)
    val tr = sizedView(base.orderBy(col("h"), col("id")).limit(sample.toInt)
      .repartition(col("id")))
    try {
      val seeds = tr
        .orderBy(col("h"), col("id")).limit(nList)
        .select("vq").collect() // TakeOrdered — rows arrive in seed order

      var cents: IndexedSeq[(Seq[Double], Double)] = seeds.map { r =>
        withNormPair(r.getSeq[Long](0).map(_.toDouble).toIndexedSeq)
      }.toIndexedSeq

      for (_ <- 0 until iters) {
        val sums = tr
          .withColumn("cell", argmaxCell(col("vqd"), col("qnrm"), cents))
          .select(col("cell"), posexplode(col("vq")))
          .groupBy("cell", "pos")
          .agg(sum("col").as("s"), count(lit(1)).as("cnt"))
          .collect()
        val byCell = sums.groupBy(_.getAs[Int]("cell"))
        cents = cents.zipWithIndex.map { case (old, cid) =>
          byCell.get(cid).fold(old) { rows =>
            withNormPair(rows.sortBy(_.getAs[Int]("pos"))
              .map(r => r.getAs[Long]("s").toDouble / r.getAs[Long]("cnt"))
              .toIndexedSeq)
          }
        }
      }
      cents.map(_._1)
    } finally unpersistCheckpoint(tr)
  }

  /** The INVERTED-FILE index body: every corpus row with its assigned
    * cell — `(id, v, nrm, cell)`. This is the O(N·nList·d) pass of every
    * IVF operator; a real deployment builds it ONCE per corpus snapshot
    * and amortizes it across queries (exactly how faiss-style IVF is
    * used), so callers should cache the result (see
    * `LlmQueries.ivfIndex`) rather than re-assigning per query. */
  def assignCells(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: IndexedSeq[Seq[Double]]): DataFrame = {
    val cents = centroids.map(withNormPair)
    corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("vqd", quantDouble(col("v")))
      .withColumn("qnrm", norm(col("vqd")))
      .withColumn("cell", argmaxCell(col("vqd"), col("qnrm"), cents))
      .drop("vqd", "qnrm")
  }

  /** Probe-cell PRUNING cap: [[ivfKnnTrained]]'s `pruneCells` path
    * collects the query batch's DISTINCT probed cell ids (≤ nList ints —
    * bounded by the index's cell count, never by the corpus or the query
    * batch) and pushes them into the index scan as an `IN` filter. Past
    * this many distinct cells the literal list stops paying for itself
    * (the batch is probing most of the index anyway, and a 10⁵-term IN
    * bloats the plan), so the scan falls back to the plain equi-join —
    * results are identical either way (pruning only removes rows that
    * cannot match the join key). */
  val PruneCellCap: Int = 4096

  /** Candidate-id inlining cap for [[contextPack]]'s `pruneIds` —
    * bounded serving batches carry ≤ k·|Q| candidate ids; past this
    * the literal IN stops paying (same argument as [[PruneCellCap]]). */
  val PruneIdCap: Int = 65536

  /** IVF ANN with the TRAINED [[trainIvfKMeans]] quantizer: cell
    * assignment and query probing happen in the quantized space against
    * literal centroids (per-row map work), candidate lookup is the cell-id
    * equi-join, final ranking is exact cosine on the ORIGINAL vectors —
    * same plan shape as [[ivfKnn]], representative recall behavior.
    * Pass `assigned` (an [[assignCells]] result) to reuse a prebuilt
    * index instead of re-running the assignment pass.
    *
    * `pruneCells = true` turns the candidate lookup into a PRUNED READ —
    * what an inverted file IS on disk: the distinct probed cells are
    * collected (≤ nList ints, the [[PruneCellCap]] note) and pushed into
    * the index scan as an `IN` predicate, so a cell-clustered index
    * (parquet partitioned by cell at 100 TB; a cell-repartitioned cached
    * frame locally — see the `ivfIndex` cache) is read at
    * probed-cell cardinality, not corpus cardinality. Without it every
    * query batch SCANS THE WHOLE INDEX to feed the hash join — linear in
    * N per batch, the term the round-16 fixed-|Q| probe measured
    * dominating the context-pack chain's third decade. Results are
    * identical with pruning on or off (the filter only drops rows whose
    * join key cannot match), so the oracle is shared.
    *
    * WHEN to prune: bounded (serving-shaped) query batches. The collect
    * is a build-time action (two tiny jobs over the query batch — the
    * probe step itself), and for a CORPUS-PROPORTIONAL batch the probed
    * set covers most cells anyway, so such callers leave it off and
    * keep the zero-job warm build (WarmBuildSpec pins both contracts).
    * Output: (qid, nid, rank, sim). */
  def ivfKnnTrained(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nList: Int = 16, nProbe: Int = 4, iters: Int = 3,
      centroids: Option[IndexedSeq[Seq[Double]]] = None,
      assigned: Option[DataFrame] = None,
      pruneCells: Boolean = false): DataFrame = {
    val centsRaw = centroids
      .getOrElse(trainIvfKMeans(corpus, idCol, vecCol, nList, iters))
    val cents = centsRaw.map(withNormPair)

    val v = assigned.getOrElse(assignCells(corpus, idCol, vecCol, centsRaw))
      .withColumnRenamed("id", "nid")
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("vqd", quantDouble(col("qv")))
      .withColumn("qqn", norm(col("vqd")))
      .withColumn("qn", norm(col("qv")))
      .withColumn("probes", topCells(col("vqd"), col("qqn"), cents, nProbe))
      .select(col("qid"), col("qv"), col("qn"),
        explode(col("probes")).as("cell"))
    val vScan = if (pruneCells) prunedByCells(v, q) else v
    val scored = vScan.join(q, Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    topK(scored, k)
  }

  /** The pruned-read step shared by the IVF/IMI candidate stages: filter
    * the index side to the probe side's distinct `cell` values when the
    * set is small enough to inline (see [[PruneCellCap]]). The collect
    * is bounded by the quantizer's cell count — the same driver-state
    * license as the centroids themselves. */
  private def prunedByCells(index: DataFrame, probes: DataFrame): DataFrame = {
    val cells = probes.select(col("cell"))
      .distinct().limit(PruneCellCap + 1)
      .collect().map(_.getInt(0))
    if (cells.length > PruneCellCap) index
    else index.filter(col("cell").isin(cells.map(Integer.valueOf): _*))
  }

  // --------------------------------------------------------------- IMI

  /** Per-half centroid count for the INVERTED MULTI-INDEX: the smallest
    * k with `k³ ≥ N` (floored at 8), so the product codebook's `k²`
    * cells hold expected `N^(1/3)` vectors each — the occupancy curve a
    * single-level quantizer can't afford (matching cell granularity
    * single-level needs nList = N^(2/3) centroids, whose O(N·nList·d)
    * assignment pass is O(N^(5/3)); the multi-index pays
    * O(N·2·kHalf·d/2) = O(N^(4/3)) for the same cell count, and at a
    * deployment-fixed kHalf — FAISS's IMI2x14 shape — the build is
    * linear in N outright). Exact integer search, mirrored verbatim in
    * the oracle's scalar subquery (`min k from a range where k³ ≥
    * count`), so both engines derive the identical codebook size. */
  def defaultKHalf(n: Long): Int = {
    val k = Iterator.from(1)
      .find(k => k.toLong * k * k >= math.max(1L, n)).get
    math.max(8, k)
  }

  /** The two half-space coarse quantizers of the INVERTED MULTI-INDEX
    * (Babenko & Lempitsky, CVPR 2012): the vector splits into its first
    * and second halves, each trained with its own deterministic
    * [[trainIvfKMeans]] codebook of `kHalf` centroids — same
    * fixed-point training space, same `(hash32("ivf:"+id), id)`-seeded
    * sample for both halves (the id hash is vector-independent, so one
    * total order seeds both codebooks — also what lets the oracle share
    * one rank CTE). Returns (first-half centroids, second-half
    * centroids), each in the quantized space. */
  def trainImiQuantizers(
      corpus: DataFrame, idCol: String, vecCol: String,
      kHalf: Int, iters: Int = 3, dim: Int = 64)
      : (IndexedSeq[Seq[Double]], IndexedSeq[Seq[Double]]) = {
    require(dim % 2 == 0, s"dim $dim must split into two halves")
    val half = dim / 2
    def halfCorpus(off: Int) = corpus.select(col(idCol),
      slice(col(vecCol), off, half).as(vecCol))
    (trainIvfKMeans(halfCorpus(1), idCol, vecCol, kHalf, iters),
      trainIvfKMeans(halfCorpus(half + 1), idCol, vecCol, kHalf, iters))
  }

  /** The multi-index BODY: every corpus row with its PRODUCT cell
    * `cellA·kHalf + cellB` — per-row work is two independent `kHalf`-
    * centroid argmaxes over the vector halves (O(kHalf·d) per row,
    * vs O(kHalf²·d) had the k² product cells been materialized as one
    * flat codebook — the whole point of the product structure). Same
    * build-once-amortize lifecycle as [[assignCells]]. */
  def assignImiCells(
      corpus: DataFrame, idCol: String, vecCol: String,
      centsA: IndexedSeq[Seq[Double]], centsB: IndexedSeq[Seq[Double]],
      dim: Int = 64): DataFrame = {
    val half = dim / 2
    val kHalf = centsA.length
    val (ca, cb) = (centsA.map(withNormPair), centsB.map(withNormPair))
    corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("vqa", quantDouble(slice(col("v"), 1, half)))
      .withColumn("vqb", quantDouble(slice(col("v"), half + 1, half)))
      .withColumn("cell",
        argmaxCell(col("vqa"), norm(col("vqa")), ca) * lit(kHalf) +
          argmaxCell(col("vqb"), norm(col("vqb")), cb))
      .select("id", "v", "nrm", "cell")
  }

  /** INVERTED-MULTI-INDEX ANN — the second-generation coarse quantizer
    * (Babenko & Lempitsky, CVPR 2012; FAISS `IMI2xk`): candidate cells
    * are the PRODUCT of two independent half-space codebooks, so `k²`
    * cells cost `k` centroids of assignment work per half. Each query
    * probes its `nPairs` jointly-best product cells in the paper's
    * MULTI-SEQUENCE order (pairs ranked by the sum of the two half
    * similarities — [[graft.functions.ImiTopPairs]]), candidates rank
    * by exact cosine on the full vectors. Per-query candidate work is
    * `nPairs·N/kHalf²` — with the auto `kHalf = ⌈N^(1/3)⌉` that is
    * O(N^(1/3)), strictly below the single-level √N floor — and the
    * candidate read is cell-pruned exactly like [[ivfKnnTrained]]'s
    * (`pruneCells`). Output: (qid, nid, rank, sim). */
  def imiKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      kHalf: Int = 8, nPairs: Int = 8,
      iters: Int = 3, dim: Int = 64,
      centroids: Option[(IndexedSeq[Seq[Double]], IndexedSeq[Seq[Double]])] =
        None,
      assigned: Option[DataFrame] = None,
      pruneCells: Boolean = true): DataFrame = {
    val half = dim / 2
    val (centsA, centsB) = centroids.getOrElse(
      trainImiQuantizers(corpus, idCol, vecCol, kHalf, iters, dim))
    val (ca, cb) = (centsA.map(withNormPair), centsB.map(withNormPair))

    val v = assigned.getOrElse(
      assignImiCells(corpus, idCol, vecCol, centsA, centsB, dim))
      .withColumnRenamed("id", "nid")
    val pairs = {
      import org.apache.spark.sql.GraftSql
      (vqa: Column, qna: Column, vqb: Column, qnb: Column) =>
        GraftSql.column(graft.functions.ImiTopPairs(
          GraftSql.expression(vqa), GraftSql.expression(qna),
          GraftSql.expression(vqb), GraftSql.expression(qnb),
          ca.map(_._1), ca.map(_._2), cb.map(_._1), cb.map(_._2), nPairs))
    }
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("vqa", quantDouble(slice(col("qv"), 1, half)))
      .withColumn("vqb", quantDouble(slice(col("qv"), half + 1, half)))
      .withColumn("pc",
        pairs(col("vqa"), norm(col("vqa")), col("vqb"), norm(col("vqb"))))
      .select(col("qid"), col("qv"), col("qn"),
        explode(col("pc")).as("cell"))
    val vScan = if (pruneCells) prunedByCells(v, q) else v
    val scored = vScan.join(q, Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    topK(scored, k)
  }

  // ---------------------------------------------------------------- PQ

  private def pqEncode(vqd: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    import org.apache.spark.sql.GraftSql
    GraftSql.column(graft.functions.PqEncode(GraftSql.expression(vqd), books))
  }
  private def pqLut(vqd: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    import org.apache.spark.sql.GraftSql
    GraftSql.column(graft.functions.PqLut(GraftSql.expression(vqd), books))
  }

  /** Deterministic PRODUCT-QUANTIZATION codebooks (Jégou et al. 2011;
    * the 4-bit `ksub=16` default is the FAISS "fast-scan" PQ shape):
    * the vector splits into `m` contiguous `dim/m`-dim subspaces, each
    * with its own `ksub`-centroid L2 k-means codebook, trained jointly
    * as ONE Lloyd's chain keyed by `(subspace, centroid)` — one shuffle
    * per round for ALL subspaces, not `m` separate trainings.
    *
    * Same determinism frame as [[trainIvfKMeans]]: fixed-point training
    * space (`floor(x·2^20)` — component sums are exact longs, so
    * distributed aggregation and the single-threaded oracle derive
    * bit-identical centroids), `(hash32("pq:"+id), id)`-seeded init
    * (first `ksub` rows' subvectors), training on the
    * [[trainSampleSize]]-prefix of that same total order, empty cells
    * keeping their centroid. Assignment is squared-L2 argmin per
    * subspace (PQ minimizes RECONSTRUCTION error, unlike the cosine
    * coarse quantizer), ties → smaller centroid id.
    *
    * Returns `m × ksub × dsub` centroids in the QUANTIZED space. */
  def trainPqCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 3,
      dim: Int = 64): IndexedSeq[IndexedSeq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    val base = corpus.select(col(idCol).as("id"),
        quantLong(col(vecCol)).as("vq"),
        quantDouble(col(vecCol)).as("vqd"))
      .withColumn("h", TextOps.hash32(
        concat(lit("pq:"), col("id").cast("string"))))
    val sample = trainSampleSize(corpus.count(), ksub)
    val tr = sizedView(base.orderBy(col("h"), col("id")).limit(sample.toInt)
      .repartition(col("id")))
    try {
      val seedRows = tr.orderBy(col("h"), col("id")).limit(ksub)
        .select("vq").collect()
      var books: IndexedSeq[IndexedSeq[Seq[Double]]] =
        (0 until m).map { s =>
          seedRows.toIndexedSeq.map { r =>
            r.getSeq[Long](0).slice(s * dsub, (s + 1) * dsub)
              .map(_.toDouble): Seq[Double]
          }
        }

      for (_ <- 0 until iters) {
        // one pass: every (row, subspace) assignment + exact-long
        // component sums per (subspace, cell, dim) — nList·dim-scale
        // result rows to the driver, same budget as the IVF trainer
        val sums = tr
          .select(col("vq"), posexplode(pqEncode(col("vqd"), books))
            .as(Seq("sub", "cell")))
          .select(col("sub"), col("cell"),
            posexplode(slice(col("vq"), col("sub") * dsub + 1, lit(dsub))))
          .groupBy("sub", "cell", "pos")
          .agg(sum("col").as("s"), count(lit(1)).as("cnt"))
          .collect()
        val byKey = sums.groupBy(r =>
          (r.getAs[Int]("sub"), r.getAs[Int]("cell")))
        books = books.zipWithIndex.map { case (cb, s) =>
          cb.zipWithIndex.map { case (old, c) =>
            byKey.get((s, c)).fold(old) { rows =>
              rows.sortBy(_.getAs[Int]("pos"))
                .map(r => r.getAs[Long]("s").toDouble / r.getAs[Long]("cnt"))
                .toSeq
            }
          }
        }
      }
      books
    } finally unpersistCheckpoint(tr)
  }

  /** The PQ-ENCODED corpus — `(id, codes, rnrm)`: `m` small-int codes
    * per vector (m bytes on disk after parquet dictionary/bit-packing —
    * the 100 TB index artifact; 64 floats → 8 codes is 32×) plus the
    * reconstruction norm `‖decode(codes)‖`, a pure codebook lookup
    * (subspaces are orthogonal coordinate blocks, so the squared norm is
    * the SUM of per-subspace centroid squared norms — no decode pass).
    * Built once per corpus snapshot, amortized across queries (the
    * [[assignCells]] lifecycle). */
  def pqEncodeCorpus(
      corpus: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[Seq[Double]]]): DataFrame = {
    // ‖centroid‖² per (sub, cid), same left fold as the oracle's dot
    val cnsq: Seq[Array[Double]] = books.map(
      _.map(cv => cv.foldLeft(0.0)((a, x) => a + x * x)).toArray)
    val rnsq = books.indices.map(s =>
        element_at(lit(cnsq(s)), element_at(col("codes"), s + 1) + 1))
      .foldLeft(lit(0.0))(_ + _)
    corpus.select(col(idCol).as("id"), quantDouble(col(vecCol)).as("vqd"))
      .withColumn("codes", pqEncode(col("vqd"), books))
      .withColumn("rnrm", sqrt(rnsq))
      .select("id", "codes", "rnrm")
  }

  /** PQ ANN with ASYMMETRIC distance computation (ADC): each query
    * builds its `m × ksub` lookup table of partial dots ONCE
    * ([[graft.functions.PqLut]]), after which scoring a corpus row is
    * `m` array lookups + adds — never touching the original vectors.
    * This is the third memory/compute point on the index-compression
    * curve (flat 256 B/vec → SQ8 64 B → PQ 8 B at dim 64), and the
    * candidate-scoring kernel an IVF-PQ composition would run inside
    * each probed cell. The similarity is the QUANTIZED cosine
    * `<q, decode(n)> / (‖q‖·‖decode(n)‖)` in the fixed-point space
    * (scale cancels); recall vs the exact baseline is spec-measured.
    * Output: (qid, nid, rank, sim).
    *
    * BATCH INVARIANT: `queries` must be a bounded serving batch — the
    * `broadcast(q)` ships |Q| LUTs of m·ksub doubles (≈1 KB each at the
    * defaults), batch-bounded, never corpus-bounded (the
    * [[bruteForceKnn]] license). */
  def pqKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 3, dim: Int = 64,
      books: Option[IndexedSeq[IndexedSeq[Seq[Double]]]] = None,
      encoded: Option[DataFrame] = None): DataFrame = {
    val bks = books.getOrElse(
      trainPqCodebooks(corpus, idCol, vecCol, m, ksub, iters, dim))
    val nb = encoded.getOrElse(pqEncodeCorpus(corpus, idCol, vecCol, bks))
      .withColumnRenamed("id", "nid")
    val q = queries.select(col(idCol).as("qid"),
        quantDouble(col(vecCol)).as("qvd"))
      .withColumn("qn", norm(col("qvd")))
      .withColumn("lut", pqLut(col("qvd"), bks))
      .select("qid", "qn", "lut")
    val adc = bks.indices.map(s =>
        element_at(element_at(col("lut"), s + 1),
          element_at(col("codes"), s + 1) + 1))
      .foldLeft(lit(0.0))(_ + _)
    val scored = nb.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (adc / (col("qn") * col("rnrm"))).as("sim"))
    topK(scored, k)
  }

  /** IVF-PQ — the composition both halves exist for, and the canonical
    * billion-scale ANN memory layout (FAISS IVFx,PQy): the COARSE
    * quantizer prunes the corpus to `nProbe` cells per query
    * (candidate-count lever), and candidates inside a cell are scored
    * from their PQ CODES via the query's ADC lookup table (bytes-per-
    * vector lever) — the original vectors are never touched at search
    * time. At 100 TB this is the difference between scanning 25 TB of
    * floats and 0.8 TB of codes, with per-cell candidate lists that fit
    * executor memory. Both indexes are built once per corpus snapshot
    * and amortized ([[assignCells]] / [[pqEncodeCorpus]] lifecycle);
    * `assigned`/`encoded`/`centroids`/`books` accept the cached
    * artifacts. Output: (qid, nid, rank, sim) — sim is the ADC
    * quantized cosine. */
  /** The composed IVF-PQ index body — `(nid, cell, codes, rnrm)`: the
    * coarse cell plus the PQ codes/norm per corpus row, the relation a
    * deployment materializes ONCE per snapshot (FAISS's IVF-PQ index
    * file) and the pruned candidate reads scan. Callers cache it
    * cell-clustered (the `ivfIndex` layout discipline). */
  def ivfPqIndexBody(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: IndexedSeq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]]): DataFrame =
    assignCells(corpus, idCol, vecCol, centroids)
      .select(col("id").as("nid"), col("cell"))
      .join(pqEncodeCorpus(corpus, idCol, vecCol, books)
        .select(col("id").as("nid"), col("codes"), col("rnrm")), "nid")

  def ivfPqKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nList: Int = 16, nProbe: Int = 4, iters: Int = 3,
      m: Int = 8, ksub: Int = 16, dim: Int = 64,
      centroids: Option[IndexedSeq[Seq[Double]]] = None,
      books: Option[IndexedSeq[IndexedSeq[Seq[Double]]]] = None,
      assigned: Option[DataFrame] = None,
      encoded: Option[DataFrame] = None,
      indexed: Option[DataFrame] = None,
      pruneCells: Boolean = false): DataFrame = {
    val centsRaw = centroids
      .getOrElse(trainIvfKMeans(corpus, idCol, vecCol, nList, iters))
    val cents = centsRaw.map(withNormPair)
    val bks = books.getOrElse(
      trainPqCodebooks(corpus, idCol, vecCol, m, ksub, iters, dim))
    // candidate body: (nid, cell, codes, rnrm) — cell from the coarse
    // index, codes+norm from the PQ index; the join is id-to-id on two
    // deterministic builds of the same snapshot (or the prebuilt
    // cell-clustered `indexed` artifact)
    val nb = indexed.getOrElse {
      val cells = assigned
        .getOrElse(assignCells(corpus, idCol, vecCol, centsRaw))
        .select(col("id").as("nid"), col("cell"))
      val codes = encoded
        .getOrElse(pqEncodeCorpus(corpus, idCol, vecCol, bks))
        .select(col("id").as("nid"), col("codes"), col("rnrm"))
      cells.join(codes, "nid")
    }
    val q = queries.select(col(idCol).as("qid"),
        quantDouble(col(vecCol)).as("qvd"))
      .withColumn("qn", norm(col("qvd")))
      .withColumn("qqn", col("qn"))
      .withColumn("probes", topCells(col("qvd"), col("qqn"), cents, nProbe))
      .withColumn("lut", pqLut(col("qvd"), bks))
      .select(col("qid"), col("qn"), col("lut"),
        explode(col("probes")).as("cell"))
    val adc = bks.indices.map(s =>
        element_at(element_at(col("lut"), s + 1),
          element_at(col("codes"), s + 1) + 1))
      .foldLeft(lit(0.0))(_ + _)
    val nbScan = if (pruneCells) prunedByCells(nb, q) else nb
    val scored = nbScan.join(q, Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (adc / (col("qn") * col("rnrm"))).as("sim"))
    topK(scored, k)
  }

  /** IVF-PQ shortlist + EXACT re-rank — the full production serving
    * stack (FAISS's `index.search` + refine): stage 1 is [[ivfPqKnn]]
    * with an over-fetched shortlist (`k · shortlistFactor` by ADC over
    * codes — the corpus floats are never scanned), stage 2 joins ONLY
    * the shortlisted ids back to the original vectors and re-scores
    * with exact cosine. At 100 TB the stage-2 join touches
    * `k·factor·|queries|` corpus rows via an id equi-join (a point
    * lookup per candidate), so the float vectors are read at
    * shortlist-cardinality, not corpus-cardinality — ADC's recall
    * approximation no longer decides the FINAL ranking, only the
    * candidate set. Output: (qid, nid, rank, sim) with sim the exact
    * cosine, identical to [[bruteForceKnn]]'s scoring on the same
    * pairs. */
  def ivfPqRerankKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlistFactor: Int = 4,
      nList: Int = 16, nProbe: Int = 4, iters: Int = 3,
      m: Int = 8, ksub: Int = 16, dim: Int = 64,
      centroids: Option[IndexedSeq[Seq[Double]]] = None,
      books: Option[IndexedSeq[IndexedSeq[Seq[Double]]]] = None,
      assigned: Option[DataFrame] = None,
      encoded: Option[DataFrame] = None,
      indexed: Option[DataFrame] = None,
      pruneCells: Boolean = false): DataFrame = {
    require(shortlistFactor >= 1, "shortlistFactor must be >= 1")
    val short = ivfPqKnn(corpus, queries, idCol, vecCol,
        k * shortlistFactor, nList, nProbe, iters, m, ksub, dim,
        centroids, books, assigned, encoded, indexed, pruneCells)
      .select(col("qid"), col("nid"))
    val v = corpus.select(col(idCol).as("nid"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val exact = short.join(v, "nid").join(q, "qid")
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    topK(exact, k)
  }

  /** Embedding-cosine near-dup pairs above `tau` with the TRAINED
    * k-means cells as buckets: candidates must share an IVF cell, ranked
    * by exact cosine. On clustered corpora (what real embeddings look
    * like) data-derived cells track the actual density structure, so
    * recall is far better per candidate-pair than data-blind hyperplane
    * buckets at a similar pruning rate. Same approximate-recall caveat
    * as every single-probe bucketing: pairs straddling a cell boundary
    * are missed. Output: (id_a, id_b, sim). */
  def cosinePairsIvf(
      corpus: DataFrame, idCol: String, vecCol: String, tau: Double,
      nList: Int = 16, iters: Int = 3,
      centroids: Option[IndexedSeq[Seq[Double]]] = None,
      assigned: Option[DataFrame] = None): DataFrame =
    cosinePairsIvfWithCell(corpus, idCol, vecCol, tau, nList, iters,
      centroids, assigned)
      .select(col("id_a"), col("id_b"), col("sim"))

  /** [[cosinePairsIvf]] with the shared IVF cell kept on each pair row —
    * every candidate pair shares a cell by construction (the join IS the
    * cell equi-join), and downstream consumers exploit that confinement:
    * [[dropNearDuplicatesByEmbedding]] runs connected components as one
    * per-cell union-find pass instead of iterative global label
    * propagation. Output: (cell, id_a, id_b, sim). */
  def cosinePairsIvfWithCell(
      corpus: DataFrame, idCol: String, vecCol: String, tau: Double,
      nList: Int = 16, iters: Int = 3,
      centroids: Option[IndexedSeq[Seq[Double]]] = None,
      assigned: Option[DataFrame] = None): DataFrame = {
    val base = assigned.getOrElse(assignCells(corpus, idCol, vecCol,
      centroids.getOrElse(trainIvfKMeans(corpus, idCol, vecCol, nList, iters))))
    base.as("a")
      .join(base.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.cell").as("cell"),
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= tau)
      .select(col("cell"), col("id_a"), col("id_b"),
        round(col("sim"), 6).as("sim"))
  }

  /** End-to-end EMBEDDING near-dup dedup: the input rows minus
    * non-representative members of each cosine-similarity cluster —
    * the semantic-dedup counterpart of
    * [[graft.llm.Dedup.dropNearDuplicates]] (which is lexical). Pairs
    * come from [[cosinePairsIvf]] (trained-cell buckets), clusters from
    * min-label connected components, survivors keep exactly the
    * smallest-id member per cluster. */
  def dropNearDuplicatesByEmbedding(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      nList: Int = 16, iters: Int = 3,
      centroids: Option[IndexedSeq[Seq[Double]]] = None,
      assigned: Option[DataFrame] = None,
      capPerDoc: Int = 0): DataFrame = {
    val withCell = cosinePairsIvfWithCell(
      df, idCol, vecCol, tau, nList, iters, centroids, assigned)
    // optional bounded pair emission (mirrors Dedup.capPairsPerDoc): on a
    // dup-soup corpus the in-cell pair relation is quadratic in cluster
    // size, but CC only needs a spanning edge set — keep each doc's
    // capPerDoc best pairs (union over endpoints). Capping is cell-
    // preserving (a kept pair is a pair), so the per-cell CC still applies.
    val pairs =
      if (capPerDoc <= 0) withCell
      else {
        // kept edge set per capPairsPerDoc's contract (either endpoint
        // ranks the pair in its top k by (sim DESC, neighbor ASC)),
        // computed directly over the cell-carrying relation so the pair
        // join isn't re-run an extra time for the semi join
        val topk = udaf(new graft.functions.TopKAgg(capPerDoc))
        val e = withCell.select(col("id_a").as("d"), col("id_b").as("o"),
            col("sim").cast("double").as("s"))
          .union(withCell.select(col("id_b").as("d"), col("id_a").as("o"),
            col("sim").cast("double").as("s")))
        val kept = e.groupBy("d").agg(topk(col("s"), col("o")).as("top"))
          .select(col("d"), explode(col("top")).as("e"))
          .select(least(col("d"), col("e.id")).as("id_a"),
            greatest(col("d"), col("e.id")).as("id_b"))
          .distinct()
        withCell.join(kept, Seq("id_a", "id_b"), "left_semi")
      }
    // cells confine every edge (the candidate join is a cell equi-join),
    // so components are cell-local: one union-find pass per cell replaces
    // iterative global CC — the r6 10× probe's 14 label-propagation
    // rounds (11 s) collapse into a single shuffle.
    val clusters = Dedup.connectedComponentsPerKey(
      pairs, "id_a", "id_b", "cell")
    val losers = clusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("__graft_loser"))
    Dedup.antiJoinDropSized(df, idCol, losers)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup with
    * the paper's KEEP RULE — within each group of semantic duplicates,
    * keep the member with the LOWEST cosine similarity to its cluster
    * centroid (the most atypical exemplar preserves diversity; min-id
    * keep, [[dropNearDuplicatesByEmbedding]], is the lexical-dedup
    * convention and discards it). Duplicate groups are connected
    * components over in-cell cosine pairs ≥ `tau` — the paper's
    * "within-cluster pairwise similarity" made transitive.
    *
    * Scale shape: identical to the drop-embed path (cell equi-join
    * candidates, per-cell union-find), plus ONE extra per-row
    * centroid-cosine projection (the centroid table is index metadata —
    * nList rows, broadcast) and a per-cluster `min(struct(sim, id))`
    * winner aggregate (map-side combinable, the robots-filter winner
    * idiom). The centroid cosine is computed in the quantized training
    * space (`floor(x·2^20)` inputs, exact-integer-derived centroid
    * components), so both engines see identical IEEE operands —
    * 6dp-rounded, oracle-exact.
    *
    * Output: the surviving rows of `df` (losers anti-joined away). */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      nList: Int = 16, iters: Int = 3,
      centroids: Option[IndexedSeq[Seq[Double]]] = None,
      assigned: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(
      trainIvfKMeans(df, idCol, vecCol, nList, iters))
    val base = assigned.getOrElse(assignCells(df, idCol, vecCol, cents))
    val pairs = cosinePairsIvfWithCell(
      df, idCol, vecCol, tau, nList, iters, Some(cents), Some(base))
    val clusters = Dedup.connectedComponentsPerKey(
      pairs, "id_a", "id_b", "cell")
    // centroid table: index metadata (nList rows) — broadcast literal
    val spark = df.sparkSession
    import spark.implicits._
    val centsDf = cents.zipWithIndex
      .map { case (cv, i) => (i.toLong, cv) }.toDF("cell", "__cv")
    val csim = base
      .withColumn("__vqd", quantDouble(col("v")))
      .withColumn("__qnrm", norm(col("__vqd")))
      .join(broadcast(centsDf), Seq("cell"))
      .select(col("id"),
        round(dot(col("__vqd"), col("__cv")) /
          (col("__qnrm") * norm(col("__cv"))), 6).as("centroid_sim"))
    val members = clusters
      .join(csim, clusters("doc_id") === csim("id"))
      .select(col("cluster_id"), col("id"), col("centroid_sim"))
    val winners = members.groupBy("cluster_id")
      .agg(min(struct(col("centroid_sim"), col("id"))).as("__w"))
      .select(col("__w.id").as("__keep"))
    val losers = members
      .join(winners, members("id") === winners("__keep"), "left_anti")
      .select(col("id").as("__graft_loser"))
    Dedup.antiJoinDropSized(df, idCol, losers)
  }

  /** Embedding-cosine near-dup pairs above `tau`, via bucketed candidates:
    * pairs must share an LSH bucket (approximate recall, exact precision
    * after verification). For the exact-oracle variant at test scale use
    * bucketless=true, which compares all pairs through a broadcast —
    * acceptable only for small corpora (the oracle path), never at 100 TB.
    *
    * PAIR-EMISSION BUDGET (default contract since r8): a dup-dense corpus
    * makes the pair SET quadratic in the duplicate count — the one output
    * a 100 TB job cannot absorb — so by default each doc keeps only its
    * `maxPairsPerDoc` strongest pairs (either-endpoint top-k by
    * (sim DESC, neighbor id), the deterministic [[Dedup.capPairsPerDoc]]
    * order both engines share). Downstream consumers (CC clustering,
    * drop-losers) are insensitive to the dropped edges in practice:
    * within a dup clique the strongest edges already connect it. Pass
    * `maxPairsPerDoc = 0` for the uncapped yardstick — licensed for
    * small-corpus oracle work only. */
  def cosinePairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      tau: Double, bucketless: Boolean = false,
      nPlanes: Int = 8, dim: Int = 64,
      maxPairsPerDoc: Int = 64): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
    val withB =
      if (bucketless) base.withColumn("bkt", lit(0L))
      else base.withColumn("bkt",
        bucketExpr(col("v"), planeSigns(nPlanes, dim)))
    val pairs = withB.as("a")
      .join(withB.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= tau)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
    if (maxPairsPerDoc > 0) Dedup.capPairsPerDoc(pairs, "sim", maxPairsPerDoc)
    else pairs
  }

  /** FIXED-POINT MEAN POOLING + L2 NORMALIZATION of vector groups — the
    * chunk-embeddings→document-embedding (or members→centroid) reduction
    * of an embedding pipeline, made order-free the way
    * [[graft.llm.Graph.pageRank]] is: each element is quantized to an
    * integer (`round(v·scale)`), summed element-wise with commutative
    * LONG sums (bit-identical on any partitioning — a double vector sum
    * would depend on reduction order), and only the final
    * normalize/mean step touches floating point, on integers both
    * engines share exactly. The unit vector is computed from the SUMS
    * directly (unit(mean) == unit(sum): uniform scaling cancels), so no
    * intermediate mean division enters the arithmetic.
    *
    * Plan: posexplode → one (group, pos)-keyed map-side-combinable sum →
    * one group-keyed sum of squares → join back. Output one row per
    * (g, pos): `(g, pos, n_vecs, sum_fixed, mean, unit)` — scalar rows,
    * engine-hashable. Overflow headroom: |sum_fixed| ≤ scale·n and
    * Σ sum² must stay < 2^63 — the default scale 10^4 allows ~10^5
    * unit-ish vectors per group at dim 64. A zero pooled vector has no
    * direction: `unit` is NULL then (spec-pinned). */
  def meanPoolFixed(
      df: DataFrame, groupCol: Column, vecCol: String,
      scale: Long = 10000L): DataFrame = {
    // quantize in DOUBLE explicitly (ADVICE r6: float-element × long
    // literal promoted to FloatType, so quantization happened in 32-bit
    // float — it matched the oracle's float math only as long as DuckDB
    // promoted identically; the explicit double is engine-independent,
    // mirrored in the oracle's `::DOUBLE`)
    val q = df.select(groupCol.as("g"), posexplode(col(vecCol)))
      .select(col("g"), col("pos"),
        round(col("col").cast("double") * scale).cast("long").as("qv"))
    val s = q.groupBy("g", "pos")
      .agg(sum("qv").as("sq"), count(lit(1)).as("n"))
    // Σ sq² must stay inside a long (the oracle sums into HUGEINT; a
    // silent Spark wrap would surface as a hash mismatch, not an error).
    // ADVICE r7: a sign check alone misses wraps past 2^64 that land
    // positive — so accumulate in decimal(38,0), where sq² always fits
    // (sq is a long ⇒ sq² < 2^126 < 10^38), and fail loudly if the SUM
    // leaves decimal range (null under non-ANSI) or exceeds Long range
    // before the cast back.
    val sqDec = col("sq").cast("decimal(19,0)")
    val ss = s.groupBy("g").agg(sum(sqDec * sqDec).as("ssqDec"))
      .withColumn("ssq",
        when(col("ssqDec").isNull ||
            col("ssqDec") > lit(Long.MaxValue).cast("decimal(38,0)"),
          raise_error(lit("meanPoolFixed: sum-of-squares overflowed long — " +
            "reduce `scale` or split groups")).cast("long"))
        .otherwise(col("ssqDec").cast("long")))
      .drop("ssqDec")
    // mean at 6 dp, rounded half away from zero on EXACT integers —
    // sq·10^6/(n·scale) → (2·10^6·|sq| + n·scale) div (2·n·scale), signed —
    // then one division by 10^6: rounding the double quotient instead
    // rounds its decimal form (Spark) or its binary value (DuckDB), and
    // the two disagree on half-way quotients
    val q6 = expr(s"(2000000 * abs(sq) + n * ${scale}L) div (2 * n * ${scale}L)")
    s.join(ss, "g").select(
      col("g"), col("pos"), col("n").cast("long").as("n_vecs"),
      col("sq").as("sum_fixed"),
      (when(col("sq") < 0, -q6).otherwise(q6).cast("double") / lit(1e6))
        .as("mean"),
      when(col("ssq") > 0,
        round(col("sq").cast("double") /
          sqrt(col("ssq").cast("double")), 6)).as("unit"))
  }

  // ── RANDOM-PROJECTION TREE ANN (the Annoy family's quantizer) ──────

  /** 1e6-scaled long projection of a double-array column onto a ±1
    * plane row — the RP-tree's split coordinate. Quantizing BEFORE any
    * comparison makes every split decision exact-integer (the MMR
    * treatment), so tree routing is bit-identical across engines. */
  private def projQ(v: Column, plane: Seq[Int]): Column =
    round(dot(v, lit(plane.map(_.toDouble).toArray)) * lit(1e6), 0)
      .cast("long")

  /** Train a RANDOM-PROJECTION TREE (Dasgupta & Freund 2008; the
    * single-tree core of Annoy): `depth` levels of median splits. At
    * level l every node splits at the LOWER MEDIAN of a bounded
    * deterministic SAMPLE of its members' plane-l projections — unlike
    * LSH's fixed zero threshold, the median adapts to the data, so
    * leaves are BALANCED (≈N/2^depth members, within the sample's DKW
    * rank error ε = √(ln(2/δ)/2k) ≈ 0.036 at k = 1024) even on skewed
    * corpora where hyperplane buckets collapse. Returns one
    * (node → median) map per level; the whole model is 2^depth − 1
    * longs — centroid-sized driver state, the same license as the IVF
    * quantizer's k-means.
    *
    * Scale shape: each level is ONE map-side-combinable aggregate —
    * the per-node [[graft.functions.BottomKByHashAgg]] bottom-k-by-hash
    * sample (≤ `sampleK` pairs of state per node, merge-order
    * INVARIANT, so training is bit-identical across partitionings and
    * engines), with the median read off the collected ≤ sampleK-array
    * per node. NO window anywhere: the exact-median formulation's
    * level-0 window is partition-less by construction (one node) and
    * would sort the whole projection relation in one task — the
    * anti-pattern PlanAuditSpec exists to catch. Nodes with ≤ sampleK
    * members are sampled COMPLETELY, so their medians are exact (the
    * spec corpus and every node from level ⌈log₂(N/k)⌉ down). `depth`
    * aggregate passes total; training is cached per corpus fingerprint
    * by the caller exactly like the IVF centroids. Projections ride
    * the sampler as doubles — exact for |proj| < 2^53, i.e. |dot| <
    * ~9e9 at the 1e6 quantization, far beyond any normalized-embedding
    * corpus. */
  def trainRpTree(corpus: DataFrame, idCol: String, vecCol: String,
      depth: Int = 3, dim: Int = 64,
      sampleK: Int = 1024, planeOffset: Int = 0): IndexedSeq[Map[Long, Long]] =
    trainRpTreeBanded(corpus, idCol, vecCol, depth, dim, sampleK,
      planeOffset).map(_.map { case (n, (m, _, _)) => n -> m })

  /** The default spill band half-width, in PER-MILLE of each node's
    * sample rank range: the band covers sample ranks
    * [median − cnt·sp/1000, median + cnt·sp/1000], so a query whose
    * projection lands inside it descends into BOTH children (see
    * [[rpDescendSpill]]). Rank-calibrated on the same sample as the
    * median — the expected spill probability per level is ≈ 2·sp/1000
    * REGARDLESS of the projection distribution's shape or scale (a
    * fixed ε in projection units would need per-corpus tuning). */
  val RpSpillPermille = 150

  /** Spill is confined to the TOP `RpSpillLevels` levels of every tree.
    * The recall argument: a boundary at level l separates ~2^−(l+1) of
    * the corpus from the query's path, so the EARLY splits are where a
    * true neighbor is most likely lost — spilling there buys most of
    * the recall. The cost argument is what makes the cap load-bearing:
    * an every-level spill multiplies probed leaves by
    * (1 + 2·sp/1000)^depth, which under [[autoDepth]] grows as
    * N^log₂(1.3) ≈ N^0.38 per query — measured 24.8×/decade at the
    * 100× probe. Capped at the top 3 levels the multiplier is
    * ≤ 1.3³ ≈ 2.2 CONSTANT in corpus size, so the leaf-occupancy
    * argument (per-query candidate work independent of N) survives the
    * recall lever; the corpus-scale recall dial is nTrees, exactly as
    * in Annoy. At the [[autoDepth]] floor of 3 (small corpora) every
    * level spills — the sf0.01 gate semantics are unchanged. */
  val RpSpillLevels = 3

  /** [[trainRpTree]] plus a rank-calibrated SPILL BAND per node: for
    * each (level, node), the values at sample ranks
    * `max(1, medRank − band)` and `min(cnt, medRank + band)` with
    * `band = cnt·spillPermille/1000` (integer arithmetic, mirrored
    * verbatim by the oracle). Returns (node → (median, lo, hi)) per
    * level; the model is 3·(2^depth − 1) longs — still centroid-class
    * driver state. Corpus routing uses only the median; QUERY routing
    * spills into both children when the projection lands in (lo, hi]
    * — Annoy's boundary-spill recall lever, bounded per level by the
    * band's rank mass instead of a priority queue (deterministic,
    * engine-mirrorable, no driver-side search state).
    *
    * Training materializes one relation per level on [[Rounds]] (the
    * connectedComponents treatment): level l's aggregate reads the
    * level-(l−1) materialization instead of re-running the projection
    * chain plus l broadcast joins from the base relation — O(depth)
    * corpus scans total, not O(depth²), which is what matters exactly
    * when [[autoDepth]] reaches 10 on third-decade corpora. Each level's
    * relation is released once the next is materialized, the last once
    * its medians are collected, so a trained model pins nothing. */
  def trainRpTreeBanded(corpus: DataFrame, idCol: String, vecCol: String,
      depth: Int = 3, dim: Int = 64, sampleK: Int = 1024,
      planeOffset: Int = 0, spillPermille: Int = RpSpillPermille)
      : IndexedSeq[Map[Long, (Long, Long, Long)]] = {
    require(depth >= 1 && depth <= 10, "depth must be in [1, 10]")
    require(sampleK > 0 && planeOffset >= 0, "bad sampleK/planeOffset")
    require(spillPermille >= 0 && spillPermille < 500, "bad spillPermille")
    val samp = udaf(new graft.functions.BottomKByHashAgg(sampleK))
    val planes = planeSigns(planeOffset + depth, dim).drop(planeOffset)
    val base = corpus.select(col(idCol).as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val projs = planes.zipWithIndex.foldLeft(base) {
      case (df, (p, l)) => df.withColumn(s"p$l", projQ(col("v"), p))
    }.drop("v")
      // deterministic sample membership key (the quantile sketch's):
      // the k smallest (hash32("rp:" || id), proj) pairs per node
      .withColumn("__h",
        TextOps.hash32(concat(lit("rp:"), col("vec_id").cast("string"))))
    // ranks over the ascending sample VALUES — the value at a rank is
    // unique regardless of tie order; med = lower median, lo/hi = the
    // band edges at ±cnt·sp/1000 ranks (clamped to [1, cnt])
    val arr = "array_sort(transform(smp, s -> s.v))"
    val sz = "size(smp)"
    val medRank = s"(($sz + 1) div 2)"
    val band = s"(($sz * $spillPermille) div 1000)"
    def pick(rank: String) =
      s"CAST(element_at($arr, CAST($rank AS INT)) AS BIGINT)"
    def medians(cur: DataFrame, l: Int) = cur.groupBy("__node")
      .agg(samp(col("__h"), col(s"p$l").cast("double")).as("smp"))
      .select(col("__node"),
        expr(pick(medRank)).as("m"),
        expr(pick(s"greatest(1, $medRank - $band)")).as("lo"),
        expr(pick(s"least($sz, $medRank + $band)")).as("hi"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val meds = IndexedSeq.newBuilder[Map[Long, (Long, Long, Long)]]
    // round r descends level r−1; the last level's medians need no
    // descended relation — don't materialize one (each is a corpus pass)
    val (last, _, _) = Rounds.run(
        sizedView(projs.withColumn("__node", lit(0L))), 0L, depth - 1) {
      (cur, _, r) =>
        val med = medians(cur, r - 1)
        meds += med
        (rpDescend(cur, med.map { case (n, (m, _, _)) => n -> m },
          s"p${r - 1}", r - 1), _ => 0L)
    }
    try (meds += medians(last, depth - 1)).result()
    finally unpersistCheckpoint(last)
  }

  /** Corpus-scaled TREE DEPTH — the RP tree's candidate lever, the
    * exact analogue of [[autoPlanes]]/[[defaultNList]]: the smallest
    * depth in [3, maxDepth] with `leafTarget·2^depth ≥ N`, so expected
    * leaf occupancy stays ≈leafTarget and per-query candidate work is
    * corpus-size-INDEPENDENT as the corpus grows (a fixed depth leaves
    * N/2^d candidates per query — the O(N²) query×corpus product the
    * LSH family's fixed-8-planes defect taught us to auto-scale away).
    * Pure integer arithmetic, mirrored by the oracle's per-level
    * `count(*) > leafTarget·2^l` activation gates. */
  def autoDepth(n: Long, leafTarget: Long = 256, maxDepth: Int = 10): Int = {
    require(leafTarget > 0 && maxDepth >= 3, "bad autoDepth bounds")
    var d = 0
    while (d < maxDepth && (leafTarget << d) < n) d += 1
    math.max(3, d)
  }

  /** ONE tree level of node descent. The ROOT level (l = 0) has a
    * single median — inlined as a literal comparison (a join keyed on
    * the constant node 0 would fold to a trivially-true predicate and
    * plan as a nested loop, which PlanAuditSpec rejects). Deeper
    * levels broadcast-join the level's (node → median) table — join-
    * based on purpose: an expression-level CASE/lookup chain
    * duplicates the running node expression at every level (O(2^depth)
    * plan size — real driver-side seconds at depth 10); the join keeps
    * plan size LINEAR in depth and the median tables are ≤2^l rows,
    * always broadcast. A node absent from the table (a query vector
    * routed into a region the training corpus never populated) gets a
    * null median → the comparison is null → child 0,
    * deterministically. */
  private def rpDescend(df: DataFrame, med: Map[Long, Long],
      projCol: String, level: Int): DataFrame =
    if (level == 0) {
      val m0 = med.getOrElse(0L, Long.MaxValue)
      df.withColumn("__node",
        when(col(projCol) > lit(m0), lit(1L)).otherwise(lit(0L)))
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val medDf = med.toSeq.toDF("__node", "__m")
      df.join(broadcast(medDf), Seq("__node"), "left")
        .withColumn("__node", col("__node") * 2 +
          when(col(projCol) > col("__m"), lit(1L)).otherwise(lit(0L)))
        .drop("__m")
    }

  /** One tree level of QUERY-side descent WITH BOUNDARY SPILL: a
    * vector whose projection lands inside the node's rank-calibrated
    * band (lo, hi] descends into BOTH children — one `explode` over a
    * 1- or 2-element child array after the same broadcast median join
    * as [[rpDescend]] (level 0 inlines the root literals). A true
    * neighbor is lost only when some level separates it from its
    * query; separations concentrate exactly where the query projects
    * near the split median, which is the region the band covers — so
    * the band converts the likeliest misses into co-leaf hits at a
    * bounded cost of ≈(1 + 2·sp/1000)^depth leaves per query. Spilled
    * paths have distinct node prefixes, so no (vector, leaf) row ever
    * duplicates. Null medians (untrained regions) take child 0 and
    * never spill — [[rpDescend]]'s convention. */
  private def rpDescendSpill(df: DataFrame,
      med: Map[Long, (Long, Long, Long)], projCol: String,
      level: Int): DataFrame = {
    def children(p: Column, m: Column, lo: Column, hi: Column): Column =
      explode(when(p > lo && p <= hi, array(lit(0L), lit(1L)))
        .otherwise(array(when(p > m, lit(1L)).otherwise(lit(0L)))))
    if (level == 0) {
      val (m0, lo0, hi0) =
        med.getOrElse(0L, (Long.MaxValue, Long.MaxValue, Long.MinValue))
      df.withColumn("__c",
          children(col(projCol), lit(m0), lit(lo0), lit(hi0)))
        .withColumn("__node", col("__c")).drop("__c")
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val medDf = med.toSeq.map { case (n, (m, lo, hi)) => (n, m, lo, hi) }
        .toDF("__node", "__m", "__lo", "__hi")
      df.join(broadcast(medDf), Seq("__node"), "left")
        .withColumn("__c",
          children(col(projCol), col("__m"), col("__lo"), col("__hi")))
        .withColumn("__node", col("__node") * 2 + col("__c"))
        .drop("__m", "__lo", "__hi", "__c")
    }
  }

  /** (vec_id, v, nrm, leaf) of a vector relation under trained splits —
    * projections as columns, then one [[rpDescend]] broadcast join per
    * level. */
  private def rpRouted(df: DataFrame, idCol: String, vecCol: String,
      splits: IndexedSeq[Map[Long, Long]], dim: Int,
      planeOffset: Int = 0): DataFrame = {
    val planes = planeSigns(planeOffset + splits.size, dim)
      .drop(planeOffset)
    val base = df.select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val projs = planes.zipWithIndex.foldLeft(base) {
      case (d, (p, l)) => d.withColumn(s"__p$l", projQ(col("v"), p))
    }.withColumn("__node", lit(0L))
    splits.zipWithIndex.foldLeft(projs) {
      case (d, (med, l)) => rpDescend(d, med, s"__p$l", l)
    }.select(col("vec_id"), col("v"), col("nrm"),
      col("__node").as("leaf"))
  }

  /** QUERY-side routing under BANDED splits: one [[rpDescendSpill]]
    * per level, emitting one (vec_id, v, nrm, leaf) row per probed
    * leaf — ≥1 per vector, all leaves distinct by the prefix-code
    * argument. Same projection/plane slicing as [[rpRouted]]. */
  private def rpRoutedSpill(df: DataFrame, idCol: String, vecCol: String,
      splits: IndexedSeq[Map[Long, (Long, Long, Long)]], dim: Int,
      planeOffset: Int = 0): DataFrame = {
    val planes = planeSigns(planeOffset + splits.size, dim)
      .drop(planeOffset)
    val base = df.select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val projs = planes.zipWithIndex.foldLeft(base) {
      case (d, (p, l)) => d.withColumn(s"__p$l", projQ(col("v"), p))
    }.withColumn("__node", lit(0L))
    splits.zipWithIndex.foldLeft(projs) {
      // below RpSpillLevels the band is ignored and the query routes
      // single-path like the corpus (see the RpSpillLevels scaladoc)
      case (d, (med, l)) if l < RpSpillLevels =>
        rpDescendSpill(d, med, s"__p$l", l)
      case (d, (med, l)) =>
        rpDescend(d, med.map { case (n, (m, _, _)) => n -> m },
          s"__p$l", l)
    }.select(col("vec_id"), col("v"), col("nrm"),
      col("__node").as("leaf"))
  }

  /** Leaf assignment of a vector relation under trained splits —
    * (vec_id, leaf). The partition-routing stage alone; [[rpTreeKnn]]
    * composes it with in-leaf exact scoring. */
  def rpAssignLeaves(df: DataFrame, idCol: String, vecCol: String,
      splits: IndexedSeq[Map[Long, Long]], dim: Int = 64): DataFrame =
    rpRouted(df, idCol, vecCol, splits, dim).select("vec_id", "leaf")

  /** RP-TREE kNN: route corpus and queries to balanced median-split
    * leaves, exact cosine inside the shared leaf, bounded top-k. The
    * tree prunes the corpus to ≈leafTarget candidates per query when
    * trained at [[autoDepth]] — candidate work per query stays
    * corpus-size-independent, with BALANCE GUARANTEED by the median
    * training (the property LSH buckets lack on clustered data). Same
    * contract as the other knn operators: (qid, nid, rank, sim). Leaf
    * equi-join — no nested loop, no all-pairs; the model is ≤2^depth−1
    * longs of broadcast median tables plus the (small) query side. */
  def rpTreeKnn(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      splits: IndexedSeq[Map[Long, Long]], dim: Int = 64): DataFrame = {
    val v = rpRouted(corpus, idCol, vecCol, splits, dim)
      .select(col("vec_id").as("nid"), col("v"), col("nrm"), col("leaf"))
    val q = rpRouted(queries, idCol, vecCol, splits, dim)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("leaf"))
    val scored = v.join(q, Seq("leaf"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    topK(scored, k)
  }

  /** The forest's fixed plane-row stride per tree: tree t draws its
    * planes from [[planeSigns]] rows [t·10, t·10 + depth) — a stride
    * of the MAXIMUM depth, not the trained depth, so the Spark side
    * and the oracle agree on which plane every (tree, level) uses at
    * ANY trained depth. */
  val RpTreeStride = 10

  /** Train an RP-tree FOREST (Annoy's recall lever — `nTrees`
    * independent trees over disjoint plane rows; a true neighbor
    * separated from its query by one tree's early split usually shares
    * a leaf in another tree, so miss probability decays with T like
    * the multi-table LSH argument). BANDED splits per tree — the
    * corpus routes by the median alone, queries spill at boundaries
    * (see [[trainRpTreeBanded]]). Model = nTrees · 3·(2^depth − 1)
    * longs. */
  def trainRpForest(corpus: DataFrame, idCol: String, vecCol: String,
      nTrees: Int, depth: Int = 3, dim: Int = 64, sampleK: Int = 1024,
      spillPermille: Int = RpSpillPermille)
      : IndexedSeq[IndexedSeq[Map[Long, (Long, Long, Long)]]] = {
    require(nTrees >= 1 && nTrees <= 8, "nTrees must be in [1, 8]")
    (0 until nTrees).map(t => trainRpTreeBanded(corpus, idCol, vecCol,
      depth, dim, sampleK, planeOffset = t * RpTreeStride, spillPermille))
  }

  /** FOREST kNN with QUERY-SIDE BOUNDARY SPILL: the corpus is routed
    * ONCE per tree by the medians (the index never duplicates); each
    * query probes its own leaf plus every leaf reachable through a
    * spill band, per tree. Candidates = per-tree leaf equi-joins,
    * (qid, nid) deduped across trees AND spill paths by a group-min
    * (sims are identical wherever a pair meets — the min matches
    * [[lshKnnMultiTable]]'s convention and the oracle's), bounded
    * top-k. Candidate volume ≤ nTrees · (1 + 2·sp/1000)^depth ·
    * leaf occupancy per query — the recall/cost dial, never
    * all-pairs. */
  def rpForestKnn(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      forest: IndexedSeq[IndexedSeq[Map[Long, (Long, Long, Long)]]],
      dim: Int = 64): DataFrame = {
    val perTree = forest.zipWithIndex.map { case (splits, t) =>
      val off = t * RpTreeStride
      val medOnly = splits.map(_.map { case (n, (m, _, _)) => n -> m })
      val v = rpRouted(corpus, idCol, vecCol, medOnly, dim, off)
        .select(col("vec_id").as("nid"), col("v"), col("nrm"),
          col("leaf"))
      val q = rpRoutedSpill(queries, idCol, vecCol, splits, dim, off)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"), col("leaf"))
      v.join(q, Seq("leaf"))
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    }
    val dedup = perTree.reduce(_ unionByName _)
      .groupBy("qid", "nid").agg(min("sim").as("sim"))
    topK(dedup, k)
  }
}

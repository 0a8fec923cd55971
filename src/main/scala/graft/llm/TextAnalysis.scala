package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextOps._

/** Text-analysis operators: token counting, quality scoring, language-ID
  * heuristic, document fingerprinting, JSON property extraction.
  *
  * All pure per-row column expressions (codegen'd, embarrassingly
  * parallel — trivially 100 TB-safe), each with an exact ANSI-SQL oracle:
  * integer counts, single-division ratios and fixed-order FP arithmetic
  * only, so results are bit-identical across engines.
  */
object TextAnalysis {

  /** Languages scored by the marker-word heuristic, in tie-break
    * precedence order. */
  val Langs: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "que", "por"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Token counts: whitespace tokens and a BPE-ish regex tokenization
    * (letter runs / digit runs / single punctuation). */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      size(words(col(textCol))).as("n_ws_tokens"),
      size(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe_tokens"),
      length(col(textCol)).as("n_chars"))

  /** Quality scoring: alphabetic ratio, average word length, stopword
    * ratio, and a fixed-order combined score. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = words(col(textCol))
    val nChars = length(col(textCol)).cast("double")
    val nAlpha = length(regexp_replace(col(textCol), "[^A-Za-z]", ""))
      .cast("double")
    val nWords = size(w).cast("double")
    val sumWlen = aggregate(transform(w, x => length(x)), lit(0),
      (acc, x) => acc + x).cast("double")
    val nStop = size(filter(w,
      x => x.isInCollection(Stopwords))).cast("double")
    val alphaRatio = nAlpha / nChars
    val stopRatio = nStop / nWords
    df.select(
      col(idCol).as("doc_id"),
      round(alphaRatio, 6).as("alpha_ratio"),
      round(sumWlen / nWords, 6).as("avg_word_len"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(
        lit(0.4) * alphaRatio + lit(0.4) * stopRatio +
          lit(0.2) * least(nWords / lit(100d), lit(1d)), 6).as("quality"))
  }

  /** Marker-word language-ID heuristic: per-language marker-occurrence
    * counts, predicted = argmax with fixed precedence (en→de→fr→es→zh). */
  def langId(df: DataFrame, idCol: String, textCol: String,
      actualCol: Option[String] = None): DataFrame = {
    val w = words(col(textCol))
    val scores = Langs.map { case (lang, markers) =>
      lang -> size(filter(w, x => x.isInCollection(markers)))
    }
    val pred = scores.tail.foldLeft(
      (when(lit(true), Langs.head._1), scores.head._2)) {
      case ((acc, best), (lang, s)) =>
        (when(s > best, lang).otherwise(acc), greatest(best, s))
    }._1
    val base = Seq(col(idCol).as("doc_id")) ++
      scores.map { case (l, s) => s.as(s"score_$l") } :+ pred.as("pred_lang")
    val cols = actualCol match {
      case Some(a) => base ++ Seq(col(a).as("actual_lang"),
        (pred === col(a)).as("match"))
      case None => base
    }
    df.select(cols: _*)
  }

  /** Position-weighted document fingerprint: a polynomial-style rolling
    * hash, order-sensitive (so permuted documents fingerprint differently)
    * but computed with order-independent integer sums so it is
    * shuffle-safe: fp = Σ_i h32(w_i)·((i-1) mod 64 + 1) mod P. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      (aggregate(
        zip_with(
          transform(words(col(textCol)), x => hash32(x)),
          transform(sequence(lit(1), size(words(col(textCol)))),
            i => ((i - 1) % 64 + 1).cast("long")),
          (h, p) => (h * p) % P),
        lit(0L), (acc, x) => acc + x) % P).as("fp"))

  /** N-gram diversity (the other half of the Gopher repetitiousness
    * family): distinct-fraction of unigrams / bigrams / trigrams per
    * document. Low diversity flags template/boilerplate text that
    * [[repetition]]'s longest-run statistic can miss (many DIFFERENT
    * bigrams each repeated twice). Pure per-row array expressions —
    * ZERO shuffles at any corpus size; each ratio is one IEEE division
    * of exact ints (then round-6, the qualityScore convention) so any
    * engine agrees bit-for-bit. Short docs yield empty n-gram arrays
    * (the guarded [[TextOps.wordNgrams]]) and NULL ratios, never a
    * divide-by-zero. */
  def ngramDiversity(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"), col("w"),
        wordNgrams("w", 2).as("g2"), wordNgrams("w", 3).as("g3"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct_tokens"),
        size(col("g2")).cast("long").as("n_bigrams"),
        size(array_distinct(col("g2"))).cast("long").as("n_distinct_bigrams"),
        size(col("g3")).cast("long").as("n_trigrams"),
        size(array_distinct(col("g3"))).cast("long").as("n_distinct_trigrams"))
      .withColumn("unigram_diversity",
        when(col("n_tokens") > 0, round(
          col("n_distinct_tokens").cast("double") / col("n_tokens"), 6)))
      .withColumn("bigram_diversity",
        when(col("n_bigrams") > 0, round(
          col("n_distinct_bigrams").cast("double") / col("n_bigrams"), 6)))
      .withColumn("trigram_diversity",
        when(col("n_trigrams") > 0, round(
          col("n_distinct_trigrams").cast("double") / col("n_trigrams"), 6)))

  /** Repetition metrics (the Gopher-rule family used to filter
    * low-quality training text): duplicate-bigram fraction and
    * most-frequent-bigram share. High values flag degenerate/repetitive
    * documents.
    *
    * Entirely per-row: the bigram array is sorted and the
    * most-frequent-bigram count is the longest equal-run in the sorted
    * array (a single `aggregate` fold) — ZERO shuffles, replacing the
    * earlier two corpus-wide groupBys over the exploded bigram relation
    * (shuffle volume ~token count — the dominant cost at scale). Docs
    * with <2 words yield no row, as the exploded formulation did. */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val maxRun = {
      val z = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
      aggregate(sort_array(col("gs")), z,
        (acc, x) => {
          val run = when(x === acc.getField("prev"),
            acc.getField("run") + 1).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
    }
    df.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"), wordNgrams("w", 2).as("gs"))
      .filter(size(col("gs")) > 0)
      .select(
        col("doc_id"),
        size(col("gs")).cast("long").as("n_bigrams"),
        size(array_distinct(col("gs"))).cast("long").as("distinct_bigrams"),
        maxRun.as("top_bigram_count"))
      .select(
        col("doc_id"), col("n_bigrams"), col("distinct_bigrams"),
        col("top_bigram_count"),
        round((col("n_bigrams") - col("distinct_bigrams")).cast("double") /
          col("n_bigrams"), 6).as("dup_bigram_ratio"),
        round(col("top_bigram_count").cast("double") / col("n_bigrams"), 6)
          .as("top_bigram_ratio"))
  }

  /** Per-document character-level Shannon entropy — the classic
    * gibberish/boilerplate quality signal (low entropy = repeated
    * padding, high = line noise; natural prose sits ~3.5-4.5 bits... in
    * nats here). ZERO-shuffle per-row computation: distinct chars via
    * `array_distinct`, each char's count via a filtered `size` over the
    * char array — O(distinct·len) per row (ASCII corpus: ≤ ~70·len),
    * no explode, no aggregation state, scales as a pure map at 100 TB.
    *
    * Determinism across engines (the lm-score recipe): each -p·ln(p)
    * term is quantized to a 1e-9 fixed-point BIGINT and summed as
    * integers (commutative, exact); the final value is the quantized
    * sum scaled back and rounded to 6dp, so sub-quantum libm ln()
    * differences cannot reorder or change the hash. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // One native pass per row (graft.functions.CharEntropyStats): the
    // higher-order-function formulations run their per-character
    // lambdas INTERPRETED — measured 10.8 s (O(distinct·len) filtered
    // counts) and 5.2 s (sorted-run fold) at sf0.1 vs ~0.3 s for the
    // native expression doing identical arithmetic.
    import org.apache.spark.sql.GraftSql
    val st = GraftSql.column(
      graft.functions.CharEntropyStats(GraftSql.expression(col(textCol))))
    df.select(col(idCol).as("doc_id"), st.as("__e"))
      .select(
        col("doc_id"),
        col("__e.n_chars").as("n_chars"),
        col("__e.n_distinct").as("n_distinct"),
        round(-(col("__e.qsum").cast("double") / lit(1e9)), 6).as("entropy"))
  }

  /** Corpus-level top-k tokens by frequency (vocabulary head analysis):
    * explode → map-side-combined count → TakeOrdered top-k (no global
    * sort; the driver receives k rows per partition at most). Ties break
    * on the token string for determinism. */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(words(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Frequency-ranked vocabulary: the top `vocabSize` corpus tokens with
    * dense ids 1..V assigned in (count DESC, token) order — a total
    * order, so the id assignment is deterministic in any engine. The
    * ranking window runs AFTER the top-V limit, so it sees ≤V rows (the
    * limit-bounded license in PlanAuditSpec), never the corpus. */
  def buildVocab(df: DataFrame, textCol: String, vocabSize: Int): DataFrame =
    df.select(explode(words(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(vocabSize)
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token"))))
      .select("token", "id", "n")

  /** Tokenize-and-encode (the training-data step after curation): map
    * every document to its token-id sequence under a [[buildVocab]]
    * vocabulary, OOV → 0. The vocabulary collapses to ONE map row
    * (grouping-less `map_from_entries` aggregate) broadcast to every
    * partition — the corpus itself is touched exactly once, per-row,
    * with NO explode/join/re-aggregate cycle (at 100 TB the positional
    * explode would shuffle ~token-count rows; this shuffles nothing).
    * The id sequence is emitted '-'-joined so the sequence — order
    * included — goes through the exact hash gate as one string. */
  def encodeTokenIds(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val vocabRow = buildVocab(df, textCol, vocabSize)
      .agg(map_from_entries(collect_list(struct(col("token"), col("id"))))
        .as("vm"))
    df.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .crossJoin(broadcast(vocabRow))
      // one map lookup per token: derive OOV from the id array instead
      // of probing the map a second time
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        transform(col("w"),
          t => coalesce(try_element_at(col("vm"), t), lit(0))).as("idsArr"))
      .select(
        col("doc_id"), col("n_tokens"),
        size(filter(col("idsArr"), x => x === 0)).cast("long").as("n_oov"),
        array_join(col("idsArr"), "-").as("ids"))
  }

  /** Per-document top-k TF-IDF terms — the topic/quality fingerprint a
    * curation pipeline attaches before filtering or clustering.
    * tf = term count in the doc; idf = ln(N/df) with df = #docs
    * containing the term and N a driver-side scalar (licensed — one
    * count). Output: (doc_id, term, rank, score), rank by
    * (score DESC, term) — ranking uses the ROUNDED score so cross-engine
    * sub-6dp log differences cannot reorder ties.
    *
    * Plan (every stage linear in corpus size, per-group state bounded):
    * one token explode → map-side-combined (doc, term) tf agg → df
    * DERIVED from tf (`tf` is already distinct on (doc, term), so df is
    * a term-keyed count of it — the previous second explode + full
    * `distinct()` shuffle of the raw token stream is gone) → term-keyed
    * join (broadcast-able: |vocab| ≪ |tokens|) → per-doc top-k via the
    * bounded [[graft.functions.TopKTermsAgg]]: each partition reduces a
    * doc's candidates to ≤ k before the shuffle, where the previous
    * partition-by-doc window sorted the FULL doc-term relation — the
    * superlinear term the r5 100× probe flagged (4.5×/decade).
    * EXACTNESS: unconditional — tf, df and every score are computed over
    * the whole corpus; only provably-outranked (score, term) pairs are
    * dropped, which row_number ≤ k would drop too. */
  def tfIdf(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val n = df.count()
    val terms = df.select(col(idCol).as("doc_id"),
      explode(words(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val topk = udaf(new graft.functions.TopKTermsAgg(k))
    tf.join(dfreq, "term")
      .withColumn("score",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .groupBy("doc_id")
      .agg(topk(col("score"), col("term")).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), col("col.term").as("term"),
        (col("pos") + 1).cast("int").as("rank"), col("col.score").as("score"))
  }

  /** Document-length histogram: power-of-two char-length bins — the
    * corpus shape summary a pipeline checks before/after filtering.
    * Per-row bin arithmetic + one small groupBy. The bin index is
    * INTEGER-exact (digit count of the binary rendering, not
    * floor(log2) — FP log at power-of-two boundaries can differ by an
    * ulp across engines), with 0-length docs in bin -1. */
  def lengthHistogram(df: DataFrame, textCol: String): DataFrame = {
    val n = length(col(textCol))
    val binIdx = when(n <= 0, lit(-1))
      .otherwise(length(org.apache.spark.sql.functions.bin(n.cast("long"))) - 1)
    df.select(binIdx.as("len_bin"))
      .groupBy("len_bin").agg(count(lit(1)).as("n_docs"))
      .withColumn("bin_lo",
        when(col("len_bin") < 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), len_bin)")))
  }

  /** JSON property extraction from a string column (the `events.props`
    * shape): `get_json_object` — codegen'd, no UDF. */
  def jsonExtract(df: DataFrame, idCol: String, jsonCol: String,
      path: String, outCol: String): DataFrame =
    df.select(col(idCol),
      get_json_object(col(jsonCol), path).cast("long").as(outCol))

  /** Fixed-size token chunking — the context-window prep step of a
    * training pipeline: each document becomes ⌈n/k⌉ chunks of `k`
    * whitespace tokens (final chunk short), output one row per chunk
    * `(doc_id, chunk_idx, chunk_text, n_tokens)`. Pure per-row array
    * expressions + one `explode` — no shuffle, no UDF; output order is
    * irrelevant (chunk_idx carries position). The word array is bound
    * ONCE via the one-element-array wrapper (see [[TextOps.wordNgrams]]
    * — CSE does not reach lambda bodies). `ceil(n / k)` uses double
    * division — exact across engines for any realistic n (quotients at
    * integer values are exactly representable). */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 64): DataFrame = {
    val k = chunkTokens
    require(k > 0, "chunkTokens must be positive")
    // stride = k ⇒ the overlap windows ARE the fixed chunks: identical
    // count (⌊max(n−1,0)/k⌋+1 ≡ max(⌈n/k⌉,1)), identical text and token
    // counts — one native pass (see [[graft.functions.ChunkWindows]])
    val pre = df.select(col(idCol).as("doc_id"),
      words(col(textCol)).as("__w"))
    pre.select(col("doc_id"), explode(chunkWindows(col("__w"), k, k)).as("c"))
      .select(col("doc_id"), col("c.ci").as("chunk_idx"),
        col("c.ct").as("chunk_text"), col("c.nt").as("n_tokens"))
  }

  /** [[graft.functions.ChunkWindows]] as a Column. */
  private def chunkWindows(wordsCol: Column, k: Int, s: Int): Column = {
    import org.apache.spark.sql.GraftSql
    GraftSql.column(graft.functions.ChunkWindows(
      GraftSql.expression(wordsCol), k, s))
  }

  /** SLIDING-WINDOW chunking with overlap — the RAG retrieval layout
    * (windows of `chunkTokens` starting every `stride` tokens, so
    * adjacent chunks share `chunkTokens − stride` tokens and a fact
    * spanning a fixed-chunk boundary is always fully inside SOME
    * window). Output one row per window
    * `(doc_id, chunk_idx, start_tok, chunk_text, n_tokens)` —
    * `start_tok` is the 0-based token offset the retriever needs to
    * map a hit back into the source document.
    *
    * Window count is the INTEGER form
    * `⌊max(n − k + s − 1, 0) / s⌋ + 1` (⌈(n−k)/s⌉+1 clamped to ≥1):
    * every token is covered, the last window starts < n, and a
    * document shorter than one window still emits exactly one row.
    * Same plan shape as [[chunkDocuments]]: pure per-row array
    * expressions + one `explode` — no shuffle, no UDF, overlap
    * multiplies output size by ~k/s (2× at the default 64/32), never
    * the shuffle volume, because there is no shuffle. */
  def chunkDocumentsOverlap(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 64, stride: Int = 32): DataFrame = {
    val k = chunkTokens
    val s = stride
    require(k > 0 && s > 0 && s <= k,
      "need 0 < stride <= chunkTokens")
    // one native pass per row (r18): the previous `transform(sequence,
    // i -> struct(…, concat_ws(slice(…)), …))` formulation ran
    // INTERPRETED lambdas per window, each re-walking the token array —
    // 14.7×/decade on the 10× standing bench; the compiled window loop
    // in [[graft.functions.ChunkWindows]] emits the identical rows
    val pre = df.select(col(idCol).as("doc_id"),
      words(col(textCol)).as("__w"))
    pre.select(col("doc_id"), explode(chunkWindows(col("__w"), k, s)).as("c"))
      .select(col("doc_id"), col("c.ci").as("chunk_idx"),
        col("c.st").as("start_tok"), col("c.ct").as("chunk_text"),
        col("c.nt").as("n_tokens"))
  }

  /** BM25 query-relevance ranking (Robertson/Sparck Jones weights,
    * k1 = 1.2, b = 0.75): top-`k` documents for a fixed term set.
    *
    * Two passes, both full aggregations with tiny outputs: one corpus
    * stats row (N, total doc length, per-term document frequencies —
    * broadcast back as a single-row cross join), then a per-row score
    * and a global top-k (`orderBy.limit` — Spark's distributed
    * TakeOrdered, NOT a single-partition window; the display rank is
    * attached after the limit on k rows).
    *
    * Determinism: every score input is integer-derived (term counts,
    * doc lengths, df) so the idf ratio and length normalization are
    * bit-identical across engines; `ln` is engine-local but rounded to
    * 6dp — the treatment the tf-idf oracle already proved portable. The
    * per-term contributions are summed in EXPLICIT fixed order (term1 +
    * term2 + …), never via an order-free SUM over an exploded frame:
    * FP addition does not commute, a grouped SUM would not be
    * hash-stable. Ranking ties break on the ROUNDED score then doc_id
    * in both engines. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val base = df.select(col(idCol).as("doc_id"),
      words(col(textCol)).as("__w"))
      .withColumn("dl", size(col("__w")))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (d, (t, i)) =>
      d.withColumn(s"tf$i", size(filter(col("__w"), x => x === lit(t))))
    }
    val statCols = Seq(count(lit(1)).as("n"), sum("dl").as("sumdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = withTf.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("sumdl").cast("double") / col("n").cast("double")
    val contributions = terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val dfT = col(s"df$i").cast("double")
      val idf = log((col("n").cast("double") - dfT + lit(0.5)) /
        (dfT + lit(0.5)) + lit(1.0))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    }
    val score = contributions.reduce(_ + _)
    // distributed bounded top-k (map-side partial top-k per partition,
    // k-sized merge) — replaces a global orderBy().limit() + keyless
    // ranking window, whose single-partition WindowExec was the one
    // all-rows-to-one-task shape left in the engine. Same (score DESC,
    // doc_id ASC) total order on the ROUNDED score.
    val topk = udaf(new graft.functions.TopKAgg(k))
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("score"))
      .groupBy()
      .agg(topk(col("score"), col("doc_id")).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.id").as("doc_id"), (col("pos") + 1).as("rank"),
        col("col.score").as("score"))
  }

  /** C4/Gopher-style document quality rules (Raffel et al. 2020 §2.2,
    * Rae et al. 2021 A1.1), re-expressed as per-row column arithmetic:
    * word-count bounds, mean-word-length bounds, a minimum stopword
    * count, terminal-punctuation line ratio, and the lorem-ipsum /
    * curly-brace content flags. Emits the individual signals plus the
    * combined keep decisions so a pipeline can re-weight rules without
    * recomputing them. Pure per-row expressions — no shuffle at all;
    * single-division ratios rounded to 6dp for engine portability. */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minStopwords: Int = 2): DataFrame = {
    val w = words(col(textCol))
    val nWords = size(w)
    val sumWlen = aggregate(transform(w, x => length(x)), lit(0),
      (acc, x) => acc + x)
    val meanWlen = sumWlen.cast("double") / nWords.cast("double")
    val nStop = size(filter(w, x => x.isInCollection(Stopwords)))
    val lines = split(col(textCol), "\n")
    val punctLines = size(filter(lines, l =>
      substring(l, -1, 1).isInCollection(Seq(".", "!", "?", "\""))))
    val punctRatio = punctLines.cast("double") / size(lines).cast("double")
    val norm = normText(col(textCol))
    val hasLorem = norm.contains("lorem ipsum")
    val hasBrace = norm.contains("{")
    val keepGopher = nWords.between(minWords, maxWords) &&
      meanWlen.between(minMeanWordLen, maxMeanWordLen) &&
      nStop >= minStopwords
    val keepC4 = !hasLorem && !hasBrace
    df.select(
      col(idCol).as("doc_id"),
      nWords.as("n_words"),
      round(meanWlen, 6).as("mean_word_len"),
      nStop.as("stopword_hits"),
      round(punctRatio, 6).as("punct_line_ratio"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      keepGopher.as("keep_gopher"),
      keepC4.as("keep_c4"),
      (keepGopher && keepC4).as("keep"))
  }

  /** The combined Gopher+C4 keep decision of [[qualityFilter]] as ONE
    * per-row predicate Column — for pipelines that need to FILTER a
    * corpus without carrying the signal columns (the staged curation
    * pipeline re-applies this predicate on its single final corpus pass
    * instead of materializing a corpus-sized keep-id set). Equivalence
    * with `qualityFilter(...).filter(col("keep"))` is spec-proved
    * (`CurationSpec`). */
  def qualityKeepExpr(text: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minStopwords: Int = 2): Column = {
    val w = words(text)
    val nWords = size(w)
    val sumWlen = aggregate(transform(w, x => length(x)), lit(0),
      (acc, x) => acc + x)
    val meanWlen = sumWlen.cast("double") / nWords.cast("double")
    val nStop = size(filter(w, x => x.isInCollection(Stopwords)))
    val norm = normText(text)
    nWords.between(minWords, maxWords) &&
      meanWlen.between(minMeanWordLen, maxMeanWordLen) &&
      nStop >= minStopwords &&
      !norm.contains("lorem ipsum") && !norm.contains("{")
  }

  /** Bigram language-model scoring — the CCNet-style "perplexity
    * filter" quality signal: per-document mean negative log-likelihood
    * under an add-one-smoothed bigram model trained on `corpus`
    * (P(w2|w1) = (C(w1 w2)+1)/(C(w1)+V)). Output:
    * `(doc_id, n_bigrams, nll)` — lower nll ≈ more corpus-like text;
    * docs shorter than two words carry no bigram evidence and are
    * skipped (the [[Dedup.contaminationScores]] convention).
    *
    * FP determinism: every probability is a ratio of INTEGER counts
    * (identical across engines), `ln` is engine-local (the tf-idf
    * 6dp-round treatment), and — the actual hazard — the per-document
    * SUM of log-probs is a QUANTIZED INTEGER sum (the PageRank/pooling
    * trick): each term's `ln p` is rounded to a fixed-point long at
    * 1e-9 resolution and the longs are summed — commutative and exact,
    * so the aggregate is bit-stable under ANY partitioning and
    * identical across engines, with O(1) state per document and
    * map-side partials. (The previous shape — `collect_list` +
    * `sort_array` + position-ordered fold — was order-deterministic too
    * but buffered every term of a document in the aggregation state and
    * shuffled the full term relation unsorted; measured 1.6 s at sf0.1
    * / 7.5 s at 10×, dominated by the list-encoder serde. A 1-ulp
    * engine difference in `ln` can flip one quantum, shifting the mean
    * by ≤ 1e-9/n — absorbed by the final 6-dp round, the same
    * acceptance class as the tf-idf treatment.)
    *
    * Scale: model training is two map-side-combinable groupBys over the
    * corpus; scoring is an equi-join of exploded bigrams to the model
    * (broadcastable when the vocabulary is; shuffle otherwise) and one
    * bounded-state per-doc aggregate. (Keys stay STRINGS deliberately:
    * the md5-derived long-key treatment was measured and rejected —
    * ~5M md5+hex-conv evaluations doubled the sf0.1 constant, more
    * than the narrower shuffle saved at 10×.) */
  def lmScore(
      scored: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val cw = corpus.select(words(col(textCol)).as("w"))
    // |vocab| rows, read twice (scalar V below + the scoring join):
    // materialized once, and V (a driver scalar → literal in the formula)
    // is the same job's row count
    val (uni, vocab) = org.apache.spark.sql.GraftSql.sizedView(
      cw.select(explode(col("w")).as("u"))
        .groupBy("u").agg(count(lit(1)).as("c1")), _ => 1L)
    val bi = cw.select(col("w"))
      .select(explode(wordNgrams("w", 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c2"))
    val pos = scored
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"), explode(wordNgrams("w", 2)).as("g"))
      .withColumn("u", split(col("g"), " ").getItem(0))
    val lnp = log(
      (coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
        (coalesce(col("c1"), lit(0L)) + lit(vocab)).cast("double"))
    pos
      .join(bi, Seq("g"), "left")
      .join(uni, Seq("u"), "left")
      .select(col("doc_id"), round(lnp * lit(1e9)).cast("long").as("q"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("q").as("qs"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-(col("qs").cast("double") / lit(1e9)) /
          col("n_bigrams").cast("double"), 6).as("nll"))
  }

  /** Conservative PII patterns shared with the oracle. Spelled to mean
    * the same thing under Java regex (Spark) and RE2 (DuckDB): no
    * lookaround, no backreferences, explicit character classes. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  /** Leading `+` required, so redacted IPs/plain numbers can't re-match. */
  val PhoneRe = "\\+[0-9][0-9 ()-]{5,}[0-9]"

  /** PII detection and redaction: per-category match counts plus the
    * redacted text (emails → `<EMAIL>`, then IPv4 → `<IP>`, then
    * international-format phones → `<PHONE>` — the order matters, later
    * patterns must not re-match earlier placeholders). Pure per-row
    * regex expressions (codegen'd, embarrassingly parallel). */
  def piiRedact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0)))
        .as("n_ips"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0)))
        .as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>").as("redacted"))

  /** POSITIONAL PHRASE SEARCH — the inverted-index query a search/
    * attribution pipeline runs to locate an exact `n`-word phrase in a
    * corpus (training-data attribution, quote finding, memorization
    * probes all reduce to it). `phrases`: (qid, phrase) with each
    * phrase exactly `n` normalized words. Output one row per
    * occurrence: (qid, phrase, doc_id, pos) — `pos` is the 0-based
    * token offset of the phrase's first word.
    *
    * Scale shape: the postings relation is the corpus's positional
    * n-gram windows — per-row array expressions + one posexplode,
    * LINEAR in corpus tokens, built fresh per query batch (a standing
    * deployment would materialize it once and bucket it by a gram
    * hash); matching is ONE equi-join on the gram string. NO broadcast
    * hint: Spark honors an explicit hint unconditionally (a
    * million-phrase attribution batch would be collected to the driver
    * and can OOM), while the planner's own size estimate — plus AQE's
    * runtime re-plan — already broadcasts a small phrase table and
    * falls back to an ordinary hash join for a large one. Output is
    * the true match set — no candidate blowup, no verify stage needed,
    * because the join key IS the phrase. */
  def phraseSearch(corpus: DataFrame, phrases: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val posts = corpus
      .select(col(idCol).as("doc_id"), TextOps.words(col(textCol)).as("__w"))
      .select(col("doc_id"),
        posexplode(TextOps.wordNgrams("__w", n)).as(Seq("pos", "__g")))
    posts
      .join(phrases.select(col("qid"), col("phrase")),
        col("__g") === col("phrase"))
      .select(col("qid"), col("phrase"), col("doc_id"), col("pos"))
  }

  /** Unicode NFC normalization pass (UAX #15) — the canonical-form
    * stage every web-ingestion pipeline runs BEFORE hashing: "Café"
    * spelled `e`+U+0301 and precomposed `é` must fingerprint
    * identically or exact-dedup/shingle operators silently miss pairs.
    * Emits per-doc before/after code-point counts, a change flag, and
    * the md5 of the normalized text (the downstream dedup key).
    *
    * Implementation is the native [[graft.functions.NfcNormalize]]
    * expression (JDK `java.text.Normalizer`, same Unicode tables as
    * DuckDB's `nfc_normalize` — the oracle is exact on ANY input): a
    * pure per-row map, no shuffle, whole-stage codegen intact, with an
    * NFC quick-check fast path that returns all-ASCII rows (the
    * overwhelming majority of a real corpus) without allocation. */
  def nfcNormalize(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftSql
    val norm = GraftSql.column(
      graft.functions.NfcNormalize(GraftSql.expression(col(textCol))))
    df.select(col(idCol).as("doc_id"), col(textCol).as("__raw"),
        norm.as("__nfc"))
      .select(col("doc_id"),
        length(col("__raw")).as("n_raw"),
        length(col("__nfc")).as("n_nfc"),
        (col("__raw") =!= col("__nfc")).cast("int").as("changed"),
        md5(col("__nfc")).as("md5_nfc"))
  }

  /** CONJUNCTIVE BOOLEAN SEARCH — multi-term AND retrieval over an
    * inverted index, the filter shape behind allowlist/blocklist term
    * screens and faceted corpus slicing ("every doc containing ALL of
    * these terms"). `queries`: (qid, term), several rows per qid.
    * Output one row per (qid, matching doc).
    *
    * Scale shape: per-doc DISTINCT terms via a per-row `array_distinct`
    * (map-side — the postings relation never carries within-doc
    * duplicates, so its size is bounded by corpus VOCABULARY incidence,
    * not token count); the equi-join against the query-term relation
    * immediately restricts flow to the queried terms' postings only —
    * docs containing none of the terms never shuffle. The AND is one
    * grouped count equality against each qid's term count (a ≤|Q|-row
    * broadcast): count(matched terms) = |q| ⇔ all terms present,
    * because the join key made matches distinct per (qid, doc, term).
    * No window, no driver loop; the classic rarest-term-first cascade
    * is subsumed here by the single count-equality shuffle whose volume
    * is already only the queried postings. */
  def boolSearch(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val posts = corpus
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TextOps.words(col(textCol)))).as("term"))
    val q = queries.select(col("qid"), col("term")).distinct()
    val need = q.groupBy("qid").agg(count(lit(1)).as("__need"))
    posts.join(q, Seq("term"))
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("__got"))
      .join(broadcast(need), Seq("qid"))
      .filter(col("__got") === col("__need"))
      .select(col("qid"), col("doc_id"))
  }

  /** PMI COLLOCATION MINING (Church & Hanks 1990) — the corpus-analysis
    * pass that surfaces multiword expressions ("new york", "machine
    * learning") for tokenizer vocab curation and boilerplate forensics:
    * rank adjacent token pairs by pointwise mutual information
    * PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) = c_xy/N_pairs
    * and p(x) = c_x/N_tokens, keeping pairs with support ≥ `minCount`
    * (raw PMI is a small-count amplifier; the gate is the standard
    * fix). Returns the top `k` by (pmi_scaled DESC, gram).
    *
    * Determinism across engines: both PMI operands are EXACT integer
    * products accumulated in decimal(38,0) — numerator c_xy·N_tok²,
    * denominator N_pairs·c_x·c_y, each < 10^38 for corpora to ~10^12
    * tokens — cast once to double (correctly rounded in both engines),
    * ONE correctly-rounded division, one engine-local `ln`, then the
    * 1e9 quantization whose final round absorbs sub-quantum ulp
    * differences (the text_lm_score / dsir license).
    *
    * Scale shape: one bigram explode (linear in corpus tokens) and one
    * token explode, each feeding a map-side-combinable count; the two
    * unigram joins are VOCABULARY-sized relations on vocabulary keys
    * (the pair relation is ≤ observed-bigram-types rows after its own
    * aggregation, not corpus-sized); selection is a distributed
    * TakeOrdered — no global sort, no window. */
  def collocations(df: DataFrame, textCol: String,
      minCount: Long = 5, k: Int = 50): DataFrame = {
    val toks = df.select(TextOps.words(col(textCol)).as("__w"))
    val uni = toks.select(explode(col("__w")).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__c"))
    val pairs = toks
      .select(explode(TextOps.wordNgrams("__w", 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    // single-row totals, broadcast back (exact longs)
    val totT = uni.agg(sum("__c").as("__nt"))
    val totP = toks.select(
        (greatest(size(col("__w")) - 1, lit(0))).cast("long").as("__np"))
      .agg(sum("__np").as("__np"))
    val dec = "decimal(38,0)"
    pairs
      .withColumn("w1", split(col("gram"), " ").getItem(0))
      .withColumn("w2", split(col("gram"), " ").getItem(1))
      .join(uni.select(col("__t").as("w1"), col("__c").as("c1")), Seq("w1"))
      .join(uni.select(col("__t").as("w2"), col("__c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totT)).crossJoin(broadcast(totP))
      .select(col("gram"), col("n_pair"), col("c1"), col("c2"),
        round(log(
          (col("n_pair").cast(dec) * col("__nt").cast(dec) *
            col("__nt").cast(dec)).cast("double") /
          (col("__np").cast(dec) * col("c1").cast(dec) *
            col("c2").cast(dec)).cast("double")) * lit(1e9), 0)
          .cast("long").as("pmi_scaled"))
      .orderBy(col("pmi_scaled").desc, col("gram"))
      .limit(k)
  }

  /** LINEAR QUALITY-CLASSIFIER INFERENCE over hashed bag-of-words
    * features — the fastText-shaped scoring pass behind
    * classifier-based corpus filtering (GPT-3's WebText quality model,
    * LLaMA's Wikipedia-reference classifier): score every document with
    * a trained linear model w over features f = hash32(token) mod
    * nFeatures, keep docs whose logit clears 0. The MODEL is an input
    * relation `weights(featCol, weightCol)` of integer fixed-point
    * weights — training happens offline; this operator is the
    * corpus-wide inference pass, which is where the 100 TB cost lives.
    *
    * Scale shape: one token explode → per-row feature hash → equi-join
    * against the weight relation (≤ nFeatures rows BY CONSTRUCTION —
    * that is the point of the hashing trick; AQE broadcasts it, and a
    * million-feature model is still an ordinary hash join) → ONE
    * map-side-combinable per-doc long sum. The logit is an exact
    * integer (commutative long sum of integer weights — bit-identical
    * across engines and partitionings); the mean score is one
    * correctly-rounded division rounded to 6dp. Missing features
    * (buckets absent from `weights`) contribute 0 via the left join,
    * so a sparse model relation is equivalent to a dense one padded
    * with zeros. Returns (doc_id, n_tokens, logit_fixed, score, keep).
    */
  def classifierScore(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, featCol: String, weightCol: String,
      nFeatures: Int = 4096): DataFrame = {
    require(nFeatures > 0, "need positive nFeatures")
    val w = weights.select(col(featCol).cast("long").as("__f"),
      col(weightCol).cast("long").as("__w"))
    df.select(col(idCol).as("doc_id"),
        explode(TextOps.words(col(textCol))).as("__t"))
      .select(col("doc_id"),
        pmod(TextOps.hash32(col("__t")), lit(nFeatures.toLong)).as("__f"))
      .join(w, Seq("__f"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__w"), lit(0L))).as("logit_fixed"))
      .select(col("doc_id"), col("n_tokens"), col("logit_fixed"),
        round(col("logit_fixed").cast("double") /
          col("n_tokens").cast("double"), 6).as("score"),
        (col("logit_fixed") > 0).as("keep"))
  }

  /** VOCABULARY COVERAGE / OUT-OF-VOCABULARY RATE — the tokenizer-fit
    * diagnostic run before committing a vocab (SentencePiece's
    * character_coverage report; the OOV audit of the classic fixed-vocab
    * era, still the per-language signal that flags transliteration,
    * encoding damage and domain drift): per document, the fraction of
    * tokens outside the corpus's own top-`vocabSize` word list.
    *
    * The vocab is the (count DESC, term ASC) top-V of the corpus word
    * frequency — one map-side-combinable count contraction (state
    * bounded by the DISTINCT vocabulary, not corpus tokens) and a
    * distributed TakeOrdered(V); the V-row relation broadcasts into a
    * per-token left join, and the per-doc rollup is one combinable
    * aggregate. oov_permille is an exact integer ratio — no FP for
    * engines to disagree on. */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 256): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be positive")
    val tok = df.select(col(idCol).as("doc_id"),
      explode(TextOps.words(col(textCol))).as("term"))
    val vocab = tok.groupBy("term").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(1L).as("__in_v"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in_v").isNull, 1)).as("n_oov"))
      .withColumn("oov_permille", expr("(1000 * n_oov) div n_tokens"))
  }

  /** The corpus-derived BLOCKLIST fixture: the `k` most frequent
    * `[a-z0-9]+` words of length ≥ `minLen` on the `(count DESC, word
    * ASC)` total order — one vocabulary-sized aggregation + a
    * TakeOrdered(k), the bounded-driver-state license of every trained
    * model here. (A production blocklist is an external lexicon; the
    * fixture exists so the gate exercises the automaton against text
    * that actually matches at every scale, probe corpora included.) */
  def topTerms(df: DataFrame, textCol: String, k: Int,
      minLen: Int): Seq[String] =
    df.select(explode(TextOps.words(col(textCol))).as("__w"))
      .filter(col("__w").rlike("^[a-z0-9]+$") &&
        length(col("__w")) >= minLen)
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w")).limit(k)
      .collect().map(_.getString(0)).toSeq

  /** MULTI-PATTERN BLOCKLIST SCAN — one Aho–Corasick pass per document
    * over the normalized text ([[graft.functions.AhoCorasickStats]]):
    * per-row cost O(len + matches) independent of lexicon size, where
    * the naive `contains` disjunction pays one text pass per pattern.
    * Occurrences count greedy-non-overlapping per pattern (the
    * `replace`-arithmetic the oracle mirrors); distinct patterns count
    * independently. Output: (doc_id, n_matches, n_patterns, blocked) —
    * every input row, flagged rather than filtered, so both keep and
    * drop consumers compose. */
  def blocklistStats(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.GraftSql
    val st = GraftSql.column(graft.functions.AhoCorasickStats(
      GraftSql.expression(TextOps.normText(col(textCol))), patterns))
    df.select(col(idCol).as("doc_id"), st.as("__st"))
      .select(col("doc_id"),
        col("__st.n_matches").as("n_matches"),
        col("__st.n_patterns").as("n_patterns"),
        (col("__st.n_matches") > 0).as("blocked"))
  }
}

package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary learning (Sennrich, Haddow & Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * tokenizer-induction pass a training-data pipeline runs ONCE per
  * corpus before encoding.
  *
  * The classic algorithm loops: count adjacent symbol-pair frequencies
  * over the corpus, merge the most frequent pair everywhere, repeat.
  * Re-expressed Spark-first with the standard word-frequency contraction
  * (BPE statistics only depend on each distinct word and its count, so
  * the working relation is VOCABULARY-sized, not corpus-sized — the one
  * reduction that makes corpus-scale BPE tractable; a 100 TB corpus has
  * a ~10-100M-row vocabulary):
  *
  *   - one corpus pass builds the (word, count) relation;
  *   - each merge round is ONE map-side-combinable aggregation over the
  *     vocabulary (pair explode → grouped weighted count) plus a
  *     distributed TakeOrdered(1) for the argmax — the only driver
  *     value per round is the winning pair (the bounded-scalar license
  *     of the k-means/median trainers);
  *   - the merge itself is a per-row native `replace` (codegen'd string
  *     op, embarrassingly parallel).
  *
  * SYMBOL-STRING REPRESENTATION (shared with the DuckDB oracle): a
  * word's symbol sequence is one string — `\u001f` (unit separator) at each end,
  * doubled `\u001f\u001f` between symbols (`_a__bc__d_` for [a, bc, d]). Merging
  * pair (l, r) is then literal-`replace`
  * (`_l__r_` → `_lr_`): both engines' `replace` scans left-to-right
  * non-overlapping, which is exactly BPE's in-word merge order, and the
  * doubled inner separator makes consecutive matches share no bytes
  * (`_a__a__a__a_` → `_aa__aa_`, the greedy pairing — with a SINGLE
  * inner separator the shared boundary byte would be consumed and the
  * second pair missed). Training is restricted to `[a-z0-9]+` words
  * (post-normalization alphanumerics), so the separator byte can never
  * occur in a symbol.
  *
  * Determinism: pair counts are exact long sums; the per-round argmax
  * breaks ties on (freq DESC, left ASC, right ASC) — a total order both
  * engines replay; no FP anywhere. The oracle unrolls the same rounds
  * as MATERIALIZED CTEs with the same `replace`.
  */
object Bpe {

  /** Inter/intra-word separator (ASCII unit separator — cannot appear in
    * an `[a-z0-9]+` symbol). */
  val Sep = "\u001f"

  /** The `[a-z0-9]+`-word frequency relation with each word's initial
    * symbol string. */
  private def symInit(corpus: DataFrame, textCol: String): DataFrame =
    corpus
      .select(explode(TextOps.words(col(textCol))).as("__w"))
      .filter(col("__w").rlike("^[a-z0-9]+$"))
      .groupBy("__w").agg(count(lit(1)).as("__wcnt"))
      .select(col("__wcnt"), initSymString(col("__w")).as("__s"))

  /** `word` → its separator-framed symbol string (one symbol per char). */
  private def initSymString(word: Column): Column =
    concat(lit(Sep),
      array_join(regexp_extract_all(word, lit("."), lit(0)), Sep + Sep),
      lit(Sep))

  /** One learned merge: ordinal rank, the pair, its weighted frequency
    * at merge time. */
  final case class Merge(rank: Int, lhs: String, rhs: String, freq: Long)

  /** Learn `nMerges` merges over `corpus(textCol)`. Stops early if the
    * vocabulary runs out of adjacent pairs (degenerate corpora).
    *
    * Runs on [[Rounds]]: the vocabulary relation is re-read every round,
    * so it is materialized, and so is each round's merged successor
    * (lineage would otherwise grow one replace per round AND re-run the
    * corpus tokenization). Each materialization also counts the words
    * whose symbol string still holds two symbols (a doubled inner
    * separator); the next round's top pair exists exactly when that
    * count is nonzero, so the count is the loop's stop scalar. */
  def train(corpus: DataFrame, textCol: String, nMerges: Int): Seq[Merge] = {
    require(nMerges >= 1, "need nMerges >= 1")
    import org.apache.spark.sql.GraftSql.{sizedView, unpersistCheckpoint}
    val inner = org.apache.spark.unsafe.types.UTF8String.fromString(Sep + Sep)
    val pairable: org.apache.spark.sql.catalyst.InternalRow => Long =
      r => if (r.getUTF8String(1).contains(inner)) 1L else 0L
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    val (init, pairs) = sizedView(symInit(corpus, textCol), pairable)
    val (last, _, _) = Rounds.run(init, pairs, nMerges, stop = _ == 0L) {
      (cur, _, rank) =>
        val syms = cur.withColumn("__syms",
          split(regexp_replace(col("__s"), s"^$Sep|$Sep$$", ""), Sep + Sep))
        // adjacent pairs, weighted by word frequency; argmax via a
        // distributed TakeOrdered(1) on the (freq DESC, l, r) total order
        val top = syms
          .filter(size(col("__syms")) >= 2)
          .select(col("__wcnt"), explode(expr(
            "transform(sequence(1, size(__syms) - 1), " +
              "i -> struct(__syms[i-1] AS l, __syms[i] AS r))")).as("__p"))
          .groupBy(col("__p.l").as("__l"), col("__p.r").as("__r"))
          .agg(sum("__wcnt").as("__freq"))
          .orderBy(col("__freq").desc, col("__l"), col("__r"))
          .limit(1)
          .collect()
        val (l, r, f) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(rank, l, r, f)
        (cur.select(col("__wcnt"),
          replace(col("__s"), lit(Sep + l + Sep + Sep + r + Sep),
            lit(Sep + l + r + Sep)).as("__s")), pairable)
    }
    unpersistCheckpoint(last)
    merges.toSeq
  }

  /** Encode the corpus with a learned merge table: per doc, the
    * `[a-z0-9]+` words' symbol strings run the merge `replace` chain
    * (nMerges per-row codegen'd string ops — no joins, no shuffle until
    * the per-doc sum), and the token count falls out of separator
    * arithmetic (a k-symbol string holds exactly 2k separator bytes).
    * Output: (doc_id, n_words, n_chars, n_bpe_tokens, compression) with
    * compression = n_bpe_tokens / n_chars (one division of exact longs,
    * 6dp). */
  def applyMerges(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val merged = merges.foldLeft(initSymString(col("__w"))) { (s, m) =>
      replace(s, lit(Sep + m.lhs + Sep + Sep + m.rhs + Sep),
        lit(Sep + m.lhs + m.rhs + Sep))
    }
    df.select(col(idCol).as("doc_id"),
        explode(TextOps.words(col(textCol))).as("__w"))
      .filter(col("__w").rlike("^[a-z0-9]+$"))
      .select(col("doc_id"), length(col("__w")).cast("long").as("__nc"),
        // 2k separator bytes ⇔ k symbols; the difference is always even
        ((length(merged) - length(replace(merged, lit(Sep), lit(""))))
          .cast("long") / lit(2L)).cast("long").as("__nt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("__nc").as("n_chars"),
        sum("__nt").as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") /
          col("n_chars").cast("double"), 6).as("compression"))
  }

  /** The corpus word-frequency table, driver-collected for in-memory
    * training: one distributed aggregation + a `TakeOrdered(maxVocab)`
    * on `(count DESC, word ASC)` — the bounded-driver-state license of
    * the k-means/median trainers, here bounded by the VOCABULARY CAP.
    * Capping to the most frequent words is the universal tokenizer-
    * training practice (100 TB corpora carry 10⁸⁺ distinct "words",
    * almost all hapax noise; every production BPE trains on a bounded
    * frequency table); below the cap — every gate corpus — the result
    * is the full exact relation and [[trainOnCounts]] matches [[train]]
    * bit-for-bit. */
  def wordCounts(corpus: DataFrame, textCol: String,
      maxVocab: Int = 1 << 22): Seq[(String, Long)] =
    corpus
      .select(explode(TextOps.words(col(textCol))).as("__w"))
      .filter(col("__w").rlike("^[a-z0-9]+$"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w")).limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** In-memory BPE training over a word-frequency table — how every
    * production tokenizer trains (the statistics depend only on the
    * vocabulary-sized (word, count) relation, which [[wordCounts]]
    * aggregates distributively; the merge loop itself is inherently
    * sequential, so past the corpus pass there is nothing left to
    * distribute). Semantics are [[train]]'s exactly: weighted adjacent
    * pair counts, argmax on the (freq DESC, l ASC, r ASC) total order
    * (ASCII symbols, so String.compareTo equals the engines' binary
    * collation), left-to-right non-overlapping in-word merges, early
    * stop on pair exhaustion — spec-pinned equal to the distributed
    * trainer on the same corpus. */
  def trainOnCounts(
      counts: Seq[(String, Long)], nMerges: Int): Seq[Merge] = {
    require(nMerges >= 1, "need nMerges >= 1")
    var vocab: Array[(Array[String], Long)] = counts
      .filter(_._1.nonEmpty)
      .map { case (w, c) => (w.map(_.toString).toArray, c) }.toArray
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    for (rank <- 1 to nMerges if !exhausted) {
      val freq = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          freq.update(k, freq.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (freq.isEmpty) exhausted = true
      else {
        val ((l, r), f) = freq.minBy { case ((l, r), f) => (-f, l, r) }
        merges += Merge(rank, l, r, f)
        vocab = vocab.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                out += l + r; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toArray, c)
          }
        }
      }
    }
    merges.toSeq
  }

  /** Token count of one word column under `merges` — the constant-
    * plan-size native encode ([[graft.functions.BpeTokenCount]]). */
  def tokenCount(word: Column, merges: Seq[Merge]): Column = {
    import org.apache.spark.sql.GraftSql
    GraftSql.column(graft.functions.BpeTokenCount(
      GraftSql.expression(word), merges.map(m => (m.lhs, m.rhs))))
  }

  /** PRODUCTION-DEPTH corpus encode: same output contract as
    * [[applyMerges]] (doc_id, n_words, n_chars, n_bpe_tokens,
    * compression), with the two scale properties the replace chain
    * lacks —
    *
    *   1. the merge table rides along as ONE referenced object inside
    *      [[graft.functions.BpeTokenCount]] (constant plan size and
    *      per-row hash lookups vs one generated string pass per merge:
    *      at 32k merges the chain shape is unusable, this one doesn't
    *      notice);
    *   2. the encode runs on the DISTINCT-WORD contraction and joins
    *      the per-word token count back to the (doc, word) instance
    *      relation on the word key — the expensive per-word merge loop
    *      runs vocabulary-many times, not corpus-many (the same
    *      contraction that makes training tractable; Zipf corpora make
    *      this decisive). The join is vocabulary-keyed — AQE
    *      broadcasts it whenever the vocabulary fits, no hint. */
  def encodeDeep(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val inst = df
      .select(col(idCol).as("doc_id"),
        explode(TextOps.words(col(textCol))).as("__w"))
      .filter(col("__w").rlike("^[a-z0-9]+$"))
    val wtok = inst.select(col("__w")).distinct()
      .select(col("__w"),
        tokenCount(col("__w"), merges).cast("long").as("__nt"))
    inst.join(wtok, "__w")
      .select(col("doc_id"), length(col("__w")).cast("long").as("__nc"),
        col("__nt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("__nc").as("n_chars"),
        sum("__nt").as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") /
          col("n_chars").cast("double"), 6).as("compression"))
  }

  /** The DuckDB twin of [[train]] as WITH-clause CTEs over a `docs`
    * relation (columns `doc_id`, `w` = normalized word array — the
    * shared DocsCte). Defines `m1..m{nMerges}` (each `(l, r, freq)`,
    * MATERIALIZED — each round's merge result is read by BOTH the next
    * pair count and the next replace, and DuckDB's default CTE inlining
    * would re-evaluate the whole chain exponentially) and
    * `bs{nMerges}`(wcnt, s), the fully-merged vocabulary. */
  def trainSql(nMerges: Int): String = {
    val sep = "chr(31)"
    val sb = new StringBuilder
    sb ++= s"""bw AS (SELECT w2 AS word, count(*) AS wcnt
       |        FROM (SELECT unnest(w) AS w2 FROM docs) t
       |        WHERE regexp_matches(w2, '^[a-z0-9]+$$') GROUP BY 1),
       |bs0 AS (SELECT wcnt, $sep ||
       |          array_to_string(regexp_extract_all(word, '.'),
       |                          $sep || $sep) || $sep AS s
       |        FROM bw),
       |""".stripMargin
    for (i <- 1 to nMerges) {
      sb ++= s"""bp$i AS (SELECT syms[j] AS l, syms[j + 1] AS r,
         |          sum(wcnt)::BIGINT AS freq
         |        FROM (SELECT wcnt,
         |                string_split(trim(s, $sep), $sep || $sep) AS syms,
         |                unnest(range(1, len(string_split(trim(s, $sep),
         |                  $sep || $sep)))) AS j
         |              FROM bs${i - 1}) t
         |        GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, freq FROM bp$i
         |        ORDER BY freq DESC, l, r LIMIT 1),
         |bs$i AS MATERIALIZED (SELECT wcnt,
         |          replace(s, $sep || (SELECT l FROM m$i) || $sep || $sep ||
         |                     (SELECT r FROM m$i) || $sep,
         |                     $sep || (SELECT l FROM m$i) ||
         |                     (SELECT r FROM m$i) || $sep) AS s
         |        FROM bs${i - 1})""".stripMargin
      if (i < nMerges) sb ++= ",\n"
    }
    sb.toString
  }

  /** The merge-table SELECT over [[trainSql]]'s `m1..m{nMerges}`. */
  def mergeTableSql(nMerges: Int): String =
    (1 to nMerges).map(i =>
      s"SELECT $i AS merge_rank, l AS lhs, r AS rhs, freq FROM m$i")
      .mkString("\nUNION ALL\n")

  /** The DuckDB twin of [[applyMerges]] as WITH-clause CTEs (appended
    * after [[trainSql]] — reads its `m1..m{nMerges}`): the per-doc word
    * relation runs the same `replace` chain; ends with
    * `ba{nMerges}`(doc_id, word, s). */
  def applySql(nMerges: Int): String = {
    val sep = "chr(31)"
    val sb = new StringBuilder
    sb ++= s"""aw AS (SELECT doc_id, w2 AS word
       |       FROM (SELECT doc_id, unnest(w) AS w2 FROM docs) t
       |       WHERE regexp_matches(w2, '^[a-z0-9]+$$')),
       |ba0 AS (SELECT doc_id, word, $sep ||
       |          array_to_string(regexp_extract_all(word, '.'),
       |                          $sep || $sep) || $sep AS s
       |        FROM aw)""".stripMargin
    for (i <- 1 to nMerges) {
      sb ++= s""",
         |ba$i AS (SELECT doc_id, word,
         |          replace(s, $sep || (SELECT l FROM m$i) || $sep || $sep ||
         |                     (SELECT r FROM m$i) || $sep,
         |                     $sep || (SELECT l FROM m$i) ||
         |                     (SELECT r FROM m$i) || $sep) AS s
         |        FROM ba${i - 1})""".stripMargin
    }
    sb.toString
  }
}

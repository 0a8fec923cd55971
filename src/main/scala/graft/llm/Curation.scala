package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextOps._

/** STAGED corpus curation — the 100 TB shape of the quality-filter →
  * exact-dedup → near-dup-dedup → decontamination pipeline.
  *
  * The one-lazy-plan composition (each stage's frame feeding the next) is
  * semantically right but re-evaluates its upstream once per consumer:
  * the near-dup pair build, the clustering anti-join's left side, the
  * contamination scorer and the final anti-join each pull the corpus
  * scan + quality scoring + exact-dedup window again — ~5 corpus passes
  * and 2 shingle builds (measured 7.3 s at sf0.1 vs ~4.7 s of distinct
  * work). At 100 TB one recomputed shingle build is the whole job.
  *
  * The staged form exploits two LOCALITY facts to reuse the corpus-level
  * indexes the standalone queries already share:
  *
  *  - PAIR LOCALITY: J(a, b) depends only on documents a and b, so the
  *    near-dup pairs among any survivor subset S are exactly the
  *    full-corpus pair relation restricted to `id_a ∈ S ∧ id_b ∈ S` —
  *    a semi-join against the pair index, never a re-shingling.
  *  - SCORE LOCALITY: a document's contamination fraction depends only
  *    on its own shingles and the benchmark vocabulary, so full-corpus
  *    scores restrict the same way. Better: contaminated ids that are
  *    NOT pipeline survivors are already absent from the anti-join's
  *    left side, so the contaminated id set needs no restriction at all.
  *
  *  (Exact dedup does NOT restrict: a hash group's min-id representative
  *  can itself be a quality reject, which re-elects the representative
  *  among survivors — so keep-min-per-group runs on the survivor set,
  *  but over narrow `(id, md5)` pairs; document text never re-moves.)
  *
  * The pipeline's decisions therefore collapse to three SMALL id sets —
  * exact losers, near-dup losers, contaminated docs — sized by the
  * duplicate/contamination rate (single-digit percent on a clean corpus,
  * corpus-proportional on a raw crawl), and the result is ONE corpus
  * pass: re-apply the per-row quality predicate (pure column exprs, no
  * shuffle) and anti-join the drop set (AQE broadcasts it when it fits). Reference scope: composition of feast-hive-style filtered
  * retrieval (hive.py:527-721's staged query assembly) with the
  * extension dedup family; the staging mirrors how the reference
  * materializes each CTE stage once rather than inlining it per
  * consumer.
  */
object Curation {

  /** The DROP-SET of the staged pipeline: one `__graft_drop` column of
    * ids rejected by exact dedup (among quality survivors), near-dup
    * clustering (among exact survivors), or decontamination. The caller
    * anti-joins it under the quality predicate — see [[curate]].
    *
    * `fullPairs` / `fullScores` are the FULL-CORPUS near-dup pair index
    * `(id_a, id_b, …)` and contamination score relation
    * `(doc_id, …, contamination)` — built once per corpus snapshot and
    * shared with the standalone pair/cluster/decontaminate queries
    * (deterministic inputs, so reuse can only save work, never change
    * results). Restriction to pipeline survivors happens here, by
    * semi-join (pair locality above).
    *
    * The returned frame is SMALL (bounded by the dup + contamination
    * rate), EAGERLY materialized and persisted (the clustering inside
    * runs eager jobs, so laziness here would be a fiction); every
    * intermediate is unpersisted before return. Release it with
    * `GraftSql.unpersistCheckpoint` when the corpus snapshot is
    * superseded. */
  def dropSet(
      corpus: DataFrame, idCol: String, textCol: String,
      fullPairs: DataFrame, fullScores: DataFrame,
      tauContam: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.GraftSql.{
      sizedView, unpersistCheckpoint, unpersistCheckpointTree}
    // Quality survivors ranked within their content-hash group — ONE
    // corpus scan + one narrow (id, md5) hash-partitioned shuffle,
    // materialized once for its two consumers below.
    val ranked = sizedView(
      corpus.filter(TextAnalysis.qualityKeepExpr(col(textCol)))
        .select(col(idCol).as("doc_id"),
          md5(normText(col(textCol))).as("__h"))
        .withColumn("__rn",
          row_number().over(Window.partitionBy("__h").orderBy("doc_id"))))
    // Exact losers among quality survivors: everything but the min id of
    // each content-hash group; the rn = 1 complement is the exact-
    // survivor set that restricts the pair index on BOTH endpoints.
    val exactLosers = ranked.filter(col("__rn") > 1).select(col("doc_id"))
    val sa = ranked.filter(col("__rn") === 1).select(col("doc_id").as("__ka"))
    val sb = ranked.filter(col("__rn") === 1).select(col("doc_id").as("__kb"))
    val restricted = fullPairs
      .join(sa, col("id_a") === col("__ka"), "left_semi")
      .join(sb, col("id_b") === col("__kb"), "left_semi")
    // Near-dup losers: non-representative members of the connected
    // components over the restricted edge set (representative = min id,
    // exactly the operator's label, on either of its routes).
    val labels = Dedup.connectedComponents(restricted, "id_a", "id_b")
    val nearLosers = labels
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    // Contaminated ids, UNRESTRICTED (score locality: restriction is a
    // no-op under the final anti-join — non-survivors are already gone).
    val contam = fullScores
      .filter(col("contamination") >= tauContam)
      .select(col("doc_id"))
    // the drop set's MEASURED statistics let the curate anti-join plan
    // its broadcast decision statically from the true size — and since
    // callers cache this frame (curationDrops), the measurement is paid
    // once per corpus snapshot, not per query
    val drops = sizedView(
      exactLosers.union(nearLosers).union(contam).distinct()
        .select(col("doc_id").as("__graft_drop")))
    unpersistCheckpoint(ranked)
    // on the rounds route the labels frame carries a projection over its
    // persisted result, so the top-level variant would no-op (tree variant
    // is safe here: the only persisted leaves are CC's own — `restricted`
    // reads the caller's pair index lazily, and lazy plans contribute no
    // LogicalRDD leaf; the driver route's local labels have none)
    unpersistCheckpointTree(labels)
    drops
  }

  /** The curated corpus: quality-predicate pass ∘ anti-join against
    * [[dropSet]] — one corpus scan, zero wide shuffles of document text.
    * `drops` may be the lazy [[dropSet]] or a persisted copy of it (the
    * amortized path). No broadcast hint: the drop set scales with the
    * duplicate + contamination MASS, which at web-crawl density is
    * corpus-proportional — a forced hint would collect it to the driver
    * and OOM; the join plans from the drop set's MEASURED size
    * ([[Dedup.antiJoinDropSized]]), broadcasting only when it truly
    * fits. */
  def curate(
      corpus: DataFrame, idCol: String, textCol: String,
      drops: DataFrame): DataFrame =
    // plain join: [[dropSet]] already attaches measured stats to the
    // (cached) drop relation, so re-materializing per call would only
    // add a scan+persist pass — the static broadcast decision works
    // from the cached leaf's stats directly
    corpus.filter(TextAnalysis.qualityKeepExpr(col(textCol)))
      .join(drops, col(idCol) === col("__graft_drop"), "left_anti")
}

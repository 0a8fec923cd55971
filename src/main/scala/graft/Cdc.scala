package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Offline CDC / MERGE-apply: fold a batch of keyed change rows
  * (full-after-image upserts + deletes, Debezium-style) into a base
  * snapshot — the `MERGE INTO` capability a warehouse user expects,
  * expressed as the plan that scales instead of a row-at-a-time merge:
  *
  *   1. collapse the batch to its LATEST change per key with
  *      [[PullLatest.latestPerKey]] — one map-side combinable shuffle of
  *      the (small) change batch only, never a window over the base;
  *   2. LEFT ANTI the base against the touched-key set — with a typical
  *      batch (≪ base) this broadcasts, so the 100 TB base is neither
  *      shuffled nor rewritten beyond the scan;
  *   3. union the surviving after-images.
  *
  * Semantics: any change beats the snapshot (the batch is by definition
  * newer); among changes for one key the largest `(versionCol, opCol,
  * data columns in NAME order)` struct wins — a deterministic total
  * order even if a version collides, and one PINNED to column names
  * (ADVICE r7: deriving the tie-break from `changes`' incidental column
  * order made the winner depend on how the caller assembled the batch),
  * mirrored by the oracle's fixed `ORDER BY … DESC` chain.
  * A winning delete (`opCol == deleteOp`) removes the key; a winning
  * upsert replaces the row. Applying the same batch twice is a no-op
  * (idempotent — spec-proved), which is what makes retry-safe ingestion
  * pipelines possible.
  */
object Cdc {

  /** Apply `changes` to `base`. `changes` must carry every `base`
    * column (full after-images) plus `versionCol` and `opCol`; the
    * result has exactly `base`'s schema. */
  def applyChanges(
      base: DataFrame, changes: DataFrame,
      keys: Seq[String], versionCol: String, opCol: String,
      deleteOp: String = "D"): DataFrame = {
    val dataCols = base.columns.filterNot(keys.contains)
    require(dataCols.forall(changes.columns.contains),
      s"changes must carry full after-images of ${dataCols.mkString(",")}")
    val others = changes.columns
      .filterNot(c => keys.contains(c) || c == versionCol || c == opCol)
      .sorted.toSeq
    val latest = PullLatest.latestPerKey(
      changes, keys, versionCol +: opCol +: others)
    val upserts = latest.filter(col(opCol) =!= deleteOp)
      .select(base.columns.map(col).toSeq: _*)
    base.join(latest.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(upserts)
  }
}

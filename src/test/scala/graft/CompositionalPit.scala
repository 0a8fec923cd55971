package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.FeatureView

/** Test oracle: the point-in-time join written with stock Spark operators
  * only, independent of the [[graft.plans.AsOfJoin]] operator that
  * [[PointInTime]] runs. Per view: DISTINCT entity (keys, ts) lookup,
  * inner equi-join with the range residual (time-bucketed for entity-less
  * views with a TTL), ONE row_number window for the latest pick, LEFT
  * join-back on (keys, ts). Output column order is that of
  * [[PointInTime.getHistoricalFeatures]]. Shares only the view
  * preparation (source resolution, coarse range, renames) with it. */
object CompositionalPit {

  import PointInTime.{CreatedTs, EventTs}
  private val Rn = "__graft_rn"
  private val Bkt = "__graft_bkt"

  def getHistoricalFeatures(
      entityDf: DataFrame,
      views: Seq[FeatureView],
      entityTsCol: String = "event_timestamp",
      fullFeatureNames: Boolean = false): DataFrame = {
    val spark = entityDf.sparkSession
    PointInTime.validateEntityDf(entityDf, views, entityTsCol)
    val (minTs, maxTs) = PointInTime.entityBounds(entityDf, entityTsCol)

    views.foldLeft(entityDf) { (acc, fv) =>
      val feat =
        latestPerEntityRow(spark, fv, entityDf, entityTsCol, minTs, maxTs,
          fullFeatureNames)
      // J4: left join keeps unmatched entity rows with NULL features.
      acc.join(feat, fv.entities :+ entityTsCol, "left")
    }
  }

  /** One row per distinct (entity keys, entity ts): the as-of-latest
    * feature values, already renamed for output. */
  private def latestPerEntityRow(
      spark: SparkSession,
      fv: FeatureView,
      entityDf: DataFrame,
      entityTsCol: String,
      minTs: Any,
      maxTs: Any,
      fullFeatureNames: Boolean): DataFrame = {
    val rel =
      PointInTime.prepareView(spark, fv, minTs, maxTs, fullFeatureNames)
    val feats = rel.feats

    // A1: distinct entity rows for the lookup (the full entity df is only
    // re-attached in the final left join).
    val entKeys = fv.entities :+ entityTsCol
    val entDistinct = entityDf.select(entKeys.map(col): _*).distinct()

    // J2: as-of inner join — equi on entity keys, range residual on ts.
    // Inclusive on both ends; ttl == 0 ⇒ unbounded lookback
    // (ref: hive.py:614-624, tests/feast_tests_funcs.py:263-269).
    def rangeCond(f: DataFrame, e: DataFrame): Column = {
      val upper = f(EventTs) <= e(entityTsCol)
      if (fv.ttlSeconds > 0)
        upper && f(EventTs) >= e(entityTsCol) -
          expr(s"INTERVAL ${fv.ttlSeconds} SECONDS")
      else upper
    }
    val joined: DataFrame =
      if (fv.entities.nonEmpty) {
        val cond = fv.entities
          .map(k => feats(k) === entDistinct(k))
          .foldLeft(rangeCond(feats, entDistinct))(_ && _)
        feats.join(entDistinct, cond, "inner")
      } else if (fv.ttlSeconds > 0) {
        // Entity-less + bounded TTL: bucket width = ttl, so a feature row
        // in [entity_ts - ttl, entity_ts] is in the entity's bucket or the
        // one before — the entity side probes both.
        val w = fv.ttlSeconds * 1000000L
        val fB = feats.withColumn(Bkt, floor(unix_micros(col(EventTs)) / w))
        val eB = entDistinct
          .withColumn(Bkt, explode(array(
            floor(unix_micros(col(entityTsCol)) / w),
            floor(unix_micros(col(entityTsCol)) / w) - 1)))
        fB.join(eB, fB(Bkt) === eB(Bkt) && rangeCond(fB, eB), "inner")
          .drop(Bkt)
      } else {
        // Entity-less + unbounded lookback: nested loop against the
        // broadcast distinct-ts side.
        feats.join(broadcast(entDistinct),
          rangeCond(feats, entDistinct), "inner")
      }

    // Flatten: entity key columns from the entity side, features from the
    // feature side (names are disjoint by construction).
    val flat = joined.select(
      entKeys.map(entDistinct(_)) ++
        Seq(col(EventTs)) ++
        (if (rel.hasCreated) Seq(col(CreatedTs)) else Nil) ++
        rel.outNames.map(col): _*)

    // Latest pick: one window replaces the reference's A3 + A4 + J3.
    val order: Seq[Column] =
      (col(EventTs).desc +:
        (if (rel.hasCreated) Seq(col(CreatedTs).desc) else Nil)) ++
        fv.tieBreakColumns.map(c => col(rel.prefix + c).desc)
    val w = Window.partitionBy(entKeys.map(col): _*).orderBy(order: _*)
    flat
      .withColumn(Rn, row_number().over(w))
      .filter(col(Rn) === 1)
      .select((entKeys ++ rel.outNames).map(col): _*)
  }
}

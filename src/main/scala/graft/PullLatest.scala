package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, GraftSql, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._

import graft.model.FeatureView
import graft.sources.FeatureSource

/** Latest-per-key extraction over a time range — the materialization entry
  * point (ref: feast_hive/hive.py:143-190, `pull_latest_from_table_or_query`).
  *
  * For each distinct join-key combination, return the single newest row with
  * `event_ts BETWEEN start AND end` (inclusive both ends, ref hive.py:183),
  * newest = greatest event ts, ties broken by greatest created ts
  * (ref: ROW_NUMBER ... ORDER BY ts DESC, created DESC, hive.py:159-168).
  * With no join keys the reference omits PARTITION BY entirely — a global
  * top-1 — and projects a literal dummy entity id (ref: hive.py:160-163,178).
  *
  * Plan: the BETWEEN literals push into the Parquet scan; the pick is
  * [[latestPerKey]], one map-side combinable aggregate keyed on the join
  * keys (one shuffle, scaling with key cardinality). Keyless, it is the
  * same aggregate with no grouping — the reference's global window sends
  * every range-surviving row through one partition (hive.py:160-163);
  * here only one partial maximum per partition is shuffled.
  *
  * [[latestPerKey]] is the one latest-per-key pick of the feature store:
  * [[OnlineStore.write]] and [[Cdc.applyChanges]] run it too.
  */
object PullLatest {

  def pullLatest(
      spark: SparkSession,
      source: FeatureSource,
      joinKeys: Seq[String],
      featureNames: Seq[String],
      eventTsCol: String,
      createdTsCol: Option[String],
      startDate: Timestamp,
      endDate: Timestamp,
      tieBreakColumns: Seq[String] = Nil): DataFrame = {
    // ref: hive.py:168 field_string — join keys + features + ts columns.
    val outCols = joinKeys ++ featureNames ++ (eventTsCol +: createdTsCol.toSeq)
    val order = (eventTsCol +: createdTsCol.toSeq) ++ tieBreakColumns
    val latest = latestPerKey(source.resolve(spark)
        .filter(col(eventTsCol).between(lit(startDate), lit(endDate))) // P6
        .select((outCols ++ order).distinct.map(col): _*),
      joinKeys, order)
    // ref: hive.py:160-163,178 — keyless adds a literal dummy entity id
    val dummy = Option.when(joinKeys.isEmpty)(
      lit(FeatureView.DummyEntityVal).as(FeatureView.DummyEntityId))
    latest.select(dummy.toSeq ++ outCols.map(col): _*) // P1/P5
  }

  /** The row with the greatest `order` per `keys` value, with `df`'s
    * columns in their order, types and nullability.
    *
    * One `max_by(struct(non-key columns), struct(order))` aggregate: the
    * partial maxima combine map-side, so only one row per key and
    * partition is shuffled. Only the order columns are compared, so the
    * other columns may be maps or other unorderable types. Struct
    * comparison is lexicographic with NULLs lowest, the window order
    * `DESC NULLS LAST`; rows tied on every order column resolve
    * arbitrarily, as under a window's unstable sort. With no keys it is
    * a global top-1, and empty input gives 0 rows, not 1. */
  private[graft] def latestPerKey(
      df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    val top = "__graft_top"
    val payload = df.schema.filterNot(f => keys.contains(f.name))
    val picked = df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(f => col(f.name)): _*),
        struct(order.map(col): _*)).as(top))
      .filter(col(top).isNotNull)
    // a picked row is never NULL, so a field is NULL only where its
    // source column may be: restore the source's non-null flags
    picked.select(df.schema.map { f =>
      val v = col(top).getField(f.name)
      if (keys.contains(f.name)) col(f.name)
      else if (f.nullable) v.as(f.name)
      else GraftSql.column(KnownNotNull(GraftSql.expression(v))).as(f.name)
    }: _*)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.FeatureView

/** The point-in-time ("as-of") feature join — the engine's flagship.
  *
  * Semantics from the reference's `get_historical_features`
  * (ref: feast_hive/hive.py:192-269, SQL template feast_hive/hive.py:527-721,
  * oracle tests/feast_tests_funcs.py:263-367): for every entity row attach
  * the latest feature values with `event_ts <= entity_ts` and, when
  * `ttl > 0`, `event_ts >= entity_ts - ttl` (both bounds inclusive;
  * `ttl == 0` means no lower bound at all). Among candidates the greatest
  * `event_ts` wins; ties broken by greatest `created_ts`, then the view's
  * `tieBreakColumns`. Unmatched entity rows keep NULL features (final
  * join is LEFT).
  *
  * One orchestration: a coarse range from driver-side scalar min/max of
  * the entity ts (constant-folds into Parquet pushdown, replacing the
  * reference's J1 cartesian join), then per view ONE
  * [[graft.plans.AsOfJoin]] — a sort-merge as-of operator that replaces
  * the reference's A3+A4+J3 chain with no distinct, no window and no
  * join-back. Entity-less views with a TTL merge on a time-bucket key;
  * with TTL 0 they merge in one partition.
  *
  * [[getHistoricalFeatures]] and [[getHistoricalFeaturesNative]] run the
  * same plan and differ only in output column order (one final
  * projection each). An independent compositional formulation (distinct
  * → range join → row_number → join-back) lives in the test tree as the
  * oracle both are checked against.
  *
  * At scale: the only data-sized shuffles are per-view joins keyed on the
  * entity keys; the feature scan is pre-filtered by the pushed-down
  * coarse range; nothing but two scalar aggregates reaches the driver.
  */
object PointInTime {

  private[graft] val EventTs = "__graft_event_ts"
  private[graft] val CreatedTs = "__graft_created_ts"
  private val OrderTs = "__graft_order_ts"

  /** Validated, coarse-filtered, renamed feature relation for one view:
    * columns = entities ++ EventTs ++ [CreatedTs] ++ prefixed features. */
  private[graft] final case class ViewRel(
      feats: DataFrame, outNames: Seq[String], hasCreated: Boolean,
      prefix: String)

  private[graft] def prepareView(
      spark: SparkSession,
      fv: FeatureView,
      minTs: Any,
      maxTs: Any,
      fullFeatureNames: Boolean): ViewRel = {
    val src = fv.source.resolve(spark)
    val evtCol = fv.source.eventTimestampColumn
    val createdCol = fv.source.createdTimestampColumn
    // Validate structural columns (keys + timestamps) against the resolved
    // source up front — otherwise a misconfigured view surfaces as a deep
    // Catalyst analysis error. Declared FEATURES absent from the source are
    // silently dropped instead (FeatureView.featuresIn).
    val structural = fv.entities ++ Seq(evtCol) ++ createdCol.toSeq
    val absent = structural.filterNot(src.columns.contains)
    if (absent.nonEmpty)
      throw new IllegalArgumentException(
        s"FeatureView '${fv.name}': column(s) ${absent.mkString(", ")} not " +
          s"present in source ${fv.source.resolvedName} " +
          s"(has: ${src.columns.mkString(", ")})")
    val featNames = fv.featuresIn(src.columns.toSeq)
    // ref: hive.py:590,713 — full_feature_names prefixes `{fv}__{feature}`.
    val prefix = if (fullFeatureNames) s"${fv.name}__" else ""
    val outNames = featNames.map(prefix + _)

    // Coarse range filter (J1 replacement): literals fold into the Parquet
    // scan's PushedFilters. Empty entity df ⇒ no candidates, schema intact.
    val coarse: DataFrame =
      if (maxTs == null) src.filter(lit(false))
      else {
        val upper = col(evtCol) <= lit(maxTs)
        val lower =
          if (fv.ttlSeconds > 0)
            col(evtCol) >=
              lit(minTs) - expr(s"INTERVAL ${fv.ttlSeconds} SECONDS")
          else lit(true)
        src.filter(upper && lower)
      }

    val feats = coarse.select(
      fv.entities.map(col) ++
        Seq(col(evtCol).as(EventTs)) ++
        createdCol.map(c => col(c).as(CreatedTs)).toSeq ++
        featNames.zip(outNames).map { case (f, o) => col(f).as(o) }: _*)
    ViewRel(feats, outNames, createdCol.isDefined, prefix)
  }

  private[graft] def entityBounds(
      entityDf: DataFrame, entityTsCol: String): (Any, Any) = {
    // A2: driver-side scalar min/max of the entity ts (null ⇔ empty df).
    val bounds: Row =
      entityDf.agg(min(col(entityTsCol)), max(col(entityTsCol))).head()
    (bounds.get(0), bounds.get(1))
  }

  private[graft] def validateEntityDf(
      entityDf: DataFrame, views: Seq[FeatureView],
      entityTsCol: String): Unit = {
    // ref: hive.py:222-224 — assert expected columns in the entity df.
    val expected = views.flatMap(_.entities).distinct :+ entityTsCol
    val missing = expected.filterNot(entityDf.columns.contains)
    if (missing.nonEmpty)
      throw new EntityDfMissingColumnsError(expected, missing)
  }

  /** Feast's `get_historical_features`: the entity df's rows with each
    * view's as-of feature values. Column order is the one Feast clients
    * have always seen, that of one LEFT `USING (keys, ts)` join per view:
    * the view's join keys and the entity ts first, then the columns so
    * far, then the view's features. */
  def getHistoricalFeatures(
      entityDf: DataFrame,
      views: Seq[FeatureView],
      entityTsCol: String = "event_timestamp",
      fullFeatureNames: Boolean = false): DataFrame = {
    val (joined, feats) =
      asOfJoinViews(entityDf, views, entityTsCol, fullFeatureNames)
    val entityCols = entityDf.columns.toSeq.map(c => c -> c)
    val order = views.zip(feats).foldLeft(entityCols) {
      case (acc, (fv, vf)) =>
        val using = (fv.entities :+ entityTsCol).map(c => c -> c)
        using ++ acc.filterNot(using.contains) ++ vf
    }
    project(joined, order)
  }

  /** [[getHistoricalFeatures]] with the entity df's columns first, in its
    * own order, then every view's features. A feature named like an entity
    * column or an earlier view's feature gets an `_asof` suffix. */
  def getHistoricalFeaturesNative(
      entityDf: DataFrame,
      views: Seq[FeatureView],
      entityTsCol: String = "event_timestamp",
      fullFeatureNames: Boolean = false): DataFrame = {
    val (joined, feats) =
      asOfJoinViews(entityDf, views, entityTsCol, fullFeatureNames)
    val order = feats.foldLeft(entityDf.columns.toSeq.map(c => c -> c)) {
      (acc, vf) =>
        val taken = acc.map(_._2).toSet
        acc ++ vf.map { case (h, out) =>
          h -> (if (taken(out)) s"${out}_asof" else out)
        }
    }
    project(joined, order)
  }

  /** Each view is ONE [[graft.plans.AsOf.join]] of the running result:
    * the operator's single merge pass per partition handles duplicate
    * entity rows and null attachment natively. Feature columns travel
    * under hidden per-view names, so they collide with nothing; they are
    * returned per view as (hidden, output) name pairs. */
  private def asOfJoinViews(
      entityDf: DataFrame,
      views: Seq[FeatureView],
      entityTsCol: String,
      fullFeatureNames: Boolean): (DataFrame, Seq[Seq[(String, String)]]) = {
    val spark = entityDf.sparkSession
    validateEntityDf(entityDf, views, entityTsCol)
    val (minTs, maxTs) = entityBounds(entityDf, entityTsCol)

    val none = Vector.empty[Seq[(String, String)]]
    views.zipWithIndex.foldLeft((entityDf, none)) {
      case ((acc, named), (fv, i)) =>
        val rel = prepareView(spark, fv, minTs, maxTs, fullFeatureNames)
        val hidden = rel.outNames.indices.map(j => s"__graft_v${i}_f$j")
        val hiddenOf = rel.outNames.zip(hidden).toMap
        val renamed = rel.feats.toDF(
          rel.feats.columns.toSeq.dropRight(hidden.size) ++ hidden: _*)
        // The operator takes ONE ascending tie-break column; fold
        // (created_ts, tieBreakColumns...) into a lexicographic struct so
        // the last row in sort order is the (created DESC, tieBreaks DESC)
        // pick.
        val orderNames =
          (if (rel.hasCreated) Seq(CreatedTs) else Nil) ++
            fv.tieBreakColumns.map { c =>
              hiddenOf.getOrElse(rel.prefix + c,
                throw new IllegalArgumentException(
                  s"FeatureView '${fv.name}': tie-break column '$c' is not " +
                    s"one of its features (${rel.outNames.mkString(", ")})"))
            }
        val (feats, orderCol) = orderNames match {
          case Seq()    => (renamed, None)
          case Seq(one) => (renamed, Some(one))
          case many =>
            (renamed.withColumn(OrderTs, struct(many.map(col): _*)),
              Some(OrderTs))
        }
        val joined = graft.plans.AsOf.join(
          acc, feats, fv.entities, entityTsCol, EventTs,
          orderCol, fv.ttlSeconds)
          .drop(EventTs, CreatedTs, OrderTs)
        (joined, named :+ hidden.zip(rel.outNames))
    }
  }

  /** One final projection: `(source, output)` column name pairs, in order. */
  private def project(df: DataFrame, cols: Seq[(String, String)]): DataFrame =
    df.select(cols.map { case (src, out) =>
      val c = col(s"`${src.replace("`", "``")}`")
      if (src == out) c else c.as(out)
    }: _*)
}

package graft

import java.sql.Timestamp

import graft.model.FeatureView
import graft.sources.FeatureSource

/** Output column order of both retrieval entry points — the Arrow schema
  * Feast clients see. `Engine.getHistoricalFeatures` keeps the order of one
  * LEFT `USING (keys, ts)` join per view; `getHistoricalFeaturesNative`
  * puts the entity df's columns first. */
class PitColumnOrderSpec extends SparkSpec {

  private lazy val entity = {
    import spark.implicits._
    Seq(("a", 1L, Timestamp.valueOf("2024-01-01 11:00:00")))
      .toDF("row_tag", "driver_id", "event_timestamp")
  }

  private def views(): (FeatureView, FeatureView, FeatureView) = {
    import spark.implicits._
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    Seq((1L, t, 1.0)).toDF("driver_id", "ts", "v")
      .createOrReplaceTempView("col_order_v")
    Seq((1L, t, 2.0)).toDF("driver_id", "ts", "w")
      .createOrReplaceTempView("col_order_w")
    Seq((t, 3.0)).toDF("ts", "g").createOrReplaceTempView("col_order_g")
    def src(t: String) =
      FeatureSource(table = Some(t), eventTimestampColumn = "ts")
    (FeatureView("kv", Seq("driver_id"), src("col_order_v"), Seq("v"), 3600),
      FeatureView("kw", Seq("driver_id"), src("col_order_w"), Seq("w")),
      FeatureView("gl", Nil, src("col_order_g"), Seq("g"), 7200))
  }

  private def engineCols(vs: Seq[FeatureView], full: Boolean): Seq[String] =
    new Engine(spark).getHistoricalFeatures(
      EntityFrame(entity), vs, fullFeatureNames = full).toDF.columns.toSeq

  private def nativeCols(vs: Seq[FeatureView], full: Boolean): Seq[String] =
    PointInTime.getHistoricalFeaturesNative(
      entity, vs, fullFeatureNames = full).columns.toSeq

  test("one keyed view") {
    val (kv, _, _) = views()
    assert(engineCols(Seq(kv), false) ==
      Seq("driver_id", "event_timestamp", "row_tag", "v"))
    assert(nativeCols(Seq(kv), false) ==
      Seq("row_tag", "driver_id", "event_timestamp", "v"))
  }

  test("two keyed views with an extra entity column") {
    val (kv, kw, _) = views()
    assert(engineCols(Seq(kv, kw), false) ==
      Seq("driver_id", "event_timestamp", "row_tag", "v", "w"))
    assert(nativeCols(Seq(kv, kw), false) ==
      Seq("row_tag", "driver_id", "event_timestamp", "v", "w"))
  }

  test("keyed plus keyless views, fullFeatureNames both ways") {
    val (kv, _, gl) = views()
    assert(engineCols(Seq(kv, gl), false) ==
      Seq("event_timestamp", "driver_id", "row_tag", "v", "g"))
    assert(nativeCols(Seq(kv, gl), false) ==
      Seq("row_tag", "driver_id", "event_timestamp", "v", "g"))
    assert(engineCols(Seq(kv, gl), true) ==
      Seq("event_timestamp", "driver_id", "row_tag", "kv__v", "gl__g"))
    assert(nativeCols(Seq(kv, gl), true) ==
      Seq("row_tag", "driver_id", "event_timestamp", "kv__v", "gl__g"))
    // keyless first: its USING (ts) join leads with the ts
    assert(engineCols(Seq(gl, kv), true) ==
      Seq("driver_id", "event_timestamp", "row_tag", "gl__g", "kv__v"))
  }

  test("feature names that collide") {
    import spark.implicits._
    val (kv, _, _) = views()
    Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), "r"))
      .toDF("driver_id", "ts", "row_tag")
      .createOrReplaceTempView("col_order_r")
    val kv2 = kv.copy(name = "kv2")
    val kr = FeatureView("kr", Seq("driver_id"), FeatureSource(
      table = Some("col_order_r"), eventTimestampColumn = "ts"),
      Seq("row_tag"))
    // the classic USING joins keep both names; native suffixes the later one
    assert(engineCols(Seq(kv, kv2, kr), false) == Seq(
      "driver_id", "event_timestamp", "row_tag", "v", "v", "row_tag"))
    assert(nativeCols(Seq(kv, kv2, kr), false) == Seq(
      "row_tag", "driver_id", "event_timestamp", "v", "v_asof",
      "row_tag_asof"))
  }
}

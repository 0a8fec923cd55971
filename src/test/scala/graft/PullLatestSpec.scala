package graft

import java.sql.Timestamp
import java.time.{ZonedDateTime, ZoneId}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.FeatureSource

/** Materialization-correctness fixture (ref: tests/feast_tests_funcs.py:
  * 370-400, test_all.py:491-502): 5 rows with mixed-timezone construction,
  * field_mapping, created-ts tie-break; expected as-of answers per the
  * reference. */
class PullLatestSpec extends SparkSpec {

  private val now = Fixtures.Now
  private def t(secsAgo: Long): Timestamp =
    Timestamp.from(now.minusSeconds(secsAgo))
  // (now-4h as Europe/Berlin wall-instant) — same instant, different route
  private val berlin = Timestamp.from(
    ZonedDateTime.ofInstant(now.minusSeconds(4 * 3600),
      ZoneId.of("Europe/Berlin")).toInstant)

  private def fixture() = {
    import spark.implicits._
    val df = Seq(
      (1L, Some(0.1), t(4 * 3600), t(0)),
      (2L, None, t(0), t(0)),
      (1L, Some(0.3), t(3 * 3600), t(0)),
      (3L, Some(4.0), berlin, t(0)),
      (3L, Some(5.0), t(1 * 3600), t(0))
    ).toDF("id", "value", "ts_1", "created_ts")
    df.createOrReplaceTempView("mat_correctness")
    FeatureSource(
      table = Some("mat_correctness"),
      eventTimestampColumn = "ts",
      createdTimestampColumn = Some("created_ts"),
      // ref: test_all.py:84-91 — field_mapping renames source→model cols,
      // including the event-ts column itself.
      fieldMapping = Map("ts_1" -> "ts", "id" -> "driver_id"))
  }

  test("pullLatest returns newest row per key in inclusive range") {
    val src = fixture()
    val out = new Engine(spark).pullLatest(
      src, Seq("driver_id"), Seq("value"), "ts", Some("created_ts"),
      startDate = t(5 * 3600), endDate = t(0)).toDF
      .collect().map(r => r.getAs[Long]("driver_id") ->
        Option(r.getAs[Any]("value"))).toMap
    // driver 1: latest is now-3h → 0.3; driver 2: now → null value;
    // driver 3: now-1h → 5.0 (ref expected answers)
    assert(out(1L) == Some(0.3))
    assert(out(2L) == None)
    assert(out(3L) == Some(5.0))
  }

  test("range upper bound excludes later rows") {
    val src = fixture()
    val out = new Engine(spark).pullLatest(
      src, Seq("driver_id"), Seq("value"), "ts", Some("created_ts"),
      startDate = t(5 * 3600), endDate = t(2 * 3600)).toDF
      .collect().map(r => r.getAs[Long]("driver_id") ->
        Option(r.getAs[Any]("value"))).toMap
    assert(out(1L) == Some(0.3)) // now-3h within [now-5h, now-2h]
    assert(out(3L) == Some(4.0)) // now-4h; the now-1h row is out of range
    assert(!out.contains(2L))    // driver 2's only row is at `now`
  }

  test("keyless pull latest returns global top-1 with dummy entity") {
    val src = fixture()
    val out = new Engine(spark).pullLatest(
      src, Nil, Seq("value"), "ts", Some("created_ts"),
      startDate = t(5 * 3600), endDate = t(30 * 60)).toDF.collect()
    assert(out.length == 1)
    assert(out.head.getAs[String](
      graft.model.FeatureView.DummyEntityId) == "")
    assert(out.head.getAs[Double]("value") == 5.0) // now-1h is newest ≤ now-30m
  }

  test("created-ts desc breaks event-ts ties") {
    import spark.implicits._
    val df = Seq(
      (7L, 1.0, t(3600), t(600)),
      (7L, 2.0, t(3600), t(60)) // same event ts, NEWER created → wins
    ).toDF("driver_id", "value", "ts", "created_ts")
    df.createOrReplaceTempView("tie_tbl")
    val out = new Engine(spark).pullLatest(
      FeatureSource(table = Some("tie_tbl"), eventTimestampColumn = "ts",
        createdTimestampColumn = Some("created_ts")),
      Seq("driver_id"), Seq("value"), "ts", Some("created_ts"),
      startDate = t(7200), endDate = t(0)).toDF.collect()
    assert(out.length == 1 && out.head.getAs[Double]("value") == 2.0)
  }

  test("keyed pull breaks (event, created) ties on tieBreakColumns") {
    import spark.implicits._
    Seq(
      (7L, 1.0, 3L, t(3600), t(600)),
      (7L, 2.0, 9L, t(3600), t(600)), // full ts tie: greatest seq wins
      (7L, 3.0, 5L, t(3600), t(600)),
      (8L, 4.0, 1L, t(3600), t(600)), // newer event ts beats a larger seq
      (8L, 5.0, 2L, t(7000), t(600))
    ).toDF("driver_id", "value", "seq", "ts", "created_ts")
      .createOrReplaceTempView("tie_break_tbl")
    val df = new Engine(spark).pullLatest(
      FeatureSource(table = Some("tie_break_tbl"), eventTimestampColumn = "ts",
        createdTimestampColumn = Some("created_ts")),
      Seq("driver_id"), Seq("value"), "ts", Some("created_ts"),
      startDate = t(7200), endDate = t(0), tieBreakColumns = Seq("seq")).toDF
    // the tie-break column orders the pick but is not projected
    assert(df.columns.toSeq == Seq("driver_id", "value", "ts", "created_ts"))
    val out = df.collect()
      .map(r => r.getAs[Long]("driver_id") -> r.getAs[Double]("value")).toMap
    assert(out == Map(7L -> 2.0, 8L -> 4.0))
  }

  test("keyed pull carries a map-typed feature") {
    import spark.implicits._
    Seq(
      (1L, Map("a" -> 1), t(7200)),
      (1L, Map("b" -> 2), t(3600)), // newest for key 1
      (2L, Map.empty[String, Int], t(60))
    ).toDF("driver_id", "tags", "ts").createOrReplaceTempView("map_feat_tbl")
    val df = new Engine(spark).pullLatest(
      FeatureSource(table = Some("map_feat_tbl"), eventTimestampColumn = "ts"),
      Seq("driver_id"), Seq("tags"), "ts", None,
      startDate = t(9000), endDate = t(0)).toDF
    assert(df.schema("tags").dataType ==
      spark.table("map_feat_tbl").schema("tags").dataType)
    val out = df.collect().map(r =>
      r.getAs[Long]("driver_id") -> r.getMap[String, Int](1).toMap).toMap
    assert(out == Map(1L -> Map("b" -> 2), 2L -> Map.empty[String, Int]))
  }

  test("keyed pull and store snapshot keep the source's schema") {
    // non-null flags included: the pull and the store merge must not
    // widen a non-nullable source column to nullable
    val schema = StructType(Seq(
      StructField("driver_id", LongType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("note", StringType, nullable = true),
      StructField("ts", TimestampType, nullable = false),
      StructField("created_ts", TimestampType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, 1.0, "x", t(7200), t(60)),
        Row(1L, 2.0, null, t(3600), t(60)),
        Row(2L, 3.0, "y", t(3600), t(60))), schema)
      .createOrReplaceTempView("non_null_tbl")
    val pulled = new Engine(spark).pullLatest(
      FeatureSource(table = Some("non_null_tbl"), eventTimestampColumn = "ts",
        createdTimestampColumn = Some("created_ts")),
      Seq("driver_id"), Seq("value", "note"), "ts", Some("created_ts"),
      startDate = t(9000), endDate = t(0)).toDF
    assert(pulled.schema == schema)
    val store = new OnlineStore(Seq("driver_id"), "ts", Some("created_ts"))
    store.write(pulled)
    assert(store.snapshot.get.schema == schema)
    store.write(pulled) // state ∪ batch
    assert(store.snapshot.get.schema == schema)
    assert(store.get(Map("driver_id" -> 1L)).get("value") == 2.0)
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.model.FeatureView
import graft.sources.FeatureSource

/** Offline/online materialize-consistency — the port of the reference's
  * `test_hive_offline_online_store_consistency`
  * (tests/test_all.py:491-502, helper
  * tests/feast_tests_funcs.py:370-501): materialize a window into the
  * online store, then assert for each entity that the ONLINE point read
  * and the OFFLINE as-of retrieval at the same timestamp agree — value
  * for value, miss for miss, NULL for NULL — across an initial window,
  * an incremental second pull, and both source types × both feature-name
  * modes (the reference's 4-way parametrization).
  */
class ConsistencySpec extends SparkSpec {

  // The reference's create_dataset (tests/feast_tests_funcs.py:370-390):
  // ids [1,2,1,3,3], values [0.1, None, 0.3, 4, 5], event ts at
  // now-4h / now / now-3h / now-4h / now-1h (its tz-aware rows denote the
  // same UTC instants — Spark timestamps are instants already), created=now.
  private val now = Timestamp.valueOf("2026-01-15 12:00:00")
  private def hoursAgo(h: Double): Timestamp =
    new Timestamp(now.getTime - (h * 3600 * 1000).toLong)

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("value", DoubleType),
    StructField("ts_1", TimestampType),
    StructField("created_ts", TimestampType)))

  private def dataset() = spark.createDataFrame(
    java.util.Arrays.asList(
      Row(1, 0.1, hoursAgo(4), now),
      Row(2, null, now, now),
      Row(1, 0.3, hoursAgo(3), now),
      Row(3, 4.0, hoursAgo(4), now),
      Row(3, 5.0, hoursAgo(1), now)),
    schema)

  private def featureView(sourceType: String): FeatureView = {
    dataset().createOrReplaceTempView("consistency_src")
    val source = sourceType match {
      case "table" => FeatureSource(
        table = Some("consistency_src"),
        eventTimestampColumn = "ts",
        createdTimestampColumn = Some("created_ts"),
        fieldMapping = Map("ts_1" -> "ts", "id" -> "driver_id"))
      case "query" => FeatureSource(
        query = Some("SELECT * FROM consistency_src"),
        name = Some("consistency_src_q"),
        eventTimestampColumn = "ts",
        createdTimestampColumn = Some("created_ts"),
        fieldMapping = Map("ts_1" -> "ts", "id" -> "driver_id"))
    }
    FeatureView(
      name = "test_correctness",
      entities = Seq("driver_id"),
      source = source,
      features = Seq("value"),
      ttlSeconds = 5L * 24 * 3600) // ttl=5 days (feast_tests_funcs.py:398)
  }

  /** The reference's check_offline_and_online_features
    * (tests/feast_tests_funcs.py:404-448): assert the online point read
    * AND every offline retrieval path sees `expected` for `driverId` as of
    * `eventTs`. `expected`: None = online miss / offline NULL;
    * Some(null) = key materialized with a NULL value. */
  private def checkBoth(
      m: Materializer, fv: FeatureView, driverId: Int, eventTs: Timestamp,
      expected: Option[java.lang.Double], fullFeatureNames: Boolean): Unit = {
    // online
    val online = m.store.get(Map("driver_id" -> driverId))
    expected match {
      case None =>
        assert(online.isEmpty, s"driver $driverId: expected online miss")
      case Some(v) =>
        assert(online.isDefined, s"driver $driverId: expected online hit")
        assert(online.get("value") == v,
          s"driver $driverId: online value ${online.get("value")} != $v")
    }

    // offline — both engine entry points and the independent
    // compositional formulation must agree with the store
    val valueCol = if (fullFeatureNames) "test_correctness__value" else "value"
    val entityDf = spark.createDataFrame(
      java.util.Arrays.asList(Row(driverId, eventTs)),
      StructType(Seq(
        StructField("driver_id", IntegerType),
        StructField("event_timestamp", TimestampType))))
    for ((label, df) <- Seq(
        "compositional" -> CompositionalPit.getHistoricalFeatures(
          entityDf, Seq(fv), fullFeatureNames = fullFeatureNames),
        "engine" -> PointInTime.getHistoricalFeatures(
          entityDf, Seq(fv), fullFeatureNames = fullFeatureNames),
        "native" -> PointInTime.getHistoricalFeaturesNative(
          entityDf, Seq(fv), fullFeatureNames = fullFeatureNames))) {
      val rows = df.collect()
      assert(rows.length == 1)
      val offline = Option(rows.head.getAs[Any](valueCol))
      val want = expected.flatMap(Option(_)) // miss and NULL both → null
      assert(offline == want,
        s"driver $driverId @$eventTs [$label]: offline $offline != $want")
    }
  }

  for {
    sourceType <- Seq("table", "query")
    fullFeatureNames <- Seq(true, false)
  } test(
    s"materialize + incremental agree offline/online " +
      s"($sourceType, fullFeatureNames=$fullFeatureNames)") {
    val fv = featureView(sourceType)
    val m = new Materializer(spark, fv)

    // run_offline_online_store_consistency_test
    // (tests/feast_tests_funcs.py:451-501)
    val start = hoursAgo(5)
    val end = hoursAgo(2)
    m.materialize(start, end)

    // driver 1: rows at now-4h (0.1) and now-3h (0.3) in window → 0.3
    checkBoth(m, fv, 1, end, Some(0.3), fullFeatureNames)
    // driver 2: only row is at `now`, outside the window → miss/NULL
    checkBoth(m, fv, 2, end, None, fullFeatureNames)
    // driver 3: row at now-4h (4.0) in window; now-1h outside → 4.0
    checkBoth(m, fv, 3, end, Some(4.0), fullFeatureNames)

    m.materializeIncremental(now)

    // driver 3's now-1h row (5.0) lands in the incremental window
    checkBoth(m, fv, 3, now, Some(5.0), fullFeatureNames)
    // driver 1 untouched by the second window — still 0.3
    checkBoth(m, fv, 1, now, Some(0.3), fullFeatureNames)
    // driver 2's row (ts=now, value NULL) materialized: online hit with a
    // NULL value — distinct from the pre-incremental miss
    checkBoth(m, fv, 2, now, Some(null), fullFeatureNames)
  }

  test("a view with no declared features materializes every feature column") {
    // FeatureView's `features = Nil` means every non-key, non-timestamp
    // column, for materialization as for retrieval
    val fv = featureView("table").copy(features = Nil)
    val m = new Materializer(spark, fv)
    m.materialize(hoursAgo(5), hoursAgo(2))
    checkBoth(m, fv, 1, hoursAgo(2), Some(0.3), fullFeatureNames = false)
    checkBoth(m, fv, 2, hoursAgo(2), None, fullFeatureNames = false)
    checkBoth(m, fv, 3, hoursAgo(2), Some(4.0), fullFeatureNames = false)
    m.materializeIncremental(now)
    checkBoth(m, fv, 1, now, Some(0.3), fullFeatureNames = false)
    checkBoth(m, fv, 2, now, Some(null), fullFeatureNames = false)
    checkBoth(m, fv, 3, now, Some(5.0), fullFeatureNames = false)
  }

  test("latest-wins upsert: re-materializing an old window cannot regress") {
    val fv = featureView("table")
    val m = new Materializer(spark, fv)
    m.materialize(hoursAgo(5), hoursAgo(2)) // driver 3 → 4.0
    m.materializeIncremental(now)           // driver 3 → 5.0
    m.materialize(hoursAgo(5), hoursAgo(2)) // replay old window
    val v = m.store.get(Map("driver_id" -> 3)).get("value")
    assert(v == 5.0, s"replaying an old window regressed the store: $v")
  }

  test("first write with duplicate keys still keeps one row per key") {
    val store = new OnlineStore(Seq("driver_id"), "ts", None)
    val batch = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1, 1.0, hoursAgo(2)),
        Row(1, 2.0, hoursAgo(1)), // same key, newer — must win
        Row(2, 3.0, hoursAgo(1))),
      StructType(Seq(
        StructField("driver_id", IntegerType),
        StructField("value", DoubleType),
        StructField("ts", TimestampType))))
    store.write(batch)
    assert(store.snapshot.get.count() == 2)
    assert(store.get(Map("driver_id" -> 1)).get("value") == 2.0)
  }

  test("point reads launch zero Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val fv = featureView("table")
    val m = new Materializer(spark, fv)
    m.materializeIncremental(now)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftSql.awaitListenerBus(spark) // drain setup jobs
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(m.store.get(Map("driver_id" -> 1)).isDefined)
      assert(m.store.get(Map("driver_id" -> 2)).isDefined)
      assert(m.store.get(Map("driver_id" -> 999)).isEmpty)
      org.apache.spark.sql.GraftSql.awaitListenerBus(spark)
      assert(jobs.get() == 0,
        s"get() must be a driver-map lookup; saw ${jobs.get()} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("materializeIncremental with no watermark uses end - ttl") {
    val fv = featureView("table")
    val m = new Materializer(spark, fv)
    m.materializeIncremental(now) // ttl = 5d covers all rows
    assert(m.store.get(Map("driver_id" -> 1)).get("value") == 0.3)
    assert(m.store.get(Map("driver_id" -> 3)).get("value") == 5.0)
  }
}

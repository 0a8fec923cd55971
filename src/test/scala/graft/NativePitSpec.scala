package graft

import graft.model.FeatureView
import graft.sources.FeatureSource

/** Both engine entry points (which run the native as-of operator) must
  * return exactly what the independent compositional formulation
  * ([[CompositionalPit]]) returns, across views/ttls/prefixing. */
class NativePitSpec extends SparkSpec {

  private def normalize(df: org.apache.spark.sql.DataFrame) = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
  }

  test("native orchestration honours tieBreakColumns on exact (key, ts) ties") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // two feature rows with IDENTICAL (key, ts) and no created col: the
    // tie must fall to tieBreakColumns in BOTH orchestrations
    Seq((1L, ts, 5.0, 100L), (1L, ts, 9.0, 200L))
      .toDF("driver_id", "event_timestamp", "v", "seq")
      .createOrReplaceTempView("native_tie_src")
    val fv = FeatureView("tied", Seq("driver_id"),
      FeatureSource(table = Some("native_tie_src")),
      features = Seq("v", "seq"), tieBreakColumns = Seq("seq"))
    val entity = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00")))
      .toDF("driver_id", "event_timestamp")
    val classic =
      CompositionalPit.getHistoricalFeatures(entity, Seq(fv)).collect()
    val engine = PointInTime.getHistoricalFeatures(entity, Seq(fv)).collect()
    val native = PointInTime.getHistoricalFeaturesNative(entity, Seq(fv)).collect()
    assert(classic.head.getAs[Double]("v") == 9.0)
    assert(engine.head.getAs[Double]("v") == 9.0,
      "engine path must apply the same tie-break")
    assert(native.head.getAs[Double]("v") == 9.0,
      "native path must apply the same tie-break")
  }

  test("native orchestration equals compositional PIT on fixtures") {
    val stats = Fixtures.driverStats(spark)
    stats.createOrReplaceTempView("native_pit_stats")
    val entity = Fixtures.orders(spark)
    for {
      ttl <- Seq(7200L, 0L)
      full <- Seq(false, true)
    } {
      val fv = FeatureView(
        name = "driver_stats",
        entities = Seq("driver_id"),
        source = FeatureSource(
          table = Some("native_pit_stats"),
          eventTimestampColumn = "event_timestamp",
          createdTimestampColumn = Some("created")),
        features = Seq("conv_rate", "acc_rate"),
        ttlSeconds = ttl)
      val classic = CompositionalPit.getHistoricalFeatures(
        entity, Seq(fv), fullFeatureNames = full)
      val engine = PointInTime.getHistoricalFeatures(
        entity, Seq(fv), fullFeatureNames = full)
      val native = PointInTime.getHistoricalFeaturesNative(
        entity, Seq(fv), fullFeatureNames = full)
      assert(classic.columns.sorted.sameElements(native.columns.sorted),
        s"columns ttl=$ttl full=$full")
      assert(classic.columns.sameElements(engine.columns),
        s"engine column order ttl=$ttl full=$full")
      assert(normalize(classic) == normalize(native),
        s"rows differ ttl=$ttl full=$full")
      assert(normalize(classic) == normalize(engine),
        s"engine rows differ ttl=$ttl full=$full")
    }
  }

  test("keyless + bounded TTL runs DISTRIBUTED via the time-bucket key") {
    import org.apache.spark.sql.functions.col
    val dir = sf("sf0.001")
    val ent = Tables.read(spark, dir, "events")
      .filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("row_tag"),
        col("ts").as("event_timestamp"))
    val feats = Tables.read(spark, dir, "events")
      .select(col("ts").as("fts"), col("value"), col("event_id").as("fid"))
    val joined = graft.plans.AsOf.join(
      ent, feats, keys = Nil,
      entityTsCol = "event_timestamp", featureTsCol = "fts",
      createdCol = Some("fid"), ttlSeconds = 600)
    val plan = joined.queryExecution.executedPlan.toString
    // the synthetic bucket key must make this a hash-clustered merge —
    // a SinglePartition exchange would be the old AllTuples bottleneck
    assert(plan.contains("hashpartitioning(__asof_bkt"),
      s"expected bucket-keyed hash distribution, got:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"keyless+TTL as-of must not serialize to one partition:\n$plan")
    // and it must agree with the compositional formulation exactly
    val fv = graft.model.FeatureView(
      name = "global", entities = Nil,
      source = graft.sources.FeatureSource(
        path = Some(s"$dir/events.parquet"), eventTimestampColumn = "ts"),
      features = Seq("value", "event_id"),
      ttlSeconds = 600, tieBreakColumns = Seq("event_id"))
    val classic = CompositionalPit.getHistoricalFeatures(ent, Seq(fv))
    val native = PointInTime.getHistoricalFeaturesNative(ent, Seq(fv))
    assert(normalize(classic) == normalize(native))
    assert(normalize(classic) ==
      normalize(PointInTime.getHistoricalFeatures(ent, Seq(fv))))
  }
}

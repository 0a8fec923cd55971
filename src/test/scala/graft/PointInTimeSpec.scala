package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.FeatureView
import graft.sources.FeatureSource

/** The flagship's correctness suite: engine results vs the nested-loop
  * oracle over the ported reference generators — NULL paths, created-ts
  * dedup, TTL bounds, duplicate entity rows, prefixing, empties
  * (ref: tests/test_all.py:244-488). Every case runs on the engine's
  * [[PointInTime]] and on the independent [[CompositionalPit]]. */
class PointInTimeSpec extends SparkSpec {

  private type Pit = (DataFrame, Seq[FeatureView], Boolean) => DataFrame
  private val pits: Seq[(String, Pit)] = Seq(
    "PointInTime" -> ((e, v, full) =>
      PointInTime.getHistoricalFeatures(e, v, fullFeatureNames = full)),
    "CompositionalPit" -> ((e, v, full) =>
      CompositionalPit.getHistoricalFeatures(e, v, fullFeatureNames = full)))

  private def statsView(ttl: Long): (FeatureView, Seq[(Timestamp, Long, Timestamp, Map[String, Any])]) = {
    val stats = Fixtures.driverStats(spark)
    stats.createOrReplaceTempView("driver_stats")
    val rows = stats.collect().toSeq.map { r =>
      (r.getAs[Timestamp]("event_timestamp"), r.getAs[Long]("driver_id"),
        r.getAs[Timestamp]("created"),
        Map[String, Any](
          "conv_rate" -> r.getAs[Float]("conv_rate"),
          "acc_rate" -> r.getAs[Float]("acc_rate")))
    }
    val fv = FeatureView(
      name = "driver_stats",
      entities = Seq("driver_id"),
      source = FeatureSource(
        table = Some("driver_stats"),
        eventTimestampColumn = "event_timestamp",
        createdTimestampColumn = Some("created")),
      features = Seq("conv_rate", "acc_rate"),
      ttlSeconds = ttl)
    (fv, rows)
  }

  /** `entityTs` replaces the orders' event_timestamp; the oracle reads it
    * as the instant Spark's `<=` against the TIMESTAMP feature ts does. */
  private def checkAgainstOracle(
      ttl: Long, entityTs: Column = col("event_timestamp")): Unit = {
    val (fv, statRows) = statsView(ttl)
    val entity = Fixtures.orders(spark)
      .withColumn("oracle_ts", entityTs.cast("timestamp"))
      .withColumn("event_timestamp", entityTs)
    val entityRows = entity.collect()
    for ((name, pit) <- pits) {
      val got = pit(entity, Seq(fv), false)
        .collect().map { r =>
          (r.getAs[Long]("order_id"),
            (Option(r.getAs[Any]("conv_rate")),
              Option(r.getAs[Any]("acc_rate"))))
        }.toMap
      assert(got.size == entityRows.length, name)
      entityRows.foreach { e =>
        val byDriver = statRows
          .filter(_._2 == e.getAs[Long]("driver_id"))
          .map { case (ts, _, created, vals) => (ts, created, vals) }
        val expected = Fixtures.findAsof(
          byDriver, e.getAs[Timestamp]("oracle_ts"), ttl)
        val (gc, ga) = got(e.getAs[Long]("order_id"))
        assert(gc == expected.map(_("conv_rate")),
          s"$name: conv_rate mismatch for order ${e.getAs[Long]("order_id")}")
        assert(ga == expected.map(_("acc_rate")), name)
      }
    }
  }

  test("PIT join matches nested-loop oracle (ttl 2h, NULLs included)") {
    checkAgainstOracle(7200)
  }

  test("PIT join matches oracle with unbounded ttl (ttl=0)") {
    checkAgainstOracle(0)
  }

  test("TIMESTAMP_NTZ entity ts is read in a non-UTC session zone") {
    withSessionZone("America/Los_Angeles") {
      checkAgainstOracle(7200, col("event_timestamp").cast("timestamp_ntz"))
      checkAgainstOracle(0, col("event_timestamp").cast("timestamp_ntz"))
    }
  }

  test("DATE entity ts matches as midnight in the session zone") {
    withSessionZone("America/Los_Angeles") {
      checkAgainstOracle(7200, to_date(col("event_timestamp")))
      checkAgainstOracle(0, to_date(col("event_timestamp")))
    }
  }

  test("created-ts dedup picks the re-delivered row") {
    val (fv, statRows) = statsView(0)
    // entity row exactly at the duplicated stat's (driver, ts):
    val dupKeys = statRows.groupBy(r => (r._1, r._2))
      .filter(_._2.size > 1).keys.toSeq
    assert(dupKeys.nonEmpty, "fixture must contain injected duplicates")
    val (dts, ddrv) = dupKeys.head
    import spark.implicits._
    val entity = Seq((ddrv, dts)).toDF("driver_id", "event_timestamp")
    for ((name, pit) <- pits) {
      val out = pit(entity, Seq(fv), false).collect()
      assert(out.length == 1, name)
      // the injected duplicate has conv_rate 9.99 and newer created
      assert(math.abs(out.head.getAs[Float]("conv_rate") - 9.99f) < 1e-6,
        name)
    }
  }

  test("duplicate (keys, ts) entity rows each produce one output row") {
    val (fv, _) = statsView(7200)
    val e1 = Fixtures.orders(spark).limit(1)
      .select("driver_id", "event_timestamp")
    val entity = e1.union(e1).union(e1)
    for ((name, pit) <- pits)
      assert(pit(entity, Seq(fv), false).count() == 3, name)
  }

  test("full_feature_names prefixes and inclusive upper bound") {
    val (fv, statRows) = statsView(7200)
    import spark.implicits._
    // entity ts EXACTLY equal to a feature ts — inclusive <= must match it
    val (ts, driver, _, _) = statRows.maxBy(_._1.getTime)
    val entity = Seq((driver, ts)).toDF("driver_id", "event_timestamp")
    // oracle at that exact instant
    val exp = Fixtures.findAsof(
      statRows.filter(_._2 == driver).map(r => (r._1, r._3, r._4)), ts, 7200)
    for ((name, pit) <- pits) {
      val out = pit(entity, Seq(fv), true).collect()
      assert(out.head.schema.fieldNames.contains("driver_stats__conv_rate"),
        name)
      val got = out.head.getAs[Float]("driver_stats__conv_rate")
      assert(got == exp.get("conv_rate"), name)
    }
  }

  test("exclusive outside-ttl row yields NULL (lower bound inclusive)") {
    val (fv, statRows) = statsView(3600)
    import spark.implicits._
    val (ts, driver, _, _) = statRows.minBy(_._1.getTime)
    // entity ts exactly ttl after the earliest stat → still included
    val atBound = Timestamp.from(ts.toInstant.plusSeconds(3600))
    val entity = Seq((driver, atBound)).toDF("driver_id", "event_timestamp")
    val exp = Fixtures.findAsof(
      statRows.filter(_._2 == driver).map(r => (r._1, r._3, r._4)),
      atBound, 3600)
    for ((name, pit) <- pits) {
      val out = pit(entity, Seq(fv), false).collect()
      assert(Option(out.head.getAs[Any]("conv_rate")) ==
        exp.map(_("conv_rate")), name)
    }
  }

  test("empty entity df returns empty result with full schema") {
    val (fv, _) = statsView(7200)
    import org.apache.spark.sql.types._
    val entity = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("driver_id", LongType),
        StructField("event_timestamp", TimestampType))))
    for ((name, pit) <- pits) {
      val out = pit(entity, Seq(fv), false)
      assert(out.count() == 0, name)
      assert(out.columns.toSet ==
        Set("driver_id", "event_timestamp", "conv_rate", "acc_rate"), name)
    }
  }

  test("entity-less view as-of joins on timestamp alone") {
    val (_, statRows) = statsView(0)
    import spark.implicits._
    val fv = FeatureView(
      name = "global", entities = Nil,
      source = FeatureSource(
        table = Some("driver_stats"),
        eventTimestampColumn = "event_timestamp",
        createdTimestampColumn = Some("created")),
      features = Seq("conv_rate"), ttlSeconds = 0,
      tieBreakColumns = Seq("conv_rate"))
    val ts = statRows.map(_._1).maxBy(_.getTime)
    val entity = Seq(Tuple1(ts)).toDF("event_timestamp")
    for ((name, pit) <- pits) {
      val out = pit(entity, Seq(fv), false).collect()
      assert(out.length == 1 && out.head.getAs[Any]("conv_rate") != null,
        name)
    }
  }

  test("missing entity columns raise EntityDfMissingColumnsError") {
    val (fv, _) = statsView(0)
    import spark.implicits._
    val entity = Seq(1L).toDF("wrong")
    for ((_, pit) <- pits)
      intercept[EntityDfMissingColumnsError] {
        pit(entity, Seq(fv), false)
      }
  }
}

package graft

import java.sql.Timestamp

import graft.model.FeatureView
import graft.sources.{FeatureSource, SourceJson}

/** Engine orchestration surface: ts-column inference, view validation,
  * source registry round-trip, conf overlay. */
class EngineSpec extends SparkSpec {

  private def eng = new Engine(spark)

  test("inferEventTimestampColumn prefers event_timestamp, then unique ts") {
    import spark.implicits._
    val named = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "event_timestamp")
    assert(eng.inferEventTimestampColumn(named) == "event_timestamp")
    val single = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "e_ts")
    assert(eng.inferEventTimestampColumn(single) == "e_ts")
    val none = Seq((1L, "x")).toDF("id", "s")
    intercept[EntityDfMissingColumnsError] {
      eng.inferEventTimestampColumn(none)
    }
    val two = Seq((Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("a_ts", "b_ts")
    val e = intercept[IllegalArgumentException] {
      eng.inferEventTimestampColumn(two)
    }
    assert(e.getMessage.contains("a_ts"))
  }

  test("absent structural columns fail fast; absent features are dropped") {
    import spark.implicits._
    val src = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("driver_id", "event_timestamp", "conv_rate")
    src.createOrReplaceTempView("engine_spec_src")
    val entity = Seq((1L, Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("driver_id", "event_timestamp")
    // absent feature (reference fixture behavior): dropped, query works
    val fvExtraFeature = FeatureView("v", Seq("driver_id"),
      FeatureSource(table = Some("engine_spec_src")),
      features = Seq("conv_rate", "avg_daily_trips"))
    val out = PointInTime.getHistoricalFeatures(entity, Seq(fvExtraFeature))
    assert(out.columns.toSet ==
      Set("driver_id", "event_timestamp", "conv_rate"))
    assert(out.count() == 1)
    // absent entity key: fail fast with the view and column named
    val fvBadKey = FeatureView("v2", Seq("nope_id"),
      FeatureSource(table = Some("engine_spec_src")))
    val entity2 = entity.withColumnRenamed("driver_id", "nope_id")
    val e = intercept[IllegalArgumentException] {
      PointInTime.getHistoricalFeatures(entity2, Seq(fvBadKey))
    }
    assert(e.getMessage.contains("v2") && e.getMessage.contains("nope_id"))
  }

  test("getHistoricalFeaturesAny routes frames and SQL, rejects the rest") {
    import spark.implicits._
    Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("driver_id", "event_timestamp", "conv_rate")
      .createOrReplaceTempView("engine_any_src")
    val fv = FeatureView("v", Seq("driver_id"),
      FeatureSource(table = Some("engine_any_src")))
    val entity = Seq((1L, Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("driver_id", "event_timestamp")
    entity.createOrReplaceTempView("engine_any_entity")
    for ((label, e) <- Seq(
        "DataFrame" -> entity,
        "typed Dataset" -> entity.as[(Long, Timestamp)],
        "SQL string" -> "SELECT * FROM engine_any_entity")) {
      val rows = eng.getHistoricalFeaturesAny(e, Seq(fv)).toDF
        .select("driver_id", "conv_rate").collect()
        .map(r => (r.get(0), r.get(1))).toSeq
      assert(rows == Seq((1L, 1.0)), s"$label: $rows")
    }
    for ((bad, name) <- Seq[(Any, String)](
        42 -> "java.lang.Integer", (null: Any) -> "null")) {
      val err = intercept[InvalidEntityTypeException] {
        eng.getHistoricalFeaturesAny(bad, Seq(fv))
      }
      assert(err.getMessage.contains(s"Invalid entity_df type: $name"),
        err.getMessage)
    }
  }

  test("FeatureSource JSON registry round-trip") {
    val src = FeatureSource(
      query = Some("SELECT a, b FROM t WHERE s = 'x\"y'\n AND b > 0"),
      eventTimestampColumn = "ts",
      createdTimestampColumn = Some("created"),
      fieldMapping = Map("a" -> "alpha", "b" -> "beta"),
      datePartitionColumn = Some("dt"),
      name = Some("round_trip"))
    assert(SourceJson.fromJson(SourceJson.toJson(src)) == src)
    val minimal = FeatureSource(path = Some("/tmp/x.parquet"))
    assert(SourceJson.fromJson(SourceJson.toJson(minimal)) == minimal)
  }

  test("session conf overlay is scoped: applied at build, restored after") {
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // Overlay a conf that is definitely absent, too, to exercise unset-restore.
    assert(spark.conf.getOption("graft.test.overlay.only").isEmpty)
    val overlay = new Engine(spark, EngineConfig(
      sessionConf = Map(
        "spark.sql.shuffle.partitions" -> "7",
        "graft.test.overlay.only" -> "yes")))
    val src = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("driver_id", "event_timestamp", "conv_rate")
    src.createOrReplaceTempView("engine_spec_conf")
    val entity = Seq((1L, Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("driver_id", "event_timestamp")
    // observe the conf DURING the job's execution via a post-transform
    // (transforms run inside the terminal action's conf scope)
    var seenDuring: Option[String] = None
    val job = overlay.getHistoricalFeatures(EntityFrame(entity), Seq(
      FeatureView("v", Seq("driver_id"),
        FeatureSource(table = Some("engine_spec_conf")))))
      .withTransform { df =>
        seenDuring = Some(spark.conf.get("spark.sql.shuffle.partitions"))
        df
      }
    assert(job.count() == 1)
    // the overlay was live while the action ran — execution-time confs
    // (shuffle partitions are read at physical planning) actually apply
    assert(seenDuring.contains("7"))
    // and prior values are restored afterwards — nothing leaks
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    assert(spark.conf.getOption("graft.test.overlay.only").isEmpty)
  }

  test("bucketed CTAS: bucketed-bucketed equi-join plans with no shuffle") {
    import org.apache.spark.sql.functions._
    val eng = new Engine(spark)
    val orders = Tables.read(spark, sf(), "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = Tables.read(spark, sf(), "lineitem")
      .select("l_orderkey", "l_quantity")
    eng.createTableBucketed("graft_bkt_orders", orders,
      Seq("o_orderkey"), nBuckets = 4)
    eng.createTableBucketed("graft_bkt_lineitem",
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      Seq("o_orderkey"), nBuckets = 4)
    // at test scale the planner would broadcast the tiny side (which
    // bypasses bucketing entirely); force the shuffle-join path — the
    // 100 TB case where bucketing is the thing that saves the Exchange
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prior = thresholds.map(k => k -> spark.conf.getOption(k))
    try {
      thresholds.foreach(spark.conf.set(_, "-1"))
      val j = spark.table("graft_bkt_orders")
        .join(spark.table("graft_bkt_lineitem"), "o_orderkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // and it still computes the right thing
      assert(j.count() ==
        orders.join(lineitem,
          orders("o_orderkey") === lineitem("l_orderkey")).count())
    } finally {
      prior.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      eng.dropTable("graft_bkt_orders")
      eng.dropTable("graft_bkt_lineitem")
    }
  }

  test("partitioned CTAS lays out by date and scans prune partitions") {
    import org.apache.spark.sql.functions._
    val eng = new Engine(spark)
    val df = Tables.read(spark, sf(), "events")
      .withColumn("dt", to_date(col("ts")))
    eng.createTableAs("graft_part_ctas", df, partitionBy = Seq("dt"))
    try {
      val back = spark.table("graft_part_ctas")
      assert(back.count() == df.count())
      // a date predicate must become a partition filter: the scan's
      // selected partitions shrink (metadata-only check, no data read)
      val pruned = back.filter(col("dt") === "2024-01-05")
      val scan = pruned.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(scan.contains("PartitionFilters: [isnotnull(dt"),
        s"expected a dt partition filter in:\n$scan")
      assert(pruned.count() ==
        df.filter(col("dt") === "2024-01-05").count())
    } finally eng.dropTable("graft_part_ctas")
  }
}

package graft.plans

import java.sql.Timestamp
import java.time.{Instant, LocalDate, LocalDateTime}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{Fixtures, SparkSpec}

/** The native sort-merge as-of join must agree with the nested-loop
  * oracle on the reference fixtures, whatever the key types. */
class AsOfJoinSpec extends SparkSpec {

  test("native as-of equals the nested-loop oracle (ttl + unbounded)") {
    val stats = Fixtures.driverStats(spark)
    val statRows = stats.collect().toSeq.map { r =>
      (r.getAs[Timestamp]("event_timestamp"), r.getAs[Long]("driver_id"),
        r.getAs[Timestamp]("created"),
        Map[String, Any]("conv_rate" -> r.getAs[Float]("conv_rate")))
    }
    val entity = Fixtures.orders(spark)
      .select("order_id", "driver_id", "event_timestamp")
    for (ttl <- Seq(7200L, 0L)) {
      val keyed = AsOf.join(
        entity,
        stats.select(
          col("driver_id"),
          col("event_timestamp").as("f_ts"),
          col("created"), col("conv_rate")),
        keys = Seq("driver_id"),
        entityTsCol = "event_timestamp", featureTsCol = "f_ts",
        createdCol = Some("created"), ttlSeconds = ttl)
      val got = keyed.collect().map { r =>
        r.getAs[Long]("order_id") -> Option(r.getAs[Any]("conv_rate"))
      }.toMap
      entity.collect().foreach { e =>
        val exp = Fixtures.findAsof(
          statRows.filter(_._2 == e.getAs[Long]("driver_id"))
            .map(t => (t._1, t._3, t._4)),
          e.getAs[Timestamp]("event_timestamp"), ttl)
        assert(got(e.getAs[Long]("order_id")) == exp.map(_("conv_rate")),
          s"ttl=$ttl order=${e.getAs[Long]("order_id")}")
      }
    }
  }

  test("created-ts tie-break: same event ts, newest created wins") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val feats = Seq(
      (1L, t0, Timestamp.valueOf("2024-01-01 10:00:01"), 1.0),
      (1L, t0, Timestamp.valueOf("2024-01-01 10:00:09"), 2.0)
    ).toDF("k", "f_ts", "created", "v")
    val ent = Seq((1L, Timestamp.valueOf("2024-01-01 11:00:00")))
      .toDF("k", "ts")
    val out = AsOf.join(ent, feats, Seq("k"), "ts", "f_ts",
      Some("created"), 0L).collect()
    assert(out.length == 1 && out.head.getAs[Double]("v") == 2.0)
  }

  test("self-as-of (same table both sides) does not alias-collide") {
    val events = graft.Tables.read(spark, sf(), "events")
      .select("user_id", "ts", "value")
    val entity = events
      .select(col("user_id"), (col("ts") + expr("INTERVAL 30 MINUTES")).as("ts"))
      .limit(50)
    val out = AsOf.join(entity, events, Seq("user_id"), "ts", "ts",
      None, 3600L)
    assert(out.count() == 50)
    assert(out.columns.count(_ == "value") == 1)
    // right key dropped; colliding feature ts renamed
    assert(out.columns.count(_ == "user_id") == 1)
    assert(out.columns.contains("ts_asof"))
  }

  test("an entity frame read through an alias or a view still matches") {
    import spark.implicits._
    // its attributes carry a qualifier the physical child's do not
    val feats = Seq((1L, Timestamp.valueOf("2024-01-01 09:00:00"), 2.0))
      .toDF("k", "f_ts", "v")
    val ent = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("k", "ts")
    ent.createOrReplaceTempView("asof_alias_entity")
    for (e <- Seq(ent.alias("e"), spark.table("asof_alias_entity"))) {
      val out = AsOf.join(e, feats, Seq("k"), "ts", "f_ts", None, 0L)
        .collect().map(_.getAs[Any]("v")).toSeq
      assert(out == Seq(2.0))
    }
  }

  test("NULL keys match nothing (SQL equi-join semantics)") {
    import spark.implicits._
    val feats = Seq(
      (Option.empty[Long], Timestamp.valueOf("2024-01-01 09:00:00"), 1.0),
      (Some(1L), Timestamp.valueOf("2024-01-01 09:00:00"), 2.0)
    ).toDF("k", "f_ts", "v")
    val ent = Seq(
      (Option.empty[Long], Timestamp.valueOf("2024-01-01 10:00:00")),
      (Some(1L), Timestamp.valueOf("2024-01-01 10:00:00"))
    ).toDF("k", "ts")
    val out = AsOf.join(ent, feats, Seq("k"), "ts", "f_ts", None, 0L)
      .collect().map(r =>
        Option(r.getAs[Any]("k")) -> Option(r.getAs[Any]("v"))).toMap
    assert(out(None) == None, "null-keyed entity row must get NULL features")
    assert(out(Some(1L)) == Some(2.0))
  }

  test("plan contains AsOfJoinExec and exactly one exchange per side") {
    val events = graft.Tables.read(spark, sf(), "events")
      .select("user_id", "ts", "value")
    val entity = events
      .select(col("user_id"), (col("ts") + expr("INTERVAL 30 MINUTES")).as("e_ts"))
    val out = AsOf.join(entity, events, Seq("user_id"), "e_ts", "ts",
      None, 3600L)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    val nEx = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(nEx == 2, s"expected 2 exchanges, got $nEx:\n$plan")
    assert(!plan.contains("Window"), plan)
  }

  /** 5,000 entities, one feature row each (Long keys); the entity keys
    * are `entityKey`-typed. Every entity must get its own feature row. */
  private def matchesAcrossKeyTypes(entityKey: Column): Unit = {
    val prior = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    // without coalescing, each side keeps all of its hash partitions — a
    // side hashing its keys as another type then lands in the wrong one
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      val feats = spark.range(5000).select(
        col("id").as("k"), lit(t0).as("f_ts"), (col("id") * 10).as("v"))
      val ent = spark.range(5000).select(
        entityKey.as("k"), (lit(t0) + expr("INTERVAL 1 HOUR")).as("ts"),
        col("id").as("want"))
      val out = AsOf.join(ent, feats, Seq("k"), "ts", "f_ts", None, 0L)
      assert(out.schema("k").dataType == ent.schema("k").dataType,
        "entity key column must keep its type")
      assert(out.columns.toSeq == Seq("k", "ts", "want", "f_ts", "v"))
      val matched = out.filter(col("v") === col("want") * 10).count()
      assert(matched == 5000, s"only $matched/5000 entity rows matched")
    } finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prior)
  }

  test("Int entity keys match Long feature keys") {
    matchesAcrossKeyTypes(col("id").cast("int"))
  }

  test("String entity keys match Long feature keys") {
    matchesAcrossKeyTypes(col("id").cast("string"))
  }

  test("key types '=' cannot compare raise a clear error") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val feats = Seq((1L, t0, 1.0)).toDF("k", "f_ts", "v")
    val ent = Seq((Seq(1L), t0)).toDF("k", "ts")
    val e = intercept[IllegalArgumentException] {
      AsOf.join(ent, feats, Seq("k"), "ts", "f_ts", None, 0L)
    }
    assert(e.getMessage.contains("key 'k' is array<bigint>"), e.getMessage)
  }

  /** Feature rows at 09:30Z (v 1) and 17:30Z (v 2). In Los Angeles the
    * entity's 10:00 wall clock is 18:00Z, so the pick is v 2; reading the
    * wall clock as UTC would pick v 1. */
  test("TIMESTAMP_NTZ entity ts against TIMESTAMP features, non-UTC zone") {
    import spark.implicits._
    withSessionZone("America/Los_Angeles") {
      val feats = Seq(
        (1L, Timestamp.from(Instant.parse("2024-01-01T09:30:00Z")), 1),
        (1L, Timestamp.from(Instant.parse("2024-01-01T17:30:00Z")), 2))
        .toDF("k", "f_ts", "v")
      val ent = Seq((1L, LocalDateTime.parse("2024-01-01T10:00:00")))
        .toDF("k", "ts")
      for (ttl <- Seq(0L, 3600L)) {
        val out = AsOf.join(ent, feats, Seq("k"), "ts", "f_ts", None, ttl)
        assert(out.schema("ts").dataType == ent.schema("ts").dataType)
        assert(out.select("v").as[Int].collect().toSeq == Seq(2), s"ttl $ttl")
      }
      // keyless: the time-bucket path buckets both sides alike
      val keyless = AsOf.join(ent.drop("k"), feats.drop("k"), Nil, "ts",
        "f_ts", None, 3600L)
      assert(keyless.select("v").as[Int].collect().toSeq == Seq(2))
    }
  }

  /** The mirror: TIMESTAMP entity ts (18:00Z) against TIMESTAMP_NTZ
    * feature rows at 09:30 (17:30Z in Los Angeles, v 2) and 17:30 (01:30Z
    * the next day, v 1). */
  test("TIMESTAMP entity ts against TIMESTAMP_NTZ features, non-UTC zone") {
    import spark.implicits._
    withSessionZone("America/Los_Angeles") {
      val feats = Seq(
        (1L, LocalDateTime.parse("2024-01-01T09:30:00"), 2),
        (1L, LocalDateTime.parse("2024-01-01T17:30:00"), 1))
        .toDF("k", "f_ts", "v")
      val ent = Seq((1L, Timestamp.from(Instant.parse("2024-01-01T18:00:00Z"))))
        .toDF("k", "ts")
      val out = AsOf.join(ent, feats, Seq("k"), "ts", "f_ts", None, 3600L)
      assert(out.select("v").as[Int].collect().toSeq == Seq(2))
    }
  }

  /** Keyless, both TIMESTAMP_NTZ, TTL 2h across the Los Angeles fall-back:
    * the wall clocks 00:30 and 02:30 are 2h apart, within the TTL, but 3h
    * apart as instants, so time buckets taken in the session zone would
    * separate them. */
  test("keyless TIMESTAMP_NTZ time buckets ignore DST shifts") {
    import spark.implicits._
    withSessionZone("America/Los_Angeles") {
      val feats = Seq((LocalDateTime.parse("2024-11-03T00:30:00"), 1))
        .toDF("f_ts", "v")
      val ent = Seq(Tuple1(LocalDateTime.parse("2024-11-03T02:30:00")))
        .toDF("ts")
      val out = AsOf.join(ent, feats, Nil, "ts", "f_ts", None, 7200L)
      assert(out.select("v").as[Int].collect().toSeq == Seq(1))
    }
  }

  test("DATE entity ts matches as midnight in the session zone") {
    import spark.implicits._
    withSessionZone("America/Los_Angeles") {
      // 23:00 on Jan 1 and 01:00 on Jan 2, Los Angeles time
      val feats = Seq(
        (1L, Timestamp.from(Instant.parse("2024-01-02T07:00:00Z")), 1),
        (1L, Timestamp.from(Instant.parse("2024-01-02T09:00:00Z")), 2))
        .toDF("k", "f_ts", "v")
      val ent = Seq((1L, LocalDate.parse("2024-01-02"))).toDF("k", "d")
      val out = AsOf.join(ent, feats, Seq("k"), "d", "f_ts", None, 7200L)
      assert(out.schema("d").dataType == ent.schema("d").dataType)
      assert(out.select("v").as[Int].collect().toSeq == Seq(1))
    }
  }

  test("timestamps '<=' cannot order raise a clear error") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val feats = Seq((1L, t0, 1.0)).toDF("k", "f_ts", "v")
    val ent = Seq((1L, 5L)).toDF("k", "ts")
    val e = intercept[IllegalArgumentException] {
      AsOf.join(ent, feats, Seq("k"), "ts", "f_ts", None, 0L)
    }
    assert(e.getMessage.contains("timestamps are bigint on the entity side"),
      e.getMessage)
  }
}

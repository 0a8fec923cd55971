package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft._
import graft.model.FeatureView
import graft.sources.FeatureSource

/** Driver-contract queries for the core (reference-parity) operator
  * inventory, SURVEY.md §2 — one entry per operator, each with a DuckDB
  * oracle over the same parquet tables.
  *
  * Determinism rules shared by every query/oracle pair:
  *  - ties in windows are broken on `event_id DESC` in BOTH formulations;
  *  - no double→string casts or FP-sum outputs unless rounded with a wide
  *    safety margin;
  *  - column names are identical on both sides (driver sorts by name).
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events")
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")

  /** Register the events table for SQL/table-source access. */
  private def regEvents(s: SparkSession, dir: String): Unit =
    events(s, dir).createOrReplaceTempView("graft_events")

  /** Dir-keyed bucketed-events table name: lets the probe query reuse a
    * table built earlier in the same session for the SAME data dir while
    * never colliding across dirs (bench warms at sf0.01, times at sf0.1).
    * String.hashCode is spec-fixed, so the name is deterministic. */
  private def bucketedEventsName(dir: String): String =
    "graft_events_bkt_" + java.lang.Integer.toHexString(dir.hashCode)

  /** The entity-df "spine" used by the PIT queries: a deterministic sample
    * of events, looking back from 30 minutes after each sampled event. */
  private[queries] def spine(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("event_id") % 37 === 0)
      .select(
        col("event_id").as("row_tag"),
        col("user_id"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("event_timestamp"))

  private val SpineSql =
    """entity AS (
      |  SELECT event_id AS row_tag, user_id,
      |         ts + INTERVAL 30 MINUTE AS event_timestamp
      |  FROM events WHERE event_id % 37 = 0
      |)""".stripMargin

  /** Feature view over raw events (entity user_id, ts, no created col). */
  private def eventsView(dir: String, ttl: Long): FeatureView =
    FeatureView(
      name = "recent",
      entities = Seq("user_id"),
      source = FeatureSource(
        path = Some(s"$dir/events.parquet"),
        eventTimestampColumn = "ts"),
      features = Seq("value", "event_type", "event_id"),
      ttlSeconds = ttl,
      tieBreakColumns = Seq("event_id"))

  /** Hourly-bucketed view from a QUERY source with a created-ts column:
    * many rows share one (user, hour) event ts, so the created-timestamp
    * dedup path (ref A3, hive.py:645-653) is actually exercised. */
  private def hourlyView(ttl: Long): FeatureView =
    FeatureView(
      name = "hourly",
      entities = Seq("user_id"),
      source = FeatureSource(
        query = Some(
          """SELECT user_id, date_trunc('HOUR', ts) AS ts_hour,
            |       value AS hour_value, event_id AS hour_event_id,
            |       ts AS created
            |FROM graft_events""".stripMargin),
        eventTimestampColumn = "ts_hour",
        createdTimestampColumn = Some("created"),
        name = Some("hourly_src")),
      features = Seq("hour_value", "hour_event_id"),
      ttlSeconds = ttl)

  private def pitOracle(
      ttlCond: String, features: String, outCols: String): String =
    s"""WITH $SpineSql,
       |cand AS (
       |  SELECT e.user_id, e.event_timestamp, $features,
       |         row_number() OVER (
       |           PARTITION BY e.user_id, e.event_timestamp
       |           ORDER BY f.ts DESC, f.event_id DESC) AS rn
       |  FROM (SELECT DISTINCT user_id, event_timestamp FROM entity) e
       |  JOIN events f ON f.user_id = e.user_id
       |   AND f.ts <= e.event_timestamp $ttlCond
       |)
       |SELECT en.row_tag, en.user_id, en.event_timestamp, $outCols
       |FROM entity en
       |LEFT JOIN (SELECT * FROM cand WHERE rn = 1) m
       |  ON en.user_id = m.user_id
       | AND en.event_timestamp = m.event_timestamp""".stripMargin

  // ───────────────────────────── queries ─────────────────────────────

  val queries: Map[String, Q] = Map(
    // S1: table scan through the source abstraction.
    "s1_scan_table" -> ((s, dir) => {
      regEvents(s, dir)
      FeatureSource(table = Some("graft_events"), eventTimestampColumn = "ts")
        .resolve(s)
        .select("event_id", "user_id", "event_type", "value")
    }),

    // S2: arbitrary-SQL query as a source.
    "s2_query_source" -> ((s, dir) => {
      regEvents(s, dir)
      FeatureSource(
        query = Some(
          "SELECT user_id, ts, value FROM graft_events WHERE event_type = 'purchase'"),
        eventTimestampColumn = "ts",
        name = Some("purchases")).resolve(s)
    }),

    // S3: CTAS sink — materialize an aggregate as a Parquet table, read back.
    "s3_ctas" -> ((s, dir) => {
      val eng = new Engine(s)
      val agg = events(s, dir).filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"))
      eng.createTableAs("graft_ctas", agg)
      s.table("graft_ctas")
    }),

    // S4+S5+S6+S7: DDL lifecycle — create, insert, truncate, re-insert, drop
    // of a scratch table; result proves truncate emptied the first batch.
    "s4567_table_lifecycle" -> ((s, _) => {
      import s.implicits._
      val eng = new Engine(s)
      val schema = StructType(Seq(
        StructField("a", IntegerType), StructField("b", StringType)))
      eng.dropTable("graft_scratch")
      eng.createTable("graft_scratch", schema)
      eng.insertInto("graft_scratch", Seq((9, "gone"), (8, "gone")).toDF("a", "b"))
      eng.truncateTable("graft_scratch")
      eng.insertInto("graft_scratch",
        Seq((1, "x"), (2, "y"), (3, "z")).toDF("a", "b"))
      s.table("graft_scratch")
    }),

    // S8: temp-view materialization as a pipeline stage.
    "s8_temp_view" -> ((s, dir) => {
      events(s, dir).groupBy("event_type").agg(count(lit(1)).as("n"))
        .createOrReplaceTempView("graft_stage")
      s.sql("SELECT event_type, n FROM graft_stage WHERE n > 0")
    }),

    // S9: RetrievalJob — lazy handle + odfv-style post-transform.
    "s9_retrieval_job" -> ((s, dir) => {
      RetrievalJob(events(s, dir).select("event_id", "value"))
        .withTransform(df =>
          df.withColumn("value_bucket",
            floor(col("value") / 100).cast("long")))
        .toDF
    }),

    // S10: session-conf overlay applied through the Engine, with the entity
    // df supplied as SQL (EntitySql — ref hive.py:377-389).
    "s10_conf_overlay" -> ((s, dir) => {
      regEvents(s, dir)
      // The Engine scopes the overlay itself now: prior conf values are
      // restored after plan build, so no manual cleanup is needed here.
      val eng = new Engine(s,
        EngineConfig(sessionConf = Map("spark.sql.shuffle.partitions" -> "16")))
      eng.getHistoricalFeatures(
        EntitySql(
          """SELECT event_id AS row_tag, user_id,
            |       ts + INTERVAL 30 MINUTE AS event_timestamp
            |FROM graft_events WHERE event_id % 37 = 0""".stripMargin),
        Seq(eventsView(dir, 3600))).toDF
    }),

    // P1: column projection (pruned scan).
    "p1_projection" -> ((s, dir) =>
      lineitem(s, dir).select("l_orderkey", "l_partkey", "l_quantity")),

    // P2: field_mapping renames applied at the source.
    "p2_field_mapping" -> ((s, dir) =>
      FeatureSource(
        path = Some(s"$dir/events.parquet"),
        eventTimestampColumn = "event_ts",
        fieldMapping = Map("ts" -> "event_ts", "user_id" -> "driver_id"))
        .resolve(s)
        .select("driver_id", "event_ts", "value")),

    // P3: literal projection (dummy entity id).
    "p3_dummy_literal" -> ((s, dir) =>
      events(s, dir).select("event_type").distinct()
        .withColumn(FeatureView.DummyEntityId, lit(FeatureView.DummyEntityVal))),

    // P4: computed row key (reference uses string CONCAT, hive.py:537-545;
    // epoch micros instead of ts→string keeps formatting engine-neutral).
    "p4_row_key" -> ((s, dir) =>
      events(s, dir).select(
        col("event_id"),
        concat(
          col("user_id").cast("string"), lit("#"),
          unix_micros(col("ts")).cast("string")).as("row_key"))),

    // P5: negative projection.
    "p5_drop" -> ((s, dir) => events(s, dir).drop("props", "value")),

    // P6: inclusive BETWEEN range predicate.
    "p6_between" -> ((s, dir) =>
      events(s, dir)
        .filter(col("ts").between(
          lit(Timestamp.valueOf("2024-01-10 00:00:00")),
          lit(Timestamp.valueOf("2024-01-20 00:00:00"))))
        .select("event_id", "ts")),

    // P8: interval arithmetic (TTL lower bound).
    "p8_interval" -> ((s, dir) =>
      events(s, dir).select(
        col("event_id"),
        col("ts"),
        (col("ts") - expr("INTERVAL 90 SECONDS")).as("ttl_lower"))),

    // P9: casts (narrowing, widening, int→string — all engine-neutral;
    // double→string and double→int are deliberately avoided: formatting and
    // rounding rules differ across engines).
    "p9_cast" -> ((s, dir) =>
      events(s, dir).select(
        col("event_id"),
        col("user_id").cast("int").as("uid_int"),
        col("event_id").cast("double").as("eid_double"),
        col("event_id").cast("string").as("eid_str"))),

    // P10: existence/schema probe — analysis-only schema, LIMIT-1 existence.
    "p10_probe" -> ((s, dir) => {
      val src = FeatureSource(
        path = Some(s"$dir/events.parquet"), eventTimestampColumn = "ts")
      src.validate(s) // Catalyst analysis only, no scan
      src.resolve(s).limit(1).select(lit(1).as("ok"))
    }),

    // J1: coarse global time-range filter from driver-side scalar MIN/MAX
    // (replaces the reference's 1-row cartesian join, hive.py:592-605).
    "j1_coarse_range" -> ((s, dir) => {
      val b = spine(s, dir)
        .agg(min("event_timestamp"), max("event_timestamp")).head()
      val (lo, hi) = (b.getTimestamp(0), b.getTimestamp(1))
      events(s, dir)
        .filter(col("ts") <= lit(hi) &&
          col("ts") >= lit(lo) - expr("INTERVAL 3600 SECONDS"))
        .select("event_id", "user_id", "ts")
    }),

    // J2: as-of inner join (equi + range residual), matched rows only.
    "j2_asof_inner" -> ((s, dir) => {
      val ent = spine(s, dir).select("user_id", "event_timestamp").distinct()
      val f = events(s, dir)
      val joined = f.join(ent,
        f("user_id") === ent("user_id") &&
          f("ts") <= ent("event_timestamp") &&
          f("ts") >= ent("event_timestamp") - expr("INTERVAL 3600 SECONDS"),
        "inner")
        .select(ent("user_id"), ent("event_timestamp"),
          f("ts"), f("event_id"), f("value"))
      val w = Window.partitionBy("user_id", "event_timestamp")
        .orderBy(col("ts").desc, col("event_id").desc)
      joined.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
    }),

    // J3: grouped-max + join-back (latest-row recovery, the reference's
    // A4+J3 shape, hive.py:660-696).
    "j3_joinback" -> ((s, dir) => {
      val f = events(s, dir).as("f")
      val g = events(s, dir).groupBy("user_id")
        .agg(max("ts").as("max_ts")).as("g")
      f.join(g, col("f.user_id") === col("g.user_id") &&
          col("f.ts") === col("g.max_ts"))
        .select(col("f.user_id"), col("f.ts"), col("f.event_id"),
          col("f.value"))
    }),

    // A1: GROUP BY with no aggregates = DISTINCT (entity dedup).
    "a1_distinct" -> ((s, dir) =>
      events(s, dir).select("user_id", "event_type").distinct()),

    // A2: global scalar MIN/MAX.
    "a2_scalar_minmax" -> ((s, dir) =>
      events(s, dir).agg(
        min("ts").as("min_ts"), max("ts").as("max_ts"),
        min("value").as("min_value"), max("value").as("max_value"))),

    // A3: grouped MAX of created-ts (created-dedup shape).
    "a3_grouped_max_created" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), date_trunc("HOUR", col("ts")).as("ts_hour"))
        .agg(max("ts").as("latest_created"))),

    // A4: grouped MAX of event-ts (latest event per key).
    "a4_grouped_max_event" -> ((s, dir) =>
      events(s, dir).groupBy("user_id").agg(max("ts").as("latest_ts"))),

    // A5: latest-value pick — Spark has max_by natively (the reference had
    // to emulate ANY_VALUE with MAX, hive.py:514).
    "a5_latest_value" -> ((s, dir) =>
      events(s, dir).groupBy("user_id")
        .agg(max_by(col("value"), col("ts")).as("latest_value"))),

    // W1 + P7: latest-per-key materialization pull (entry point 2).
    "pull_latest_events" -> ((s, dir) =>
      new Engine(s).pullLatest(
        FeatureSource(
          path = Some(s"$dir/events.parquet"), eventTimestampColumn = "ts"),
        joinKeys = Seq("user_id"),
        featureNames = Seq("value", "event_type"),
        eventTsCol = "ts",
        createdTsCol = None,
        startDate = Timestamp.valueOf("2024-01-10 00:00:00"),
        endDate = Timestamp.valueOf("2024-01-20 00:00:00"),
        tieBreakColumns = Seq("event_id")).toDF),

    // W1 keyless branch: global top-1 + dummy entity (ref hive.py:160-163).
    "pull_latest_dummy" -> ((s, dir) =>
      new Engine(s).pullLatest(
        FeatureSource(
          path = Some(s"$dir/events.parquet"), eventTimestampColumn = "ts"),
        joinKeys = Nil,
        featureNames = Seq("value", "event_type"),
        eventTsCol = "ts",
        createdTsCol = None,
        startDate = Timestamp.valueOf("2024-01-10 00:00:00"),
        endDate = Timestamp.valueOf("2024-01-20 00:00:00"),
        tieBreakColumns = Seq("event_id")).toDF),

    // W1 generalized: top-3 per key with the rank exposed.
    "w1_topk_per_key" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("user_id", "event_id", "ts", "rn")
    }),

    // The flagship: full PIT join, single view, TTL 1h.
    "pit_events_ttl1h" -> ((s, dir) =>
      PointInTime.getHistoricalFeatures(
        spine(s, dir), Seq(eventsView(dir, 3600)))),

    // The same semantics called on the sort-merge as-of operator directly
    // (custom LogicalPlan/Strategy/SparkPlan, graft.plans.AsOf.join), with
    // no PointInTime view preparation. event_id doubles as the created-ts
    // so exact ties break like the oracle's `ORDER BY ts DESC, event_id
    // DESC`.
    "pit_native_asof" -> ((s, dir) => {
      val feats = events(s, dir)
        .select("user_id", "ts", "value", "event_type", "event_id")
      graft.plans.AsOf.join(
        spine(s, dir), feats,
        keys = Seq("user_id"),
        entityTsCol = "event_timestamp", featureTsCol = "ts",
        createdCol = Some("event_id"), ttlSeconds = 3600)
        .drop("ts")
    }),

    // TTL 0 ⇒ unbounded lookback (NOT zero-width; ref hive.py:614-624).
    "pit_events_ttl0" -> ((s, dir) =>
      PointInTime.getHistoricalFeatures(
        spine(s, dir), Seq(eventsView(dir, 0)))),

    // Two feature views (one query-sourced with created-ts dedup),
    // full_feature_names prefixing (ref hive.py:590,713).
    "pit_two_views_full_names" -> ((s, dir) => {
      regEvents(s, dir)
      PointInTime.getHistoricalFeatures(
        spine(s, dir),
        Seq(eventsView(dir, 3600), hourlyView(7200)),
        fullFeatureNames = true)
    }),

    // The two-view flagship through getHistoricalFeaturesNative: the same
    // plan and oracle as pit_two_views_full_names; this row pins the native
    // column order (entity columns first).
    "pit_native_two_views" -> ((s, dir) => {
      regEvents(s, dir)
      PointInTime.getHistoricalFeaturesNative(
        spine(s, dir),
        Seq(eventsView(dir, 3600), hourlyView(7200)),
        fullFeatureNames = true)
    }),

    // Entity-less feature view: as-of on timestamp alone (dummy-entity
    // branch, ref hive.py:543-545).
    "pit_dummy_entity" -> ((s, dir) => {
      val ent = spine(s, dir).select("row_tag", "event_timestamp")
      PointInTime.getHistoricalFeatures(
        ent,
        Seq(FeatureView(
          name = "global",
          entities = Nil,
          source = FeatureSource(
            path = Some(s"$dir/events.parquet"), eventTimestampColumn = "ts"),
          features = Seq("value", "event_id"),
          ttlSeconds = 600,
          tieBreakColumns = Seq("event_id"))))
    }),

    // The same entity-less view through getHistoricalFeaturesNative: the
    // same plan and oracle as pit_dummy_entity (keyless + bounded TTL
    // merges on AsOf.join's time-bucket key); this row pins the native
    // column order.
    "pit_native_dummy" -> ((s, dir) => {
      val ent = spine(s, dir).select("row_tag", "event_timestamp")
      PointInTime.getHistoricalFeaturesNative(
        ent,
        Seq(FeatureView(
          name = "global",
          entities = Nil,
          source = FeatureSource(
            path = Some(s"$dir/events.parquet"), eventTimestampColumn = "ts"),
          features = Seq("value", "event_id"),
          ttlSeconds = 600,
          tieBreakColumns = Seq("event_id"))))
    }),

    // ── Classic OLAP extras (bench headliners; not in §2 but part of a
    //    complete analytics engine) ──────────────────────────────────────
    // FP-exactness note for both aggregates: double sums depend on
    // partition/accumulation order, so sums here are per-row-rounded
    // SCALED INTEGERS (values are exact multiples of the scale in true
    // arithmetic, so per-row rounding is error-free and the bigint sums
    // are order-independent — immune to cpu-count/AQE variation).
    "x_q1_lineitem_agg" -> ((s, dir) =>
      lineitem(s, dir)
        .filter(col("l_shipdate") <= lit(Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          // quantities are integer-valued doubles ≤ 50 — the double sum is
          // exact, so the long cast is lossless and keeps dtype = oracle's
          sum("l_quantity").cast("long").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("sum_price_cents"),
          count(lit(1)).as("n_rows"))),

    "x_join_orders_lineitem" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          // price(2dp) × (1-discount)(2dp) has ≤4 decimals — ×10000 is
          // integer-valued, never at a rounding boundary
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 10000).cast("long")).as("revenue_x10000"),
          count(lit(1)).as("n_items"))
    }),

    "x_top_customers" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      val c = Tables.read(s, dir, "customer")
      o.groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select("c_custkey", "c_name", "n_orders")
        .orderBy(col("n_orders").desc, col("c_custkey"))
        .limit(10)
    }),

    // Keyless point-in-interval join (events × activity windows) via
    // coarse time-bucketing — the equi-joinable form of the one range
    // join the PIT family doesn't cover; the oracle is the plain SQL
    // range join, so the bucketing must be exactly lossless
    "x_interval_join" -> ((s, dir) => {
      val e = events(s, dir)
      val windows = e.filter(col("event_id") % 997 === 0)
        .select(col("event_id").as("window_id"), col("ts").as("ws"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("we"))
      graft.IntervalJoin.pointInInterval(
        e.select("event_id", "ts"), "ts", windows, "ws", "we")
        .select("event_id", "window_id")
    }),

    // FORWARD as-of: first same-user event within 1h after each anchor
    // (next-action attribution — the direction the PIT family's
    // backward TTL can't express); equi-join + range residual, one
    // min(struct) winner, left attachment preserves anchors with no
    // successor
    "x_asof_forward" -> ((s, dir) => {
      val e = events(s, dir)
      val anchors = e.filter(col("event_id") % 97 === 0)
        .select(col("event_id").as("anchor_id"), col("user_id"),
          col("ts"))
      graft.IntervalJoin.firstAfterWithin(
        anchors, "anchor_id", "ts",
        e.select("event_id", "user_id", "ts"), "event_id", "ts",
        Seq("user_id"), horizonSeconds = 86400)
    }),

    // Interval-OVERLAP join (the other keyless range-join form): 1h
    // activity windows × 2h maintenance windows, each overlapping pair
    // emitted exactly once via the canonical-bucket dedup
    "x_interval_overlap" -> ((s, dir) => {
      val e = events(s, dir)
      val wa = e.filter(col("event_id") % 97 === 0)
        .select(col("event_id").as("window_a"), col("ts").as("was"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("wae"))
      val wb = e.filter(col("event_id") % 89 === 0)
        .select(col("event_id").as("window_b"), col("ts").as("wbs"),
          (col("ts") + expr("INTERVAL 2 HOUR")).as("wbe"))
      graft.IntervalJoin.intervalOverlap(wa, "was", "wae", wb, "wbs", "wbe")
        .select("window_a", "window_b")
    }),

    // Skew mitigation through the oracle gate: the salted two-phase
    // aggregate must equal the plain GROUP BY formulation exactly (the
    // oracle IS the unsalted query — same rows, same hashes).
    "x_skew_salted_agg" -> ((s, dir) =>
      graft.Skew.saltedAggregate(
        Tables.read(s, dir, "events")
          .select("event_type", "user_id", "value"),
        keys = Seq("event_type"), buckets = 16,
        partials = Seq(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents")),
        finals = Seq(sum("n").as("n"),
          sum("value_cents").as("value_cents")))),

    // Aggregation-surface extensions beyond the reference (§2.4 lists
    // none): ROLLUP subtotals and a fixed-values PIVOT.
    "x_rollup" -> ((s, dir) =>
      lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          sum("l_quantity").cast("long").as("sum_qty"))),

    // CUBE twin of x_rollup: all four grouping levels in one Expand —
    // the multidimensional report shape. Same exact integer sums.
    "x_cube" -> ((s, dir) =>
      lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          sum("l_quantity").cast("long").as("sum_qty"))),

    // Explicit GROUPING SETS (each one-column set + grand total): the
    // general form rollup/cube specialize — one Expand, one shuffle,
    // same exact arithmetic.
    "x_grouping_sets" -> ((s, dir) => {
      lineitem(s, dir).createOrReplaceTempView("graft_lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
          |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
          |FROM graft_lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
          .stripMargin)
    }),

    "x_pivot" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .groupBy("source")
        // fixed pivot values: deterministic schema, no value-discovery scan
        .pivot("lang", Seq("en", "de", "fr", "es", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)),

    // TPC-H Q3 shape: selective dim broadcast + big fact join + grouped
    // integer-scaled revenue + TakeOrdered top-k (no global sort).
    "x_q3_shipping" -> ((s, dir) => {
      val cutoff = Timestamp.valueOf("1997-06-01 00:00:00")
      val c = Tables.read(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.read(s, dir, "orders")
        .filter(col("o_orderdate") < lit(cutoff))
      val l = lineitem(s, dir).filter(col("l_shipdate") > lit(cutoff))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        // sum(long) is already long here; the oracle's outer ::BIGINT
        // exists only to demote DuckDB's HUGEINT
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000).cast("long")).as("revenue_x10000"))
        .select("l_orderkey", "revenue_x10000", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue_x10000").desc, col("l_orderkey"))
        .limit(10)
    }),

    // gap-based sessionization of the event stream (30-minute gap)
    "x_sessionize" -> ((s, dir) =>
      Sessionize.sessions(
        events(s, dir), "user_id", "ts", "event_id", gapSeconds = 1800)),

    // ordered funnel: signup → view → purchase, per user in time order
    "x_funnel" -> ((s, dir) =>
      Funnel.funnel(events(s, dir), "user_id", "ts", "event_id",
        "event_type", Seq("signup", "view", "purchase"))),

    // weekly cohort retention triangle over the event stream
    "x_retention" -> ((s, dir) =>
      Funnel.retention(events(s, dir), "user_id", "ts")),

    // inter-event gap stats per user: lag over a keyed window, then an
    // all-integer aggregate (sum/max of microsecond gaps — no FP means)
    "x_event_gaps" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum("gap_us").as("sum_gap_us"),
          max("gap_us").as("max_gap_us"))
    }),

    // TPC-H Q4 shape: EXISTS ⇒ LEFT SEMI join with a cross-table
    // residual — orders with at least one late shipment (> 60 days
    // after ordering), counted per priority. The semi join never
    // duplicates or widens order rows; the fact side is consumed
    // existence-only.
    "x_q4_late_orders" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(Timestamp.valueOf("1997-01-01 00:00:00")))
      val l = lineitem(s, dir)
      o.join(l,
          o("o_orderkey") === l("l_orderkey") &&
            l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q18 shape: large-volume orders — big aggregate + HAVING,
    // join back to the fact, broadcast customer dim, top-k. sum over
    // integral quantities cast to long so the aggregate is order-exact.
    "x_q18_big_orders" -> ((s, dir) => {
      val big = lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      val o = Tables.read(s, dir, "orders")
      val c = Tables.read(s, dir, "customer")
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
          col("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: 6-way join, small dims broadcast, local-supplier
    // predicate (customer and supplier in the same nation).
    "x_q5_local_volume" -> ((s, dir) => {
      val lo = Timestamp.valueOf("1996-01-01 00:00:00")
      val hi = Timestamp.valueOf("1998-01-01 00:00:00")
      val r = Tables.read(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = Tables.read(s, dir, "nation")
      val sup = Tables.read(s, dir, "supplier")
      val c = Tables.read(s, dir, "customer")
      val o = Tables.read(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000).cast("long")).as("revenue_x10000"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q6 shape: the pure-pushdown yardstick — every predicate
    // (timestamp range, double range, numeric <) reaches the parquet
    // scan as PushedFilters; the whole query is scan → filter → one
    // map-side-combinable aggregate. At 100 TB this is the query whose
    // cost is row-group pruning, not compute.
    "x_q6_revenue" -> ((s, dir) =>
      lineitem(s, dir)
        .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_shipdate") < lit(Timestamp.valueOf("1998-01-01 00:00:00")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * col("l_discount") * 10000)
            .cast("long")).as("revenue_x10000"))),

    // TPC-H Q14 shape: promo revenue share — fact filtered by date,
    // broadcast dim join, conditional aggregation. The ratio is
    // reported as two exact integer sums (promo, total), not a
    // division, so the gate stays bit-exact.
    "x_q14_promo" -> ((s, dir) => {
      val l = lineitem(s, dir)
        .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1997-09-01 00:00:00")) &&
          col("l_shipdate") < lit(Timestamp.valueOf("1997-10-01 00:00:00")))
      val p = Tables.read(s, dir, "part").select("p_partkey", "p_type")
      val rev = round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 10000).cast("long")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0L)))
            .as("promo_x10000"),
          sum(rev).as("total_x10000"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q19 shape: a disjunction of (brand, size-range,
    // quantity-range) conjunctions across the fact⋈dim join — the
    // optimizer must push the common l_partkey equi-key through the OR
    // and broadcast the dim; the residual OR evaluates post-join.
    "x_q19_disjunctive" -> ((s, dir) => {
      val p = Tables.read(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val cond =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 10000).cast("long")).as("revenue_x10000"))
    }),

    // TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    // join with the priority filter folded into the JOIN condition (so
    // customers with no qualifying orders survive with count 0),
    // followed by a re-aggregation of the aggregate. First groupBy
    // shuffles on c_custkey (cardinality grows with data); the second
    // is a handful of distinct counts.
    "x_q13_custdist" -> ((s, dir) => {
      val c = Tables.read(s, dir, "customer").select("c_custkey")
      val o = Tables.read(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q15 shape: top supplier by quarterly revenue — the scalar
    // MAX subquery re-expressed as an equi-join against a 1-row
    // broadcast aggregate (no driver collect, no nested loop). Revenue
    // is an exact integer sum, so the max and the equality filter are
    // bit-deterministic in any engine.
    "x_q15_top_supplier" -> ((s, dir) => {
      val rev = lineitem(s, dir)
        .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_shipdate") < lit(Timestamp.valueOf("1997-04-01 00:00:00")))
        .groupBy("l_suppkey")
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000).cast("long")).as("total_revenue_x10000"))
      val top = rev.agg(max(col("total_revenue_x10000")).as("max_rev"))
      val sup = Tables.read(s, dir, "supplier").select("s_suppkey", "s_name")
      rev.join(broadcast(top), col("total_revenue_x10000") === col("max_rev"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_x10000")
    }),

    // TPC-H Q17 shape: the correlated per-part AVG subquery,
    // decorrelated into a grouped aggregate + join-back, with the
    // 0.2·avg comparison done in EXACT integers (qty·cnt·5 < sum_qty —
    // l_quantity is integral) so no engine's FP average can diverge
    // the gate. Both the stats build and the join-back shuffle on
    // l_partkey.
    "x_q17_small_qty" -> ((s, dir) => {
      val p = Tables.read(s, dir, "part")
        .filter(col("p_brand") === "Brand#1" && col("p_size") < 15)
        .select("p_partkey")
      val l = lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          col("l_extendedprice"))
      val stats = l.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
      l.join(stats, col("l_partkey") === col("pk"))
        .filter(col("qty") * col("cnt") * 5 < col("sum_qty"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * 10000).cast("long"))
            .as("price_x10000"))
    }),

    // TPC-H Q21 shape (adapted to this schema's columns): for every
    // lineitem in a MULTI-supplier order (EXISTS ⇒ left-semi
    // self-join), keep it only if NO other supplier in that order
    // shipped later (NOT EXISTS ⇒ left-anti self-join with a strict
    // inequality residual), then count "last shipper" items per
    // supplier. Both self-joins shuffle on l_orderkey, whose
    // cardinality scales with the fact table; the supplier dim
    // broadcasts. Top-k order (numwait DESC, s_suppkey) is total.
    "x_q21_last_shipper" -> ((s, dir) => {
      val l1 = lineitem(s, dir).select("l_orderkey", "l_suppkey", "l_shipdate")
      val l2 = lineitem(s, dir).select(col("l_orderkey").as("o2"),
        col("l_suppkey").as("s2"))
      val l3 = lineitem(s, dir).select(col("l_orderkey").as("o3"),
        col("l_suppkey").as("s3"), col("l_shipdate").as("d3"))
      val sup = Tables.read(s, dir, "supplier").select("s_suppkey", "s_name")
      l1.join(l2, col("l_orderkey") === col("o2") &&
          col("l_suppkey") =!= col("s2"), "left_semi")
        .join(l3, col("l_orderkey") === col("o3") &&
          col("l_suppkey") =!= col("s3") &&
          col("d3") > col("l_shipdate"), "left_anti")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(10)
    }),

    // TPC-H Q22 shape: above-average-balance customers with NO urgent
    // order — LEFT ANTI join for NOT EXISTS, and the scalar AVG
    // threshold as a structurally-licensed 1-row broadcast stats row
    // (cents·n_pos > sum_cents in exact integers — the average needs
    // no FP division anywhere).
    "x_q22_idle_customers" -> ((s, dir) => {
      val c = Tables.read(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long").as("cents"))
      val stats = c.filter(col("cents") > 0)
        .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n_pos"))
      val urgent = Tables.read(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(stats))
        .filter(col("cents") * col("n_pos") > col("sum_cents"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_custs"), sum(col("cents")).as("total_cents"))
    }),

    // TPC-H Q9 shape: product-line profit by supplier nation and year —
    // the 5-way join tree (part filter broadcast, supplier+nation
    // broadcast, lineitem⋈orders shuffle on l_orderkey). No partsupp ⇒
    // unit cost stands in as 80% of p_retailprice; profit = revenue −
    // cost·qty, every term exact cents (qty is integral).
    "x_q9_profit" -> ((s, dir) => {
      val p = Tables.read(s, dir, "part")
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey"),
          round(col("p_retailprice") * 80).cast("long").as("cost_cents"))
      val sup = Tables.read(s, dir, "supplier")
        .join(broadcast(Tables.read(s, dir, "nation")
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.read(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long") -
          col("cost_cents") * col("l_quantity").cast("long"))
          .as("profit_cents"))
    }),

    // TPC-H Q10 shape: top customers by revenue lost to RETURNED items
    // in a quarter — lineitem⋈orders on the fact keys, customer dim
    // joined after the aggregate (top-k rows only), nation broadcast.
    "x_q10_returned" -> ((s, dir) => {
      val rev = lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(Tables.read(s, dir, "orders")
          .filter(col("o_orderdate") >= lit(Timestamp.valueOf("1997-01-01 00:00:00")) &&
            col("o_orderdate") < lit(Timestamp.valueOf("1997-04-01 00:00:00")))
          .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000).cast("long")).as("revenue_x10000"))
      val cust = Tables.read(s, dir, "customer")
        .join(broadcast(Tables.read(s, dir, "nation")
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      rev.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("acctbal_cents"), col("revenue_x10000"))
        .orderBy(col("revenue_x10000").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q12 shape: conditional priority counts over LATE shipments
    // (l_shipdate > o_orderdate + 60 days), grouped by return flag (the
    // schema's shipmode stand-in) — one fact⋈fact equi-join and two
    // conditional sums.
    "x_q12_late_priority" -> ((s, dir) => {
      lineitem(s, dir)
        .join(Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
    }),

    // TPC-H Q2 shape (this schema has no partsupp — lineitem is the
    // part×supplier supply relation): for each STANDARD small part, the
    // EUROPE supplier(s) with the minimum price ever charged for it.
    // The correlated min-cost subquery is decorrelated into a grouped
    // min + join-back on (partkey, cost); the part and supplier dims
    // (supplier pre-joined to its broadcast nation/region) broadcast
    // into the fact scan, so the only real shuffles are the offer
    // aggregation and its join-back — both keyed on l_partkey, which
    // scales with the data. All money exact cents.
    "x_q2_min_cost" -> ((s, dir) => {
      val p = Tables.read(s, dir, "part")
        .filter(col("p_type") === "STANDARD" && col("p_size") < 10)
        .select("p_partkey")
      val nat = Tables.read(s, dir, "nation")
        .join(broadcast(Tables.read(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"), "left_semi")
      val sup = Tables.read(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"),
          round(col("s_acctbal") * 100).cast("long").as("acctbal_cents"))
      val offers = lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup.select("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(round(col("l_extendedprice") * 100).cast("long"))
          .as("cost_cents"))
      val minCost = offers.groupBy(col("l_partkey").as("mk"))
        .agg(min(col("cost_cents")).as("min_cost"))
      offers
        .join(minCost, col("l_partkey") === col("mk") &&
          col("cost_cents") === col("min_cost"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(col("acctbal_cents"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"), col("cost_cents"))
        .orderBy(col("acctbal_cents").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q7 shape: bilateral shipping volume between two nations by
    // year — the customer side reaches its nation through orders
    // (lineitem⋈orders on l_orderkey, orders⋈customer on o_custkey:
    // both shuffles on keys whose cardinality scales), the supplier and
    // both nation dims broadcast. The two-direction predicate evaluates
    // post-join on the broadcast-joined nation names.
    "x_q7_volume" -> ((s, dir) => {
      val nat = Tables.read(s, dir, "nation").select("n_nationkey", "n_name")
      val sup = Tables.read(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Tables.read(s, dir, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      lineitem(s, dir)
        .join(Tables.read(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .filter(
          (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000).cast("long")).as("revenue_x10000"))
    }),

    // TPC-H Q8 shape: one nation's market share inside a region's
    // market by year. Numerator (NATION_3-supplied revenue) and
    // denominator are both exact integer sums carried to the output;
    // the published share is one IEEE long÷long division rounded to
    // 6dp — bit-identical across engines. ASIA-customer scoping is a
    // left-semi of customers against the broadcast nation⋉region set.
    "x_q8_market_share" -> ((s, dir) => {
      val nat = Tables.read(s, dir, "nation")
      val asiaNations = nat.join(broadcast(Tables.read(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"), "left_semi")
      val cust = Tables.read(s, dir, "customer")
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"),
          "left_semi")
        .select("c_custkey")
      val sup = Tables.read(s, dir, "supplier")
        .join(broadcast(nat.select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val p = Tables.read(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select("p_partkey")
      lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(year(col("o_orderdate")).as("o_year"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
            .cast("long").as("vol"),
          col("supp_nation"))
        .groupBy("o_year")
        .agg(
          sum(when(col("supp_nation") === "NATION_3", col("vol"))
            .otherwise(0L)).as("nation_x10000"),
          sum(col("vol")).as("total_x10000"))
        .withColumn("mkt_share",
          round(col("nation_x10000").cast("double") / col("total_x10000"), 6))
    }),

    // TPC-H Q11 shape: parts whose revenue exceeds a fraction of the
    // GLOBAL revenue — grouped aggregate HAVING against a global
    // scalar, the scalar carried as a structurally-licensed 1-row
    // broadcast stats row and compared in exact integers. The
    // threshold is 4/3 of the MEAN part value (v·n·3 > total·4), not a
    // fixed share — part count scales with SF, so a fixed fraction
    // selects a vanishing (eventually empty) set while the mean-based
    // tail stays a stable "important parts" population at any scale.
    "x_q11_important_parts" -> ((s, dir) => {
      val perPart = lineitem(s, dir)
        .groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000).cast("long")).as("value_x10000"))
      val total = perPart.agg(sum(col("value_x10000")).as("grand_x10000"),
        count(lit(1)).as("n_parts"))
      perPart.crossJoin(broadcast(total))
        // Threshold arithmetic in Decimal: value_x10000 (~1e13 at large
        // SF) * n_parts (~1e8) * 3 passes Long.MaxValue around SF 1e4;
        // Spark would wrap silently with ANSI off while DuckDB promotes
        // to HUGEINT, so both sides compare in decimal(38,0), which
        // holds to ~1e38 — beyond any physical SF.
        .filter(col("value_x10000").cast("decimal(38,0)")
            * col("n_parts") * 3 >
          col("grand_x10000").cast("decimal(38,0)") * 4)
        .select(col("l_partkey").as("p_partkey"), col("value_x10000"))
    }),

    // TPC-H Q16 shape: distinct-supplier counts per part group with a
    // NOT IN exclusion — the excluded supplier set (negative balance,
    // the schema's stand-in for complaint suppliers) is a broadcast
    // LEFT ANTI; the distinct count shuffles on the (brand, type,
    // size) group key after the broadcast part-dim join.
    "x_q16_supplier_count" -> ((s, dir) => {
      val p = Tables.read(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO")
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val excluded = Tables.read(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H Q20 shape: nested semi-joins — suppliers in NATION_4 who
    // DOMINATED shipping of some 'small %' part in 1997 (their own
    // shipped quantity > 20% of the part's total). The inner level is
    // a part-name semi-join into the fact scan; the per-(part, supp)
    // and per-part aggregates shuffle on l_partkey; the comparison is
    // exact integers (qty·5 > total); the outer level is the supplier
    // dim left-semi against the qualifying supplier set.
    "x_q20_dominant_suppliers" -> ((s, dir) => {
      val pk = Tables.read(s, dir, "part")
        .filter(col("p_name").startsWith("small")).select("p_partkey")
      val l97 = lineitem(s, dir)
        .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_shipdate") < lit(Timestamp.valueOf("1998-01-01 00:00:00")))
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"))
      val bySupp = l97.groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("qty")).as("supp_qty"))
      val byPart = l97.groupBy(col("l_partkey").as("pk2"))
        .agg(sum(col("qty")).as("part_qty"))
      val dominant = bySupp.join(byPart, col("l_partkey") === col("pk2"))
        .filter(col("supp_qty") * 5 > col("part_qty"))
        .select("l_suppkey")
      Tables.read(s, dir, "supplier")
        .join(broadcast(Tables.read(s, dir, "nation")
          .filter(col("n_name") === "NATION_4")),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    }),

    // Set operations (INTERSECT / EXCEPT — distinct set semantics in
    // both engines): customers who placed an URGENT order AND a
    // high-value one but never a 5-LOW one. Each leg is a pruned,
    // pushdown-filtered scan; the set ops hash-shuffle on the key like
    // any distinct — no sort, no nested loop.
    "x_setops" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      val big = o.filter(col("o_totalprice") > 200000.0).select("o_custkey")
      val low = o.filter(col("o_orderpriority") === "5-LOW")
        .select("o_custkey")
      urgent.intersect(big).except(low)
    }),

    // Ranking-window surface beyond row_number (the reference's W1):
    // ntile / percent_rank / cume_dist / lag in ONE window pass,
    // partitioned by user_id (key cardinality scales with users — not
    // the 3-partition scale trap). percent_rank and cume_dist are
    // exact rationals of the same ints in any engine; (ts, event_id)
    // is a unique total order per user so no tie can reorder frames;
    // the lag delta is computed on exact cents.
    "x_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val cents = round(col("value") * 100).cast("long")
      events(s, dir).select(
        col("user_id"), col("event_id"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cum_dist"),
        (cents - lag(cents, 1).over(w)).as("delta_cents"))
    }),

    // Statistical anomaly detection (the data-quality sibling of
    // x_profile_events): per-user 3σ outliers, with the z-score test
    // algebraized to EXACT integers — (c·n − S)² > 9(n·Q − S²) over
    // cents c, count n, sum S, sum-of-squares Q — so there is no mean,
    // no variance, no division, and no FP anywhere for engines to
    // disagree on. One window pass partitioned by user_id (scaling key
    // cardinality); σ=0 and n=1 groups flag nothing by construction.
    // Long-range check: |terms| ≤ 9·n²·max(c)² ≈ 2e18 at n=10⁴
    // events/user and c ≤ 5×10⁴ cents — inside Long with margin.
    // ENTITY RESOLUTION — the record-linkage primitive: match each
    // clean entity name against a deterministically-dirtied feed
    // (1-in-4 one-char substitution, 1-in-4 one-char deletion) under
    // edit distance ≤ 2. Candidates via Gravano et al.'s positional
    // q-gram count filter (ONE gram equi-join + |Δpos| ≤ k residual +
    // a grouped distinct-position count ≥ max(len)−q+1−k·q), then the
    // exact integer levenshtein verify — output is the TRUE edit-
    // distance join, the filter only prunes. Planted dirt is recovered
    // with recall 1.0 by the filter theorem (each edit destroys ≤ q
    // grams); the 64-word name vocabulary has pairwise distance ≥ 3,
    // so word-level mismatches can never sneak under k.
    // The %10 key subset bounds the GATE's cost, not the operator's
    // design: the fixture's 64-word vocabulary gives every q-gram a
    // document frequency ~N/250 (real names carry gram diversity that
    // grows with the data), so the candidate count is quadratic in the
    // fixture's N by construction — the same degenerate-vocabulary
    // class the sparse-retrieval probes license and STATUS.md's
    // Zipfian-vocabulary contrast table quantifies. 150 entities at
    // sf0.01 still exercise both dirt classes and the clean path.
    "x_entity_resolution" -> ((s, dir) => {
      val f = graft.llm.Fuzzy
      val c = Tables.read(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(10L)) === 0)
      val left = c.select(col("c_custkey").as("id"),
        f.erName(col("c_custkey")).as("name"))
      val right = c.select(col("c_custkey").as("id"),
        f.erDirty(f.erName(col("c_custkey")), col("c_custkey")).as("name"))
      f.qgramEditJoin(left, right, "id", "name", q = 3, k = 2)
    }),

    // ENTITY RESOLUTION ON THE REALISTIC NAME CORPUS (VERDICT r16 #5):
    // names derived deterministically from doc_id — head-heavy Zipf
    // given names + uniform-48-bit surnames (Fuzzy.erName2) — so the
    // sf0.01 oracle is stable while the probe dirs scale the corpus
    // 10×/decade with gram diversity that GROWS with the data (unlike
    // the 64-word gate fixture above). Two operators head-to-head on
    // identical input/output (both are the TRUE edit join; the DuckDB
    // oracle — the Gravano chain — is a THIRD independent derivation):
    //  * x_er_names_seg: the segment-pair partition signature
    //    (Fuzzy.segmentPairEditJoin) — candidates keyed by PAIRS of
    //    ~5-char segments, so the given-name head block is divided by
    //    surname entropy and the candidate count stays ~linear. The
    //    standing scale row.
    //  * x_er_names_gram: the positional q-gram count filter on the same
    //    corpus — the LICENSED contrast: any bounded-alphabet gram
    //    scheme pays Θ((p_head·N)²) fan-out from the given-name head
    //    (p_head ≈ 0.4 % here, the census ballpark), so this row is
    //    priced at the first probe decade only, like the dense
    //    knn_sparse_tfidf contrast.
    // FIXTURE-expression lineage cut (r17): erName2/erDirty are deep
    // integer-exact expression trees (nested proquint renders; erDirty
    // references its name argument 6x, each re-expanding the whole
    // tree), and the multi-way candidate joins reference the name
    // relations at many plan sites - the composed logical plan reached
    // multi-MB task binaries and the DRIVER spent ~20 s/run in
    // optimizer+codegen across AQE stages while executors sat ~90 %
    // idle (vmstat'd). A LAZY localCheckpoint on the 5 000-row name
    // relations truncates the lineage to a plain (id, name) leaf: the
    // synthesis still executes inside the timed region on every run
    // (eager = false, and each bench rep builds a fresh DataFrame -
    // nothing is reused across runs), while downstream plans shrink to
    // ordinary column refs. At real scale names arrive as stored
    // columns, so the expression tree is a fixture artifact, not
    // operator cost - same license as the persisted serving batch.
    "x_er_names_seg" -> ((s, dir) => {
      val f = graft.llm.Fuzzy
      val d = Tables.read(s, dir, "documents").select(col("doc_id"))
      val left = d.select(col("doc_id").as("id"),
        f.erName2(col("doc_id")).as("name")).localCheckpoint(false)
      val right = d.select(col("doc_id").as("id"),
        f.erDirty(f.erName2(col("doc_id")), col("doc_id")).as("name"))
        .localCheckpoint(false)
      f.segmentPairEditJoin(left, right, "id", "name", k = 2)
    }),

    "x_er_names_gram" -> ((s, dir) => {
      val f = graft.llm.Fuzzy
      val d = Tables.read(s, dir, "documents").select(col("doc_id"))
      val left = d.select(col("doc_id").as("id"),
        f.erName2(col("doc_id")).as("name")).localCheckpoint(false)
      val right = d.select(col("doc_id").as("id"),
        f.erDirty(f.erName2(col("doc_id")), col("doc_id")).as("name"))
        .localCheckpoint(false)
      f.qgramEditJoin(left, right, "id", "name", q = 3, k = 2)
    }),

    // WINSORIZATION — per-event-type p5/p95 clipping of the quantized
    // value (robust feature scaling): exact integer-rank cuts at
    // ⌈p·n/1000⌉ from the two-level binned scan (windows bounded by
    // bin count, never rows), broadcast cut table, per-row clamp.
    "x_winsorize" -> ((s, dir) =>
      Anomaly.winsorize(
        events(s, dir).filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("value_cents")),
        groupCol = "event_type", valueCol = "value_cents",
        loPermille = 50, hiPermille = 950, binWidth = 1000L)
        .select("event_id", "event_type", "value_cents",
          "value_cents_w")),

    "x_anomaly_zscore" -> ((s, dir) =>
      Anomaly.zscoreOutliers(
        events(s, dir).filter(col("value").isNotNull)
          .select(col("user_id"), col("event_id"),
            round(col("value") * 100).cast("long").as("value_cents")),
        groupKeys = Seq("user_id"), valueCentsCol = "value_cents")
        .select("user_id", "event_id", "value_cents")),

    // SCD Type-2 history build: each event becomes a validity interval
    // [valid_from, valid_to) per user, closed by the NEXT event's ts
    // (lead over a user_id-partitioned window — ~10k keys here, key
    // cardinality grows with users at scale, never a global sort). The
    // open (latest) row keeps valid_to NULL. Deterministic tie-break on
    // event_id.
    "x_scd2_history" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      events(s, dir).select("user_id", "event_id", "ts", "value")
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_id"),
          col("ts").as("valid_from"), col("valid_to"),
          round(col("value") * 100).cast("long").as("value_cents"))
    }),

    // Column profiling (the data-quality precursor every ingest
    // pipeline runs): row count, per-column distinct counts, null
    // tally, min/max bounds, checksum. TWO countDistinct in one
    // aggregate plan via Expand — every input row replicated 3× and
    // re-aggregated by (user_id, event_type, gid), so the profiling
    // scan pays 3N row-evals and a distinct-keyed shuffle (r17 10×
    // probe: 52×/decade). Splitting each distinct count into its own
    // single-row aggregate keeps every leg Expand-free and map-side
    // combinable, each scan column-pruned to exactly one parquet
    // column; the single-row crossJoins are the structurally-licensed
    // stats-row shape (PlanAuditSpec). Same values, schema, and column
    // order — the oracle is unchanged.
    "x_profile_events" -> ((s, dir) => {
      val e = events(s, dir)
      val main = e.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_values"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      val nTypes = e.select("event_type").agg(
        countDistinct(col("event_type")).as("n_types"))
      main.crossJoin(broadcast(nTypes))
        .select(col("n_rows"), col("n_users"), col("n_types"),
          col("null_values"), col("min_ts"), col("max_ts"),
          col("value_cents"))
    }),

    // Approximate-query sketches (graft.llm.Sketches): deterministic
    // md5-hashed register builds, so even the ESTIMATES hash-match an
    // independent engine. Each sketch is a ≤2048-group map-side
    // combinable aggregation — KB-sized shuffles at any input size.
    "sketch_hll_distinct" -> ((s, dir) =>
      graft.llm.Sketches.hllDistinct(lineitem(s, dir), "l_orderkey")),

    // Exact DECIMAL(p,s) arithmetic through the read → compute → agg
    // path (closes the type-surface gap the reference left open:
    // hive_type_map.py:84-85 comments decimal support out entirely).
    // Casts, scale-propagating multiplication and order-free exact sums
    // are identical in both engines, so the gate is bit-exact — no
    // double rounding anywhere after the initial cast.
    // CDC / MERGE-apply: fold a deterministic change batch (a stale
    // lower-version image that must LOSE, a winning update, and
    // deletes) into the orders snapshot. No FP arithmetic anywhere —
    // payload values pass through both engines untouched.
    "x_cdc_apply" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val upd = o.filter(col("o_orderkey") % 10 === 0)
      val ch = upd.select(col("o_orderkey"), lit(1).as("version"),
          lit("U").as("op"), lit("STALE").as("o_orderstatus"),
          col("o_totalprice"))
        .unionByName(upd.select(col("o_orderkey"), lit(2).as("version"),
          lit("U").as("op"), lit("X").as("o_orderstatus"),
          col("o_totalprice")))
        .unionByName(o.filter(col("o_orderkey") % 100 === 7)
          .select(col("o_orderkey"), lit(2).as("version"),
            lit("D").as("op"), col("o_orderstatus"), col("o_totalprice")))
      Cdc.applyChanges(o, ch, Seq("o_orderkey"), "version", "op")
    }),

    "x_decimal_revenue" -> ((s, dir) =>
      lineitem(s, dir)
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(12,2)").as("price"),
          (lit(1) - col("l_discount")).cast("decimal(4,2)").as("disc"))
        .groupBy("l_returnflag")
        // final decimals ship as STRINGS: the gate then compares exact
        // decimal DIGITS (trailing zeros included), immune to either
        // engine's decimal→dataframe conversion (DuckDB's client lossily
        // floats decimals; Spark keeps objects — stringifying both sides
        // makes the comparison strictly tighter, not looser)
        .agg(
          sum(expr("price * disc")).cast("decimal(18,4)")
            .cast("string").as("dec_revenue"),
          max("price").cast("string").as("max_price"),
          count(lit(1)).as("n"))),

    // pure sketch path: registers + 20 fixed candidate probes — the
    // exact count-and-sort yardstick lives in SketchesSpec (which
    // proves n_est ≥ n_true via cmsTopK), not in the measured query
    "sketch_cms_topk" -> ((s, dir) =>
      graft.llm.Sketches.cmsEstimates(
        lineitem(s, dir), "l_partkey", (1L to 20L).toSeq)),

    "sketch_bloom_semijoin" -> ((s, dir) =>
      graft.llm.Sketches.bloomSemiJoinStats(
        Tables.read(s, dir, "orders"), "o_custkey",
        Tables.read(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING"), "c_custkey")),

    // Rolling event-time range window — the per-entity trailing-window
    // feature shape (count + sum over the last 7 days AS OF each event).
    // RANGE frame on epoch seconds ⇔ DuckDB's INTERVAL frame; the summed
    // measure is integer cents, so the two engines' different window
    // evaluation orders (running vs segment tree) cannot diverge.
    "x_rolling_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").cast("long"))
        .rangeBetween(-7L * 24 * 3600 + 1, 0) // (ts-7d, ts] inclusive
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_7d"),
          sum("cents").over(w).as("cents_7d"))
    }),

    // Per-entity forward fill (last-observation-carried-forward): the
    // most recent purchase amount AS OF each event — the gap-fill shape
    // every feature pipeline needs for sparse signals. Total order =
    // (floored epoch second, event_id): the same engine-portable time
    // key as x_rolling_window, with event_id making ties deterministic;
    // the carried measure is integer cents. ROWS frame + ignoreNulls
    // last() is a single pass per partition — no self-join, no shuffle
    // beyond the one window partitioning.
    "x_forward_fill" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").cast("long"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).as("cents"))
        .select(col("event_id"), col("user_id"),
          last(col("cents"), ignoreNulls = true).over(w)
            .as("last_purchase_cents"))
    }),

    // Deterministic fixed-point PageRank over the part↔supplier graph —
    // the graph-centrality quality signal corpus pipelines use for
    // source weighting. Integer arithmetic end to end (graft.llm.Graph),
    // so three full damped iterations hash-match the oracle's unrolled
    // SQL twin exactly.
    "graph_pagerank" -> ((s, dir) => {
      val li = lineitem(s, dir)
      // LONG node encoding for the bipartite graph (parts even,
      // suppliers odd — disjoint namespaces without strings), so every
      // iteration's join+groupBy shuffles 8-byte keys (VERDICT r6 #5)
      val fwd = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = li.select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_partkey") * 2).as("dst"))
      graft.llm.Graph.pageRank(fwd.union(rev), "src", "dst", iters = 3)
        .orderBy(col("rank_scaled").desc, col("node")).limit(20)
    }),

    // HITS hubs & authorities (Kleinberg) over the DIRECTED part →
    // supplier graph — the two-sided centrality PageRank can't express
    // (a part is a good hub if supplied by authoritative suppliers and
    // vice versa). Integer fixed point end to end (graft.llm.Graph
    // .hits): per half-step one window sum along the edges, L1
    // normalization by the previous half-step's folded sum —
    // bit-identical across engines, oracle unrolled.
    "graph_hits" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val edges = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      graft.llm.Graph.hits(edges, "src", "dst", iters = 3)
        .orderBy(col("auth_scaled").desc, col("node")).limit(20)
    }),

    // TrustRank (Gyöngyi et al. 2004) — seeded PageRank whose teleport
    // mass is confined to a trusted seed set (suppliers from the first
    // five nations), the spam-demotion signal plain PageRank can't
    // express: in-degree alone buys rank, but not proximity to a
    // curated allowlist. Same integer fixed-point discipline and
    // per-round join shape as graph_pagerank; dangling mass re-enters
    // through the seed distribution (the personalized-PR convention).
    "graph_trustrank" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val fwd = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = li.select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_partkey") * 2).as("dst"))
      val seeds = Tables.read(s, dir, "supplier")
        .filter(col("s_nationkey") < 5)
        .select((col("s_suppkey") * 2 + 1).as("node"))
      graft.llm.Graph.trustRank(fwd.union(rev), "src", "dst",
          seeds, "node", iters = 3)
        .orderBy(col("trust_scaled").desc, col("node")).limit(20)
    }),

    // KMV set algebra — |A∪B| AND |A∩B| estimates (the operation HLL
    // cannot do) over user-day activity sets for two event types. The
    // composite key lifts cardinality past k at sf0.01 (estimator
    // branch) while sf0.001 stays under it (exact-sketch branch) — both
    // regimes go through the oracle gate across the driver's SFs.
    // PURE sketch path (bounded bottom-k registers + arithmetic on ≤2k
    // rows); the exact-count yardstick lives in SketchSpec — the
    // cms_topk treatment (VERDICT r6 #7) applied to KMV
    "sketch_kmv_setops" -> ((s, dir) =>
      graft.llm.Sketches.kmvSetEstimates(
        events(s, dir).withColumn("ukey",
          col("user_id") * 1000 + dayofyear(col("ts"))),
        "ukey", "event_type", "click", "view")),

    // Windowed HLL — "distinct users per hour" with 256 registers per
    // window instead of a per-window distinct-user set. The estimate is
    // oracle-replayed per window like the global sketch; exact count
    // rides along as the yardstick. Streaming twin: hllWindowedStream.
    "sketch_hll_windowed" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(date_trunc("HOUR", col("ts")).as("hour"), col("user_id"))
      val est = graft.llm.Sketches.hllEstimateBy(
        graft.llm.Sketches.hllRegistersBy(ev, "user_id", Seq("hour")),
        Seq("hour"))
      val exact = ev.groupBy("hour")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(est, Seq("hour"))
        .select("hour", "n_exact", "est_hll", "method",
          "registers_nonzero", "denom")
    }),

    // EXACT per-group quantiles (percentile_disc semantics: the value at
    // position ceil(q·n)) WITHOUT any group-sized sort partition — the
    // TWO-PASS cumulative count (VERDICT r7 #3):
    //   1. run-length-compress to the (group, value, cnt) frequency
    //      table (map-side combinable) and coarse-bucket values into
    //      fixed-width bins;
    //   2. per-(group, bin) totals → per-group cumulative BIN OFFSETS —
    //      a window over the bin table (≤ a few hundred rows/group,
    //      bounded by value range / width, never by row count);
    //   3. the within-bin cumulative runs in a window partitioned by
    //      (group, bin) — each partition bounded by the value-tick count
    //      per bin (width/0.01 for a 2dp price), not by group size;
    //      global cum = broadcast bin offset + within-bin cum.
    // At 3 groups the old single window meant 3 sort partitions of the
    // whole distinct-value table; this shape keeps every sort bounded
    // and engine-exact (integer cum, identical IEEE q·n products).
    "x_quantiles" -> ((s, dir) => {
      val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
      val width = 512.0
      val vf = lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("bin", floor(col("v") / width).cast("long"))
      val binTot = vf.groupBy(col("l_returnflag"), col("bin"))
        .agg(sum("cnt").as("bcnt"))
      val byBin = Window.partitionBy("l_returnflag").orderBy("bin")
      val offs = binTot
        .withColumn("off", sum("bcnt").over(byBin) - col("bcnt"))
        .select("l_returnflag", "bin", "off")
      val nPerG = binTot.groupBy("l_returnflag").agg(sum("bcnt").as("n"))
      val byV = Window.partitionBy("l_returnflag", "bin").orderBy("v")
      vf.withColumn("wcum", sum("cnt").over(byV))
        .join(broadcast(offs), Seq("l_returnflag", "bin"))
        .join(broadcast(nPerG), Seq("l_returnflag"))
        .withColumn("cum", col("off") + col("wcum"))
        .withColumn("qq", explode(array(qs.map(q =>
          struct(lit(q).as("q"),
            ceil(lit(q) * col("n")).as("pos"))): _*)))
        .filter(col("cum") - col("cnt") < col("qq.pos") &&
          col("qq.pos") <= col("cum"))
        .select(col("l_returnflag"), col("qq.q").as("q"),
          col("v").as("value"))
    }),

    // The ONE-PASS 100 TB quantile path: a fixed-width histogram
    // (bounded state — ≤256 bins per group regardless of row count,
    // map-side combinable) bracketing each quantile to its bin
    // [est_lo, est_hi). Bin indices are floor(v/width) — integer-exact
    // in both engines. QuantilesSpec asserts every exact x_quantiles
    // value falls inside its bracket.
    "x_quantiles_approx" -> ((s, dir) => {
      val width = 512.0
      val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
      val bins = lineitem(s, dir)
        .groupBy(col("l_returnflag"),
          floor(col("l_extendedprice") / width).cast("long").as("bin"))
        .agg(count(lit(1)).as("cnt"))
      val byBin = Window.partitionBy("l_returnflag").orderBy("bin")
      val all = Window.partitionBy("l_returnflag")
      bins.withColumn("cum", sum("cnt").over(byBin))
        .withColumn("n", sum("cnt").over(all))
        .withColumn("qq", explode(array(qs.map(q =>
          struct(lit(q).as("q"),
            ceil(lit(q) * col("n")).as("pos"))): _*)))
        .filter(col("cum") - col("cnt") < col("qq.pos") &&
          col("qq.pos") <= col("cum"))
        .select(col("l_returnflag"), col("qq.q").as("q"),
          (col("bin") * width).as("est_lo"),
          ((col("bin") + 1) * width).as("est_hi"),
          col("cnt").as("n_in_bin"))
    }),

    // The MERGEABLE quantile sketch (Sketches.quantileSketchBy): bounded
    // bottom-k-by-hash row sample + positional quantiles — one
    // map-side-combinable pass, O(groups·k) shuffle at any input size,
    // no value-range assumption (vs x_quantiles_approx) and no
    // distinct-value state growth (vs x_quantiles). Deterministic by
    // merge-order invariance, so the ESTIMATES hash-match the oracle's
    // replay. QuantileSketchSpec proves the DKW rank-error bound.
    "x_quantiles_sketch" -> ((s, dir) => {
      val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
      graft.llm.Sketches.quantileSketchBy(
        lineitem(s, dir), Seq("l_returnflag"), "l_extendedprice",
        concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string")),
        qs, k = 1024)
    }),

    // Z-order (Morton) clustering key — the data-layout lever
    // (graft.Layout): pure integer bit interleaving, oracle-checked
    // per row; LayoutSpec proves the FILE-SKIPPING effect of writing
    // with Layout.writeZOrdered.
    "x_zorder" -> ((s, dir) =>
      lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        Layout.zOrder2(col("l_partkey"), col("l_suppkey")).as("zval"))),

    // Z-ORDER LAYOUT EFFECTIVENESS (round 14) — the pruning argument in
    // NUMBERS, not prose: both keys normalized to the 16-bit Morton grid
    // (min/max driver scalars inlined as literals — the J1 pattern, so
    // the normalization constant-folds), rows assigned to 32 buckets two
    // ways — top-5 Morton bits (the z-clustered file layout
    // Layout.writeZOrdered produces) vs top-5 bits of the FIRST key (the
    // linear-sort layout) — and each bucket reports its min/max span on
    // BOTH dimensions. Z buckets bound both spans (≈ range/4 × range/8
    // for 2+3 interleaved bits); linear buckets bound only the sort key
    // and leave the second dimension at full range — exactly the footer
    // min/max a range predicate on suppkey could never prune. One scan,
    // two map-side-combinable aggregates, a 32-row join.
    "x_zorder_layout" -> ((s, dir) => {
      val li = lineitem(s, dir)
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      val r = li.agg(min(col("pk")), max(col("pk")),
        min(col("sk")), max(col("sk"))).head()
      val (pkMin, pkMax) = (r.getLong(0), r.getLong(1))
      val (skMin, skMax) = (r.getLong(2), r.getLong(3))
      val g = li
        .withColumn("x16", expr(
          s"CAST(((pk - $pkMin) * 65536) DIV ${pkMax - pkMin + 1} AS BIGINT)"))
        .withColumn("y16", expr(
          s"CAST(((sk - $skMin) * 65536) DIV ${skMax - skMin + 1} AS BIGINT)"))
      val zb = g
        .withColumn("bucket",
          shiftright(Layout.zOrder2(col("x16"), col("y16")), 27))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_z"),
          (max(col("pk")) - min(col("pk"))).as("z_pk_span"),
          (max(col("sk")) - min(col("sk"))).as("z_sk_span"))
      val lb = g
        .withColumn("bucket", shiftright(col("x16"), 11))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_lin"),
          (max(col("pk")) - min(col("pk"))).as("lin_pk_span"),
          (max(col("sk")) - min(col("sk"))).as("lin_sk_span"))
      zb.join(lb, "bucket")
    }),

    // COMPACTION PLANNING (Layout.compactionPlan — the metadata stage
    // in front of Layout.compactParquet): a synthetic per-(day, writer)
    // file listing derived deterministically from events (size = 1KB
    // header + 64B/row + payload bytes — the small-files shape a
    // streaming/CDC sink leaves behind), binned into ≈64KB rewrite
    // groups per month partition. Greedy size-DESC fill via ONE window
    // over the LISTING (rows = file count, never data rows).
    "x_compaction_plan" -> ((s, dir) => {
      val files = Tables.read(s, dir, "events")
        .groupBy(to_date(col("ts")).as("dt"),
          pmod(col("user_id"), lit(8L)).as("writer"))
        .agg((lit(1024L) + count(lit(1)) * lit(64L) +
          sum(length(col("props")))).as("size_bytes"))
        .select(
          (year(col("dt")) * 100 + month(col("dt"))).as("part_month"),
          concat_ws("-", col("dt").cast("string"),
            col("writer").cast("string")).as("file_id"),
          col("size_bytes"))
      Layout.compactionPlan(files, "part_month", "file_id",
        "size_bytes", targetBytes = 64000L)
    }),

    // COMPACTION EXECUTED END-TO-END (the x_compaction_plan row stops
    // at metadata; this one rewrites real files and PROVES the layout):
    // (1) materialize the small-files input — one physical parquet file
    // per (day, writer) via repartition + partitionBy; (2) assign files
    // to ≈64KB rewrite groups with Layout.compactionAssign over the
    // same deterministic size formula; (3) Layout.compactByPlan joins
    // data to assignment, shuffles once on (month, group), writes one
    // file per group. The RESULT ROW carries the proof: files_written
    // counts DISTINCT physical output files per group off
    // input_file_name() (oracle states the literal 1 — any split or
    // stray file hash-mismatches), n_rows/bytes_readback recompute the
    // row count and the size formula FROM THE REWRITTEN FILES (oracle
    // recomputes both from events — any lost/duplicated row diverges).
    "x_compaction_exec" -> ((s, dir) => {
      val key = java.lang.Integer.toHexString(dir.hashCode)
      val inDir = s"tmp_compact/in_$key"
      val outDir = s"tmp_compact/out_$key"
      val src = Tables.read(s, dir, "events")
        .select(to_date(col("ts")).as("dt"),
          pmod(col("user_id"), lit(8L)).as("writer"), col("props"))
      // the small-files fixture: exactly one file per (dt, writer)
      src.repartition(col("dt"), col("writer"))
        .write.mode("overwrite").partitionBy("dt", "writer").parquet(inDir)
      s.catalog.refreshByPath(inDir)
      val rows = s.read.parquet(inDir)
        .select(col("dt").cast("date").as("dt"),
          col("writer").cast("long").as("writer"), col("props"))
        .withColumn("file_id", concat_ws("-", col("dt").cast("string"),
          col("writer").cast("string")))
        .withColumn("part_month",
          year(col("dt")) * 100 + month(col("dt")))
      val listing = rows
        .groupBy("part_month", "file_id")
        .agg((lit(1024L) + count(lit(1)) * lit(64L) +
          sum(length(col("props")))).as("size_bytes"))
      val assign = Layout.compactionAssign(listing, "part_month",
        "file_id", "size_bytes", targetBytes = 64000L)
      val rb = Layout.compactByPlan(
          rows.select("file_id", "dt", "writer", "props"),
          assign, "part_month", "file_id", outDir)
        .withColumn("__fn", input_file_name())
      val perFile = rb
        .groupBy(col("part_month"), col("grp"), col("dt"), col("writer"))
        .agg(count(lit(1)).as("__n"),
          sum(length(col("props"))).as("__sl"))
      val sized = perFile.groupBy("part_month", "grp")
        .agg(count(lit(1)).as("n_files"),
          sum(col("__n")).as("n_rows"),
          sum(lit(1024L) + col("__n") * lit(64L) + col("__sl"))
            .as("bytes_readback"))
      val fw = rb.groupBy("part_month", "grp")
        .agg(countDistinct(col("__fn")).as("files_written"))
      sized.join(fw, Seq("part_month", "grp"))
        .select(col("part_month").cast("int").as("part_month"),
          col("grp").cast("long").as("grp"), col("n_files"),
          col("n_rows"), col("bytes_readback"), col("files_written"))
    }),

    // BUCKETED co-located join, split into BUILD and PROBE rows so the
    // bench artifact shows each cost on its own line — the 100 TB story
    // is precisely "pay the shuffle once at write time, then every
    // bucket-keyed agg/join is exchange-free", and a single fused timing
    // buried the probe under the write (r7 verdict item 4).
    //
    // BUILD: the bucketed CTAS (Engine.createTableBucketed — one shuffle
    // into 16 user_id buckets, sorted within). Always rebuilds; returns a
    // read-back verification aggregate so the timed work includes proof
    // the write landed. Oracle = same aggregate over plain parquet.
    "x_bucketed_join_build" -> ((s, dir) => {
      val eng = new Engine(s)
      eng.createTableBucketed(bucketedEventsName(dir),
        Tables.read(s, dir, "events")
          .select("user_id", "event_type", "value"),
        Seq("user_id"), nBuckets = 16)
      s.table(bucketedEventsName(dir)).agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    }),

    // PROBE (EngineSpec proves the zero-Exchange plan): both join sides
    // derive from the one bucketBy(user_id) table, so the user_id
    // aggregate AND the fact⋈dim join run shuffle-free — only the final
    // 5-group rollup exchanges. Builds the table only if this session
    // hasn't yet (dir-keyed name; the testdata dirs are immutable within
    // a run), so bench reps after the first time the probe alone. The
    // oracle is the plain-parquet formulation: the layout must be
    // semantically invisible.
    "x_bucketed_join" -> ((s, dir) => {
      val name = bucketedEventsName(dir)
      if (!s.catalog.tableExists(name))
        new Engine(s).createTableBucketed(name,
          Tables.read(s, dir, "events")
            .select("user_id", "event_type", "value"),
          Seq("user_id"), nBuckets = 16)
      val ev = s.table(name)
      val dim = ev.groupBy("user_id").agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      ev.select("user_id", "event_type").join(dim, "user_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
    }),

    // SOURCE-FORMAT coverage: the engine's tables are parquet, but a
    // feature-store ingest edge speaks CSV/JSON — these rows drive the
    // full write → schema-pinned read → aggregate path for each format
    // and gate it against the parquet oracle, proving the text codecs
    // round-trip timestamps (micros pinned via timestampFormat) and
    // doubles (shortest-round-trip repr) losslessly.
    "x_csv_roundtrip" -> ((s, dir) => {
      val out = "tmp_roundtrip/csv_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val src = events(s, dir)
        .select("event_id", "user_id", "event_type", "ts", "value")
      src.write.mode("overwrite").option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(out)
      s.read.schema(src.schema).option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(out)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_type")).as("n_types"),
          max(col("ts")).as("max_ts"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
    }),

    // ORC roundtrip (completing the format surface beside CSV/JSON):
    // write → schema-pinned read → aggregate, gated against the parquet
    // original — the columnar sibling format must be semantically
    // invisible, nulls/timestamps/doubles included.
    "x_orc_roundtrip" -> ((s, dir) => {
      val out = "tmp_roundtrip/orc_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val src = events(s, dir)
        .select("event_id", "user_id", "event_type", "ts", "value", "props")
      src.write.mode("overwrite").orc(out)
      s.read.schema(src.schema).orc(out)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_type")).as("n_types"),
          max(col("ts")).as("max_ts"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"),
          sum(length(col("props")).cast("long")).as("props_chars"))
    }),

    // Incremental aggregate maintenance — the materialized-view shape
    // of a 100 TB ETL (never reprocess the base): the per-(user, day)
    // rollup STATE built from events before the split point merges
    // with the aggregate of the new DELTA by re-aggregating the
    // unioned partial states. count/sum/max are all mergeable and
    // integer-exact, so merged partials are provably indistinguishable
    // from a full recompute — which is exactly what the oracle runs
    // (one rollup over ALL events). At scale only the delta is ever
    // scanned; the state table is aggregate-sized.
    "x_incremental_agg" -> ((s, dir) => {
      val split = lit(Timestamp.valueOf("2024-01-16 00:00:00"))
      val e = events(s, dir).select(col("user_id"),
        date_trunc("DAY", col("ts")).as("day"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      def partial(df: DataFrame): DataFrame = df.groupBy("user_id", "day")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          max("ts").as("max_ts"))
      val state = partial(e.filter(col("ts") < split))
      val delta = partial(e.filter(col("ts") >= split))
      state.unionByName(delta).groupBy("user_id", "day")
        .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"),
          max("max_ts").as("max_ts"))
    }),

    "x_json_roundtrip" -> ((s, dir) => {
      val out = "tmp_roundtrip/json_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val src = events(s, dir)
        .select("event_id", "user_id", "event_type", "ts", "value", "props")
      src.write.mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").json(out)
      s.read.schema(src.schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").json(out)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_type")).as("n_types"),
          max(col("ts")).as("max_ts"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"),
          sum(length(col("props")).cast("long")).as("props_chars"))
    }),

    // Salted JOIN through the oracle gate (the agg twin is
    // x_skew_salted_agg): the salted (key, salt) equi-join against the
    // salt-replicated broadcast dim must equal the plain join exactly —
    // the oracle IS the unsalted formulation.
    "x_skew_salted_join" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "event_type", "value")
      val dim = ev.groupBy("event_type").agg(count(lit(1)).as("type_n"))
      graft.Skew.saltedJoin(ev, dim, "event_type", buckets = 16)
        .groupBy("event_type", "type_n")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
    }),

    // ── drift monitoring (graft.Monitor) — the retrain-trigger side of
    // a feature store: reference window = first half of the stream
    // (exact integer midpoint split), current = second half, value
    // quantized to cents like every monetary path in this repo. ──

    // per-(type, $25-bin) contingency detail with the exact integer
    // cross-product mass shift diff_scaled = n_cur·N_ref − n_ref·N_cur
    "mon_drift_bins" -> ((s, dir) =>
      Monitor.driftBins(
        Monitor.binnedCounts(
          Monitor.midpointSplit(monEvents(s, dir), "ts"),
          "event_type", "cents", "__is_ref", stepCents = 2500L, nBins = 20),
        "event_type")),

    // per-type drift summary: exact-integer scaled TVD (one terminal
    // division), Laplace-smoothed PSI under the repo's FP protocol
    "mon_drift_stats" -> ((s, dir) =>
      Monitor.driftStats(
        Monitor.binnedCounts(
          Monitor.midpointSplit(monEvents(s, dir), "ts"),
          "event_type", "cents", "__is_ref", stepCents = 2500L, nBins = 20),
        "event_type")),

    // two-sample Kolmogorov–Smirnov per type, exact-integer form; the
    // cumulative window runs over the aggregated distinct-cents
    // relation (bounded by value cardinality, not event count)
    "mon_ks_value" -> ((s, dir) => {
      val tagged = Monitor.midpointSplit(monEvents(s, dir), "ts")
      val vc = tagged
        .groupBy(col("event_type"), col("cents").as("value"))
        .agg(sum(col("__is_ref")).cast("long").as("n_ref"),
          sum(lit(1) - col("__is_ref")).cast("long").as("n_cur"))
      Monitor.ksStat(vc, "event_type")
    }),

    // vocabulary drift: (event_type, props) combinations first seen
    // after the 1-day bootstrap reference window — non-empty exactly
    // when the reference is too short to cover the category space
    // (sf0.01: 229 new combos; a week-long reference would be silent)
    "mon_new_categories" -> ((s, dir) =>
      Monitor.newCategories(
        Monitor.headDaysSplit(
          events(s, dir).select(
            concat(col("event_type"), lit(":"), col("props"))
              .as("category"),
            col("ts")),
          "ts", days = 1),
        "category", "__is_ref", "ts"))
  )

  /** Shared projection of the drift-monitor queries: non-null values
    * quantized to cents (the x_anomaly_zscore convention). */
  private def monEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))

  // ───────────────────────────── oracles ─────────────────────────────

  lazy val oracleSql: Map[String, String] = baseOracleSql +
    ("pit_native_two_views" -> baseOracleSql("pit_two_views_full_names")) +
    ("pit_native_dummy" -> baseOracleSql("pit_dummy_entity"))

  private lazy val baseOracleSql: Map[String, String] = Map(
    "s1_scan_table" ->
      "SELECT event_id, user_id, event_type, value FROM events",
    "s2_query_source" ->
      "SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'",
    "s3_ctas" ->
      """SELECT user_id, count(*) AS n_events, max(value) AS max_value
        |FROM events WHERE event_type = 'purchase' GROUP BY user_id""".stripMargin,
    "s4567_table_lifecycle" ->
      "SELECT a, b FROM (VALUES (1,'x'),(2,'y'),(3,'z')) t(a, b)",
    "s8_temp_view" ->
      """SELECT event_type, n FROM (
        |  SELECT event_type, count(*) AS n FROM events GROUP BY event_type) t
        |WHERE n > 0""".stripMargin,
    "s9_retrieval_job" ->
      """SELECT event_id, value,
        |       CAST(floor(value / 100) AS BIGINT) AS value_bucket
        |FROM events""".stripMargin,
    "s10_conf_overlay" -> pitOracle(
      "AND f.ts >= e.event_timestamp - INTERVAL 3600 SECOND",
      "f.value, f.event_type, f.event_id AS f_eid",
      "m.value AS value, m.event_type AS event_type, m.f_eid AS event_id"),
    "p1_projection" ->
      "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
    "p2_field_mapping" ->
      "SELECT user_id AS driver_id, ts AS event_ts, value FROM events",
    "p3_dummy_literal" ->
      "SELECT DISTINCT event_type, '' AS dummy_entity_id FROM events",
    "p4_row_key" ->
      """SELECT event_id,
        |       CAST(user_id AS VARCHAR) || '#' || CAST(epoch_us(ts) AS VARCHAR)
        |         AS row_key
        |FROM events""".stripMargin,
    "p5_drop" -> "SELECT event_id, ts, user_id, event_type FROM events",
    "p6_between" ->
      """SELECT event_id, ts FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
        |             AND TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,
    "p8_interval" ->
      "SELECT event_id, ts, ts - INTERVAL 90 SECOND AS ttl_lower FROM events",
    "p9_cast" ->
      """SELECT event_id, CAST(user_id AS INTEGER) AS uid_int,
        |       CAST(event_id AS DOUBLE) AS eid_double,
        |       CAST(event_id AS VARCHAR) AS eid_str
        |FROM events""".stripMargin,
    "p10_probe" -> "SELECT 1 AS ok FROM events LIMIT 1",
    "j1_coarse_range" ->
      s"""WITH $SpineSql
         |SELECT event_id, user_id, ts FROM events
         |WHERE ts <= (SELECT max(event_timestamp) FROM entity)
         |  AND ts >= (SELECT min(event_timestamp) FROM entity)
         |             - INTERVAL 3600 SECOND""".stripMargin,
    "j2_asof_inner" ->
      s"""WITH $SpineSql
         |SELECT user_id, event_timestamp, ts, event_id, value FROM (
         |  SELECT e.user_id, e.event_timestamp, f.ts, f.event_id, f.value,
         |         row_number() OVER (
         |           PARTITION BY e.user_id, e.event_timestamp
         |           ORDER BY f.ts DESC, f.event_id DESC) AS rn
         |  FROM (SELECT DISTINCT user_id, event_timestamp FROM entity) e
         |  JOIN events f ON f.user_id = e.user_id
         |   AND f.ts <= e.event_timestamp
         |   AND f.ts >= e.event_timestamp - INTERVAL 3600 SECOND) t
         |WHERE rn = 1""".stripMargin,
    "j3_joinback" ->
      """SELECT f.user_id, f.ts, f.event_id, f.value
        |FROM events f
        |JOIN (SELECT user_id, max(ts) AS max_ts FROM events GROUP BY user_id) g
        |  ON f.user_id = g.user_id AND f.ts = g.max_ts""".stripMargin,
    "a1_distinct" -> "SELECT DISTINCT user_id, event_type FROM events",
    "a2_scalar_minmax" ->
      """SELECT min(ts) AS min_ts, max(ts) AS max_ts,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM events""".stripMargin,
    "a3_grouped_max_created" ->
      """SELECT user_id, date_trunc('hour', ts) AS ts_hour,
        |       max(ts) AS latest_created
        |FROM events GROUP BY user_id, date_trunc('hour', ts)""".stripMargin,
    "a4_grouped_max_event" ->
      "SELECT user_id, max(ts) AS latest_ts FROM events GROUP BY user_id",
    "a5_latest_value" ->
      """SELECT user_id, arg_max(value, ts) AS latest_value
        |FROM events GROUP BY user_id""".stripMargin,
    "pull_latest_events" ->
      """SELECT user_id, value, event_type, ts FROM (
        |  SELECT user_id, value, event_type, ts,
        |         row_number() OVER (
        |           PARTITION BY user_id
        |           ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
        |               AND TIMESTAMP '2024-01-20 00:00:00') t
        |WHERE rn = 1""".stripMargin,
    "pull_latest_dummy" ->
      """SELECT '' AS dummy_entity_id, value, event_type, ts FROM (
        |  SELECT value, event_type, ts,
        |         row_number() OVER (ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
        |               AND TIMESTAMP '2024-01-20 00:00:00') t
        |WHERE rn = 1""".stripMargin,
    "w1_topk_per_key" ->
      """SELECT user_id, event_id, ts, rn FROM (
        |  SELECT user_id, event_id, ts,
        |         row_number() OVER (
        |           PARTITION BY user_id
        |           ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn <= 3""".stripMargin,
    "pit_events_ttl1h" -> pitOracle(
      "AND f.ts >= e.event_timestamp - INTERVAL 3600 SECOND",
      "f.value, f.event_type, f.event_id AS f_eid",
      "m.value AS value, m.event_type AS event_type, m.f_eid AS event_id"),
    "pit_native_asof" -> pitOracle(
      "AND f.ts >= e.event_timestamp - INTERVAL 3600 SECOND",
      "f.value, f.event_type, f.event_id AS f_eid",
      "m.value AS value, m.event_type AS event_type, m.f_eid AS event_id"),
    "pit_events_ttl0" -> pitOracle(
      "",
      "f.value, f.event_type, f.event_id AS f_eid",
      "m.value AS value, m.event_type AS event_type, m.f_eid AS event_id"),
    "pit_two_views_full_names" ->
      s"""WITH $SpineSql,
         |cand1 AS (
         |  SELECT e.user_id, e.event_timestamp, f.value, f.event_type,
         |         f.event_id AS f_eid,
         |         row_number() OVER (
         |           PARTITION BY e.user_id, e.event_timestamp
         |           ORDER BY f.ts DESC, f.event_id DESC) AS rn
         |  FROM (SELECT DISTINCT user_id, event_timestamp FROM entity) e
         |  JOIN events f ON f.user_id = e.user_id
         |   AND f.ts <= e.event_timestamp
         |   AND f.ts >= e.event_timestamp - INTERVAL 3600 SECOND),
         |hourly AS (
         |  SELECT user_id, date_trunc('hour', ts) AS ts_hour,
         |         value AS hour_value, event_id AS hour_event_id,
         |         ts AS created
         |  FROM events),
         |cand2 AS (
         |  SELECT e.user_id, e.event_timestamp, h.hour_value, h.hour_event_id,
         |         row_number() OVER (
         |           PARTITION BY e.user_id, e.event_timestamp
         |           ORDER BY h.ts_hour DESC, h.created DESC) AS rn
         |  FROM (SELECT DISTINCT user_id, event_timestamp FROM entity) e
         |  JOIN hourly h ON h.user_id = e.user_id
         |   AND h.ts_hour <= e.event_timestamp
         |   AND h.ts_hour >= e.event_timestamp - INTERVAL 7200 SECOND)
         |SELECT en.row_tag, en.user_id, en.event_timestamp,
         |       m1.value AS recent__value,
         |       m1.event_type AS recent__event_type,
         |       m1.f_eid AS recent__event_id,
         |       m2.hour_value AS hourly__hour_value,
         |       m2.hour_event_id AS hourly__hour_event_id
         |FROM entity en
         |LEFT JOIN (SELECT * FROM cand1 WHERE rn = 1) m1
         |  ON en.user_id = m1.user_id
         | AND en.event_timestamp = m1.event_timestamp
         |LEFT JOIN (SELECT * FROM cand2 WHERE rn = 1) m2
         |  ON en.user_id = m2.user_id
         | AND en.event_timestamp = m2.event_timestamp""".stripMargin,
    "pit_dummy_entity" ->
      """WITH entity AS (
        |  SELECT event_id AS row_tag,
        |         ts + INTERVAL 30 MINUTE AS event_timestamp
        |  FROM events WHERE event_id % 37 = 0),
        |cand AS (
        |  SELECT e.event_timestamp, f.value, f.event_id AS f_eid,
        |         row_number() OVER (
        |           PARTITION BY e.event_timestamp
        |           ORDER BY f.ts DESC, f.event_id DESC) AS rn
        |  FROM (SELECT DISTINCT event_timestamp FROM entity) e
        |  JOIN events f ON f.ts <= e.event_timestamp
        |   AND f.ts >= e.event_timestamp - INTERVAL 600 SECOND)
        |SELECT en.row_tag, en.event_timestamp,
        |       m.value AS value, m.f_eid AS event_id
        |FROM entity en
        |LEFT JOIN (SELECT * FROM cand WHERE rn = 1) m
        |  ON en.event_timestamp = m.event_timestamp""".stripMargin,
    "x_q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity)::BIGINT AS sum_qty,
        |       -- outer cast: DuckDB sum(BIGINT) -> HUGEINT -> pandas float64,
        |       -- which breaks the driver's dtype-sensitive hash vs Spark int64
        |       sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS sum_price_cents,
        |       count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "x_join_orders_lineitem" ->
      """SELECT o_orderpriority,
        |       sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)
        |         ::BIGINT AS revenue_x10000,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "x_top_customers" ->
      """SELECT c_custkey, c_name, n_orders FROM (
        |  SELECT o_custkey, count(*) AS n_orders FROM orders
        |  GROUP BY o_custkey) o
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY n_orders DESC, c_custkey LIMIT 10""".stripMargin,
    "x_interval_overlap" ->
      """SELECT a.window_a, b.window_b
        |FROM (SELECT event_id AS window_a, ts AS was,
        |             ts + INTERVAL 1 HOUR AS wae
        |      FROM events WHERE event_id % 97 = 0) a
        |JOIN (SELECT event_id AS window_b, ts AS wbs,
        |             ts + INTERVAL 2 HOUR AS wbe
        |      FROM events WHERE event_id % 89 = 0) b
        |  ON a.was < b.wbe AND b.wbs < a.wae""".stripMargin,
    "x_interval_join" ->
      """SELECT e.event_id, w.window_id
        |FROM events e
        |JOIN (SELECT event_id AS window_id, ts AS ws,
        |             ts + INTERVAL 1 HOUR AS we
        |      FROM events WHERE event_id % 997 = 0) w
        |  ON e.ts >= w.ws AND e.ts < w.we""".stripMargin,

    // the same (ts, id)-ordered winner via a row_number over the
    // horizon-restricted match relation; left join keeps anchors with
    // no successor
    "x_asof_forward" ->
      """WITH a AS (SELECT event_id AS anchor_id, user_id, ts
        |           FROM events WHERE event_id % 97 = 0),
        |j AS (SELECT a.anchor_id, e.event_id AS eid, e.ts AS ets
        |      FROM a JOIN events e
        |        ON e.user_id = a.user_id AND e.ts > a.ts
        |       AND e.ts <= a.ts + INTERVAL 86400 SECONDS),
        |w AS (SELECT anchor_id, eid, ets, row_number() OVER (
        |        PARTITION BY anchor_id ORDER BY ets, eid) AS rn
        |      FROM j)
        |SELECT a.anchor_id, a.user_id, a.ts,
        |       w.eid AS next_event_id, w.ets AS next_ts
        |FROM a LEFT JOIN w ON w.anchor_id = a.anchor_id AND w.rn = 1"""
        .stripMargin,
    "x_skew_salted_agg" ->
      """SELECT event_type, count(*) AS n,
        |       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
        |FROM events GROUP BY event_type""".stripMargin,
    "x_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       sum(l_quantity)::BIGINT AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "x_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       sum(l_quantity)::BIGINT AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "x_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       sum(l_quantity)::BIGINT AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
        .stripMargin,

    "x_q13_custdist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT JOIN orders
        |        ON c_custkey = o_custkey
        |       AND o_orderpriority <> '1-URGENT'
        |      GROUP BY 1)
        |GROUP BY 1""".stripMargin,

    "x_q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(round(l_extendedprice * (1 - l_discount) * 10000)
        |             ::BIGINT)::BIGINT AS total_revenue_x10000
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue_x10000
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue_x10000 =
        |      (SELECT max(total_revenue_x10000) FROM rev)""".stripMargin,

    "x_q17_small_qty" ->
      """WITH p AS (SELECT p_partkey FROM part
        |           WHERE p_brand = 'Brand#1' AND p_size < 15),
        |l AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |             l_extendedprice
        |      FROM lineitem JOIN p ON l_partkey = p_partkey),
        |a AS (SELECT l_partkey AS pk, sum(qty)::BIGINT AS sum_qty,
        |             count(*) AS cnt
        |      FROM l GROUP BY 1)
        |SELECT count(*) AS n_items,
        |       sum(round(l_extendedprice * 10000)::BIGINT)::BIGINT
        |         AS price_x10000
        |FROM l JOIN a ON l_partkey = pk
        |WHERE qty * cnt * 5 < sum_qty""".stripMargin,

    "x_q21_last_shipper" ->
      """SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM lineitem l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey LIMIT 10""".stripMargin,

    "x_q22_idle_customers" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |                  round(c_acctbal * 100)::BIGINT AS cents
        |           FROM customer),
        |s AS (SELECT sum(cents)::BIGINT AS sum_cents, count(*) AS n_pos
        |      FROM c WHERE cents > 0)
        |SELECT c_mktsegment, count(*) AS n_custs,
        |       sum(cents)::BIGINT AS total_cents
        |FROM c, s
        |WHERE cents * n_pos > sum_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c.c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,

    "x_setops" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'"""
        .stripMargin,

    "x_q9_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |       sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT
        |           - round(p_retailprice * 80)::BIGINT
        |             * CAST(l_quantity AS BIGINT))::BIGINT AS profit_cents
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    "x_q10_returned" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |         sum(round(l_extendedprice * (1 - l_discount) * 10000)
        |             ::BIGINT)::BIGINT AS revenue_x10000
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT c_custkey, c_name, n_name,
        |       round(c_acctbal * 100)::BIGINT AS acctbal_cents,
        |       revenue_x10000
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue_x10000 DESC, c_custkey LIMIT 20""".stripMargin,

    "x_q12_late_priority" ->
      """SELECT l_returnflag,
        |       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin,

    "x_q2_min_cost" ->
      """WITH sup AS (
        |  SELECT s_suppkey, s_name, n_name,
        |         round(s_acctbal * 100)::BIGINT AS acctbal_cents
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |offers AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(round(l_extendedprice * 100)::BIGINT) AS cost_cents
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |   AND p_type = 'STANDARD' AND p_size < 10
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM sup)
        |  GROUP BY 1, 2)
        |SELECT acctbal_cents, s_name, n_name,
        |       l_partkey AS p_partkey, cost_cents
        |FROM offers JOIN sup ON l_suppkey = s_suppkey
        |WHERE cost_cents = (SELECT min(cost_cents) FROM offers o2
        |                    WHERE o2.l_partkey = offers.l_partkey)
        |ORDER BY acctbal_cents DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "x_q7_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       year(l_shipdate) AS l_year,
        |       sum(round(l_extendedprice * (1 - l_discount) * 10000)
        |           ::BIGINT)::BIGINT AS revenue_x10000
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3""".stripMargin,

    "x_q8_market_share" ->
      """WITH v AS (
        |  SELECT year(o_orderdate) AS o_year,
        |         round(l_extendedprice * (1 - l_discount) * 10000)
        |           ::BIGINT AS vol,
        |         sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE o_custkey IN (
        |    SELECT c_custkey FROM customer
        |    JOIN nation ON c_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'ASIA'))
        |SELECT o_year,
        |       sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
        |                ELSE 0 END)::BIGINT AS nation_x10000,
        |       sum(vol)::BIGINT AS total_x10000,
        |       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
        |                      ELSE 0 END)::BIGINT::DOUBLE
        |             / sum(vol)::BIGINT, 6) AS mkt_share
        |FROM v GROUP BY 1""".stripMargin,

    "x_q11_important_parts" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |         sum(round(l_extendedprice * (1 - l_discount) * 10000)
        |             ::BIGINT)::BIGINT AS value_x10000
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(value_x10000)::BIGINT AS grand_x10000,
        |             count(*)::BIGINT AS n_parts FROM pp)
        |SELECT l_partkey AS p_partkey, value_x10000
        |FROM pp, t
        |WHERE value_x10000 * n_parts * 3 > grand_x10000 * 4""".stripMargin,

    "x_q16_supplier_count" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "x_q20_dominant_suppliers" ->
      """WITH l97 AS (
        |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE 'small%')),
        |bs AS (SELECT l_partkey, l_suppkey, sum(qty)::BIGINT AS supp_qty
        |       FROM l97 GROUP BY 1, 2),
        |bp AS (SELECT l_partkey, sum(qty)::BIGINT AS part_qty
        |       FROM l97 GROUP BY 1)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_4'
        |  AND s_suppkey IN (
        |    SELECT bs.l_suppkey FROM bs JOIN bp USING (l_partkey)
        |    WHERE bs.supp_qty * 5 > bp.part_qty)""".stripMargin,

    // the p-th permille = the ⌈p·n/1000⌉-th smallest value — replayed
    // via a per-group sorted list and the identical integer rank
    "x_winsorize" ->
      """WITH e AS (SELECT event_id, event_type,
        |                  round(value * 100)::BIGINT AS value_cents
        |           FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type, count(*) AS n,
        |             list_sort(list(value_cents)) AS vs
        |      FROM e GROUP BY 1),
        |c AS (SELECT event_type,
        |             vs[CAST((50 * n + 999) // 1000 AS INT)] AS lo,
        |             vs[CAST((950 * n + 999) // 1000 AS INT)] AS hi
        |      FROM g)
        |SELECT event_id, e.event_type, value_cents,
        |       least(greatest(value_cents, lo), hi) AS value_cents_w
        |FROM e JOIN c USING (event_type)""".stripMargin,

    // the same generated names, dirt, grams, count filter and verify
    "x_entity_resolution" -> {
      val f = graft.llm.Fuzzy
      val nameSql = f.erNameSql("c_custkey")
      s"""WITH cust AS (SELECT c_custkey FROM customer
         |              WHERE c_custkey % 10 = 0),
         |lrel AS (SELECT c_custkey AS id, $nameSql AS name
         |              FROM cust),
         |rrel0 AS (SELECT c_custkey AS id, $nameSql AS name FROM cust),
         |rrel AS (SELECT id, ${f.erDirtySql("name", "id")} AS name
         |         FROM rrel0),
         |${f.qgramEditJoinSql("lrel", "rrel", q = 3, k = 2)}
         |SELECT l_id, r_id, edit_dist FROM er_out""".stripMargin
    },

    // both realistic-corpus variants replay the SAME oracle — the
    // Gravano positional-gram chain over the erName2 corpus. For the
    // _seg query that makes the gate a cross-verification of two
    // INDEPENDENT candidate schemes (partition signatures vs gram count
    // filter) agreeing on the true edit join.
    "x_er_names_seg" -> {
      val f = graft.llm.Fuzzy
      val nameSql = f.erName2Sql("doc_id")
      s"""WITH ids AS (SELECT doc_id FROM documents),
         |lrel AS (SELECT doc_id AS id, $nameSql AS name FROM ids),
         |rrel0 AS (SELECT doc_id AS id, $nameSql AS name FROM ids),
         |rrel AS (SELECT id, ${f.erDirtySql("name", "id")} AS name
         |         FROM rrel0),
         |${f.qgramEditJoinSql("lrel", "rrel", q = 3, k = 2)}
         |SELECT l_id, r_id, edit_dist FROM er_out""".stripMargin
    },

    "x_er_names_gram" -> {
      val f = graft.llm.Fuzzy
      val nameSql = f.erName2Sql("doc_id")
      s"""WITH ids AS (SELECT doc_id FROM documents),
         |lrel AS (SELECT doc_id AS id, $nameSql AS name FROM ids),
         |rrel0 AS (SELECT doc_id AS id, $nameSql AS name FROM ids),
         |rrel AS (SELECT id, ${f.erDirtySql("name", "id")} AS name
         |         FROM rrel0),
         |${f.qgramEditJoinSql("lrel", "rrel", q = 3, k = 2)}
         |SELECT l_id, r_id, edit_dist FROM er_out""".stripMargin
    },

    "x_anomaly_zscore" ->
      """WITH e AS (SELECT user_id, event_id,
        |                  round(value * 100)::BIGINT AS c
        |           FROM events WHERE value IS NOT NULL),
        |s AS (SELECT user_id, event_id, c,
        |        count(*) OVER (PARTITION BY user_id) AS n,
        |        sum(c) OVER (PARTITION BY user_id) AS sm,
        |        sum(c*c) OVER (PARTITION BY user_id) AS q
        |      FROM e)
        |SELECT user_id, event_id, c AS value_cents
        |FROM s
        |WHERE (c*n - sm)*(c*n - sm) > 9*(n*q - sm*sm)""".stripMargin,

    "x_window_funcs" ->
      """SELECT user_id, event_id,
        |       ntile(4) OVER w AS quartile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cum_dist,
        |       round(value * 100)::BIGINT
        |         - lag(round(value * 100)::BIGINT, 1) OVER w AS delta_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""
        .stripMargin,
    "x_pivot" ->
      """SELECT source,
        |       count(*) FILTER (lang = 'en') AS en,
        |       count(*) FILTER (lang = 'de') AS de,
        |       count(*) FILTER (lang = 'fr') AS fr,
        |       count(*) FILTER (lang = 'es') AS es,
        |       count(*) FILTER (lang = 'zh') AS zh
        |FROM documents GROUP BY source""".stripMargin,
    "x_event_gaps" ->
      """WITH g AS (
        |  SELECT user_id,
        |         epoch_us(ts) - epoch_us(lag(ts) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |       sum(gap_us)::BIGINT AS sum_gap_us, max(gap_us) AS max_gap_us
        |FROM g GROUP BY 1""".stripMargin,

    // integer epoch-week indices — no date-type drift across engines
    "x_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |             epoch_us(ts) // 604800000000 AS week
        |           FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY 1)
        |SELECT c.cohort_week, (a.week - c.cohort_week) AS week_offset,
        |       count(*) AS n_keys
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // stage walk = fold with an integer state; the VARCHAR-encoded
    // accumulator works around DuckDB lists being homogeneous
    "x_funnel" ->
      """WITH o AS (
        |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT user_id, list_reduce(
        |    ['0'] || types,
        |    (a, t) -> CASE
        |      WHEN a::INT < 3 AND t = (['signup','view','purchase'])[a::INT + 1]
        |        THEN (a::INT + 1)::VARCHAR
        |      ELSE a END)::INT AS reached
        |  FROM o),
        |x AS (SELECT unnest(range(1, reached + 1)) AS stage_idx FROM r
        |      WHERE reached >= 1)
        |SELECT stage_idx::BIGINT AS stage_idx,
        |       (['signup','view','purchase'])[stage_idx] AS stage,
        |       count(*) AS n_keys
        |FROM x GROUP BY stage_idx""".stripMargin,

    // integer-microsecond gap arithmetic + (ts, event_id) tie order make
    // the session assignment bit-reproducible
    "x_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |                   > 1800 * 1000000 THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
        |  FROM e)
        |SELECT user_id, session_idx::BIGINT AS session_idx,
        |       count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY 1, 2""".stripMargin,

    "x_q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "x_q18_big_orders" ->
      """SELECT c_name, o_orderkey, o_totalprice, sum_qty::BIGINT AS sum_qty
        |FROM (SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS sum_qty
        |      FROM lineitem GROUP BY 1 HAVING sum_qty > 250) b
        |JOIN orders ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 10""".stripMargin,

    "x_q3_shipping" ->
      """SELECT l_orderkey,
        |       sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)
        |         ::BIGINT AS revenue_x10000,
        |       o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_x10000 DESC, l_orderkey LIMIT 10""".stripMargin,
    "x_q5_local_volume" ->
      """SELECT n_name,
        |       sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)
        |         ::BIGINT AS revenue_x10000,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |             AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,

    // ── sketches: the oracle REPLAYS the exact deterministic sketch ──
    // (same md5-derived hashes, same register arithmetic — estimates
    // hash-match, not just exact counts)
    "sketch_hll_distinct" -> {
      import graft.llm.Sketches._
      val rb = HllRankBits // 24
      val rem = s"(h & ${(1L << rb) - 1})"
      val rank = s"CASE WHEN $rem = 0 THEN ${rb + 1} " +
        s"ELSE ${rb + 1} - length(bin($rem)) END"
      val alpha = HllAlphaNumerator.toString // round-trips to the same double
      val raw = s"$alpha / denom::DOUBLE"
      val isLinear = s"($raw <= $HllLinearThreshold AND v > 0)"
      s"""WITH h AS (SELECT ${graft.llm.TextOps.hash32Sql("l_orderkey::VARCHAR")} AS h
         |           FROM lineitem WHERE l_orderkey IS NOT NULL),
         |r AS (SELECT h >> $rb AS bucket, $rank AS rank FROM h),
         |regs AS (SELECT bucket, max(rank) AS m FROM r GROUP BY bucket),
         |agg AS (SELECT sum((1::BIGINT << (${rb + 1} - m)))::BIGINT AS present_sum,
         |               count(*) AS n_present FROM regs),
         |d AS (SELECT present_sum + ($HllM - n_present) * (1::BIGINT << ${rb + 1}) AS denom,
         |             $HllM - n_present AS v,
         |             n_present AS registers_nonzero FROM agg),
         |e AS (SELECT count(DISTINCT l_orderkey) AS n_exact FROM lineitem)
         |SELECT n_exact,
         |       round(CASE WHEN $isLinear
         |                  THEN $HllM.0 * ln($HllM.0 / v::DOUBLE)
         |                  ELSE $raw END, 4) AS est_hll,
         |       CASE WHEN $isLinear THEN 'linear' ELSE 'raw' END AS method,
         |       registers_nonzero, denom
         |FROM d CROSS JOIN e""".stripMargin
    },

    // both engines frame on FLOORED epoch seconds: Spark's long cast
    // truncates, but DuckDB's double→BIGINT cast ROUNDS — an .8-second
    // row would land in a different frame without the explicit floor
    "x_rolling_window" ->
      """SELECT event_id, user_id,
        |       count(*) OVER w AS n_7d,
        |       (sum(round(value * 100)::BIGINT) OVER w)::BIGINT AS cents_7d
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |             RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW)""".stripMargin,

    // same floored-epoch + event_id total order as x_rolling_window —
    // the fill can never pick a different donor row across engines
    "x_forward_fill" ->
      """SELECT event_id, user_id,
        |       last_value(CASE WHEN event_type = 'purchase'
        |                  THEN round(value * 100)::BIGINT END IGNORE NULLS)
        |         OVER (PARTITION BY user_id
        |               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS last_purchase_cents
        |FROM events""".stripMargin,

    "graph_pagerank" -> {
      val edgesCte =
        """WITH edges_in AS (
          |  SELECT (l_partkey * 2)::BIGINT AS src,
          |         (l_suppkey * 2 + 1)::BIGINT AS dst FROM lineitem
          |  UNION ALL
          |  SELECT (l_suppkey * 2 + 1)::BIGINT,
          |         (l_partkey * 2)::BIGINT FROM lineitem)""".stripMargin
      s"""${graft.llm.Graph.pageRankSql(edgesCte, iters = 3)}
         |SELECT node, r AS rank_scaled FROM r3
         |ORDER BY rank_scaled DESC, node LIMIT 20""".stripMargin
    },

    "graph_hits" -> {
      val edgesCte =
        """WITH edges_in AS (
          |  SELECT (l_partkey * 2)::BIGINT AS src,
          |         (l_suppkey * 2 + 1)::BIGINT AS dst FROM lineitem)"""
          .stripMargin
      s"""${graft.llm.Graph.hitsSql(edgesCte, iters = 3)}
         |SELECT node, auth_scaled, hub_scaled FROM hits3
         |ORDER BY auth_scaled DESC, node LIMIT 20""".stripMargin
    },

    "graph_trustrank" -> {
      val edgesCte =
        """WITH edges_in AS (
          |  SELECT (l_partkey * 2)::BIGINT AS src,
          |         (l_suppkey * 2 + 1)::BIGINT AS dst FROM lineitem
          |  UNION ALL
          |  SELECT (l_suppkey * 2 + 1)::BIGINT,
          |         (l_partkey * 2)::BIGINT FROM lineitem)""".stripMargin
      val seedsCte =
        """seeds_in AS (
          |  SELECT (s_suppkey * 2 + 1)::BIGINT AS node FROM supplier
          |  WHERE s_nationkey < 5)""".stripMargin
      s"""${graft.llm.Graph.trustRankSql(edgesCte, seedsCte, iters = 3)}
         |SELECT node, r AS trust_scaled FROM t3
         |ORDER BY trust_scaled DESC, node LIMIT 20""".stripMargin
    },

    "sketch_kmv_setops" -> {
      import graft.llm.Sketches.KmvK
      val k = KmvK
      // (k-1)·2^32 precomputed in Scala and injected — exact in a double
      val num = ((k - 1).toDouble * 4294967296.0).toString
      def est(kth: String, sz: String) =
        s"CASE WHEN $sz < $k THEN $sz::DOUBLE ELSE $num / $kth::DOUBLE END"
      val h = graft.llm.TextOps.hash32Sql("ukey::VARCHAR")
      s"""WITH e AS (SELECT event_type AS lab,
         |                  user_id * 1000 + dayofyear(ts) AS ukey
         |           FROM events WHERE event_type IN ('click', 'view')),
         |base AS (SELECT DISTINCT lab, $h AS h FROM e),
         |bottom AS (SELECT lab, h FROM (
         |             SELECT lab, h, row_number() OVER (
         |               PARTITION BY lab ORDER BY h) AS rn FROM base)
         |           WHERE rn <= $k),
         |per AS (SELECT lab, max(h) AS kth, count(*) AS sz
         |        FROM bottom GROUP BY 1),
         |a AS (SELECT h FROM bottom WHERE lab = 'click'),
         |b AS (SELECT h FROM bottom WHERE lab = 'view'),
         |m AS (SELECT coalesce(a.h, b.h) AS h,
         |             CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END AS ina,
         |             CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS inb
         |      FROM a FULL OUTER JOIN b ON a.h = b.h
         |      ORDER BY coalesce(a.h, b.h) LIMIT $k),
         |u AS (SELECT max(h) AS ukth, count(*) AS usz,
         |             sum(ina * inb) AS nboth FROM m)
         |SELECT (SELECT round(${est("kth", "sz")}, 4) FROM per
         |        WHERE lab = 'click') AS est_a,
         |       (SELECT round(${est("kth", "sz")}, 4) FROM per
         |        WHERE lab = 'view') AS est_b,
         |       (SELECT round(${est("ukth", "usz")}, 4) FROM u) AS est_union,
         |       (SELECT round((nboth::DOUBLE / usz::DOUBLE)
         |                     * ${est("ukth", "usz")}, 4) FROM u) AS est_inter
         |FROM (SELECT 1)""".stripMargin
    },

    "sketch_hll_windowed" -> {
      import graft.llm.Sketches._
      val rb = HllRankBits
      val rem = s"(h & ${(1L << rb) - 1})"
      val rank = s"CASE WHEN $rem = 0 THEN ${rb + 1} " +
        s"ELSE ${rb + 1} - length(bin($rem)) END"
      val alpha = HllAlphaNumerator.toString
      val raw = s"$alpha / denom::DOUBLE"
      val isLinear = s"($raw <= $HllLinearThreshold AND v > 0)"
      s"""WITH h AS (SELECT date_trunc('hour', ts) AS hour,
         |                  ${graft.llm.TextOps.hash32Sql("user_id::VARCHAR")} AS h
         |           FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT hour, h >> $rb AS bucket, $rank AS rank FROM h),
         |regs AS (SELECT hour, bucket, max(rank) AS m FROM r GROUP BY 1, 2),
         |agg AS (SELECT hour,
         |               sum((1::BIGINT << (${rb + 1} - m)))::BIGINT AS present_sum,
         |               count(*) AS n_present FROM regs GROUP BY 1),
         |d AS (SELECT hour,
         |             present_sum + ($HllM - n_present) * (1::BIGINT << ${rb + 1}) AS denom,
         |             $HllM - n_present AS v,
         |             n_present AS registers_nonzero FROM agg),
         |e AS (SELECT date_trunc('hour', ts) AS hour,
         |             count(DISTINCT user_id) AS n_exact
         |      FROM events GROUP BY 1)
         |SELECT hour, n_exact,
         |       round(CASE WHEN $isLinear
         |                  THEN $HllM.0 * ln($HllM.0 / v::DOUBLE)
         |                  ELSE $raw END, 4) AS est_hll,
         |       CASE WHEN $isLinear THEN 'linear' ELSE 'raw' END AS method,
         |       registers_nonzero, denom
         |FROM e JOIN d USING (hour)""".stripMargin
    },

    // mirror of Cdc.applyChanges: max(struct(version, op, status,
    // price)) ≡ rank-1 under ORDER BY all four DESC (no NULLs in any)
    "x_cdc_apply" ->
      """WITH ch AS (
        |  SELECT o_orderkey, 1 AS version, 'U' AS op,
        |         'STALE' AS o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'U', 'X', o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'D', o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 7),
        |latest AS (SELECT * FROM (
        |    SELECT ch.*, row_number() OVER (PARTITION BY o_orderkey
        |      ORDER BY version DESC, op DESC, o_orderstatus DESC,
        |        o_totalprice DESC) AS rk
        |    FROM ch) t WHERE rk = 1),
        |kept AS (SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
        |         FROM orders o
        |         WHERE NOT EXISTS (SELECT 1 FROM latest l
        |                           WHERE l.o_orderkey = o.o_orderkey))
        |SELECT * FROM kept
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM latest WHERE op != 'D'""".stripMargin,

    "x_decimal_revenue" ->
      """SELECT l_returnflag,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |                     * CAST(1 - l_discount AS DECIMAL(4,2)))
        |                 AS DECIMAL(18,4)) AS VARCHAR) AS dec_revenue,
        |       CAST(max(CAST(l_extendedprice AS DECIMAL(12,2)))
        |            AS VARCHAR) AS max_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,

    "sketch_cms_topk" -> {
      import graft.llm.Sketches._
      import graft.llm.TextOps.{P, hash32Sql}
      def bucketSql(h: String, a: Long, b: Long) =
        s"((($h) * $a + $b) % $P) % $CmsWidth"
      val sketchRows = cmsConstants.map { case (r, a, b) =>
        s"SELECT $r AS r, ${bucketSql("h", a, b)} AS bucket FROM h"
      }.mkString("\n  UNION ALL ")
      val probeRows = cmsConstants.map { case (r, a, b) =>
        s"SELECT key, $r AS r, ${bucketSql("h", a, b)} AS bucket FROM th"
      }.mkString("\n  UNION ALL ")
      s"""WITH h AS (SELECT ${hash32Sql("l_partkey::VARCHAR")} AS h FROM lineitem),
         |rb AS ($sketchRows),
         |sk AS (SELECT r, bucket, count(*) AS c FROM rb GROUP BY 1, 2),
         |t AS (SELECT unnest(range(1, 21))::BIGINT AS key),
         |th AS (SELECT key, ${hash32Sql("key::VARCHAR")} AS h FROM t),
         |p AS ($probeRows),
         |est AS (SELECT key, min(c) AS n_est
         |        FROM p JOIN sk USING (r, bucket) GROUP BY 1)
         |SELECT key, n_est
         |FROM est ORDER BY n_est DESC, key""".stripMargin
    },

    // The oracle states bloom membership as set-membership of all K bit
    // positions (HAVING count = K over the distinct-position set) — the
    // same predicate the Spark side evaluates against the packed 64-word
    // broadcast bitset.
    "sketch_bloom_semijoin" -> {
      import graft.llm.Sketches._
      import graft.llm.TextOps.{P, hash32Sql}
      def posSql(h: String, a: Long, b: Long) =
        s"((($h) * $a + $b) % $P) % $BloomBits"
      val buildRows = bloomConstants.map { case (_, a, b) =>
        s"SELECT ${posSql("h", a, b)} AS pos FROM bh"
      }.mkString("\n  UNION ALL ")
      val probeRows = bloomConstants.map { case (j, a, b) =>
        s"SELECT o_orderkey, $j AS j, ${posSql("h", a, b)} AS pos FROM oh"
      }.mkString("\n  UNION ALL ")
      s"""WITH bk AS (SELECT DISTINCT c_custkey AS k FROM customer
         |            WHERE c_mktsegment = 'BUILDING'),
         |bh AS (SELECT ${hash32Sql("k::VARCHAR")} AS h FROM bk),
         |pset AS (SELECT DISTINCT pos FROM ($buildRows)),
         |oh AS (SELECT o_orderkey, ${hash32Sql("o_custkey::VARCHAR")} AS h
         |       FROM orders),
         |op AS ($probeRows),
         |bp AS (SELECT count(*) AS n_bloom_pass FROM (
         |         SELECT op.o_orderkey FROM op JOIN pset USING (pos)
         |         GROUP BY op.o_orderkey HAVING count(*) = $BloomK)),
         |ex AS (SELECT count(*) AS n_exact FROM orders
         |       WHERE o_custkey IN (SELECT k FROM bk)),
         |np AS (SELECT count(*) AS n_probe FROM orders)
         |SELECT n_probe, n_exact, n_bloom_pass,
         |       n_bloom_pass - n_exact AS n_false_pos
         |FROM np CROSS JOIN ex CROSS JOIN bp""".stripMargin
    },

    "x_quantiles" ->
      """WITH vf AS (SELECT l_returnflag, l_extendedprice AS v, count(*) AS cnt
        |            FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, v, cnt,
        |        sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
        |        sum(cnt) OVER (PARTITION BY l_returnflag) AS n
        |      FROM vf),
        |q AS (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE,
        |                     0.9::DOUBLE, 0.99::DOUBLE]) AS q)
        |SELECT l_returnflag, q, v AS value
        |FROM c CROSS JOIN q
        |WHERE cum - cnt < CAST(ceil(q * n) AS BIGINT)
        |  AND CAST(ceil(q * n) AS BIGINT) <= cum""".stripMargin,

    "x_quantiles_approx" ->
      """WITH b AS (SELECT l_returnflag,
        |             CAST(floor(l_extendedprice / 512.0) AS BIGINT) AS bin,
        |             count(*) AS cnt
        |           FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, bin, cnt,
        |        sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
        |        sum(cnt) OVER (PARTITION BY l_returnflag) AS n
        |      FROM b),
        |q AS (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE,
        |                     0.9::DOUBLE, 0.99::DOUBLE]) AS q)
        |SELECT l_returnflag, q, bin * 512.0 AS est_lo,
        |       (bin + 1) * 512.0 AS est_hi, cnt AS n_in_bin
        |FROM c CROSS JOIN q
        |WHERE cum - cnt < CAST(ceil(q * n) AS BIGINT)
        |  AND CAST(ceil(q * n) AS BIGINT) <= cum""".stripMargin,

    // replay of the bottom-k-by-hash sample: same portable hash, same
    // (h, v) membership order, same positional pick over the sample
    "x_quantiles_sketch" -> {
      val h = graft.llm.TextOps.hash32Sql(
        "l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR")
      s"""WITH b AS (SELECT l_returnflag, l_extendedprice AS v, $h AS h
         |           FROM lineitem),
         |n AS (SELECT l_returnflag, count(*) AS n_rows FROM b GROUP BY 1),
         |s AS (SELECT l_returnflag, v, row_number() OVER (
         |        PARTITION BY l_returnflag ORDER BY h, v) AS rn
         |      FROM (SELECT DISTINCT l_returnflag, h, v FROM b) d),
         |samp AS (SELECT l_returnflag, v FROM s WHERE rn <= 1024),
         |sz AS (SELECT l_returnflag, count(*) AS sample_n
         |       FROM samp GROUP BY 1),
         |r AS (SELECT l_returnflag, v, row_number() OVER (
         |        PARTITION BY l_returnflag ORDER BY v) AS rv FROM samp),
         |q AS (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE,
         |                     0.9::DOUBLE, 0.99::DOUBLE]) AS q)
         |SELECT r.l_returnflag, q.q, r.v AS est_value, sz.sample_n, n.n_rows
         |FROM r CROSS JOIN q
         |JOIN sz USING (l_returnflag)
         |JOIN n USING (l_returnflag)
         |WHERE rv = CAST(ceil(q.q * sample_n) AS BIGINT)""".stripMargin
    },

    "x_zorder" ->
      s"""SELECT l_orderkey, l_linenumber,
         |       ${Layout.zOrder2Sql("l_partkey", "l_suppkey")} AS zval
         |FROM lineitem""".stripMargin,

    "x_zorder_layout" ->
      s"""WITH b AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         |mm AS (SELECT min(pk) AS pkmin, max(pk) AS pkmax,
         |              min(sk) AS skmin, max(sk) AS skmax FROM b),
         |g AS (SELECT pk, sk,
         |        ((pk - pkmin) * 65536) // (pkmax - pkmin + 1) AS x16,
         |        ((sk - skmin) * 65536) // (skmax - skmin + 1) AS y16
         |      FROM b, mm),
         |zagg AS (SELECT ${Layout.zOrder2Sql("x16", "y16")} >> 27
         |                  AS bucket,
         |           count(*) AS n_z, max(pk) - min(pk) AS z_pk_span,
         |           max(sk) - min(sk) AS z_sk_span
         |         FROM g GROUP BY 1),
         |lagg AS (SELECT x16 >> 11 AS bucket,
         |           count(*) AS n_lin, max(pk) - min(pk) AS lin_pk_span,
         |           max(sk) - min(sk) AS lin_sk_span
         |         FROM g GROUP BY 1)
         |SELECT bucket, n_z, z_pk_span, z_sk_span,
         |       n_lin, lin_pk_span, lin_sk_span
         |FROM zagg JOIN lagg USING (bucket)""".stripMargin,

    // the greedy fill replayed: same (size DESC, file_id) order, ROWS
    // frame (== Spark's RANGE frame here — the ordering key is unique),
    // same floor-division group id
    "x_compaction_plan" ->
      """WITH f AS (SELECT CAST(ts AS DATE) AS dt, user_id % 8 AS writer,
        |             1024 + count(*) * 64 +
        |               sum(length(props)) AS size_bytes
        |           FROM events GROUP BY 1, 2),
        |ff AS (SELECT year(dt) * 100 + month(dt) AS part_month,
        |         dt::VARCHAR || '-' || writer::VARCHAR AS file_id,
        |         size_bytes
        |       FROM f),
        |a AS (SELECT part_month, file_id, size_bytes,
        |        sum(size_bytes) OVER (PARTITION BY part_month
        |          ORDER BY size_bytes DESC, file_id
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM ff)
        |SELECT part_month, ((cum - size_bytes) // 64000)::BIGINT AS grp,
        |       count(*) AS n_files, sum(size_bytes)::BIGINT AS total_bytes,
        |       max(size_bytes)::BIGINT AS max_file_bytes
        |FROM a GROUP BY 1, 2""".stripMargin,

    // the executed rewrite replayed analytically: the same greedy fill
    // gives each (day, writer) file its group; n_rows/bytes_readback
    // are what a LOSSLESS rewrite must read back, and files_written is
    // the literal 1 the one-file-per-group layout promises — the Spark
    // side measures all three off the rewritten parquet
    "x_compaction_exec" ->
      """WITH f AS (SELECT CAST(ts AS DATE) AS dt, user_id % 8 AS writer,
        |             count(*) AS n_rows_f,
        |             1024 + count(*) * 64 +
        |               sum(length(props)) AS size_bytes
        |           FROM events GROUP BY 1, 2),
        |ff AS (SELECT (year(dt) * 100 + month(dt))::INTEGER AS part_month,
        |         dt::VARCHAR || '-' || writer::VARCHAR AS file_id,
        |         n_rows_f, size_bytes
        |       FROM f),
        |a AS (SELECT part_month, file_id, n_rows_f, size_bytes,
        |        sum(size_bytes) OVER (PARTITION BY part_month
        |          ORDER BY size_bytes DESC, file_id
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM ff)
        |SELECT part_month, ((cum - size_bytes) // 64000)::BIGINT AS grp,
        |       count(*) AS n_files, sum(n_rows_f)::BIGINT AS n_rows,
        |       sum(size_bytes)::BIGINT AS bytes_readback,
        |       1::BIGINT AS files_written
        |FROM a GROUP BY 1, 2""".stripMargin,

    "x_skew_salted_join" ->
      """WITH dim AS (SELECT event_type, count(*) AS type_n
        |             FROM events GROUP BY 1)
        |SELECT e.event_type, d.type_n, count(*) AS n,
        |       sum(round(e.value * 100)::BIGINT)::BIGINT AS value_cents
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY 1, 2""".stripMargin,

    "x_q6_revenue" ->
      """SELECT count(*) AS n_items,
        |       sum(round(l_extendedprice * l_discount * 10000)::BIGINT)
        |         ::BIGINT AS revenue_x10000
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "x_q14_promo" ->
      """SELECT sum(CASE WHEN p_type = 'PROMO'
        |             THEN round(l_extendedprice * (1 - l_discount) * 10000)
        |               ::BIGINT ELSE 0 END)::BIGINT AS promo_x10000,
        |       sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)
        |         ::BIGINT AS total_x10000,
        |       count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'""".stripMargin,

    "x_q19_disjunctive" ->
      """SELECT count(*) AS n_items,
        |       sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)
        |         ::BIGINT AS revenue_x10000
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "x_scd2_history" ->
      """SELECT user_id, event_id, ts AS valid_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         AS valid_to,
        |       round(value * 100)::BIGINT AS value_cents
        |FROM events""".stripMargin,

    "x_profile_events" ->
      """SELECT count(*) AS n_rows,
        |       count(DISTINCT user_id) AS n_users,
        |       count(DISTINCT event_type) AS n_types,
        |       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT
        |         AS null_values,
        |       min(ts) AS min_ts, max(ts) AS max_ts,
        |       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
        |FROM events""".stripMargin,

    // the roundtrip rows re-aggregate what the Spark side wrote to
    // CSV/JSON — the oracle is the parquet original: the text format
    // must be semantically invisible
    "x_csv_roundtrip" ->
      """SELECT count(*) AS n, count(DISTINCT event_type) AS n_types,
        |       max(ts) AS max_ts,
        |       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
        |FROM events""".stripMargin,

    "x_orc_roundtrip" ->
      """SELECT count(*) AS n, count(DISTINCT event_type) AS n_types,
        |       max(ts) AS max_ts,
        |       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents,
        |       sum(length(props))::BIGINT AS props_chars
        |FROM events""".stripMargin,

    "x_incremental_agg" ->
      """SELECT user_id, date_trunc('day', ts) AS day,
        |       count(*) AS n,
        |       sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
        |       max(ts) AS max_ts
        |FROM events GROUP BY 1, 2""".stripMargin,

    "x_json_roundtrip" ->
      """SELECT count(*) AS n, count(DISTINCT event_type) AS n_types,
        |       max(ts) AS max_ts,
        |       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents,
        |       sum(length(props))::BIGINT AS props_chars
        |FROM events""".stripMargin,

    // the build row verifies the written table against plain parquet
    "x_bucketed_join_build" ->
      """SELECT count(*) AS n,
        |       sum(round(value * 100)::BIGINT)::BIGINT AS cents
        |FROM events""".stripMargin,

    // the bucketed layout is invisible to semantics — plain join SQL
    "x_bucketed_join" ->
      """WITH dim AS (SELECT user_id, count(*) AS n_events,
        |                    sum(round(value * 100)::BIGINT) AS cents
        |             FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |       sum(d.cents)::BIGINT AS total_cents
        |FROM events e JOIN dim d USING (user_id)
        |GROUP BY 1""".stripMargin,

    // drift monitors: the tagged-and-binned CTE chain replays the
    // Spark plan exactly — integer midpoint split (tus·2 < lo+hi),
    // cents clamp, truncating integer division (non-negative domain ⇒
    // Spark div == DuckDB //), open top bin
    "mon_drift_bins" ->
      s"""WITH $MonBinsCtes
         |SELECT g.event_type AS event_type, bin, n_ref, n_cur,
         |       n_cur*nr - n_ref*nc AS diff_scaled
         |FROM g JOIN tot ON g.event_type = tot.event_type""".stripMargin,

    "mon_drift_stats" ->
      s"""WITH $MonBinsCtes,
         |d AS (SELECT g.event_type AS event_type, n_ref, n_cur,
         |        nr, nc, nb,
         |        abs(n_cur*nr - n_ref*nc) AS adiff,
         |        round(((n_cur+1)::DOUBLE/(nc+nb)::DOUBLE
         |               - (n_ref+1)::DOUBLE/(nr+nb)::DOUBLE)
         |          * ln(((n_cur+1)::DOUBLE/(nc+nb)::DOUBLE)
         |             / ((n_ref+1)::DOUBLE/(nr+nb)::DOUBLE)), 9) AS contrib
         |      FROM g JOIN tot ON g.event_type = tot.event_type)
         |SELECT event_type, max(nr) AS n_ref, max(nc) AS n_cur,
         |       sum(adiff)::BIGINT AS tvd_scaled,
         |       CASE WHEN max(nr) > 0 AND max(nc) > 0 THEN
         |         sum(adiff)::DOUBLE
         |           / (2.0 * max(nr)::DOUBLE * max(nc)::DOUBLE)
         |       END AS tvd,
         |       CASE WHEN max(nr) > 0 AND max(nc) > 0 THEN
         |         round(sum(contrib), 6)
         |       END AS psi
         |FROM d GROUP BY 1""".stripMargin,

    "mon_ks_value" ->
      s"""WITH $MonTaggedCtes,
         |g AS (SELECT event_type, c AS value,
         |        sum(is_ref)::BIGINT AS n_ref,
         |        sum(1-is_ref)::BIGINT AS n_cur
         |      FROM t GROUP BY 1, 2),
         |w AS (SELECT event_type,
         |        sum(n_ref) OVER (PARTITION BY event_type
         |          ORDER BY value) AS cr,
         |        sum(n_cur) OVER (PARTITION BY event_type
         |          ORDER BY value) AS cc,
         |        sum(n_ref) OVER (PARTITION BY event_type) AS nr,
         |        sum(n_cur) OVER (PARTITION BY event_type) AS nc
         |      FROM g)
         |SELECT event_type, max(nr)::BIGINT AS n_ref,
         |       max(nc)::BIGINT AS n_cur,
         |       max(abs(cr*nc - cc*nr))::BIGINT AS ks_scaled,
         |       CASE WHEN max(nr) > 0 AND max(nc) > 0 THEN
         |         max(abs(cr*nc - cc*nr))::DOUBLE
         |           / (max(nr)::DOUBLE * max(nc)::DOUBLE)
         |       END AS ks
         |FROM w GROUP BY 1""".stripMargin,

    "mon_new_categories" ->
      """WITH e AS (SELECT event_type || ':' || props AS category, ts,
        |             epoch_us(ts) AS tus
        |           FROM events),
        |b AS (SELECT min(tus) AS lo FROM e),
        |t AS (SELECT category, ts,
        |        CASE WHEN tus < lo + 86400000000 THEN 1 ELSE 0 END
        |          AS is_ref
        |      FROM e, b)
        |SELECT category, sum(1-is_ref)::BIGINT AS n_cur,
        |       min(CASE WHEN is_ref = 0 THEN ts END) AS first_seen
        |FROM t GROUP BY 1
        |HAVING sum(is_ref) = 0 AND sum(1-is_ref) > 0""".stripMargin
  )

  /** Shared oracle CTEs for the drift monitors: quantize → clamp →
    * integer midpoint tag (`t`), then bin counts (`g`) and per-type
    * totals (`tot`). */
  private val MonTaggedCtes =
    """e AS (SELECT event_type,
      |        greatest(round(value*100)::BIGINT, 0) AS c,
      |        epoch_us(ts) AS tus
      |      FROM events WHERE value IS NOT NULL),
      |b AS (SELECT min(tus) AS lo, max(tus) AS hi FROM e),
      |t AS (SELECT event_type, c,
      |        CASE WHEN tus*2 < lo+hi THEN 1 ELSE 0 END AS is_ref
      |      FROM e, b)""".stripMargin

  private val MonBinsCtes =
    s"""$MonTaggedCtes,
       |g AS (SELECT event_type, least(c // 2500, 19) AS bin,
       |        sum(is_ref)::BIGINT AS n_ref,
       |        sum(1-is_ref)::BIGINT AS n_cur
       |      FROM t GROUP BY 1, 2),
       |tot AS (SELECT event_type, sum(n_ref)::BIGINT AS nr,
       |          sum(n_cur)::BIGINT AS nc, count(*)::BIGINT AS nb
       |        FROM g GROUP BY 1)""".stripMargin
}

package graft

import java.sql.Timestamp

import graft.model.FeatureView
import graft.sources.FeatureSource

/** Randomized-property harness for the flagship: on seeded random
  * datasets (duplicate entity rows, boundary-exact timestamps, keys
  * with no features, TTL on/off), both engine entry points and the
  * independent compositional formulation must equal a nested-loop
  * in-memory oracle row for row. Fixture suites prove the
  * known corners; this sweeps the space between them. Seeds are fixed —
  * a failure reproduces exactly. */
class PitPropertySpec extends SparkSpec {

  // feature row: (key, eventSec, seq)  — seq doubles as a UNIQUE created
  // marker, so the latest-pick is deterministic without tie-break config
  private def oracle(
      feats: Seq[(Long, Long, Long)], ents: Seq[(Long, Long)],
      ttl: Long): Seq[(Long, Long, Option[Long])] =
    ents.map { case (k, ets) =>
      val cands = feats.filter { case (fk, fts, _) =>
        fk == k && fts <= ets && (ttl == 0 || fts >= ets - ttl)
      }
      val best =
        if (cands.isEmpty) None
        else Some(cands.maxBy { case (_, fts, seq) => (fts, seq) }._3)
      (k, ets, best)
    }

  test("native == compositional == nested-loop oracle on random data") {
    import spark.implicits._
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val nKeys = 1 + rnd.nextInt(4)
      val ttl = if (rnd.nextBoolean()) 0L else (1 + rnd.nextInt(30)).toLong
      val feats = Seq.tabulate(5 + rnd.nextInt(35)) { i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(100).toLong, i.toLong)
      }
      val ents = Seq.tabulate(3 + rnd.nextInt(15)) { _ =>
        // keys 0..nKeys (one past the feature key range ⇒ guaranteed
        // feature-less entities appear regularly)
        (rnd.nextInt(nKeys + 1).toLong, rnd.nextInt(100).toLong)
      }

      feats.map { case (k, ts, seq) =>
        (k, new Timestamp(ts * 1000L), new Timestamp(seq * 1000L), seq)
      }.toDF("driver_id", "event_timestamp", "created", "seq")
        .createOrReplaceTempView(s"pit_prop_src_$seed")
      val fv = FeatureView(s"p$seed", Seq("driver_id"),
        FeatureSource(table = Some(s"pit_prop_src_$seed"),
          createdTimestampColumn = Some("created")),
        features = Seq("seq"), ttlSeconds = ttl)
      val entityDf = ents.map { case (k, ts) =>
        (k, new Timestamp(ts * 1000L))
      }.toDF("driver_id", "event_timestamp")

      def got(df: org.apache.spark.sql.DataFrame) =
        df.collect().map { r =>
          (r.getAs[Long]("driver_id"),
            r.getAs[Timestamp]("event_timestamp").getTime / 1000L,
            Option(r.getAs[Any]("seq")).map(_.asInstanceOf[Long]))
        }.sortBy(t => (t._1, t._2, t._3.getOrElse(-1L))).toSeq

      val expected = oracle(feats, ents, ttl)
        .sortBy(t => (t._1, t._2, t._3.getOrElse(-1L)))
      val classic =
        got(CompositionalPit.getHistoricalFeatures(entityDf, Seq(fv)))
      val engine = got(PointInTime.getHistoricalFeatures(entityDf, Seq(fv)))
      val native =
        got(PointInTime.getHistoricalFeaturesNative(entityDf, Seq(fv)))
      assert(classic == expected,
        s"seed=$seed ttl=$ttl: compositional != oracle\n$classic\n$expected")
      assert(engine == expected,
        s"seed=$seed ttl=$ttl: engine != oracle\n$engine\n$expected")
      assert(native == expected,
        s"seed=$seed ttl=$ttl: native != oracle\n$native\n$expected")
    }
  }

  test("pullLatest == nested-loop oracle on random windows") {
    import spark.implicits._
    for (seed <- 20 to 28) {
      val rnd = new scala.util.Random(seed)
      val nKeys = 1 + rnd.nextInt(4)
      val rows = Seq.tabulate(5 + rnd.nextInt(30)) { i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(100).toLong, i.toLong)
      }
      val lo = rnd.nextInt(50).toLong
      val hi = lo + rnd.nextInt(50).toLong
      rows.map { case (k, ts, seq) =>
        (k, new Timestamp(ts * 1000L), new Timestamp(seq * 1000L), seq)
      }.toDF("driver_id", "ts", "created", "seq")
        .createOrReplaceTempView(s"pull_prop_src_$seed")
      val got = PullLatest.pullLatest(
        spark, FeatureSource(table = Some(s"pull_prop_src_$seed"),
          eventTimestampColumn = "ts",
          createdTimestampColumn = Some("created")),
        Seq("driver_id"), Seq("seq"), "ts", Some("created"),
        new Timestamp(lo * 1000L), new Timestamp(hi * 1000L))
        .select("driver_id", "seq").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = rows
        .filter { case (_, ts, _) => ts >= lo && ts <= hi }
        .groupBy(_._1)
        .map { case (k, g) =>
          k -> g.maxBy { case (_, ts, seq) => (ts, seq) }._3 }
      assert(got == expected, s"seed=$seed window=[$lo,$hi]")
    }
  }
}

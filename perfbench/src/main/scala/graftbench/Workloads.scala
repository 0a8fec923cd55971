package graftbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, EntityFrame, Materializer, OnlineStore, PointInTime, PullLatest, RetrievalJob}
import graft.llm.{Dedup, Graph, Sampling, Similarity, TextAnalysis}
import graft.model.FeatureView
import graft.sources.FeatureSource

import Tracer.{Span, SpanFields}

/** One benchmark workload: seeded inputs, a warm-up, a timed closed loop
  * of calls into graft's public API, and output checks on every call. */
trait Workload {
  /** Generate the inputs from the run's seed and write them under `dir`.
    * Repeated a few times per run; the last repetition's files are used.
    * Returns the generated row counts. */
  def setup(run: Run, dir: File): Map[String, Long]
  /** Build the plain-Scala expectations the checks compare against. */
  def prepare(run: Run): Unit
  def warmup(run: Run): Unit
  /** Nominal time of one round on a 4-core box. A run of `--seconds S`
    * issues ceil(S / roundSeconds) rounds: a count fixed by `S` alone, so
    * every run samples the same rounds (window positions, passes) however
    * fast graft's calls are. */
  def roundSeconds: Double
  /** Issue `rounds` rounds from a fresh state, then release that state. */
  def measure(run: Run, rounds: Int): Unit
  /** Sample kinds behind `main_p50_ms`, `second_p50_ms`, `third_p50_ms`. */
  def kinds: Seq[String]
  /** Per-layer extras, from the traced rounds' spans. */
  def extras(run: Run, spans: Seq[(Span, SpanFields)]): Map[String, Double]
  /** Further figures under descriptive names, for the readable report. */
  def report(run: Run): Seq[(String, Double, String)]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "feature_store" => new FeatureStore
    case "corpus_curation" => new CorpusCuration
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def write(spark: SparkSession, path: File, schema: StructType,
      rows: Seq[Row], parts: Int = 4): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .write.mode("overwrite").parquet(path.getPath)

  def ts(ms: Long): Timestamp = new Timestamp(ms)

  /** Median of one field over the spans named `name`, 0 when none ran. */
  def med(spans: Seq[(Span, SpanFields)], name: String)(f: SpanFields => Double): Double = {
    val xs = spans.collect { case (s, v) if s.name == name => f(v) }
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  def sumOf(spans: Seq[(Span, SpanFields)], names: Set[String])(f: SpanFields => Double): Double =
    spans.collect { case (s, v) if names(s.name) => f(v) }.sum

  val StatsSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("event_ts", TimestampType, nullable = false),
    StructField("created_ts", TimestampType, nullable = false),
    StructField("clicks", LongType, nullable = false),
    StructField("spend", DoubleType, nullable = false)))

  def statRows(st: Array[Gen.StatRow]): Seq[Row] = st.toSeq.map(r =>
    Row(r.userId, ts(r.eventMs), ts(r.createdMs), r.clicks, r.spend))

  def statsView(dir: File): FeatureView = FeatureView("user_stats",
    Seq("user_id"),
    FeatureSource(path = Some(new File(dir, "user_stats").getPath),
      eventTimestampColumn = "event_ts", createdTimestampColumn = Some("created_ts")),
    Seq("clicks", "spend"), Gen.StatsTtlS)
}

import Workload._

/** The feature-store client: each round retrieves point-in-time features
  * through both of graft's implementations (same spine, same Arrow
  * fetch), then materializes the next daily window and serves point reads
  * from a store whose keys fit its serving cache and from one whose keys
  * outgrew it. */
final class FeatureStore extends Workload {
  private val pit = new PitRetrieval
  private val mat = new MaterializeServe

  def kinds: Seq[String] = Seq("engine", "native", "window")

  def setup(run: Run, dir: File): Map[String, Long] = {
    val counts = pit.setup(run, dir)
    mat.setup(run, dir, pit.stats)
    counts
  }

  def prepare(run: Run): Unit = { pit.prepare(); mat.prepare(run) }

  private def round(run: Run): Unit = { pit.retrievals(run); mat.step(run) }

  def warmup(run: Run): Unit = {
    run.warmUp(rounds = 2)(_ => round(run))
    mat.restart()
  }

  def roundSeconds: Double = 6.0

  def measure(run: Run, rounds: Int): Unit = {
    require(rounds <= mat.MaxWindows, s"$rounds rounds exceed the ${mat.MaxWindows} daily windows")
    for (_ <- 1 to rounds) run.round("feature_store")(round(run))
    mat.restart()
  }

  def extras(run: Run, spans: Seq[(Span, SpanFields)]): Map[String, Double] =
    pit.extras(spans) ++ mat.extras(spans)

  def report(run: Run): Seq[(String, Double, String)] = pit.report(run) ++ mat.report(run)
}

/** Point-in-time retrieval through the Engine and through the native
  * as-of operator. */
final class PitRetrieval {
  private var in: Gen.PitInputs = _
  private var views: Seq[FeatureView] = _
  private var spine: DataFrame = _
  private var expected: RowHash.Digest = _
  private val resultBytes = mutable.ArrayBuffer[Long]()

  def stats: Array[Gen.StatRow] = in.stats

  def setup(run: Run, dir: File): Map[String, Long] = {
    val spark = run.spark
    in = Gen.pit(run.seed)
    write(spark, new File(dir, "user_stats"), StatsSchema, statRows(in.stats))
    write(spark, new File(dir, "user_profile"), StructType(Seq(
      StructField("user_id", LongType, nullable = false),
      StructField("event_ts", TimestampType, nullable = false),
      StructField("age", IntegerType, nullable = false),
      StructField("tier", StringType, nullable = false))),
      in.profiles.toSeq.map(r => Row(r.userId, ts(r.eventMs), r.age, r.tier)))
    write(spark, new File(dir, "global_stats"), StructType(Seq(
      StructField("event_ts", TimestampType, nullable = false),
      StructField("global_load", DoubleType, nullable = false))),
      in.global.toSeq.map(r => Row(ts(r.eventMs), r.load)), parts = 1)
    write(spark, new File(dir, "spine"), StructType(Seq(
      StructField("user_id", LongType, nullable = false),
      StructField("event_timestamp", TimestampType, nullable = false))),
      in.spine.toSeq.map(r => Row(r.userId, ts(r.eventMs))))
    def src(t: String) = FeatureSource(path = Some(new File(dir, t).getPath),
      eventTimestampColumn = "event_ts")
    views = Seq(
      statsView(dir),
      FeatureView("user_profile", Seq("user_id"), src("user_profile"),
        Seq("age", "tier"), Gen.ProfileTtlS),
      FeatureView("global_stats", Nil, src("global_stats"),
        Seq("global_load"), Gen.GlobalTtlS))
    views.foreach(_.source.validate(spark))
    spine = spark.read.parquet(new File(dir, "spine").getPath)
    in.rowCounts
  }

  def prepare(): Unit = {
    val st = Oracle.asOfByKey[Long, Gen.StatRow](in.stats.toSeq, _.userId,
      _.eventMs, _.createdMs, Gen.StatsTtlS * 1000)
    val pr = Oracle.asOfByKey[Long, Gen.ProfileRow](in.profiles.toSeq,
      _.userId, _.eventMs, _ => 0L, Gen.ProfileTtlS * 1000)
    val gl = new Oracle.AsOf[Gen.GlobalRow](in.global.toSeq, _.eventMs,
      _ => 0L, Gen.GlobalTtlS * 1000)
    expected = RowHash.of(in.spine.iterator.map { e =>
      val s = st.get(e.userId).flatMap(_.at(e.eventMs))
      val p = pr.get(e.userId).flatMap(_.at(e.eventMs))
      val g = gl.at(e.eventMs)
      Seq("user_id" -> e.userId, "event_timestamp" -> e.eventMs * 1000,
        "clicks" -> s.map(_.clicks).orNull, "spend" -> s.map(_.spend).orNull,
        "age" -> p.map(_.age).orNull, "tier" -> p.map(_.tier).orNull,
        "global_load" -> g.map(_.load).orNull)
    })
  }

  private def checked(run: Run, path: String)(bytes: Array[Byte]): Unit =
    run.tracer.span("bench.check") {
      resultBytes += bytes.length
      val got = RowHash.ofArrow(bytes)
      run.check(got == expected,
        s"$path retrieval digest $got differs from the as-of oracle's $expected")
    }

  def retrievals(run: Run): Unit = {
    val t = run.tracer
    run.call("engine") {
      val job = t.span("pit_engine.build") {
        val j = new Engine(run.spark).getHistoricalFeatures(EntityFrame(spine), views)
        j.toDF
        j
      }
      t.span("pit_engine.exec")(job.collectAsArrow())
    }(checked(run, "Engine"))
    run.call("native") {
      val df = t.span("pit_native.build")(
        PointInTime.getHistoricalFeaturesNative(spine, views))
      t.span("pit_native.exec")(RetrievalJob(df).collectAsArrow())
    }(checked(run, "native"))
  }

  def extras(spans: Seq[(Span, SpanFields)]): Map[String, Double] = {
    val pit = Set("pit_engine.build", "pit_engine.exec", "pit_native.build",
      "pit_native.exec")
    val rowsOut = spans.count(_._1.name.endsWith(".exec")) * in.spine.length.toDouble
    Map(
      "sources.pit_rows_read_per_row_out" ->
        (if (rowsOut == 0) 0.0 else sumOf(spans, pit)(_.recordsRead.toDouble) / rowsOut),
      "retrieval.result_mb" ->
        (if (resultBytes.isEmpty) 0.0 else Stats.median(resultBytes.map(_ / 1e6).toSeq)))
  }

  def report(run: Run): Seq[(String, Double, String)] = {
    val both = run.series("engine") ++ run.series("native")
    Seq(("pit_rows_per_s",
      if (both.isEmpty) 0.0 else both.size * in.spine.length / both.sum, "rows/s"))
  }
}

/** Incremental materialization over consecutive daily windows, each
  * followed by point reads from a store whose keys fit its serving cache
  * and from one whose keys outgrew it. Each phase of a run (warm-up,
  * timed rounds) starts from empty stores at the same day, so window k
  * of a phase always merges the same state. */
final class MaterializeServe {
  val FirstDay = 3
  val MaxWindows: Int = Gen.Days - FirstDay
  val GetsPerWindow = 4000
  val UncachedPerWindow = 4
  /** Serving-cache bound of the second store: half the key count. */
  val bound: Long = Gen.Users / 2L

  private var stats: Array[Gen.StatRow] = _
  private var view: FeatureView = _
  private var keys: Gen.KeyDraw = _

  private final class Stores {
    val mat = new Materializer(spark, view)
    val bounded = new OnlineStore(Seq("user_id"), "event_ts", Some("created_ts"), bound)
    val oracle = new Oracle.Latest[Long, Gen.StatRow](_.userId, _.eventMs, _.createdMs)
    var done = 0
    var prevEnd: Option[Long] = None
    def release(): Unit = Seq(mat.store, bounded).foreach(
      _.snapshot.foreach(org.apache.spark.sql.GraftSql.unpersistCheckpoint))
  }
  private var spark: SparkSession = _
  private var stores: Stores = _
  private val stateRows = mutable.ArrayBuffer[Double]()
  private val mergedPerNew = mutable.ArrayBuffer[Double]()
  private val cachedKeys = mutable.ArrayBuffer[Double]()
  private var hits = 0L
  private var gets = 0L

  /** Reads the `user_stats` table the retrieval side wrote to `dir`. */
  def setup(run: Run, dir: File, rows: Array[Gen.StatRow]): Unit = {
    spark = run.spark
    stats = rows
    view = statsView(dir)
  }

  def prepare(run: Run): Unit =
    keys = new Gen.KeyDraw(run.seed)

  private def sameRow(o: Option[Gen.StatRow], got: Option[Map[String, Any]]): Boolean =
    (o, got) match {
      case (None, None) => true
      case (Some(r), Some(m)) =>
        m("user_id") == r.userId && m("clicks") == r.clicks && m("spend") == r.spend &&
          m("event_ts").asInstanceOf[Timestamp].getTime == r.eventMs &&
          m("created_ts").asInstanceOf[Timestamp].getTime == r.createdMs
      case _ => false
    }

  /** One window: materialize, feed the bounded store the same pull, then
    * read from both stores. */
  def step(run: Run): Unit = {
    val t = run.tracer
    if (stores == null) stores = new Stores
    val cur = stores
    val end = Gen.T0Ms + (FirstDay + cur.done + 1) * Gen.DayMs
    val start = cur.prevEnd.getOrElse(end - Gen.StatsTtlS * 1000)
    val before = cur.oracle.size
    val newKeys = t.span("bench.check")(cur.oracle.merge(stats, start, end))
    run.call("window")(t.span("materialize.window")(
      cur.mat.materializeIncremental(ts(end)))) { _ =>
      run.check(cur.mat.store.cachedKeyCount == cur.oracle.size,
        s"store holds ${cur.mat.store.cachedKeyCount} keys, oracle ${cur.oracle.size}")
    }
    if (!run.warm) {
      stateRows += cur.oracle.size
      if (newKeys > 0) mergedPerNew += (before + newKeys).toDouble / newKeys
      cachedKeys += cur.mat.store.cachedKeyCount
    }
    run.call("bounded_write")(t.span("online_bounded.write")(
      cur.bounded.write(PullLatest.pullLatest(spark, view.source, view.entities,
        view.features, "event_ts", Some("created_ts"), ts(start), ts(end))))) { _ =>
      val want = if (cur.oracle.size <= bound) cur.oracle.size else 0
      run.check(cur.bounded.cachedKeyCount == want,
        s"bounded store caches ${cur.bounded.cachedKeyCount} keys, expected $want")
    }
    for (_ <- 0 until GetsPerWindow) {
      val k = keys.next()
      run.call("get")(t.span("online.get")(cur.mat.store.get(Map("user_id" -> k)))) { r =>
        if (!run.warm) { gets += 1; if (r.isDefined) hits += 1 }
        run.check(sameRow(cur.oracle.get(k), r), s"cached get($k) = $r")
      }
    }
    for (_ <- 0 until UncachedPerWindow) {
      val k = keys.next()
      run.call("get_uncached")(t.span("online.get_uncached")(
        cur.bounded.get(Map("user_id" -> k)))) { r =>
        run.check(sameRow(cur.oracle.get(k), r), s"uncached get($k) = $r")
      }
    }
    cur.done += 1
    cur.prevEnd = Some(end)
  }

  /** Drop the stores; the next step starts fresh ones at [[FirstDay]]. */
  def restart(): Unit = {
    if (stores != null) stores.release()
    stores = null
  }

  def extras(spans: Seq[(Span, SpanFields)]): Map[String, Double] = {
    val windows = spans.filter(_._1.name == "materialize.window")
    val refresh = windows.map { case (_, f) =>
      f.callSites.collect { case (site, (_, secs)) if site.startsWith("count at Materialize.scala") ||
        site.startsWith("collect at Materialize.scala") => secs }.sum }
    val uncached = spans.filter(_._1.name == "online.get_uncached")
    val newRows = mergedPerNew.size
    def medOf(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    Map(
      "sources.window_rows_read_per_row_out" -> {
        val read = sumOf(spans, Set("materialize.window"))(_.recordsRead.toDouble)
        val out = windows.size * (if (stateRows.isEmpty) 0.0 else Stats.median(stateRows.toSeq))
        if (out == 0 || newRows == 0) 0.0 else read / out
      },
      "materialize.refresh_s" -> medOf(refresh),
      "materialize.state_rows" -> medOf(stateRows),
      "materialize.rows_merged_per_new_row" -> medOf(mergedPerNew),
      "online.hit_ratio" -> (if (gets == 0) 0.0 else hits.toDouble / gets),
      "online.jobs_per_uncached_get" ->
        (if (uncached.isEmpty) 0.0 else uncached.map(_._2.jobs).sum.toDouble / uncached.size),
      "online.cached_keys" -> medOf(cachedKeys))
  }

  def report(run: Run): Seq[(String, Double, String)] = {
    val g = run.series("get")
    Seq(
      ("online_get_p50_us", if (g.isEmpty) 0.0 else Stats.median(g) * 1e6, "us"),
      ("online_get_p99_us", if (g.size < 1000) 0.0 else Stats.percentile(g, 99) * 1e6, "us"))
  }
}

/** The curation journey (near-dup dedup, quality gate, mixture, token
  * budget), PageRank over a link graph, and IVF kNN batches served from
  * an index built in the same pass. */
final class CorpusCuration extends Workload {
  val Iters = 3
  val NList = 16
  val NProbe = 4
  val K = 10
  /** Recall@10 of the IVF batches against brute force must stay at or
    * above this. */
  val RecallFloor = 0.9

  private var in: Gen.CorpusInputs = _
  private var truth: Map[Long, Set[Long]] = _
  private val firstDigests = mutable.Map[String, Any]()
  private val dropRatios = mutable.ArrayBuffer[Double]()
  private val recalls = mutable.ArrayBuffer[Double]()

  def kinds: Seq[String] = Seq("pass", "journey", "pagerank")

  private var docs: DataFrame = _
  private var edges: DataFrame = _
  private var emb: DataFrame = _
  private var queries: Seq[DataFrame] = _

  def setup(run: Run, dir: File): Map[String, Long] = {
    val spark = run.spark
    in = Gen.corpus(run.seed)
    write(spark, new File(dir, "documents"), StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false))),
      in.docs.toSeq.map(x => Row(x.docId, x.text, x.lang)))
    write(spark, new File(dir, "links"), StructType(Seq(
      StructField("src", LongType, nullable = false),
      StructField("dst", LongType, nullable = false))),
      in.edges.toSeq.map(e => Row(e.src, e.dst)))
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false)))
    write(spark, new File(dir, "embeddings"), vecSchema,
      in.vectors.toSeq.map(v => Row(v.id, v.v.toSeq)))
    write(spark, new File(dir, "queries"), vecSchema.add("batch", IntegerType),
      in.queries.toSeq.zipWithIndex.flatMap { case (qs, b) => qs.toSeq.map(v => Row(v.id, v.v.toSeq, b)) },
      parts = 1)
    def read(t: String) = spark.read.parquet(new File(dir, t).getPath)
    docs = read("documents"); edges = read("links"); emb = read("embeddings")
    queries = in.queries.indices.map(b =>
      read("queries").filter(col("batch") === b).drop("batch"))
    in.rowCounts
  }

  /** Exact cosine top-K of every query, in plain Scala. */
  def prepare(run: Run): Unit = {
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val corpus = in.vectors.map(v => v.id -> unit(v.v))
    truth = in.queries.flatten.map { q =>
      val u = unit(q.v)
      q.id -> corpus.map { case (id, c) =>
        var d = 0.0; var i = 0
        while (i < c.length) { d += c(i) * u(i); i += 1 }
        (-d, id)
      }.sorted.take(K).map(_._2).toSet
    }.toMap
  }

  /** The first pass's digest of each result becomes the reference every
    * later pass must reproduce. */
  private def same(run: Run, what: String, digest: Any): Unit =
    firstDigests.get(what) match {
      case None => firstDigests(what) = digest
      case Some(d) => run.check(d == digest, s"$what digest $digest differs from the first pass's $d")
    }

  private def pass(run: Run): Unit = {
    val t = run.tracer
    run.call("pass") {
      val (deduped, budget) = run.timed("journey") {
        val deduped = t.span("dedup.build")(Dedup.dropNearDuplicates(docs, "doc_id", "text"))
        deduped -> t.span("curate_tail.exec") {
          val quality = TextAnalysis.qualityScore(deduped, "doc_id", "text")
          val keep = deduped.join(
            quality.filter(col("alpha_ratio") > 0.5).select("doc_id"), "doc_id")
          val mixed = Sampling.mixture(Seq(
            ("en", keep.filter(col("lang") === "en"), 0.9),
            ("rest", keep.filter(col("lang") =!= "en"), 0.3)), "doc_id", seed = "perfbench")
          TextAnalysis.tokenCounts(mixed, "doc_id", "text")
            .select("doc_id", "n_bpe_tokens", "n_chars").collect()
        }
      }

      val graph = run.timed("pagerank") {
        val ranks = t.span("graph.build")(Graph.pageRank(edges, "src", "dst", iters = Iters))
        val digest = t.span("graph.exec")(ranks.agg(count(lit(1)), sum("rank_scaled"),
          sum(pmod(xxhash64(col("node"), col("rank_scaled")), lit(1000000007L)))).head())
        org.apache.spark.sql.GraftSql.unpersistCheckpointTree(ranks)
        digest
      }

      val cents = t.span("ivf.train")(Similarity.trainIvfKMeans(emb, "vec_id", "embedding", NList, Iters))
      val index = t.span("ivf.assign") {
        val a = Similarity.assignCells(emb, "vec_id", "embedding", cents).persist()
        a.count()
        a
      }
      for (b <- queries.indices)
        run.call("knn")(t.span("knn.batch")(Similarity.ivfKnnTrained(emb, queries(b), "vec_id",
          "embedding", K, NList, NProbe, Iters, Some(cents), Some(index)).collect()))(checkKnn(run, b))
      index.unpersist()
      (deduped, budget, graph)
    } { case (deduped, budget, graph) =>
      t.span("bench.check") {
        val survivors = deduped.select("doc_id").collect().map(_.getLong(0))
        org.apache.spark.sql.GraftSql.unpersistCheckpointTree(deduped)
        val texts = in.docs.iterator.map(d => d.docId -> d.text).toMap
        val kept = survivors.toSet
        run.check(kept.size == survivors.length, "dedup returned a document twice")
        run.check(kept.toSeq.map(texts).distinct.size == kept.size,
          "two surviving documents share a text")
        val leaked = in.verbatimCopies.intersect(kept)
        run.check(leaked.isEmpty, s"verbatim copies survived dedup: ${leaked.take(5)}")
        run.check(graph.getLong(0) == in.nodes,
          s"PageRank ranked ${graph.getLong(0)} nodes, the graph has ${in.nodes}")
        if (!run.warm) dropRatios += 1.0 - kept.size.toDouble / in.docs.length
        same(run, "survivors", survivors.sorted.toSeq)
        same(run, "budget", RowHash.of(budget.iterator.map(r =>
          Seq("doc_id" -> r.get(0), "n_bpe_tokens" -> r.get(1), "n_chars" -> r.get(2)))))
        same(run, "pagerank", (graph.getLong(0), graph.getLong(1), graph.getLong(2)))
      }
    }
  }

  /** Recall against the exact top-K, and the same rows as the first pass. */
  private def checkKnn(run: Run, b: Int)(rows: Array[Row]): Unit = {
    val got = rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.map(_.getAs[Long]("nid")).toSet }
    val recall = in.queries(b).map(q => (got.getOrElse(q.id, Set.empty) & truth(q.id)).size)
      .sum.toDouble / (K * in.queries(b).length)
    if (!run.warm) recalls += recall
    run.check(recall >= RecallFloor, f"batch $b recall@$K $recall%.3f below $RecallFloor")
    same(run, s"knn$b", RowHash.of(rows.iterator.map(r =>
      Seq("qid" -> r.get(0), "nid" -> r.get(1), "rank" -> r.get(2)))))
  }

  def warmup(run: Run): Unit = run.warmUp(rounds = 1)(_ => pass(run))

  def roundSeconds: Double = 12.0

  def measure(run: Run, rounds: Int): Unit =
    for (_ <- 1 to rounds) run.round("pass")(pass(run))

  def extras(run: Run, spans: Seq[(Span, SpanFields)]): Map[String, Double] = {
    val graphJobs = spans.filter(s => s._1.name.startsWith("graph."))
      .groupBy(_._1.op).values.map(_.map(_._2.jobs).sum.toDouble / Iters)
    Map(
      "dedup.drop_ratio" -> (if (dropRatios.isEmpty) 0.0 else Stats.median(dropRatios.toSeq)),
      "graph.jobs_per_round" -> (if (graphJobs.isEmpty) 0.0 else Stats.median(graphJobs.toSeq)),
      "ivf.train_jobs" -> med(spans, "ivf.train")(_.jobs.toDouble),
      "knn.recall_at_10" -> (if (recalls.isEmpty) 0.0 else Stats.median(recalls.toSeq)))
  }

  def report(run: Run): Seq[(String, Double, String)] = Nil
}

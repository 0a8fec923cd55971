package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.model.FeatureView
import graft.sources.FeatureSource

/** Executable usage tour (ref: the reference ships `example.py` as its
  * user-facing walkthrough). Runs against the sf0.001 testdata:
  *
  * {{{ sbt "runMain graft.Example" }}}
  */
object Example {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.builder(4)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val engine = new Engine(spark)

    // 1. Define a feature source + view (table, query or parquet path;
    //    ref: example.py defines a HiveSource over a query).
    val events = FeatureSource(
      path = Some(s"$dir/events.parquet"),
      eventTimestampColumn = "ts",
      name = Some("user_events"))
    val view = FeatureView(
      name = "user_stats",
      entities = Seq("user_id"),
      source = events,
      features = Seq("value", "event_type"),
      ttlSeconds = 3600)

    // 2. Historical retrieval: entity df (here: a SQL spine) + PIT join.
    Tables.read(spark, dir, "events").createOrReplaceTempView("raw_events")
    val job = engine.getHistoricalFeatures(
      EntitySql(
        """SELECT user_id, ts + INTERVAL 30 MINUTE AS event_timestamp
          |FROM raw_events WHERE event_id % 200 = 0""".stripMargin),
      Seq(view), fullFeatureNames = true)
    println("— historical features (as-of join) —")
    job.toDF.show(5, truncate = false)

    // 3. Materialization: latest row per key over a window.
    println("— pull latest (materialize) —")
    engine.pullLatest(events, Seq("user_id"), Seq("value", "event_type"),
      "ts", None,
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-02-01 00:00:00")).toDF.show(5)

    // 4. LLM-pipeline operators over documents/embeddings.
    val docs = Tables.read(spark, dir, "documents")
    println("— near-duplicate documents (MinHash-LSH, verified) —")
    llm.Dedup.minHashLshPairs(docs, "doc_id", "text").show(5)
    println("— top-3 nearest neighbours (native graft_dot cosine) —")
    val emb = Tables.read(spark, dir, "embeddings")
    llm.Similarity.bruteForceKnn(
      emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", 3).show()

    // 5. The native expression is SQL-callable via GraftExtensions.
    emb.createOrReplaceTempView("emb")
    spark.sql(
      """SELECT a.vec_id, round(graft_dot(a.embedding, b.embedding), 4) AS dot
        |FROM emb a JOIN emb b ON b.vec_id = 0 AND a.vec_id < 3
        |ORDER BY a.vec_id""".stripMargin).show()

    // 6. END-TO-END TRAINING-SET BUILD — the full pipeline a pretraining
    //    data job runs, wired from the operators above:
    //    near-dup dedup → quality gate → language mixture → token budget.
    println("— training-set build: dedup → quality → mixture —")
    val deduped = llm.Dedup.dropNearDuplicates(docs, "doc_id", "text")
    val quality = llm.TextAnalysis.qualityScore(deduped, "doc_id", "text")
    val keep = deduped.join(
      quality.filter(col("alpha_ratio") > 0.5).select("doc_id"), "doc_id")
    val mixed = llm.Sampling.mixture(Seq(
      ("en", keep.filter(col("lang") === "en"), 0.9),
      ("rest", keep.filter(col("lang") =!= "en"), 0.3)),
      "doc_id", seed = "example-v1")
    val budget = llm.TextAnalysis.tokenCounts(mixed, "doc_id", "text")
      .agg(sum("n_bpe_tokens").as("total_tokens"),
        count(lit(1)).as("docs"))
    println(s"corpus ${docs.count()} docs → deduped ${deduped.count()} → " +
      s"quality-kept ${keep.count()}")
    budget.show()
    mixed.groupBy("mixture_source").count().show()

    // 7. Event analytics over the same stream: sessions, funnel,
    //    retention — all single-shuffle keyed plans.
    println("— sessions / funnel / retention —")
    val ev = Tables.read(spark, dir, "events")
    Sessionize.sessions(ev, "user_id", "ts", "event_id", 1800)
      .orderBy("user_id", "session_idx").show(3)
    Funnel.funnel(ev, "user_id", "ts", "event_id", "event_type",
      Seq("signup", "view", "purchase")).orderBy("stage_idx").show()

    // 8. Materialize features into an online store and point-read it —
    //    the offline/online consistency loop (see ConsistencySpec).
    println("— materialize + online point read —")
    val mat = new Materializer(spark, view)
    // no watermark yet → window = [end - ttl, end]; the fixture's events
    // end 2024-01-30 23:26, so this 1-hour window is populated
    mat.materializeIncremental(Timestamp.valueOf("2024-01-31 00:00:00"))
    val someUser = mat.store.snapshot.get.select("user_id").head().getLong(0)
    println(s"online user $someUser → ${mat.store.get(Map("user_id" -> someUser))}")

    // 9. ANN as an INDEX (round 5): train the deterministic k-means
    //    quantizer once, assign the corpus once, then serve kNN and
    //    near-dup-pair queries from the shared inverted file. Pair
    //    emission is CAPPED per doc — bounded output even on a
    //    duplicate-soup corpus (connected components only need a
    //    spanning set of edges).
    println("— IVF index: train once, assign once, query many —")
    val nList = llm.Similarity.defaultNList(emb.count())
    val cents = llm.Similarity.trainIvfKMeans(
      emb, "vec_id", "embedding", nList = nList)
    val index = llm.Similarity.assignCells(emb, "vec_id", "embedding", cents)
      .persist()
    llm.Similarity.ivfKnnTrained(
      emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3,
      centroids = Some(cents), assigned = Some(index)).show()
    llm.Dedup.capPairsPerDoc(
      llm.Similarity.cosinePairsIvf(emb, "vec_id", "embedding", tau = 0.4,
        assigned = Some(index)),
      "sim", k = 2).show(5)
    index.unpersist()

    // 10. Sketches (round 5): KB-sized summaries where exact answers
    //     don't scale — distinct counts (HLL), heavy hitters (CMS),
    //     set overlap (KMV), and a Bloom prefilter for semi-joins.
    println("— sketches: HLL / CMS / KMV / Bloom —")
    llm.Sketches.hllDistinct(ev, "user_id").show()
    llm.Sketches.cmsTopK(ev, "event_type", k = 3).show()
    llm.Sketches.kmvSetOps(ev, "user_id", "event_type",
      "click", "view").show()

    // 11. Incremental ingestion (round 5): a new batch dedups against
    //     the standing corpus only — no corpus×corpus work — and the
    //     bigram LM scores how corpus-like the survivors are.
    println("— incremental ingest + LM quality —")
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val fresh = llm.Dedup.dropDuplicatesAgainst(batch, corpus,
      "doc_id", "text")
    println(s"batch ${batch.count()} docs → ${fresh.count()} novel")
    llm.TextAnalysis.lmScore(fresh, corpus, "doc_id", "text")
      .orderBy(col("nll").desc).show(3)

    // 12. Round 6: the mergeable quantile sketch (bounded one-pass
    //     rank-error-bounded quantiles) and REAL video frame decode
    //     (AVI-MJPEG demux + javax.imageio pixel sums).
    println("— quantile sketch + video frame decode —")
    llm.Sketches.quantileSketchBy(
      ev, Seq("event_type"), "value", col("event_id"),
      qs = Seq(0.5, 0.9, 0.99), k = 256).show(9)
    llm.Multimodal.decodeFrames(
      llm.Multimodal.synthesizeMjpegVideos(docs.limit(3), "doc_id")).show()

    spark.stop()
  }
}

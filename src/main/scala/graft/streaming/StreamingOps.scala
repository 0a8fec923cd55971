package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured-Streaming counterparts of the engine's batch semantics.
  * The reference is batch-only (SURVEY §2.9) — these are the extension a
  * streaming feature pipeline needs, built on the standard primitives:
  * `withWatermark` + windowed aggregation, `dropDuplicates` streaming
  * dedup, and `mapGroupsWithState` for latest-per-key state.
  *
  * Scale posture: state is keyed by entity (hash-partitioned by the
  * streaming engine); watermarks bound state size; no per-batch driver
  * work. Sinks are the caller's choice (`writeStream` on the returned
  * frame).
  */
object StreamingOps {

  /** A keyed event row — the streaming materialization unit (entity key,
    * event time, feature value). */
  final case class KeyedEvent(user_id: Long, ts: Timestamp, value: Double)

  /** Generic streaming pull-latest: one state row per key holding the
    * "newest" element under the caller's ordering — arbitrary key and row
    * types, mirroring batch [[graft.PullLatest]]'s generality. Emits the
    * updated latest row for every key touched by a micro-batch (update
    * mode). Feed the output to an online-store sink and each key
    * converges to its as-of-now feature values. */
  def latestPerKeyTyped[K, T](
      events: Dataset[T], key: T => K, ordering: Ordering[T])(
      implicit kEnc: org.apache.spark.sql.Encoder[K],
      tEnc: org.apache.spark.sql.Encoder[T]): Dataset[T] =
    events
      .groupByKey(key)
      .mapGroupsWithState[T, T](GroupStateTimeout.NoTimeout) {
        (_: K, batch: Iterator[T], state: GroupState[T]) =>
          val newest = (batch ++ state.getOption.iterator).max(ordering)
          state.update(newest)
          newest
      }

  /** Concrete convenience shape (entity key, event time, feature value)
    * with the batch tie-break ordering (ts, then value). */
  def latestPerKey(events: Dataset[KeyedEvent]): Dataset[KeyedEvent] = {
    import events.sparkSession.implicits._
    latestPerKeyTyped[Long, KeyedEvent](
      events, _.user_id, Ordering.by(e => (e.ts.getTime, e.value)))
  }

  /** Watermarked sliding/tumbling event-time aggregation: events per
    * (entity, window). Late data beyond the watermark is dropped by the
    * engine; state for closed windows is reclaimed. */
  def windowedCounts(
      events: DataFrame, tsCol: String, keyCol: String,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col(keyCol))
      .agg(count(lit(1)).as("n_events"), max(col(tsCol)).as("latest_ts"))

  /** STREAMING HyperLogLog: maintains the 256-register distinct-count
    * sketch ([[graft.llm.Sketches]]) over an unbounded key stream — the
    * "distinct users ever" counter that exact streaming dedup cannot
    * provide (its state would grow with cardinality; this is 256 rows
    * FOREVER, no watermark needed).
    *
    * Registers are a monotone MAX, so the maintained table is order-,
    * batching- and replay-insensitive: a late or re-delivered event can
    * only re-assert a max it already set. HllStreamSpec proves the
    * streaming register table (and therefore the finished estimate via
    * [[graft.llm.Sketches.hllEstimate]]) EQUALS the batch build on the
    * same data delivered out of order. Run with `outputMode(Complete)`
    * (256 rows) or `Update` into a keyed sink. */
  def hllRegistersStream(events: DataFrame, keyCol: String): DataFrame =
    graft.llm.Sketches.hllRegisters(events, keyCol)

  /** STREAMING WINDOWED HyperLogLog: one 256-register sketch per
    * event-time window — the "distinct users per hour" counter with
    * state bounded at 256 rows × |open windows| (the watermark closes
    * windows and reclaims them; a plain windowed count-distinct would
    * hold every user id seen in every open window). Finish snapshots
    * with [[graft.llm.Sketches.hllEstimateBy]] on `window`. */
  def hllWindowedStream(
      events: DataFrame, tsCol: String, keyCol: String,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val sk = graft.llm.Sketches
    // NULL keys filtered for the same reason as the batch build
    // (Sketches.hllRegistersBy): countDistinct semantics ignore NULLs.
    events
      .filter(col(keyCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength),
        sk.hllBucket(col(keyCol)).as("bucket"))
      .agg(max(sk.hllRank(col(keyCol))).as("m"))
  }

  /** STREAMING Count-Min registers: the ≤ 4×512-counter frequency sketch
    * maintained over an unbounded key stream — heavy-hitter estimation
    * with 16 KB of state FOREVER, no watermark needed. Snapshots are
    * probed exactly like the batch sketch (same hash family, same
    * constants).
    *
    * Delivery contract (see [[graft.llm.Sketches.cmsRegisters]]): CMS
    * counters are sums and NOT replay-idempotent — the HLL/KMV twins
    * tolerate re-delivered ROWS, this one does not. Structured
    * Streaming's checkpointed offsets apply each record's state update
    * exactly once, so stream == batch holds under any batching/ordering
    * of distinct records (CmsStreamSpec); rows re-emitted BY THE SOURCE
    * as new records inflate the affected counters by exactly their
    * increments. Run with `outputMode(Complete)` (≤ 2048 rows) or
    * `Update` into a keyed sink; downstream consumers needing a
    * consistent snapshot under sink-level at-least-once should read
    * versioned foreachBatch output (the [[materializeInto]] pattern). */
  def cmsRegistersStream(events: DataFrame, keyCol: String): DataFrame =
    graft.llm.Sketches.cmsRegisters(events, keyCol)

  /** STREAMING quantile-sketch registers: the bottom-k-by-row-hash
    * uniform sample ([[graft.functions.BottomKByHashAgg]]) maintained
    * over an unbounded value stream — ≤k (hash, value) pairs of state
    * FOREVER, finishing to DKW rank-error-bounded quantiles exactly as
    * the batch sketch ([[graft.llm.Sketches.quantileSketchBy]]) does.
    * The sample is distinct on (hash, value) = row identity, so replays
    * re-insert as no-ops: stream == batch under out-of-order AND
    * at-least-once delivery (QuantileStreamSpec) — the KMV argument,
    * unlike the count-based CMS twin. Run with `outputMode(Complete)`
    * (one row). `rowId` must identify rows, as in the batch sketch. */
  def quantileSampleStream(
      events: DataFrame, valueCol: String, rowId: org.apache.spark.sql.Column,
      k: Int = 1024): DataFrame = {
    val samp = udaf(new graft.functions.BottomKByHashAgg(k))
    events.select(
        graft.llm.TextOps.hash32(rowId.cast("string")).as("h"),
        col(valueCol).cast("double").as("v"))
      .groupBy()
      .agg(samp(col("h"), col("v")).as("sample"))
  }

  /** STREAMING KMV registers: the bottom-k distinct key hashes per
    * label, maintained incrementally — ≤k longs of state per label
    * FOREVER, no watermark needed. Snapshots feed the
    * [[graft.llm.Sketches.kmvSetOps]] estimators (distinct counts, set
    * union/intersection). Bottom-k-distinct ignores ordering and
    * repetition, so the registers are out-of-order- and replay-safe
    * (KmvStreamSpec proves stream == batch under both). */
  def kmvRegistersStream(
      events: DataFrame, keyCol: String, labelCol: String,
      k: Int = graft.llm.Sketches.KmvK): DataFrame =
    graft.llm.Sketches.kmvRegisters(events, keyCol, labelCol, k)

  /** STREAMING ingestion filter: drop stream documents whose normalized
    * content hash already exists in the static corpus — the streaming
    * half of [[graft.llm.Dedup.dropDuplicatesAgainst]], as a
    * stream-static LEFT ANTI join (no state: the corpus relation is the
    * state). Decisions are per-document against the corpus, so
    * micro-batch boundaries cannot change results — IngestStreamSpec
    * proves stream == batch. For NEAR-dup ingestion filtering, run the
    * batch operator per micro-batch via `foreachBatch { (b, _) =>
    * Dedup.dropDuplicatesAgainst(b, corpus, …) … }` — the same
    * per-document-vs-corpus argument makes it batching-invariant. */
  def ingestExactFilterStream(
      incoming: DataFrame, corpus: DataFrame, textCol: String,
      corpusTextCol: String): DataFrame = {
    val hashes = corpus
      .select(md5(graft.llm.TextOps.normText(col(corpusTextCol)))
        .as("__graft_h")).distinct()
    incoming
      .withColumn("__graft_h", md5(graft.llm.TextOps.normText(col(textCol))))
      .join(hashes, Seq("__graft_h"), "left_anti")
      .drop("__graft_h")
  }

  /** STREAMING point-in-interval tagging — each streaming point joined
    * to the STATIC interval(s) containing it (session windows against a
    * maintenance calendar, events against promo periods). Delegates to
    * the batch operator verbatim: [[graft.IntervalJoin.pointInInterval]]
    * is a stateless per-row expansion + stream-static INNER equi-join on
    * the coarse bucket, which Structured Streaming executes per
    * micro-batch with no state and no watermark requirement (the static
    * side is bounded; the residual containment predicate rides on the
    * joined rows). Stream == batch per micro-batch by construction —
    * spec-proved on out-of-order delivery in `StreamingSpec`. */
  def pointsInIntervalsStream(
      points: DataFrame, tsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketSeconds: Long = 3600): DataFrame =
    graft.IntervalJoin.pointInInterval(
      points, tsCol, intervals, startCol, endCol, bucketSeconds)

  /** Streaming exact dedup: first occurrence PER ID wins within the
    * watermark horizon (the streaming analogue of
    * [[graft.llm.Dedup.dropExactDuplicates]]).
    * `dropDuplicatesWithinWatermark` is the primitive that implements
    * exactly this contract with watermark-bounded state — a plain
    * `dropDuplicates(idCols :+ ts)` would only drop rows identical in
    * BOTH id and timestamp, letting re-ingested duplicates through. */
  def dedupStream(
      events: DataFrame, idCols: Seq[String], tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** STREAMING multimodal near-dup filter — the streaming twin of the
    * batch `mm_audio_dedup` consumer: fingerprint each clip payload as
    * a STATELESS map (the shared canonical-WAV energy-fingerprint core,
    * [[graft.llm.Multimodal.fingerprintWavBytes]]), then keep the FIRST
    * clip per 64-bit pairing key `(fp_hi, fp_lo)` inside the watermark
    * horizon via `dropDuplicatesWithinWatermark` — key equality is
    * transitive, so first-wins per key IS the dedup (no clustering
    * state). State = one row per distinct key in the horizon, bounded
    * by the distinct clip contents seen (the 64-bit key does not
    * saturate the way the 16-bit family `fp` — still carried as a
    * column — would); the batch twin keeps min(doc_id) per key, so on
    * in-order delivery stream == batch (spec-proved). */
  def fingerprintDedupStream(
      clips: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val spark = clips.sparkSession
    import spark.implicits._
    clips.select(col("doc_id"), col("ts"), col("payload"))
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .map { case (id, t, bytes) =>
        val (n, total, fp, hi, lo) =
          graft.llm.Multimodal.fingerprintWavBytes(bytes)
        (id, t, fp, hi, lo, n, total)
      }
      .toDF("doc_id", "ts", "fp", "fp_hi", "fp_lo", "n_frames",
        "energy_sum")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp_hi", "fp_lo")
  }

  /** STREAMING recrawl merge — the streaming twin of
    * [[graft.llm.Web.crawlMerge]], and deliberately the SAME declarative
    * plan: a groupBy-aggregate on the canonical URL key runs
    * incrementally under Structured Streaming with one state row per
    * URL (the standing merged corpus — feed update mode to an upsert
    * sink and every URL converges to its latest fetch). Replay
    * semantics are split by field, which is why the twin is worth
    * stating: the `max(struct(ts, text))` pick is IDEMPOTENT under
    * at-least-once re-delivery of the same fetch (max of a re-seen
    * element is a no-op), while `n_fetches` is a count and diverges by
    * exactly the re-emitted rows — the CMS-not-HLL contract, proved in
    * WebStreamSpec. */
  def crawlMergeStream(fetches: DataFrame): DataFrame =
    graft.llm.Web.crawlMerge(fetches, "url", "fetch_ts", "text")

  /** STREAMING drift-monitor counts — the streaming twin of the
    * current-window side of [[graft.Monitor.binnedCounts]], and
    * deliberately the SAME declarative plan: the (group, bin) groupBy
    * aggregate runs incrementally with ONE state row per (group, bin)
    * — a histogram whose size is bounded by |groups|·nBins regardless
    * of stream length. Each micro-batch's output joins against a FIXED
    * reference histogram (the batch bootstrap window) to produce the
    * live TVD/PSI — that join is downstream of the state and needs no
    * replay reasoning. The contract worth stating is the state's own:
    * bin counts are COUNTS, so at-least-once re-delivery diverges them
    * by exactly the re-emitted rows (the n_fetches/CMS side of the
    * field-split contract; there is no idempotent max-pick field here
    * — proved both ways in MonitorStreamSpec). */
  def driftBinCountsStream(events: DataFrame, groupCol: String,
      centsCol: String, stepCents: Long, nBins: Int): DataFrame =
    graft.Monitor.binnedCounts(
      events.withColumn("__is_ref", lit(0)),
      groupCol, centsCol, "__is_ref", stepCents, nBins)
      .drop("n_ref")

  /** STREAMING vocabulary-drift alarm — the live twin of
    * [[graft.Monitor.newCategories]]: emits each category ABSENT from
    * the bootstrap reference vocabulary at its FIRST stream occurrence,
    * exactly once (append mode). Shape: `dropDuplicates(cat)` — ONE
    * state row per distinct category — then a stream-static LEFT ANTI
    * join against the reference vocabulary (re-planned per
    * micro-batch, stateless). The dedup state is DELIBERATELY not
    * watermark-reclaimed (the event-time column is excluded from the
    * dedup keys): evicting a seen category would re-fire its alarm on
    * the next occurrence — a false positive. State is therefore
    * bounded by VOCABULARY cardinality, never stream length — the same
    * bound as the batch operator's group-by, and the right unit of
    * sharding (by tenant/day) if a vocabulary ever outgrows one store.
    * The anti join sits DOWNSTREAM of the dedup state, so
    * at-least-once re-delivery collapses before the alarm fires: this
    * is the idempotent side of the field-split contract (first-seen is
    * a pick, not a count), unlike the divergent-by-replay bin counts
    * above — proved both ways in MonitorStreamSpec. */
  def newCategoriesStream(events: DataFrame, refCategories: DataFrame,
      catCol: String, tsCol: String): DataFrame =
    events.select(col(catCol), col(tsCol).as("first_seen"))
      .dropDuplicates(catCol)
      .join(refCategories.select(col(catCol)), Seq(catCol), "left_anti")

  /** STREAMING point-in-time enrichment — the streaming counterpart of
    * the flagship batch as-of join ([[graft.PointInTime]]): each
    * streaming entity row is attached the latest STATIC feature row with
    * `featureTs <= entityTs` (and `>= entityTs - ttl` when ttl > 0),
    * NULL features when none qualifies — the same semantics the batch
    * oracle checks, per micro-batch.
    *
    * Shape (r17): the static side contracts to ONE row per join key —
    * `sort_array(collect_list(struct(featureTs, features)))` — so the
    * stream-static LEFT OUTER join is 1:1 on the equi keys and the
    * latest-pick is a native O(log h) binary search per entity row
    * ([[graft.functions.AsOfPick]]); no pair explosion, no post-join
    * aggregation state. Ties on featureTs resolve to the
    * lexicographically-largest value tuple (a deterministic refinement
    * of the previous max_by's unspecified tie winner).
    *
    * Identical duplicate entity rows collapse to one (the batch engine's
    * A1 distinct-entity semantics) via watermarked dropDuplicates —
    * state = one row per distinct in-flight entity, the same bound the
    * old aggregate held, minus the feature history it buffered. The
    * dedup sits UPSTREAM of the join, so an identical entity row
    * arriving in a later micro-batch is dropped and never re-joins the
    * (re-planned) static snapshot: first-arrival-snapshot semantics —
    * observable only if the "static" side gains rows between batches
    * (e.g. a file source picking up new files); equivalent for a truly
    * static side.
    *
    * Requirements: every feature column must be an ORDERABLE type (the
    * history contraction sorts `struct(ts, features…)`; a map-typed
    * feature column that worked under the old ts-only `max_by` fails
    * analysis here — restructure such a column into an array of
    * key/value structs, or split the map out of the enrichment). */
  def enrichAsOf(
      entities: DataFrame,
      features: DataFrame,
      joinKeys: Seq[String],
      entityTsCol: String,
      featureTsCol: String,
      featureCols: Seq[String],
      ttlSeconds: Long = 0,
      watermark: String = "1 hour"): DataFrame = {
    require(joinKeys.nonEmpty, "enrichAsOf needs at least one join key")
    // feature VALUE columns keep their names through the join — a collision
    // with an entity column would make the post-join groupBy ambiguous
    val collisions = featureCols.toSet
      .intersect(entities.columns.toSet)
    require(collisions.isEmpty,
      s"feature columns collide with entity columns: " +
        s"${collisions.mkString(", ")} — rename one side")
    // the feature side is renamed to __f_* internally, the contracted
    // history column is __f_hist, and the picked struct is __best — an
    // entity or feature column already named any of these would make
    // keyCond ambiguous or be silently replaced by withColumn
    val reserved =
      (joinKeys.map("__f_" + _) ++ Seq("__f_ts", "__f_hist", "__best")).toSet
    val reservedHits = reserved
      .intersect(entities.columns.toSet ++ featureCols)
    require(reservedHits.isEmpty,
      s"columns collide with enrichAsOf's internal names: " +
        s"${reservedHits.mkString(", ")} — rename them")
    // CONTRACTED static side (r17, guide §8 — decide with small rows):
    // the feature relation collapses to ONE row per join key holding its
    // time-sorted history array, the join becomes 1:1 on the equi keys,
    // and the latest-pick is an O(log h) native binary search per entity
    // row (graft.functions.AsOfPick). The previous formulation joined
    // every entity row against EVERY feature row of its key inside the
    // TTL window and reduced the pairs in a stateful max_by aggregate —
    // a pair explosion quadratic in per-key event density, re-paid every
    // micro-batch (r17 10× probe: 12.6×/decade, 2.26 s → 28.6 s; the 10×
    // corpus densifies each user's history 10×). Null-ts feature rows
    // never qualified under the old range condition and are filtered
    // before the contraction; NULL entity ts yields NULL features
    // (AsOfPick is null-intolerant), as before. The per-micro-batch
    // re-aggregation of the static side remains — inherent to
    // stream-static re-planning; at dimension sizes where even the
    // contracted history relation is too hot to recompute, the scale
    // path is [[enrichAsOfStreamStream]] or persisting the snapshot.
    val f = features.select(
      (joinKeys.map(c => col(c).as(s"__f_$c")) :+
        col(featureTsCol).as("__f_ts")) ++ featureCols.map(col): _*)
      .filter(col("__f_ts").isNotNull)
    val hist = f
      .groupBy(joinKeys.map(c => col(s"__f_$c")): _*)
      .agg(sort_array(collect_list(
        struct(col("__f_ts") +: featureCols.map(col): _*))).as("__f_hist"))
    val keyCond = joinKeys
      .map(c => col(c) === col(s"__f_$c"))
      .reduce(_ && _)

    val entityCols = entities.columns.toSeq
    // the A1 distinct-entity semantics the aggregate used to provide:
    // identical entity rows collapse to one; state = one row per
    // distinct in-flight entity (watermark-reclaimed), exactly the old
    // aggregation's state bound — but holding no feature history
    val joined = entities
      .withWatermark(entityTsCol, watermark)
      .dropDuplicates(entityCols)
      .join(hist, keyCond, "left_outer")
    joined
      .withColumn("__best",
        org.apache.spark.sql.GraftSql.column(graft.functions.AsOfPick(
          org.apache.spark.sql.GraftSql.expression(col("__f_hist")),
          org.apache.spark.sql.GraftSql.expression(col(entityTsCol)),
          ttlSeconds)))
      .select(entityCols.map(col) ++
        featureCols.map(c => col(s"__best.$c").as(c)): _*)
  }

  /** STREAMING sessionization: watermarked `session_window` aggregation —
    * the streaming counterpart of batch [[graft.Sessionize]]. A session
    * closes (and emits, append mode) once the watermark passes its end +
    * gap; state per key is the open session only. */
  def sessionCounts(
      events: DataFrame, tsCol: String, keyCol: String,
      gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))

  /** A keyed, typed event row — the funnel analysis unit. */
  final case class TypedEvent(user_id: Long, ts: Timestamp, event_type: String)
  /** Funnel output: `user_id` advanced to 1-based `stage_idx` (emitted
    * exactly once per (key, stage), in stage order). */
  final case class StageReach(user_id: Long, stage_idx: Int, stage: String)
  /** Per-key funnel state: stages completed so far + events not yet past
    * the watermark (millis, type). */
  final case class FunnelBuf(reached: Int, pending: List[(Long, String)])

  /** STREAMING ordered funnel — the incremental counterpart of batch
    * [[graft.Funnel.funnel]]: per key, walk the time-ordered event stream
    * and emit a [[StageReach]] row each time the key completes the NEXT
    * funnel stage (a stage matches only after every earlier one has).
    * `groupBy(stage_idx).count` over the output (streaming update-mode or
    * batch over the sink) reproduces the batch funnel table.
    *
    * Out-of-order correctness: events are buffered per key until the
    * watermark passes their timestamp — only then is their order final —
    * and walked sorted by (ts, type), the batch ordering with
    * `tieBreakCol = typeCol`. Events arriving later than the watermark
    * are discarded (the same contract the built-in streaming aggregates
    * apply). An event-time timeout finalizes buffered events even when a
    * key goes silent.
    *
    * State per key is BOUNDED: the pending buffer lives only inside the
    * watermark horizon; what persists is one Int (stages completed) —
    * the same per-key residue any cohort semantic needs. A key whose
    * funnel never started carries no state at all. */
  def funnelStream(
      events: Dataset[TypedEvent], stages: Seq[String],
      watermark: String = "1 hour"): Dataset[StageReach] = {
    require(stages.nonEmpty, "funnelStream needs at least one stage")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val n = stages.length
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBuf, StageReach](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val prev = state.getOption.getOrElse(FunnelBuf(0, Nil))
          val wm = state.getCurrentWatermarkMs()
          // rows older than the watermark are late-beyond-contract: their
          // position in the per-key order was already finalized
          val fresh = rows
            .map(r => (r.ts.getTime, r.event_type))
            .filter(_._1 >= wm).toList
          val pend = prev.pending ++ fresh
          val (ready, still) = pend.partition(_._1 < wm)
          var r = prev.reached
          val out = ready.sorted.flatMap { case (_, t) =>
            if (r < n && t == stages(r)) { r += 1
              Some(StageReach(key, r, stages(r - 1)))
            } else None
          }
          if (r == 0 && still.isEmpty) state.remove()
          else {
            state.update(FunnelBuf(r, still))
            if (still.nonEmpty)
              state.setTimeoutTimestamp(still.map(_._1).min + 1)
          }
          out.iterator
      }
  }

  /** Retention output: `user_id` (cohort = first-seen epoch-week) was
    * active in cohort_week + week_offset — exactly once per (key, week). */
  final case class CohortHit(
      user_id: Long, cohort_week: Long, week_offset: Long)
  /** Per-key retention state: the finalized cohort week (None while the
    * watermark hasn't yet confirmed the earliest week), weeks already
    * emitted, weeks buffered until the cohort finalizes. */
  final case class RetBuf(
      cohort: Option[Long], emitted: List[Long], pending: List[Long])

  private val WeekMs = 604800000L // 7 * 86400 * 1000 — matches batch µs/1e3

  /** STREAMING cohort retention — the incremental counterpart of batch
    * [[graft.Funnel.retention]]: emits one [[CohortHit]] per distinct
    * (key, epoch-week); `groupBy(cohort_week, week_offset).count` over
    * the output reproduces the batch retention triangle.
    *
    * The cohort (a key's MINIMUM week) finalizes once the watermark
    * reaches that week's start: no event with a smaller timestamp can
    * arrive anymore, so nothing can lower the min. Until then weeks are
    * buffered (an event-time timeout fires the finalization if the key
    * goes silent); after, each newly-seen week emits immediately.
    *
    * State per key is BOUNDED: one Long (the cohort) plus the emitted
    * weeks still inside the watermark horizon — older weeks cannot
    * recur (an event in week w is behind the watermark once wmWeek > w)
    * and are pruned each call. */
  def retentionStream(
      events: Dataset[KeyedEvent],
      watermark: String = "1 hour"): Dataset[CohortHit] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetBuf, CohortHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val prev = state.getOption.getOrElse(RetBuf(None, Nil, Nil))
          val wm = state.getCurrentWatermarkMs()
          val wmWeek = Math.floorDiv(wm, WeekMs)
          val fresh = rows.map(r => Math.floorDiv(r.ts.getTime, WeekMs))
            // late-beyond-contract (see funnelStream); with a cohort
            // already finalized this also rejects impossible min-lowering
            .filter(w => w >= wmWeek).toList
          val weeks = (prev.pending ++ fresh).distinct
          val (cohort, toEmit, stillPending) = prev.cohort match {
            case Some(c) => (Some(c), weeks, Nil)
            case None if weeks.nonEmpty && weeks.min <= wmWeek =>
              (Some(weeks.min), weeks, Nil) // min is final: wm is in/past it
            case None => (None, Nil, weeks)
          }
          val newWeeks = toEmit.filterNot(prev.emitted.contains).sorted
          val out = newWeeks.map(w => CohortHit(key, cohort.get, w - cohort.get))
          // weeks behind the watermark cannot recur — prune them
          val emitted = (prev.emitted ++ newWeeks).filter(_ >= wmWeek)
          if (cohort.isEmpty && stillPending.isEmpty) state.remove()
          else {
            state.update(RetBuf(cohort, emitted, stillPending))
            if (stillPending.nonEmpty)
              // fire once the watermark enters the earliest pending week
              state.setTimeoutTimestamp(stillPending.min * WeekMs + 1)
          }
          out.iterator
      }
  }

  /** STREAMING MATERIALIZATION — drive a [[graft.OnlineStore]] from an
    * unbounded event stream: each micro-batch is upserted through the
    * store's latest-wins merge, closing the lambda loop (batch
    * [[graft.Materializer]] and this stream feed the SAME store type
    * with the same semantics).
    *
    * Correctness leans on the store's write contract, not on streaming
    * machinery: the merge is COMMUTATIVE and IDEMPOTENT in
    * `(event_ts, created_ts)` per key, so micro-batch boundaries,
    * cross-batch arrival order, and replays (foreachBatch's
    * at-least-once delivery under recovery) cannot change the final
    * state — a stream-fed store provably equals one batch write over
    * the same rows (spec-proved in StreamingSpec). No watermark is
    * needed: late rows are merged like any others and lose only if
    * genuinely older.
    *
    * Scale posture: per micro-batch work is one latest-per-key pick
    * (one map-side combinable shuffle) over (state ∪ batch) — state is
    * key-cardinality-sized by the store's invariant. */
  def materializeInto(
      events: DataFrame, store: graft.OnlineStore,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = events.writeStream
      .outputMode("append")
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        store.write(batch.toDF()))
    checkpoint.fold(writer)(c =>
      writer.option("checkpointLocation", c)).start()
  }

  /** An event row with an id for deterministic same-timestamp ordering
    * (the gap operator's unit). */
  final case class GapEvent(user_id: Long, ts: Timestamp, event_id: Long)
  /** Gap-stats snapshot for one key: event count so far, sum and max of
    * inter-event gaps in MICROSECONDS (None until two events exist —
    * matching the batch lag-window NULLs). */
  final case class GapStats(
      user_id: Long, n_events: Long,
      sum_gap_us: Option[Long], max_gap_us: Option[Long])
  /** Per-key gap state: running stats + the last finalized (tsUs, id)
    * + events still inside the watermark horizon. */
  final case class GapBuf(
      n: Long, lastTsUs: Long, lastId: Long, sumUs: Long, maxUs: Long,
      pending: List[(Long, Long)])

  /** STREAMING inter-event gap statistics — the incremental counterpart
    * of the batch lag-window + integer aggregate (`x_event_gaps`): per
    * key, events are buffered until the watermark finalizes their order
    * (sorted by (ts, event_id), the batch window order), then folded
    * into running (count, Σgap, max gap) state; each finalization emits
    * an updated [[GapStats]] snapshot (append mode — the LATEST snapshot
    * per key equals the batch aggregate over the same events).
    *
    * State per key is O(1) after the watermark horizon: four numbers and
    * the last event's (ts, id). Same lateness contract as the other
    * stateful ops here: rows older than the watermark are discarded. */
  def gapsStream(
      events: Dataset[GapEvent],
      watermark: String = "1 hour"): Dataset[GapStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapBuf, GapStats](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val prev = state.getOption.getOrElse(GapBuf(0, 0, 0, 0, 0, Nil))
          val wm = state.getCurrentWatermarkMs()
          val fresh = rows
            .map(r => (r.ts.getTime * 1000L, r.event_id))
            .filter(_._1 >= wm * 1000L).toList // late-beyond-contract
          val pend = prev.pending ++ fresh
          val (ready, still) = pend.partition(_._1 < wm * 1000L)
          var (n, lts, lid, sum, mx) =
            (prev.n, prev.lastTsUs, prev.lastId, prev.sumUs, prev.maxUs)
          ready.sorted.foreach { case (tus, id) =>
            if (n > 0) {
              val gap = tus - lts
              sum += gap
              mx = math.max(mx, gap)
            }
            n += 1; lts = tus; lid = id
          }
          val out =
            if (ready.isEmpty) Nil
            else List(GapStats(key, n,
              if (n >= 2) Some(sum) else None,
              if (n >= 2) Some(mx) else None))
          if (n == 0 && still.isEmpty) state.remove()
          else {
            state.update(GapBuf(n, lts, lid, sum, mx, still))
            if (still.nonEmpty)
              state.setTimeoutTimestamp(still.map(_._1 / 1000L).min + 1)
          }
          out.iterator
      }
  }

  /** Internal union row for the stream-stream as-of join. */
  final case class SSRow(
      user_id: Long, ts: Timestamp, is_feature: Boolean, value: Double)
  /** Keyed per-entity state: buffered feature rows and entity rows not
    * yet past the watermark, both as (tsMillis, value). */
  final case class AsOfBuf(
      features: List[(Long, Double)], pending: List[(Long, Double)])
  /** Output of the stream-stream as-of join. */
  final case class EnrichedEvent(
      user_id: Long, ts: Timestamp, value: Double, feature: Option[Double])

  /** STREAM-STREAM point-in-time join — both the entity stream AND the
    * feature stream are unbounded. What [[enrichAsOf]] (stream-static)
    * cannot do: a feature row may ARRIVE after the entity rows it
    * enriches (any order within the watermark) and still win.
    *
    * Mechanics: both streams are watermarked on their event time, tagged,
    * unioned, and grouped per key into `flatMapGroupsWithState` with an
    * EVENT-TIME TIMEOUT. An entity row is held in state until the global
    * watermark passes its timestamp — at that point no feature with
    * `feature_ts <= entity_ts` can arrive anymore, so the row is
    * finalized exactly once (append mode): latest buffered feature with
    * `feature_ts ∈ [entity_ts - ttl, entity_ts]` (ttl 0 ⇒ unbounded
    * lookback), ties on the timestamp broken by the larger value; None
    * when no feature qualifies.
    *
    * State per key is BOUNDED: pending entities leave at the watermark;
    * with ttl > 0 features older than `watermark - ttl` can never match a
    * future entity and are pruned; with ttl = 0 all features behind the
    * watermark collapse into the single latest (the only one a future
    * entity can pick). That collapse is what makes unbounded-lookback
    * streams safe — O(1) feature state per key.
    *
    * The output watermark is the MIN across both inputs — an idle feature
    * stream stalls emission (the standard multi-source caveat; feed
    * heartbeats or set the source's idle timeout at deployment). */
  def enrichAsOfStreamStream(
      entities: Dataset[KeyedEvent],
      features: Dataset[KeyedEvent],
      ttlSeconds: Long = 0,
      watermark: String = "1 hour"): Dataset[EnrichedEvent] = {
    val spark = entities.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val ttlMs = ttlSeconds * 1000L
    val e = entities.map(x => SSRow(x.user_id, x.ts, is_feature = false, x.value))
      .withWatermark("ts", watermark)
    val f = features.map(x => SSRow(x.user_id, x.ts, is_feature = true, x.value))
      .withWatermark("ts", watermark)

    e.union(f)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfBuf, EnrichedEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val prev = state.getOption.getOrElse(AsOfBuf(Nil, Nil))
          val (fNew, eNew) = rows.toList.partition(_.is_feature)
          var feats = prev.features ++ fNew.map(r => (r.ts.getTime, r.value))
          val pend = prev.pending ++ eNew.map(r => (r.ts.getTime, r.value))
          val wm = state.getCurrentWatermarkMs()

          // finalize: watermark strictly past the entity ts ⇒ no feature
          // with ts <= entity ts can arrive anymore
          val (ready, still) = pend.partition(_._1 < wm)
          val out = ready.sortBy(identity).map { case (ets, ev) =>
            val cands = feats.filter(fr =>
              fr._1 <= ets && (ttlMs == 0 || fr._1 >= ets - ttlMs))
            val best =
              if (cands.isEmpty) None else Some(cands.max._2)
            EnrichedEvent(key, new Timestamp(ets), ev, best)
          }

          // prune feature state (see scaladoc)
          feats =
            if (ttlMs > 0) feats.filter(_._1 >= wm - ttlMs)
            else {
              val (old, recent) = feats.partition(_._1 < wm)
              (if (old.nonEmpty) List(old.max) else Nil) ++ recent
            }

          if (still.isEmpty && feats.isEmpty) state.remove()
          else {
            state.update(AsOfBuf(feats, still))
            // wake this key when the watermark passes its oldest pending
            // entity, even if no further data arrives for it
            if (still.nonEmpty)
              state.setTimeoutTimestamp(still.map(_._1).min + 1)
            else if (ttlMs > 0)
              // feature-only state self-cleans once no future entity can
              // match it (wm past every feature's ttl horizon). With
              // ttl = 0 the latest feature IS the key's last-known value
              // and must outlive any silence — retained by design.
              state.setTimeoutTimestamp(
                math.max(wm, feats.map(_._1).max) + ttlMs + 1)
          }
          out.iterator
      }
  }
}

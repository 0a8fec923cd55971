package graft.model

import graft.sources.FeatureSource

/** A named set of features over one source, with entity join keys and a TTL
  * lookback (ref: feast FeatureView as used by the plugin — e.g.
  * tests/feast_tests_funcs.py:223-251).
  *
  * @param entities join-key column names; empty ⇒ entity-less view (the
  *   reference joins these on a dummy-entity literal, hive.py:16,178,543-545
  *   — we simply as-of join on the timestamp alone, same semantics)
  * @param features feature column names; empty ⇒ every column that is not a
  *   join key or timestamp
  * @param ttlSeconds lookback bound: feature rows must satisfy
  *   `event_ts >= entity_ts - ttl`; 0 ⇒ unbounded (NOT zero-width —
  *   ref: hive.py:614-624, tests/feast_tests_funcs.py:263-269)
  * @param tieBreakColumns extra deterministic ordering columns applied after
  *   (event_ts DESC, created_ts DESC) when picking the latest row. The
  *   reference keeps exact ties (and can duplicate rows, hive.py:685-696);
  *   we pick one row deterministically when a tie-break is given.
  */
final case class FeatureView(
    name: String,
    entities: Seq[String],
    source: FeatureSource,
    features: Seq[String] = Nil,
    ttlSeconds: Long = 0L,
    tieBreakColumns: Seq[String] = Nil) {

  /** The features this view serves from a source with `columns`: the
    * declared ones the source has, or, with none declared, every column
    * that is not a join key or timestamp. A declared feature the source
    * lacks is dropped silently: the reference's own fixture declares
    * `avg_daily_trips` on a table without it and its tests pass
    * (tests/feast_tests_funcs.py:238-251). */
  private[graft] def featuresIn(columns: Seq[String]): Seq[String] =
    if (features.nonEmpty) features.filter(columns.contains)
    else columns.filterNot(c => entities.contains(c) ||
      c == source.eventTimestampColumn ||
      source.createdTimestampColumn.contains(c))
}

object FeatureView {
  /** ref: feast_hive/hive.py:16 — constant join key for entity-less views. */
  val DummyEntityId = "dummy_entity_id"
  val DummyEntityVal = ""
}

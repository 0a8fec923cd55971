package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftSql, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, BinaryComparison, Cast, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{array, col, explode, floor, unix_micros}
import org.apache.spark.sql.types.{DataType, DateType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** A TRUE sort-merge as-of join as a first-class Catalyst operator — the
  * one point-in-time join [[graft.PointInTime]] runs for every view:
  *
  *   entity LEFT-ASOF-JOIN features
  *     ON keys equal AND feature.ts <= entity.ts
  *     [AND feature.ts >= entity.ts - ttl]   (ttl 0 ⇒ unbounded)
  *     latest feature.ts wins, created-ts breaks ties
  *
  * Physical execution: both sides hash-partitioned by the join keys and
  * sorted (keys, ts[, created]); each partition runs ONE forward merge —
  * for every entity row the candidate pointer holds the newest feature
  * row with ts <= entity ts, so the whole join is a single pass with no
  * window state, no per-view join-back, and exactly one shuffle+sort per
  * side (a window formulation shuffles the matched set a second time).
  * Both sides' keys must have the same type — [[AsOf.join]] casts them to
  * a common one — or hashing and ordering disagree between the sides. The
  * merge reads both timestamps as the same micros type for the same
  * reason.
  *
  * The operator plugs in through PUBLIC seams only: the logical node is
  * planned by [[AsOfJoinStrategy]], installable per-session via
  * `spark.experimental.extraStrategies` (done automatically by
  * [[AsOf.join]]) or globally via `graft.GraftExtensions`.
  */
final case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    rightCreated: Option[Attribute],
    ttlSeconds: Long) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(j.leftKeys, j.rightKeys, j.leftTs, j.rightTs,
        j.rightCreated, j.ttlSeconds,
        planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    rightCreated: Option[Attribute],
    ttlSeconds: Long,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // Same requirements shape as SortMergeJoin: co-clustered on the keys,
  // sorted (keys, ts[, created]) ascending. EnsureRequirements inserts the
  // exchanges/sorts. Keyless (entity-less view) ⇒ single partition.
  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) Seq(AllTuples, AllTuples)
    else Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys ++ Seq(rightTs) ++ rightCreated.toSeq)
      .map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val ttlMicros = ttlSeconds * 1000000L
    // by exprId: an entity frame read through a view or an alias carries
    // qualified attributes, which `==` does not match to the physical
    // child's unqualified ones
    val lTsOrd = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rTsOrd = right.output.indexWhere(_.exprId == rightTs.exprId)
    val nRight = right.output.size
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val keyOrd =
        RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)

      new Iterator[InternalRow] {
        // lookahead feature row (copied — sort iterators reuse rows)
        private var rHead: InternalRow =
          if (rIter.hasNext) rIter.next().copy() else null
        // newest qualifying feature row for the current key (a copy)
        private var candidate: InternalRow = null
        private var candidateTs = 0L

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l)
          // invalidate a candidate left over from a previous key
          if (candidate != null && keyOrd.compare(rKeyProj(candidate), lk) != 0)
            candidate = null
          // SQL equi-join semantics: NULL keys match nothing (the natural
          // ordering would treat NULL == NULL; a null-keyed entity row
          // must NOT pair with null-keyed feature rows). Nulls sort first,
          // so not advancing here is safe: a later non-null left key skips
          // the right side's null-key rows via the cmp < 0 branch.
          if (lk.anyNull || l.isNullAt(lTsOrd)) {
            return outProj(joined(l, nullRight))
          }
          val lt = l.getLong(lTsOrd)
          // advance the feature side: discard earlier keys, absorb rows of
          // this key with ts <= entity ts into the candidate
          var advancing = true
          while (advancing && rHead != null) {
            val rk = rKeyProj(rHead)
            val cmp = keyOrd.compare(rk, lk)
            if (cmp < 0 || rk.anyNull) {
              // earlier key, or a null-keyed feature row (matches nothing)
              rHead = if (rIter.hasNext) rIter.next().copy() else null
            } else if (cmp == 0 && !rHead.isNullAt(rTsOrd) &&
                rHead.getLong(rTsOrd) <= lt) {
              candidate = rHead
              candidateTs = rHead.getLong(rTsOrd)
              rHead = if (rIter.hasNext) rIter.next().copy() else null
            } else if (cmp == 0 && rHead.isNullAt(rTsOrd)) {
              // null feature ts sorts first and matches nothing — skip
              rHead = if (rIter.hasNext) rIter.next().copy() else null
            } else {
              advancing = false
            }
          }
          val matched = candidate != null &&
            (ttlMicros <= 0 || candidateTs >= lt - ttlMicros)
          outProj(joined(l, if (matched) candidate else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API for the native as-of join. */
object AsOf {

  /** `entity LEFT-ASOF features`: every entity row, plus the newest
    * feature row per (keys, ts <= entity ts[, within ttl]) or nulls.
    * Installs [[AsOfJoinStrategy]] into the session's experimental
    * strategies (public API) on first use.
    *
    * KEYLESS (entity-less view) routing: with a bounded TTL the join is
    * given a synthetic TIME-BUCKET key (width = ttl) instead of running
    * single-partition — every feature row is duplicated into its own
    * bucket and the next (a ×2 on the feature side), each entity row
    * keyed by its own bucket, so every candidate in
    * `[entity_ts − ttl, entity_ts]` is guaranteed to share the entity's
    * bucket key and the operator runs as a normal hash-clustered
    * distributed merge; the operator's own TTL check drops the
    * out-of-range remainder. One operator, one merge code path, flat
    * scaling, with no θ-join. TTL 0 (unbounded lookback) has no
    * bucketing possible and keeps the documented single-partition merge.
    *
    * KEY TYPES: the exchanges hash and the merge orders each side's keys
    * as typed values, so an Int entity key against a Long feature key
    * would land in different partitions, and a String against a Long
    * would never compare equal. A key whose types differ is cast on both
    * sides, into hidden key columns, to the type Spark's `===` coerces
    * the pair to; the entity's own columns keep their types. A pair `===`
    * cannot compare is rejected.
    *
    * TIMESTAMP TYPES: the merge compares raw micros, so both timestamps
    * must be the same TIMESTAMP or TIMESTAMP_NTZ type — a TIMESTAMP_NTZ
    * wall clock read against TIMESTAMP (UTC) micros would shift every
    * match by the session zone's offset. Otherwise both are cast, into
    * hidden columns, to the type of Spark's `feature.ts <= entity.ts`,
    * with DATE and STRING taken to TIMESTAMP as the TTL bound
    * `entity.ts - INTERVAL n SECONDS` takes them; other types are
    * rejected. */
  def join(
      entity: DataFrame, features: DataFrame,
      keys: Seq[String], entityTsCol: String, featureTsCol: String,
      createdCol: Option[String] = None,
      ttlSeconds: Long = 0L): DataFrame = {
    val spark = entity.sparkSession
    def typeOf(df: DataFrame, c: String): Option[DataType] =
      df.schema.find(_.name == c).map(_.dataType)
    val tsTypes = (typeOf(entity, entityTsCol), typeOf(features, featureTsCol))
    val tsType = tsTypes match {
      case (Some(l), Some(r)) =>
        val t = mergeTsType(spark, l, r)
        if (l != t || r != t) {
          val (lTs, rTs) = ("__asof_ts_l", "__asof_ts_r")
          return join(entity.withColumn(lTs, col(entityTsCol).cast(t)),
            features.withColumn(rTs, col(featureTsCol).cast(t)),
            keys, lTs, rTs, createdCol, ttlSeconds).drop(lTs, rTs)
        }
        t
      case _ => TimestampType // attr() below names the missing column
    }
    if (keys.isEmpty && ttlSeconds > 0) {
      val w = ttlSeconds * 1000000L
      def bucket(c: String) = floor(unixMicros(col(c), tsType) / w)
      val bkt = "__asof_bkt"
      val ent2 = entity.withColumn(bkt, bucket(entityTsCol))
      val feat2 = features.withColumn(bkt, explode(array(
        bucket(featureTsCol), bucket(featureTsCol) + 1)))
      return join(ent2, feat2, Seq(bkt), entityTsCol, featureTsCol,
        createdCol, ttlSeconds).drop(bkt)
    }
    val recast = keys.flatMap { k =>
      (typeOf(entity, k), typeOf(features, k)) match {
        case (Some(l), Some(r)) if l != r =>
          Some((k, s"__asof_cast_$k", commonKeyType(spark, k, l, r)))
        case _ => None
      }
    }
    if (recast.nonEmpty) {
      val casts = recast.map { case (k, h, t) => h -> col(k).cast(t) }.toMap
      val keys2 = keys.map(k => recast.find(_._1 == k).fold(k)(_._2))
      return join(entity.withColumns(casts),
        features.withColumns(casts).drop(recast.map(_._1): _*),
        keys2, entityTsCol, featureTsCol, createdCol, ttlSeconds)
        .drop(recast.map(_._2): _*)
    }
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy

    val lPlan = entity.queryExecution.analyzed
    // Fresh exprIds on the right so self-as-of (same table both sides)
    // can't alias-collide; right-side KEY columns get internal names (they
    // are redundant — equal to the left keys or null — and are dropped
    // from the result); other right columns colliding with a left name
    // get an `_asof` suffix.
    val rPlan0 = features.queryExecution.analyzed
    val lNames = lPlan.output.map(_.name).toSet
    def rName(n: String): String =
      if (keys.contains(n)) s"__asof_key_$n"
      else if (lNames.contains(n)) s"${n}_asof"
      else n
    val rPlan = Project(
      rPlan0.output.map(a => Alias(a, rName(a.name))()), rPlan0)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: column '$name' not found in " +
            plan.output.map(_.name).mkString("[", ", ", "]")))
    val joined = GraftSql.ofRows(spark, AsOfJoin(
      lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(k => attr(rPlan, rName(k))),
      attr(lPlan, entityTsCol), attr(rPlan, rName(featureTsCol)),
      createdCol.map(c => attr(rPlan, rName(c))),
      ttlSeconds))
    joined.drop(keys.map(k => s"__asof_key_$k"): _*)
  }

  /** Micros since the epoch. `unix_micros` takes TIMESTAMP only; a
    * TIMESTAMP_NTZ wall clock is read as UTC, not in the session zone, so
    * time buckets do not move with its DST shifts. */
  private def unixMicros(c: Column, t: DataType): Column = unix_micros(
    if (t == TimestampNTZType)
      GraftSql.column(
        Cast(GraftSql.expression(c), TimestampType, Some("UTC")))
    else c)

  /** The type the merge compares the two timestamps as (see [[join]]). */
  private def mergeTsType(
      spark: SparkSession, entity: DataType, feature: DataType): DataType =
    if (entity == feature &&
        (entity == TimestampType || entity == TimestampNTZType)) entity
    else coercedType(spark, feature, entity, _ <= _) match {
      case Some(t @ (TimestampType | TimestampNTZType)) => t
      case Some(DateType | _: StringType) => TimestampType
      case _ => throw new IllegalArgumentException(
        s"as-of join: the timestamps are ${entity.catalogString} on the " +
          s"entity side and ${feature.catalogString} on the feature side; " +
          "they must be timestamps, dates or strings Spark compares with '<='")
    }

  /** The type both sides of `entity.k === features.k` are coerced to
    * under the session's rules (ANSI or not). */
  private def commonKeyType(
      spark: SparkSession, key: String, l: DataType, r: DataType): DataType =
    coercedType(spark, l, r, _ === _).getOrElse(
      throw new IllegalArgumentException(
        s"as-of join: key '$key' is ${l.catalogString} on the entity " +
          s"side and ${r.catalogString} on the feature side, which " +
          "Spark cannot compare with '='"))

  /** The type Spark coerces both operands of `cmp(l, r)` to, read off the
    * analyzed comparison of two empty typed columns; None when the
    * comparison does not analyze. */
  private def coercedType(
      spark: SparkSession, l: DataType, r: DataType,
      cmp: (Column, Column) => Column): Option[DataType] = {
    val probe = spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("l", l), StructField("r", r))))
    try
      probe.select(cmp(col("l"), col("r"))).queryExecution.analyzed
        .expressions.flatMap(_.collectFirst {
          case c: BinaryComparison => c.left.dataType
        }).headOption
    catch { case _: AnalysisException => None }
  }
}

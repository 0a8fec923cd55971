package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one sanctioned bridge from a custom Catalyst [[Expression]] to the
  * public [[Column]] API. Spark 4 made `Column(expr)` private[sql]
  * (columns wrap ColumnNodes now), so libraries shipping native
  * expressions need exactly this shim — placed in the `org.apache.spark
  * .sql` package for access, kept to a single one-liner on purpose.
  * Everything else in this project lives under `graft.*` and uses only
  * public API. */
object GraftSql {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** THE way an operator materializes a derived relation: one job runs
    * the plan into a persisted RDD (`MEMORY_AND_DISK`, rows copied —
    * toRdd reuses mutable UnsafeRows) and returns a frame whose logical
    * plan is just that RDD (`LogicalRDD`).
    *  - Flat: re-analysis cost stays O(1) per round of an iterative
    *    caller instead of growing with the loop.
    *  - Lineage kept: an executor loss recomputes the partition, and
    *    [[unpersistCheckpoint]] / [[unpersistCheckpointTree]] release a
    *    superseded relation as soon as what reads it is materialized.
    *  - Measured: row count and in-memory byte size are folded over the
    *    rows by the same job and attached to the leaf as statistics, so
    *    static planning sees the true size instead of
    *    `defaultSizeInBytes` (= "huge"). A drop-loser / gate relation
    *    that measures small plans as the broadcast side of its join in
    *    the initial plan, while the same relation at corpus-proportional
    *    size plans as a sort-merge join — no forced hint, no cliff. The
    *    stats are job results (one per partition), not accumulators, so
    *    they are exact under task retries.
    *  - Partitioning: the leaf reports `UnknownPartitioning`, as an eager
    *    `Dataset.localCheckpoint` does under AQE (`LogicalRDD.fromDataset`
    *    reads `executedPlan.outputPartitioning`, which
    *    `AdaptiveSparkPlanExec` leaves unknown).
    *  - Fresh attribute ids: a `Column` taken from the input frame does
    *    not resolve against the view.
    *
    * What stays outside it: `Dataset.persist` only in the artifact
    * store's relation builds (`queries.LlmQueries`) and `Example`. The
    * cell-clustered indexes' `cell IN (…)` readers skip in-memory
    * columnar batches, and a cached relation is not a `LogicalRDD` leaf,
    * so [[unpersistCheckpointTree]] over a frame that reads a stored
    * relation cannot release the store's blocks. The lazy
    * `localCheckpoint(false)`s of `CoreQueries`' `x_er_names_*` rows are
    * lazy on purpose and stay too. `MaterializeGuardSpec` fails on any other
    * `persist`, any eager `localCheckpoint()` and any second
    * materialization primitive under `src/main`. */
  def sizedView(df: DataFrame): DataFrame = sizedView(df, _ => 0L)._1

  /** [[sizedView]] whose one materialization job also returns
    * `Σ fold(row)` over the materialized rows — a driver scalar an
    * iterative caller needs from the relation (e.g. a round's dangling
    * mass) without a second job over it. `fold` sees each row in the
    * frame's column order. */
  def sizedView(df: DataFrame, fold: InternalRow => Long): (DataFrame, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = ds.sparkSession
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // (rows, bytes, Σ fold) per partition; reading the persisted RDD
    // fills its cache in the same job
    val parts = rdd.mapPartitions { it =>
      var rows, bytes, folded = 0L
      it.foreach { r =>
        rows += 1
        bytes += (r match {
          case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
            u.getSizeInBytes.toLong
          case _ => 64L // non-unsafe rows: coarse floor
        })
        folded += fold(r)
      }
      Iterator((rows, bytes, folded))
    }.collect()
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(ds.schema)
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(math.max(1L, parts.map(_._2).sum)),
      rowCount = Some(BigInt(parts.map(_._1).sum)))
    val view = ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
      attrs, rdd,
      org.apache.spark.sql.catalyst.plans.physical
        .UnknownPartitioning(rdd.getNumPartitions))(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Some(stats), None))
    (view, parts.map(_._3).sum)
  }

  /** Whether `df`'s plan statistics fit the broadcast-join bound — the
    * `0 ≤ sizeInBytes ≤ spark.sql.autoBroadcastJoinThreshold` rule
    * static join selection applies before it collects a broadcast side
    * (so a threshold of -1 never fits). Meant for a [[sizedView]], whose
    * size is measured, not estimated. */
  def fitsBroadcast(df: DataFrame): Boolean = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    BroadcastRule.canBroadcastBySize(
      ds.queryExecution.analyzed, ds.sparkSession.sessionState.conf)
  }

  private object BroadcastRule
    extends org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper

  /** A frame over driver-held rows (a `LocalRelation`): `rows` carry
    * Catalyst internal values in `schema`'s column order. */
  def localRelation(
      spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      rows: Seq[InternalRow]): DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      rows))

  /** Release the storage blocks behind a [[sizedView]] (or
    * `localCheckpoint()`ed) DataFrame. Iterative algorithms that
    * materialize per round would otherwise accumulate one superseded
    * persisted RDD per iteration. The frame's plan is a `LogicalRDD`
    * wrapping the persisted RDD — private[sql], hence this shim. No-op on
    * other frames. */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** [[unpersistCheckpoint]] over EVERY persisted-RDD leaf in the frame's
    * plan — for frames a producer returned with a projection (or other
    * operators) already stacked on top of its materialized result, where
    * the top-level match sees a Project and silently no-ops (e.g.
    * `connectedComponents`' final labels). Only call this on frames whose
    * LogicalRDD leaves the caller OWNS — a frame built over someone
    * else's shared persisted relation would release their storage. */
  def unpersistCheckpointTree(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Drain the Spark listener bus (private[spark]) — lets tests assert
    * "this code path launched zero jobs" without racing the async
    * listener delivery. */
  def awaitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Serialize a DataFrame's result as ONE self-contained Arrow IPC stream
    * (schema header + record batches + end-of-stream), consumable by any
    * Arrow implementation. Batches are produced DISTRIBUTED — each
    * partition serializes its own RecordBatch message
    * (`Dataset.toArrowBatchRdd`, the same machinery `collectAsArrowToPython`
    * uses) — and only the serialized bytes travel to the driver, where the
    * stream is framed. Both APIs are private[sql], hence this shim. */
  def collectAsArrowStream(df: DataFrame): Array[Byte] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val conf = ds.sparkSession.sessionState.conf
    // MUST mirror toArrowBatchRdd's own schema-conversion flags (verified
    // against the 4.1.2 bytecode), or the stream header can disagree with
    // the batch layout (e.g. VarChar vs LargeVarChar under
    // spark.sql.execution.arrow.useLargeVarTypes=true).
    val errorOnDup = conf.pandasStructHandlingMode == "legacy"
    val largeVarTypes = conf.arrowUseLargeVarTypes
    val batches = ds.toArrowBatchRdd.collect()
    val out = new java.io.ByteArrayOutputStream()
    val writer = new org.apache.spark.sql.execution.arrow.ArrowBatchStreamWriter(
      ds.schema, out, conf.sessionLocalTimeZone, errorOnDup, largeVarTypes)
    writer.writeBatches(batches.iterator)
    writer.end()
    out.toByteArray
  }
}

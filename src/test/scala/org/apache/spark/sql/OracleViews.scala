package org.apache.spark.sql

/** The materialization the test oracles' hand-rolled loops
  * ([[graft.llm.HandRolledLoops]], [[graft.llm.JoinBackRank]]) were
  * written against, kept here so they still run as they were: one job
  * materializes `df` into a persisted RDD (rows copied — toRdd reuses
  * mutable UnsafeRows) and the returned frame's plan is just that RDD, a
  * `LogicalRDD` leaf without measured statistics. Production code
  * materializes through [[GraftSql.sizedView]] only. */
object OracleViews {
  def persistedView(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    ds.sparkSession.internalCreateDataFrame(rdd, ds.schema)
  }
}

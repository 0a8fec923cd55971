package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSql, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = LocalSession(4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` with each session conf in `pairs` set, then restores
    * (or unsets) each one. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Runs `body` with the session time zone set to `zone`. */
  def withSessionZone[T](zone: String)(body: => T): T =
    withConf("spark.sql.session.timeZone" -> zone)(body)

  /** Count every Spark job launched while running `f`. (Call-site
    * matching is useless here: Spark 4 submits collect stages through
    * async thread pools, so callSite.short reads CompletableFuture, not
    * "collect at …" — raw job counts are the stable signal.) */
  def jobsDuring(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    GraftSql.awaitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { f; GraftSql.awaitListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get()
  }

  /** The call site of every job `f` launches itself — AQE's query-stage
    * and broadcast jobs (submitted from Spark's async stage pool) are
    * left out, so what remains are the operator's own eager actions. */
  def ownJobs(f: => Unit): Seq[String] = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        names.add(j.stageInfos.maxBy(_.stageId).name)
    }
    GraftSql.awaitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { f; GraftSql.awaitListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    names.toArray(Array.empty[String]).toSeq
      .filterNot(_.contains("CompletableFuture"))
  }

  /** `f` with `spark.sql.autoBroadcastJoinThreshold` at -1, restored
    * afterwards: no pair graph fits the broadcast bound, so
    * `Dedup.connectedComponents` takes its label-rounds route. */
  def onRoundsRoute[T](f: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)
}

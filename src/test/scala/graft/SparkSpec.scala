package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSql, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = LocalSession(4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` with the session time zone set to `zone`. */
  def withSessionZone[T](zone: String)(body: => T): T = {
    val prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

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
}

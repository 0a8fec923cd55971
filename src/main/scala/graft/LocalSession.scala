package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session builder every main and the test suites
  * share: `local[cpus]`, one shuffle partition per core, UTC session
  * time and no web UI. */
object LocalSession {

  /** A main's core count: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The configured builder, for callers that add settings of their own
    * before `getOrCreate()`. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  def apply(cpus: Int): SparkSession = builder(cpus).getOrCreate()
}

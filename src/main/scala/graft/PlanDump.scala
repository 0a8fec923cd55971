package graft
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Measurement tool (guide §1): dump `.explain("formatted")` for named
  * declared queries to `<outDir>/<name><suffix>.txt`.
  *
  * The query is EXECUTED first via `toRdd.count()` on the SAME
  * QueryExecution that is then explained. `df.count()` would be wrong
  * twice over: it builds a separate QueryExecution (so the inspected
  * AdaptiveSparkPlan never replans and still shows isFinalPlan=false),
  * and it lets the optimizer prune the projection work being timed.
  * Executing first means the dumped plan is the AQE FINAL plan with the
  * join strategies and AQEShuffleReads the bench actually runs.
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> <query...>
  * Same [[LocalSession]] as Bench, so plans match the bench run.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val names = args.drop(3)
    val spark = LocalSession(LocalSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[plandump] unknown query: $n")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(s"plandump: $n")
          val df = fn(spark, sfDir)
          df.queryExecution.toRdd.count()
          val txt = df.queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/$n$suffix.txt"), txt)
          println(s"[plandump] wrote $n$suffix.txt")
      }
    }
    spark.stop()
  }
}

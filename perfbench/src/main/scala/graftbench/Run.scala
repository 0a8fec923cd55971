package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: operation accounting, timing samples and
  * the tracer. One client thread issues every call, each after the
  * previous one returned (a closed loop). */
final class Run(val spark: SparkSession, val seed: Long,
    val dataDir: java.io.File) {

  val tracer = new Tracer(spark)
  private val jitBean = ManagementFactory.getCompilationMXBean

  /** True until [[startTiming]]: calls count as warm-up, record no
    * samples, and are never traced. */
  var warm = true
  /** While set, every timed round is traced. */
  var tracing = false
  var attempted = 0L
  var failed = 0L
  var warmAttempted = 0L
  var warmFailed = 0L
  val warmWalls = mutable.ArrayBuffer[Double]()
  var jitMsTimed = 0L
  private var depth = 0
  val failures = mutable.ArrayBuffer[String]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def startTiming(): Unit = warm = false

  def sample(kind: String, seconds: Double): Unit =
    if (!warm) samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += seconds

  def series(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq

  /** Run `body` and return the samples it recorded, keeping them out of
    * the run's own. */
  def setAside(body: => Unit): Map[String, Seq[Double]] = {
    val kept = samples.clone()
    samples.clear()
    body
    val got = samples.map { case (k, xs) => k -> xs.toSeq }.toMap
    samples.clear()
    samples ++= kept
    got
  }

  def fail(kind: String, why: Throwable): Unit = {
    if (warm) warmFailed += 1 else failed += 1
    if (failures.size < 20)
      failures += s"${if (warm) "warm-up " else ""}$kind: $why"
  }

  /** One client call: counted as attempted, timed (body only), then
    * checked outside the timed region. A throw or a failed check counts
    * as failed; a call that returned keeps its time sample either way. */
  def call[A](kind: String)(body: => A)(check: A => Unit): Option[A] = {
    if (warm) warmAttempted += 1 else attempted += 1
    val j0 = jitBean.getTotalCompilationTime
    val t0 = System.nanoTime()
    depth += 1
    val res = try Try(body) finally depth -= 1
    val dt = (System.nanoTime() - t0) / 1e9
    // JIT time of nested calls is already inside the outermost one
    if (!warm && depth == 0) jitMsTimed += jitBean.getTotalCompilationTime - j0
    res.foreach(_ => sample(kind, dt))
    res.flatMap(a => Try(check(a)).map(_ => a)) match {
      case Success(a) => Some(a)
      case Failure(e) => fail(kind, e); None
    }
  }

  /** Time one step inside a call. Steps are not calls: they are not
    * counted as attempted, and a step that throws records no sample (its
    * call fails instead). */
  def timed[A](kind: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    sample(kind, (System.nanoTime() - t0) / 1e9)
    a
  }

  /** A round of calls — the unit the tracer calls an operation. */
  def round[A](kind: String)(body: => A): A =
    if (tracing && !warm) tracer.tracedOp(kind)(body) else body

  /** Warm up with a fixed number of rounds, keeping each round's time
    * so a reader can see whether they levelled off. */
  def warmUp(rounds: Int)(round: Int => Unit): Unit =
    for (i <- 0 until rounds) {
      val t0 = System.nanoTime()
      round(i)
      warmWalls += (System.nanoTime() - t0) / 1e9
    }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"output check failed: $what")
}

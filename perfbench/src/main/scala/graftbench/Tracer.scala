package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans opened by the benchmark around graft's public calls, plus a
  * `SparkListener` that charges every Spark job and task to the span that
  * was open on the driver thread when the job started.
  *
  * A span belongs to one operation (`op`) and may have a parent span; a
  * span's self time is its wall time minus its children's. The span id
  * travels to the scheduler as a job-local property, so jobs launched on
  * helper threads (broadcasts, subqueries) land in the right span. Spans
  * stay in memory; [[SpanListener]] aggregates task metrics as they
  * arrive, and the caller writes everything out once at the end. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val listener = new SpanListener
  private var on = false
  private var nextId = 1L
  private var currentOp = 0L
  private val stack = mutable.Stack[Long]()
  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.ArrayBuffer[Op]()

  /** Run `body` as one traced operation: the listener is attached for
    * its duration only, and detached after the bus has delivered every
    * event the operation caused. */
  def tracedOp[A](kind: String)(body: => A): A = {
    require(!on, "operations do not nest")
    sc.addSparkListener(listener)
    on = true
    currentOp = nextId; nextId += 1
    val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    try body
    finally {
      ops += Op(currentOp, kind, t0, System.nanoTime(), m0, System.currentTimeMillis())
      on = false
      org.apache.spark.sql.GraftSql.awaitListenerBus(spark)
      sc.removeSparkListener(listener)
    }
  }

  /** A span around one public graft call; a no-op outside [[tracedOp]]. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      try body
      finally {
        spans += Span(id, currentOp, parent, name, t0, System.nanoTime(),
          m0, System.currentTimeMillis())
        stack.pop()
        sc.setLocalProperty(SpanKey,
          stack.headOption.map(_.toString).orNull)
      }
    }

  /** Per-occurrence fields of every recorded span. */
  def spanFields: Seq[(Span, SpanFields)] = {
    listener.settle()
    val childWall = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.wallS).sum }
    spans.toSeq.map { s =>
      val a = listener.aggOf(s.id)
      val covered = unionMs(a.jobIntervals.toSeq, s.startMs, s.endMs) / 1e3
      s -> SpanFields(
        wallS = s.wallS,
        selfS = s.wallS - childWall.getOrElse(s.id, 0.0),
        jobs = a.jobs,
        cpuS = a.cpuNs / 1e9,
        gcS = a.gcMs / 1e3,
        shuffleMb = a.shuffleWriteBytes / 1e6,
        spillMb = a.spillBytes / 1e6,
        driverS = math.max(0.0, s.wallS - covered),
        recordsRead = a.recordsRead,
        callSites = a.callSites.toMap)
    }
  }

  /** Per operation: wall time not covered by its top-level spans. */
  def unattributed: Seq[(Op, Double)] = {
    val top = spans.filter(_.parent == 0L).groupBy(_.op)
    ops.toSeq.map(o => o -> (o.wallS - top.getOrElse(o.id, Nil).map(_.wallS).sum))
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  final case class Op(id: Long, kind: String, startNs: Long, endNs: Long,
      startMs: Long, endMs: Long) {
    def wallS: Double = (endNs - startNs) / 1e9
  }
  final case class Span(id: Long, op: Long, parent: Long, name: String,
      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def wallS: Double = (endNs - startNs) / 1e9
  }
  final case class SpanFields(wallS: Double, selfS: Double, jobs: Int,
      cpuS: Double, gcS: Double, shuffleMb: Double, spillMb: Double,
      driverS: Double, recordsRead: Long,
      callSites: Map[String, (Int, Double)])

  /** Length in ms of the union of `intervals`, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L; var reach = lo
    for ((a0, b0) <- intervals.sortBy(_._1)) {
      val a = math.max(a0, reach); val b = math.min(b0, hi)
      if (b > a) { covered += b - a; reach = b }
    }
    covered
  }

  final class Agg {
    var jobs = 0
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var recordsRead = 0L
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
    val callSites = mutable.LinkedHashMap[String, (Int, Double)]()
  }

  final case class JobRec(id: Int, span: Long, site: String, start: Long)

  /** Charges jobs and task metrics to the span id carried in the job's
    * local properties, and keys every job by its call site: the graft
    * file and line of the action that launched it. A job of a SQL
    * execution takes the execution's call site; a job that adaptive
    * execution launched from a helper thread, outside any execution,
    * takes the site of the next job of its span (the action it ran for).
    * Callbacks all run on the listener bus thread; readers wait for the
    * bus to drain first. */
  final class SpanListener extends SparkListener {
    private val bySpan = mutable.HashMap[Long, Agg]()
    private val stageSpan = mutable.HashMap[Int, Long]()
    private val running = mutable.HashMap[Int, JobRec]()
    private val execSites = mutable.HashMap[Long, String]()
    private val helperJobs = mutable.HashMap[Long, mutable.ArrayBuffer[(JobRec, Long)]]()
    var unattributedJobs = 0

    def aggOf(span: Long): Agg = synchronized(bySpan.getOrElse(span, new Agg))

    private def isHelper(site: String) = site.contains("CompletableFuture")

    private def charge(a: Agg, site: String, start: Long, end: Long): Unit = {
      val (n, secs) = a.callSites.getOrElse(site, (0, 0.0))
      a.callSites(site) = (n + 1, secs + (end - start) / 1e3)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized(execSites(s.executionId) = s.description)
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      prop(SpanKey).map(_.toLong) match {
        case Some(s) =>
          val site = prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong))
            .orElse(prop("callSite.short"))
            .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
            .getOrElse("?")
          e.stageIds.foreach(stageSpan(_) = s)
          running(e.jobId) = JobRec(e.jobId, s, site, e.time)
          bySpan.getOrElseUpdate(s, new Agg).jobs += 1
        case None => unattributedJobs += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running.remove(e.jobId).foreach { j =>
        val a = bySpan.getOrElseUpdate(j.span, new Agg)
        a.jobIntervals += ((j.start, e.time))
        if (isHelper(j.site))
          helperJobs.getOrElseUpdate(j.span, mutable.ArrayBuffer()) += ((j, e.time))
        else {
          helperJobs.remove(j.span).foreach(_.foreach { case (h, end) =>
            charge(a, j.site, h.start, end) })
          charge(a, j.site, j.start, e.time)
        }
      }
    }

    /** Charge helper jobs no later job claimed to their own site. */
    def settle(): Unit = synchronized {
      for ((s, hs) <- helperJobs; (h, end) <- hs)
        charge(bySpan.getOrElseUpdate(s, new Agg), h.site, h.start, end)
      helperJobs.clear()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = bySpan.getOrElseUpdate(s, new Agg)
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }
}

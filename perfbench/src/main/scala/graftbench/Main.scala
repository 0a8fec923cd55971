package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints one JSON object as the last stdout line:
  * `{"attempted":…,"failed":…,"metrics":{name: value}}` — the end-to-end
  * metrics in an untraced run, the per-layer metrics in a traced one.
  * A readable report and the run stamp go to stderr; the run record
  * (stamp, generated row counts and, when traced, every span) is written
  * under the work directory.
  *
  * Usage: Main --workload NAME --seed N --seconds S --trace 0|1
  *   --work DIR --cpus N [--commit SHA] [--source-digest HEX]
  */
object Main {

  /** Setup repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  val SpanNames: Seq[String] = Seq(
    "pit_engine.build", "pit_engine.exec", "pit_native.build", "pit_native.exec",
    "materialize.window", "online_bounded.write", "online.get", "online.get_uncached",
    "dedup.build", "curate_tail.exec", "graph.build", "graph.exec",
    "ivf.train", "ivf.assign", "knn.batch")

  val SpanFieldNames: Seq[(String, Tracer.SpanFields => Double)] = Seq(
    "wall_s" -> (_.wallS), "jobs" -> (_.jobs.toDouble), "cpu_s" -> (_.cpuS),
    "gc_s" -> (_.gcS), "shuffle_mb" -> (_.shuffleMb), "driver_s" -> (_.driverS))

  /** Span fields that are zero by construction: a cached read runs no
    * Spark job, so it has no executor time or shuffle. */
  val AlwaysZero: Set[String] = Set("online.get.cpu_s", "online.get.gc_s", "online.get.shuffle_mb")

  /** Per-layer figures a workload adds beyond the span fields; every
    * traced run reports all of them, 0 where the workload does not
    * exercise the layer. */
  val WorkloadExtras: Seq[String] = Seq(
    "sources.pit_rows_read_per_row_out", "sources.window_rows_read_per_row_out",
    "retrieval.result_mb",
    "materialize.refresh_s", "materialize.state_rows",
    "materialize.rows_merged_per_new_row", "online.hit_ratio",
    "online.jobs_per_uncached_get", "online.cached_keys", "dedup.drop_ratio",
    "graph.jobs_per_round", "ivf.train_jobs", "knn.recall_at_10")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = arg("workload")
    val workload = Workload(workloadName)
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = new File(arg("work")).getAbsoluteFile
    val cpus = arg("cpus").toInt

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val run = new Run(spark, seed, new File(work, s"data/$workloadName-$seed"))
    try {
      val controlPre = control(spark, times = 2)

      var rowCounts = Map.empty[String, Long]
      val setups = (1 to SetupReps).map { rep =>
        val dir = new File(run.dataDir, s"rep$rep")
        val s0 = System.nanoTime()
        rowCounts = workload.setup(run, dir)
        (System.nanoTime() - s0) / 1e9
      }
      val o0 = System.nanoTime()
      workload.prepare(run)
      val oracleS = (System.nanoTime() - o0) / 1e9

      val w0 = System.nanoTime()
      workload.warmup(run)
      val warmupS = (System.nanoTime() - w0) / 1e9

      run.startTiming()
      val rounds = math.max(1, math.ceil(seconds / workload.roundSeconds).toInt)
      // A traced run issues the same rounds untraced just before and just
      // after the traced ones, in this JVM: its tracing overhead is the
      // traced rounds' time minus the mean of the two untraced medians,
      // which cancels a steady drift such as the JIT still compiling.
      def untracedMain(): Double = Stats.median(run.setAside(
        workload.measure(run, rounds))(workload.kinds.head))
      val before = if (traced) untracedMain() else 0.0
      run.tracing = traced
      val m0 = System.nanoTime()
      workload.measure(run, rounds)
      val measuredS = (System.nanoTime() - m0) / 1e9
      run.tracing = false
      val after = if (traced) untracedMain() else 0.0

      val controlPost = control(spark, times = 1)
      val heapMb = retainedHeapMb()
      val storage = spark.sparkContext.getRDDStorageInfo
      val storageMb = storage.map(r => r.memSize + r.diskSize).sum / 1e6
      val rddsEnd = spark.sparkContext.getPersistentRDDs.size

      val p50s = workload.kinds.map { k =>
        val xs = run.series(k)
        require(xs.nonEmpty, s"no successful $k call was timed")
        Stats.median(xs) * 1e3
      }
      val endToEnd = Map(
        "setup_s" -> Stats.median(setups),
        "main_p50_ms" -> p50s(0),
        "second_p50_ms" -> p50s(1),
        "third_p50_ms" -> p50s(2),
        "retained_heap_mb" -> heapMb)

      // traced runs only
      lazy val spans = run.tracer.spanFields
      lazy val unattributed = run.tracer.unattributed
      lazy val opWall = unattributed.map(_._1.wallS).sum
      lazy val perLayer: Map[String, Double] =
        (for (s <- SpanNames; (f, get) <- SpanFieldNames if !AlwaysZero(s"$s.$f"))
          yield s"$s.$f" -> Workload.med(spans, s)(get)).toMap ++
          WorkloadExtras.map(_ -> 0.0) ++ workload.extras(run, spans) ++ Map(
            "persist.storage_mb_end" -> storageMb,
            "persist.rdds_end" -> rddsEnd.toDouble,
            "jvm.jit_ms_timed" -> run.jitMsTimed.toDouble,
            "box.control_pre_s" -> controlPre,
            "box.control_post_s" -> controlPost,
            "setup.session_s" -> sessionS,
            "setup.warmup_s" -> warmupS,
            "run.warmup_rounds" -> run.warmWalls.size.toDouble,
            "trace.overhead_ms" -> (p50s(0) - (before + after) / 2 * 1e3),
            "trace.unattributed_share" ->
              (if (opWall == 0) 0.0 else unattributed.map(_._2).sum / opWall))

      val rt = ManagementFactory.getRuntimeMXBean
      val stamp = Map(
        "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
        "trace" -> traced, "cpus" -> cpus,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
        "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version,
        "commit" -> args.getOrElse("commit", "unknown"),
        "source_digest" -> args.getOrElse("source-digest", "unknown"),
        "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
        "box_control_pre_s" -> controlPre, "box_control_post_s" -> controlPost,
        "setup_reps_s" -> setups, "session_s" -> sessionS, "oracle_s" -> oracleS,
        "warmup_s" -> warmupS, "warmup_round_s" -> run.warmWalls,
        "warmup_calls" -> run.warmAttempted, "warmup_failed" -> run.warmFailed,
        "rounds" -> rounds, "measured_s" -> measuredS, "generated_rows" -> rowCounts,
        "unattributed_jobs" -> run.tracer.listener.unattributedJobs)

      val timings = run.samples.map { case (k, xs) =>
        val s = Stats.summarize(xs.toSeq)
        k -> Map("n" -> s.n, "p50_s" -> s.p50,
          "tail_pct" -> s.tailP, "tail_s" -> s.tail)
      }
      val attempted = run.attempted + run.warmAttempted
      val failed = run.failed + run.warmFailed

      // readable report
      val err = System.err
      err.println(s"[perfbench] stamp ${Json(stamp)}")
      run.failures.foreach(f => err.println(s"[perfbench] FAILED $f"))
      for ((k, xs) <- run.samples) {
        val s = Stats.summarize(xs.toSeq)
        err.println(f"[perfbench] timing $k%-14s n=${s.n}%-6d p50=${s.p50 * 1e3}%.4f ms" +
          s.tailP.fold(" (too few samples for a tail)")(p =>
            f"  p$p%s=${s.tail.get * 1e3}%.4f ms (>=10 samples beyond)"))
      }
      val named = Seq(("setup_s", endToEnd("setup_s"), "s")) ++
        workload.kinds.zip(p50s).map { case (k, v) => (s"${k}_p50_ms", v, "ms") } ++ Seq(
        ("failed_ratio", failed.toDouble / math.max(1L, attempted), "ratio"),
        ("retained_heap_mb", heapMb, "MB")) ++ workload.report(run)
      named.foreach { case (n, v, u) => err.println(f"[perfbench] $n%-28s $v%.6f $u") }

      val record = new File(work, s"runs/$workloadName-seed$seed-trace${if (traced) 1 else 0}.json")
      record.getParentFile.mkdirs()
      val pw = new PrintWriter(record, "UTF-8")
      try {
        pw.println("{\"stamp\":" + Json(stamp) + ",")
        pw.println("\"end_to_end\":" + Json(endToEnd) + ",")
        pw.println("\"named\":" + Json(named.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap) + ",")
        pw.println("\"timings\":" + Json(timings) + ",")
        pw.println("\"failures\":" + Json(run.failures) + ",")
        if (traced) {
          pw.println("\"per_layer\":" + Json(perLayer) + ",")
          pw.println("\"ops\":[")
          pw.println(unattributed.map { case (o, u) => Json(Map("id" -> o.id, "kind" -> o.kind,
            "wall_s" -> o.wallS, "unattributed_s" -> u)) }.mkString(",\n"))
          pw.println("],\"spans\":[")
          pw.println(spans.map { case (s, f) => Json(Map("id" -> s.id, "op" -> s.op,
            "parent" -> s.parent, "name" -> s.name, "wall_s" -> f.wallS, "self_s" -> f.selfS,
            "jobs" -> f.jobs, "cpu_s" -> f.cpuS, "gc_s" -> f.gcS, "shuffle_mb" -> f.shuffleMb,
            "spill_mb" -> f.spillMb, "driver_s" -> f.driverS, "records_read" -> f.recordsRead,
            "call_sites" -> f.callSites.map { case (k, (n, secs)) => k -> Map("jobs" -> n, "s" -> secs) }))
          }.mkString(",\n"))
          pw.println("],")
        }
        pw.println("\"attempted\":" + attempted + ",\"failed\":" + failed + "}")
      } finally pw.close()

      val metrics = if (traced) perLayer else endToEnd
      println(Json(Map("attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)))
    } finally {
      spark.stop()
      deleteTree(run.dataDir)
    }
  }

  /** The control query `graft.Bench` brackets its runs with: a fixed
    * hash aggregate over `spark.range`, whose cost depends on the box
    * only. Before the run it executes twice and the second (warm) time is
    * kept; after the run, once. */
  def control(spark: SparkSession, times: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 10000000L, 1L, 32)
        .selectExpr(
          "sum(pmod(xxhash64(id, id * 2654435761), 1000000)) as h",
          "sum(crc32(cast(id as string))) as c")
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(times)(once()).last
  }

  /** Heap in use after full collections: what the run left reachable. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

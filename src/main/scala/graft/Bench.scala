package graft
object Bench {
  /** JSON string literal: quote, backslash and control chars escaped. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  // a failed artifact write is reported on stderr, never fatal: stdout
  // must still end with the metric lines
  private[graft] def writeArtifact(file: String)(write: => Unit): Unit =
    try write catch {
      case e: Throwable => System.err.println(s"[graft] write $file " +
        s"failed: ${e.getClass.getName}: ${e.getMessage}")
    }

  private[graft] def writeLine(file: String, s: String): Unit =
    writeArtifact(file) {
      val w = new java.io.PrintWriter(file, "UTF-8")
      try w.println(s) finally w.close()
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: run every query once at the smallest SF so
    // whole-stage-codegen compilation (janino cache, keyed by generated
    // source) and JIT happen before the timed run — first-execution
    // compilation of the complex dedup plans was measured at 5-14s, pure
    // one-time JVM cost, not data processing.
    // sf0.01 default: close enough to the bench SF that AQE picks the
    // same physical plans, so codegen compiled during warmup is the
    // codegen the timed run executes (sf0.001 plans can differ and leave
    // the timed first execution cold).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.01")
    if (new java.io.File(warmDir).isDirectory)
      SparkEntry.queries.foreach { case (name, fn) =>
        // same materialization as the timed loop so the warmed codegen is
        // the codegen the timed run executes
        try fn(spark, warmDir).queryExecution.toRdd.count()
        catch {
          case e: Throwable => System.err.println(s"[graft] warm-up " +
            s"$name failed: ${e.getClass.getName}: ${e.getMessage}")
        }
      }
    // CONTROL query (constant work, data-independent): a seeded 1e7-row
    // hash+aggregate over spark.range. Its cost is fixed across rounds and
    // scale factors, so any drift in its timing measures the BOX (load,
    // thermal, JIT state), not the engine. r6→r7 saw the whole text family
    // "regress" 1.5-2.8× with zero code changes — unconfirmable noise
    // because nothing in the artifact recorded environment state. Timed
    // median-of-3 BEFORE and AFTER the main loop: a drifting pair means
    // the box got loaded mid-run and per-query deltas that round are
    // suspect.
    def controlOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 10000000L, 1L, 32)
        .selectExpr(
          // pmod before the sum: summing 1e7 raw 64-bit hashes overflows
          // long under ANSI; the hash work (what's being timed) is identical
          "sum(pmod(xxhash64(id, id * 2654435761), 1000000)) as h",
          "sum(crc32(cast(id as string))) as c")
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    def controlMedian3(): Double = {
      controlOnce() // warm
      val ts = (1 to 3).map(_ => controlOnce()).sorted
      ts(1)
    }
    // MEDIAN OF 3 runs per query: single-shot ~1s timings on a shared box
    // swing ±50% with JIT/scheduling noise (r2→r3 saw 2-4× swings on
    // queries whose code never changed) — a median can't be dragged by one
    // bad run, so regressions become signal. Failures are reported
    // per-query as {"err": msg} and excluded from `total` so a broken
    // query can never masquerade as a timing.
    val reps = 3
    // INTERLEAVED control sampling: one control run every `ctlEvery`
    // queries, not just pre/post. r10's artifact carried a 5-query
    // regression cluster (up to 7.5×) on untouched, alphabetically
    // adjacent queries with CLEAN pre/post controls — exactly the
    // signature of a transient box-load window mid-run that endpoint
    // controls structurally cannot see. Each query's window is bounded
    // by two control samples; a window whose bounding controls drift
    // above driftMax × the run's best control gets its queries listed
    // in "suspect_queries" so a reader can discount (or re-measure)
    // them instead of mistaking box noise for a code regression.
    val ctlEvery = 25
    // One full timed pass, bracketed and interleaved by the control
    // query: (pre, results, post, mid-run samples).
    def runLoop(): (Double, Seq[(String, Either[String, Double])], Double,
        Seq[Double], Seq[(String, Double, Double, Double)]) = {
      val pre = controlMedian3()
      val mids = scala.collection.mutable.ArrayBuffer[Double]()
      // per-query (min, max, median) across reps — the dispersion
      // detector's input (a spike confined to one query's reps never
      // shows in the bracketing control samples)
      val spreads =
        scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double)]()
      val rs: Seq[(String, Either[String, Double])] =
        SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
          case ((name, fn), i) =>
          // MEDIAN-OF-3 mid samples, the same protocol as the endpoints
          // (round 14): a SINGLE-shot control taken right after a heavy
          // query systematically reads ~2× the quiet-JVM endpoints —
          // async shuffle/broadcast cleanup of the just-finished query
          // steals CPU from the one shot. The first r14 idle run read
          // ALL seven mids at 0.23-0.60 vs 0.15/0.14 endpoints while
          // every per-query median sat at its standing-table base (the
          // re-measured dedup trio included) — a clean run falsely
          // self-invalidated. Median-of-3 absorbs the transient; a real
          // load WINDOW (minutes-scale, the r13 signature) still reads
          // elevated through all three shots.
          if (i > 0 && i % ctlEvery == 0) mids += controlMedian3()
          def once(): Either[String, Double] = {
            val t0 = System.nanoTime()
            try {
              // toRdd.count(), NOT df.count(): df.count() rewrites the plan to
              // Aggregate(count(1)) and column pruning then deletes the very
              // projection work being benchmarked (regexp/hash/sha columns) —
              // pure-projection queries would time a metadata-only scan.
              // toRdd executes the compiled plan and materializes every row.
              fn(spark, sfDir).queryExecution.toRdd.count()
              Right((System.nanoTime() - t0) / 1e9)
            } catch {
              case e: Throwable =>
                Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
            }
          }
          val runs = (1 to reps).map(_ => once())
          val times = runs.collect { case Right(t) => t }.sorted
          if (times.nonEmpty)
            spreads += ((name, times.head, times.last,
              times(times.size / 2)))
          name -> (if (times.isEmpty) runs.head
                   else Right(times(times.size / 2)))
        }
      val post = controlMedian3()
      (pre, rs, post, mids.toSeq, spreads.toSeq)
    }
    // SELF-PROTECTION: the control query's cost is data-independent, so a
    // drifting pre/post pair means the BOX slowed mid-run (r8's official
    // artifact: 0.109 → 1.918, a ~17× slowdown that made 62 unchanged
    // queries read as a uniform 1.37× "regression"). A drifted pass is
    // re-run ONCE in full; if the re-run's pair is steady its numbers are
    // reported, otherwise the artifact marks ITSELF invalid with
    // "contaminated": true so a loaded box can never produce an official
    // bench that masquerades as a code regression. Both control pairs are
    // always recorded for audit.
    val driftMax = 1.5
    def drifted(pre: Double, post: Double): Boolean =
      post / pre > driftMax || pre / post > driftMax
    // The r13 failure signature: endpoints CLEAN, the majority of
    // mid-run samples 2-3× above them — a load window spanning most of
    // the run, which the pre/post pair structurally cannot see. Such a
    // pass re-runs (and self-marks contaminated if it persists) exactly
    // like an endpoint-drifted one. Majority vote, not any-single-mid:
    // even median-3 mid samples wobble with residual churn, and one
    // elevated sample must not invalidate a 25-minute run.
    def midContaminated(
        pre: Double, post: Double, mids: Seq[Double]): Boolean =
      mids.count(_ > driftMax * math.max(pre, post)) * 2 > mids.size
    // Window audit (used both for per-run quality gating below and the
    // final suspect_queries list): query i lives in window i / ctlEvery,
    // bounded by control samples (pre, mids..., post). A window is
    // suspect when either bounding control exceeds driftMax × the
    // ENDPOINT baseline. Baseline = max(pre, post), NOT the median of
    // all samples (the r13 failure: a load window spanning MOST of the
    // run put 7 of 9 samples at 2-3× the endpoints, the all-samples
    // median tracked the contamination itself, and zero windows flagged
    // while three dedup queries ran 3-8× slow). The endpoints are
    // median-of-3 (robust); max-of-the-two so an ordinary pre/post
    // wobble can't flag half the run — and if BOTH endpoints drift, the
    // pre/post re-run + "contaminated" path owns that case.
    def windowSuspectsOf(pre: Double, post: Double, mids: Seq[Double],
        rs: Seq[(String, Either[String, Double])]): Seq[String] = {
      val bounds = (pre +: mids) :+ post
      val baseline = math.max(pre, post)
      rs.zipWithIndex.collect {
        case ((name, _), i)
            if {
              val w = math.min(i / ctlEvery, bounds.size - 2)
              math.max(bounds(w), bounds(w + 1)) > driftMax * baseline
            } => name
      }
    }
    // The r14 failure signature: endpoints clean, mids' MAJORITY below
    // the midContaminated bar — yet HALF the run's windows were bounded
    // by an elevated control (the driver's official artifact carried
    // n_suspect = 102/197 with "contaminated": false, a 161.6 s total
    // vs 110.2 s idle). A run where more than a third of the queries
    // sit in suspect windows is not a usable artifact even if no single
    // detector crossed its own threshold — treat it like endpoint
    // drift: re-run once, self-mark contaminated if it persists.
    def windowsSaturated(pre: Double, post: Double, mids: Seq[Double],
        rs: Seq[(String, Either[String, Double])]): Boolean =
      rs.nonEmpty &&
        windowSuspectsOf(pre, post, mids, rs).size * 3 > rs.size
    // Second detector — per-query rep dispersion: three reps of the
    // same query on identical data should agree; a max/min spread
    // beyond repSpreadMax on a non-trivial query (median ≥ 0.5 s, where
    // scheduling noise is a small fraction) means the box load moved
    // DURING the query's reps — finer-grained than the window audit,
    // and the only signal when a spike lives entirely between two
    // clean control samples.
    val repSpreadMax = 3.0
    def dispersionSuspectsOf(
        spreads: Seq[(String, Double, Double, Double)]): Seq[String] =
      spreads.collect {
        case (name, lo, hi, med)
          if med >= 0.5 && lo > 0 && hi / lo > repSpreadMax => name
      }
    def suspectsOf(pre: Double, post: Double, mids: Seq[Double],
        rs: Seq[(String, Either[String, Double])],
        spreads: Seq[(String, Double, Double, Double)]): Seq[String] =
      (windowSuspectsOf(pre, post, mids, rs) ++
        dispersionSuspectsOf(spreads)).distinct
    // Third quality gate (round 18): an ABSOLUTE suspect-count ceiling.
    // The r17 official artifact shipped 63 suspect queries with
    // "contaminated": false — every per-detector threshold keys off the
    // run's OWN endpoints, so a box that is merely noisy (many small
    // load windows, none majority, none >1/3 of queries) reads as
    // "clean but unusable". A pass with more than suspectMax suspect
    // queries now triggers the same bounded self-heal re-run a control
    // drift does, and self-marks contaminated if no attempt gets under
    // the ceiling — so n_suspect above the ceiling can never again ship
    // as a clean artifact.
    val suspectMax = 10
    // SELF-HEALING attempts loop (round 16): the r15 official artifact
    // was honest but unusable — the windows-saturated gate flagged it
    // and a single retry wasn't enough for the box's load window to
    // pass, so the round closed with no clean official number. Now the
    // bench re-runs the FULL pass (per-query medians stay comparable;
    // re-running only suspects would time half the suite under a
    // different cache/JIT state) up to `maxAttempts`
    // times, sleeping `settleMs` between attempts so a
    // transient load window can drain, and emits the FIRST clean pass
    // as the artifact. Every discarded attempt is recorded (controls,
    // suspect count, total) — the re-measurement is auditable, never
    // silent. If no attempt comes back clean the LAST one is emitted
    // with "contaminated": true, exactly as before.
    def passDirty(p: Double, q: Double, m: Seq[Double],
        r: Seq[(String, Either[String, Double])],
        s: Seq[(String, Double, Double, Double)]): Boolean =
      drifted(p, q) || midContaminated(p, q, m) ||
        windowsSaturated(p, q, m, r) ||
        suspectsOf(p, q, m, r, s).size > suspectMax
    val maxAttempts = 3
    val settleMs = 60000L
    val discarded =
      scala.collection.mutable.ArrayBuffer[(Double, Double, Int, Double)]()
    val (controlPre, results, controlPost, midCtls, repSpread,
        contaminated) = {
      var out: Option[(Double, Seq[(String, Either[String, Double])],
        Double, Seq[Double], Seq[(String, Double, Double, Double)],
        Boolean)] = None
      var attempt = 0
      while (out.isEmpty && attempt < maxAttempts) {
        attempt += 1
        val (p, r, q, m, s) = runLoop()
        val dirty = passDirty(p, q, m, r, s)
        if (!dirty) out = Some((p, r, q, m, s, false))
        else if (attempt == maxAttempts) out = Some((p, r, q, m, s, true))
        else {
          // a discarded attempt: record its audit trail, let the load
          // window drain, try again
          val total = r.collect { case (_, Right(v)) => v }.sum
          discarded +=
            ((p, q, suspectsOf(p, q, m, r, s).size, total))
          Thread.sleep(settleMs)
        }
      }
      out.get
    }
    val suspectQueries =
      suspectsOf(controlPre, controlPost, midCtls, results, repSpread)
    val qs = results.map {
      case (k, Right(v)) => s"${jstr(k)}:$v"
      case (k, Left(m))  => s"${jstr(k)}:{${jstr("err")}:${jstr(m)}}"
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right(v)) => v }.sum
    val nerr = results.count(_._2.isLeft)
    // COLD builds of the shared artifacts the cache-amortized rows read
    // (ScaleProbe.timeBuild: evict → build → eager materialization, the
    // same rows the scale probe emits), run AFTER the timed loop so the
    // eviction can't perturb any per-query median
    val coldJson = ScaleProbe.buildFamily.map { q =>
        s"${jstr(q)}:${f"${ScaleProbe.timeBuild(spark, q, sfDir)._1}%.3f"}"
      }.mkString("{", ",", "}")
    val amortJson = ScaleProbe.cacheAmortized.map(jstr).mkString("[", ",", "]")
    val ctl = {
      val base =
        f""""control_pre_s":$controlPre%.3f,"control_post_s":$controlPost%.3f"""
      val disc =
        if (discarded.isEmpty) ""
        else discarded.map { case (p, q, ns, tot) =>
          f"""{"control_pre_s":$p%.3f,"control_post_s":$q%.3f,"n_suspect":$ns,"total":$tot%.2f}"""
        }.mkString(""","discarded_attempts":[""", ",", "]")
      val mids = midCtls.map(v => f"$v%.3f").mkString("[", ",", "]")
      val susp = suspectQueries.map(jstr).mkString("[", ",", "]")
      base + disc +
        s""","attempts":${discarded.size + 1}""" +
        s""","control_mid_s":$mids,"suspect_queries":$susp""" +
        s""","contaminated":$contaminated"""
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$nerr,"sf":"$sfDir","reps":$reps,""" +
        s""""cache_amortized":$amortJson,"cold_builds":$coldJson,$ctl}"""
    // The metric JSON ALSO goes to a file: the driver captures only the
    // tail of stdout, and r3's line was truncated mid-object by sbt noise
    // ("parsed": null in BENCH_r03.json). A file can't be truncated by a
    // log window.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_METRIC.json")
    writeLine(outFile, line)
    // PER-QUERY round-over-round evidence (round 18): the driver's
    // stdout capture is a 2000-char tail and it parses the LAST JSON
    // line inside it — r01–r05 (full per-query line last) all captured
    // "parsed": null, r06+ (compact totals line last) parse fine, so a
    // 241-entry per-query map (~6–9 KB even at millisecond precision)
    // STRUCTURALLY cannot travel through the parsed stdout line. It is
    // therefore always ALSO written as its own single-line JSON file in
    // the working directory, under a fixed, discoverable name that the
    // compact stdout line points at ("queries_file") — so per-query
    // regressions are computable from the file artifact two runs of any
    // rounds produce. Additions only: the full line (with "queries"),
    // the BENCH_OUT file and the compact tail line are unchanged.
    val queriesFile = "BENCH_QUERIES.json"
    writeLine(queriesFile, line)
    println(line)
    spark.stop()
    // Compact totals-only object as the very LAST stdout line (after
    // spark.stop() so no shutdown logging can follow it): the driver's
    // tail window truncated the full per-query line in r3 AND r4
    // ("parsed": null). This one is ~120 bytes and always fits.
    val compactCtl =
      f""""control_pre_s":$controlPre%.3f,"control_post_s":$controlPost%.3f""" +
        s""","n_suspect":${suspectQueries.size},"contaminated":$contaminated"""
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","errors":$nerr,"sf":"$sfDir","reps":$reps,"n_queries":${results.size},$compactCtl,"queries_file":${jstr(queriesFile)}}"""
    println(compact)
    System.out.flush()
  }
}

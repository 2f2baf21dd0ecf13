package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line of per-query seconds.
  *
  * Each query is materialized through the `noop` sink — unlike
  * `.count()`, which lets Catalyst prune every computed column out of
  * a projection-only query, noop executes the full plan (all
  * expressions, all shuffles) and writes nothing.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(appName = "graft-bench")

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val elapsed =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          -1.0
        }
      // free this run's localCheckpoint blocks OUTSIDE the timed
      // window; leaked blocks from earlier queries otherwise crowd
      // storage and tax every later measurement (r02: d07 read 28 s,
      // alone it runs 5 s)
      Engine.releaseCheckpoints(spark)
      elapsed
    }

    // Fixed single-thread busy loop, timed. Work is constant, so
    // wall-time is a pure machine-load probe: on an idle box this is
    // a stable constant; under CPU contention it inflates in
    // proportion. Emitted before/after the suite so a loaded capture
    // (BENCH_r03: 183 s for a 70 s suite) is self-evident from the
    // artifact alone.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      var x = 0L
      var i = 0
      while (i < 400000000) { x ^= (x + i) * 0x9E3779B97F4A7C15L; i += 1 }
      if (x == 42L) System.err.println("") // keep the loop live
      (System.nanoTime() - t0) / 1e9
    }

    // Per-query machine-load probe, PARALLEL (round 9): one Spark
    // stage of `cpus` copies of the busy loop through the scheduler,
    // wall-clock timed. The old single-thread probe provably missed
    // many-core contention — a load eating 30 of 32 cores inflates
    // one thread ~1.5x (it still gets scheduled) but a 32-way
    // parallel query ~24x, so the >2x threshold never fired (r08:
    // c19 captured at 50.8 s vs 2.1 s idle with `flagged` EMPTY).
    // A 32-task stage multiplexes onto the free cores exactly like
    // the queries do, so its wall time inflates in the same
    // proportion. On an idle box each task runs its own core at
    // full speed, so the x10 scaling keeps the reading in the same
    // ~0.75 units as calibrate() for artifact continuity.
    val probeTasks = spark.sparkContext.defaultParallelism
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(1 to probeTasks, probeTasks)
        .foreach { _ =>
          var x = 0L
          var i = 0
          while (i < 40000000) { x ^= (x + i) * 0x9E3779B97F4A7C15L; i += 1 }
          if (x == 42L) System.err.println("") // keep the loop live
        }
      (System.nanoTime() - t0) / 1e9 * 10.0
    }

    // Best-of-2 normally; when the two runs disagree by >3x one of
    // them was load-contaminated, so take a third and keep the min.
    // min-of-n strips GC/JIT/page-cache noise (standard repeated-
    // measurement discipline); the outlier re-run defends against
    // transient contention. SUSTAINED contention (both runs slow, no
    // disagreement) is what the per-query probe catches: the caller
    // re-measures probe-contaminated queries after the suite and the
    // artifact flags whatever never got a clean window.
    def measure(name: String): (Double, Double) = {
      val p = probe()
      val a = runOnce(name)
      val b = runOnce(name)
      if (a < 0 || b < 0) return (math.max(a, b), p)
      val lo = math.min(a, b)
      if (math.max(a, b) / lo > 3.0) {
        val c = runOnce(name)
        (if (c < 0) lo else math.min(lo, c), p)
      } else (lo, p)
    }

    // Warm the JVM/codegen/file-listing paths once, untimed.
    if (SparkEntry.queries.contains("q01_pricing_summary")) {
      runOnce("q01_pricing_summary")
      ()
    }
    probe() // warm the probe stage's closure/scheduler path, untimed

    // optional CLI filter: `runMain graft.Bench d07 q01` times only
    // queries whose name starts with one of the given prefixes
    val selected =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else SparkEntry.queries.keys.toSeq.sorted
        .filter(n => args.exists(n.startsWith))

    // Interleaved probes every 20 queries, not just before/after: r05's
    // endpoint probes both read idle (~0.72) while a mid-suite block
    // ran 4-10x contaminated — an unlocalizable artifact. With the
    // series, entry k was taken after query 20*(k+1) (sorted order),
    // so any contaminated block is self-evident from the JSON alone:
    // compare each entry against the before/after constant.
    val calibBefore = calibrate()
    val calibSeries = scala.collection.mutable.ArrayBuffer.empty[Double]
    val firstPass = selected.zipWithIndex.map { case (name, i) =>
      if (i > 0 && i % 20 == 0) calibSeries += calibrate()
      name -> measure(name)
    }
    val calibAfter = calibrate()
    // Contamination defense, second pass, two detectors:
    //  (1) RELATIVE probe: the idle reference is the best window ANY
    //      probe saw this run; a query whose own probe read >2x that
    //      was measured under sustained load. Catches load bursts
    //      shorter than the suite. (Probe readings only: calibrate()
    //      is single-thread — kept for cross-round artifact
    //      continuity — and no longer unit-compatible with the
    //      parallel probe under load.)
    //  (2) LAST-CAPTURE reference: detector (1) is blind to load
    //      spanning the WHOLE run (every probe inflates, the min
    //      normalizes it away — r08's failure mode). The committed
    //      capture (SPARK_GRAFT_BENCH_REF, default bench_out.json;
    //      only consulted when its "sf" matches) is an idle
    //      historical baseline: any query >3x its captured time is
    //      re-measured, and if it stays >3x it is flagged — either
    //      still-contaminated or a genuine regression; both deserve
    //      a human eyeball, and the artifact says which entries.
    // A re-run either beats the number (keep the re-run) or confirms
    // it under a clean probe (keep it; a clean window reproduced it).
    val idleRef = firstPass.map(_._2._2).min
    def contaminated(p: Double): Boolean = p / idleRef > 2.0
    val refTimes: Map[String, Double] = {
      val refFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "bench_out.json")
      try {
        val txt = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(refFile)),
          java.nio.charset.StandardCharsets.UTF_8)
        val sfOk = """"sf"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(txt)
          .exists(_.group(1) == sfDir)
        if (!sfOk) Map.empty
        else """"([a-z][a-z0-9_]+)"\s*:\s*(-?[0-9.]+)""".r
          .findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter { case (k, _) => k.length > 3 } // query names, not keys
          .toMap
      } catch { case _: Throwable => Map.empty }
    }
    def refSlow(name: String, t: Double): Boolean =
      refTimes.get(name).exists(r => r > 0 && t > 3.0 * r)
    // Re-measure trigger is TIGHTER than the flag (1.5x vs 3x): the
    // r09 capture carried a sustained ~2x load burst over three
    // queries that sat below both 3x thresholds and shipped
    // unflagged-but-inflated. Anything >1.5x its committed idle
    // reference gets the end-of-suite re-run; the flag itself keeps
    // the 3x semantics (a reproducible 1.5-3x drift is visible by
    // diffing captures, not a measurement artifact worth flagging).
    def refSuspect(name: String, t: Double): Boolean =
      refTimes.get(name).exists(r => r > 0 && t > 1.5 * r)
    // record WHICH entries took the second pass — the artifact should
    // say so (an empty list certifies the whole capture came from
    // clean first passes; a populated one names the suspects and
    // whether their re-run stuck)
    val remeasured = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = firstPass.map { case (name, (t, p)) =>
      if (t < 0 || (!contaminated(p) && !refSuspect(name, t))) (name, t, p)
      else {
        remeasured += name
        val p2 = probe()
        val t2 = runOnce(name)
        if (t2 >= 0 && t2 < t) (name, t2, p2)
        else (name, t, math.min(p, p2))
      }
    }
    // A query is flagged only when its NUMBER is suspect. A noisy
    // probe next to a measurement that beats (or sits within noise
    // of) the committed idle reference is a probe hiccup — the
    // number cannot be load-inflated below the idle baseline.
    // Queries without a reference (new this round) keep pure
    // probe-based flagging.
    val flagged = results.collect {
      case (name, t, p) if t >= 0 && (contaminated(p) || refSlow(name, t)) &&
          !refTimes.get(name).exists(r => r > 0 && t <= r * 1.2) =>
        name
    }
    // 3-decimal (ms) precision: full-precision doubles made the r02
    // JSON line ~3.6 kB, longer than the driver's captured output
    // tail, so the driver parsed null. ~30 bytes/query keeps the
    // whole line comfortably inside the tail window.
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val series = calibSeries.map(f).mkString("[", ",", "]")
    val flaggedJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val remeasJson = remeasured.map("\"" + _ + "\"").mkString("[", ",", "]")
    // INTER-CAPTURE DRIFT detector (round 15): the r14 captures
    // drifted ~25% against r13 while the tiny calibration probes read
    // flat — so capture-to-capture comparison, the repo's own
    // discipline, silently broke. The median per-query ratio vs the
    // committed reference is a load-independent drift meter (medians
    // ignore the genuinely-changed tail); it rides the artifact so
    // every capture records how comparable it was, and it GATES the
    // reference refresh below.
    val ratios = results.collect {
      case (k, t, _) if t > 0 && refTimes.get(k).exists(_ > 0) =>
        t / refTimes(k)
    }.sorted
    val medianVsRef =
      if (ratios.isEmpty) 1.0
      else if (ratios.length % 2 == 1) ratios(ratios.length / 2)
      else (ratios(ratios.length / 2 - 1) + ratios(ratios.length / 2)) / 2
    val json = s"""{"metric":"total","value":${f(total)},"unit":"sec",""" +
      s""""calib_before":${f(calibBefore)},"calib_after":${f(calibAfter)},""" +
      s""""calib_series":$series,"probe_idle":${f(idleRef)},""" +
      s""""median_vs_ref":${f(medianVsRef)},""" +
      s""""flagged":$flaggedJson,"remeasured":$remeasJson,""" +
      s""""queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // Also write the line to a file: under sbt the stdout line gets an
    // "[info] " prefix that breaks the driver's JSON parse
    // (BENCH_r01.json parsed:null). The default output is a SIBLING
    // the working tree ignores, never the committed reference
    // (bench_out.json): the reference is the idle baseline the flag
    // detectors compare against, and the driver benches under its own
    // parallel work — r10 and r11 both left the tree dirty with a
    // load-window overwrite of the reference. Refreshing the
    // reference is now an explicit act: SPARK_GRAFT_BENCH_OUT=
    // bench_out.json (and only from a run whose flagged list is
    // empty).
    val outFile0 = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse(
      if (flagged.nonEmpty) "bench_out.flagged.json"
      else "bench_out.last.json")
    // Refreshing the committed reference additionally requires the
    // capture to be COMPARABLE to the one it replaces: a median
    // per-query drift beyond ±10% means the capture environment
    // moved (r14's references were 10-18% hot vs their own driver
    // runs), and committing it would poison every future flag/drift
    // comparison. A deliberate whole-suite code change that really
    // moves the median is the exception — set
    // SPARK_GRAFT_BENCH_FORCE=1 and record the named cause plus this
    // run's median ratio in SURVEY.md.
    val refreshingRef = outFile0 == sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_REF", "bench_out.json")
    val driftBlocked = refreshingRef && refTimes.nonEmpty &&
      math.abs(medianVsRef - 1.0) > 0.10 &&
      !sys.env.contains("SPARK_GRAFT_BENCH_FORCE")
    val outFile =
      if (!driftBlocked) outFile0
      else {
        println(s"[bench] REFUSING to refresh $outFile0: median " +
          f"per-query ratio vs the committed reference is " +
          f"$medianVsRef%.3f (>±10%% drift) — re-run at idle " +
          "(median-of-3) or, for a named whole-suite code cause, " +
          "set SPARK_GRAFT_BENCH_FORCE=1 and record the cause in " +
          "SURVEY.md. Writing bench_out.drifted.json instead.")
        "bench_out.drifted.json"
      }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Driver-contract rescue (r18 verdict item 1): at 174 queries the
    // full JSON line is ~5 KB while the driver keeps only a ~2 KB
    // stdout TAIL, so the line's head is truncated and the driver's
    // parse has read null in EVERY round since r01. Two mitigations,
    // measurement methodology untouched:
    //  - the SAME line, verbatim, lands in BENCH_LINE.json at the cwd
    //    (the repo root under the driver's sbt invocation) where a
    //    file reader finds the complete per-query data;
    //  - the very last stdout line is a compact summary that always
    //    fits the tail window. It deliberately carries NO "metric" or
    //    "queries" keys so a pattern-matching parser can never mistake
    //    it for the contract line (which stays printed above, in full).
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LINE.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"""{"total":${f(total)},"n":${results.size},""" +
      s""""probe_idle":${f(idleRef)},"line_file":"BENCH_LINE.json"}""")
    spark.stop()
  }
}

package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Engine

/** One measured operation of a pass: a query, a pipeline call, a
  * micro-batch or a sink call. `items` is the unit the workload's
  * throughput counts (queries, files, rows).
  */
final case class Op(layer: String, name: String, seconds: Double,
    items: Long, ok: Boolean)

/** One output check. `ops` is how many operations a failure makes
  * wrong.
  */
final case class Check(name: String, ok: Boolean, detail: String = "",
    ops: Int = 1)

/** Everything a workload needs that is fixed for the run. */
final case class Env(root: File, fixture: String, seed: Long, cpus: Int) {
  def dir(name: String): File = {
    val d = new File(root, name)
    d.mkdirs()
    d
  }
}

/** A workload: a fixed, seeded set of operations repeated in passes. */
trait Workload {
  /** One timed pass. */
  def pass(tr: Tracer): Seq[Op]
  /** Untimed, after each pass: check this pass's outputs and delete
    * its stores.
    */
  def afterPass(): Seq[Check] = Nil
  /** Untimed, once at the end of the run. */
  def finish(): Seq[Check] = Nil
  /** Fewest passes of an untraced run, whatever `--seconds` says. */
  def minPasses: Int = 1
  /** Numbers the workload reports beside its operations. */
  def stats: Map[String, Double] = Map.empty
  /** Query results left for the DuckDB oracle compare. */
  def pending: Seq[Map[String, String]] = Nil
}

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val fixture = opts("fixture")
    opts.getOrElse("mode", "run") match {
      case "prep" => Prep.run(session(cpus), fixture, opts("out"))
      case "run" =>
        val env = Env(new File(opts("root")), fixture,
          opts("seed").toLong, cpus)
        run(opts("workload"), env, opts("seconds").toDouble,
          opts("trace") == "1", Paths.get(opts("out")))
    }
  }

  def session(cpus: Int): SparkSession =
    Engine.session(master = s"local[$cpus]", shufflePartitions = cpus,
      appName = "perfbench")

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Fixed-work, machine-load probe: one task per core of a constant
    * busy loop, wall-clock timed through the scheduler (the same probe
    * as the engine's own bench), so a run on a loaded box shows it.
    */
  def probe(spark: SparkSession): Double = {
    val n = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(1 to n, n).foreach { _ =>
      var x = 0L
      var i = 0
      while (i < 40000000) { x ^= (x + i) * 0x9E3779B97F4A7C15L; i += 1 }
      if (x == 42L) System.err.println("")
    }
    (System.nanoTime() - t0) / 1e9
  }

  def warmup(workload: String, spark: SparkSession, env: Env): Unit =
    workload match {
      case "queries" => Queries.warmup(spark, env)
      case "pipe_files" => PipeFiles.warmup(spark, env)
      case "sink_stream" => SinkStream.warmup(spark, env)
    }

  def build(workload: String, spark: SparkSession, env: Env): Workload =
    workload match {
      case "queries" => new Queries(spark, env)
      case "pipe_files" => new PipeFiles(spark, env)
      case "sink_stream" => new SinkStream(spark, env)
    }

  def run(workload: String, env: Env, seconds: Double, trace: Boolean,
      out: Path): Unit = {
    require(Set("queries", "pipe_files", "sink_stream")
      .contains(workload), s"unknown workload $workload")
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    // set-up is measured several times; every session but the last is
    // stopped again, so the median is a steady reading
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      spark = session(env.cpus)
      val t1 = System.nanoTime()
      warmup(workload, spark, env)
      Engine.releaseCheckpoints(spark)
      val t2 = System.nanoTime()
      if (i < SetupReps) stopSession(spark)
      Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9)
    }
    phase("setup")
    val probeBefore = probe(spark)
    val w = build(workload, spark, env)
    phase("inputs")
    val untraced = new Tracer(spark, on = false)
    val traced = if (trace) Some(new Tracer(spark, on = true)) else None
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Check]
    def onePass(tr: Tracer): Unit = {
      val t0 = System.nanoTime()
      val ops = w.pass(tr)
      val s = (System.nanoTime() - t0) / 1e9
      checks ++= w.afterPass()
      passes += Map("traced" -> tr.on, "seconds" -> s,
        "ops" -> ops.map(o => Map("layer" -> o.layer, "name" -> o.name,
          "s" -> o.seconds, "items" -> o.items, "ok" -> o.ok)))
    }
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    traced match {
      case None =>
        do onePass(untraced)
        while (elapsed < seconds || passes.size < w.minPasses)
      case Some(tt) =>
        // the traced pass comes first, so its layers see the same cold
        // pass an untraced run measures; the untraced pass after it runs
        // warm, so traced over untraced time bounds the overhead above
        do onePass(tt) while (elapsed < seconds)
        onePass(untraced)
    }
    phase("passes")
    checks ++= w.finish()
    phase("finish")
    val probeAfter = probe(spark)
    val tracedRec = traced.map { tt =>
      Map(
        "spans" -> tt.spansSoFar.map(s => Map("id" -> s.id,
          "layer" -> s.layer, "t0" -> s.t0, "t1" -> s.t1,
          "extras" -> s.extras,
          "segments" -> s.segments.map(g => Seq(g.obj, g.t0, g.t1)),
          "worker_ms" -> s.workerMs)),
        "planned" -> tt.plannedSoFar.map(p => Seq(p.start, p.seconds)),
        "jobs" -> tt.jobsSoFar.filter(_.span >= 0).map(j => Map(
          "span" -> j.span, "start" -> j.start, "end" -> j.end,
          "site" -> j.site,
          "tasks" -> j.tasks, "run_ms" -> j.runMs,
          "shuffle_bytes" -> j.shuffleBytes,
          "scan_bytes" -> j.scanBytes)))
    }.getOrElse(Map.empty)
    val rec = Map(
      "workload" -> workload, "seed" -> env.seed, "cpus" -> env.cpus,
      "setup" -> setups, "probe_before" -> probeBefore,
      "probe_after" -> probeAfter, "passes" -> passes.toSeq,
      "checks" -> checks.toSeq.map(c => Map("name" -> c.name,
        "ok" -> c.ok, "detail" -> c.detail, "ops" -> c.ops)),
      "pending" -> w.pending, "stats" -> w.stats,
      "phases" -> phases.toMap) ++ tracedRec
    stopSession(spark)
    Files.write(out, Json.render(rec).getBytes(StandardCharsets.UTF_8))
  }

  // --- small file helpers shared by the workloads --------------------

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** (files, bytes) under a directory, recursively. */
  def du(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Delete a store and report whether it is really gone. */
  def dropStore(f: File): Check = {
    rmTree(f)
    Check(s"store removed: ${f.getName}", !f.exists(), f.toString)
  }

  /** Run `body` as one operation; a throw marks it failed. */
  def op[T](layer: String, name: String, items: Long)(body: => T)
      : (Option[T], Op) = {
    val t0 = System.nanoTime()
    val r = try Some(body) catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name failed: $e")
      None
    }
    (r, Op(layer, name, (System.nanoTime() - t0) / 1e9, items, r.isDefined))
  }
}

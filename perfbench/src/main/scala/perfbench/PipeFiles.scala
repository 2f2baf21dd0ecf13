package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.operators.BatchPipeline
import graft.sources.FileIngest
import graft.streaming.JobStream

/** `pipe_files`: the paper's own traffic, `output(f) = COMMAND(f)` per
  * file. A seeded directory of small files goes through
  * `BatchPipeline.run` in equal chunks, then the same manifest is
  * enqueued as envelope files and drained by `JobStream.runWorker`.
  */
final class PipeFiles(spark: SparkSession, env: Env) extends Workload {
  import PipeFiles._

  private val base = env.dir("pipe")
  private val inDir = new File(base, "in")
  private val rng = new scala.util.Random(env.seed)
  private val files: Seq[(String, Array[Byte])] = generate(rng)
  private val poison: Set[String] =
    files.collect { case (n, b) if isPoison(b) => n }.toSet
  files.foreach { case (n, b) => write(new File(inDir, n), b) }

  /** Chunk directories hold hard links to the input files. */
  private val chunks: Seq[(String, Seq[String])] =
    rng.shuffle(files.map(_._1)).grouped(files.size / Chunks)
      .zipWithIndex.map { case (ns, i) =>
      val d = new File(base, s"chunk$i")
      d.mkdirs()
      ns.foreach(n => Files.createLink(new File(d, n).toPath,
        new File(inDir, n).toPath))
      (d.toString, ns)
    }.toSeq

  /** The manifest as envelope lines, `EnvelopeLines` per queue file. */
  private val envelopes: Seq[Seq[String]] = {
    val m = FileIngest.manifest(FileIngest.readDir(spark, inDir.toString),
      "bench", "in", "out").select("envelope").collect().map(_.getString(0))
    rng.shuffle(m.toSeq).grouped(EnvelopeLines).toSeq
  }

  /** Passes are short, so a run takes at least three and reports
    * their median.
    */
  override def minPasses: Int = 3

  private var passNo = 0
  private var streamBatches: Seq[(Long, Double)] = Nil
  private def passDir = new File(base, s"pass$passNo")

  def pass(tr: Tracer): Seq[Op] = {
    passNo += 1
    val out = passDir
    val batchOps = chunks.zipWithIndex.map { case ((dir, ns), i) =>
      Main.op("operators.BatchPipeline", s"chunk$i", ns.size.toLong) {
        val dest = new File(out, s"batch/c$i").toString
        if (tr.on) tracedRun(tr, dir, dest, ns.size)
        else BatchPipeline.run(spark, dir, dest, Command)
      }._2
    }
    // enqueue (the producer's side, not the worker's) then drain
    val queue = new File(out, "queue")
    queue.mkdirs()
    envelopes.zipWithIndex.foreach { case (lines, i) =>
      write(new File(queue, f"env$i%04d.json"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    val (progress, streamOp) = Main.op("streaming.JobStream", "drain",
        files.size.toLong) {
      tr.span[Int]("streaming.JobStream",
          n => Map("micro_batches" -> n.toDouble)) {
        val q = JobStream.runWorker(spark, queue.toString,
          inDir.toString, new File(out, "stream").toString,
          new File(out, "ckpt").toString, Command,
          trigger = Trigger.AvailableNow())
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        streamBatches = q.recentProgress.toSeq
          .filter(_.numInputRows > 0)
          .map(p => (p.batchId,
            p.durationMs.get("triggerExecution").longValue() / 1000.0))
        streamBatches.size
      }
    }
    // one operation per micro-batch, timed by the stream itself; a
    // failed drain counts as one failed operation
    // (a micro-batch's numInputRows counts every re-read of the batch,
    // so the files are shared out by batch instead)
    val mbOps =
      if (progress.isEmpty) Seq(streamOp)
      else streamBatches.zipWithIndex.map { case ((id, s), i) =>
        val n = files.size / streamBatches.size +
          (if (i < files.size % streamBatches.size) 1 else 0)
        Op("streaming.JobStream", s"batch$id", s, n.toLong, ok = true)
      }
    batchOps ++ mbOps
  }

  /** The real `BatchPipeline.run` in one span. The calling thread's
    * stack is sampled to split the call's time among the engine objects
    * it goes through, and its jobs are charged to them by call site.
    */
  private def tracedRun(tr: Tracer, dir: String, dest: String,
      n: Int): BatchPipeline.Result =
    tr.span[BatchPipeline.Result]("operators.BatchPipeline", r => {
      val (files, bytes) = Main.du(new File(dest))
      Map("files_listed" -> n.toDouble,
        "spawns" -> (r.processed + r.failed).toDouble,
        "files_published" -> files.toDouble,
        "bytes_published" -> bytes.toDouble,
        "quarantined" -> r.failed.toDouble,
        "ok_frac" -> r.processed.toDouble / math.max(1L, r.processed + r.failed))
    }, sample = Sampled) {
      BatchPipeline.run(spark, dir, dest, Command)
    }

  override def afterPass(): Seq[Check] = {
    val out = passDir
    val batch = chunks.zipWithIndex.flatMap { case ((_, ns), i) =>
      val dest = new File(out, s"batch/c$i")
      verify(s"batch c$i", ns, dest,
        BatchPipeline.quarantineDir(dest.toString))
    }
    val stream = verify("stream", files.map(_._1),
      new File(out, "stream"), new File(out, "stream").toString +
        "_quarantine")
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val leaked = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft-pipe-"))
    batch ++ stream ++ Seq(
      Check("no graft-pipe-* dirs left", leaked.isEmpty,
        leaked.map(_.getName).mkString(" ")),
      Main.dropStore(out))
  }

  /** Every non-poison file published byte-equal, and the quarantine is
    * exactly the planted poison set.
    */
  private def verify(what: String, ns: Seq[String], dest: File,
      quarantine: String): Seq[Check] = {
    val byName = files.toMap
    val wrong = ns.filterNot { n =>
      val o = new File(dest, n + ".out")
      if (poison(n)) !o.exists()
      else o.isFile &&
        java.util.Arrays.equals(Files.readAllBytes(o.toPath), byName(n))
    }
    val q = try spark.read.parquet(quarantine).select(col("key"))
      .collect().map(_.getString(0)).toSet
    catch { case _: Throwable => Set.empty[String] }
    val want = ns.filter(poison).toSet
    Seq(
      Check(s"$what outputs", wrong.isEmpty,
        wrong.take(5).mkString(" "), ops = wrong.size),
      Check(s"$what quarantine", q == want,
        s"got ${q.toSeq.sorted.take(5)} want ${want.toSeq.sorted.take(5)}",
        ops = (q diff want).size + (want diff q).size))
  }

  override def stats: Map[String, Double] = Map(
    "files" -> files.size.toDouble,
    "bytes" -> files.map(_._2.length.toLong).sum.toDouble,
    "poison" -> poison.size.toDouble)
}

object PipeFiles {
  /** The engine objects `BatchPipeline.run` calls, by class name prefix,
    * and their layers; time in none of them is the pipeline's own.
    */
  val Sampled: Seq[(String, String)] = Seq(
    "graft.sources.FileIngest" -> "sources.FileIngest",
    "graft.operators.PipeTransform" -> "operators.PipeTransform",
    "graft.sinks.NamedSink" -> "sinks.NamedSink")

  val FileCount = 40
  val Chunks = 2
  val EnvelopeLines = 2

  /** `cp` behind a guard: a file whose first line starts with POISON
    * is rejected (exit 3); every other file is copied unchanged. The
    * guard is shell built-ins only, so each file costs one spawn.
    */
  val Command: Seq[String] = Seq("sh", "-c",
    "read -r l < \"$1\"; case \"$l\" in POISON*) exit 3;; esac; " +
      "exec cp \"$1\" \"$2\"", "sh")

  def isPoison(b: Array[Byte]): Boolean =
    new String(b.take(6), StandardCharsets.ISO_8859_1) == "POISON"

  private val words = Seq("alpha", "beta", "gamma", "delta", "queue",
    "worker", "batch", "file", "spark", "output", "input", "job")

  /** Mixed sizes with fixed counts per kind, so every seed does the
    * same amount of work: 2 empty, 1 poison, 10 binary, 1 large text
    * and 26 text files.
    */
  def generate(rng: scala.util.Random): Seq[(String, Array[Byte])] =
    (0 until FileCount).map { i =>
      val bytes: Array[Byte] = i match {
        case _ if i % 30 == 0 => Array.emptyByteArray
        case 1 => ("POISON " + i + "\n" + text(rng, 200))
          .getBytes(StandardCharsets.UTF_8)
        case _ if i % 4 == 2 =>
          val b = new Array[Byte](256 + rng.nextInt(16 << 10))
          rng.nextBytes(b)
          b(0) = 0 // never a POISON header
          b
        case 3 => text(rng, 32768 + rng.nextInt(32768))
          .getBytes(StandardCharsets.UTF_8)
        case _ => text(rng, 64 + rng.nextInt(4096))
          .getBytes(StandardCharsets.UTF_8)
      }
      (f"f$i%04d.dat", bytes)
    }

  private def text(rng: scala.util.Random, n: Int): String = {
    val sb = new StringBuilder
    while (sb.length < n) {
      sb ++= words(rng.nextInt(words.size))
      sb += (if (rng.nextInt(9) == 0) '\n' else ' ')
    }
    sb.take(n).toString
  }

  def write(f: File, b: Array[Byte]): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, b)
  }

  /** Fixed warm-up: six fixed files through one pipeline run, then
    * through one stream drain, so the first timed pass starts warm on
    * both paths.
    */
  def warmup(spark: SparkSession, env: Env): Unit = {
    val d = env.dir("warm-pipe")
    val in = new File(d, "in").toString
    (0 until 6).foreach(i => write(new File(d, s"in/w$i"),
      s"warm $i\n".getBytes(StandardCharsets.UTF_8)))
    BatchPipeline.run(spark, in, new File(d, "out").toString, Command)
    val lines = FileIngest.manifest(FileIngest.readDir(spark, in),
      "bench", "in", "out").select("envelope").collect().map(_.getString(0))
    write(new File(d, "queue/env.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val q = JobStream.runWorker(spark, new File(d, "queue").toString, in,
      new File(d, "stream").toString, new File(d, "ckpt").toString,
      Command, trigger = Trigger.AvailableNow())
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    Main.rmTree(d)
  }
}

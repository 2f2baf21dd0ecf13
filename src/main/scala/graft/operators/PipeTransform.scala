package graft.operators

import java.io.File
import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.types._

/** The reference's core operator T1: per-record external-command
  * transformation (reference GetJobs.py:42-61 — stage input locally,
  * `subprocess.call([command, in, out])`, check exit code, publish).
  *
  * Spark-first realization: `mapPartitions` over a (key, content)
  * DataFrame. Binary-safe (content staged to a task-local file, not
  * piped through line-oriented `RDD.pipe`), exit-code captured per
  * record, failures emitted as rows (for quarantine/retry) rather than
  * crashing the task — SURVEY.md §2.4 option (b).
  *
  * Scale design:
  *  - one temp dir PER TASK (not per node): fixes the reference's
  *    shared-workdir clobber race (SURVEY.md §1.4) and makes task
  *    retries safe;
  *  - processing is per-partition sequential, so a 1000-executor
  *    cluster runs `slots` commands concurrently with zero shared
  *    state — the same pull-based work-stealing the reference gets
  *    from SQS (SURVEY.md §4.2), but scheduled by Spark;
  *  - partition sizing is the caller's lever: ~1 file per partition
  *    preserves work-stealing for lumpy jobs, big partitions amortize
  *    JVM-side overhead for tiny ones.
  */
object PipeTransform {

  /** Synthetic exit code for "command exited 0 but wrote no output
    * file" — a failure (no bytes to publish) that must reach the
    * quarantine, not the sink. Distinct from -1 (spawn error).
    */
  val NoOutputExit: Int = -4

  /** Synthetic exit code for a command that exceeded the per-record
    * timeout and was force-killed.
    */
  val TimeoutExit: Int = -5

  /** Result row per input record. `output` is null iff the command
    * failed (exitCode != 0 or spawn error).
    */
  val outputSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("output", BinaryType),
    StructField("exitCode", IntegerType),
    StructField("error", StringType)))

  /** Run `command ++ Seq(inPath, outPath)` over every (key: String,
    * content: Binary) row of `in`. Mirrors GetJobs.process(): the
    * command reads its input file and must write the output file;
    * exit 0 = success.
    *
    * `timeoutSec` bounds each record's wall-clock (default 60 s —
    * the reference's SQS VisibilityTimeout, doEverything.sh:40: a
    * job still running past it is reclaimed). A command that
    * exceeds it is force-killed and the record routes to the
    * failure path with [[TimeoutExit]] — one hung binary must never
    * wedge an executor slot forever.
    */
  def transform(
      in: DataFrame, command: Seq[String],
      timeoutSec: Int = 60): DataFrame = {
    require(timeoutSec >= 1, "timeoutSec must be >= 1")
    val enc = Encoders.row(outputSchema)
    in.select("key", "content").mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val dir = Files.createTempDirectory("graft-pipe-")
        onTaskDone(() => deleteRecursive(dir))
        it.map { row =>
          runOne(dir, command, row.getString(0),
            row.getAs[Array[Byte]](1), timeoutSec)
        }
      }
    }(enc)
  }

  private def runOne(
      dir: Path, command: Seq[String], key: String,
      content: Array[Byte], timeoutSec: Int): Row = {
    // Stage by a content-independent local name, not the raw key: keys
    // may contain separators/.. (the reference staged by bare fileName
    // and was traversal-unsafe, GetJobs.py:44).
    val base = java.lang.Long.toHexString(
      java.util.UUID.randomUUID().getMostSignificantBits)
    val inF = dir.resolve(s"in-$base")
    val outF = dir.resolve(s"out-$base")
    try {
      Files.write(inF, if (content == null) Array.empty[Byte] else content)
      val pb = new ProcessBuilder(
        (command ++ Seq(inF.toString, outF.toString)): _*)
      pb.redirectErrorStream(false)
      // stdout -> executor log (the reference's subprocess.call also
      // inherits it). Leaving it a pipe we never drain would deadlock
      // any command that writes >64KB to stdout: child blocks on the
      // full pipe while we block reading stderr.
      pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      proc.getOutputStream.close()
      // stderr drains on a daemon thread: reading it inline would
      // block forever on a hung child (no EOF), and NOT reading it
      // deadlocks any child that writes >64KB of stderr
      val errBuf = new java.io.ByteArrayOutputStream()
      val drainer = new Thread(() => {
        try proc.getErrorStream.transferTo(errBuf)
        catch { case NonFatal(_) => () }
      })
      drainer.setDaemon(true)
      drainer.start()
      val finished = proc.waitFor(
        timeoutSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
      if (!finished) {
        // Kill the WHOLE tree, not just the direct child: a wrapper
        // (sh -c, interpreter, launcher script) that spawned the real
        // binary would otherwise leave the grandchild running —
        // consuming CPU and possibly still writing the staged output
        // file after the record was reported TimeoutExit. Snapshot
        // descendants BEFORE killing the parent (the ProcessHandle
        // stream goes empty once the parent dies and children are
        // reparented to init), kill them, then the parent, then
        // re-sweep for any child that raced a fork with the kill.
        import scala.jdk.CollectionConverters._
        val kids = proc.toHandle.descendants().iterator().asScala.toList
        kids.foreach(_.destroyForcibly())
        proc.destroyForcibly()
        proc.waitFor()
        proc.toHandle.descendants().iterator().asScala
          .foreach(_.destroyForcibly())
        return Row(key, null, TimeoutExit,
          s"command timed out after ${timeoutSec}s and was killed" +
            (if (kids.nonEmpty) s" (with ${kids.size} descendant(s))"
             else ""))
      }
      drainer.join(5000)
      val stderr = new String(
        errBuf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      val exit = proc.exitValue()
      if (exit == 0 && Files.exists(outF))
        Row(key, Files.readAllBytes(outF), 0, null)
      else {
        // A command that exits 0 without writing its output file is a
        // FAILURE (the reference's upload would throw and SQS would
        // redeliver, GetJobs.py:57-60). Surface it with a synthetic
        // nonzero exit code so every exitCode!=0 consumer — the
        // sink's success test, quarantine counting — routes it to
        // retry, never to the sink.
        val syntheticExit = if (exit == 0) NoOutputExit else exit
        Row(key, null, syntheticExit,
          if (stderr.nonEmpty) stderr.take(4096)
          else if (exit == 0) "command exited 0 but wrote no output"
          else null)
      }
    } catch {
      case NonFatal(e) => Row(key, null, -1, String.valueOf(e))
    } finally {
      Files.deleteIfExists(inF)
      Files.deleteIfExists(outF)
    }
  }

  private def onTaskDone(f: () => Unit): Unit = {
    val ctx = TaskContext.get()
    if (ctx != null) ctx.addTaskCompletionListener[Unit](_ => f())
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    }

  /** Line-oriented pipe: ONE process per PARTITION, text lines
    * streamed through stdin/stdout. This is the scale path for
    * line-shaped text commands: at 10^9 records, process-per-record
    * spawning (the reference's model, `transform` above) costs
    * ~ms x rows; process-per-partition amortizes it to
    * ~ms x partitions. Not binary-safe and no per-record exit code —
    * use `transform` when those semantics matter.
    *
    * Timeout parity with `transform` (the VisibilityTimeout rule:
    * one hung binary must never wedge an executor slot): SOME
    * progress — a stdout line produced, or a stdin line consumed
    * (a highly selective filter legitimately reads for minutes
    * without a match) — must happen every `idleTimeoutSec` while
    * work is pending. On a stall the whole process tree is killed
    * and the TASK fails — per-partition piping has no per-record
    * failure row to emit, and a failed task is exactly the
    * reference's redelivery semantics (the partition re-runs
    * elsewhere). A nonzero exit at EOF fails the task the same way;
    * `RDD.pipe` (which this replaces) offered neither. One window a
    * caller must still size for: a buffering command (`sort`) is
    * silent between stdin EOF and its first output line — set
    * `idleTimeoutSec` to the worst-case length of that post-EOF
    * phase, exactly as the reference sizes VisibilityTimeout to its
    * worst-case job.
    *
    * Failure visibility: an exception from the UPSTREAM iterator
    * (corrupt input, shuffle fetch failure) fails the task even when
    * the child tolerates truncated stdin and exits 0 — partial input
    * must never look complete. Only a child that closed stdin early
    * (head-like) is treated as benign, and its exit code remains the
    * verdict.
    */
  def transformLines(
      in: Dataset[String], command: Seq[String],
      idleTimeoutSec: Int = 60,
      okExitCodes: Set[Int] = Set(0)): Dataset[String] = {
    require(idleTimeoutSec >= 1, "idleTimeoutSec must be >= 1")
    val spark = in.sparkSession
    import spark.implicits._
    in.mapPartitions { lines =>
      if (lines.isEmpty) Iterator.empty
      else pipePartition(lines, command, idleTimeoutSec, okExitCodes)
    }
  }

  /** One partition through one child process, watchdogged. The
    * consumer polls a bounded queue fed by a reader thread; a poll
    * that comes up empty for idleTimeoutSec IS the stall detector —
    * no separate watchdog thread. The writer feeding stdin gets an
    * IOException when the tree dies and exits; all threads are
    * daemons, so a killed task leaks nothing.
    */
  private def pipePartition(
      lines: Iterator[String], command: Seq[String],
      idleTimeoutSec: Int, okExitCodes: Set[Int]): Iterator[String] = {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    val proc = new ProcessBuilder(command: _*).start()
    onTaskDone { () =>
      // belt & braces for task kill/abort: reap the tree
      import scala.jdk.CollectionConverters._
      proc.toHandle.descendants().iterator().asScala
        .foreach(_.destroyForcibly())
      proc.destroyForcibly(); ()
    }
    // Threads that touch the UPSTREAM iterator need the task's
    // TaskContext installed (PipedRDD does the same): shuffle-reading
    // and spilling iterators call TaskContext.get() internally and
    // would NPE on a bare thread — and that NPE must surface as the
    // task failure it is, not vanish into a daemon thread.
    val taskContext = TaskContext.get()
    // Upstream failures recorded off-thread, rethrown by the consumer:
    // a child that tolerates truncated stdin (head-like, exit 0) must
    // not turn a genuine upstream read failure into silent data loss.
    val upstreamFailure =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    // Progress clock for the stall detector: bumped on every stdin
    // line written AND every stdout line read, so a selective filter
    // that consumes input for minutes without emitting a match is
    // alive, not stalled.
    val lastProgress =
      new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val errT = new Thread(() => {
      if (taskContext != null)
        org.apache.spark.graft.TaskContextBridge.set(taskContext)
      try proc.getErrorStream.transferTo(System.err)
      catch { case NonFatal(_) => () }
    })
    errT.setDaemon(true); errT.start()
    val writer = new Thread(() => {
      if (taskContext != null)
        org.apache.spark.graft.TaskContextBridge.set(taskContext)
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        proc.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
      try {
        var open = true
        while (open && lines.hasNext) {
          val l = lines.next() // upstream pull OUTSIDE the write try:
          // a failure here is genuine and must fail the task
          try {
            w.write(l); w.newLine()
            lastProgress.set(System.nanoTime())
          } catch {
            // write-side IOException = child closed stdin early
            // (head-like). Benign by itself; the exit code decides.
            case _: java.io.IOException => open = false
          }
        }
      } catch { case NonFatal(e) => upstreamFailure.set(e) }
      finally {
        try w.close() catch { case NonFatal(_) => () }
      }
    })
    writer.setDaemon(true); writer.start()
    val Eof = new Object
    val queue = new LinkedBlockingQueue[AnyRef](1024)
    val reader = new Thread(() => {
      try {
        val r = new java.io.BufferedReader(new java.io.InputStreamReader(
          proc.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
        var l = r.readLine()
        while (l != null) {
          lastProgress.set(System.nanoTime())
          queue.put(l); l = r.readLine()
        }
      } catch { case NonFatal(_) => () }
      finally queue.put(Eof)
    })
    reader.setDaemon(true); reader.start()

    def killTree(): Unit = {
      import scala.jdk.CollectionConverters._
      val kids = proc.toHandle.descendants().iterator().asScala.toList
      kids.foreach(_.destroyForcibly())
      proc.destroyForcibly()
      proc.waitFor()
      proc.toHandle.descendants().iterator().asScala
        .foreach(_.destroyForcibly())
    }

    new Iterator[String] {
      private var nextLine: String = _
      private var finished = false
      private def advance(): Unit = {
        if (nextLine != null || finished) return
        // Poll in 1 s slices against the shared progress clock: the
        // queue being empty for a while is NOT a stall when the
        // writer is still feeding stdin (selective filter) — only
        // idleTimeoutSec with neither a line in nor a line out is.
        var got: AnyRef = queue.poll(1L, TimeUnit.SECONDS)
        while (got == null &&
            System.nanoTime() - lastProgress.get() <
              idleTimeoutSec * 1000000000L) {
          got = queue.poll(1L, TimeUnit.SECONDS)
        }
        if (got == null) {
          killTree()
          val idle = new java.io.IOException(
            s"pipe command ${command.head} idle (no stdin consumed, no " +
              s"stdout produced) for ${idleTimeoutSec}s — process tree " +
              "killed, task fails for redelivery")
          // if the real story is an upstream failure that starved the
          // child, surface THAT, not a misleading idle kill
          val up = upstreamFailure.get()
          if (up != null) idle.initCause(up)
          throw idle
        } else if (got eq Eof) {
          finished = true
          // The writer may not have observed an upstream failure YET
          // (it could be mid-pull when the child exited): join it —
          // prompt, since once the child is dead every write throws
          // and the writer stops pulling — so the check below sees
          // the final verdict, not a race window.
          writer.join()
          val up = upstreamFailure.get()
          if (up != null) {
            killTree()
            throw new java.io.IOException(
              "upstream input failed while feeding pipe stdin — " +
                "failing the task: partial input must never look " +
                "complete even when the child exits 0", up)
          }
          // stdout closed but the child may still refuse to exit —
          // bound the reap with the same idle window, then kill
          if (!proc.waitFor(idleTimeoutSec.toLong, TimeUnit.SECONDS)) {
            killTree()
            throw new java.io.IOException(
              s"pipe command ${command.head} closed stdout but did " +
                s"not exit within ${idleTimeoutSec}s — tree killed")
          }
          val exit = proc.exitValue()
          // okExitCodes: filters like grep exit 1 on a no-match
          // partition — legal, not a failure
          if (!okExitCodes.contains(exit)) throw new java.io.IOException(
            s"pipe command ${command.head} exited $exit")
        } else nextLine = got.asInstanceOf[String]
      }
      override def hasNext: Boolean = { advance(); !finished }
      override def next(): String = {
        advance()
        if (finished) throw new NoSuchElementException
        val l = nextLine; nextLine = null; l
      }
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.JobSpec
import graft.operators.PipeTransform
import graft.sinks.NamedSink

/** Streaming realization of the reference worker (SURVEY.md §2.10,
  * §3.2): the SQS long-poll loop becomes a Structured Streaming
  * micro-batch query over a file-queue of job envelopes.
  *
  * Mapping, element for element:
  *  - queue           -> a watched directory; each file holds JSON
  *                       envelope lines (the reference's message body)
  *  - 20 s long poll  -> Trigger.ProcessingTime (default 20 s)
  *  - SQS batch size  -> maxFilesPerTrigger
  *  - ack on success  -> checkpointed micro-batch commit; together
  *                       with the idempotent NamedSink this UPGRADES
  *                       the reference's at-least-once to effective
  *                       exactly-once (SURVEY.md §1.4)
  *  - poison messages -> quarantine parquet, not infinite redelivery
  *  - SIGINT handler  -> query.stop() via stopGracefully
  */
object JobStream {

  /** Parsed, dispatch-filtered job stream from an envelope file-queue
    * (one JSON array envelope per line).
    */
  def jobs(spark: SparkSession, queueDir: String,
      maxFilesPerTrigger: Int = 10): DataFrame = {
    val raw = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(queueDir)
    raw.select(JobSpec.fromEnvelope(col("value")).as("job"), col("value"))
      .select(col("job.*"), col("value").as("envelope"))
  }

  /** Run the worker: for each micro-batch, stage inputs from
    * `inputDir/fileName`, run the command, publish outputs to
    * `outputDir/fileName+ext`, quarantine failures+unknown actions.
    * Returns the running query (caller stops it).
    */
  def runWorker(
      spark: SparkSession, queueDir: String, inputDir: String,
      outputDir: String, checkpointDir: String, command: Seq[String],
      ext: String = ".out",
      trigger: Trigger = Trigger.ProcessingTime("20 seconds")): StreamingQuery = {
    jobs(spark, queueDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, inputDir, outputDir, command, ext)
        ()
      }
      .start()
  }

  /** Graceful shutdown (reference T4, GetJobs.py:63-65 SIGINT
    * handler): stop the query at the next micro-batch boundary; also
    * installable as a JVM shutdown hook so ^C drains cleanly. The
    * checkpoint guarantees the interrupted batch is either fully
    * committed or fully re-run on restart.
    */
  def stopGracefully(query: StreamingQuery, installHook: Boolean = false): Unit = {
    def stop(): Unit = if (query.isActive) query.stop()
    if (installHook)
      Runtime.getRuntime.addShutdownHook(new Thread(() => stop()))
    else stop()
  }

  /** How many names under one parent directory justify a bulk
    * `listStatus` over per-file stats: below this, individual
    * getFileStatus calls cost less than enumerating a directory that
    * may hold millions of entries the batch never names; above it,
    * one listing RPC amortizes the whole batch (an SQS-scale batch of
    * thousands of names would otherwise pay thousands of round
    * trips).
    */
  private val BulkStatThreshold = 32

  /** Existence + length for each named input, `Some(len)` iff the
    * path exists and is a regular file — metadata only, never a scan.
    * Names are grouped by parent directory; small groups stat
    * per-file, large groups make ONE `listStatus` call per directory
    * and resolve the batch against the listing (the reference's
    * worker does one HEAD per job, GetJobs.py:50 — fine at
    * PARALLEL=2, a driver bottleneck at thousands of files per
    * trigger).
    */
  private[graft] def statNames(
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path,
      names: Array[String]): Array[(String, Option[Long])] = {
    val byParent = names.groupBy(n =>
      new org.apache.hadoop.fs.Path(base, n).getParent)
    byParent.iterator.flatMap { case (dir, ns) =>
      if (ns.length < BulkStatThreshold)
        ns.iterator.map { n =>
          // one metadata call per name: absence is the exception
          val st =
            try Some(fs.getFileStatus(new org.apache.hadoop.fs.Path(base, n)))
            catch { case _: java.io.FileNotFoundException => None }
          (n, st.filter(_.isFile).map(_.getLen))
        }
      else {
        // stream the listing and keep ONLY the batch's own names:
        // driver memory stays O(batch) against the million-entry
        // directories this path exists for, and the iteration stops
        // as soon as every wanted name has been seen (a batch with an
        // absent name still walks the full listing — absence is only
        // provable at the end — but holds no more than the batch)
        val wanted = ns.map(n =>
          new org.apache.hadoop.fs.Path(base, n).getName).toSet
        val listed = scala.collection.mutable.Map
          .empty[String, org.apache.hadoop.fs.FileStatus]
        try {
          val it = fs.listStatusIterator(dir)
          while (it.hasNext && listed.size < wanted.size) {
            val st = it.next()
            val leaf = st.getPath.getName
            if (wanted.contains(leaf)) listed(leaf) = st
          }
        } catch { case _: java.io.FileNotFoundException => () }
        ns.iterator.map { n =>
          val leaf = new org.apache.hadoop.fs.Path(base, n).getName
          n -> listed.get(leaf).filter(_.isFile).map(_.getLen)
        }
      }
    }.toArray
  }

  /** One micro-batch = one bounded pipe pass over ONLY the files the
    * batch names. Package-private for direct testing.
    *
    * The batch is bounded by maxFilesPerTrigger x lines-per-envelope
    * file, so it is collected to the driver ONCE — the streaming analog
    * of "one SQS message batch" — and names, hostile names and
    * undispatchable rows all come from that array. It lets us read
    * exactly the named objects (per-key GETs, like the reference's
    * worker) instead of rescanning the whole input directory every
    * trigger. The quarantine write is then the batch's one action: the
    * command runs and publishes inside its tasks.
    */
  private[streaming] def processBatch(
      batch: DataFrame, batchId: Long, inputDir: String, outputDir: String,
      command: Seq[String], ext: String): Unit = {
    val rows = batch.select(JobSpec.dispatchable, col("action"),
      col("fileName"), col("envelope")).collect()
    if (rows.isEmpty) return
    val spark = batch.sparkSession
    val (ok, bad) = rows.partition(_.getBoolean(0))
    // PATH-TRAVERSAL gate at the staging boundary (the round-17
    // adversarial-input lens): fileName comes off the wire, and
    // `new Path(inputDir, fileName)` resolves `..` upward — the
    // reference reads and republishes ANY host file a message names
    // (GetJobs.py:44,51). Unsafe names quarantine like every other
    // malformed envelope; they never become paths.
    val (names, hostileNames) = ok.map(_.getString(2)).distinct
      .partition(JobSpec.pathSafe)
    // driver-side existence check: metadata-only, bulk-listed per
    // parent directory past a small threshold (statNames) so a wide
    // batch costs one listing RPC, not one per file. The stat also
    // captures length:
    // `binaryFile` silently DROPS zero-length files (no scan splits),
    // so empty inputs must be re-injected as explicit empty-content
    // rows — otherwise a job naming an empty object would vanish:
    // neither published nor quarantined (the same silent-loss family
    // FileIngest.readDir guards against on the batch path).
    val base = new org.apache.hadoop.fs.Path(inputDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val stats = statNames(fs, base, names)
    val present = stats.collect { case (n, Some(len)) if len > 0 => n }
    val empties = stats.collect { case (n, Some(0L)) => n }
    val absent = stats.collect { case (n, None) => n }
    import spark.implicits._
    val refused = (absent.toSeq.map(n =>
      (n, -2, "input object not found")) ++
      hostileNames.toSeq.map(n =>
        (n, -4, "unsafe fileName (path traversal) — refused to " +
          "resolve under the input directory")) ++
      bad.toSeq.map(r =>
        (Option(r.getString(2)).getOrElse(r.getString(3)), -3,
          "undispatchable action: " +
            Option(r.getString(1)).getOrElse("null"))))
      .toDF("key", "exitCode", "error")
    val scanned =
      if (present.isEmpty) None
      else Some(graft.sources.FileIngest.keyed(
        spark.read.format("binaryFile")
          .load(present.toIndexedSeq.map(n =>
            new org.apache.hadoop.fs.Path(base, n).toString): _*),
        baseDir = Some(inputDir)))
    val emptyRows =
      if (empties.isEmpty) None
      else Some(empties.toSeq.toDF("key")
        .select(col("key"), lit(Array.empty[Byte]).as("content")))
    val input = (scanned, emptyRows) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    input.map(in =>
      NamedSink.publish(PipeTransform.transform(in, command), outputDir, ext)
        .filter(!col("published"))
        .select("key", "exitCode", "error")
        .unionByName(refused))
      .getOrElse(refused)
      // per-batch overwrite => a retried micro-batch rewrites its own
      // partition instead of appending duplicates (foreachBatch is
      // at-least-once; this keeps the quarantine exactly-once too)
      .write.mode("overwrite")
      .parquet(s"${outputDir}_quarantine/batch=$batchId")
  }
}

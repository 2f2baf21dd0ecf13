package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.NamedSink
import graft.sources.FileIngest

/** End-to-end batch realization of the reference architecture
  * (SURVEY.md §3): directory in → keyed scan → external-command
  * transform → deterministic-name outputs + quarantine report.
  *
  * The reference's whole control plane (SQS + ASG + CloudWatch,
  * §3.3) collapses into the Spark scheduler: pull-based task
  * assignment IS the queue, dynamic allocation IS the elasticity.
  * What remains as code is exactly this dataflow.
  */
object BatchPipeline {

  final case class Result(processed: Long, failed: Long)

  /** Quarantine location convention, shared by run()/retryQuarantine()
    * (and JobStream's streaming quarantine partitions live under the
    * same root).
    */
  def quarantineDir(outDir: String): String = s"${outDir}_quarantine"

  /** Bounded retry of quarantined jobs (SURVEY.md M1: the reference
    * redelivers poison messages FOREVER; we quarantine them and
    * re-drive with an attempt budget). Reads `<outDir>_quarantine`,
    * re-runs the command for those keys only, publishes successes,
    * and rewrites the quarantine with an incremented `attempts`
    * column; rows at `maxAttempts` are left as permanent failures.
    */
  def retryQuarantine(
      spark: SparkSession, inDir: String, outDir: String,
      command: Seq[String], ext: String = ".out",
      maxAttempts: Int = 3): Result = {
    val qDir = quarantineDir(outDir)
    val raw = spark.read.parquet(qDir)
    val q = (if (raw.columns.contains("attempts")) raw
      else raw.withColumn("attempts", lit(1)))
      .select("key", "exitCode", "error", "attempts")
    val files = FileIngest.keyed(FileIngest.readDir(spark, inDir),
      baseDir = Some(inDir))
      .join(q.filter(col("attempts") < maxAttempts), Seq("key"), "left_semi")
    val r = NamedSink.publish(PipeTransform.transform(files, command),
      outDir, ext)
    // a quarantine row without a result was not attempted (exhausted,
    // or its input is gone) and keeps its entry unchanged
    val tried = col("r.key").isNotNull
    val next = q.as("q").join(r.as("r"), col("q.key") === col("r.key"),
      "left_outer").select(
      col("q.key"),
      when(tried, col("r.exitCode")).otherwise(col("q.exitCode"))
        .as("exitCode"),
      when(tried, col("r.error")).otherwise(col("q.error")).as("error"),
      when(tried, col("q.attempts") + 1).otherwise(col("q.attempts"))
        .as("attempts"),
      coalesce(col("r.published"), lit(false)).as("published"))
    // the quarantine is both input and output: write the next
    // generation aside, then swap via rename-aside + rename-in so
    // no window exists where the data lives only in a deleted path;
    // Hadoop rename reports failure via `false`, so check it.
    val fs = new org.apache.hadoop.fs.Path(qDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def path(p: String) = new org.apache.hadoop.fs.Path(p)
    val nextDir = qDir + "_next"
    val old = qDir + "_old"
    val res = writeQuarantine(next, nextDir)
    fs.delete(path(old), true)
    require(fs.rename(path(qDir), path(old)),
      s"rename $qDir -> $old failed")
    require(fs.rename(path(nextDir), path(qDir)),
      s"rename $nextDir -> $qDir failed; previous quarantine at $old")
    fs.delete(path(old), true)
    res
  }

  /** Run `command <in> <out>` over every file in `inDir`, writing
    * outputs as `<outDir>/<file><ext>`. Failures don't abort the run
    * (the reference redelivers them forever — the poison-message
    * defect in SURVEY.md §1.4); they land in a parquet quarantine at
    * `<outDir>_quarantine` (key, exitCode, error) for bounded retry
    * by the caller.
    */
  def run(
      spark: SparkSession, inDir: String, outDir: String,
      command: Seq[String], ext: String = ".out"): Result = {
    val files = FileIngest.keyed(FileIngest.readDir(spark, inDir),
      baseDir = Some(inDir))
    writeQuarantine(
      NamedSink.publish(PipeTransform.transform(files, command), outDir, ext),
      quarantineDir(outDir))
  }

  /** The pipeline's one action: write the `!published` rows to `dest`,
    * counting both sides on the way. The command runs and publishes
    * inside this write's tasks, so nothing is cached and each file
    * spawns once.
    */
  private def writeQuarantine(rows: DataFrame, dest: String): Result = {
    val obs = new Observation("pipeline")
    rows.observe(obs, count(when(col("published"), 1)).as("ok"),
        count(when(!col("published"), 1)).as("failed"))
      .filter(!col("published")).drop("published")
      .write.mode("overwrite").parquet(dest)
    val m = obs.get
    Result(m("ok").asInstanceOf[Long], m("failed").asInstanceOf[Long])
  }
}

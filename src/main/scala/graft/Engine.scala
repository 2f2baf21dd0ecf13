package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session bootstrap + fixture-table catalog.
  *
  * The engine is a library: callers normally bring their own
  * `SparkSession`. `Engine.session()` is the tuned default used by the
  * CLI mains (Bench / Verify / demos) — AQE on, shuffle partitions
  * sized for the local core count rather than the 200 default, UTC
  * timestamps for oracle parity.
  *
  * Scale stance: every knob here is what you'd set on a real cluster
  * too (AQE + skew-join handling + partition-count discipline); only
  * `master(local[N])` is test-harness-specific.
  */
object Engine {

  def session(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE on: runtime re-plan, skew handling, partition coalescing
      // (measured faster than AQE off on the whole suite)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Spark's own default, spelled in bytes: unset, the conf reads
      // back "67108864b"
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864")
      // FileOutputCommitter's default too, but only a JobConf loads it
      // (mapred-default.xml); set, the session's Hadoop conf carries it
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // fresh per-process warehouse: the default ./spark-warehouse
      // outlives the in-memory catalog (new JVM -> empty catalog but
      // orphaned managed-table dirs -> LOCATION_ALREADY_EXISTS)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh-").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def widenIfNarrow(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // Widen tiny local scans to the session parallelism WITHOUT
    // forcing an exchange on an already-parallel input: the fixture
    // parquet is one file (one split), which would serialize a
    // brute-force or explode-heavy scan on one core; a 100 TB table
    // arrives in thousands of splits and must NOT pay a full shuffle
    // here. The narrowness probe is METADATA-ONLY: the scan's split
    // count is ~ceil(bytes / maxPartitionBytes) off the already-built
    // file index, where the previous `df.rdd.getNumPartitions` ran
    // full physical planning + RDD DAG construction — pure driver
    // time, paid once per registered query that starts from a table.
    // Frames with no file-source leaf (unions of in-memory data)
    // keep the exact RDD-partition probe.
    val target = df.sparkSession.sparkContext.defaultParallelism
    val conf = df.sparkSession.sessionState.conf
    val maxSplit = math.max(1L, conf.filesMaxPartitionBytes)
    val openCost = math.max(0L, conf.filesOpenCostInBytes)
    val leafSplits = df.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        // approximate Spark's split packing (each file charged
        // openCostInBytes on top of its bytes, ceiling division) —
        // the previous floor(b / maxSplit) both underestimated (r18
        // advice: floor where the comment claimed ~ceil) and ignored
        // file count, so a many-small-files table estimated ~1 split
        // and always paid the extra repartition. The estimate only
        // moves the REPARTITION DECISION, never results — borderline
        // tables just keep or skip a layout exchange.
        val nFiles = l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            math.max(1L, f.location.inputFiles.length.toLong)
          case _ => 1L
        }
        math.max(1L,
          (l.relation.sizeInBytes + nFiles * openCost + maxSplit - 1) /
            maxSplit)
    }
    val narrow =
      if (leafSplits.nonEmpty) leafSplits.sum < target
      else df.rdd.getNumPartitions < target
    if (narrow) df.repartition(target) else df
  }

  /** Release every localCheckpoint'd RDD still registered with the
    * context (caller-managed `persist` caches are left alone). The
    * dedup/similarity pipelines materialize intermediate frames via
    * localCheckpoint; those blocks belong to the one query invocation
    * and are garbage the moment its action finishes, but only
    * ContextCleaner would ever reclaim them. A harness that runs MANY
    * queries in one session (Bench, Verify) must call this between
    * queries or the accumulated blocks crowd executor storage —
    * measured: d07 went 28 s -> 5 s at sf0.1 once the backlog of
    * prior queries' blocks stopped leaking.
    *
    * Only safe BETWEEN top-level actions: unpersisting a
    * localCheckpoint'd RDD discards its only copy (lineage is
    * truncated), so frames from before the call must not be reused.
    */
  def releaseCheckpoints(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .filter(org.apache.spark.rdd.GraftRddUtil.isLocallyCheckpointed)
      .foreach(_.unpersist(blocking = false))

  /** The reference's entire control plane (SQS depth -> CloudWatch
    * alarms -> ASG 0..N, SURVEY.md §3.3) expressed as Spark conf:
    * apply on a real cluster deployment. Local test sessions don't
    * need any of it (no executors to scale).
    *
    *  - dynamic allocation min=0      == ASG min-size 0 (scale to zero
    *    executors; the driver itself never scales away — documented gap)
    *  - schedulerBacklogTimeout 120s  == the >=120 s scale-up alarm
    *    (60 s period x 2 evaluation periods)
    *  - executorIdleTimeout 120s      == the scale-down alarm shape
    *  - shuffle tracking               : required without an external
    *    shuffle service
    */
  val clusterConf: Map[String, String] = Map(
    "spark.dynamicAllocation.enabled" -> "true",
    "spark.dynamicAllocation.minExecutors" -> "0",
    "spark.dynamicAllocation.schedulerBacklogTimeout" -> "120s",
    "spark.dynamicAllocation.executorIdleTimeout" -> "120s",
    "spark.dynamicAllocation.shuffleTracking.enabled" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true")

  /** Typed access to the driver fixture tables under one sf dir. */
  final case class Tables(spark: SparkSession, dir: String) {
    private def t(name: String): DataFrame =
      spark.read.parquet(s"$dir/$name.parquet")
    def region: DataFrame     = t("region")
    def nation: DataFrame     = t("nation")
    def customer: DataFrame   = t("customer")
    def supplier: DataFrame   = t("supplier")
    def part: DataFrame       = t("part")
    def orders: DataFrame     = t("orders")
    def lineitem: DataFrame   = t("lineitem")

    /** `events.ts` has shipped as several parquet vintages:
      * TIMESTAMP(NANOS) (no native Spark type), TIMESTAMP(MICROS)
      * adjusted-to-UTC (reads as TimestampType), and TIMESTAMP(MICROS)
      * isAdjustedToUTC=false (reads as TimestampNTZType by default).
      * Normalize all three to microsecond TimestampType so window/
      * session_window/unix_micros downstream resolve:
      *  - nanos: read raw longs (legacy conf) and floor ns→µs with
      *    integer `div` — float division would lose precision at 1e18
      *    nanos; DuckDB floors the same way, so oracles stay exact.
      *  - NTZ: inferTimestampNTZ=false makes the reader decode the
      *    micros as TimestampType directly (session tz is pinned UTC,
      *    so the stored micros are byte-identical to what DuckDB's
      *    epoch_us sees).
      */
    def events: DataFrame = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      val raw = t("events")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // reached only if a caller flipped the infer conf back on
          raw.withColumn("ts",
            org.apache.spark.sql.functions.col("ts")
              .cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    }
    def documents: DataFrame  = t("documents")
    def embeddings: DataFrame = t("embeddings")
  }
}

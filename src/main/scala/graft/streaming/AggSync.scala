package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.IncrementalAgg

/** Continuously-maintained count/sum rollup — the streaming twin of
  * c31's batch fold, stored through TableSync so the view inherits
  * the bucketed snapshot+manifest machinery (atomic commit pointer,
  * crash replay, time travel, sub-table rewrite).
  *
  * The sink never reads its state: a batch delta-aggregates locally
  * and lands as one more generation of each touched bucket. Count/sum
  * and KMV are commutative, so the table records `CountSum`/`Kmv(k)`
  * as its [[TableSync.Merge]], which TableSync's maxGens bucket fold
  * and merge-on-read (readCurrent, readVersion, the views below)
  * apply. Per micro-batch the work is O(|delta|), never O(view).
  *
  * Exactly-once: the fold is NOT idempotent (re-folding a batch
  * double-counts), so the manifest's batch id is the commit point. A
  * foreachBatch replay after crash-after-swap finds its own id (or a
  * later one) already applied and skips; a replay after
  * crash-BEFORE-swap finds state at batchId-1 and folds normally —
  * the same discipline as the reference's visibility-timeout redelivery
  * (GetJobs.py:39 deletes the message only after the work committed).
  */
object AggSync {

  /** Start the maintenance sink over a streaming `events` frame.
    * `numBuckets`/`maxBucketBytes`/`splitsPerBatch` are TableSync's
    * bucket-scheme knobs: a maintained view grows without bound, so
    * arm `maxBucketBytes` and the storage widens itself by bounded
    * linear-hashing splits exactly like the DedupSync index.
    */
  def countSumSink(events: DataFrame, path: String, keyCol: String,
      valCol: String, checkpoint: String,
      numBuckets: Int = TableSync.DefaultBuckets,
      maxBucketBytes: Long = DedupSync.DefaultMaxBucketBytes,
      splitsPerBatch: Int = TableSync.DefaultSplitsPerBatch,
      maxGens: Int = TableSync.DefaultMaxGens): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDelta(batch, path, keyCol, valCol, batchId, numBuckets,
          maxBucketBytes, splitsPerBatch, maxGens)
      }
      .start()

  /** One fold step; also the batch/backfill entry. Safe to call again
    * with an already-applied batchId (no-op).
    */
  def applyDelta(batch: DataFrame, path: String, keyCol: String,
      valCol: String, batchId: Long,
      numBuckets: Int = TableSync.DefaultBuckets,
      maxBucketBytes: Long = DedupSync.DefaultMaxBucketBytes,
      splitsPerBatch: Int = TableSync.DefaultSplitsPerBatch,
      maxGens: Int = TableSync.DefaultMaxGens): Unit = {
    // <= |batch keys| rows, materialized once inside applyBatch
    if (!alreadyApplied(batch, path, batchId))
      TableSync.applyMerged(TableSync.Merge.CountSum)(
        batch.groupBy(col(keyCol))
          .agg(count(lit(1)).as("n"),
            sum(col(valCol).cast("decimal(12,2)")).as("tot"))
          .withColumn("ver", lit(batchId)),
        path, keyCol, "ver", batchId, numBuckets, maxBucketBytes,
        splitsPerBatch, maxGens)
  }

  /** The manifest's batch id is the commit point: a replayed batch is
    * a no-op, loud below the high-water mark (a fresh-checkpoint
    * restart drops data silently otherwise — see DedupSync).
    */
  private def alreadyApplied(batch: DataFrame, path: String,
      batchId: Long): Boolean = {
    val applied = TableSync.committedVersions(batch.sparkSession, path)
    if (applied.exists(_ > batchId))
      println(s"[AggSync] skipping batch $batchId below the table's " +
        s"high-water mark ${applied.max} under $path — if this " +
        "stream was restarted on a FRESH checkpoint its batch ids " +
        "restarted and its data is being dropped; resume from the " +
        "original checkpoint or use a new table path")
    applied.exists(_ >= batchId)
  }

  /** The live view: the summed state, storage version column dropped
    * (every group has n >= 1 — a delta counts rows, never retracts).
    */
  def readView(spark: SparkSession, path: String): DataFrame =
    TableSync.readCurrent(spark, path).drop("ver")

  // ------------------------------------------------------------------
  // Maintained DISTINCT-count view — q50's KMV bottom-k sketch as the
  // per-key state. count/sum above are trivially additive; distinct
  // count is the textbook NON-additive aggregate, and the bottom-k
  // set is its textbook mergeable state: bottom-k(A ∪ B) =
  // bottom-k(bottom-k(A) ∪ bottom-k(B)), so the fold is lossless —
  // the maintained sketch is bit-identical to a from-scratch pass
  // (c33's oracle proves exactly this). State is <= k int64s per key,
  // per-batch cost O(|delta|); KMV is INSERT-ONLY (sketches cannot
  // retract).
  // ------------------------------------------------------------------

  /** Start a maintained distinct-count-per-key sink: the view tracks
    * approx_count_distinct(`valCol`) per `keyCol`, exact below `k`.
    */
  def kmvDistinctSink(events: DataFrame, path: String, keyCol: String,
      valCol: String, checkpoint: String, k: Int = 64,
      numBuckets: Int = TableSync.DefaultBuckets,
      maxBucketBytes: Long = DedupSync.DefaultMaxBucketBytes,
      splitsPerBatch: Int = TableSync.DefaultSplitsPerBatch,
      maxGens: Int = TableSync.DefaultMaxGens): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyKmvDelta(batch, path, keyCol, valCol, batchId, k,
          numBuckets, maxBucketBytes, splitsPerBatch, maxGens)
      }
      .start()

  /** One KMV fold step; also the batch/backfill entry. Replay-safe
    * the same way [[applyDelta]] is: the manifest batch id is the
    * commit point.
    */
  def applyKmvDelta(batch: DataFrame, path: String, keyCol: String,
      valCol: String, batchId: Long, k: Int = 64,
      numBuckets: Int = TableSync.DefaultBuckets,
      maxBucketBytes: Long = DedupSync.DefaultMaxBucketBytes,
      splitsPerBatch: Int = TableSync.DefaultSplitsPerBatch,
      maxGens: Int = TableSync.DefaultMaxGens): Unit = {
    // <= |batch keys| * k longs
    if (!alreadyApplied(batch, path, batchId))
      TableSync.applyMerged(TableSync.Merge.Kmv(k))(
        IncrementalAgg.kmvDelta(batch, keyCol, valCol, k)
          .withColumnRenamed("dkmv", "kmv")
          .withColumn("ver", lit(batchId)),
        path, keyCol, "ver", batchId, numBuckets, maxBucketBytes,
        splitsPerBatch, maxGens)
  }

  /** The live distinct-count view: (key, n_seen, kth_min, est) —
    * `est` exact while the sketch is unsaturated, the (k-1)*2^60/
    * kth_min estimator past it.
    */
  def readDistinctView(spark: SparkSession, path: String,
      k: Int = 64): DataFrame =
    TableSync.readCurrent(spark, path)
      .select(col("*"), size(col("kmv")).as("n_seen"))
      .withColumn("kth_min",
        when(col("n_seen") >= k, element_at(col("kmv"), k)))
      .withColumn("est", IncrementalAgg.kmvEstimate(col("kmv"), k))
      .drop("ver", "kmv")
}

package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, StructType}

import graft.operators.Dedup

/** The skeleton both streaming dedup sinks share — [[DedupSync]]
  * (text, jaccard pairs) and [[VecDedupSync]] (vectors, cosine
  * pairs). Each sink keeps only its key derivation and its probe arms;
  * the entry check, the parameter freeze, the sidecar marker guard,
  * the payload point fetch, the commit tail and the read views live
  * here, once.
  *
  * Storage split, chosen by mutability: the INDEX needs keyed upsert
  * semantics (a re-ingested id replaces its row) and lives in
  * TableSync; PAIRS are immutable facts — a pair is emitted in
  * exactly the batch where its later member arrives — so they are
  * APPEND-ONLY parquet, one directory per batch id. Storing pairs
  * through TableSync too was wrong at scale: pair keys spread across
  * every bucket, so each batch's "upsert" re-read and rewrote the
  * entire accumulated pairs table (O(all pairs ever) per micro-batch).
  * The append-only form writes only the batch's own pairs.
  *
  * Exactly-once across several stores without a cross-store
  * transaction: the INDEX manifest's batch id is the outer commit
  * point, and the write order is pairs first, sidecars next, index
  * last ([[commit]]). Replay after crash-after-index-commit: the entry
  * check ([[alreadyApplied]]) sees the id applied, no-op. Replay after
  * a crash before the index commit: the recompute sees the same
  * pre-batch index, derives the same pairs (all hashing deterministic
  * and seeded), and overwrites the same batch directory — idempotent.
  * The same redelivery discipline as the reference's visibility
  * timeout (GetJobs.py:37-40 — ack only after the work is durable). A
  * source-level re-delivery of an id in a LATER batch can re-emit a
  * pair; [[readPairs]] max-merges per pair, so readers never see
  * duplicates.
  */
private[streaming] object DedupSink {

  /** One sink's stores and sizing knobs, plus the name it logs under,
    * the prefix of its phase labels and its pairs' value column.
    */
  final case class Sink(name: String, label: String, valueCol: String,
      indexPath: String, pairsPath: String, numBuckets: Int,
      maxBucketBytes: Long, splitsPerBatch: Int, maxGens: Int,
      compactEvery: Int, payloadBucketBytes: Long) {
    def keysPath: String = DedupSync.sidecarPath(indexPath)
    def warn(msg: String): Unit = println(s"[$name] $msg")
  }

  /** A driver-side frame over collected or derived rows. */
  def localDF(spark: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** True when `batchId` is already committed — a replay, which
    * no-ops (the batch id is the exactly-once key). Loud below the
    * high-water mark: a genuine foreachBatch replay re-delivers the
    * LAST uncommitted batch (id == max, or max was committed and the
    * replay no-ops at max); an id STRICTLY below max means the
    * caller's batch-id sequence restarted — a stream resumed on a
    * FRESH checkpoint restarts at 0, and its genuinely new data would
    * drain through this no-op silently until the ids climb past the
    * mark.
    */
  def alreadyApplied(s: Sink, applied: Seq[Long], batchId: Long): Boolean = {
    val done = applied.exists(_ >= batchId)
    if (done && applied.max > batchId)
      s.warn(s"skipping batch $batchId below the table's high-water " +
        s"mark ${applied.max} under ${s.indexPath} — if this stream was " +
        "restarted on a FRESH checkpoint its batch ids restarted and " +
        "its data is being dropped; resume from the original " +
        "checkpoint or use a new table path")
    done
  }

  /** Full-union-schema consults, cached per (indexPath, column) with
    * the table's bootstrap token ([[TableSync.bootstrapToken]],
    * stamped write-once at first commit). Values are frozen properties
    * of a live index, so an entry can only go stale when the index is
    * DELETED AND RECREATED at the same path in the same JVM — the
    * token catches that: an externally rebuilt, metadata-stripped
    * index must not be served the PREVIOUS index's params. A batch id
    * in the key would leak one entry per batch over a long stream; one
    * entry per path is replaced, not leaked, on rebirth.
    */
  private val fullSchemaCache =
    new ConcurrentHashMap[(String, String), (String, Map[String, Metadata])]()

  /** A live index's stored derivation parameters: each getter returns
    * the stored value, or `passed` when the index is empty or no
    * generation carries the key.
    */
  final class Frozen private[DedupSink] (find: String => Option[Metadata]) {
    def int(key: String, passed: Int): Int =
      find(key).fold(passed)(_.getLong(key).toInt)
    def string(key: String, passed: String): String =
      find(key).fold(passed)(_.getString(key))
  }

  /** A LIVE index's derivation parameters are FROZEN: stored rows were
    * derived under the bootstrap knobs, and a batch derived under
    * different ones compares incommensurable spaces — keys stop
    * colliding and every cross-boundary near-dup pair silently
    * vanishes. So the parameters are read back from the metadata of
    * the index's `column` and differing knobs are ignored, loudly
    * ([[warnIgnored]]).
    *
    * The sampled schema reads ONE bucket generation's footer; a
    * mixed-history index whose sampled generation predates the
    * metadata consults the full union schema before defaulting.
    * Planning that multi-path scan is a measurable per-batch constant,
    * so its RESULT is cached ([[fullSchemaCache]]) — and a legacy
    * index (no metadata anywhere) caches its "nothing found" answer
    * instead of re-planning the snapshot on every batch. That case
    * warns once per index: it is the one remaining window where a
    * restart with drifted knobs silently diverges the derivation
    * space. `knobs` names the passed values the warning assumes.
    */
  def frozenParams(spark: SparkSession, s: Sink, applied: Seq[Long],
      column: String, keys: Seq[String], knobs: Seq[(String, Any)]): Frozen = {
    def metaOf(sch: StructType, key: String): Option[Metadata] =
      sch.fields.find(_.name == column).map(_.metadata)
        .filter(_.contains(key))
    lazy val sampled = TableSync.sampleSchema(spark, s.indexPath)
    def full(): Map[String, Metadata] = {
      val token = TableSync.bootstrapToken(spark, s.indexPath)
      fullSchemaCache.compute((s.indexPath, column), (_, cached) =>
        if (cached != null && cached._1 == token) cached
        else {
          val sch = TableSync.readCurrent(spark, s.indexPath).schema
          val m = keys.flatMap(k => metaOf(sch, k).map(k -> _)).toMap
          if (m.isEmpty)
            s.warn(s"index at ${s.indexPath} carries NO stored " +
              "derivation metadata in any generation (legacy or " +
              "metadata-stripped); assuming the passed knobs " +
              s"(${show(knobs)}) — if the index was built under " +
              "different knobs, cross-boundary near-dup pairs are " +
              "silently lost; rebuild the index to freeze its params")
          (token, m)
        })._2
    }
    new Frozen(key =>
      if (applied.isEmpty) None
      else metaOf(sampled, key).orElse(full().get(key)))
  }

  /** The freeze's loud half: `knobs` holds (name, stored, passed). */
  def warnIgnored(s: Sink, knobs: Seq[(String, Any, Any)]): Unit =
    if (knobs.exists(k => k._2 != k._3))
      s.warn(s"index at ${s.indexPath} was built with " +
        s"(${show(knobs.map(k => k._1 -> k._2))}); ignoring the " +
        s"differing knobs passed (${show(knobs.map(k => k._1 -> k._3))})" +
        " — a live index's derivation parameters are frozen")

  private def show(knobs: Seq[(String, Any)]): String =
    knobs.map { case (n, v) => s"$n=$v" }.mkString(", ")

  /** Guard a sidecar's derivation marker: the `marker` file next to
    * the segments records what they were written under (`want`).
    * Segments written under anything else — or by code that predates
    * the marker, so they cannot be verified — hold rows the current
    * probe cannot use, and the sinks' probe paths would serve them
    * silently. On a mismatch every `stale` entry is deleted, and the
    * probe's backfill path rebuilds the sidecar from the committed
    * snapshot — one deterministic O(index) pass, loud in the logs.
    * The marker is written tmp+rename: a torn one would read as a
    * mismatch and fire the rebuild on the next probe.
    */
  def ensureMarker(spark: SparkSession, s: Sink, marker: String,
      want: String)(stale: String => Boolean): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(s.keysPath)
    val fs = dir.getFileSystem(conf)
    val pf = new Path(dir, marker)
    val recorded = graft.AtomicFiles.read(fs, pf).map(_.trim)
    if (recorded.contains(want)) return
    val drop =
      if (!fs.exists(dir)) Array.empty[String]
      else fs.listStatus(dir).map(_.getPath.getName).filter(stale)
    if (drop.nonEmpty) {
      s.warn(s"sidecar ${s.keysPath} records $marker " +
        s"${recorded.getOrElse("<none — legacy>")}, not $want; " +
        s"dropping ${drop.length} entries for rebuild from the " +
        "committed snapshot")
      drop.foreach(n => fs.delete(new Path(dir, n), true))
    }
    graft.AtomicFiles.write(fs, conf, pf, want.getBytes("UTF-8"))
  }

  /** POINT-FETCH the current index rows `read` names from the id-keyed
    * [[PayloadLog]] (version-gated at `lastApplied`), materialized for
    * the probe's several consumers. An index that predates the log
    * backfills it from the committed snapshot first — a one-shot
    * migration. Then the COVERAGE GATE: every candidate the sidecars
    * resolved is committed state (their reads are capped at
    * `lastApplied`, so a crashed attempt's written-ahead rows never
    * resolve) and must fetch a current row; `gap` says whether one is
    * missing. A payload log that lost segments (a partial restore)
    * would otherwise shrink the candidate set forever with no failure,
    * so a gap reseeds the log from the committed snapshot and reads
    * again.
    */
  def pointFetch(spark: SparkSession, s: Sink, lastApplied: Long)(
      read: () => Option[DataFrame])(gap: DataFrame => Boolean): DataFrame = {
    def backfill(): Unit = PayloadLog.backfill(spark, s.indexPath,
      lastApplied, s.payloadBucketBytes)
    def readOnce(): DataFrame = TableSync.phase(s"${s.label}_pruned_read") {
      read().getOrElse { backfill(); read().get }
        .drop("ver")
        .localCheckpoint()
    }
    val fetched = readOnce()
    if (!gap(fetched)) fetched
    else {
      s.warn(s"payload log under ${s.indexPath} is missing committed " +
        "candidate rows (partial restore?) — reseeding from the " +
        "committed snapshot")
      backfill()
      readOnce()
    }
  }

  /** The write tail, in commit order. Pairs FIRST (an overwrite of
    * this batch's own directory — idempotent under replay); then the
    * sink's own `sidecars` and the payload log (all overwrite-
    * idempotent, and invisible until the commit: their rows carry the
    * uncommitted batch id, which every probe's version gate or segment
    * cap hides); the index LAST — the outer commit point
    * [[alreadyApplied]] checks. Maintenance runs AFTER the commit, on
    * committed state only, so a crash mid-fold never touches this
    * batch's exactly-once story: replay sees the id applied and
    * no-ops, and a stale staged dir is swept on the next fold.
    *
    * `rows` is the batch's index rows (a LocalRelation on the driver
    * paths — single-task writes), `batchRows` their driver-known
    * count (-1 = unknown) and `localIds` the batch ids as a
    * LocalRelation for the commit's touched-bucket set.
    */
  def commit(spark: SparkSession, s: Sink, batchId: Long,
      pairs: DataFrame, rows: DataFrame, batchRows: Long,
      localIds: Option[DataFrame])(sidecars: => Unit)(
      maintenance: => Unit): Unit = {
    def phase[A](l: String)(body: => A): A =
      TableSync.phase(s"${s.label}_$l")(body)
    def versioned = rows.withColumn("ver", lit(batchId))
    phase("pairs_write") {
      writeBatch(pairs, s.pairsPath, s.valueCol, batchId)
    }
    graft.FaultPoints.reach("DedupSink.pairs")
    phase("sidecar_write") {
      sidecars
      phase("sw_payload") {
        PayloadLog.append(versioned, s.indexPath, batchId,
          s.payloadBucketBytes, knownRows = batchRows)
      }
    }
    // pairs + every sidecar durable at the uncommitted batch id
    graft.FaultPoints.reach("DedupSink.sidecar")
    phase("index_commit") {
      TableSync.applyBatch(versioned, s.indexPath, "id", "ver", batchId,
        s.numBuckets, s.maxBucketBytes, s.splitsPerBatch, s.maxGens,
        localKeys = localIds)
    }
    phase("maintenance") {
      maybeCompact(spark, s.pairsPath, s.valueCol, s.compactEvery)
      maintenance
      PayloadLog.maybeCompact(spark, s.indexPath, s.payloadBucketBytes)
    }
    graft.FaultPoints.reach("DedupSink.post")
  }

  /** Write one batch's pairs (idempotent: overwrites its own
    * directory only). Both sinks' pair trees end in the canonical
    * merged form — id_a < id_b on every leg, one row per pair via a
    * final groupBy-max — so no canonicalize+merge pass runs here: it
    * would re-derive its input through one more exchange + aggregate
    * per micro-batch.
    */
  def writeBatch(pairs: DataFrame, path: String, valueCol: String,
      batchId: Long): Unit =
    pairs.select(col("id_a"), col("id_b"), col(valueCol))
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** The accumulated pairs view (id_a, id_b, valueCol), max-merged
    * per pair over every generation: a source-level re-delivery re-
    * emits identical pairs in canonical orientation, and the merge
    * collapses them.
    */
  def readPairs(spark: SparkSession, path: String,
      valueCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col(valueCol)).as(valueCol))

  /** The live index view (what the next batch probes). */
  def readIndex(spark: SparkSession, path: String): DataFrame =
    TableSync.readCurrent(spark, path).drop("ver")

  /** The KEEP/DROP decision view: connected components over the
    * accumulated pairs (min id per cluster keeps), joined back to the
    * live index so EVERY ingested id gets a decision (singletons keep
    * themselves). Computed on read: decisions are global facts that
    * change as later arrivals bridge clusters, so materializing them
    * per batch would rewrite history.
    */
  def readKeepDecisions(spark: SparkSession, indexPath: String,
      pairsPath: String, valueCol: String): DataFrame = {
    val ids = readIndex(spark, indexPath).select(col("id"))
    Dedup.clusterReps(ids, readPairs(spark, pairsPath, valueCol))
      .select(col("id"), col("rep").as("keep"),
        (col("id") === col("rep")).as("is_rep"))
  }

  /** Maintenance fold for a pairs store: one `batch=N` directory
    * accumulates per micro-batch FOREVER (the append-only layout's
    * honest cost). This merges every existing generation — numeric
    * batch dirs and previous compactions alike — into one
    * `batch=c<gen>` directory holding the max-merged pair set, then
    * deletes the sources. Crash-safe and replay-compatible:
    *  - the merged output is STAGED under an `_`-prefixed temp dir
    *    (invisible to Spark readers) and renamed into place — atomic
    *    on HDFS/local FS; on object stores (S3A) rename is copy+
    *    delete, but partial visibility there is still benign because
    *    [[readPairs]] max-merges whatever subset is visible alongside
    *    the intact sources;
    *  - a crash between the rename and the source deletes leaves
    *    sources + compaction coexisting — the view is unchanged, and
    *    re-running compaction converges;
    *  - a batch replayed AFTER compaction (its pairs were folded but
    *    its index commit never landed) rewrites its own `batch=N`
    *    directory as usual; the values are deterministic, so the
    *    copies collapse in the merge. The compacted generation lives
    *    under a name no batch id can collide with.
    */
  def compact(spark: SparkSession, path: String, valueCol: String): Unit = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(path))) return
    val all = fs.listStatus(new Path(path)).filter(_.isDirectory)
      .map(_.getPath.getName)
    // a crash BEFORE the rename leaves a stale staged dir that no
    // later call would otherwise touch once dirs.length <= 1 — sweep
    // them first so the early return can't preserve garbage forever
    all.filter(_.startsWith("_compact_tmp_"))
      .foreach(d => fs.delete(new Path(path, d), true))
    val dirs = all.filter(_.startsWith("batch="))
    if (dirs.length <= 1) return // nothing to fold
    val gen = dirs.map(_.stripPrefix("batch="))
      .collect { case g if g.startsWith("c") => g.drop(1).toLong }
      .maxOption.getOrElse(0L) + 1
    val tmp = new Path(path, s"_compact_tmp_c$gen")
    readPairs(spark, path, valueCol)
      .write.mode("overwrite").parquet(tmp.toString)
    // staged fold durable under the reader-invisible prefix
    graft.FaultPoints.reach("DedupSink.fold.staged")
    // one rename: readers switch from N sources to one generation
    // with no window where neither is visible
    if (!fs.rename(tmp, new Path(path, s"batch=c$gen")))
      throw new IllegalStateException(
        s"compaction rename failed under $path (generation c$gen)")
    // fold published; sources still present (max-merge tolerates both)
    graft.FaultPoints.reach("DedupSink.fold.published")
    dirs.foreach { d =>
      fs.delete(new Path(path, d), true)
      graft.FaultPoints.reach("DedupSink.fold.src-delete")
    }
  }

  /** The per-batch cadence trigger: fold once the store accumulates
    * `every` generations. Counts directories, not batch ids — robust
    * to sparse or restarted id sequences.
    */
  private def maybeCompact(spark: SparkSession, path: String,
      valueCol: String, every: Int): Unit = {
    if (every == Int.MaxValue) return
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val gens =
      if (!fs.exists(new Path(path))) 0
      else fs.listStatus(new Path(path))
        .count(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch="))
    if (gens >= every) compact(spark, path, valueCol)
  }
}

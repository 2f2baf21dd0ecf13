package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Dedup
import DedupSink.localDF
import TableSync.phase

/** Continuous corpus ingestion with ONLINE dedup — the streaming
  * composition of the d10 contract: every micro-batch of documents is
  * deduped against the persisted index of everything ingested before
  * it, its near-dup pairs append to a pairs table, and its own index
  * rows (fingerprint + shingle hashes + MinHash signature) append to
  * the index — both through TableSync storage, so the view inherits
  * the bucketed snapshot+manifest machinery (atomic commit pointer,
  * crash replay, time travel).
  *
  * Per-batch cost is BATCH-proportional, not index-proportional: a
  * new doc can match anything ever ingested, but it can only match
  * through a shared band key or fingerprint — so the probe resolves
  * the batch's ~33 keys/doc through a [[KeyedLog]] sidecar (an
  * LSM-style key-bucketed append log) to candidate ids, then POINT-
  * FETCHES exactly those ids' current rows from the id-keyed
  * [[PayloadLog]] (version-gated at the committed batch). The
  * per-micro-batch full index scan this replaced was the one
  * O(corpus) term left in the streaming path, and the payload log
  * replaces the bucket-granular `readCurrentForKeys` fetch that
  * followed it (|candidates| x maxBucketBytes worst case — the r12
  * `weak`); pairs are bit-identical because every bucket the probe
  * touches keeps its complete membership (see [[Dedup.probeKeys]])
  * and the payload read IS the current snapshot restricted to the
  * candidates. The corpus text is never re-read or re-hashed, and
  * the index never shuffles.
  *
  * Its storage, exactly-once commit and read views are the skeleton
  * it shares with [[VecDedupSync]] ([[DedupSink]]): the INDEX lives in
  * TableSync (keyed upsert), PAIRS are append-only per batch, and the
  * index manifest's batch id is the outer commit point.
  */
object DedupSync {

  /** Default split trigger for the index: ARMED at 1 GB/bucket, not
    * off — a long-lived stream should never rediscover the frozen-
    * bucket-count failure mode by forgetting a knob. Far above any
    * test-scale table (256 buckets never trigger below ~256 GB), so
    * arming is invisible until the table actually needs to widen;
    * pass Long.MaxValue to disable.
    */
  val DefaultMaxBucketBytes: Long = 1L << 30

  /** Default pairs-compaction cadence: once the pairs store
    * accumulates this many `batch=` generations, the next committed
    * batch folds them into one (see [[compactPairs]]). Armed by
    * default — without it per-batch pair directories accrete forever
    * between manual maintenance calls, the small-file failure mode
    * one tier down from the frozen-bucket-count one. 64 keeps the
    * read-side union bounded while amortizing the fold (each pair row
    * is rewritten at most once per 64 batches); pass Int.MaxValue to
    * disable.
    */
  val DefaultCompactEvery: Int = 64

  /** Committed-index-bytes floor below which a micro-batch takes the
    * plain distributed probe even when it fits `smallBatchRows`: the
    * driver-resolved path's per-batch price is FIXED (a sidecar
    * hash-read job, a candidate-id collect, the coverage-gate probe)
    * while its saving is INDEX-proportional, so it only wins once the
    * committed index outgrows a couple of scan tasks. Measured at the
    * bracketing points: the r14 d23 entry (3.3 MB split-fragmented
    * store) paid ~1.5-2 s/run on the driver path, while the dsyncp
    * ladder (47.8 MB store) saves ~0.5-0.7 s/append on it — 16 MB
    * splits that bracket with margin on the losing side (the floor
    * only controls which probe runs; results are spec-pinned
    * identical).
    */
  val DefaultDriverProbeMinIndexBytes: Long = 16L << 20

  /** Start the online-dedup sink over a streaming (id, text) frame.
    *
    * `numBuckets` sizes the index's TableSync sub-table granularity
    * at BOOTSTRAP (the stored manifest wins afterwards) and is the
    * append-cost knob: a batch of B new ids touches ~B distinct
    * buckets, so each append rewrites ~B/numBuckets of the index —
    * size it so the expected batch is a small fraction. Dedup ids
    * are uniform — nothing co-locates them — so a batch of hundreds
    * of docs touches that many buckets. Ladder-measured extremes:
    * TableSync's 16-bucket default rewrote essentially the WHOLE
    * index per append, and 2048 buckets made the fixture-scale
    * bootstrap 7x slower on the per-bucket small-file floor; 256 is
    * the fixture sweet spot, and the right value grows with the
    * table. Growth no longer needs a manual rewrite: set
    * `maxBucketBytes` (e.g. a few MB at fixture scale, a few GB at
    * 100 TB) and the index widens itself by at most `splitsPerBatch`
    * linear-hashing bucket splits per batch (TableSync.applyBatch),
    * keeping per-batch rewrite O(batch + splitsPerBatch) buckets
    * across unbounded growth.
    */
  def dedupSink(docs: DataFrame, indexPath: String, pairsPath: String,
      textCol: String, idCol: String, checkpoint: String,
      threshold: Double = 0.5, numHashes: Int = 128, bands: Int = 32,
      shingleSize: Int = 3, maxBucketSize: Int = 1000,
      hasher: Dedup.MinHashFamily = Dedup.MinHashFamily.Xx,
      numBuckets: Int = 256,
      maxBucketBytes: Long = DefaultMaxBucketBytes,
      splitsPerBatch: Int = TableSync.DefaultSplitsPerBatch,
      compactEvery: Int = DefaultCompactEvery,
      maxGens: Int = TableSync.DefaultMaxGens,
      payloadBucketBytes: Long = KeyedLog.DefaultTargetBucketBytes,
      smallBatchRows: Int = VecDedupSync.DefaultSmallBatchRows)
      : StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDocs(batch, indexPath, pairsPath, textCol, idCol, batchId,
          threshold, numHashes, bands, shingleSize, maxBucketSize,
          hasher, numBuckets, maxBucketBytes, splitsPerBatch,
          compactEvery, maxGens, payloadBucketBytes, smallBatchRows)
      }
      .start()
  private val NumHashesKey = "graft.minhash.numhashes"
  private val ShingleKey = "graft.minhash.shinglesize"
  private val FamilyKey = "graft.minhash.family"

  /** One ingestion step; also the batch/backfill entry. Safe to call
    * again with an already-applied batchId (no-op). The batch's text
    * is shingle-hashed exactly ONCE: the dedup index computed here
    * feeds the cross-corpus probe, the within-batch pairs, and the
    * index append. Pairs are stored CANONICAL (id_a < id_b): the
    * cross probe orients its pairs least/greatest when it generates
    * them, so a source that re-delivers the smaller-id member of an
    * already-emitted pair in a later batch cannot append the reversed
    * orientation — [[readPairs]]' merge would return the same
    * unordered pair twice.
    */
  def applyDocs(batch: DataFrame, indexPath: String, pairsPath: String,
      textCol: String, idCol: String, batchId: Long,
      threshold: Double = 0.5, numHashes: Int = 128, bands: Int = 32,
      shingleSize: Int = 3, maxBucketSize: Int = 1000,
      hasher: Dedup.MinHashFamily = Dedup.MinHashFamily.Xx,
      numBuckets: Int = 256,
      maxBucketBytes: Long = DefaultMaxBucketBytes,
      splitsPerBatch: Int = TableSync.DefaultSplitsPerBatch,
      compactEvery: Int = DefaultCompactEvery,
      maxGens: Int = TableSync.DefaultMaxGens,
      payloadBucketBytes: Long = KeyedLog.DefaultTargetBucketBytes,
      smallBatchRows: Int = VecDedupSync.DefaultSmallBatchRows,
      driverProbeMinIndexBytes: Long = DefaultDriverProbeMinIndexBytes)
      : Unit = {
    require(threshold > 0,
      s"threshold must be > 0 (got $threshold) — see " +
        "Dedup.incrementalPairs' probe-key contract")
    val spark = batch.sparkSession
    val sink = DedupSink.Sink("DedupSync", "p", "jaccard", indexPath,
      pairsPath, numBuckets, maxBucketBytes, splitsPerBatch, maxGens,
      compactEvery, payloadBucketBytes)
    val applied = TableSync.committedVersions(spark, indexPath)
    if (DedupSink.alreadyApplied(sink, applied, batchId)) return
    val keysPath = sink.keysPath
    // stored shsets and sigs were hashed under the bootstrap
    // (numHashes, shingleSize, family); the sidecar marker below
    // cannot repair drift in those — it rebuilds BAND KEYS from stored
    // sigs, but the sigs themselves are unrecoverable without the
    // original text. Legacy indexes without the metadata keep the
    // passed knobs.
    val frozen = DedupSink.frozenParams(spark, sink, applied, "sig",
      Seq(NumHashesKey, ShingleKey, FamilyKey),
      Seq("numHashes" -> numHashes, "shingleSize" -> shingleSize,
        "family" -> hasher.name))
    val eNumHashes = frozen.int(NumHashesKey, numHashes)
    val eShingle = frozen.int(ShingleKey, shingleSize)
    val eHasher =
      Dedup.MinHashFamily.byName(frozen.string(FamilyKey, hasher.name))
    DedupSink.warnIgnored(sink, Seq(
      ("numHashes", eNumHashes, numHashes),
      ("shingleSize", eShingle, shingleSize),
      ("family", eHasher.name, hasher.name)))
    // band keys are xxhash64 folds of (numHashes, bands)-shaped
    // signature slices: segments written under other parameters hold
    // keys a probe with the current ones can never resolve, and a
    // stream restarted with changed knobs would drop every
    // cross-boundary pair forever (the index itself carries no band
    // keys)
    DedupSink.ensureMarker(spark, sink, "_PARAMS", s"$eNumHashes $bands")(
      _.startsWith("seg_"))
    // consumed by the pairs computation AND the index append
    val newIdx = phase("p_hash_batch") {
      Dedup.dedupIndex(batch, textCol, idCol, eNumHashes,
        eShingle, eHasher).localCheckpoint()
    }
    // the small path serves micro-batches against an existing index
    // (see VecDedupSync.smallProbe — this is its text twin); the
    // limit-guarded collect doubles as the size probe. It is ALSO
    // gated on committed index bytes (one small manifest read): the
    // driver path trades a fixed per-batch price (sidecar hash-read
    // job, candidate-id collect, coverage-gate probe, plus the
    // first-execution codegen of its LocalRelation plan shapes) for
    // index-proportional savings in the pruned read. Below the floor
    // the whole index is a couple of scan tasks and the distributed
    // probe is cheaper than the fixed price — the r14 d23 bench
    // entry paid ~2 s/run taking the driver path over a <1 MB,
    // split-fragmented store; above it the savings dominate (the
    // dsyncp ladder's 3.9 -> 3.0 s/append win on a multi-100 MB
    // index). Specs force the driver path with a 0 floor.
    // legacy manifests record some bucket sizes as unknown ("?") —
    // summing only the known ones would under-report a large table
    // to ~0 and permanently disable the driver path on it; unknown
    // coverage reads as "not provably small" and keeps the pre-floor
    // behavior (results are path-independent either way)
    def committedBytesBelow(floor: Long): Boolean =
      TableSync.currentManifest(spark, indexPath).exists(m =>
        m.entries.keySet.subsetOf(m.sizes.keySet) &&
          m.sizes.values.sum < floor)
    val smallRows: Option[Seq[Row]] =
      if (smallBatchRows <= 0) None
      // the committed-bytes floor gates the PROBE trade-off only; a
      // small SEED has no probe and always benefits from the driver
      // path (LocalRelation appends, driver-known counts, local keys)
      else if (applied.nonEmpty && driverProbeMinIndexBytes > 0 &&
          committedBytesBelow(driverProbeMinIndexBytes)) None
      else {
        val rows = newIdx.limit(smallBatchRows + 1).collect()
        if (rows.length <= smallBatchRows) Some(rows.toSeq) else None
      }
    // the fully distributed derivation (every batch smallRows leaves
    // None, and the small probe's fallback past its survivor cap)
    def distributedOut(): DocsOut = {
      // the batch's probe keys feed the pruned read AND the sidecar
      // append — derived once
      val newKeys = phase("p_probe_keys") {
        Dedup.probeKeys(newIdx, eNumHashes, bands).localCheckpoint()
      }
      val pairs =
        if (applied.isEmpty)
          // first batch: within-batch pairs only (nothing indexed)
          Dedup.pairsFromIndex(newIdx, threshold, eNumHashes, bands,
            maxBucketSize)
        else {
          val probeIx = phase("p_pruned_read") {
            prunedProbeIndex(spark, sink, newKeys, eNumHashes, bands,
              applied.max)
          }
          phase("p_pair_compute") {
            Dedup.incrementalPairs(probeIx,
              newIdx, threshold, eNumHashes, bands, maxBucketSize,
              canonical = true)
          }
        }
      DocsOut(pairs, newKeys)
    }
    val out: DocsOut = smallRows match {
      case Some(idxRows) if applied.isEmpty =>
        seedDocsLocal(spark, newIdx, idxRows, threshold, eNumHashes,
          bands, maxBucketSize)
      case Some(idxRows) =>
        smallDocsProbe(spark, sink, newIdx, idxRows, applied.max,
          threshold, eNumHashes, bands, maxBucketSize)(distributedOut())
      case _ => distributedOut()
    }
    DedupSink.commit(spark, sink, batchId, out.pairs,
        out.batchFrame.getOrElse(newIdx), out.batchRows, out.localIds) {
      // a sidecar ahead of the index commit is benign: its keys
      // reference index rows that do not exist yet, and the pruned
      // read's id semi-join drops them
      phase("p_sw_keys") {
        KeyedLog.append(out.newKeys, keysPath, batchId,
          knownRows = out.keyRows)
      }
      graft.FaultPoints.reach("DedupSync.keys")
    } {
      KeyedLog.maybeCompact(spark, keysPath, "bk")
    }
  }

  /** The key sidecar of a dedup index (a sibling directory, derived —
    * callers never name it).
    */
  private[streaming] def sidecarPath(indexPath: String): String =
    indexPath.stripSuffix("/") + "_keys"

  /** One O(index) migration for an index that predates its key
    * sidecar (or lost it): a bucketed segment of the committed
    * snapshot's probe keys — deterministic under replay, because it
    * derives from committed state only.
    */
  private def backfillKeys(spark: SparkSession, s: DedupSink.Sink,
      numHashes: Int, bands: Int, lastApplied: Long): Unit =
    KeyedLog.appendBucketed(
      Dedup.probeKeys(DedupSink.readIndex(spark, s.indexPath),
        numHashes, bands),
      s.keysPath, "bk", lastApplied)

  /** One probe path's output for the shared write tail — the text
    * twin of VecDedupSync.ProbeOut: pairs, the sidecar key rows,
    * driver-known row counts (-1 = unknown, count as usual), the
    * batch ids as a LocalRelation for the commit's touched-bucket
    * set, and the batch index as a LocalRelation for the writes.
    */
  private final case class DocsOut(pairs: DataFrame,
      newKeys: DataFrame, keyRows: Long = -1L, batchRows: Long = -1L,
      localIds: Option[DataFrame] = None,
      batchFrame: Option[DataFrame] = None)

  /** The DRIVER-RESOLVED SEED — text twin of
    * [[VecDedupSync.seedLocal]]: no probe exists on the first batch,
    * so the output is the within-batch pairs plus LocalRelation-
    * shaped appends with driver-known counts; probe keys evaluate
    * driver-side through the same [[Dedup.probeKeys]] expressions the
    * distributed seed compiles. Store equality seed-for-seed is
    * pinned by the FORCED-PATH spec.
    */
  private def seedDocsLocal(spark: SparkSession, newIdx: DataFrame,
      idxRows: Seq[Row], threshold: Double,
      numHashes: Int, bands: Int, maxBucketSize: Int): DocsOut = {
    val idField = newIdx.schema("id")
    val localIdx = localDF(spark, newIdx.schema, idxRows)
    val keySchema = StructType(Seq(
      idField.copy(name = "id"), StructField("bk", LongType)))
    val keyRows: Seq[Row] = phase("p_probe_keys") {
      Dedup.probeKeys(localIdx, numHashes, bands).collect().toSeq
    }
    val idIx = newIdx.schema.fieldIndex("id")
    val idSchema = StructType(Seq(idField.copy(name = "id")))
    DocsOut(
      // default materialize (localCheckpoint), NOT identity: unlike
      // the vec seed (whose groups/reps are precomputed index
      // columns), the text within-pairs derive a fingerprint window
      // and a rep semi-join from the index — with identity those
      // subtrees recompute per consumer inside the pairs write
      // (measured: seed p_pairs_write 0.64 -> 1.8 s). Two checkpoint
      // jobs are the cheaper shape here.
      Dedup.pairsFromIndex(localIdx, threshold, numHashes, bands,
        maxBucketSize),
      localDF(spark, keySchema, keyRows),
      keyRows = keyRows.size.toLong,
      batchRows = idxRows.size.toLong,
      localIds = Some(localDF(spark, idSchema,
        idxRows.map(r => Row(r.get(idIx))).distinct)),
      batchFrame = Some(localIdx))
  }

  /** The DRIVER-RESOLVED micro-batch probe — text twin of
    * [[VecDedupSync.smallProbe]], same equivalence argument: probe
    * keys evaluate over a LocalRelation by the same expressions
    * ([[Dedup.probeKeys]]), sidecar buckets prune on driver-computed
    * hashes ([[KeyedLog.keyHashCol]]), the candidate fetch runs as
    * ONE pruned payload scan against a broadcast LocalRelation, and
    * verification is [[Dedup.incrementalPairs]] unchanged (with its
    * internal barriers deferred to the one pairs-write job).
    * Candidates collect under [[VecDedupSync.MaxDriverSurvivors]];
    * past the cap the batch runs `distributed` instead.
    *
    * Coverage gate: every candidate id is committed state (the
    * sidecar read is capped at lastApplied, so a crashed attempt's
    * written-ahead rows never resolve; this includes the batch's own
    * re-ingested ids, whose committed rows are as loseable as
    * anyone's) and must fetch a current payload row
    * ([[DedupSink.pointFetch]]).
    */
  private def smallDocsProbe(spark: SparkSession, s: DedupSink.Sink,
      newIdx: DataFrame, idxRows: Seq[Row], lastApplied: Long,
      threshold: Double, numHashes: Int, bands: Int,
      maxBucketSize: Int)(distributed: => DocsOut): DocsOut = {
    val idField = newIdx.schema("id")
    val localIdx = localDF(spark, newIdx.schema, idxRows)
    val keySchema = StructType(Seq(
      idField.copy(name = "id"), StructField("bk", LongType)))
    val keyRows: Seq[Row] = phase("p_probe_keys") {
      Dedup.probeKeys(localIdx, numHashes, bands).collect().toSeq
    }
    val idIx = newIdx.schema.fieldIndex("id")
    val idSchema = StructType(Seq(idField.copy(name = "id")))
    val batchIdsLocal = localDF(spark, idSchema,
      idxRows.map(_.get(idIx)).distinct.map(Row(_)))
    def out(pairs: DataFrame) = DocsOut(pairs,
      localDF(spark, keySchema, keyRows), keyRows.size.toLong,
      idxRows.size.toLong, Some(batchIdsLocal), Some(localIdx))
    val bkLocal = localDF(spark,
      StructType(Seq(StructField("bk", LongType))),
      keyRows.map(r => Row(r.getLong(1))).distinct)
    val bkHashes: Set[Long] = phase("p_s_bkh") {
      bkLocal
        .select(KeyedLog.keyHashCol(col("bk")).as("h"))
        .collect().map(_.getLong(0)).toSet
    }
    // maxSeg = lastApplied: segments a crashed attempt wrote ahead of
    // its index commit drop at the source, so candidate ids are
    // COMMITTED by construction
    def sidecar() = phase("p_s_sidecar") {
      KeyedLog.readForHashes(spark, s.keysPath, bkHashes,
        Some(keySchema), maxSeg = lastApplied)
    }
    sidecar().orElse {
      backfillKeys(spark, s, numHashes, bands, lastApplied)
      sidecar()
    } match {
      case None =>
        // empty committed index: nothing to probe against — the
        // within-batch pairs are the whole answer
        out(phase("p_pair_compute") {
          Dedup.pairsFromIndex(localIdx, threshold, numHashes,
            bands, maxBucketSize, materialize = identity)
        })
      case Some(scDf) =>
        val candRows: Seq[Row] = phase("p_cand_resolve") {
          scDf.join(broadcast(bkLocal), Seq("bk"), "left_semi")
            .select(col("id")).distinct()
            .limit(VecDedupSync.MaxDriverSurvivors + 1)
            .collect().toSeq
        }
        if (candRows.size > VecDedupSync.MaxDriverSurvivors)
          return distributed
        val fetchLocal = localDF(spark, idSchema, candRows)
        val fetchHashes: Set[Long] = phase("p_s_fetchh") {
          fetchLocal
            .select(KeyedLog.keyHashCol(col("id")).as("h"))
            .collect().map(_.getLong(0)).toSet
        }
        val payloadSchema = StructType(
          newIdx.schema.fields :+ StructField("ver", LongType))
        // the fetched frame feeds the refinement rounds and the three
        // probe subtrees; the gate is one anti-join existence probe
        // over it (no driver transfer of the candidate-sized id set)
        val probeIx = DedupSink.pointFetch(spark, s, lastApplied)(() =>
          PayloadLog.readCurrentLocal(spark, s.indexPath, fetchLocal,
            fetchHashes, lastApplied, Some(payloadSchema))) { fetched =>
          candRows.nonEmpty && phase("p_s_gate") {
            !fetchLocal
              .join(fetched.select(col("id")), Seq("id"), "left_anti")
              .isEmpty
          }
        }
        out(phase("p_pair_compute") {
          Dedup.incrementalPairs(probeIx, localIdx, threshold,
            numHashes, bands, maxBucketSize,
            materialize = identity, canonical = true)
        })
    }
  }

  /** The PRUNED corpus probe side: resolve the batch's probe keys
    * through the [[KeyedLog]] sidecar to candidate ids, then POINT-
    * FETCH exactly those ids' current rows from the [[PayloadLog]] —
    * per-batch probe IO proportional to the BATCH (keys x sidecar
    * bucket bytes + |candidates| x payload bucket bytes, 8 MB
    * default), never to the accumulated index and never
    * |candidates| x maxBucketBytes index buckets (the r12 `weak`).
    * Yields bit-identical pairs to probing the full index (every
    * band/fp bucket the probe touches keeps its complete membership —
    * see [[Dedup.probeKeys]] — so refinement depths, caps, and
    * verification are unchanged; the payload read is version-gated at
    * the committed batch and folds newest-version-per-id, which is
    * exactly the current-snapshot row set the old bucket fetch
    * key-filtered down to).
    *
    * An index that PREDATES a sidecar (no segments on disk) backfills
    * it here ([[backfillKeys]]).
    */
  private def prunedProbeIndex(spark: SparkSession, s: DedupSink.Sink,
      newKeys: DataFrame, numHashes: Int, bands: Int,
      lastApplied: Long): DataFrame = {
    val probeK = newKeys.select(col("bk")).distinct()
    // maxSeg: written-ahead sidecar segments of a crashed attempt
    // drop at the source (see smallDocsProbe)
    def sidecar() = KeyedLog.readForKeys(spark, s.keysPath, probeK, "bk",
      maxSeg = lastApplied)
    sidecar().orElse {
      backfillKeys(spark, s, numHashes, bands, lastApplied)
      sidecar()
    } match {
      case None => // empty committed index (e.g. an empty first batch)
        DedupSink.readIndex(spark, s.indexPath)
      case Some(sc) =>
        // candidate-sized, consumed twice (the payload kb collect and
        // the semi-join): materialize once or the sidecar multi-path
        // scan re-executes per consumer
        val candIds = sc.join(probeK, Seq("bk"), "left_semi")
          .select(col("id")).distinct()
          .localCheckpoint()
        // coverage gate, distributed twin of smallDocsProbe's: one
        // anti-join existence probe over two checkpointed
        // candidate-sized frames
        DedupSink.pointFetch(spark, s, lastApplied)(() =>
          PayloadLog.readCurrent(spark, s.indexPath, candIds,
            lastApplied)) { fetched =>
          phase("p_gate") {
            !candIds.join(fetched.select(col("id")), Seq("id"), "left_anti")
              .isEmpty
          }
        }
    }
  }

  /** The accumulated near-dup pairs view (id_a, id_b, jaccard),
    * max-merged per pair ([[DedupSink.readPairs]]).
    */
  def readPairs(spark: SparkSession, path: String): DataFrame =
    DedupSink.readPairs(spark, path, "jaccard")

  /** The live index view (what the next batch probes). */
  def readIndex(spark: SparkSession, path: String): DataFrame =
    DedupSink.readIndex(spark, path)

  /** The KEEP/DROP decision view — what a training-set consumer
    * actually wants from online dedup ([[DedupSink.readKeepDecisions]]).
    * Identical to one-shot `dedupCorpus` keeps on the same corpus
    * (spec-pinned).
    */
  def readKeepDecisions(spark: SparkSession, indexPath: String,
      pairsPath: String): DataFrame =
    DedupSink.readKeepDecisions(spark, indexPath, pairsPath, "jaccard")

  /** Maintenance fold for the pairs store ([[DedupSink.compact]]):
    * merges every `batch=` generation into one. Runs on its own
    * cadence after each commit (`compactEvery`).
    */
  def compactPairs(spark: SparkSession, path: String): Unit =
    DedupSink.compact(spark, path, "jaccard")
}

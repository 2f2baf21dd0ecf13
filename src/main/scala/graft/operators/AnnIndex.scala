package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** PERSISTED IVF-SQ index — the build-once / probe-many artifact the
  * transient ANN paths were missing: s03/s14/s17 re-train centroids
  * and re-assign every corpus vector to a cell on EVERY execution,
  * which at 100 TB is the difference between an index and a scan
  * (training is bounded, but the cell-assignment map pass touches the
  * whole corpus per query run). This object materializes that
  * projection ONCE as the on-disk layout the transient paths'
  * Scaladoc already names — "(cell, int8 vector) is the persisted
  * index projection" — and serves every later query from it:
  *
  * {{{
  *   path/
  *     _META                 # dim, nlist, seed, int8 scale, row count
  *     centroids/            # parquet: (cell, cvec double[])
  *     codes/cell=<c>/       # parquet, PARTITIONED BY CELL:
  *                           #   (id, q int8-as-float[], vec float[])
  * }}}
  *
  * The probe reads `centroids/` (nlist rows -> plan literals), picks
  * nprobe cells per query in-register (Similarity.probeCells), and
  * scans `codes/` with `cell IN (probed)` — a PARTITION filter, so
  * Spark prunes unprobed cell directories at planning time and the
  * scan reads nprobe/nlist of the corpus BYTES, int8-quantized (4x
  * smaller than float32) with the full-precision vector column read
  * ONLY for the k*refine rescore rows (parquet is columnar — the
  * rescore is a second pruned scan projecting `vec`, not a wider
  * first scan). Results are BIT-IDENTICAL to the transient
  * [[Similarity.ivfQuantizedTopK]] at the same parameters: same
  * bounded-sample centroid training, same clamped quantization, same
  * tie-breaks — the index is a materialization, not a variant.
  *
  * Build is one bounded training pass + ONE corpus projection job
  * (assignment + quantization are per-row expressions over plan
  * literals — zero shuffle beyond the partitioned write). The
  * TRAINED state (centroids + int8 scale) is immutable between
  * builds (a half-updated centroid set scores garbage — ANN indexes
  * version their geometry like models, not like tables); the DATA is
  * not: [[append]] projects new vectors through the FROZEN geometry
  * into their own `seg=<id>` subtree — O(batch), overwrite-
  * idempotent under replay, and the standard IVF ingestion story
  * (FAISS `add` after `train`): cells drift as the distribution
  * does, so retrain on a cadence, but between retrains ingestion is
  * one batch-sized projection job, never a rebuild. Layout:
  * `codes/seg=<s>/cell=<c>/` — both levels are parquet partition
  * directories, so probes still prune to probed CELLS at planning
  * time across every segment.
  */
object AnnIndex {

  /** GENERATION pointer — the atomic-swap half of the retrain loop:
    * `path/_GEN` (when present) names the subdirectory holding the
    * current artifact (`g<N>/{codes, centroids, _META, ...}`), and
    * [[maybeRebuild]] rotates generations by building the retrained
    * artifact COMPLETELY under `g<N+1>` and then overwriting the
    * one-line pointer — readers resolve the pointer per call, so a
    * crash mid-rebuild leaves the old generation fully live (the
    * TableSync commit-pointer discipline). A pointerless artifact
    * (everything at `path` root — every pre-rotation index) resolves
    * to itself, so existing artifacts keep working unrotated.
    */
  private def resolveRoot(spark: SparkSession, path: String): String = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    graft.AtomicFiles.read(fs, new Path(path, "_GEN"))
      .fold(path)(g => s"$path/${g.trim}")
  }

  private case class Meta(dim: Int, nlist: Int, seed: Long,
      scale: Double, rows: Long) {
    def serialize: String = s"$dim $nlist $seed $scale $rows"
  }

  private def parseMeta(s: String): Meta = {
    val a = s.trim.split(" ")
    Meta(a(0).toInt, a(1).toInt, a(2).toLong, a(3).toDouble, a(4).toLong)
  }

  private def quant(v: Column, scale: Double): Column =
    transform(v, x =>
      least(greatest(round(x.cast("double") / scale * 127),
        lit(-127.0)), lit(127.0)).cast("tinyint").cast("float"))

  /** Train + project + persist. One corpus projection job; the write
    * is `partitionBy(seg, cell)` so probes prune cell directories —
    * and the artifact starts with no tombstones and no recall
    * baseline (a build ingests exactly its input corpus; drift
    * measures against the new geometry).
    *
    * A build over an EXISTING artifact never overwrites it in place:
    * codes, centroids and `_META` land in sequence, so an in-place
    * overwrite interrupted mid-build leaves CROSS-GEOMETRY state
    * (new-scale codes under the old `_META`/centroids) that scores
    * silently wrong. Instead it builds completely into the next
    * `g<N>` generation and swaps the `_GEN` pointer atomically — the
    * [[maybeRebuild]] discipline, shared — under the same rebuild
    * lock, so a manual rebuild and an auto-rebuild can never
    * interleave writes into one generation directory. A crash
    * anywhere before the swap leaves the old artifact fully live and
    * the half-built generation to [[sweepOrphans]].
    */
  def build(corpus: DataFrame, path0: String,
      nlist: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, maxTrainRows: Long = 100000L,
      markerStaleMs: Long = graft.Liveness.StaleAfterMs): Unit = {
    val spark = corpus.sparkSession
    // EVERY build is single-writer under the rebuild lock — including
    // the bootstrap branch, which previously wrote codes/centroids/
    // _META in place lock-free: two concurrent first builds (or a
    // build whose entry check raced a completed rotation that deleted
    // its resolved root) could interleave in-place writes — exactly
    // the torn cross-geometry class the rotation path eliminates for
    // rebuilds. The _META presence check runs UNDER the lock, so the
    // decision and the writes it gates cannot be split by a
    // concurrent completion. (Nested builds — rotateInto's buildInto
    // into a fresh g<N> directory — lock at the generation dir, a
    // different file, so re-entry cannot deadlock.)
    withRebuildLock(spark, path0) {
      val fs0 = new Path(path0).getFileSystem(
        spark.sessionState.newHadoopConf())
      val path = resolveRoot(spark, path0)
      if (fs0.exists(new Path(path, "_META"))) {
        // under the lock: clear any half-built generation a crashed
        // rotation stranded — its gen ordinal is exactly the one this
        // rotation computes (pointer + 1), and a stranded dir whose
        // inner _META landed before the crash would route the nested
        // build() call below into a SECOND rotation inside the
        // generation directory, which the single-level _GEN
        // resolution can never serve. Then re-resolve: a rotation
        // that completed between the entry check and the lock moved
        // the root.
        sweepOrphans(spark, path0, markerStaleMs)
        rotateInto(spark, path0, resolveRoot(spark, path0), dir =>
          build(corpus, dir, nlist, seed, idCol, vecCol, dim,
            maxTrainRows))
      } else {
        val centroids = Similarity.coarseCentroids(corpus, vecCol,
          idCol, nlist, seed, maxTrainRows)
        val r = corpus.agg(max(array_max(transform(col(vecCol),
          x => abs(x.cast("double")))))).head
        require(!r.isNullAt(0), "corpus is empty — nothing to index")
        val scale = r.getDouble(0)
        require(scale > 0, "corpus has no nonzero vector component")
        // the row count rides the projection write as an observed
        // metric — the separate corpus.count() was a SECOND full
        // corpus pass per build (project is 1:1, so projected rows ==
        // corpus rows)
        val obs = new org.apache.spark.sql.Observation("annix-build")
        clusterByCell(project(corpus, centroids, scale, idCol, vecCol))
          .withColumn("seg", lit(0L))
          .observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").partitionBy("seg", "cell")
          .parquet(s"$path/codes")
        graft.FaultPoints.reach("AnnIndex.codes")
        import spark.implicits._
        centroids.map { case (c, v) => (c, v) }.toDF("cell", "cvec")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$path/centroids")
        graft.FaultPoints.reach("AnnIndex.centroids")
        val fs = new Path(path).getFileSystem(
          spark.sessionState.newHadoopConf())
        fs.delete(new Path(path, "tombstones"), true)
        fs.delete(new Path(path, "_RECALL0"), false)
        graft.FaultPoints.reach("AnnIndex.cleared")
        val rows = obs.get("n").asInstanceOf[Long]
        require(rows > 0, "corpus is empty — nothing to index")
        writeSegRows(spark, path, Map(0L -> rows))
        graft.FaultPoints.reach("AnnIndex.segrows")
        writeMeta(spark, path, Meta(dim, nlist, seed, scale, rows))
        // _META lands LAST — it is the bootstrap's commit point
        graft.FaultPoints.reach("AnnIndex.meta")
      }
    }
  }

  /** DELETE by id — the lifecycle half FAISS `remove_ids` covers and
    * appends alone cannot (a re-ingested or retracted id otherwise
    * stays probeable forever): write the ids as a TOMBSTONE segment.
    * Semantics are segment-ordered, matching the streaming-batch id
    * discipline the artifact already follows (appends and deletes
    * share ONE monotone segId sequence): a tombstone at seg T
    * suppresses every copy of the id stored in segments BEFORE T, and
    * a later append (seg > T) re-adds the id cleanly. O(|ids|),
    * overwrite-idempotent under replay; [[build]] clears all
    * tombstones (a rebuild re-ingests its input).
    */
  def delete(ids: DataFrame, path0: String, segId: Long,
      idCol: String = "vec_id"): Unit = {
    require(segId >= 1L, s"segId must be >= 1 (0 is the build): $segId")
    val spark = ids.sparkSession
    val path = resolveRoot(spark, path0)
    readMeta(spark, path) // fail loudly on a missing index
    // staged + renamed like append: a tombstone segment visible per
    // task commit would apply a PREFIX of the delete batch to
    // concurrent probes — a state no committed point ever held
    publishSegment(spark, s"$path/tombstones", segId,
      ids.select(col(idCol).as("id")).distinct()
        .write.mode("overwrite").parquet(_))
    graft.FaultPoints.reach("AnnIndex.delete.tombs")
  }

  /** Stage-then-rename publish of `<base>/seg=<segId>`: `write` fills
    * an underscore-prefixed staging directory the parquet reader
    * never lists, then ONE atomic directory rename makes the complete
    * segment visible. If the destination already exists it was
    * published whole (it only ever appears via this rename), so a
    * replay deletes its fresh stage and no-ops — first-publish-wins,
    * which for the streaming-replay contract (same segId = same rows)
    * is identical to overwrite. Stranded stages from crashed writers
    * are uuid-unique, invisible, and swept by [[sweepOrphans]] under
    * a liveness heartbeat (graft.Liveness): the stage's uuid keys a
    * `_live-<uuid>` marker beaten for the duration of the parquet
    * write, so a LONG in-flight segment write (mtime frozen at
    * create on HDFS-semantics stores) is never swept from under its
    * publisher; markerless strands keep the age-gate fallback.
    */
  private def publishSegment(spark: SparkSession, base: String,
      segId: Long, write: String => Unit): Unit = {
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    val id = java.util.UUID.randomUUID().toString
    val stage = new Path(s"$base/_stage-seg-$segId-$id")
    val beat = graft.Liveness.start(fs, new Path(base), id)
    try publishStaged(fs, base, segId, stage, write)
    finally beat.close()
  }

  private def publishStaged(fs: org.apache.hadoop.fs.FileSystem,
      base: String, segId: Long, stage: Path,
      write: String => Unit): Unit = {
    // kill -9 point: KillMinus9Spec signals here, then SIGKILLs the
    // child a beat into the (deliberately slowed) parquet stage write
    // — the stage dir dies half-filled with task files, invisible
    // behind the underscore prefix, and the replay must converge
    graft.FaultPoints.pulse("AnnIndex.seg.prewrite")
    write(stage.toString)
    graft.FaultPoints.reach("AnnIndex.seg.staged")
    val dest = new Path(s"$base/seg=$segId")
    if (fs.exists(dest)) { fs.delete(stage, true); () }
    else {
      val renamed = fs.rename(stage, dest)
      // TOCTOU on the exists check: if another publisher of the same
      // segId won between it and our rename, Hadoop's Posix-style
      // rename into a now-existing DIRECTORY moves the stage INSIDE
      // seg=N (and returns true) — invisible to the parquet reader
      // (underscore prefix) but never swept, leaking disk per
      // collision. The nested path is our uuid, so the probe-and-
      // delete below is race-free: only our own swallowed stage dies.
      val nested = new Path(dest, stage.getName)
      if (fs.exists(nested)) { fs.delete(nested, true); () }
      else if (!renamed) {
        // FSs that instead REFUSE a rename onto an existing dest:
        // loser no-ops (first-publish-wins), anything else is real
        if (fs.exists(dest)) { fs.delete(stage, true); () }
        else sys.error(s"failed to publish segment $dest (stage: $stage)")
      }
    }
  }

  /** Tombstones as (tid, tseg), or None when none exist. */
  private def tombstones(spark: SparkSession,
      path: String): Option[DataFrame] = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(path, "tombstones"))) None
    else Some(spark.read.parquet(s"$path/tombstones")
      .select(col("id").as("tid"), col("seg").as("tseg")))
  }

  /** Drop rows whose (id, seg) is suppressed by a tombstone: a
    * tombstone kills copies stored BEFORE it, later re-adds survive.
    */
  private def liveOnly(rows: DataFrame,
      tombs: Option[DataFrame]): DataFrame = tombs match {
    case None => rows
    case Some(t) => rows.join(broadcast(t),
      rows("id") === t("tid") && rows("seg") < t("tseg"), "left_anti")
  }

  /** Sampled recall drift probe — the retrain signal: `sample` stored
    * vectors (deterministic xxhash64 order) query both the index and
    * an EXACT live-row scan; recall@k is their overlap. The first
    * call records the baseline next to the artifact (`_RECALL0` — the
    * recall of the geometry as trained); later calls compare against
    * it and recommend a rebuild once recall falls more than
    * `tolerance` below baseline — cells drift as appends shift the
    * distribution the centroids were trained on (the FAISS retrain-
    * on-cadence story, made measurable). The exact scan is O(live
    * rows x sample) — a maintenance job, not a serving path.
    */
  /** `changedFraction` is the metadata-derived churn since build —
    * (appended rows + tombstones) / built rows — and
    * `rebuildCostRows` the rows a rebuild would re-ingest (stored
    * minus tombstoned, an upper bound on live): together the rebuild
    * cost model. At 100 TB a rebuild IS a full index rewrite, so
    * [[maybeRebuild]] gates on `changedFraction` as well as recall —
    * drift can only trigger the rewrite once enough new data exists
    * to amortize it.
    */
  case class Drift(recall: Double, baseline: Double,
      rebuildRecommended: Boolean,
      changedFraction: Double = 0.0, rebuildCostRows: Long = 0L)

  def driftCheck(spark: SparkSession, path0: String, sample: Int = 32,
      k: Int = 10, nprobe: Int = 3, refine: Int = 4,
      tolerance: Double = 0.1): Drift = {
    val path = resolveRoot(spark, path0)
    val tombs = tombstones(spark, path)
    val live = liveOnly(
      spark.read.parquet(s"$path/codes").select(col("id"), col("seg"),
        col("vec")), tombs)
      .select(col("id"), col("vec"))
    val queries = live.orderBy(xxhash64(col("id")), col("id"))
      .limit(sample)
      .select(col("id").as("vec_id"), col("vec").as("embedding"))
      .localCheckpoint()
    val approx = probe(spark, path, queries, k, nprobe, refine)
      .select(col("qid"), col("id"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    val exact = live.select(col("id"), col("vec"))
      .join(broadcast(queries.select(col("vec_id").as("qid"),
        col("embedding").as("qvec"))), col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("vec"), col("qvec")).as("cosine"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"))
    // ONE pass for hits AND denominator: the exact frame is the
    // O(live x sample) maintenance scan — the previous semi-join
    // count + separate denom count evaluated it twice per drift
    // probe. The left join counts matched rows as the intersection,
    // which is only sound if the broadcast side is unique per
    // (qid, id) — ranks are unique, ids need not be (an id stored
    // live in two segments surfaces twice from the probe), and a
    // duplicate would fan exact rows out, inflating hits AND denom
    // vs the old semi-join semantics. dropDuplicates pins uniqueness
    // at sample*k scale (r18 verdict item 7), keeping denom ==
    // exact.count() exactly.
    val aggRow = exact
      .join(broadcast(approx.dropDuplicates("qid", "id")
          .withColumn("__hit", lit(1))),
        Seq("qid", "id"), "left")
      .agg(count(lit(1)).as("denom"),
        sum(coalesce(col("__hit"), lit(0))).as("hits"))
      .head
    val denom = aggRow.getLong(0)
    val hits = if (aggRow.isNullAt(1)) 0L else aggRow.getLong(1)
    val recall = if (denom == 0) 1.0 else hits.toDouble / denom
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val basePath = new Path(path, "_RECALL0")
    val baseline = graft.AtomicFiles.read(fs, basePath)
      .fold {
        graft.AtomicFiles.write(fs,
          spark.sessionState.newHadoopConf(), basePath,
          recall.toString.getBytes("UTF-8"))
        recall
      }(_.trim.toDouble)
    // churn accounting from the metadata sidecars alone (no extra
    // scan): _SEGROWS holds per-segment stored counts (seg 0 = the
    // build — _META.rows is the running TOTAL, updated by append),
    // tombstones are a tiny broadcast-sized table. Upper bounds — a
    // re-ingested dup id is stored twice and counts twice — which is
    // the right bias for a cost model (never under-charges the
    // rewrite).
    val segRows = readSegRows(spark, path)
      .getOrElse(Map(0L -> readMeta(spark, path).rows))
    val builtRows = math.max(1L, segRows.getOrElse(0L, 0L))
    val storedRows = segRows.values.sum
    val tombRows = tombs.map(_.count()).getOrElse(0L)
    val changed = math.max(0L, storedRows - builtRows) + tombRows
    Drift(recall, baseline, recall < baseline - tolerance,
      changed.toDouble / builtRows,
      math.max(0L, storedRows - tombRows))
  }

  /** Incremental ingestion: project `more` through the index's FROZEN
    * geometry (stored centroids + stored int8 scale — components past
    * the trained range clamp, the same saturation discipline as
    * build) into its own `seg=<segId>` subtree. O(batch) — one
    * projection job over the new rows, zero reads of existing
    * segments; overwrite-idempotent (a replayed segId rewrites its
    * own directory AND its own `_SEGROWS` entry, the streaming-sink
    * contract). Row accounting is incremental: a per-segment count
    * map rides `_SEGROWS` (written before `_META`, whose total is
    * its sum — a torn append leaves a valid probeable artifact and
    * the replay converges), so appends never re-list or re-count
    * existing segments.
    *
    * Like FAISS `add`, append assumes FRESH ids: a re-ingested id is
    * stored AGAIN (segments are never read here, so nothing can
    * replace in place) and a probe would rank both copies. For
    * replace/upsert semantics route vectors through [[graft.streaming.VecDedupSync]]
    * (keyed TableSync storage) and rebuild this artifact on the
    * retrain cadence.
    *
    * ATOMIC VISIBILITY (round-17 reader/writer walk): the segment is
    * staged under an underscore-prefixed directory (invisible to the
    * parquet reader) and published by ONE directory rename — a direct
    * `write.parquet(codes/seg=N)` became visible per task commit, so
    * a probe concurrent with an append could rank a PREFIX of the new
    * segment: a state no committed lifecycle point ever held. A
    * replayed segId whose destination already exists no-ops the data
    * move (the published directory is complete by construction — it
    * only ever appears via the rename) and just re-converges the
    * `_SEGROWS`/`_META` accounting.
    */
  def append(more: DataFrame, path0: String, segId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(segId >= 1L, s"segId must be >= 1 (0 is the build): $segId")
    val spark = more.sparkSession
    val path = resolveRoot(spark, path0)
    val meta = readMeta(spark, path)
    val centroids = loadCentroids(spark, path)
    // batch row count observed on the projection write itself — the
    // separate more.count() was a second pass over the batch
    val obs = new org.apache.spark.sql.Observation(
      s"annix-append-$segId")
    publishSegment(spark, s"$path/codes", segId,
      clusterByCell(project(more, centroids, meta.scale, idCol, vecCol))
        .observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").partitionBy("cell").parquet(_))
    val segRowsNew = obs.get("n").asInstanceOf[Long]
    graft.FaultPoints.reach("AnnIndex.append.codes")
    val segRows = readSegRows(spark, path)
      // legacy artifact without _SEGROWS: one-time PER-SEGMENT counts
      // (listing codes/seg=*), not a lump attributed to the build —
      // the lump form double-counted an earlier appended segment's
      // rows into _SEGROWS when that segId was later replayed
      .getOrElse {
        val fs = new Path(path).getFileSystem(
          spark.sessionState.newHadoopConf())
        fs.listStatus(new Path(s"$path/codes"))
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("seg="))
          .map(_.getPath.getName.stripPrefix("seg=").toLong)
          .filter(_ != segId) // this segment's dir may be a replay
          .map(s => s -> spark.read
            .parquet(s"$path/codes/seg=$s").count())
          .toMap
      } +
      (segId -> segRowsNew)
    writeSegRows(spark, path, segRows)
    graft.FaultPoints.reach("AnnIndex.append.segrows")
    writeMeta(spark, path, meta.copy(rows = segRows.values.sum))
    graft.FaultPoints.reach("AnnIndex.append.meta")
  }

  private def writeSegRows(spark: SparkSession, path: String,
      m: Map[Long, Long]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    graft.AtomicFiles.write(new Path(path).getFileSystem(conf), conf,
      new Path(path, "_SEGROWS"),
      m.toSeq.sorted.map { case (s, n) => s"$s $n" }
        .mkString("\n").getBytes("UTF-8"))
  }

  private def readSegRows(spark: SparkSession,
      path: String): Option[Map[Long, Long]] = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    graft.AtomicFiles.read(fs, new Path(path, "_SEGROWS"))
      .map(_.trim.split("\n").filter(_.nonEmpty)
        .map { ln => val a = ln.split(" "); a(0).toLong -> a(1).toLong }
        .toMap)
  }

  /** Cluster the projection by cell before the `partitionBy` write —
    * the hash-distribution write mode (guide §6): without it every
    * scan task holding rows of every cell writes one file PER
    * (task, cell), so a 32-partition input × 16 cells left ~512 tiny
    * parquet files that every probe's two pruned scans then re-open
    * (measured: the build write was s18's single largest job). The
    * deterministic id-hash salt keeps one cell from collapsing into
    * ONE task at corpus scale (a 100 TB corpus has ~corpus/nlist rows
    * per cell — unsaltable skew otherwise); AQE coalesces the tiny
    * case back to few tasks, so locally the layout lands at ~one file
    * per cell. Row content is unchanged — layout only.
    */
  private def clusterByCell(projected: DataFrame): DataFrame =
    projected.repartition(col("cell"),
      pmod(xxhash64(col("id")), lit(1024L)))

  /** The one shared projection: assign to the nearest centroid cell,
    * quantize with the index scale, carry the exact vector for the
    * rescore column.
    */
  private def project(rows: DataFrame,
      centroids: Seq[(Int, Seq[Double])], scale: Double,
      idCol: String, vecCol: String): DataFrame =
    rows.select(col(idCol).as("id"),
      element_at(Similarity.probeCells(
        VectorFunctions.asDouble(col(vecCol)), centroids, 1), 1)
        .as("cell"),
      quant(col(vecCol), scale).as("q"),
      col(vecCol).as("vec"))

  private def writeMeta(spark: SparkSession, path: String,
      meta: Meta): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    // tmp+rename: _META is read by EVERY probe/append/drift call — a
    // torn create(overwrite) would fail the whole artifact loudly
    // until repaired by hand (the _GEN lesson, applied to its peers)
    graft.AtomicFiles.write(new Path(path).getFileSystem(conf), conf,
      new Path(path, "_META"), meta.serialize.getBytes("UTF-8"))
  }

  private def readMeta(spark: SparkSession, path: String): Meta = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val meta = graft.AtomicFiles.read(fs, new Path(path, "_META"))
    require(meta.isDefined, s"no ANN index at $path — run build()")
    parseMeta(meta.get)
  }

  private def loadCentroids(spark: SparkSession,
      path: String): Seq[(Int, Seq[Double])] =
    spark.read.parquet(s"$path/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1).toSeq

  /** Top-k over the persisted artifact: int8 candidate scan of the
    * probed cell PARTITIONS only, exact rescore of k*refine. Returns
    * (qid, id, cosine, rank) like every other top-k path.
    */
  def probe(spark: SparkSession, path0: String, queries: DataFrame,
      k: Int, nprobe: Int = 3, refine: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val path = resolveRoot(spark, path0)
    val meta = readMeta(spark, path)
    val centroids = loadCentroids(spark, path)
    val probed = queries.select(col(idCol).as("qid"),
      quant(col(vecCol), meta.scale).as("qq"),
      col(vecCol).as("qvec"),
      explode(Similarity.probeCells(
        VectorFunctions.asDouble(col(vecCol)), centroids, nprobe))
        .as("cell"))
    // the probed cell set as LITERALS (bounded by nlist): an isin
    // partition filter prunes unprobed cell directories at planning
    // time — the join alone would not reach the parquet source
    val cells: Seq[Int] = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val tombs = tombstones(spark, path)
    val codes = liveOnly(spark.read.parquet(s"$path/codes")
      .filter(col("cell").isin(cells: _*))
      .select(col("cell"), col("seg"), col("id"), col("q")), tombs)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("qcos").desc, col("id"))
    val cand = codes.select(col("cell"), col("id"), col("q"))
      .join(broadcast(probed.select(col("qid"), col("qq"), col("cell"))),
        Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("q"), col("qq")).as("qcos"))
      .withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= k * refine)
      .select("qid", "id")
    // exact rescore: a SECOND pruned scan projecting only (id, vec) —
    // columnar, so the int8 candidate scan never read the wide
    // column. Tombstone-filtered too: a deleted-then-re-added id
    // would otherwise join BOTH copies onto its candidate row.
    val full = liveOnly(spark.read.parquet(s"$path/codes")
      .filter(col("cell").isin(cells: _*))
      .select(col("seg"), col("id"), col("vec")), tombs)
      .select(col("id"), col("vec"))
    val scored = cand
      .join(full, Seq("id"))
      .join(broadcast(queries.select(col(idCol).as("qid"),
        col(vecCol).as("qvec"))), Seq("qid"))
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("vec"), col("qvec")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Root artifact files a generation rotation strands at `path`
    * when it crashes between the pointer swap and the cleanup.
    */
  private val RootArtifactNames = Seq("codes", "centroids",
    "tombstones", "_META", "_SEGROWS", "_RECALL0")

  /** Delete everything under `path` that is neither the pointed
    * generation nor its RETAINED PREDECESSOR (the reader-grace
    * generation, see [[rotateInto]]): stale `g<K>` directories two or
    * more rotations behind, crashed half-built generations AHEAD of
    * the pointer, and — once the pointer is at g2 or later — the
    * pre-rotation root files. A no-drift [[maybeRebuild]] call
    * returns early and would otherwise never repay this debt: the
    * rebuilt artifact carries a fresh baseline, so driftCheck reports
    * no drift forever while orphaned generations leak their full
    * index size.
    */
  private def sweepOrphans(spark: SparkSession, path: String,
      markerStaleMs: Long = graft.Liveness.StaleAfterMs): Unit = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(path))) return
    val root = resolveRoot(spark, path)
    // pointerless artifact (root == path): any g<N> directory is a
    // crashed half-built rebuild the pointer never adopted. Rotated:
    // keep the pointed generation AND its predecessor (g<N-1>, or the
    // pre-rotation root files when the pointer is at g1), sweep the
    // rest plus any stranded root tmps.
    val ord: Long =
      if (root == path) 0L else root.substring(path.length + 2).toLong
    val keep: Set[String] =
      if (ord == 0L) Set.empty
      else if (ord >= 2L) Set(s"g$ord", s"g${ord - 1L}")
      else Set("g1")
    val now = System.currentTimeMillis()
    fs.listStatus(new Path(path)).foreach { st =>
      val n = st.getPath.getName
      val staleGen = st.isDirectory && n.matches("g\\d+") && !keep(n)
      val staleRoot =
        (ord >= 2L && RootArtifactNames.contains(n)) ||
          (root != path && n.endsWith(".tmp"))
      // stranded AtomicFiles tmps at an UNROTATED root (a crash
      // between tmp-create and rename; unique names mean nothing
      // overwrites them): `_GEN.*.tmp` are deletable outright — _GEN
      // writes happen only under the rebuild lock this sweep holds —
      // while other tmps (_META/_SEGROWS/_RECALL0 from lock-free
      // appends) need an age threshold so a CONCURRENT append's
      // in-flight tmp (a milliseconds window) is never swept from
      // under its rename.
      val strayTmp = !st.isDirectory && n.endsWith(".tmp") &&
        (n.startsWith("_GEN.") ||
          now - st.getModificationTime > StaleTmpMs)
      if (staleGen || staleRoot || strayTmp)
        fs.delete(st.getPath, true)
    }
    // stranded SEGMENT STAGES (publishSegment uuid dirs a crashed
    // append/delete never renamed): invisible to readers, but they
    // would accumulate forever. A LIVE concurrent append's in-flight
    // stage must never be swept from under its rename — and its own
    // mtime cannot prove liveness (HDFS-semantics stores stamp it at
    // create, so a long parquet segment write looks old while
    // in-flight). Liveness comes from the publisher's `_live-<uuid>`
    // heartbeat (graft.Liveness, beaten every 30 s for the write's
    // duration): fresh marker keeps the stage at any age, stale
    // marker collects the crash in ~10 min, markerless (pre-liveness
    // strands) falls back to the age gate.
    Seq("codes", "tombstones").foreach { sub =>
      val d = new Path(root, sub)
      if (fs.exists(d)) {
        val entries = fs.listStatus(d)
        val markerMtime: Map[String, Long] = entries.collect {
          case st if !st.isDirectory &&
              st.getPath.getName.startsWith("_live-") =>
            st.getPath.getName.stripPrefix("_live-") ->
              st.getModificationTime
        }.toMap
        entries
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("_stage-"))
          .foreach { st =>
            val dead =
              markerMtime.get(st.getPath.getName.takeRight(36)) match {
                case Some(mt) => now - mt > markerStaleMs
                case None => now - st.getModificationTime > StaleTmpMs
              }
            if (dead) fs.delete(st.getPath, true)
          }
        // markers whose owner stopped beating are themselves strands
        markerMtime.foreach { case (id, mt) =>
          if (now - mt > markerStaleMs)
            fs.delete(graft.Liveness.marker(d, id), false)
        }
      }
    }
    // sweep deletions durable; callers hold a lock here, so a crash
    // at this boundary is the stale-lock state the recovery contract
    // (loud refusal / loud skip, operator deletes) exists for
    graft.FaultPoints.reach("AnnIndex.sweep.done")
  }

  /** Age beyond which a stranded `*.tmp` is presumed dead — hours
    * past any AtomicFiles create-to-rename window (milliseconds).
    */
  private val StaleTmpMs = 3600000L

  /** Close the drift loop: run [[driftCheck]] and, when it recommends
    * a rebuild AND the churn since build clears `minChangedFraction`,
    * RETRAIN on the current LIVE rows (tombstone-filtered, all
    * segments) into the next generation directory and swap the
    * `_GEN` pointer atomically — the automated form of the "retrain
    * on a cadence" story the drift probe was only recommending. The
    * rebuilt artifact follows [[build]]'s contract exactly: fresh
    * centroids and int8 scale from the live corpus, tombstones gone
    * (the rebuild re-ingests precisely the live rows), recall
    * baseline cleared (drift measures against the NEW geometry, so
    * the next [[driftCheck]] re-records it). The previous generation
    * is removed after the swap; a crash anywhere before the pointer
    * write leaves the old generation fully live, a crash after it
    * leaves only cleanup owed — repaid by [[sweepOrphans]] at the
    * next call, drift or no drift.
    *
    * `minChangedFraction` is the rebuild-frequency bound the 100 TB
    * story needs: a rebuild re-ingests `Drift.rebuildCostRows` rows —
    * a FULL index rewrite — so recall drift alone must not be able to
    * trigger it back-to-back. The default demands ≥10 % churn
    * (appends + deletes, from the metadata sidecars) since the last
    * build, amortizing each rewrite against a tenth of the corpus;
    * pass 0 to rebuild on any recommended drift.
    *
    * Geometry parameters (dim, nlist, seed) carry over from the
    * stored meta; rebuild equivalence to a manual
    * `build(liveRows, freshPath)` is spec-pinned (AnnIndexSpec).
    */
  def maybeRebuild(spark: SparkSession, path: String,
      sample: Int = 32, k: Int = 10, nprobe: Int = 3,
      refine: Int = 4, tolerance: Double = 0.1,
      maxTrainRows: Long = 100000L,
      minChangedFraction: Double = 0.1,
      markerStaleMs: Long = graft.Liveness.StaleAfterMs): Drift = {
    val conf0 = spark.sessionState.newHadoopConf()
    val fs0 = new Path(path).getFileSystem(conf0)
    val lock = fs0.makeQualified(new Path(path, "_REBUILD_LOCK"))
    // the orphan sweep runs ONLY under the rebuild lock: a lock-free
    // sweep would read a half-built g<N+1> (pointer not yet swapped)
    // as "crashed rebuild debt" and delete it out from under the
    // builder that owns the lock — the builder would then swap the
    // pointer onto a gutted generation AND delete the old one. When
    // the lock is held, skip sweeping; the holder owns the layout.
    if (graft.AtomicFiles.createExclusive(fs0, lock)) {
      graft.FaultPoints.lockAcquired(lock.toString)
      try sweepOrphans(spark, path, markerStaleMs)
      finally graft.FaultPoints.lockReleased(lock.toString) {
        fs0.delete(lock, false); ()
      }
    } else
      // a LIVE rebuild legitimately owns the layout — but a STALE
      // lock (crashed holder) would otherwise disable orphan
      // sweeping forever with no signal: in the no-drift steady
      // state nothing else ever touches the lock, so the debt never
      // refuses loudly anywhere. Say so; the operator clears it.
      println(s"[AnnIndex] skipping orphan sweep under $path — " +
        s"rebuild lock $lock is held; if no rebuild is in flight " +
        "the lock is stale (a crashed holder): verify and delete " +
        "the lock file to resume sweeping")
    val rootAtCheck = resolveRoot(spark, path)
    val drift = driftCheck(spark, path, sample, k, nprobe, refine,
      tolerance)
    if (!drift.rebuildRecommended ||
      drift.changedFraction < minChangedFraction) return drift
    withRebuildLock(spark, path) {
      // re-validate under the lock: driftCheck is a long window, and
      // a rebuild that landed during it already rotated the pointer —
      // this caller's drift decision is stale against the fresh
      // geometry (zero churn, fresh baseline), and acting on it would
      // be exactly the back-to-back full rewrite minChangedFraction
      // forbids. Skip; the report still carries the observed drift.
      if (resolveRoot(spark, path) == rootAtCheck)
        rebuildLocked(spark, path, maxTrainRows)
    }
    drift
  }

  /** Run `body` holding the EXCLUSIVE rebuild lock; fail loudly when
    * it is already held — two concurrent rebuilds would both train
    * into the same g<N+1> directory and interleave writes. A crashed
    * holder leaves the lock for the operator to clear, exactly like
    * the table sink (the TableSync commitPointer discipline).
    */
  private def withRebuildLock[A](spark: SparkSession, path: String)(
      body: => A): A = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val lock = fs.makeQualified(new Path(path, "_REBUILD_LOCK"))
    // atomic create-exclusive (nio O_EXCL on the local FS): a racing
    // acquirer must LOSE cleanly, not throw FileAlreadyExists from
    // createNewFile's check-then-act window (round-16 race spec)
    if (!graft.AtomicFiles.createExclusive(fs, lock))
      throw new java.util.ConcurrentModificationException(
        s"rebuild lock $lock already exists — another rebuild is in " +
          "flight, or one crashed mid-rebuild; verify no builder is " +
          "alive, then delete the lock file (rebuilds are " +
          "single-writer)")
    graft.FaultPoints.lockAcquired(lock.toString)
    try body finally graft.FaultPoints.lockReleased(lock.toString) {
      fs.delete(lock, false); ()
    }
  }

  /** Build a fresh artifact into the next `g<N>` generation via
    * `buildInto`, swap the `_GEN` pointer atomically (tmp + rename —
    * a plain create(overwrite) truncates first, so a crash or
    * concurrent reader mid-write could observe an empty `_GEN` that
    * resolves to a root with no `_META`), then delete the
    * TWO-GENERATIONS-BEHIND layout. The generation the pointer just
    * left is RETAINED as READER GRACE (round-17): a probe resolves
    * the pointer once per call and then plans multi-job reads over
    * the resolved files — deleting them at the swap made every probe
    * concurrent with a rotation fail-stop and retry. One retained
    * generation gives concurrent readers a full rotation cycle to
    * finish, the same bounded-retention philosophy as TableSync's
    * two-batch manifest trail, at the cost of <= 2x index disk
    * between rotations (reclaimed by the NEXT rotation or any
    * [[sweepOrphans]]-bearing call). A crash before the swap leaves
    * the old artifact fully live (the half-built generation is
    * [[sweepOrphans]] debt); a crash after it leaves only the
    * two-behind cleanup owed. Callers hold the rebuild lock.
    */
  private def rotateInto(spark: SparkSession, path: String,
      oldRoot: String, buildInto: String => Unit): Unit = {
    val gen =
      if (oldRoot == path) 1L
      else oldRoot.substring(path.length + 2).toLong + 1L // "<path>/g<N>
    buildInto(s"$path/g$gen")
    // new generation complete on disk; pointer still names the old
    graft.FaultPoints.reach("AnnIndex.rotate.built")
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    graft.AtomicFiles.write(fs, conf, new Path(path, "_GEN"),
      s"g$gen".getBytes("UTF-8"))
    // pointer swapped — two-behind cleanup is the only owed work;
    // g<gen-1> (or the pre-rotation root files when gen == 1) stays
    // on disk as the reader-grace generation
    graft.FaultPoints.reach("AnnIndex.rotate.swap")
    if (oldRoot != path) {
      val k = oldRoot.substring(path.length + 2).toLong
      if (k == 1L)
        RootArtifactNames.foreach(n =>
          fs.delete(new Path(path, n), true))
      else fs.delete(new Path(s"$path/g${k - 1}"), true)
    }
    graft.FaultPoints.reach("AnnIndex.rotate.cleaned")
  }

  private def rebuildLocked(spark: SparkSession, path: String,
      maxTrainRows: Long): Unit = {
    val oldRoot = resolveRoot(spark, path)
    val meta = readMeta(spark, oldRoot)
    val live = liveOnly(
      spark.read.parquet(s"$oldRoot/codes")
        .select(col("id"), col("seg"), col("vec")),
      tombstones(spark, oldRoot))
      .select(col("id").as("vec_id"), col("vec").as("embedding"))
      .localCheckpoint() // the old generation dies under the swap —
                         // nothing may lazily re-read it
    rotateInto(spark, path, oldRoot, dir =>
      build(live, dir, nlist = meta.nlist, seed = meta.seed,
        dim = meta.dim, maxTrainRows = maxTrainRows))
  }
}

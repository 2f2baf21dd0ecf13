package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tiered, key-bucketed APPEND log — the sidecar store that makes a
  * streaming dedup probe read O(batch), not O(index).
  *
  * The problem it solves: the dedup indexes are TableSync tables
  * keyed by doc id (they need keyed upsert), but a probe asks the
  * INVERTED question — "which ids share this band key?" — and band
  * keys scatter uniformly, so a batch of B docs touches ~33 B
  * distinct keys. A keyed-UPSERT sidecar (TableSync) would rewrite
  * essentially every bucket on every batch (upsert write cost =
  * touched buckets x bucket bytes, and every batch touches all
  * buckets); a flat parquet append would make the probe re-read all
  * of history. The structure that serves scattered-key appends with
  * key-pruned reads is the LSM tree — this is its minimal
  * merge-on-read form on parquet, the same shape lakehouse streaming
  * upserts take (delta files + compaction):
  *
  * {{{
  *   path/
  *     seg_<name>-L0/part-*.parquet        # one seg per batch, unpartitioned
  *     seg_c<gen>-L<l>-nb<n>/__kb=<b>/...  # compacted: bucketed by md5(key) mod n
  *     _compact_tmp_*                      # staged fold (invisible to readers)
  * }}}
  *
  *  - APPEND (per micro-batch): write the batch's (key, ...) rows as
  *    one L0 segment — O(batch) IO, overwrite-idempotent under
  *    replay (the segment is named by the batch id).
  *  - READ for a key set K: L0 segments are batch-sized and read
  *    whole; each compacted segment reads ONLY the `__kb` buckets K
  *    hashes to — so probe IO is |K| x bucket bytes x segments, with
  *    segment count bounded by the compaction fanout x levels and
  *    bucket bytes bounded by `targetBucketBytes` at fold time.
  *    The result is a SUPERSET of the requested keys (a bucket holds
  *    other keys; a re-ingested id's old rows are never deleted) —
  *    callers key-filter, and stale rows are harmless by the dedup
  *    contract (extra candidate ids verify against the CURRENT index
  *    and drop out).
  *  - COMPACT (tiered, on a cadence): when a level accumulates
  *    `fanout` segments, fold them into ONE segment at the next
  *    level, re-bucketed so each bucket is ~targetBucketBytes. Fold
  *    IO is the size of the folded level only — never the whole log —
  *    so amortized write cost is O(batch x levels) and levels grow
  *    log-fanout with the log. Crash-safety is the pairs-store
  *    fold's discipline ([[DedupSink.compact]]): stage under
  *    `_compact_tmp_`, rename in, delete sources; a crash between
  *    rename and deletes leaves sources + fold coexisting, which
  *    readers tolerate (duplicate rows are collapsed by the caller's
  *    distinct) and re-compaction converges.
  *
  * At 100 TB: `targetBucketBytes` is the read-amplification knob — a
  * probe key costs one bucket read per compacted segment, so smaller
  * buckets mean tighter probes and more (bounded-size) files; size it
  * a few MB so a 10k-key probe reads tens of GB against a multi-TB
  * log instead of the log. Scans of a bucket are parquet-columnar
  * (the id column alone when that is all the caller selects).
  */
object KeyedLog {

  /** Compaction fanout: fold a level once it holds this many
    * segments. Also the bound on segments per level between folds.
    */
  val DefaultFanout = 8

  /** Target bucket size for compacted segments — the probe
    * read-amplification knob (see class doc).
    */
  val DefaultTargetBucketBytes: Long = 8L << 20

  private val KbCol = "__kb"
  private val SegPrefix = "seg_"
  private val SegName = """seg_(c?\d+)-L(\d+)(?:-nb(\d+))?""".r

  private[streaming] case class Seg(name: String, level: Int, nb: Int,
      batch: Option[Long] = None) {
    def dir: String = name
  }

  private def parseSeg(dirName: String): Option[Seg] = dirName match {
    case SegName(g, l, nb) =>
      Some(Seg(dirName, l.toInt, Option(nb).map(_.toInt).getOrElse(1),
        // raw per-batch segments carry their batch id in the name;
        // folded segments (c<gen>) only ever contain rows from
        // batches committed before the fold ran (maintenance is
        // post-commit, batch ids are sequential single-writer), so
        // they read as version-unconstrained
        if (g.startsWith("c")) None else Some(g.toLong)))
    case _ => None
  }

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def listSegs(spark: SparkSession, path: String): Seq[Seg] = {
    val f = fs(spark, path)
    if (!f.exists(new Path(path))) Seq.empty
    else f.listStatus(new Path(path)).toSeq
      .filter(_.isDirectory)
      .flatMap(st => parseSeg(st.getPath.getName))
  }

  /** The content-derived key hash TableSync buckets by (md5 hex
    * prefix — engine- and partitioning-independent, so every segment
    * and every probe agrees), BEFORE the mod: a 32-bit non-negative
    * value. Exposed as a Column builder so a driver-side caller can
    * evaluate it over a LocalRelation (zero jobs) and reduce mod any
    * segment's bucket count in plain Scala — the [[readForHashes]]
    * fast path. One definition serves every path, so probe and
    * segment can never disagree.
    */
  private[streaming] def keyHashCol(key: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    coalesce(conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long"), lit(0L))

  /** [[keyHashCol]] reduced mod the segment's bucket count. */
  private def kbExpr(keyCol: String, nb: Int) =
    pmod(keyHashCol(col(keyCol)), lit(nb.toLong)).cast("int")

  /** Rows above which an append lands BUCKETED (level 1) instead of
    * as a plain L0 segment. L0 segments are read WHOLE by every probe
    * until the fold cadence catches up — fine for micro-batches,
    * pathological for a seed/backfill batch that IS the corpus (the
    * ladder measured a 100k-doc seed segment re-read by every
    * 10-doc append until the 8th batch folded it). Used by callers
    * without per-row byte estimates (VecLog); [[append]] itself
    * thresholds on estimated BYTES — a fixed row count let wide-row
    * logs (payload rows ~1 KB) park ~64 MB L0 segments that every
    * probe re-read whole, 8x the bucket-read amplification the
    * class doc promises.
    */
  val L0MaxRows: Long = 65536

  /** Append one batch's rows — O(batch) IO, overwrite-idempotent (a
    * replayed batch rewrites its own directory with identical
    * content). Empty batches write nothing (readers tolerate a
    * missing segment); batches past [[L0MaxRows]] land bucketed so
    * later probes prune them immediately.
    */
  def append(df: DataFrame, path: String, segId: Long,
      keyCol: String = "bk", approxRowBytes: Long = 24,
      targetBucketBytes: Long = DefaultTargetBucketBytes,
      knownRows: Long = -1L): Unit = {
    // callers pass materialized (localCheckpointed) frames — the
    // count is a block-manager scan, not a recompute — or, on the
    // micro-batch fast path, a LocalRelation whose size they already
    // know (knownRows skips the count job)
    val rows = if (knownRows >= 0L) knownRows else df.count()
    if (rows == 0) return
    // byte-based threshold: an L0 segment is read WHOLE by probes, so
    // it may cost at most ~one bucket of IO (targetBucketBytes);
    // past that it lands bucketed and prunes immediately
    if (rows * approxRowBytes > targetBucketBytes)
      appendBucketed(df, path, keyCol, segId, approxRowBytes,
        targetBucketBytes)
    // ONE file per L0 segment: the branch is row/byte-bounded (above
    // the threshold the segment lands bucketed), so a single write
    // task is size-safe by construction — while the default layout
    // wrote one sliver file per input partition, and probes re-read
    // every L0 segment WHOLE (per-file open cost x segments x probes)
    else singleFile(df).write.mode("overwrite")
      .parquet(s"$path/${SegPrefix}$segId-L0")
  }

  /** Single-file layout for a bounded L0 segment. coalesce(1)
    * propagates up the plan with no shuffle, so it is only safe when
    * a re-scan of the frame is driver-local or block-cached
    * ([[TableSync.cheapRescan]]) — the contract append's callers
    * already follow. An UNMATERIALIZED derivation slipped in here
    * would otherwise run its entire upstream in ONE task (r18 advice);
    * it falls back to repartition(1): one tiny shuffle of a bounded
    * segment, upstream parallelism kept.
    */
  private[streaming] def singleFile(df: DataFrame): DataFrame =
    if (TableSync.cheapRescan(df.queryExecution.analyzed)) df.coalesce(1)
    else df.repartition(1)

  /** Write rows directly as a BUCKETED level-1 segment — the
    * backfill/migration path (seeding a sidecar for an index that
    * predates it): an index-sized row set must land key-pruned
    * immediately, not as an L0 segment every probe re-reads whole
    * until the fold cadence catches up. Bucket count derives from a
    * driver count (rows x ~row bytes); sizing is approximate — folds
    * re-derive it from real bytes.
    */
  def appendBucketed(df0: DataFrame, path: String, keyCol: String,
      segId: Long, approxRowBytes: Long = 24,
      targetBucketBytes: Long = DefaultTargetBucketBytes): Unit = {
    // two actions run below (the sizing count, then the write) and
    // backfill callers pass UNMATERIALIZED index-wide plans
    // (TableSync.readCurrent unions, probe-key derivations) — persist
    // so the one-shot migration computes its source once, not twice
    val df = df0.persist()
    try {
      val rows = df.count()
      if (rows == 0) return
      val nb = math.max(1L, math.min(1L << 20,
        rows * approxRowBytes / math.max(1L, targetBucketBytes) + 1))
        .toInt
      // cluster by bucket before the partitioned write: without it
      // EVERY input task writes a sliver file into EVERY bucket
      // directory (tasks x buckets files — measured 50k files and a
      // 138 s seed at 64 KB buckets); clustered, each bucket is one
      // full-size file
      df.withColumn(KbCol, kbExpr(keyCol, nb))
        .repartition(col(KbCol))
        .write.mode("overwrite").partitionBy(KbCol)
        .parquet(s"$path/${SegPrefix}$segId-L1-nb$nb")
    } finally df.unpersist()
  }

  /** All rows whose key MAY be in `keys` — L0 segments whole, each
    * compacted segment pruned to the key set's `__kb` buckets. A
    * SUPERSET by construction; callers key-filter. Returns None when
    * the log does not exist or holds no segments (bootstrap).
    */
  def readForKeys(spark: SparkSession, path: String, keys: DataFrame,
      keyCol: String, maxSeg: Long = Long.MaxValue): Option[DataFrame] = {
    // maxSeg: probes pass the last COMMITTED batch id so segments a
    // crashed attempt wrote ahead of its index commit (seg id >
    // lastVer) drop at the SOURCE — phantom rows never reach the
    // candidate set or the payload coverage gate (which can therefore
    // include re-ingested ids instead of blanket-excluding the batch)
    val segs = listSegs(spark, path)
      .filter(_.batch.forall(_ <= maxSeg))
    if (segs.isEmpty) return None
    // one driver-side kb set per distinct bucket count (compacted
    // segments written at the same fold size share one computation);
    // bounded by min(|keys|, nb) — the readCurrentForKeys discipline
    val nbs = segs.filter(_.level > 0).map(_.nb).distinct
    val kbSets: Map[Int, Set[Int]] = nbs.map { nb =>
      nb -> keys.select(kbExpr(keyCol, nb).as(KbCol))
        .distinct().collect().map(_.getInt(0)).toSet
    }.toMap
    readSegments(spark, path, segs, kbSets)
  }

  /** [[readForKeys]] with the key HASHES ([[keyHashCol]] values)
    * already on the driver — the micro-batch fast path: per-segment
    * bucket sets reduce in plain Scala, so resolving a small batch's
    * keys costs ZERO Spark jobs before the pruned scan itself.
    * Returns the same superset frame contract.
    */
  private[streaming] def readForHashes(spark: SparkSession, path: String,
      hashes: Set[Long],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxSeg: Long = Long.MaxValue)
      : Option[DataFrame] = {
    val segs = listSegs(spark, path)
      .filter(_.batch.forall(_ <= maxSeg))
    if (segs.isEmpty) return None
    val nbs = segs.filter(_.level > 0).map(_.nb).distinct
    val kbSets: Map[Int, Set[Int]] = nbs.map { nb =>
      nb -> hashes.map(h => (h % nb).toInt)
    }.toMap
    readSegments(spark, path, segs, kbSets, schema)
  }

  private def readSegments(spark: SparkSession, path: String,
      segs: Seq[Seg], kbSets: Map[Int, Set[Int]],
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[DataFrame] = {
    // an explicit schema (fast-path callers own their sidecar's row
    // layout) skips the per-relation footer read at DataFrame
    // creation; parquet resolves columns by name, so per-segment
    // column order is free to differ
    def reader = schema.map(spark.read.schema(_)).getOrElse(spark.read)
    val f = fs(spark, path)
    // ONE multi-path scan per segment (buckets of a segment share a
    // schema): a per-bucket read would put hundreds of relations in
    // the plan and planning time would dominate the probe
    val parts: Seq[Seq[String]] = segs.map { s =>
      if (s.level == 0) Seq(s"$path/${s.dir}")
      else {
        val listed = f.listStatus(new Path(s"$path/${s.dir}"))
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(KbCol + "="))
          .map(_.getPath.getName.stripPrefix(KbCol + "=").toInt).toSet
        kbSets(s.nb).intersect(listed).toSeq.sorted
          .map(b => s"$path/${s.dir}/$KbCol=$b")
      }
    }.filter(_.nonEmpty)
    if (parts.nonEmpty)
      Some(parts.map(ps => reader.parquet(ps: _*))
        .reduce(_.unionByName(_, allowMissingColumns = true)))
    else
      // segments exist but none hold the probed buckets: an EMPTY
      // frame, not None — None means "no sidecar" and callers react
      // by backfilling
      anyLeaf(f, path, segs.map(_.dir))
        .map(p => reader.parquet(p).limit(0).drop(KbCol))
  }

  /** Any readable parquet leaf under the segments (for an empty-
    * result schema). Level-0 segments are readable dirs themselves;
    * compacted segments expose `__kb=` children.
    */
  private def anyLeaf(f: org.apache.hadoop.fs.FileSystem, path: String,
      segDirs: Seq[String]): Option[String] =
    segDirs.iterator.flatMap { d =>
      val p = new Path(s"$path/$d")
      val kids = f.listStatus(p)
      if (kids.exists(st => !st.isDirectory &&
          st.getPath.getName.endsWith(".parquet")))
        Iterator.single(s"$path/$d")
      else kids.iterator.filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(KbCol + "="))
        .map(st => s"$path/$d/${st.getPath.getName}")
    }.nextOption()

  /** The full merged view (maintenance/backfill reads). */
  def readAll(spark: SparkSession, path: String): Option[DataFrame] = {
    val segs = listSegs(spark, path)
    if (segs.isEmpty) None
    else Some(segs.map(s => spark.read.parquet(s"$path/${s.dir}")
        .drop(KbCol))
      .reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** Tiered fold: for each level holding >= fanout segments (lowest
    * first — a fold can cascade), merge ALL its segments into one
    * segment at the next level, bucketed by md5(key) so that buckets
    * land near `targetBucketBytes`. IO is the folded level's bytes,
    * never the log's. `collapse` (identity by default) lets
    * versioned-row callers ([[PayloadLog]]) drop superseded rows at
    * fold time — it sees only the rows being folded, and dropping a
    * row is sound exactly when a kept row wins over it under the
    * caller's read-side merge (then the dropped row could never win a
    * global read either).
    */
  def compact(spark: SparkSession, path: String, keyCol: String,
      fanout: Int = DefaultFanout,
      targetBucketBytes: Long = DefaultTargetBucketBytes,
      collapse: DataFrame => DataFrame = identity,
      resizeKeyCol: Option[String] = None): Unit = {
    val f = fs(spark, path)
    TieredFold.run(spark, path, fanout,
      () => listSegs(spark, path).map(s => (s.name, s.level)),
      {
        case SegName(g, _, _) if g.startsWith("c") =>
          Some(g.drop(1).toLong)
        case _ => None
      },
      (src, lvl, gen) => {
        val srcBytes = src.map(d =>
          f.getContentSummary(new Path(s"$path/$d")).getLength).sum
        val raw = src.map(d => spark.read.parquet(s"$path/$d")
            .drop(KbCol))
          .reduce(_.unionByName(_, allowMissingColumns = true))
        // bucket-count sizing: source bytes as-is, or — for a
        // versioned newest-per-key log (resizeKeyCol) — source bytes
        // scaled by the SURVIVING row fraction, so a log that
        // collapses hard (retention, re-ingest churn) reaches its
        // floor bucket count in the SAME fold instead of one fold
        // late. Survivors of a newest-per-key collapse are exactly
        // the distinct keys, so ONE aggregate pass prices the fold
        // (folds are amortized maintenance; the first resize cut ran
        // checkpoint+two counts — three source passes — and showed up
        // as a whole-capture regression on fold-heavy entries)
        val (folded, bytes) = resizeKeyCol match {
          case None => (collapse(raw), srcBytes)
          case Some(kc) =>
            val r = raw.agg(count(lit(1)), count_distinct(col(kc)))
              .head
            val rawN = math.max(1L, r.getLong(0))
            // BigInt: srcBytes * distinct overflows Long at the
            // design point (TB-scale fold x 1e7+ keys), which would
            // wrap negative -> max(1, _) = 1 byte -> nb = 1 and the
            // whole level would fold into ONE bucket through one task
            (collapse(raw),
              math.max(1L,
                (BigInt(srcBytes) * r.getLong(1) / rawN).toLong))
        }
        val nb = math.max(1L,
          math.min(1L << 20, bytes / math.max(1L, targetBucketBytes) +
            (if (bytes % math.max(1L, targetBucketBytes) != 0) 1L
             else 0L))).toInt
        val name = s"${SegPrefix}c$gen-L$lvl-nb$nb"
        val tmp = new Path(path, s"_compact_tmp_$name")
        folded
          .withColumn(KbCol, kbExpr(keyCol, nb))
          .repartition(col(KbCol)) // one full-size file per bucket
          .write.mode("overwrite").partitionBy(KbCol)
          .parquet(tmp.toString)
        if (!f.rename(tmp, new Path(path, name)))
          throw new IllegalStateException(
            s"KeyedLog fold rename failed under $path ($name)")
        // fold published; TieredFold deletes the sources next
        graft.FaultPoints.reach("KeyedLog.fold")
      })
  }

  /** Per-batch cadence trigger: fold when any level reaches `fanout`
    * segments. Counting directories is one listing; the fold itself
    * runs only when owed. Call AFTER the outer commit (a crash mid-
    * fold never touches the batch's exactly-once story).
    */
  def maybeCompact(spark: SparkSession, path: String, keyCol: String,
      fanout: Int = DefaultFanout,
      targetBucketBytes: Long = DefaultTargetBucketBytes,
      collapse: DataFrame => DataFrame = identity,
      resizeKeyCol: Option[String] = None): Unit = {
    val segs = listSegs(spark, path)
    if (segs.nonEmpty &&
        segs.groupBy(_.level).values.exists(_.size >= fanout))
      compact(spark, path, keyCol, fanout, targetBucketBytes, collapse,
        resizeKeyCol)
  }
}

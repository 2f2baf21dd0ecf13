package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tiered append log for the VECTOR dedup sidecar — [[KeyedLog]]'s
  * shape (L0 per-batch segments, tiered folds, merge-on-read) with a
  * STRUCTURE-AWARE partitioner: segments fold partitioned by the
  * DEPTH-MASKED hyperplane signature instead of an md5 hash.
  *
  * Why md5 bucketing cannot serve this side: text band keys are
  * high-cardinality (xxhash64 of a signature slice — one key names a
  * handful of docs), so hashing keys into buckets spreads load and a
  * probe key's bucket stays small. Vector base buckets are the
  * opposite — `tables x 2^bits` keys TOTAL (e.g. 192), each holding
  * corpus/2^bits reps, so any key-hashed layout puts an index-sized
  * row set behind every probe key. The granularity that keeps a
  * probe's read bounded is exactly the one the probe itself uses:
  * the occupancy-derived REFINEMENT depth (Dedup.vecCandidates) —
  * overfull base buckets subdivide by deeper stored signature bits
  * until each refined bucket is ~cap-sized. So compacted segments
  * partition by `table * 2^sigBits + (sig & mask(depth(table,
  * base)))` under the depth map CURRENT AT FOLD TIME (recorded in
  * the segment as `_DEPTHS`), and a probe reads, per segment, the
  * one partition its masked signature lands in — ~cap rows, however
  * large the corpus. Frozen segments never grow, so a partition
  * bounded at fold time stays bounded; as occupancy rises, later
  * folds re-partition at the deeper map.
  *
  * Depth drift between a segment's recorded map and the probe's
  * current map is handled on read: a segment COARSER than the probe
  * (the common growth direction) still serves one partition that
  * SUPERSETS the probe's bucket; a segment DEEPER than the probe
  * (occupancy shrank after re-ingestions) enumerates the
  * `2^(segDepth - probeDepth)` child partitions, intersected against
  * the segment's actual directory listing. Every read is a SUPERSET
  * the caller currentizes: rows carry the committing version and a
  * tombstone flag, and the newest record per (tbl, id, sig) — gated
  * at the committed batch, live outranking a same-version tombstone —
  * is exactly the committed index reps restricted to the probed
  * partitions (VecDedupSync's probe contract).
  *
  * Row schema (layout v2, see VecDedupSync's `_LAYOUT` guard):
  * `(tbl int, sig long, id, ver long, del boolean, vq binary,
  * scale double, norm double)` — one row per (rep, table), `sig` the
  * FULL stored deep signature for that table (the mask is applied by
  * the partitioner, so re-partitioning at a deeper map needs no
  * re-derivation), `vq`/`scale` the rep's int8-SQ codes and `norm`
  * its exact L2 norm, riding WITH the keys so the candidate
  * prefilter is join-free. The log itself is schema-agnostic beyond
  * (tbl, sig); the v2 columns are the caller's.
  */
object VecLog {

  val DefaultFanout: Int = KeyedLog.DefaultFanout

  private val KbCol = "__kb"
  private val SegPrefix = "seg_"
  private val SegName = """seg_(c?\d+)-L(\d+)""".r
  private val DepthsFile = "_DEPTHS"

  /** A refinement depth map: base depth for every bucket except the
    * recorded overfull ones. Serialized into each folded segment.
    */
  case class Depths(bits: Int, sigBits: Int,
      over: Map[(Int, Long), Int]) {
    def apply(tbl: Int, base: Long): Int = over.getOrElse((tbl, base), bits)
    def serialize: String =
      (s"$bits $sigBits" +:
        over.toSeq.sortBy(k => (k._1._1, k._1._2)).map {
          case ((t, b), d) => s"$t\t$b\t$d"
        }).mkString("\n")
  }

  private def parseDepths(text: String): Depths = {
    val lines = text.trim.split("\n").map(_.trim).filter(_.nonEmpty)
    val head = lines.head.split(" ")
    Depths(head(0).toInt, head(1).toInt,
      lines.tail.map(_.split("\t"))
        .map(a => (a(0).toInt, a(1).toLong) -> a(2).toInt).toMap)
  }

  private case class Seg(name: String, level: Int)

  private def parseSeg(dirName: String): Option[Seg] = dirName match {
    case SegName(_, l) => Some(Seg(dirName, l.toInt))
    case _             => None
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

  /** Append one batch's (tbl, sig, id) rows as an L0 segment —
    * O(batch), overwrite-idempotent. A batch past
    * [[KeyedLog.L0MaxRows]] (a seed/backfill that IS the corpus)
    * lands depth-partitioned instead, so later probes prune it
    * immediately rather than re-reading it whole until the fold
    * cadence catches up.
    */
  def append(df: DataFrame, path: String, segId: Long,
      depths: Depths, knownRows: Long = -1L): Unit = {
    // callers pass materialized frames, or LocalRelations whose size
    // they already know (knownRows skips the count job)
    val rows = if (knownRows >= 0L) knownRows else df.count()
    if (rows == 0) return
    if (rows > KeyedLog.L0MaxRows) appendBucketed(df, path, segId, depths)
    // one file per L0 segment — row-bounded branch, single write task
    // is size-safe; see KeyedLog.append (singleFile guards against an
    // unmaterialized upstream collapsing into the one task)
    else KeyedLog.singleFile(df).write.mode("overwrite")
      .parquet(s"$path/${SegPrefix}$segId-L0")
  }

  /** Write rows directly as a folded, depth-partitioned L1 segment —
    * the backfill path for an index that predates the sidecar.
    */
  def appendBucketed(df: DataFrame, path: String, segId: Long,
      depths: Depths): Unit = {
    if (df.isEmpty) return
    writePartitioned(df, path, s"${SegPrefix}$segId-L1", depths)
  }

  /** All rows that MAY share a refined bucket with the probe tuples —
    * L0 segments whole, folded segments pruned to the partitions the
    * probes' masked signatures land in under each segment's recorded
    * map. `probes` is a (tbl, sig) DataFrame — the per-segment bucket
    * sets derive DISTRIBUTED (mask in Spark, collect only the
    * DISTINCT partition values, which are bounded by the depth map,
    * never by batch size), so a one-shot backfill batch cannot turn
    * the probe into a driver bottleneck. `cur` is the probe-time
    * depth map (for the deeper-segment enumeration only). Returns
    * None at bootstrap.
    */
  def readForKeys(spark: SparkSession, path: String,
      probes: DataFrame, cur: Depths): Option[DataFrame] =
    readPruned(spark, path, d => probeKbs(probes, d, cur), None)

  /** [[readForKeys]] with the probe tuples already on the driver —
    * the micro-batch fast path. The partition values are pure bit
    * arithmetic of (tbl, sig) under the two depth maps (no hashing),
    * so a small batch's bucket sets compute in plain Scala
    * ([[kbsLocal]], spec-pinned identical to the distributed
    * derivation) and resolving its probes costs ZERO Spark jobs
    * before the pruned scan itself.
    */
  private[streaming] def readForKeysLocal(spark: SparkSession,
      path: String, probes: Set[(Int, Long)], cur: Depths,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[DataFrame] =
    readPruned(spark, path, d => kbsLocal(probes, d, cur), schema)

  private def readPruned(spark: SparkSession, path: String,
      kbsFor: Depths => Set[Long],
      schema: Option[org.apache.spark.sql.types.StructType])
      : Option[DataFrame] = {
    // an explicit schema skips the per-relation footer read at
    // DataFrame creation (measured ~0.1 s x segments per probe);
    // sound because the layout marker pins every segment to row
    // layout v2 — parquet resolves columns by name, so file column
    // order is free to differ
    def reader = schema.map(spark.read.schema(_)).getOrElse(spark.read)
    val segs = listSegs(spark, path)
    if (segs.isEmpty) return None
    val f = fs(spark, path)
    // one kb-set evaluation per DISTINCT depth map, not per
    // segment: folds at the same map (the common case — every fold
    // since the last occupancy change) share one computation, so the
    // probe's planning cost is bounded by map revisions, not
    // fanout x levels
    val kbMemo = scala.collection.mutable.Map.empty[String, Set[Long]]
    // ONE multi-path scan per segment (partitions share a schema —
    // hundreds of per-partition relations would make planning time
    // dominate the probe)
    val parts: Seq[Seq[String]] = segs.map { s =>
      if (s.level == 0) Seq(s"$path/${s.name}")
      else {
        val d = parseDepths(TableSync.readFile(f,
          new Path(s"$path/${s.name}", DepthsFile)))
        val listed: Set[Long] = f.listStatus(new Path(s"$path/${s.name}"))
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(KbCol + "="))
          .map(_.getPath.getName.stripPrefix(KbCol + "=").toLong).toSet
        val kbs: Set[Long] =
          kbMemo.getOrElseUpdate(d.serialize, kbsFor(d))
        kbs.intersect(listed).toSeq.sorted
          .map(b => s"$path/${s.name}/$KbCol=$b")
      }
    }.filter(_.nonEmpty)
    if (parts.nonEmpty)
      Some(parts.map(ps => reader.parquet(ps: _*))
        .reduce(_.unionByName(_, allowMissingColumns = true)))
    else
      // segments exist but no probed partition does: EMPTY frame, not
      // None — None means "no sidecar" (callers backfill on it)
      segs.iterator.flatMap { s =>
        val kids = f.listStatus(new Path(s"$path/${s.name}"))
        if (s.level == 0) Iterator.single(s"$path/${s.name}")
        else kids.iterator.filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(KbCol + "="))
          .map(st => s"$path/${s.name}/${st.getPath.getName}")
      }.nextOption()
        .map(p => reader.parquet(p).limit(0).drop(KbCol))
  }

  /** Driver-Seq convenience overload (spec/maintenance callers). */
  def readForKeys(spark: SparkSession, path: String,
      probes: Seq[(Int, Long)], cur: Depths): Option[DataFrame] = {
    import spark.implicits._
    readForKeys(spark, path, probes.toDF("tbl", "sig"), cur)
  }

  /** The partition values a probe frame lands in under a SEGMENT's
    * map `d`, given the probe-time map `cur`: segment coarser-or-
    * equal (ds <= dc, the common growth direction) → the one masked
    * value; segment deeper → the probe's bucket is a PREFIX of
    * 2^(ds-dc) segment partitions, enumerated. All masking runs in
    * Spark; only the distinct partition values collect. Depth maps
    * JOIN as broadcast frames — a WHEN chain over a fully-refined
    * map (tables x 2^bits entries) makes Janino compilation dominate
    * the probe.
    */
  private[streaming] def probeKbs(probes: DataFrame, d: Depths,
      cur: Depths): Set[Long] = {
    val spark0 = probes.sparkSession
    import spark0.implicits._
    def mapDf(m: Depths, depthCol: String) = m.over.toSeq
      .map { case ((t, b), dep) => (t, b, dep) }
      .toDF("tbl", "__base", depthCol)
    val base = col("sig").bitwiseAND(lit((1L << d.bits) - 1))
    var p = probes.withColumn("__base", base)
    p =
      if (d.over.isEmpty) p.withColumn("__ds", lit(d.bits))
      else p.join(broadcast(mapDf(d, "__dsm")), Seq("tbl", "__base"),
          "left")
        .withColumn("__ds", coalesce(col("__dsm"), lit(d.bits)))
        .drop("__dsm")
    p =
      if (cur.over.isEmpty) p.withColumn("__dc", lit(cur.bits))
      else p.join(broadcast(mapDf(cur, "__dcm")), Seq("tbl", "__base"),
          "left")
        .withColumn("__dc", coalesce(col("__dcm"), lit(cur.bits)))
        .drop("__dcm")
    val ds = col("__ds")
    val dc = col("__dc")
    val hi = shiftleft(col("tbl").cast("long"), d.sigBits)
    def maskTo(depth: org.apache.spark.sql.Column) =
      call_function("shiftleft", lit(1L), depth) - lit(1L)
    val lo = hi.bitwiseOR(col("sig").bitwiseAND(maskTo(dc)))
    val one = hi.bitwiseOR(col("sig").bitwiseAND(maskTo(ds)))
    val kbs = when(ds <= dc, array(one))
      .otherwise(transform(
        sequence(lit(0L),
          call_function("shiftleft", lit(1L), ds - dc) - lit(1L)),
        e => lo.bitwiseOR(call_function("shiftleft", e, dc))))
    p.select(explode(kbs).as("kb")).distinct()
      .collect().map(_.getLong(0)).toSet
  }

  /** Pure-Scala twin of [[probeKbs]] for driver-resident probe sets —
    * the same arithmetic, expression for expression: base from the
    * SEGMENT map's bits, both depths looked up at that base, one
    * masked value when the segment is coarser-or-equal, the
    * 2^(ds-dc) child enumeration when it is deeper. Spec-pinned
    * identical to [[probeKbs]] over random probes and maps
    * (VecLogSpec), because the probe's completeness contract rides on
    * the two derivations never diverging.
    */
  private[streaming] def kbsLocal(probes: Set[(Int, Long)], d: Depths,
      cur: Depths): Set[Long] = {
    def mask(n: Int): Long = (1L << n) - 1
    probes.flatMap { case (t, sig) =>
      val base = sig & mask(d.bits)
      val ds = d(t, base)
      val dc = cur(t, base)
      val hi = t.toLong << d.sigBits
      if (ds <= dc) Set(hi | (sig & mask(ds)))
      else {
        val lo = hi | (sig & mask(dc))
        (0L until (1L << (ds - dc))).map(e => lo | (e << dc)).toSet
      }
    }
  }

  /** Tiered fold at the CURRENT depth map — the shared [[TieredFold]]
    * loop with this log's partitioner and the `_DEPTHS` record, which
    * is staged INSIDE the segment directory so the rename publishes
    * data and map atomically. `collapse` (identity default) lets the
    * versioned-row caller (VecDedupSync) drop superseded rows at fold
    * time; it must only drop rows a kept row outranks under the
    * read-side merge — EXCEPT when the fold's sources cover EVERY
    * live segment (`full = true`, the LSM bottom-level case): then a
    * record that WINS its group globally wins it inside the fold too,
    * so even winning tombstones may purge (nothing older survives
    * anywhere for them to suppress). Folds run post-commit, so every
    * folded record is committed state.
    */
  def compact(spark: SparkSession, path: String, depths: Depths,
      fanout: Int = DefaultFanout,
      collapse: (DataFrame, Boolean) => DataFrame = (df, _) => df)
      : Unit =
    TieredFold.run(spark, path, fanout,
      () => listSegs(spark, path).map(s => (s.name, s.level)),
      {
        case SegName(g, _) if g.startsWith("c") => Some(g.drop(1).toLong)
        case _ => None
      },
      (src, lvl, gen) => {
        val full = src.size == listSegs(spark, path).size
        val merged = collapse(src
          .map(d => spark.read.parquet(s"$path/$d").drop(KbCol))
          .reduce(_.unionByName(_, allowMissingColumns = true)), full)
        writePartitioned(merged, path, s"${SegPrefix}c$gen-L$lvl",
          depths)
      })

  /** Per-batch cadence trigger (call AFTER the outer commit). */
  def maybeCompact(spark: SparkSession, path: String, depths: Depths,
      fanout: Int = DefaultFanout,
      collapse: (DataFrame, Boolean) => DataFrame = (df, _) => df)
      : Unit = {
    val segs = listSegs(spark, path)
    if (segs.nonEmpty &&
        segs.groupBy(_.level).values.exists(_.size >= fanout))
      compact(spark, path, depths, fanout, collapse)
  }

  /** Write a depth-partitioned segment and PUBLISH IT ATOMICALLY:
    * data and `_DEPTHS` are staged together under a `_compact_tmp_`
    * prefix (invisible to [[listSegs]]) and renamed into place in one
    * metadata op. The first cut staged only FOLDS and let the
    * backfill/large-append path write the final name directly, with
    * `_DEPTHS` created after the data — a crash between the two left
    * a level-1 segment whose missing depth record threw on EVERY
    * later probe with no self-repair (the reseed never re-runs while
    * the segment dir exists; [[KeyedLog]]'s equivalent path
    * self-heals only because it has no marker file). Staged, a crash
    * leaves nothing a reader or [[listSegs]] can see, so the
    * backfill/replay re-runs and converges; the stale staging dir is
    * overwritten by the retry (deterministic name) and swept by the
    * next fold.
    */
  private def writePartitioned(df: DataFrame, path: String,
      name: String, depths: Depths): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val f = fs(spark, path)
    val target = s"_compact_tmp_$name"
    val baseMask = (1L << depths.bits) - 1
    // depth lookup via a BROADCAST-joined map frame: base depth
    // everywhere, the overfull map's depth where recorded. (A WHEN
    // chain here made Janino compilation dominate once refinement
    // covered every base bucket — tables x 2^bits entries.)
    val withDepth =
      if (depths.over.isEmpty) df.withColumn("__depth", lit(depths.bits))
      else {
        val m = depths.over.toSeq
          .map { case ((t, b), dep) => (t, b, dep) }
          .toDF("tbl", "__base", "__depth0")
        df.withColumn("__base", col("sig").bitwiseAND(lit(baseMask)))
          .join(broadcast(m), Seq("tbl", "__base"), "left")
          .withColumn("__depth",
            coalesce(col("__depth0"), lit(depths.bits)))
          .drop("__base", "__depth0")
      }
    val kb = shiftleft(col("tbl").cast("long"), depths.sigBits)
      .bitwiseOR(col("sig").bitwiseAND(
        call_function("shiftleft", lit(1L), col("__depth")) - lit(1L)))
    withDepth.withColumn(KbCol, kb).drop("__depth")
      .repartition(col(KbCol)) // one full-size file per partition,
                               // not one sliver per (task x partition)
      .write.mode("overwrite").partitionBy(KbCol)
      .parquet(s"$path/$target")
    graft.FaultPoints.reach("VecLog.staged")
    val dp = f.create(new Path(s"$path/$target", DepthsFile), true)
    try dp.write(depths.serialize.getBytes("UTF-8")) finally dp.close()
    graft.FaultPoints.reach("VecLog.depths")
    // a pre-existing dest is a completed attempt of the SAME
    // deterministic write (a replayed large append, or a re-run
    // backfill after a crash before its counter write landed) —
    // replace it. Replacement is safe pre-commit only, which is the
    // only time this path re-runs: post-commit the batch never
    // replays, and the backfill derives from committed state.
    // Replacement moves the old attempt ASIDE (one rename) rather
    // than deleting it: delete+rename was two metadata ops whose
    // crash window unpublished a previously COMPLETE segment with
    // nothing recoverable on disk; renamed aside, the old bytes
    // survive under a staging-prefixed name (invisible to listSegs,
    // swept by the next fold's _compact_tmp_ hygiene pass) and the
    // publish itself stays a single rename. Directory
    // rename-with-overwrite is not portable (HDFS requires an empty
    // dest), so the aside step is the narrowest safe form.
    val dest = new Path(path, name)
    if (f.exists(dest)) {
      // unique aside name: Hadoop local rename onto an EXISTING dir
      // nests the source inside it instead of failing
      val aside = new Path(path, s"_compact_tmp_aside_$name." +
        s"${ProcessHandle.current().pid()}-${System.nanoTime()}")
      if (!f.rename(dest, aside))
        throw new IllegalStateException(
          s"VecLog aside rename failed under $path ($name)")
      graft.FaultPoints.reach("VecLog.aside")
    }
    if (!f.rename(new Path(path, target), dest))
      throw new IllegalStateException(
        s"VecLog segment rename failed under $path ($name)")
  }
}

/** Exact per-(table, base bucket) REP occupancy counters of a vector
  * dedup index, maintained INCREMENTALLY next to the sidecar — the
  * "occupancy in the manifest" half of the pruned probe: the
  * refinement depth map used to derive both the probe's candidate
  * buckets and the sidecar's partitioning comes from these counters
  * instead of a per-batch aggregate that explodes the whole stored
  * signature set. The counter file is parameter-bounded
  * (tables x 2^bits lines at most) and versioned by the index batch
  * it describes: a probe reads the file for the LAST COMMITTED index
  * version, so replay derives the identical map (the deterministic-
  * name idempotence discipline); a missing file (pre-sidecar index,
  * or a crash between counter write and index commit) falls back to
  * the one-shot aggregate, which these counters must always equal —
  * the update rule is the aggregate's algebra: + new batch rep rows'
  * buckets, - replaced rows' buckets where the replaced row was a
  * rep.
  */
private[streaming] object OccStats {

  private val Prefix = "_occ_v"

  def path(dir: String, ver: Long) = new Path(dir, s"$Prefix$ver")

  def read(spark: SparkSession, dir: String, ver: Long)
      : Option[Map[(Int, Long), Long]] = {
    val f = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    graft.AtomicFiles.read(f, path(dir, ver)).map(_.trim.split("\n")
      .filter(_.nonEmpty).map(_.split("\t"))
      .map(a => (a(0).toInt, a(1).toLong) -> a(2).toLong).toMap)
  }

  /** Write the counters for index version `ver`; retains the last 3
    * versions (the TableSync manifest-retention discipline).
    *
    * Atomic tmp+rename, NOT a plain create: the per-batch path writes
    * at the uncommitted batch id (where a torn file is invisible and
    * the replay overwrites it), but the MIGRATION path
    * (VecDedupSync.backfillSidecars) writes at the last COMMITTED
    * version — a torn create there is read by the very next probe
    * (an empty file parses as a real, empty map; a truncated line as
    * wrong counts) and the incremental maintenance propagates the
    * wrong occupancy forever. One rename buys out both cases.
    */
  def write(spark: SparkSession, dir: String, ver: Long,
      occ: Map[(Int, Long), Long]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val f = new Path(dir).getFileSystem(conf)
    val payload = occ.toSeq.sortBy(k => (k._1._1, k._1._2))
      .collect { case ((t, b), n) if n != 0 => s"$t\t$b\t$n" }
      .mkString("\n")
    graft.AtomicFiles.write(f, conf, path(dir, ver),
      payload.getBytes("UTF-8"))
    // counters durable; retention sweep of older versions still owed
    graft.FaultPoints.reach("OccStats.written")
    if (f.exists(new Path(dir)))
      f.listStatus(new Path(dir))
        .filterNot(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith(Prefix))
        .foreach { n =>
          // stranded `.tmp` siblings of a crashed atomic write sweep
          // with the retention pass (this store's hygiene hook);
          // toLongOption guards the parse against them racing in
          if (n.endsWith(".tmp")) f.delete(new Path(dir, n), false)
          else n.stripPrefix(Prefix).toLongOption
            .filter(_ < ver - 2)
            .foreach(v => f.delete(path(dir, v), false))
        }
  }
}

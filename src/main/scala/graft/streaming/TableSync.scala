package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming upsert into a keyed snapshot table — the CDC-apply /
  * dimension-sync pattern: an update stream (key, version, attrs...)
  * folds into a table where the HIGHEST version per key wins, and
  * readers always see one consistent snapshot.
  *
  * Storage layout is BUCKETED snapshot-and-manifest: the table is
  * hash-partitioned into `numBuckets` buckets by key (md5-prefix of
  * the key, the same content-derived sharding as c06), and a batch
  * rewrites ONLY the buckets its rows touch:
  *
  * {{{
  *   table/
  *     _CURRENT                  # manifest: bucket -> snapshot dir
  *     _MANIFEST_v<b>[r<k>]      # archived manifest per commit
  *     v<b>[r<k>]/__bucket=N/    # bucket data written by batch b
  * }}}
  *
  * Write amplification per micro-batch is O(batch), not O(table):
  * storage is MERGE-ON-READ — a touched bucket normally gains one
  * DELTA GENERATION holding only the batch's rows (the manifest
  * tracks a generation LIST per bucket), and readers fold the
  * generations under the table's [[Merge]]; once a bucket
  * accumulates `maxGens` generations, the next touching batch folds
  * it back to one (amortized O(touched/maxGens) bucket rewrites per
  * batch, each <= maxBucketBytes — the lakehouse MOR-with-compaction
  * shape; maxGens=1 degenerates to copy-on-write, rewriting every
  * touched bucket whole per batch).
  * Untouched buckets' files are carried forward BY REFERENCE in the
  * manifest (zero IO; the spec asserts they stay byte-identical
  * across a batch). At 100 TB, a bucket should be a few GB — and the
  * count is NOT frozen at creation: set `maxBucketBytes` and the
  * scheme widens itself by bounded linear-hashing splits as the
  * table grows (see [[applyBatch]]), or run [[rebucket]] for a
  * one-shot re-base. The reference's own commit point is O(1) per
  * job (SQS `m.delete()`, GetJobs.py:39) and the delta-generation
  * append is the table-sink analogue.
  *
  * Three invariants make the pointer safe:
  *
  *   - FRESH-DIRECTORY RULE: a batch never writes into a directory
  *     the current manifest references. A replayed micro-batch
  *     (restart from a checkpoint whose commit never became durable —
  *     the manifest already names a `v<batchId>` variant) writes the
  *     next replay suffix `v<batchId>r<k>` instead of rewriting in
  *     place, so concurrent readers and a crash mid-write can never
  *     observe a half-written snapshot. The merge is idempotent
  *     (max-version-per-key over current ∪ batch), so every variant
  *     of a batch holds identical content — which is what upgrades
  *     foreachBatch's at-least-once to exactly-once table state.
  *   - ATOMIC OVERWRITE SWAP: the pointer is renamed over atomically
  *     (graft.AtomicFiles.renameOverwrite — one NameNode metadata op
  *     on HDFS, POSIX rename(2) on the local FS, where Hadoop's
  *     OVERWRITE decomposes and would open a missing-pointer window).
  *     If the pointer IS ever missing while snapshots exist, readers
  *     fail loudly instead of guessing.
  *   - EXCLUSIVE COMMIT LOCK: the read-check-swap in `commitPointer`
  *     runs under an atomically created `_LOCK` file
  *     (`FileSystem.createNewFile`), so two racing writers cannot
  *     both pass the expected-pointer check — the loser fails loudly
  *     with a ConcurrentModificationException rather than silently
  *     discarding the winner's fold. A crash INSIDE the lock window
  *     leaves a stale `_LOCK`; the next writer refuses with a message
  *     naming the file (verify no writer is alive, delete it) — loud
  *     recovery, never silent lost updates. On stores without atomic
  *     create-exclusive (raw S3 without a consistency layer) this
  *     degrades to best-effort detection.
  *
  * Time travel reads the archived manifest for a batch: each bucket
  * resolves to the snapshot dir that last rewrote it AS OF that
  * batch. GC retains the manifests of the current and two previous
  * batches and deletes only snapshot dirs no retained manifest
  * references — an untouched bucket's data may legitimately live in
  * a directory many batches old.
  *
  * Scale notes: this is the DIMENSION/state-table pattern; fact-scale
  * streams go through the append committer path instead. Production
  * lakehouse formats implement the same bucketed-snapshot+manifest
  * core with transactional metadata layers; `Layout.compact` covers
  * the periodic small-file fold if batches are tiny.
  */
object TableSync {

  /** Default bucket count — sized for MB-to-GB dimension tables;
    * widen (256/4096) for larger tables. Recorded in the manifest at
    * bootstrap so every later batch and reader agrees — and, unlike
    * the first cut, no longer frozen forever: the bucket scheme
    * EVOLVES online via linear-hashing splits (below) or an explicit
    * [[rebucket]].
    */
  val DefaultBuckets = 16

  /** Bound on linear-hashing splits performed inside one applyBatch.
    * Each split reads ONE old bucket and redistributes it over two,
    * so per-batch maintenance IO stays O(splitsPerBatch) buckets no
    * matter how far behind the table is — capacity catches up across
    * batches (micro-batches are frequent; 4 splits/batch adds
    * 4 x maxBucketBytes of capacity per batch, far above any
    * realistic micro-batch's growth).
    */
  val DefaultSplitsPerBatch = 4

  /** Snapshot directory names: `v<batchId>` or replay `v<batchId>r<k>`. */
  private val SnapName = """v(\d+)(?:r(\d+))?""".r

  private def batchOf(name: String): Option[Long] = name match {
    case SnapName(b, _) => Some(b.toLong)
    case _              => None
  }

  /** (batch, replaySuffix) ordering key — newest snapshot last. */
  private def snapOrder(name: String): (Long, Int) = name match {
    case SnapName(b, r) => (b.toLong, Option(r).map(_.toInt).getOrElse(0))
    case _              => (-1L, -1)
  }

  /** Scalar generation ordinal of a snapshot dir (merge-on-read
    * tie-break: generations append in batch order, so snapshot order
    * IS generation order; replay suffixes stay far below the 1e6
    * factor).
    */
  private def genOrd(name: String): Long = {
    val (b, r) = snapOrder(name)
    b * 1000000L + r
  }

  private val ManifestPrefix = "_MANIFEST_"
  private val BucketCol = "__bucket"
  private val GenCol = "__gen"
  private val BornFile = "_BORN"

  /** Generation entries are `v<b>[r<k>]` or `v<b>[r<k>]@<src>` — the
    * @-form references ANOTHER bucket's directory inside the named
    * snapshot (metadata-only contraction: a reverse merge moves the
    * removed bucket's generations under the target by reference, and
    * the physical fold lands on the normal maxGens cadence).
    */
  private def refSnap(ref: String): String = ref.takeWhile(_ != '@')

  /** The data directory a generation entry of `bucket` resolves to. */
  private def refDir(ref: String, bucket: Int): String = {
    val i = ref.indexOf('@')
    if (i < 0) s"$ref/$BucketCol=$bucket"
    else s"${ref.substring(0, i)}/$BucketCol=${ref.substring(i + 1)}"
  }

  /** Runs `body` with `label` as the Spark job description, so every
    * job a sink phase submits carries its phase name to any listener
    * or event log; the caller's description is restored afterwards.
    * The one phase-labelling helper every streaming sink shares.
    */
  private[streaming] def phase[A](label: String)(body: => A): A = {
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val prev = sc.map(_.getLocalProperty("spark.job.description"))
    sc.foreach(_.setJobDescription(label))
    try body finally
      sc.foreach(_.setJobDescription(prev.flatMap(Option(_)).orNull))
  }

  /** Whether re-scanning `p` is driver-local or block-cached: a
    * LocalRelation (the micro-batch driver paths), an already-
    * checkpointed frame, or projections, filters and unions of those.
    * An unmaterialized derivation re-runs its whole upstream on every
    * scan.
    */
  private[streaming] def cheapRescan(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: LocalRelation => true
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case pr: Project => cheapRescan(pr.child)
      case f: Filter => cheapRescan(f.child)
      case u: Union => u.children.forall(cheapRescan)
      case _ => false
    }
  }

  /** Default cap on a bucket's DELTA GENERATIONS before a touching
    * batch folds it back to one (merge-on-read, below). 1 degenerates
    * to fold-every-batch — the copy-on-write behavior of the first
    * cut.
    */
  val DefaultMaxGens = 8

  /** The pointer payload: which snapshot directories serve each
    * bucket — a LIST per bucket, oldest generation first (merge-on-
    * read deltas; a fully-folded bucket's list has length 1). `name`
    * is the snapshot this manifest's commit wrote; buckets the batch
    * did not touch keep their previous directories.
    *
    * `split` is the linear-hashing pointer (Litwin 1980): buckets
    * below it have been split to the doubled level, so the effective
    * bucket count is `numBuckets + split` and a key's bucket is
    * [[bucketExpr]] of `(numBuckets, split)`. `sizes` records the
    * parquet bytes of each bucket AS OF the batch that last rewrote
    * it — the split trigger's input, carried forward by reference
    * exactly like the data itself (0 for buckets last written by a
    * pre-evolution manifest; they fill in as batches touch them).
    * Both fields parse backward-compatibly: an old manifest reads as
    * split 0 with unknown sizes.
    */
  private[streaming] case class Manifest(
      name: String, numBuckets: Int, entries: Map[Int, Seq[String]],
      split: Int = 0, sizes: Map[Int, Long] = Map.empty,
      hashHex: Int = 4,
      keyCol: Option[String] = None, verCol: Option[String] = None,
      merge: Merge = Merge.Latest, prev: Option[String] = None) {
    def serialize: String =
      // an UNKNOWN size (bucket last written by a pre-sizes manifest)
      // round-trips as `?`, never as 0 — the contraction trigger must
      // be able to tell "empty" from "never measured". Generation
      // lists join on "," (snapshot names are [vNrK], comma-free);
      // the key/version columns and a non-Latest merge ride the
      // header so READERS can fold multi-generation buckets without
      // being told the schema (columns with spaces are unsupported in
      // this sink). `prev` — the manifest this commit replaced — is
      // the commit-chain link readVersion walks to tell a committed
      // version from a phantom archive. Header: 4 fixed fields, then
      // [key ver [merge]] [prev]; a merge is never a snapshot name.
      ((s"$name $numBuckets $split $hashHex" +
        keyCol.zip(verCol).map { case (k, v) =>
          s" $k $v" + (if (merge == Merge.Latest) "" else s" ${merge.name}")
        }.getOrElse("") +
        prev.map(p => s" $p").getOrElse("")) +:
        entries.toSeq.sortBy(_._1).map { case (b, dirs) =>
          s"$b\t${dirs.mkString(",")}\t" +
            sizes.get(b).map(_.toString).getOrElse("?")
        })
        .mkString("\n")
  }

  private def parseManifest(text: String): Manifest = {
    val lines = text.trim.split("\n").map(_.trim).filter(_.nonEmpty)
    val head = lines.head.split(" ")
    val rows = lines.tail.map(_.split("\t"))
    val opt = head.drop(4)
    val cols = Option.when(opt.length >= 2)(opt(0) -> opt(1))
    val (merge, prev) = opt.drop(2 * cols.size).partition(batchOf(_).isEmpty)
    Manifest(head(0), head(1).toInt,
      rows.map(a => a(0).toInt -> a(1).split(",").toSeq).toMap,
      if (head.length > 2) head(2).toInt else 0,
      rows.filter(a => a.length > 2 && a(2) != "?")
        .map(a => a(0).toInt -> a(2).toLong).toMap,
      if (head.length > 3) head(3).toInt else 4,
      cols.map(_._1), cols.map(_._2),
      merge.headOption.fold[Merge](Merge.Latest)(Merge.parse),
      prev.headOption)
  }

  /** How a table resolves several rows of one key, across a bucket's
    * generations and within one batch; the owning sink picks it, the
    * manifest records it (legacy reads as `Latest`). `Latest`: the
    * highest version wins (upserts). `CountSum`: value columns sum,
    * cast back to their stored type. `Kmv(k)`: value columns are
    * sorted bottom-k hash arrays, merged by union. The last two are
    * commutative, so AggSync lands each delta as one more generation
    * without reading its state; their version resolves to its max.
    */
  private[streaming] sealed abstract class Merge(val name: String)
  private[streaming] object Merge {
    case object Latest extends Merge("latest")
    case object CountSum extends Merge("countsum")
    final case class Kmv(k: Int) extends Merge(s"kmv$k")
    def parse(name: String): Merge =
      if (name == CountSum.name) CountSum
      else Kmv(name.stripPrefix("kmv").toInt)
  }

  /** `df` resolved to one row per `groupCols` under `merge` — the one
    * fold of applyBatch's two legs and of the merge-on-read. `GenCol`
    * breaks `Latest`'s version ties and is dropped.
    */
  private def resolve(df: DataFrame, merge: Merge, verCol: String,
      groupCols: Seq[String]): DataFrame = merge match {
    case Merge.Latest =>
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(col(verCol).desc, col(GenCol).desc)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn", GenCol)
    case _ =>
      val out = df.columns.filterNot(_ == GenCol).toSeq
      val aggs = out.filterNot(groupCols.contains).map { c =>
        (merge match {
          case _ if c == verCol => max(col(c))
          case Merge.Kmv(k) => slice(array_sort(array_distinct(
            flatten(collect_list(col(c))))), 1, k)
          case _ => sum(col(c)).cast(df.schema(c).dataType)
        }).as(c)
      }
      df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
        .select(out.map(col): _*)
  }

  /** Hash width (md5 hex digits) for NEW tables: 8 digits = a 32-bit
    * uniform key hash, so the scheme can widen to ~4 billion
    * effective buckets before the hash quantizes — no ceiling any
    * realistic table hits. Recorded per table in the manifest;
    * pre-existing tables parse as the original 4 digits (65536
    * ceiling) and keep their mapping — the hash width of a table is
    * IMMUTABLE after bootstrap, because changing it remaps every
    * key across buckets (a full-rewrite migration, not a split).
    */
  val DefaultHashHex = 8

  /** Content-derived bucket of the key under a linear-hashing scheme
    * `(n, split)`: h = the table's first `hashHex` md5 hex digits of
    * the key as a string — a uniform value identical on any engine
    * or partitioning (the c06 sharding discipline), so replays of
    * the same rows always land in the same buckets. Buckets
    * `h mod n < split` have been split to the doubled level and
    * resolve at `h mod 2n` (which is `b0` or `b0 + n` — a split
    * moves ONLY the split bucket's keys, everything else is
    * untouched); the rest resolve at `h mod n`. `split == 0` is
    * plain mod-n. The effective-bucket ceiling is 16^hashHex: 2^32
    * at the 8-digit default, 65536 for pre-width tables (see
    * [[DefaultHashHex]]). Null keys fold to bucket 0 rather than a
    * null partition.
    */
  private def bucketExpr(keyCol: String, n: Int, split: Int = 0,
      hashHex: Int = DefaultHashHex) = {
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, hashHex),
      16, 10).cast("long")
    val b0 = pmod(h, lit(n.toLong))
    coalesce(
      (if (split <= 0) b0
      else when(b0 < split, pmod(h, lit(2L * n))).otherwise(b0))
        .cast("int"),
      lit(0))
  }

  /** Start the upsert sink. `verCol` must be monotonically comparable
    * (ties are broken arbitrarily but deterministically only when the
    * tied rows are identical — use a strictly increasing version).
    */
  def upsertSink(
      updates: DataFrame, path: String, keyCol: String, verCol: String,
      checkpoint: String, numBuckets: Int = DefaultBuckets,
      maxBucketBytes: Long = Long.MaxValue,
      splitsPerBatch: Int = DefaultSplitsPerBatch,
      maxGens: Int = DefaultMaxGens): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, path, keyCol, verCol, batchId, numBuckets,
          maxBucketBytes, splitsPerBatch, maxGens)
      }
      .start()

  /** One merge step; also the batch-mode entry (backfill replays call
    * it directly with a synthetic batchId). Only buckets present in
    * `batch` are merged and rewritten; the rest of the table is
    * carried forward by manifest reference. `numBuckets` seeds a NEW
    * table only — an existing table's manifest wins, so a restart
    * with a different parameter cannot split keys across bucket
    * schemes.
    *
    * ONLINE BUCKET EVOLUTION: when `maxBucketBytes` is set and the
    * previous manifest's recorded table bytes exceed
    * `maxBucketBytes x effective buckets`, the batch also performs up
    * to `splitsPerBatch` linear-hashing splits: the buckets at the
    * split pointer join the touched set, the whole merge is bucketed
    * at the advanced scheme (which redistributes exactly those
    * buckets' keys over two targets each and moves nothing else), and
    * the commit advances the pointer — all under the same fresh-
    * directory/atomic-swap/replay rules as the data itself. When the
    * pointer completes a level (split == numBuckets) the manifest
    * normalizes to (2 x numBuckets, 0): an identical key->bucket
    * mapping, by construction. So a DedupSync index that grows 1000x
    * keeps per-batch rewrite at O(batch buckets + splitsPerBatch)
    * instead of drifting toward whole-table: the write-amplification
    * contract survives growth. The trigger reads the PREVIOUS
    * manifest's sizes (split decisions lag one batch — by then the
    * sizes are durable and replay-stable).
    *
    * The scheme also CONTRACTS: when recorded bytes need fewer than
    * half the effective buckets, up to `splitsPerBatch` reverse merge
    * steps fold the highest buckets back (with the (n, 0) ≡
    * (n/2, n/2) normalization run in reverse at level boundaries), so
    * a table that shrinks — retention deletes, compaction — recovers
    * the small-table per-batch floor instead of paying its widest
    * scheme's forever. The 2x hysteresis band makes split/merge
    * flapping impossible.
    */
  def applyBatch(
      batch: DataFrame, path: String, keyCol: String, verCol: String,
      batchId: Long, numBuckets: Int = DefaultBuckets,
      maxBucketBytes: Long = Long.MaxValue,
      splitsPerBatch: Int = DefaultSplitsPerBatch,
      maxGens: Int = DefaultMaxGens,
      localKeys: Option[DataFrame] = None): Unit =
    applyMerged(Merge.Latest)(batch, path, keyCol, verCol, batchId,
      numBuckets, maxBucketBytes, splitsPerBatch, maxGens, localKeys)

  /** [[applyBatch]] under a table's [[Merge]]. */
  private[streaming] def applyMerged(merge: Merge)(
      batch: DataFrame, path: String, keyCol: String, verCol: String,
      batchId: Long, numBuckets: Int, maxBucketBytes: Long,
      splitsPerBatch: Int, maxGens: Int,
      localKeys: Option[DataFrame] = None): Unit = {
    val spark = batch.sparkSession
    val prev = currentManifest(spark, path)
    // the manifest records the key/version columns and the merge
    // precisely so writers and readers agree; a batch applied under a
    // DIFFERENT key would bucket the same logical key into two places
    // and the per-bucket merge-on-read fold could never collapse them
    // again (a different merge would sum upserts or rank deltas) —
    // fail loudly instead (legacy pre-column manifests pass)
    prev.foreach { m =>
      require(m.merge == merge,
        s"table at $path folds its generations by '${m.merge.name}' " +
          s"(manifest) but this batch was applied with '${merge.name}' " +
          "— refusing to mix merges in one table")
      m.keyCol.foreach(k => require(k == keyCol,
        s"table at $path is keyed by '$k' (manifest) but applyBatch " +
          s"was called with keyCol='$keyCol' — refusing to split a " +
          "logical key across buckets"))
      m.verCol.foreach(v => require(v == verCol,
        s"table at $path records verCol '$v' (manifest) but " +
          s"applyBatch was called with verCol='$verCol'"))
    }
    val nb = prev.map(_.numBuckets).getOrElse(numBuckets)
    val s0 = prev.map(_.split).getOrElse(0)
    val hx = prev.map(_.hashHex).getOrElse(DefaultHashHex)
    // Split decision: how many buckets short of `<= maxBucketBytes`
    // per bucket is the table, capped per batch and per level. A
    // pre-evolution manifest records no sizes (reads 0) and simply
    // never triggers until rewrites fill them in.
    val total = prev.map(_.sizes.values.sum).getOrElse(0L)
    // wanted effective buckets = ceil(total / maxBucketBytes); -1
    // when the trigger is disarmed. Ceiling via div+mod, not
    // `total + max - 1`: the additive form overflows Long for a
    // huge-but-finite threshold (e.g. Long.MaxValue/2 with total
    // above half) — and clamp in LONG throughout: truncating a raw
    // quotient to Int would wrap negative and silently disarm the
    // very mechanism the threshold arms.
    val wantB: Long =
      if (maxBucketBytes == Long.MaxValue) -1L
      else math.max(1L, total / maxBucketBytes +
        (if (total % maxBucketBytes != 0) 1L else 0L))
    val k = if (wantB < 0) 0 else {
      val want = wantB - (nb + s0)
      math.max(0L,
        math.min(math.min(want, (nb - s0).toLong), splitsPerBatch.toLong))
        .toInt
    }
    // CONTRACTION — the reverse linear-hash arithmetic (the shrink
    // half evolution was missing: a table that grows then shrinks —
    // retention deletes, compaction — otherwise pays its widest
    // scheme's per-batch small-file floor forever). When the recorded
    // bytes need fewer than HALF the effective buckets, perform up to
    // `splitsPerBatch` merge steps: each removes the highest
    // effective id (the exact reverse of the split that created it —
    // bucket split-1+n folds back into split-1), and at a level
    // boundary the scheme first normalizes (n, 0) ≡ (n/2, n/2), the
    // identity the split path uses in the other direction. The 2x
    // hysteresis makes split/merge flapping impossible: after
    // merging, effective stays >= 2 x wanted > wanted, so the split
    // trigger cannot fire on the next batch. Only runs when the
    // previous manifest RECORDS a size for EVERY entry (bootstrap,
    // disarmed, legacy pre-sizes, and partially-filled-in tables
    // never contract — an unknown-size bucket reads 0, so a total
    // over partial sizes would fold a populated table into
    // oversized buckets and then churn as real sizes fill back in),
    // and merges are bounded per batch exactly like splits —
    // O(splitsPerBatch) buckets read + folded.
    val sizesCoverEntries = prev.exists(m =>
      m.entries.keySet.subsetOf(m.sizes.keySet))
    val (nbF, sF, mergedPairs) =
      if (k > 0 || wantB < 0 || prev.isEmpty || !sizesCoverEntries)
        (nb, s0 + k, List.empty[(Int, Int)])
      else {
        var cnb = nb
        var cs = s0
        var steps = 0
        var stop = false
        val buf = List.newBuilder[(Int, Int)]
        while (!stop && steps < splitsPerBatch &&
            cnb.toLong + cs > 2L * wantB) {
          if (cs == 0 && (cnb % 2 != 0 || cnb <= 1)) stop = true
          else {
            if (cs == 0) { cnb /= 2; cs = cnb }
            cs -= 1
            buf += ((cnb + cs) -> cs)
            steps += 1
          }
        }
        (cnb, cs, buf.result())
      }
    def phase[A](label: String)(body: => A): A =
      TableSync.phase("ts_" + label)(body)
    // Split ids exist only on the SPLIT path (k > 0). On a
    // level-normalizing contraction — (2n, 0) pre-normalizes to
    // (n, n) before its merge steps — the pointer arithmetic makes
    // sF a large value BELOW the normalized level, and reading it as
    // "splits s0 until sF" force-folded every bucket of the level:
    // a silent full-table rewrite on the first armed append (the
    // entire 15 s armed-append term the r12 ladder measured; the
    // repro showed fold=248 of 256 buckets for a 10-row batch).
    val splitIds =
      if (k > 0) (s0 until sF).toSet else Set.empty[Int]
    // THREE consumers replay the bucketed batch below (the touched
    // collect, the folding leg, the append leg) — a raw caller's
    // batch plan (a filtered source scan, or a whole delta aggregate)
    // would be recomputed per consumer. Materialize once, UNLESS the
    // plan is already cheap to rescan ([[cheapRescan]]), where the
    // extra job would be pure cost. Blocks are released after the
    // commit below.
    val bucketed0 = batch.withColumn(BucketCol,
      bucketExpr(keyCol, nbF, sF, hx))
    val ownCheckpoint = !cheapRescan(batch.queryExecution.analyzed)
    val bucketed =
      if (ownCheckpoint) bucketed0.localCheckpoint() else bucketed0
    // Touched buckets: bounded by numBuckets (a parameter), never by
    // data volume — the one driver-side collect in this sink. Splits
    // add their source bucket (read + redistributed) and its doubled
    // target (write-only); merges are METADATA-ONLY (below) and add
    // nothing.
    // micro-batch fast path: a caller holding the batch's keys as a
    // LocalRelation passes them in and the bucket set evaluates
    // driver-side (the projection folds via ConvertToLocalRelation —
    // zero jobs), through the SAME bucketExpr the distributed
    // derivation compiles
    val batchBuckets = phase("touched_collect") {
      localKeys match {
        case Some(lk) => lk
          .select(bucketExpr(keyCol, nbF, sF, hx).as(BucketCol))
          .collect().map(_.getInt(0)).toSet
        case None => bucketed.select(BucketCol).distinct()
          .collect().map(_.getInt(0)).toSet
      }
    }
    // Reverse merges move the removed bucket's generation list under
    // the target BY REFERENCE (`<snap>@<srcBucket>` entries — the
    // directory stays where the split-era write put it), with ZERO
    // data IO: all of the removed bucket's keys belong to the target
    // under the narrower scheme by the reverse-split identity, and
    // the read-side generation fold serves the union. The physical
    // fold lands on the normal maxGens cadence when a batch next
    // touches the bucket — so armed appends never pay
    // corpus-dependent merge reads (the r12 ladder measured the old
    // read-and-rewrite merges as the armed appends' entire slope),
    // while the scheme still contracts in the same bounded steps.
    val merged0: (Map[Int, Seq[String]], Map[Int, Long]) =
      (prev.map(_.entries).getOrElse(Map.empty),
        prev.map(_.sizes).getOrElse(Map.empty))
    val (prevGens, prevSizes) = mergedPairs.foldLeft(merged0) {
      case ((g, z), (removed, target)) =>
        val refs = g.getOrElse(removed, Nil).map(r =>
          if (r.contains("@")) r else s"$r@$removed")
        val tgt = g.getOrElse(target, Nil) ++ refs
        val zsum = z.getOrElse(target, 0L) + z.getOrElse(removed, 0L)
        ((g - removed) ++
          (if (tgt.nonEmpty) Map(target -> tgt) else Map.empty),
          (z - removed) ++
            (if (tgt.nonEmpty) Map(target -> zsum) else Map.empty))
    }
    // MERGE-ON-READ: a batch-touched bucket normally gains ONE delta
    // generation holding only the batch's rows — O(batch) write IO,
    // never a bucket rewrite (the first cut's copy-on-write rewrote
    // every touched bucket whole: corpus/numBuckets bytes per bucket
    // per micro-batch, the one surviving index-growth term the
    // dsyncp ladder's phase autopsy isolated). A bucket FOLDS back to
    // one generation when (a) a split moves it — splits need the
    // complete row set to redistribute — or (b) its generation count
    // would exceed `maxGens` (the read-side merge cost bound; a
    // merge-reference pile folds here too, the first time a batch
    // touches it). Folds per batch are therefore amortized
    // O(touched / maxGens) bucket rewrites, each <= maxBucketBytes.
    val foldForced: Set[Int] = splitIds ++ splitIds.map(_ + nb)
    val owed: Set[Int] = batchBuckets.filter(b =>
      prevGens.getOrElse(b, Nil).length + 1 > math.max(1, maxGens))
    // OWED-FOLD CADENCE for COLD @ref piles (contraction debt): a
    // reverse merge moves the removed bucket's generations under the
    // target by reference — zero IO then, a multi-generation read
    // until the pile folds. Touched piles heal through the maxGens
    // trigger above; a pile on a bucket no batch touches used to
    // wait forever. Repay up to `splitsPerBatch` untouched piles per
    // commit (largest recorded bytes first, bucket id as the
    // replay-stable tiebreak — both read from the PREVIOUS manifest,
    // so a replayed batch folds the identical set), EXCLUDING piles
    // created by THIS batch's merges (folding those same-batch would
    // re-pay exactly the read the metadata-only merge avoided). A
    // mid-contraction table therefore converges to single-generation
    // buckets within piles/splitsPerBatch commits, touch or no touch.
    val freshTargets = mergedPairs.map(_._2).toSet
    val refOwed: Set[Int] = prevGens.toSeq
      .filter { case (b, gens) =>
        gens.exists(_.contains("@")) && !batchBuckets(b) &&
          !foldForced(b) && !freshTargets(b)
      }
      .map { case (b, _) => (b, prevSizes.getOrElse(b, 0L)) }
      .sortBy { case (b, sz) => (-sz, b) }
      .take(splitsPerBatch)
      .map(_._1).toSet
    val foldSet: Set[Int] = foldForced ++ owed ++ refOwed
    val appendSet: Set[Int] = batchBuckets -- foldSet
    val touched = (batchBuckets ++ foldForced ++ refOwed).toSeq.sorted
    // Fresh-directory rule: never overwrite a directory the current
    // manifest references ANYWHERE — not just via its own name
    // (crash-after-swap replay of this batch) but via any bucket's
    // generation list: a reused batchId (a stream restarted on a
    // fresh checkpoint restarts at 0; the batch entry takes synthetic
    // ids) would otherwise mode("overwrite") a snapshot directory
    // whose COLD buckets are still carried by reference, destroying
    // them while the commit succeeds. Walk replay suffixes until the
    // name is unreferenced.
    val referenced: Set[String] = prev.toSeq.flatMap(m =>
      m.name +: m.entries.values.flatten.map(refSnap).toSeq).toSet
    val snapName = Iterator.from(0)
      .map(r => if (r == 0) s"v$batchId" else s"v${batchId}r$r")
      .find(!referenced(_)).get
    // Previous rows of the FOLDING buckets only — every generation,
    // tagged with its generation ordinal so a `Latest` fold can break
    // same-version ties deterministically (newest generation wins;
    // batch rows outrank all stored generations). Generations served
    // by the same snapshot directory share one multi-path scan;
    // merge references resolve to their source bucket's directory.
    val prevRows: Option[DataFrame] =
      if (prev.isEmpty) None
      else {
        val leaves = foldSet.toSeq.sorted.flatMap(b =>
          prevGens.getOrElse(b, Nil).map(d => d -> b))
        val groups = leaves.groupBy(x => refSnap(x._1))
        if (groups.isEmpty) None
        else Some(groups.toSeq
          .sortBy { case (snap, _) => snapOrder(snap) }.reverse
          .map { case (snap, bs) =>
            spark.read.parquet(bs.map { case (ref, b) =>
              s"$path/${refDir(ref, b)}" }.distinct: _*)
              .withColumn(GenCol, lit(genOrd(snap)))
          }.reduce(_.unionByName(_, allowMissingColumns = true)))
      }
    // Schema evolution, the additive half CDC streams actually hit:
    // the union tolerates missing columns on EITHER side (old bucket
    // rows null-fill a new column; a source that dropped a column
    // null-fills it going forward rather than silently truncating
    // history). Newest-schema-first keeps stable column order;
    // buckets rewritten later simply carry the widened schema, and
    // readers re-align by name.
    val batchTagged = bucketed.withColumn(GenCol, lit(Long.MaxValue))
    val folding = prevRows match {
      case Some(p) =>
        // re-bucketing at the NEW scheme is the evolution itself: a
        // split bucket's previous rows redistribute over its two
        // targets here, a merged bucket's rows fold into their
        // target, and nothing else moves
        p.withColumn(BucketCol, bucketExpr(keyCol, nbF, sF, hx))
          .unionByName(
            batchTagged.filter(col(BucketCol).isin(foldSet.toSeq: _*)),
            allowMissingColumns = true)
      case None =>
        batchTagged.filter(col(BucketCol).isin(foldSet.toSeq: _*))
    }
    // The merge window partitions by (bucket, key) with the rows
    // pre-clustered BY BUCKET: bucket is a pure function of the key
    // under the batch's scheme (both legs carry BucketCol computed at
    // (nbF, sF, hx)), so the grouping — and therefore the fold — is
    // row-identical to the old partitionBy(key) form, but the ONE
    // exchange each leg pays now lands the rows clustered the way the
    // `partitionBy(BucketCol)` write needs them: one file per bucket
    // per task instead of one file per (task, bucket) — the
    // hash-distribution write mode (guide §6). HashPartitioning on
    // BucketCol alone satisfies the window's (bucket, key) clustering,
    // so no second exchange appears (plan-checked). Per-task work is
    // bounded: a fold reads <= maxBucketBytes per bucket when the
    // split trigger is armed; disarmed tables keep the caller's
    // bucket sizing responsibility they always had. A summing merge
    // groups instead of windowing, on the same clustering.
    val byKey = Seq(BucketCol, keyCol)
    val foldedRows =
      resolve(folding.repartition(col(BucketCol)), merge, verCol, byKey)
    // Append buckets: the batch's own rows, one-row-per-key within
    // the generation (same fold, batch-sized — keeps every stored
    // generation internally resolved so sizes and reads stay tight)
    val appendRows = resolve(batchTagged
      .filter(col(BucketCol).isin(appendSet.toSeq: _*))
      .repartition(col(BucketCol)), merge, verCol, byKey)
    val snap = foldedRows
      .unionByName(appendRows, allowMissingColumns = true)
    phase("snap_write") {
      snap.write.mode("overwrite").partitionBy(BucketCol)
        .parquet(s"$path/$snapName")
    }
    // Entries and sizes derive from the directories the write ACTUALLY
    // produced (one listing + one content summary per touched bucket —
    // parameter-bounded): a split can leave either half legitimately
    // empty (partitionBy writes no dir), and a manifest must never
    // reference a directory that does not exist.
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val written: Map[Int, Long] = phase("written_summary") {
      fs.listStatus(new Path(s"$path/$snapName"))
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(BucketCol + "="))
        .map(st => st.getPath.getName.stripPrefix(BucketCol + "=").toInt ->
          fs.getContentSummary(st.getPath).getLength)
        .toMap
    }
    // Folded buckets reset to one generation; appended buckets extend
    // their list. Sizes: a folded bucket's size is its fresh bytes;
    // an appended bucket accumulates (and an UNKNOWN prior size stays
    // unknown — a delta on top of unmeasured bytes is still
    // unmeasured, and the contraction guard must keep seeing that).
    val entries0: Map[Int, Seq[String]] =
      (prevGens -- touched) ++ written.keys.map { b =>
        if (appendSet(b)) b -> (prevGens.getOrElse(b, Nil) :+ snapName)
        else b -> Seq(snapName)
      }
    val sizes0: Map[Int, Long] =
      (prevSizes -- touched) ++ written.flatMap { case (b, len) =>
        if (!appendSet(b) || prevGens.getOrElse(b, Nil).isEmpty)
          Some(b -> len)
        else prevSizes.get(b).map(s => b -> (s + len))
      }
    // Empty FIRST batch (legitimate: a stream can open on a quiet
    // source, or a dedup pairs table can have nothing to say yet):
    // partitionBy of zero rows writes no bucket directory, which
    // would commit a zero-entry manifest no reader can serve — there
    // is no schema anywhere. Write bucket 0 explicitly as an empty
    // parquet dir so the manifest always references real files.
    val (entries, sizes) =
      if (entries0.nonEmpty) (entries0, sizes0)
      else {
        snap.drop(BucketCol).write.mode("overwrite")
          .parquet(s"$path/$snapName/$BucketCol=0")
        (Map(0 -> Seq(snapName)), Map(0 -> 0L))
      }
    // the snapshot directory (and any fallback empty bucket) is fully
    // on disk; the manifest that makes it visible has not been written
    graft.FaultPoints.reach("TableSync.snap")
    // Level completion: every bucket of this level has split, and
    // (nb, nb) is by construction the same key->bucket mapping as
    // (2nb, 0) — normalize so the next level's pointer starts clean.
    // (Contraction pre-normalizes downward in its step loop, so sF
    // never reaches nbF on the merge path.)
    val (cn, cs) = if (sF == nbF) (nbF * 2, 0) else (nbF, sF)
    phase("commit_pointer") {
      commitPointer(spark, path, prev.map(_.name),
        Manifest(snapName, cn, entries, cs, sizes, hx,
          Some(keyCol), Some(verCol), merge))
    }
    phase("gc") { gc(spark, path, batchId) }
    // free the bucketed batch's checkpoint blocks — ONLY when this
    // call created them (a cheap-rescan batch may itself contain the
    // CALLER's checkpoint, whose blocks the caller still owns):
    // nothing references the frame past the commit, and a long-lived
    // stream must not accumulate one generation of blocks per batch
    if (ownCheckpoint)
      bucketed.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach(_.unpersist(blocking = false))
    // batch fully applied (commit + retention); a crash here replays
    // into the idempotent no-op path
    graft.FaultPoints.reach("TableSync.done")
  }

  /** The table's current bucket scheme `(numBuckets, split)` —
    * effective bucket count is the sum. Observability for the split
    * machinery (specs and ladder stages assert evolution through it).
    */
  def bucketScheme(spark: SparkSession, path: String): (Int, Int) = {
    val m = currentManifest(spark, path)
      .getOrElse(throw new IllegalStateException(
        s"no _CURRENT pointer under $path — table never initialized"))
    (m.numBuckets, m.split)
  }

  /** Offline maintenance: rewrite the WHOLE table at a new bucket
    * count in one commit — the coarse complement to the incremental
    * split/merge path (use it to re-base a badly-sized table in one
    * shot, or to move to a count the power-of-two merge arithmetic
    * cannot reach). The rewrite lands in a fresh
    * replay variant of the current snapshot and swaps atomically
    * under the usual lock, so readers never see a mixed scheme and a
    * concurrent writer fails loudly. O(table) IO by design — on a
    * huge table prefer letting `maxBucketBytes` splits spread the
    * same work across batches.
    */
  def rebucket(spark: SparkSession, path: String, keyCol: String,
      newNumBuckets: Int): Unit = {
    require(newNumBuckets > 0, "newNumBuckets must be positive")
    val prev = currentManifest(spark, path)
      .getOrElse(throw new IllegalStateException(
        s"no _CURRENT pointer under $path — table never initialized"))
    prev.keyCol.foreach(k => require(k == keyCol,
      s"table at $path is keyed by '$k' (manifest) but rebucket was " +
        s"called with keyCol='$keyCol' — a wrong-column re-base " +
        "splits every logical key across buckets permanently"))
    val snapName = prev.name match {
      case SnapName(b, r) =>
        s"v${b}r${Option(r).map(_.toInt).getOrElse(0) + 1}"
    }
    readManifest(spark, path, prev)
      .withColumn(BucketCol,
        bucketExpr(keyCol, newNumBuckets, 0, prev.hashHex))
      // cluster by bucket before the partitioned write (one file per
      // bucket per task, not per (task, bucket)); the deterministic
      // key-hash salt keeps a re-based bucket from collapsing into
      // ONE task — unlike applyBatch's folds, a rebucket target has
      // no maxBucketBytes bound
      .repartition(col(BucketCol),
        pmod(xxhash64(col(keyCol)), lit(1024L)))
      .write.mode("overwrite").partitionBy(BucketCol)
      .parquet(s"$path/$snapName")
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val written: Map[Int, Long] =
      fs.listStatus(new Path(s"$path/$snapName"))
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(BucketCol + "="))
        .map(st => st.getPath.getName.stripPrefix(BucketCol + "=").toInt ->
          fs.getContentSummary(st.getPath).getLength)
        .toMap
    val (entries, sizes) =
      if (written.nonEmpty)
        (written.map { case (b, _) => b -> Seq(snapName) }, written)
      else { // empty table keeps its readable empty bucket 0
        val (b, dirs) = prev.entries.toSeq.minBy(_._1)
        spark.read.parquet(s"$path/${refDir(dirs.last, b)}")
          .limit(0).write.mode("overwrite")
          .parquet(s"$path/$snapName/$BucketCol=0")
        (Map(0 -> Seq(snapName)), Map(0 -> 0L))
      }
    commitPointer(spark, path, Some(prev.name),
      Manifest(snapName, newNumBuckets, entries, 0, sizes, prev.hashHex,
        Some(keyCol), prev.verCol, prev.merge))
    batchOf(snapName).foreach(gc(spark, path, _))
  }

  /** Retention: keep the manifests of this batch and the two previous
    * (all replay variants), then delete only snapshot directories no
    * retained manifest references — untouched buckets keep old
    * directories alive for as long as a retained manifest points at
    * them.
    */
  private def gc(spark: SparkSession, path: String, batchId: Long): Unit = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val st = fs.listStatus(new Path(path))
    val manifests = st.filterNot(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith(ManifestPrefix))
    val (retained, expired) = manifests.partition(n =>
      batchOf(n.stripPrefix(ManifestPrefix)).exists(_ >= batchId - 2))
    val referenced: Set[String] = retained.flatMap { n =>
      val m = parseManifest(readFile(fs, new Path(path, n)))
      m.entries.values.flatten.map(refSnap).toSeq :+ m.name
    }.toSet
    expired.foreach(n => fs.delete(new Path(path, n), false))
    st.filter(_.isDirectory).map(_.getPath)
      .filter(p => batchOf(p.getName).exists(_ < batchId - 2) &&
        !referenced.contains(p.getName))
      .foreach(fs.delete(_, true))
  }

  /** Conditional atomic pointer swap under an exclusive lock.
    *
    * `FileSystem.createNewFile` on `_LOCK` is atomic
    * create-exclusive, so only one writer can be inside the
    * read-check-swap at a time; the expected-pointer check then
    * catches a writer whose merge predates another's committed fold.
    * Either failure mode throws — never last-swap-wins. The archived
    * `_MANIFEST_<snap>` copy (time travel) is written before the
    * `_CURRENT` swap; a crash between the two leaves an orphan
    * archive whose content a replay rewrites identically
    * (idempotence), never a torn pointer.
    */
  private[streaming] def commitPointer(
      spark: SparkSession, path: String, expectedPrev: Option[String],
      manifest: Manifest): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    val lock = fs.makeQualified(new Path(path, "_LOCK"))
    // createExclusive, not createNewFile: the latter is exists-check-
    // then-create, so a real racing writer THREW FileAlreadyExists
    // from the window instead of losing cleanly (found by the
    // round-16 two-writer race spec)
    if (!graft.AtomicFiles.createExclusive(fs, lock))
      throw new java.util.ConcurrentModificationException(
        s"commit lock $lock already exists — another writer is " +
          "mid-commit, or a writer crashed inside its commit window; " +
          "verify no writer is alive, then delete the lock file " +
          "(this sink is single-writer)")
    graft.FaultPoints.lockAcquired(lock.toString)
    try {
      // stray-tmp hygiene, under the lock (where no OTHER writer can
      // have an in-flight tmp at this root — commitPointer is the only
      // AtomicFiles writer here, and it is exclusive): a writer that
      // crashed between tmp-create and rename strands a unique
      // `_CURRENT.<pid>-<seq>.tmp` / `_MANIFEST_*.tmp` that nothing
      // else sweeps (gc collects only _MANIFEST_-prefixed files), so
      // strands would otherwise accumulate unboundedly across crashes.
      fs.listStatus(new Path(path)).iterator
        .filter(st => !st.isDirectory &&
          st.getPath.getName.endsWith(".tmp"))
        .foreach(st => fs.delete(st.getPath, false))
      val nowName = currentManifest(spark, path).map(_.name)
      if (nowName != expectedPrev)
        throw new java.util.ConcurrentModificationException(
          s"concurrent writer detected under $path: pointer moved from " +
            s"${expectedPrev.getOrElse("<none>")} to " +
            s"${nowName.getOrElse("<none>")} since this batch read its " +
            "snapshot — refusing to swap (this sink is single-writer)")
      // bootstrap identity: the FIRST commit stamps a write-once
      // `_BORN` marker (uuid) — the token JVM-lifetime caches key on
      // (see bootstrapToken), so a table deleted and recreated at the
      // same path can never be served another table's cached
      // parameters. Re-written idempotently if a crash lands between
      // it and the pointer swap (the table has no committed state yet,
      // so a fresh uuid only invalidates harder). A LEGACY table
      // (committed history, no marker — bootstrapped before the
      // marker existed, or restored/copied in without it) is
      // RETRO-STAMPED here, once, at its next commit: its
      // content-derived fallback token changes with every commit,
      // which defeats the JVM-lifetime caches for as long as the
      // table stays markerless (a full re-consult per micro-batch on
      // an actively-written index — the very cost the cache removes).
      // Stamping is safe mid-history: the token flips once (content
      // token -> uuid), a cache invalidation in the safe direction.
      if (nowName.isEmpty || !fs.exists(new Path(path, BornFile))) {
        graft.AtomicFiles.write(fs, conf, new Path(path, BornFile),
          java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
        graft.FaultPoints.reach("TableSync.commit.born")
      }
      // the chain link: `prev` records the manifest this commit
      // replaces — stamped HERE (the one site every commit routes
      // through) so readVersion's committed-chain walk can never be
      // starved by a construction site that forgot it
      val payload = manifest.copy(prev = nowName).serialize
        .getBytes("UTF-8")
      // the ARCHIVE gets the same tmp+rename as the pointer: a torn
      // archive still parses (truncated at a row boundary) as a
      // partial table, and readVersion prefers the newest variant —
      // a crash mid-write would silently un-reproduce that version
      graft.AtomicFiles.write(fs, conf,
        new Path(path, ManifestPrefix + manifest.name), payload)
      // archive durable, pointer not yet swapped — the batch is NOT
      // committed here; nothing may treat the archive as applied
      graft.FaultPoints.reach("TableSync.commit.archive")
      // the pointer swap routes through AtomicFiles: unique tmp +
      // scheme-aware atomic overwrite (POSIX rename(2) on the local
      // FS, where Hadoop's OVERWRITE decomposes into delete+rename
      // and a reader could observe a MISSING pointer mid-swap)
      graft.AtomicFiles.write(fs, conf, new Path(path, "_CURRENT"),
        payload)
      // pointer swapped — the batch IS committed; everything after
      // (gc, post-commit maintenance) is owed work replays repay
      graft.FaultPoints.reach("TableSync.commit.swap")
    } finally graft.FaultPoints.lockReleased(lock.toString) {
      fs.delete(lock, false); ()
    }
  }

  /** The table's bootstrap identity: the `_BORN` marker the FIRST
    * commit stamps (uuid, write-once for the table's life — retention
    * never touches it). JVM-lifetime caches keyed by table path
    * compare this token so a table deleted and recreated at the same
    * path invalidates them (the ParamDegradeSpec shape: an externally
    * rebuilt, metadata-stripped index must not be served the previous
    * index's cached parameters). Tables bootstrapped before the
    * marker existed get a CONTENT-derived token — the `_CURRENT`
    * pointer's manifest name plus its mtime — not a shared constant:
    * with a constant, a delete-and-recreate where the rebirth ALSO
    * lacks `_BORN` (restored from a pre-marker backup, or copied in
    * externally rather than committed through TableSync) would reuse
    * the dead incarnation's token and the caches would serve its
    * parameters — the exact hole the token closes for marked tables.
    * Any rebirth changes the pointed manifest name or its mtime, so
    * the content token flips; a recreate committed THROUGH TableSync
    * flips harder (first commit stamps a fresh `_BORN` uuid). The
    * content token is transitional by construction: commitPointer
    * retro-stamps `_BORN` at a legacy table's next commit, so only
    * READ-ONLY legacy tables stay on it — for those the per-commit
    * token flip that would defeat the caches cannot occur (nothing
    * commits).
    */
  def bootstrapToken(spark: SparkSession, path: String): String = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val p = new Path(path, BornFile)
    graft.AtomicFiles.read(fs, p).getOrElse {
      val cur = new Path(path, "_CURRENT")
      graft.AtomicFiles.read(fs, cur).fold("<legacy:unborn>")(m =>
        // the pointed manifest's NAME (not the full payload — the
        // token is a long-lived cache-key component, and the payload
        // is the whole per-bucket entry map) plus the pointer's mtime
        s"<legacy:${parseManifest(m).name}" +
          s":${fs.getFileStatus(cur).getModificationTime}>")
    }
  }

  /** Walk the commit chain (`prev` links) from the `_CURRENT` pointer
    * down through retained archives: Some(true) when a variant of
    * `version` is ON the chain (committed), Some(false) when the walk
    * passed BELOW it without meeting it (a phantom between committed
    * batches — reachable only for direct applyBatch callers using
    * gapped batch ids, but "reachable" is enough), None when the
    * chain ends (legacy manifests without links, or an expired
    * archive) before a verdict — callers fall back to the pointer
    * bound. Bounded by retention: at most the retained manifests.
    */
  private def chainVerdict(fs: FileSystem, path: String,
      pointer: Manifest, version: Long): Option[Boolean] = {
    var m = pointer
    var hops = 0
    while (hops < 10000) {
      hops += 1
      val b = batchOf(m.name)
      if (b.contains(version)) return Some(true)
      if (b.exists(_ < version)) return Some(false)
      m.prev match {
        case None => return None
        case Some(p) =>
          val prev =
            graft.AtomicFiles.read(fs, new Path(path, ManifestPrefix + p))
          if (prev.isEmpty) return None
          m = parseManifest(prev.get)
      }
    }
    None
  }

  /** Batch ids the table has actually COMMITTED — [[versions]] capped
    * at the `_CURRENT` pointer's batch. The pointer swap is the
    * commit point; the archived manifest lands BEFORE the swap (so
    * time travel can never lose the version the pointer names) —
    * which means an archive can exist for a batch whose commit never
    * happened (a crash inside the commit window, between the archive
    * write and the pointer rename). A sink that reads "archived" as
    * "applied" no-ops that batch's replay and silently drops its
    * data — found by CrashFaultInjectionSpec's very first walk of
    * `TableSync.commit.archive` (round 16), after three rounds of
    * manual review missed it. Sinks gate on THIS; [[versions]] is for
    * time travel only.
    */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] =
    currentManifest(spark, path) match {
      case None => Seq.empty
      case Some(m) =>
        val cur = batchOf(m.name).getOrElse(Long.MinValue)
        versions(spark, path).filter(_ <= cur)
    }

  /** Retained snapshot batch ids (ascending, replay variants deduped)
    * — from the archived manifests, the unit of time travel. NOT the
    * applied-check: see [[committedVersions]].
    */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(path))) Seq.empty
    else fs.listStatus(new Path(path))
      .filterNot(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(ManifestPrefix))
      .flatMap(n => batchOf(n.stripPrefix(ManifestPrefix)))
      .distinct.sorted.toSeq
  }

  /** Time-travel read of a specific retained snapshot — the audit /
    * reproduce-yesterday's-training-set path. Fails loudly when the
    * version fell out of retention (a silent fallback to current
    * would un-reproduce the run it exists to reproduce) — and when
    * the version was never COMMITTED: the archive lands before the
    * pointer swap, so a crash inside the commit window leaves a
    * phantom archive whose batch the sinks will re-run (or a
    * restarted stream abandoned); serving it as history would
    * "reproduce" a dataset no reader ever saw. Resolves the archived
    * manifest of that batch: each bucket reads from the directory
    * that last rewrote it AS OF the requested batch. If the current
    * pointer names a replay variant of the requested batch, that
    * variant's manifest is read; all variants hold identical content
    * by idempotence.
    */
  def readVersion(
      spark: SparkSession, path: String, version: Long): DataFrame = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val variants =
      if (!fs.exists(new Path(path))) Array.empty[String]
      else fs.listStatus(new Path(path))
        .filterNot(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith(ManifestPrefix))
        .map(_.stripPrefix(ManifestPrefix))
        .filter(n => batchOf(n).contains(version))
    if (variants.isEmpty) throw new IllegalStateException(
      s"snapshot v$version not retained under $path " +
        s"(have: ${versions(spark, path).mkString(", ")})")
    val pointer = currentManifest(spark, path)
    val committed = pointer.flatMap(m => batchOf(m.name))
    if (!committed.exists(_ >= version)) throw new IllegalStateException(
      s"snapshot v$version under $path is archived but NOT committed " +
        s"(pointer is at ${committed.map("v" + _).getOrElse("<none>")})" +
        " — a crash inside the commit window left it; the batch will " +
        "re-commit on replay, or was abandoned by a restarted stream")
    // Below-pointer phantoms: the pointer bound alone accepts an
    // archive BETWEEN committed batches whose own commit never
    // happened (gapped applyBatch ids — a later batch committed while
    // an intermediate crashed inside its commit window). Walk the
    // commit chain (`prev` links stamped by every commit): on the
    // chain = committed; passed below it = phantom, refuse; chain
    // ends without a verdict (legacy manifests, expired links) =
    // keep the pointer bound — never stricter for pre-chain tables.
    val fsv = fs
    if (pointer.exists(m =>
        chainVerdict(fsv, path, m, version).contains(false)))
      throw new IllegalStateException(
        s"snapshot v$version under $path is archived but NOT on the " +
          "commit chain — a later batch committed while this one's " +
          "crash left only its archive (gapped batch ids); serving it " +
          "would reproduce a dataset no reader ever saw")
    val cur = currentManifest(spark, path).map(_.name)
    val name = cur.filter(variants.contains)
      .getOrElse(variants.maxBy(snapOrder))
    readManifest(spark, path, parseManifest(
      readFile(fs, new Path(path, ManifestPrefix + name))))
  }

  /** Schema of ONE current bucket generation — the cheap path for
    * metadata probes (column metadata like the vector sink's LSH
    * parameters rides every generation), costing a manifest read plus
    * one directory's footer instead of planning the full multi-path
    * snapshot scan. NOT schema-evolution-aware: a column added after
    * the sampled bucket's last rewrite may be missing — callers that
    * need the union schema read the snapshot.
    */
  def sampleSchema(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val m = currentManifest(spark, path)
      .getOrElse(throw new IllegalStateException(
        s"no _CURRENT pointer under $path — table never initialized"))
    val (b, dirs) = m.entries.toSeq.minBy(_._1)
    spark.read.parquet(s"$path/${refDir(dirs.last, b)}").schema
  }

  /** The current consistent snapshot (errors if the table was never
    * written — callers own bootstrap).
    */
  def readCurrent(spark: SparkSession, path: String): DataFrame =
    currentManifest(spark, path)
      .map(readManifest(spark, path, _))
      .getOrElse(throw new IllegalStateException(
        s"no _CURRENT pointer under $path — table never initialized"))

  /** Current rows for the BUCKETS the given keys hash to — the
    * sub-table READ that pairs with applyBatch's sub-table write: a
    * maintenance fold touching k keys scans <= min(k, numBuckets)
    * bucket directories, never the table. The result is a superset of
    * the requested keys (a bucket holds other keys too) — callers
    * key-filter it. The bucket collect is bounded by numBuckets, the
    * same bounded driver set applyBatch already collects.
    */
  def readCurrentForKeys(spark: SparkSession, path: String,
      keys: DataFrame, keyCol: String): DataFrame = {
    val m = currentManifest(spark, path)
      .getOrElse(throw new IllegalStateException(
        s"no _CURRENT pointer under $path — table never initialized"))
    val touched = keys
      .select(bucketExpr(keyCol, m.numBuckets, m.split, m.hashHex)
        .as(BucketCol))
      .distinct().collect().map(_.getInt(0)).toSet
    val sub = m.copy(entries = m.entries.filter {
      case (b, _) => touched(b)
    })
    if (sub.entries.isEmpty) readCurrent(spark, path).limit(0)
    else readManifest(spark, path, sub)
  }

  /** Union the bucket directories a manifest references, then apply
    * the merge-on-read fold: a bucket with several delta GENERATIONS
    * resolves under the table's [[Merge]] (for `Latest`,
    * max-version-per-key, same-version ties to the newest generation
    * in batch order) — the exact fold applyBatch performs when it
    * compacts the bucket, so a read before and after a fold is
    * identical. Generations served by the same snapshot write
    * share a schema and batch into one multi-path scan; the common
    * fully-folded case is a plain union with NO merge window, so
    * steady-state read plans are unchanged. Groups union
    * newest-schema-first so a widened column leads the output order
    * and older buckets null-fill.
    */
  private def readManifest(
      spark: SparkSession, path: String, m: Manifest): DataFrame = {
    // The merge window is scoped to the MULTI-GENERATION buckets
    // only: a key maps to exactly one bucket under the current
    // scheme, so single-generation buckets (the steady-state
    // majority — folds keep gen counts at 1 for untouched regions)
    // bypass the fold entirely and read as a plain multi-path scan.
    // Without the scoping, one delta-carrying bucket put the WHOLE
    // table through a window shuffle per read — a 14% bench tax at
    // fixture scale, measured.
    def scan(leaves: Seq[(String, Int)], tagGen: Boolean): Option[DataFrame] =
      if (leaves.isEmpty) None
      else Some(leaves.groupBy(x => refSnap(x._1)).toSeq
        .sortBy { case (snap, _) => snapOrder(snap) }.reverse
        .map { case (snap, bs) =>
          val df = spark.read.parquet(
            bs.map { case (ref, b) =>
              s"$path/${refDir(ref, b)}" }.distinct: _*)
          if (tagGen) df.withColumn(GenCol, lit(genOrd(snap))) else df
        }
        .reduce(_.unionByName(_, allowMissingColumns = true)))
    val (multi, single) = m.entries.toSeq.partition(_._2.length > 1)
    val plain = scan(
      single.flatMap { case (b, dirs) => dirs.map(d => d -> b) },
      tagGen = false)
    val folded = scan(
      multi.flatMap { case (b, dirs) => dirs.map(d => d -> b) },
      tagGen = true
    ).map { u =>
      val (k, v) = m.keyCol.zip(m.verCol).getOrElse(
        throw new IllegalStateException(
          s"multi-generation manifest under $path records no " +
            "key/version columns — manifest corrupted or written " +
            "by an incompatible version"))
      resolve(u, m.merge, v, Seq(k))
    }
    (folded, plain) match {
      // folded side first: it carries the newest batch's (possibly
      // widened) schema, so a new column leads the output order
      case (Some(f), Some(p)) =>
        f.unionByName(p, allowMissingColumns = true)
      case (Some(f), None) => f
      case (None, Some(p)) => p
      case (None, None) =>
        throw new IllegalStateException(
          s"manifest under $path references no bucket directories")
    }
  }

  /** A metadata file the caller knows exists (listed, or named by a
    * committed manifest): a missing one fails loudly.
    */
  private[streaming] def readFile(fs: FileSystem, p: Path): String =
    graft.AtomicFiles.read(fs, p).getOrElse(
      throw new java.io.FileNotFoundException(s"$p is missing"))

  /** The manifest the `_CURRENT` pointer resolves to. None for a
    * never-initialized table — which includes a batch-0 bootstrap in
    * progress (v0 written, pointer not yet swapped; a crash there
    * replays batch 0 from scratch, correctly). A MISSING pointer with
    * batch>0 snapshots or archived manifests present, though, means a
    * pointer existed and something external deleted it (the atomic
    * overwrite swap never leaves this state); that fails loudly
    * rather than guessing a snapshot or, worse, letting the next
    * batch silently rebuild the table from its own rows alone.
    */
  private[streaming] def currentManifest(
      spark: SparkSession, path: String): Option[Manifest] = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val cur = new Path(path, "_CURRENT")
    graft.AtomicFiles.read(fs, cur).map(parseManifest).orElse {
      val stray =
        if (!fs.exists(new Path(path))) Array.empty[String]
        else fs.listStatus(new Path(path))
          .map(_.getPath.getName)
          .map(n => if (n.startsWith(ManifestPrefix))
            n.stripPrefix(ManifestPrefix) else n)
          .filter(n => batchOf(n).exists(_ > 0))
      if (stray.nonEmpty) throw new IllegalStateException(
        s"_CURRENT pointer missing under $path but snapshots exist " +
          s"(${stray.distinct.sorted.mkString(", ")}) — refusing to " +
          "guess; restore the pointer to the intended snapshot")
      None
    }
  }

  /** Enrich a micro-batch against the CURRENT dimension snapshot —
    * call from inside foreachBatch so each batch re-resolves the
    * pointer (a static DataFrame in a stream-static join binds ONE
    * snapshot for the whole query; slowly-changing dimensions need
    * the per-batch re-read). The dim side broadcasts.
    */
  def enriched(
      batch: DataFrame, dimPath: String, keys: Seq[String]): DataFrame =
    batch.join(
      broadcast(readCurrent(batch.sparkSession, dimPath)),
      keys, "left")
}

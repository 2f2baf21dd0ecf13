package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Dedup

class VecDedupSyncSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // 8-dim corpus whose planted dup groups straddle the id-mod-3 batch
  // boundaries (batches are ingested b = 0, 1, 2):
  //   b=0: {3, 6, 9}   b=1: {1, 4, 7}   b=2: {2, 5, 8}
  //  - direction A {1, 4, 8}: (1,4) within b1 (4 = 1.01*A, distinct
  //    bytes, cosine 1.0 — must travel the LSH path, not the
  //    equality bypass); 8 = A + eps arrives in b2 and must pair
  //    cross-batch against BOTH via the index probe;
  //  - exact dups {5, 9}: 9 indexed in b0, 5 arrives in b2 — probe
  //    orients (corpus 9, new 5), REVERSED vs canonical;
  //  - direction C {2, 7}: 7 indexed in b1, 2 = 1.5*C arrives in b2 —
  //    also reversed-arrival.
  // All other cosines sit far below the 0.9 threshold.
  private val A = Array(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)
  private val B = Array(8f, 7f, 6f, 5f, 4f, 3f, 2f, 1f)
  private val C = Array(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)
  private def rows: Seq[(Long, Seq[Float])] = Seq(
    1L -> A.toSeq,
    4L -> A.map(_ * 1.01f).toSeq,
    8L -> A.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + 0.01f else x }.toSeq,
    9L -> B.toSeq,
    5L -> B.toSeq,
    7L -> C.toSeq,
    2L -> C.map(_ * 1.5f).toSeq,
    3L -> Seq(1f, 1f, 1f, 1f, -1f, -1f, -1f, -1f),
    6L -> Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f, 9f))

  private def corpus = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def oneShot = pairSet(Dedup.embeddingDupPairs(
    corpus, "embedding", "vec_id", threshold = 0.9, dim = 8))

  private def apply1(batch: org.apache.spark.sql.DataFrame, ix: String,
      pr: String, b: Long, sigBits: Int = 16, numBuckets: Int = 256,
      maxBucketBytes: Long = DedupSync.DefaultMaxBucketBytes,
      splitsPerBatch: Int = TableSync.DefaultSplitsPerBatch): Unit =
    VecDedupSync.applyVecs(batch, ix, pr, "embedding", "vec_id", b,
      threshold = 0.9, dim = 8, sigBits = sigBits,
      numBuckets = numBuckets, maxBucketBytes = maxBucketBytes,
      splitsPerBatch = splitsPerBatch)

  test("3-batch vector stream equals the one-shot batch run (pairs " +
    "straddle every boundary, reversed arrivals store canonically)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val ix = Files.createTempDirectory("vsync-ix-").toString
    val pr = Files.createTempDirectory("vsync-pr-").toString
    val ck = Files.createTempDirectory("vsync-ck-").toString
    val q = VecDedupSync.vecSink(mem.toDF().toDF("vec_id", "embedding"),
      ix, pr, "embedding", "vec_id", ck, threshold = 0.9, dim = 8)
    (0 until 3).foreach { b =>
      mem.addData(rows.filter(_._1 % 3 == b): _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = pairSet(VecDedupSync.readPairs(spark, pr))
    assert(streamed == oneShot, s"stream $streamed\nvs batch $oneShot")
    assert(streamed.forall(p => p._1 < p._2), s"non-canonical $streamed")
    // reversed-arrival cross-batch pairs stored canonically
    assert(streamed.exists(p => p._1 == 5L && p._2 == 9L && p._3 == 1.0),
      "cross-batch exact pair (5,9) missing")
    assert(streamed.exists(p => p._1 == 2L && p._2 == 7L),
      "cross-batch reversed-arrival pair (2,7) missing")
    // normal orientation cross-batch probes
    assert(streamed.exists(p => p._1 == 1L && p._2 == 8L),
      "cross-batch pair (1,8) missing")
    assert(streamed.exists(p => p._1 == 1L && p._2 == 4L),
      "within-batch LSH pair (1,4) missing")
    assert(VecDedupSync.readIndex(spark, ix).count() == 9)
  }

  test("vecSink survives a kill + restart from checkpoint " +
    "(arrivals while down replay into the same end state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val ix = Files.createTempDirectory("vsync5-ix-").toString
    val pr = Files.createTempDirectory("vsync5-pr-").toString
    val ck = Files.createTempDirectory("vsync5-ck-").toString
    def startQuery() = VecDedupSync.vecSink(
      mem.toDF().toDF("vec_id", "embedding"), ix, pr, "embedding",
      "vec_id", ck, threshold = 0.9, dim = 8)
    val q1 = startQuery()
    // pre-kill batch holds 9 (5's exact twin) and filler
    mem.addData(rows.filter(_._1 % 3 == 0): _*)
    q1.processAllAvailable()
    q1.stop()
    // arrivals while the sink is down — their cross-batch partners
    // (8 pairs with 1 and 4; 2 pairs with 7; 5 pairs with pre-kill
    // 9) only arrive AFTER the restart
    mem.addData(rows.filter(_._1 % 3 == 1): _*)
    val q2 = startQuery()
    q2.processAllAvailable()
    mem.addData(rows.filter(_._1 % 3 == 2): _*)
    q2.processAllAvailable()
    q2.stop()
    val streamed = pairSet(VecDedupSync.readPairs(spark, pr))
    assert(streamed == oneShot, s"stream $streamed\nvs batch $oneShot")
    assert(VecDedupSync.readIndex(spark, ix).count() == 9)
  }

  test("replay after commit is a no-op; replay after pairs-committed-" +
    "index-not recomputes and converges to the uninterrupted state") {
    val ix = Files.createTempDirectory("vsync2-ix-").toString
    val pr = Files.createTempDirectory("vsync2-pr-").toString
    val b0 = corpus.filter(col("vec_id") % 3 === 0)
    val b1 = corpus.filter(col("vec_id") % 3 === 1)
    val b2 = corpus.filter(col("vec_id") % 3 === 2)
    apply1(b0, ix, pr, 0L)
    val v0 = TableSync.versions(spark, ix)
    val p0 = pairSet(VecDedupSync.readPairs(spark, pr))
    apply1(b0, ix, pr, 0L) // full replay: nothing changes
    assert(TableSync.versions(spark, ix) == v0)
    assert(pairSet(VecDedupSync.readPairs(spark, pr)) == p0)
    apply1(b1, ix, pr, 1L)
    // crash-between for batch 2: only the pairs directory lands (what
    // a crash after the first write leaves), then the redelivered
    // applyVecs must overwrite idempotently and commit the index
    val batchIdx = Dedup.vecDedupIndex(b2, "embedding", "vec_id",
      dim = 8).localCheckpoint()
    DedupSink.writeBatch(
      Dedup.incrementalVecPairs(VecDedupSync.readIndex(spark, ix),
        batchIdx, threshold = 0.9, dim = 8),
      pr, "cosine", 2L)
    apply1(b2, ix, pr, 2L)
    assert(TableSync.versions(spark, ix).max == 2L)
    assert(VecDedupSync.readIndex(spark, ix).count() == 9)
    assert(pairSet(VecDedupSync.readPairs(spark, pr)) == oneShot)
  }

  test("readKeepDecisions equals one-shot keeps; re-ingested id " +
    "replaces its index row without duplicating pairs") {
    val ix = Files.createTempDirectory("vsync3-ix-").toString
    val pr = Files.createTempDirectory("vsync3-pr-").toString
    (0 to 2).foreach { b =>
      apply1(corpus.filter(col("vec_id") % 3 === b), ix, pr, b.toLong)
    }
    val dec = VecDedupSync.readKeepDecisions(spark, ix, pr).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(dec.length == 9, s"every vector needs a decision: ${dec.toSeq}")
    val byId = dec.map(d => d._1 -> d._2).toMap
    assert(byId(4L) == 1L && byId(8L) == 1L && byId(9L) == 5L &&
      byId(7L) == 2L, s"labels $byId")
    assert(byId(3L) == 3L && byId(6L) == 6L)
    // re-ingest 5 (upstream replay, later batch): index row replaced,
    // reversed probe orientation (corpus 9 vs new 5) folds onto the
    // existing canonical fact
    import spark.implicits._
    apply1(Seq(5L -> B.toSeq).toDF("vec_id", "embedding"), ix, pr, 3L)
    val idx = VecDedupSync.readIndex(spark, ix)
    assert(idx.filter(col("id") === 5L).count() == 1)
    val pairs = VecDedupSync.readPairs(spark, pr).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length, s"dups in ${pairs.toSeq}")
    assert(pairs.count(_ == ((5L, 9L))) == 1)
    assert(!pairs.contains((9L, 5L)))
  }

  test("streaming probe REFINES overfull index buckets: planted " +
    "near-dups keep recall under a diverse flood — LSH granularity " +
    "evolves online alongside storage granularity") {
    import spark.implicits._
    val ix = Files.createTempDirectory("vsync6-ix-").toString
    val pr = Files.createTempDirectory("vsync6-pr-").toString
    // the DedupSpec flood, streamed: 300 diverse vectors at bits = 2
    // put ~75 rows in every base bucket (cap 8); the later batch's
    // ten 1e-4-perturbed probes only pair if the sink's probe
    // subdivides the stored deep signatures
    val rnd = new scala.util.Random(42)
    val flood = (1L to 300L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f).toSeq))
    val probes = (1L to 10L).map { i =>
      val base = flood((i - 1).toInt * 20)._2
      (1000L + i, base.map(x => x * (1f + 1e-4f)))
    }
    def ingest(df: org.apache.spark.sql.DataFrame, b: Long): Unit =
      VecDedupSync.applyVecs(df, ix, pr, "embedding", "vec_id", b,
        threshold = 0.99, bits = 2, dim = 8, maxBucketSize = 8)
    ingest(flood.toDF("vec_id", "embedding"), 0L)
    ingest(probes.toDF("vec_id", "embedding"), 1L)
    val got = VecDedupSync.readPairs(spark, pr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = probes.map(p => (p._1 - 1000L - 1) * 20 + 1)
      .zip(probes.map(_._1)).toSet
    assert(expect.subsetOf(got),
      s"streaming refinement lost planted pairs: ${expect -- got}")
  }

  test("index bucket scheme EVOLVES online beneath live vector " +
    "batches; pair results unchanged; batch signing follows the " +
    "STORED depth when the caller's knob drifts") {
    val ix = Files.createTempDirectory("vsync4-ix-").toString
    val pr = Files.createTempDirectory("vsync4-pr-").toString
    def evo(b: Long, df: org.apache.spark.sql.DataFrame,
        sigBits: Int): Unit =
      apply1(df, ix, pr, b, sigBits = sigBits, numBuckets = 16,
        maxBucketBytes = 1L, splitsPerBatch = 4)
    evo(0L, corpus.filter(col("vec_id") % 3 === 0), 16)
    assert(TableSync.bucketScheme(spark, ix) == ((16, 0)))
    // later batches pass a DIFFERENT sigBits knob — the sink must
    // sign at the stored 16-plane depth (knob drift cannot diverge a
    // live index) while storage splits advance beneath the stream
    evo(1L, corpus.filter(col("vec_id") % 3 === 1), 8)
    assert(TableSync.bucketScheme(spark, ix) == ((16, 4)))
    evo(2L, corpus.filter(col("vec_id") % 3 === 2), 4)
    assert(TableSync.bucketScheme(spark, ix) == ((16, 8)))
    val meta = VecDedupSync.readIndex(spark, ix).schema.fields
      .find(_.name == "sigs").get.metadata
    assert(meta.getLong("graft.lsh.sigbits") == 16L,
      "stored refinement depth must survive TableSync round-trips")
    assert(pairSet(VecDedupSync.readPairs(spark, pr)) == oneShot)
    assert(VecDedupSync.readIndex(spark, ix).count() == 9)
  }

  test("OccStats counters stay EXACTLY equal to the one-shot rep-" +
    "bucket aggregate across batches and re-ingestions — the pruned " +
    "probe's refinement map rests on this identity") {
    import spark.implicits._
    val ix = Files.createTempDirectory("vsync-occ-ix-").toString
    val pr = Files.createTempDirectory("vsync-occ-pr-").toString
    def aggOcc(): Map[(Int, Long), Long] =
      VecDedupSync.readIndex(spark, ix)
        .filter(col("id") === col("keep"))
        .select(posexplode(col("sigs")))
        .select(col("pos").cast("int").as("tbl"),
          col("col").bitwiseAND(lit(15L)).as("b"))
        .groupBy(col("tbl"), col("b")).agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    def storedOcc(v: Long): Map[(Int, Long), Long] =
      OccStats.read(spark, DedupSync.sidecarPath(ix), v).get
    (0 to 2).foreach { b =>
      apply1(corpus.filter(col("vec_id") % 3 === b), ix, pr, b.toLong)
      assert(storedOcc(b.toLong) == aggOcc(),
        s"counters diverged from the aggregate after batch $b")
    }
    // re-ingest id 5 with DIFFERENT content (old row: a batch-local
    // rep of the {5,9} exact pair's later arrival — decrements fire;
    // new row: a fresh direction — increments land elsewhere)
    apply1(Seq(5L -> Seq(9f, 0f, 1f, 0f, 2f, 0f, 3f, 0f))
      .toDF("vec_id", "embedding"), ix, pr, 3L)
    assert(storedOcc(3L) == aggOcc(), "re-ingest member->rep diverged")
    // re-ingest id 1 (a REP) with different content: decrements its
    // old buckets, increments the new ones
    apply1(Seq(1L -> Seq(0f, 9f, 0f, 8f, 0f, 7f, 0f, 6f))
      .toDF("vec_id", "embedding"), ix, pr, 4L)
    assert(storedOcc(4L) == aggOcc(), "re-ingest rep->rep diverged")
  }

  test("PREFILTER soundness under a LOOSE threshold: many candidate " +
    "pairs sit near the quantized bound, and the 4-batch stream " +
    "still equals one-shot exactly") {
    import spark.implicits._
    val ix = Files.createTempDirectory("vsync-pf-ix-").toString
    val pr = Files.createTempDirectory("vsync-pf-pr-").toString
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 200L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f).toSeq))
    val all = vecs.toDF("vec_id", "embedding")
    (0 to 3).foreach { b =>
      VecDedupSync.applyVecs(
        vecs.filter(_._1 % 4 == b).toDF("vec_id", "embedding"),
        ix, pr, "embedding", "vec_id", b.toLong,
        threshold = 0.35, dim = 8)
    }
    val streamed = pairSet(VecDedupSync.readPairs(spark, pr))
    val expect = pairSet(Dedup.embeddingDupPairs(
      all, "embedding", "vec_id", threshold = 0.35, dim = 8))
    assert(expect.nonEmpty, "fixture must actually produce pairs")
    assert(streamed == expect,
      s"missingFromStream=${expect -- streamed}\n" +
        s"extraInStream=${streamed -- expect}")
  }

  test("sidecar LAYOUT migration: a log whose _LAYOUT marker is " +
    "missing (pre-v2 segments) is dropped and rebuilt from the " +
    "committed snapshot; the stream still equals one-shot") {
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = Files.createTempDirectory("vsync-lay-ix-").toString
    val pr = Files.createTempDirectory("vsync-lay-pr-").toString
    apply1(corpus.filter(col("vec_id") % 3 === 0), ix, pr, 0L)
    apply1(corpus.filter(col("vec_id") % 3 === 1), ix, pr, 1L)
    val keys = new org.apache.hadoop.fs.Path(DedupSync.sidecarPath(ix))
    // simulate a pre-v2 sidecar: drop the marker (the segments then
    // cannot be trusted to carry ver/del/codes)
    fs.delete(new org.apache.hadoop.fs.Path(keys, "_LAYOUT"), false)
    apply1(corpus.filter(col("vec_id") % 3 === 2), ix, pr, 2L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(keys, "_LAYOUT")),
      "migration must re-stamp the layout marker")
    assert(pairSet(VecDedupSync.readPairs(spark, pr)) == oneShot)
    assert(VecDedupSync.readIndex(spark, ix).count() == 9)
  }

  test("sidecars AHEAD of the index commit (crash between sidecar " +
    "write and index swap): version-gated rows are invisible to the " +
    "replay's probe and the stream converges") {
    val ix = Files.createTempDirectory("vsync-ah-ix-").toString
    val pr = Files.createTempDirectory("vsync-ah-pr-").toString
    val b0 = corpus.filter(col("vec_id") % 3 === 0)
    val b1 = corpus.filter(col("vec_id") % 3 === 1)
    val b2 = corpus.filter(col("vec_id") % 3 === 2)
    apply1(b0, ix, pr, 0L)
    // crash-between for batch 1: pairs + ALL sidecars written
    // (VecLog keys at ver 1, payload rows at ver 1, member rows,
    // occ counters), index commit missing — exactly the state a
    // crash after v_sidecar_write leaves
    val batchIdx = Dedup.vecDedupIndex(b1, "embedding", "vec_id",
      dim = 8).localCheckpoint()
    DedupSink.writeBatch(
      Dedup.incrementalVecPairs(VecDedupSync.readIndex(spark, ix),
        batchIdx, threshold = 0.9, dim = 8),
      pr, "cosine", 1L)
    PayloadLog.append(batchIdx.withColumn("ver", lit(1L)), ix, 1L)
    // the redelivered batch 1 must version-gate those rows out of
    // its own probe (it probes the committed batch-0 state), then
    // overwrite them idempotently and commit
    apply1(b1, ix, pr, 1L)
    apply1(b2, ix, pr, 2L)
    assert(pairSet(VecDedupSync.readPairs(spark, pr)) == oneShot)
    assert(VecDedupSync.readIndex(spark, ix).count() == 9)
  }

  test("vector sidecar BACKFILL: wiping key log, member log, and " +
    "counters mid-stream rebuilds them from the committed snapshot " +
    "and the stream still equals one-shot") {
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = Files.createTempDirectory("vsync-bf-ix-").toString
    val pr = Files.createTempDirectory("vsync-bf-pr-").toString
    apply1(corpus.filter(col("vec_id") % 3 === 0), ix, pr, 0L)
    apply1(corpus.filter(col("vec_id") % 3 === 1), ix, pr, 1L)
    val keys = new org.apache.hadoop.fs.Path(DedupSync.sidecarPath(ix))
    val members = new org.apache.hadoop.fs.Path(
      ix.stripSuffix("/") + "_members")
    assert(fs.exists(keys) && fs.exists(members))
    fs.delete(keys, true); fs.delete(members, true)
    apply1(corpus.filter(col("vec_id") % 3 === 2), ix, pr, 2L)
    // batch 2's cross-boundary pairs (8<-{1,4}, 5<-9 exact, 2<-7)
    // must all land through the backfilled sidecars
    assert(pairSet(VecDedupSync.readPairs(spark, pr)) == oneShot)
    val segs = fs.listStatus(keys).map(_.getPath.getName)
      .filter(_.startsWith("seg_")).sorted.toSeq
    assert(segs.exists(_.contains("-L1")),
      s"backfill must write a folded segment, got $segs")
  }

  test("FORCED-PATH equality: the driver-resolved micro-batch probe " +
    "and the distributed probe produce identical pairs, index, and " +
    "occupancy — batch for batch") {
    def run(smallRows: Int): (Set[(Long, Long, Double)],
        Set[(Long, Long)], Map[(Int, Long), Long]) = {
      val ix = Files.createTempDirectory(s"vsync-fp$smallRows-ix-")
        .toString
      val pr = Files.createTempDirectory(s"vsync-fp$smallRows-pr-")
        .toString
      (0 to 2).foreach { b =>
        VecDedupSync.applyVecs(
          corpus.filter(col("vec_id") % 3 === b), ix, pr,
          "embedding", "vec_id", b.toLong, threshold = 0.9, dim = 8,
          smallBatchRows = smallRows)
      }
      // a re-ingest batch too: tombstones + decrements on both paths
      import spark.implicits._
      VecDedupSync.applyVecs(
        Seq(5L -> Seq(9f, 0f, 1f, 0f, 2f, 0f, 3f, 0f))
          .toDF("vec_id", "embedding"),
        ix, pr, "embedding", "vec_id", 3L, threshold = 0.9, dim = 8,
        smallBatchRows = smallRows)
      val pairs = pairSet(VecDedupSync.readPairs(spark, pr))
      val idx = VecDedupSync.readIndex(spark, ix)
        .select(col("id"), col("keep")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val occ = OccStats.read(spark, DedupSync.sidecarPath(ix), 3L).get
      (pairs, idx, occ)
    }
    val small = run(VecDedupSync.DefaultSmallBatchRows)
    val large = run(0) // smallBatchRows = 0 forces the r13 pipeline
    assert(small._1 == large._1,
      s"pairs diverged: small-only ${small._1 -- large._1}, " +
        s"large-only ${large._1 -- small._1}")
    assert(small._2 == large._2, "index diverged between paths")
    assert(small._3 == large._3, "occupancy diverged between paths")
  }

  test("KEY-LOG WIPE with surviving counters (partial restore): the " +
    "recovery probe reseeds the key log from the committed snapshot, " +
    "so LATER batches still pair against pre-wipe reps") {
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = Files.createTempDirectory("vsync-wipe-ix-").toString
    val pr = Files.createTempDirectory("vsync-wipe-pr-").toString
    apply1(corpus.filter(col("vec_id") % 3 === 0), ix, pr, 0L) // 3,6,9
    apply1(corpus.filter(col("vec_id") % 3 === 1), ix, pr, 1L) // 1,4,7
    val keys = new org.apache.hadoop.fs.Path(DedupSync.sidecarPath(ix))
    // wipe ONLY the key-log segments; occupancy counters and the
    // layout marker survive — the r13-advice partial-restore shape
    fs.listStatus(keys).map(_.getPath)
      .filter(_.getName.startsWith("seg_"))
      .foreach(p => fs.delete(p, true))
    assert(fs.listStatus(keys).exists(
      _.getPath.getName.startsWith("_occ_v")), "occ must survive")
    // batch 2a runs the full-probe recovery (and must reseed)
    import spark.implicits._
    apply1(Seq(5L -> B.toSeq).toDF("vec_id", "embedding"), ix, pr, 2L)
    // batch 2b probes the PRUNED path again: its partners (7 for 2;
    // 1 and 4 for 8) were indexed BEFORE the wipe and re-indexed
    // never — without the reseed their key rows are gone forever
    apply1(Seq(2L -> C.map(_ * 1.5f).toSeq,
        8L -> A.zipWithIndex.map { case (x, i) =>
          if (i == 0) x + 0.01f else x }.toSeq)
      .toDF("vec_id", "embedding"), ix, pr, 3L)
    val streamed = pairSet(VecDedupSync.readPairs(spark, pr))
    assert(streamed == oneShot,
      s"missing ${oneShot -- streamed} (pre-wipe partners lost?)")
  }

  test("PAYLOAD-LOG GAP (lost segment in a partial restore): the " +
    "coverage gate detects committed candidates with no payload row, " +
    "reseeds, and the stream still equals one-shot") {
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = Files.createTempDirectory("vsync-gap-ix-").toString
    val pr = Files.createTempDirectory("vsync-gap-pr-").toString
    apply1(corpus.filter(col("vec_id") % 3 === 0), ix, pr, 0L) // 3,6,9
    apply1(corpus.filter(col("vec_id") % 3 === 1), ix, pr, 1L) // 1,4,7
    val payload = new org.apache.hadoop.fs.Path(
      ix.stripSuffix("/") + "_payload")
    // lose batch 1''s payload segment only: ids 1/4/7 still resolve
    // through the key log, but their current rows are gone
    val seg1 = fs.listStatus(payload).map(_.getPath)
      .filter(_.getName.startsWith("seg_1-"))
    assert(seg1.nonEmpty, "fixture: batch-1 payload segment expected")
    seg1.foreach(p => fs.delete(p, true))
    apply1(corpus.filter(col("vec_id") % 3 === 2), ix, pr, 2L) // 2,5,8
    val streamed = pairSet(VecDedupSync.readPairs(spark, pr))
    assert(streamed == oneShot,
      s"missing ${oneShot -- streamed} (payload gap uncovered?)")
  }

  test("CRASH REPLAY does NOT fire a spurious payload reseed: the " +
    "crashed attempt's member rows list this batch's ids (keep = a " +
    "committed rep), their payload rows are version-gated invisible " +
    "— the coverage gate must exclude batch ids, not backfill") {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = Files.createTempDirectory("vsync-rp-ix-").toString
    val pr = Files.createTempDirectory("vsync-rp-pr-").toString
    val b0 = corpus.filter(col("vec_id") <= 2)
    apply1(b0, ix, pr, 0L)
    // crashed batch 1: id 10 duplicates committed id 1's vector. The
    // crash wrote EVERYTHING but the index commit — including the
    // member row binding id 10 under committed rep 1 (the member log
    // is not version-gated) and id 10's payload rows at ver 1
    val aVec = rows.toMap.apply(1L)
    val b1 = Seq(10L -> aVec).toDF("vec_id", "embedding")
    val batchIdx = Dedup.vecDedupIndex(b1, "embedding", "vec_id",
      dim = 8).localCheckpoint()
    KeyedLog.append(
      Seq((1L, 10L)).toDF("keep", "id")
        .select(xxhash64(col("keep")).as("bk"), col("keep"), col("id")),
      ix.stripSuffix("/") + "_members", 1L)
    PayloadLog.append(batchIdx.withColumn("ver", lit(1L)), ix, 1L)
    val payload = new org.apache.hadoop.fs.Path(
      ix.stripSuffix("/") + "_payload")
    def segsExceptBatch1: Seq[String] =
      fs.listStatus(payload).map(_.getPath.getName)
        .filter(n => n.startsWith("seg_") && !n.startsWith("seg_1-"))
        .sorted.toSeq
    val before = segsExceptBatch1
    // the redelivered batch: its member-log ghost (id 10 under rep 1)
    // must NOT trip the gate — a reseed here would be an O(index)
    // backfill on EVERY crash replay of a duplicate ingest
    apply1(b1, ix, pr, 1L)
    assert(segsExceptBatch1 == before,
      s"spurious reseed: payload segments changed from $before to " +
        s"$segsExceptBatch1")
    // and the replay converged: 10 pairs with 1 at cosine 1.0
    val pairs = pairSet(VecDedupSync.readPairs(spark, pr))
    assert(pairs.contains((1L, 10L, 1.0)), s"replay pairs: $pairs")
  }

  test("DISTRIBUTED-FETCH arm of the small probe (members past the " +
    "driver ceiling) still runs the payload coverage gate: a lost " +
    "segment reseeds instead of silently shrinking the candidates") {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = Files.createTempDirectory("vsync-df-ix-").toString
    val pr = Files.createTempDirectory("vsync-df-pr-").toString
    val aVec = rows.toMap.apply(1L)
    // batch 0: six exact copies — one rep (id 1) with six members,
    // so the member fetch (6) exceeds a ceiling of 4 while the
    // survivor collect (1 rep pair) stays within it: exactly the
    // !localFetch arm
    val flood = (1L to 6L).map(i => i -> aVec)
    apply1(flood.toDF("vec_id", "embedding"), ix, pr, 0L)
    val payload = new org.apache.hadoop.fs.Path(
      ix.stripSuffix("/") + "_payload")
    val seg0 = fs.listStatus(payload).map(_.getPath)
      .filter(_.getName.startsWith("seg_0-"))
    assert(seg0.nonEmpty, "fixture: batch-0 payload segment expected")
    seg0.foreach(p => fs.delete(p, true))
    System.setProperty("graft.test.maxDriverSurvivors", "4")
    try
      apply1(Seq(7L -> aVec).toDF("vec_id", "embedding"), ix, pr, 1L)
    finally System.clearProperty("graft.test.maxDriverSurvivors")
    val pairs = pairSet(VecDedupSync.readPairs(spark, pr))
    val want = (1L to 6L).map(i => (i, 7L, 1.0)).toSet
    assert(want.subsetOf(pairs),
      s"missing ${want -- pairs} (gap uncovered on the distributed " +
        "fetch arm?)")
  }

  test("RE-INGESTED id with a LOST committed payload row is caught " +
    "by the gate (the blind spot blanket batch-id exclusion left): " +
    "the capped member read proves the id committed, the reseed " +
    "restores its row, and occupancy still equals one-shot") {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = Files.createTempDirectory("vsync-ri-ix-").toString
    val pr = Files.createTempDirectory("vsync-ri-pr-").toString
    val aVec = rows.toMap.apply(1L)
    // batch 0 commits ids 1,2 (exact dups — members of rep 1)
    apply1(Seq(1L -> aVec, 2L -> aVec).toDF("vec_id", "embedding"),
      ix, pr, 0L)
    // partial restore: batch 0's payload segment is gone
    val payload = new org.apache.hadoop.fs.Path(
      ix.stripSuffix("/") + "_payload")
    fs.listStatus(payload).map(_.getPath)
      .filter(_.getName.startsWith("seg_0-"))
      .foreach(p => fs.delete(p, true))
    // batch 1 RE-INGESTS committed id 2 (same vector): id 2 reaches
    // the probe only through the member log — under the old blanket
    // exclusion its lost row was never gated and the stale state
    // survived silently; the capped read keeps it in `want`
    apply1(Seq(2L -> aVec).toDF("vec_id", "embedding"), ix, pr, 1L)
    val pairs = pairSet(VecDedupSync.readPairs(spark, pr))
    assert(pairs.contains((1L, 2L, 1.0)), s"pairs: $pairs")
    // the reseed restored the payload log: a THIRD batch probing the
    // same cluster fetches complete current rows
    apply1(Seq(10L -> aVec).toDF("vec_id", "embedding"), ix, pr, 2L)
    val pairs2 = pairSet(VecDedupSync.readPairs(spark, pr))
    assert(pairs2.contains((1L, 10L, 1.0)) &&
      pairs2.contains((2L, 10L, 1.0)), s"pairs after reseed: $pairs2")
  }

  test("EMPTY micro-batch flows through the driver-resolved path as " +
    "a no-op commit") {
    import spark.implicits._
    val ix = Files.createTempDirectory("vsync-empty-ix-").toString
    val pr = Files.createTempDirectory("vsync-empty-pr-").toString
    apply1(corpus.filter(col("vec_id") % 3 === 0), ix, pr, 0L)
    apply1(corpus.filter(col("vec_id") % 3 === 1).limit(0), ix, pr, 1L)
    assert(TableSync.versions(spark, ix).max == 1L)
    apply1(corpus.filter(col("vec_id") % 3 === 1), ix, pr, 2L)
    apply1(corpus.filter(col("vec_id") % 3 === 2), ix, pr, 3L)
    assert(pairSet(VecDedupSync.readPairs(spark, pr)) == oneShot)
    assert(VecDedupSync.readIndex(spark, ix).count() == 9)
  }

  test("a restart with DRIFTED LSH geometry knobs signs at the " +
    "STORED geometry (index metadata wins): cross-boundary pairs " +
    "survive a bits/tables change that would otherwise silently " +
    "lose them") {
    val ix = Files.createTempDirectory("vsync-drift-ix-").toString
    val pr = Files.createTempDirectory("vsync-drift-pr-").toString
    val b0 = corpus.filter(col("vec_id") =!= 8L && col("vec_id") =!= 5L)
    val b1 = corpus.filter(col("vec_id") === 8L || col("vec_id") === 5L)
    apply1(b0, ix, pr, 0L)
    // "operator restarted the stream with different knobs": batch
    // rows signed under a different (bits, tables) would probe
    // buckets the stored reps never landed in — (1,8)/(4,8)/(5,9)
    // would silently vanish. The stored geometry must win.
    VecDedupSync.applyVecs(b1, ix, pr, "embedding", "vec_id", 1L,
      threshold = 0.9, bits = 2, tables = 3, dim = 8, sigBits = 8)
    assert(pairSet(VecDedupSync.readPairs(spark, pr)) == oneShot,
      "drifted-geometry restart diverged from the one-shot pairs")
    // the appended rows carry signatures at the STORED geometry: one
    // sig per ORIGINAL table, not per the drifted knob's 3
    val sigLens = VecDedupSync.readIndex(spark, ix)
      .filter(col("id") === col("keep"))
      .select(size(col("sigs"))).collect().map(_.getInt(0)).toSet
    assert(sigLens == Set(12),
      s"appended rows not signed at the stored 12 tables: $sigLens")
  }
}

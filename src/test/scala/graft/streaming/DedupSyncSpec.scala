package graft.streaming

import java.nio.file.Files

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Dedup

class DedupSyncSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // Small corpus whose planted dup groups STRADDLE the id-mod-3 batch
  // boundaries (batches are ingested b = 0, 1, 2):
  //   b=0: {3, 6, 9}   b=1: {1, 4, 7}   b=2: {2, 5, 8}
  //  - template A {1, 4, 8}: (1,4) within b1; 8 arrives in b2 and
  //    must pair cross-batch against BOTH via the index probe;
  //  - exact dups {5, 9}: 9 indexed in b0, 5 arrives in b2 — the
  //    probe orients (corpus 9, new 5), i.e. REVERSED vs canonical;
  //  - template B {2, 7}: 7 indexed in b1, 2 arrives in b2 — also
  //    reversed (corpus 7, new 2). Without writer-side
  //    canonicalization these two would store (9,5)/(7,2) next to a
  //    later canonical copy and readPairs would double-report.
  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (8L, "the quick brown fox jumps over the lazy dog again and again"),
      (9L, "an entirely different document about spark shuffles and joins"),
      (5L, "an entirely different document about spark shuffles and joins"),
      (7L, "a second template discussing watermarks state stores and checkpoint recovery now"),
      (2L, "a second template discussing watermarks state stores and checkpoint recovery today"),
      (3L, "filler alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (6L, "unrelated text regarding parquet column pruning and predicate pushdown"))
      .toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id_a"), col("id_b"),
      round(col("jaccard"), 6).as("j"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def assertCanonical(pairs: Set[(Long, Long, Double)]): Unit = {
    assert(pairs.forall(p => p._1 < p._2),
      s"non-canonical orientation in ${pairs.filterNot(p => p._1 < p._2)}")
    val unordered = pairs.map(p => (p._1, p._2))
    assert(!pairs.exists(p => unordered.contains((p._2, p._1))),
      s"pair present in both orientations: $pairs")
  }

  test("3-batch stream equals the one-shot batch run (pairs straddle " +
    "every boundary, reversed-arrival pairs stored canonically)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val ix = Files.createTempDirectory("dsync-ix-").toString
    val pr = Files.createTempDirectory("dsync-pr-").toString
    val ck = Files.createTempDirectory("dsync-ck-").toString
    val q = DedupSync.dedupSink(mem.toDF().toDF("doc_id", "text"),
      ix, pr, "text", "doc_id", ck, threshold = 0.3)
    val rows = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1)))
    (0 until 3).foreach { b =>
      mem.addData(rows.filter(_._1 % 3 == b).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = pairSet(DedupSync.readPairs(spark, pr))
    val oneShot = pairSet(Dedup.nearDupPairs(
      corpus, "text", "doc_id", threshold = 0.3))
    assert(streamed == oneShot,
      s"stream $streamed\nvs batch $oneShot")
    assertCanonical(streamed)
    // the cross-batch pairs whose LATER doc has the SMALLER id — the
    // probe emits them (corpus, new) = reversed, the store must not
    assert(streamed.exists(p => p._1 == 5L && p._2 == 9L && p._3 == 1.0),
      "cross-batch exact pair (5,9) missing")
    assert(streamed.exists(p => p._1 == 2L && p._2 == 7L),
      "cross-batch reversed-arrival near pair (2,7) missing")
    // normal orientation cross-batch probe still works
    assert(streamed.exists(p => p._1 == 1L && p._2 == 8L),
      "cross-batch near pair (1,8) missing")
    assert(streamed.exists(p => p._1 == 1L && p._2 == 4L),
      "within-batch near pair (1,4) missing")
    // the accumulated index holds every ingested doc exactly once
    assert(DedupSync.readIndex(spark, ix).count() == 9)
  }

  test("replay after commit is a no-op; replay after pairs-committed-" +
    "index-not recomputes and converges") {
    val ix = Files.createTempDirectory("dsync2-ix-").toString
    val pr = Files.createTempDirectory("dsync2-pr-").toString
    val b0 = corpus.filter(col("doc_id") % 3 === 0)
    val b1 = corpus.filter(col("doc_id") % 3 === 1)
    DedupSync.applyDocs(b0, ix, pr, "text", "doc_id", batchId = 0L,
      threshold = 0.3)
    // full replay of batch 0 after its commit: nothing changes
    val v0 = TableSync.versions(spark, ix)
    val p0 = pairSet(DedupSync.readPairs(spark, pr))
    DedupSync.applyDocs(b0, ix, pr, "text", "doc_id", batchId = 0L,
      threshold = 0.3)
    assert(TableSync.versions(spark, ix) == v0)
    assert(pairSet(DedupSync.readPairs(spark, pr)) == p0)
    // crash-between simulation for batch 1: ONLY the pairs directory
    // is written (what a crash after the first write leaves behind),
    // then the redelivered applyDocs must overwrite it idempotently,
    // commit the index, and land on the uninterrupted end state
    val idx0 = DedupSync.readIndex(spark, ix)
    val pairs1 = Dedup.incrementalNearDups(idx0, b1, "text", "doc_id",
      threshold = 0.3)
    pairs1.select(col("id_a"), col("id_b"), col("jaccard"))
      .write.mode("overwrite").parquet(s"$pr/batch=1")
    DedupSync.applyDocs(b1, ix, pr, "text", "doc_id", batchId = 1L,
      threshold = 0.3)
    assert(TableSync.versions(spark, ix).max == 1L)
    assert(DedupSync.readIndex(spark, ix).count() == 6)
    // end state equals a fresh uninterrupted run of both batches
    val ix2 = Files.createTempDirectory("dsync3-ix-").toString
    val pr2 = Files.createTempDirectory("dsync3-pr-").toString
    DedupSync.applyDocs(b0, ix2, pr2, "text", "doc_id", 0L, 0.3)
    DedupSync.applyDocs(b1, ix2, pr2, "text", "doc_id", 1L, 0.3)
    assert(pairSet(DedupSync.readPairs(spark, pr)) ==
      pairSet(DedupSync.readPairs(spark, pr2)))
  }

  test("dedupSink survives a kill + restart from checkpoint " +
    "(arrivals while down replay into the same end state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val ix = Files.createTempDirectory("dsync5-ix-").toString
    val pr = Files.createTempDirectory("dsync5-pr-").toString
    val ck = Files.createTempDirectory("dsync5-ck-").toString
    def startQuery() = DedupSync.dedupSink(
      mem.toDF().toDF("doc_id", "text"), ix, pr, "text", "doc_id", ck,
      threshold = 0.3)
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val q1 = startQuery()
    // pre-kill: batch holds 9 (5's exact twin) and template-A filler
    mem.addData(rows.filter(_._1 % 3 == 0).toSeq: _*)
    q1.processAllAvailable()
    q1.stop()
    // arrivals while the sink is down — 1/4/7 land here, and their
    // cross-batch partners (8 pairs with 1 and 4; 2 pairs with 7;
    // 5 pairs with pre-kill 9) only arrive AFTER the restart
    mem.addData(rows.filter(_._1 % 3 == 1).toSeq: _*)
    val q2 = startQuery()
    q2.processAllAvailable()
    mem.addData(rows.filter(_._1 % 3 == 2).toSeq: _*)
    q2.processAllAvailable()
    q2.stop()
    val streamed = pairSet(DedupSync.readPairs(spark, pr))
    val oneShot = pairSet(Dedup.nearDupPairs(
      corpus, "text", "doc_id", threshold = 0.3))
    assert(streamed == oneShot, s"stream $streamed\nvs batch $oneShot")
    assertCanonical(streamed)
    assert(DedupSync.readIndex(spark, ix).count() == 9)
  }

  test("re-ingested id replaces its index row; a re-emitted pair " +
    "arriving in REVERSED probe orientation does not duplicate") {
    import spark.implicits._
    val ix = Files.createTempDirectory("dsync4-ix-").toString
    val pr = Files.createTempDirectory("dsync4-pr-").toString
    // seed includes BOTH exact twins 5 and 9 — their pair lands
    // canonically as (5,9) in batch 0
    val b0 = corpus.filter(col("doc_id") <= 5 || col("doc_id") === 9)
    DedupSync.applyDocs(b0, ix, pr, "text", "doc_id", 0L, 0.3)
    val before = pairSet(DedupSync.readPairs(spark, pr))
    assert(before.exists(p => p._1 == 5L && p._2 == 9L))
    // doc 5 re-arrives (upstream replay) in a later batch, unchanged:
    // the index probe now emits (corpus 9, new 5) — reversed — and
    // the writer must canonicalize it back onto the existing fact
    val again = Seq((5L,
      "an entirely different document about spark shuffles and joins"))
      .toDF("doc_id", "text")
    DedupSync.applyDocs(again, ix, pr, "text", "doc_id", 1L, 0.3)
    val idx = DedupSync.readIndex(spark, ix)
    assert(idx.filter(col("id") === 5L).count() == 1)
    val pairs = DedupSync.readPairs(spark, pr).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length, s"dups in $pairs")
    assert(!pairs.contains((9L, 5L)), s"reversed orientation stored: $pairs")
    // the (5,9) exact pair survives with jaccard 1.0 exactly once
    assert(pairs.count(p => p == ((5L, 9L))) == 1)
  }

  test("bucket scheme EVOLVES online: a 16-bucket bootstrap widens " +
    "by bounded splits per batch and pair results are unchanged " +
    "across the splits") {
    val ix = Files.createTempDirectory("dsync6-ix-").toString
    val pr = Files.createTempDirectory("dsync6-pr-").toString
    // maxBucketBytes = 1 byte: every batch after bootstrap wants more
    // buckets than the level holds, so exactly splitsPerBatch splits
    // run per batch — the bounded-maintenance contract, observable as
    // pointer arithmetic. (Bootstrap itself never splits: the trigger
    // reads the PREVIOUS manifest, and there is none.)
    def ingest(docs: org.apache.spark.sql.DataFrame, b: Long) =
      DedupSync.applyDocs(docs, ix, pr, "text", "doc_id", b,
        threshold = 0.3, numBuckets = 16, maxBucketBytes = 1L,
        splitsPerBatch = 4)
    ingest(corpus.filter(col("doc_id") % 3 === 0), 0L)
    assert(TableSync.bucketScheme(spark, ix) == ((16, 0)))
    ingest(corpus.filter(col("doc_id") % 3 === 1), 1L)
    assert(TableSync.bucketScheme(spark, ix) == ((16, 4)))
    ingest(corpus.filter(col("doc_id") % 3 === 2), 2L)
    assert(TableSync.bucketScheme(spark, ix) == ((16, 8)))
    // results across a live split boundary: identical to one-shot
    val streamed = pairSet(DedupSync.readPairs(spark, pr))
    val oneShot = pairSet(Dedup.nearDupPairs(
      corpus, "text", "doc_id", threshold = 0.3))
    assert(streamed == oneShot, s"stream $streamed\nvs batch $oneShot")
    assert(DedupSync.readIndex(spark, ix).count() == 9)
    // two maintenance-only (empty) batches finish the level: the
    // pointer completes and the manifest normalizes to (32, 0) —
    // same key->bucket mapping by construction
    ingest(corpus.limit(0), 3L)
    ingest(corpus.limit(0), 4L)
    assert(TableSync.bucketScheme(spark, ix) == ((32, 0)))
    assert(DedupSync.readIndex(spark, ix).count() == 9)
    assert(pairSet(DedupSync.readPairs(spark, pr)) == oneShot)
    // the keyed sub-table read path agrees with the evolved scheme
    import spark.implicits._
    val probe = TableSync.readCurrentForKeys(spark, ix,
      Seq(5L).toDF("id"), "id")
    assert(probe.filter(col("id") === 5L).count() == 1)
  }

  test("a pairless stream (no dups anywhere) still serves every " +
    "view: empty pairs, all-singleton keep decisions") {
    import spark.implicits._
    val ix = Files.createTempDirectory("dsync9-ix-").toString
    val pr = Files.createTempDirectory("dsync9-pr-").toString
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    DedupSync.applyDocs(docs, ix, pr, "text", "doc_id", 0L, 0.9)
    // the empty batch write must leave a schema-bearing file so the
    // pairs view is READABLE, not an inference error
    assert(DedupSync.readPairs(spark, pr).count() == 0)
    val dec = DedupSync.readKeepDecisions(spark, ix, pr).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dec == Set((1L, 1L, true), (2L, 2L, true)), s"got $dec")
  }

  test("readKeepDecisions equals one-shot dedupCorpus keeps: every " +
    "ingested doc decided, clusters keep their min id") {
    val ix = Files.createTempDirectory("dsync8-ix-").toString
    val pr = Files.createTempDirectory("dsync8-pr-").toString
    (0 to 2).foreach { b =>
      DedupSync.applyDocs(corpus.filter(col("doc_id") % 3 === b),
        ix, pr, "text", "doc_id", b.toLong, 0.3)
    }
    val dec = DedupSync.readKeepDecisions(spark, ix, pr).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(dec.length == 9, s"every doc needs a decision: ${dec.toSeq}")
    val keeps = dec.filter(_._3).map(_._1).toSet
    val oneShot = Dedup.dedupCorpus(corpus, "text", "doc_id",
      threshold = 0.3).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    assert(keeps == oneShot, s"stream keeps $keeps vs batch $oneShot")
    // cluster labels are the component minimum (template A {1,4,8}
    // folds to 1; exact twins {5,9} to 5; {2,7} to 2)
    val byId = dec.map(d => d._1 -> d._2).toMap
    assert(byId(4L) == 1L && byId(8L) == 1L && byId(9L) == 5L &&
      byId(7L) == 2L, s"labels $byId")
    // filler docs are their own singleton keeps
    assert(byId(3L) == 3L && dec.find(_._1 == 3L).get._3)
  }

  test("auto-compaction cadence: a long stream never holds more than " +
    "compactEvery pair generations, stale staged dirs are swept, and " +
    "the final view equals one-shot") {
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = Files.createTempDirectory("dsync10-ix-").toString
    val pr = Files.createTempDirectory("dsync10-pr-").toString
    def gens() = fs.listStatus(new org.apache.hadoop.fs.Path(pr))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).sorted.toSeq
    // plant a stale staged dir (crash-before-rename leftover): the
    // first fold must sweep it even though no fold ever produced it
    fs.mkdirs(new org.apache.hadoop.fs.Path(pr, "_compact_tmp_c99"))
    // 9 single-doc batches with a cadence of 3: folds fire after
    // batches 2, 5(c-gen counts as one), ... — the store's generation
    // count stays bounded by compactEvery throughout
    val rows = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    import spark.implicits._
    rows.zipWithIndex.foreach { case ((id, text), b) =>
      DedupSync.applyDocs(Seq((id, text)).toDF("doc_id", "text"),
        ix, pr, "text", "doc_id", b.toLong, threshold = 0.3,
        compactEvery = 3)
      assert(gens().length <= 3,
        s"generation count must stay bounded, got ${gens()}")
    }
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(pr, "_compact_tmp_c99")),
      "stale staged dir must be swept by the first fold")
    val streamed = pairSet(DedupSync.readPairs(spark, pr))
    val oneShot = pairSet(Dedup.nearDupPairs(
      corpus, "text", "doc_id", threshold = 0.3))
    assert(streamed == oneShot, s"stream $streamed\nvs batch $oneShot")
    assertCanonical(streamed)
    assert(DedupSync.readIndex(spark, ix).count() == 9)
    // a replayed batch AFTER its pairs were folded still converges:
    // its directory rewrites next to the compacted generation and the
    // deterministic values collapse in the merge (the index sees the
    // id applied, so this exercises only the read-side merge)
    val (rid, rtext) = rows.last
    DedupSync.applyDocs(Seq((rid, rtext)).toDF("doc_id", "text"),
      ix, pr, "text", "doc_id", rows.length.toLong - 1,
      threshold = 0.3, compactEvery = 3)
    assert(pairSet(DedupSync.readPairs(spark, pr)) == oneShot)
  }

  test("compactPairs folds all generations into one; replay after " +
    "compaction still converges") {
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = Files.createTempDirectory("dsync7-ix-").toString
    val pr = Files.createTempDirectory("dsync7-pr-").toString
    val b0 = corpus.filter(col("doc_id") % 3 === 0)
    val b1 = corpus.filter(col("doc_id") % 3 === 1)
    val b2 = corpus.filter(col("doc_id") % 3 === 2)
    DedupSync.applyDocs(b0, ix, pr, "text", "doc_id", 0L, 0.3)
    DedupSync.applyDocs(b1, ix, pr, "text", "doc_id", 1L, 0.3)
    // crash-between for batch 2: pairs written, index commit missing
    val pairs2 = Dedup.incrementalNearDups(
      DedupSync.readIndex(spark, ix), b2, "text", "doc_id", 0.3)
    pairs2.select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
      .write.mode("overwrite").parquet(s"$pr/batch=2")
    val preCompact = pairSet(DedupSync.readPairs(spark, pr))
    // maintenance runs AT the worst moment: batch 2's pairs get
    // folded into the generation while its index commit is pending
    DedupSync.compactPairs(spark, pr)
    def gens() = fs.listStatus(new org.apache.hadoop.fs.Path(pr))
      .filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq
    assert(gens() == Seq("batch=c1"), s"got ${gens()}")
    assert(pairSet(DedupSync.readPairs(spark, pr)) == preCompact)
    // the redelivered batch 2 rewrites its own directory next to the
    // generation; the deterministic values collapse in the merge
    DedupSync.applyDocs(b2, ix, pr, "text", "doc_id", 2L, 0.3)
    assert(gens() == Seq("batch=2", "batch=c1"), s"got ${gens()}")
    val afterReplay = pairSet(DedupSync.readPairs(spark, pr))
    val oneShot = pairSet(Dedup.nearDupPairs(
      corpus, "text", "doc_id", threshold = 0.3))
    assert(afterReplay == oneShot, s"got $afterReplay\nvs $oneShot")
    // a second compaction folds the replayed directory and the old
    // generation into the next one; the view is stable
    DedupSync.compactPairs(spark, pr)
    assert(gens() == Seq("batch=c2"), s"got ${gens()}")
    assert(pairSet(DedupSync.readPairs(spark, pr)) == oneShot)
    // compacting a single generation is a no-op
    DedupSync.compactPairs(spark, pr)
    assert(gens() == Seq("batch=c2"))
  }

  test("sidecar BACKFILL: an index that predates the key sidecar " +
    "(no segments on disk) rebuilds it from the committed snapshot " +
    "and the pruned probe still equals one-shot") {
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = Files.createTempDirectory("dsync11-ix-").toString
    val pr = Files.createTempDirectory("dsync11-pr-").toString
    val b0 = corpus.filter(col("doc_id") % 3 === 0)
    val b1 = corpus.filter(col("doc_id") % 3 === 1)
    val b2 = corpus.filter(col("doc_id") % 3 === 2)
    DedupSync.applyDocs(b0, ix, pr, "text", "doc_id", 0L, 0.3)
    DedupSync.applyDocs(b1, ix, pr, "text", "doc_id", 1L, 0.3)
    // simulate a pre-sidecar index: wipe the key log entirely
    val keys = new org.apache.hadoop.fs.Path(
      DedupSync.sidecarPath(ix))
    assert(fs.exists(keys), "sidecar should exist after two batches")
    fs.delete(keys, true)
    DedupSync.applyDocs(b2, ix, pr, "text", "doc_id", 2L, 0.3)
    // the probe backfilled the sidecar (as a bucketed L1 segment)
    // before reading it, and batch 2's cross-boundary pairs —
    // template A 8<-{1,4}, exact 5<-9, template B 2<-7 — all landed
    val segs = fs.listStatus(keys).map(_.getPath.getName)
      .filter(_.startsWith("seg_")).sorted.toSeq
    assert(segs.exists(_.contains("-L1-nb")),
      s"backfill must write a bucketed segment, got $segs")
    val streamed = pairSet(DedupSync.readPairs(spark, pr))
    val oneShot = pairSet(Dedup.nearDupPairs(
      corpus, "text", "doc_id", threshold = 0.3))
    assert(streamed == oneShot, s"stream $streamed\nvs batch $oneShot")
  }

  test("sidecar PARAMETER drift (restart with different bands) " +
    "rebuilds the key segments instead of silently resolving no " +
    "candidates — cross-boundary pairs still land") {
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = Files.createTempDirectory("dsync13-ix-").toString
    val pr = Files.createTempDirectory("dsync13-pr-").toString
    val b0 = corpus.filter(col("doc_id") % 3 === 0)
    val b1 = corpus.filter(col("doc_id") % 3 === 1)
    val b2 = corpus.filter(col("doc_id") % 3 === 2)
    DedupSync.applyDocs(b0, ix, pr, "text", "doc_id", 0L, 0.3)
    DedupSync.applyDocs(b1, ix, pr, "text", "doc_id", 1L, 0.3)
    val expectedThroughB1 = pairSet(DedupSync.readPairs(spark, pr))
    val idx01 = DedupSync.readIndex(spark, ix).localCheckpoint()
    // "restart" with bands = 16: old segments hold keys hashed at
    // r = 128/32; without the _PARAMS guard the probe would resolve
    // ZERO candidates and drop every cross-boundary pair silently
    DedupSync.applyDocs(b2, ix, pr, "text", "doc_id", 2L, 0.3,
      bands = 16)
    val keysDir = new org.apache.hadoop.fs.Path(
      DedupSync.sidecarPath(ix))
    val params = {
      val p = new org.apache.hadoop.fs.Path(keysDir, "_PARAMS")
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      new String(buf, "UTF-8").trim
    }
    assert(params == "128 16", s"recorded params must update: $params")
    // the result equals the matching manual computation: pairs through
    // b1 at the old parameters plus b2's incremental probe at the new
    val expectedB2 = pairSet(Dedup.incrementalNearDups(
      idx01, b2, "text", "doc_id", 0.3, bands = 16)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard")))
    val expected = (expectedThroughB1 ++ expectedB2)
      .groupBy(p => (p._1, p._2))
      .map { case (k, vs) => (k._1, k._2, vs.map(_._3).max) }.toSet
    val got = pairSet(DedupSync.readPairs(spark, pr))
    assert(got == expected, s"got $got\nvs $expected")
    // the known cross-boundary facts of batch 2 all landed
    assert(got.exists(p => p._1 == 5L && p._2 == 9L && p._3 == 1.0),
      "cross-batch exact pair (5,9) missing after param drift")
  }

  test("sidecar AHEAD of the index commit (crash between sidecar " +
    "append and index swap) is benign: phantom candidate ids drop in " +
    "the id semi-join and the replay converges") {
    import spark.implicits._
    val ix = Files.createTempDirectory("dsync12-ix-").toString
    val pr = Files.createTempDirectory("dsync12-pr-").toString
    val b0 = corpus.filter(col("doc_id") % 3 === 0)
    val b1 = corpus.filter(col("doc_id") % 3 === 1)
    DedupSync.applyDocs(b0, ix, pr, "text", "doc_id", 0L, 0.3)
    // crash-between for batch 1: pairs + SIDECAR written, index not
    val idx1 = graft.operators.Dedup.dedupIndex(b1, "text", "doc_id")
    KeyedLog.append(graft.operators.Dedup.probeKeys(idx1),
      DedupSync.sidecarPath(ix), 1L)
    // the redelivered batch 1 probes a sidecar that already lists its
    // own ids; the pruned index read must drop them (they are not in
    // the committed index) and the outcome equals the clean run
    DedupSync.applyDocs(b1, ix, pr, "text", "doc_id", 1L, 0.3)
    val b2 = corpus.filter(col("doc_id") % 3 === 2)
    DedupSync.applyDocs(b2, ix, pr, "text", "doc_id", 2L, 0.3)
    val streamed = pairSet(DedupSync.readPairs(spark, pr))
    val oneShot = pairSet(Dedup.nearDupPairs(
      corpus, "text", "doc_id", threshold = 0.3))
    assert(streamed == oneShot, s"stream $streamed\nvs batch $oneShot")
    assert(DedupSync.readIndex(spark, ix).count() == 9)
  }

  test("FORCED-PATH equality: the driver-resolved micro-batch probe " +
    "and the distributed probe produce identical pairs and index — " +
    "batch for batch, including a re-ingest") {
    def run(smallRows: Int): (Set[(Long, Long, Double)], Long) = {
      val ix = java.nio.file.Files
        .createTempDirectory(s"dsync-fp$smallRows-ix-").toString
      val pr = java.nio.file.Files
        .createTempDirectory(s"dsync-fp$smallRows-pr-").toString
      (0 to 2).foreach { b =>
        DedupSync.applyDocs(corpus.filter(col("doc_id") % 3 === b),
          ix, pr, "text", "doc_id", b.toLong, threshold = 0.3,
          smallBatchRows = smallRows, driverProbeMinIndexBytes = 0L)
      }
      import spark.implicits._
      DedupSync.applyDocs(
        Seq((5L, "an entirely different document about flink windows"))
          .toDF("doc_id", "text"),
        ix, pr, "text", "doc_id", 3L, threshold = 0.3,
        smallBatchRows = smallRows, driverProbeMinIndexBytes = 0L)
      (pairSet(DedupSync.readPairs(spark, pr)),
        DedupSync.readIndex(spark, ix).count())
    }
    val small = run(VecDedupSync.DefaultSmallBatchRows)
    val large = run(0)
    assert(small._1 == large._1,
      s"pairs diverged: small-only ${small._1 -- large._1}, " +
        s"large-only ${large._1 -- small._1}")
    assert(small._2 == large._2, "index count diverged between paths")
  }

  test("RE-INGESTED doc with a LOST committed payload row is caught " +
    "by the gate (text twin of the vec blind-spot spec): its " +
    "committed key rows resolve through the capped sidecar read, the " +
    "reseed restores the row, and the stream equals one-shot") {
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val ix = java.nio.file.Files
      .createTempDirectory("dsync-ri-ix-").toString
    val pr = java.nio.file.Files
      .createTempDirectory("dsync-ri-pr-").toString
    def ingest(b: Long, df: org.apache.spark.sql.DataFrame): Unit =
      DedupSync.applyDocs(df, ix, pr, "text", "doc_id", b,
        threshold = 0.3, driverProbeMinIndexBytes = 0L)
    ingest(0L, corpus) // everything committed
    val payload = new org.apache.hadoop.fs.Path(
      ix.stripSuffix("/") + "_payload")
    fs.listStatus(payload).map(_.getPath)
      .filter(_.getName.startsWith("seg_0-"))
      .foreach(p => fs.delete(p, true))
    // re-deliver one committed doc: same text -> same band keys ->
    // its committed key rows resolve, the gate demands its (lost)
    // payload row, and the reseed rebuilds the log from the
    // committed snapshot
    ingest(1L, corpus.filter(col("doc_id") === 1))
    val streamed = pairSet(DedupSync.readPairs(spark, pr))
    val oneShot = pairSet(Dedup.nearDupPairs(
      corpus, "text", "doc_id", threshold = 0.3))
    assert(streamed == oneShot,
      s"missing ${oneShot -- streamed} (re-ingest gap uncovered?)")
  }

  // both probe arms must detect the gap: the driver-resolved path
  // (floor 0 forces it) and the distributed path (smallBatchRows 0)
  for ((arm, smallRows) <- Seq(("driver", 4096), ("distributed", 0)))
    test(s"PAYLOAD-LOG GAP (text side, $arm path): a lost payload " +
      "segment is detected by the coverage gate, reseeded, and the " +
      "stream still equals one-shot") {
      val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
        spark.sessionState.newHadoopConf())
      val ix = java.nio.file.Files
        .createTempDirectory("dsync-gap-ix-").toString
      val pr = java.nio.file.Files
        .createTempDirectory("dsync-gap-pr-").toString
      def ingest(b: Long, df: org.apache.spark.sql.DataFrame): Unit =
        DedupSync.applyDocs(df, ix, pr, "text", "doc_id", b,
          threshold = 0.3, smallBatchRows = smallRows,
          driverProbeMinIndexBytes = 0L)
      ingest(0L, corpus.filter(col("doc_id") % 3 === 0)) // 3,6,9
      ingest(1L, corpus.filter(col("doc_id") % 3 === 1)) // 1,4,7
      val payload = new org.apache.hadoop.fs.Path(
        ix.stripSuffix("/") + "_payload")
      val seg1 = fs.listStatus(payload).map(_.getPath)
        .filter(_.getName.startsWith("seg_1-"))
      assert(seg1.nonEmpty, "fixture: batch-1 payload segment expected")
      seg1.foreach(p => fs.delete(p, true))
      ingest(2L, corpus.filter(col("doc_id") % 3 === 2)) // 2,5,8
      val streamed = pairSet(DedupSync.readPairs(spark, pr))
      val oneShot = pairSet(Dedup.nearDupPairs(
        corpus, "text", "doc_id", threshold = 0.3))
      assert(streamed == oneShot,
        s"missing ${oneShot -- streamed} (payload gap uncovered?)")
    }

  test("a batch id BELOW the table's high-water mark no-ops LOUDLY: " +
    "the fresh-checkpoint-restart foot-gun (ids restart at 0, new " +
    "data drains through the replay no-op) warns instead of " +
    "dropping silently") {
    val ix = Files.createTempDirectory("dsync-hw-ix-").toString
    val pr = Files.createTempDirectory("dsync-hw-pr-").toString
    DedupSync.applyDocs(corpus.filter(col("doc_id") <= 5),
      ix, pr, "text", "doc_id", 0L, threshold = 0.3)
    DedupSync.applyDocs(corpus.filter(col("doc_id") > 5),
      ix, pr, "text", "doc_id", 1L, threshold = 0.3)
    val before = DedupSync.readIndex(spark, ix).count()
    // a "restarted stream" re-submits NEW content under id 0: the
    // documented idempotence contract must no-op (batchId is the
    // exactly-once key) — but loudly
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      DedupSync.applyDocs(
        corpus.limit(2).select(col("doc_id") + 1000, col("text"))
          .toDF("doc_id", "text"),
        ix, pr, "text", "doc_id", 0L, threshold = 0.3)
    }
    assert(DedupSync.readIndex(spark, ix).count() == before,
      "below-high-water batch must no-op (the idempotence contract)")
    assert(out.toString.contains("high-water mark"),
      s"expected the fresh-checkpoint warning, got: '${out.toString}'")
    // an exact replay AT the mark stays silent (the normal case)
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) {
      DedupSync.applyDocs(corpus.filter(col("doc_id") > 5),
        ix, pr, "text", "doc_id", 1L, threshold = 0.3)
    }
    assert(!out2.toString.contains("high-water mark"),
      "replay at the mark must not warn")
  }

  test("a restart with DRIFTED derivation knobs signs at the STORED " +
    "params (index metadata wins): cross-boundary pairs survive a " +
    "shingleSize/hasher/numHashes change that would otherwise " +
    "silently lose them all") {
    import spark.implicits._
    val ix = Files.createTempDirectory("dsync-drift-ix-").toString
    val pr = Files.createTempDirectory("dsync-drift-pr-").toString
    val b0 = corpus.filter(col("doc_id") =!= 8L)
    val b1 = corpus.filter(col("doc_id") === 8L)
    DedupSync.applyDocs(b0, ix, pr, "text", "doc_id", 0L,
      threshold = 0.3)
    // the index records its derivation params in column metadata
    val sigMeta = DedupSync.readIndex(spark, ix).schema("sig").metadata
    assert(sigMeta.getLong("graft.minhash.numhashes") == 128L &&
      sigMeta.getLong("graft.minhash.shinglesize") == 3L &&
      sigMeta.getString("graft.minhash.family") == "xx",
      s"derivation params missing from index metadata: $sigMeta")
    // "operator restarted the stream with different knobs": every
    // knob that shapes stored shsets/sigs drifts at once. Pre-fix,
    // batch rows hashed under the new space shared no band keys with
    // the stored rows and shset jaccard collapsed — (1,8)/(4,8)
    // silently vanished. Stored params must win.
    DedupSync.applyDocs(b1, ix, pr, "text", "doc_id", 1L,
      threshold = 0.3, numHashes = 64, shingleSize = 5,
      hasher = Dedup.MinHashFamily.Md5)
    val streamed = pairSet(DedupSync.readPairs(spark, pr))
    val oneShot = pairSet(Dedup.nearDupPairs(
      corpus, "text", "doc_id", threshold = 0.3))
    assert(streamed == oneShot,
      s"drifted-knob restart diverged: missing ${oneShot -- streamed}")
    assert(streamed.exists(p => p._1 == 1L && p._2 == 8L) &&
      streamed.exists(p => p._1 == 4L && p._2 == 8L),
      s"cross-boundary template-A pairs lost under knob drift: $streamed")
  }

  test("a seed batch labels its jobs with phase names and restores " +
    "the caller's job description") {
    val ix = Files.createTempDirectory("dsync-label-ix-").toString
    val pr = Files.createTempDirectory("dsync-label-pr-").toString
    val group = s"dsync-label-${System.nanoTime()}"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => descs.add(
            String.valueOf(p.getProperty("spark.job.description"))))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "caller-desc")
    try {
      DedupSync.applyDocs(corpus, ix, pr, "text", "doc_id", 0L,
        threshold = 0.3)
      assert(sc.getLocalProperty("spark.job.description") == "caller-desc")
      ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val seen = descs.toArray.toSeq.map(_.toString)
    assert(seen.exists(_.startsWith("p_")),
      s"no job carried a phase label: $seen")
  }
}

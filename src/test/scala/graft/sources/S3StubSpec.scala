package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sinks.NamedSink
import graft.streaming.{DedupSync, TableSync}

/** The engine's object-store claims, run against an actual (in-JVM)
  * object store instead of the local filesystem: flat key space,
  * visibility-on-close PUTs, copy+delete rename, check-then-put
  * create-exclusive (see [[S3StubFileSystem]]). These are the
  * semantics `s3a://` URIs exhibit in production; every path here
  * previously ran only on `file:///`.
  */
class S3StubSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    val hc = s.sparkContext.hadoopConfiguration
    hc.set("fs.s3stub.impl", classOf[S3StubFileSystem].getName)
    hc.set("fs.AbstractFileSystem.s3stub.impl",
      classOf[S3StubAbstractFs].getName)
    s
  }

  test("NamedSink publishes per-record objects through temp+rename: " +
    "exact names, exact bytes, zero temp leftovers") {
    import spark.implicits._
    S3StubFileSystem.reset("sink")
    val rows = Seq(("a.txt", "alpha"), ("b/tricky.txt", "beta"),
      ("c.txt", ""))
      .map { case (k, v) => (k, v.getBytes("UTF-8")) }
    val published = NamedSink.publish(
      rows.toDF("key", "output")
        .select(col("key"), col("output"), lit(0).as("exitCode"),
          lit(null).cast("string").as("error")),
      "s3stub://sink/out", ".res").collect()
    assert(published.length == 3 && published.forall(_.getBoolean(3)))
    val fs = new Path("s3stub://sink/").getFileSystem(
      spark.sessionState.newHadoopConf())
    def readAll(p: String): String = {
      val in = fs.open(new Path(p))
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(readAll("s3stub://sink/out/a.txt.res") == "alpha")
    // path-separator keys percent-encode (injective), never traverse
    assert(readAll("s3stub://sink/out/b%2Ftricky.txt.res") == "beta")
    assert(readAll("s3stub://sink/out/c.txt.res") == "")
    val keys = S3StubFileSystem.keys("sink")
    assert(keys.size == 3, s"unexpected objects: $keys")
    assert(!keys.exists(_.endsWith(".tmp")),
      s"staged temp objects leaked: $keys")
  }

  test("FileIngest reads the flat key space: zero-length objects " +
    "re-added, keys derived from qualified s3stub URIs") {
    S3StubFileSystem.reset("ing")
    val fs = new Path("s3stub://ing/").getFileSystem(
      spark.sessionState.newHadoopConf())
    def put(k: String, v: String): Unit = {
      val out = fs.create(new Path(s"s3stub://ing/$k"), true)
      try out.write(v.getBytes("UTF-8")) finally out.close()
    }
    put("in/x.txt", "xx")
    put("in/y.txt", "yyy")
    put("in/empty.txt", "")
    val got = FileIngest.keyed(
      FileIngest.readDir(spark, "s3stub://ing/in"))
      .collect()
      .map(r => r.getString(0) ->
        new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    assert(got == Map("x.txt" -> "xx", "y.txt" -> "yyy",
      "empty.txt" -> ""), s"got $got")
  }

  test("TableSync CDC on the object store: two batches + a forced " +
    "split, latest-per-key intact, keyed reads and time travel " +
    "resolve, commit pointer swaps through FileContext") {
    import spark.implicits._
    S3StubFileSystem.reset("tbl")
    val path = "s3stub://tbl/t1"
    TableSync.applyBatch(
      (1L to 20L).map(k => (k, 1L, s"a$k")).toDF("k", "ver", "attr"),
      path, "k", "ver", batchId = 0L, numBuckets = 4)
    // second batch forces splits: evolution machinery (manifest
    // rewrite, fresh directory, pointer swap) all on object-store
    // semantics
    TableSync.applyBatch(
      Seq((3L, 2L, "upd3"), (21L, 1L, "a21")).toDF("k", "ver", "attr"),
      path, "k", "ver", batchId = 1L, maxBucketBytes = 1L,
      splitsPerBatch = 2)
    assert(TableSync.bucketScheme(spark, path) == ((4, 2)))
    val got = TableSync.readCurrent(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val expect = (1L to 21L).map(k => k -> s"a$k").toMap + (3L -> "upd3")
    assert(got == expect, s"got $got")
    val probe = TableSync.readCurrentForKeys(spark, path,
      Seq(3L).toDF("k"), "k").filter(col("k") === 3L).collect()
    assert(probe.length == 1 && probe.head.getString(2) == "upd3")
    // time travel to batch 0: pre-update value
    val asOf = TableSync.readVersion(spark, path, 0L).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(asOf(3L) == "a3" && !asOf.contains(21L))
  }

  test("DedupSync pairs store on the object store: compactPairs' " +
    "copy+delete rename converges (max-merge tolerates partial " +
    "visibility), replay after compaction intact") {
    import spark.implicits._
    S3StubFileSystem.reset("dsy")
    val ix = "s3stub://dsy/ix"
    val pr = "s3stub://dsy/pr"
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again tonight"),
      (3L, "an entirely different document about spark joins"))
      .toDF("doc_id", "text")
    DedupSync.applyDocs(docs.filter(col("doc_id") <= 2), ix, pr,
      "text", "doc_id", 0L, threshold = 0.3)
    DedupSync.applyDocs(docs.filter(col("doc_id") === 3), ix, pr,
      "text", "doc_id", 1L, threshold = 0.3)
    val before = DedupSync.readPairs(spark, pr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.contains((1L, 2L)), s"planted pair missing: $before")
    DedupSync.compactPairs(spark, pr)
    assert(DedupSync.readPairs(spark, pr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == before)
    // replayed batch rewrites its directory next to the generation
    DedupSync.applyDocs(docs.filter(col("doc_id") === 3), ix, pr,
      "text", "doc_id", 1L, threshold = 0.3)
    assert(DedupSync.readPairs(spark, pr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == before)
    assert(DedupSync.readIndex(spark, ix).count() == 3)
  }

  test("KeyedLog sidecar on the object store: enough batches to " +
    "force a tiered fold through copy+delete rename; pruned probes " +
    "stay complete and the stream equals one-shot") {
    import spark.implicits._
    S3StubFileSystem.reset("klg")
    val ix = "s3stub://klg/ix"
    val pr = "s3stub://klg/pr"
    // 9 single-doc batches: the key sidecar accumulates 8 L0 segments
    // and the 9th batch's maintenance folds them (fanout 8) — the
    // fold's staged-dir + rename + source deletes all run on
    // copy+delete object-store semantics
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again tonight"),
      (3L, "an entirely different document about spark joins"),
      (4L, "watermarks state stores and checkpoint recovery explained"),
      (5L, "an entirely different document about spark joins"),
      (6L, "watermarks state stores and checkpoint recovery today"),
      (7L, "filler alpha beta gamma delta epsilon zeta eta theta"),
      (8L, "the quick brown fox jumps over the lazy dog again"),
      (9L, "unrelated text regarding parquet column pruning"))
    texts.zipWithIndex.foreach { case ((id, t), b) =>
      DedupSync.applyDocs(Seq((id, t)).toDF("doc_id", "text"),
        ix, pr, "text", "doc_id", b.toLong, threshold = 0.3)
    }
    val fs = new Path("s3stub://klg/").getFileSystem(
      spark.sessionState.newHadoopConf())
    val segs = fs.listStatus(new Path(s"${ix}_keys"))
      .map(_.getPath.getName).filter(_.startsWith("seg_")).toSeq
    assert(segs.exists(_.contains("-L1-nb")),
      s"fold never fired on the object store: $segs")
    assert(!segs.exists(_.startsWith("_compact_tmp_")))
    val streamed = DedupSync.readPairs(spark, pr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = graft.operators.Dedup.nearDupPairs(
      texts.toDF("doc_id", "text"), "text", "doc_id", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == oneShot, s"stream $streamed vs batch $oneShot")
  }

  test("VecDedupSync on the object store: VecLog depth-partitioned " +
    "segments, OccStats counter files, and the two-store commit all " +
    "run on flat-keyspace semantics") {
    import spark.implicits._
    S3StubFileSystem.reset("vsy")
    val ix = "s3stub://vsy/ix"
    val pr = "s3stub://vsy/pr"
    val A = Seq(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)
    val rows = Seq(
      1L -> A, 4L -> A.map(_ * 1.01f),
      9L -> Seq(8f, 7f, 6f, 5f, 4f, 3f, 2f, 1f),
      5L -> Seq(8f, 7f, 6f, 5f, 4f, 3f, 2f, 1f),
      3L -> Seq(1f, 1f, 1f, 1f, -1f, -1f, -1f, -1f))
    val corpus = rows.toDF("vec_id", "embedding")
    (0 to 2).foreach { b =>
      graft.streaming.VecDedupSync.applyVecs(
        corpus.filter(pmod(col("vec_id"), lit(3)) === b), ix, pr,
        "embedding", "vec_id", b.toLong, threshold = 0.9, dim = 8)
    }
    val streamed = graft.streaming.VecDedupSync.readPairs(spark, pr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = graft.operators.Dedup.embeddingDupPairs(
      corpus, "embedding", "vec_id", threshold = 0.9, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == oneShot, s"stream $streamed vs batch $oneShot")
    val keys = S3StubFileSystem.keys("vsy")
    assert(keys.exists(_.contains("_occ_v")), "no counter files")
    assert(keys.exists(_.contains("ix_keys")), "no VecLog segments")
    assert(keys.exists(_.contains("ix_members")), "no membership log")
  }
}

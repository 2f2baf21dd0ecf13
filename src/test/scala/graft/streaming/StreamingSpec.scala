package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("file-queue worker: envelopes -> pipe -> named outputs, exactly-once") {
    val queue = Files.createTempDirectory("graft-q-").toString
    val root = Files.createTempDirectory("graft-sroot-")
    val in = Files.createDirectory(root.resolve("inputs"))
    val out = Files.createTempDirectory("graft-sout-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    Files.write(in.resolve("f1.txt"), "hello stream".getBytes)
    Files.write(in.resolve("f2.txt"), "second file".getBytes)
    Files.write(in.resolve("f0.empty"), Array.empty[Byte])
    // a file OUTSIDE the input directory a traversal fileName would
    // reach — the reference stages by raw name and would read and
    // republish it (GetJobs.py:44,51)
    Files.write(root.resolve("secret.txt"), "must never publish".getBytes)
    // 3 good jobs (one empty input), 1 unknown action, 1 missing
    // input, 1 path-traversal fileName
    Files.write(Paths.get(queue, "batch1.jsonl"),
      ("""["process","b","i/","o/","f1.txt"]""" + "\n" +
        """["process","b","i/","o/","f2.txt"]""" + "\n" +
        """["process","b","i/","o/","f0.empty"]""" + "\n" +
        """["reboot","b","i/","o/","f1.txt"]""" + "\n" +
        """["process","b","i/","o/","../secret.txt"]""" + "\n" +
        """["process","b","i/","o/","missing.txt"]""").getBytes)

    val q = JobStream.runWorker(spark, queue, in.toString, out, ckpt,
      Seq("cp"), trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)

    assert(new String(Files.readAllBytes(Paths.get(out, "f1.txt.out"))) ==
      "hello stream")
    assert(new String(Files.readAllBytes(Paths.get(out, "f2.txt.out"))) ==
      "second file")
    // empty input must be processed (binaryFile alone would drop it)
    assert(Files.readAllBytes(Paths.get(out, "f0.empty.out")).isEmpty)
    val quar = spark.read.parquet(out + "_quarantine").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(quar("missing.txt") == -2)
    assert(quar.exists(_._2 == -3)) // unknown action routed, not retried
    // traversal fileName QUARANTINED, its target neither read nor
    // published under any name
    assert(quar("../secret.txt") == -4)
    assert(!Paths.get(out).toFile.list()
      .exists(_.contains("secret")),
      "a traversal fileName's target leaked into the output dir")

    // restart with same checkpoint: no new work, outputs unchanged
    val before = Paths.get(out).toFile.list().toSet
    val q2 = JobStream.runWorker(spark, queue, in.toString, out, ckpt,
      Seq("cp"), trigger = Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(Paths.get(out).toFile.list().toSet == before)
    assert(spark.read.parquet(out + "_quarantine").count() == quar.size)
  }

  test("a two-micro-batch drain spawns the command once per named file") {
    val in = Files.createTempDirectory("graft-sin-")
    val queue = Files.createTempDirectory("graft-q-")
    val out = Files.createTempDirectory("graft-sout-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val counter = Files.createTempDirectory("graft-spawn-")
      .resolve("stream.count")
    // 12 one-envelope queue files: maxFilesPerTrigger (10) splits the
    // drain into two micro-batches
    val names = (0 until 12).map(i => f"f$i%02d.txt")
    names.foreach { n =>
      Files.write(in.resolve(n), s"body of $n".getBytes)
      Files.write(queue.resolve(s"$n.jsonl"),
        s"""["process","b","i/","o/","$n"]""".getBytes)
    }
    val q = JobStream.runWorker(spark, queue.toString, in.toString, out,
      ckpt, graft.SpawnCounter.command(counter),
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, q.exception)
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    assert(graft.SpawnCounter.spawns(counter) == names.size)
    names.foreach(n => assert(
      new String(Files.readAllBytes(Paths.get(out, n + ".out"))) ==
        s"body of $n"))
  }

  test("statNames: bulk listStatus path agrees exactly with the " +
    "per-file path (present / empty / absent / dir-named / nested)") {
    val in = Files.createTempDirectory("graft-stat-")
    Files.write(in.resolve("a.txt"), "x".getBytes)
    Files.write(in.resolve("empty.bin"), Array.empty[Byte])
    Files.createDirectory(in.resolve("adir"))
    Files.createDirectory(in.resolve("sub"))
    Files.write(in.resolve("sub").resolve("n.txt"), "yz".getBytes)
    (1 to 40).foreach(i =>
      Files.write(in.resolve(s"w$i.dat"), ("d" * i).getBytes))
    val base = new org.apache.hadoop.fs.Path(in.toString)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    // narrow batch (< threshold): ONE metadata call per name (one
    // HEAD per job on an object store)
    var calls = 0
    val counting = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      import org.apache.hadoop.fs.{FileStatus, Path, RemoteIterator}
      override def getFileStatus(p: Path): FileStatus = {
        calls += 1; super.getFileStatus(p)
      }
      override def listStatus(p: Path): Array[FileStatus] = {
        calls += 1; super.listStatus(p)
      }
      override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
        calls += 1; super.listStatusIterator(p)
      }
    }
    val narrowNames =
      Array("a.txt", "empty.bin", "adir", "gone.txt", "sub/n.txt")
    val narrow = JobStream.statNames(counting, base, narrowNames).toMap
    assert(narrow == Map(
      "a.txt" -> Some(1L), "empty.bin" -> Some(0L),
      "adir" -> None, // a directory is not a servable input object
      "gone.txt" -> None, "sub/n.txt" -> Some(2L)))
    assert(calls == narrowNames.length,
      s"$calls metadata calls for ${narrowNames.length} names")
    // wide batch (>= threshold in the base dir): ONE listStatus, and
    // the answers must be bit-identical to the per-file path
    val wide = (1 to 40).map(i => s"w$i.dat").toArray ++
      Array("a.txt", "empty.bin", "adir", "gone.txt", "sub/n.txt",
        "also-gone.dat")
    val bulk = JobStream.statNames(fs, base, wide).toMap
    val ref = wide.map { n =>
      val p = new org.apache.hadoop.fs.Path(base, n)
      n -> (if (fs.exists(p) && fs.getFileStatus(p).isFile)
        Some(fs.getFileStatus(p).getLen) else None)
    }.toMap
    assert(bulk == ref, s"bulk $bulk\nvs ref $ref")
    assert(bulk("w40.dat") == Some(40L) && bulk("also-gone.dat").isEmpty)
  }

  test("watermarked tumbling window over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = EventStreams.tumblingCounts(events, watermark = "1 minute")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("tumble_out").start()
    def t(s: String) = Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 10:05:00"), "a", 1.0),
      (t("2024-01-01 10:45:00"), "a", 2.0),
      (t("2024-01-01 10:50:00"), "b", 3.0))
    q.processAllAvailable()
    // advance watermark past 11:00 so the 10:00 window closes
    mem.addData((t("2024-01-01 12:30:00"), "c", 0.0))
    q.processAllAvailable()
    val rows = spark.table("tumble_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    q.stop()
    assert(rows.contains(("2024-01-01 10:00:00.0", "a", 2L)))
    assert(rows.contains(("2024-01-01 10:00:00.0", "b", 1L)))
  }

  test("session windows close after gap + watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
      .select(col("ts"), col("user_id"), col("value"))
    val q = EventStreams.sessions(events, watermark = "10 minutes",
      gap = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    def t(s: String) = Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 09:00:00"), 7L, 1.0),
      (t("2024-01-01 09:05:00"), 7L, 2.0),   // same session
      (t("2024-01-01 09:30:00"), 7L, 4.0))   // new session (gap 25m)
    q.processAllAvailable()
    mem.addData((t("2024-01-01 11:00:00"), 8L, 0.0)) // advance watermark
    q.processAllAvailable()
    val rows = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
      .toSet
    q.stop()
    assert(rows.contains((7L, "2024-01-01 09:00:00.0", 2L)))
    assert(rows.contains((7L, "2024-01-01 09:30:00.0", 1L)))
  }

  test("stream-stream interval join matches within lookback only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[(Timestamp, Long, Double)]
    val signals = MemoryStream[(Timestamp, Long, String)]
    val joined = EventStreams.intervalJoin(
      facts.toDF().toDF("ts", "user_id", "value"),
      signals.toDF().toDF("rts", "s_user_id", "label"),
      lookback = "15 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij_out").start()
    def t(s: String) = Timestamp.valueOf(s)
    signals.addData(
      (t("2024-01-01 10:00:00"), 1L, "recent"),
      (t("2024-01-01 09:00:00"), 1L, "stale"),   // outside lookback
      (t("2024-01-01 10:05:00"), 2L, "otheruser"))
    facts.addData((t("2024-01-01 10:10:00"), 1L, 5.0))
    q.processAllAvailable()
    val rows = spark.table("ij_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("label"))).toSet
    q.stop()
    assert(rows == Set((1L, "recent")), s"got $rows")
  }

  test("interval join drops LATE signals: a match arriving behind " +
    "the watermark finds its fact state evicted and emits nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[(Timestamp, Long, Double)]
    val signals = MemoryStream[(Timestamp, Long, String)]
    val joined = EventStreams.intervalJoin(
      facts.toDF().toDF("ts", "user_id", "value"),
      signals.toDF().toDF("rts", "s_user_id", "label"),
      lookback = "15 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij_late_out").start()
    def t(s: String) = Timestamp.valueOf(s)
    facts.addData((t("2024-01-01 10:10:00"), 1L, 5.0))
    q.processAllAvailable()
    // advance BOTH watermarks far past the fact's match window
    // ([09:55, 10:10] + watermark allowance) -> the fact's join state
    // is evicted, exactly the mechanism that bounds state on an
    // unbounded feed
    facts.addData((t("2024-01-01 12:00:00"), 99L, 0.0))
    signals.addData((t("2024-01-01 12:00:00"), 99L, "wm"))
    q.processAllAvailable()
    // the late signal WOULD have matched (rts inside the lookback),
    // but it arrives behind the signal watermark: dropped at the
    // state store, no resurrected join row — late data costs
    // completeness, never unbounded state or a wrong retraction
    signals.addData((t("2024-01-01 10:05:00"), 1L, "late"))
    q.processAllAvailable()
    val rows = spark.table("ij_late_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("label"))).toSet
    q.stop()
    assert(!rows.exists(_._2 == "late"),
      s"late signal must not emit after eviction: $rows")
    assert(rows.isEmpty || rows == Set((99L, "wm")), s"got $rows")
  }

  test("outer interval join emits null-side rows after watermark eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[(Timestamp, Long, Double)]
    val signals = MemoryStream[(Timestamp, Long, String)]
    val joined = EventStreams.intervalJoinOuter(
      facts.toDF().toDF("ts", "user_id", "value"),
      signals.toDF().toDF("rts", "s_user_id", "label"),
      lookback = "15 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ijo_out").start()
    def t(s: String) = Timestamp.valueOf(s)
    signals.addData((t("2024-01-01 10:00:00"), 1L, "recent"))
    facts.addData(
      (t("2024-01-01 10:10:00"), 1L, 5.0),   // matched
      (t("2024-01-01 10:10:00"), 2L, 7.0))   // no signal: outer row
    q.processAllAvailable()
    // the unmatched fact must NOT have emitted yet: a matching signal
    // could still arrive until the watermarks pass its window
    val early = spark.table("ijo_out").collect()
      .map(r => r.getAs[Long]("user_id")).toSet
    assert(early == Set(1L), s"outer row emitted too early: $early")
    // advance both watermarks far past the window end -> eviction
    // proves absence and the null-side row emits
    signals.addData((t("2024-01-01 12:00:00"), 99L, "wm"))
    facts.addData((t("2024-01-01 12:00:00"), 99L, 0.0))
    q.processAllAvailable()
    val rows = spark.table("ijo_out").collect()
      .map(r => (r.getAs[Long]("user_id"),
        Option(r.getAs[String]("label")))).toSet
    q.stop()
    assert(rows.contains((1L, Some("recent"))), s"got $rows")
    assert(rows.contains((2L, None)), s"outer row missing: $rows")
  }

  test("streaming dedup emits first occurrence only, within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val docs = mem.toDF().toDF("ts", "doc_id", "text")
    val q = EventStreams.dedupStream(docs, "text", "ts",
      watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    def t(s: String) = Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 10:00:00"), 1L, "alpha doc"),
      (t("2024-01-01 10:00:30"), 2L, "ALPHA   doc"), // same fingerprint
      (t("2024-01-01 10:01:00"), 3L, "beta doc"))
    q.processAllAvailable()
    // a later duplicate inside the watermark horizon is still dropped
    mem.addData((t("2024-01-01 10:02:00"), 4L, "alpha doc"))
    q.processAllAvailable()
    val rows = spark.table("dedup_out").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    assert(rows == Set(1L, 3L), s"got $rows")
  }

  test("flatMapGroupsWithState running totals emit on threshold crossings") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val q = EventStreams.runningTotals(mem.toDS(), emitEvery = 100.0)
      .toDF("user_id", "n_events", "total")
      .writeStream.outputMode("append")
      .format("memory").queryName("running_out").start()
    mem.addData((1L, 60.0), (1L, 50.0))  // crosses 100 at n=2
    q.processAllAvailable()
    mem.addData((1L, 30.0))              // no crossing (110 -> 140)
    mem.addData((1L, 70.0))              // crosses 200 at n=4
    mem.addData((2L, 250.0))             // user 2 crosses at n=1
    q.processAllAvailable()
    val rows = spark.table("running_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(rows.contains((1L, 2L, 110.0)))
    assert(rows.contains((1L, 4L, 210.0)))
    assert(rows.contains((2L, 1L, 250.0)))
    assert(rows.size == 3)
  }

  test("streaming curation composes: quality gate + watermarked dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the batch curation operators compose unchanged under
    // readStream: one declarative definition, both execution modes
    val good = "the quick brown fox jumps over a lazy dog and then " +
      "it runs far away to the quiet hills for a long rest today"
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDS().toDF("doc_id", "text", "ts")
    val curated = graft.streaming.EventStreams.dedupStream(
      docs.filter(
        graft.functions.TextFunctions.qualityScore(col("text")) >= 0.5),
      "text", "ts")
    val q = curated.select("doc_id").writeStream.outputMode("append")
      .format("memory").queryName("curation_out").start()
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    mem.addData(
      (1L, good, t0),
      (2L, good, t0),                   // exact dup of 1 -> dropped
      (3L, "zzz qq xx", t0))            // fails the quality gate
    q.processAllAvailable()
    val ids = spark.table("curation_out").collect()
      .map(_.getLong(0)).toSet
    q.stop()
    assert(ids == Set(1L), s"got $ids")
  }

  test("transformWithState running totals match (RocksDB state store)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB provider — set it for
    // queries started inside this test only, restore for the rest of
    // the suite (the provider is bound at query start)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Double)]
      val ckpt = Files.createTempDirectory("tws-ckpt").toString
      val q = EventStreams.runningTotalsTws(mem.toDS(), emitEvery = 100.0)
        .toDF("user_id", "n_events", "total")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName("tws_out").start()
      mem.addData((1L, 60.0), (1L, 50.0))
      q.processAllAvailable()
      mem.addData((1L, 30.0))
      mem.addData((1L, 70.0))
      mem.addData((2L, 250.0))
      q.processAllAvailable()
      val rows = spark.table("tws_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      q.stop()
      // identical semantics to the flatMapGroupsWithState twin above
      assert(rows == Set((1L, 2L, 110.0), (1L, 4L, 210.0), (2L, 1L, 250.0)))
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming LSH near-dup finds planted pairs across batches (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // per-group disjoint vocab: group g's doc is 30 distinct tokens;
      // the variant swaps token 15 (changes 3 of 31 distinct shingles,
      // true Jaccard ~0.8 — comfortably above threshold 0.5; cross-
      // group docs share nothing)
      def doc(g: Int, variant: Boolean): String =
        (0 until 30).map { i =>
          if (variant && i == 15) s"CHANGED$g" else s"w${g}_$i"
        }.mkString(" ")
      val mem = MemoryStream[(Long, String)]
      val ckpt = Files.createTempDirectory("lsh-ckpt").toString
      val q = graft.streaming.EventStreams.nearDupStream(
        mem.toDS().toDF("doc_id", "text"), "text", "doc_id",
        threshold = 0.5)
        .toDF("id_a", "id_b", "est")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName("lsh_out").start()
      mem.addData((0 until 6).map(g => (10L * g, doc(g, variant = false)))
        :+ (100L, doc(0, variant = true)): _*) // in-batch near-dup of 0
      q.processAllAvailable()
      mem.addData(
        (101L, doc(1, variant = true)),   // cross-batch near-dup of 10
        (102L, doc(2, variant = true)),   // cross-batch near-dup of 20
        (103L, doc(6, variant = false)))  // fresh group, no pair
      q.processAllAvailable()
      val rows = spark.table("lsh_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      q.stop()
      // band-collision repeats collapse to one (id_a, id_b, est) —
      // the estimate comes from the full signature, so it's identical
      // in every band
      val pairs = rows.toSet
      assert(pairs.map(p => (p._1, p._2)) ==
        Set((0L, 100L), (10L, 101L), (20L, 102L)), s"got $pairs")
      assert(pairs.forall(_._3 >= 0.5))
      assert(pairs.forall(_._3 < 1.0), "variants are near-dups, not exact")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming LSH near-dup survives a kill + restart from checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def doc(g: Int, variant: Boolean): String =
        (0 until 30).map { i =>
          if (variant && i == 15) s"CHANGED$g" else s"w${g}_$i"
        }.mkString(" ")
      val mem = MemoryStream[(Long, String)]
      val ckpt = Files.createTempDirectory("lsh-restart-ckpt").toString
      // the memory sink refuses checkpoint recovery; foreachBatch
      // into a driver-side set supports it (and at-least-once replays
      // collapse in the set, same as the production dropDuplicates)
      val seen = java.util.concurrent.ConcurrentHashMap
        .newKeySet[(Long, Long)]()
      def startQuery() = graft.streaming.EventStreams.nearDupStream(
        mem.toDS().toDF("doc_id", "text"), "text", "doc_id",
        threshold = 0.5)
        .toDF("id_a", "id_b", "est")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => seen.add((r.getLong(0), r.getLong(1))))
        }
        .start()

      val q1 = startQuery()
      mem.addData((0 until 6).map(g => (10L * g, doc(g, variant = false)))
        :+ (100L, doc(0, variant = true)): _*)
      q1.processAllAvailable()
      val run1 = Set.empty[(Long, Long)] ++
        scala.jdk.CollectionConverters.IteratorHasAsScala(
          seen.iterator()).asScala
      q1.stop()

      // arrivals while the query is down; replayed on restart from
      // the checkpoint. (101, 102) only pair if the RESTORED RocksDB
      // state still holds docs 10 and 20 from before the kill.
      mem.addData(
        (101L, doc(1, variant = true)),
        (102L, doc(2, variant = true)),
        (103L, doc(6, variant = false)))
      val q2 = startQuery()
      q2.processAllAvailable()
      val all = Set.empty[(Long, Long)] ++
        scala.jdk.CollectionConverters.IteratorHasAsScala(
          seen.iterator()).asScala
      q2.stop()

      // pre-kill emissions, then the union after restart must equal
      // the uninterrupted run's pair set (the previous test feeds the
      // same data without a kill)
      assert(run1 == Set((0L, 100L)), s"run1 got $run1")
      assert(all == Set((0L, 100L), (10L, 101L), (20L, 102L)),
        s"after restart got $all")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming heavy hitters emit once, on the crossing batch (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[String]
      val docs = mem.toDF().toDF("text")
      val toks = docs.select(
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("token")).as[String]
      val q = EventStreams.heavyHittersStream(toks, minCount = 3)
        .toDF("token", "n")
        .writeStream.outputMode("append")
        .format("memory").queryName("hh_out").start()
      mem.addData("alpha alpha beta", "alpha beta")
      q.processAllAvailable()
      // alpha crossed 3 in batch 1; beta sits at 2
      val afterB1 = spark.table("hh_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(afterB1 == Set(("alpha", 3L)), s"got $afterB1")
      mem.addData("beta gamma", "alpha")
      q.processAllAvailable()
      val afterB2 = spark.table("hh_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      q.stop()
      // beta crossed 3 cross-batch; alpha (now 4) does NOT re-emit
      assert(afterB2 == Set(("alpha", 3L), ("beta", 3L)), s"got $afterB2")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming LSH near-dup caps hot buckets at maxBucketSize") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // 5 identical docs flood every (band, bucket) they hash to; with
      // the cap at 2 only the first two are stored, so exactly ONE
      // pair emerges instead of C(5,2) = 10
      val text = (0 until 30).map(i => s"flood_$i").mkString(" ")
      val mem = MemoryStream[(Long, String)]
      val ckpt = Files.createTempDirectory("lsh-cap-ckpt").toString
      val q = graft.streaming.EventStreams.nearDupStream(
        mem.toDS().toDF("doc_id", "text"), "text", "doc_id",
        threshold = 0.5, maxBucketSize = 2)
        .toDF("id_a", "id_b", "est")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName("lsh_cap_out").start()
      mem.addData((1L to 5L).map(i => (i, text)): _*)
      q.processAllAvailable()
      val pairs = spark.table("lsh_cap_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      q.stop()
      assert(pairs == Set((1L, 2L)), s"got $pairs")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming funnel survives a kill + restart from checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val ckpt = Files.createTempDirectory("funnel-restart-ckpt").toString
      val seen = java.util.concurrent.ConcurrentHashMap
        .newKeySet[(Long, String, Long)]()
      def startQuery() = graft.streaming.EventStreams.funnelStream(mem.toDS())
        .toDF("user_id", "stage", "us")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            seen.add((r.getLong(0), r.getString(1), r.getLong(2))))
        }
        .start()
      // user 1 reaches view+click before the kill; the purchase
      // arrives while the query is down and must chain off the
      // RESTORED click state after restart
      val q1 = startQuery()
      mem.addData((1L, 100L, 1L, "view"), (1L, 200L, 2L, "click"),
        (2L, 150L, 3L, "view"))
      q1.processAllAvailable()
      q1.stop()
      mem.addData((1L, 300L, 4L, "purchase"), (2L, 250L, 5L, "click"))
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      val all = Set.empty[(Long, String, Long)] ++
        scala.jdk.CollectionConverters.IteratorHasAsScala(
          seen.iterator()).asScala
      assert(all == Set(
        (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L),
        (2L, "view", 150L), (2L, "click", 250L)), s"got $all")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("late funnel: stages delivered across batches in REVERSE order " +
    "still fold to the batch answer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val ckpt = Files.createTempDirectory("latefunnel-ckpt").toString
      val q = graft.streaming.EventStreams.funnelStreamLate(mem.toDS())
        .toDF("user_id", "stage", "us")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName("late_funnel_out").start()
      // user 1's funnel arrives purchase -> click -> view, one stage
      // per micro-batch — the exact pattern the arrival-order variant
      // documents as out of contract; user 2 never views, so the
      // close must emit nothing for them
      mem.addData((1L, 300000000L, 1L, "purchase"),
        (2L, 150000000L, 4L, "click"))
      q.processAllAvailable()
      mem.addData((1L, 200000000L, 2L, "click"))
      q.processAllAvailable()
      mem.addData((1L, 100000000L, 3L, "view"))
      q.processAllAvailable()
      // user 1's window closes at view(100s) + 1s = 101s event time;
      // with 10 min lateness the watermark needs maxTs >= 701s. The
      // watermark advances at batch END, and timers fire the batch
      // AFTER it passes the close — hence two nudges.
      mem.addData((999L, 800000000L, 9L, "view"))
      q.processAllAvailable()
      mem.addData((999L, 900000000L, 10L, "view"))
      q.processAllAvailable()
      // post-close straggler (inside the watermark, after the close):
      // tombstone must drain it without re-emitting
      mem.addData((1L, 250000000L, 5L, "view"))
      q.processAllAvailable()
      val got = spark.table("late_funnel_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      q.stop()
      assert(got == Set(
        (1L, "view", 100000000L), (1L, "click", 200000000L),
        (1L, "purchase", 300000000L)), s"got $got")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("late funnel: a click flood stays inside the bounded buffer and " +
    "the fold stays exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val ckpt = Files.createTempDirectory("latefunnel-fl-ckpt").toString
      val q = graft.streaming.EventStreams.funnelStreamLate(mem.toDS())
        .toDF("user_id", "stage", "us")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName("late_funnel_flood").start()
      // 200 clicks (3x maxBuffered=64) land BEFORE the view and the
      // purchase; the buffer keeps only the 64 smallest click times,
      // which must still contain the true min-click-after-view
      val clicks = (0 until 200).map(i =>
        (5L, 2000000L + i * 1000L, 100L + i, "click"))
      mem.addData(clicks: _*)
      q.processAllAvailable()
      mem.addData((5L, 3000000L, 301L, "purchase"),
        (5L, 1000000L, 302L, "view"))
      q.processAllAvailable()
      // close: view at 1s + 1s window = 2s; watermark needs 602s
      mem.addData((999L, 700000000L, 9L, "view"))
      q.processAllAvailable()
      mem.addData((999L, 800000000L, 10L, "view"))
      q.processAllAvailable()
      val got = spark.table("late_funnel_flood").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .filter(_._1 == 5L).toSet
      q.stop()
      assert(got == Set(
        (5L, "view", 1000000L), (5L, "click", 2000000L),
        (5L, "purchase", 3000000L)), s"got $got")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("late funnel: view-less keys are evicted and tombstones expire — " +
    "total state stays bounded over an unbounded key space") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val ckpt = Files.createTempDirectory("latefunnel-ev-ckpt").toString
      val q = graft.streaming.EventStreams
        .funnelStreamLate(mem.toDS(), tombstoneTtlMs = 5000L)
        .toDF("user_id", "stage", "us")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName("late_funnel_evict").start()
      // user 7 never views (click only) — must be EVICTED, not kept
      // forever; user 8 completes a funnel at ~101 s whose tombstone
      // (TTL 5 s) must be deleted once the watermark passes ~106 s
      mem.addData((7L, 100000000L, 1L, "click"),
        (8L, 100000000L, 2L, "view"), (8L, 100500000L, 3L, "click"))
      q.processAllAvailable()
      // watermark nudges: 800 s - 10 min lateness = 200 s passes both
      // the close (101 s) and, a batch later, the tombstone TTL
      mem.addData((999L, 800000000L, 9L, "view"))
      q.processAllAvailable()
      mem.addData((998L, 900000000L, 10L, "view"))
      q.processAllAvailable()
      mem.addData((997L, 950000000L, 11L, "view"))
      q.processAllAvailable()
      val got = spark.table("late_funnel_evict").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .filter(t => t._1 == 7L || t._1 == 8L).toSet
      q.stop()
      // outputs: eviction is invisible by construction (that's the
      // exactness argument), the closed funnel emitted exactly once
      assert(got == Set((8L, "view", 100000000L),
        (8L, "click", 100500000L)), s"got $got")
      // state: read the store itself — users 7 (view-less) and 8
      // (expired tombstone) must be GONE; the nudgers' open funnels
      // remain, which proves the reader sees live state
      val state = spark.read.format("statestore")
        .option("path", ckpt).option("stateVarName", "lateFunnel")
        .load()
      val keys = state.select("key.value").as[Long].collect().toSet
      assert(!keys.contains(7L), s"view-less key 7 still in state: $keys")
      assert(!keys.contains(8L), s"expired tombstone 8 still in state: $keys")
      assert(keys.contains(997L), s"open funnel missing from state: $keys")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming funnel equals the batch q42 fold on ordered delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = "/root/testdata/sf0.001"
      // the whole fixture, delivered in event-time order across three
      // micro-batches (the job-queue contract the operator documents)
      val evs = graft.Engine.Tables(spark, dir).events
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
        .orderBy(col("us"), col("event_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      val mem = MemoryStream[(Long, Long, Long, String)]
      val ckpt = Files.createTempDirectory("funnel-ckpt").toString
      val q = graft.streaming.EventStreams.funnelStream(mem.toDS())
        .toDF("user_id", "stage", "us")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName("funnel_out").start()
      evs.grouped(evs.length / 3 + 1).foreach { chunk =>
        mem.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.table("funnel_out").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      q.stop()
      val batch = graft.SparkEntry.queries("q42_funnel")(spark, dir).collect()
      assert(batch.nonEmpty)
      batch.foreach { r =>
        val u = r.getLong(0)
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        assert(got.get((u, "view")) == opt(1), s"user $u view")
        assert(got.get((u, "click")) == opt(2), s"user $u click")
        assert(got.get((u, "purchase")) == opt(3), s"user $u purchase")
      }
      // no user reaches a stage in the stream that batch says it didn't
      assert(got.keySet.map(_._1) == batch.map(_.getLong(0)).toSet)
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("BPE tokenize runs unchanged on a stream (map-only, no state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the apply half of the tokenizer is a pure map, so the SAME
    // operator call tokenizes an unbounded feed with no state, no
    // watermark, and batch-identical output — the cheap proof that
    // corpus tokenization deploys as a streaming ingest stage
    val corpus = Seq((0L, "low lower newest newest widest low"))
      .toDF("doc_id", "text")
    val merges = graft.operators.Bpe.learnMerges(corpus, "text", 5)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.Bpe.tokenize(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", merges)
      .writeStream.outputMode("append")
      .format("memory").queryName("bpe_stream_out").start()
    mem.addData((1L, "low"), (2L, "newest"))
    q.processAllAvailable()
    mem.addData((3L, "lowest"))
    q.processAllAvailable()
    val got = spark.table("bpe_stream_out").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    q.stop()
    val batch = graft.operators.Bpe.tokenize(
      Seq((1L, "low"), (2L, "newest"), (3L, "lowest"))
        .toDF("doc_id", "text"), "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList)
      .toMap
    assert(got == batch, s"stream $got != batch $batch")
    assert(got(3L) == List("low", "est</w>"))
  }

  test("streaming funnel drains hot-key floods with bounded buffering") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the funnel's bounded-state guarantee under a hot-key flood
      // (nearDupStream's cap test, funnel-shaped): a COMPLETED user
      // replayed 20k times emits nothing and buffers nothing (events
      // for reached stages are dropped before buffering); an
      // incomplete user flooded with out-of-order clicks advances
      // exactly once, to the minimal qualifying timestamp
      val mem = MemoryStream[(Long, Long, Long, String)]
      val ckpt = Files.createTempDirectory("funnel-flood-ckpt").toString
      val q = graft.streaming.EventStreams.funnelStream(mem.toDS())
        .toDF("user_id", "stage", "us")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName("funnel_flood_out").start()
      mem.addData((1L, 100L, 1L, "view"), (1L, 200L, 2L, "click"),
        (1L, 300L, 3L, "purchase"), (2L, 150L, 4L, "view"))
      q.processAllAvailable()
      // flood: bot replays of finished user 1 + a click storm on
      // user 2 (descending us, all after the view, plus decoys at or
      // before it that must NOT win)
      val replays = (0 until 20000).map(i =>
        (1L, 400L + i, 10L + i, Seq("view", "click", "purchase")(i % 3)))
      val storm = (0 until 20000).map(i =>
        (2L, 5000L - i.toLong, 40000L + i, "click")) :+
        ((2L, 150L, 99990L, "click")) :+ ((2L, 90L, 99991L, "click"))
      mem.addData(scala.util.Random.shuffle(replays ++ storm): _*)
      q.processAllAvailable()
      val got = spark.table("funnel_flood_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      q.stop()
      // user 1: exactly its original 3 rows, nothing from the replay;
      // user 2: one click at min us > view(150) = 5000 - 19999 .. the
      // storm's smallest qualifying value
      val minQualifying = (0 until 20000).map(5000L - _).filter(_ > 150L).min
      assert(got == Set(
        (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L),
        (2L, "view", 150L), (2L, "click", minQualifying)), s"got $got")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("AggSync maintained rollup equals the batch groupBy across " +
    "micro-batches (foreachBatch + TableSync storage)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("aggsync-t").toString
    val ckpt = Files.createTempDirectory("aggsync-c").toString
    val mem = MemoryStream[(String, Double)]
    val events = mem.toDF().toDF("k", "v")
    val q = AggSync.countSumSink(events, path, "k", "v", ckpt)
    try {
      mem.addData(("a", 1.0), ("a", 2.5), ("b", 10.0))
      q.processAllAvailable()
      mem.addData(("b", 0.5), ("c", 7.0))
      q.processAllAvailable()
      mem.addData(("a", 1.0))
      q.processAllAvailable()
      val view = AggSync.readView(spark, path)
        .select(col("k"), col("n"), col("tot").cast("string"))
        .as[(String, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(view == Map(
        "a" -> ((3L, "4.50")),
        "b" -> ((2L, "10.50")),
        "c" -> ((1L, "7.00"))), s"maintained view diverged: $view")
    } finally q.stop()
  }

  test("AggSync fold stays exact while the bucket scheme splits " +
    "beneath it (maxBucketBytes armed)") {
    import spark.implicits._
    val path = Files.createTempDirectory("aggsync-evo").toString
    // 1-byte threshold: every post-bootstrap batch runs the maximum
    // allowed splits; the NON-idempotent fold must stay exact through
    // the redistribution (a lost or doubled row is a wrong sum)
    def fold(rows: Seq[(String, Double)], b: Long) =
      AggSync.applyDelta(rows.toDF("k", "v"), path, "k", "v", b,
        numBuckets = 8, maxBucketBytes = 1L, splitsPerBatch = 4)
    fold((1 to 40).map(i => (s"k$i", i.toDouble)), 0L)
    assert(TableSync.bucketScheme(spark, path) == ((8, 0)))
    fold(Seq(("k7", 0.5), ("k41", 1.0)), 1L)
    assert(TableSync.bucketScheme(spark, path) == ((8, 4)))
    fold(Seq(("k7", 0.25)), 2L)
    assert(TableSync.bucketScheme(spark, path) == ((16, 0)))
    val view = AggSync.readView(spark, path)
      .select(col("k"), col("n"), col("tot").cast("string"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getString(2)))).toMap
    assert(view("k7") == ((3L, "7.75")) && view("k41") == ((1L, "1.00"))
      && view("k8") == ((1L, "8.00")) && view.size == 41,
      s"fold diverged across splits: $view")
  }

  test("AggSync fold stays exact while the bucket scheme CONTRACTS " +
    "beneath it (the merge analog of the split-exactness pin)") {
    import spark.implicits._
    val path = Files.createTempDirectory("aggsync-shrink").toString
    // grow to (16, 0) with forced splits, then merge back down with a
    // huge-but-finite threshold: state rows MOVE buckets during both
    // directions, and the NON-idempotent fold must never lose or
    // double a row (a wrong count/sum is immediately visible)
    AggSync.applyDelta((1 to 40).map(i => (s"k$i", i.toDouble))
      .toDF("k", "v"), path, "k", "v", 0L, numBuckets = 8)
    AggSync.applyDelta(Seq(("k7", 0.5)).toDF("k", "v"), path, "k", "v",
      1L, numBuckets = 8, maxBucketBytes = 1L, splitsPerBatch = 8)
    assert(TableSync.bucketScheme(spark, path) == ((8, 8)) ||
      TableSync.bucketScheme(spark, path) == ((16, 0)))
    def shrink(b: Long, rows: Seq[(String, Double)]): Unit =
      AggSync.applyDelta(rows.toDF("k", "v"), path, "k", "v", b,
        numBuckets = 8, maxBucketBytes = Long.MaxValue / 4,
        splitsPerBatch = 4)
    shrink(2L, Seq(("k7", 0.25), ("k41", 1.0)))
    shrink(3L, Seq(("k7", 0.25)))
    shrink(4L, Seq(("k42", 2.0)))
    val (nbf, sf) = TableSync.bucketScheme(spark, path)
    assert(nbf + sf < 16, s"no contraction happened: ($nbf, $sf)")
    val view = AggSync.readView(spark, path)
      .select(col("k"), col("n"), col("tot").cast("string"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getString(2)))).toMap
    assert(view("k7") == ((4L, "8.00")) && view("k41") == ((1L, "1.00"))
      && view("k42") == ((1L, "2.00")) && view("k8") == ((1L, "8.00"))
      && view.size == 42,
      s"fold diverged across merges: $view")
  }

  test("AggSync replay of a committed batch is a no-op (the fold " +
    "never double-counts)") {
    import spark.implicits._
    val path = Files.createTempDirectory("aggsync-r").toString
    val b0 = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
    val b1 = Seq(("a", 4.0)).toDF("k", "v")
    AggSync.applyDelta(b0, path, "k", "v", batchId = 0L)
    AggSync.applyDelta(b1, path, "k", "v", batchId = 1L)
    // crash-after-swap replay: foreachBatch re-delivers batch 1
    AggSync.applyDelta(b1, path, "k", "v", batchId = 1L)
    val view = AggSync.readView(spark, path)
      .select(col("k"), col("n"), col("tot").cast("string"))
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(view == Map(
      "a" -> ((2L, "5.00")),
      "b" -> ((1L, "2.00"))), s"replay double-counted: $view")
  }

  test("AggSync view schema is a fixed point of the fold (no decimal " +
    "widening batch-over-batch)") {
    import spark.implicits._
    val path = Files.createTempDirectory("aggsync-s").toString
    val expected = org.apache.spark.sql.types.DecimalType(22, 2)
    (0 until 4).foreach { i =>
      AggSync.applyDelta(Seq(("a", 1.0 + i), ("b", 2.0)).toDF("k", "v"),
        path, "k", "v", batchId = i.toLong)
      val t = AggSync.readView(spark, path).schema("tot").dataType
      // without the merge-side cast each fold widens precision by one
      // (22,2 -> 23,2 -> 24,2 ...): snapshots would carry a moving
      // schema and unionByName-reading consumers a moving target
      assert(t == expected, s"after batch $i: tot drifted to $t")
    }
  }

  test("AggSync maintained KMV distinct view equals the from-scratch " +
    "sketch across micro-batches, exact below k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("aggsync-kmv-t").toString
    val ckpt = Files.createTempDirectory("aggsync-kmv-c").toString
    val k = 8
    val mem = MemoryStream[(String, Long)]
    val events = mem.toDF().toDF("key", "v")
    val q = AggSync.kmvDistinctSink(events, path, "key", "v", ckpt, k)
    try {
      // key "big" sees 40 distinct values across 3 batches (saturates
      // k=8 -> estimator path); "small" sees 3 with heavy repeats
      // (stays exact); "late" is born in batch 3 (state full-outer)
      mem.addData((0 until 15).map(i => ("big", i.toLong)) :+
        (("small", 1L)): _*)
      q.processAllAvailable()
      mem.addData((10 until 30).map(i => ("big", i.toLong)) ++
        Seq(("small", 2L), ("small", 1L)): _*)
      q.processAllAvailable()
      mem.addData((25 until 40).map(i => ("big", i.toLong)) ++
        Seq(("small", 3L), ("late", 9L)): _*)
      q.processAllAvailable()
      val view = AggSync.readDistinctView(spark, path, k)
        .select(col("key"), col("n_seen"), col("est")).collect()
        .map(r => r.getString(0) -> ((r.getInt(1), r.getDouble(2))))
        .toMap
      // from-scratch truth: bottom-k over ALL data per key (the union
      // property under test — fold of per-batch bottom-k must equal it)
      val scratch = ((0 until 40).map(i => ("big", i.toLong)) ++
        Seq(("small", 1L), ("small", 2L), ("small", 3L), ("late", 9L)))
        .toDF("key", "v")
      val truth = graft.operators.IncrementalAgg
        .kmvDelta(scratch, "key", "v", k)
        .select(col("key"), size(col("dkmv")).as("n_seen"),
          graft.operators.IncrementalAgg
            .kmvEstimate(col("dkmv"), k).as("est"))
        .collect()
        .map(r => r.getString(0) -> ((r.getInt(1), r.getDouble(2))))
        .toMap
      assert(view == truth, s"maintained sketch diverged: " +
        s"view=$view truth=$truth")
      assert(view("small") == ((3, 3.0)), "unsaturated key must be exact")
      assert(view("big")._1 == k, "saturated key must hold exactly k")
    } finally q.stop()
  }

  test("AggSync KMV replay of a committed batch is a no-op") {
    import spark.implicits._
    val path = Files.createTempDirectory("aggsync-kmv-r").toString
    val k = 4
    val b0 = Seq(("a", 1L), ("a", 2L), ("b", 7L)).toDF("key", "v")
    val b1 = Seq(("a", 3L)).toDF("key", "v")
    AggSync.applyKmvDelta(b0, path, "key", "v", batchId = 0L, k)
    AggSync.applyKmvDelta(b1, path, "key", "v", batchId = 1L, k)
    val before = AggSync.readDistinctView(spark, path, k)
      .select(col("key"), col("n_seen"), col("est")).collect().toSet
    // crash-after-swap replay must not re-fold (KMV re-folding is
    // idempotent on identical input, but the guard is the contract)
    AggSync.applyKmvDelta(b1, path, "key", "v", batchId = 1L, k)
    val after = AggSync.readDistinctView(spark, path, k)
      .select(col("key"), col("n_seen"), col("est")).collect().toSet
    assert(after == before && before.map(_.getString(0)) == Set("a", "b"))
    assert(graft.streaming.TableSync.versions(spark, path) ==
      Seq(0L, 1L), "replay must not write a new version")
  }

  /** Rows of `df` with its columns in name order, as sorted strings. */
  private def rowSet(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(df.columns.sorted.toSeq.map(col): _*).collect()
      .map(_.toString).toSeq.sorted

  test("AggSync readView and readCurrent are identical just before and " +
    "just after a maxGens fold (count/sum and KMV)") {
    import spark.implicits._
    // one bucket, maxGens 3: batches 0-2 leave three delta generations,
    // and batch 3 (a key of its own) folds them back to one
    def gens(p: String) = TableSync.currentManifest(spark, p).get
      .entries(0).length
    def check(path: String, merge: TableSync.Merge,
        apply: (Seq[(String, Long)], Long) => Unit,
        view: () => org.apache.spark.sql.DataFrame, key: String): Unit = {
      val batches = Seq(
        Seq(("a", 1L), ("b", 2L)), Seq(("a", 3L), ("c", 4L)),
        Seq(("a", 5L), ("b", 6L), ("b", 7L)), Seq(("z", 8L)))
      batches.take(3).zipWithIndex.foreach { case (r, b) =>
        apply(r, b.toLong) }
      assert(gens(path) == 3 &&
        TableSync.currentManifest(spark, path).get.merge == merge)
      val notZ = col(key) =!= "z"
      val (v0, c0) = (rowSet(view()),
        rowSet(TableSync.readCurrent(spark, path)))
      apply(batches(3), 3L)
      assert(gens(path) == 1, "batch 3 did not fold the bucket")
      assert(rowSet(view().filter(notZ)) == v0, "view moved across the fold")
      assert(rowSet(TableSync.readCurrent(spark, path).filter(notZ)) == c0,
        "readCurrent moved across the fold")
    }
    val cs = Files.createTempDirectory("aggsync-fold-cs").toString
    check(cs, TableSync.Merge.CountSum,
      (r, b) => AggSync.applyDelta(r.toDF("k", "v"), cs, "k", "v", b,
        numBuckets = 1, maxGens = 3),
      () => AggSync.readView(spark, cs), "k")
    val view = AggSync.readView(spark, cs)
      .select(col("k"), col("n"), col("tot").cast("string"))
      .as[(String, Long, String)].collect().toSet
    assert(view == Set(("a", 3L, "9.00"), ("b", 3L, "15.00"),
      ("c", 1L, "4.00"), ("z", 1L, "8.00")), s"folded sums wrong: $view")
    val km = Files.createTempDirectory("aggsync-fold-kmv").toString
    check(km, TableSync.Merge.Kmv(2),
      (r, b) => AggSync.applyKmvDelta(r.toDF("key", "v"), km, "key", "v",
        b, k = 2, numBuckets = 1, maxGens = 3),
      () => AggSync.readDistinctView(spark, km, k = 2), "key")
    val est = AggSync.readDistinctView(spark, km, k = 2)
      .select(col("key"), col("n_seen")).as[(String, Int)].collect().toMap
    assert(est == Map("a" -> 2, "b" -> 2, "c" -> 1, "z" -> 1), s"$est")
  }

  test("TableSync.readVersion on an AggSync table equals the view as of " +
    "that batch") {
    import spark.implicits._
    val path = Files.createTempDirectory("aggsync-ver").toString
    val batches = (0 until 5).map(b =>
      (0 until 12).map(i => (s"k${(i * (b + 1)) % 7}", i + b / 4.0)))
    batches.zipWithIndex.foreach { case (r, b) =>
      AggSync.applyDelta(r.toDF("k", "v"), path, "k", "v", b.toLong,
        numBuckets = 2, maxGens = 2)
    }
    // retention keeps the current batch and the two before it
    (2 to 4).foreach { b =>
      val want = batches.take(b + 1).flatten.toDF("k", "v")
        .groupBy("k").agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(12,2)")).cast("string").as("tot"))
      val got = TableSync.readVersion(spark, path, b.toLong)
        .select(col("k"), col("n"), col("tot").cast("string").as("tot"))
      assert(rowSet(got) == rowSet(want), s"version $b diverged")
    }
  }

  test("plain TableSync.applyBatch on an AggSync table fails loudly, and " +
    "AggSync on an upsert table too") {
    import spark.implicits._
    val agg = Files.createTempDirectory("aggsync-mix").toString
    AggSync.applyDelta(Seq(("a", 1.0)).toDF("k", "v"), agg, "k", "v", 0L)
    val e = intercept[IllegalArgumentException](TableSync.applyBatch(
      Seq(("a", 1L, BigDecimal(2)), ("b", 1L, BigDecimal(3)))
        .toDF("k", "n", "tot").withColumn("ver", lit(1L)),
      agg, "k", "ver", 1L))
    assert(e.getMessage.contains("countsum"), e.getMessage)
    val ups = Files.createTempDirectory("aggsync-mix-ups").toString
    TableSync.applyBatch(Seq(("a", 1L)).toDF("k", "ver"), ups, "k", "ver", 0L)
    intercept[IllegalArgumentException](AggSync.applyDelta(
      Seq(("a", 1.0)).toDF("k", "v"), ups, "k", "v", 1L))
    assert(TableSync.versions(spark, agg) == Seq(0L) &&
      TableSync.versions(spark, ups) == Seq(0L))
  }

  test("AggSync never reads its state: with the split trigger disarmed " +
    "a fixed-size delta submits as many jobs at batch 6 as at batch 2") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val path = Files.createTempDirectory("aggsync-jobs").toString
    val group = s"aggsync-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    val delta = (0 until 40).map(i => (s"k${i % 20}", i.toDouble))
      .toDF("k", "v")
    def jobsOf(b: Long): Int = {
      jobs.set(0)
      sc.setJobGroup(group, "aggsync-jobs")
      try AggSync.applyDelta(delta, path, "k", "v", b, numBuckets = 4,
        maxBucketBytes = Long.MaxValue)
      finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerBusDrain(sc)
      jobs.get()
    }
    sc.addSparkListener(listener)
    val perBatch =
      try (0L to 6L).map(jobsOf)
      finally sc.removeSparkListener(listener)
    assert(perBatch(6) == perBatch(2),
      s"jobs per batch grew with the stored generations: $perBatch")
    assert(TableSync.currentManifest(spark, path).get.entries.values
      .forall(_.length == 7), "expected seven unfolded generations")
  }
}

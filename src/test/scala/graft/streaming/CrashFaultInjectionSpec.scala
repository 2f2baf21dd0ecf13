package graft.streaming

import java.nio.file.{Files, Path => JPath, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{FaultPoints, TestSpark}
import graft.operators.AnnIndex
import graft.sinks.NamedSink
import graft.sources.TarShards

/** The systematic crash-consistency gate (round-16 order #1): walk
  * EVERY committed-readable publish boundary in the storage layer —
  * enumerated programmatically from the source tree's
  * `FaultPoints.reach("<site>")` literals, not hand-listed — and, for
  * each (site, occurrence) a scenario crosses, kill the writer right
  * there, replay the failed step (the foreachBatch at-least-once
  * contract), finish the scenario, and assert the reader-visible
  * state is BYTE-IDENTICAL to a clean run's. A publish site added
  * without scenario coverage fails the final inventory test.
  *
  * Invariants asserted per armed run:
  *  - the armed crash actually fired (reach counts are deterministic);
  *  - replay + continuation converge: no wedge (any non-injected
  *    throw fails the test), and the final fingerprint — collected
  *    through the PUBLIC read paths (readCurrent / readPairs /
  *    readIndex / probe / readShards / readForKeys) — equals the
  *    clean run's.
  *
  * Fidelity scope (round-17 order #1 closed the lock half): every
  * armed point runs in ABANDON mode first — a firing crash LEAKS the
  * locks its writer held (kill -9 semantics; FaultPoints suppresses
  * the finally release), and the walk asserts the stale-lock recovery
  * contract end-to-end: loud refusal (or the documented degraded
  * sweep-skip), operator lock deletion, convergent replay. Points
  * that leaked are then ALSO walked in unwind mode (a survivable
  * mid-commit throw: finally ran, locks released, plain replay) —
  * both are real failure modes. The last unwind artifact — streams
  * closed by `finally`, flushing buffered tails a real kill never
  * flushes — is covered by [[KillMinus9Spec]] (round-18 order #3):
  * a forked writer JVM is parked MID-WRITE at a `FaultPoints.pulse`
  * point and killed with a real SIGKILL, one representative site per
  * store family (`AtomicFiles.midwrite` under the live commit lock,
  * `TarShards.midstream` with archive+sidecar streams open,
  * `AnnIndex.seg.prewrite` into a slowed parquet stage write), then
  * replayed in-process to fingerprint convergence.
  */
class CrashFaultInjectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ---------------------------------------------------------------
  // harness
  // ---------------------------------------------------------------

  private case class Scenario(name: String,
      steps: String => Seq[() => Unit],
      fingerprint: String => Seq[String])

  private def isInjected(t: Throwable): Boolean = {
    var c: Throwable = t
    var hops = 0
    while (c != null && hops < 32) {
      if (c.isInstanceOf[FaultPoints.InjectedCrash]) return true
      if (c.getMessage != null &&
          c.getMessage.contains("injected crash at")) return true
      c = c.getCause
      hops += 1
    }
    false
  }

  /** Is this throw (possibly task-wrapped) a stale-lock refusal? */
  private def isLockRefusal(t: Throwable): Boolean = {
    var c: Throwable = t
    var hops = 0
    while (c != null && hops < 32) {
      if (c.isInstanceOf[java.util.ConcurrentModificationException] &&
          c.getMessage != null && c.getMessage.contains("lock"))
        return true
      c = c.getCause
      hops += 1
    }
    false
  }

  private def deleteLockFile(id: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(id)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, false)
    ()
  }

  /** One scenario execution over fresh directories. Recording run
    * (arm = None) doubles as the clean-oracle run.
    *
    * `abandon` = kill -9 lock fidelity (round-17 order #1): a firing
    * crash LEAKS the locks its "process" held — the engine's finally
    * release is suppressed, the files stay on disk — and this harness
    * then walks the full stale-lock recovery contract: the replay
    * either refuses loudly (naming a lock) or completes despite the
    * stale lock (a documented degraded path, e.g. the orphan-sweep
    * skip); the operator then deletes the named lock files; the next
    * replay must converge. Returns whether any lock leaked so the
    * walk can ALSO run the unwind flavor (a non-fatal mid-commit
    * throw where finally DID run — both are real failure modes).
    */
  private def runScenario(s: Scenario, arm: Option[(String, Long)],
      abandon: Boolean = false)
      : (Map[String, Long], Seq[String], Boolean, Boolean) = {
    val root = Files.createTempDirectory(s"crash-${s.name}-").toString
    val steps = s.steps(root)
    var crashed = false
    var anyLeak = false
    arm match {
      case None              => FaultPoints.startRecording()
      case Some((site, occ)) => FaultPoints.armCrash(site, occ)
    }
    if (abandon) FaultPoints.enableAbandonMode()
    try {
      steps.foreach { step =>
        try step()
        catch {
          case t: Throwable if isInjected(t) =>
            assert(!crashed,
              s"[${s.name}] injected crash fired twice after disarm")
            crashed = true
            FaultPoints.disarm()
            val leaked =
              if (abandon) FaultPoints.drainLeakedLocks() else Set.empty[String]
            if (leaked.nonEmpty) {
              anyLeak = true
              // the killed writer's lock files are on disk. The
              // replay must never wedge silently: it either REFUSES
              // loudly (the commit-lock contract) or completes on a
              // documented degraded path (sweep-skip). Anything else
              // propagates and fails the walk.
              val refused =
                try { step(); false }
                catch { case t2: Throwable if isLockRefusal(t2) => true }
              // operator recovery, exactly as the refusal message
              // instructs: verify no writer is alive, delete the lock
              leaked.foreach(deleteLockFile)
              if (refused) step()
            } else
              // the recovery contract: re-run the failed unit (the
              // replay), then continue — exactly what a restarted
              // stream / re-submitted job does
              step()
        }
      }
    } finally {
      FaultPoints.disarm()
      if (abandon) FaultPoints.disableAbandonMode()
    }
    val rec =
      if (arm.isEmpty) FaultPoints.stopRecording()
      else Map.empty[String, Long]
    (rec, s.fingerprint(root), crashed, anyLeak)
  }

  /** Clean run, then per (site, occurrence) — EVERY occurrence for
    * sites the scenario crosses up to three times (the common case —
    * one hit per batch), first + last beyond — an ABANDON-mode armed
    * run (kill -9: held locks leak, stale-lock recovery walked); when
    * that run leaked locks, ALSO an unwind-mode run (a survivable
    * mid-commit throw: finally ran, locks released, plain replay).
    * Returns (site->count, sites observed leaking a lock).
    */
  private def walk(s: Scenario): (Map[String, Long], Set[String]) = {
    val (rec, cleanFp, _, _) = runScenario(s, None)
    assert(rec.nonEmpty, s"[${s.name}] reached no fault sites")
    val failures = mutable.Buffer[String]()
    val leakSites = mutable.Set.empty[String]
    for {
      (site, count) <- rec.toSeq.sortBy(_._1)
      occ <- (if (count <= 3) (1L to count).toSeq
              else Seq(1L, count)).distinct
    } {
      def armedRun(abandon: Boolean): Option[Boolean] =
        try {
          val (_, fp, fired, leak) =
            runScenario(s, Some((site, occ)), abandon)
          val mode = if (abandon) "abandon" else "unwind"
          if (!fired)
            failures += s"$site#$occ[$mode] never fired — reach " +
              "count drifted between runs (nondeterministic publish " +
              "sequence?)"
          else if (fp != cleanFp)
            failures += s"$site#$occ[$mode] diverged from the clean " +
              s"run:\n    clean: $cleanFp\n    crashed: $fp"
          Some(leak)
        } catch {
          case t: Throwable =>
            failures += s"$site#$occ wedged: ${t.getClass.getName}: " +
              s"${t.getMessage}"
            None
        }
      armedRun(abandon = true).foreach { leak =>
        if (leak) {
          leakSites += site
          armedRun(abandon = false)
          ()
        }
      }
    }
    assert(failures.isEmpty,
      s"[${s.name}] ${failures.size} crash-point failures:\n  " +
        failures.mkString("\n  "))
    (rec, leakSites.toSet)
  }

  // union of recorded coverage across scenario tests, checked by the
  // final inventory test (tests run in registration order)
  private val covered = mutable.Map.empty[String, Long]
  private val leakWalked = mutable.Set.empty[String]
  private def record(s: Scenario): Unit = {
    val (rec, leaks) = walk(s)
    rec.foreach { case (k, v) =>
      covered(k) = covered.getOrElse(k, 0L) + v
    }
    leakWalked ++= leaks
  }

  private def rowsFp(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ---------------------------------------------------------------
  // fixtures
  // ---------------------------------------------------------------

  private val docRows: Seq[(Long, String)] = Seq(
    1L -> "the quick brown fox jumps over the lazy dog again and again today",
    4L -> "the quick brown fox jumps over the lazy dog again and again tonight",
    8L -> "the quick brown fox jumps over the lazy dog again and again",
    9L -> "an entirely different document about spark shuffles and joins",
    5L -> "an entirely different document about spark shuffles and joins",
    7L -> "a second template discussing watermarks state stores and checkpoint recovery now",
    2L -> "a second template discussing watermarks state stores and checkpoint recovery today",
    3L -> "filler alpha beta gamma delta epsilon zeta eta theta iota kappa",
    6L -> "unrelated text regarding parquet column pruning and predicate pushdown")

  private val A = Array(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)
  private val B = Array(8f, 7f, 6f, 5f, 4f, 3f, 2f, 1f)
  private val C = Array(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)
  private val vecRows: Seq[(Long, Seq[Float])] = Seq(
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

  // ---------------------------------------------------------------
  // scenarios
  // ---------------------------------------------------------------

  test("tablesync: every publish boundary crash converges") {
    record(Scenario("tablesync",
      root => {
        import spark.implicits._
        val path = s"$root/table"
        def batch(b: Long, rows: Seq[(String, Long, String)]) = () =>
          TableSync.applyBatch(rows.toDF("k", "ver", "v"), path,
            "k", "ver", b, numBuckets = 4, maxGens = 2)
        Seq(
          batch(0L, Seq(("a", 0L, "a0"), ("b", 0L, "b0"),
            ("c", 0L, "c0"), ("d", 0L, "d0"))),
          batch(1L, Seq(("a", 1L, "a1"), ("e", 1L, "e1"))),
          // third touch of bucket-sharing keys exceeds maxGens=2 and
          // forces merge-on-read folds through the commit
          batch(2L, Seq(("a", 2L, "a2"), ("b", 2L, "b2"),
            ("e", 2L, "e2"))))
      },
      root => rowsFp(TableSync.readCurrent(spark, s"$root/table"))))
  }

  test("dedupsync: every publish boundary crash converges") {
    record(Scenario("dedupsync",
      root => {
        import spark.implicits._
        val ix = s"$root/ix"
        val pr = s"$root/pairs"
        def batch(b: Long, ids: Set[Long]) = () =>
          DedupSync.applyDocs(
            docRows.filter(r => ids(r._1)).toDF("doc_id", "text"),
            ix, pr, "text", "doc_id", b, threshold = 0.5,
            numBuckets = 8, compactEvery = 2,
            driverProbeMinIndexBytes = 0L)
        Seq(
          batch(0L, Set(1L, 4L, 9L, 3L)),
          // cross-batch dups (8 vs 1/4; 5 vs 9; 2 vs 7-less group)
          // plus the compactEvery=2 pairs fold inside the run
          batch(1L, Set(8L, 5L, 7L, 2L, 6L)))
      },
      root => {
        val pairs = DedupSync.readPairs(spark, s"$root/pairs")
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6))
        val index = DedupSync.readIndex(spark, s"$root/ix")
          .select(col("id"), col("fp"))
        rowsFp(pairs) ++ rowsFp(index)
      }))
  }

  test("vecdedupsync: every publish boundary crash converges") {
    record(Scenario("vecdedupsync",
      root => {
        import spark.implicits._
        val ix = s"$root/vix"
        val pr = s"$root/vpairs"
        def batch(b: Long, ids: Set[Long]) = () =>
          VecDedupSync.applyVecs(
            vecRows.filter(r => ids(r._1)).toDF("vec_id", "embedding"),
            ix, pr, "embedding", "vec_id", b, threshold = 0.9,
            dim = 8, numBuckets = 8, compactEvery = 2)
        Seq(
          batch(0L, Set(3L, 6L, 9L, 1L, 4L)),
          batch(1L, Set(7L, 2L, 5L, 8L)))
      },
      root => {
        val pairs = VecDedupSync.readPairs(spark, s"$root/vpairs")
          .select(col("id_a"), col("id_b"), round(col("cosine"), 6))
        val index = VecDedupSync.readIndex(spark, s"$root/vix")
          .select(col("id"))
        rowsFp(pairs) ++ rowsFp(index)
      }))
  }

  test("aggsync: every publish boundary crash converges") {
    record(Scenario("aggsync",
      root => {
        import spark.implicits._
        val path = s"$root/agg"
        def batch(b: Long, rows: Seq[(String, Double)]) = () =>
          AggSync.applyDelta(rows.toDF("k", "amount"), path,
            "k", "amount", b, numBuckets = 4)
        Seq(
          batch(0L, Seq(("a", 1.0), ("b", 2.0), ("c", 3.0))),
          // overlapping keys: the merge must fold prior state — the
          // exact path the archive-crash applied-check bug corrupted
          batch(1L, Seq(("a", 4.0), ("d", 5.0))),
          batch(2L, Seq(("a", 6.0), ("b", 7.0), ("d", 8.0))))
      },
      root => rowsFp(TableSync.readCurrent(spark, s"$root/agg")
        .select(col("k"), col("n"), col("tot")))))
  }

  test("keyedlog fold: every publish boundary crash converges") {
    record(Scenario("keyedfold",
      root => {
        import spark.implicits._
        val path = s"$root/klog"
        def seg(id: Long, lo: Long) = () =>
          KeyedLog.append((lo until lo + 6L).map(i => (i, i * 10))
            .toDF("bk", "payload"), path, id)
        Seq(
          seg(1L, 0L), seg(2L, 3L),
          () => KeyedLog.compact(spark, path, "bk", fanout = 2),
          seg(3L, 6L), seg(4L, 9L),
          // cascades: two L1 folds meet fanout=2 again
          () => KeyedLog.compact(spark, path, "bk", fanout = 2))
      },
      root => {
        import spark.implicits._
        // the reader contract is SUPERSET + caller collapse: a crash
        // between fold-publish and source-delete legitimately leaves
        // duplicates, which callers' distinct removes
        val read = KeyedLog.readForKeys(spark, s"$root/klog",
          (0L until 12L).toDF("bk"), "bk")
        read.map(df => rowsFp(df.select("bk", "payload").distinct()))
          .getOrElse(Seq("<no segments>"))
      }))
  }

  test("veclog publish + fold: every boundary crash converges") {
    record(Scenario("veclogfold",
      root => {
        import spark.implicits._
        val path = s"$root/vlog"
        val depths = VecLog.Depths(2, 8, Map((0, 1L) -> 4))
        def rows(lo: Long) = (lo until lo + 6L)
          .map(i => (0, i % 16, i)).toDF("tbl", "sig", "id")
        Seq(
          () => VecLog.appendBucketed(rows(0L), path, 1L, depths),
          // deterministic replay of the same segment: the dest
          // exists, so the publish takes the rename-aside path
          () => VecLog.appendBucketed(rows(0L), path, 1L, depths),
          () => VecLog.append(rows(6L), path, 2L, depths),
          () => VecLog.compact(spark, path, depths, fanout = 2))
      },
      root => {
        import spark.implicits._
        val depths = VecLog.Depths(2, 8, Map((0, 1L) -> 4))
        val probes = (0L until 16L).map(s => (0, s)).toDF("tbl", "sig")
        VecLog.readForKeys(spark, s"$root/vlog", probes, depths)
          .map(df => rowsFp(df.select("tbl", "sig", "id").distinct()))
          .getOrElse(Seq("<no segments>"))
      }))
  }

  test("annindex lifecycle: every publish boundary crash converges") {
    import spark.implicits._
    // deterministic 8-dim corpus with coarse cluster structure
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(d => ((i % 5) - 2).toFloat + (if (d == (i % 8).toInt) 2f else 0f))
    val corpus = (0L until 40L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val more = (40L until 50L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val dead = Seq(2L, 7L, 44L).toDF("vec_id")
    val queries = (100L until 104L)
      .map(i => (i, vec(i))).toDF("vec_id", "embedding")
    record(Scenario("annindex",
      root => {
        val path = s"$root/ann"
        Seq(
          () => AnnIndex.build(corpus, path, nlist = 4, dim = 8),
          () => AnnIndex.append(more, path, segId = 1L),
          () => AnnIndex.delete(dead, path, segId = 2L),
          // build-over-existing routes through the generation
          // rotation — covers rotate.built/swap/cleaned and the
          // nested bootstrap inside the new generation
          () => AnnIndex.build(corpus.unionByName(more), path,
            nlist = 4, dim = 8),
          () => { AnnIndex.driftCheck(spark, path, sample = 8, k = 3); () },
          // maybeRebuild crosses the SWEEP lock (held around the
          // orphan sweep) — deterministic no-rebuild here: the fresh
          // build above zeroed churn and the baseline was just
          // recorded, so drift cannot recommend
          () => { AnnIndex.maybeRebuild(spark, path, sample = 8,
            k = 3); () })
      },
      root => rowsFp(AnnIndex.probe(spark, s"$root/ann", queries,
        k = 3).select(col("qid"), col("id"), col("rank")))))
  }

  test("tarshards: every publish boundary crash converges") {
    record(Scenario("tarshards",
      root => {
        import spark.implicits._
        val out = s"$root/shards"
        // duplicate member name inside shard a — the byte-determinism
        // tiebreaker case (sorted by payload when names tie)
        val members = Seq(
          ("a", "x.txt", "payload-one"),
          ("a", "x.txt", "payload-two"),
          ("a", "y.txt", "other"),
          ("b", "z.txt", "zzz"),
          ("b", "w.txt", "www"))
          .map { case (s, n, p) => (s, n, p.getBytes("UTF-8")) }
          .toDF("shard", "name", "content")
        Seq(() => {
          TarShards.writeShards(members, "name", "content", "shard",
            out).collect()
          ()
        })
      },
      root => {
        val read = TarShards.readShards(spark, s"$root/shards")
          .select(col("shard"), col("name"), sha2(col("content"), 256))
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sessionState.newHadoopConf())
        // reader-visible files only: stranded attempt tmps from the
        // crashed run legitimately linger (the hygiene sweep is
        // AGE-GATED so it cannot kill a live concurrent invocation's
        // in-flight tmps — TarShardsSpec pins both halves); readers
        // glob *.tar/*.idx and never see them
        val listed = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/shards"))
          .map(_.getPath.getName).sorted.toSeq
          .filterNot(_.endsWith(".tmp"))
        // idx sidecars must pair their archives byte-consistently
        val idx = listed.filter(_.endsWith(".idx")).map { n =>
          val p = new org.apache.hadoop.fs.Path(s"$root/shards/$n")
          val len = fs.getFileStatus(p).getLen.toInt
          val buf = new Array[Byte](len)
          val in = fs.open(p)
          try in.readFully(0, buf) finally in.close()
          s"$n:${new String(buf, "UTF-8")}"
        }
        rowsFp(read) ++ listed ++ idx
      }))
  }

  test("namedsink: every publish boundary crash converges") {
    record(Scenario("namedsink",
      root => {
        import spark.implicits._
        val out = s"$root/named"
        val results = (0 until 6)
          .map(i => (s"key-$i", s"out-$i".getBytes("UTF-8"), 0, null: String))
          .toDF("key", "output", "exitCode", "error")
        Seq(() => { NamedSink.publish(results, out, ".out").collect(); () })
      },
      root => {
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sessionState.newHadoopConf())
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/named"))
          .map { st =>
            val len = st.getLen.toInt
            val buf = new Array[Byte](len)
            val in = fs.open(st.getPath)
            try in.readFully(0, buf) finally in.close()
            s"${st.getPath.getName}=${new String(buf, "UTF-8")}"
          }.sorted.toSeq
      }))
  }

  // ---------------------------------------------------------------
  // the programmatic inventory gate — MUST register last
  // ---------------------------------------------------------------

  test("inventory: every reach() site in src/main is scenario-covered") {
    val srcRoot = Paths.get("src/main/scala")
    assert(Files.isDirectory(srcRoot),
      s"source root not found from ${System.getProperty("user.dir")}")
    val files: Seq[JPath] = {
      val s = Files.walk(srcRoot)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val lit = """FaultPoints\.reach\(\s*"([^"]+)"""".r
    val anyCall = """FaultPoints\.reach\(""".r
    var sites = Set.empty[String]
    var calls = 0
    var lits = 0
    files.foreach { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      if (f.getFileName.toString != "FaultPoints.scala") {
        calls += anyCall.findAllMatchIn(text).size
        val found = lit.findAllMatchIn(text).map(_.group(1)).toList
        lits += found.size
        sites ++= found
      }
    }
    assert(calls == lits,
      s"$calls reach() calls but only $lits string-literal site names " +
        "— sites must be literals so this inventory can enumerate them")
    assert(sites.nonEmpty, "no reach() sites found in src/main")
    val uncovered = sites -- covered.keySet
    assert(uncovered.isEmpty,
      s"publish sites with NO crash-scenario coverage: " +
        s"${uncovered.toSeq.sorted.mkString(", ")} — add a scenario " +
        "leg that crosses them")
    val phantom = covered.keySet -- sites
    assert(phantom.isEmpty,
      s"recorded sites missing from source scan: $phantom")
    // the abandon-mode (kill -9) walk must have actually exercised
    // stale-lock recovery at BOTH lock-guarded stores — if these stop
    // leaking, a refactor moved publishes out of their lock windows
    // and the no-unwind coverage silently evaporated
    assert(leakWalked.exists(_.startsWith("TableSync.commit.")),
      s"no TableSync commit-lock site leaked in the abandon walk " +
        s"(leaked: ${leakWalked.toSeq.sorted})")
    assert(leakWalked.exists(_.startsWith("AnnIndex.")),
      s"no AnnIndex rebuild/sweep-lock site leaked in the abandon " +
        s"walk (leaked: ${leakWalked.toSeq.sorted})")
  }
}

package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SpawnCounter, TestSpark}

class BatchPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkInputs(): (String, Map[String, Array[Byte]]) = {
    val dir = Files.createTempDirectory("graft-in-")
    val files = Map(
      "a.txt" -> "alpha".getBytes("UTF-8"),
      "b.bin" -> Array[Byte](0, 1, 2, -128, 127, 0),
      "empty" -> Array.empty[Byte],
      "uni-ü.dat" -> "ünïcode".getBytes("UTF-8"))
    files.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
    (dir.toString, files)
  }

  test("identity cp: every input reappears byte-identical as <f>.out") {
    val (in, files) = mkInputs()
    val out = Files.createTempDirectory("graft-out-").toString
    val res = BatchPipeline.run(spark, in, out, Seq("cp"))
    assert(res.processed == files.size && res.failed == 0)
    files.foreach { case (n, bytes) =>
      val got = Files.readAllBytes(Paths.get(out, n + ".out"))
      assert(got.toSeq == bytes.toSeq, s"$n differs")
    }
  }

  test("rerun is idempotent (at-least-once => same output set)") {
    val (in, files) = mkInputs()
    val out = Files.createTempDirectory("graft-out-").toString
    BatchPipeline.run(spark, in, out, Seq("cp"))
    val res2 = BatchPipeline.run(spark, in, out, Seq("cp"))
    assert(res2.processed == files.size)
    val produced = Paths.get(out).toFile.list().toSet
    assert(produced == files.keySet.map(_ + ".out"))
  }

  test("named sink publishes through Hadoop FS URIs (file:///)") {
    val (in, files) = mkInputs()
    val outLocal = Files.createTempDirectory("graft-out-uri-")
    val out = "file://" + outLocal.toString // scheme-qualified URI path
    val res = BatchPipeline.run(spark, in, out, Seq("cp"))
    assert(res.processed == files.size && res.failed == 0)
    files.foreach { case (n, bytes) =>
      val got = Files.readAllBytes(outLocal.resolve(n + ".out"))
      assert(got.toSeq == bytes.toSeq, s"$n differs")
    }
    // no temp litter left behind
    assert(!outLocal.toFile.list().exists(_.endsWith(".tmp")))
  }

  test("failures land in quarantine, successes still publish") {
    val (in, files) = mkInputs()
    val out = Files.createTempDirectory("graft-out-").toString
    // fail only for the empty file
    val cmd = Seq("sh", "-c",
      """test -s "$1" && cp "$1" "$2"""", "sel")
    val res = BatchPipeline.run(spark, in, out, cmd)
    assert(res.processed == 3 && res.failed == 1)
    val q = spark.read.parquet(out + "_quarantine").collect()
    assert(q.map(_.getString(0)).toSet == Set("empty"))
    assert(!Files.exists(Paths.get(out, "empty.out")))
    assert(Files.exists(Paths.get(out, "a.txt.out")))
  }

  test("quarantine retry: transient failures drain, poison rows exhaust") {
    val (in, _) = mkInputs()
    val out = Files.createTempDirectory("graft-out-").toString
    // transient failure: command refuses empty files
    val picky = Seq("sh", "-c", """test -s "$1" && cp "$1" "$2"""", "sel")
    val r0 = BatchPipeline.run(spark, in, out, picky)
    assert(r0.failed == 1) // the empty file
    // "fixed" command: plain cp succeeds for everything -> drains
    val r1 = BatchPipeline.retryQuarantine(spark, in, out, Seq("cp"))
    assert(r1.processed == 1 && r1.failed == 0)
    assert(Files.exists(Paths.get(out, "empty.out")))
    // poison path: rebuild quarantine, then retry with the failing
    // command until the attempt budget (3) exhausts
    val out2 = Files.createTempDirectory("graft-out2-").toString
    BatchPipeline.run(spark, in, out2, picky)
    BatchPipeline.retryQuarantine(spark, in, out2, picky) // attempts=2
    val r3 = BatchPipeline.retryQuarantine(spark, in, out2, picky) // =3
    assert(r3.failed == 1)
    val r4 = BatchPipeline.retryQuarantine(spark, in, out2, picky)
    assert(r4.processed == 0 && r4.failed == 1) // exhausted, untouched
    val rows = spark.read.parquet(out2 + "_quarantine").collect()
    assert(rows.length == 1 && rows.head.getAs[Int]("attempts") == 3)
  }

  test("run and retryQuarantine spawn the command once per input file") {
    // nothing caches the results, so a second action over them would
    // silently run the command again
    val (in, files) = mkInputs()
    val tmp = Files.createTempDirectory("graft-spawn-")
    val out = tmp.resolve("out").toString
    val runCount = tmp.resolve("run.count")
    val r0 = BatchPipeline.run(spark, in, out,
      SpawnCounter.command(runCount, refuseEmpty = true))
    assert(r0 == BatchPipeline.Result(files.size - 1L, 1L))
    assert(SpawnCounter.spawns(runCount) == files.size)
    val retryCount = tmp.resolve("retry.count")
    val r1 = BatchPipeline.retryQuarantine(spark, in, out,
      SpawnCounter.command(retryCount))
    assert(r1 == BatchPipeline.Result(1L, 0L))
    assert(SpawnCounter.spawns(retryCount) == 1) // the quarantined file only
    assert(Files.readAllBytes(Paths.get(out, "empty.out")).isEmpty)
  }

  test("one run over an unshuffled directory submits exactly one Spark job") {
    val (in, files) = mkInputs()
    val out = Files.createTempDirectory("graft-out-").toString
    val group = s"graft-one-job-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "one pipeline run")
    try {
      val res = BatchPipeline.run(spark, in, out, Seq("cp"))
      assert(res == BatchPipeline.Result(files.size.toLong, 0L))
      ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 1, s"${jobs.get} jobs for one run")
  }
}

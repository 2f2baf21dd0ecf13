package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sinks.NamedSink

class PipeTransformSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val inSchema = StructType(Seq(
    StructField("key", StringType), StructField("content", BinaryType)))

  private def df(rows: (String, Array[Byte])*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), inSchema)

  /** Publish `results` to a fresh dir: (published keys, failed keys).
    * Exactly the published keys must have landed as files.
    */
  private def publishSplit(results: DataFrame): (Seq[String], Seq[String]) = {
    val out = Files.createTempDirectory("graft-pub-")
    val (ok, bad) = NamedSink.publish(results, out.toString, ".out")
      .collect().partition(_.getBoolean(3))
    val okKeys = ok.map(_.getString(0)).toSeq
    assert(out.toFile.list().toSet == okKeys.map(_ + ".out").toSet)
    (okKeys, bad.map(_.getString(0)).toSeq)
  }

  test("cp identity round-trips binary content incl NULs and empty") {
    val payloads = Seq(
      "plain" -> "hello world".getBytes("UTF-8"),
      "binary" -> Array[Byte](0, 1, 2, -1, 10, 13, 0, 42),
      "empty" -> Array.empty[Byte],
      "unicode-名前" -> "héllo ✓".getBytes("UTF-8"))
    val out = PipeTransform.transform(df(payloads: _*), Seq("cp"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == 4)
    payloads.foreach { case (k, bytes) =>
      val r = out(k)
      assert(r.getInt(2) == 0, s"$k exit")
      assert(r.getAs[Array[Byte]](1).toSeq == bytes.toSeq, s"$k bytes")
    }
  }

  test("failing command yields nonzero exit, null output, row survives") {
    val out = PipeTransform.transform(
      df("a" -> "x".getBytes), Seq("false")).collect()
    assert(out.length == 1)
    assert(out(0).getInt(2) != 0)
    assert(out(0).get(1) == null)
  }

  test("missing executable is captured as spawn error, not task failure") {
    val out = PipeTransform.transform(
      df("a" -> "x".getBytes), Seq("/no/such/binary-xyz")).collect()
    assert(out(0).getInt(2) == -1)
    assert(out(0).getString(3) != null)
  }

  test("command exiting 0 without writing output is a failure") {
    val out = PipeTransform.transform(
      df("a" -> "x".getBytes), Seq("true")).collect()
    // synthetic nonzero exit: exit-0-no-output must never classify as
    // success (it has no bytes to publish — silent-loss hazard)
    assert(out(0).getInt(2) == PipeTransform.NoOutputExit)
    assert(out(0).get(1) == null)
    assert(out(0).getString(3).contains("no output"))
  }

  test("split quarantines exit-0-no-output rows, never drops them") {
    val mixed = PipeTransform.transform(df("ok" -> "x".getBytes), Seq("cp"))
      .union(PipeTransform.transform(df("silent" -> "x".getBytes), Seq("true")))
    val (ok, bad) = publishSplit(mixed)
    assert(ok == Seq("ok"))
    assert(bad == Seq("silent"))
  }

  test("split treats a null-output exit-0 row from any producer as failure") {
    // direct row injection (not via runOne): belt-and-braces guard
    val rows = java.util.Arrays.asList(
      Row("a", "b".getBytes, 0, null), Row("weird", null, 0, null))
    val d = spark.createDataFrame(rows, PipeTransform.outputSchema)
    val (ok, bad) = publishSplit(d)
    assert(ok == Seq("a"))
    assert(bad == Seq("weird"))
  }

  test("stderr of failing command is captured") {
    val cmd = Seq("sh", "-c", """echo boom >&2; exit 3""", "t")
    val out = PipeTransform.transform(df("a" -> "x".getBytes), cmd).collect()
    assert(out(0).getInt(2) == 3)
    assert(out(0).getString(3).contains("boom"))
  }

  test("split routes by exit code") {
    val mixed = PipeTransform.transform(
      df("ok" -> "x".getBytes), Seq("cp"))
      .union(PipeTransform.transform(df("bad" -> "x".getBytes), Seq("false")))
    val (ok, bad) = publishSplit(mixed)
    assert(ok == Seq("ok"))
    assert(bad == Seq("bad"))
  }

  test("hung command is killed at the timeout and routes to failure") {
    // a command that sleeps far past the 1 s timeout: the record must
    // come back as a TimeoutExit failure in ~1 s, not wedge the task
    // (the reference's VisibilityTimeout reclaim, as a kill)
    val t0 = System.nanoTime()
    val out = PipeTransform.transform(
      df("hang" -> "x".getBytes),
      Seq("sh", "-c", "sleep 600", "t"), timeoutSec = 1).collect()
    val elapsedS = (System.nanoTime() - t0) / 1e9
    assert(out(0).getInt(2) == PipeTransform.TimeoutExit)
    assert(out(0).isNullAt(1))
    assert(out(0).getString(3).contains("timed out"))
    assert(elapsedS < 30, s"kill took ${elapsedS}s — timeout not enforced")
    // and publish() quarantines it like any other failure
    val (ok, bad) = publishSplit(PipeTransform.transform(
      df("hang" -> "x".getBytes),
      Seq("sh", "-c", "sleep 600", "t"), timeoutSec = 1))
    assert(ok.isEmpty && bad == Seq("hang"))
  }

  test("timeout kill takes down the whole process tree, not just the wrapper") {
    // the trailing `; echo` forces sh to FORK sleep instead of exec'ing
    // it, so the tree is sh(child) -> sleep(grandchild); killing only
    // the direct child reparents a live sleep to init — the hung binary
    // the timeout exists to stop would survive it
    val marker = "601.2345" // unique sleep arg: findable in ps, no collisions
    val out = PipeTransform.transform(
      df("tree" -> "x".getBytes),
      Seq("sh", "-c", s"sleep $marker; echo done", "t"),
      timeoutSec = 1).collect()
    assert(out(0).getInt(2) == PipeTransform.TimeoutExit)
    Thread.sleep(500) // let SIGKILL land and the entry leave the table
    val ps = new String(new ProcessBuilder("ps", "-eo", "args")
      .start().getInputStream.readAllBytes())
    assert(!ps.contains(s"sleep $marker"),
      "grandchild survived the timeout kill")
  }
}

package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SURVEY.md §5.3 property-based suite: ∀ file sets — output count =
  * input count (succeeding commands), naming bijection f ↦ f+ext,
  * idempotence (run twice = run once), and at-least-once simulation
  * (duplicated job rows ⇒ identical final output set).
  *
  * Driven by raw ScalaCheck generators with fixed seeds (the
  * scalatest-plus bridge is not on this offline classpath): each
  * property runs over 10 deterministic generated file sets.
  */
class PipelinePropertiesSpec extends AnyFunSuite {

  private def forAll(gen: Gen[Map[String, Array[Byte]]])(
      body: Map[String, Array[Byte]] => Unit): Unit =
    (0 until 10).foreach { i =>
      val sample = gen.apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(Map("fallback" -> Array[Byte](1)))
      withClue(s"seed=${42 + i} files=${sample.keys.toList.sorted}") {
        body(sample)
      }
    }

  private lazy val spark = TestSpark.spark

  private val inSchema = StructType(Seq(
    StructField("key", StringType), StructField("content", BinaryType)))

  private def toDf(files: Map[String, Array[Byte]]) =
    spark.createDataFrame(
      java.util.Arrays.asList(files.toSeq.map(f => Row(f._1, f._2)): _*),
      inSchema)

  private def publish(results: DataFrame, dir: String): Unit =
    assert(graft.sinks.NamedSink.publish(results, dir, ".out").collect()
      .forall(_.getBoolean(3)))

  // file names: short, safe charset, distinct; content: arbitrary bytes
  private val genName: Gen[String] = for {
    n <- Gen.choose(1, 12)
    cs <- Gen.listOfN(n, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('-', '_', '.')))
  } yield cs.mkString
  private val genFiles: Gen[Map[String, Array[Byte]]] = for {
    n <- Gen.choose(1, 8)
    names <- Gen.listOfN(n, genName)
    contents <- Gen.listOfN(n, Arbitrary.arbitrary[Array[Byte]])
  } yield names.zip(contents).toMap

  test("∀ file sets: identity pipe preserves count, names, and bytes") {
    forAll(genFiles) { files =>
      val out = PipeTransform.transform(toDf(files), Seq("cp")).collect()
      assert(out.length == files.size)
      val byKey = out.map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      assert(byKey.keySet == files.keySet)          // naming bijection
      files.foreach { case (k, bytes) =>
        assert(byKey(k).toSeq == bytes.toSeq)       // byte fidelity
        }
      assert(out.forall(_.getInt(2) == 0))
    }
  }

  test("∀ file sets: duplicated jobs (at-least-once) yield the same output set") {
    forAll(genFiles) { files =>
      val once = toDf(files)
      val dup = once.union(once) // every job delivered twice
      val dir1 = Files.createTempDirectory("graft-prop1-").toString
      val dir2 = Files.createTempDirectory("graft-prop2-").toString
      publish(PipeTransform.transform(once, Seq("cp")), dir1)
      publish(PipeTransform.transform(dup, Seq("cp")), dir2)
      def listing(d: String) = Paths.get(d).toFile.list().toSet
      assert(listing(dir1) == listing(dir2))
      // and contents equal (duplicate delivery overwrote atomically)
      listing(dir1).foreach { f =>
        assert(Files.readAllBytes(Paths.get(dir1, f)).toSeq ==
          Files.readAllBytes(Paths.get(dir2, f)).toSeq)
      }
    }
  }

  test("∀ file sets: rerunning the sink is idempotent") {
    forAll(genFiles) { files =>
      val results = PipeTransform.transform(toDf(files), Seq("cp"))
      val dir = Files.createTempDirectory("graft-prop3-").toString
      publish(results, dir)
      val first = Paths.get(dir).toFile.list().toSet
      publish(results, dir)
      assert(Paths.get(dir).toFile.list().toSet == first)
      assert(first == files.keySet.map(_ + ".out"))
    }
  }

  test("∀ keys: sink name sanitization is injective (no output collisions)") {
    // adversarial charset: separators, escapes, and the URI-special
    // chars the Hadoop-Path port added to the encoding set
    val genKey: Gen[String] = for {
      n <- Gen.choose(1, 10)
      cs <- Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumChar,
        Gen.oneOf('/', '\\', '%', ':', '#', '?', '.', ' ')))
    } yield cs.mkString
    val pairs = (0 until 500).flatMap { i =>
      for {
        a <- genKey.apply(Gen.Parameters.default, Seed(1000L + i))
        b <- genKey.apply(Gen.Parameters.default, Seed(9000L + i))
      } yield (a, b)
    }
    pairs.foreach { case (a, b) =>
      val (sa, sb) = (graft.sinks.NamedSink.sanitize(a),
        graft.sinks.NamedSink.sanitize(b))
      if (a == b) assert(sa == sb)
      else assert(sa != sb, s"collision: '$a' and '$b' -> '$sa'")
    }
  }
}

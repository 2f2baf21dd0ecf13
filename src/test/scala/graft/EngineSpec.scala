package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the session carries its fixed SQL and output-committer settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
    assert(conf.get(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes") == "67108864")
    assert(conf.get("spark.sql.codegen.wholeStage") == "true")
    assert(conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold") == "32")
    // Hadoop's mapred-default says committer algorithm 2; Spark sets 1
    // unless the session does, and the session leaves it to Spark
    val hadoop = spark.sparkContext.hadoopConfiguration
    assert(hadoop.get(
      "mapreduce.fileoutputcommitter.algorithm.version") == "1")
    assert(hadoop.get(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs") == "true")
  }

  test("src/main reads env vars only for Engine's core count and " +
    "Bench's paths") {
    val srcRoot = Paths.get("src/main/scala")
    assert(Files.isDirectory(srcRoot),
      s"source root not found from ${System.getProperty("user.dir")}")
    val files: Seq[Path] = {
      val s = Files.walk(srcRoot)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val envRead = """sys\.env|getenv|envOr""".r
    val hits: Seq[(String, String)] = files.flatMap { f =>
      Files.readAllLines(f).asScala
        .filter(l => envRead.findFirstIn(l).nonEmpty)
        .map(l => f.getFileName.toString -> l.trim)
    }
    assert(hits.nonEmpty, "scan found no env reads at all")
    val stray = hits.filterNot {
      case ("Bench.scala", _) => true
      case ("Engine.scala", l) => l.contains("\"SPARK_GRAFT_CPUS\"")
      case _ => false
    }
    assert(stray.isEmpty,
      s"env reads outside the deployment settings: ${stray.mkString("; ")}")
  }
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.tools.FixtureGen

/** One-time preparation, cached beside the build: the base fixture
  * (the engine's own generator at its default seed, so every checkout
  * measures the same data) and the DuckDB oracle SQL of every query the
  * benchmark runs. Every query in the set has an oracle; a query
  * without one is refused here rather than left unchecked.
  */
object Prep {
  def run(spark: SparkSession, fixture: String, out: String): Unit = {
    try {
      FixtureGen.generate(spark, fixture, FixtureGen.DefaultSeed)
      val sql = Queries.layers.keys.toSeq.sorted.map { n =>
        val d = SparkEntry.all(n)
        n -> d.oracle.orElse(d.oracleGen.map(_(spark, fixture)))
          .getOrElse(sys.error(s"$n has no DuckDB oracle")).trim
      }.toMap
      Files.write(Paths.get(out),
        Json.render(sql).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}

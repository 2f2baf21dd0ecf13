package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.{Engine, SparkEntry}

/** `queries`: registered queries materialized through the `noop` sink,
  * as the engine's own bench does. A pass runs every query of a fixed
  * set once, in name order: each query's first run in the JVM pays its
  * own code generation, so a fixed order keeps that cost the same in
  * every run. The base fixture is fixed too; the seed picks which
  * results the run checks.
  */
final class Queries(spark: SparkSession, env: Env) extends Workload {
  import Queries._

  private val names = layers.keys.toSeq.sorted
  private val checkDir = env.dir("check")

  def pass(tr: Tracer): Seq[Op] =
    names.map { name =>
      val layer = layers(name)
      val (_, o) = Main.op(layer, name, 1L) {
        tr.span[Unit](layer) {
          SparkEntry.queries(name)(spark, env.fixture)
            .write.format("noop").mode("overwrite").save()
        }
      }
      // this query's localCheckpoint blocks would otherwise crowd the
      // storage of every later query
      Engine.releaseCheckpoints(spark)
      o
    }

  /** The queries whose results this run checks: a fifth of the set,
    * a different fifth for each seed, so every query is checked across
    * five consecutive seeds while a run pays for a fifth of a pass.
    */
  private val checked: Seq[String] =
    names.zipWithIndex.collect {
      case (n, i) if (i + env.seed) % 5 == 0 => n
    }

  override def finish(): Seq[Check] = checked.flatMap { name =>
    val dest = new File(checkDir, name).toString
    try {
      SparkEntry.queries(name)(spark, env.fixture)
        .coalesce(1).write.mode("overwrite").parquet(dest)
      Nil
    } catch { case e: Throwable =>
      Seq(Check(s"result $name", ok = false, e.toString))
    } finally Engine.releaseCheckpoints(spark)
  }

  override def pending: Seq[Map[String, String]] = checked.map { name =>
    Map("name" -> name, "dir" -> new File(checkDir, name).toString)
  }
}

object Queries {
  /** A fixed set, sized so one cold pass fits a run: every twelfth of
    * the 53 relational queries (q53, a streaming join that alone costs
    * a sixth of the suite, is left out), and the queries the planned
    * optimisations of the dedup and curation family target: the Bloom
    * prefilter (c27, d17), the fusion of the incremental dedups (d10,
    * d13) and the incremental ANN drift check (s21), plus one top-k
    * similarity query (s08) so the Similarity layer is measured too.
    * Each is grouped by the operator object it calls; c27 calls none,
    * so it counts as a query.
    */
  val layers: Map[String, String] =
    SparkEntry.queries.keys.toSeq.sorted
      .filter(_.matches("q\\d\\d_.*")).filterNot(_.startsWith("q53"))
      .zipWithIndex.collect { case (n, i) if i % 12 == 0 => n -> "queries" }
      .toMap ++ Map(
        "c27_dsir_select" -> "queries",
        "d10_incremental_dedup" -> "operators.Dedup",
        "d13_incremental_vec_dedup" -> "operators.Dedup",
        "d17_containment_dedup" -> "operators.Dedup",
        "s08_topk_mmr" -> "operators.Similarity",
        "s21_ann_index_drift_rebuild" -> "operators.AnnIndex")

  /** Fixed warm-up: the first relational query, once. */
  def warmup(spark: SparkSession, env: Env): Unit =
    SparkEntry.queries("q01_pricing_summary")(spark, env.fixture)
      .write.format("noop").mode("overwrite").save()
}

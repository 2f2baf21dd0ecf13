package perfbench

import java.io.File

import scala.jdk.CollectionConverters._
import scala.math.BigDecimal.RoundingMode.{HALF_UP => HalfUp}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Engine
import graft.operators.Dedup
import graft.functions.VectorFunctions
import graft.streaming.{AggSync, DedupSync, TableSync, VecDedupSync}

/** `sink_stream`: seeded micro-batches applied to the four streaming
  * stores at their default parameters, with the reader calls
  * interleaved between batches. A pass streams `Rounds` batches into
  * fresh stores, enough for the upsert table and the aggregate view to
  * fold once. The two dedup stores cost ~3-6 s per call whatever the
  * batch size (their cost is Spark job count), so they take only the
  * first batch of a pass.
  */
final class SinkStream(spark: SparkSession, env: Env) extends Workload {
  import SinkStream._

  private val base = env.dir("sink")
  private val rng = new scala.util.Random(env.seed)
  private val fx = Engine.Tables(spark, env.fixture)

  private val orders: IndexedSeq[Row] =
    fx.orders.select("o_orderkey", "o_custkey", "o_totalprice")
      .collect().toIndexedSeq
  private val items: IndexedSeq[Row] =
    fx.lineitem.select("l_suppkey", "l_extendedprice").collect().toIndexedSeq
  private val docs: IndexedSeq[String] =
    fx.documents.select("text").collect().map(_.getString(0)).toIndexedSeq
  private val vecs: IndexedSeq[Array[Float]] =
    fx.embeddings.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray).toIndexedSeq

  /** Seeded batches, built once per run on the driver. */
  private val batches: IndexedSeq[Batch] = (0 until Rounds).map { r =>
    val ord = Seq.fill(OrderRows)(orders(rng.nextInt(orders.size)))
      .groupBy(_.getLong(0)).values.map(_.head).toSeq
      .map(o => Row(o.getLong(0), o.getLong(1),
        o.getDouble(2) + rng.nextInt(10000) / 100.0, r.toLong))
    val agg = Seq.fill(AggRows)(items(rng.nextInt(items.size)))
      .map(i => Row(i.getLong(0) % AggKeys, i.getDouble(1)))
    // the dedup stores take `DedupRounds` batches; in each, every
    // fourth row re-states the row before it with a small edit, so
    // near-duplicate pairs appear
    val doc =
      if (r >= DedupRounds) Nil
      else (0 until DocRows).foldLeft(Vector.empty[Row]) { (acc, j) =>
        val t =
          if (j % 4 == 3) edit(acc.last.getString(1))
          else docs(rng.nextInt(docs.size))
        acc :+ Row(r * 1000L + j, t)
      }
    val vec =
      if (r >= DedupRounds) Nil
      else (0 until VecRows).foldLeft(Vector.empty[Row]) { (acc, j) =>
        val v =
          if (j % 4 == 3) jitter(acc.last.getSeq[Float](1).toArray, 0.01)
          else jitter(vecs(rng.nextInt(vecs.size)), 0.3)
        acc :+ Row(r * 1000L + j, v.toSeq)
      }
    Batch(r.toLong, ord, agg, doc, vec)
  }

  private def edit(t: String): String = {
    val w = t.split(" ")
    w(rng.nextInt(w.length)) = "edited"
    w.mkString(" ")
  }

  private def jitter(v: Array[Float], s: Double): Array[Float] = {
    val x = v.map(c => (c + s * rng.nextGaussian() / 8).toFloat)
    val n = math.sqrt(x.map(c => c.toDouble * c).sum)
    x.map(c => (c / n).toFloat)
  }

  private def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private var passNo = 0
  private var traced = false
  private def passDir = new File(base, s"pass$passNo")
  private def store(n: String) = new File(passDir, n).toString

  def pass(tr: Tracer): Seq[Op] = {
    passNo += 1
    traced = tr.on
    batches.flatMap { b =>
      def write(layer: String)(f: => Unit): Unit = {
        val before = if (tr.on) Main.du(passDir) else (0L, 0L)
        tr.span[Unit](layer)(f)
        if (tr.on) {
          val after = Main.du(passDir)
          tr.annotate(layer, Map(
            "files_written" -> (after._1 - before._1).toDouble,
            "bytes_written" -> (after._2 - before._2).toDouble))
        }
      }
      // one operation is one micro-batch applied to every store it feeds
      val rows = b.orders.size + b.agg.size + b.docs.size + b.vecs.size
      val applied = Main.op("streaming.batch", s"batch#${b.id}", rows.toLong) {
        write("streaming.TableSync") {
          TableSync.applyBatch(df(b.orders, OrdersSchema), store("orders"),
            "o_orderkey", "ver", b.id)
        }
        write("streaming.AggSync") {
          AggSync.applyDelta(df(b.agg, AggSchema), store("agg"),
            "k", "v", b.id)
        }
        if (b.docs.nonEmpty) {
          write("streaming.DedupSync") {
            DedupSync.applyDocs(df(b.docs, DocSchema), store("dix"),
              store("dpr"), "text", "doc_id", b.id)
          }
          write("streaming.VecDedupSync") {
            VecDedupSync.applyVecs(df(b.vecs, VecSchema), store("vix"),
              store("vpr"), "embedding", "vec_id", b.id,
              threshold = VecThreshold)
          }
        }
      }._2
      val reads = if (b.id % ReadEvery != ReadEvery - 1) Nil
        else readers.map { case (what, read) =>
          Main.op("streaming.read", s"$what#${b.id}", 1L) {
            val d = tr.span[DataFrame]("streaming.read") {
              val d = read()
              d.write.format("noop").mode("overwrite").save()
              d
            }
            if (tr.on) tr.annotate("streaming.read",
              Map("files_read" -> d.inputFiles.length.toDouble))
          }._2
        }
      Engine.releaseCheckpoints(spark)
      applied +: reads
    }
  }

  private def readers: Seq[(String, () => DataFrame)] = Seq(
    "readCurrent" -> (() => TableSync.readCurrent(spark, store("orders"))),
    "readView" -> (() => AggSync.readView(spark, store("agg"))),
    "readPairs.docs" -> (() => DedupSync.readPairs(spark, store("dpr"))),
    "readPairs.vecs" -> (() => VecDedupSync.readPairs(spark, store("vpr"))))

  private val spaceAmp = scala.collection.mutable.ArrayBuffer.empty[Double]

  override def afterPass(): Seq[Check] = {
    val checks = Seq(
      attempt("readCurrent = latest version per key") {
        val want = batches.flatMap(_.orders).groupBy(_.getLong(0)).values
          .map(_.maxBy(_.getLong(3)).toSeq)
        same(TableSync.readCurrent(spark, store("orders"))
          .select(OrdersSchema.fieldNames.toIndexedSeq.map(col): _*)
          .collect().map(_.toSeq), want)
      },
      attempt("readView = one-shot groupBy") {
        // the view sums each value cast to DECIMAL(12,2)
        def cents(d: Double) = BigDecimal(d).setScale(2, HalfUp)
        val want = batches.flatMap(_.agg).groupBy(_.getLong(0)).map {
          case (k, rs) => Seq(k, rs.size.toLong,
            rs.map(r => cents(r.getDouble(1))).sum)
        }
        same(AggSync.readView(spark, store("agg")).select("k", "n", "tot")
          .collect().map(r => Seq(r.getLong(0), r.getLong(1),
            BigDecimal(r.getDecimal(2)).setScale(2, HalfUp))), want)
      },
      attempt("doc pairs canonical, unique, jaccard >= threshold") {
        val text = batches.flatMap(_.docs)
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val pairs = ids(DedupSync.readPairs(spark, store("dpr")))
        val sh = (c: String) => Dedup.MinHashFamily.Xx.shingleHashes(col(c), 3)
        val sims = df(pairs.map { case (a, b) => Row(text(a), text(b)) },
            StructType(Seq(StructField("ta", StringType),
              StructField("tb", StringType))))
          .select(VectorFunctions.jaccardSorted(sh("ta"), sh("tb")))
          .collect().map(_.getDouble(0))
        pairsOk(pairs, sims, DocThreshold - 1e-9)
      },
      attempt("vec pairs canonical, unique, cosine >= threshold") {
        val vec = batches.flatMap(_.vecs)
          .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
        def norm(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
        val pairs = ids(VecDedupSync.readPairs(spark, store("vpr")))
        val sims = pairs.map { case (a, b) =>
          vec(a).zip(vec(b)).map { case (x, y) => x * y }.sum /
            (norm(vec(a)) * norm(vec(b)))
        }
        pairsOk(pairs, sims, VecThreshold - 1e-6)
      })
    // a traced-run figure: it costs a rewrite of the whole live state
    if (traced) spaceAmp += spaceAmplification()
    Engine.releaseCheckpoints(spark)
    checks :+ Main.dropStore(passDir)
  }

  private def attempt(name: String)(body: => String): Check =
    try {
      val err = body
      Check(name, err.isEmpty, err)
    } catch { case e: Throwable => Check(name, ok = false, e.toString) }

  /** Empty when both hold the same multiset of rows. */
  private def same(got: Iterable[Seq[Any]], want: Iterable[Seq[Any]])
      : String = {
    def bag(xs: Iterable[Seq[Any]]) = xs.groupBy(identity).map {
      case (k, v) => k -> v.size }
    val (g, w) = (bag(got), bag(want))
    val extra = g.count { case (k, n) => w.getOrElse(k, 0) < n }
    val missing = w.count { case (k, n) => g.getOrElse(k, 0) < n }
    if (extra == 0 && missing == 0) ""
    else s"$extra unexpected rows, $missing missing rows"
  }

  private def ids(pairs: DataFrame): Seq[(Long, Long)] =
    pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def pairsOk(pairs: Seq[(Long, Long)], sims: Seq[Double],
      min: Double): String = {
    val bad = Seq(
      "non-canonical" -> pairs.count { case (a, b) => a >= b },
      "duplicate" -> (pairs.size - pairs.distinct.size),
      "below threshold" -> sims.count(_ < min))
      .filter(_._2 != 0)
    if (pairs.isEmpty) "no pairs found"
    else bad.map { case (k, c) => s"$c $k" }.mkString(", ")
  }

  /** Store bytes on disk over the bytes of a one-shot parquet write of
    * the same live state.
    */
  private def spaceAmplification(): Double = {
    val stored = Main.du(passDir)._2
    val oneShot = new File(base, "oneshot")
    val live = readers.map(_._2()) ++ Seq(
      DedupSync.readIndex(spark, store("dix")),
      VecDedupSync.readIndex(spark, store("vix")))
    live.zipWithIndex.foreach { case (d, i) =>
      d.write.mode("overwrite").parquet(new File(oneShot, s"t$i").toString)
    }
    val flat = Main.du(oneShot)._2
    Main.rmTree(oneShot)
    stored.toDouble / math.max(1L, flat)
  }

  override def stats: Map[String, Double] = Map(
    "space_amp" -> spaceAmp.sorted.lift(spaceAmp.size / 2).getOrElse(0.0),
    "rounds" -> Rounds.toDouble,
    "rows_per_pass" -> batches.map(b =>
      b.orders.size + b.agg.size + b.docs.size + b.vecs.size).sum.toDouble)
}

object SinkStream {
  val Rounds = 9 // TableSync.DefaultMaxGens + 1: every table folds once
  val DedupRounds = 1
  val ReadEvery = 4
  val OrderRows = 1500
  val AggRows = 2000
  val AggKeys = 200L
  val DocRows = 40
  val VecRows = 40
  val DocThreshold = 0.5 // DedupSync.applyDocs' default
  val VecThreshold = 0.9

  final case class Batch(id: Long, orders: Seq[Row], agg: Seq[Row],
      docs: Seq[Row], vecs: Seq[Row])

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType), StructField("ver", LongType)))
  val AggSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType)))
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Fixed warm-up: one small upsert and one read of a throwaway table. */
  def warmup(spark: SparkSession, env: Env): Unit = {
    val d = new File(env.dir("warm-sink"), "t").toString
    val rows = (0L until 50L).map(k => Row(k, k, k.toDouble, 0L))
    TableSync.applyBatch(spark.createDataFrame(rows.asJava, OrdersSchema),
      d, "o_orderkey", "ver", 0L)
    TableSync.readCurrent(spark, d).write.format("noop")
      .mode("overwrite").save()
    Main.rmTree(new File(env.root, "warm-sink"))
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Job, task and byte counts per measured span.
  *
  * The harness wraps each call into a layer's public API in a span. A
  * span sets a local property on the calling thread; Spark copies local
  * properties into every job the call submits (also from the threads a
  * streaming query starts), so each job is charged to exactly one span
  * without any instrumentation inside the engine. Each job also keeps
  * the source file of the code that submitted it (Spark's call site:
  * the first frame outside Spark), which splits a span's jobs among
  * the engine objects the measured call goes through.
  */
final class Recorder extends SparkListener {
  import Recorder._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toInt).getOrElse(-1)
    val site = e.stageInfos.map(_.name).collectFirst {
      case SiteFile(f) => f
    }.getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, site)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.scanBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Every job recorded so far, after the listener bus has delivered
    * all pending events.
    */
  def snapshot(spark: SparkSession): Seq[JobRec] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(jobs.values.map(_.copy()).toSeq)
  }
}

object Recorder {
  val SpanProp = "perfbench.span"
  /** The file of a stage name such as `foreachPartition at
    * NamedSink.scala:63`.
    */
  private val SiteFile = """.* at ([^ :]+):\d+$""".r

  final case class JobRec(id: Int, span: Int, start: Long, site: String,
      var end: Long = -1L, var tasks: Int = 0, var runMs: Long = 0L,
      var shuffleBytes: Long = 0L, var scanBytes: Long = 0L)

  final case class Span(id: Int, layer: String, t0: Long, t1: Long,
      extras: Map[String, Double], segments: Seq[Segment] = Nil,
      workerMs: Map[String, Double] = Map.empty)

  /** A stretch of a span during which `obj` was the innermost of the
    * sampled engine objects on the calling thread's stack.
    */
  final case class Segment(obj: String, t0: Double, t1: Double)

  /** One query execution's optimization plus physical planning time,
    * and when its planning started.
    */
  final case class Planned(start: Long, seconds: Double)

  /** Samples `target`'s stack every `periodMs` and records which of
    * `objects` (class name prefix -> layer name) is innermost on it;
    * time with none of them on the stack goes to `rest`. Times are
    * epoch ms, as the listener's job times are. Every `WorkerEvery`
    * ticks it also samples the executor's task threads (local mode runs
    * them in this JVM) and adds the elapsed time, per thread, to the
    * innermost of `objects` on that thread's stack.
    */
  final class StackSampler(target: Thread, objects: Seq[(String, String)],
      rest: String, periodMs: Long = 1L) extends Thread("perfbench-sampler") {
    setDaemon(true)
    private val segs = mutable.ArrayBuffer.empty[Segment]
    private val workerMs = mutable.Map.empty[String, Double]
    @volatile private var running = true
    private val ms0 = System.currentTimeMillis()
    private val ns0 = System.nanoTime()
    private def now: Double = ms0 + (System.nanoTime() - ns0) / 1e6

    private def innermost(t: Thread): Option[String] = {
      val frames = t.getStackTrace
      var i = 0
      while (i < frames.length) {
        val c = frames(i).getClassName
        val hit = objects.find(o => c.startsWith(o._1))
        if (hit.isDefined) return Some(hit.get._2)
        i += 1
      }
      None
    }

    private def taskThreads(): Seq[Thread] = {
      var g = Thread.currentThread.getThreadGroup
      while (g.getParent != null) g = g.getParent
      val all = new Array[Thread](g.activeCount() * 2 + 16)
      all.take(g.enumerate(all, true)).toSeq
        .filter(_.getName.startsWith(TaskThread))
    }

    override def run(): Unit = {
      var cur = innermost(target).getOrElse(rest)
      var since = now
      var tick = 0
      var lastWorkers = since
      while (running) {
        Thread.sleep(periodMs)
        val o = innermost(target).getOrElse(rest)
        val t = now
        if (o != cur) {
          segs += Segment(cur, since, t)
          cur = o
          since = t
        }
        tick += 1
        if (tick % WorkerEvery == 0) {
          val dt = t - lastWorkers
          lastWorkers = t
          taskThreads().flatMap(innermost).foreach { l =>
            workerMs(l) = workerMs.getOrElse(l, 0.0) + dt
          }
        }
      }
      segs += Segment(cur, since, now)
    }

    /** Stop sampling; the segments in time order, and task-thread ms
      * per object.
      */
    def finish(): (Seq[Segment], Map[String, Double]) = {
      running = false
      join()
      (segs.toSeq, workerMs.toMap)
    }
  }

  private val TaskThread = "Executor task launch worker"
  private val WorkerEvery = 5
}

/** Span bookkeeping. With tracing off, `span` only runs its body. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Recorder._

  val recorder: Option[Recorder] =
    if (!on) None
    else {
      val r = new Recorder
      spark.sparkContext.addSparkListener(r)
      Some(r)
    }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val planned = mutable.ArrayBuffer.empty[Planned]

  /** Planning time of every query execution the session runs, read
    * from the execution that actually ran.
    */
  if (on) spark.listenerManager.register(new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val parts = Seq("optimization", "planning").flatMap(ph.get)
      if (parts.nonEmpty) Tracer.this.synchronized {
        planned += Planned(parts.map(_.startTimeMs).min,
          parts.map(_.durationMs).sum / 1e3)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  })

  /** Run `body` as one call into `layer`. `extras` maps the body's
    * result to layer-specific counts recorded with the span. With
    * `sample`, the calling thread's stack is sampled during the call to
    * split its time among those engine objects (class name prefix ->
    * layer name).
    */
  def span[T](layer: String, extras: T => Map[String, Double] =
      (_: T) => Map.empty[String, Double],
      sample: Seq[(String, String)] = Nil)(
      body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = synchronized { nextId += 1; nextId }
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      val sampler =
        if (sample.isEmpty) None
        else Some(new StackSampler(Thread.currentThread(), sample, layer))
      var sampled = (Seq.empty[Segment], Map.empty[String, Double])
      val t0 = System.currentTimeMillis()
      sampler.foreach(_.start())
      val out =
        try body
        finally {
          sc.setLocalProperty(SpanProp, prev)
          sampler.foreach(x => sampled = x.finish())
        }
      val t1 = System.currentTimeMillis()
      val (segs, workerMs) = sampled
      synchronized {
        spans += Span(id, layer, t0, t1, extras(out), segs, workerMs)
      }
      out
    }

  /** Attach extra counts to the most recent span of `layer`. */
  def annotate(layer: String, extras: Map[String, Double]): Unit =
    if (on) synchronized {
      val i = spans.lastIndexWhere(_.layer == layer)
      if (i >= 0) spans(i) = spans(i).copy(extras = spans(i).extras ++ extras)
    }

  def spansSoFar: Seq[Span] = synchronized(spans.toSeq)
  /** Planning times, after the listener bus has delivered every event. */
  def plannedSoFar: Seq[Planned] = {
    recorder.foreach(_.snapshot(spark))
    synchronized(planned.toSeq)
  }
  def jobsSoFar: Seq[JobRec] = recorder.map(_.snapshot(spark)).getOrElse(Nil)
}

package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a module: wall interval on the driver's clock,
  * the enclosing span and the closed-loop call (batch) it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, batch: Long,
                      startNs: Long, var endNs: Long = -1L) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are opened and closed on the driver
  * thread only, so nesting is a stack. With `enabled = false` a span is a
  * plain call: no clock read, no allocation.
  */
final class Tracer {
  @volatile var enabled: Boolean = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def span[T](name: String, batch: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        batch, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }
}

/** Spark job as seen by the listener bus, in wall-clock milliseconds. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])

/** Task metrics of one completed stage. */
final case class StageRec(id: Int, cpuNs: Long, gcMs: Long,
                          spillBytes: Long, shuffleWriteBytes: Long,
                          recordsRead: Long)

/** One analysed query: planning phases (analysis + optimization +
  * planning) and the files its scans opened.
  */
final case class QeRec(startMs: Long, planMs: Long, filesRead: Long)

/** Spark's own public listeners, registered only in a traced run:
  * job intervals and stage task metrics ([[SparkListener]]), per-query
  * planning phases and scan file counts ([[QueryExecutionListener]]),
  * per-trigger progress ([[StreamingQueryListener]]).
  */
final class SparkProbe(spark: SparkSession) {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.HashMap[Int, StageRec]()
  val qes = mutable.ArrayBuffer[QeRec]()
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  private val openJobs = mutable.HashMap[Int, JobRec]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = JobRec(e.jobId, e.time, -1L, e.stageIds)
      openJobs(e.jobId) = j
      jobs += j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      openJobs.remove(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages(i.stageId) = StageRec(i.stageId, m.executorCpuTime, m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.recordsRead)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    val planMs = phases.collect {
      case (k, p) if k != "parsing" => p.durationMs
    }.sum
    val files =
      try SparkProbe.scanFiles(qe)
      catch { case _: Throwable => 0L }
    SparkProbe.this.synchronized { qes += QeRec(start, planMs, files) }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkProbe.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the listener bus to deliver every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Jobs whose start falls inside [fromMs, toMs). */
  def jobsIn(fromMs: Double, toMs: Double): Seq[JobRec] = synchronized {
    jobs.filter(j => j.startMs >= fromMs && j.startMs < toMs).toSeq
  }

  def qesIn(fromMs: Double, toMs: Double): Seq[QeRec] = synchronized {
    qes.filter(q => q.startMs >= fromMs && q.startMs < toMs).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stages).distinct.flatMap(stages.get)
  }
}

object SparkProbe extends AdaptiveSparkPlanHelper {
  /** Files opened by the file scans of an executed plan, AQE stages and
    * subqueries included (the scans' own `numFiles` SQL metrics).
    */
  def scanFiles(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case b: BatchScanExec => b.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

/** Self-time accounting over a tracer's spans and the probe's jobs. */
object Layers {
  /** Union length of intervals (ms) clipped to [lo, hi). */
  def unionMs(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val cl = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    cl.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Converts the driver's nanosecond clock to the listener bus's epoch
  * milliseconds: both are read once, back to back, when tracing starts.
  */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

/** Per-layer report of one traced region: span self times by module,
  * split into time inside Spark jobs and driver-only time.
  */
final class TraceReport(tracer: Tracer, probe: SparkProbe, clock: Clock) {
  val spans: Seq[Span] = tracer.spans.toSeq
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private val jobIvs: Seq[(Double, Double)] = probe.synchronized {
    probe.jobs.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble)).toSeq
  }

  def startMs(s: Span): Double = clock.ms(s.startNs)
  def endMs(s: Span): Double = clock.ms(s.endNs)

  def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix))

  /** Wall of a span not covered by its child spans, in seconds. */
  def selfS(s: Span): Double =
    (s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum) / 1e9

  /** Part of a span's self interval spent inside Spark jobs, in seconds. */
  def selfJobS(s: Span): Double = {
    val lo = startMs(s)
    val hi = endMs(s)
    val inJobs = Layers.unionMs(jobIvs, lo, hi)
    val kids = children.getOrElse(s.id, Nil)
      .map(c => Layers.unionMs(jobIvs, startMs(c), endMs(c))).sum
    math.max(0.0, inJobs - kids) / 1e3
  }

  /** Wall of a span not covered by any Spark job (children included):
    * footer reads, renames, manifest JSON, CAS — the driver-side work.
    */
  def driverS(s: Span): Double =
    (s.durNs / 1e6 - Layers.unionMs(jobIvs, startMs(s), endMs(s))) / 1e3

  /** Wall of a span inside at least one Spark job, in seconds. */
  def jobUnionS(s: Span): Double = Layers.unionMs(jobIvs, startMs(s), endMs(s)) / 1e3

  def jobsIn(s: Span): Seq[JobRec] = probe.jobsIn(startMs(s), endMs(s))
  def qesIn(s: Span): Seq[QeRec] = probe.qesIn(startMs(s), endMs(s))

  /** The traced calls' root spans, one per call. */
  def roots: Seq[Span] = spans.filter(_.parent < 0)

  def childrenOf(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)

  /** Self times by module: the span name's first component is its
    * module; the root spans' own self time (time in a traced call outside
    * every module call) is the benchmark's.
    */
  def moduleSelf: Map[String, Double] =
    spans.groupBy(s => if (s.parent < 0) "bench" else s.name.takeWhile(_ != '.'))
      .map { case (m, ss) => m -> ss.map(selfS).sum }
}

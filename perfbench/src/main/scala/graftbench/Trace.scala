package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A timed interval of benchmark work. `parent` is 0 for a root span;
  * Spark jobs become spans named `spark.job` under the span that
  * submitted them. Times are `System.nanoTime` readings.
  */
final case class Span(
    id: Long, parent: Long, name: String, opId: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Intervals {

  /** Length of the union of `ivs` clipped to `[lo, hi)`. */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part its children cover
    * (overlapping children count once).
    */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long =
    (span._2 - span._1) - covered(span._1, span._2, children)
}

/** Spark-side counters gathered by [[JobListener]]. */
final class SparkCounters {
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var executorRunMs = 0L
  var taskWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var gcMs = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
}

/** One Spark job: submitting span (from the job description the
  * benchmark sets) and its interval in epoch milliseconds.
  */
final case class JobRecord(jobId: Int, spanId: Long, startMs: Long, endMs: Long)

/** Collects job intervals and task metrics through Spark's public
  * listener interfaces. Job descriptions carry `span=<id>`; jobs
  * without one (none are expected) attach to span 0.
  */
final class JobListener extends SparkListener with QueryExecutionListener {
  val counters = new SparkCounters
  private val open = mutable.Map.empty[Int, (Long, Long)]
  private val done = mutable.ArrayBuffer.empty[JobRecord]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val SpanTag = """span=(\d+)""".r

  def jobs: Seq[JobRecord] = synchronized(done.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobListener.DescriptionKey)))
      .flatMap(d => SpanTag.findFirstMatchIn(d)).map(_.group(1).toLong)
      .getOrElse(0L)
    open(e.jobId) = (span, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (span, start) =>
      done += JobRecord(e.jobId, span, start, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters.stages += 1
    stageSubmitted.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters
    c.tasks += 1
    if (e.reason != org.apache.spark.Success) c.taskFailures += 1
    stageSubmitted.get(e.stageId).foreach(s =>
      c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
    Option(e.taskMetrics).foreach { m =>
      c.executorRunMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.gcMs += m.jvmGCTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      counters.analysisMs += ms("analysis")
      counters.optimizationMs += ms("optimization")
      counters.planningMs += ms("planning")
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object JobListener {
  /** The local property `SparkContext.setJobDescription` sets. */
  val DescriptionKey = "spark.job.description"
}

/** Span recorder. Inactive, every call is a plain pass-through: no job
  * descriptions are set and no listener is installed. Active, each span
  * tags the Spark jobs it submits, and [[finish]] turns the job
  * intervals into child spans.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var opId = 0L
  private var active = false
  val listener = new JobListener
  // job times arrive as epoch ms; spans use nanoTime
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def activate(): Unit = if (!active) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    active = true
  }

  def deactivate(): Unit = if (active) {
    org.apache.spark.BenchListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
    active = false
  }

  def beginOp(id: Long): Unit = opId = id

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val prevDesc = sc.getLocalProperty(JobListener.DescriptionKey)
      sc.setJobDescription(s"bench op=$opId span=$id $name")
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, opId, t0, t1)
        sc.setJobDescription(prevDesc)
      }
    }

  /** All spans recorded so far, Spark jobs included as child spans. */
  def finish(): Seq[Span] = {
    deactivate()
    val byId = spans.map(s => s.id -> s).toMap
    val jobSpans = listener.jobs.map { j =>
      Span(-(j.jobId.toLong + 1), j.spanId, "spark.job",
        byId.get(j.spanId).map(_.opId).getOrElse(0L),
        j.startMs * 1000000L + epochToNano, j.endMs * 1000000L + epochToNano)
    }
    spans.toList ++ jobSpans
  }
}

/** Per-layer totals over a finished span forest. */
final class SpanIndex(all: Seq[Span]) {
  private val children = all.groupBy(_.parent)
  val jobs: Seq[Span] = all.filter(_.name == "spark.job")

  private def subtreeJobs(s: Span): Seq[Span] =
    children.getOrElse(s.id, Nil).flatMap(c =>
      if (c.name == "spark.job") Seq(c) else subtreeJobs(c))

  def named(prefix: String): Seq[Span] =
    all.filter(s => s.name != "spark.job" && s.name.startsWith(prefix))

  def totalMs(prefix: String): Double = named(prefix).map(_.durNs).sum / 1e6

  /** Wall time of the spans not covered by any Spark job they caused. */
  def driverMs(prefix: String): Double =
    named(prefix).map(s => Intervals.selfTime((s.startNs, s.endNs),
      subtreeJobs(s).map(j => (j.startNs, j.endNs)))).sum / 1e6

  def jobMs(prefix: String): Double =
    named(prefix).map(s => Intervals.covered(s.startNs, s.endNs,
      subtreeJobs(s).map(j => (j.startNs, j.endNs)))).sum / 1e6

  def jobCount(prefix: String): Int = named(prefix).map(subtreeJobs(_).size).sum
}

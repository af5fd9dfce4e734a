package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

/** Why an operation failed: exception class and first message line, or
  * a failed output check.
  */
final case class Failure(opId: Long, kind: String, cause: String)

/** One successful operation's latency, and whether it ran traced. */
final case class Sample(kind: String, ms: Double, traced: Boolean)

/** Closed-loop operation recorder: one client thread, each operation
  * starts when the previous one returned. Latencies of failed
  * operations (thrown, or output check failed) are not samples; the
  * operation counts in `failed` instead.
  *
  * In a traced run, operations alternate between traced and untraced
  * by their position in the cycle, and the next cycle flips the
  * parity: over two identical cycles every operation runs once each
  * way, so the two sums compare the same work for the tracing overhead,
  * and the traced half covers one whole cycle.
  */
final class Recorder(val tracer: Tracer, val traceRun: Boolean = false) {
  private var nextOp = 0L
  private var cycleStart = 0L
  private var cycleNo = 0
  private val samples = mutable.LinkedHashMap.empty[Long, Sample]
  private val failedOps = mutable.LinkedHashSet.empty[Long]
  val failures: mutable.ArrayBuffer[Failure] = mutable.ArrayBuffer.empty
  private val kinds = mutable.Map.empty[Long, String]

  def attempted: Long = nextOp
  def failed: Long = failedOps.size.toLong
  def cycles: Int = cycleNo

  def startCycle(): Unit = {
    cycleNo += 1
    cycleStart = nextOp
  }

  /** Runs `body` as one timed operation of `kind`, inside a trace span
    * named `span`. Returns the op id and the result, or None when it threw.
    */
  def op[T](kind: String, span: String)(body: => T): Option[(Long, T)] = {
    nextOp += 1
    val id = nextOp
    kinds(id) = kind
    val traced = traceRun && (id - cycleStart + cycleNo) % 2 == 0
    if (traced) tracer.activate()
    tracer.beginOp(id)
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(span)(body)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (traced) tracer.deactivate()
    r match {
      case Right(v) =>
        samples(id) = Sample(kind, ms, traced)
        Some((id, v))
      case Left(e) =>
        fail(id, Recorder.cause(e))
        None
    }
  }

  /** Output check for operation `opId`, computed outside the code under test. */
  def check(opId: Long, ok: Boolean, what: => String): Unit =
    if (!ok) fail(opId, s"CheckFailed: $what")

  private def fail(opId: Long, cause: String): Unit = {
    failedOps += opId
    samples.remove(opId)
    failures += Failure(opId, kinds.getOrElse(opId, "?"), cause)
  }

  /** Latencies (ms) of the successful operations by kind, in run order. */
  def latenciesByKind: ListMap[String, Seq[Double]] =
    ListMap.from(samples.values.groupBy(_.kind).view.mapValues(_.map(_.ms).toSeq).toSeq.sortBy(_._1))

  /** Latencies (ms) of the successful operations of the given kinds
    * (all kinds when empty), in run order.
    */
  def latencies(kindsWanted: String*): Seq[Double] =
    samples.valuesIterator
      .collect { case s if kindsWanted.isEmpty || kindsWanted.contains(s.kind) => s.ms }
      .toSeq

  /** Traced over untraced operation time, minus one. */
  def overheadFrac: Double = {
    val (t, u) = samples.values.partition(_.traced)
    val um = u.map(_.ms).sum
    if (um > 0) t.map(_.ms).sum / um - 1.0 else 0.0
  }
}

object Recorder {
  def cause(e: Throwable): String = {
    val msg = Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse(""))
      .getOrElse("")
    s"${e.getClass.getName}: $msg"
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One layer call: `parent` is the enclosing span's id (-1 at the top),
  * `op` the operation the call belongs to (-1 outside operations). */
final case class Span(id: Int, parent: Int, name: String, phase: String,
    op: Int, startNs: Long, endNs: Long)

/** Tags the client thread with the current phase and layer, so the
  * [[Counters]] listener can charge scheduler work to them, and — when
  * `enabled` — records a span around every layer call. Spans stay in
  * memory until [[selfTimes]] / [[spans]] read them at the end of the
  * run. Single-threaded: the benchmark has exactly one client. */
final class Tracer(val enabled: Boolean) {
  private var sc: SparkContext = _
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, Long)] = Nil
  private var nextId = 0
  private var currentPhase = "other"
  private var currentOp = -1
  private var nextOp = 0
  private val bookkeepingNs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def attach(context: SparkContext): Unit = {
    sc = context
    sc.setLocalProperty(Counters.PhaseKey, currentPhase)
  }

  def phase(name: String): Unit = {
    currentPhase = name
    if (sc != null) sc.setLocalProperty(Counters.PhaseKey, name)
  }

  /** Runs `body` as one operation; layer calls inside share its op id. */
  def op[T](body: => T): T = {
    currentOp = nextOp; nextOp += 1
    try body finally currentOp = -1
  }

  /** Runs `body` as a call into layer `name`. */
  def layer[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val prev = if (sc != null) sc.getLocalProperty(Counters.LayerKey) else null
    if (sc != null) sc.setLocalProperty(Counters.LayerKey, name)
    val id = nextId
    nextId += 1
    val start = System.nanoTime()
    if (enabled) open = (id, start) :: open
    bookkeepingNs(currentPhase) += start - t0
    try body
    finally {
      val end = System.nanoTime()
      if (enabled) {
        open = open.tail
        recorded += Span(id, open.headOption.fold(-1)(_._1), name,
          currentPhase, currentOp, start, end)
      }
      if (sc != null) sc.setLocalProperty(Counters.LayerKey, prev)
      bookkeepingNs(currentPhase) += System.nanoTime() - end
    }
  }

  /** Time spent in the tracer's own bookkeeping during `phase`. */
  def overheadSeconds(phase: String): Double = bookkeepingNs(phase) / 1e9

  def spans: Seq[Span] = recorded.toSeq

  /** Per layer name: (self seconds, calls) over spans of `phase`. A
    * span's self time is its duration minus its children's durations. */
  def selfTimes(phase: String): Map[String, (Double, Int)] = {
    val inPhase = recorded.filter(_.phase == phase)
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    inPhase.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    inPhase.groupBy(_.name).map { case (name, ss) =>
      name -> (ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9, ss.size)
    }
  }
}

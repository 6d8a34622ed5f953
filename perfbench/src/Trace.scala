package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval around a boundary call. Times are epoch nanoseconds
  * (`start`/`end`) so they line up with the listener's job timestamps. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, var end: Long = -1L)

object Trace {

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * covered by its direct children. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> ((s.end - s.start) - covered)
    }.toMap
  }
}

/** Per-span Spark work, attributed through the job group each span sets. */
final class SpanStats {
  var jobs = 0
  var shuffleBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ns
}

/** Listener mapping jobs, tasks, shuffle, spill and executor time to the
  * span whose job group submitted them. */
final class SpanListener extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
  val stats = new java.util.concurrent.ConcurrentHashMap[Int, SpanStats]()
  @volatile var executorRunNanos = 0L

  private def statsOf(span: Int): SpanStats =
    stats.computeIfAbsent(span, _ => new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
      val span = g.stripPrefix(Tracer.GroupPrefix).toInt
      jobSpan.put(e.jobId, (span, e.time))
      e.stageIds.foreach(stageSpan.put(_, span))
      statsOf(span).synchronized { statsOf(span).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (span, t0) =>
      val s = statsOf(span)
      s.synchronized { s.jobIntervals += ((t0 * 1000000L, e.time * 1000000L)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      synchronized { executorRunNanos += m.executorRunTime * 1000000L }
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val s = statsOf(span)
        s.synchronized {
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
}

/** Opens spans around boundary calls from the single client thread. When
  * disabled, `span` only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var opId = -1

  def op[T](id: Int)(body: => T): T = {
    opId = id
    span("op")(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), opId,
        Tracer.now())
      spans += s
      open.push(s)
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.end = Tracer.now()
        open.pop()
        open.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis() * 1000000L
  /** Monotonic epoch nanoseconds: comparable with listener job times (ms). */
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)
}

package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed call into one layer: `parent` is the index of the enclosing span
  * (-1 at the top), `op` the operation it belongs to. Times are nanoseconds
  * since the tracer was made.
  */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int)

/** Spans of the main thread, kept in memory and written when the run ends.
  * Disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val origin = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[A](name: String, op: Int)(body: => A): A =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime() - origin, -1, open.headOption.getOrElse(-1), op)
      open = idx :: open
      try body
      finally {
        spans(idx) = spans(idx).copy(end = System.nanoTime() - origin)
        open = open.tail
      }
    }

  /** Total ms of the spans named `name` that belong to `op`. */
  def ms(name: String, op: Int): Double =
    spans.iterator.filter(s => s.op == op && s.name == name).map(s => (s.end - s.start) / 1e6).sum
}

/** Per-operation counters from the Spark scheduler, keyed by the
  * `graftbench.op` local property the harness sets before each operation.
  * Jobs started while `graftbench.phase` is "build" count as build jobs.
  */
final class SchedulerCounts extends SparkListener {
  final class Acc {
    var jobs, buildJobs, stages, tasks = 0L
    var cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
    val jobSpans = mutable.Map.empty[Int, (Long, Long)]
  }
  val byOp = mutable.Map.empty[Int, Acc]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, Int]

  private def opOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(p => Option(p.getProperty("graftbench.op"))).map(_.toInt)
  private def acc(op: Int) = byOp.getOrElseUpdate(op, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      val a = acc(op)
      a.jobs += 1
      if (e.properties.getProperty("graftbench.phase") == "build") a.buildJobs += 1
      a.jobSpans(e.jobId) = (e.time, Long.MaxValue)
      jobOp(e.jobId) = op
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { op =>
      val a = acc(op)
      a.jobSpans(e.jobId) = (a.jobSpans(e.jobId)._1, e.time)
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      acc(op).stages += 1
      stageOp(e.stageInfo.stageId) = op
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val a = acc(op)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Wall ms of [from, to] (epoch ms) during which no job of `op` ran. */
  def idleMs(op: Int, from: Long, to: Long): Double = synchronized {
    val spans = byOp.get(op).toSeq.flatMap(_.jobSpans.values)
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += curE - curS
    (to - from - busy).toDouble
  }
}

/** Micro-batch progress events of every streaming query, in arrival order. */
final class ProgressLog extends StreamingQueryListener {
  val events = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

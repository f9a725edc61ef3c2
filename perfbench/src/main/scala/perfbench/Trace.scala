package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Epoch milliseconds with sub-millisecond resolution. Spans and op
  * records use it; listener job times are epoch milliseconds too, so
  * both sit on one time axis.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Int, name: String, op: Int, parent: Int, start: Double) {
  var end: Double = Double.NaN
}

/** In-memory spans around the benchmark's calls into each layer. While
  * a span is open its id rides in a Spark local property, so every job
  * the call launches (including those of a streaming query started
  * inside it, which inherits the property) is attributed to it exactly,
  * however late the listener sees the event.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  var enabled = false

  def apply[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, op, stack.headOption.fold(-1)(_.id), Clock.nowMs)
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.end = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, prev)
      }
    }
}

object Tracer { val SpanProp = "perfbench.span" }

/** Scheduler counts of one job, summed over its tasks. */
final class JobRec(val id: Int, val span: Int, val start: Long) {
  var end = -1L
  var stages, tasks, failedTasks = 0
  var runMs, shuffleWrite, spill, recordsRead, bytesRead, recordsWritten = 0L
}

/** The `engine` layer as the benchmark sees it: per-job stage, task,
  * busy-time, shuffle, spill, input and output counts.
  */
final class EngineListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .fold(-1)(_.toInt)
    val j = new JobRec(e.jobId, span, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.putIfAbsent(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      if (e.taskInfo.failed || e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.recordsRead += m.inputMetrics.recordsRead
        j.bytesRead += m.inputMetrics.bytesRead
        j.recordsWritten += m.outputMetrics.recordsWritten
      }
    }

  def records: Seq[Map[String, Any]] = jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
    Map("id" -> j.id, "span" -> j.span, "start" -> j.start, "end" -> j.end,
      "stages" -> j.stages, "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
      "run_ms" -> j.runMs, "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
      "records_read" -> j.recordsRead, "bytes_read" -> j.bytesRead,
      "records_written" -> j.recordsWritten)
  }
}

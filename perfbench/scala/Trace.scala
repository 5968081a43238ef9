package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is 0 for a unit's root span. */
final class Span(val id: Long, val parent: Long, val name: String,
                 val layer: String, val attrs: Map[String, String],
                 val start: Long) {
  var end: Long = start
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the benchmark's calls into the program, kept in memory.
  *
  * With tracing off `span` only runs its body. With tracing on it also
  * tags the calling thread with the span id (a Spark local property),
  * so every job the call submits carries the id and [[BenchListener]]
  * can attribute jobs, stages and tasks to the innermost open span.
  * That is exact here because the benchmark has one caller thread.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 1L

  /** A unit's root span: opens the stack that [[span]] records into. */
  def root[T](name: String)(f: => T): T = enter(name, "bench", Map.empty, f)

  /** A span inside the current root; untraced outside a root. */
  def span[T](name: String, layer: String,
              attrs: Map[String, String] = Map.empty)(f: => T): T =
    if (open.isEmpty) f else enter(name, layer, attrs, f)

  private def enter[T](name: String, layer: String,
                       attrs: Map[String, String], f: => T): T =
    if (!on) f
    else {
      val s = new Span(nextId, open.headOption.fold(0L)(_.id), name, layer,
        attrs, System.nanoTime())
      nextId += 1
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey,
          open.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

final case class Task(stage: Int, launchMs: Long, finishMs: Long,
                      cpuNs: Long, gcMs: Long, fetchWaitMs: Long,
                      shuffleWriteBytes: Long, spillBytes: Long)

/** Buffer positions at one instant; two marks delimit a window. */
final case class Mark(jobs: Int, stages: Int, tasks: Int)

/** Records every job, stage and task the session runs, with the span
  * each was submitted under (0 when untraced). Positions in the three
  * buffers delimit measurement windows; read them only after
  * [[org.apache.spark.graftbench.Bus.drain]].
  */
final class BenchListener extends SparkListener {
  val jobSpans = ArrayBuffer.empty[Long]
  val stageSpans = ArrayBuffer.empty[(Int, Long)]
  val tasks = ArrayBuffer.empty[Task]
  private val spanOfStage = scala.collection.mutable.Map.empty[Int, Long]

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(q => Option(q.getProperty(Tracer.SpanKey)))
      .fold(0L)(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobSpans += spanOf(e.properties)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val span = spanOf(e.properties)
      spanOfStage(e.stageInfo.stageId) = span
      stageSpans += ((e.stageInfo.stageId, span))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def mark(): Mark = synchronized { Mark(jobSpans.size, stageSpans.size, tasks.size) }

  def spanOfTask(t: Task): Long = synchronized { spanOfStage.getOrElse(t.stage, 0L) }
}

package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `startMs`/`endMs` are wall-clock
  * milliseconds, the clock Spark's listener events carry, so a span
  * can be intersected with job intervals; `durNs` is the monotonic
  * duration. Spans of one query execution share `query` and `pass`. */
final case class Span(id: Int, parent: Int, name: String, module: String,
                      query: String, pass: Int, startMs: Long, endMs: Long,
                      durNs: Long)

/** Records spans around the benchmark's own calls into the program and
  * tags every Spark job launched inside a span with the span id (a
  * thread-local job property), so the listener can attribute jobs,
  * stages and tasks to the layer call that caused them. Spans stay in
  * memory until the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil

  def span[T](name: String, module: String, query: String, pass: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setLocalProperty(Tracer.Tag, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dur = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Tag, stack.headOption.map(_.toString).orNull)
      spans += Span(id, parent, name, module, query, pass, startMs, endMs, dur)
    }
  }

  def toJson: Seq[java.util.Map[String, Any]] = spans.toSeq.map { s =>
    Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "module" -> s.module, "query" -> s.query, "pass" -> s.pass,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ns" -> s.durNs).asJava
  }
}

object Tracer {
  val Tag = "graftbench.span"
}

/** Per-span sums of what Spark reports through the public listener API. */
final class SpanCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  /** (start, end) wall-clock ms of each job launched in the span. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listener that files job, stage and task events under the span that
  * launched them. Events arrive on Spark's listener thread; read the
  * counts only after `ListenerBusDrain.drain`. */
final class CountingListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Int, SpanCounts]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Tag))).map(_.toInt)

  private def counts(span: Int): SpanCounts =
    bySpan.computeIfAbsent(span, _ => new SpanCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      jobSpan.put(e.jobId, s)
      jobStart.put(e.jobId, e.time)
      val c = counts(s)
      c.synchronized(c.jobs += 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { s =>
      val c = counts(s)
      c.synchronized(c.jobIntervals += ((jobStart.get(e.jobId), e.time)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      val c = counts(s)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = counts(s)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.inputRows += m.inputMetrics.recordsRead
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.executorRunMs += m.executorRunTime
          c.executorCpuNs += m.executorCpuTime
        }
      }
    }

  def of(span: Int): SpanCounts = Option(bySpan.get(span)).getOrElse(new SpanCounts)
}

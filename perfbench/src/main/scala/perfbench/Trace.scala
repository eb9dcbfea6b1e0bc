package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-span counters that the listener fills from job, stage and task
  * events. All fields are written on the listener-bus thread and read on
  * the driver thread only after [[Tracer.drain]]. */
final class SpanStats {
  var jobs = 0L
  var schemaJobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuMs = 0.0
  var gcMs = 0L
  var schedDelayMs = 0L
  var scanBytes = 0L
  var writeBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
}

/** One timed call into a layer: name, start, end, parent span and the
  * operation it belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: String,
    startNs: Long, var endNs: Long, stats: SpanStats)

/** Records spans around the benchmark's calls into each layer and, through
  * a `SparkListener`, attributes every job (and its stages and tasks) to
  * the span whose thread submitted it. The span id travels as a Spark
  * local property, which Spark copies onto the threads it starts for a
  * query (broadcasts, subqueries, streaming micro-batches). */
final class Tracer(sc: SparkContext) {
  private val Key = "perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val byId = new ConcurrentHashMap[Int, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      id.flatMap(i => Option(byId.get(i.toInt))).foreach { s =>
        s.stats.jobs += 1
        // the parquet schema read of `spark.read.parquet` is its own job,
        // named after the reader call
        if (e.stageInfos.exists(_.name.startsWith("parquet at")))
          s.stats.schemaJobs += 1
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stats.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val st = s.stats
        st.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          st.taskRunMs += m.executorRunTime
          st.taskCpuMs += m.executorCpuTime / 1e6
          st.gcMs += m.jvmGCTime
          st.scanBytes += m.inputMetrics.bytesRead
          st.writeBytes += m.outputMetrics.bytesWritten
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          val info = e.taskInfo
          st.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
        }
      }
  }
  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = sc.removeSparkListener(listener)

  /** Time `body` as a span named `name` under the current span. */
  def span[T](name: String, op: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse(-1)
    val s = Span(spans.size, name, parent, op, System.nanoTime(), 0L, new SpanStats)
    spans += s
    byId.put(s.id, s)
    stack = s.id :: stack
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Key, stack.headOption.map(_.toString).orNull)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = Tracer.drainBus(sc)
}

object Tracer {
  /** `listenerBus` is private to Spark in Scala but public in bytecode. */
  def drainBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .get.invoke(bus)
  }
}

/** Spans or a no-op. While off, no listener is attached and no span is
  * kept; the same calls run in the same order either way. */
final class Spans(val tracer: Option[Tracer]) {
  private var on = false
  def enabled: Boolean = on
  def enable(v: Boolean): Unit = tracer.foreach { t =>
    if (v && !on) t.attach() else if (!v && on) { t.drain(); t.detach() }
    on = v
  }
  def apply[T](name: String, op: String)(body: => T): T = tracer match {
    case Some(t) if on => t.span(name, op)(body)
    case _ => body
  }
}

package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** What a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val seed: Long, val seconds: Double, val spans: Spans) {
  private val parts = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Time one named part of the set-up. */
  def setupPart[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally parts(name) = parts.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
  def setupParts: Map[String, Double] = parts.toMap
  /** Wall-clock time the timed passes began: the end of the set-up. */
  var measureStartMs = 0L

  /** Run `pass` `warm` times untimed, as part of the set-up: the two
    * passes after the cold first one still ran up to 45% slower than the
    * fifth, and timing them made a run's median depend on how far its
    * warm-up got. Then run `pass` twice at least (one execution of an operation
    * is too noisy a sample), and again while another pass of the last
    * one's length still ends within `seconds`. A traced run makes at
    * least four timed passes, untraced, traced, traced, untraced and so
    * on, so the tracing overhead is measured inside the run without
    * favouring either side with the warm-up that continues over the
    * passes. */
  def timedPasses(warm: Int)(pass: (Int, String) => Seq[JValue]): Seq[JValue] = {
    setupPart("warm") { (1 to warm).foreach(w => pass(-w, s"warm$w")) }
    val out = scala.collection.mutable.ArrayBuffer.empty[JValue]
    val minPasses = if (spans.tracer.isDefined) 4 else 2
    measureStartMs = System.currentTimeMillis()
    val start = System.nanoTime()
    var last = 0L
    var p = 0
    while (p < minPasses || System.nanoTime() - start + last <= seconds * 1e9) {
      val t0 = System.nanoTime()
      val traced = spans.tracer.isDefined && (p % 4 == 1 || p % 4 == 2)
      spans.enable(traced)
      out ++= pass(p, s"p$p").map(_ merge JObject("traced" -> JBool(traced)))
      spans.enable(false)
      last = System.nanoTime() - t0
      p += 1
    }
    out.toSeq
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Runs one workload in this JVM and writes its raw record (every timed
  * operation, the set-up parts and, when traced, every span) as JSON.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores>
  *   <data dir> <work dir> <out file>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, coresS, data, work, out) = args
    val cores = coresS.toInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (traceS == "1") Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(spark, data, work, seedS.toLong, secondsS.toDouble,
      new Spans(tracer))
    val gc0 = gcMs()
    val body = workload match {
      case "iterative" => Queries.run(ctx, Queries.iterative)
      case "train_predict" => Train.run(ctx, trainRows = 8000, testRows = 20000, iters = 2)
      case "stream" => Stream.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gcRun = gcMs() - gc0
    tracer.foreach(_.drain())
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val record = body merge JObject(
      "workload" -> JString(workload), "seed" -> JInt(ctx.seed),
      "cores" -> JInt(cores),
      "jvm_start_ms" -> JInt(ManagementFactory.getRuntimeMXBean.getStartTime),
      "measure_start_ms" -> JInt(ctx.measureStartMs),
      "setup" -> JObject((("session" -> sessionS) +: ctx.setupParts.toSeq)
        .map { case (k, v) => k -> JDouble(v) }.toList),
      "jvm" -> JObject("heap_used_mb" -> JDouble(heapMb), "gc_ms" -> JInt(gcRun)),
      "spans" -> tracer.map(t => JArray(t.spans.toList.map(spanJson))).getOrElse(JNull))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      JsonMethods.compact(JsonMethods.render(record)))
    spark.stop()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def spanJson(s: Span): JValue = {
    val st = s.stats
    JObject("id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
      "op" -> JString(s.op), "start_ms" -> JDouble(s.startNs / 1e6),
      "end_ms" -> JDouble(s.endNs / 1e6), "jobs" -> JInt(st.jobs),
      "schema_jobs" -> JInt(st.schemaJobs), "stages" -> JInt(st.stages),
      "tasks" -> JInt(st.tasks), "task_run_ms" -> JInt(st.taskRunMs),
      "task_cpu_ms" -> JDouble(st.taskCpuMs), "gc_ms" -> JInt(st.gcMs),
      "sched_delay_ms" -> JInt(st.schedDelayMs), "scan_bytes" -> JInt(st.scanBytes),
      "write_bytes" -> JInt(st.writeBytes),
      "shuffle_write_bytes" -> JInt(st.shuffleWriteBytes),
      "shuffle_read_bytes" -> JInt(st.shuffleReadBytes),
      "spill_bytes" -> JInt(st.spillBytes))
  }
}

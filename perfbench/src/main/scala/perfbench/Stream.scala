package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.json4s._

import graft.operators.Tables
import graft.streaming.{DocStream, EventStream}

/** `stream`: three `graft.streaming` shapes each drain a staged backlog one
  * file per trigger: the dedup gate over the whole document corpus,
  * `transitionPairs` and `burstPeaks` over the events table replayed in
  * time order. */
object Stream {
  private def events(df: DataFrame) = df.select(col("event_id"),
    col("ts").cast("timestamp").as("ts"), col("user_id"), col("event_type"), col("value"))

  /** The backlogs are staged with the tables: `stream/events` and
    * `stream/docs` hold one file per trigger in replay order, and the
    * `_warm` directories their first file. */
  def run(ctx: Ctx): JValue = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = s"${ctx.data}/stream"
    val (existing, existingCount) = ctx.setupPart("index") {
      // the gate's index: every document whose id is not a multiple of 5
      val ex = Tables.documents(spark, ctx.data).filter(col("doc_id") % 5 =!= 0).cache()
      (ex, ex.count())
    }
    val evSchema = spark.read.parquet(s"$dir/events").schema
    val docSchema = spark.read.parquet(s"$dir/docs").schema
    val files = new java.io.File(s"$dir/events").list().count(_.endsWith(".parquet"))
    // state partitions track rows per micro-batch (StreamBench's rule)
    val statePartitions = graft.StreamBench.tunedStatePartitions(
      spark.read.parquet(s"$dir/events").count() / files,
      spark.sparkContext.defaultParallelism)
    def source(sub: String, schema: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$dir/$sub")
    val shapes: Seq[(String, String => DataFrame)] = Seq(
      "dedup_gate" -> { suffix => DocStream.classifyIncremental(
        source("docs" + suffix, docSchema), "text", existing, "text",
        expectedItems = math.max(existingCount, 1), fpp = 1e-6) },
      "transitions" -> { suffix => EventStream.transitionPairs(
        events(source("events" + suffix, evSchema)).as[EventStream.Ev]).toDF() },
      "burst" -> { suffix => EventStream.burstPeaks(
        events(source("events" + suffix, evSchema)).as[EventStream.Ev]).toDF() })

    var runs = 0
    /** Drain one shape's backlog into the no-op sink. */
    def drain(name: String, build: String => DataFrame, suffix: String,
        op: String): (Double, Seq[StreamingQueryProgress]) = {
      runs += 1
      spark.conf.set("spark.sql.shuffle.partitions",
        if (name == "dedup_gate") spark.sparkContext.defaultParallelism else statePartitions)
      ctx.spans(s"stream.$name", op) {
        val q = build(suffix).writeStream.format("noop")
          .option("checkpointLocation", s"${ctx.work}/stream/ckpt-$runs")
          .outputMode("append").start()
        val t0 = System.nanoTime()
        try {
          q.processAllAvailable()
          // burst periods still open at the end are emitted by the no-data
          // batch that fires their event-time timeouts
          if (name == "burst") awaitIdle(q)
          ((System.nanoTime() - t0) / 1e6, q.recentProgress.toSeq)
        } finally q.stop()
      }
    }

    ctx.setupPart("warm") { shapes.foreach { case (n, b) => drain(n, b, "_warm", "warm") } }

    val outRows = scala.collection.mutable.Map.empty[String, Long]
    val ops = ctx.timedPasses(warm = 2) { (pass, passId) =>
      shapes.flatMap { case (name, build) =>
        val op = s"$passId:$name"
        val (ms, progress) = drain(name, build, "", op)
        val batches = progress.filter(_.numInputRows > 0)
        val out = progress.map(p => math.max(p.sink.numOutputRows, 0L)).sum
        outRows(name) = out
        JObject("kind" -> JString("drain"), "name" -> JString(name), "pass" -> JInt(pass),
          "op" -> JString(op), "ms" -> JDouble(ms),
          "rows" -> JInt(batches.map(_.numInputRows).sum), "out_rows" -> JInt(out),
          "batches" -> JInt(batches.size)) +:
          batches.map { p =>
            def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
            val st = p.stateOperators
            JObject("kind" -> JString("batch"), "name" -> JString(name),
              "pass" -> JInt(pass), "op" -> JString(op),
              "ms" -> JDouble(d("triggerExecution").toDouble),
              "rows" -> JInt(p.numInputRows),
              "add_batch_ms" -> JInt(d("addBatch")), "get_batch_ms" -> JInt(d("getBatch")),
              "planning_ms" -> JInt(d("queryPlanning")),
              "commit_ms" -> JInt(d("walCommit") + d("commitOffsets")),
              "state_commit_ms" -> JInt(st.map(_.commitTimeMs).sum),
              "state_rows" -> JInt(st.map(_.numRowsTotal).sum),
              "state_mem_bytes" -> JInt(st.map(_.memoryUsedBytes).sum))
          }
      }
    }

    // batch twins, outside the timed window: the same gate over the batch
    // corpus, and the pair and burst-period counts the replay must produce
    val evBatch = events(spark.read.parquet(s"$dir/events"))
    val twin = Map(
      "dedup_gate" -> DocStream.classifyIncremental(spark.read.parquet(s"$dir/docs"), "text",
        existing, "text", expectedItems = math.max(existingCount, 1), fpp = 1e-6).count(),
      "transitions" -> EventStream.transitionPairs(evBatch.as[EventStream.Ev]).count(),
      "burst" -> burstPeriods(evBatch))
    JObject("ops" -> JArray(ops.toList),
      "twins" -> JObject(shapes.map { case (n, _) =>
        n -> JObject("stream" -> JInt(outRows(n)), "batch" -> JInt(twin(n)))
      }.toList))
  }

  /** Burst periods `burstPeaks` emits over an in-order replay: one per run
    * of a user's events without a gap of an hour or more, except a user's
    * last period when its event-time timeout (last event + 1 h) has not
    * passed the final watermark (newest event − 2 h). */
  def burstPeriods(ev: DataFrame): Long = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val e = ev.select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
    val maxMs = e.agg(max(col("us"))).head().getLong(0) / 1000
    val perUser = e.groupBy(col("user_id")).agg(
      sum(when(col("prev").isNull || col("us") - col("prev") >= hourUs, 1L).otherwise(0L))
        .as("periods"),
      max(col("us")).as("last"))
    val open = perUser.filter(
      (col("last") / 1000).cast("long") + 3600L * 1000 >= lit(maxMs - 2 * 3600L * 1000)).count()
    perUser.agg(sum(col("periods"))).head().getLong(0) - open
  }

  /** Wait for the no-data micro-batch that fires event-time timeouts after
    * the last data batch, so the emitted output is complete. */
  private def awaitIdle(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 5000L * 1000000L
    def idleAfterData = {
      val ps = q.recentProgress
      val lastData = ps.lastIndexWhere(_.numInputRows > 0)
      lastData >= 0 && ps.drop(lastData + 1).exists(_.numInputRows == 0)
    }
    while (!idleAfterData && System.nanoTime() < deadline) Thread.sleep(20)
  }
}

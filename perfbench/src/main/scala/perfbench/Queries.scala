package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s._

/** The `iterative` workload: sequential passes over a fixed query list, one
  * closed-loop client, each pass in a seeded order. */
object Queries {
  /** Iterative operators: most of their wall is eager jobs run while the
    * DataFrame is built (an IVF index over a graft store the query writes
    * and then reads, and a k-center loop). */
  val iterative: Seq[String] = Seq("ann_ivf_tombstone_stored", "emb_coreset_kcenter")

  /** Drop what a query leaves behind (checkpointed RDD blocks, cached
    * plans) so the next query does not pay for it. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Bytes of the files under `dir` modified at or after `sinceMs`. The
    * graft-store writer is a custom data source that reports no output
    * metrics, so the traced run measures what the stores left on disk. */
  def bytesSince(dir: java.io.File, sinceMs: Long): Long =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) bytesSince(f, sinceMs)
      else if (f.lastModified() >= sinceMs) f.length() else 0L
    }.sum

  def run(ctx: Ctx, names: Seq[String]): JValue = {
    val spark = ctx.spark
    val fns = graft.SparkEntry.queries
    val missing = names.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")

    /** One execution in the three phases the layers split into. */
    def execute(name: String, op: String): (Double, Array[Row], StructType) = {
      val t0 = System.nanoTime()
      val (rows, schema) = ctx.spans(name, op) {
        val df = ctx.spans("operators.build", op) { fns(name)(spark, ctx.data) }
        ctx.spans("plan.plan", op) { df.queryExecution.executedPlan }
        (ctx.spans("exec.action", op) { df.collect() }, df.schema)
      }
      ((System.nanoTime() - t0) / 1e6, rows, schema)
    }

    val ops = ctx.timedPasses(warm = 3) { (pass, passId) =>
      val order = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(names)
      val recs = order.map { name =>
        val op = s"$passId:$name"
        val startMs = System.currentTimeMillis()
        val (ms, rows, schema, err) =
          try { val (m, r, sc) = execute(name, op); (m, r, sc, null) }
          catch { case e: Throwable =>
            (-1.0, null, null, String.valueOf(e.getMessage)) }
        // every result is kept for the oracle check, outside the timed window
        val result = s"${ctx.work}/results/p$pass-$name"
        if (rows != null) spark.createDataFrame(rows.toList.asJava, schema)
          .coalesce(1).write.parquet(result)
        val storeBytes = if (ctx.spans.enabled) bytesSince(
          new java.io.File(System.getProperty("java.io.tmpdir")), startMs) else 0L
        release(spark)
        JObject("kind" -> JString("query"), "name" -> JString(name),
          "pass" -> JInt(pass), "op" -> JString(op), "ms" -> JDouble(ms),
          "store_bytes" -> JInt(storeBytes),
          "result" -> (if (rows == null) JNull else JString(result)),
          "err" -> (if (err == null) JNull else JString(err)))
      }
      System.gc()
      recs
    }
    val oracles = graft.SparkEntry.oracleSql
    JObject("ops" -> JArray(ops.toList),
      "oracle_sql" -> JObject(names.filter(oracles.contains)
        .map(n => n -> JString(oracles(n))).toList))
  }
}

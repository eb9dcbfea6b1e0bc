package perfbench

import scala.jdk.CollectionConverters._

import breeze.linalg.DenseMatrix
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

import graft.ml.SparkAsyncDL
import graft.nn.{LocalTrainer, NetSpec, Network, Optimizer, Tensors}
import graft.server.{ParameterServer, ParamsClient}
import graft.train.HogwildTrainer

/** `train_predict`: `SparkAsyncDL.fit` (Hogwild, one driver-hosted
  * parameter server, one worker per partition) on seeded Gaussian blobs,
  * then `SparkAsyncDLModel.transform` over a larger held-out set.
  *
  * Workers pull and push asynchronously, but the server applies each
  * optimizer step under its lock (`acquireLock`): with lock-free
  * concurrent `Adam.step` calls some fits of the same data lose most of
  * their accuracy (0.29-0.70 against about 0.88), so the held-out
  * accuracy gate would fail at random. */
object Train {
  val Dim = 256
  val Classes = 10
  val Parts = 4
  val Batch = 128
  val LearningRate = 0.001
  /** Class centres are N(0, CenterSd) per coordinate and points add unit
    * noise, so two centres sit about 4.5 noise units apart: the classes
    * overlap and held-out accuracy is well below 1. */
  val CenterSd = 0.2
  /** Optimizer steps run under the server's lock (see above). */
  val Locked = true

  def spec: NetSpec = NetSpec.input(Dim).dense(Dim, "relu").dense(Dim, "relu")
    .dense(Classes, "softmax").loss("softmax_xent")

  /** FIXTURES.md §1 blobs, scaled to `Classes` centres in `Dim` dimensions:
    * `n` rows with a uniform class and features centre + N(0, 1), drawn
    * in `Parts` tasks from `seed`. */
  def blobs(ctx: Ctx, n: Int, centers: Array[Array[Double]], seed: Long): DataFrame = {
    val rows = ctx.spark.sparkContext.parallelize(0 until Parts, Parts).flatMap { p =>
      val rng = new scala.util.Random(seed * 31 + p)
      Iterator.fill(n / Parts + (if (p < n % Parts) 1 else 0)) {
        val c = rng.nextInt(Classes)
        val f = Array.tabulate(Dim)(j => centers(c)(j) + rng.nextGaussian())
        val y = Array.tabulate(Classes)(k => if (k == c) 1.0 else 0.0)
        Row(Vectors.dense(f), Vectors.dense(y), c)
      }
    }
    val schema = StructType(Seq(
      StructField("features", org.apache.spark.ml.linalg.SQLDataTypes.VectorType),
      StructField("label", org.apache.spark.ml.linalg.SQLDataTypes.VectorType),
      StructField("cls", IntegerType)))
    ctx.spark.createDataFrame(rows, schema)
  }

  def estimator(iters: Int): SparkAsyncDL = new SparkAsyncDL()
    .setInputCol("features").setLabelCol("label").setPredictionCol("predicted")
    .setNetSpec(spec).setTfOptimizer("adam").setTfLearningRate(LearningRate)
    .setIters(iters).setMiniBatchSize(Batch).setPartitions(Parts)
    // one server (HogwildTrainer.fit, the decomposed path below) on an
    // OS-assigned port, so repeated and concurrent runs never collide
    .setPsShards(1).setPort(0).setAcquireLock(Locked)

  def run(ctx: Ctx, trainRows: Int, testRows: Int, iters: Int): JValue = {
    val (train, test) = ctx.setupPart("stage") {
      val rng = new scala.util.Random(ctx.seed)
      val centers = Array.fill(Classes, Dim)(rng.nextGaussian() * CenterSd)
      val tr = blobs(ctx, trainRows, centers, ctx.seed + 1).cache()
      val te = blobs(ctx, testRows, centers, ctx.seed + 2).cache()
      tr.count(); te.count()
      (tr, te)
    }
    val argmax = udf((v: Vector) => v.argmax)

    /** Fit, then predict every held-out row; returns the op records. */
    def pass(p: Int, op: String): Seq[JValue] = {
      val t0 = System.nanoTime()
      val model = ctx.spans("ml.fit", op) { estimator(iters).fit(train) }
      val fitMs = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      val r = ctx.spans("ml.transform", op) {
        model.transform(test)
          .agg(count(col("predicted")).as("n"),
            sum(when(argmax(col("predicted")) === col("cls"), 1L).otherwise(0L)).as("hit"))
          .head()
      }
      val predMs = (System.nanoTime() - t1) / 1e6
      Seq(
        JObject("kind" -> JString("fit"), "name" -> JString("fit"), "pass" -> JInt(p),
          "ms" -> JDouble(fitMs), "rows" -> JInt(trainRows), "iters" -> JInt(iters)),
        JObject("kind" -> JString("predict"), "name" -> JString("predict"),
          "pass" -> JInt(p), "ms" -> JDouble(predMs), "rows" -> JInt(testRows),
          "predictions" -> JInt(r.getLong(0)), "correct" -> JInt(r.getLong(1))))
    }

    val ops = ctx.timedPasses(warm = 3)(pass)
    val decomposed =
      if (ctx.spans.tracer.isDefined) decompose(ctx, train, trainRows, iters) else JNull
    JObject("ops" -> JArray(ops.toList), "decomposed" -> decomposed)
  }

  /** One fit rebuilt from the public calls `HogwildTrainer.fit` makes, in
    * its order, with the worker's pull and push closures timed, then the
    * `nn` calls of one step timed on the driver. */
  def decompose(ctx: Ctx, train: DataFrame, trainRows: Int, iters: Int): JValue = {
    val sc = ctx.spark.sparkContext
    val rdd = train.select("features", "label").rdd
      .map(r => (r.getAs[Vector](0).toArray, r.getAs[Vector](1).toArray))
    val net = new Network(spec)
    val weights = net.initWeights(42L)
    val bytes = Tensors.toBytes(weights).length
    val server = new ParameterServer(weights, Optimizer.build("adam", LearningRate),
      0, acquireLock = Locked, maxErrors = iters)
    val workers = sc.collectionAccumulator[(Int, Double, Array[Double], Array[Double])]
    val specJson = spec.toJson
    val t0 = System.nanoTime()
    server.start()
    try {
      server.awaitReady()
      val url = HogwildTrainer.determineMaster(server.boundPort)
      rdd.foreachPartition { it =>
        val rows = it.toArray
        if (rows.nonEmpty) {
          val s = NetSpec.fromJson(specJson)
          val x = DenseMatrix.zeros[Double](rows.length, s.inputDim)
          val y = DenseMatrix.zeros[Double](rows.length, s.outputDim)
          rows.indices.foreach { i =>
            rows(i)._1.indices.foreach(j => x(i, j) = rows(i)._1(j))
            rows(i)._2.indices.foreach(j => y(i, j) = rows(i)._2(j))
          }
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val pulls = scala.collection.mutable.ArrayBuffer.empty[Double]
          val pushes = scala.collection.mutable.ArrayBuffer.empty[Double]
          def timed[T](into: scala.collection.mutable.ArrayBuffer[Double])(f: => T): T = {
            val t = System.nanoTime()
            try f finally into += (System.nanoTime() - t) / 1e6
          }
          val w0 = System.nanoTime()
          LocalTrainer.trainLoop(new Network(s), x, y,
            LocalTrainer.Config(iters, Batch, -1, true, 0, 42L + pid),
            pull = () => timed(pulls)(ParamsClient.getWeights(url)),
            push = g => timed(pushes)(ParamsClient.postGradients(url, g, pid)))
          workers.add((pid, (System.nanoTime() - w0) / 1e6, pulls.toArray, pushes.toArray))
        }
      }
      if (server.isAborted) throw new IllegalStateException(
        s"parameter server aborted after ${server.errorCount} failed updates")
      server.currentWeights
    } finally server.stop()
    val fitMs = (System.nanoTime() - t0) / 1e6
    val failures = server.errorCount
    val ws = workers.value.asScala.toSeq.sortBy(_._1)

    // the nn calls of one step, timed directly: forward/backward of one
    // mini-batch, the codec round trip of one transfer, one optimizer step
    val rng = new scala.util.Random(ctx.seed)
    val xb = DenseMatrix.fill(Batch, Dim)(rng.nextGaussian())
    val yb = DenseMatrix.tabulate(Batch, Classes)((i, k) => if (k == i % Classes) 1.0 else 0.0)
    val opt = Optimizer.build("adam", LearningRate)
    def med(k: Int)(f: => Unit): Double = Stats.median((0 until k).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
    })
    val (_, g) = net.forwardBackward(xb, yb, weights)
    val fwdBwd = med(15)(net.forwardBackward(xb, yb, weights))
    val codec = med(15)(Tensors.fromBytes(Tensors.toBytes(weights)))
    val step = med(15)(opt.step(weights, g))
    JObject(
      "fit_ms" -> JDouble(fitMs), "rows" -> JInt(trainRows), "iters" -> JInt(iters),
      "transfer_bytes" -> JInt(bytes), "update_failures" -> JInt(failures),
      "workers" -> JArray(ws.toList.map { case (pid, ms, pl, ps) =>
        JObject("pid" -> JInt(pid), "ms" -> JDouble(ms),
          "pull_ms" -> JArray(pl.toList.map(JDouble(_))),
          "push_ms" -> JArray(ps.toList.map(JDouble(_))))
      }),
      "fwd_bwd_ms" -> JDouble(fwdBwd), "codec_ms" -> JDouble(codec),
      "opt_step_ms" -> JDouble(step))
  }
}

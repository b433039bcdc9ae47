package perfbench

import java.lang.management.ManagementFactory
import java.security.MessageDigest

import graft.ml._
import org.apache.spark.PerfbenchBus
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The frames a cycle fits on and scores; `trainRdds` are the ids of the
  * RDDs that hold the cached training frame. */
final case class Inputs(train: DataFrame, trainRdds: Set[Int], score: DataFrame, scoreRows: Long)

/** One benchmark run: set up a Spark session and a workload's data, warm
  * up, then repeat the workload's operations back to back (a closed loop
  * with one client) for the measured window, checking every output.
  *
  * With tracing off it reports the end-to-end metrics. With tracing on it
  * attaches a [[TraceListener]] to every other fit of the window and to the
  * scoring and persistence operations, then makes the workload's traced
  * side fits through the barrier path and direct timed calls into the
  * layers' public functions, and reports the per-layer metrics. Nothing in
  * the library is instrumented: all attribution is made from outside. */
final class Bench(args: Main.Args) {
  private val shape = args.workload
  private val cpus = Runtime.getRuntime.availableProcessors
  private val workers = if (shape.singleNode) 1 else cpus
  private val MB = 1024.0 * 1024.0

  private var attempted = 0
  private var failed = 0
  private val problems = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val opSpans = mutable.ArrayBuffer.empty[Span]
  private val fits = mutable.ArrayBuffer.empty[FitRec]
  private val hashes = mutable.ArrayBuffer.empty[String]
  private var lastBooster: BoosterModel = _
  private var tracing = false

  private final class Fitted(val model: Transformer with MLWritable, val holdout: Array[Double])

  private def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  // epoch milliseconds on the monotonic clock, comparable with the epoch
  // times Spark stamps on its listener events
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  // ---------------------------------------------------------------- setup

  private var spark: SparkSession = _
  private val storage = new StorageListener
  private val tracer = new TraceListener
  private var full: Inputs = _
  private var holdoutDf: DataFrame = _
  private var holdoutRdds: Set[Int] = _
  private var holdoutX: Array[Array[Float]] = _
  private var holdoutY: Array[Double] = _

  private def startSession(): Unit = {
    val local = new java.io.File(args.workDir, "spark-local")
    local.mkdirs()
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${shape.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(args.workDir, "warehouse").getPath)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(storage)
  }

  /** Caches and materializes `df`. Returns its row count and the ids of
    * the RDDs that now hold its blocks. */
  private def cached(df: DataFrame): (Long, Set[Int]) = {
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    val before = storage.rddIds
    val n = df.cache().count()
    PerfbenchBus.drain(sc)
    (n, storage.rddIds -- before)
  }

  /** Generates, caches and materializes the workload's frames. */
  private def prepareData(): Unit = {
    if (full != null) Seq(full.train, full.score, holdoutDf).distinct.foreach(_.unpersist(true))
    val train = Data.frame(spark, shape.trainRows, cpus, args.seed, 1, shape.classes)
    val (trainRows, trainRdds) = cached(train)
    full =
      if (shape.scoreRows == 0) Inputs(train, trainRdds, train, trainRows)
      else {
        val score = Data.frame(spark, shape.scoreRows, cpus, args.seed, 2, shape.classes)
        Inputs(train, trainRdds, score, cached(score)._1)
      }
    holdoutDf = Data.frame(spark, shape.holdoutRows, cpus, args.seed, 3, shape.classes)
    holdoutRdds = cached(holdoutDf)._2
    val rows = holdoutDf.collect()
    holdoutX = rows.map(r => r.getAs[Vector](0).toArray.map(_.toFloat))
    holdoutY = rows.map(_.getDouble(1))
  }

  // ------------------------------------------------------------ operations

  /** Runs `body` as one attempted operation; any exception or failed check
    * counts it as failed. Returns the result when it succeeded. */
  private def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        problems += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"perfbench: $what failed")
        e.printStackTrace()
        None
    }
  }

  private def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new IllegalStateException(msg)

  private var currentOp = 0L

  /** Times `body` as an operation span, a child of the enclosing one; jobs
    * it starts carry the span id. */
  private def timed[T](kind: String)(body: => T): (T, Span) = {
    val id = Ids()
    val parent = currentOp
    tracer.registerOp(id, kind)
    val sc = spark.sparkContext
    sc.setLocalProperty(TraceListener.OpKey, id.toString)
    currentOp = id
    val t0 = nowMs()
    val out = try body finally {
      currentOp = parent
      sc.setLocalProperty(TraceListener.OpKey, if (parent == 0L) null else parent.toString)
    }
    val span = Span(id, parent, "op", kind, "driver", t0, nowMs())
    opSpans += span
    (out, span)
  }

  private def estimator(barrier: Boolean): org.apache.spark.ml.Estimator[_ <: Transformer with MLWritable] =
    if (shape.classes == 0)
      new XgboostRegressor().setNEstimators(shape.rounds).setMaxDepth(shape.depth)
        .setNumWorkers(workers).setUseBarrierMode(barrier).setSeed(args.seed)
    else
      new XgboostClassifier().setNEstimators(shape.rounds).setMaxDepth(shape.depth)
        .setNumWorkers(workers).setUseBarrierMode(barrier).setSeed(args.seed)

  private def boosterOf(m: Transformer): BoosterModel = m match {
    case c: XgboostClassifierModel => c.booster
    case r: XgboostRegressorModel => r.booster
  }

  /** Holdout predictions, flattened: class probabilities for a classifier,
    * the prediction for a regressor. Untimed. */
  private def holdoutPredictions(m: Transformer): Array[Double] = timed("check") {
    if (shape.classes == 0)
      m.transform(holdoutDf).select("prediction").collect().map(_.getDouble(0))
    else
      m.transform(holdoutDf).select("probability").collect().flatMap(_.getAs[Vector](0).toArray)
  }._1

  /** Holdout loss of predictions, and of the best constant predictor. */
  private def losses(pred: Array[Double]): (Double, Double) = {
    val n = holdoutY.length
    shape.classes match {
      case 0 =>
        val mean = holdoutY.sum / n
        (math.sqrt(holdoutY.indices.map(i => math.pow(pred(i) - holdoutY(i), 2)).sum / n),
          math.sqrt(holdoutY.map(y => (y - mean) * (y - mean)).sum / n))
      case k =>
        val clip = (p: Double) => math.min(math.max(p, 1e-15), 1 - 1e-15)
        val prior = Array.tabulate(k)(c => holdoutY.count(_ == c).toDouble / n)
        val model = -holdoutY.indices.map(i => math.log(clip(pred(i * k + holdoutY(i).toInt)))).sum / n
        val const = -holdoutY.map(y => math.log(clip(prior(y.toInt)))).sum / n
        (model, const)
    }
  }

  private def expectedLevelJobs(b: BoosterModel, barrier: Boolean): Int =
    if (shape.singleNode || barrier) 0
    else b.trees.map { t =>
      val depth = new Array[Int](t.numNodes)
      var maxD = 0
      var i = 0
      while (i < t.numNodes) { // children always follow their parent
        if (t.left(i) >= 0) {
          depth(t.left(i)) = depth(i) + 1; depth(t.right(i)) = depth(i) + 1
          maxD = math.max(maxD, depth(i) + 1)
        }
        i += 1
      }
      math.min(maxD + 1, shape.depth)
    }.sum

  /** A fit; `barrier`: a side fit through the barrier path, traced and
    * kept out of the end-to-end samples. */
  private def fitOp(traced: Boolean, in: Inputs, barrier: Boolean = false): Option[Fitted] =
      attempt("fit") {
    val sc = spark.sparkContext
    // in a traced window the listener stays attached except for untraced fits
    val detach = tracing && !traced
    if (detach) { PerfbenchBus.drain(sc); sc.removeSparkListener(tracer) }
    storage.open(sc.emptyRDD[Int].id, in.trainRdds)
    val c0 = Counters.read()
    val (model, span) = try timed("fit")(estimator(barrier).fit(in.train)) finally {
      if (detach) sc.addSparkListener(tracer)
    }
    val counters = Counters.read() - c0
    PerfbenchBus.drain(sc)
    val (peakHeld, peakCreated, bcast) = storage.window
    val booster = boosterOf(model)
    lastBooster = booster
    fits += FitRec(span, traced, barrier, counters, peakCreated, bcast, expectedLevelJobs(booster, barrier))
    val pred = holdoutPredictions(model)
    check(pred.forall(p => !p.isNaN && !p.isInfinite), "non-finite holdout prediction")
    val (loss, constLoss) = losses(pred)
    check(loss < constLoss, f"holdout loss $loss%.5f does not beat the constant predictor's $constLoss%.5f")
    hashes += MessageDigest.getInstance("SHA-256")
      .digest(ModelJson.toJson(booster).getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    if (!barrier) {
      if (!traced) {
        sample("fit_s", span.dur / 1000)
        sample("cached_state_mb", peakHeld / MB)
      } else sample("traced_fit_s", span.dur / 1000)
      sample("holdout_loss", loss)
    }
    new Fitted(model, pred)
  }

  private def scoreOp(f: Fitted, in: Inputs): Unit = attempt("score") {
    val out = f.model.transform(in.score)
    val aggs =
      if (shape.classes == 0)
        Seq(count(when(col("prediction").isNotNull, 1)), sum("prediction"), lit(0.0), lit(0.0))
      else Seq(
        count(when(col("prediction").isNotNull && col("probability").isNotNull &&
          col("rawPrediction").isNotNull, 1)),
        sum("prediction"),
        sum(aggregate(vector_to_array(col("probability")), lit(0.0), (a, b) => a + b)),
        sum(element_at(vector_to_array(col("rawPrediction")), 1)))
    val (row, span) = timed("score")(out.agg(aggs.head, aggs.tail: _*).collect()(0))
    val scoreRows = in.scoreRows
    val nonNull = row.getLong(0)
    check(nonNull == scoreRows, s"scored $nonNull non-null rows of $scoreRows")
    (1 to 3).foreach(i => check(!row.isNullAt(i) && java.lang.Double.isFinite(row.getDouble(i)),
      s"non-finite scoring aggregate $i"))
    if (shape.classes != 0)
      check(math.abs(row.getDouble(2) - scoreRows) <= 1e-6 * scoreRows,
        s"class probabilities sum to ${row.getDouble(2)} over $scoreRows rows")
    sample("score_rows_per_s", scoreRows / (span.dur / 1000))
  }

  private var roundtrips = 0

  private def roundtripOp(f: Fitted): Unit = attempt("roundtrip") {
    roundtrips += 1
    val path = new java.io.File(args.workDir, s"models/m$roundtrips").getPath
    val ((loaded, save, load), _) = timed("roundtrip") {
      val (_, save) = timed("save")(f.model.write.save(path))
      val (loaded, load) = timed("load") {
        if (shape.classes == 0) XgboostRegressorModel.load(path)
        else XgboostClassifierModel.load(path)
      }
      (loaded, save, load)
    }
    sample("model_roundtrip_s", (save.dur + load.dur) / 1000)
    sample("save_s", save.dur / 1000)
    sample("load_s", load.dur / 1000)
    check(java.util.Arrays.equals(holdoutPredictions(loaded), f.holdout),
      "the loaded model scores the holdout differently")
    Files.deleteRecursively(new java.io.File(path))
  }

  /** One cycle of the workload's closed loop. */
  private def cycle(tracedFit: Boolean, in: Inputs = full): Unit =
    fitOp(tracedFit, in).foreach { f =>
      (1 to shape.opsPerFit).foreach(_ => scoreOp(f, in))
      (1 to shape.opsPerFit).foreach(_ => roundtripOp(f))
    }

  // ------------------------------------------------------------------ run

  def run(): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val boot = (nowMs() - jvmStart) / 1000
    args.workDir.mkdirs()
    val t0 = nowMs()
    startSession()
    val session = (nowMs() - t0) / 1000
    val prep = (1 to Bench.SetupReps).map { _ =>
      val s = System.nanoTime(); prepareData(); (System.nanoTime() - s) / 1e9
    }
    val w0 = System.nanoTime()
    // JIT warm-up, discarded and counted in set-up: one cycle on the small
    // holdout frame takes the one-off costs of loading and compiling every
    // code path, then full cycles compile the per-row loops
    val small = Inputs(holdoutDf, holdoutRdds, holdoutDf, shape.holdoutRows.toLong)
    val warmups = (small +: Seq.fill(Bench.WarmupFullCycles)(full)).map { in =>
      val c = System.nanoTime(); cycle(tracedFit = false, in); (System.nanoTime() - c) / 1e9
    }
    val warmup = (System.nanoTime() - w0) / 1e9
    val setup = boot + session + Stats.median(prep) + warmup
    samples.clear()
    fits.clear()
    hashes.clear()
    opSpans.clear()
    if (args.trace) {
      spark.sparkContext.addSparkListener(tracer)
      tracing = true
    }

    // measured window: whole cycles while at least half of the last cycle's
    // time remains, so the window averages --seconds, and at least
    // MinCycles; a traced run alternates untraced and traced fits
    val w1 = System.nanoTime()
    val deadline = w1 + (args.seconds * 1e9).toLong
    var n = 0
    var last = 0L
    while (n < Bench.MinCycles || deadline - System.nanoTime() > last / 2) {
      val c = System.nanoTime()
      cycle(tracedFit = args.trace && n % 2 == 1)
      last = System.nanoTime() - c
      n += 1
    }
    val window = (System.nanoTime() - w1) / 1e9

    if (args.trace) (1 to shape.barrierSideFits).foreach(_ => fitOp(traced = true, full, barrier = true))
    val report = new Report(shape, args, samples, opSpans.toSeq, fits.toSeq, tracer, hashes.toSeq)
    val layer =
      if (!args.trace) Map.empty[String, Double]
      else report.perLayer(attempt("direct calls")(direct())
        .getOrElse(Bench.DirectKeys.map(_ -> 0.0).toMap))
    if (args.trace) report.writeSpans(new java.io.File(args.workDir, "spans.jsonl"))
    spark.stop()
    val metrics =
      if (args.trace) layer
      else report.endToEnd + ("setup_s" -> setup)
    metrics.filterNot(m => java.lang.Double.isFinite(m._2))
      .foreach(m => problems += s"metric ${m._1} is not a finite number")
    val verdict = problems.isEmpty && failed == 0 && report.sanity.forall(_._2)
    report.print(attempted, failed, problems.toSeq, Seq(
      "jvm_boot_s" -> boot, "session_s" -> session, "prepare_data_s" -> Stats.median(prep),
      "warmup_s" -> warmup, "warmup_small_cycle_s" -> warmups.head,
      "warmup_full_cycle_s" -> warmups.last, "window_s" -> window, "setup_s" -> setup))
    println(Json.result(verdict, attempted, failed, metrics))
    0
  }

  /** Direct timed calls into each layer's public functions, made after the
    * measured window of a traced run. */
  private def direct(): Map[String, Double] = {
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(tracer)
    tracing = false
    val out = mutable.LinkedHashMap.empty[String, Double]
    val rows = full.train.select("features", "label").repartition(workers).rdd.cache()
    rows.count()
    val reps = 3
    var cuts: BinCuts = null
    out("QuantileCuts.fromRdd_s") = Stats.median((1 to reps).map { _ =>
      val t = System.nanoTime(); cuts = QuantileCuts.fromRdd(rows, Float.NaN); (System.nanoTime() - t) / 1e9
    })
    val cutsBc = sc.broadcast(cuts)
    val perPart = (1 to reps).map { _ =>
      rows.mapPartitions { it =>
        val t0 = System.nanoTime()
        val (m, _) = TrainMatrix.fromRows(it, false, false, false)
        val t1 = System.nanoTime()
        BinCuts.binMatrix(m, cutsBc.value, Float.NaN)
        Iterator.single(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      }.collect()
    }
    out("DataLayer.fromRows_s") = Stats.median(perPart.map(_.map(_._1).sum))
    out("Booster.binMatrix_s") = Stats.median(perPart.map(_.map(_._2).sum))
    rows.unpersist(true)

    out("Trainer.train_s") =
      if (!shape.singleNode) 0.0
      else {
        val (m, _) = TrainMatrix.fromRows(full.train.select("features", "label").collect().iterator,
          false, false, false)
        val p = BoosterParams(numRounds = shape.rounds, maxDepth = shape.depth,
          objective = "binary:logistic", seed = args.seed)
        val t = System.nanoTime(); Trainer.train(m, None, p); (System.nanoTime() - t) / 1e9
      }
    val booster = lastBooster
    out("Booster.predict_us_per_row") = Stats.median((1 to reps).map { _ =>
      val t = System.nanoTime()
      var s = 0.0
      holdoutX.foreach(x => s += booster.predictMarginWithMissing(x)(0))
      check(!s.isNaN, "direct prediction is NaN")
      (System.nanoTime() - t) / 1e3 / holdoutX.length
    })
    out("ModelJson.model_kb") = ModelJson.toJson(booster).length / 1024.0
    out.toMap
  }

}

object Bench {
  val SetupReps = 3
  val MinCycles = 3
  // after a single full warm-up cycle the first measured fit and scoring
  // pass still ran 20-40% slower than the rest of the window (tall_dist)
  val WarmupFullCycles = 2
  val DirectKeys: Seq[String] = Seq("QuantileCuts.fromRdd_s", "DataLayer.fromRows_s",
    "Booster.binMatrix_s", "Trainer.train_s", "Booster.predict_us_per_row", "ModelJson.model_kb")

  /** Unit of a metric, from its name. */
  def unitOf(name: String): String = name match {
    case "holdout_loss" => "loss"
    case n if n.endsWith("_rows_per_s") => "rows/s"
    case n if n.endsWith("_us_per_row") => "us/row"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_kb") => "KiB"
    case n if n.endsWith("_mb") => "MiB"
    case n if n.endsWith("_gb") => "GiB"
    case n if n.endsWith("_share") || n.endsWith("_ratio") => "ratio"
    case _ => "count"
  }
}

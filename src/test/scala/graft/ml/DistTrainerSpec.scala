package graft.ml

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** The job shape of the DistTrainer path, its fallback when the level
  * histograms would overrun spark.driver.maxResultSize, the parity of
  * its per-round eval pass with the barrier path's allreduce, and the
  * parity of all three training paths on one partition. */
class DistTrainerSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  // 4-decimal values: exact under float32, so every path bins identically
  private def classDf(n: Int, seed: Int, withVal: Boolean) = {
    val rng = new scala.util.Random(seed)
    def r4() = math.round(rng.nextDouble() * 4 * 1e4) / 1e4
    val rows = Seq.fill(n)({
      val f = Array.fill(3)(r4())
      val clean = if (f(0) > 2.6) 2 else if (f(1) > 2.0) 1 else 0
      // 15% label noise, so validation loss turns and early stopping fires
      val label = if (rng.nextDouble() < 0.15) rng.nextInt(3) else clean
      (Vectors.dense(f), label.toDouble, withVal && rng.nextDouble() < 0.3)
    })
    spark.createDataFrame(rows).toDF("features", "label", "isVal")
  }

  /** (round, class, level) triples a fit grows: a tree whose deepest node
    * sits at depth d ran levels 0..d, except the level at maxDepth. */
  private def levelsGrown(trees: Array[Tree], maxDepth: Int): Int =
    trees.map { t =>
      val depth = new Array[Int](t.numNodes)
      var deepest = 0
      (0 until t.numNodes).foreach { i => // children always follow their parent
        if (t.left(i) >= 0) {
          depth(t.left(i)) = depth(i) + 1
          depth(t.right(i)) = depth(i) + 1
          deepest = math.max(deepest, depth(i) + 1)
        }
      }
      math.min(deepest + 1, maxDepth)
    }.sum

  private val Runtime = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")

  test("numWorkers=8 multiclass fit: one single-stage job per (round, class, level), " +
    "each submitted from DistTrainer.growTree") {
    val sc = spark.sparkContext
    val df = classDf(800, 29, withVal = false).select("features", "label")
    val group = "dist-trainer-job-shape"
    val frames = mutable.HashMap.empty[Int, String] // job -> innermost user frame
    val jobOfStage = mutable.HashMap.empty[Int, Int]
    val stagesRun = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    val ended = mutable.HashSet.empty[Int]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          val result = e.stageInfos.maxBy(_.stageId)
          frames(e.jobId) = result.details.linesIterator.map(_.trim)
            .find(f => f.nonEmpty && !Runtime.exists(f.startsWith)).getOrElse("")
          e.stageIds.foreach(jobOfStage(_) = e.jobId)
        }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
        jobOfStage.get(e.stageInfo.stageId).foreach(stagesRun(_) += 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += e.jobId }
    }
    sc.addSparkListener(l)
    val maxDepth = 3
    val model =
      try {
        sc.setJobGroup(group, "DistTrainer job shape")
        val m = new XgboostClassifier().setNumWorkers(8).setNEstimators(2)
          .setMaxDepth(maxDepth).fit(df)
        // the listener bus delivers in order: once this marker job's end
        // lands, every event of the fit has too
        sc.parallelize(Seq(1), 1).count()
        def markerEnded = l.synchronized(frames.exists { case (j, f) =>
          f.startsWith("graft.ml.DistTrainerSpec") && ended(j) })
        val deadline = System.nanoTime() + 30000000000L
        while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(20)
        assert(markerEnded, "listener events did not arrive")
        m
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(l)
      }

    val levelJobs = l.synchronized(
      frames.toSeq.filter(_._2.startsWith("graft.ml.DistTrainer$.growTree(")).map(_._1))
    val expected = levelsGrown(model.booster.trees, maxDepth)
    assert(model.booster.trees.length == 2 * 3)
    assert(expected > model.booster.trees.length, "trees must grow past the root level")
    assert(levelJobs.size == expected,
      s"level jobs ${levelJobs.size} vs (round, class, level) triples $expected; jobs: $frames")
    levelJobs.foreach { j =>
      assert(stagesRun(j) == 1, s"level job $j ran ${stagesRun(j)} stages (a shuffle stage per level?)")
    }
  }

  test("K=3 eval pass with early stopping: DistTrainer and BarrierTrainer agree on " +
    "bestIteration, bestScore and predictions") {
    val df = classDf(600, 31, withVal = true)
    def fit(barrier: Boolean) = new XgboostClassifier().setNumWorkers(2)
      .setValidationIndicatorCol("isVal").setEarlyStoppingRounds(3)
      .setNEstimators(40).setMaxDepth(4).setUseBarrierMode(barrier).fit(df)
    val dist = fit(barrier = false)
    val bar = fit(barrier = true)
    val (bd, bb) = (dist.booster, bar.booster)
    assert(bd.bestIteration.isDefined && bd.bestIteration == bb.bestIteration,
      s"bestIteration ${bd.bestIteration} vs ${bb.bestIteration}")
    assert(bd.trees.length < 40 * 3, "early stopping must fire before the last round")
    val (sd, sb) = (bd.bestScore.get, bb.bestScore.get)
    assert(math.abs(sd - sb) <= 1e-9, s"bestScore $sd vs $sb")
    def probs(m: XgboostClassifierModel) =
      m.transform(df).select("probability").collect().map(_.getAs[Vector](0).toArray)
    probs(dist).zip(probs(bar)).foreach { case (x, y) =>
      x.zip(y).foreach { case (a, b) => assert(math.abs(a - b) < 1e-6, s"DistTrainer $a vs barrier $b") }
    }
  }

  test("level histograms too large for spark.driver.maxResultSize are summed on executors, " +
    "and the model matches the direct fit") {
    val rng = new scala.util.Random(37)
    val m = 20
    val rows = Seq.fill(200)({
      val f = Array.fill(m)(math.round(rng.nextDouble() * 4 * 1e4) / 1e4)
      (Vectors.dense(f), f(0) * 2 + (if (f(1) > 2.0) 1.0 else 0.0))
    })
    val df = spark.createDataFrame(rows).toDF("features", "label")
    def fit() = new XgboostRegressor().setNumWorkers(8).setNEstimators(2).setMaxDepth(3).fit(df)
    val limit = 400L << 10
    // the root level alone: 8 partition histograms of m features x 256 bins x (g, h)
    assert(8L * m * 256 * 2 * 8 > limit, "the single-stage level job must overrun the limit")
    val direct = fit()
    val summed = org.apache.spark.LiveConf.withSetting(spark.sparkContext,
      "spark.driver.maxResultSize", limit.toString)(fit())
    def preds(model: XgboostRegressorModel) =
      model.transform(df).select("prediction").collect().map(_.getDouble(0))
    preds(direct).zip(preds(summed)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"direct $a vs executor-summed $b")
    }
  }

  test("a subsample=0.5 single-node fit trains on the distributed paths' rows: " +
    "it equals DistTrainer on one partition") {
    val rng = new scala.util.Random(41)
    // 8 evenly spread values per feature: exact and sketch cuts coincide
    val rows = Seq.fill(300)({
      val f = Array.fill(3)(rng.nextInt(8).toDouble)
      (Vectors.dense(f), f(0) * 2 + f(1) - f(2) * 0.5 + rng.nextGaussian())
    })
    // one input partition: both paths see the rows in the same order
    val df = spark.createDataFrame(rows).toDF("features", "label").coalesce(1)
    val est = new XgboostRegressor().setNEstimators(6).setMaxDepth(3).setSubsample(0.5)
    val single = est.fit(df).booster
    val (projected, hasW, hasV, hasM) = FitSupport.projectTrain(est, df)
    val dist = DistTrainer.train(projected, hasW, hasV, hasM,
      est.boosterParams("reg:squarederror", 0),
      ObjectiveRule(false, "label", None, 0, None, None), 1, forceRepartition = false)
    assert(single.trees.length == dist.trees.length)
    single.trees.zip(dist.trees).zipWithIndex.foreach { case ((s, d), t) =>
      assert(s.feature.toSeq == d.feature.toSeq && s.threshold.toSeq == d.threshold.toSeq,
        s"tree $t: single-node and DistTrainer split differently")
      s.weight.zip(d.weight).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-5, s"tree $t: node weight $a vs $b")
      }
    }
  }

  /** One random single-node vs DistTrainer case: the data's shape and the
    * params that change which histograms a level accumulates. */
  private final case class ParityCase(seed: Long, k: Int, depth: Int, rows: Int, m: Int,
      missing: Boolean, weighted: Boolean, bylevel: Boolean, bynode: Boolean,
      maxLeaves: Int, monotone: Boolean)

  /** A ParityCase's eval inputs: validation rows (or a validation column
    * that marks none), early stopping after 2 rounds or none, a warm start
    * from a 1-round model, and for K = 1 a binary:logistic objective. The
    * cases of one objective take its metrics in turn. */
  private final case class EvalCase(valRows: Boolean, esr: Int, warm: Boolean, binary: Boolean)

  private def sameTrees(what: String, a: Array[Tree], b: Array[Tree]): Unit = {
    assert(a.length == b.length, s"$what: ${a.length} vs ${b.length} trees")
    a.zip(b).zipWithIndex.foreach { case ((x, y), t) =>
      assert(x.feature.toSeq == y.feature.toSeq && x.threshold.toSeq == y.threshold.toSeq &&
        x.defaultLeft.toSeq == y.defaultLeft.toSeq,
        s"$what, tree $t: splits differ: ${x.feature.toSeq} vs ${y.feature.toSeq}")
      x.weight.zip(y.weight).foreach { case (u, v) =>
        assert(math.abs(u - v) <= 1e-5, s"$what, tree $t: node weight $u vs $v")
      }
    }
  }

  test("max_depth = 0: the single-node, DistTrainer and barrier paths fit the same finite " +
    "one-leaf trees") {
    val rng = new scala.util.Random(43)
    val rows = Seq.fill(400)({
      val f = Array.fill(3)(math.round(rng.nextDouble() * 4 * 1e4) / 1e4)
      (Vectors.dense(f), f(0) * 2 + f(1) - f(2) * 0.5)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label")
    def fit(workers: Int, barrier: Boolean) = new XgboostRegressor().setNEstimators(3)
      .setMaxDepth(0).setNumWorkers(workers).setUseBarrierMode(barrier).fit(df).booster.trees
    val single = fit(1, barrier = false)
    assert(single.length == 3 && single.forall(t => t.numNodes == 1 &&
      !t.weight(0).isNaN && !t.weight(0).isInfinite && t.weight(0) != 0f),
      s"one finite leaf per tree: ${single.map(_.weight.toSeq).toSeq}")
    sameTrees("max_depth 0, single-node vs DistTrainer", single, fit(2, barrier = false))
    sameTrees("max_depth 0, single-node vs barrier", single, fit(2, barrier = true))
  }

  // Each case also refits its rows with an eval pass (an EvalCase) on all
  // three paths, which must agree on trees, bestScore and bestIteration, and
  // draws its grow policy (depthwise or lossguide).
  test("property: a single-node fit equals DistTrainer on one partition, with and without " +
    "histogram subtraction: K = 1-3, depth 1-6, missing values, weights, colsample_bylevel/" +
    "bynode, max_leaves, monotone constraints") {
    val cases = Gen.listOfN(24, for {
      seed <- Gen.choose(1L, Long.MaxValue)
      k <- Gen.choose(1, 3)
      depth <- Gen.choose(1, 6)
      rows <- Gen.choose(40, 250)
      m <- Gen.choose(2, 5)
      flags <- Gen.listOfN(5, Gen.oneOf(false, true))
      maxLeaves <- Gen.oneOf(0, 0, 3, 7)
    } yield ParityCase(seed, k, depth, rows, m, flags(0), flags(1), flags(2), flags(3), maxLeaves,
      flags(4))).pureApply(Gen.Parameters.default, Seed(20261019L))
    assert(cases.map(_.k).toSet == Set(1, 2, 3) && cases.exists(_.bylevel) &&
      cases.exists(c => !c.bylevel && c.depth > 1), "the cases must cover every branch")
    val evals = Gen.listOfN(cases.length, for {
      flags <- Gen.listOfN(3, Gen.oneOf(false, true))
      esr <- Gen.oneOf(0, 2)
    } yield EvalCase(flags(0), esr, flags(1), flags(2)))
      .pureApply(Gen.Parameters.default, Seed(20261020L))
    val policies = Gen.listOfN(cases.length, Gen.oneOf("depthwise", "lossguide"))
      .pureApply(Gen.Parameters.default, Seed(20261021L))
    assert(policies.toSet == Set("depthwise", "lossguide"), s"both policies must run: $policies")
    var split = 0
    var stopped = 0
    val metricsRun = mutable.ArrayBuffer.empty[String]
    cases.zip(evals).zip(policies).foreach { case ((c, e), policy) =>
      val rng = new java.util.Random(c.seed)
      // at most 8 distinct values per feature over <= 250 rows: the sketch's
      // 254 quantiles hit every rank, so both paths get the exact cuts
      val levels = Array.fill(c.m)(Array.fill(1 + rng.nextInt(8))(
        math.round(rng.nextGaussian() * 4 * 1e3) / 1e3))
      val data = Seq.fill(c.rows) {
        val f = Array.tabulate(c.m)(j =>
          if (c.missing && rng.nextInt(6) == 0) Double.NaN
          else levels(j)(rng.nextInt(levels(j).length)))
        val x0 = if (f(0).isNaN) 0.0 else f(0)
        val label =
          if (c.k == 1) x0 * 2 + rng.nextGaussian()
          else ((if (x0 > 0) 1 else 0) + rng.nextInt(2)) % c.k
        (Vectors.dense(f), label.toDouble, if (c.weighted) 0.5 + rng.nextInt(4) else 1.0)
      }
      val withW = spark.createDataFrame(data).toDF("features", "label", "weight").coalesce(1)
      val df = if (c.weighted) withW else withW.drop("weight")
      val bp = BoosterParams(numRounds = 2, maxDepth = c.depth, seed = c.seed,
        objective = if (c.k == 1) "reg:squarederror" else "multi:softprob",
        numClass = if (c.k == 1) 0 else c.k,
        colsampleBylevel = if (c.bylevel) 0.5 else 1.0,
        colsampleBynode = if (c.bynode) 0.5 else 1.0,
        maxLeaves = c.maxLeaves, growPolicy = policy,
        monotoneConstraints = if (c.monotone) Array.fill(c.m)(rng.nextInt(3) - 1) else null)
      val (mat, _) = TrainMatrix.fromRows(df.collect().iterator, c.weighted, false, false)
      val cuts = BinCuts.fromMatrix(mat, Float.NaN)
      val sketched = QuantileCuts.fromRdd(df.rdd, Float.NaN)
      assert(cuts.cuts.map(_.toSeq).toSeq == sketched.cuts.map(_.toSeq).toSeq,
        s"$c: exact and sketched cuts differ, so the paths cannot agree")
      val single = Trainer.train(mat, None, bp).trees
      val rule = ObjectiveRule(false, "label", Some(bp.objective), bp.numClass, None, None)
      val dist = DistTrainer.train(df, hasW = c.weighted, hasV = false,
        hasM = false, bp, rule, 1, forceRepartition = false).trees
      sameTrees(s"$c: single-node vs DistTrainer", single, dist)
      val barrier = BarrierTrainer.train(df, hasW = c.weighted, hasV = false,
        hasM = false, bp, rule, 1, forceRepartition = false).trees
      sameTrees(s"$c: single-node vs BarrierTrainer", single, barrier)
      if (!c.bylevel) {
        // colsample_bylevel just under 1 keeps every feature but turns
        // subtraction off: each sibling accumulated, not derived
        val direct = Trainer.train(mat, None, bp.copy(colsampleBylevel = 1.0 - 1e-9)).trees
        sameTrees(s"$c: subtracted vs accumulated siblings", single, direct)
      }
      split += single.count(t => t.numNodes > 3)

      // the same rows with an eval pass, on all three paths
      val erng = new java.util.Random(c.seed ^ 0x5eedL)
      val binary = c.k == 1 && e.binary
      val median = data.map(_._2).sorted.apply(data.length / 2)
      def label(y: Double) = if (binary) (if (y > median) 1.0 else 0.0) else y
      // validation labels that follow the training signal with noise, or
      // (adverse) go against it, so the eval score worsens and stops the fit
      val adverse = erng.nextBoolean()
      def valLabel(y: Double) =
        if (c.k > 1) (if (adverse || erng.nextInt(4) == 0) (y + 1) % c.k else y)
        else if (binary) (if (adverse || erng.nextInt(4) == 0) 1 - label(y) else label(y))
        else if (adverse) -y
        else y + erng.nextGaussian()
      val trainRows = data.map { case (f, y, w) => (f, label(y), w, false) }
      // validation features copied from training rows keep the exact and
      // sketched cuts equal
      val valRows = if (!e.valRows) Nil else Seq.fill(1 + erng.nextInt(c.rows / 2)) {
        val (f, y, w) = data(erng.nextInt(data.length))
        (f, valLabel(y), w, true)
      }
      val withWV = spark.createDataFrame(trainRows ++ valRows)
        .toDF("features", "label", "weight", "isVal").coalesce(1)
      val edf = if (c.weighted) withWV else withWV.drop("weight")
      val metrics =
        if (c.k > 1) Seq("mlogloss", "merror")
        else if (binary) Seq("logloss", "error", "auc")
        else Seq("rmse", "mae")
      val ebp = bp.copy(numRounds = 4, objective = if (binary) "binary:logistic" else bp.objective,
        earlyStoppingRounds = e.esr,
        evalMetric = Some(metrics(metricsRun.count(metrics.contains) % metrics.length)))
      metricsRun ++= ebp.evalMetric
      val (emat, evalMat) = TrainMatrix.fromRows(edf.collect().iterator, c.weighted, true, false)
      assert(evalMat.isDefined == e.valRows)
      assert(BinCuts.fromMatrix(emat, Float.NaN).cuts.map(_.toSeq).toSeq ==
        QuantileCuts.fromRdd(edf.rdd, Float.NaN).cuts.map(_.toSeq).toSeq,
        s"$c, $e: exact and sketched cuts differ, so the paths cannot agree")
      val init =
        if (e.warm) Trainer.train(emat, None, ebp.copy(numRounds = 1, earlyStoppingRounds = 0)).trees
        else Array.empty[Tree]
      val erule = ObjectiveRule(false, "label", Some(ebp.objective), ebp.numClass, None, None)
      val base = Trainer.train(emat, evalMat, ebp, init)
      assert(base.bestScore.isDefined == e.valRows && base.trees.startsWith(init),
        s"$c, $e: bestScore ${base.bestScore}")
      if (base.trees.length < init.length + 4 * c.k) stopped += 1
      Seq(
        "DistTrainer" -> DistTrainer.train(edf, c.weighted, hasV = true, hasM = false, ebp, erule,
          1, forceRepartition = false, initTrees = init),
        "BarrierTrainer" -> BarrierTrainer.train(edf, c.weighted, hasV = true, hasM = false, ebp,
          erule, 1, forceRepartition = false, initTrees = init)).foreach { case (path, fit) =>
        sameTrees(s"$c, $e: single-node vs $path", base.trees, fit.trees)
        assert(fit.bestScore == base.bestScore && fit.bestIteration == base.bestIteration,
          s"$c, $e: $path bestScore ${fit.bestScore}, bestIteration ${fit.bestIteration} vs " +
            s"single-node ${base.bestScore}, ${base.bestIteration}")
      }
    }
    assert(split > 0, "some trees must grow past depth 1")
    assert(evals.exists(!_.valRows) && evals.exists(e => e.valRows && e.esr > 0) &&
      evals.exists(_.warm) && stopped > 0 && metricsRun.toSet.size == 7,
      s"the eval cases must cover every branch: $evals, metrics $metricsRun")
  }
}

package graft.ml

import org.apache.spark.ml.{Model, Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.ml.param.Param
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Estimator/Model end-to-end tests over the FIXTURES.md schemas: mixed
  * dense/sparse vectors, weights, validation indicator, base margin,
  * persistence round-trips, Pipeline/CrossValidator interop, and the
  * distributed (treeAggregate) path.
  */
class EstimatorSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  // F1 (reference tests/xgboost/xgboost_local_test.py:47-55)
  private def regTrainDf = spark.createDataFrame(Seq(
    (Vectors.dense(1.0, 2.0, 3.0), 0.0),
    (Vectors.sparse(3, Seq((1, 1.0), (2, 5.5))), 1.0))).toDF("features", "label")

  // F2-style binary, replicated so min_child_weight can split
  private def clsTrainDf = {
    val base = Seq(
      (Vectors.dense(1.0, 2.0, 3.0), 0.0),
      (Vectors.sparse(3, Seq((1, 1.0), (2, 5.5))), 0.0),
      (Vectors.dense(4.0, 5.0, 6.0), 1.0),
      (Vectors.sparse(3, Seq((1, 6.0), (2, 7.5))), 1.0))
    spark.createDataFrame(Seq.fill(50)(base).flatten).toDF("features", "label")
  }

  test("F1: regressor overfits the 2-row fixture; sparse input densifies") {
    val model = new XgboostRegressor().setNEstimators(100).fit(regTrainDf)
    val preds = model.transform(regTrainDf)
      .select("label", "prediction").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    preds.foreach { case (y, p) => assert(math.abs(y - p) < 1e-2, s"label=$y pred=$p") }
  }

  test("F1: treeLimit at transform time truncates the ensemble") {
    val model = new XgboostRegressor().setNEstimators(10).setMaxDepth(5).fit(regTrainDf)
    val full = model.transform(regTrainDf).select("prediction").collect().map(_.getDouble(0))
    model.setTreeLimit(5)
    val limited = model.transform(regTrainDf).select("prediction").collect().map(_.getDouble(0))
    assert(full(1) != limited(1))
    assert(limited(1) > 0.5 && limited(1) < full(1))
  }

  test("F2: binary classifier emits rawPrediction/probability/prediction with " +
      "the reference's margin math (raw=[-m,m], probs=[1-sig,sig])") {
    val model = new XgboostClassifier().setNEstimators(30).fit(clsTrainDf)
    val rows = model.transform(clsTrainDf.limit(4).distinct())
      .select("label", "rawPrediction", "probability", "prediction").collect()
    rows.foreach { r =>
      val raw = r.getAs[Vector](1)
      val prob = r.getAs[Vector](2)
      assert(math.abs(raw(0) + raw(1)) < 1e-9, "raw must be [-m, m]")
      assert(math.abs(prob(0) + prob(1) - 1.0) < 1e-9)
      assert(r.getDouble(3) == (if (prob(1) > prob(0)) 1.0 else 0.0))
      assert(r.getDouble(3) == r.getDouble(0), s"misclassified: $r")
      assert(math.max(prob(0), prob(1)) > 0.9, s"unsaturated prob: $prob")
    }
  }

  test("F3: multiclass via inferred multi:softprob; probabilities sum to 1") {
    val base = Seq(
      (Vectors.dense(1.0, 2.0, 3.0), 0.0),
      (Vectors.sparse(3, Seq((1, 1.0), (2, 5.5))), 0.0),
      (Vectors.dense(4.0, 5.0, 6.0), 1.0),
      (Vectors.sparse(3, Seq((1, 6.0), (2, 7.5))), 2.0))
    val df = spark.createDataFrame(Seq.fill(50)(base).flatten).toDF("features", "label")
    val model = new XgboostClassifier().setNEstimators(30).fit(df)
    assert(model.booster.objectiveName == "multi:softprob")
    assert(model.numClasses == 3)
    val rows = model.transform(df.limit(4).distinct())
      .select("label", "probability", "prediction").collect()
    rows.foreach { r =>
      val prob = r.getAs[Vector](1)
      assert(math.abs(prob.toArray.sum - 1.0) < 1e-9)
      assert(r.getDouble(2) == r.getDouble(0), s"misclassified: $r")
    }
  }

  test("empty output-column params skip materialization (reference :744-754)") {
    val model = new XgboostClassifier().setNEstimators(5).fit(clsTrainDf)
    model.setRawPredictionCol("").setProbabilityCol("")
    val out = model.transform(clsTrainDf)
    assert(out.columns.toSet == Set("features", "label", "prediction"))
  }

  test("F4: weight + validation indicator + early stopping set best_score") {
    val df = spark.createDataFrame(Seq(
      (Vectors.dense(1.0, 2.0, 3.0), 0.0, false, 1.0),
      (Vectors.sparse(3, Seq((1, 1.0), (2, 5.5))), 1.0, false, 2.0),
      (Vectors.dense(4.0, 5.0, 6.0), 2.0, true, 1.0),
      (Vectors.sparse(3, Seq((1, 6.0), (2, 7.5))), 3.0, true, 2.0)))
      .toDF("features", "label", "isVal", "weight")
    val model = new XgboostRegressor()
      .setWeightCol("weight").setValidationIndicatorCol("isVal")
      .setEarlyStoppingRounds(1).setEvalMetric("rmse").setNEstimators(100)
      .fit(df)
    assert(model.booster.bestScore.isDefined)
    assert(model.booster.bestScore.get > 0)
    assert(model.booster.bestIteration.isDefined)
  }

  test("F5: base margin column shifts predictions") {
    val trainSame = spark.createDataFrame(Seq(
      (Vectors.dense(1.0, 2.0, 3.0), 0.0, 1.0),
      (Vectors.sparse(3, Seq((1, 1.0), (2, 5.5))), 1.0, 1.0)))
      .toDF("features", "label", "margin")
    val trainDiff = spark.createDataFrame(Seq(
      (Vectors.dense(1.0, 2.0, 3.0), 0.0, 0.0),
      (Vectors.sparse(3, Seq((1, 1.0), (2, 5.5))), 1.0, 1.0)))
      .toDF("features", "label", "margin")
    def preds(df: org.apache.spark.sql.DataFrame) =
      new XgboostClassifier().setBaseMarginCol("margin").setNEstimators(5)
        .fit(df).setProbabilityCol("probability")
        .transform(df).select("probability").collect()
        .map(_.getAs[Vector](0)(1))
    val same = preds(trainSame)
    val diff = preds(trainDiff)
    assert(!same.sameElements(diff))
  }

  test("F8: model save/load round-trips params, uid, and predictions") {
    val model = new XgboostRegressor().setNEstimators(20).setEta(0.2).fit(regTrainDf)
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString + "/m"
    model.write.overwrite().save(dir)
    val loaded = XgboostRegressorModel.load(dir)
    assert(loaded.uid == model.uid)
    assert(loaded.getOrDefault(loaded.eta) == 0.2)
    val a = model.transform(regTrainDf).select("prediction").collect().map(_.getDouble(0))
    val b = loaded.transform(regTrainDf).select("prediction").collect().map(_.getDouble(0))
    assert(a.sameElements(b))
  }

  test("F8: cross-class load fails with 'Expected class name'") {
    val model = new XgboostClassifier().setNEstimators(3).fit(clsTrainDf)
    val dir = java.nio.file.Files.createTempDirectory("graft-x").toString + "/m"
    model.write.overwrite().save(dir)
    val ex = intercept[Exception] { XgboostRegressorModel.load(dir) }
    assert(ex.getMessage.contains("Expected class name"))
  }

  test("F8: estimator save/load keeps params") {
    val est = new XgboostRegressor().setNEstimators(7).setMaxDepth(3)
    val dir = java.nio.file.Files.createTempDirectory("graft-est").toString + "/e"
    est.write.overwrite().save(dir)
    val loaded = XgboostRegressor.load(dir)
    assert(loaded.getOrDefault(loaded.nEstimators) == 7)
    assert(loaded.getOrDefault(loaded.maxDepth) == 3)
    assert(loaded.uid == est.uid)
  }

  test("F8: Pipeline fit + save/load (reference local_test.py:432-476)") {
    val pipeline = new Pipeline().setStages(Array(
      new XgboostRegressor().setNEstimators(10)))
    val pm: PipelineModel = pipeline.fit(regTrainDf)
    val preds = pm.transform(regTrainDf).select("prediction").collect().map(_.getDouble(0))
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe").toString + "/p"
    pm.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val preds2 = loaded.transform(regTrainDf).select("prediction").collect().map(_.getDouble(0))
    assert(preds.sameElements(preds2))
  }

  // the F3 fixture: K=3 with dense and sparse rows
  private def multiTrainDf = {
    val base = Seq(
      (Vectors.dense(1.0, 2.0, 3.0), 0.0),
      (Vectors.sparse(3, Seq((1, 1.0), (2, 5.5))), 0.0),
      (Vectors.dense(4.0, 5.0, 6.0), 1.0),
      (Vectors.sparse(3, Seq((1, 6.0), (2, 7.5))), 2.0))
    spark.createDataFrame(Seq.fill(50)(base).flatten).toDF("features", "label")
  }

  private def modelDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/m"

  // every output column of a transform, in row order
  private def scores(m: Model[_], df: DataFrame): Seq[Row] =
    m.transform(df).drop("features", "label").collect().toSeq

  test("model save and load start no Spark job: regressor and K=3 classifier") {
    val sc = spark.sparkContext
    val reg = new XgboostRegressor().setNEstimators(5).fit(regTrainDf)
    val cls = new XgboostClassifier().setNEstimators(3).fit(multiTrainDf)
    val (group, marker) = ("graft-persistence", "graft-persistence-marker")
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "model save and load")
      val (dirR, dirC) = (modelDir("graft-nojob"), modelDir("graft-nojob"))
      reg.write.overwrite().save(dirR)
      val reg2 = XgboostRegressorModel.load(dirR)
      cls.write.overwrite().save(dirC)
      val cls2 = XgboostClassifierModel.load(dirC)
      // the listener bus delivers in order: once the marker job's start
      // lands, every job start of the round trips has too
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains(marker), "the listener never saw the marker job")
      val jobs = started.toArray.count(_ == group)
      assert(jobs == 0, s"$jobs Spark jobs started inside two save/load round trips")
      assert(ModelJson.toJson(reg2.booster) == ModelJson.toJson(reg.booster))
      assert(ModelJson.toJson(cls2.booster) == ModelJson.toJson(cls.booster))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("a model directory written through DataFrame writers loads and scores identically") {
    val reg = new XgboostRegressor().setNEstimators(5).setEta(0.2).fit(regTrainDf)
    val cls = new XgboostClassifier().setNEstimators(3).setMaxDepth(3).fit(multiTrainDf)
    Seq[(Model[_] with MLWritable, BoosterModel, String => Model[_], DataFrame)](
      (reg, reg.booster, XgboostRegressorModel.load, regTrainDf),
      (cls, cls.booster, XgboostClassifierModel.load, multiTrainDf)).foreach {
      case (model, booster, load, df) =>
        val fresh = modelDir("graft-meta")
        model.write.save(fresh)
        val metaLine = spark.read.text(s"$fresh/metadata").head().getString(0)
        // the layout Spark's DataFrame writers leave: part-00000-<uuid>-c000.*
        // data files beside _SUCCESS markers and .crc checksums
        val dir = modelDir("graft-dflayout")
        Seq(Tuple1(metaLine)).toDF("value").coalesce(1).write.text(s"$dir/metadata")
        Seq(Tuple1(ModelJson.toJson(booster))).toDF("model_json").coalesce(1)
          .write.parquet(s"$dir/model")
        def names(sub: String) = new java.io.File(s"$dir/$sub").list().toSeq
        assert(names("metadata").exists(n => n.startsWith("part-00000-") && n.endsWith("-c000.txt")))
        assert(names("model").exists(n =>
          n.startsWith("part-00000-") && n.endsWith("-c000.snappy.parquet")))
        assert(names("model").contains("_SUCCESS"))
        // the truncated in-progress files a save that died would leave
        Seq("metadata", "model").foreach(sub =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, sub, ".part-00000"), "{"))
        val loaded = load(dir)
        assert(loaded.getClass == model.getClass)
        assert(loaded.uid == model.uid)
        // compared encoded: the NaN default of `missing` is not == itself
        def params(m: Model[_]) = m.extractParamMap().toSeq
          .map(p => p.param.name -> p.param.asInstanceOf[Param[Any]].jsonEncode(p.value)).toMap
        assert(params(loaded) == params(model))
        assert(scores(loaded, df) == scores(model, df))
    }
  }

  test("a saved model reads through spark.read.parquet and spark.read.text; " +
      "no in-progress file is left") {
    val model = new XgboostClassifier().setNEstimators(3).fit(multiTrainDf)
    val dir = modelDir("graft-sparkread")
    model.write.save(dir)
    val frame = spark.read.parquet(s"$dir/model")
    assert(frame.schema == StructType(Seq(StructField("model_json", StringType))))
    val rows = frame.collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == ModelJson.toJson(model.booster))
    val lines = spark.read.text(s"$dir/metadata").collect().map(_.getString(0))
    assert(lines.length == 1)
    val meta = org.json4s.jackson.JsonMethods.parse(lines(0))
    assert((meta \ "class") == org.json4s.JString(classOf[XgboostClassifierModel].getName))
    assert((meta \ "uid") == org.json4s.JString(model.uid))
    Seq("metadata" -> "part-00000", "model" -> "part-00000.snappy.parquet").foreach {
      case (sub, data) =>
        val names = new java.io.File(s"$dir/$sub").list().toSet
        assert(names.filterNot(_.startsWith(".")) == Set(data), s"$sub: $names")
        // hidden names left are only the checksums of the data files
        assert(names.filter(_.startsWith(".")).forall(n =>
          n.endsWith(".crc") && names(n.stripPrefix(".").stripSuffix(".crc"))), s"$sub: $names")
    }
  }

  test("save onto an existing path needs overwrite(); a directory without a data file " +
      "fails to load, naming it") {
    val model = new XgboostRegressor().setNEstimators(3).fit(regTrainDf)
    val dir = modelDir("graft-exists")
    model.write.save(dir)
    val ex = intercept[java.io.IOException] { model.write.save(dir) }
    assert(ex.getMessage.contains("already exists"), ex.getMessage)
    model.write.overwrite().save(dir)
    new java.io.File(s"$dir/model").listFiles().foreach(f => assert(f.delete()))
    val missing = intercept[java.io.FileNotFoundException] { XgboostRegressorModel.load(dir) }
    assert(missing.getMessage.contains(s"$dir/model"), missing.getMessage)
  }

  test("CrossValidator interop (reference local_test.py:466-476)") {
    val est = new XgboostRegressor().setNEstimators(5)
    val grid = new ParamGridBuilder().addGrid(est.maxDepth, Array(2, 3)).build()
    val cv = new CrossValidator().setEstimator(est)
      .setEvaluator(new RegressionEvaluator())
      .setEstimatorParamMaps(grid).setNumFolds(2)
    val big = clsTrainDf // 200 rows, labels 0/1 work as regression targets
    val cvModel = cv.fit(big)
    assert(cvModel.bestModel.isInstanceOf[XgboostRegressorModel])
  }

  test("arbitraryParams JSON overrides explicit params with xgboost alias names " +
      "(analogue of arbitraryParamsDict merge, reference xgboost_core.py:249-258)") {
    val est = new XgboostRegressor().setNEstimators(50).setEta(0.3)
    est.set(est.arbitraryParams, """{"learning_rate": 0.05, "num_boost_round": 3, "unknown_extra": true}""")
    val bp = est.boosterParams("reg:squarederror", 0)
    assert(bp.eta == 0.05)
    assert(bp.numRounds == 3)
    val model = est.fit(regTrainDf)
    assert(model.booster.trees.length == 3, "rounds must come from arbitraryParams")
  }

  test("new hyperparams end-to-end: colsample_bylevel/bynode, max_delta_step, " +
      "max_bin, grow_policy, max_leaves (reference exposes each XGBModel kwarg, utils.py:14-26)") {
    val rng = new scala.util.Random(41)
    val rows = Seq.fill(300)({
      val f = Array.fill(5)(rng.nextDouble() * 4)
      (Vectors.dense(f), f(0) * 2 + f(1) - f(2) * 0.5)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label")
    val model = new XgboostRegressor().setNEstimators(10)
      .setColsampleBylevel(0.6).setColsampleBynode(0.6)
      .setMaxDeltaStep(1.0).setMaxBin(16).setMaxLeaves(8)
      .fit(df)
    val preds = model.transform(df).select("prediction").collect().map(_.getDouble(0))
    assert(preds.forall(p => !p.isNaN && !p.isInfinite))
    model.booster.trees.foreach(t => assert(t.left.count(_ < 0) <= 8))
    val loss = new XgboostRegressor().setNEstimators(10)
      .setGrowPolicy("lossguide").setMaxLeaves(6).setMaxDepth(20).fit(df)
    loss.booster.trees.foreach(t => assert(t.left.count(_ < 0) <= 6))
    val lp = loss.transform(df).select("prediction").collect().map(_.getDouble(0))
    assert(lp.forall(p => !p.isNaN))
    // distributed lossguide grows best-first under the same cap
    val dist = new XgboostRegressor().setNEstimators(10).setNumWorkers(2)
      .setGrowPolicy("lossguide").setMaxLeaves(6).setMaxDepth(20).fit(df)
    dist.booster.trees.foreach(t => assert(t.left.count(_ < 0) <= 6))
  }

  test("arbitraryParams honors the newly implemented xgboost keys") {
    val est = new XgboostRegressor()
    est.set(est.arbitraryParams,
      """{"colsample_bylevel": 0.5, "colsample_bynode": 0.7, "max_delta_step": 0.9,
         |"max_bin": 32, "grow_policy": "lossguide", "max_leaves": 12}""".stripMargin)
    val bp = est.boosterParams("reg:squarederror", 0)
    assert(bp.colsampleBylevel == 0.5)
    assert(bp.colsampleBynode == 0.7)
    assert(bp.maxDeltaStep == 0.9)
    assert(bp.maxBin == 32)
    assert(bp.growPolicy == "lossguide")
    assert(bp.maxLeaves == 12)
  }

  test("arbitraryParams warns on recognized-but-unimplemented and unknown keys " +
      "instead of silently ignoring them") {
    val est = new XgboostRegressor()
    est.set(est.arbitraryParams,
      """{"num_parallel_tree": 4, "frobnicate": 1, "verbosity": 2, "booster": "gbtree"}""")
    val (_, warnings) = est.boosterParamsWithWarnings("reg:squarederror", 0)
    assert(warnings.exists(w => w.contains("num_parallel_tree") && w.contains("NOT implemented")),
      s"expected unimplemented-key warning, got $warnings")
    assert(warnings.exists(w => w.contains("frobnicate") && w.contains("unknown")),
      s"expected unknown-key warning, got $warnings")
    // model-invariant keys and booster=gbtree stay silent
    assert(!warnings.exists(_.contains("verbosity")))
    assert(!warnings.exists(_.contains("gbtree")))
  }

  test("an arbitraryParams num_class warns only when it differs from the trained class count") {
    val est = new XgboostClassifier()
    est.set(est.arbitraryParams, """{"num_class": 3}""")
    assert(est.numClassIgnored(3).isEmpty)
    assert(est.numClassIgnored(0).exists(_.contains("num_class=3 ignored")))
    assert(new XgboostClassifier().numClassIgnored(3).isEmpty)
  }

  test("GPU validation parity (reference _validate_params, xgboost_core.py:216-238): " +
      "useGpu + non-gpu_hist tree_method raises; useGpu without GPU resources raises") {
    val bad = new XgboostRegressor().setNEstimators(2).setUseGpu(true)
    bad.set(bad.arbitraryParams, """{"tree_method": "hist"}""")
    val e1 = intercept[IllegalArgumentException] { bad.fit(regTrainDf) }
    assert(e1.getMessage.contains("gpu_hist"))
    val noGpu = new XgboostRegressor().setNEstimators(2).setUseGpu(true).setTreeMethod("gpu_hist")
    val e2 = intercept[RuntimeException] { noGpu.fit(regTrainDf) }
    assert(e2.getMessage.contains("GPU"))
    val badName = new XgboostRegressor().setNEstimators(2).setTreeMethod("quantum")
    val e3 = intercept[IllegalArgumentException] { badName.fit(regTrainDf) }
    assert(e3.getMessage.contains("tree_method"))
    // CPU tree_method names are accepted and run the hist kernel
    val ok = new XgboostRegressor().setNEstimators(3).setTreeMethod("approx").fit(regTrainDf)
    assert(ok.booster.trees.length == 3)
  }

  test("monotone_constraints enforce prediction monotonicity on the constrained feature " +
      "(single-node and distributed)") {
    val rng = new scala.util.Random(71)
    // label mostly increases with f0 but with strong noise — unconstrained
    // trees WILL produce local decreases, so the constraint must do work
    val rows = Seq.fill(500)({
      val x = rng.nextDouble() * 10
      val noise = rng.nextGaussian() * 3
      (Vectors.dense(x, rng.nextDouble() * 5), x + noise)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label")
    def predsAlongF0(model: XgboostRegressorModel): Seq[Double] = {
      val grid = spark.createDataFrame((0 until 200).map(i =>
        Tuple1(Vectors.dense(i * 0.05, 2.5)))).toDF("features")
      model.transform(grid).select("prediction").collect().map(_.getDouble(0)).toSeq
    }
    def violations(p: Seq[Double]) =
      p.sliding(2).count { case Seq(a, b) => b < a - 1e-9 }
    val free = new XgboostRegressor().setNEstimators(30).setMaxDepth(4).fit(df)
    val mono = new XgboostRegressor().setNEstimators(30).setMaxDepth(4)
      .setMonotoneConstraints("(1,0)").fit(df)
    assert(violations(predsAlongF0(free)) > 0,
      "fixture too easy: unconstrained model should violate monotonicity somewhere")
    assert(violations(predsAlongF0(mono)) == 0,
      "constrained model must be non-decreasing along f0")
    // distributed path honors the same constraint
    val monoDist = new XgboostRegressor().setNEstimators(15).setMaxDepth(4)
      .setNumWorkers(2).setMonotoneConstraints("(1,0)").fit(df)
    assert(violations(predsAlongF0(monoDist)) == 0, "distributed path must enforce too")
    // arbitraryParams spelling reaches the booster as well
    val viaArbitrary = new XgboostRegressor().setNEstimators(10).setMaxDepth(4)
    viaArbitrary.set(viaArbitrary.arbitraryParams, """{"monotone_constraints": "(1,0)"}""")
    assert(violations(predsAlongF0(viaArbitrary.fit(df))) == 0)
  }

  test("interaction_constraints confine every tree path to one feature group " +
      "(single-node and distributed)") {
    val rng = new scala.util.Random(83)
    // label needs the CROSS-group product x0*x2 — an unconstrained model
    // will put f0 and f2 on one path; the constraint must forbid it
    val rows = Seq.fill(500)({
      val f = Array.fill(4)(rng.nextDouble() * 4)
      (Vectors.dense(f), f(0) * f(2) + rng.nextGaussian() * 0.1)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label")
    // groups: {0,1} and {2,3} — f0 may never share a path with f2/f3
    def pathsRespectGroups(model: XgboostRegressorModel): Boolean = {
      val groups = Seq(Set(0, 1), Set(2, 3))
      model.booster.trees.forall { t =>
        def walk(node: Int, path: Set[Int]): Boolean = {
          if (t.left(node) < 0) true
          else {
            val p2 = path + t.feature(node)
            groups.exists(g => p2.subsetOf(g)) &&
              walk(t.left(node), p2) && walk(t.right(node), p2)
          }
        }
        walk(0, Set.empty)
      }
    }
    val free = new XgboostRegressor().setNEstimators(10).setMaxDepth(4).fit(df)
    assert(!pathsRespectGroups(free),
      "fixture too easy: the unconstrained model should mix groups on a path")
    val constrained = new XgboostRegressor().setNEstimators(10).setMaxDepth(4)
      .setInteractionConstraints("[[0,1],[2,3]]").fit(df)
    assert(pathsRespectGroups(constrained), "constrained paths must stay within a group")
    val dist = new XgboostRegressor().setNEstimators(8).setMaxDepth(4).setNumWorkers(2)
      .setInteractionConstraints("[[0,1],[2,3]]").fit(df)
    assert(pathsRespectGroups(dist), "distributed path must enforce too")
    // arbitraryParams spelling works as well
    val viaArb = new XgboostRegressor().setNEstimators(5).setMaxDepth(4)
    viaArb.set(viaArb.arbitraryParams, """{"interaction_constraints": "[[0,1],[2,3]]"}""")
    assert(pathsRespectGroups(viaArb.fit(df)))
  }

  test("regressor objectives reg:logistic and count:poisson transform predictions " +
      "(sigmoid / exp) like xgboost's PredTransform") {
    val rng = new scala.util.Random(53)
    val rows = Seq.fill(300)({
      val x = rng.nextDouble() * 4
      (Vectors.dense(x, rng.nextDouble()), x / 4.0)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label")
    val logit = new XgboostRegressor().setNEstimators(20).setMaxDepth(3)
      .setObjective("reg:logistic").fit(df)
    val lp = logit.transform(df).select("prediction").collect().map(_.getDouble(0))
    assert(lp.forall(p => p > 0.0 && p < 1.0), "reg:logistic predicts in (0,1)")

    val countRows = Seq.fill(300)({
      val x = rng.nextDouble() * 4
      (Vectors.dense(x), math.max(0.0, math.round(2.0 + 3.0 * x + rng.nextGaussian()).toDouble))
    })
    val cdf = spark.createDataFrame(countRows).toDF("features", "label")
    val pois = new XgboostRegressor().setNEstimators(30).setMaxDepth(3)
      .setObjective("count:poisson").setBaseScore(5.0).fit(cdf)
    val pp = pois.transform(cdf).select("label", "prediction").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(pp.forall(_._2 > 0.0), "poisson predictions are positive")
    val corr = {
      val (ys, ps) = pp.unzip
      val my = ys.sum / ys.length; val mp = ps.sum / ps.length
      val cov = ys.zip(ps).map { case (y, p) => (y - my) * (p - mp) }.sum
      cov / math.sqrt(ys.map(y => (y - my) * (y - my)).sum * ps.map(p => (p - mp) * (p - mp)).sum)
    }
    assert(corr > 0.8, s"poisson predictions track counts, corr=$corr")
  }

  test("classifier rejects labels outside [0, numClass)") {
    val df = spark.createDataFrame(Seq(
      (Vectors.dense(1.0, 2.0), 0.0),
      (Vectors.dense(2.0, 3.0), 1.0),
      (Vectors.dense(3.0, 4.0), 5.0))).toDF("features", "label")
    val ex = intercept[IllegalArgumentException] {
      new XgboostClassifier().setNEstimators(3).fit(df)
    }
    assert(ex.getMessage.contains("labels must be integers"))
  }

  // 200 rows, labels 0/1, one of them null (and one NaN when `nan`)
  private def nullLabelDf(labelCol: String, nan: Boolean) = {
    val rng = new scala.util.Random(13)
    val rows = Seq.tabulate(200) { i =>
      val y: java.lang.Double =
        if (i == 17) null else if (nan && i == 101) Double.NaN else (i % 2).toDouble
      Row(Vectors.dense(rng.nextDouble(), rng.nextDouble()), y)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("features", SQLDataTypes.VectorType), StructField(labelCol, DoubleType))))
  }

  test("classifier rejects a null label on every training path") {
    val df = nullLabelDf("label", nan = false)
    Seq((1, false), (2, false), (2, true)).foreach { case (workers, barrier) =>
      val ex = intercept[IllegalArgumentException] {
        new XgboostClassifier().setNEstimators(3).setNumWorkers(workers)
          .setUseBarrierMode(barrier).fit(df)
      }
      assert(ex.getMessage.contains("labels must be integers"), s"$workers workers: ${ex.getMessage}")
    }
  }

  test("regressor rejects null and NaN labels on every training path, naming the label column") {
    val df = nullLabelDf("target", nan = true)
    Seq((1, false), (2, false), (2, true)).foreach { case (workers, barrier) =>
      val ex = intercept[IllegalArgumentException] {
        new XgboostRegressor().setLabelCol("target").setNEstimators(3).setNumWorkers(workers)
          .setUseBarrierMode(barrier).fit(df)
      }
      assert(ex.getMessage.contains("label column 'target' holds 2 null or NaN values"),
        s"$workers workers: ${ex.getMessage}")
    }
  }

  test("regressor rejects infinite labels on every training path, naming the label column") {
    Seq(Double.PositiveInfinity, Double.NegativeInfinity).foreach { inf =>
      val df = nullLabelDf("target", nan = false).na.fill(inf, Seq("target"))
      Seq((1, false), (2, false), (2, true)).foreach { case (workers, barrier) =>
        val ex = intercept[IllegalArgumentException] {
          new XgboostRegressor().setLabelCol("target").setNEstimators(3).setNumWorkers(workers)
            .setUseBarrierMode(barrier).fit(df)
        }
        assert(ex.getMessage.contains("label column 'target' holds infinite values"),
          s"$inf, $workers workers: ${ex.getMessage}")
      }
    }
  }

  test("xgb_model warm start continues boosting from the init booster " +
      "(reference local_test.py:502-517)") {
    val first = new XgboostRegressor().setNEstimators(5).fit(regTrainDf)
    val continued = new XgboostRegressor().setNEstimators(5)
      .setXgbModel(first.booster).fit(regTrainDf)
    assert(continued.booster.trees.length == 10, "5 init + 5 new rounds")
    // continued model's head trees ARE the init trees
    first.booster.trees.zip(continued.booster.trees.take(5)).foreach { case (a, b) =>
      assert(a.weight.sameElements(b.weight) && a.feature.sameElements(b.feature))
    }
    // and it fits tighter than either 5-round model alone
    val fromScratch10 = new XgboostRegressor().setNEstimators(10).fit(regTrainDf)
    val p5 = first.transform(regTrainDf).select("prediction").collect().map(_.getDouble(0))
    val p10 = continued.transform(regTrainDf).select("prediction").collect().map(_.getDouble(0))
    val pRef = fromScratch10.transform(regTrainDf).select("prediction").collect().map(_.getDouble(0))
    def err(p: Array[Double]) = math.abs(p(0) - 0.0) + math.abs(p(1) - 1.0)
    assert(err(p10) < err(p5), "continued training must improve the fit")
    assert(math.abs(err(p10) - err(pRef)) < 0.05, "warm-start ~ equivalent to 10 rounds")
  }

  test("feature importances concentrate on the informative feature") {
    val rng = new scala.util.Random(41)
    val rows = Seq.fill(300)({
      val f = Array.fill(4)(rng.nextDouble())
      (Vectors.dense(f), f(1) * 10) // only feature 1 matters
    })
    val df = spark.createDataFrame(rows).toDF("features", "label")
    val model = new XgboostRegressor().setNEstimators(10).fit(df)
    val gain = model.booster.featureImportances("gain")
    val weight = model.booster.featureImportances("weight")
    assert(math.abs(gain.sum - 1.0) < 1e-9 && math.abs(weight.sum - 1.0) < 1e-9)
    assert(gain(1) > 0.9, s"gain importance should concentrate on f1: ${gain.toSeq}")
    assert(weight(1) == weight.max, s"f1 should split most: ${weight.toSeq}")
    // xgboost's full get_score surface: averages vs totals, plus cover
    val totalGain = model.booster.featureImportances("total_gain")
    val cover = model.booster.featureImportances("cover")
    val totalCover = model.booster.featureImportances("total_cover")
    Seq(totalGain, cover, totalCover).foreach(a => assert(math.abs(a.sum - 1.0) < 1e-9))
    assert(totalGain(1) > 0.9, s"total_gain concentrates on f1: ${totalGain.toSeq}")
    assert(totalCover(1) == totalCover.max, "f1 splits see the most hessian mass")
    // avg-gain ("gain") and total-gain differ unless split counts are equal
    val perSplit = gain(1) / (if (totalGain(1) > 0) totalGain(1) else 1.0)
    assert(perSplit > 0, "avg-vs-total normalization applied")
  }

  test("array<float> features column is accepted (embeddings-style input)") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), 0.0),
      (Array(0.0f, 1.0f, 5.5f), 1.0)).toDF("features", "label")
    val model = new XgboostRegressor().setNEstimators(50).fit(df)
    val preds = model.transform(df).select("prediction").collect().map(_.getDouble(0))
    assert(math.abs(preds(0)) < 0.05 && math.abs(preds(1) - 1.0) < 0.05)
  }

  test("transform's schema == transformSchema, nullability included: regressor and " +
      "classifier (binary, K=3), with and without baseMarginCol, vector and array<float> features") {
    val k3 = spark.createDataFrame(Seq.tabulate(60)(i =>
      (Vectors.dense(i % 3 * 2.0, (i * 7) % 5 * 1.0, 1.0), (i % 3).toDouble, 0.1 * (i % 4))))
      .toDF("features", "label", "margin")
    val bin = k3.withColumn("label", (col("label") > 1).cast("double"))
    val arr = Seq((Array(1.0f, 2.0f, 3.0f), 0.0, 0.5), (Array(0.0f, 1.0f, 5.5f), 1.0, -0.5))
      .toDF("features", "label", "margin")
    val models: Seq[(String, Model[_] with XGBoostParams, DataFrame)] = Seq(
      ("regressor", new XgboostRegressor().setNEstimators(3).fit(k3), k3),
      ("binary", new XgboostClassifier().setNEstimators(3).fit(bin), bin),
      ("K=3", new XgboostClassifier().setNEstimators(3).fit(k3), k3),
      ("array regressor", new XgboostRegressor().setNEstimators(3).fit(arr), arr),
      ("array binary", new XgboostClassifier().setNEstimators(3).fit(arr), arr))
    models.foreach { case (name, m, df) =>
      Seq(false, true).foreach { margin =>
        m.set(m.baseMarginCol, if (margin) "margin" else "")
        val out = m.transform(df)
        assert(out.schema == m.transformSchema(df.schema), s"$name, baseMarginCol=$margin")
        assert(out.count() == df.count())
      }
    }
  }

  test("a null features or base margin value fails scoring with the column's name") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(Vectors.dense(1.0, 2.0, 3.0), 0.0, 1.0),
      Row(null, 1.0, 1.0),
      Row(Vectors.dense(4.0, 5.0, 6.0), 1.0, null)), 1),
      StructType(Seq(StructField("feats", SQLDataTypes.VectorType),
        StructField("label", DoubleType), StructField("bm", DoubleType))))
    val train = df.na.drop()
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val cls = new XgboostClassifier().setFeaturesCol("feats").setNEstimators(2).fit(train)
    val reg = new XgboostRegressor().setFeaturesCol("feats").setNEstimators(2).fit(train)
    Seq[Model[_] with XGBoostParams](cls, reg).foreach { m =>
      val e = intercept[Exception](m.transform(df.limit(2)).collect())
      assert(messages(e).contains("null in features column 'feats'"), messages(e))
      m.set(m.baseMarginCol, "bm")
      val e2 = intercept[Exception](m.transform(df.filter("feats is not null")).collect())
      assert(messages(e2).contains("null in base margin column 'bm'"), messages(e2))
    }
  }

  test("distributed (numWorkers=2) regressor agrees with single-node") {
    val rng = new scala.util.Random(3)
    val rows = Seq.fill(400)({
      val f = Array.fill(4)(rng.nextDouble() * 4)
      (Vectors.dense(f), f(0) * 2 + f(1) - f(2) * 0.5)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label")
    val single = new XgboostRegressor().setNEstimators(15).fit(df)
    val dist = new XgboostRegressor().setNEstimators(15).setNumWorkers(2).fit(df)
    val s = single.transform(df).select("prediction").collect().map(_.getDouble(0))
    val d = dist.transform(df).select("prediction").collect().map(_.getDouble(0))
    val rmseDiff = math.sqrt(s.zip(d).map { case (a, b) => (a - b) * (a - b) }.sum / s.length)
    val spread = s.max - s.min
    assert(rmseDiff < spread * 0.12, s"single vs dist rmse diff $rmseDiff spread $spread")
  }

  test("distributed multiclass agrees with single-node (gradients from " +
      "round-start margins, not mid-round-advanced ones)") {
    val rng = new scala.util.Random(29)
    def r4() = math.round(rng.nextDouble() * 4 * 1e4) / 1e4
    val rows = Seq.fill(300)({
      val f = Array.fill(3)(r4())
      val label = (if (f(0) > 2.6) 2 else if (f(1) > 2.0) 1 else 0).toDouble
      (Vectors.dense(f), label)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label")
    val single = new XgboostClassifier().setNEstimators(8).fit(df)
    val dist = new XgboostClassifier().setNEstimators(8).setNumWorkers(2).fit(df)
    val s = single.transform(df).select("prediction", "probability").collect()
      .map(r => (r.getDouble(0), r.getAs[Vector](1).toArray))
    val d = dist.transform(df).select("prediction", "probability").collect()
      .map(r => (r.getDouble(0), r.getAs[Vector](1).toArray))
    // the distributed path bins on quantile-sketch cuts, so individual
    // rows near a cut boundary may flip — the mid-round-gradient bug this
    // guards against degraded agreement BROADLY, which these bounds catch
    val agree = s.zip(d).count { case ((ps, _), (pd, _)) => ps == pd }.toDouble / s.length
    val meanDiff = s.zip(d).map { case ((_, x), (_, y)) =>
      x.zip(y).map { case (p, q) => math.abs(p - q) }.max
    }.sum / s.length
    assert(agree > 0.95, s"single vs dist prediction agreement $agree")
    assert(meanDiff < 0.02, s"single vs dist mean prob diff $meanDiff")
  }

  test("distributed binary classifier learns the replicated fixture (F6 shape)") {
    val model = new XgboostClassifier().setNEstimators(20).setNumWorkers(2).fit(clsTrainDf)
    val rows = model.transform(clsTrainDf.limit(4).distinct())
      .select("label", "prediction", "probability").collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(0), s"misclassified: $r")
      val prob = r.getAs[Vector](2)
      assert(math.max(prob(0), prob(1)) > 0.8, s"unsaturated: $prob")
    }
  }

  test("scale_pos_weight shifts probability toward the positive class " +
      "(reference F2-with-params golden direction, local_test.py:75-88)") {
    // identical features, 30% positive: the root leaf converges to the
    // WEIGHTED log-odds, so spw=4 moves P(pos) from .3 toward
    // 4·.3/(4·.3+.7) ≈ .63 — the same mechanism behind the reference's
    // [0.2757, 0.7243] golden
    val rows = (0 until 100).map(i => (Vectors.dense(1.0, 2.0), if (i < 30) 1.0 else 0.0))
    val df = spark.createDataFrame(rows).toDF("features", "label")
    def posProb(spw: Double): Double = {
      val est = new XgboostClassifier().setNEstimators(30)
      est.set(est.scalePosWeight, spw)
      est.fit(df).transform(df.limit(1))
        .select("probability").collect()(0).getAs[Vector](0)(1)
    }
    val p1 = posProb(1.0)
    val p4 = posProb(4.0)
    assert(math.abs(p1 - 0.3) < 0.05, s"unweighted P(pos) ~ 0.3, got $p1")
    assert(math.abs(p4 - 0.63) < 0.08, s"spw=4 P(pos) ~ 0.63, got $p4")
  }

  test("missing=0.0 trains and predicts finitely on the distributed path " +
      "(reference cluster_test.py:294-297)") {
    val df = spark.createDataFrame(Seq(
      (Vectors.dense(1.0, 0.0, 3.0), 0.0),
      (Vectors.sparse(3, Seq((1, 1.0), (2, 5.5))), 1.0),
      (Vectors.dense(4.0, 5.0, 0.0), 1.0),
      (Vectors.dense(0.0, 2.0, 1.0), 0.0))).toDF("features", "label")
    val big = df.union(df).union(df).union(df) // 16 rows over 2 workers
    val est = new XgboostRegressor().setNEstimators(10).setNumWorkers(2)
    est.set(est.missing, 0.0f)
    val preds = est.fit(big).transform(df).select("prediction")
      .collect().map(_.getDouble(0))
    assert(preds.forall(p => !p.isNaN && !p.isInfinite))
  }

  test("distributed training honors instance weights (matches single-node)") {
    val rng = new scala.util.Random(37)
    def r4() = math.round(rng.nextDouble() * 4 * 1e4) / 1e4
    val rows = Seq.fill(300)({
      val f = Array.fill(3)(r4())
      (Vectors.dense(f), f(0) + f(1), if (rng.nextBoolean()) 3.0 else 0.5)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label", "w")
    val single = new XgboostRegressor().setNEstimators(8).setWeightCol("w").fit(df)
    val dist = new XgboostRegressor().setNEstimators(8).setWeightCol("w")
      .setNumWorkers(2).fit(df)
    val s = single.transform(df).select("prediction").collect().map(_.getDouble(0))
    val d = dist.transform(df).select("prediction").collect().map(_.getDouble(0))
    val rmse = math.sqrt(s.zip(d).map { case (a, b) => (a - b) * (a - b) }.sum / s.length)
    assert(rmse < 0.05, s"weighted single vs dist rmse $rmse")
  }

  test("distributed path evaluates auc via the summed score histogram " +
      "(same binning as single-node)") {
    val rng = new scala.util.Random(61)
    val rows = Seq.fill(400)({
      val f = Array.fill(3)(rng.nextDouble() * 4)
      (Vectors.dense(f), if (f(0) > 2) 1.0 else 0.0, rng.nextDouble() < 0.25)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label", "isVal")
    def fit(workers: Int) = new XgboostClassifier().setNEstimators(10)
      .setNumWorkers(workers).setValidationIndicatorCol("isVal")
      .setEvalMetric("auc").setEarlyStoppingRounds(3).fit(df)
    val dist = fit(2)
    assert(dist.booster.bestScore.get > 0.9, s"separable data → auc≈1, got ${dist.booster.bestScore}")
    val single = fit(1)
    assert(math.abs(single.booster.bestScore.get - dist.booster.bestScore.get) < 0.05,
      s"single ${single.booster.bestScore} vs dist ${dist.booster.bestScore}")
  }

  test("distributed path with validation + early stopping records best_score") {
    val rng = new scala.util.Random(11)
    val rows = Seq.fill(300)({
      val f = Array.fill(3)(rng.nextDouble() * 2)
      (Vectors.dense(f), f(0) + f(1), rng.nextDouble() < 0.25)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label", "isVal")
    val model = new XgboostRegressor().setNumWorkers(2)
      .setValidationIndicatorCol("isVal").setEarlyStoppingRounds(3)
      .setNEstimators(60).fit(df)
    assert(model.booster.bestScore.exists(_ < 0.5))
  }

  test("a validation column that marks no row means no validation set on every training " +
    "path: all rounds run, no best_score or best_iteration (regressor and classifier)") {
    val rng = new scala.util.Random(13)
    val rows = Seq.fill(2000)({
      val f = Array.fill(3)(rng.nextDouble() * 2)
      (Vectors.dense(f), f(0) + f(1), if (f(0) > 1.0) 1.0 else 0.0, false)
    })
    val df = spark.createDataFrame(rows).toDF("features", "y", "cls", "isVal")
    Seq((1, false), (2, false), (2, true)).foreach { case (workers, barrier) =>
      Seq(new XgboostRegressor().setLabelCol("y"), new XgboostClassifier().setLabelCol("cls"))
        .foreach { est =>
        est.set(est.numWorkers, workers).set(est.useBarrierMode, barrier)
          .set(est.validationIndicatorCol, "isVal").set(est.earlyStoppingRounds, 2)
          .set(est.nEstimators, 10)
        val b = est match {
          case r: XgboostRegressor => r.fit(df).booster
          case c: XgboostClassifier => c.fit(df).booster
        }
        val what = s"${est.getClass.getSimpleName}, $workers workers, barrier $barrier"
        assert(b.trees.length == 10, s"$what: ${b.trees.length} trees")
        assert(b.bestScore.isEmpty && b.bestIteration.isEmpty,
          s"$what: bestScore ${b.bestScore}, bestIteration ${b.bestIteration}")
      }
    }
  }

  test("arbitraryParams objective overrides the explicit param (reference: " +
      "arbitrary keys reach xgboost last) and changes the trained model") {
    val df = spark.createDataFrame(Seq(
      (Vectors.dense(1.0, 2.0, 3.0), 2.0),
      (Vectors.dense(4.0, 5.0, 6.0), 7.0))).toDF("features", "label")
    val est = new XgboostRegressor().setNEstimators(20)
    est.set(est.arbitraryParams, """{"objective": "count:poisson"}""")
    val model = est.fit(df)
    assert(model.booster.objectiveName == "count:poisson",
      s"objective must come from arbitraryParams: ${model.booster.objectiveName}")
    // poisson PredTransform = exp(margin) → strictly positive predictions
    val preds = model.transform(df).select("prediction").collect().map(_.getDouble(0))
    assert(preds.forall(_ > 0.0), preds.mkString(","))
  }

  test("classifier rejects an arbitraryParams objective incompatible with " +
      "the label-derived family") {
    val est = new XgboostClassifier().setNEstimators(2)
    est.set(est.arbitraryParams, """{"objective": "multi:softprob"}""")
    val e = intercept[IllegalArgumentException] { est.fit(clsTrainDf) }
    assert(e.getMessage.contains("incompatible"), e.getMessage)
  }

  test("regressor with binary:logistic outputs sigmoid probabilities, " +
      "matching xgboost's PredTransform") {
    // replicated: logistic hessians are p(1-p) <= 0.25/row, so a 2-row
    // fixture can never pass min_child_weight=1 and the model stays at 0.5
    val df = spark.createDataFrame(Seq.fill(50)(Seq(
      (Vectors.dense(1.0, 2.0, 3.0), 0.0),
      (Vectors.dense(4.0, 5.0, 6.0), 1.0))).flatten).toDF("features", "label")
    val preds = new XgboostRegressor().setObjective("binary:logistic")
      .setNEstimators(20).fit(df)
      .transform(df).select("prediction").collect().map(_.getDouble(0))
    assert(preds.forall(p => p > 0.0 && p < 1.0),
      s"binary:logistic regressor must emit probabilities: ${preds.mkString(",")}")
    assert(preds(0) < 0.5 && preds(1) > 0.5, preds.mkString(","))
  }
}

package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util._
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared fit plumbing: column projection, the single-node train kernel,
  * and the distributed dispatch — the Scala
  * re-expression of the reference's `_fit` (reference
  * `sparkdl/xgboost/xgboost_core.py:435-518`, SURVEY §3.1–§3.2).
  */
private[ml] object FitSupport extends org.apache.spark.internal.Logging {

  /** The reference's capacity checks (_validate_params warning on
    * spark.task.cpus, xgboost_core.py:187-238, and the num_workers >
    * maxNumConcurrentTasks warning at :365-372): gang-scheduled or
    * histogram-synchronized training stalls when the cluster cannot run
    * all workers concurrently. */
  def warnOnCapacity(est: XGBoostParams, dataset: Dataset[_]): Unit = {
    val sc = dataset.sparkSession.sparkContext
    val taskCpus = sc.getConf.getInt("spark.task.cpus", 1)
    if (taskCpus > 1)
      logWarning(s"spark.task.cpus=$taskCpus > 1: each training task pins " +
        s"$taskCpus cores; the trainer itself is single-threaded per partition")
    val n = est.getOrDefault(est.numWorkers)
    val slots = math.max(sc.defaultParallelism / taskCpus, 1)
    if (n > slots)
      logWarning(s"numWorkers=$n exceeds the ~$slots concurrently-runnable " +
        "tasks; distributed training needs all workers active at once and " +
        "will wait for resources (reference warns identically)")
  }

  /** Normalizes the training features column to VectorUDT (accepts
    * array<numeric> via array_to_vector; the reference uses
    * vector_to_array for the inverse trip). Scoring reads both forms
    * directly ([[Scorer]]). */
  def featuresAsVector(df: Dataset[_], colName: String): org.apache.spark.sql.Column = {
    df.schema(colName).dataType match {
      case dt if dt == org.apache.spark.ml.linalg.SQLDataTypes.VectorType => col(colName)
      case ArrayType(_, _) => array_to_vector(col(colName))
      case dt => throw new IllegalArgumentException(s"bad features type $dt")
    }
  }

  /** Projects [features, label, [weight], [isVal], [margin]] — the fixed
    * by-position layout TrainMatrix.fromRows expects (reference selects the
    * same role columns at xgboost_core.py:439-467). */
  def projectTrain(est: XGBoostParams, df: Dataset[_]): (DataFrame, Boolean, Boolean, Boolean) = {
    val hasW = est.hasNonEmpty(est.weightCol)
    val hasV = est.hasNonEmpty(est.validationIndicatorCol)
    val hasM = est.hasNonEmpty(est.baseMarginCol)
    val cols = Seq(
      featuresAsVector(df, est.getOrDefault(est.featuresCol)).as("features"),
      col(est.getOrDefault(est.labelCol)).cast(DoubleType).as("label")) ++
      (if (hasW) Seq(col(est.getOrDefault(est.weightCol)).cast(DoubleType).as("weight")) else Nil) ++
      (if (hasV) Seq(col(est.getOrDefault(est.validationIndicatorCol)).cast(BooleanType).as("validationIndicator")) else Nil) ++
      (if (hasM) Seq(col(est.getOrDefault(est.baseMarginCol)).cast(DoubleType).as("baseMargin")) else Nil)
    (df.select(cols: _*), hasW, hasV, hasM)
  }

  /** Single-node path: one full shuffle to one partition, train inside the
    * task, collect the model — `repartition(1).mapInPandas` + collect in
    * the reference (xgboost_core.py:512-517). The task checks the labels
    * as it builds its matrices and resolves the objective from them
    * ([[ObjectiveRule]]), so a classifier fit runs no job of its own for
    * its labels; bad labels come back as the message the driver throws.
    * With external storage on, the partition spills to a local libsvm
    * file and the matrix is rebuilt from disk (C5, reference
    * data.py:51-92; note the reference's spill path drops base margins,
    * and so does ours). */
  def trainSingleNode(projected: DataFrame, hasW: Boolean, hasV: Boolean,
      hasM: Boolean, bp: BoosterParams, rule: ObjectiveRule, useExt: Boolean, esp: Int,
      initTrees: Array[Tree]): BoosterModel = {
    val out = projected.repartition(1).rdd
      .mapPartitions(new SingleNodeTask(hasW, hasV, hasM, bp, rule, useExt, esp, initTrees))
      .collect()
    require(out.nonEmpty, "training produced no model (empty input?)")
    ObjectiveRule.orThrow(out(0))
  }

  /** The single-node training task. A named class rather than a closure,
    * so `SparkContext.clean` skips it. */
  private final class SingleNodeTask(hasW: Boolean, hasV: Boolean, hasM: Boolean,
      bp: BoosterParams, rule: ObjectiveRule, useExt: Boolean, esp: Int, initTrees: Array[Tree])
      extends (Iterator[Row] => Iterator[Either[String, BoosterModel]]) with Serializable {
    def apply(rows: Iterator[Row]): Iterator[Either[String, BoosterModel]] = {
      val labels = new LabelStats(rule.countsClasses)
      val (train, eval) =
        if (useExt) ExternalStorage.buildMatrices(labels.observe(rows), hasW, hasV, hasM, esp)
        else TrainMatrix.fromRows(labels.observe(rows), hasW, hasV, hasM)
      Iterator(rule.params(bp, labels).map(Trainer.train(train, eval, _, initTrees)))
    }
  }

  /** The reference's GPU validation (_validate_params,
    * xgboost_core.py:216-238): useGpu requires tree_method gpu_hist-or-
    * unset AND a cluster-side GPU task resource; both failure modes raise
    * with the reference's shape. */
  def validateGpuSetup(est: XGBoostParams, dataset: Dataset[_]): Unit = {
    val tm = est.resolvedTreeMethod // also validates allowed values
    if (est.getOrDefault(est.useGpu)) {
      tm.foreach { t =>
        if (t != "gpu_hist")
          throw new IllegalArgumentException(
            s"tree_method should be 'gpu_hist' or unset when useGpu is true, found $t.")
      }
      val gpuPerTask = dataset.sparkSession.sparkContext.getConf
        .getOption("spark.task.resource.gpu.amount")
      if (gpuPerTask.forall(_.toDouble < 1))
        throw new RuntimeException(
          "The spark cluster does not have the necessary GPU configuration " +
          "(spark.task.resource.gpu.amount) for the spark task; cannot run " +
          "xgboost training using GPU.")
    } else if (tm.contains("gpu_hist")) {
      logWarning("tree_method=gpu_hist requested without useGpu; running the CPU hist algorithm")
    }
  }

  def fit(est: XGBoostParams, dataset: Dataset[_], isClassifier: Boolean): BoosterModel = {
    warnOnCapacity(est, dataset)
    validateGpuSetup(est, dataset)
    val (projected, hasW, hasV, hasM) = projectTrain(est, dataset)
    val declared = if (est.hasNonEmpty(est.objective)) Some(est.getOrDefault(est.objective)) else None
    val numClass = est.getOrDefault(est.numClass)
    // warm start (reference xgb_model): continue boosting from the init
    // booster's trees; nEstimators counts the ADDITIONAL rounds
    val init =
      if (est.hasNonEmpty(est.xgbModel)) Some(ModelJson.fromJson(est.getOrDefault(est.xgbModel)))
      else None
    val rule = ObjectiveRule(isClassifier, est.getOrDefault(est.labelCol), declared, numClass,
      est.objectiveFromArbitrary, init.map(m => (m.objectiveName, m.numGroups)))
    rule.checkUnlabeled()
    // objective and numClass are the rule's, resolved from the labels
    val bp = est.boosterParams(declared.getOrElse("reg:squarederror"), numClass)
    val initTrees = init.fold(Array.empty[Tree])(_.trees)
    val n = est.getOrDefault(est.numWorkers)
    val useExt = est.getOrDefault(est.useExternalStorage)
    val esp = est.getOrDefault(est.externalStoragePrecision)
    val model =
      if (n <= 1) trainSingleNode(projected, hasW, hasV, hasM, bp, rule, useExt, esp, initTrees)
      else if (est.getOrDefault(est.useBarrierMode))
        BarrierTrainer.train(projected, hasW, hasV, hasM, bp, rule, n,
          est.getOrDefault(est.forceRepartition), useExt, esp, initTrees)
      else DistTrainer.train(projected, hasW, hasV, hasM, bp, rule, n,
        est.getOrDefault(est.forceRepartition), useExt, esp, initTrees)
    est.numClassIgnored(model.numClass).foreach(logWarning(_))
    model
  }
}

/** How a fit's objective and class count follow from its labels: what the
  * driver knows before it reads a label (the declared objective, numClass,
  * the arbitraryParams objective, the warm-start booster's objective and
  * group count), applied to the [[LabelStats]] of the pass that reads
  * them. A classifier infers its objective with the reference's
  * countDistinct heuristic (xgboost_core.py:328-337) and checks that its
  * labels are integers in [0, numClass): without that, labels like
  * {0,1,5} silently train wrong gradients (softprob indexes the margin
  * array by label) or crash metric evaluation. Null and NaN labels fail
  * that check; a regressor rejects them, and infinite labels, by name, as
  * xgboost does. */
private[ml] final case class ObjectiveRule(
    classifier: Boolean,
    labelCol: String,
    declared: Option[String],
    numClass: Int,
    arbitrary: Option[String],
    warmStart: Option[(String, Int)]) {

  /** Whether the labels' distinct count is read: only a classifier that
    * infers its objective reads it. */
  def countsClasses: Boolean =
    classifier && !declared.exists(o => o.startsWith("binary") || o.startsWith("multi"))

  /** The checks that read no label, run on the driver before any job: a
    * regressor's objective and class count are known there. A
    * classifier's follow its label checks, in the label aggregate's order
    * that this rule replaced. */
  def checkUnlabeled(): Unit =
    if (!classifier) settle(declared.getOrElse("reg:squarederror"), numClass)

  /** `bp` with the objective and numClass resolved from `labels`, or the
    * message of the fit's rejection. */
  def params(bp: BoosterParams, labels: LabelStats): Either[String, BoosterParams] =
    try {
      val (objective, k) = decide(labels)
      Right(bp.copy(objective = objective, numClass = k))
    } catch { case e: IllegalArgumentException => Left(e.getMessage) }

  private def decide(s: LabelStats): (String, Int) =
    if (classifier) {
      val (inferred, k) = fromLabels(s)
      settle(inferred, k)
    } else {
      val resolved = settle(declared.getOrElse("reg:squarederror"), numClass)
      require(s.nan == 0, s"label column '$labelCol' holds ${s.nan} null or NaN values")
      require(s.lo != Double.NegativeInfinity && s.hi != Double.PositiveInfinity,
        s"label column '$labelCol' holds infinite values")
      resolved
    }

  /** The objective and class count that the arbitraryParams objective and
    * the warm-start booster leave of the `inferred` ones, or a rejection. */
  private def settle(inferred: String, k: Int): (String, Int) = {
    // arbitraryParams objective overrides (reference: arbitrary keys reach
    // xgboost last); for a classifier it must agree with the label-derived
    // family — silently training a different objective is the no-op trap
    val obj = arbitrary match {
      case Some(j) if classifier =>
        require(Objective.fromName(j).numGroups(k) == Objective.fromName(inferred).numGroups(k),
          s"arbitraryParams objective '$j' is incompatible with the " +
            s"label-derived objective '$inferred' (numClass=$k)")
        j
      case Some(j) => Objective.fromName(j).name // validates the name
      case None => inferred
    }
    warmStart.foreach { case (initObj, initGroups) =>
      require(Objective.fromName(initObj).name == Objective.fromName(obj).name,
        s"xgbModel objective $initObj != $obj")
      require(initGroups == Objective.fromName(obj).numGroups(k),
        s"xgbModel group count $initGroups incompatible with numClass $k")
    }
    (obj, k)
  }

  private def fromLabels(s: LabelStats): (String, Int) = {
    // a NaN label makes the range's top and the fraction NaN, as in Spark's max
    val lo = if (s.nan == s.rows && s.rows > 0) Double.NaN else s.lo
    val hi = if (s.nan > 0) Double.NaN else s.hi
    val frac = if (s.nan > 0) Double.NaN else s.frac
    def validate(k: Int, note: String = ""): Unit =
      require(frac == 0.0 && lo >= 0.0 && hi <= k - 1,
        s"classifier labels must be integers in [0, $k); got range [$lo, $hi]" +
          (if (frac != 0.0) " with non-integer values" else "") + note)
    declared match {
      case Some(o) if o.startsWith("binary") =>
        validate(2); (o, 0)
      case Some(o) if o.startsWith("multi") =>
        require(numClass >= 2, s"numClass must be set >= 2 for $o")
        validate(numClass); (o, numClass)
      case _ =>
        val nDistinct = s.numDistinct
        if (nDistinct <= 2) { validate(2); ("binary:logistic", 0) }
        else {
          // past the cap of LabelStats, the class count is a lower bound
          validate(nDistinct, if (s.capped) s"; more than $nDistinct distinct labels" else "")
          ("multi:softprob", nDistinct)
        }
    }
  }
}

private[ml] object ObjectiveRule {
  /** Throws a rejection on the driver, as the fit's own exception. */
  def orThrow[T](resolved: Either[String, T]): T =
    resolved.fold(msg => throw new IllegalArgumentException(msg), identity)
}

// =========================================================================
// Regressor (reference sparkdl/xgboost/xgboost.py:7-92, xgboost_core.py:573-631)
// =========================================================================

class XgboostRegressor(override val uid: String)
    extends Estimator[XgboostRegressorModel]
    with XGBoostParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("XgboostRegressor"))

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setWeightCol(v: String): this.type = set(weightCol, v)
  def setValidationIndicatorCol(v: String): this.type = set(validationIndicatorCol, v)
  def setBaseMarginCol(v: String): this.type = set(baseMarginCol, v)
  def setNumWorkers(v: Int): this.type = set(numWorkers, v)
  def setXgbModel(v: String): this.type = set(xgbModel, v)
  def setXgbModel(m: BoosterModel): this.type = set(xgbModel, ModelJson.toJson(m))
  def setUseGpu(v: Boolean): this.type = set(useGpu, v)
  def setForceRepartition(v: Boolean): this.type = set(forceRepartition, v)
  def setUseBarrierMode(v: Boolean): this.type = set(useBarrierMode, v)
  def setUseExternalStorage(v: Boolean): this.type = set(useExternalStorage, v)
  def setExternalStoragePrecision(v: Int): this.type = set(externalStoragePrecision, v)
  def setNEstimators(v: Int): this.type = set(nEstimators, v)
  def setEta(v: Double): this.type = set(eta, v)
  def setMaxDepth(v: Int): this.type = set(maxDepth, v)
  def setObjective(v: String): this.type = set(objective, v)
  def setMissing(v: Float): this.type = set(missing, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setEarlyStoppingRounds(v: Int): this.type = set(earlyStoppingRounds, v)
  def setEvalMetric(v: String): this.type = set(evalMetric, v)
  def setTreeLimit(v: Int): this.type = set(treeLimit, v)
  def setSubsample(v: Double): this.type = set(subsample, v)
  def setColsampleBytree(v: Double): this.type = set(colsampleBytree, v)
  def setColsampleBylevel(v: Double): this.type = set(colsampleBylevel, v)
  def setColsampleBynode(v: Double): this.type = set(colsampleBynode, v)
  def setMaxDeltaStep(v: Double): this.type = set(maxDeltaStep, v)
  def setMaxBin(v: Int): this.type = set(maxBin, v)
  def setGrowPolicy(v: String): this.type = set(growPolicy, v)
  def setMaxLeaves(v: Int): this.type = set(maxLeaves, v)
  def setTreeMethod(v: String): this.type = set(treeMethod, v)
  def setArbitraryParams(v: String): this.type = set(arbitraryParams, v)
  def setBaseScore(v: Double): this.type = set(baseScore, v)
  def setMonotoneConstraints(v: String): this.type = set(monotoneConstraints, v)
  def setInteractionConstraints(v: String): this.type = set(interactionConstraints, v)

  override def fit(dataset: Dataset[_]): XgboostRegressorModel = {
    transformSchema(dataset.schema)
    val booster = FitSupport.fit(this, dataset, isClassifier = false)
    copyValues(new XgboostRegressorModel(uid, booster)).setParent(this)
  }

  override def copy(extra: ParamMap): XgboostRegressor = defaultCopy(extra)

  override def transformSchema(schema: StructType): StructType = {
    validateFeaturesType(schema)
    schema.add(StructField($(predictionCol), DoubleType, nullable = false))
  }
}

object XgboostRegressor extends DefaultParamsReadable[XgboostRegressor]

class XgboostRegressorModel(override val uid: String, val booster: BoosterModel)
    extends Model[XgboostRegressorModel] with XGBoostParams with MLWritable {

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setBaseMarginCol(v: String): this.type = set(baseMarginCol, v)
  def setTreeLimit(v: Int): this.type = set(treeLimit, v)

  /** Batch inference: one codegen'd [[ScoreExpression]] per row over a
    * broadcast model, pipelined with the scan: no shuffle, no action
    * (reference §3.3; mapInPandas there, in-JVM here). The margin-space
    * result maps to prediction space per objective (identity for squared
    * error, sigmoid for reg:logistic, exp for count:poisson) AFTER a set
    * and present baseMarginCol is added: xgboost's PredTransform order,
    * and the reference's predict-time base margin (xgboost_core.py
    * predict_udf base-margin variant). A null features or base margin
    * value fails the task, naming its column. */
  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    dataset.withColumn($(predictionCol), Scorer.column(this, booster, classifier = false, dataset))
  }

  override def copy(extra: ParamMap): XgboostRegressorModel =
    copyValues(new XgboostRegressorModel(uid, booster), extra).setParent(parent)

  override def transformSchema(schema: StructType): StructType = {
    validateFeaturesType(schema)
    schema.add(StructField($(predictionCol), DoubleType, nullable = false))
  }

  override def write: MLWriter = new GraftMLIO.Writer(this, booster)
}

object XgboostRegressorModel extends MLReadable[XgboostRegressorModel] {
  override def read: MLReader[XgboostRegressorModel] = new GraftMLIO.Reader(
    classOf[XgboostRegressorModel].getName, new XgboostRegressorModel(_, _))
}

// =========================================================================
// Classifier (reference sparkdl/xgboost/xgboost.py:98-189, xgboost_core.py:634-756)
// =========================================================================

class XgboostClassifier(override val uid: String)
    extends Estimator[XgboostClassifierModel]
    with XGBoostClassifierParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("XgboostClassifier"))

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setRawPredictionCol(v: String): this.type = set(rawPredictionCol, v)
  def setProbabilityCol(v: String): this.type = set(probabilityCol, v)
  def setWeightCol(v: String): this.type = set(weightCol, v)
  def setValidationIndicatorCol(v: String): this.type = set(validationIndicatorCol, v)
  def setBaseMarginCol(v: String): this.type = set(baseMarginCol, v)
  def setNumWorkers(v: Int): this.type = set(numWorkers, v)
  def setXgbModel(v: String): this.type = set(xgbModel, v)
  def setXgbModel(m: BoosterModel): this.type = set(xgbModel, ModelJson.toJson(m))
  def setUseGpu(v: Boolean): this.type = set(useGpu, v)
  def setForceRepartition(v: Boolean): this.type = set(forceRepartition, v)
  def setUseBarrierMode(v: Boolean): this.type = set(useBarrierMode, v)
  def setUseExternalStorage(v: Boolean): this.type = set(useExternalStorage, v)
  def setExternalStoragePrecision(v: Int): this.type = set(externalStoragePrecision, v)
  def setNEstimators(v: Int): this.type = set(nEstimators, v)
  def setEta(v: Double): this.type = set(eta, v)
  def setMaxDepth(v: Int): this.type = set(maxDepth, v)
  def setObjective(v: String): this.type = set(objective, v)
  def setNumClass(v: Int): this.type = set(numClass, v)
  def setScalePosWeight(v: Double): this.type = set(scalePosWeight, v)
  def setMissing(v: Float): this.type = set(missing, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setEarlyStoppingRounds(v: Int): this.type = set(earlyStoppingRounds, v)
  def setEvalMetric(v: String): this.type = set(evalMetric, v)
  def setTreeLimit(v: Int): this.type = set(treeLimit, v)
  def setSubsample(v: Double): this.type = set(subsample, v)
  def setColsampleBytree(v: Double): this.type = set(colsampleBytree, v)
  def setColsampleBylevel(v: Double): this.type = set(colsampleBylevel, v)
  def setColsampleBynode(v: Double): this.type = set(colsampleBynode, v)
  def setMaxDeltaStep(v: Double): this.type = set(maxDeltaStep, v)
  def setMaxBin(v: Int): this.type = set(maxBin, v)
  def setGrowPolicy(v: String): this.type = set(growPolicy, v)
  def setMaxLeaves(v: Int): this.type = set(maxLeaves, v)
  def setTreeMethod(v: String): this.type = set(treeMethod, v)
  def setArbitraryParams(v: String): this.type = set(arbitraryParams, v)
  def setBaseScore(v: Double): this.type = set(baseScore, v)
  def setMonotoneConstraints(v: String): this.type = set(monotoneConstraints, v)
  def setInteractionConstraints(v: String): this.type = set(interactionConstraints, v)

  override def fit(dataset: Dataset[_]): XgboostClassifierModel = {
    transformSchema(dataset.schema)
    val booster = FitSupport.fit(this, dataset, isClassifier = true)
    copyValues(new XgboostClassifierModel(uid, booster)).setParent(this)
  }

  override def copy(extra: ParamMap): XgboostClassifier = defaultCopy(extra)

  override def transformSchema(schema: StructType): StructType = {
    validateFeaturesType(schema)
    schema.add(StructField($(predictionCol), DoubleType, nullable = false))
  }
}

object XgboostClassifier extends DefaultParamsReadable[XgboostClassifier]

class XgboostClassifierModel(override val uid: String, val booster: BoosterModel)
    extends Model[XgboostClassifierModel] with XGBoostClassifierParams with MLWritable {

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setRawPredictionCol(v: String): this.type = set(rawPredictionCol, v)
  def setProbabilityCol(v: String): this.type = set(probabilityCol, v)
  def setBaseMarginCol(v: String): this.type = set(baseMarginCol, v)
  def setTreeLimit(v: Int): this.type = set(treeLimit, v)

  /** Scoring math replicated from the reference (xgboost_core.py:661-685):
    * the model predicts MARGINS; binary: raw=[-m,m], probs=[1-σ(m),σ(m)];
    * multiclass: raw=margins, probs=softmax; prediction=argmax(probs).
    * A set baseMarginCol shifts every class margin BEFORE the
    * sigmoid/softmax, mirroring training's margin initialization.
    * One codegen'd [[ScoreExpression]] computes the non-null
    * struct<raw, prediction, probability> once per row; its fields become
    * the output columns and the struct is dropped: the reference's
    * S10+S11+S12 plan shape (xgboost_core.py:723-756). A null features or
    * base margin value fails the task, naming its column. */
  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    val tmp = s"_graft_pred_${uid.takeRight(8)}"
    var out = dataset.withColumn(tmp, Scorer.column(this, booster, classifier = true, dataset))
    if (hasNonEmpty(rawPredictionCol)) out = out.withColumn($(rawPredictionCol), col(s"$tmp.raw"))
    if (hasNonEmpty(predictionCol)) out = out.withColumn($(predictionCol), col(s"$tmp.prediction"))
    if (hasNonEmpty(probabilityCol)) out = out.withColumn($(probabilityCol), col(s"$tmp.probability"))
    out.drop(tmp)
  }

  def numClasses: Int = math.max(booster.numGroups, 2)

  override def copy(extra: ParamMap): XgboostClassifierModel =
    copyValues(new XgboostClassifierModel(uid, booster), extra).setParent(parent)

  override def transformSchema(schema: StructType): StructType = {
    validateFeaturesType(schema)
    var out = schema
    if (hasNonEmpty(rawPredictionCol)) out = out.add($(rawPredictionCol), org.apache.spark.ml.linalg.SQLDataTypes.VectorType, false)
    if (hasNonEmpty(predictionCol)) out = out.add($(predictionCol), DoubleType, false)
    if (hasNonEmpty(probabilityCol)) out = out.add($(probabilityCol), org.apache.spark.ml.linalg.SQLDataTypes.VectorType, false)
    out
  }

  override def write: MLWriter = new GraftMLIO.Writer(this, booster)
}

object XgboostClassifierModel extends MLReadable[XgboostClassifierModel] {
  override def read: MLReader[XgboostClassifierModel] = new GraftMLIO.Reader(
    classOf[XgboostClassifierModel].getName, new XgboostClassifierModel(_, _))
}

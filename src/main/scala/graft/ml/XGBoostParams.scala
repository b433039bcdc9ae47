package graft.ml

import org.apache.spark.ml.param._
import org.apache.spark.sql.types._

/** Explicit Spark `Param` surface mirroring the reference's dynamically
  * generated params (reference `sparkdl/xgboost/xgboost_core.py:759-808`,
  * `utils.py:14-26`). Scala has no runtime signature introspection, so the
  * xgboost 1.6 keyword surface is frozen statically (SURVEY §1.4); unknown
  * extras travel in [[arbitraryParams]] as a JSON object, the analogue of
  * `arbitraryParamsDict` (reference `utils.py:29-45`).
  */
object XGBoostParams {
  /** xgboost kwargs that cannot change the trained model (logging,
    * threading, predictor selection, schema validation toggles) —
    * accepted silently, like the reference passing them through. */
  val ModelInvariantKeys: Set[String] = Set(
    "verbosity", "silent", "n_jobs", "nthread", "validate_parameters",
    "use_label_encoder", "enable_categorical", "predictor", "importance_type",
    "num_workers", "use_gpu", "force_repartition", "use_external_storage")

  /** Recognized xgboost 1.6 XGBModel kwargs this build does NOT implement;
    * setting one logs a the-model-may-differ warning instead of the
    * reference's silent pass-through to native xgboost. */
  val KnownUnimplementedKeys: Set[String] = Set(
    "booster", "sampling_method", "num_parallel_tree",
    "max_cat_to_onehot", "gpu_id", "callbacks")

  /** "[[0,1],[2,3]]" → Array(Array(0,1), Array(2,3)); empty → null. */
  def parseInteractions(s: String): Array[Array[Int]] = {
    val t = s.trim
    if (t.isEmpty || t == "[]") return null
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(t) match {
      case JArray(groups) =>
        val out = groups.map {
          case JArray(fs) => fs.map {
            case JInt(i) => i.toInt
            case other => throw new IllegalArgumentException(s"feature index expected, got $other")
          }.toArray
          case other => throw new IllegalArgumentException(s"feature group expected, got $other")
        }.toArray
        if (out.isEmpty) null else out
      case other => throw new IllegalArgumentException(s"interaction_constraints must be a list of lists, got $other")
    }
  }

  /** "(1,0,-1)" / "[1,0,-1]" / "1,0,-1" → Array(1, 0, -1). */
  def parseMonotone(s: String): Array[Int] = {
    val body = s.trim.stripPrefix("(").stripSuffix(")").stripPrefix("[").stripSuffix("]")
    if (body.isEmpty) null
    else {
      val out = body.split(",").map { t =>
        val v = t.trim.toInt
        require(v >= -1 && v <= 1, s"monotone constraint must be -1|0|1, got $v")
        v
      }
      if (out.forall(_ == 0)) null else out
    }
  }

  val ValidTreeMethods: Set[String] = Set("auto", "exact", "approx", "hist", "gpu_hist")
}

trait XGBoostParams extends Params with org.apache.spark.internal.Logging {
  import XGBoostParams.{ModelInvariantKeys, KnownUnimplementedKeys, ValidTreeMethods}

  // ---- column params (reference xgboost_core.py:439-467) ----
  final val featuresCol = new Param[String](this, "featuresCol", "features column (VectorUDT)")
  final val labelCol = new Param[String](this, "labelCol", "label column")
  final val predictionCol = new Param[String](this, "predictionCol", "prediction output column")
  final val weightCol = new Param[String](this, "weightCol", "instance weight column")
  final val validationIndicatorCol = new Param[String](this, "validationIndicatorCol",
    "boolean column marking validation rows")
  final val baseMarginCol = new Param[String](this, "baseMarginCol", "per-row base margin column")

  // ---- library params (reference xgboost_core.py:62-89, defaults :136-141) ----
  final val numWorkers = new IntParam(this, "numWorkers",
    "number of gang-scheduled training workers", ParamValidators.gtEq(1))
  final val useGpu = new BooleanParam(this, "useGpu",
    "request GPU training; validated like the reference (tree_method must " +
    "be gpu_hist-or-unset and the cluster must expose a GPU task resource)")
  final val forceRepartition = new BooleanParam(this, "forceRepartition",
    "repartition even when the plan already matches numWorkers")
  final val useExternalStorage = new BooleanParam(this, "useExternalStorage",
    "spill partition matrices to local disk during training")
  final val useBarrierMode = new BooleanParam(this, "useBarrierMode",
    "distributed training runs as gang-scheduled barrier tasks with an " +
    "allGather-based histogram allreduce (the reference's Rabit shape, " +
    "xgboost_core.py:379-430) instead of driver-coordinated per-level histogram jobs")
  final val externalStoragePrecision = new IntParam(this, "externalStoragePrecision",
    "significant digits for spilled values", ParamValidators.gt(0))

  // ---- xgboost hyper-parameters (statically frozen, xgboost 1.6 defaults) ----
  final val nEstimators = new IntParam(this, "nEstimators", "boosting rounds", ParamValidators.gtEq(1))
  final val eta = new DoubleParam(this, "eta", "learning rate", ParamValidators.gtEq(0))
  final val maxDepth = new IntParam(this, "maxDepth", "max tree depth", ParamValidators.gtEq(0))
  final val lambda = new DoubleParam(this, "lambda", "L2 regularization", ParamValidators.gtEq(0))
  final val alpha = new DoubleParam(this, "alpha", "L1 regularization", ParamValidators.gtEq(0))
  final val gamma = new DoubleParam(this, "gamma", "min split loss", ParamValidators.gtEq(0))
  final val minChildWeight = new DoubleParam(this, "minChildWeight",
    "min child hessian sum", ParamValidators.gtEq(0))
  final val subsample = new DoubleParam(this, "subsample", "row subsample ratio",
    ParamValidators.inRange(0, 1, false, true))
  final val colsampleBytree = new DoubleParam(this, "colsampleBytree",
    "per-tree feature subsample ratio", ParamValidators.inRange(0, 1, false, true))
  final val colsampleBylevel = new DoubleParam(this, "colsampleBylevel",
    "per-depth-level feature subsample ratio (drawn from the tree's set)",
    ParamValidators.inRange(0, 1, false, true))
  final val colsampleBynode = new DoubleParam(this, "colsampleBynode",
    "per-node feature subsample ratio (drawn from the level's set)",
    ParamValidators.inRange(0, 1, false, true))
  final val maxDeltaStep = new DoubleParam(this, "maxDeltaStep",
    "cap on each leaf's weight estimate (0 = no cap); stabilizes " +
    "binary:logistic on extremely imbalanced data", ParamValidators.gtEq(0))
  final val maxBin = new IntParam(this, "maxBin",
    "histogram bins per feature; this build's byte bin layout caps the " +
    "effective value at 255 (values above are clamped with a warning)",
    ParamValidators.gtEq(2))
  final val growPolicy = new Param[String](this, "growPolicy",
    "depthwise | lossguide (lossguide = best-gain-first growth, one split per " +
    "histogram pass; maxDepth 0 = depth 64), the same on every training path",
    ParamValidators.inArray(Array("depthwise", "lossguide")))
  final val maxLeaves = new IntParam(this, "maxLeaves",
    "max leaves per tree (0 = unlimited)", ParamValidators.gtEq(0))
  final val treeMethod = new Param[String](this, "treeMethod",
    "auto | exact | approx | hist | gpu_hist; every CPU method runs this " +
    "build's histogram algorithm; gpu_hist requires useGpu")
  final val monotoneConstraints = new Param[String](this, "monotoneConstraints",
    "per-feature monotonicity as xgboost's tuple string, e.g. \"(1,0,-1)\": " +
    "1 = prediction non-decreasing in the feature, -1 = non-increasing, 0 = free")
  final val interactionConstraints = new Param[String](this, "interactionConstraints",
    "feature groups allowed to interact, xgboost's nested-list string, e.g. " +
    "\"[[0,1],[2,3,4]]\"; a branch may only combine features sharing a group")
  final val scalePosWeight = new DoubleParam(this, "scalePosWeight",
    "positive-class weight multiplier", ParamValidators.gt(0))
  final val objective = new Param[String](this, "objective",
    "reg:squarederror | reg:logistic | count:poisson | binary:logistic | " +
    "multi:softprob | multi:softmax (classifier infers when unset)")
  final val numClass = new IntParam(this, "numClass", "number of classes (multiclass)",
    ParamValidators.gtEq(0))
  final val baseScore = new DoubleParam(this, "baseScore", "global bias / initial score")
  final val missing = new FloatParam(this, "missing",
    "value treated as missing; NaN by default — densified sparse zeros are VALUES " +
    "unless missing=0.0 is set explicitly (reference xgboost_core.py:780-784)")
  final val seed = new LongParam(this, "seed", "random seed")
  final val earlyStoppingRounds = new IntParam(this, "earlyStoppingRounds",
    "stop after this many rounds without eval improvement (0 = off)", ParamValidators.gtEq(0))
  final val evalMetric = new Param[String](this, "evalMetric",
    "rmse | mae | logloss | mlogloss | error | merror | auc | poisson-nloglik " +
    "(auc is maximized; all others minimized)")
  final val treeLimit = new IntParam(this, "treeLimit",
    "use only the first N rounds at predict time (0 = all)", ParamValidators.gtEq(0))

  /** JSON object of passthrough params (analogue of arbitraryParamsDict). */
  final val arbitraryParams = new Param[String](this, "arbitraryParams",
    "JSON object of additional passthrough params")

  /** Serialized init booster to continue training from — the reference's
    * `xgb_model` warm start (xgboost_core.py:502-517 test surface; the
    * param must be a trained model, validated in _validate_params). */
  final val xgbModel = new Param[String](this, "xgbModel",
    "model JSON of an initial booster; training adds nEstimators more rounds on top")

  setDefault(
    featuresCol -> "features", labelCol -> "label", predictionCol -> "prediction",
    numWorkers -> 1, useGpu -> false, forceRepartition -> false,
    useExternalStorage -> false, externalStoragePrecision -> 5,
    useBarrierMode -> false,
    nEstimators -> 100, eta -> 0.3, maxDepth -> 6, lambda -> 1.0, alpha -> 0.0,
    gamma -> 0.0, minChildWeight -> 1.0, subsample -> 1.0, colsampleBytree -> 1.0,
    colsampleBylevel -> 1.0, colsampleBynode -> 1.0, maxDeltaStep -> 0.0,
    maxBin -> 256, growPolicy -> "depthwise", maxLeaves -> 0, treeMethod -> "",
    monotoneConstraints -> "", interactionConstraints -> "",
    scalePosWeight -> 1.0, numClass -> 0, baseScore -> 0.5, missing -> Float.NaN,
    seed -> 0L, earlyStoppingRounds -> 0, treeLimit -> 0,
    arbitraryParams -> "{}", xgbModel -> "")

  // NB: Params.get returns only explicitly-set values; getOrDefault also
  // sees defaults (isDefined guards params with neither).
  private[ml] def hasNonEmpty(p: Param[String]): Boolean =
    isDefined(p) && getOrDefault(p).nonEmpty

  /** BoosterParams from the current param values; a fit replaces
    * objective/numClass with the ones its [[ObjectiveRule]] resolves from
    * the labels.
    * Keys in [[arbitraryParams]] override the explicit params — the
    * analogue of the reference merging arbitraryParamsDict over the
    * generated params (reference xgboost_core.py:249-258); xgboost alias
    * names (learning_rate, reg_lambda, …) are honored. Keys this build
    * does NOT implement are split into two classes: model-invariant ones
    * (verbosity, n_jobs, …) pass silently, while keys that WOULD change
    * the trained model in xgboost (booster=dart, monotone_constraints, …)
    * log a warning naming the key — never a silent no-op. */
  private[ml] def boosterParams(resolvedObjective: String, resolvedNumClass: Int): BoosterParams =
    boosterParamsWithWarnings(resolvedObjective, resolvedNumClass)._1

  private[ml] def boosterParamsWithWarnings(
      resolvedObjective: String, resolvedNumClass: Int): (BoosterParams, Seq[String]) = {
    val mb = $(maxBin)
    // warn only for EXPLICIT settings: the xgboost-parity default (256)
    // clamps to 255 silently — a per-fit warning for the default would
    // bury the meaningful unimplemented-key warnings
    if (mb > 255 && isSet(maxBin))
      logWarning(s"maxBin=$mb exceeds this build's byte bin layout; clamped to 255")
    var bp = BoosterParams(
      numRounds = $(nEstimators), eta = $(eta), maxDepth = $(maxDepth),
      lambda = $(lambda), alpha = $(alpha), gamma = $(gamma),
      minChildWeight = $(minChildWeight), subsample = $(subsample),
      colsampleBytree = $(colsampleBytree), colsampleBylevel = $(colsampleBylevel),
      colsampleBynode = $(colsampleBynode), maxDeltaStep = $(maxDeltaStep),
      maxBin = mb, growPolicy = $(growPolicy), maxLeaves = $(maxLeaves),
      monotoneConstraints = XGBoostParams.parseMonotone(getOrDefault(monotoneConstraints)),
      interactionConstraints = XGBoostParams.parseInteractions(getOrDefault(interactionConstraints)),
      scalePosWeight = $(scalePosWeight),
      objective = resolvedObjective, numClass = resolvedNumClass,
      baseScore = $(baseScore), missing = $(missing), seed = $(seed),
      earlyStoppingRounds = $(earlyStoppingRounds),
      evalMetric = if (hasNonEmpty(evalMetric)) Some($(evalMetric)) else None)
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    val json = getOrDefault(arbitraryParams)
    if (json.nonEmpty && json.trim != "{}") {
      import org.json4s._
      val fields = org.json4s.jackson.JsonMethods.parse(json) match {
        case JObject(fs) => fs.toMap
        case other => throw new IllegalArgumentException(s"arbitraryParams must be a JSON object, got $other")
      }
      def num(v: JValue): Double = v match {
        case JDouble(d) => d
        case JInt(i) => i.toDouble
        case JDecimal(d) => d.toDouble
        case other => throw new IllegalArgumentException(s"expected number, got $other")
      }
      fields.foreach {
        case ("eta" | "learning_rate", v) => bp = bp.copy(eta = num(v))
        case ("max_depth", v) => bp = bp.copy(maxDepth = num(v).toInt)
        case ("lambda" | "reg_lambda", v) => bp = bp.copy(lambda = num(v))
        case ("alpha" | "reg_alpha", v) => bp = bp.copy(alpha = num(v))
        case ("gamma" | "min_split_loss", v) => bp = bp.copy(gamma = num(v))
        case ("min_child_weight", v) => bp = bp.copy(minChildWeight = num(v))
        case ("subsample", v) => bp = bp.copy(subsample = num(v))
        case ("colsample_bytree", v) => bp = bp.copy(colsampleBytree = num(v))
        case ("colsample_bylevel", v) => bp = bp.copy(colsampleBylevel = num(v))
        case ("colsample_bynode", v) => bp = bp.copy(colsampleBynode = num(v))
        case ("max_delta_step", v) => bp = bp.copy(maxDeltaStep = num(v))
        case ("max_bin", v) =>
          val b = num(v).toInt
          if (b > 255) logWarning(s"max_bin=$b exceeds this build's byte bin layout; clamped to 255")
          bp = bp.copy(maxBin = b)
        case ("grow_policy", JString(s)) =>
          require(s == "depthwise" || s == "lossguide", s"grow_policy must be depthwise|lossguide, got $s")
          bp = bp.copy(growPolicy = s)
        case ("max_leaves", v) => bp = bp.copy(maxLeaves = num(v).toInt)
        case ("monotone_constraints", JString(s)) =>
          bp = bp.copy(monotoneConstraints = XGBoostParams.parseMonotone(s))
        case ("monotone_constraints", JArray(vs)) =>
          bp = bp.copy(monotoneConstraints =
            XGBoostParams.parseMonotone(vs.map(num(_).toInt).mkString(",")))
        case ("interaction_constraints", JString(s)) =>
          bp = bp.copy(interactionConstraints = XGBoostParams.parseInteractions(s))
        case ("interaction_constraints", v @ JArray(_)) =>
          bp = bp.copy(interactionConstraints = XGBoostParams.parseInteractions(
            org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(v))))
        case ("scale_pos_weight", v) => bp = bp.copy(scalePosWeight = num(v))
        case ("base_score", v) => bp = bp.copy(baseScore = num(v))
        case ("n_estimators" | "num_boost_round", v) => bp = bp.copy(numRounds = num(v).toInt)
        case ("early_stopping_rounds", v) => bp = bp.copy(earlyStoppingRounds = num(v).toInt)
        case ("seed" | "random_state", v) => bp = bp.copy(seed = num(v).toLong)
        case ("missing", v) => bp = bp.copy(missing = num(v).toFloat)
        case ("eval_metric", JString(s)) => bp = bp.copy(evalMetric = Some(s))
        case ("tree_method", _) => // resolved separately (resolvedTreeMethod) for validation
        case ("objective", _) => // resolved separately (objectiveFromArbitrary) before fit
        case ("num_class", v) => num(v) // compared with the trained class count (numClassIgnored)
        case ("booster", JString("gbtree")) => // this build's only booster
        case (k, _) if ModelInvariantKeys(k) => // logging/threading knobs: no model effect
        case (k, v) if KnownUnimplementedKeys(k) =>
          warnings += s"xgboost param '$k'=$v is recognized but NOT implemented by this build; " +
            "the trained model may differ from native xgboost"
        case (k, v) =>
          warnings += s"unknown param '$k'=$v ignored (native xgboost would receive it verbatim)"
      }
    }
    warnings.foreach(logWarning(_))
    (bp, warnings.toSeq)
  }

  /** The fields of the arbitraryParams JSON object; none when it is unset
    * or not an object (which [[boosterParams]] rejects). */
  private def arbitraryFields: List[org.json4s.JField] = {
    val json = getOrDefault(arbitraryParams)
    if (json.nonEmpty && json.trim != "{}") {
      org.json4s.jackson.JsonMethods.parse(json) match {
        case org.json4s.JObject(fs) => fs
        case _ => Nil
      }
    } else Nil
  }

  /** objective from arbitraryParams JSON — in the reference, arbitrary
    * keys reach xgboost and OVERRIDE explicit params, so `{"objective":
    * "count:poisson"}` must change the trained model here too (it was
    * silently dropped before). None when absent. */
  private[ml] def objectiveFromArbitrary: Option[String] =
    arbitraryFields.collectFirst { case ("objective", org.json4s.JString(s)) => s }

  /** The warning for an arbitraryParams num_class other than the class
    * count a fit trained with, which this build takes from the numClass
    * param or a classifier's labels, not from num_class. */
  private[ml] def numClassIgnored(trained: Int): Option[String] =
    arbitraryFields.collectFirst {
      case ("num_class", org.json4s.JInt(k)) => k.toInt
      case ("num_class", org.json4s.JDouble(k)) => k.toInt
      case ("num_class", org.json4s.JDecimal(k)) => k.toInt
    }.filter(_ != trained).map(k => s"num_class=$k ignored: this build takes numClass " +
      s"from the numClass param or a classifier's label column, and trained with $trained")

  /** tree_method from arbitraryParams (the reference reads the
    * introspected param the same way) falling back to the explicit param;
    * None when unset. */
  private[ml] def resolvedTreeMethod: Option[String] = {
    val fromJson = arbitraryFields.collectFirst { case ("tree_method", org.json4s.JString(s)) => s }
    val tm = fromJson.orElse(if (hasNonEmpty(treeMethod)) Some(getOrDefault(treeMethod)) else None)
    tm.foreach { t =>
      require(ValidTreeMethods(t),
        s"tree_method must be one of ${ValidTreeMethods.mkString(", ")}, got $t")
    }
    tm
  }

  private[ml] def validateFeaturesType(schema: StructType): Unit = {
    val dt = schema($(featuresCol)).dataType
    require(dt == org.apache.spark.ml.linalg.SQLDataTypes.VectorType ||
      dt.isInstanceOf[ArrayType],
      s"featuresCol must be VectorUDT or array<numeric>, got $dt")
  }
}

/** Classifier-only output columns (reference xgboost_core.py:738-756:
  * each is optional — set the param to "" to skip materializing it). */
trait XGBoostClassifierParams extends XGBoostParams {
  final val rawPredictionCol = new Param[String](this, "rawPredictionCol",
    "raw margin vector output column (empty string = skip)")
  final val probabilityCol = new Param[String](this, "probabilityCol",
    "probability vector output column (empty string = skip)")
  setDefault(rawPredictionCol -> "rawPrediction", probabilityCol -> "probability")
}

package graft.ml

/** Objectives (gradient/hessian in margin space) and eval metrics.
  *
  * The reference's inference heuristic selects between
  * `reg:squarederror`, `binary:logistic`, `multi:softprob` (reference
  * `xgboost_core.py:331-337`), but passes any user objective through to
  * xgboost — so the commonly-passed regression objectives
  * (`reg:logistic`, `count:poisson`) are implemented natively too.
  * Gradients are second-order, XGBoost-style: the multiclass hessian
  * uses the 2·p·(1−p) form.
  */
sealed trait Objective extends Serializable {
  def name: String
  def numGroups(numClass: Int): Int
  /** Initial margin per group, from base_score. */
  def baseMargin(baseScore: Double): Float
  /** Writes gradient/hessian for row i into (g, h) at groups [i*K, i*K+K). */
  def gradHess(
      margins: Array[Float], labels: Array[Float], weights: Array[Float],
      numClass: Int, g: Array[Float], h: Array[Float]): Unit
  /** Default eval metric name (reference xgboost defaults). */
  def defaultMetric(numClass: Int): String
  /** Margin → prediction-space transform for regressor output (xgboost's
    * PredTransform): identity for squared error, sigmoid for logistic
    * regression, exp for Poisson counts. */
  def predictTransform(margin: Double): Double = margin
}

object Objective {
  def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  case object SquaredError extends Objective {
    val name = "reg:squarederror"
    def numGroups(numClass: Int) = 1
    def baseMargin(baseScore: Double): Float = baseScore.toFloat
    def gradHess(m: Array[Float], y: Array[Float], w: Array[Float],
        k: Int, g: Array[Float], h: Array[Float]): Unit = {
      var i = 0
      val n = y.length
      while (i < n) {
        val wi = if (w == null) 1.0f else w(i)
        g(i) = (m(i) - y(i)) * wi
        h(i) = wi
        i += 1
      }
    }
    def defaultMetric(numClass: Int) = "rmse"
  }

  case object Logistic extends Objective {
    val name = "binary:logistic"
    def numGroups(numClass: Int) = 1
    // base_score is in probability space for logistic: margin = logit(p)
    def baseMargin(baseScore: Double): Float =
      math.log(baseScore / (1.0 - baseScore)).toFloat
    def gradHess(m: Array[Float], y: Array[Float], w: Array[Float],
        k: Int, g: Array[Float], h: Array[Float]): Unit = {
      var i = 0
      val n = y.length
      while (i < n) {
        val wi = if (w == null) 1.0f else w(i)
        val p = sigmoid(m(i))
        g(i) = ((p - y(i)) * wi).toFloat
        h(i) = (math.max(p * (1.0 - p), 1e-16) * wi).toFloat
        i += 1
      }
    }
    // xgboost's binary:logistic PredTransform is sigmoid — a REGRESSOR
    // with this objective must output probabilities, not raw margins
    // (the classifier computes sigmoid/argmax itself from raw margins)
    override def predictTransform(margin: Double): Double = sigmoid(margin)
    def defaultMetric(numClass: Int) = "logloss"
  }

  case object Softprob extends Objective {
    val name = "multi:softprob"
    def numGroups(numClass: Int) = numClass
    def baseMargin(baseScore: Double): Float = 0.0f // uniform over classes
    def gradHess(m: Array[Float], y: Array[Float], w: Array[Float],
        numClass: Int, g: Array[Float], h: Array[Float]): Unit = {
      val n = y.length
      val p = new Array[Double](numClass)
      var i = 0
      while (i < n) {
        val off = i * numClass
        var maxM = Double.MinValue
        var k = 0
        while (k < numClass) { if (m(off + k) > maxM) maxM = m(off + k); k += 1 }
        var sum = 0.0
        k = 0
        while (k < numClass) { p(k) = math.exp(m(off + k) - maxM); sum += p(k); k += 1 }
        val wi = if (w == null) 1.0f else w(i)
        val yi = y(i).toInt
        k = 0
        while (k < numClass) {
          val pk = p(k) / sum
          g(off + k) = ((pk - (if (k == yi) 1.0 else 0.0)) * wi).toFloat
          h(off + k) = (math.max(2.0 * pk * (1.0 - pk), 1e-16) * wi).toFloat
          k += 1
        }
        i += 1
      }
    }
    def defaultMetric(numClass: Int) = "mlogloss"
  }

  /** Sigmoid regression (labels in [0,1], predictions in (0,1)) — same
    * margin-space gradients as binary:logistic, but a REGRESSION
    * objective: default metric rmse, predictions are σ(margin). */
  case object RegLogistic extends Objective {
    val name = "reg:logistic"
    def numGroups(numClass: Int) = 1
    def baseMargin(baseScore: Double): Float =
      math.log(baseScore / (1.0 - baseScore)).toFloat
    def gradHess(m: Array[Float], y: Array[Float], w: Array[Float],
        k: Int, g: Array[Float], h: Array[Float]): Unit =
      Logistic.gradHess(m, y, w, k, g, h)
    def defaultMetric(numClass: Int) = "rmse"
    override def predictTransform(margin: Double): Double = sigmoid(margin)
  }

  /** Poisson counts: margin is log(μ); grad = μ − y, hess = μ.
    * base_score is in mean space (margin = log(base_score)), like
    * xgboost; trainers default max_delta_step to 0.7 for this objective
    * (xgboost's guard against exp overflow on early rounds). */
  case object Poisson extends Objective {
    val name = "count:poisson"
    def numGroups(numClass: Int) = 1
    def baseMargin(baseScore: Double): Float = math.log(baseScore).toFloat
    def gradHess(m: Array[Float], y: Array[Float], w: Array[Float],
        k: Int, g: Array[Float], h: Array[Float]): Unit = {
      var i = 0
      val n = y.length
      while (i < n) {
        val wi = if (w == null) 1.0f else w(i)
        val mu = math.exp(m(i))
        g(i) = ((mu - y(i)) * wi).toFloat
        h(i) = (math.max(mu, 1e-16) * wi).toFloat
        i += 1
      }
    }
    def defaultMetric(numClass: Int) = "poisson-nloglik"
    override def predictTransform(margin: Double): Double = math.exp(margin)
  }

  def fromName(name: String): Objective = name match {
    case "reg:squarederror" | "reg:linear" => SquaredError
    case "reg:logistic" => RegLogistic
    case "count:poisson" => Poisson
    case "binary:logistic" => Logistic
    case "multi:softprob" | "multi:softmax" => Softprob
    case other => throw new IllegalArgumentException(s"unsupported objective: $other")
  }
}

/** Eval metrics over margins (weighted means, like xgboost), the one
  * kernel of every training path: each worker computes its [[parts]],
  * the parts are summed element-wise over workers, and [[finish]] turns
  * the sums into the metric. */
object EvalMetric {

  /** AUC is computed over a fixed histogram of sigmoid scores so that the
    * parts of every worker sum exactly; 4096 bins puts the binning error
    * well below early-stopping resolution. */
  val AucBins = 4096

  /** The length of a metric's parts: AUC's score histogram (per bin, the
    * positive then the negative weight) or the weighted numerator and the
    * weight sum; then the row count. */
  def size(metric: String): Int = (if (metric == "auc") 2 * AucBins else 2) + 1

  /** The rows counted in summed parts. */
  def rows(sums: Array[Double]): Double = sums(sums.length - 1)

  /** One worker's parts of `metric` over its rows (`numClass` margins per
    * row for the multiclass metrics). */
  def parts(metric: String, margins: Array[Float], labels: Array[Float],
      weights: Array[Float], numClass: Int): Array[Double] = {
    val acc = new Array[Double](size(metric))
    val n = labels.length
    if (n == 0) return acc
    var num = 0.0
    var den = 0.0
    var i = 0
    metric match {
      case "rmse" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val d = margins(i) - labels(i)
          num += w * d * d; den += w; i += 1
        }
      case "mae" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          num += w * math.abs(margins(i) - labels(i)); den += w; i += 1
        }
      case "logloss" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val p = math.min(math.max(Objective.sigmoid(margins(i)), 1e-16), 1 - 1e-16)
          num += -w * (labels(i) * math.log(p) + (1 - labels(i)) * math.log(1 - p))
          den += w; i += 1
        }
      case "mlogloss" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val off = i * numClass
          var mx = Double.MinValue
          var c = 0
          while (c < numClass) { if (margins(off + c) > mx) mx = margins(off + c); c += 1 }
          var s = 0.0
          c = 0
          while (c < numClass) { s += math.exp(margins(off + c) - mx); c += 1 }
          num += -w * (margins(off + labels(i).toInt) - mx - math.log(s))
          den += w; i += 1
        }
      case "error" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          if ((if (Objective.sigmoid(margins(i)) > 0.5) 1.0 else 0.0) != labels(i)) num += w
          den += w; i += 1
        }
      case "merror" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val off = i * numClass
          var best = 0
          var c = 1
          while (c < numClass) { if (margins(off + c) > margins(off + best)) best = c; c += 1 }
          if (best != labels(i).toInt) num += w
          den += w; i += 1
        }
      case "poisson-nloglik" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val mu = math.max(math.exp(margins(i)), 1e-16)
          num += w * (mu - labels(i) * math.log(mu) +
            org.apache.commons.math3.special.Gamma.logGamma(labels(i) + 1.0))
          den += w; i += 1
        }
      case "auc" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val b = math.min(AucBins - 1, math.max(0, (Objective.sigmoid(margins(i)) * AucBins).toInt))
          val y = labels(i)
          require(y == 0.0f || y == 1.0f, s"auc requires binary 0/1 labels, got $y")
          if (y == 1.0f) acc(2 * b) += w else acc(2 * b + 1) += w
          i += 1
        }
      case other => throw new IllegalArgumentException(s"unsupported eval_metric: $other")
    }
    if (metric != "auc") { acc(0) = num; acc(1) = den }
    acc(acc.length - 1) = n
    acc
  }

  /** The metric from parts summed over every worker; NaN without rows. */
  def finish(metric: String, sums: Array[Double]): Double =
    if (metric == "auc") aucFinish(sums)
    else if (sums(1) == 0) Double.NaN
    else if (metric == "rmse") math.sqrt(sums(0) / sums(1))
    else sums(0) / sums(1)

  /** AUC from the histogram: P(score⁺ > score⁻) + ½·P(tie). */
  private def aucFinish(acc: Array[Double]): Double = {
    var totPos = 0.0
    var totNeg = 0.0
    var b = 0
    while (b < AucBins) { totPos += acc(2 * b); totNeg += acc(2 * b + 1); b += 1 }
    if (totPos == 0.0 || totNeg == 0.0) return Double.NaN
    var cumNeg = 0.0
    var auc = 0.0
    b = 0
    while (b < AucBins) {
      val p = acc(2 * b)
      val ng = acc(2 * b + 1)
      auc += p * (cumNeg + 0.5 * ng)
      cumNeg += ng
      b += 1
    }
    auc / (totPos * totNeg)
  }

  /** Lower is better for every supported metric except AUC (xgboost
    * maximizes auc; early stopping must flip its comparison). */
  def lowerIsBetter(metric: String): Boolean = metric != "auc"
}

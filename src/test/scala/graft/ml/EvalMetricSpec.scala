package graft.ml

import org.scalatest.funsuite.AnyFunSuite

/** The eval-metric kernel ([[EvalMetric.parts]], summed, then
  * [[EvalMetric.finish]]) against a per-array oracle: the metric computed
  * in one pass over all rows, as the single-node path once did. */
class EvalMetricSpec extends AnyFunSuite {

  private val Metrics =
    Seq("rmse", "mae", "logloss", "mlogloss", "error", "merror", "auc", "poisson-nloglik")
  private val NumClass = 3

  /** The metric over all rows in one pass. */
  private def oracle(metric: String, margins: Array[Float], labels: Array[Float],
      weights: Array[Float], numClass: Int): Double = {
    val n = labels.length
    if (n == 0) return Double.NaN
    var sum = 0.0
    var wsum = 0.0
    var i = 0
    metric match {
      case "rmse" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val d = margins(i) - labels(i)
          sum += w * d * d; wsum += w; i += 1
        }
        math.sqrt(sum / wsum)
      case "mae" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          sum += w * math.abs(margins(i) - labels(i)); wsum += w; i += 1
        }
        sum / wsum
      case "logloss" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val p = math.min(math.max(Objective.sigmoid(margins(i)), 1e-16), 1 - 1e-16)
          sum += -w * (labels(i) * math.log(p) + (1 - labels(i)) * math.log(1 - p))
          wsum += w; i += 1
        }
        sum / wsum
      case "mlogloss" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val off = i * numClass
          var maxM = Double.MinValue
          var k = 0
          while (k < numClass) { if (margins(off + k) > maxM) maxM = margins(off + k); k += 1 }
          var s = 0.0
          k = 0
          while (k < numClass) { s += math.exp(margins(off + k) - maxM); k += 1 }
          val yi = labels(i).toInt
          val logp = margins(off + yi) - maxM - math.log(s)
          sum += -w * logp; wsum += w; i += 1
        }
        sum / wsum
      case "error" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val pred = if (Objective.sigmoid(margins(i)) > 0.5) 1.0 else 0.0
          if (pred != labels(i)) sum += w
          wsum += w; i += 1
        }
        sum / wsum
      case "auc" =>
        val bins = EvalMetric.AucBins
        val acc = new Array[Double](2 * bins)
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val s = Objective.sigmoid(margins(i))
          val b = math.min(bins - 1, math.max(0, (s * bins).toInt))
          if (labels(i) == 1.0f) acc(2 * b) += w else acc(2 * b + 1) += w
          i += 1
        }
        var totPos = 0.0
        var totNeg = 0.0
        var b = 0
        while (b < bins) { totPos += acc(2 * b); totNeg += acc(2 * b + 1); b += 1 }
        if (totPos == 0.0 || totNeg == 0.0) return Double.NaN
        var cumNeg = 0.0
        var auc = 0.0
        b = 0
        while (b < bins) {
          auc += acc(2 * b) * (cumNeg + 0.5 * acc(2 * b + 1))
          cumNeg += acc(2 * b + 1)
          b += 1
        }
        auc / (totPos * totNeg)
      case "poisson-nloglik" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val mu = math.max(math.exp(margins(i)), 1e-16)
          sum += w * (mu - labels(i) * math.log(mu) +
            org.apache.commons.math3.special.Gamma.logGamma(labels(i) + 1.0))
          wsum += w; i += 1
        }
        sum / wsum
      case "merror" =>
        while (i < n) {
          val w = if (weights == null) 1.0 else weights(i)
          val off = i * numClass
          var best = 0
          var k = 1
          while (k < numClass) { if (margins(off + k) > margins(off + best)) best = k; k += 1 }
          if (best != labels(i).toInt) sum += w
          wsum += w; i += 1
        }
        sum / wsum
    }
  }

  private def groups(metric: String) = if (metric.startsWith("m") && metric != "mae") NumClass else 1

  /** Random rows for `metric`: margins, labels of its kind, weights or null. */
  private def rows(metric: String, n: Int, weighted: Boolean, rng: java.util.Random) = {
    val k = groups(metric)
    val margins = Array.fill(n * k)((rng.nextGaussian() * 2).toFloat)
    val labels = Array.fill(n)(metric match {
      case "rmse" | "mae" => (rng.nextGaussian() * 3).toFloat
      case "logloss" | "error" | "auc" => rng.nextInt(2).toFloat
      case "mlogloss" | "merror" => rng.nextInt(NumClass).toFloat
      case "poisson-nloglik" => rng.nextInt(6).toFloat
    })
    val weights = if (weighted) Array.fill(n)(0.1f + rng.nextFloat() * 3) else null
    (margins, labels, weights)
  }

  private def sum(parts: Seq[Array[Double]]): Array[Double] =
    parts.reduce((a, b) => a.zip(b).map { case (x, y) => x + y })

  private def kernel(metric: String, parts: Seq[Array[Double]]): Double =
    EvalMetric.finish(metric, sum(parts))

  test("one part equals the per-array oracle bit for bit; 1-4 parts sum to it within " +
    "1e-12 relative: all 8 metrics, with and without weights") {
    val rng = new java.util.Random(20261020L)
    for (metric <- Metrics; weighted <- Seq(false, true); _ <- 0 until 20) {
      val n = 1 + rng.nextInt(300)
      val k = groups(metric)
      val (margins, labels, weights) = rows(metric, n, weighted, rng)
      val want = oracle(metric, margins, labels, weights, k)
      val one = EvalMetric.parts(metric, margins, labels, weights, k)
      val got = EvalMetric.finish(metric, one)
      assert(EvalMetric.rows(one) == n)
      assert(java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(want),
        s"$metric, $n rows, weighted $weighted: kernel $got vs oracle $want")
      val numParts = 1 + rng.nextInt(4)
      val cuts = (0 +: Array.fill(numParts - 1)(rng.nextInt(n + 1)).sorted :+ n).toSeq
      val parts = cuts.zip(cuts.tail).map { case (a, b) =>
        EvalMetric.parts(metric, margins.slice(a * k, b * k), labels.slice(a, b),
          if (weights == null) null else weights.slice(a, b), k)
      }
      val split = kernel(metric, parts)
      assert((split.isNaN && want.isNaN) || math.abs(split - want) <= 1e-12 * math.abs(want),
        s"$metric over $numParts parts (${cuts.mkString(",")}): $split vs oracle $want")
      assert(EvalMetric.rows(sum(parts)) == n)
    }
  }

  test("no rows: every metric's parts count 0 rows and finish to NaN") {
    Metrics.foreach { metric =>
      val empty = EvalMetric.parts(metric, Array.empty, Array.empty, null, groups(metric))
      assert(EvalMetric.rows(empty) == 0 && empty.forall(_ == 0.0), metric)
      assert(EvalMetric.finish(metric, empty).isNaN, metric)
      assert(kernel(metric, Seq(empty, empty)).isNaN, metric)
    }
  }
}

package graft.ml

/** Per-feature histogram cut points.
  *
  * Bin semantics (XGBoost-hist style): for feature f with cuts c_0<…<c_{k-1},
  * bin(v) = first b with v < c_b, else k; a split "after bin b" stores
  * threshold c_b and routes v < c_b left. Missing (NaN) rows get the
  * reserved bin [[BinCuts.MissingBin]] and follow the learned default
  * direction. Cuts max out at 254 values so bin indices fit in a byte.
  */
final class BinCuts(val cuts: Array[Array[Float]]) extends Serializable {
  val numFeatures: Int = cuts.length

  def numBins(f: Int): Int = cuts(f).length + 1

  def binOf(f: Int, v: Float): Int =
    if (v != v) BinCuts.MissingBin else BinCuts.upperBound(cuts(f), v)
}

object BinCuts {
  val MaxCuts = 254
  val MissingBin = 255

  /** Cut budget for a user max_bin: bins = cuts + 1, and the byte bin
    * layout (255 = missing) caps cuts at [[MaxCuts]]. */
  def cutBudget(maxBin: Int): Int = math.min(math.max(maxBin - 1, 1), MaxCuts)

  /** First index `b` with `v < c(b)`, else `c.length`, for non-NaN `v` and
    * ascending `c`: the bin of `v`. Each step halves the range and moves
    * its base with a select rather than a branch, because which way a
    * value falls is unpredictable; `c` has at most [[MaxCuts]] entries, so
    * at most 8 steps. */
  @inline def upperBound(c: Array[Float], v: Float): Int = {
    var base = 0
    var len = c.length
    while (len > 1) {
      val half = len >>> 1
      base = if (c(base + half) <= v) base + half else base
      len -= half
    }
    if (len == 1 && c(base) <= v) base + 1 else base
  }

  /** Exact cuts of a matrix: per feature, the distinct sorted non-missing
    * values minus the minimum (a threshold at the min separates nothing);
    * more than `maxCuts` of them → evenly-spaced picks. Each column is
    * copied into one primitive array, sorted and de-duplicated in place
    * (equal runs, −0.0 and 0.0 included, keep their first value). */
  def fromMatrix(m: TrainMatrix, missing: Float, maxCuts: Int = MaxCuts): BinCuts = {
    val budget = math.min(math.max(maxCuts, 1), MaxCuts)
    val n = m.numRows
    val col = new Array[Float](n)
    val cuts = Array.tabulate(m.numCols) { f =>
      var len = 0
      var i = 0
      while (i < n) {
        val v = m.values(i * m.numCols + f)
        if (v == v && (missing.isNaN || v != missing)) { col(len) = v; len += 1 }
        i += 1
      }
      java.util.Arrays.sort(col, 0, len)
      var d = 0 // distinct values kept in col(0 until d)
      i = 0
      while (i < len) {
        if (d == 0 || col(i) != col(d - 1)) { col(d) = col(i); d += 1 }
        i += 1
      }
      val cand = d - 1 // candidates: col(1 until d), the minimum excluded
      if (cand <= 0) Array.empty[Float]
      else if (cand <= budget) java.util.Arrays.copyOfRange(col, 1, d)
      else {
        // picks are ascending, so repeats of one index are adjacent
        val out = new Array[Float](budget)
        var k = 0
        var j = 0
        while (j < budget) {
          val v = col(1 + ((j + 1).toLong * cand / (budget + 1)).toInt)
          if (k == 0 || out(k - 1) != v) { out(k) = v; k += 1 }
          j += 1
        }
        java.util.Arrays.copyOf(out, k)
      }
    }
    new BinCuts(cuts)
  }

  /** Row-major byte matrix of bin indices (0xff = missing). */
  def binMatrix(m: TrainMatrix, cuts: BinCuts, missing: Float): Array[Byte] = {
    val out = new Array[Byte](m.numRows * m.numCols)
    val values = m.values
    val cs = cuts.cuts
    val remap = !missing.isNaN
    var i = 0
    while (i < m.numRows) {
      var f = 0
      val base = i * m.numCols
      while (f < m.numCols) {
        val v = values(base + f)
        out(base + f) =
          (if (v != v || (remap && v == missing)) MissingBin else upperBound(cs(f), v)).toByte
        f += 1
      }
      i += 1
    }
    out
  }
}

/** One regression tree, structure-of-arrays. Leaf iff left(i) < 0.
  * `gain` holds the split gain per internal node (0 at leaves) and
  * `cover` the hessian sum reaching each node — the ingredients for
  * gain- and cover-type feature importances. */
final class Tree(
    val feature: Array[Int],
    val threshold: Array[Float],
    val defaultLeft: Array[Boolean],
    val left: Array[Int],
    val right: Array[Int],
    val weight: Array[Float],
    val gain: Array[Float],
    val cover: Array[Float]) extends Serializable {

  def this(feature: Array[Int], threshold: Array[Float], defaultLeft: Array[Boolean],
      left: Array[Int], right: Array[Int], weight: Array[Float]) =
    this(feature, threshold, defaultLeft, left, right, weight,
      new Array[Float](feature.length), new Array[Float](feature.length))

  def this(feature: Array[Int], threshold: Array[Float], defaultLeft: Array[Boolean],
      left: Array[Int], right: Array[Int], weight: Array[Float], gain: Array[Float]) =
    this(feature, threshold, defaultLeft, left, right, weight, gain,
      new Array[Float](feature.length))

  def numNodes: Int = feature.length

  /** `left(i)` and `right(i)` at 2i and 2i + 1, so a step indexes by the
    * comparison instead of branching on it. Built on first use and not
    * serialized: the model's serialized form is the six arrays above. */
  @transient private lazy val kids: Array[Int] = {
    val k = new Array[Int](2 * numNodes)
    var i = 0
    while (i < numNodes) { k(2 * i) = left(i); k(2 * i + 1) = right(i); i += 1 }
    k
  }

  /** Margin contribution for a dense feature row (NaN = missing, routed
    * to the node's default side). The one tree walk: scoring and the
    * trainers' margin updates both call it. */
  def predict(x: Array[Float]): Float = {
    val kids = this.kids
    var node = 0
    while (kids(2 * node) >= 0) {
      val v = x(feature(node))
      val goRight = if (v != v) !defaultLeft(node) else !(v < threshold(node))
      node = kids(2 * node + (if (goRight) 1 else 0))
    }
    weight(node)
  }
}

/** Hyper-parameters for the native booster (xgboost 1.6 defaults). */
final case class BoosterParams(
    numRounds: Int = 100,
    eta: Double = 0.3,
    maxDepth: Int = 6,
    lambda: Double = 1.0,
    alpha: Double = 0.0,
    gamma: Double = 0.0,
    minChildWeight: Double = 1.0,
    subsample: Double = 1.0,
    colsampleBytree: Double = 1.0,
    colsampleBylevel: Double = 1.0,
    colsampleBynode: Double = 1.0,
    maxDeltaStep: Double = 0.0,
    maxBin: Int = 256,
    growPolicy: String = "depthwise",
    maxLeaves: Int = 0,
    monotoneConstraints: Array[Int] = null, // per-feature -1|0|1; null = none
    interactionConstraints: Array[Array[Int]] = null, // feature groups; null = none
    scalePosWeight: Double = 1.0,
    objective: String = "reg:squarederror",
    numClass: Int = 0,
    baseScore: Double = 0.5,
    missing: Float = Float.NaN,
    seed: Long = 0L,
    earlyStoppingRounds: Int = 0,
    evalMetric: Option[String] = None,
    minSplitGain: Double = 0.0) extends Serializable {

  /** Objective-conditioned defaults (xgboost does the same in its updater
    * config): count:poisson defaults max_delta_step to 0.7 — without the
    * cap, exp(margin) overflows on early rounds of count data. */
  def resolved: BoosterParams =
    if (objective == "count:poisson" && maxDeltaStep == 0.0) copy(maxDeltaStep = 0.7)
    else this
}

/** Trained model: trees (numRounds × numGroups, round-major), objective,
  * base margin. Serialized as a JSON string of our own format
  * ([[ModelJson]]) — analogous to the reference holding the xgboost JSON
  * model string (reference `sparkdl/xgboost/model.py:35-59`). */
final class BoosterModel(
    val objectiveName: String,
    val numClass: Int,
    val numFeatures: Int,
    val baseMargin: Float,
    val trees: Array[Tree],
    val missing: Float,
    val bestScore: Option[Double],
    val bestIteration: Option[Int]) extends Serializable {

  @transient lazy val objective: Objective = Objective.fromName(objectiveName)
  def numGroups: Int = math.max(1, if (objectiveName.startsWith("multi")) numClass else 1)

  /** Raw margins for one row; treeLimit counts boosting rounds. 0 means
    * "default": all rounds, unless early stopping recorded a best
    * iteration — then rounds up to bestIteration+1, matching xgboost's
    * sklearn predict which drops the overfit tail past the best round. */
  def predictMargin(x: Array[Float], treeLimit: Int = 0): Array[Float] = {
    val k = numGroups
    val out = Array.fill(k)(baseMargin)
    val rounds = trees.length / k
    val useRounds =
      if (treeLimit > 0) math.min(treeLimit, rounds)
      else bestIteration match {
        case Some(bi) if bi >= 0 => math.min(bi + 1, rounds)
        case _ => rounds
      }
    var r = 0
    while (r < useRounds) {
      var g = 0
      while (g < k) {
        out(g) += trees(r * k + g).predict(x)
        g += 1
      }
      r += 1
    }
    out
  }

  /** Applies the `missing` sentinel remap then predicts margins. */
  def predictMarginWithMissing(x: Array[Float], treeLimit: Int = 0): Array[Float] = {
    if (!missing.isNaN) {
      var i = 0
      while (i < x.length) { if (x(i) == missing) x(i) = Float.NaN; i += 1 }
    }
    predictMargin(x, treeLimit)
  }

  /** Per-feature importances, normalized to sum 1 (the reference exposes
    * sklearn's `feature_importances_`; xgboost_local_test.py:645-653).
    * The full xgboost get_score surface: "weight" = split count,
    * "gain"/"cover" = AVERAGE split gain / hessian cover per split
    * (xgboost's defaults — total ÷ count), "total_gain"/"total_cover" =
    * the sums. */
  def featureImportances(importanceType: String = "gain"): Array[Double] = {
    val sums = new Array[Double](numFeatures)
    val counts = new Array[Double](numFeatures)
    trees.foreach { t =>
      var i = 0
      while (i < t.numNodes) {
        if (t.left(i) >= 0) {
          val f = t.feature(i)
          counts(f) += 1.0
          importanceType match {
            case "gain" | "total_gain" => sums(f) += t.gain(i)
            case "cover" | "total_cover" => sums(f) += t.cover(i)
            case "weight" => sums(f) += 1.0
            case other => throw new IllegalArgumentException(s"unsupported importance type: $other")
          }
        }
        i += 1
      }
    }
    val imp = importanceType match {
      case "gain" | "cover" => // per-split averages, like xgboost get_score
        sums.zip(counts).map { case (s, c) => if (c > 0) s / c else 0.0 }
      case _ => sums
    }
    val s = imp.sum
    if (s > 0) { var i = 0; while (i < imp.length) { imp(i) /= s; i += 1 } }
    imp
  }
}

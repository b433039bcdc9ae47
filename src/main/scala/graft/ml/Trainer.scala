package graft.ml

import scala.collection.mutable.ArrayBuffer

/** Split search over accumulated histograms — shared by the local trainer
  * and the distributed trainers, which produce identical
  * histogram layouts. All math is XGBoost-style second-order:
  * score(G,H) = T(G)²/(H+λ) with T the L1 soft-threshold, leaf weight
  * −T(G)/(H+λ), split gain ½(scoreL+scoreR−scoreP) − γ.
  */
object SplitFinder {

  final case class Split(
      gain: Double, feature: Int, threshold: Float, binIdx: Int,
      defaultLeft: Boolean, gl: Double, hl: Double, gr: Double, hr: Double)

  @inline def thresholdL1(g: Double, alpha: Double): Double =
    if (g > alpha) g - alpha else if (g < -alpha) g + alpha else 0.0

  @inline def score(g: Double, h: Double, lambda: Double, alpha: Double): Double = {
    val t = thresholdL1(g, alpha)
    t * t / (h + lambda)
  }

  @inline def leafWeight(g: Double, h: Double, lambda: Double, alpha: Double): Double =
    -thresholdL1(g, alpha) / (h + lambda)

  /** Leaf weight with the max_delta_step cap (xgboost: the raw estimate
    * is clipped to ±max_delta_step when the cap is nonzero). */
  @inline def leafWeightP(g: Double, h: Double, p: BoosterParams): Double = {
    val w = leafWeight(g, h, p.lambda, p.alpha)
    if (p.maxDeltaStep > 0.0) {
      if (w > p.maxDeltaStep) p.maxDeltaStep
      else if (w < -p.maxDeltaStep) -p.maxDeltaStep
      else w
    } else w
  }

  /** Node score under the (possibly clipped) weight: with no cap this is
    * T(G)²/(H+λ); with a cap it is the loss reduction achieved AT the
    * clipped weight, −(2·T(G)·w + (H+λ)·w²) — xgboost's
    * CalcGainGivenWeight shape, so capped nodes stop looking better than
    * the cap allows them to be. */
  @inline def scoreP(g: Double, h: Double, p: BoosterParams): Double = {
    if (p.maxDeltaStep <= 0.0) score(g, h, p.lambda, p.alpha)
    else {
      val t = thresholdL1(g, p.alpha)
      val w = leafWeightP(g, h, p)
      -(2.0 * t * w + (h + p.lambda) * w * w)
    }
  }

  /** Finds the best split for one node.
    *
    * Monotone constraints (xgboost's mechanism): a split on a constrained
    * feature is REJECTED unless the child weight order matches the
    * constraint sign, and every candidate's gain is evaluated at weights
    * clamped into the node's inherited [lo, hi] bound — see
    * [[childBounds]] for how bounds propagate.
    *
    * @param hist a level's histograms; this node's starts at `off`, where
    *             off + (f * maxBins + b) * 2 holds Σg and +1 holds Σh over
    *             its non-missing rows with bin b (read in place, not copied)
    * @param features candidate feature indices (colsample subset)
    * @param lo lower weight bound inherited from monotone ancestors
    * @param hi upper weight bound
    */
  def findBest(
      hist: Array[Double], off: Int, maxBins: Int, cuts: BinCuts,
      features: Array[Int], gNode: Double, hNode: Double,
      p: BoosterParams, lo: Double = Double.NegativeInfinity,
      hi: Double = Double.PositiveInfinity,
      allowed: Array[Long] = null): Option[Split] = {
    var best: Split = null
    val mono = p.monotoneConstraints
    var fi = 0
    while (fi < features.length) {
      val f = features(fi)
      val cons = if (mono != null && f < mono.length) mono(f) else 0
      val nCuts = cuts.cuts(f).length
      if (nCuts > 0 && (allowed == null || Interactions.bit(allowed, f))) {
        val base = off + f * maxBins * 2
        // non-missing totals for this feature → derive missing-row stats
        var gSum = 0.0
        var hSum = 0.0
        var b = 0
        while (b <= nCuts) { gSum += hist(base + b * 2); hSum += hist(base + b * 2 + 1); b += 1 }
        val gMiss = gNode - gSum
        val hMiss = hNode - hSum
        val parentScore = scoreP(gNode, hNode, p)

        @inline def admissible(gL: Double, hL: Double, gR: Double, hR: Double): Boolean = {
          if (cons == 0) true
          else {
            val wL = clamp(leafWeightP(gL, hL, p), lo, hi)
            val wR = clamp(leafWeightP(gR, hR, p), lo, hi)
            if (cons > 0) wL <= wR else wL >= wR
          }
        }

        var gl = 0.0
        var hl = 0.0
        var t = 0
        while (t < nCuts) {
          gl += hist(base + t * 2)
          hl += hist(base + t * 2 + 1)
          // candidate A: missing rows go right
          val gL = gl; val hL = hl
          val gR = gNode - gl; val hR = hNode - hl
          if (hL >= p.minChildWeight && hR >= p.minChildWeight &&
              admissible(gL, hL, gR, hR)) {
            val gain = 0.5 * (scoreP(gL, hL, p) +
              scoreP(gR, hR, p) - parentScore) - p.gamma
            if (gain > p.minSplitGain && (best == null || gain > best.gain)) {
              best = Split(gain, f, cuts.cuts(f)(t), t, defaultLeft = false,
                gL, hL, gR, hR)
            }
          }
          // candidate B: missing goes left
          if ((hL + hMiss) >= p.minChildWeight && (hNode - hl - hMiss) >= p.minChildWeight &&
              admissible(gL + gMiss, hL + hMiss, gNode - gl - gMiss, hNode - hl - hMiss)) {
            val gain = 0.5 * (scoreP(gL + gMiss, hL + hMiss, p) +
              scoreP(gNode - gl - gMiss, hNode - hl - hMiss, p) - parentScore) - p.gamma
            if (gain > p.minSplitGain && (best == null || gain > best.gain)) {
              best = Split(gain, f, cuts.cuts(f)(t), t, defaultLeft = true,
                gL + gMiss, hL + hMiss, gNode - gl - gMiss, hNode - hl - hMiss)
            }
          }
          t += 1
        }
      }
      fi += 1
    }
    Option(best)
  }

  @inline def clamp(w: Double, lo: Double, hi: Double): Double =
    if (w < lo) lo else if (w > hi) hi else w

  /** Interaction-constraint bitmask machinery (xgboost semantics: a
    * node's allowed features = parent's allowed ∩ union of the groups
    * containing the parent's split feature; a feature in no group forms a
    * singleton). Masks are Long-word bitsets; `null` = all allowed. */
  object Interactions {
    def bit(mask: Array[Long], f: Int): Boolean =
      (mask(f >> 6) & (1L << (f & 63))) != 0

    /** Per-feature union-of-containing-groups masks, or null if no
      * constraints. */
    def unionMasks(groups: Array[Array[Int]], numFeatures: Int): Array[Array[Long]] = {
      if (groups == null || groups.isEmpty) return null
      val words = (numFeatures + 63) >> 6
      val masks = Array.tabulate(numFeatures) { f =>
        val m = new Array[Long](words)
        m(f >> 6) |= (1L << (f & 63)) // singleton fallback
        m
      }
      groups.foreach { g =>
        g.foreach { f =>
          if (f < numFeatures) g.foreach { o =>
            if (o < numFeatures) masks(f)(o >> 6) |= (1L << (o & 63))
          }
        }
      }
      masks
    }

    /** Child allowed-mask after splitting on `f`: parent ∩ unionMask(f). */
    def childMask(parent: Array[Long], unionMasks: Array[Array[Long]], f: Int): Array[Long] = {
      val u = unionMasks(f)
      if (parent == null) u.clone()
      else {
        val out = new Array[Long](u.length)
        var i = 0
        while (i < u.length) { out(i) = parent(i) & u(i); i += 1 }
        out
      }
    }
  }

  /** Child weight bounds after an accepted split (xgboost's propagation):
    * on a constrained feature the children split the parent's range at
    * the mid of the two child weights; on an unconstrained feature both
    * children inherit the parent's bounds. Returns
    * (loL, hiL, loR, hiR). */
  def childBounds(sp: Split, p: BoosterParams, lo: Double, hi: Double): (Double, Double, Double, Double) = {
    val mono = p.monotoneConstraints
    val cons = if (mono != null && sp.feature < mono.length) mono(sp.feature) else 0
    if (cons == 0) (lo, hi, lo, hi)
    else {
      val wL = clamp(leafWeightP(sp.gl, sp.hl, p), lo, hi)
      val wR = clamp(leafWeightP(sp.gr, sp.hr, p), lo, hi)
      val mid = 0.5 * (wL + wR)
      if (cons > 0) (lo, math.min(hi, mid), math.max(lo, mid), hi)
      else (math.max(lo, mid), hi, lo, math.min(hi, mid))
    }
  }
}

/** Histogram subtraction for depth-wise growth, the one copy that all
  * three growers call (the standard hist-GBT trick, as in LightGBM and
  * XGBoost's `hist`). Past the root, only the lighter child of each split
  * accumulates its histogram; the sibling is derived as parent − child,
  * so per level the rows of at most half the nodes are scanned and, on
  * the distributed paths, only their histograms move. The level's
  * histograms live in one buffer, node slot s at s × `unit`, and the
  * previous level's in a second one; the two swap at each level and are
  * reused from tree to tree.
  *
  * A grower calls, per level:
  *   1. [[begin]]: per node slot, the index of its histogram among the
  *      level's computed ones, or -1 where it is derived; the computed
  *      slots of [[hist]] come back zeroed;
  *   2. either accumulates the computed slots into [[hist]] and calls
  *      [[derive]], or hands [[fill]] the computed histograms packed in
  *      index order (a level job's sum, an allreduce);
  *   3. searches [[hist]] and calls [[split]] for each accepted split in
  *      slot order, whose two children are the next level's next two
  *      slots.
  *
  * A derived sibling is only right when parent and child accumulated the
  * same feature columns. colsample_bylevel < 1 draws a new set per level,
  * so then every node accumulates (`subtract = false`).
  */
private[ml] final class LevelHistograms(unit: Int) {
  private var cur = Array.empty[Double]
  private var prev = Array.empty[Double]
  private var computeOf = Array.empty[Int]
  private var computed = 0
  // per child pair of this level: its parent's slot in the previous level,
  // and whether its left child is the computed one
  private var pairParent = Array.empty[Int]
  private var pairLeft = Array.empty[Boolean]
  // the same, for the splits of the level being searched
  private val splitSlot = new ArrayBuffer[Int]
  private val splitLeft = new ArrayBuffer[Boolean]

  /** This level's histograms, node slot s at s × `unit`. */
  def hist: Array[Double] = cur

  /** How many of this level's histograms are computed, not derived. */
  def numComputed: Int = computed

  /** Starts a level of `nActive` nodes (depth 0 is a new tree's root). */
  def begin(depth: Int, nActive: Int, subtract: Boolean): Array[Int] = {
    val t = prev; prev = cur; cur = t
    if (cur.length < nActive * unit) cur = new Array[Double](nActive * unit)
    if (depth > 0 && subtract) {
      require(nActive == 2 * splitSlot.length, "a level holds the children of the last splits")
      pairParent = splitSlot.toArray
      pairLeft = splitLeft.toArray
    } else {
      pairParent = Array.empty
      pairLeft = Array.empty
    }
    splitSlot.clear()
    splitLeft.clear()
    computeOf = new Array[Int](nActive)
    computed = 0
    var s = 0
    while (s < nActive) {
      if (pairParent.isEmpty || pairLeft(s / 2) == (s % 2 == 0)) {
        computeOf(s) = computed
        computed += 1
        java.util.Arrays.fill(cur, s * unit, (s + 1) * unit, 0.0)
      } else computeOf(s) = -1
      s += 1
    }
    computeOf
  }

  /** Derives each sibling that [[begin]] marked -1: parent − the computed
    * child, from the previous level's histograms. */
  def derive(): Unit = {
    var i = 0
    while (i < pairParent.length) {
      val c = if (pairLeft(i)) 2 * i else 2 * i + 1
      val dBase = (4 * i + 1 - c) * unit // the pair's other slot
      val cBase = c * unit
      val pBase = pairParent(i) * unit
      var j = 0
      while (j < unit) {
        cur(dBase + j) = prev(pBase + j) - cur(cBase + j)
        j += 1
      }
      i += 1
    }
  }

  /** Copies the computed histograms, packed in [[begin]]'s index order,
    * into their slots, then [[derive]]s the rest. */
  def fill(packed: Array[Double]): Unit = {
    var s = 0
    while (s < computeOf.length) {
      if (computeOf(s) >= 0) System.arraycopy(packed, computeOf(s) * unit, cur, s * unit, unit)
      s += 1
    }
    derive()
  }

  /** Records that slot `slot` split with child hessian sums `hl` and `hr`:
    * the lighter child accumulates at the next level. */
  def split(slot: Int, hl: Double, hr: Double): Unit = {
    splitSlot += slot
    splitLeft += (hl <= hr)
  }
}

/** Keyed (stateless) feature subsampling for colsample_bylevel /
  * colsample_bynode: the subset is a pure function of (seed, round,
  * class, depth/node), so every worker — driver-coordinated or barrier —
  * derives the SAME subset with no extra communication, and recomputed
  * partitions stay deterministic. (Per-tree colsample_bytree keeps its
  * sequential-rng draw for backward-compatible models.)
  */
object FeatureSampling {

  @inline private def mix(a: Long, b: Long, c: Long, d: Long): Long = {
    var x = a * 0x9e3779b97f4a7c15L + b * 0xc2b2ae3d27d4eb4fL +
      c * 0x165667b19e3779f9L + d * 0x27d4eb2f165667c5L
    x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL; x ^= (x >>> 33)
    x
  }

  def levelKey(seed: Long, round: Int, cls: Int, depth: Int): Long =
    mix(seed, round.toLong, cls.toLong, 0x1e7e1L + depth.toLong)

  def nodeKey(seed: Long, round: Int, cls: Int, node: Int): Long =
    mix(seed, round.toLong, cls.toLong, 0x0d0deL + (node.toLong << 8))

  /** Sorted subset of `from` with ratio `colsample` (at least 1 element),
    * drawn by a Fisher–Yates prefix shuffle seeded from `key`. */
  def subsample(from: Array[Int], colsample: Double, key: Long): Array[Int] = {
    if (colsample >= 1.0) from
    else {
      val rng = new java.util.Random(key)
      val take = math.max(1, math.round(from.length * colsample).toInt)
      val idx = from.clone()
      var i = 0
      while (i < take) {
        val j = i + rng.nextInt(idx.length - i)
        val t = idx(i); idx(i) = idx(j); idx(j) = t
        i += 1
      }
      val out = java.util.Arrays.copyOf(idx, take)
      java.util.Arrays.sort(out)
      out
    }
  }
}

/** Single-machine histogram GBT trainer — the kernel behind the reference's
  * single-node path (reference `xgboost_core.py:479-513`): runs inside one
  * task after `repartition(1)`, or on the driver over a collected matrix.
  * The distributed paths ([[DistTrainer]], [[BarrierTrainer]]) reuse
  * [[SplitFinder]], [[LevelHistograms]] and the same histogram layout,
  * summing per-partition histograms instead.
  */
object Trainer {
  import DistTrainer.{MaxBins, addTreeMargins, initMargins, sampleFeaturesSeeded}

  /** Mutable per-tree growth state, depth-wise. */
  private final class Growth {
    val feature = new ArrayBuffer[Int]
    val threshold = new ArrayBuffer[Float]
    val defaultLeft = new ArrayBuffer[Boolean]
    val left = new ArrayBuffer[Int]
    val right = new ArrayBuffer[Int]
    val gSum = new ArrayBuffer[Double]
    val hSum = new ArrayBuffer[Double]
    val depth = new ArrayBuffer[Int]
    val gain = new ArrayBuffer[Float]
    val lo = new ArrayBuffer[Double] // monotone weight bounds
    val hi = new ArrayBuffer[Double]
    val allowed = new ArrayBuffer[Array[Long]] // interaction masks (null = all)

    def addNode(g: Double, h: Double, d: Int,
        wLo: Double = Double.NegativeInfinity,
        wHi: Double = Double.PositiveInfinity,
        mask: Array[Long] = null): Int = {
      feature += -1; threshold += 0f; defaultLeft += true
      left += -1; right += -1; gSum += g; hSum += h; depth += d; gain += 0f
      lo += wLo; hi += wHi; allowed += mask
      feature.length - 1
    }

    def toTree(p: BoosterParams): Tree = {
      val n = feature.length
      val w = new Array[Float](n)
      var i = 0
      while (i < n) {
        if (left(i) < 0)
          w(i) = (p.eta * SplitFinder.clamp(
            SplitFinder.leafWeightP(gSum(i), hSum(i), p), lo(i), hi(i))).toFloat
        i += 1
      }
      new Tree(feature.toArray, threshold.toArray, defaultLeft.toArray,
        left.toArray, right.toArray, w, gain.toArray,
        hSum.map(_.toFloat).toArray)
    }
  }

  def train(trainM: TrainMatrix, evalM: Option[TrainMatrix], p0: BoosterParams,
      initTrees: Array[Tree] = Array.empty): BoosterModel = {
    val p = p0.resolved
    require(trainM.numRows > 0, "cannot train on an empty partition")
    val obj = Objective.fromName(p.objective)
    val k = obj.numGroups(p.numClass)
    val n = trainM.numRows
    val m = trainM.numCols
    val cuts = BinCuts.fromMatrix(trainM, p.missing, BinCuts.cutBudget(p.maxBin))
    val binned = BinCuts.binMatrix(trainM, cuts, p.missing)
    val rng = new java.util.Random(p.seed)
    val weights = DistTrainer.effectiveWeights(trainM, p)
    val baseMargin = obj.baseMargin(p.baseScore)
    val margins = initMargins(trainM, baseMargin, k)
    val evalMargins = evalM.map(e => initMargins(e, baseMargin, k))

    // warm start: fold the init booster's trees into the margins and keep
    // them at the head of the ensemble (reference xgb_model semantics —
    // nEstimators more rounds are added on top)
    initTrees.zipWithIndex.foreach { case (t, i) =>
      addTreeMargins(trainM, t, margins, k, i % k, p.missing)
      evalM.zip(evalMargins).foreach { case (e, em) => addTreeMargins(e, t, em, k, i % k, p.missing) }
    }

    val g = new Array[Float](n * k)
    val h = new Array[Float](n * k)
    val gk = new Array[Float](n)
    val hk = new Array[Float](n)
    val levels = new LevelHistograms(m * MaxBins * 2)
    val trees = new ArrayBuffer[Tree]
    trees ++= initTrees
    val metric = p.evalMetric.getOrElse(obj.defaultMetric(p.numClass))
    var bestScore = if (EvalMetric.lowerIsBetter(metric)) Double.MaxValue else Double.MinValue
    var bestIter = -1
    var round = 0
    var stop = false

    while (round < p.numRounds && !stop) {
      obj.gradHess(margins, trainM.labels, weights, k, g, h)
      val sampled = DistTrainer.sampleMask(p, 0, round, n)
      var cls = 0
      while (cls < k) {
        if (k == 1) { System.arraycopy(g, 0, gk, 0, n); System.arraycopy(h, 0, hk, 0, n) }
        else {
          var i = 0
          while (i < n) { gk(i) = g(i * k + cls); hk(i) = h(i * k + cls); i += 1 }
        }
        val features = sampleFeaturesSeeded(m, p.colsampleBytree, rng)
        val tree =
          if (p.growPolicy == "lossguide")
            buildTreeLossGuide(binned, n, m, cuts, gk, hk, sampled, features, p, round, cls)
          else buildTree(binned, n, m, cuts, gk, hk, sampled, features, p, round, cls, levels)
        trees += tree
        addTreeMargins(trainM, tree, margins, k, cls, p.missing)
        evalM.zip(evalMargins).foreach { case (e, em) =>
          addTreeMargins(e, tree, em, k, cls, p.missing)
        }
        cls += 1
      }
      evalM.zip(evalMargins).foreach { case (e, em) =>
        val s = EvalMetric.compute(metric, em, e.labels, e.weights, math.max(k, 2))
        val improved = if (EvalMetric.lowerIsBetter(metric)) s < bestScore else s > bestScore
        if (improved) { bestScore = s; bestIter = round }
        else if (p.earlyStoppingRounds > 0 && round - bestIter >= p.earlyStoppingRounds)
          stop = true
      }
      round += 1
    }

    new BoosterModel(obj.name, p.numClass, m, baseMargin,
      trees.toArray, p.missing,
      if (evalM.isDefined) Some(bestScore) else None,
      // best_iteration is recorded only when early stopping is enabled —
      // predict then defaults to the best rounds (xgboost sklearn
      // semantics); without early stopping all rounds score. The offset
      // counts warm-start rounds, as xgboost does for xgb_model.
      if (evalM.isDefined && p.earlyStoppingRounds > 0)
        Some(initTrees.length / k + bestIter) else None)
  }

  /** Depth-wise growth, one level at a time. Per level, one pass over the
    * rows accumulates the histograms of the nodes that `levels` computes
    * (past the root, the lighter child of each split), `levels` derives
    * their siblings by subtraction, every node's split is searched in
    * place in the level buffer, and one more pass routes each row to its
    * child. colsample_bylevel narrows the accumulated feature set per
    * depth (and turns subtraction off, see [[LevelHistograms]]);
    * colsample_bynode narrows each node's SEARCH set within it; max_leaves
    * (when > 0) caps total leaves — nodes past the budget stay leaves. */
  private def buildTree(
      binned: Array[Byte], n: Int, m: Int, cuts: BinCuts,
      g: Array[Float], h: Array[Float], sampled: Array[Boolean],
      features: Array[Int], p: BoosterParams, round: Int, cls: Int,
      levels: LevelHistograms): Tree = {

    val growth = new Growth
    val unit = m * MaxBins * 2
    // the row's node; -1 = not sampled this round, -2 = settled in a leaf
    val positions = new Array[Int](n)
    var gRoot = 0.0
    var hRoot = 0.0
    var i = 0
    while (i < n) {
      if (sampled == null || sampled(i)) { positions(i) = 0; gRoot += g(i); hRoot += h(i) }
      else positions(i) = -1
      i += 1
    }
    growth.addNode(gRoot, hRoot, 0)
    var leaves = 1
    val um = SplitFinder.Interactions.unionMasks(p.interactionConstraints, m)

    var depth = 0
    var levelStart = 0 // nodes [levelStart, levelEnd) are the current level
    var levelEnd = 1
    while (depth < p.maxDepth && levelStart < levelEnd) {
      val nActive = levelEnd - levelStart
      val levelFeats = FeatureSampling.subsample(features, p.colsampleBylevel,
        FeatureSampling.levelKey(p.seed, round, cls, depth))
      val computeOf = levels.begin(depth, nActive, subtract = p.colsampleBylevel >= 1.0)
      val hist = levels.hist
      i = 0
      while (i < n) {
        val slot = positions(i) - levelStart
        if (slot >= 0 && slot < nActive && computeOf(slot) >= 0) {
          val rowBase = i * m
          val histBase = slot * unit
          val gi = g(i)
          val hi = h(i)
          var fi = 0
          while (fi < levelFeats.length) {
            val f = levelFeats(fi)
            val b = binned(rowBase + f) & 0xff
            if (b != BinCuts.MissingBin) {
              val idx = histBase + (f * MaxBins + b) * 2
              hist(idx) += gi
              hist(idx + 1) += hi
            }
            fi += 1
          }
        }
        i += 1
      }
      levels.derive()
      // split decisions; per slot the split and its left child's id (the
      // right one's is the next), which the routing pass reads unboxed
      val splits = new Array[SplitFinder.Split](nActive)
      val leftKid = new Array[Int](nActive)
      var s = 0
      while (s < nActive) {
        val node = levelStart + s
        val nodeFeats = FeatureSampling.subsample(levelFeats, p.colsampleBynode,
          FeatureSampling.nodeKey(p.seed, round, cls, node))
        if (p.maxLeaves <= 0 || leaves < p.maxLeaves)
          SplitFinder.findBest(hist, s * unit, MaxBins, cuts, nodeFeats,
            growth.gSum(node), growth.hSum(node), p,
            growth.lo(node), growth.hi(node), growth.allowed(node)).foreach { sp =>
            splits(s) = sp
            growth.feature(node) = sp.feature
            growth.threshold(node) = sp.threshold
            growth.defaultLeft(node) = sp.defaultLeft
            growth.gain(node) = sp.gain.toFloat
            val (ll, lh, rl, rh) = SplitFinder.childBounds(sp, p, growth.lo(node), growth.hi(node))
            val cm = if (um == null) null
              else SplitFinder.Interactions.childMask(growth.allowed(node), um, sp.feature)
            growth.left(node) = growth.addNode(sp.gl, sp.hl, depth + 1, ll, lh, cm)
            growth.right(node) = growth.addNode(sp.gr, sp.hr, depth + 1, rl, rh, cm)
            leftKid(s) = growth.left(node)
            levels.split(s, sp.hl, sp.hr)
            leaves += 1
          }
        s += 1
      }
      // route rows to children
      i = 0
      while (i < n) {
        val slot = positions(i) - levelStart
        if (slot >= 0 && slot < nActive) {
          val sp = splits(slot)
          if (sp == null) positions(i) = -2 // settled in a leaf
          else {
            val b = binned(i * m + sp.feature) & 0xff
            val goLeft =
              if (b == BinCuts.MissingBin) sp.defaultLeft
              else b <= sp.binIdx
            positions(i) = if (goLeft) leftKid(slot) else leftKid(slot) + 1
          }
        }
        i += 1
      }
      levelStart = levelEnd
      levelEnd = growth.feature.length
      depth += 1
    }
    growth.toTree(p)
  }

  /** Best-first (lossguide) growth: repeatedly expand the frontier leaf
    * with the highest split gain until max_leaves (or no positive gain
    * remains). Per-node histograms come from a scan over the node's rows;
    * with max_depth > 0 the depth bound still applies (xgboost treats
    * max_depth=0 as unbounded under lossguide — capped at 64 here so row
    * routing stays bounded). Single-node path only: the distributed
    * trainers run depthwise with the max_leaves cap and FitSupport warns
    * on the combination. */
  private def buildTreeLossGuide(
      binned: Array[Byte], n: Int, m: Int, cuts: BinCuts,
      g: Array[Float], h: Array[Float], sampled: Array[Boolean],
      features: Array[Int], p: BoosterParams, round: Int, cls: Int): Tree = {

    val growth = new Growth
    val positions = new Array[Int](n)
    var gRoot = 0.0
    var hRoot = 0.0
    var i = 0
    while (i < n) {
      if (sampled == null || sampled(i)) { positions(i) = 0; gRoot += g(i); hRoot += h(i) }
      else positions(i) = -1
      i += 1
    }
    growth.addNode(gRoot, hRoot, 0)
    val maxLeaves = if (p.maxLeaves > 0) p.maxLeaves else Int.MaxValue
    val depthCap = if (p.maxDepth > 0) p.maxDepth else 64
    val um = SplitFinder.Interactions.unionMasks(p.interactionConstraints, m)

    def nodeHist(node: Int, feats: Array[Int]): Array[Double] = {
      val hist = new Array[Double](m * MaxBins * 2)
      var r = 0
      while (r < n) {
        if (positions(r) == node) {
          val rowBase = r * m
          var fi = 0
          while (fi < feats.length) {
            val f = feats(fi)
            val b = binned(rowBase + f) & 0xff
            if (b != BinCuts.MissingBin) {
              val idx = (f * MaxBins + b) * 2
              hist(idx) += g(r)
              hist(idx + 1) += h(r)
            }
            fi += 1
          }
        }
        r += 1
      }
      hist
    }

    def candidate(node: Int): Option[(Double, Int, SplitFinder.Split)] = {
      if (growth.depth(node) >= depthCap) return None
      val levelFeats = FeatureSampling.subsample(features, p.colsampleBylevel,
        FeatureSampling.levelKey(p.seed, round, cls, growth.depth(node)))
      val nodeFeats = FeatureSampling.subsample(levelFeats, p.colsampleBynode,
        FeatureSampling.nodeKey(p.seed, round, cls, node))
      SplitFinder.findBest(nodeHist(node, levelFeats), 0, MaxBins, cuts, nodeFeats,
        growth.gSum(node), growth.hSum(node), p,
        growth.lo(node), growth.hi(node), growth.allowed(node)).map(sp => (sp.gain, node, sp))
    }

    // highest gain expands first; lower node id breaks ties deterministically
    val queue = scala.collection.mutable.PriorityQueue.empty[(Double, Int, SplitFinder.Split)](
      Ordering.by(t => (t._1, -t._2)))
    candidate(0).foreach(queue.enqueue(_))
    var leaves = 1
    while (queue.nonEmpty && leaves < maxLeaves) {
      val (_, node, sp) = queue.dequeue()
      growth.feature(node) = sp.feature
      growth.threshold(node) = sp.threshold
      growth.defaultLeft(node) = sp.defaultLeft
      growth.gain(node) = sp.gain.toFloat
      val childDepth = growth.depth(node) + 1
      val (ll, lh, rl, rh) = SplitFinder.childBounds(sp, p, growth.lo(node), growth.hi(node))
      val cm = if (um == null) null
        else SplitFinder.Interactions.childMask(growth.allowed(node), um, sp.feature)
      val l = growth.addNode(sp.gl, sp.hl, childDepth, ll, lh, cm)
      val r = growth.addNode(sp.gr, sp.hr, childDepth, rl, rh, cm)
      growth.left(node) = l
      growth.right(node) = r
      i = 0
      while (i < n) {
        if (positions(i) == node) {
          val b = binned(i * m + sp.feature) & 0xff
          val goLeft = if (b == BinCuts.MissingBin) sp.defaultLeft else b <= sp.binIdx
          positions(i) = if (goLeft) l else r
        }
        i += 1
      }
      leaves += 1
      if (leaves < maxLeaves) {
        candidate(l).foreach(queue.enqueue(_))
        candidate(r).foreach(queue.enqueue(_))
      }
    }
    growth.toTree(p)
  }
}

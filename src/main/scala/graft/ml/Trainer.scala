package graft.ml

import scala.collection.mutable.ArrayBuffer

/** Split search over accumulated histograms — called by [[LevelGrower]],
  * the grower of both growth policies on all three training paths. All
  * math is XGBoost-style second-order:
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
    *             off + (f * MaxBins + b) * 2 holds Σg and +1 holds Σh over
    *             its non-missing rows with bin b (read in place, not copied)
    * @param features candidate feature indices (colsample subset)
    * @param lo lower weight bound inherited from monotone ancestors
    * @param hi upper weight bound
    */
  def findBest(
      hist: Array[Double], off: Int, cuts: BinCuts,
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
        val base = off + f * BinCuts.MaxBins * 2
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

/** Histogram subtraction for depth-wise growth, owned by [[LevelGrower]]
  * (the standard hist-GBT trick, as in LightGBM and XGBoost's `hist`).
  * Past the root, only the lighter child of each split accumulates its
  * histogram; the sibling is derived as parent − child, so per level the
  * rows of at most half the nodes are scanned and, on the distributed
  * paths, only their histograms move. The level's histograms live in one
  * buffer, node slot s at s × `unit`, and the previous level's in a
  * second one; the two swap at each level and are reused from tree to
  * tree.
  *
  * Per level:
  *   1. [[begin]]: per node slot, the index of its histogram among the
  *      level's computed ones, or -1 where it is derived;
  *   2. [[fill]]: the computed histograms, packed in index order, go to
  *      their slots, and the rest are derived;
  *   3. the grower searches [[hist]] and calls [[split]] for each
  *      accepted split in slot order, whose two children are the next
  *      level's next two slots.
  *
  * A derived sibling is only right when parent and child accumulated the
  * same feature columns. colsample_bylevel < 1 draws a new set per level,
  * so then every node accumulates (`subtract = false`), as under lossguide.
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
      } else computeOf(s) = -1
      s += 1
    }
    computeOf
  }

  /** Derives each sibling that [[begin]] marked -1: parent − the computed
    * child, from the previous level's histograms. */
  private def derive(): Unit = {
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

/** A tree's nodes in growth order, [[LevelGrower]]'s node table: per node
  * its split, g/h sums, depth, monotone weight bounds and interaction mask
  * (null = all allowed). */
private[ml] final class NodeTable(p: BoosterParams, m: Int) {
  val feature = new ArrayBuffer[Int]
  val binIdx = new ArrayBuffer[Int]
  val threshold = new ArrayBuffer[Float]
  val defaultLeft = new ArrayBuffer[Boolean]
  val left = new ArrayBuffer[Int]
  val right = new ArrayBuffer[Int]
  val gSum = new ArrayBuffer[Double]
  val hSum = new ArrayBuffer[Double]
  val gain = new ArrayBuffer[Float]
  val depth = new ArrayBuffer[Int]
  val lo = new ArrayBuffer[Double]
  val hi = new ArrayBuffer[Double]
  val allowed = new ArrayBuffer[Array[Long]]
  private val um = SplitFinder.Interactions.unionMasks(p.interactionConstraints, m)
  add(0.0, 0.0, 0, Double.NegativeInfinity, Double.PositiveInfinity, null) // the root

  def size: Int = feature.length

  private def add(g: Double, h: Double, d: Int, wLo: Double, wHi: Double,
      mask: Array[Long]): Int = {
    feature += -1; binIdx += -1; threshold += 0f; defaultLeft += true
    left += -1; right += -1; gSum += g; hSum += h; gain += 0f; depth += d
    lo += wLo; hi += wHi; allowed += mask
    size - 1
  }

  /** Records `sp` as the split of `node` and appends its two children. */
  def split(node: Int, sp: SplitFinder.Split): Unit = {
    feature(node) = sp.feature
    binIdx(node) = sp.binIdx
    threshold(node) = sp.threshold
    defaultLeft(node) = sp.defaultLeft
    gain(node) = sp.gain.toFloat
    val (ll, lh, rl, rh) = SplitFinder.childBounds(sp, p, lo(node), hi(node))
    val cm = if (um == null) null
      else SplitFinder.Interactions.childMask(allowed(node), um, sp.feature)
    left(node) = add(sp.gl, sp.hl, depth(node) + 1, ll, lh, cm)
    right(node) = add(sp.gr, sp.hr, depth(node) + 1, rl, rh, cm)
  }

  /** The tree, with each leaf's eta-scaled weight clamped to its bounds. */
  def toTree: Tree = {
    val w = new Array[Float](size)
    var i = 0
    while (i < size) {
      if (left(i) < 0)
        w(i) = (p.eta * SplitFinder.clamp(
          SplitFinder.leafWeightP(gSum(i), hSum(i), p), lo(i), hi(i))).toFloat
      i += 1
    }
    new Tree(feature.toArray, threshold.toArray, defaultLeft.toArray,
      left.toArray, right.toArray, w, gain.toArray, hSum.map(_.toFloat).toArray)
  }
}

/** One level of a tree under growth as a histogram source sees it: the
  * partial tree that rows are routed through, the level's node range
  * [start, end), which of its nodes accumulate (`computeOf`, see
  * [[LevelHistograms.begin]]) and over which features. Made by
  * [[LevelGrower.beginLevel]]; `DistTrainer`'s level job ships it to the
  * workers. */
private[ml] final class TreeLevel(m: Int, feature: Array[Int], binIdx: Array[Int],
    defaultLeft: Array[Boolean], left: Array[Int], right: Array[Int],
    computeOf: Array[Int], features: Array[Int], start: Int, end: Int,
    val histLen: Int) extends Serializable {

  /** One pass over a partition's rows, the one all three paths run. Each
    * row resumes from its node in `pos` (-1: not sampled this round) and
    * steps down the splits appended since, so a row kept from the last
    * level takes one step and a reset row walks from the root. The rows
    * now in a computed node add their g/h (class column `cls` of `k`)
    * into that node's histogram in `out`, packed in compute order; at
    * level 0 `out(histLen)` and `out(histLen + 1)` also get the root's
    * g and h sums. */
  def accumulate(binned: Array[Byte], g: Array[Float], h: Array[Float], k: Int, cls: Int,
      pos: Array[Int], out: Array[Double]): Unit = {
    val unit = m * BinCuts.MaxBins * 2
    var i = 0
    while (i < pos.length) {
      var node = pos(i)
      if (node >= 0) {
        var depth = 0
        while (left(node) >= 0 && depth < 64) {
          val b = binned(i * m + feature(node)) & 0xff
          val goLeft = if (b == BinCuts.MissingBin) defaultLeft(node) else b <= binIdx(node)
          node = if (goLeft) left(node) else right(node)
          depth += 1
        }
        pos(i) = node
        if (node >= start && node < end) {
          val gi = g(i * k + cls)
          val hi = h(i * k + cls)
          if (start == 0) { out(histLen) += gi; out(histLen + 1) += hi }
          val slot = computeOf(node - start)
          if (slot >= 0) {
            val histBase = slot * unit
            var fi = 0
            while (fi < features.length) {
              val f = features(fi)
              val b = binned(i * m + f) & 0xff
              if (b != BinCuts.MissingBin) {
                val idx = histBase + (f * BinCuts.MaxBins + b) * 2
                out(idx) += gi
                out(idx + 1) += hi
              }
              fi += 1
            }
          }
        }
      }
      i += 1
    }
  }

}

private[ml] object TreeLevel {
  /** Starts a tree's row positions: the root, or -1 outside the round's
    * row subsample (`sampled`, null = every row). */
  def resetPositions(pos: Array[Int], sampled: Array[Boolean]): Unit = {
    var i = 0
    while (i < pos.length) { pos(i) = if (sampled == null || sampled(i)) 0 else -1; i += 1 }
  }
}

/** Tree growth under both growth policies, the one grower of all three
  * training paths; only the histogram source differs: a local pass summed
  * through a [[Collective]] in [[Trainer.boost]] (the identity on one
  * node, the socket allreduce in each barrier task), a level job in
  * [[DistTrainer]]. Each of the two runs the level loop:
  * {{{
  * grower.beginTree(features, round, cls)
  * while (grower.beginLevel()) grower.endLevel(histogramsOf(grower.level))
  * val tree = grower.tree
  * }}}
  * where `histogramsOf` sums [[TreeLevel.accumulate]] over every row.
  * [[endLevel]] searches each node of the level over its colsample_bynode
  * subset of the level's colsample_bylevel draw and puts the accepted
  * splits into a frontier; [[beginLevel]] expands frontier nodes, and the
  * children it appends are the next level. The policy picks the nodes it
  * expands, while the leaves stay within max_leaves (when > 0):
  *   - depthwise: every frontier node, in node order, so a level is a
  *     depth of the tree and only the lighter child of each split
  *     accumulates ([[LevelHistograms]]); levels stop at max_depth.
  *   - lossguide: the frontier node of highest gain (the lower node id on
  *     ties), so a level is one split's two children, both accumulated;
  *     depth stops at max_depth, or 64 when max_depth is 0.
  * Level 0 always runs, as it brings the root's g/h sums: with depthwise
  * max_depth = 0 it computes no histogram and the tree is the root leaf. */
private[ml] final class LevelGrower(m: Int, cuts: BinCuts, p: BoosterParams) {
  private val unit = m * BinCuts.MaxBins * 2
  private val lossguide = p.growPolicy == "lossguide"
  // lossguide's max_depth = 0 is unbounded (xgboost), capped so row walks stay bounded
  private val maxDepth = if (lossguide && p.maxDepth <= 0) 64 else p.maxDepth
  private val maxLeaves = if (p.maxLeaves > 0) p.maxLeaves else Int.MaxValue
  private val levels = new LevelHistograms(unit)
  // the searched nodes' accepted splits, not yet expanded, in node order
  private val frontier = new ArrayBuffer[(Int, SplitFinder.Split)]
  private var nodes: NodeTable = _
  private var features: Array[Int] = _
  private var levelFeats: Array[Int] = _
  private var round = 0
  private var cls = 0
  private var levelStart = 0 // nodes [levelStart, levelEnd) are the current level
  private var levelEnd = 0
  private var leaves = 0
  private var current: TreeLevel = _

  def beginTree(features: Array[Int], round: Int, cls: Int): Unit = {
    nodes = new NodeTable(p, m)
    frontier.clear()
    this.features = features
    this.round = round
    this.cls = cls
    levelStart = 0
    levelEnd = 1
    leaves = 1
    current = null
  }

  /** Starts the next level, or returns false when the tree is grown. */
  def beginLevel(): Boolean =
    if (current != null && !expand()) false
    else {
      val depth = nodes.depth(levelStart)
      levelFeats = FeatureSampling.subsample(features, p.colsampleBylevel,
        FeatureSampling.levelKey(p.seed, round, cls, depth))
      val search = depth < maxDepth
      val computeOf =
        if (search) levels.begin(depth, levelEnd - levelStart,
          subtract = !lossguide && p.colsampleBylevel >= 1.0)
        else Array(-1)
      current = new TreeLevel(m, nodes.feature.toArray, nodes.binIdx.toArray,
        nodes.defaultLeft.toArray, nodes.left.toArray, nodes.right.toArray, computeOf,
        levelFeats, levelStart, levelEnd, if (search) levels.numComputed * unit else 0)
      true
    }

  /** The level that [[beginLevel]] started. */
  def level: TreeLevel = current

  /** Ends the level with its histograms summed over every row, in
    * [[TreeLevel.accumulate]]'s layout: puts each node's best split, if
    * any, into the frontier. */
  def endLevel(sums: Array[Double]): Unit = {
    if (levelStart == 0) {
      nodes.gSum(0) = sums(current.histLen)
      nodes.hSum(0) = sums(current.histLen + 1)
    }
    if (nodes.depth(levelStart) < maxDepth) {
      levels.fill(sums)
      var s = 0
      while (s < levelEnd - levelStart) {
        val node = levelStart + s
        val nodeFeats = FeatureSampling.subsample(levelFeats, p.colsampleBynode,
          FeatureSampling.nodeKey(p.seed, round, cls, node))
        SplitFinder.findBest(levels.hist, s * unit, cuts, nodeFeats,
          nodes.gSum(node), nodes.hSum(node), p, nodes.lo(node), nodes.hi(node),
          nodes.allowed(node)).foreach(sp => frontier += (node -> sp))
        s += 1
      }
    }
  }

  /** Expands the policy's frontier nodes and makes their children the
    * level; false when none of them is searched. */
  private def expand(): Boolean =
    if (lossguide) {
      while (leaves < maxLeaves && frontier.nonEmpty) {
        var best = 0
        var i = 1
        while (i < frontier.length) {
          if (java.lang.Double.compare(frontier(i)._2.gain, frontier(best)._2.gain) > 0) best = i
          i += 1
        }
        val (node, sp) = frontier.remove(best)
        levelStart = nodes.size
        split(node, sp)
        levelEnd = nodes.size
        if (leaves < maxLeaves && nodes.depth(levelStart) < maxDepth) return true
      }
      false
    } else {
      val searched = levelStart
      levelStart = nodes.size
      frontier.foreach { case (node, sp) =>
        if (leaves < maxLeaves) { split(node, sp); levels.split(node - searched, sp.hl, sp.hr) }
      }
      frontier.clear()
      levelEnd = nodes.size
      levelStart < levelEnd && nodes.depth(levelStart) < maxDepth
    }

  private def split(node: Int, sp: SplitFinder.Split): Unit = {
    nodes.split(node, sp)
    leaves += 1
  }

  def tree: Tree = nodes.toTree
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

private[ml] object RowSampling {
  /** The row-subsampling draw of all three training paths (the
    * single-node `Trainer` is partition 0): a deterministic
    * Bernoulli(subsample) keyed by (seed, partition, round, row within the
    * partition), so recomputed partitions and retried barrier stages
    * sample identically, and row i of each partition draws its own coin. */
  def sampledRow(seed: Long, partitionId: Int, round: Int, i: Int,
      subsample: Double): Boolean = {
    var x = seed * 6364136223846793005L + partitionId.toLong * 9632455465461L +
      round.toLong * 1442695040888963407L + i.toLong * 2862933555777941757L
    x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL; x ^= (x >>> 33)
    ((x >>> 11).toDouble / (1L << 53).toDouble) < subsample
  }

  /** One partition's [[sampledRow]] draws for a round, or null when every
    * row is used. */
  def sampleMask(p: BoosterParams, partitionId: Int, round: Int,
      n: Int): Array[Boolean] =
    if (p.subsample >= 1.0) null
    else Array.tabulate(n)(i => sampledRow(p.seed, partitionId, round, i, p.subsample))
}

/** One worker's rows and their per-round state, the same on every
  * training path: the single-node task's, each barrier task's and each
  * cached partition of [[DistTrainer]]. Only the matrices and the binned
  * rows are serialized; margins, gradients and row positions are
  * @transient caches, rebuilt deterministically (a replay of the tree
  * prefix) after a deserialization or a recompute. */
private[ml] final class PartState(
    val train: TrainMatrix,
    val eval: TrainMatrix, // null when absent
    val binned: Array[Byte]) extends Serializable {
  @transient private var margins: Array[Float] = _
  @transient private var evalMargins: Array[Float] = _
  @transient private var applied = 0 // trees already folded into margins
  @transient private var gradRound = -1
  @transient var g: Array[Float] = _
  @transient var h: Array[Float] = _
  // row -> its node in the tree UNDER GROWTH (one per (round, cls)): each
  // level advances a row by the one new step instead of re-routing it from
  // the root. The partial tree only appends nodes, so resuming from the
  // stored node reaches the same leaf a root walk would; -1 marks rows
  // outside the round's subsample.
  @transient private var pos: Array[Int] = _
  @transient private var posRound = -1
  @transient private var posCls = -1

  /** Folds the trees of `prefix` not yet applied into the margins; trees
    * are round-major, so tree i adds to class column i % k. */
  def replay(prefix: collection.IndexedSeq[Tree], p: BoosterParams, obj: Objective): Unit = {
    val k = obj.numGroups(p.numClass)
    if (margins == null) {
      val base = obj.baseMargin(p.baseScore)
      margins = Trainer.initMargins(train, base, k)
      evalMargins = if (eval == null) null else Trainer.initMargins(eval, base, k)
      applied = 0
      gradRound = -1
    }
    while (applied < prefix.length) {
      val t = prefix(applied)
      Trainer.addTreeMargins(train, t, margins, k, applied % k, p.missing)
      if (eval != null) Trainer.addTreeMargins(eval, t, evalMargins, k, applied % k, p.missing)
      applied += 1
    }
  }

  /** Sets `g` and `h` to the round's gradients under the round-start tree
    * `prefix`, once per round: xgboost computes grad/hess once for all K
    * class trees of a round. */
  def gradients(prefix: collection.IndexedSeq[Tree], round: Int, p: BoosterParams,
      obj: Objective): Unit = {
    replay(prefix, p, obj)
    if (g == null || gradRound != round) {
      val k = obj.numGroups(p.numClass)
      if (g == null) { g = new Array[Float](train.numRows * k); h = new Array[Float](g.length) }
      if (train.numRows > 0)
        obj.gradHess(margins, train.labels, Trainer.effectiveWeights(train, p), k, g, h)
      gradRound = round
    }
  }

  /** The rows' nodes in the tree of (`round`, `cls`), reset to the root (or
    * -1 outside the round's row subsample) when that tree starts. */
  def positions(pid: Int, round: Int, cls: Int, p: BoosterParams): Array[Int] = {
    if (pos == null || posRound != round || posCls != cls) {
      if (pos == null) pos = new Array[Int](train.numRows)
      TreeLevel.resetPositions(pos, RowSampling.sampleMask(p, pid, round, train.numRows))
      posRound = round
      posCls = cls
    }
    pos
  }

  /** This worker's [[EvalMetric.parts]] under the margins [[replay]] left. */
  def evalParts(metric: String, p: BoosterParams, obj: Objective): Array[Double] =
    if (eval == null) new Array[Double](EvalMetric.size(metric))
    else EvalMetric.parts(metric, evalMargins, eval.labels, eval.weights,
      math.max(obj.numGroups(p.numClass), 2))
}

/** The round state of a fit, shared by every training path: the
  * colsample_bytree draw, the ensemble (warm-start trees at its head, then
  * K trees per round), early stopping on the eval score and the model. */
private[ml] final class Rounds(p: BoosterParams, obj: Objective, initTrees: Array[Tree]) {
  val k: Int = obj.numGroups(p.numClass)
  val metric: String = p.evalMetric.getOrElse(obj.defaultMetric(p.numClass))
  val trees = new ArrayBuffer[Tree] ++= initTrees
  // one sequential draw per tree, the same on every worker of a fit
  private val rng = new java.util.Random(p.seed)
  private val lower = EvalMetric.lowerIsBetter(metric)
  private var bestScore = if (lower) Double.MaxValue else Double.MinValue
  private var bestIter = -1
  private var evaluated = false
  private var stop = false
  private var current = 0

  def round: Int = current
  def running: Boolean = current < p.numRounds && !stop

  /** The next tree's colsample_bytree features out of `m`. */
  def features(m: Int): Array[Int] = Trainer.sampleFeaturesSeeded(m, p.colsampleBytree, rng)

  /** Ends the round with its eval parts summed over every worker
    * ([[EvalMetric.parts]]), or null when the fit has no eval pass. A
    * validation set without rows counts as none. */
  def endRound(evalSums: Array[Double]): Unit = {
    if (evalSums != null && EvalMetric.rows(evalSums) > 0) {
      evaluated = true
      val s = EvalMetric.finish(metric, evalSums)
      val improved = if (lower) s < bestScore else s > bestScore
      if (improved) { bestScore = s; bestIter = current }
      else if (p.earlyStoppingRounds > 0 && current - bestIter >= p.earlyStoppingRounds)
        stop = true
    }
    current += 1
  }

  def model(numFeatures: Int): BoosterModel =
    new BoosterModel(obj.name, p.numClass, numFeatures, obj.baseMargin(p.baseScore),
      trees.toArray, p.missing,
      if (evaluated) Some(bestScore) else None,
      // best_iteration is recorded only when early stopping is enabled —
      // predict then defaults to the best rounds (xgboost sklearn
      // semantics); without early stopping all rounds score. The offset
      // counts warm-start rounds, as xgboost does for xgb_model.
      if (evaluated && p.earlyStoppingRounds > 0) Some(initTrees.length / k + bestIter) else None)
}

/** The boosting loop of every worker — the reference runs the same
  * `xgboost.train` on its single node (`xgboost_core.py:479-513`) and in
  * each barrier task (`:379-430`), and only the communicator differs. So
  * does [[boost]]'s: [[Collective.Local]] on one node, the socket
  * collective in a barrier stage ([[BarrierTrainer]]). Per round it
  * computes the gradients from the round-start margins, grows K trees
  * with [[LevelGrower]] over the allreduced level histograms, folds them
  * into the margins and allreduces the eval parts. [[DistTrainer]] drives
  * the same [[Rounds]] from the driver with a level job per level. Both
  * growth policies run on every path.
  */
object Trainer {

  /** The single-node fit: exact cuts, no communication. Runs inside the one
    * task of `FitSupport.trainSingleNode`, after `repartition(1)`. */
  def train(trainM: TrainMatrix, evalM: Option[TrainMatrix], p0: BoosterParams,
      initTrees: Array[Tree] = Array.empty): BoosterModel = {
    val p = p0.resolved
    require(trainM.numRows > 0, "cannot train on an empty partition")
    val cuts = BinCuts.fromMatrix(trainM, p.missing, BinCuts.cutBudget(p.maxBin))
    boost(Collective.Local, 0,
      new PartState(trainM, evalM.orNull, BinCuts.binMatrix(trainM, cuts, p.missing)),
      cuts, p, initTrees)
  }

  /** Runs every round on partition `pid`'s rows, summing through `coll`.
    * Every worker grows the same splits from the same global sums, so the
    * workers' collective calls stay aligned; a worker without rows still
    * joins each of them (a barrier stage deadlocks otherwise, the
    * constraint Rabit had). */
  private[ml] def boost(coll: Collective, pid: Int, part: PartState, cuts: BinCuts,
      p: BoosterParams, initTrees: Array[Tree]): BoosterModel = {
    val obj = Objective.fromName(p.objective)
    val r = new Rounds(p, obj, initTrees)
    val m = cuts.numFeatures
    val grower = new LevelGrower(m, cuts, p)
    var sums = Array.empty[Double] // a level's histograms, reused from level to level
    while (r.running) {
      part.gradients(r.trees, r.round, p, obj)
      var cls = 0
      while (cls < r.k) {
        grower.beginTree(r.features(m), r.round, cls)
        val pos = part.positions(pid, r.round, cls, p)
        while (grower.beginLevel()) {
          val len = grower.level.histLen + 2
          if (sums.length < len) sums = new Array[Double](len)
          else java.util.Arrays.fill(sums, 0, len, 0.0)
          grower.level.accumulate(part.binned, part.g, part.h, r.k, cls, pos, sums)
          grower.endLevel(coll.allreduce(sums, len))
        }
        r.trees += grower.tree
        cls += 1
      }
      part.replay(r.trees, p, obj)
      val parts = part.evalParts(r.metric, p, obj)
      r.endRound(coll.allreduce(parts, parts.length))
    }
    r.model(m)
  }

  private[ml] def effectiveWeights(mat: TrainMatrix, p: BoosterParams): Array[Float] = {
    if (p.scalePosWeight != 1.0 && p.objective == "binary:logistic") {
      val w = new Array[Float](mat.numRows)
      var i = 0
      while (i < mat.numRows) {
        val base = if (mat.weights == null) 1.0f else mat.weights(i)
        w(i) = if (mat.labels(i) == 1.0f) (base * p.scalePosWeight).toFloat else base
        i += 1
      }
      w
    } else mat.weights
  }

  private[ml] def initMargins(mat: TrainMatrix, base: Float, k: Int): Array[Float] = {
    val out = new Array[Float](mat.numRows * k)
    java.util.Arrays.fill(out, base)
    if (mat.baseMargins != null) {
      var r = 0
      while (r < mat.numRows) {
        var c = 0
        while (c < k) { out(r * k + c) += mat.baseMargins(r); c += 1 }
        r += 1
      }
    }
    out
  }

  /** Folds one tree's contribution into class column `cls` in place (all
    * rows, raw feature values). */
  private[ml] def addTreeMargins(mat: TrainMatrix, tree: Tree, margins: Array[Float],
      k: Int, cls: Int, missing: Float): Unit = {
    val m = mat.numCols
    if (mat.numRows == 0) return
    val row = new Array[Float](m)
    var i = 0
    while (i < mat.numRows) {
      System.arraycopy(mat.values, i * m, row, 0, m)
      if (!missing.isNaN) {
        var f = 0
        while (f < m) { if (row(f) == missing) row(f) = Float.NaN; f += 1 }
      }
      margins(i * k + cls) += tree.predict(row)
      i += 1
    }
  }

  /** colsample_bytree's draw: a sorted subset of 0 until m from the fit's
    * sequential rng (kept for backward-compatible models). */
  private[ml] def sampleFeaturesSeeded(m: Int, colsample: Double,
      rng: java.util.Random): Array[Int] = {
    if (colsample >= 1.0) Array.range(0, m)
    else {
      val take = math.max(1, math.round(m * colsample).toInt)
      val idx = Array.range(0, m)
      var i = 0
      while (i < take) {
        val j = i + rng.nextInt(m - i)
        val t = idx(i); idx(i) = idx(j); idx(j) = t
        i += 1
      }
      java.util.Arrays.sort(idx, 0, take)
      idx.take(take)
    }
  }
}

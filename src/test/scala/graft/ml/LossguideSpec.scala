package graft.ml

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Lossguide growth by [[LevelGrower]] against an oracle: the former
  * single-node grower, which expanded a priority queue of node candidates
  * and scanned every row for each node's histogram and for each split's
  * routing. */
class LossguideSpec extends AnyFunSuite {

  /** The oracle. Best-first (lossguide) growth: repeatedly expand the
    * frontier leaf with the highest split gain until max_leaves (or no
    * positive gain remains). Per-node histograms come from a scan over the
    * node's rows; with max_depth > 0 the depth bound still applies (xgboost
    * treats max_depth=0 as unbounded under lossguide — capped at 64 here so
    * row routing stays bounded). */
  private def buildTreeLossGuide(
      binned: Array[Byte], n: Int, m: Int, cuts: BinCuts,
      g: Array[Float], h: Array[Float], k: Int, cls: Int, sampled: Array[Boolean],
      features: Array[Int], p: BoosterParams, round: Int): Tree = {
    import BinCuts.MaxBins

    val nodes = new NodeTable(p, m)
    val positions = new Array[Int](n)
    TreeLevel.resetPositions(positions, sampled)
    var gRoot = 0.0
    var hRoot = 0.0
    var i = 0
    while (i < n) {
      if (positions(i) == 0) { gRoot += g(i * k + cls); hRoot += h(i * k + cls) }
      i += 1
    }
    nodes.gSum(0) = gRoot
    nodes.hSum(0) = hRoot
    val maxLeaves = if (p.maxLeaves > 0) p.maxLeaves else Int.MaxValue
    val depthCap = if (p.maxDepth > 0) p.maxDepth else 64

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
              hist(idx) += g(r * k + cls)
              hist(idx + 1) += h(r * k + cls)
            }
            fi += 1
          }
        }
        r += 1
      }
      hist
    }

    def candidate(node: Int): Option[(Double, Int, SplitFinder.Split)] = {
      if (nodes.depth(node) >= depthCap) return None
      val levelFeats = FeatureSampling.subsample(features, p.colsampleBylevel,
        FeatureSampling.levelKey(p.seed, round, cls, nodes.depth(node)))
      val nodeFeats = FeatureSampling.subsample(levelFeats, p.colsampleBynode,
        FeatureSampling.nodeKey(p.seed, round, cls, node))
      SplitFinder.findBest(nodeHist(node, levelFeats), 0, cuts, nodeFeats,
        nodes.gSum(node), nodes.hSum(node), p,
        nodes.lo(node), nodes.hi(node), nodes.allowed(node)).map(sp => (sp.gain, node, sp))
    }

    // highest gain expands first; lower node id breaks ties deterministically
    val queue = scala.collection.mutable.PriorityQueue.empty[(Double, Int, SplitFinder.Split)](
      Ordering.by(t => (t._1, -t._2)))
    candidate(0).foreach(queue.enqueue(_))
    var leaves = 1
    while (queue.nonEmpty && leaves < maxLeaves) {
      val (_, node, sp) = queue.dequeue()
      nodes.split(node, sp)
      val l = nodes.left(node)
      val r = nodes.right(node)
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
    nodes.toTree
  }

  /** [[Trainer.train]]'s boosting loop with the oracle growing each tree. */
  private def oracleFit(mat: TrainMatrix, p0: BoosterParams): Array[Tree] = {
    val p = p0.resolved
    val cuts = BinCuts.fromMatrix(mat, p.missing, BinCuts.cutBudget(p.maxBin))
    val part = new PartState(mat, null, BinCuts.binMatrix(mat, cuts, p.missing))
    val obj = Objective.fromName(p.objective)
    val r = new Rounds(p, obj, Array.empty)
    val n = mat.numRows
    while (r.running) {
      part.gradients(r.trees, r.round, p, obj)
      (0 until r.k).foreach { cls =>
        r.trees += buildTreeLossGuide(part.binned, n, mat.numCols, cuts, part.g, part.h, r.k,
          cls, RowSampling.sampleMask(p, 0, r.round, n), r.features(mat.numCols), p, r.round)
      }
      part.replay(r.trees, p, obj)
      r.endRound(null)
    }
    r.trees.toArray
  }

  private final case class Case(seed: Long, k: Int, rows: Int, m: Int, maxLeaves: Int,
      maxDepth: Int, flags: List[Boolean]) {
    def subsample: Boolean = flags(0)
    def bylevel: Boolean = flags(1)
    def bynode: Boolean = flags(2)
    def monotone: Boolean = flags(3)
    def interaction: Boolean = flags(4)
    def weighted: Boolean = flags(5)
    def missing: Boolean = flags(6)
  }

  private def depthOf(t: Tree): Int = {
    val depth = new Array[Int](t.left.length)
    (0 until t.left.length).foreach { i => // children always follow their parent
      if (t.left(i) >= 0) { depth(t.left(i)) = depth(i) + 1; depth(t.right(i)) = depth(i) + 1 }
    }
    depth.max
  }

  test("property: single-node lossguide trees equal the per-node-scan oracle bit for bit: " +
    "K = 1-3, max_leaves 0/3/7, max_depth 0/3/20, subsample, colsample_bylevel/bynode, " +
    "monotone and interaction constraints, weights, missing values") {
    val cases = Gen.listOfN(40, for {
      seed <- Gen.choose(1L, Long.MaxValue)
      k <- Gen.choose(1, 3)
      rows <- Gen.choose(30, 300)
      m <- Gen.choose(2, 6)
      maxLeaves <- Gen.oneOf(0, 3, 7)
      maxDepth <- Gen.oneOf(0, 3, 20)
      flags <- Gen.listOfN(7, Gen.oneOf(false, true))
    } yield Case(seed, k, rows, m, maxLeaves, maxDepth, flags))
      .pureApply(Gen.Parameters.default, Seed(20261021L))
    var capped = 0 // trees that stop at max_leaves
    var deep = 0 // trees past depth 3
    cases.foreach { c =>
      val rng = new java.util.Random(c.seed)
      val values = Array.fill(c.rows * c.m)(
        if (c.missing && rng.nextInt(6) == 0) Float.NaN else (rng.nextGaussian() * 3).toFloat)
      val labels = Array.tabulate(c.rows) { i =>
        val x0 = if (values(i * c.m).isNaN) 0f else values(i * c.m)
        if (c.k == 1) x0 * 2 + values(i * c.m + 1).abs.min(5f) + rng.nextGaussian().toFloat
        else (((if (x0 > 0) 1 else 0) + rng.nextInt(2)) % c.k).toFloat
      }
      val weights = if (c.weighted) Array.fill(c.rows)(0.5f + rng.nextInt(4)) else null
      val mat = new TrainMatrix(c.rows, c.m, values, labels, weights, null)
      val p = BoosterParams(numRounds = 3, seed = c.seed, growPolicy = "lossguide",
        maxLeaves = c.maxLeaves, maxDepth = c.maxDepth,
        objective = if (c.k == 1) "reg:squarederror" else "multi:softprob",
        numClass = if (c.k == 1) 0 else c.k,
        subsample = if (c.subsample) 0.5 else 1.0,
        colsampleBylevel = if (c.bylevel) 0.5 else 1.0,
        colsampleBynode = if (c.bynode) 0.5 else 1.0,
        monotoneConstraints = if (c.monotone) Array.fill(c.m)(rng.nextInt(3) - 1) else null,
        interactionConstraints = if (c.interaction) Array(Array(0, 1), Array(1, c.m - 1)) else null)
      val got = Trainer.train(mat, None, p).trees
      val want = oracleFit(mat, p)
      assert(got.length == want.length, s"$c: ${got.length} vs ${want.length} trees")
      got.zip(want).zipWithIndex.foreach { case ((x, y), t) =>
        def bits(a: Array[Float]) = a.toSeq.map(java.lang.Float.floatToRawIntBits)
        assert(x.feature.toSeq == y.feature.toSeq && x.left.toSeq == y.left.toSeq &&
          x.right.toSeq == y.right.toSeq && x.defaultLeft.toSeq == y.defaultLeft.toSeq &&
          bits(x.threshold) == bits(y.threshold),
          s"$c, tree $t: splits ${x.feature.toSeq} vs ${y.feature.toSeq}")
        assert(bits(x.weight) == bits(y.weight) && bits(x.gain) == bits(y.gain) &&
          bits(x.cover) == bits(y.cover),
          s"$c, tree $t: weights ${x.weight.toSeq} vs ${y.weight.toSeq}")
        if (c.maxLeaves > 0 && x.left.count(_ < 0) == c.maxLeaves) capped += 1
        if (depthOf(x) > 3) deep += 1
      }
    }
    assert(cases.map(_.k).toSet == Set(1, 2, 3) && capped > 0 && deep > 0 &&
      (0 until 7).forall(f => cases.exists(_.flags(f))),
      s"the cases must cover every branch: $capped capped, $deep deep trees")
  }
}

package graft.ml

import org.apache.spark.BarrierTaskContext
import org.apache.spark.sql.DataFrame

import scala.collection.mutable.ArrayBuffer

/** C2/C8: barrier-mode collective training — the faithful re-expression
  * of the reference's distributed path (reference `xgboost_core.py:379-430`
  * `_train_booster` + `utils.py:64-126` Rabit bootstrap):
  *
  *   - N gang-scheduled barrier tasks (`rdd.barrier().mapPartitions`),
  *     exactly the reference's S8 plan shape (`xgboost_core.py:427-430`);
  *   - the Rabit ring is replaced by [[Collective]]: ONE allGather
  *     distributes partition 0's coordinator address (the reference ships
  *     the tracker env the same way, `xgboost_core.py:407-411`), then
  *     per-tree-level histogram allreduces run over persistent TCP. Each
  *     worker contributes its local gradient histogram, receives the
  *     global sum, and derives the SAME split — so every worker grows the
  *     identical tree and "all workers end with the same model", the
  *     invariant that lets only partition 0 emit the booster
  *     (`xgboost_core.py:423-425`);
  *   - traffic per level is O(nodes·features·bins), independent of row
  *     count — Rabit's asymptotics; fine for the tested worker counts,
  *     while [[DistTrainer]] (driver-summed level jobs) remains the
  *     default large-cluster path (SURVEY §7.1 step 7 option b).
  *
  * Determinism: split finding runs on bit-identical global histograms on
  * every worker (the coordinator broadcasts one sum), and feature
  * sampling is seeded by (seed, round, class) — no worker-local
  * randomness leaks into the model structure.
  */
object BarrierTrainer {
  import DistTrainer.{MaxBins, addTreeMargins, initMargins, sampleFeaturesSeeded}

  def train(projected: DataFrame, hasW: Boolean, hasV: Boolean, hasM: Boolean,
      p0: BoosterParams, numWorkers: Int, forceRepartition: Boolean,
      useExt: Boolean = false, esp: Int = 5,
      initTrees: Array[Tree] = Array.empty): BoosterModel = {
    val p = p0.resolved
    val sc = projected.sparkSession.sparkContext
    val input =
      if (forceRepartition || DistTrainer.needsRepartition(projected, numWorkers))
        projected.repartition(numWorkers)
      else projected

    val obj = Objective.fromName(p.objective)
    val k = obj.numGroups(p.numClass)

    // distributed quantile sketch -> bin cuts, broadcast — the same
    // sketch as DistTrainer so both distributed paths bin identically
    val rowsRdd = input.rdd
    val cuts = QuantileCuts.fromRdd(rowsRdd, p.missing, BinCuts.cutBudget(p.maxBin))
    val cutsBc = sc.broadcast(cuts)

    val jsons = rowsRdd.barrier().mapPartitions { it =>
      val ctx = BarrierTaskContext.get()
      val (train, evalOpt) =
        if (useExt) ExternalStorage.buildMatrices(it, hasW, hasV, hasM, esp)
        else TrainMatrix.fromRows(it, hasW, hasV, hasM)
      ctx.barrier() // all matrices built before the collective starts
      // ONE allGather bootstraps the socket collective (the reference's
      // tracker-env exchange, xgboost_core.py:407-411); histogram rounds
      // then run over persistent TCP, like the Rabit ring
      val coll = Collective.bootstrap(ctx)
      val json =
        try trainWorker(coll, ctx.partitionId(), train, evalOpt.orNull, cutsBc.value, k, p, obj, hasV, initTrees)
        finally coll.close()
      // only partition 0 yields (reference xgboost_core.py:423-425) —
      // every worker holds the identical model at this point
      if (ctx.partitionId() == 0) Iterator.single(json) else Iterator.empty
    }.collect()
    require(jsons.nonEmpty, "barrier training yielded no model")
    ModelJson.fromJson(jsons(0))
  }

  /** The full boosting loop, run identically on every worker; local data
    * only contributes through histogram/metric allreduces. Workers with
    * empty partitions still join every collective call (a barrier stage
    * deadlocks otherwise — same constraint Rabit had). */
  private def trainWorker(coll: Collective, pid: Int, mat: TrainMatrix,
      eval: TrainMatrix, cuts: BinCuts, k: Int, p: BoosterParams,
      obj: Objective, hasEval: Boolean, initTrees: Array[Tree]): String = {
    val n = mat.numRows
    val m = cuts.numFeatures
    val binned = BinCuts.binMatrix(mat, cuts, p.missing)
    val weights = DistTrainer.effectiveWeights(mat, p)
    val baseMargin = obj.baseMargin(p.baseScore)

    val margins = initMargins(mat, baseMargin, k)
    val evalMargins = if (eval != null) initMargins(eval, baseMargin, k) else null
    // warm start: fold init trees into local margins (identical on all
    // workers — no collective needed)
    initTrees.zipWithIndex.foreach { case (t, i) =>
      addTreeMargins(mat, t, margins, k, i % k, p.missing)
      if (eval != null) addTreeMargins(eval, t, evalMargins, k, i % k, p.missing)
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
    // same sequential draw order as DistTrainer's driver rng, replicated
    // identically on every worker — the two distributed paths pick the
    // SAME per-tree feature subsets even under colsampleBytree < 1
    val frng = new java.util.Random(p.seed)

    while (round < p.numRounds && !stop) {
      if (n > 0) obj.gradHess(margins, mat.labels, weights, k, g, h)
      var cls = 0
      while (cls < k) {
        if (n > 0) {
          if (k == 1) { System.arraycopy(g, 0, gk, 0, n); System.arraycopy(h, 0, hk, 0, n) }
          else {
            var i = 0
            while (i < n) { gk(i) = g(i * k + cls); hk(i) = h(i * k + cls); i += 1 }
          }
        }
        val features = sampleFeaturesSeeded(m, p.colsampleBytree, frng)
        val sampled = DistTrainer.sampleMask(p, pid, round, n)
        trees += growTreeCollective(coll, binned, n, m, cuts, gk, hk, sampled, features, p, round,
          cls, levels)
        val tree = trees.last
        addTreeMargins(mat, tree, margins, k, cls, p.missing)
        if (eval != null) addTreeMargins(eval, tree, evalMargins, k, cls, p.missing)
        cls += 1
      }
      if (hasEval) {
        val parts = new Array[Double](DistTrainer.metricSize(metric))
        if (eval != null && eval.numRows > 0)
          DistTrainer.metricAccum(metric, evalMargins, eval.labels, eval.weights,
            math.max(k, 2), parts)
        val global = coll.allreduce(parts) // everyone sees the same score
        val s = DistTrainer.finishMetricArr(metric, global)
        val improved = if (EvalMetric.lowerIsBetter(metric)) s < bestScore else s > bestScore
        if (improved) { bestScore = s; bestIter = round }
        else if (p.earlyStoppingRounds > 0 && round - bestIter >= p.earlyStoppingRounds)
          stop = true
      }
      round += 1
    }

    val model = new BoosterModel(obj.name, p.numClass, m, baseMargin,
      trees.toArray, p.missing,
      if (hasEval) Some(bestScore) else None,
      // offset by the init booster's rounds — see DistTrainer's note
      if (hasEval && p.earlyStoppingRounds > 0) Some(initTrees.length / k + bestIter) else None)
    ModelJson.toJson(model)
  }

  /** Depth-wise growth with one histogram allreduce per level, of the
    * nodes that `levels` computes (past the root, the lighter child of
    * each split; [[LevelHistograms]] derives the siblings). All workers
    * execute the same control flow (level counts and the computed
    * children derive from the shared global splits), so collective calls
    * stay aligned. */
  private def growTreeCollective(coll: Collective, binned: Array[Byte],
      n: Int, m: Int, cuts: BinCuts, g: Array[Float], h: Array[Float],
      sampled: Array[Boolean], features: Array[Int], p: BoosterParams,
      round: Int, cls: Int, levels: LevelHistograms): Tree = {
    val unit = m * MaxBins * 2

    val feature = new ArrayBuffer[Int]
    val threshold = new ArrayBuffer[Float]
    val binIdx = new ArrayBuffer[Int]
    val defaultLeft = new ArrayBuffer[Boolean]
    val left = new ArrayBuffer[Int]
    val right = new ArrayBuffer[Int]
    val gSum = new ArrayBuffer[Double]
    val hSum = new ArrayBuffer[Double]
    val gain = new ArrayBuffer[Float]
    val loB = new ArrayBuffer[Double] // monotone weight bounds
    val hiB = new ArrayBuffer[Double]
    val allowedB = new ArrayBuffer[Array[Long]] // interaction masks (null = all)
    val um = SplitFinder.Interactions.unionMasks(p.interactionConstraints, m)
    def addNode(gs: Double, hs: Double,
        wLo: Double = Double.NegativeInfinity,
        wHi: Double = Double.PositiveInfinity,
        mask: Array[Long] = null): Int = {
      feature += -1; threshold += 0f; binIdx += -1; defaultLeft += true
      left += -1; right += -1; gSum += gs; hSum += hs; gain += 0f
      loB += wLo; hiB += wHi; allowedB += mask
      feature.length - 1
    }

    val positions = new Array[Int](n)
    var gRootLocal = 0.0
    var hRootLocal = 0.0
    var i = 0
    while (i < n) {
      if (sampled == null || sampled(i)) { positions(i) = 0; gRootLocal += g(i); hRootLocal += h(i) }
      else positions(i) = -1
      i += 1
    }
    val rootStats = coll.allreduce(Array(gRootLocal, hRootLocal))
    addNode(rootStats(0), rootStats(1))

    var depth = 0
    var levelStart = 0
    var levelEnd = 1
    var leaves = 1
    while (depth < p.maxDepth && levelStart < levelEnd) {
      val nActive = levelEnd - levelStart
      // keyed (seed, round, cls, depth) sampling: every worker derives the
      // same per-level subset with no extra collective — and the same
      // subset as DistTrainer, keeping the two distributed paths in parity
      val levelFeats = FeatureSampling.subsample(features, p.colsampleBylevel,
        FeatureSampling.levelKey(p.seed, round, cls, depth))
      val computeSlot = levels.begin(depth, nActive, subtract = p.colsampleBylevel >= 1.0)
      // only the computed nodes' histograms are accumulated and allreduced;
      // every worker derives their siblings from the same global sums
      val localHist = new Array[Double](levels.numComputed * unit)
      i = 0
      while (i < n) {
        val slot = positions(i) - levelStart
        if (slot >= 0 && slot < nActive && computeSlot(slot) >= 0) {
          val rowBase = i * m
          val histBase = computeSlot(slot) * unit
          var fi = 0
          while (fi < levelFeats.length) {
            val f = levelFeats(fi)
            val b = binned(rowBase + f) & 0xff
            if (b != BinCuts.MissingBin) {
              val idx = histBase + (f * MaxBins + b) * 2
              localHist(idx) += g(i)
              localHist(idx + 1) += h(i)
            }
            fi += 1
          }
        }
        i += 1
      }
      levels.fill(coll.allreduce(localHist)) // the Rabit-equivalent step
      val hist = levels.hist

      val splits = new Array[SplitFinder.Split](nActive)
      var s = 0
      while (s < nActive) {
        val node = levelStart + s
        val nodeFeats = FeatureSampling.subsample(levelFeats, p.colsampleBynode,
          FeatureSampling.nodeKey(p.seed, round, cls, node))
        if (p.maxLeaves <= 0 || leaves < p.maxLeaves)
          SplitFinder.findBest(hist, s * unit, MaxBins, cuts, nodeFeats,
            gSum(node), hSum(node), p, loB(node), hiB(node), allowedB(node)).foreach { sp =>
            splits(s) = sp
            feature(node) = sp.feature
            threshold(node) = sp.threshold
            binIdx(node) = sp.binIdx
            defaultLeft(node) = sp.defaultLeft
            gain(node) = sp.gain.toFloat
            val (ll, lh, rl, rh) = SplitFinder.childBounds(sp, p, loB(node), hiB(node))
            val cm = if (um == null) null
              else SplitFinder.Interactions.childMask(allowedB(node), um, sp.feature)
            left(node) = addNode(sp.gl, sp.hl, ll, lh, cm)
            right(node) = addNode(sp.gr, sp.hr, rl, rh, cm)
            levels.split(s, sp.hl, sp.hr)
            leaves += 1
          }
        s += 1
      }
      i = 0
      while (i < n) {
        val node = positions(i)
        if (node >= levelStart && node < levelEnd) {
          val sp = splits(node - levelStart)
          if (sp == null) positions(i) = -2
          else {
            val b = binned(i * m + sp.feature) & 0xff
            val goLeft =
              if (b == BinCuts.MissingBin) sp.defaultLeft
              else b <= sp.binIdx
            positions(i) = if (goLeft) left(node) else right(node)
          }
        }
        i += 1
      }
      levelStart = levelEnd
      levelEnd = feature.length
      depth += 1
    }

    val nn = feature.length
    val w = new Array[Float](nn)
    i = 0
    while (i < nn) {
      if (left(i) < 0)
        w(i) = (p.eta * SplitFinder.clamp(
          SplitFinder.leafWeightP(gSum(i), hSum(i), p), loB(i), hiB(i))).toFloat
      i += 1
    }
    new Tree(feature.toArray, threshold.toArray, defaultLeft.toArray,
      left.toArray, right.toArray, w, gain.toArray,
      hSum.map(_.toFloat).toArray)
  }
}

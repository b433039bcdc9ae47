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
  *     worker contributes its local gradient histogram (and at the root
  *     level its g/h sums), receives the global sum, and derives the SAME
  *     split with [[LevelGrower]], the grower of every training path — so
  *     every worker grows the identical tree and "all workers end with
  *     the same model", the invariant that lets only partition 0 emit the
  *     booster (`xgboost_core.py:423-425`);
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
  import DistTrainer.{addTreeMargins, initMargins, sampleFeaturesSeeded}

  def train(projected: DataFrame, hasW: Boolean, hasV: Boolean, hasM: Boolean,
      p0: BoosterParams, rule: ObjectiveRule, numWorkers: Int, forceRepartition: Boolean,
      useExt: Boolean = false, esp: Int = 5,
      initTrees: Array[Tree] = Array.empty): BoosterModel = {
    val sc = projected.sparkSession.sparkContext
    val input =
      if (forceRepartition || DistTrainer.needsRepartition(projected, numWorkers))
        projected.repartition(numWorkers)
      else projected

    // distributed quantile sketch -> bin cuts, broadcast — the same
    // sketch as DistTrainer so both distributed paths bin identically;
    // it gathers the labels the objective is resolved from
    val rowsRdd = input.rdd
    val (sketches, labels) = QuantileCuts.sketch(rowsRdd, p0.missing, rule.countsClasses)
    val p = ObjectiveRule.orThrow(rule.params(p0, labels)).resolved
    val obj = Objective.fromName(p.objective)
    val k = obj.numGroups(p.numClass)
    val cutsBc = sc.broadcast(QuantileCuts.cuts(sketches, BinCuts.cutBudget(p.maxBin)))

    val models = rowsRdd.barrier().mapPartitions { it =>
      val ctx = BarrierTaskContext.get()
      val (train, evalOpt) =
        if (useExt) ExternalStorage.buildMatrices(it, hasW, hasV, hasM, esp)
        else TrainMatrix.fromRows(it, hasW, hasV, hasM)
      // ONE allGather bootstraps the socket collective (the reference's
      // tracker-env exchange, xgboost_core.py:407-411); histogram rounds
      // then run over persistent TCP, like the Rabit ring. The allGather
      // waits for every task, each of which has built its matrix by then.
      val coll = Collective.bootstrap(ctx)
      val model =
        try trainWorker(coll, ctx.partitionId(), train, evalOpt.orNull, cutsBc.value, k, p, obj, hasV, initTrees)
        finally coll.close()
      // only partition 0 yields (reference xgboost_core.py:423-425) —
      // every worker holds the identical model at this point
      if (ctx.partitionId() == 0) Iterator.single(model) else Iterator.empty
    }.collect()
    require(models.nonEmpty, "barrier training yielded no model")
    models(0)
  }

  /** The full boosting loop, run identically on every worker; local data
    * only contributes through histogram/metric allreduces. Workers with
    * empty partitions still join every collective call (a barrier stage
    * deadlocks otherwise — same constraint Rabit had). */
  private def trainWorker(coll: Collective, pid: Int, mat: TrainMatrix,
      eval: TrainMatrix, cuts: BinCuts, k: Int, p: BoosterParams,
      obj: Objective, hasEval: Boolean, initTrees: Array[Tree]): BoosterModel = {
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
    val grower = new LevelGrower(m, cuts, p)
    val pos = new Array[Int](n)
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
        val features = sampleFeaturesSeeded(m, p.colsampleBytree, frng)
        grower.beginTree(features, round, cls)
        TreeLevel.resetPositions(pos, DistTrainer.sampleMask(p, pid, round, n))
        // one allreduce per level, the Rabit-equivalent step: every worker
        // grows the same splits from the same global sums, so the workers'
        // collective calls stay aligned
        while (grower.beginLevel()) {
          val local = new Array[Double](grower.level.histLen + 2)
          grower.level.accumulate(binned, g, h, k, cls, pos, local)
          grower.endLevel(coll.allreduce(local))
        }
        val tree = grower.tree
        trees += tree
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

    new BoosterModel(obj.name, p.numClass, m, baseMargin,
      trees.toArray, p.missing,
      if (hasEval) Some(bestScore) else None,
      // offset by the init booster's rounds — see DistTrainer's note
      if (hasEval && p.earlyStoppingRounds > 0) Some(initTrees.length / k + bestIter) else None)
  }
}

package graft.ml

import org.apache.spark.BarrierTaskContext
import org.apache.spark.sql.DataFrame

/** C2/C8: barrier-mode collective training — the faithful re-expression
  * of the reference's distributed path (reference `xgboost_core.py:379-430`
  * `_train_booster` + `utils.py:64-126` Rabit bootstrap):
  *
  *   - N gang-scheduled barrier tasks (`rdd.barrier().mapPartitions`),
  *     exactly the reference's S8 plan shape (`xgboost_core.py:427-430`);
  *   - each task runs the single-node boosting loop, [[Trainer.boost]],
  *     over a socket [[Collective]] in place of the Rabit ring: ONE
  *     allGather distributes partition 0's coordinator address (the
  *     reference ships the tracker env the same way,
  *     `xgboost_core.py:407-411`), then the per-level histogram and
  *     per-round eval allreduces run over persistent TCP. Every worker
  *     derives the same splits from the same global sums — so "all
  *     workers end with the same model", the invariant that lets only
  *     partition 0 emit the booster (`xgboost_core.py:423-425`);
  *   - traffic per level is O(nodes·features·bins), independent of row
  *     count — Rabit's asymptotics; fine for the tested worker counts,
  *     while [[DistTrainer]] (driver-summed level jobs) remains the
  *     default large-cluster path (SURVEY §7.1 step 7 option b).
  *
  * This object holds only what differs from the single-node path: the
  * sketched cuts, the per-task matrix build and the collective's
  * bootstrap. Trees grow depthwise, as on [[DistTrainer]].
  */
object BarrierTrainer {

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
    val p = ObjectiveRule.orThrow(rule.params(p0, labels)).resolved.copy(growPolicy = "depthwise")
    val cutsBc = sc.broadcast(QuantileCuts.cuts(sketches, BinCuts.cutBudget(p.maxBin)))

    val models = rowsRdd.barrier().mapPartitions { it =>
      val ctx = BarrierTaskContext.get()
      val cuts = cutsBc.value
      val (train, evalOpt) =
        if (useExt) ExternalStorage.buildMatrices(it, hasW, hasV, hasM, esp)
        else TrainMatrix.fromRows(it, hasW, hasV, hasM)
      val part = new PartState(train, evalOpt.orNull, BinCuts.binMatrix(train, cuts, p.missing))
      // ONE allGather bootstraps the socket collective (the reference's
      // tracker-env exchange, xgboost_core.py:407-411); histogram rounds
      // then run over persistent TCP, like the Rabit ring. The allGather
      // waits for every task, each of which has built its matrix by then.
      val coll = Collective.bootstrap(ctx)
      val model =
        try Trainer.boost(coll, ctx.partitionId(), part, cuts, p, initTrees)
        finally coll.close()
      // only partition 0 yields (reference xgboost_core.py:423-425) —
      // every worker holds the identical model at this point
      if (ctx.partitionId() == 0) Iterator.single(model) else Iterator.empty
    }.collect()
    require(models.nonEmpty, "barrier training yielded no model")
    models(0)
  }
}

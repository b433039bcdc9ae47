package graft.ml

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
import org.apache.spark.storage.StorageLevel

/** Distributed training via driver-coordinated histogram aggregation.
  *
  * The reference's distributed path gang-schedules N barrier tasks that run
  * a Rabit allreduce ring (reference `xgboost_core.py:379-430`,
  * `utils.py:64-126`). The idiomatic Spark re-expression (SURVEY §7.1
  * step 7, option b) keeps ONE global model on the driver and sums
  * per-partition gradient histograms on it, one Spark job per tree level
  * ([[BarrierTrainer]] is the gang-scheduled faithful alternative):
  *
  *   - data: ONE cached RDD of [[PartState]] (binned matrix per partition),
  *     persisted MEMORY_AND_DISK and never re-mapped — margins live as
  *     @transient worker-side state, deterministically REPLAYED from the
  *     broadcast tree prefix if a partition is evicted or recomputed, so
  *     there is no per-round lineage growth, no re-persist churn, and no
  *     per-round materialization job;
  *   - per level: one single-stage `sc.runJob` of a [[LevelJob]], which
  *     accumulates (node × feature × bin) grad/hess sums per partition.
  *     The job function is a named class, not a closure, so
  *     `SparkContext.clean` has nothing to parse, and the partial tree
  *     and the level's features ride in the task binary as its fields
  *     (no per-level broadcasts). A [[SumInto]] result handler adds each
  *     partition's histogram into one driver buffer as its task finishes
  *     → the driver grows the tree with the same [[LevelGrower]] as
  *     the single-node and barrier paths → every worker sees the
  *     identical tree, the invariant Rabit provided;
  *   - gradients: computed once per round from ROUND-START margins for
  *     all K classes (xgboost semantics — numWorkers must not change the
  *     model), memoized on the PartState;
  *   - cuts: distributed quantile sketch ([[QuantileCuts]]), broadcast;
  *   - rounds: the driver loop steps the [[Rounds]] of the single-node and
  *     barrier loop ([[Trainer.boost]]) — the colsample_bytree draw, the
  *     ensemble, early stopping, the model — and each partition's
  *     [[PartState]] replays the same margins code.
  *
  * Trade-off of the single-stage level job: the driver receives all N
  * partition histograms per level, streamed into one buffer, where a
  * `treeAggregate` sends it about √N of them for N ≥ 6 through an extra
  * shuffle stage. Spark aborts a job whose results together exceed
  * spark.driver.maxResultSize (1g by default), so a level whose N
  * histograms would pass half of it (e.g. 500 features at depth 6 and
  * N = 64, ~33 MB each) sums them on executors instead ([[treeSum]]),
  * sending the driver one. The `q_ml_*` queries train with N = 2-8.
  *
  * At scale this shuffles the training set once (the repartition), then
  * only moves O(nodes·features·bins) histograms per level — independent of
  * row count, the property that makes histogram GBT viable at 100 TB.
  */
object DistTrainer {
  private[ml] val MaxBins = 256

  /** C7: skip the shuffle iff the optimized plan already ends in a
    * round-robin Repartition with the target partition count — a direct
    * pattern match on the plan instead of the reference's explain-text
    * parsing (reference `xgboost_core.py:291-321`). */
  def needsRepartition(df: DataFrame, n: Int): Boolean =
    df.queryExecution.optimizedPlan match {
      case Repartition(numPartitions, true, _) => numPartitions != n
      case _: RepartitionByExpression => true
      case _ => true
    }

  def train(projected: DataFrame, hasW: Boolean, hasV: Boolean, hasM: Boolean,
      p0: BoosterParams, rule: ObjectiveRule, numWorkers: Int, forceRepartition: Boolean,
      useExt: Boolean = false, esp: Int = 5,
      initTrees: Array[Tree] = Array.empty): BoosterModel = {
    val spark = projected.sparkSession
    val sc = spark.sparkContext
    val input =
      if (forceRepartition || needsRepartition(projected, numWorkers))
        projected.repartition(numWorkers)
      else projected

    // ---- distributed per-feature quantile sketch -> bin cuts; the same
    // pass gathers the labels the objective is resolved from ----
    val rowsRdd = input.rdd
    val (sketches, labels) = QuantileCuts.sketch(rowsRdd, p0.missing, rule.countsClasses)
    val p = ObjectiveRule.orThrow(rule.params(p0, labels)).resolved
    val obj = Objective.fromName(p.objective)
    val cuts = QuantileCuts.cuts(sketches, BinCuts.cutBudget(p.maxBin))
    val numFeatures = cuts.numFeatures
    val cutsBc = sc.broadcast(cuts)

    // ---- build per-partition state ONCE ----
    val state: RDD[PartState] = rowsRdd.mapPartitions { it =>
      val (train, evalOpt) =
        if (useExt) ExternalStorage.buildMatrices(it, hasW, hasV, hasM, esp)
        else TrainMatrix.fromRows(it, hasW, hasV, hasM)
      Iterator.single(new PartState(train, evalOpt.orNull,
        BinCuts.binMatrix(train, cutsBc.value, p.missing)))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    state.count() // materialize once

    // warm start: init trees head the ensemble; the broadcast-prefix
    // margin replay folds them in on every worker automatically
    val r = new Rounds(p, obj, initTrees)
    // Round-start tree prefix: gradients for ALL K class trees of the
    // round derive from these margins (xgboost computes grad/hess once
    // per round; advancing margins between classes would train a
    // different multi:softprob model than the single-node path).
    var prefixBc = sc.broadcast(r.trees.toArray)
    val maxResultSize = resultSizeLimit(sc)
    val grower = new LevelGrower(numFeatures, cuts, p)

    while (r.running) {
      var cls = 0
      while (cls < r.k) {
        r.trees += growTree(state, prefixBc, grower, r.features(numFeatures), cls, r.round, p,
          obj, maxResultSize)
        cls += 1
      }
      // margins incl. this round: the eval pass's and the next round's prefix
      prefixBc.destroy()
      prefixBc = sc.broadcast(r.trees.toArray)
      r.endRound(if (!hasV) null else {
        val job = new EvalJob(prefixBc, p, obj, r.metric)
        if (resultsFit(state.getNumPartitions, EvalMetric.size(r.metric), maxResultSize)) {
          val sum = new SumInto
          sc.runJob(state, job, state.partitions.indices, sum)
          sum.total
        } else treeSum(state, job)
      })
    }
    prefixBc.destroy()
    state.unpersist(blocking = false)
    r.model(numFeatures)
  }

  // ---- one tree: [[LevelGrower]] over one single-stage level job per level ----
  //
  // Histogram subtraction ([[LevelHistograms]]): past the root only the
  // LIGHTER child of each split accumulates its histogram on the workers,
  // and the driver derives its sibling as parent - child. Workers touch
  // at most half the rows per level past the root, and the level job
  // moves histograms for only ~half the nodes.
  //
  // The single-stage level job is submitted here, in growTree itself: its
  // call site names the job in Spark's UI and event log.
  private def growTree(state: RDD[PartState], prefixBc: Broadcast[Array[Tree]],
      grower: LevelGrower, features: Array[Int], cls: Int, round: Int, p: BoosterParams,
      obj: Objective, maxResultSize: Long): Tree = {
    val sc = state.sparkContext
    grower.beginTree(features, round, cls)
    while (grower.beginLevel()) {
      val len = grower.level.histLen + 2
      val job = new LevelJob(prefixBc, cls, round, p, obj, grower.level)
      val sums =
        if (resultsFit(state.getNumPartitions, len, maxResultSize)) {
          val sum = new SumInto
          sc.runJob(state, job, state.partitions.indices, sum)
          sum.total
        } else treeSum(state, job)
      grower.endLevel(if (sums == null) new Array[Double](len) else sums)
    }
    grower.tree
  }

  /** spark.driver.maxResultSize in bytes, 0 = no limit. */
  private[ml] def resultSizeLimit(sc: SparkContext): Long =
    sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")

  /** Whether one job's `numPartitions` results of `len` doubles each fit in
    * half of spark.driver.maxResultSize (`maxResultSize`, 0 = no limit):
    * Spark aborts a job whose task results together exceed it. If they
    * do, the caller runs one single-stage job whose [[SumInto]] streams
    * them into one driver buffer; if not, [[treeSum]]. [[QuantileCuts]]
    * applies the same rule to its summaries. */
  private[ml] def resultsFit(numPartitions: Int, len: Long, maxResultSize: Long): Boolean =
    maxResultSize <= 0 || numPartitions * (8L * len + 1024) <= maxResultSize / 2

  /** Adds each task's `Array[Double]` into the first one received, as
    * tasks finish (the order `fold`'s merge uses): the driver holds one
    * buffer, not N. Spark calls it on one thread. */
  private final class SumInto extends ((Int, Array[Double]) => Unit) {
    var total: Array[Double] = _
    def apply(partition: Int, a: Array[Double]): Unit = total = addInto(total, a)
  }

  /** The sum of `job`'s per-partition arrays when their N results would not
    * fit the driver (many partitions or wide histograms): a `treeAggregate`
    * sums them on executors and only the final sum reaches the driver, at
    * the cost of shuffle stages and closure cleaning. */
  private def treeSum[T](rdd: RDD[T],
      job: (TaskContext, Iterator[T]) => Array[Double]): Array[Double] =
    rdd.mapPartitions(it => Iterator.single(job(TaskContext.get(), it)))
      .treeAggregate(null: Array[Double], addInto, addInto, 2, finalAggregateOnExecutor = true)

  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] =
    if (a == null) b
    else if (b == null) a
    else {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

  /** One level's pass over a partition ([[TreeLevel.accumulate]]): the
    * level's computed histograms, then the root's g and h sums (filled on
    * the root level only). A named class rather than a closure:
    * `SparkContext.clean` skips it, and its fields are the level and the
    * round's tree prefix. */
  private final class LevelJob(prefixBc: Broadcast[Array[Tree]], cls: Int, round: Int,
      p: BoosterParams, obj: Objective, level: TreeLevel)
      extends ((TaskContext, Iterator[PartState]) => Array[Double]) with Serializable {

    def apply(ctx: TaskContext, it: Iterator[PartState]): Array[Double] = {
      val out = new Array[Double](level.histLen + 2)
      it.foreach { ps =>
        ps.gradients(prefixBc.value, round, p, obj)
        level.accumulate(ps.binned, ps.g, ps.h, obj.numGroups(p.numClass), cls,
          ps.positions(ctx.partitionId(), round, cls, p), out)
      }
      out
    }
  }

  /** The per-round eval pass over a partition: its [[EvalMetric.parts]]
    * under the margins of `treesBc`. */
  private final class EvalJob(treesBc: Broadcast[Array[Tree]], p: BoosterParams,
      obj: Objective, metric: String)
      extends ((TaskContext, Iterator[PartState]) => Array[Double]) with Serializable {

    def apply(ctx: TaskContext, it: Iterator[PartState]): Array[Double] = {
      val a = new Array[Double](EvalMetric.size(metric))
      it.foreach { ps =>
        ps.replay(treesBc.value, p, obj)
        addInto(a, ps.evalParts(metric, p, obj))
      }
      a
    }
  }

  /** The row-subsampling draw of all three training paths (the
    * single-node `Trainer` is partition 0): a deterministic
    * Bernoulli(subsample) keyed by (seed, partition, round, row within the
    * partition), so recomputed partitions and retried barrier stages
    * sample identically, and row i of each partition draws its own coin. */
  private[ml] def sampledRow(seed: Long, partitionId: Int, round: Int, i: Int,
      subsample: Double): Boolean = {
    var x = seed * 6364136223846793005L + partitionId.toLong * 9632455465461L +
      round.toLong * 1442695040888963407L + i.toLong * 2862933555777941757L
    x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL; x ^= (x >>> 33)
    ((x >>> 11).toDouble / (1L << 53).toDouble) < subsample
  }

  /** One partition's [[sampledRow]] draws for a round, or null when every
    * row is used. */
  private[ml] def sampleMask(p: BoosterParams, partitionId: Int, round: Int,
      n: Int): Array[Boolean] =
    if (p.subsample >= 1.0) null
    else Array.tabulate(n)(i => sampledRow(p.seed, partitionId, round, i, p.subsample))
}

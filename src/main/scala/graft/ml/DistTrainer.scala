package graft.ml

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** Distributed training via driver-coordinated histogram aggregation.
  *
  * The reference's distributed path gang-schedules N barrier tasks that run
  * a Rabit allreduce ring (reference `xgboost_core.py:379-430`,
  * `utils.py:64-126`). The idiomatic Spark re-expression (SURVEY §7.1
  * step 7, option b) keeps ONE global model on the driver and sums
  * per-partition gradient histograms on it, one Spark job per tree level
  * ([[BarrierTrainer]] is the gang-scheduled faithful alternative):
  *
  *   - data: ONE cached RDD[PartState] (binned matrix per partition),
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
  *   - cuts: distributed quantile sketch ([[QuantileCuts]]), broadcast.
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

  /** Per-partition training state. The matrix/binned payload is the only
    * serialized state; margins and gradients are @transient caches,
    * rebuilt deterministically (replay of the broadcast tree prefix) on
    * deserialization or recompute. */
  private final class PartState(
      val train: TrainMatrix,
      val eval: TrainMatrix, // null when absent
      val binned: Array[Byte]) extends Serializable {
    @transient var margins: Array[Float] = _
    @transient var evalMargins: Array[Float] = _
    @transient var applied: Int = 0 // trees already folded into margins
    @transient var gCache: Array[Float] = _
    @transient var hCache: Array[Float] = _
    @transient var cacheRound: Int = -1
    // row → current node of the tree UNDER GROWTH (one per (round, cls)):
    // each level advances a row by the one new step instead of re-routing
    // from the root (O(1) vs O(depth) binned reads per row per level —
    // a measured ~6-8% off q_ml_train_predict_scale at 100×; the
    // remaining cost is the histogram accumulate + per-round gradient
    // passes, linear in rows by contract — SCALE.md r17). The partial
    // tree only appends nodes, so resuming from the stored node reaches
    // the same leaf a root walk would; on eviction/recompute the cache
    // is null and the walk restarts from the root — same result, the
    // determinism story margins already have. -1 marks rows outside the
    // round's subsample.
    @transient var nodePos: Array[Int] = _
    @transient var posRound: Int = -1
    @transient var posCls: Int = -1
  }

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
    val k = obj.numGroups(p.numClass)
    val cuts = QuantileCuts.cuts(sketches, BinCuts.cutBudget(p.maxBin))
    val numFeatures = cuts.numFeatures
    val cutsBc = sc.broadcast(cuts)

    // ---- build per-partition state ONCE ----
    val state: RDD[PartState] = rowsRdd.mapPartitions { it =>
      val (train, evalOpt) =
        if (useExt) ExternalStorage.buildMatrices(it, hasW, hasV, hasM, esp)
        else TrainMatrix.fromRows(it, hasW, hasV, hasM)
      val eval = evalOpt.orNull
      Iterator.single(new PartState(train, eval,
        BinCuts.binMatrix(train, cutsBc.value, p.missing)))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    state.count() // materialize once

    val baseMargin = obj.baseMargin(p.baseScore)
    val trees = new ArrayBuffer[Tree]
    // warm start: init trees head the ensemble; the broadcast-prefix
    // margin replay folds them in on every worker automatically
    trees ++= initTrees
    val metric = p.evalMetric.getOrElse(obj.defaultMetric(p.numClass))
    val hasEval = hasV
    var bestScore = if (EvalMetric.lowerIsBetter(metric)) Double.MaxValue else Double.MinValue
    var bestIter = -1
    var round = 0
    var stop = false
    val rng = new java.util.Random(p.seed)
    // Round-start tree prefix: gradients for ALL K class trees of the
    // round derive from these margins (xgboost computes grad/hess once
    // per round; advancing margins between classes would train a
    // different multi:softprob model than the single-node path).
    var prefixBc = sc.broadcast(trees.toArray)
    val maxResultSize = resultSizeLimit(sc)
    val grower = new LevelGrower(numFeatures, cuts, p)

    while (round < p.numRounds && !stop) {
      var cls = 0
      while (cls < k) {
        val features = sampleFeaturesSeeded(numFeatures, p.colsampleBytree, rng)
        trees += growTree(state, prefixBc, grower, k, cls, round, p, obj, features, maxResultSize)
        cls += 1
      }
      // margins incl. this round: the eval pass's and the next round's prefix
      prefixBc.destroy()
      prefixBc = sc.broadcast(trees.toArray)

      if (hasEval) {
        val job = new EvalJob(prefixBc, k, p, obj, baseMargin, metric)
        val total =
          if (resultsFit(state.getNumPartitions, metricSize(metric), maxResultSize)) {
            val sum = new SumInto
            sc.runJob(state, job, state.partitions.indices, sum)
            sum.total
          } else treeSum(state, job)
        val s = if (total == null) Double.NaN else finishMetricArr(metric, total)
        val improved = if (EvalMetric.lowerIsBetter(metric)) s < bestScore else s > bestScore
        if (improved) { bestScore = s; bestIter = round }
        else if (p.earlyStoppingRounds > 0 && round - bestIter >= p.earlyStoppingRounds)
          stop = true
      }
      round += 1
    }
    prefixBc.destroy()
    state.unpersist(blocking = false)

    new BoosterModel(obj.name, p.numClass, numFeatures, baseMargin,
      trees.toArray, p.missing,
      if (hasEval) Some(bestScore) else None,
      // best_iteration counts init-booster rounds too (xgboost offsets
      // best_iteration by the warm-start booster's round count), so the
      // default predict prefix keeps the init trees PLUS the best new rounds.
      if (hasEval && p.earlyStoppingRounds > 0) Some(initTrees.length / k + bestIter) else None)
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
      grower: LevelGrower, k: Int, cls: Int, round: Int, p: BoosterParams, obj: Objective,
      features: Array[Int], maxResultSize: Long): Tree = {
    val sc = state.sparkContext
    val baseMargin = obj.baseMargin(p.baseScore)
    grower.beginTree(features, round, cls)
    while (grower.beginLevel()) {
      val len = grower.level.histLen + 2
      val job = new LevelJob(prefixBc, k, cls, round, p, obj, baseMargin, grower.level)
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

  /** Worker-side: fold any not-yet-applied trees of the broadcast prefix
    * into the transient margins (replay is deterministic, so a recomputed
    * or re-deserialized partition converges to the same state). Trees are
    * round-major: tree i contributes to class column i % k. */
  private def ensureMargins(ps: PartState, prefix: Array[Tree], k: Int,
      p: BoosterParams, obj: Objective, baseMargin: Float): Unit = {
    if (ps.margins == null) {
      ps.margins = initMargins(ps.train, baseMargin, k)
      ps.evalMargins = if (ps.eval == null) null else initMargins(ps.eval, baseMargin, k)
      ps.applied = 0
    }
    while (ps.applied < prefix.length) {
      val t = prefix(ps.applied)
      val cls = ps.applied % k
      addTreeMargins(ps.train, t, ps.margins, k, cls, p.missing)
      if (ps.eval != null) addTreeMargins(ps.eval, t, ps.evalMargins, k, cls, p.missing)
      ps.applied += 1
    }
  }

  /** Gradients for the whole round, from round-start margins, memoized. */
  private def ensureGrads(ps: PartState, round: Int, k: Int,
      p: BoosterParams, obj: Objective): Unit = {
    if (ps.cacheRound != round) {
      val n = ps.train.numRows
      if (ps.gCache == null || ps.gCache.length != n * k) {
        ps.gCache = new Array[Float](n * k)
        ps.hCache = new Array[Float](n * k)
      }
      if (n > 0)
        obj.gradHess(ps.margins, ps.train.labels, effectiveWeights(ps.train, p),
          k, ps.gCache, ps.hCache)
      ps.cacheRound = round
    }
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
  private final class LevelJob(prefixBc: Broadcast[Array[Tree]], k: Int, cls: Int,
      round: Int, p: BoosterParams, obj: Objective, baseMargin: Float, level: TreeLevel)
      extends ((TaskContext, Iterator[PartState]) => Array[Double]) with Serializable {

    def apply(ctx: TaskContext, it: Iterator[PartState]): Array[Double] = {
      val out = new Array[Double](level.histLen + 2)
      it.foreach { ps =>
        ensureMargins(ps, prefixBc.value, k, p, obj, baseMargin)
        ensureGrads(ps, round, k, p, obj)
        level.accumulate(ps.binned, ps.gCache, ps.hCache, k, cls, positions(ps, ctx.partitionId()),
          out)
      }
      out
    }

    // the rows' nodes in the tree under growth (see PartState.nodePos),
    // reset when a new (round, cls) tree starts
    private def positions(ps: PartState, pid: Int): Array[Int] = {
      val n = ps.train.numRows
      if (ps.nodePos == null || ps.nodePos.length != n) {
        ps.nodePos = new Array[Int](n)
        ps.posRound = -1 // a deserialized PartState reads round 0, class 0 here
      }
      if (ps.posRound != round || ps.posCls != cls) {
        TreeLevel.resetPositions(ps.nodePos, sampleMask(p, pid, round, n))
        ps.posRound = round; ps.posCls = cls
      }
      ps.nodePos
    }
  }

  /** The per-round eval pass over a partition: its weighted metric parts
    * ([[metricSize]] entries) under the margins of `treesBc`. */
  private final class EvalJob(treesBc: Broadcast[Array[Tree]], k: Int, p: BoosterParams,
      obj: Objective, baseMargin: Float, metric: String)
      extends ((TaskContext, Iterator[PartState]) => Array[Double]) with Serializable {

    def apply(ctx: TaskContext, it: Iterator[PartState]): Array[Double] = {
      val a = new Array[Double](metricSize(metric))
      it.foreach { ps =>
        ensureMargins(ps, treesBc.value, k, p, obj, baseMargin)
        if (ps.eval != null && ps.eval.numRows > 0)
          metricAccum(metric, ps.evalMargins, ps.eval.labels, ps.eval.weights, math.max(k, 2), a)
      }
      a
    }
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
    * rows, raw feature values — same as the single-node trainer). */
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

  private[ml] def sampleFeaturesSeeded(m: Int, colsample: Double, rng: java.util.Random): Array[Int] = {
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

  /** Decomposable metric pieces (weighted numerator, weight sum). */
  private[ml] def metricParts(metric: String, margins: Array[Float], labels: Array[Float],
      weights: Array[Float], numClass: Int): (Double, Double) = {
    val n = labels.length
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
      case other => throw new IllegalArgumentException(s"unsupported eval_metric: $other")
    }
    (num, den)
  }

  private[ml] def finishMetric(metric: String, num: Double, den: Double): Double =
    if (den == 0) Double.NaN
    else if (metric == "rmse") math.sqrt(num / den)
    else num / den

  // ---- array-shaped metric aggregation (sums across workers) ----
  // Pair metrics use [num, den]; AUC uses the 2·AucBins score histogram.

  private[ml] def metricSize(metric: String): Int =
    if (metric == "auc") 2 * EvalMetric.AucBins else 2

  private[ml] def metricAccum(metric: String, margins: Array[Float], labels: Array[Float],
      weights: Array[Float], numClass: Int, acc: Array[Double]): Unit = {
    if (metric == "auc") EvalMetric.aucAccum(margins, labels, weights, acc)
    else {
      val (num, den) = metricParts(metric, margins, labels, weights, numClass)
      acc(0) += num
      acc(1) += den
    }
  }

  private[ml] def finishMetricArr(metric: String, acc: Array[Double]): Double =
    if (metric == "auc") EvalMetric.aucFinish(acc)
    else finishMetric(metric, acc(0), acc(1))
}

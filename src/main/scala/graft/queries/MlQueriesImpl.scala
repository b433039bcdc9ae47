package graft.queries

import org.apache.spark.BarrierTaskContext
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.{XgboostClassifier, XgboostRegressor}

/** ML-path queries over the embeddings table, plus the remaining §2.b
  * operators that live on the ML path (S2/S3 vector conversions, S8
  * barrier execution, S14 1-row-parquet persistence, S15 conf
  * introspection). Training queries have no SQL oracle (driver rows-only
  * check); the structural ones are oracle-checked.
  */
object MlQueriesImpl {

  /** S2+S3: array_to_vector → vector_to_array round-trip (the reference's
    * VectorUDT unwrap/rewrap, xgboost_core.py:441, 747). Exact float→double
    * widening on both sides — no rounding needed. */
  val vectorRoundtrip = Q(
    "q_s2_s3_vector_roundtrip",
    (s, dir) => {
      import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          element_at(vector_to_array(array_to_vector(col("embedding"))), 1).as("e0"),
          element_at(vector_to_array(array_to_vector(col("embedding"))), 64).as("e63"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS e0,
      CAST(embedding[64] AS DOUBLE) AS e63 FROM embeddings ORDER BY vec_id"""))

  /** S8: barrier execution + allGather — the gang-scheduling primitive under
    * the reference's distributed train (xgboost_core.py:427-430); here every
    * task learns the global row count collectively and partition 0 emits it. */
  val barrierAllGather = Q(
    "q_s8_barrier_allgather",
    (s, dir) => {
      val parts = math.max(1, math.min(s.sparkContext.defaultParallelism, 4))
      // barrier() must sit directly on an RDD-level shuffle (a DataFrame
      // repartition chain under AQE is rejected by the barrier checker)
      val rdd = Tables.lineitem(s, dir).select("l_orderkey").rdd
        .map(_ => 1L).repartition(parts)
        .barrier().mapPartitions { it =>
          val ctx = BarrierTaskContext.get()
          val localCount = it.length
          val all = ctx.allGather(localCount.toString)
          if (ctx.partitionId() == 0) Iterator.single(Tuple1(all.map(_.toLong).sum))
          else Iterator.empty
        }
      // collect the collective result (like the reference collects the
      // booster, xgboost_core.py:430) so downstream plans — e.g. Verify's
      // coalesce(1) write — don't merge into the barrier stage
      val total = rdd.collect().head._1
      s.createDataFrame(Seq(Tuple1(total))).toDF("total_rows")
    },
    Some("SELECT count(*) AS total_rows FROM lineitem"))

  /** S14: 1-row parquet write/read round-trip — the reference's model
    * persistence shape (model.py:127-128, 155-156). */
  val parquetRoundtrip = Q(
    "q_s14_parquet_roundtrip",
    (s, dir) => {
      // jvmDir, not a fresh createTempDirectory per execution: the old
      // form stranded one tmpfs directory per run (best-of-2 × sweeps ×
      // rounds) under the persistent staging root with no cleanup; the
      // per-JVM dir is stable across this JVM's runs (mode=overwrite
      // rewrites in place) and removed on JVM exit (r17 review)
      val tmp = graft.Staging.jvmDir("s14") + "/model"
      s.createDataFrame(Seq(Tuple1("graft-model-roundtrip"))).toDF("model_json")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp).select(col("model_json").as("tag"))
    },
    Some("SELECT 'graft-model-roundtrip' AS tag"))

  /** S15: SparkConf / capacity introspection (xgboost_core.py:202-238,
    * sparkdl/utils/__init__.py:37-44). The live values depend on the
    * session (driver cpus vary across Verify/Bench/test entry points),
    * so the DRIVER-COMPARED output projects session-independent
    * INVARIANTS of the introspection — the exact key set plus
    * positivity/sanity of each capacity value — which a static DuckDB
    * VALUES oracle replays; until r15 this was the one rows-only row in
    * CORRECTNESS. The raw values still flow through the computation (a
    * broken introspection yields 0/negative slots and flips a boolean);
    * OracleEdgeSpec pins them against the live SparkContext. The 4096
    * sanity ceiling is intentionally loose: any real driver/executor
    * slot count fits, while the garbage a unit mix-up produces
    * (e.g. milli-cores) does not. */
  val confIntrospection = Q(
    "q_s15_conf",
    (s, dir) => {
      val sc = s.sparkContext
      val taskCpus = sc.getConf.getInt("spark.task.cpus", 1)
      // public-API capacity estimate (sc.maxNumConcurrentTasks is
      // private[spark]): defaultParallelism = total cores across
      // executors in local/standalone mode, so slots = cores / task cpus
      val maxConcurrent = math.max(sc.defaultParallelism / taskCpus, 1)
      s.createDataFrame(Seq(
          ("maxNumConcurrentTasks", maxConcurrent),
          ("spark.task.cpus", taskCpus)))
        .toDF("key", "value")
        .select(col("key"),
          (col("value") > 0).as("value_is_positive"),
          (col("value") <= 4096).as("value_is_sane"))
        .orderBy(col("key"))
    },
    Some("""SELECT * FROM (VALUES
        ('maxNumConcurrentTasks', true, true),
        ('spark.task.cpus', true, true))
        t(key, value_is_positive, value_is_sane)
      ORDER BY key"""))

  /** C1+C3 regression, driver-checked via LEARNING-INVARIANT witnesses:
    * every row must score to a finite prediction, and the trained model's
    * training MSE must beat the best constant predictor (= Var(label) —
    * squared-loss boosting from a mean base score with positive-gain
    * trees strictly reduces training loss). A silent training collapse
    * (NaN margins, all-zero trees, loss regression) flips a witness and
    * the driver hash catches it — the oracle replays both as literals. */
  val trainPredictReg = Q(
    "q_ml_train_predict_reg",
    (s, dir) => {
      val df = Tables.embeddings(s, dir)
      val model = new XgboostRegressor()
        .setFeaturesCol("embedding").setLabelCol("label")
        .setNEstimators(20).setMaxDepth(4).fit(df)
      val scored = model.transform(df)
        .select(col("vec_id"), col("label"), col("prediction"))
      // one pass: Var(label) = E[l²]−E[l]² (labels are O(1) — no
      // cancellation hazard at a boolean compare's resolution)
      val w = scored.agg(
          (avg(col("label") * col("label"))
            - avg(col("label")) * avg(col("label"))).as("var_label"),
          avg((col("label") - col("prediction"))
            * (col("label") - col("prediction"))).as("mse_model"))
        .select((col("mse_model") < col("var_label")).as("model_beats_mean"))
      scored.crossJoin(broadcast(w))
        .select(col("vec_id"), col("label"),
          (!isnan(col("prediction")) && col("prediction").isNotNull).as("pred_ok"),
          col("model_beats_mean"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, label, true AS pred_ok, true AS model_beats_mean
      FROM embeddings ORDER BY vec_id"""))

  /** C2-path at query level, now DRIVER-CHECKED instead of rows-only:
    * the output is a per-row PARITY WITNESS the oracle can replay as
    * literals. Two invariants a production training service must hold —
    * (a) refit determinism: fitting the same (data, params) twice yields
    * the same model (with numWorkers=2 every float histogram merge is a
    * commutative 2-way add, so the collectives are order-insensitive);
    * (b) the spec-pinned tolerance band: both fits' predictions agree
    * within 1e-6 per row (BarrierTrainerSpec's bound). A silent
    * nondeterminism regression flips `refit_ok` to false and the driver
    * hash catches it — "trust the specs" becomes a per-round check. */
  val trainPredictDist = Q(
    "q_ml_train_predict_dist",
    (s, dir) => {
      val df = Tables.embeddings(s, dir)
      def fit() = new XgboostRegressor()
        .setFeaturesCol("embedding").setLabelCol("label")
        .setNumWorkers(2).setNEstimators(10).setMaxDepth(4).fit(df)
      // the witness needs two INDEPENDENT fits by definition; they are
      // independent Spark jobs, so submit them from two threads — local[32]
      // (and any real cluster) runs both job DAGs concurrently, halving
      // the wall cost of the determinism check
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val fits = Await.result(
        Future.sequence(Seq(Future(fit()), Future(fit()))),
        scala.concurrent.duration.Duration.Inf)
      val p1 = fits(0).transform(df).select(col("vec_id"), col("label"),
        col("prediction").as("p1"))
      val p2 = fits(1).transform(df).select(col("vec_id"),
        col("prediction").as("p2"))
      p1.join(p2, "vec_id")
        .select(col("vec_id"), col("label"),
          (abs(col("p1") - col("p2")) < 1e-6).as("refit_ok"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, label, true AS refit_ok
      FROM embeddings ORDER BY vec_id"""))

  /** Distributed training at table scale: 8 workers over the full
    * lineitem table (~600k rows at sf0.1) — the DistTrainer histogram
    * path whose per-level traffic is independent of row count. Output is
    * a 3-row summary so the bench measures training, not result
    * materialization — now driver-checked: per-group row counts replay
    * in SQL, and the learning invariant (training MSE beats the best
    * constant predictor) plus per-row prediction finiteness ride along
    * as boolean witnesses the oracle replays as literals. */
  val trainPredictScale = Q(
    "q_ml_train_predict_scale",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        array(col("l_quantity"), col("l_discount"), col("l_tax"),
          col("l_extendedprice") / 1000.0).cast("array<float>").as("features"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) / 1000.0).as("label"),
        col("l_returnflag"))
      val model = new XgboostRegressor()
        .setFeaturesCol("features").setLabelCol("label")
        .setNumWorkers(8).setNEstimators(5).setMaxDepth(5).fit(li)
      // ONE scoring pass: the group aggregate carries the moment sums,
      // and the global learning witness (SSE < total label variance)
      // folds over the 3 GROUP rows with a whole-frame window — never a
      // second pass over the 600k-row fact (a twice-referenced `scored`
      // here re-scored the full table: 2.8 → 3.1 s measured)
      val grouped = model.transform(li)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("label")).as("sl"),
          sum(col("label") * col("label")).as("sl2"),
          sum((col("label") - col("prediction"))
            * (col("label") - col("prediction"))).as("sse"),
          max(isnan(col("prediction")) || col("prediction").isNull)
            .as("any_pred_bad"))
      val wAll = org.apache.spark.sql.expressions.Window
        .rowsBetween(Long.MinValue, Long.MaxValue) // 3 group rows — single partition is the point
      def tot(c: org.apache.spark.sql.Column) = sum(c).over(wAll)
      grouped
        .select(col("l_returnflag"), col("n"),
          (!col("any_pred_bad")).as("preds_ok"),
          (tot(col("sse")) < tot(col("sl2"))
            - tot(col("sl")) * tot(col("sl")) / tot(col("n"))).as("model_beats_mean"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS n, true AS preds_ok,
        true AS model_beats_mean
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** C2+C8 faithful path, driver-checked: gang-scheduled barrier
    * training (socket-collective histogram allreduce, partition 0 =
    * tracker, bootstrap via ONE allGather) must produce the SAME model
    * as the DistTrainer path — the invariant Rabit gave the reference
    * and BarrierTrainerSpec pins at 1e-6. The query emits the per-row
    * parity witness so the driver hash re-checks it every round. */
  val trainPredictBarrier = Q(
    "q_ml_train_predict_barrier",
    (s, dir) => {
      val df = Tables.embeddings(s, dir)
      def reg() = new XgboostRegressor()
        .setFeaturesCol("embedding").setLabelCol("label")
        .setNumWorkers(2).setNEstimators(10).setMaxDepth(4)
      // both sides of the parity check are independent jobs (the barrier
      // gang needs 2 of local[32]'s slots, the DistTrainer path any) —
      // fit them concurrently from two threads
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val (barF, aggF) = (Future(reg().setUseBarrierMode(true).fit(df)),
        Future(reg().fit(df)))
      val bar = Await.result(barF, scala.concurrent.duration.Duration.Inf)
        .transform(df).select(col("vec_id"), col("label"),
          col("prediction").as("p_bar"))
      val agg = Await.result(aggF, scala.concurrent.duration.Duration.Inf)
        .transform(df).select(col("vec_id"), col("prediction").as("p_agg"))
      bar.join(agg, "vec_id")
        .select(col("vec_id"), col("label"),
          (abs(col("p_bar") - col("p_agg")) < 1e-6).as("barrier_parity_ok"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, label, true AS barrier_parity_ok
      FROM embeddings ORDER BY vec_id"""))

  /** C3 classifier, driver-checked via scoring-path INVARIANTS: the
    * probability vector is a proper softmax distribution over exactly
    * the label classes (length = count distinct labels, sums to 1) and
    * `prediction` is its argmax — the margin→softmax→argmax contract of
    * the reference's predict path, replayed by the oracle as literals
    * plus a DuckDB-computed class count. A training collapse (NaN
    * margins, wrong class count, argmax/prediction drift) flips a
    * witness and fails the round. */
  val trainPredictCls = Q(
    "q_ml_train_predict_cls",
    (s, dir) => {
      import org.apache.spark.ml.functions.vector_to_array
      val df = Tables.embeddings(s, dir)
      val model = new XgboostClassifier()
        .setFeaturesCol("embedding").setLabelCol("label")
        .setNEstimators(10).setMaxDepth(4).fit(df)
      val p = vector_to_array(col("probability"))
      model.transform(df)
        .select(col("vec_id"), col("label"),
          size(p).as("n_classes"),
          (abs(aggregate(p, lit(0.0d), _ + _) - 1.0d) < 1e-6).as("prob_sum_ok"),
          (col("prediction") ===
            array_position(p, array_max(p)) - 1).as("argmax_ok"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, label,
        (SELECT count(DISTINCT label) FROM embeddings) AS n_classes,
        true AS prob_sum_ok, true AS argmax_ok
      FROM embeddings ORDER BY vec_id"""))

  /** DISTRIBUTED multiclass under the oracle gate — the reference's
    * cluster suite trains multiclass under barrier mode
    * (tests/xgboost/xgboost_cluster_test.py:109-151); until round 14
    * that path had spec coverage (BarrierTrainerSpec) but no registered
    * query, leaving a driver-invisible regression channel. Witnesses,
    * all replayable by the oracle as literals:
    *   - objective inference reached `multi:softprob` under the
    *     DISTRIBUTED fit path (countDistinct over a 10-class label);
    *   - the probability vector is a proper softmax over exactly the
    *     label classes and `prediction` is its argmax (the same
    *     margin→softmax→argmax contract q_ml_train_predict_cls pins for
    *     the single-node tier);
    *   - barrier-vs-DistTrainer parity at numWorkers=2: per-row max
    *     probability divergence < 1e-6 (BarrierTrainerSpec's bound —
    *     with 2 workers every histogram merge is one commutative add,
    *     so gang-scheduled collectives and DistTrainer must agree). */
  val trainPredictClsDist = Q(
    "q_ml_train_predict_cls_dist",
    (s, dir) => {
      import org.apache.spark.ml.functions.vector_to_array
      val df = Tables.embeddings(s, dir)
      def cls() = new XgboostClassifier()
        .setFeaturesCol("embedding").setLabelCol("label")
        .setNumWorkers(2).setNEstimators(10).setMaxDepth(4)
      // both fits are independent Spark jobs (the barrier gang needs 2
      // of local[32]'s slots, the DistTrainer path any) — run them
      // concurrently like the regressor parity queries
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val (barF, aggF) = (Future(cls().setUseBarrierMode(true).fit(df)),
        Future(cls().fit(df)))
      val bar = Await.result(barF, scala.concurrent.duration.Duration.Inf)
      val agg = Await.result(aggF, scala.concurrent.duration.Duration.Inf)
      val objectiveOk = bar.booster.objectiveName == "multi:softprob" &&
        agg.booster.objectiveName == "multi:softprob"
      val p = vector_to_array(col("probability"))
      val scored = agg.transform(df)
        .select(col("vec_id"), col("label"),
          size(p).as("n_classes"),
          (abs(aggregate(p, lit(0.0d), _ + _) - 1.0d) < 1e-6).as("prob_sum_ok"),
          (col("prediction") ===
            array_position(p, array_max(p)) - 1).as("argmax_ok"),
          p.as("__p_agg"))
      val barP = bar.transform(df)
        .select(col("vec_id"), vector_to_array(col("probability")).as("__p_bar"))
      scored.join(barP, "vec_id")
        .select(col("vec_id"), col("label"), col("n_classes"),
          lit(objectiveOk).as("objective_ok"),
          col("prob_sum_ok"), col("argmax_ok"),
          (aggregate(zip_with(col("__p_agg"), col("__p_bar"),
            (a, b) => abs(a - b)), lit(0.0d),
            (acc, d) => greatest(acc, d)) < 1e-6).as("barrier_parity_ok"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, label,
        (SELECT count(DISTINCT label) FROM embeddings) AS n_classes,
        true AS objective_ok, true AS prob_sum_ok, true AS argmax_ok,
        true AS barrier_parity_ok
      FROM embeddings ORDER BY vec_id"""))

  /** C5 under the oracle gate: EXTERNAL-STORAGE training (rows spilled
    * to libsvm text on executor-local disk, read back into the matrix —
    * the reference's `use_external_storage` path,
    * xgboost_cluster_test.py:201-282) must produce the SAME model as the
    * in-memory conversion. At spill precision 17 every double survives
    * the text round-trip exactly (%.17g is double round-trip precision),
    * so the matrices — and therefore the deterministic fits — are
    * identical; the per-row parity witness pins it at 1e-6 like the
    * barrier query. Both fits run concurrently as independent jobs. */
  val trainPredictExt = Q(
    "q_ml_train_predict_ext",
    (s, dir) => {
      val df = Tables.embeddings(s, dir)
      def reg() = new XgboostRegressor()
        .setFeaturesCol("embedding").setLabelCol("label")
        .setNEstimators(10).setMaxDepth(4)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val (extF, memF) = (
        Future(reg().setUseExternalStorage(true)
          .setExternalStoragePrecision(17).fit(df)),
        Future(reg().fit(df)))
      val ext = Await.result(extF, scala.concurrent.duration.Duration.Inf)
        .transform(df).select(col("vec_id"), col("label"),
          col("prediction").as("p_ext"))
      val mem = Await.result(memF, scala.concurrent.duration.Duration.Inf)
        .transform(df).select(col("vec_id"), col("prediction").as("p_mem"))
      ext.join(mem, "vec_id")
        .select(col("vec_id"), col("label"),
          (abs(col("p_ext") - col("p_mem")) < 1e-6).as("ext_parity_ok"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, label, true AS ext_parity_ok
      FROM embeddings ORDER BY vec_id"""))

  /** Early stopping, driver-checked via REPLAYABLE invariants of the
    * direction-aware stop rule (reference xgboost_local_test.py:547-614):
    * with an rmse eval set (lower-is-better) and patience 3, (a) training
    * stops before the requested rounds, (b) when it stops, exactly
    * best_iteration + patience + 1 rounds exist — the stop fires the
    * moment the window is exhausted, (c) the recorded best_score is
    * ACHIEVED by default predict (which truncates to best_iteration + 1,
    * the sklearn drop-the-overfit-tail semantics): re-scoring the eval
    * rows reproduces it, and (d) best_score is the MINIMUM — the
    * full-ensemble rmse is no better. A direction bug (maximizing rmse),
    * an off-by-one in the window, or a truncation regression flips a
    * witness and fails the driver hash. */
  val earlyStop = Q(
    "q_ml_early_stop",
    (s, dir) => {
      val df = Tables.embeddings(s, dir)
        .withColumn("is_val", pmod(col("vec_id"), lit(5)) === 0)
      val requested = 50
      val patience = 3
      val model = new XgboostRegressor()
        .setFeaturesCol("embedding").setLabelCol("label")
        .setValidationIndicatorCol("is_val")
        .setNEstimators(requested).setMaxDepth(4)
        .setEvalMetric("rmse").setEarlyStoppingRounds(patience)
        .fit(df)
      val rounds = model.booster.trees.length // numGroups = 1
      val bi = model.booster.bestIteration.get
      val bs = model.booster.bestScore.get
      val valRows = df.where(col("is_val"))
      // default transform truncates to bi+1 rounds; treeLimit=rounds
      // forces the full ensemble for the is-minimum witness
      val rmseBest = model.transform(valRows)
        .agg(sqrt(avg(pow(col("prediction") - col("label"), 2))))
        .head().getDouble(0)
      val rmseFull = model.copy(org.apache.spark.ml.param.ParamMap.empty)
        .setTreeLimit(rounds).transform(valRows)
        .agg(sqrt(avg(pow(col("prediction") - col("label"), 2))))
        .head().getDouble(0)
      s.createDataFrame(Seq(Tuple5(
          requested,
          rounds < requested,
          rounds == bi + patience + 1,
          math.abs(rmseBest - bs) < 1e-5 * math.max(1.0, bs),
          rmseFull >= bs - 1e-9)))
        .toDF("n_requested", "stopped_early", "stop_window_exact",
          "best_score_achieved", "best_is_min")
    },
    Some("""SELECT 50 AS n_requested, true AS stopped_early,
      true AS stop_window_exact, true AS best_score_achieved,
      true AS best_is_min"""))

  /** Warm start (`xgb_model` init, reference xgboost_local_test.py:502-517),
    * driver-checked: continuing from a 5-round booster must (a) keep the
    * init trees VERBATIM at the head of the ensemble — truncating the
    * warm model to 5 rounds reproduces the init model's predictions
    * per-row — and (b) offset best_iteration by the init round count
    * (xgboost counts warm-start rounds), so with an eval set it is never
    * below 5. Witnesses ride per-row so the driver hash re-checks both
    * every round. */
  val warmStart = Q(
    "q_ml_warm_start",
    (s, dir) => {
      val df = Tables.embeddings(s, dir)
        .withColumn("is_val", pmod(col("vec_id"), lit(5)) === 0)
      def reg() = new XgboostRegressor()
        .setFeaturesCol("embedding").setLabelCol("label").setMaxDepth(4)
      val init = reg().setNEstimators(5).fit(df)
      val warm = reg().setNEstimators(20)
        .setXgbModel(init.booster)
        .setValidationIndicatorCol("is_val")
        .setEvalMetric("rmse").setEarlyStoppingRounds(3)
        .fit(df)
      val offsetOk = warm.booster.bestIteration.get >= 5
      val continuedOk = warm.booster.trees.length > 5
      val pInit = init.transform(df)
        .select(col("vec_id"), col("label"), col("prediction").as("p_init"))
      val pHead = warm.copy(org.apache.spark.ml.param.ParamMap.empty)
        .setTreeLimit(5).transform(df)
        .select(col("vec_id"), col("prediction").as("p_head"))
      pInit.join(pHead, "vec_id")
        .select(col("vec_id"), col("label"),
          (abs(col("p_init") - col("p_head")) < 1e-7).as("head_matches_init"),
          lit(offsetOk).as("best_iter_offset_ok"),
          lit(continuedOk).as("continued_ok"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, label, true AS head_matches_init,
      true AS best_iter_offset_ok, true AS continued_ok
      FROM embeddings ORDER BY vec_id"""))

  def all: Seq[Q] = Seq(vectorRoundtrip, barrierAllGather, parquetRoundtrip,
    confIntrospection, trainPredictReg, trainPredictDist, trainPredictBarrier,
    trainPredictScale, trainPredictCls, trainPredictClsDist, trainPredictExt,
    earlyStop, warmStart)
}

package graft.ml

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.scalatest.funsuite.AnyFunSuite

/** C2/C8 barrier-collective training tests: gang-scheduled allGather
  * allreduce must produce the SAME model as the other paths when the
  * histograms are exact (no sampling, cuts from the full data).
  */
class BarrierTrainerSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  private def mkDf(n: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    // 4-decimal values: exact under float32 → bit-identical binning
    def r4() = math.round(rng.nextDouble() * 4 * 1e4) / 1e4
    val rows = Seq.fill(n)({
      val f = Array.fill(4)(r4())
      (Vectors.dense(f), f(0) * 2 + f(1) - f(2) * 0.5)
    })
    spark.createDataFrame(rows).toDF("features", "label")
  }

  test("barrier regressor agrees with the treeAggregate path (identical collectives)") {
    val df = mkDf(400, 3)
    val agg = new XgboostRegressor().setNEstimators(10).setNumWorkers(2).fit(df)
    val bar = new XgboostRegressor().setNEstimators(10).setNumWorkers(2)
      .setUseBarrierMode(true).fit(df)
    val a = agg.transform(df).select("prediction").collect().map(_.getDouble(0))
    val b = bar.transform(df).select("prediction").collect().map(_.getDouble(0))
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-6, s"treeAggregate $x vs barrier $y")
    }
  }

  test("barrier and treeAggregate pick identical feature subsets under colsample") {
    val df = mkDf(300, 19)
    val a = new XgboostRegressor().setNEstimators(6).setNumWorkers(2)
    a.set(a.colsampleBytree, 0.5)
    val b = new XgboostRegressor().setNEstimators(6).setNumWorkers(2).setUseBarrierMode(true)
    b.set(b.colsampleBytree, 0.5)
    val ma = a.fit(df)
    val mb = b.fit(df)
    // identical feature subsets + identical collectives → identical trees
    ma.booster.trees.zip(mb.booster.trees).foreach { case (ta, tb) =>
      assert(ta.feature.sameElements(tb.feature), "split features must match")
    }
    val pa = ma.transform(df).select("prediction").collect().map(_.getDouble(0))
    val pb = mb.transform(df).select("prediction").collect().map(_.getDouble(0))
    pa.zip(pb).foreach { case (x, y) => assert(math.abs(x - y) < 1e-6) }
  }

  test("barrier and treeAggregate stay in parity under colsample_bylevel/bynode " +
      "(keyed sampling derives the same subsets on every worker)") {
    val df = mkDf(300, 47)
    def build(barrier: Boolean) = {
      val e = new XgboostRegressor().setNEstimators(6).setNumWorkers(2)
        .setColsampleBylevel(0.5).setColsampleBynode(0.5)
      if (barrier) e.setUseBarrierMode(true)
      e.fit(df)
    }
    val ma = build(barrier = false)
    val mb = build(barrier = true)
    ma.booster.trees.zip(mb.booster.trees).foreach { case (ta, tb) =>
      assert(ta.feature.sameElements(tb.feature), "split features must match")
      assert(ta.threshold.sameElements(tb.threshold), "thresholds must match")
    }
    val pa = ma.transform(df).select("prediction").collect().map(_.getDouble(0))
    val pb = mb.transform(df).select("prediction").collect().map(_.getDouble(0))
    pa.zip(pb).foreach { case (x, y) => assert(math.abs(x - y) < 1e-6) }
  }

  test("3-worker barrier collective (coordinator with multiple clients)") {
    val df = mkDf(300, 7)
    val m = new XgboostRegressor().setNEstimators(5).setNumWorkers(3)
      .setUseBarrierMode(true).fit(df)
    val preds = m.transform(df).select("prediction").collect().map(_.getDouble(0))
    assert(preds.forall(p => !p.isNaN))
    val agg = new XgboostRegressor().setNEstimators(5).setNumWorkers(3).fit(df)
    val a = agg.transform(df).select("prediction").collect().map(_.getDouble(0))
    preds.zip(a).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-6, s"barrier $x vs treeAggregate $y")
    }
  }

  test("barrier and treeAggregate subsample the same rows (subsample=0.5, 3 workers)") {
    val df = mkDf(300, 29)
    def build(barrier: Boolean) = {
      val e = new XgboostRegressor().setNEstimators(5).setNumWorkers(3).setSubsample(0.5)
      if (barrier) e.setUseBarrierMode(true)
      e.fit(df)
    }
    val ma = build(barrier = false)
    val mb = build(barrier = true)
    val pa = ma.transform(df).select("prediction").collect().map(_.getDouble(0))
    val pb = mb.transform(df).select("prediction").collect().map(_.getDouble(0))
    pa.zip(pb).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-6, s"treeAggregate $x vs barrier $y")
    }
  }

  test("barrier multiclass classifier learns the replicated fixture") {
    val base = Seq(
      (Vectors.dense(1.0, 2.0, 3.0), 0.0),
      (Vectors.dense(0.0, 1.0, 5.5), 0.0),
      (Vectors.dense(4.0, 5.0, 6.0), 1.0),
      (Vectors.dense(0.0, 6.0, 7.5), 2.0))
    val df = spark.createDataFrame(Seq.fill(50)(base).flatten).toDF("features", "label")
    val model = new XgboostClassifier().setNEstimators(20).setNumWorkers(2)
      .setUseBarrierMode(true).fit(df)
    assert(model.booster.objectiveName == "multi:softprob")
    val rows = model.transform(df.limit(4).distinct())
      .select("label", "prediction", "probability").collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(0), s"misclassified: $r")
      val prob = r.getAs[Vector](2)
      assert(prob.toArray.max > 0.8, s"unsaturated: $prob")
    }
  }

  test("barrier multiclass agrees with single-node (round-start gradients)") {
    val rng = new scala.util.Random(17)
    def r4() = math.round(rng.nextDouble() * 4 * 1e4) / 1e4
    val rows = Seq.fill(300)({
      val f = Array.fill(3)(r4())
      val label = (if (f(0) > 2.6) 2 else if (f(1) > 2.0) 1 else 0).toDouble
      (Vectors.dense(f), label)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label")
    val single = new XgboostClassifier().setNEstimators(8).fit(df)
    val bar = new XgboostClassifier().setNEstimators(8).setNumWorkers(2)
      .setUseBarrierMode(true).fit(df)
    val s = single.transform(df).select("prediction", "probability").collect()
      .map(r => (r.getDouble(0), r.getAs[Vector](1).toArray))
    val b = bar.transform(df).select("prediction", "probability").collect()
      .map(r => (r.getDouble(0), r.getAs[Vector](1).toArray))
    // quantile-sketch cuts may flip individual boundary rows (see the
    // equivalent treeAggregate test); broad agreement is the invariant
    val agree = s.zip(b).count { case ((ps, _), (pb, _)) => ps == pb }.toDouble / s.length
    val meanDiff = s.zip(b).map { case ((_, x), (_, y)) =>
      x.zip(y).map { case (p, q) => math.abs(p - q) }.max
    }.sum / s.length
    assert(agree > 0.95, s"single vs barrier prediction agreement $agree")
    assert(meanDiff < 0.02, s"single vs barrier mean prob diff $meanDiff")
  }

  test("barrier with validation + early stopping records best_score on all paths") {
    val rng = new scala.util.Random(23)
    val rows = Seq.fill(300)({
      val f = Array.fill(3)(rng.nextDouble() * 2)
      (Vectors.dense(f), f(0) + f(1), rng.nextDouble() < 0.25)
    })
    val df = spark.createDataFrame(rows).toDF("features", "label", "isVal")
    val model = new XgboostRegressor().setNumWorkers(2).setUseBarrierMode(true)
      .setValidationIndicatorCol("isVal").setEarlyStoppingRounds(3)
      .setNEstimators(40).fit(df)
    assert(model.booster.bestScore.exists(_ < 0.5))
    assert(model.booster.bestIteration.isDefined)
  }
}

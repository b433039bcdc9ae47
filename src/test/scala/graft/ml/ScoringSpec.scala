package graft.ml

import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Model scoring against the booster it wraps: every output `transform`
  * writes is bit-identical to `predictMarginWithMissing` followed by the
  * reference's sigmoid/softmax math (xgboost_core.py:661-685), over mixed
  * dense and sparse rows, on the codegen'd and the interpreted path; and
  * the plan evaluates the scoring expression once per row, in codegen.
  */
class ScoringSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  private val NumFeatures = 6

  /** features (dense, sparse with 1-5 active entries, or all-zero
    * sparse), binary and 3-class labels, a regression target and a base
    * margin. A fifth of the values are 0.0, so `missing` = 0.0 matters. */
  private def rows(n: Int, seed: Long): Seq[Row] = {
    val rng = new scala.util.Random(seed)
    def value() = if (rng.nextInt(5) == 0) 0.0 else math.round(rng.nextDouble() * 400) / 100.0
    Seq.fill(n) {
      val v = rng.nextInt(10) match {
        case 0 => Vectors.sparse(NumFeatures, Array.empty[Int], Array.empty[Double])
        case k if k < 5 =>
          val idx = rng.shuffle((0 until NumFeatures).toList).take(1 + rng.nextInt(NumFeatures - 1))
          Vectors.sparse(NumFeatures, idx.sorted.toArray, idx.map(_ => value()).toArray)
        case _ => Vectors.dense(Array.fill(NumFeatures)(value()))
      }
      val a = v.toArray
      val bin = if (a(0) + a(1) - a(4) + a(5) > 3.5) 1.0 else 0.0
      val cls3 = if (a(0) + a(3) > 4.5) 2.0 else if (a(1) - a(2) > 0.5) 1.0 else 0.0
      Row(v, bin, cls3, a(0) * 2 + a(1) - a(2) + a(3) * a(4) / 4 + a(5), rng.nextDouble() * 2 - 1)
    }
  }

  private val schema = StructType(Seq(
    StructField("features", SQLDataTypes.VectorType), StructField("bin", DoubleType),
    StructField("cls3", DoubleType), StructField("y", DoubleType), StructField("margin", DoubleType)))

  /** An RDD-backed frame (scored in whole-stage codegen) and a local one
    * (scored by the optimizer's interpreted projection). */
  private def frames(rs: Seq[Row]): Seq[(String, DataFrame)] = Seq(
    "codegen" -> spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), schema),
    "interpreted" -> spark.createDataFrame(rs.asJava, schema))

  private lazy val train = spark.createDataFrame(spark.sparkContext.parallelize(rows(600, 1), 2), schema)
  private lazy val scored = rows(400, 2)

  /** The booster with its trees and params, but the early-stopping best
    * iteration `best`. */
  private def withBest(b: BoosterModel, best: Int) = new BoosterModel(b.objectiveName, b.numClass,
    b.numFeatures, b.baseMargin, b.trees, b.missing, Some(0.0), Some(best))

  /** transform's scoring math before the scoring expression, on the booster
    * directly: [raw..., prediction, probability...] or [prediction]. */
  private def expected(b: BoosterModel, limit: Int, x: Array[Float], margin: Option[Double],
      classifier: Boolean): Seq[Double] = {
    val margins = b.predictMarginWithMissing(x, limit)
    if (!classifier)
      Seq(b.objective.predictTransform(margin.fold(margins(0).toDouble)(margins(0).toDouble + _)))
    else if (margins.length == 1) {
      val m = margins(0).toDouble + margin.getOrElse(0.0)
      val p = Objective.sigmoid(m)
      val probs = Array(1.0 - p, p)
      Seq(-m, m, if (probs(1) > probs(0)) 1.0 else 0.0) ++ probs
    } else {
      val raw = margins.map(_.toDouble + margin.getOrElse(0.0))
      val mx = raw.max
      val exp = raw.map(x => math.exp(x - mx))
      val s = exp.sum
      val probs = exp.map(_ / s)
      var best = 0
      var i = 1
      while (i < probs.length) { if (probs(i) > probs(best)) best = i; i += 1 }
      raw.toSeq ++ Seq(best.toDouble) ++ probs
    }
  }

  private def outputs(r: Row, classifier: Boolean): Seq[Double] =
    if (!classifier) Seq(r.getAs[Double]("prediction"))
    else r.getAs[Vector]("rawPrediction").toArray.toSeq ++ Seq(r.getAs[Double]("prediction")) ++
      r.getAs[Vector]("probability").toArray

  /** Scores the mixed rows with `booster` under every base-margin / treeLimit /
    * best-iteration variant and checks each row bit for bit. */
  private def checkAll(name: String, booster: BoosterModel, classifier: Boolean): Unit = {
    val rounds = booster.trees.length / booster.numGroups
    val variants = for {
      margin <- Seq(false, true)
      (limit, best) <- Seq((0, None), (3, None), (0, Some(2)), (rounds + 5, Some(1)))
    } yield (margin, limit, best)
    variants.foreach { case (margin, limit, best) =>
      val b = best.fold(booster)(withBest(booster, _))
      val m = (if (classifier) new XgboostClassifierModel("m", b) else new XgboostRegressorModel("m", b))
        .asInstanceOf[Model[_] with XGBoostParams]
      m.set(m.treeLimit, limit)
      if (margin) m.set(m.baseMarginCol, "margin")
      frames(scored).foreach { case (path, df) =>
        val got = m.transform(df).collect()
        assert(got.length == scored.length)
        got.foreach { r =>
          val v = r.getAs[Vector]("features")
          val bm = if (margin) Some(r.getAs[Double]("margin")) else None
          val want = expected(b, limit, v.toArray.map(_.toFloat), bm, classifier)
          val have = outputs(r, classifier)
          assert(have.map(java.lang.Double.doubleToLongBits) == want.map(java.lang.Double.doubleToLongBits),
            s"$name ($path, margin=$margin, treeLimit=$limit, best=$best) on $v: $have != $want")
        }
      }
    }
  }

  private def classifier(label: String, missing: Float) = new XgboostClassifier()
    .setLabelCol(label).setNEstimators(8).setMaxDepth(4).setMissing(missing).fit(train)

  private def regressor(missing: Float) = new XgboostRegressor()
    .setLabelCol("y").setNEstimators(8).setMaxDepth(4).setMissing(missing).fit(train)

  Seq(Float.NaN, 0.0f).foreach { missing =>
    test(s"binary classifier outputs == booster margins + sigmoid, bit for bit (missing=$missing)") {
      val m = classifier("bin", missing)
      assert(m.booster.numGroups == 1)
      checkAll("binary", m.booster, classifier = true)
    }

    test(s"3-class classifier outputs == booster margins + softmax, bit for bit (missing=$missing)") {
      val m = classifier("cls3", missing)
      assert(m.booster.numGroups == 3)
      checkAll("3-class", m.booster, classifier = true)
    }

    test(s"regressor prediction == booster margin, bit for bit (missing=$missing)") {
      val m = regressor(missing)
      checkAll("regressor", m.booster, classifier = false)
    }
  }

  test("the variants score differently: treeLimit, best iteration and base margin all reach the trees") {
    val m = regressor(Float.NaN)
    def preds(model: XgboostRegressorModel) =
      model.transform(frames(scored).head._2).select("prediction").collect().map(_.getDouble(0)).toSeq
    val full = preds(m)
    assert(preds(m.copy(ParamMap(m.treeLimit -> 3))) != full)
    assert(preds(new XgboostRegressorModel("m", withBest(m.booster, 2))) != full)
    assert(preds(m.copy(ParamMap(m.baseMarginCol -> "margin"))) != full)
  }

  test("array<float> features score like the same values as a vector, bit for bit") {
    val m = classifier("cls3", Float.NaN)
    val arrays = spark.createDataFrame(spark.sparkContext.parallelize(scored.map { r =>
      Row(r.getAs[Vector](0).toArray.map(_.toFloat))
    }, 3), StructType(Seq(StructField("features", ArrayType(FloatType, containsNull = false)))))
    m.transform(arrays).collect().foreach { r =>
      val x = r.getSeq[Float](0).toArray
      assert(outputs(r, classifier = true).map(java.lang.Double.doubleToLongBits) ==
        expected(m.booster, 0, x.clone(), None, classifier = true).map(java.lang.Double.doubleToLongBits))
    }
  }

  private def scoring(plan: SparkPlan): Seq[ScoreExpression] =
    plan.collect { case p => p.expressions.flatMap(_.collect { case s: ScoreExpression => s }) }.flatten

  test("classifier transform plans one scoring expression, inside whole-stage codegen, and no UDF") {
    val m = classifier("bin", Float.NaN)
    val df = frames(scored).head._2
    Seq(m.transform(df), m.transform(df).select("probability", "rawPrediction", "prediction"))
      .foreach { out =>
        val plan = out.queryExecution.executedPlan
        val udfs = plan.collect { case p => p.expressions.flatMap(_.collect { case u: ScalaUDF => u }) }
        assert(udfs.flatten.isEmpty, s"ScalaUDF in\n$plan")
        assert(scoring(plan).size == 1, s"scoring evaluated ${scoring(plan).size} times per row in\n$plan")
        val inCodegen = plan.collect { case w: WholeStageCodegenExec => scoring(w.child) }.flatten
        assert(inCodegen.size == 1, s"scoring outside whole-stage codegen in\n$plan")
      }
  }
}

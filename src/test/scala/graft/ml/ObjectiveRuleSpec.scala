package graft.ml

import org.apache.spark.ml.linalg.{SQLDataTypes, Vectors}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** A fit resolves its objective from the labels that its first data pass
  * reads ([[ObjectiveRule]] over [[LabelStats]]): the single-node task's
  * matrix build, or the distributed sketch job. These specs hold that
  * resolution to the label aggregate it replaced, on all three training
  * paths, and count the jobs a classifier fit starts.
  */
class ObjectiveRuleSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("features", SQLDataTypes.VectorType, nullable = false),
    StructField("label", DoubleType, nullable = true),
    StructField("isVal", BooleanType, nullable = false)))

  /** The countDistinct/min/max label aggregate and the decision that used
    * to run before every classifier fit, kept as the reference, over the
    * labels with nulls read as NaN (which it already rejected). A
    * regressor keeps its objective, and after the checks that read no
    * label rejects null, NaN and infinite labels. */
  private def reference(est: XGBoostParams, classifier: Boolean, df: DataFrame,
      warm: Option[BoosterModel]): Either[(Class[_], String), (String, Int)] = try {
    val labels = df.select(coalesce(col("label"), lit(Double.NaN)).as("label"))
    val (inferredObj, k) =
      if (classifier) {
        val r = labels.agg(
          countDistinct(col("label")).as("n"),
          min(col("label")).as("lo"),
          max(col("label")).as("hi"),
          max(abs(col("label") - round(col("label")))).as("frac")).collect()(0)
        val nDistinct = r.getLong(0).toInt
        val lo = r.getDouble(1)
        val hi = r.getDouble(2)
        val frac = r.getDouble(3)
        def validate(k: Int): Unit = require(frac == 0.0 && lo >= 0.0 && hi <= k - 1,
          s"classifier labels must be integers in [0, $k); got range [$lo, $hi]" +
            (if (frac != 0.0) " with non-integer values" else ""))
        val declared = if (est.hasNonEmpty(est.objective)) Some(est.getOrDefault(est.objective)) else None
        declared match {
          case Some(o) if o.startsWith("binary") =>
            validate(2); (o, 0)
          case Some(o) if o.startsWith("multi") =>
            val k = est.getOrDefault(est.numClass)
            require(k >= 2, s"numClass must be set >= 2 for $o")
            validate(k); (o, k)
          case _ =>
            if (nDistinct <= 2) { validate(2); ("binary:logistic", 0) }
            else { validate(nDistinct); ("multi:softprob", nDistinct) }
        }
      } else {
        (if (est.hasNonEmpty(est.objective)) est.getOrDefault(est.objective)
         else "reg:squarederror", est.getOrDefault(est.numClass))
      }
    val obj = est.objectiveFromArbitrary match {
      case Some(j) if classifier =>
        require(Objective.fromName(j).numGroups(k) == Objective.fromName(inferredObj).numGroups(k),
          s"arbitraryParams objective '$j' is incompatible with the " +
            s"label-derived objective '$inferredObj' (numClass=$k)")
        j
      case Some(j) => Objective.fromName(j).name
      case None => inferredObj
    }
    warm.foreach { init =>
      require(Objective.fromName(init.objectiveName).name == Objective.fromName(obj).name,
        s"xgbModel objective ${init.objectiveName} != $obj")
      require(init.numGroups == Objective.fromName(obj).numGroups(k),
        s"xgbModel group count ${init.numGroups} incompatible with numClass $k")
    }
    if (!classifier) {
      val bad = labels.filter(isnan(col("label"))).count()
      require(bad == 0, s"label column 'label' holds $bad null or NaN values")
      require(labels.filter(abs(col("label")) === Double.PositiveInfinity).isEmpty,
        "label column 'label' holds infinite values")
    }
    Right((Objective.fromName(obj).name, k))
  } catch {
    case e: IllegalArgumentException => Left((e.getClass, e.getMessage))
  }

  private def frame(labels: Seq[java.lang.Double], isVal: Int => Boolean, parts: Int,
      seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    val rows = labels.zipWithIndex.map { case (y, i) =>
      Row(Vectors.dense(Array.fill(3)(rng.nextInt(20) / 4.0)), y, isVal(i))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  private lazy val warmModels: Seq[BoosterModel] = {
    val binary = frame(Seq.tabulate(40)(i => java.lang.Double.valueOf(i % 2)), _ => false, 1, 1)
    val three = frame(Seq.tabulate(40)(i => java.lang.Double.valueOf(i % 3)), _ => false, 1, 2)
    Seq(new XgboostClassifier().setNEstimators(1).setMaxDepth(2).fit(binary).booster,
      new XgboostClassifier().setNEstimators(1).setMaxDepth(2).fit(three).booster)
  }

  test("the label-pass resolution equals the label aggregate on all three paths: " +
    "objective and class count, or the exception and its message") {
    val rng = new scala.util.Random(20261020)
    val odd = Seq[java.lang.Double](0.5, 2.25, -1.0, -3.5, 1e6, 70000.0, 1e20, Double.NaN,
      null, Double.PositiveInfinity, Double.NegativeInfinity)
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.length))
    var accepted, rejected = 0
    (1 to 30).foreach { c =>
      val n = 30 + rng.nextInt(50)
      val classes = pick(Seq(2, 2, 3, 4, 5))
      val base: Seq[java.lang.Double] = rng.nextInt(6) match {
        case 0 => Seq.fill(n)(rng.nextGaussian() * 3) // a regression target
        case 1 => Seq.fill(n)((rng.nextInt(classes) + 1).toDouble) // classes shifted by one
        case _ => Seq.tabulate(n)(i => (if (i < classes) i else rng.nextInt(classes)).toDouble)
      }
      val labels = if (rng.nextInt(3) == 0) base else {
        val at = Seq.fill(1 + rng.nextInt(2))(rng.nextInt(n))
        base.zipWithIndex.map { case (y, i) => if (at.contains(i)) pick(odd) else y }
      }
      val classifier = rng.nextInt(4) != 0
      val hasV = rng.nextBoolean()
      val parts = 1 + rng.nextInt(4)
      val df = frame(labels, i => hasV && i % 4 == 3, parts, c)
      val warm = if (rng.nextInt(4) == 0) Some(pick(warmModels)) else None
      def estimator(): XGBoostParams = {
        val e: XGBoostParams =
          if (classifier) {
            val cls = new XgboostClassifier()
            rng.nextInt(4) match {
              case 0 => cls.setObjective("binary:logistic")
              case 1 => cls.setObjective(pick(Seq("multi:softprob", "multi:softmax")))
                .setNumClass(pick(Seq(0, 2, 3, 4, 6)))
              case _ =>
            }
            cls
          } else new XgboostRegressor()
        e.set(e.nEstimators, 1).set(e.maxDepth, 2)
        if (hasV) e.set(e.validationIndicatorCol, "isVal")
        if (rng.nextInt(4) == 0) e.set(e.arbitraryParams, s"""{"objective": "${
          pick(Seq("binary:logistic", "multi:softprob", "reg:squarederror", "reg:logistic"))}"}""")
        warm.foreach(m => e.set(e.xgbModel, ModelJson.toJson(m)))
        e
      }
      val est = estimator()
      val expected = reference(est, classifier, df, warm)
      if (expected.isRight) accepted += 1 else rejected += 1
      Seq(("single-node", 1, false), ("DistTrainer", math.max(parts, 2), false),
          ("BarrierTrainer", math.max(parts, 2), true)).foreach { case (path, workers, barrier) =>
        val e = est.copy(org.apache.spark.ml.param.ParamMap.empty).asInstanceOf[XGBoostParams]
        e.set(e.numWorkers, workers).set(e.useBarrierMode, barrier)
        val got = try {
          val b = e match {
            case r: XgboostRegressor => r.fit(df).booster
            case k: XgboostClassifier => k.fit(df).booster
          }
          Right((b.objectiveName, b.numClass))
        } catch { case x: Exception => Left((x.getClass, x.getMessage)) }
        assert(got == expected, s"case $c ($path, classifier=$classifier, hasV=$hasV, " +
          s"$parts partitions, labels ${labels.distinct.take(12).mkString(",")}, " +
          s"${est.extractParamMap()})")
      }
    }
    assert(accepted >= 5 && rejected >= 5, s"$accepted accepted, $rejected rejected cases")
  }

  test("a regression target given to a classifier fails on all three paths, its distinct " +
    "labels counted to a bound") {
    val rng = new scala.util.Random(5)
    val df = frame(Seq.fill(3000)(java.lang.Double.valueOf(rng.nextGaussian() * 100)),
      _ => false, 3, 6)
    Seq((1, false), (3, false), (3, true)).foreach { case (workers, barrier) =>
      val ex = intercept[IllegalArgumentException](new XgboostClassifier().setNEstimators(1)
        .setNumWorkers(workers).setUseBarrierMode(barrier).fit(df))
      assert(ex.getMessage.contains(s"labels must be integers in [0, ${LabelStats.MaxOthers})") &&
        ex.getMessage.endsWith(s"more than ${LabelStats.MaxOthers} distinct labels"),
        s"$workers workers: ${ex.getMessage}")
    }
  }

  test("LabelStats counts distinct labels exactly up to its cap, and a lower bound past it; " +
    "only a classifier that infers its objective counts them") {
    def stats(ys: Iterator[Double], parts: Int): LabelStats = {
      val all = ys.toArray
      all.indices.groupBy(_ % parts).values.map { is =>
        val s = new LabelStats(true); is.foreach(i => s.add(all(i))); s
      }.reduce(_ merge _)
    }
    val bp = new XgboostClassifier().boosterParams("binary:logistic", 0)
    val infer = ObjectiveRule(true, "label", None, 0, None, None)
    // {0..hi} with hi past the bitset: every class is counted
    val hi = LabelStats.ClassBits + LabelStats.MaxOthers - 1
    val wide = stats((0 to hi).iterator.map(_.toDouble), 3)
    assert(!wide.capped && wide.numDistinct == hi + 1)
    assert(infer.params(bp, wide).map(p => (p.objective, p.numClass)) ==
      Right(("multi:softprob", hi + 1)))
    val many = stats(Iterator.tabulate(20000)(i => i + 0.5), 4)
    assert(many.capped && many.numDistinct == LabelStats.MaxOthers)
    assert(infer.countsClasses)
    assert(!infer.copy(declared = Some("binary:logistic")).countsClasses)
    assert(!infer.copy(declared = Some("multi:softmax"), numClass = 3).countsClasses)
    assert(!infer.copy(classifier = false).countsClasses)
  }

  test("a classifier fit starts as many jobs as the same fit as a regressor: " +
    "single-node and DistTrainer") {
    val sc = spark.sparkContext
    val rng = new scala.util.Random(3)
    val df = frame(Seq.fill(200)(java.lang.Double.valueOf(rng.nextInt(2))), _ => false, 2, 4)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def jobs(group: String)(fit: => BoosterModel): (Int, BoosterModel) = {
      sc.setJobGroup(group, group)
      val m = try fit finally sc.clearJobGroup()
      // the listener bus delivers in order: once the marker job's start
      // lands, every job start of the fit has too
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains(marker), "the listener never saw the marker job")
      (started.toArray.count(_ == group), m)
    }
    sc.addSparkListener(l)
    try Seq(1, 2).foreach { workers =>
      val (cls, c) = jobs(s"graft-cls-$workers")(new XgboostClassifier().setNEstimators(2)
        .setMaxDepth(2).setNumWorkers(workers).fit(df).booster)
      val (reg, r) = jobs(s"graft-reg-$workers")(new XgboostRegressor().setNEstimators(2)
        .setMaxDepth(2).setObjective("binary:logistic").setNumWorkers(workers).fit(df).booster)
      assert(cls == reg && cls > 0, s"numWorkers=$workers: classifier $cls jobs, regressor $reg")
      assert(ModelJson.toJson(c) == ModelJson.toJson(r), s"numWorkers=$workers: models differ")
    } finally sc.removeSparkListener(l)
  }
}

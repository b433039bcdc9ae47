package graft.ml

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/** Booster-core tests mirroring the reference's golden-fixture pattern
  * (FIXTURES.md F1–F3, F7) under semantic tolerance: saturated predictions
  * on the tiny overfit fixtures, monotone loss decrease on larger data —
  * not bit-parity with xgboost (see SURVEY §7.3).
  */
class BoosterSpec extends AnyFunSuite {

  private def mat(rows: Array[Array[Float]], labels: Array[Float],
      weights: Array[Float] = null, margins: Array[Float] = null): TrainMatrix = {
    val m = rows.head.length
    new TrainMatrix(rows.length, m, rows.flatten, labels, weights, margins)
  }

  // F1: regression fixture (reference xgboost_local_test.py:47-55)
  private val f1Rows = Array(
    Array(1.0f, 2.0f, 3.0f),
    Array(0.0f, 1.0f, 5.5f)) // sparse(3, {1:1.0, 2:5.5}) densified
  private val f1Labels = Array(0.0f, 1.0f)

  test("F1 regression: overfits the 2-row fixture to saturated predictions") {
    val model = Trainer.train(mat(f1Rows, f1Labels), None,
      BoosterParams(objective = "reg:squarederror", numRounds = 100))
    val p0 = model.predictMargin(f1Rows(0).clone())(0)
    val p1 = model.predictMargin(f1Rows(1).clone())(0)
    assert(math.abs(p0 - 0.0) < 1e-2, s"p0=$p0")
    assert(math.abs(p1 - 1.0) < 1e-2, s"p1=$p1")
  }

  test("F1 regression: treeLimit truncates the ensemble") {
    val model = Trainer.train(mat(f1Rows, f1Labels), None,
      BoosterParams(objective = "reg:squarederror", numRounds = 10, maxDepth = 5))
    val full = model.predictMargin(f1Rows(1).clone())(0)
    val limited = model.predictMargin(f1Rows(1).clone(), treeLimit = 5)(0)
    assert(limited != full)
    // with eta=0.3 after 5 rounds toward label 1.0 from base 0.5: partial way
    assert(limited > 0.5f && limited < full)
  }

  test("F2 binary: learns separable labels with saturated probabilities") {
    val rows = Array(
      Array(1.0f, 2.0f, 3.0f), Array(0.0f, 1.0f, 5.5f),
      Array(4.0f, 5.0f, 6.0f), Array(0.0f, 6.0f, 7.5f))
    val labels = Array(0f, 0f, 1f, 1f)
    // replicate ×50 like the reference's ×100 fixtures
    val repRows = Array.fill(50)(rows).flatten
    val repLabels = Array.fill(50)(labels).flatten
    val model = Trainer.train(mat(repRows, repLabels), None,
      BoosterParams(objective = "binary:logistic", numRounds = 50))
    rows.zip(labels).foreach { case (r, y) =>
      val margin = model.predictMargin(r.clone())(0)
      val p = Objective.sigmoid(margin)
      if (y == 1f) assert(p > 0.95, s"p=$p for label 1")
      else assert(p < 0.05, s"p=$p for label 0")
    }
  }

  test("F3 multiclass 4-row fixture: min_child_weight blocks splits → " +
      "majority-class distribution, like the reference golden [.54,.23,.23]") {
    val rows = Array(
      Array(1.0f, 2.0f, 3.0f), Array(0.0f, 1.0f, 5.5f),
      Array(4.0f, 5.0f, 6.0f), Array(0.0f, 6.0f, 7.5f))
    val labels = Array(0f, 0f, 1f, 2f)
    val model = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "multi:softprob", numClass = 3, numRounds = 50))
    val margins = model.predictMargin(Array(1.0f, 2.0f, 3.0f))
    val mx = margins.map(_.toDouble).max
    val exp = margins.map(m => math.exp(m - mx))
    val probs = exp.map(_ / exp.sum)
    // class 0 has 2 of 4 labels → its probability dominates, classes 1,2 tie
    assert(probs(0) > 0.4 && probs(0) < 0.62, s"p0=${probs(0)}")
    assert(math.abs(probs(1) - probs(2)) < 1e-6)
  }

  test("multiclass with replicated rows: learns every label") {
    val base = Array(
      Array(1.0f, 2.0f, 3.0f), Array(0.0f, 1.0f, 5.5f),
      Array(4.0f, 5.0f, 6.0f), Array(0.0f, 6.0f, 7.5f))
    val baseLabels = Array(0f, 0f, 1f, 2f)
    val rows = Array.fill(50)(base).flatten
    val labels = Array.fill(50)(baseLabels).flatten
    val model = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "multi:softprob", numClass = 3, numRounds = 50))
    base.zip(baseLabels).foreach { case (r, y) =>
      val margins = model.predictMargin(r.clone())
      val pred = margins.indices.maxBy(margins(_))
      assert(pred == y.toInt, s"pred=$pred expected=$y margins=${margins.mkString(",")}")
    }
  }

  test("eval set: best_score and best_iteration are tracked; early stopping halts") {
    val rng = new java.util.Random(7)
    def gen(n: Int): (Array[Array[Float]], Array[Float]) = {
      val rows = Array.fill(n)(Array.fill(5)(rng.nextFloat() * 10))
      val labels = rows.map(r => r(0) * 2 + r(1) - r(2) + rng.nextFloat().toFloat)
      (rows, labels)
    }
    val (trR, trY) = gen(500)
    val (evR, evY) = gen(200)
    val model = Trainer.train(mat(trR, trY), Some(mat(evR, evY)),
      BoosterParams(objective = "reg:squarederror", numRounds = 200,
        earlyStoppingRounds = 5, evalMetric = Some("rmse")))
    assert(model.bestScore.isDefined && model.bestScore.get < 3.0)
    assert(model.bestIteration.isDefined && model.bestIteration.get >= 0)
  }

  test("warm start + early stopping: best_iteration counts the init booster's rounds") {
    val rng = new java.util.Random(11)
    def gen(n: Int): (Array[Array[Float]], Array[Float]) = {
      val rows = Array.fill(n)(Array.fill(4)(rng.nextFloat() * 8))
      val labels = rows.map(r => r(0) - r(1) * 0.5f + rng.nextFloat() * 0.1f)
      (rows, labels)
    }
    val (trR, trY) = gen(400)
    val (evR, evY) = gen(150)
    val initRounds = 10
    val first = Trainer.train(mat(trR, trY), None,
      BoosterParams(objective = "reg:squarederror", numRounds = initRounds))
    val cont = Trainer.train(mat(trR, trY), Some(mat(evR, evY)),
      BoosterParams(objective = "reg:squarederror", numRounds = 100,
        earlyStoppingRounds = 5, evalMetric = Some("rmse")),
      initTrees = first.trees)
    val bi = cont.bestIteration.get
    // xgboost offsets best_iteration by the init booster's rounds, so the
    // default predict prefix never truncates away the continued rounds
    assert(bi >= initRounds, s"best_iteration=$bi must count the $initRounds init rounds")
    val x = evR(0).clone()
    val dflt = cont.predictMargin(x.clone())(0)
    val explicit = cont.predictMargin(x.clone(), treeLimit = bi + 1)(0)
    assert(dflt == explicit)
    // and the truncated-to-init-only prediction (the old bug) differs
    val initOnly = cont.predictMargin(x.clone(), treeLimit = initRounds)(0)
    assert(dflt != initOnly, "default predict must include continued rounds")
  }

  test("larger regression: rmse shrinks vs the constant predictor") {
    val rng = new java.util.Random(42)
    val n = 2000
    val rows = Array.fill(n)(Array.fill(8)(rng.nextFloat() * 4 - 2))
    val labels = rows.map(r => (math.sin(r(0)) + r(1) * r(1) * 0.5 + r(2)).toFloat)
    val model = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "reg:squarederror", numRounds = 60, maxDepth = 5))
    val preds = rows.map(r => model.predictMargin(r.clone())(0))
    def rmse(p: Array[Float]) = math.sqrt(
      p.zip(labels).map { case (a, b) => (a - b) * (a - b) }.sum / n)
    val base = rmse(Array.fill(n)(labels.sum / n))
    val got = rmse(preds)
    assert(got < base * 0.2, s"rmse=$got base=$base")
  }

  test("max_delta_step clamps every leaf weight to ±eta*cap and changes the model") {
    val rng = new java.util.Random(5)
    val rows = Array.fill(300)(Array.fill(3)(rng.nextFloat() * 6))
    val labels = rows.map(r => if (r(0) > 3) 1f else 0f)
    val capped = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "binary:logistic", numRounds = 10, eta = 1.0,
        maxDeltaStep = 0.3))
    val free = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "binary:logistic", numRounds = 10, eta = 1.0))
    capped.trees.foreach { t =>
      t.left.indices.foreach { i =>
        if (t.left(i) < 0)
          assert(math.abs(t.weight(i)) <= 0.3 + 1e-6, s"leaf ${t.weight(i)} exceeds cap")
      }
    }
    assert(free.trees.exists(t => t.left.indices.exists(i =>
      t.left(i) < 0 && math.abs(t.weight(i)) > 0.3)),
      "uncapped model should have at least one leaf past the cap for this test to bite")
  }

  test("max_bin bounds the per-feature cut count and the model still learns") {
    val rng = new java.util.Random(13)
    val rows = Array.fill(500)(Array.fill(3)(rng.nextFloat() * 10))
    val labels = rows.map(r => r(0) * 2 - r(1))
    val cuts = BinCuts.fromMatrix(mat(rows, labels), Float.NaN, BinCuts.cutBudget(4))
    (0 until 3).foreach(f => assert(cuts.cuts(f).length <= 3, s"maxBin=4 allows <=3 cuts, got ${cuts.cuts(f).length}"))
    val model = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "reg:squarederror", numRounds = 30, maxBin = 4))
    val preds = rows.map(r => model.predictMargin(r.clone())(0))
    def rmse(p: Array[Float]) = math.sqrt(
      p.zip(labels).map { case (a, b) => (a - b) * (a - b) }.sum / rows.length)
    assert(rmse(preds) < rmse(Array.fill(rows.length)(labels.sum / rows.length)) * 0.5)
  }

  test("lossguide growth respects max_leaves and out-learns a depth-1 depthwise tree") {
    val rng = new java.util.Random(23)
    val rows = Array.fill(600)(Array.fill(4)(rng.nextFloat() * 8))
    val labels = rows.map(r => (math.sin(r(0)) * 3 + (if (r(1) > 4) 2 else 0) + r(2) * 0.3).toFloat)
    val model = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "reg:squarederror", numRounds = 20,
        growPolicy = "lossguide", maxLeaves = 6, maxDepth = 20))
    model.trees.foreach { t =>
      val leaves = t.left.count(_ < 0)
      assert(leaves <= 6, s"lossguide tree has $leaves leaves > max_leaves=6")
    }
    // best-first with 6 leaves must beat a single-split (2-leaf) depthwise model
    val stump = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "reg:squarederror", numRounds = 20, maxDepth = 1))
    def rmse(m: BoosterModel) = math.sqrt(rows.zip(labels).map { case (r, y) =>
      val p = m.predictMargin(r.clone())(0); (p - y) * (p - y) }.sum / rows.length)
    assert(rmse(model) < rmse(stump), "6-leaf lossguide should beat the stump")
  }

  test("depthwise growth also honors the max_leaves cap") {
    val rng = new java.util.Random(31)
    val rows = Array.fill(500)(Array.fill(4)(rng.nextFloat() * 8))
    val labels = rows.map(r => r(0) - r(1) + (if (r(2) > 4) 3 else 0))
    val model = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "reg:squarederror", numRounds = 10, maxLeaves = 5))
    model.trees.foreach { t =>
      assert(t.left.count(_ < 0) <= 5, s"depthwise tree exceeds max_leaves=5")
    }
  }

  test("colsample_bylevel/bynode train finite models that differ from the default") {
    val rng = new java.util.Random(37)
    val rows = Array.fill(400)(Array.fill(6)(rng.nextFloat() * 5))
    val labels = rows.map(r => r(0) * 2 + r(1) - r(2) + r(3) * 0.5f)
    def train(bylevel: Double, bynode: Double) = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "reg:squarederror", numRounds = 12,
        colsampleBylevel = bylevel, colsampleBynode = bynode))
    val dflt = train(1.0, 1.0)
    val byLevel = train(0.5, 1.0)
    val byNode = train(1.0, 0.5)
    Seq(byLevel, byNode).foreach { m =>
      rows.take(20).foreach(r => assert(!m.predictMargin(r.clone())(0).isNaN))
    }
    def sig(m: BoosterModel) = m.trees.map(_.feature.toSeq).toSeq
    assert(sig(byLevel) != sig(dflt), "bylevel=0.5 must alter split choices")
    assert(sig(byNode) != sig(dflt), "bynode=0.5 must alter split choices")
  }

  test("auc metric: matches the hand-computed pair statistic; early stopping maximizes it") {
    // pos scores {σ(2), σ(0.5)}, neg {σ(1), σ(-1)} → 3 of 4 pairs ordered
    val auc = EvalMetric.compute("auc",
      Array(2f, 1f, 0.5f, -1f), Array(1f, 0f, 1f, 0f), null, 2)
    assert(math.abs(auc - 0.75) < 1e-9, s"got $auc")
    // degenerate single-class eval → NaN, not a crash
    assert(EvalMetric.compute("auc", Array(1f, 2f), Array(1f, 1f), null, 2).isNaN)
    assert(!EvalMetric.lowerIsBetter("auc") && EvalMetric.lowerIsBetter("logloss"))

    val rng = new java.util.Random(3)
    def gen(n: Int): (Array[Array[Float]], Array[Float]) = {
      val rows = Array.fill(n)(Array.fill(4)(rng.nextFloat() * 4))
      (rows, rows.map(r => if (r(0) + rng.nextGaussian().toFloat > 2) 1f else 0f))
    }
    val (trR, trY) = gen(500)
    val (evR, evY) = gen(200)
    val model = Trainer.train(mat(trR, trY), Some(mat(evR, evY)),
      BoosterParams(objective = "binary:logistic", numRounds = 100,
        earlyStoppingRounds = 5, evalMetric = Some("auc")))
    assert(model.bestScore.get > 0.5 && model.bestScore.get <= 1.0,
      s"auc best_score ${model.bestScore}")
    assert(model.bestIteration.isDefined && model.trees.length < 100,
      "auc plateaus -> early stopping must fire")
  }

  test("count:poisson learns rates in mean space (exp transform, default 0.7 delta cap)") {
    val rng = new java.util.Random(17)
    // two regimes: feature<3 → rate 2, else → rate 12
    val rows = Array.fill(800)(Array(rng.nextFloat() * 6))
    def poisson(mu: Double): Float = {
      var l = math.exp(-mu); var k = 0; var prod = rng.nextDouble()
      while (prod > l) { k += 1; prod *= rng.nextDouble() }
      k.toFloat
    }
    val labels = rows.map(r => poisson(if (r(0) < 3) 2.0 else 12.0))
    val p = BoosterParams(objective = "count:poisson", numRounds = 60, maxDepth = 3,
      baseScore = labels.sum / labels.length)
    assert(p.resolved.maxDeltaStep == 0.7, "poisson defaults max_delta_step to 0.7")
    val model = Trainer.train(mat(rows, labels), None, p)
    val obj = model.objective
    def pred(x: Float) = obj.predictTransform(model.predictMargin(Array(x))(0))
    val lo = (0 until 20).map(i => pred(0.1f + i * 0.14f)).sum / 20
    val hi = (0 until 20).map(i => pred(3.2f + i * 0.14f)).sum / 20
    assert(math.abs(lo - 2.0) < 1.0, s"low-regime rate ≈2, got $lo")
    assert(math.abs(hi - 12.0) < 2.5, s"high-regime rate ≈12, got $hi")
    assert(lo > 0 && hi > 0, "poisson predictions are positive")
  }

  test("reg:logistic: predictions are sigmoid(margin) in (0,1) tracking the label rate") {
    val rng = new java.util.Random(19)
    val rows = Array.fill(600)(Array(rng.nextFloat() * 4))
    val labels = rows.map(r => if (rng.nextDouble() < (r(0) / 4.0)) 1f else 0f)
    val model = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "reg:logistic", numRounds = 40, maxDepth = 3))
    val obj = model.objective
    def pred(x: Float) = obj.predictTransform(model.predictMargin(Array(x))(0))
    val all = (0 until 40).map(i => pred(i * 0.1f))
    assert(all.forall(p => p > 0.0 && p < 1.0), "predictions bounded in (0,1)")
    assert(pred(0.2f) < 0.3 && pred(3.8f) > 0.7, s"${pred(0.2f)} .. ${pred(3.8f)}")
  }

  test("weights: heavily weighted duplicate dominates the leaf value") {
    val rows = Array(Array(1.0f), Array(1.0f))
    val labels = Array(0f, 1f)
    // same feature value → single leaf; weighted mean pulls toward label 1
    val model = Trainer.train(mat(rows, labels, weights = Array(1f, 9f)), None,
      BoosterParams(objective = "reg:squarederror", numRounds = 100, lambda = 0.0))
    val p = model.predictMargin(Array(1.0f))(0)
    assert(math.abs(p - 0.9) < 1e-2, s"p=$p")
  }

  test("base margin shifts the starting point") {
    val rows = Array(Array(1.0f, 0f), Array(2.0f, 0f))
    val labels = Array(1f, 1f)
    val m0 = Trainer.train(mat(rows, labels, margins = Array(0f, 0f)), None,
      BoosterParams(objective = "binary:logistic", numRounds = 1, eta = 0.1))
    val m1 = Trainer.train(mat(rows, labels, margins = Array(3f, 3f)), None,
      BoosterParams(objective = "binary:logistic", numRounds = 1, eta = 0.1))
    // higher starting margin → smaller gradient → smaller first-tree step,
    // and the trained model's own predictions differ
    assert(m0.trees.head.weight.max > m1.trees.head.weight.max)
  }

  test("missing sentinel: rows with missing==0.0 train and predict finitely") {
    val rows = Array(
      Array(0.0f, 2.0f), Array(1.0f, 0.0f), Array(2.0f, 3.0f), Array(3.0f, 1.0f))
    val labels = Array(0f, 1f, 0f, 1f)
    val model = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "binary:logistic", numRounds = 10, missing = 0.0f))
    rows.foreach { r =>
      val p = model.predictMarginWithMissing(r.clone())(0)
      assert(!p.isNaN && !p.isInfinite)
    }
  }

  test("ModelJson: round-trip preserves predictions exactly") {
    val rng = new java.util.Random(1)
    val rows = Array.fill(200)(Array.fill(4)(rng.nextFloat() * 6))
    val labels = rows.map(r => if (r(0) + r(1) > 6) 1f else 0f)
    val model = Trainer.train(mat(rows, labels), None,
      BoosterParams(objective = "binary:logistic", numRounds = 20))
    val back = ModelJson.fromJson(ModelJson.toJson(model))
    assert(back.objectiveName == model.objectiveName)
    assert(back.trees.length == model.trees.length)
    rows.take(20).foreach { r =>
      assert(back.predictMargin(r.clone())(0) == model.predictMargin(r.clone())(0))
    }
  }

  test("softmax gradient: uniform margins give symmetric probabilities") {
    val g = new Array[Float](3)
    val h = new Array[Float](3)
    Objective.Softprob.gradHess(Array(0f, 0f, 0f), Array(0f), null, 3, g, h)
    assert(math.abs(g(0) - (1.0 / 3 - 1)) < 1e-6)
    assert(math.abs(g(1) - 1.0 / 3) < 1e-6)
    assert(h.forall(_ > 0))
  }

  /** The tree walk before the interleaved child array: a three-way branch
    * per step. The oracle for [[Tree.predict]]. */
  private def branchingWalk(t: Tree, x: Array[Float]): Float = {
    var node = 0
    while (t.left(node) >= 0) {
      val v = x(t.feature(node))
      node =
        if (v != v) { if (t.defaultLeft(node)) t.left(node) else t.right(node) }
        else if (v < t.threshold(node)) t.left(node)
        else t.right(node)
    }
    t.weight(node)
  }

  /** A random tree over `m` features whose thresholds come from `cuts`;
    * children are appended after their parent, as the growers do. */
  private def randomTree(rng: java.util.Random, m: Int, maxDepth: Int, cuts: Array[Float]): Tree = {
    val feature, left, right = ArrayBuffer.empty[Int]
    val threshold, weight = ArrayBuffer.empty[Float]
    val defaultLeft = ArrayBuffer.empty[Boolean]
    def grow(depth: Int): Int = {
      val id = feature.length
      feature += rng.nextInt(m); threshold += cuts(rng.nextInt(cuts.length))
      defaultLeft += rng.nextBoolean(); left += -1; right += -1
      weight += rng.nextFloat() * 2 - 1
      if (depth < maxDepth && rng.nextInt(5) != 0) {
        left(id) = grow(depth + 1)
        right(id) = grow(depth + 1)
      }
      id
    }
    grow(0)
    new Tree(feature.toArray, threshold.toArray, defaultLeft.toArray,
      left.toArray, right.toArray, weight.toArray)
  }

  test("Tree.predict's interleaved walk == the branching walk: random trees, " +
      "NaN inputs, both default directions, inputs on the thresholds") {
    val cuts = Array(-2.5f, -1f, -0.0f, 0f, 0.5f, 1f, 3.25f, Float.MinPositiveValue)
    val cases = Gen.listOfN(300, Gen.zip(Gen.choose(1L, Long.MaxValue), Gen.choose(1, 8),
      Gen.choose(0, 10))).pureApply(Gen.Parameters.default, Seed(20261018L))
    var nanLeft, nanRight = 0
    cases.foreach { case (seed, m, depth) =>
      val rng = new java.util.Random(seed)
      val tree = randomTree(rng, m, depth, cuts)
      (1 to 50).foreach { _ =>
        val x = Array.fill(m)(rng.nextInt(6) match {
          case 0 => Float.NaN
          case 1 => cuts(rng.nextInt(cuts.length))
          case 2 => Math.nextUp(cuts(rng.nextInt(cuts.length)))
          case 3 => if (rng.nextBoolean()) Float.PositiveInfinity else Float.NegativeInfinity
          case _ => rng.nextFloat() * 8 - 4
        })
        val want = branchingWalk(tree, x)
        val got = tree.predict(x)
        assert(java.lang.Float.floatToRawIntBits(got) == java.lang.Float.floatToRawIntBits(want),
          s"seed $seed: predict $got, branching walk $want on ${x.mkString(",")}")
        if (tree.left(0) >= 0 && x(tree.feature(0)).isNaN)
          if (tree.defaultLeft(0)) nanLeft += 1 else nanRight += 1
      }
    }
    assert(nanLeft > 0 && nanRight > 0, s"NaN routed left $nanLeft, right $nanRight times at roots")
  }

  /** The bin search before the branchless one: a branching binary search
    * for the first cut above `v`. The oracle for [[BinCuts.binOf]]. */
  private def branchingBinOf(c: Array[Float], v: Float): Int = {
    if (v != v) return BinCuts.MissingBin
    var lo = 0
    var hi = c.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (v < c(mid)) hi = mid else lo = mid + 1
    }
    lo
  }

  /** The exact cuts before the primitive column path: boxed distinct
    * values, evenly-spaced picks and `distinct`. The oracle for
    * [[BinCuts.fromMatrix]]. */
  private def boxedCuts(m: TrainMatrix, missing: Float, maxCuts: Int): Array[Array[Float]] = {
    val budget = math.min(math.max(maxCuts, 1), BinCuts.MaxCuts)
    Array.tabulate(m.numCols) { f =>
      val raw = Array.tabulate(m.numRows) { i =>
        val v = m(i, f)
        if (!missing.isNaN && v == missing) Float.NaN else v
      }
      val clean = raw.filter(v => v == v)
      java.util.Arrays.sort(clean)
      val distinct = new ArrayBuffer[Float]()
      clean.foreach(v => if (distinct.isEmpty || v != distinct.last) distinct += v)
      if (distinct.length <= 1) Array.empty[Float]
      else {
        val cand = distinct.drop(1)
        if (cand.length <= budget) cand.toArray
        else Array.tabulate(budget)(j =>
          cand(((j + 1).toLong * cand.length / (budget + 1)).toInt)).distinct
      }
    }
  }

  private def bits(a: Array[Float]): Seq[Int] = a.toSeq.map(java.lang.Float.floatToRawIntBits)

  private val specials = Array(0.0f, -0.0f, Float.PositiveInfinity, Float.NegativeInfinity)

  test("binOf's branchless search == the branching binary search: random cut arrays of " +
      "0-254 entries with ties, +-0.0 and +-Inf, inputs at, above and below each cut, NaN") {
    val seeds = Gen.listOfN(200, Gen.choose(1L, Long.MaxValue))
      .pureApply(Gen.Parameters.default, Seed(20261019L))
    var lengths = Set.empty[Int]
    seeds.foreach { seed =>
      val rng = new java.util.Random(seed)
      val len = if (rng.nextInt(10) == 0) rng.nextInt(2) * BinCuts.MaxCuts else rng.nextInt(255)
      lengths += len
      val c = Array.fill(len)(rng.nextInt(8) match {
        case 0 => specials(rng.nextInt(specials.length))
        case 1 => rng.nextInt(5).toFloat // ties
        case _ => (rng.nextGaussian() * 100).toFloat
      })
      java.util.Arrays.sort(c)
      val cuts = new BinCuts(Array(c))
      val inputs = c.flatMap(v => Seq(v, Math.nextUp(v), Math.nextDown(v))) ++ specials ++
        Seq(Float.NaN, Float.MaxValue, -Float.MaxValue) ++ Seq.fill(20)(rng.nextFloat() * 400 - 200)
      inputs.foreach { v =>
        assert(cuts.binOf(0, v) == branchingBinOf(c, v), s"seed $seed: binOf($v) over ${c.toSeq}")
      }
      assert(cuts.binOf(0, Float.NaN) == BinCuts.MissingBin)
    }
    assert(lengths.contains(0) && lengths.contains(BinCuts.MaxCuts), s"lengths $lengths")
  }

  test("fromMatrix's in-place cuts are bit-identical to the boxed path: ties, NaN, a " +
      "non-NaN missing sentinel, +-0.0, all-missing, single-value and > 254-value columns") {
    val seeds = Gen.listOfN(120, Gen.choose(1L, Long.MaxValue))
      .pureApply(Gen.Parameters.default, Seed(20261020L))
    var wide = 0
    seeds.foreach { seed =>
      val rng = new java.util.Random(seed)
      val n = 1 + rng.nextInt(if (rng.nextBoolean()) 40 else 1500)
      val m = 1 + rng.nextInt(6)
      val missing = if (rng.nextBoolean()) Float.NaN else (rng.nextInt(3) - 1).toFloat
      val kinds = Array.fill(m)(rng.nextInt(5))
      val values = Array.tabulate(n * m) { i =>
        kinds(i % m) match {
          case 0 => if (rng.nextBoolean()) Float.NaN else missing // all missing
          case 1 => 7.5f // single value
          case 2 => if (rng.nextInt(5) == 0) Float.NaN else specials(rng.nextInt(specials.length))
          case 3 => rng.nextInt(12) - 6.0f + (if (rng.nextInt(7) == 0) missing else 0f)
          case _ => if (rng.nextInt(9) == 0) missing else (rng.nextGaussian() * 1e3).toFloat
        }
      }
      val mat = new TrainMatrix(n, m, values, new Array[Float](n), null, null)
      val budget = if (rng.nextBoolean()) BinCuts.MaxCuts else 1 + rng.nextInt(BinCuts.MaxCuts)
      val got = BinCuts.fromMatrix(mat, missing, budget).cuts
      val want = boxedCuts(mat, missing, budget)
      got.zip(want).zipWithIndex.foreach { case ((g, w), f) =>
        assert(bits(g) == bits(w), s"seed $seed feature $f (kind ${kinds(f)}): ${g.toSeq} vs ${w.toSeq}")
      }
      wide += want.count(_.length == budget && budget > 100)
    }
    assert(wide > 0, "some columns must have more distinct values than the cut budget")
  }
}

package perfbench

/** One workload: the data it generates and the model it fits. `classes` is
  * 0 for regression, 2 for binary, K for multiclass. A cycle of the window
  * is one fit, then `opsPerFit` scoring passes and as many save/load round
  * trips of the fitted model. A traced run also makes `barrierSideFits`
  * fits of the same data through the barrier path, for the BarrierTrainer
  * layer's metrics. */
final case class Shape(
    name: String,
    classes: Int,
    trainRows: Int,
    scoreRows: Int, // 0: score the training frame
    holdoutRows: Int,
    rounds: Int,
    depth: Int,
    singleNode: Boolean,
    opsPerFit: Int = 2,
    barrierSideFits: Int = 0)

/** Why each workload exists is recorded beside its name in BENCHMARK.json.
  * Row counts are scaled so that set-up plus a measured window fits the
  * benchmark's run length on a 4-cpu machine; each keeps the property that
  * makes it distinct. */
object Shapes {
  val all: Seq[Shape] = Seq(
    // K=10: 40 treeAggregate level jobs per fit (10 classes x depth 4) on
    // few rows, so driver, scheduling and histogram transfer dominate; the
    // scoring frame is twice the training frame so a scoring pass is not
    // mostly job start-up
    Shape("multiclass_dist", classes = 10, trainRows = 10000, scoreRows = 20000,
      holdoutRows = 2000, rounds = 1, depth = 4, singleNode = false),
    // K=1: 6 level jobs per fit over 10x the rows, so per-row kernels
    // (quantile sketch, binning, histogram accumulation) dominate
    Shape("tall_dist", classes = 0, trainRows = 300000, scoreRows = 0,
      holdoutRows = 5000, rounds = 2, depth = 6, singleNode = false, barrierSideFits = 2),
    // single-node binary fit, then batch scoring of a 10x larger frame and
    // persistence round trips; one of each per fit, because with two the
    // window held only 5 one-core fits and fit_s spread 0.19 across seeds
    Shape("score_single", classes = 2, trainRows = 20000, scoreRows = 200000,
      holdoutRows = 20000, rounds = 20, depth = 6, singleNode = true, opsPerFit = 1))

  def byName(n: String): Option[Shape] = all.find(_.name == n)
}

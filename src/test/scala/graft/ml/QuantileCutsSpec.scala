package graft.ml

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Distributed quantile-sketch bin cuts: equivalence with the exact
  * per-feature construction at small N, sanity at larger N, the rank bound
  * and row-order independence of the sorted-column summaries, and the
  * batched quantile query the cuts use against Spark's per-quantile query.
  */
class QuantileCutsSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  private def rowsRdd(values: Seq[Array[Double]]) =
    spark.sparkContext.parallelize(
      values.map(v => Row(Vectors.dense(v), 0.0)), 4)

  test("cuts bracket the data and bin monotonically") {
    val rng = new scala.util.Random(13)
    val data = Seq.fill(5000)(Array(rng.nextGaussian(), rng.nextDouble() * 100))
    val cuts = QuantileCuts.fromRdd(rowsRdd(data), Float.NaN)
    assert(cuts.numFeatures == 2)
    (0 until 2).foreach { f =>
      val c = cuts.cuts(f)
      assert(c.length > 50, s"expected many cuts for a continuous feature: ${c.length}")
      assert(c.sameElements(c.sorted))
      // every data value lands in a valid bin and binning is monotone
      val samples = data.map(_(f).toFloat).sorted
      val bins = samples.map(cuts.binOf(f, _))
      assert(bins.head >= 0 && bins.last <= c.length)
      assert(bins.sameElements(bins.sorted), "binOf must be monotone in the value")
    }
  }

  test("low-cardinality features get near-exact cuts (quantiles hit the values)") {
    val data = Seq.tabulate(1000)(i => Array((i % 5).toDouble))
    val cuts = QuantileCuts.fromRdd(rowsRdd(data), Float.NaN)
    // values 0..4 → thresholds must separate all five groups
    val c = cuts.cuts(0)
    val binsOfValues = (0 to 4).map(v => cuts.binOf(0, v.toFloat))
    assert(binsOfValues.distinct.length == 5,
      s"each distinct value needs its own bin: $binsOfValues (cuts ${c.toSeq})")
  }

  test("missing sentinel values stay out of the sketch") {
    val data = Seq.tabulate(100)(i => Array(if (i % 2 == 0) -999.0 else i.toDouble))
    val cuts = QuantileCuts.fromRdd(rowsRdd(data), -999.0f)
    assert(cuts.cuts(0).forall(_ != -999.0f))
    assert(cuts.binOf(0, Float.NaN) == BinCuts.MissingBin)
  }

  // ---- batched query == (1 to budget).map(j => sk.query(j / (budget + 1.0))) ----

  private val Budgets = Seq(1, 15, 254)

  private def rowsIn(values: Seq[Array[Double]], partitions: Int) =
    spark.sparkContext.parallelize(values.map(v => Row(Vectors.dense(v), 0.0)), partitions)

  /** The merged per-feature summaries of `rows`. */
  private def sketch(rows: RDD[Row], missing: Float): Array[QuantileSummaries] =
    QuantileCuts.sketch(rows, missing, distinct = false)._1

  /** Bit-identical Float quantiles, and identical cuts, for every budget. */
  private def assertBatchedMatchesQuery(sketches: Array[QuantileSummaries], what: String): Unit =
    for ((sk, f) <- sketches.zipWithIndex if sk.count > 0; budget <- Budgets) {
      val want = (1 to budget).map(j => sk.query(j / (budget + 1.0)).get.toFloat).toArray
      val got = sk.query((1 to budget).map(j => j / (budget + 1.0))).get.map(_.toFloat).toArray
      val bits = (a: Array[Float]) => a.map(java.lang.Float.floatToRawIntBits).toSeq
      assert(bits(got) == bits(want),
        s"$what, feature $f, budget $budget: first difference at j=" +
          s"${got.indices.find(i => bits(got)(i) != bits(want)(i)).map(_ + 1)}")
      val minV = sk.query(0.0).get.toFloat
      val wantCuts = want.filter(c => c > minV && !c.isNaN).distinct.sorted
      assert(QuantileCuts.cutsOf(sk, budget).toSeq == wantCuts.toSeq, s"$what, feature $f, budget $budget")
    }

  test("batched query == per-quantile query: random data of random shape (fixed-seed scalacheck)") {
    val column: Gen[Int => Double] = Gen.chooseNum(1L, 1000L).flatMap { seed =>
      val r = new scala.util.Random(seed)
      Gen.oneOf[Int => Double](
        (_: Int) => r.nextGaussian(),
        (_: Int) => r.nextDouble() * 100,
        (_: Int) => math.exp(r.nextGaussian() * 3), // long right tail
        (i: Int) => (i * 7919 % (seed % 39 + 2)).toDouble) // low cardinality
    }
    val dataset = for {
      rows <- Gen.chooseNum(1, 30000)
      parts <- Gen.chooseNum(1, 8)
      cols <- Gen.listOfN(3, column)
    } yield (rows, parts, cols)
    Gen.listOfN(8, dataset).pureApply(Gen.Parameters.default, Seed(20261017L)).foreach {
      case (rows, parts, cols) =>
        val data = Seq.tabulate(rows)(i => cols.map(c => c(i)).toArray)
        assertBatchedMatchesQuery(sketch(rowsIn(data, parts), Float.NaN),
          s"$rows rows in $parts partitions")
    }
  }

  test("batched query == per-quantile query: all-equal, 5-value and heavily tied columns") {
    val rng = new scala.util.Random(5)
    val data = Seq.tabulate(20000) { i =>
      Array(3.25, (i % 5).toDouble,
        if (rng.nextDouble() < 0.9) 1.0 else rng.nextDouble(),
        if (i % 100 < 60) 0.0 else (i % 7).toDouble)
    }
    assertBatchedMatchesQuery(sketch(rowsIn(data, 4), Float.NaN), "tied columns")
  }

  test("batched query == per-quantile query: single-row partitions") {
    val rng = new scala.util.Random(7)
    val data = Seq.fill(48)(Array(rng.nextGaussian(), (rng.nextInt(3)).toDouble))
    assertBatchedMatchesQuery(sketch(rowsIn(data, 48), Float.NaN), "single-row partitions")
  }

  test("batched query == per-quantile query: the missing sentinel stays out") {
    val rng = new scala.util.Random(9)
    val data = Seq.tabulate(10000)(i => Array(if (i % 3 == 0) -999.0 else rng.nextDouble() * 10))
    val sketches = sketch(rowsIn(data, 4), -999.0f)
    assert(sketches(0).count == data.count(_(0) != -999.0))
    assertBatchedMatchesQuery(sketches, "missing sentinel")
  }

  // ---- sorted-column summaries: rank bound, count, row-order independence ----

  private val Missing = -999.0f

  /** Partition i of the RDD holds exactly `parts(i)`, empty ones included. */
  private def laidOut(parts: Seq[Seq[Array[Double]]]) =
    spark.sparkContext.parallelize(parts.map(_.map(v => Row(Vectors.dense(v), 0.0))), parts.length)
      .flatMap(identity)

  /** Each queried quantile's value sits within ⌈εn⌉ ranks of its target
    * rank ⌈qn⌉ in the exact sorted column of non-missing values, and the
    * summary counts exactly those values. */
  private def assertRankBound(sketches: Array[QuantileSummaries],
      data: Seq[Array[Double]], what: String): Unit =
    sketches.zipWithIndex.foreach { case (sk, f) =>
      val col = data.map(_(f).toFloat).filter(x => !x.isNaN && x != Missing).map(_.toDouble).toArray
      java.util.Arrays.sort(col)
      val n = col.length
      assert(sk.count == n, s"$what, feature $f: count ${sk.count} vs $n non-missing values")
      if (n > 0) {
        val slack = math.ceil(QuantileCuts.RelativeError * n).toLong
        val qs = (0 to 255).map(_ / 255.0)
        qs.zip(sk.query(qs).get).foreach { case (q, v) =>
          val target = math.min(math.max(math.ceil(q * n).toLong, 1L), n.toLong)
          // v's 1-based ranks in the column: (#values < v) + 1 to #values <= v
          val lo = col.count(_ < v) + 1L
          val hi = col.count(_ <= v).toLong
          val off = math.max(0L, math.max(lo - target, target - hi))
          assert(hi >= lo && off <= slack,
            s"$what, feature $f, q=$q: value $v has ranks [$lo, $hi], target $target, " +
              s"off by $off > $slack (n=$n)")
        }
      }
    }

  private def cutBits(c: BinCuts) = c.cuts.map(_.map(java.lang.Float.floatToRawIntBits).toSeq).toSeq

  private val shapedColumn: Gen[Int => Double] = Gen.chooseNum(1L, 1000L).flatMap { seed =>
    val r = new scala.util.Random(seed)
    def dirty(x: => Double): Int => Double = { _ =>
      val u = r.nextDouble()
      if (u < 0.03) Missing.toDouble else if (u < 0.05) Double.NaN
      else if (u < 0.07) -0.0 else if (u < 0.09) 0.0 else x
    }
    Gen.oneOf[Int => Double](
      dirty(r.nextGaussian()),
      dirty(r.nextDouble() * 100),
      dirty(math.exp(r.nextGaussian() * 3)), // long right tail
      dirty(r.nextInt((seed % 39 + 2).toInt).toDouble)) // low cardinality
  }

  /** Rows of random shape split into 1-8 partitions (some of them empty),
    * with feature 0 all missing in one partition. */
  private val shapedDataset = for {
    rows <- Gen.chooseNum(1, 30000)
    parts <- Gen.chooseNum(1, 8)
    cols <- Gen.listOfN(3, shapedColumn)
    splitSeed <- Gen.chooseNum(1L, 1000000L)
  } yield {
    val r = new scala.util.Random(splitSeed)
    val data = Seq.tabulate(rows)(i => cols.map(c => c(i)).toArray)
    val cuts = (Seq.fill(parts - 1)(if (r.nextInt(4) == 0) 0 else r.nextInt(rows + 1)) :+ rows).sorted
    val layout = (0 +: cuts).zip(cuts).map { case (a, b) => data.slice(a, b) }
    val blank = r.nextInt(parts)
    layout.zipWithIndex.map { case (p, i) =>
      if (i == blank) p.map(v => Missing.toDouble +: v.tail) else p
    }
  }

  test("sorted-column summaries: rank bound within ceil(eps*n), exact count, and cuts " +
    "bit-identical under row permutation within partitions (fixed-seed scalacheck)") {
    Gen.listOfN(8, shapedDataset).pureApply(Gen.Parameters.default, Seed(20261018L)).foreach { layout =>
      val data = layout.flatten
      val what = s"${data.length} rows in ${layout.map(_.length).mkString("[", ",", "]")}"
      assertRankBound(sketch(laidOut(layout), Missing), data, what)
      val r = new scala.util.Random(data.length)
        val cuts = QuantileCuts.fromRdd(laidOut(layout), Missing)
      val shuffled = QuantileCuts.fromRdd(laidOut(layout.map(r.shuffle(_))), Missing)
      assert(cutBits(shuffled) == cutBits(cuts), s"$what: cuts depend on the row order")
    }
  }

  test("cuts are bit-identical under row permutation in partitions past GK's 50k-value " +
    "head buffer") {
    // Spark's GK insert sorts its first 50000 values per summary as one
    // batch, so only larger partitions can see the row order
    val rng = new scala.util.Random(31)
    val data = Seq.fill(2 * 80000)(Array(rng.nextGaussian(), math.exp(rng.nextGaussian() * 3)))
    val layout = data.grouped(80000).toSeq
    val cuts = QuantileCuts.fromRdd(laidOut(layout), Missing)
    val shuffled = QuantileCuts.fromRdd(laidOut(layout.map(rng.shuffle(_))), Missing)
    assert(cutBits(shuffled) == cutBits(cuts), "cuts depend on the row order")
  }

  test("summaries too large for half of spark.driver.maxResultSize merge on executors, " +
    "within the same rank bound") {
    val rng = new scala.util.Random(23)
    val (m, parts, perPart) = (20, 8, 2000)
    val data = Seq.fill(parts * perPart)(Array.fill(m)(rng.nextGaussian()))
    val layout = data.grouped(perPart).toSeq
    val sc = spark.sparkContext
    def jobsOf(group: String)(body: => Array[QuantileSummaries]) = {
      sc.setJobGroup(group, group)
      try { val s = body; (s, sc.statusTracker.getJobIdsForGroup(group).length) }
      finally sc.clearJobGroup()
    }
    val (direct, directJobs) = jobsOf("sketch-direct")(sketch(laidOut(layout), Missing))
    val limit = 4L << 20
    // every partition ships m summaries of 2000 / floor(2 eps 2000) + 1 entries
    assert(!DistTrainer.resultsFit(parts, 4L * m * (perPart / 4 + 1), limit),
      "the single-stage sketch job must overrun half the limit")
    val (merged, mergedJobs) = jobsOf("sketch-executor-merge")(org.apache.spark.LiveConf.withSetting(
      sc, "spark.driver.maxResultSize", limit.toString)(sketch(laidOut(layout), Missing)))
    assert(directJobs == 1 && mergedJobs > 1, s"jobs: direct $directJobs, executor merge $mergedJobs")
    assertRankBound(direct, data, "driver merge")
    assertRankBound(merged, data, "executor merge")
  }

  test("an input without rows is an empty training input") {
    val e = intercept[IllegalArgumentException](sketch(laidOut(Seq(Nil, Nil)), Missing))
    assert(e.getMessage.contains("empty training input"))
  }
}

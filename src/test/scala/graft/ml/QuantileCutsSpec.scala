package graft.ml

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Distributed quantile-sketch bin cuts: equivalence with the exact
  * per-feature construction at small N, sanity at larger N, and the
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
        assertBatchedMatchesQuery(QuantileCuts.sketch(rowsIn(data, parts), Float.NaN),
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
    assertBatchedMatchesQuery(QuantileCuts.sketch(rowsIn(data, 4), Float.NaN), "tied columns")
  }

  test("batched query == per-quantile query: single-row partitions") {
    val rng = new scala.util.Random(7)
    val data = Seq.fill(48)(Array(rng.nextGaussian(), (rng.nextInt(3)).toDouble))
    assertBatchedMatchesQuery(QuantileCuts.sketch(rowsIn(data, 48), Float.NaN), "single-row partitions")
  }

  test("batched query == per-quantile query: the missing sentinel stays out") {
    val rng = new scala.util.Random(9)
    val data = Seq.tabulate(10000)(i => Array(if (i % 3 == 0) -999.0 else rng.nextDouble() * 10))
    val sketches = QuantileCuts.sketch(rowsIn(data, 4), -999.0f)
    assert(sketches(0).count == data.count(_(0) != -999.0))
    assertBatchedMatchesQuery(sketches, "missing sentinel")
  }
}

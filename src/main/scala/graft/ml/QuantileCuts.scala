package graft.ml

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.QuantileSummaries

/** Distributed per-feature quantile sketch for histogram bin cuts — the
  * scale-correct replacement for a driver-side `takeSample` matrix (which
  * at 100 TB is both a biased bound and a driver-memory hazard).
  *
  * One pass: each partition folds its rows into per-feature
  * Greenwald-Khanna summaries (Spark's own `QuantileSummaries`, the
  * machinery behind `approxQuantile`), compressed per partition and
  * merged with `treeReduce` — O(features × sketch) driver memory,
  * independent of row count. Cuts are the 254 evenly-spaced quantiles,
  * de-duplicated, excluding the global minimum (a threshold at the min
  * separates nothing) — mirroring `BinCuts.fromColumnSamples` semantics.
  * This is xgboost-hist's own recipe (approximate quantile sketch →
  * fixed bin budget).
  *
  * The driver reads each feature's quantiles with one batched
  * `QuantileSummaries.query(Seq)`, a single walk over the merged summary,
  * rather than one `query` per quantile, each of which folds the whole
  * summary for its error bound and rescans it from its head.
  */
object QuantileCuts {
  val RelativeError = 0.001

  def fromRdd(rows: RDD[Row], missing: Float, maxCuts: Int = BinCuts.MaxCuts): BinCuts = {
    val budget = math.min(math.max(maxCuts, 1), BinCuts.MaxCuts)
    new BinCuts(sketch(rows, missing).map(cutsOf(_, budget)))
  }

  /** One merged summary per feature. */
  private[ml] def sketch(rows: RDD[Row], missing: Float): Array[QuantileSummaries] =
    rows.mapPartitions { it =>
      var acc: Array[QuantileSummaries] = null
      it.foreach { row =>
        val v = row.getAs[Vector](0)
        if (acc == null)
          acc = Array.fill(v.size)(
            new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, RelativeError))
        require(v.size == acc.length,
          s"feature dimension mismatch: got ${v.size}, expected ${acc.length}")
        var i = 0
        while (i < v.size) {
          // densified semantics: implicit zeros are VALUES (§1.2); only
          // NaN / the missing sentinel stay out of the sketch
          val x = v(i).toFloat
          val isMissing = x.isNaN || (!missing.isNaN && x == missing)
          if (!isMissing) acc(i) = acc(i).insert(x.toDouble)
          i += 1
        }
      }
      if (acc == null) Iterator.empty
      else Iterator.single(acc.map(_.compress()))
    }.treeReduce { (a, b) =>
      a.zip(b).map { case (x, y) => x.merge(y) }
    }

  /** One feature's sorted, distinct cuts above its minimum. */
  private[ml] def cutsOf(sk: QuantileSummaries, budget: Int): Array[Float] =
    if (sk.count == 0) Array.empty[Float]
    else {
      val minV = sk.query(0.0).get.toFloat
      val distinct = sk.query((1 to budget).map(j => j / (budget + 1.0))).get
        .map(_.toFloat).toArray
        .filter(c => c > minV && !c.isNaN)
        .distinct
      java.util.Arrays.sort(distinct)
      distinct
    }
}

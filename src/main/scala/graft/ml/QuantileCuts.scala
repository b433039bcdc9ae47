package graft.ml

import org.apache.spark.TaskContext
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.catalyst.util.QuantileSummaries.Stats

/** Distributed per-feature quantile sketch for histogram bin cuts — the
  * scale-correct replacement for a driver-side `takeSample` matrix (which
  * at 100 TB is both a biased bound and a driver-memory hazard).
  *
  * Per partition, one task buffers each feature's non-missing values into
  * a primitive float column, sorts it (`java.util.Arrays.sort`) and reads
  * a compressed Greenwald-Khanna summary (Spark's own `QuantileSummaries`,
  * the machinery behind `approxQuantile`) straight off the sorted column:
  * the minimum, every ⌊2εn⌋-th value and the maximum, each with g = its
  * rank gap to the previous entry and Δ = 0, because every rank is exact.
  * GK's invariant is g + Δ ≤ 2εn, and any rank r lies within g/2 ≤ εn of
  * an entry's exact rank, so the summary answers every quantile within εn
  * ranks — the bound Spark's `merge` and `query` assume of a summary that
  * `insert` + `compress` would have built, at the cost of one sort instead
  * of a per-value insert into a boxed buffer. The summary depends only on
  * the partition's multiset of values, not on its row order.
  *
  * The driver merges the N per-partition summaries in partition-id order,
  * so the cuts do not depend on which task finishes first. They arrive
  * from one single-stage job; when their size would pass half of
  * spark.driver.maxResultSize (the rule [[DistTrainer.resultsFit]] applies
  * to level histograms) the tasks ship nothing, and a second pass merges
  * on executors with `treeReduce`, in finish order.
  *
  * A distributed fit's sketch is also its label pass: each task gathers
  * its partition's [[LabelStats]] beside the summaries, the results (or
  * the `treeReduce` fallback) carry both, and the fit resolves its
  * objective from the merged statistics ([[ObjectiveRule]]) before it
  * builds its training state. No other job reads the labels first.
  *
  * Memory: a task holds its partition's floats once (4 bytes per
  * non-missing value, e.g. 8.4 MB for 75k rows × 28 features, the size
  * class of the `TrainMatrix` the fit builds from the same partition);
  * the driver holds O(N × features × 1/ε) summary entries, independent of
  * row count.
  *
  * Cuts are the 254 evenly-spaced quantiles, de-duplicated, excluding the
  * global minimum (a threshold at the min separates nothing) — the rule
  * of the single-node path's exact cuts, `BinCuts.fromMatrix`, which
  * takes every distinct value while there are at most 254 of them. This
  * is xgboost-hist's own recipe
  * (approximate quantile sketch → fixed bin budget). The driver reads each
  * feature's quantiles with one batched `QuantileSummaries.query(Seq)`, a
  * single walk over the merged summary.
  */
object QuantileCuts {
  val RelativeError = 0.001

  def fromRdd(rows: RDD[Row], missing: Float, maxCuts: Int = BinCuts.MaxCuts): BinCuts =
    cuts(sketch(rows, missing, distinct = false)._1, maxCuts)

  /** The cuts of merged summaries, at most `maxCuts` per feature. */
  private[ml] def cuts(sketches: Array[QuantileSummaries], maxCuts: Int): BinCuts = {
    val budget = math.min(math.max(maxCuts, 1), BinCuts.MaxCuts)
    new BinCuts(sketches.map(cutsOf(_, budget)))
  }

  /** One merged summary per feature, and the statistics of the labels
    * (the projected row's position 1), which count the distinct labels
    * when `distinct` is set. An input without rows is an error. */
  private[ml] def sketch(rows: RDD[Row], missing: Float,
      distinct: Boolean): (Array[QuantileSummaries], LabelStats) = {
    val sc = rows.sparkContext
    val n = rows.getNumPartitions
    val parts = new Array[Sketch](n)
    sc.runJob(rows, new SketchJob(missing, distinct, n, DistTrainer.resultSizeLimit(sc)), 0 until n,
      (pid: Int, s: Sketch) => parts(pid) = s)
    val merged =
      if (parts.contains(null)) // too large for the driver: merge on executors
        rows.mapPartitions(it => Iterator(Sketch.of(it, missing, distinct))).treeReduce(_ merge _)
      else parts.reduceLeft(_ merge _)
    if (merged.summaries == null) throw new IllegalArgumentException("empty training input")
    (merged.summaries, merged.labels)
  }

  /** A partition's summaries (null without rows) and label statistics. */
  private final class Sketch(val summaries: Array[QuantileSummaries], val labels: LabelStats)
      extends Serializable {
    def merge(o: Sketch): Sketch = new Sketch(
      if (summaries == null) o.summaries
      else if (o.summaries == null) summaries
      else summaries.zip(o.summaries).map { case (x, y) => x.merge(y) },
      labels.merge(o.labels))
  }

  private object Sketch {
    def of(rows: Iterator[Row], missing: Float, distinct: Boolean): Sketch = {
      val labels = new LabelStats(distinct)
      new Sketch(partitionSummaries(labels.observe(rows), missing), labels)
    }
  }

  /** A partition's [[Sketch]], or null when the job's N results would not
    * fit the driver. A named class rather than a closure, so
    * `SparkContext.clean` skips it. */
  private final class SketchJob(missing: Float, distinct: Boolean,
      numPartitions: Int, maxResultSize: Long)
      extends ((TaskContext, Iterator[Row]) => Sketch) with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[Row]): Sketch = {
      val s = Sketch.of(rows, missing, distinct)
      // a (value, g, Δ) entry serializes to about 30 bytes: 4 doubles' worth
      val entries = if (s.summaries == null) 0L else s.summaries.map(_.sampled.length.toLong).sum
      if (DistTrainer.resultsFit(numPartitions, 4L * entries + s.labels.numDistinct, maxResultSize)) s
      else null
    }
  }

  /** One summary per feature of the partition's rows, null without rows. */
  private def partitionSummaries(rows: Iterator[Row], missing: Float): Array[QuantileSummaries] = {
    var cols: Array[Array[Float]] = null
    var lens: Array[Int] = null
    rows.foreach { row =>
      val v = row.getAs[Vector](0)
      if (cols == null) {
        cols = Array.fill(v.size)(new Array[Float](16))
        lens = new Array[Int](v.size)
      }
      require(v.size == cols.length,
        s"feature dimension mismatch: got ${v.size}, expected ${cols.length}")
      var i = 0
      while (i < v.size) {
        // densified semantics: implicit zeros are VALUES (§1.2); only
        // NaN / the missing sentinel stay out of the sketch
        val x = v(i).toFloat
        val isMissing = x.isNaN || (!missing.isNaN && x == missing)
        if (!isMissing) {
          if (lens(i) == cols(i).length) cols(i) = java.util.Arrays.copyOf(cols(i), lens(i) * 2)
          cols(i)(lens(i)) = x
          lens(i) += 1
        }
        i += 1
      }
    }
    if (cols == null) null
    else Array.tabulate(cols.length) { f =>
      java.util.Arrays.sort(cols(f), 0, lens(f))
      val s = summaryOf(cols(f), lens(f))
      cols(f) = null // the column is garbage once summarized
      s
    }
  }

  /** The compressed summary of a column's first `n` values, sorted
    * ascending: the minimum (g = 1), then every ⌊2εn⌋-th value and the
    * maximum, each with g = its rank gap since the previous entry and
    * Δ = 0. An empty column gives a count-0 summary, which `merge` skips. */
  private[ml] def summaryOf(sorted: Array[Float], n: Int): QuantileSummaries = {
    val entries = Array.newBuilder[Stats]
    if (n > 0) {
      val step = math.max(1L, (2 * RelativeError * n).toLong).toInt
      entries += Stats(sorted(0).toDouble, 1, 0)
      var prev = 0
      var i = step
      while (i < n - 1) {
        entries += Stats(sorted(i).toDouble, i - prev, 0)
        prev = i
        i += step
      }
      if (n > 1) entries += Stats(sorted(n - 1).toDouble, n - 1 - prev, 0)
    }
    new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, RelativeError,
      entries.result(), n.toLong, compressed = true)
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

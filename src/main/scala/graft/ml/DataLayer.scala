package graft.ml

import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector}
import org.apache.spark.sql.Row

import scala.collection.mutable.ArrayBuilder

/** Dense row-major training matrix plus per-row label/weight/margin arrays.
  *
  * Mirrors the reference's partition→matrix conversion (reference
  * `sparkdl/xgboost/data.py:133-200`): batches of rows are accumulated into
  * one dense float32 matrix per partition. Sparse vectors are DENSIFIED —
  * inactive entries become 0.0f values, not "missing" (reference
  * `xgboost_core.py:780-784`); only NaN (or a user-supplied `missing`
  * sentinel, remapped to NaN at bin time) is treated as missing.
  */
final class TrainMatrix(
    val numRows: Int,
    val numCols: Int,
    val values: Array[Float],       // row-major, length numRows*numCols
    val labels: Array[Float],       // length numRows (0-length if unlabeled)
    val weights: Array[Float],      // null when no weight column
    val baseMargins: Array[Float]) { // null when no base-margin column
  def isEmpty: Boolean = numRows == 0
  def apply(row: Int, col: Int): Float = values(row * numCols + col)
}

object TrainMatrix {
  /** Accumulates rows into dense matrices; validates constant feature dim
    * (reference `data.py:120-130`); optionally splits rows into
    * (train, validation) on a boolean indicator column
    * (reference `data.py:158-160`).
    *
    * Expected row layout (by position, produced by the estimator's
    * projection): 0=features Vector, 1=label (optional — pass hasLabel),
    * then weight / validationIndicator / baseMargin when present.
    */
  final class Builder(hasWeight: Boolean, hasMargin: Boolean) {
    private val vals = new ArrayBuilder.ofFloat
    private val labs = new ArrayBuilder.ofFloat
    private val wts = new ArrayBuilder.ofFloat
    private val margins = new ArrayBuilder.ofFloat
    private var dim: Int = -1
    private var n: Int = 0
    vals.sizeHint(1 << 16)

    def add(features: Vector, label: Float, weight: Float, margin: Float): Unit = {
      if (dim < 0) dim = features.size
      else require(features.size == dim,
        s"feature dimension mismatch: got ${features.size}, expected $dim")
      features match {
        case d: DenseVector =>
          val a = d.values
          var i = 0
          while (i < dim) { vals += a(i).toFloat; i += 1 }
        case s: SparseVector =>
          // densify: inactive entries are real 0.0 values (not missing)
          val row = new Array[Float](dim)
          val idx = s.indices
          val sv = s.values
          var i = 0
          while (i < idx.length) { row(idx(i)) = sv(i).toFloat; i += 1 }
          vals ++= row
      }
      labs += label
      if (hasWeight) wts += weight
      if (hasMargin) margins += margin
      n += 1
    }

    def result(): TrainMatrix = new TrainMatrix(
      n, math.max(dim, 0), vals.result(), labs.result(),
      if (hasWeight) wts.result() else null,
      if (hasMargin) margins.result() else null)
  }

  /** Builds (train, Option[validation]) matrices from a partition iterator.
    * Column positions in each Row: features, label, [weight], [isVal], [margin]
    * — presence flags mirror the reference's `_fit` projection order
    * (reference `xgboost_core.py:439-467`).
    */
  def fromRows(
      rows: Iterator[Row],
      hasWeight: Boolean,
      hasValidation: Boolean,
      hasMargin: Boolean): (TrainMatrix, Option[TrainMatrix]) = {
    val train = new Builder(hasWeight, hasMargin)
    val valid = if (hasValidation) new Builder(hasWeight, hasMargin) else null
    rows.foreach { r =>
      val features = r.getAs[Vector](0)
      val label = numAt(r, 1)
      var pos = 2
      val weight = if (hasWeight) { val w = numAt(r, pos); pos += 1; w } else 1.0f
      val isVal = hasValidation && { val v = r.getBoolean(pos); pos += 1; v }
      val margin = if (hasMargin) { val m = numAt(r, pos); pos += 1; m } else 0.0f
      val b = if (isVal) valid else train
      b.add(features, label, weight, margin)
    }
    (train.result(), Option(valid).map(_.result()).filter(!_.isEmpty))
  }

  private def numAt(r: Row, i: Int): Float = r.get(i) match {
    case null => Float.NaN
    case n: java.lang.Number => n.floatValue()
    case b: java.lang.Boolean => if (b) 1.0f else 0.0f
    case other => throw new IllegalArgumentException(
      s"non-numeric value at position $i: $other")
  }
}

/** The statistics of a label column that a fit's objective is resolved
  * from ([[ObjectiveRule]]), gathered in a pass that reads every row anyway
  * (the single-node task's matrix build, the distributed sketch job) from
  * the projected row's double label at position 1, before any cast to
  * float. Null labels count as NaN, as [[TrainMatrix]] reads them.
  *
  * `distinct` (a classifier that infers its objective) also counts the
  * distinct labels: integer labels below [[LabelStats.ClassBits]] in a
  * bitset, since a valid label set is exactly {0..hi}; other values in a
  * set of at most [[LabelStats.MaxOthers]]. Such a value fails validation
  * unless more than `ClassBits` classes are present, so past that cap the
  * count is a lower bound (`capped`), and a regression target given to a
  * classifier costs bounded memory before its fit fails. */
private[ml] final class LabelStats(val distinct: Boolean) extends Serializable {
  var rows = 0L
  var nan = 0L // null or NaN labels
  var lo = Double.PositiveInfinity // over the labels that are not NaN
  var hi = Double.NegativeInfinity
  var frac = 0.0 // max |label - round(label)|; NaN once a label is infinite
  private val classes = new java.util.BitSet
  private val others = scala.collection.mutable.HashSet.empty[Double]
  /** Whether distinct labels were dropped at the cap of `others`. */
  var capped = false

  def add(y: Double): Unit = {
    rows += 1
    if (y.isNaN) nan += 1
    else {
      if (y < lo) lo = y
      if (y > hi) hi = y
      val f = math.abs(y - math.rint(y))
      if (f > frac || f.isNaN) frac = f
      if (distinct) {
        if (f == 0.0 && y >= 0 && y < LabelStats.ClassBits) classes.set(y.toInt)
        else addOther(y)
      }
    }
  }

  private def addOther(y: Double): Unit =
    if (others.size < LabelStats.MaxOthers) others += y
    else if (!others.contains(y)) capped = true

  /** Passes `rows` through, adding each one's label. */
  def observe(rows: Iterator[Row]): Iterator[Row] = rows.map { r =>
    add(if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
    r
  }

  def merge(o: LabelStats): LabelStats = {
    rows += o.rows
    nan += o.nan
    if (o.lo < lo) lo = o.lo
    if (o.hi > hi) hi = o.hi
    if (o.frac > frac || o.frac.isNaN) frac = o.frac
    classes.or(o.classes)
    o.others.foreach(addOther)
    capped ||= o.capped
    this
  }

  /** Distinct labels, NaN counted once (Spark's countDistinct over the
    * labels with nulls read as NaN); a lower bound when `capped`. */
  def numDistinct: Int = classes.cardinality + others.size + (if (nan > 0) 1 else 0)
}

private[ml] object LabelStats {
  val ClassBits = 1 << 16
  val MaxOthers = 1024
}

package graft.ml

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.linalg.SQLDataTypes.VectorType
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Row scoring behind [[ScoreExpression]]: reads a features value straight
  * from Catalyst's internal form into a per-thread scratch float row, runs
  * the trees, and writes the model kind's output. `classifier`: the
  * struct<raw, prediction, probability> of the reference's scoring math
  * (xgboost_core.py:661-685); else the regressor's prediction. */
private[ml] final class Scorer(bc: Broadcast[BoosterModel], limit: Int, classifier: Boolean,
    featuresCol: String, marginCol: Option[String]) extends Serializable {
  @transient private lazy val booster = bc.value
  @transient private lazy val obj = booster.objective

  def dataType: DataType = if (classifier) Scorer.ClassifierType else DoubleType
  override def toString: String = s"${if (classifier) "classifier" else "regressor"}, limit=$limit"

  /** Margins of a VectorUDT struct (type, size, indices, values; type 0 is
    * sparse) or an array<double>, densified the way `Vector.toArray` is. */
  private def margins(v: Any): Array[Float] = {
    val x = v match {
      case r: InternalRow if r.getByte(0) == 0 =>
        val x = Scorer.scratch(r.getInt(1))
        java.util.Arrays.fill(x, 0f)
        val idx = r.getArray(2)
        val vals = r.getArray(3)
        var i = 0
        while (i < idx.numElements()) { x(idx.getInt(i)) = vals.getDouble(i).toFloat; i += 1 }
        x
      case r: InternalRow => Scorer.dense(r.getArray(3))
      case a: ArrayData => Scorer.dense(a)
      case null => throw new IllegalArgumentException(s"null in features column '$featuresCol'")
    }
    booster.predictMarginWithMissing(x, limit)
  }

  private def baseMargin(isNull: Boolean, m: Double): Double =
    if (isNull) throw new IllegalArgumentException(s"null in base margin column '${marginCol.get}'") else m

  /** The margin is shifted only when a base margin column is scored: adding
    * 0.0 would turn a -0.0 margin into 0.0. */
  def regress(v: Any, marginNull: Boolean, margin: Double): Double = {
    val m = margins(v)(0).toDouble
    obj.predictTransform(if (marginCol.isEmpty) m else m + baseMargin(marginNull, margin))
  }

  /** Binary: raw = [-m, m], probability = [1 - σ(m), σ(m)]; multiclass:
    * raw = margins, probability = softmax; prediction = argmax. The base
    * margin (0.0 when absent) shifts every class margin first. */
  def classify(v: Any, marginNull: Boolean, margin: Double): InternalRow = {
    val ms = margins(v)
    val bm = baseMargin(marginNull, margin)
    val k = ms.length
    val raw = new Array[Double](math.max(k, 2))
    val probs = new Array[Double](raw.length)
    var best = 0
    if (k == 1) {
      val m = ms(0).toDouble + bm
      val p = Objective.sigmoid(m)
      raw(0) = -m; raw(1) = m
      probs(0) = 1.0 - p; probs(1) = p
      if (probs(1) > probs(0)) best = 1
    } else {
      var i = 0
      while (i < k) { raw(i) = ms(i).toDouble + bm; i += 1 }
      var mx = raw(0)
      i = 1; while (i < k) { if (raw(i) > mx) mx = raw(i); i += 1 }
      var s = 0.0
      i = 0; while (i < k) { probs(i) = math.exp(raw(i) - mx); s += probs(i); i += 1 }
      i = 0; while (i < k) { probs(i) /= s; if (probs(i) > probs(best)) best = i; i += 1 }
    }
    new GenericInternalRow(Array[Any](Scorer.vector(raw), best.toDouble, Scorer.vector(probs)))
  }
}

private[ml] object Scorer {
  val ClassifierType: StructType = StructType(Seq(
    StructField("raw", VectorType, nullable = false),
    StructField("prediction", DoubleType, nullable = false),
    StructField("probability", VectorType, nullable = false)))

  // one scratch row per thread: tasks never share one
  private val rows = new ThreadLocal[Array[Float]]

  private def scratch(size: Int): Array[Float] = {
    var x = rows.get
    if (x == null || x.length != size) { x = new Array[Float](size); rows.set(x) }
    x
  }

  private def dense(a: ArrayData): Array[Float] = {
    val x = scratch(a.numElements())
    var i = 0
    while (i < x.length) { x(i) = a.getDouble(i).toFloat; i += 1 }
    x
  }

  /** A dense vector in VectorUDT's internal form. */
  private def vector(values: Array[Double]): InternalRow =
    new GenericInternalRow(Array[Any](1.toByte, null, null, UnsafeArrayData.fromPrimitiveArray(values)))

  /** The model's scoring column over `dataset`: its features, plus the base
    * margin column when that is set and present. */
  def column(model: XGBoostParams, booster: BoosterModel, classifier: Boolean,
      dataset: Dataset[_]): Column = {
    val fc = model.getOrDefault(model.featuresCol)
    val features = dataset.schema(fc).dataType match {
      case _: ArrayType => col(fc).cast(ArrayType(DoubleType))
      case _ => col(fc)
    }
    val marginCol = Option.when(model.hasNonEmpty(model.baseMarginCol))(
      model.getOrDefault(model.baseMarginCol)).filter(dataset.columns.contains)
    val children = features +: marginCol.map(c => col(c).cast(DoubleType)).toSeq
    val scorer = new Scorer(dataset.sparkSession.sparkContext.broadcast(booster),
      model.getOrDefault(model.treeLimit), classifier, fc, marginCol)
    ColumnBridge.column(ScoreExpression(scorer, children.map(ColumnBridge.expression)))
  }
}

/** One model's scoring as one codegen'd expression: `children` are the
  * features, then the base margin (a double) when one is scored. Never
  * null: a null input fails the task with the column's name. */
private[ml] final case class ScoreExpression(scorer: Scorer, children: Seq[Expression])
    extends Expression {
  override def nullable: Boolean = false
  override def dataType: DataType = scorer.dataType

  override def eval(input: InternalRow): Any = {
    val f = children.head.eval(input)
    val m = if (children.length > 1) children(1).eval(input) else 0.0
    val margin = if (m == null) 0.0 else m.asInstanceOf[Double]
    if (dataType == DoubleType) scorer.regress(f, m == null, margin) else scorer.classify(f, m == null, margin)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("scorer", scorer, classOf[Scorer].getName)
    val f = children.head.genCode(ctx)
    val m = children.drop(1).map(_.genCode(ctx))
    val (mNull, mValue) = m.headOption.fold(("false", "0.0"))(e => (e.isNull.toString, e.value.toString))
    val method = if (dataType == DoubleType) "regress" else "classify"
    ev.copy(isNull = FalseLiteral, code = m.foldLeft(f.code)(_ + _.code) + code"""
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $ref.$method(${f.isNull} ? null : ${f.value}, $mNull, $mValue);""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ScoreExpression = copy(children = newChildren)
}

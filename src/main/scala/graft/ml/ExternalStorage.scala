package graft.ml

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.Row

/** C5: partition-local libsvm external-storage spill (reference
  * `sparkdl/xgboost/data.py:10-92`).
  *
  * Rows stream from the partition iterator straight to `data.txt.train` /
  * `data.txt.val` text files — nothing accumulates in memory during the
  * write — then the dense [[TrainMatrix]] is rebuilt by scanning the file.
  * Peak memory during conversion is one row + the final matrix, the
  * property the reference buys with its external-memory DMatrix. Format
  * matches the reference dump: `label[:weight] idx:val idx:val …`, every
  * value printed with `%.{precision}g` and every index as an integer
  * (weights ride piggybacked on the label field, `data.py:15-21`); base
  * margins are NOT carried — the reference's spill path drops them too
  * (`data.py:64-72`).
  */
object ExternalStorage {

  /** Python-style `%.{esp}g`: round to `esp` significant digits, use
    * scientific notation outside [1e-4, 10^esp), strip trailing zeros.
    * (Java's own %g never strips zeros and switches at different bounds.) */
  def pyG(v: Double, esp: Int): String = {
    if (v.isNaN) return "nan"
    if (v.isInfinite) return if (v > 0) "inf" else "-inf"
    if (v == 0.0) return "0"
    val bd = new java.math.BigDecimal(v).round(new java.math.MathContext(esp))
    val exp = bd.precision() - bd.scale() - 1 // floor(log10(|v|))
    if (exp < -4 || exp >= esp) {
      val mant = bd.movePointLeft(exp).stripTrailingZeros()
      val sign = if (exp < 0) "-" else "+"
      val e = math.abs(exp)
      val eStr = if (e < 10) s"0$e" else e.toString
      s"${mant.toPlainString}e$sign$eStr"
    } else {
      bd.stripTrailingZeros().toPlainString
    }
  }

  private final class LineWriter(path: Path, esp: Int) {
    val out = new BufferedWriter(Files.newBufferedWriter(path, StandardCharsets.UTF_8), 1 << 16)
    def write(features: Vector, label: Float, weight: Float, hasWeight: Boolean): Unit = {
      val sb = new java.lang.StringBuilder(features.size * 12)
      sb.append(pyG(label.toDouble, esp))
      if (hasWeight) { sb.append(':'); sb.append(pyG(weight.toDouble, esp)) }
      // dense dump: every feature position, like the reference's ndarray
      // branch (data.py:35-38) — densified zeros are VALUES (§1.2)
      var j = 0
      while (j < features.size) {
        sb.append(' '); sb.append(j)
        sb.append(':'); sb.append(pyG(features(j), esp))
        j += 1
      }
      sb.append('\n')
      out.write(sb.toString)
    }
    def close(): Unit = out.close()
  }

  /** Streams the projected partition rows (layout as in
    * [[TrainMatrix.fromRows]]) into libsvm file(s) under `dir`. Returns
    * (trainFile, Option(valFile)). */
  def spill(rows: Iterator[Row], hasWeight: Boolean, hasValidation: Boolean,
      hasMargin: Boolean, esp: Int, dir: Path): (Path, Option[Path]) = {
    val trainPath = dir.resolve("data.txt.train")
    val valPath = dir.resolve("data.txt.val")
    val train = new LineWriter(trainPath, esp)
    val valid = if (hasValidation) new LineWriter(valPath, esp) else null
    try {
      rows.foreach { r =>
        val features = r.getAs[Vector](0)
        val label = r.get(1) match {
          case n: java.lang.Number => n.floatValue()
          case null => Float.NaN
        }
        var pos = 2
        val weight = if (hasWeight) {
          val w = r.get(pos).asInstanceOf[java.lang.Number].floatValue(); pos += 1; w
        } else 1.0f
        val isVal = hasValidation && r.getBoolean(pos)
        (if (isVal) valid else train).write(features, label, weight, hasWeight)
      }
    } finally {
      train.close()
      if (valid != null) valid.close()
    }
    (trainPath, if (hasValidation && Files.size(valPath) > 0) Some(valPath) else None)
  }

  /** Rebuilds a dense [[TrainMatrix]] from a libsvm file written by
    * [[spill]] (or any 0-based-index libsvm text with optional
    * `label:weight` first field). */
  def readLibSvm(path: Path, hasWeight: Boolean): TrainMatrix = {
    val vals = new scala.collection.mutable.ArrayBuilder.ofFloat
    val labs = new scala.collection.mutable.ArrayBuilder.ofFloat
    val wts = new scala.collection.mutable.ArrayBuilder.ofFloat
    var dim = -1
    var n = 0
    val src = scala.io.Source.fromFile(path.toFile)(scala.io.Codec.UTF8)
    try {
      src.getLines().foreach { line =>
        val t = line.trim
        if (t.nonEmpty) {
          val fields = t.split(' ')
          val head = fields(0)
          val ci = head.indexOf(':')
          if (ci >= 0) {
            labs += head.substring(0, ci).toFloat
            wts += head.substring(ci + 1).toFloat
          } else {
            labs += head.toFloat
            if (hasWeight) wts += 1.0f
          }
          val row = new Array[Float](math.max(dim, fields.length - 1))
          var maxIdx = -1
          var f = 1
          while (f < fields.length) {
            val c = fields(f).indexOf(':')
            val idx = fields(f).substring(0, c).toInt
            val v = fields(f).substring(c + 1).toFloat
            if (idx >= row.length) throw new IllegalArgumentException(
              s"ragged libsvm row: index $idx, expected dim $dim")
            row(idx) = v
            if (idx > maxIdx) maxIdx = idx
            f += 1
          }
          if (dim < 0) dim = maxIdx + 1
          else require(maxIdx + 1 == dim, s"feature dim mismatch: ${maxIdx + 1} vs $dim")
          vals ++= row
          n += 1
        }
      }
    } finally src.close()
    new TrainMatrix(n, math.max(dim, 0), vals.result(), labs.result(),
      if (hasWeight) wts.result() else null, null)
  }

  /** Full spill-and-reload conversion: the external-storage variant of
    * [[TrainMatrix.fromRows]]. Files live in a fresh temp dir on the
    * executor's local disk and are deleted after the read. */
  def buildMatrices(rows: Iterator[Row], hasWeight: Boolean, hasValidation: Boolean,
      hasMargin: Boolean, esp: Int): (TrainMatrix, Option[TrainMatrix]) = {
    val dir = Files.createTempDirectory("graft-extstore")
    try {
      val (trainFile, valFile) = spill(rows, hasWeight, hasValidation, hasMargin, esp, dir)
      val train = readLibSvm(trainFile, hasWeight)
      val valid = valFile.map(readLibSvm(_, hasWeight)).filter(!_.isEmpty)
      (train, valid)
    } finally {
      dir.toFile.listFiles() match {
        case null =>
        case files => files.foreach(_.delete())
      }
      Files.deleteIfExists(dir)
    }
  }
}

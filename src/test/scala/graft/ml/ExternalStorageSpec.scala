package graft.ml

import org.apache.spark.ml.linalg.Vectors
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** C5 external-storage spill tests, mirroring the reference's data-layer
  * suite (reference tests/xgboost/data_test.py:84-175): libsvm dump
  * format + precision, weight piggybacking on the label field, spill →
  * reload parity, and end-to-end predict parity vs the in-memory path.
  */
class ExternalStorageSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  test("pyG formats like Python %.{p}g (reference data.py:15-26)") {
    // expectations computed with CPython '{:.5g}'.format(...)
    assert(ExternalStorage.pyG(1.23456789, 5) == "1.2346")
    assert(ExternalStorage.pyG(100000.0, 5) == "1e+05")
    assert(ExternalStorage.pyG(99999.0, 5) == "99999")
    assert(ExternalStorage.pyG(0.0001, 5) == "0.0001")
    assert(ExternalStorage.pyG(0.00001, 5) == "1e-05")
    assert(ExternalStorage.pyG(-2.5, 5) == "-2.5")
    assert(ExternalStorage.pyG(0.0, 5) == "0")
    assert(ExternalStorage.pyG(1.0, 5) == "1")
    assert(ExternalStorage.pyG(3.0, 1) == "3")
    assert(ExternalStorage.pyG(1.23456789, 2) == "1.2")
  }

  test("libsvm dump: dense rows, weights on the label field, precision") {
    val dir = Files.createTempDirectory("graft-ls")
    val rows = Seq(
      org.apache.spark.sql.Row(Vectors.dense(1.0, 0.0, 2.5), 1.0, 2.0),
      org.apache.spark.sql.Row(Vectors.dense(0.123456789, 4.0, 0.0), 0.0, 1.5))
    val (trainFile, valFile) = ExternalStorage.spill(
      rows.iterator, hasWeight = true, hasValidation = false, hasMargin = false,
      esp = 5, dir = dir)
    assert(valFile.isEmpty)
    val lines = scala.io.Source.fromFile(trainFile.toFile).getLines().toSeq
    assert(lines == Seq(
      "1:2 0:1 1:0 2:2.5",
      "0:1.5 0:0.12346 1:4 2:0"))
  }

  test("spill → reload round-trips matrix, labels, weights, val split") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 50).map { i =>
      org.apache.spark.sql.Row(
        Vectors.dense(Array.fill(4)(rng.nextDouble() * 10)),
        i.toDouble % 3, rng.nextDouble() + 0.5, i % 5 == 0)
    }
    val (train, valid) = ExternalStorage.buildMatrices(
      rows.iterator, hasWeight = true, hasValidation = true, hasMargin = false,
      esp = 8)
    assert(train.numRows == 40 && valid.get.numRows == 10)
    assert(train.numCols == 4)
    // values survive at 8 significant digits (float32 has ~7)
    val exp = rows.filterNot(_.getBoolean(3))
    exp.zipWithIndex.foreach { case (r, i) =>
      val v = r.getAs[org.apache.spark.ml.linalg.Vector](0)
      (0 until 4).foreach { j =>
        assert(math.abs(train(i, j) - v(j)) < 1e-5 * math.max(1.0, math.abs(v(j))))
      }
      assert(train.labels(i) == r.getDouble(1).toFloat)
      assert(math.abs(train.weights(i) - r.getDouble(2).toFloat) < 1e-6)
    }
  }

  test("spill → reload keeps feature indices at or past 10^precision: 102 and 150 " +
      "features at precision 2") {
    Seq(102, 150).foreach { m =>
      // one- and two-digit values: exact at 2 significant digits
      val rows = (0 until 3).map { i =>
        org.apache.spark.sql.Row(Vectors.dense(Array.tabulate(m)(j => ((i + j) % 90 + 1).toDouble)),
          i.toDouble)
      }
      val (train, _) = ExternalStorage.buildMatrices(
        rows.iterator, hasWeight = false, hasValidation = false, hasMargin = false, esp = 2)
      assert(train.numRows == 3 && train.numCols == m, s"$m features: ${train.numCols} columns")
      (0 until 3).foreach { i =>
        (0 until m).foreach { j =>
          assert(train(i, j) == ((i + j) % 90 + 1).toFloat, s"$m features: row $i, feature $j")
        }
      }
    }
  }

  test("end-to-end: external-storage training matches in-memory exactly when " +
      "values round-trip at the spill precision (reference data_test.py:84-122 " +
      "uses short-decimal fixtures for the same reason)") {
    val sess = spark
    val rng = new scala.util.Random(5)
    // 4-decimal values < 10 are exact under %.8g → identical matrices
    def r4() = math.round(rng.nextDouble() * 4 * 1e4) / 1e4
    val rows = Seq.fill(200)({
      val f = Array.fill(3)(r4())
      (Vectors.dense(f), f(0) * 2 - f(1) + 0.3 * f(2))
    })
    val df = sess.createDataFrame(rows).toDF("features", "label")
    val inMem = new XgboostRegressor().setNEstimators(10).fit(df)
    val ext = new XgboostRegressor().setNEstimators(10)
      .setUseExternalStorage(true).setExternalStoragePrecision(8).fit(df)
    val a = inMem.transform(df).select("prediction").collect().map(_.getDouble(0))
    val b = ext.transform(df).select("prediction").collect().map(_.getDouble(0))
    // features are bit-identical; labels keep ~8 significant digits, so
    // leaf weights may differ in the last float32 ulp
    a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-5, s"$x vs $y") }
  }

  test("end-to-end: distributed path accepts external storage") {
    val sess = spark
    val rng = new scala.util.Random(9)
    val rows = Seq.fill(200)({
      val f = Array.fill(3)(rng.nextDouble() * 4)
      (Vectors.dense(f), f(0) + f(1))
    })
    val df = sess.createDataFrame(rows).toDF("features", "label")
    val m = new XgboostRegressor().setNEstimators(5).setNumWorkers(2)
      .setUseExternalStorage(true).fit(df)
    val preds = m.transform(df).select("prediction").collect().map(_.getDouble(0))
    assert(preds.forall(p => !p.isNaN))
  }
}

package perfbench

import org.apache.spark.ml.linalg.{SQLDataTypes, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Seeded synthetic data: 28 standard-normal features (the width of the
  * HIGGS set) and a label from a fixed nonlinear model plus seeded noise.
  * The same (seed, stream) always gives the same rows. The model does not
  * depend on the seed, so the holdout loss differs between seeds only by
  * sampling noise. */
object Data {
  val Features = 28
  val Schema = StructType(Seq(
    StructField("features", SQLDataTypes.VectorType, nullable = false),
    StructField("label", DoubleType, nullable = false)))

  /** The label model. `classes` is 0 for regression, 2 for binary, or K. */
  final class Truth(val classes: Int) extends Serializable {
    private val groups = if (classes > 2) classes else 1
    private val w: Array[Array[Double]] = {
      val r = new java.util.Random(0x2545F4914F6CDD1DL)
      Array.fill(groups) {
        val v = Array.fill(Features)(r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / norm)
      }
    }

    private def score(x: Array[Double], g: Int): Double = {
      var s = 0.0
      var j = 0
      while (j < Features) { s += w(g)(j) * x(j); j += 1 }
      s + 0.8 * x(g % Features) * x((g + 1) % Features) + math.sin(2.0 * x((g + 2) % Features))
    }

    def label(x: Array[Double], rng: java.util.Random): Double = classes match {
      case 0 => score(x, 0) + 0.5 * rng.nextGaussian()
      case 2 => if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-2.0 * score(x, 0)))) 1.0 else 0.0
      case k =>
        var best = 0
        var bestV = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          val gumbel = -math.log(-math.log(math.max(rng.nextDouble(), 1e-300)))
          val v = 2.0 * score(x, c) + gumbel
          if (v > bestV) { bestV = v; best = c }
          c += 1
        }
        best.toDouble
    }
  }

  /** `rows` rows in `parts` partitions; `stream` separates the training,
    * scoring and holdout sets drawn from one seed. */
  def frame(spark: SparkSession, rows: Int, parts: Int, seed: Long, stream: Int,
      classes: Int): DataFrame = {
    val truth = new Truth(classes)
    val rdd = spark.sparkContext.parallelize(0 until parts, parts).mapPartitionsWithIndex { (p, _) =>
      val n = rows / parts + (if (p < rows % parts) 1 else 0)
      val rng = new java.util.Random(seed * 1000003L + stream * 10007L + p)
      Iterator.fill(n) {
        val x = Array.fill(Features)(rng.nextGaussian())
        Row(Vectors.dense(x), truth.label(x, rng))
      }
    }
    spark.createDataFrame(rdd, Schema)
  }
}

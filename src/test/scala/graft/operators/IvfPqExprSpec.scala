package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.VectorExpressions

/** The IVF-PQ expression builders — the ADC lookup table
  * (`lutCol`), the coarse-selection key (`coarseRelCol`) and the PQ
  * encoder (`pqEncodeCol`) — pinned BITWISE against plain Scala
  * left-to-right double arithmetic, for `float` and `double` input
  * vectors alike (float components widen to double exactly). Any
  * rewrite of these expression trees must keep every bit.
  */
class IvfPqExprSpec extends SparkSpec {

  private val dims = 8
  private val subDim = 4
  private val rnd = new java.util.Random(17)
  private def gauss(n: Int, scale: Double) = Array.fill(n)(rnd.nextGaussian() * scale)
  private val coarse = Array.tabulate(6)(c => gauss(dims, 1.0 + c))
  private val codebooks = Array.tabulate(dims / subDim)(m =>
    Array.tabulate(5)(c => gauss(subDim, 0.5 + c * 0.7)))
  private val vecs: Seq[Array[Double]] =
    (0 until 40).map(i => gauss(dims, math.pow(10, (i % 5) - 2)))

  private def dotL(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
  private def d2(sv: Array[Double], c: Array[Double]): Double =
    dotL(sv, sv) - 2.0 * dotL(sv, c) + c.map(x => x * x).foldLeft(0.0)(_ + _)
  private def lut(v: Array[Double]): Seq[Seq[Double]] =
    codebooks.toSeq.zipWithIndex.map { case (cents, m) =>
      cents.toSeq.map(c => d2(v.slice(m * subDim, (m + 1) * subDim), c))
    }
  private def rel(v: Array[Double]): Seq[Double] =
    coarse.toSeq.map(c => c.map(x => x * x).foldLeft(0.0)(_ + _) - 2.0 * dotL(v, c))
  private def firstMin(xs: Seq[Double]): Int = xs.indexOf(xs.min)

  private def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)

  private def check(elem: DataType, widen: Array[Double] => Array[Double]): Unit = {
    VectorExpressions.register(spark)
    val rows = vecs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, elem match {
        case FloatType => v.map(_.toFloat).toSeq
        case _ => v.toSeq
      })
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(elem)))))
    val dv = Similarity.asDoubleVec(col("v"))
    val got = df.select(col("id"), Similarity.lutCol(dv, codebooks),
        Similarity.coarseRelCol(dv, coarse), Similarity.pqEncodeCol(col("v"), codebooks))
      .collect().map(r => r.getLong(0).toInt -> r).toMap
    val index = Similarity.ivfPqIndex(df, "id", "v", coarse, codebooks)
      .collect().map(r => r.getLong(0).toInt -> (r.getInt(1), r.getSeq[Int](2))).toMap
    vecs.indices.foreach { i =>
      val v = widen(vecs(i))
      val r = got(i)
      assert(r.getSeq[collection.Seq[Double]](1).map(x => bits(x.toSeq)) === lut(v).map(bits),
        s"LUT of vector $i")
      assert(bits(r.getSeq[Double](2)) === bits(rel(v)), s"coarse key of vector $i")
      val codes = lut(v).map(firstMin)
      assert(r.getSeq[Int](3) === codes, s"PQ codes of vector $i")
      assert(index(i) === ((firstMin(rel(v)), codes)), s"index row of vector $i")
    }
  }

  test("double vectors: LUT, coarse key, codes and index rows are bit-exact") {
    check(DoubleType, identity)
  }

  test("float vectors: the same, over the exactly widened components") {
    check(FloatType, _.map(_.toFloat.toDouble))
  }
}

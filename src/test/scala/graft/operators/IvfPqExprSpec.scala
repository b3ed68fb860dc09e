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
  * rewrite of these expression trees must keep every bit. The
  * driver-side probe table (`probeTable`) is pinned against the same
  * expressions evaluated in the plan (`lutCol`, `probesCol`).
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

  // cluster 6 repeats cluster 2, so every vector ties two lists; 7 and
  // 8 are zero vectors of −0.0 and 0.0, tied at c·c = 0
  private val edgeCoarse = coarse ++ Seq(coarse(2).clone, Array.fill(dims)(-0.0), Array.fill(dims)(0.0))
  // a zero and a −0.0 query, a NaN component, a null vector, a short
  // and a long one
  private val edgeVecs: Seq[Option[Array[Double]]] = vecs.map(Some(_)) ++ Seq(
    Some(Array.fill(dims)(0.0)), Some(Array.fill(dims)(-0.0)),
    Some(vecs(3).updated(5, Double.NaN)), None,
    Some(vecs(4).take(dims - 2)), Some(vecs(5) ++ Array(1.0, 2.0)))
  private val nullQuery = 1000 + vecs.size + 3
  private val shortQuery = 1000 + vecs.size + 4

  private def probeCheck(idType: DataType, elem: DataType): Unit = {
    VectorExpressions.register(spark)
    def id(i: Int): Any = idType match {
      case IntegerType => 1000 + i
      case LongType => 1000L + i
      case _ => (1000 + i).toString
    }
    val rows = edgeVecs.zipWithIndex.map { case (v, i) =>
      Row(id(i), v.map(a => elem match {
        case FloatType => a.map(_.toFloat).toSeq
        case _ => a.toSeq
      }).orNull)
    }
    val queries = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", idType), StructField("v", ArrayType(elem)))))
    val nprobe = 3
    val table = Similarity.probeTable(queries, "id", "v", edgeCoarse, codebooks, nprobe).get
    val inPlan = Similarity.inPlanProbeRows(queries, "id", "v", edgeCoarse, codebooks, nprobe)
    assert(table.rows.schema("query_id").dataType === idType)
    // NaN compares by its canonical bits; every other value bit for bit
    def tableRows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cluster", "lut").collect().toSeq.map(r => (r.get(0), r.getInt(1),
        r.getSeq[collection.Seq[java.lang.Double]](2).map(_.map(x =>
          Option(x).map(d => java.lang.Double.doubleToLongBits(d)))))
      ).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(tableRows(table.rows) === tableRows(inPlan))
    assert(table.clusters === inPlan.select("cluster").distinct().collect().map(_.getInt(0)).sorted.toSeq)

    // the probes over an index agree too; null and short vectors emit no rows
    val index = Similarity.ivfPqIndex(
      spark.createDataFrame(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) })
        .toDF("neighbor_id", "v"), "neighbor_id", "v", edgeCoarse, codebooks)
    def probeRows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
      (r.get(0), r.getLong(1), r.getInt(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
    val viaTable = probeRows(Similarity.ivfPqProbe(index, table, k = 4))
    assert(viaTable.sortBy(_.toString) === probeRows(Similarity.inPlanProbe(
      queries, index, "id", "v", 4, edgeCoarse, codebooks, nprobe)).sortBy(_.toString))
    assert(viaTable.nonEmpty)
    assert(!viaTable.exists(r => r._1 == id(nullQuery - 1000) || r._1 == id(shortQuery - 1000)))
    // and the 8-argument probe takes the table path
    assert(probeRows(Similarity.ivfPqProbe(queries, index, "id", "v", 4, edgeCoarse, codebooks,
      nprobe)).sortBy(_.toString) === viaTable.sortBy(_.toString))
  }

  Seq(IntegerType, LongType, StringType).foreach { idType =>
    Seq(DoubleType, FloatType).foreach { elem =>
      test(s"probe table equals the in-plan lists and LUTs bitwise: ${idType.simpleString} ids, " +
          s"${elem.simpleString} vectors, ties, −0.0, NaN, null and short vectors") {
        probeCheck(idType, elem)
      }
    }
  }
}

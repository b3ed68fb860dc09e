package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Seeded text corpus and embeddings shaped like the repo's sf0.1
  * `documents` (doc_id, text, lang, source, n_chars) and `embeddings`
  * (vec_id, 64-float embedding, label) tables. The shape was measured
  * on those tables (perfbench/README.md, "Inputs"):
  *
  *  - text: 10 to 99 words drawn uniformly from the 30-word vocabulary
  *    below; one document in twenty is a near-duplicate, an earlier
  *    document's text with " dup" appended;
  *  - lang: en 40%, zh, es, fr and de 15% each; source `src<id % 20>`;
  *  - embeddings: unit-length vectors in uniformly random directions,
  *    with a label 0-9 drawn independently (the labels carry no
  *    cluster structure).
  */
object Corpus {
  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)

  val vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Array.fill(8)("en") ++ Seq("zh", "es", "fr", "de").flatMap(Array.fill(3)(_))
  val dim = 64
  val minWords = 10
  val maxWords = 99
  val dupEvery = 20

  def docs(seed: Long, n: Int, firstId: Long = 0L): IndexedSeq[Doc] = {
    val rng = new java.util.SplittableRandom(seed)
    val out = new scala.collection.mutable.ArrayBuffer[Doc](n)
    (0 until n).foreach { i =>
      val text =
        if (out.nonEmpty && rng.nextInt(dupEvery) == 0) out(rng.nextInt(out.size)).text + " dup"
        else Array.fill(minWords + rng.nextInt(maxWords - minWords + 1))(vocab(rng.nextInt(vocab.length)))
          .mkString(" ")
      val id = firstId + i
      out += Doc(id, text, langs(rng.nextInt(langs.length)), s"src${id % 20}")
    }
    out.toIndexedSeq
  }

  def vecs(seed: Long, n: Int, firstId: Long = 0L): IndexedSeq[Vec] = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    (0 until n).map(i => Vec(firstId + i, unit(rng), rng.nextInt(10)))
  }

  /** A probe vector, drawn like the corpus' vectors. */
  def queryVec(rng: java.util.SplittableRandom): Array[Float] = unit(rng)

  /** A uniformly random direction: normalised Gaussian coordinates. */
  private def unit(rng: java.util.SplittableRandom): Array[Float] = {
    val g = Array.fill(dim)(gauss(rng))
    val norm = math.sqrt(g.map(x => x * x).sum)
    g.map(x => (x / norm).toFloat)
  }

  private def gauss(rng: java.util.SplittableRandom): Double = {
    // Box-Muller, deterministic per generator state
    val u = math.max(rng.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def docFrame(spark: SparkSession, ds: Seq[Doc]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(ds.map(d =>
      org.apache.spark.sql.Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)).asJava, docSchema)
  }

  def vecFrame(spark: SparkSession, vs: Seq[Vec]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(vs.map(v =>
      org.apache.spark.sql.Row(v.id, v.v.toSeq, v.label)).asJava, vecSchema)
  }

  /** Write `documents.parquet` under `dir`, the layout the repo's
    * queries read.
    */
  def writeDocuments(spark: SparkSession, dir: String, seed: Long, n: Int): Unit =
    docFrame(spark, docs(seed, n)).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
}

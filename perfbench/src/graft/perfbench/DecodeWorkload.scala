package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Media
import graft.sources.{Avro, Pdf, Warc}

/** `decode`: the corpus is encoded once, outside timing, with the
  * program's own encoders, stored as parquet and read; then only the
  * decoders are timed, one operation per carrier, in a seeded order
  * per pass. Map-only and CPU-bound per row, with several deflate
  * carriers. Every decoded result's order-independent hash must equal
  * the recorded one. Every traced pass is followed by the
  * [[FunctionScans]] over the same corpus' text.
  */
final class DecodeWorkload extends Workload {
  private var encoded: Map[String, DataFrame] = _
  private var rng: java.util.SplittableRandom = _
  private var expected: Map[String, (Long, Long)] = _
  private var objects = 0L

  def setup(h: Harness, work: Path, seed: Long): Unit = {
    val dir = work.resolve("media").toString
    objects = DecodeWorkload.encodeAll(h.spark, dir)
    encoded = DecodeWorkload.read(h.spark, dir)
    Corpus.docFrame(h.spark, Corpus.docs(DecodeWorkload.corpusSeed, DecodeWorkload.docs))
      .write.parquet(s"$dir/documents.parquet")
    h.spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    expected = Expected.load("decode")
    rng = new java.util.SplittableRandom(seed)
    warmUp(h, passes = 4, capS = 30)
  }

  def step(h: Harness, i: Int): Unit = {
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
      .shuffle(DecodeWorkload.carriers.map(_._1))
    val times = order.flatMap { kind =>
      val layer = DecodeWorkload.layer(kind)
      h.op(kind)(h.span(layer)(DecodeWorkload.decode(encoded(kind), kind).collect())) { rows =>
        val got = RowHash.rows(rows)
        val want = expected.getOrElse(kind, throw new IllegalStateException(s"no recorded hash for $kind"))
        require(got == want, s"$kind decode (rows, hash) $got, recorded $want")
      }
    }
    if (times.size == order.size) h.record("op_s", times.sum)
    if (h.traced) FunctionScans.run(h)
  }

  override def derived(h: Harness): Map[String, Double] =
    Map("decode.objects_per_s" -> objects / Stats.median(h.values("op_s", traced = false)))
}

object DecodeWorkload {
  val corpusSeed = 20261017L
  val docs = 5000

  /** (carrier, encoder) — the encoders run once, in set-up. */
  val carriers: Seq[(String, DataFrame => DataFrame)] = Seq(
    "png" -> Media.toPng, "jpeg" -> Media.toJpeg, "webp" -> Media.toWebp,
    "tiff_g4" -> Media.toTiffG4, "flac" -> Media.toFlac, "pdf" -> Pdf.toPdfs,
    "avro" -> Avro.toAvro, "warc_gz" -> (d => Warc.toWarcArchivesGz(d)))

  def layer(kind: String): String = kind match {
    case "pdf" | "avro" | "warc_gz" => s"sources.${kind}_s"
    case k => s"media.${k}_s"
  }

  /** Encode the fixed corpus into one parquet table per carrier under
    * `dir`, the carriers concurrently; returns the number of encoded
    * objects.
    */
  def encodeAll(spark: SparkSession, dir: String): Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val docs = Corpus.docFrame(spark, Corpus.docs(corpusSeed, DecodeWorkload.docs))
    val counts = carriers.map { case (kind, enc) =>
      Future {
        enc(docs).write.mode("overwrite").parquet(s"$dir/$kind.parquet")
        spark.read.parquet(s"$dir/$kind.parquet").count()
      }
    }
    Await.result(Future.sequence(counts), scala.concurrent.duration.Duration.Inf).sum
  }

  /** The encoded tables under `dir`, read once: a decode operation
    * times the decoder, not the file listing and footer reads.
    */
  def read(spark: SparkSession, dir: String): Map[String, DataFrame] =
    carriers.map { case (kind, _) => kind -> spark.read.parquet(s"$dir/$kind.parquet") }.toMap

  private def media(encoded: DataFrame): Dataset[Media.MediaRecord] =
    encoded.as(Encoders.product[Media.MediaRecord])

  def decode(encoded: DataFrame, kind: String): DataFrame = kind match {
    case "png" | "jpeg" | "webp" | "tiff_g4" => Media.decodeImages(media(encoded)).toDF()
    case "flac" => Media.decodeAudio(media(encoded)).toDF()
    case "pdf" => Pdf.extractRows(media(encoded)).toDF()
    case "avro" => Avro.listRecords(media(encoded))
    case "warc_gz" =>
      // the q142 ingest: member walk, Content-Length framing, HTML extraction
      Warc.parseArchives(encoded, "archive_id", "bytes")
        .filter(col("ok") && col("warc_type") === "response")
        .select(
          regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long").as("doc_id"),
          col("target_uri"), col("content_length"), col("http_status"),
          col("http_content_type"), Warc.htmlTitle(col("payload")).as("title"),
          Warc.htmlText(col("payload")).as("text"))
  }
}

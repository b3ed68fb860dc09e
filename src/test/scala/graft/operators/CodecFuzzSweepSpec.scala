package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The [[R19CodecFuzzSpec]] mutation family swept over EVERY decode
  * surface in the repo — one uniform audit that any byte-corruption
  * of any valid payload lands in the error channel, never a throw.
  * (The per-codec specs already run truncation sweeps; this adds
  * flips, zero-runs, and self-splices across the whole family.)
  */
class CodecFuzzSweepSpec extends AnyFunSuite {

  private def mutations(base: Array[Byte], seed: Long, n: Int): Iterator[Array[Byte]] = {
    var s = seed
    def next(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % bound).toInt + bound) % bound
    }
    Iterator.tabulate(n) { _ =>
      val m = base.clone()
      next(4) match {
        case 0 =>
          for (_ <- 0 to next(3)) m(next(m.length)) = (next(256)).toByte
          m
        case 1 => m.take(next(m.length + 1))
        case 2 =>
          val from = next(m.length)
          java.util.Arrays.fill(m, from, math.min(m.length, from + 1 + next(16)), 0.toByte)
          m
        case _ =>
          val from = next(m.length); val to = next(m.length)
          val len = math.min(1 + next(8), m.length - math.max(from, to))
          if (len > 0) System.arraycopy(base, from, m, to, len)
          m
      }
    }
  }

  private val gray = Array.tabulate(16 * 12)(i => (i * 7).toByte)
  private val rgb = Array.tabulate(3 * 10 * 8)(i => (i * 11).toByte)
  private val N = 800

  test("ImageCodec.decode: ppm/png/gif/webp/jpeg/tiff payloads under mutation") {
    val palette = Array.tabulate(48)(i => (i * 5).toByte) // 16 RGB entries
    val indices = Array.tabulate(10 * 8)(i => (i % 16).toByte)
    val bases = Seq(
      s"P5\n16 12\n255\n".getBytes("US-ASCII") ++ gray,
      ImageCodec.encodePng(rgb, 10, 8),
      GifCodec.encodeGif(indices, palette, 10, 8),
      WebpCodec.encodeWebpLossless(rgb, 10, 8),
      JpegCodec.encodeJpegGray(gray, 16, 12),
      TiffCodec.encodeTiff(rgb, 10, 8, 3, compression = 5, predictor = 2))
    for (b <- bases; m <- mutations(b, 2001L, N)) {
      ImageCodec.decode(m)
      ImageCodec.aHash(m)
    }
  }

  test("audio decoders: wav/flac/mp3/ogg payloads under mutation") {
    val pcm = Array.tabulate(400)(i => (i * 3).toByte)
    val wav = {
      // minimal canonical RIFF/WAVE (8-bit mono PCM)
      val bb = java.nio.ByteBuffer.allocate(44 + pcm.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + pcm.length).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(8000).putShort(1).putShort(8)
      bb.put("data".getBytes).putInt(pcm.length).put(pcm)
      bb.array()
    }
    val flac = FlacCodec.encodeFlac(
      Array.tabulate(256)((i: Int) => (i % 96) - 48), 1, 8000, 16)
    val mp3 = Mp3Meta.encodeMp3("t", "a", 3, 9, 1, mono = true, pcm)
    val ogg = OggMeta.encodeOgg("opus", 2, 48000, 312, 3, 96312L, pcm)
    for (b <- Seq(wav, flac, mp3, ogg); m <- mutations(b, 2002L, N)) {
      AudioCodec.decode(m)
      FlacCodec.decode(m)
      Mp3Meta.decode(m)
      OggMeta.decode(m)
    }
  }

  test("video + container metadata: y4m payloads under mutation") {
    val y4m = ("YUV4MPEG2 W4 H2 F25:1 C444\n" +
      "FRAME\n" + ("x" * 24) + "FRAME\n" + ("y" * 24)).getBytes("US-ASCII")
    mutations(y4m, 2003L, N).foreach(m => VideoCodec.decode(m))
  }

  test("pdf extraction under mutation (classic + modern containers)") {
    val classic = graft.sources.Pdf.buildPdf("Fuzz Doc", "pdf fuzz body text", flate = true)
    val modern = graft.sources.Pdf.buildPdfModern("Fuzz Doc", "another pdf body", "raw")
    for (b <- Seq(classic, modern); m <- mutations(b, 2004L, N))
      graft.sources.Pdf.extractText(m)
  }

  test("classic archives + avro under mutation") {
    val data = "archive fuzz payload body".getBytes("US-ASCII")
    val zip = graft.sources.Archive.zipBytes(Seq(("a.txt", data, true)))
    val tar = graft.sources.Archive.tarBytes(Seq(("a.txt", data)))
    val avro = graft.sources.Avro.avroBytes(Seq((1L, 0, "fuzz")), "deflate", 3L)
    for (m <- mutations(zip, 2005L, N)) graft.sources.Archive.readZip(m)
    for (m <- mutations(tar, 2006L, N)) graft.sources.Archive.readTar(m)
    for (m <- mutations(avro, 2007L, N)) graft.sources.Avro.read(m)
  }

  test("warc-gz: multi-member gzip archives under mutation") {
    import graft.sources.Warc
    def record(id: Int, body: String): String =
      s"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Record-ID: <urn:r:$id>\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body\r\n\r\n"
    val gz = (0 until 3).map(i => Warc.gzipMember(
      record(i, s"warc fuzz body $i").getBytes("US-ASCII"))).reduce(_ ++ _)
    assert(Warc.parseArchive("base", gz).count(_.ok) === 3)
    for (m <- mutations(gz, 2008L, N)) {
      val recs = Warc.parseArchive("m", m)
      assert(recs.forall(r => r.ok || r.error.startsWith("warc")), recs.map(_.error))
    }
  }
}

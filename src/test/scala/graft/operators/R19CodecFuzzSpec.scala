package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Mutation fuzz over the r19 codec surfaces — the CodecPropertySpec
  * discipline (decode never throws on arbitrary corruption: Left or a
  * valid decode, task-safe) extended to MP4, WebM, Zip64, snappy-Avro,
  * EXIF GPS, tiled/palette/G4 TIFF. Seeded byte flips, truncations,
  * splices, and byte-run zeroing keep failures replayable.
  */
class R19CodecFuzzSpec extends AnyFunSuite {

  private def mutations(base: Array[Byte], seed: Long, n: Int): Iterator[Array[Byte]] = {
    var s = seed
    def next(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % bound).toInt + bound) % bound
    }
    Iterator.tabulate(n) { _ =>
      val m = base.clone()
      next(4) match {
        case 0 => // flip 1-3 bytes
          for (_ <- 0 to next(3)) m(next(m.length)) = (next(256)).toByte
          m
        case 1 => m.take(next(m.length + 1)) // truncate
        case 2 => // zero a run
          val from = next(m.length)
          java.util.Arrays.fill(m, from, math.min(m.length, from + 1 + next(16)), 0.toByte)
          m
        case _ => // splice a chunk of itself elsewhere
          val from = next(m.length); val to = next(m.length)
          val len = math.min(1 + next(8), m.length - math.max(from, to))
          if (len > 0) System.arraycopy(base, from, m, to, len)
          m
      }
    }
  }

  private val text = "payload for the round nineteen codec fuzz sweep".getBytes("US-ASCII")

  test("Mp4Meta.decode never throws on mutated payloads") {
    val base = Mp4Meta.encodeMp4("isom", 7L, 1000L, 2500L,
      Seq(Mp4Meta.Mp4Track("vide", "avc1", 1L, 320, 240),
        Mp4Meta.Mp4Track("soun", "mp4a", 2L, 0, 0)), text)
    mutations(base, 1901L, 1500).foreach(m => Mp4Meta.decode(m))
  }

  test("WebmMeta.decode never throws on mutated payloads") {
    val base = WebmMeta.encodeWebm(1000000L, 2500.0,
      Seq(WebmMeta.WebmTrack(1, "V_VP9", width = 320, height = 240),
        WebmMeta.WebmTrack(2, "A_OPUS", hz = 48000, channels = 2)), text)
    mutations(base, 1902L, 1500).foreach(m => WebmMeta.decode(m))
  }

  test("Snappy.decompress only ever throws the named Malformed") {
    val base = graft.sources.Snappy.compressLiteral(text ++ text ++ text)
    mutations(base, 1903L, 1500).foreach { m =>
      try { graft.sources.Snappy.decompress(m); () }
      catch { case graft.bytes.Bytes.Malformed(_) => () }
    }
  }

  test("Avro.read (snappy + nullable/array schema) never throws on mutated payloads") {
    val base = graft.sources.Avro.avroDocBytes(Seq(
      graft.sources.Avro.DocRec(1L, Some("note"), Seq(Seq(3, 4))),
      graft.sources.Avro.DocRec(2L, None, Seq(Seq(5), Seq(6)))),
      noteNullFirst = false, "snappy", syncSeed = 11L)
    mutations(base, 1904L, 1500).foreach(m => graft.sources.Avro.read(m))
  }

  test("Archive.readZip (zip64 framing) never throws on mutated payloads") {
    val base = graft.sources.Archive.zipBytes(
      Seq(("a.txt", text, true), ("b.bin", text, false)), zip64 = true)
    mutations(base, 1905L, 1500).foreach(m => graft.sources.Archive.readZip(m))
  }

  test("ExifGps extract + strip never throw on mutated payloads") {
    val jpeg = JpegCodec.encodeJpegGray(Array.tabulate(64)(i => (i * 5).toByte), 8, 8)
    val base = ExifGps.withExifGps(jpeg, 3, "N", "W", 37207L, 356405L)
    mutations(base, 1906L, 1500).foreach { m =>
      ExifGps.extract(m)
      ExifGps.strip(m)
    }
  }

  test("TiffCodec.decode (tiled, palette, G4) never throws on mutated payloads") {
    val idx = Array.tabulate(20 * 18)(i => (i % 251).toByte)
    val pal = TiffCodec.encodeTiffTiled(idx, 20, 18, 1,
      colormap = Array.tabulate(768)(_ % 256))
    val bits = Array.tabulate(40 * 12)(i => (i % 3 min 1).toByte)
    val g4 = TiffCodec.encodeTiffG4(bits, 40, 12, rowsPerStrip = 5)
    for (base <- Seq(pal, g4); m <- mutations(base, 1907L, 1000))
      TiffCodec.decode(m)
  }
}

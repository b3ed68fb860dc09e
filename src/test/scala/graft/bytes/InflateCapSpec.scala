package graft.bytes

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.US_ASCII

import org.scalatest.funsuite.AnyFunSuite

import graft.bytes.Bytes.{InflateCap, Malformed}
import graft.operators.ImageCodec
import graft.sources.{Archive, Avro, Pdf, Snappy, Warc}

/** Every decoder of untrusted compressed or size-declaring bytes stops
  * at [[Bytes.InflateCap]]: bombs (small inputs that inflate past the
  * cap) one per carrier, each a named error or, in PDF, a skipped
  * stream; and headers of a few bytes that declare about 2 GB. Heap
  * growth is read from this thread's own allocation counter, so other
  * work in the JVM does not blur it.
  */
class InflateCapSpec extends AnyFunSuite {

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Run `body` twice (the first warms class loading and the JIT) and
    * return the second result with the bytes this thread allocated.
    */
  private def allocating[A](body: => A): (A, Long) = {
    body
    val id = Thread.currentThread.getId
    val before = threads.getThreadAllocatedBytes(id)
    val out = body
    (out, threads.getThreadAllocatedBytes(id) - before)
  }

  private def assertBomb(got: Either[String, _], expect: String, grown: Long): Unit = {
    assert(got === Left(expect))
    assert(grown < 2L * InflateCap, s"allocated $grown bytes")
  }

  private val overCap = "inflated output exceeds 64 MiB"
  private val BombBytes = 80L << 20 // zeros; deflates to ~80 KB

  /** `n` zero bytes deflated: raw, zlib-wrapped, or as one gzip member. */
  private def zeros(n: Long, wrap: Bytes.Wrap): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val sink: java.io.OutputStream = wrap match {
      case Bytes.GzipMembers => new java.util.zip.GZIPOutputStream(out, 1 << 16)
      case w => new java.util.zip.DeflaterOutputStream(out,
        new java.util.zip.Deflater(9, w == Bytes.Raw), 1 << 16)
    }
    val block = new Array[Byte](1 << 20)
    var left = n
    while (left > 0) {
      val k = math.min(left, block.length.toLong).toInt
      sink.write(block, 0, k)
      left -= k
    }
    sink.close()
    out.toByteArray
  }

  private def png(w: Int, h: Int, colorType: Int, idat: Array[Byte]): Array[Byte] = {
    def chunk(typ: String, body: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes(US_ASCII))
      crc.update(body)
      ByteBuffer.allocate(12 + body.length).putInt(body.length).put(typ.getBytes(US_ASCII))
        .put(body).putInt(crc.getValue.toInt).array()
    }
    val ihdr = ByteBuffer.allocate(13).putInt(w).putInt(h).put(8.toByte)
      .put(colorType.toByte).array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++ chunk("IEND", Array.emptyByteArray)
  }

  /** A ZIP of one deflated entry whose central record declares `uncomp`. */
  private def zipDeclaring(data: Array[Byte], uncomp: Long): Array[Byte] = {
    val z = Archive.zipBytes(Seq(("bomb.bin", data, true)))
    val c = z.lastIndexOfSlice(Seq[Byte]('P', 'K', 1, 2)) // the central record
    ByteBuffer.wrap(z).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(c + 24, uncomp.toInt)
    z
  }

  /** A one-record Avro container whose single block carries `block`. */
  private def avroWithBlock(codec: String, block: Array[Byte]): Array[Byte] = {
    val good = Avro.avroBytes(Seq((1L, 0, "x")), codec, syncSeed = 3L)
    val sync = good.takeRight(16)
    val headerEnd = good.indexOfSlice(sync) + 16
    def zz(v: Long): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      var u = (v << 1) ^ (v >> 63)
      while ((u & ~0x7fL) != 0) { out.write(((u & 0x7f) | 0x80).toInt); u >>>= 7 }
      out.write(u.toInt)
      out.toByteArray
    }
    good.take(headerEnd) ++ zz(1) ++ zz(block.length.toLong) ++ block ++ sync
  }

  /** An LZW stream (the PDF and TIFF flavor) of at least `n` zero bytes,
    * built code by code: each new code is the one being assigned (the
    * previous code plus a zero), then the longest code repeats. About
    * 3 KB per 8 MiB.
    */
  private def lzwZeros(n: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var acc = 0L
    var nbits = 0
    var width = 9
    var nextCode = 258
    var prev = -1
    def put(code: Int): Unit = {
      acc = (acc << width) | code
      nbits += width
      while (nbits >= 8) { out.write(((acc >>> (nbits - 8)) & 0xff).toInt); nbits -= 8 }
      if (prev >= 0 && nextCode < 4096) nextCode += 1
      prev = code
      if (width < 12 && nextCode + 1 > (1 << width) - 1) width += 1
    }
    put(0)
    var left = n - 1
    while (left > 0) {
      val code = math.min(nextCode, 4095)
      put(code)
      left -= code - 256 // code c >= 258 holds c - 256 zeros
    }
    put(257)
    if (nbits > 0) out.write(((acc << (8 - nbits)) & 0xff).toInt)
    out.toByteArray
  }

  test("lzw: the zero stream decodes to its zeros; output past the limit is refused") {
    val z = lzwZeros(100000)
    val all = Pdf.lzwDecode(z)
    assert(all.map(b => (b.length >= 100000, b.forall(_ == 0))) === Right((true, true)))
    val n = all.map(_.length).getOrElse(0)
    assert(Pdf.lzwDecode(z, limit = n).map(_.length) === Right(n))
    assert(Pdf.lzwDecode(z, limit = n - 1) === Left(s"LZW output exceeds ${n - 1} bytes"))
  }

  test("pdf LZWDecode bomb: the stream is skipped, the document's text kept") {
    val bomb = lzwZeros(BombBytes)
    assert(bomb.length < (64 << 10))
    val pdf = ("%PDF-1.4\n1 0 obj\n<< /Length " + bomb.length + " /Filter /LZWDecode >>\nstream\n")
      .getBytes(US_ASCII) ++ bomb ++
      ("\nendstream\nendobj\n2 0 obj\n<< /Length 15 >>\nstream\nBT (kept) Tj ET\n" +
        "endstream\nendobj\n%%EOF\n").getBytes(US_ASCII)
    val (got, grown) = allocating(Pdf.extractText(pdf))
    assert(got.map(x => (x.nStreams, x.nRaw, x.nSkipped, x.text.trim)) === Right((2, 1, 1, "kept")))
    assert(grown < 2L * InflateCap, s"allocated $grown bytes")
  }

  test("tiff LZW strip bomb: output past the strip's size is refused") {
    // 8192 x 8192 8-bit gray in one LZW strip of 64 MiB, its stream
    // decoding to 80 MiB
    val strip = lzwZeros(BombBytes)
    val tiff = ByteBuffer.allocate(8 + 2 + 12 * 8 + 4 + strip.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put("II".getBytes(US_ASCII)).putShort(42.toShort).putInt(8).putShort(8.toShort)
    for ((tag, tpe, v) <- Seq((256, 4, 8192), (257, 4, 8192), (258, 3, 8), (259, 3, 5),
        (262, 3, 1), (273, 4, 110), (278, 4, 8192), (279, 4, strip.length)))
      tiff.putShort(tag.toShort).putShort(tpe.toShort).putInt(1).putInt(v)
    tiff.putInt(0).put(strip)
    val (got, grown) = allocating(graft.operators.TiffCodec.decode(tiff.array()))
    assert(got === Left(s"tiff: strip 0: LZW output exceeds $InflateCap bytes"))
    assert(grown < 2L * InflateCap, s"allocated $grown bytes")
  }

  test("png IDAT bomb: a raster past the cap is refused before inflating") {
    // 8193 rows of 1 filter byte + 8192 gray samples: 67,125,249 bytes
    val bomb = png(8192, 8193, 0, zeros(8193L * 8193, Bytes.Zlib))
    val (got, grown) = allocating(ImageCodec.decode(bomb))
    assertBomb(got, "png: raster of 67125249 bytes exceeds 64 MiB", grown)
  }

  test("zip entry bomb: a deflate stream past the cap") {
    val bomb = zipDeclaring(new Array[Byte](BombBytes.toInt), uncomp = BombBytes)
    val (got, grown) = allocating(Archive.readZip(bomb))
    assertBomb(got, s"zip: $overCap", grown)
  }

  test("zip: a stream longer than its declared size is cut there and kept") {
    val bomb = zipDeclaring(new Array[Byte](BombBytes.toInt), uncomp = 1024)
    val (got, grown) = allocating(Archive.readZip(bomb))
    assert(got.map(_.map(e => (e.entry_name, e.data.length, e.crc_ok))) ===
      Right(Seq(("bomb.bin", 1024, false))))
    assert(grown < (1L << 20), s"allocated $grown bytes")
  }

  test("avro deflate block bomb") {
    val bomb = avroWithBlock("deflate", zeros(BombBytes, Bytes.Raw))
    val (got, grown) = allocating(Avro.read(bomb))
    assertBomb(got, s"avro: $overCap", grown)
  }

  test("avro snappy block bomb: a declared length past the cap") {
    // plain varint length, one literal, a 4-byte CRC slot
    val block = Array[Byte](0x80.toByte, 0x80.toByte, 0x80.toByte, 0x28, 0, 'a', 0, 0, 0, 0)
    val (got, grown) = allocating(Avro.read(avroWithBlock("snappy", block)))
    assertBomb(got, "avro: snappy: declared length of 83886080 bytes exceeds 64 MiB", grown)
  }

  test("pdf FlateDecode bomb: the stream is skipped, the document's text kept") {
    def obj(n: Int, body: Array[Byte]): Array[Byte] =
      s"$n 0 obj\n<< /Length ${body.length} /Filter /FlateDecode >>\nstream\n"
        .getBytes(US_ASCII) ++ body ++ "\nendstream\nendobj\n".getBytes(US_ASCII)
    val text = new ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(text)
    z.write("BT (kept) Tj ET".getBytes(US_ASCII))
    z.close()
    val bomb = "%PDF-1.4\n".getBytes(US_ASCII) ++ obj(1, zeros(BombBytes, Bytes.Zlib)) ++
      obj(2, text.toByteArray) ++ "%%EOF\n".getBytes(US_ASCII)
    val (got, grown) = allocating(Pdf.extractText(bomb))
    assert(got.map(x => (x.nStreams, x.nFlate, x.nSkipped, x.text.trim)) ===
      Right((2, 1, 1, "kept")))
    assert(grown < 2L * InflateCap, s"allocated $grown bytes")
  }

  test("warc gzip member bomb: one error row for the archive") {
    val bomb =
      Warc.gzipMember("WARC/1.0\r\n".getBytes(US_ASCII)) ++ zeros(BombBytes, Bytes.GzipMembers)
    val (got, grown) = allocating(Warc.gunzipMembers(bomb))
    assertBomb(got, s"warc: gzip decode failed: $overCap", grown)
    val rows = Warc.parseArchive("bomb", bomb)
    assert(rows.map(r => (r.ok, r.error)) ===
      Seq((false, s"warc: gzip decode failed: $overCap")))
  }

  test("a ~1 MB gzip member inflating to 1 GiB is an error, not an OutOfMemoryError") {
    val member = zeros(1L << 30, Bytes.GzipMembers)
    assert(member.length > (1 << 19) && member.length < (2 << 20))
    val (got, grown) = allocating(Warc.gunzipMembers(member))
    assertBomb(got, s"warc: gzip decode failed: $overCap", grown)
  }

  test("inflate: corrupt streams are Left reasons; output of exactly the cap is kept") {
    val cut = zeros(1000, Bytes.Raw).dropRight(4)
    assert(Bytes.inflate(cut, 0, cut.length, Bytes.Raw) === Left("truncated deflate stream"))
    val junk = Array.fill[Byte](64)(0xff.toByte)
    assert(Bytes.inflate(junk, 0, junk.length, Bytes.Zlib) === Left("malformed deflate stream"))
    assert(Bytes.inflate(junk, 0, junk.length, Bytes.GzipMembers) ===
      Left("Not in GZIP format"))
    val exact = zeros(InflateCap.toLong, Bytes.Zlib)
    assert(Bytes.inflate(exact, 0, exact.length, Bytes.Zlib).map(_.length) ===
      Right(InflateCap))
    val over = zeros(InflateCap + 1L, Bytes.Zlib)
    assert(Bytes.inflate(over, 0, over.length, Bytes.Zlib) === Left(Bytes.OverCap))
  }

  test("inflate: stopAt below the cap cuts a longer stream, a shorter one is whole") {
    val raw = zeros(1000, Bytes.Raw)
    assert(Bytes.inflate(raw, 0, raw.length, Bytes.Raw, stopAt = 10).map(_.length) === Right(10))
    assert(Bytes.inflate(raw, 0, raw.length, Bytes.Raw, stopAt = 1000).map(_.length) ===
      Right(1000))
    assert(Bytes.inflate(raw, 0, raw.length, Bytes.Raw, stopAt = 5000).map(_.length) ===
      Right(1000))
  }

  test("snappy: a 5-byte block declaring 2 GB is refused without the allocation") {
    val block = Array(0xfe, 0xff, 0xff, 0xff, 0x07).map(_.toByte)
    val (got, grown) = allocating(
      try Right(Snappy.decompress(block)) catch { case Malformed(m) => Left(m) })
    assert(got === Left("snappy: declared length of 2147483646 bytes exceeds 64 MiB"))
    assert(grown < (1L << 20), s"allocated $grown bytes")
  }

  test("zip: a central record declaring 2 GB is refused without the allocation") {
    val z = zipDeclaring("tiny".getBytes(US_ASCII), uncomp = Int.MaxValue)
    val (got, grown) = allocating(Archive.readZip(z))
    assert(got === Left("zip: bomb.bin extracted 4 of 2147483647 bytes"))
    assert(grown < (1L << 20), s"allocated $grown bytes")
    // a 32-bit size past Int.MaxValue, read without a Zip64 extra
    val z4 = zipDeclaring("tiny".getBytes(US_ASCII), uncomp = 0xfffffffeL)
    assert(Archive.readZip(z4) === Left("zip: bomb.bin extracted 4 of 4294967294 bytes"))
  }

  test("png: an IHDR width declaring 2 GB rows is refused before any row buffer") {
    // RGB scanlines of 3 * 715827882 = 2^31 - 2 bytes
    val p = png(715827882, 1, 2, zeros(16, Bytes.Zlib))
    val (got, grown) = allocating(ImageCodec.decode(p))
    assert(got === Left("png: scanline of 2147483646 bytes exceeds 64 MiB"))
    assert(grown < (1L << 20), s"allocated $grown bytes")
  }

  test("png: an IHDR whose raster size overflows a Long is refused, not allocated") {
    // 2^31 - 1 RGB pixels per row times 1431655766 rows passes 2^63
    val p = png(Int.MaxValue, 1431655766, 2, zeros(16, Bytes.Zlib))
    val (got, grown) = allocating(ImageCodec.decode(p))
    assert(got === Left("png: scanline of 6442450941 bytes exceeds 64 MiB"))
    assert(grown < (1L << 20), s"allocated $grown bytes")
  }

  test("tiff: a strip declared at 10 GB is refused before its buffer") {
    val tiff = ByteBuffer.allocate(8 + 2 + 12 * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put("II".getBytes(US_ASCII)).putShort(42.toShort).putInt(8).putShort(8.toShort)
    // width, length, 8-bit gray, uncompressed, one strip of every row
    for ((tag, tpe, v) <- Seq((256, 4, 100000), (257, 4, 100000), (258, 3, 8), (259, 3, 1),
        (262, 3, 1), (273, 4, 0), (278, 4, 100000), (279, 4, 0)))
      tiff.putShort(tag.toShort).putShort(tpe.toShort).putInt(1).putInt(v)
    val (got, grown) = allocating(graft.operators.TiffCodec.decode(tiff.array()))
    assert(got === Left("tiff: strip 0 of 10000000000 bytes exceeds 64 MiB"))
    assert(grown < (1L << 20), s"allocated $grown bytes")
  }

  test("jpeg: a SOF2 frame declaring 65535 x 65535 is refused before its coefficient buffer") {
    // SOI, then SOF2: 8-bit, 65535 x 65535, three 1x1 components
    val j = Array(0xff, 0xd8, 0xff, 0xc2, 0x00, 0x11, 0x08, 0xff, 0xff, 0xff, 0xff, 0x03,
      0x01, 0x11, 0x00, 0x02, 0x11, 0x00, 0x03, 0x11, 0x00).map(_.toByte)
    val (got, grown) = allocating(graft.operators.JpegCodec.decode(j))
    // 3 components x 8192 x 8192 blocks x 64 coefficients x 4 bytes
    assert(got === Left("jpeg: progressive coefficient buffer of 51539607552 bytes exceeds 64 MiB"))
    assert(grown < (1L << 20), s"allocated $grown bytes")
  }

  test("webp: a VP8L header declaring 16384 x 16384 is refused before its pixel buffer") {
    val w = graft.operators.WebpCodec.encodeWebpLossless(new Array[Byte](3), 1, 1)
    assert(w(20) === 0x2f.toByte) // the VP8L signature after RIFF/WEBP/VP8L headers
    // width-1 and height-1 as 14 bits each, all ones; alpha and version stay 0
    w(21) = 0xff.toByte; w(22) = 0xff.toByte; w(23) = 0xff.toByte
    w(24) = ((w(24) & 0xf0) | 0x0f).toByte
    val (got, grown) = allocating(graft.operators.WebpCodec.decode(w))
    assert(got === Left("webp: pixel buffer of 1073741824 bytes exceeds 64 MiB"))
    assert(grown < (1L << 20), s"allocated $grown bytes")
  }
}

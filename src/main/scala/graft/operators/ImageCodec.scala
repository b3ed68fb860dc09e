package graft.operators

import graft.bytes.Bytes._

/** Real image decoding for the multimodal column path — a
  * dependency-free parser for three public formats:
  *
  *  - PNM binary: P6 (RGB) and P5 (grayscale), per the Netpbm spec —
  *    whitespace/`#`-comment-tolerant header, 8-bit samples for
  *    maxval <= 255 and big-endian 16-bit samples above.
  *  - BMP: BITMAPFILEHEADER + BITMAPINFOHEADER (or the larger V4/V5
  *    headers), uncompressed (BI_RGB) 24/32 bpp, 4-byte-padded rows,
  *    bottom-up or top-down (negative height); 32 bpp alpha is
  *    ignored for the channel stats.
  *  - PNG (the format a real crawl actually contains): CRC-verified
  *    chunk walk (IHDR/IDAT/IEND, ancillary chunks skipped), zlib
  *    DEFLATE via the JDK-only `java.util.zip.Inflater` (the
  *    `Warc.gunzipMembers` precedent — the reference sniffs and
  *    decompresses its input the same way, `/root/reference/src/
  *    main.rs:431-433`), all five scanline filter types (None/Sub/
  *    Up/Average/Paeth), 8-bit AND 16-bit gray / RGB / gray+alpha /
  *    RGBA plus PLTE-indexed (type 3) at EVERY legal depth —
  *    1/2/4-bit packed and 8-bit (stats and aHash read the mapped
  *    RGB, out-of-range indices are parse errors) — BOTH
  *    non-interlaced and Adam7-interlaced (each pixel arrives exactly
  *    once across the seven passes, so the streaming folds need no
  *    raster even when interlaced). The raster is never materialized:
  *    rows inflate into a two-scanline window (O(row) memory), stats
  *    and the aHash grid stream out of it.
  *
  * The decoder computes pixel SUMMARY STATS in a single streaming
  * pass over the payload — per-channel means, global sample min/max —
  * without materializing a decoded pixel buffer, so per-record memory
  * is O(1) regardless of image size. That is the shape a feature
  * extractor needs at 100 TB: decode cost is one scan of bytes that
  * are already in the partition, and nothing but the fixed-width
  * stats row survives the stage.
  *
  * Malformed input is a `Left(reason)`, never an exception: a corrupt
  * record in a trillion-row media table must become an error row the
  * pipeline can route (see [[Media.decodeImages]]), not a task
  * failure that kills the stage.
  */
object ImageCodec {

  /** Single-pass summary of a decoded image. For grayscale (P5) the
    * one channel is reported in all three means. `pxMin`/`pxMax` are
    * over color samples (alpha excluded for 32 bpp BMP).
    */
  final case class ImageStats(
      codec: String, // ppm | pgm | bmp
      width: Int,
      height: Int,
      channels: Int, // color channels in the stats (1 or 3)
      maxval: Int, // 255 for BMP; PNM header maxval otherwise
      nPixels: Long,
      rMean: Double,
      gMean: Double,
      bMean: Double,
      pxMin: Int,
      pxMax: Int,
      // EXIF orientation (JPEG APP1 tag 0x0112; 1 when absent / other
      // codecs). The aHash grid is already normalized to upright, so
      // rotated re-encodes of the same image pair; pixel stats are
      // rotation-invariant and reported as stored.
      orientation: Int = 1)

  /** True when the payload starts with a magic this codec can parse —
    * the cheap sniff [[Media.decodeFeatures]] uses to route payloads.
    */
  def sniff(data: Array[Byte]): Boolean =
    data.length >= 2 && (
      (data(0) == 'P' && (data(1) == '5' || data(1) == '6')) ||
        (data(0) == 'B' && data(1) == 'M') ||
        sniffPng(data) || JpegCodec.sniff(data) || GifCodec.sniff(data) ||
        WebpCodec.sniff(data) || TiffCodec.sniff(data))

  private def sniffPng(data: Array[Byte]): Boolean = {
    if (data.length < 8) return false
    var i = 0
    while (i < 8) { if (data(i) != PngSig(i)) return false; i += 1 }
    true
  }

  /** Decode a payload to its summary stats, or a parse-failure reason. */
  def decode(data: Array[Byte]): Either[String, ImageStats] =
    if (data.length < 2) Left("image: payload shorter than any magic")
    else if (data(0) == 'P' && (data(1) == '5' || data(1) == '6')) decodePnm(data)
    else if (data(0) == 'B' && data(1) == 'M') decodeBmp(data)
    else if (sniffPng(data)) guarded("png")(decodePngFull(data)).map(_._1)
    else if (JpegCodec.sniff(data)) JpegCodec.decode(data).map(_._1)
    else if (GifCodec.sniff(data)) GifCodec.decode(data).map(_._1)
    else if (WebpCodec.sniff(data)) WebpCodec.decode(data).map(_._1)
    else if (TiffCodec.sniff(data)) TiffCodec.decode(data).map(_._1)
    else Left("image: unrecognized magic")

  // ------------------------------------------------------------- PNM

  /** Parsed PNM header: everything needed to address the raster. */
  private final case class PnmHeader(
      codec: String, channels: Int, width: Int, height: Int,
      maxval: Int, rasterPos: Int)

  private def parsePnmHeader(d: Array[Byte]): Either[String, PnmHeader] = {
    val channels = if (d(1) == '6') 3 else 1
    val codec = if (channels == 3) "ppm" else "pgm"
    var pos = 2

    def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

    // header tokens are separated by whitespace; '#' starts a comment
    // that runs to end-of-line (Netpbm allows comments anywhere in
    // the header)
    def skipWsAndComments(): Unit = {
      var more = true
      while (more && pos < d.length) {
        if (isWs(d(pos))) pos += 1
        else if (d(pos) == '#') { while (pos < d.length && d(pos) != '\n') pos += 1 }
        else more = false
      }
    }

    def readHeaderInt(what: String): Either[String, Int] = {
      skipWsAndComments()
      if (pos >= d.length || d(pos) < '0' || d(pos) > '9')
        return Left(s"$codec: missing $what in header")
      var v = 0L
      while (pos < d.length && d(pos) >= '0' && d(pos) <= '9') {
        v = v * 10 + (d(pos) - '0')
        if (v > Int.MaxValue) return Left(s"$codec: $what overflows")
        pos += 1
      }
      Right(v.toInt)
    }

    for {
      w <- readHeaderInt("width")
      h <- readHeaderInt("height")
      maxval <- readHeaderInt("maxval")
      _ <- if (w <= 0 || h <= 0) Left(s"$codec: non-positive dimensions ${w}x$h")
      else if (maxval <= 0 || maxval > 65535) Left(s"$codec: maxval $maxval out of range")
      // exactly ONE whitespace byte separates maxval from the raster
      else if (pos >= d.length || !isWs(d(pos))) Left(s"$codec: missing raster separator")
      else Right(())
    } yield PnmHeader(codec, channels, w, h, maxval, pos + 1)
  }

  private def decodePnm(d: Array[Byte]): Either[String, ImageStats] =
    parsePnmHeader(d).flatMap { hd =>
      val codec = hd.codec
      val channels = hd.channels
      val (w, h, maxval) = (hd.width, hd.height, hd.maxval)
      val pos = hd.rasterPos
      val bytesPerSample = if (maxval > 255) 2 else 1
      val nSamples = w.toLong * h * channels
      val need = nSamples * bytesPerSample
      if (d.length - pos < need)
        Left(s"$codec: truncated raster — need $need bytes, have ${d.length - pos}")
      else {
          val sums = new Array[Long](3)
        var mn = Int.MaxValue
        var mx = Int.MinValue
        var i = 0L
        var p = pos
        while (i < nSamples) {
          val v =
            if (bytesPerSample == 1) d(p) & 0xff
            else u16be(d, p) // 16-bit is big-endian
          sums((i % channels).toInt) += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          p += bytesPerSample
          i += 1
        }
        val n = w.toLong * h
        val (r, g, b) =
          if (channels == 3) (sums(0).toDouble / n, sums(1).toDouble / n, sums(2).toDouble / n)
          else { val m = sums(0).toDouble / n; (m, m, m) }
        Right(ImageStats(codec, w, h, channels, maxval, n, r, g, b, mn, mx))
      }
    }

  /** Perceptual average-hash (aHash) of an 8-bit PNM or PNG image:
    * sample a fixed 8x8 grid by nearest-neighbor — grid cell (gy, gx)
    * reads pixel (gy*h div 8, gx*w div 8), so any geometry maps onto
    * the same 64 positions — take gray = r+g+b per sample (3*v for
    * 1-channel payloads, keeping the scale identical; alpha ignored),
    * threshold each sample against the floor mean (sum div 64), and
    * pack bit i = gy*8+gx into two 32-bit halves (hi = bits 32..63,
    * lo = 0..31; split because a 1<<63 BIGINT overflows the DuckDB
    * oracle's integer build of the same hash). Every step is integer
    * arithmetic, so the q121 gate is exact — and because the grid
    * rule is format-independent, the same raster hashes identically
    * through the PNM and PNG paths (a PNG re-encode of a PPM pairs at
    * hamming 0).
    */
  def aHash(data: Array[Byte]): Either[String, (Long, Long)] =
    if (sniffPng(data)) guarded("png")(decodePngFull(data)).map(t => packAHash(t._2))
    else if (JpegCodec.sniff(data)) JpegCodec.decode(data).map(t => packAHash(t._2))
    else if (GifCodec.sniff(data)) GifCodec.decode(data).map(t => packAHash(t._2))
    else if (WebpCodec.sniff(data)) WebpCodec.decode(data).map(t => packAHash(t._2))
    else if (TiffCodec.sniff(data)) TiffCodec.decode(data).map(t => packAHash(t._2))
    else if (data.length < 2 || data(0) != 'P' || (data(1) != '5' && data(1) != '6'))
      Left("ahash: not a PNM, PNG, JPEG or GIF payload")
    else parsePnmHeader(data).flatMap { hd =>
      if (hd.maxval > 255) Left(s"${hd.codec}: ahash requires 8-bit samples")
      else {
        val need = hd.width.toLong * hd.height * hd.channels
        if (data.length - hd.rasterPos < need)
          Left(s"${hd.codec}: truncated raster — need $need bytes, have ${data.length - hd.rasterPos}")
        else {
          val grays = new Array[Int](64)
          var g = 0
          while (g < 64) {
            val y = (g / 8) * hd.height / 8
            val x = (g % 8) * hd.width / 8
            val o = hd.rasterPos + hd.channels * (y * hd.width + x)
            grays(g) =
              if (hd.channels == 3) (data(o) & 0xff) + (data(o + 1) & 0xff) + (data(o + 2) & 0xff)
              else 3 * (data(o) & 0xff)
            g += 1
          }
          Right(packAHash(grays))
        }
      }
    }

  /** Threshold the 64 grid grays against their floor mean and pack
    * into (hi, lo) 32-bit halves — the shared tail of the PNM and PNG
    * aHash paths.
    */
  private def packAHash(grays: Array[Int]): (Long, Long) = {
    val mean = grays.map(_.toLong).sum / 64L
    var hi = 0L
    var lo = 0L
    var i = 0
    while (i < 64) {
      if (grays(i) > mean) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (hi, lo)
  }

  // ------------------------------------------------------------- BMP

  private def decodeBmp(d: Array[Byte]): Either[String, ImageStats] = {
    if (d.length < 54) return Left("bmp: truncated header")
    val dataOffset = u32le(d, 10).toInt
    val dibSize = u32le(d, 14).toInt
    if (dibSize < 40) return Left(s"bmp: unsupported DIB header size $dibSize")
    val width = u32le(d, 18).toInt
    val heightRaw = u32le(d, 22).toInt
    val bpp = u16le(d, 28)
    val compression = u32le(d, 30).toInt
    if (width <= 0 || heightRaw == 0) return Left(s"bmp: bad dimensions ${width}x$heightRaw")
    if (compression != 0) return Left(s"bmp: compression $compression not supported (BI_RGB only)")
    if (bpp != 24 && bpp != 32) return Left(s"bmp: $bpp bpp not supported (24/32 only)")
    val height = math.abs(heightRaw) // negative height = top-down row order
    val bytesPerPx = bpp / 8
    // rows are padded to 4-byte boundaries
    val rowSize = ((width.toLong * bytesPerPx + 3) / 4 * 4)
    val need = rowSize * height
    if (dataOffset < 14 + dibSize || dataOffset > d.length)
      return Left(s"bmp: bad pixel data offset $dataOffset")
    if (d.length - dataOffset < need)
      return Left(s"bmp: truncated raster — need $need bytes, have ${d.length - dataOffset}")

    // stats are order-independent, so row direction doesn't matter;
    // samples within a pixel are B,G,R[,A]
    var rSum = 0L; var gSum = 0L; var bSum = 0L
    var mn = Int.MaxValue
    var mx = Int.MinValue
    var row = 0
    while (row < height) {
      var p = dataOffset + (row * rowSize).toInt
      var x = 0
      while (x < width) {
        val bl = d(p) & 0xff
        val gr = d(p + 1) & 0xff
        val rd = d(p + 2) & 0xff
        bSum += bl; gSum += gr; rSum += rd
        val lo = math.min(bl, math.min(gr, rd))
        val hi = math.max(bl, math.max(gr, rd))
        if (lo < mn) mn = lo
        if (hi > mx) mx = hi
        p += bytesPerPx // 32 bpp: skip alpha
        x += 1
      }
      row += 1
    }
    val n = width.toLong * height
    Right(ImageStats("bmp", width, height, 3, 255, n,
      rSum.toDouble / n, gSum.toDouble / n, bSum.toDouble / n, mn, mx))
  }

  // ------------------------------------------------------------- PNG

  private val PngSig: Array[Byte] =
    Array(0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  /** PNG Paeth predictor (RFC 2083 §6.6): the neighbor closest to the
    * linear estimate a + b − c, ties breaking left, up, upper-left.
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a)
    val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Decode a PNG to (summary stats, 64 aHash grid grays) in ONE
    * streaming pass: CRC-verified chunk walk, then scanlines inflate
    * into a rolling two-row window — unfilter, fold channel sums and
    * min/max, capture the 8x8 nearest-neighbor grid rows as they
    * stream by. Memory is O(row width) regardless of image size; the
    * compressed payload is fed to the Inflater chunk by chunk, so a
    * multi-chunk IDAT stream never concatenates.
    */
  private def decodePngFull(
      d: Array[Byte]): Either[String, (ImageStats, Array[Int])] = {
    if (d.length < 8 + 12) return Left("png: payload shorter than signature + one chunk")

    var width = 0
    var height = 0
    var colorType = 0
    var bitDepth = 0
    var interlace = 0
    var seenIhdr = false
    var seenIend = false
    var palette: Array[Byte] = null // PLTE body: RGB triples
    val idat = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (off, len)
    val crc = new java.util.zip.CRC32
    var pos = 8
    while (!seenIend) {
      if (pos + 12 > d.length) return Left("png: truncated chunk header")
      val len = u32be(d, pos)
      if (len > (Int.MaxValue - 12).toLong || pos + 12 + len > d.length)
        return Left("png: truncated chunk body")
      val bodyLen = len.toInt
      val typ = new String(d, pos + 4, 4, "US-ASCII")
      crc.reset()
      crc.update(d, pos + 4, 4 + bodyLen)
      if (crc.getValue != u32be(d, pos + 8 + bodyLen))
        return Left(s"png: crc mismatch in $typ chunk")
      typ match {
        case "IHDR" =>
          if (seenIhdr) return Left("png: duplicate IHDR")
          if (bodyLen != 13) return Left(s"png: IHDR length $bodyLen != 13")
          val b = pos + 8
          val w = u32be(d, b)
          val h = u32be(d, b + 4)
          if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue)
            return Left(s"png: bad dimensions ${w}x$h")
          width = w.toInt
          height = h.toInt
          bitDepth = d(b + 8) & 0xff
          colorType = d(b + 9) & 0xff
          if ((d(b + 10) & 0xff) != 0) return Left("png: nonzero compression method")
          if ((d(b + 11) & 0xff) != 0) return Left("png: nonzero filter method")
          interlace = d(b + 12) & 0xff
          if (interlace != 0 && interlace != 1)
            return Left(s"png: unknown interlace method $interlace")
          if (colorType == 3) {
            if (bitDepth != 1 && bitDepth != 2 && bitDepth != 4 && bitDepth != 8)
              return Left(s"png: $bitDepth-bit palette not supported (1/2/4/8 only)")
          } else if (colorType == 0 || colorType == 2 || colorType == 4 || colorType == 6) {
            if (bitDepth != 8 && bitDepth != 16)
              return Left(s"png: bit depth $bitDepth not supported (8/16 only)")
          } else return Left(s"png: color type $colorType not supported")
          seenIhdr = true
        case "PLTE" =>
          if (!seenIhdr) return Left("png: PLTE before IHDR")
          if (bodyLen == 0 || bodyLen % 3 != 0 || bodyLen > 3 * 256)
            return Left(s"png: bad PLTE length $bodyLen")
          palette = java.util.Arrays.copyOfRange(d, pos + 8, pos + 8 + bodyLen)
        case "IDAT" =>
          if (!seenIhdr) return Left("png: IDAT before IHDR")
          idat += ((pos + 8, bodyLen))
        case "IEND" =>
          seenIend = true
        case _ => () // ancillary chunks (tEXt, tRNS, gAMA, pHYs, ...) skipped
      }
      pos += 12 + bodyLen
    }
    if (!seenIhdr) return Left("png: missing IHDR")
    if (idat.isEmpty) return Left("png: no IDAT chunks")
    if (colorType == 3 && palette == null) return Left("png: indexed image missing PLTE")

    val nchan = colorType match { case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case _ => 4 }
    // filter byte stride: bytes per pixel, min 1 (sub-byte palette
    // depths filter on PACKED bytes with stride 1 per spec)
    val bpp = math.max(1, nchan * bitDepth / 8)
    val colorCh = if (colorType == 0 || colorType == 4) 1 else 3
    val maxval = if (bitDepth == 16) 65535 else 255
    val paletteN = if (palette == null) 0 else palette.length / 3
    // one scanline, then the rows the IDAT stream must inflate to
    // (filter byte + packed samples), checked before any row buffer is
    // sized from IHDR; the capped scanline keeps the product in range
    val line = capped("png", "scanline", (width.toLong * nchan * bitDepth + 7) / 8)
    capped("png", "raster", height * (line + 1L))
    // bytes of one scanline of n pixels (packed for sub-byte depths)
    def lineBytes(n: Int): Int =
      if (bitDepth >= 8) n * bpp else (n * bitDepth + 7) / 8
    val rowBytes = lineBytes(width)

    val inf = new java.util.zip.Inflater()
    try {
      var chunkIdx = 0
      // buffers sized for the widest pass (the full row); interlaced
      // passes use prefixes of them
      val rowRaw = new Array[Byte](rowBytes + 1)
      var prev = new Array[Byte](rowBytes)
      var cur = new Array[Byte](rowBytes)

      // aHash grid sample positions: cell g reads pixel
      // (gx*w div 8, gy*h div 8); several cells can hit the same pixel
      // on small images. Captured per ROW (64 checks, no per-pixel
      // work) because interlaced passes visit pixels in Adam7 order.
      val gridX = Array.tabulate(64)(g => (g % 8) * width / 8)
      val gridY = Array.tabulate(64)(g => (g / 8) * height / 8)
      val grays = new Array[Int](64)

      val sums = new Array[Long](3)
      var mn = Int.MaxValue
      var mx = Int.MinValue

      // palette index of pixel px: one byte at depth 8, a packed
      // big-endian-within-byte bit field at depths 1/2/4
      def paletteIdx(row: Array[Byte], px: Int): Int =
        if (bitDepth == 8) row(px) & 0xff
        else {
          val bitPos = px * bitDepth
          (row(bitPos >> 3) >> (8 - bitDepth - (bitPos & 7))) & ((1 << bitDepth) - 1)
        }

      // channel ch of pixel px (PASS-relative index) from the
      // unfiltered row: direct for 8-bit, big-endian pair for 16-bit,
      // PLTE lookup (any depth) for indexed
      def sample(row: Array[Byte], px: Int, ch: Int): Int =
        if (colorType == 3) palette(3 * paletteIdx(row, px) + ch) & 0xff
        else if (bitDepth == 16) u16be(row, px * bpp + ch * 2)
        else row(px * bpp + ch) & 0xff

      // Adam7 pass geometry (x0, dx, y0, dy); non-interlaced = one
      // full pass. Each pixel is visited EXACTLY ONCE across passes,
      // so the streaming stat/grid folds need no raster — memory
      // stays O(row) for interlaced files too.
      val passes: Seq[(Int, Int, Int, Int)] =
        if (interlace == 0) Seq((0, 1, 0, 1))
        else Seq((0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
          (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2))

      for ((x0, dx, y0, dy) <- passes) {
        val passW = if (width > x0) (width - x0 + dx - 1) / dx else 0
        val passH = if (height > y0) (height - y0 + dy - 1) / dy else 0
        if (passW > 0 && passH > 0) { // empty passes carry no data
          val prowBytes = lineBytes(passW)
          java.util.Arrays.fill(prev, 0, prowBytes, 0.toByte)
          var r0 = 0
          while (r0 < passH) {
            // fill one filtered scanline from the inflater, feeding
            // IDAT chunk slices as it drains them
            var filled = 0
            while (filled < prowBytes + 1) {
              val n =
                try inf.inflate(rowRaw, filled, prowBytes + 1 - filled)
                catch {
                  case e: java.util.zip.DataFormatException =>
                    return Left(s"png: corrupt deflate stream: ${e.getMessage}")
                }
              if (n > 0) filled += n
              else if (inf.needsInput()) {
                if (chunkIdx >= idat.length)
                  return Left("png: IDAT exhausted before raster complete")
                val (o, l) = idat(chunkIdx)
                chunkIdx += 1
                inf.setInput(d, o, l)
              } else if (inf.finished())
                return Left("png: deflate stream ended before raster complete")
              else return Left("png: preset dictionary not supported")
            }
            // unfilter into cur (filters are per-pass independent)
            val ft = rowRaw(0) & 0xff
            if (ft > 4) return Left(s"png: unknown filter type $ft")
            var i = 0
            while (i < prowBytes) {
              val x = rowRaw(1 + i) & 0xff
              val a = if (i >= bpp) cur(i - bpp) & 0xff else 0
              val b = prev(i) & 0xff
              val c = if (i >= bpp) prev(i - bpp) & 0xff else 0
              val v = ft match {
                case 0 => x
                case 1 => x + a
                case 2 => x + b
                case 3 => x + (a + b) / 2
                case _ => x + paeth(a, b, c)
              }
              cur(i) = (v & 0xff).toByte
              i += 1
            }
            val y = y0 + r0 * dy
            // stats: color samples only (alpha excluded)
            var px = 0
            while (px < passW) {
              if (colorType == 3 && paletteIdx(cur, px) >= paletteN)
                return Left(s"png: palette index ${paletteIdx(cur, px)} out of " +
                  s"range ($paletteN entries)")
              var ch = 0
              while (ch < colorCh) {
                val v = sample(cur, px, ch)
                sums(ch) += v
                if (v < mn) mn = v
                if (v > mx) mx = v
                ch += 1
              }
              px += 1
            }
            // aHash grid cells whose pixel lands on THIS pass row
            var g = 0
            while (g < 64) {
              if (gridY(g) == y && gridX(g) >= x0 && (gridX(g) - x0) % dx == 0) {
                val gpx = (gridX(g) - x0) / dx
                grays(g) =
                  if (colorCh == 3)
                    sample(cur, gpx, 0) + sample(cur, gpx, 1) + sample(cur, gpx, 2)
                  else 3 * sample(cur, gpx, 0)
              }
              g += 1
            }
            val t = prev; prev = cur; cur = t
            r0 += 1
          }
        }
      }
      val n = width.toLong * height
      val (r, g, b) =
        if (colorCh == 3) (sums(0).toDouble / n, sums(1).toDouble / n, sums(2).toDouble / n)
        else { val m = sums(0).toDouble / n; (m, m, m) }
      Right((ImageStats("png", width, height, colorCh, maxval, n, r, g, b, mn, mx),
        grays))
    } finally inf.end()
  }

  /** Minimal deterministic PNG ENCODER — the `Media.toPng` adapter
    * and fixture substrate, not a production sink: 8-bit RGB (color
    * type 2), non-interlaced, per-row filter type cycling y % 5 so a
    * round trip exercises every unfilter path, zlib via the JDK
    * Deflater, IDAT split into ≤1 KiB chunks so the decoder's
    * multi-chunk streaming is always on the tested path.
    */
  def encodePng(rgb: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"encodePng: bad dimensions ${w}x$h")
    require(rgb.length == 3 * w * h,
      s"encodePng: raster length ${rgb.length} != 3*$w*$h")
    pngContainer(w, h, depth = 8, colorType = 2,
      filterRows(rgb, 3 * w, h, bpp = 3), plte = None)
  }

  /** PLTE-INDEXED sibling of [[encodePng]] at any legal indexed depth
    * (8 default; 1/2/4 pack big-endian within bytes): same per-row
    * filter cycling over the PACKED bytes (bpp = 1 per spec), PLTE
    * chunk between IHDR and IDAT. The `Media.toPngVariants` substrate
    * — indexed payloads are the common web media class the decoder's
    * palette path must cover.
    */
  def encodePngIndexed(
      indices: Array[Byte], palette: Array[Byte], w: Int, h: Int,
      depth: Int = 8): Array[Byte] = {
    require(w > 0 && h > 0, s"encodePngIndexed: bad dimensions ${w}x$h")
    require(depth == 1 || depth == 2 || depth == 4 || depth == 8,
      s"encodePngIndexed: bad depth $depth")
    require(indices.length == w * h,
      s"encodePngIndexed: index raster length ${indices.length} != $w*$h")
    require(palette.length > 0 && palette.length % 3 == 0 &&
      palette.length <= 3 * (1 << depth),
      s"encodePngIndexed: bad palette length ${palette.length} for depth $depth")
    val packed =
      if (depth == 8) indices
      else {
        val lb = (w * depth + 7) / 8
        val out = new Array[Byte](lb * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val bitPos = x * depth
            out(y * lb + (bitPos >> 3)) = (out(y * lb + (bitPos >> 3)) |
              ((indices(y * w + x) & ((1 << depth) - 1)) <<
                (8 - depth - (bitPos & 7)))).toByte
            x += 1
          }
          y += 1
        }
        out
      }
    val lineB = if (depth == 8) w else (w * depth + 7) / 8
    pngContainer(w, h, depth, colorType = 3,
      filterRows(packed, lineB, h, bpp = 1), plte = Some(palette))
  }

  /** 16-bit GRAYSCALE sibling of [[encodePng]]: big-endian sample
    * pairs, filter cycling with bpp = 2 (PNG filters operate on
    * BYTES, so the 16-bit path exercises a genuinely different
    * unfilter stride). The `Media.toPngGray16` substrate.
    */
  def encodePngGray16(samples: Array[Int], w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"encodePngGray16: bad dimensions ${w}x$h")
    require(samples.length == w * h,
      s"encodePngGray16: raster length ${samples.length} != $w*$h")
    val bytes = new Array[Byte](2 * w * h)
    var i = 0
    while (i < samples.length) {
      val v = samples(i)
      require(v >= 0 && v <= 65535, s"encodePngGray16: sample $v out of range")
      bytes(2 * i) = ((v >>> 8) & 0xff).toByte
      bytes(2 * i + 1) = (v & 0xff).toByte
      i += 1
    }
    pngContainer(w, h, depth = 16, colorType = 0,
      filterRows(bytes, 2 * w, h, bpp = 2), plte = None)
  }

  /** Adam7-INTERLACED sibling of [[encodePng]]: the same 8-bit RGB
    * raster emitted as the seven Adam7 pass sub-images (filters
    * cycling per pass, reset at each pass boundary per spec) — the
    * decoder's interlaced path substrate, and the adapter behind
    * q226's Adam7 record.
    */
  def encodePngAdam7(rgb: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"encodePngAdam7: bad dimensions ${w}x$h")
    require(rgb.length == 3 * w * h,
      s"encodePngAdam7: raster length ${rgb.length} != 3*$w*$h")
    val passes = Seq((0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
      (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2))
    val out = new java.io.ByteArrayOutputStream(rgb.length + 64)
    for ((x0, dx, y0, dy) <- passes) {
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        val sub = new Array[Byte](3 * pw * ph)
        var r = 0
        while (r < ph) {
          var c = 0
          while (c < pw) {
            val src = 3 * ((y0 + r * dy) * w + (x0 + c * dx))
            val dst = 3 * (r * pw + c)
            sub(dst) = rgb(src); sub(dst + 1) = rgb(src + 1); sub(dst + 2) = rgb(src + 2)
            c += 1
          }
          r += 1
        }
        val filtered = filterRows(sub, 3 * pw, ph, bpp = 3)
        out.write(filtered, 0, filtered.length)
      }
    }
    pngContainer(w, h, depth = 8, colorType = 2, out.toByteArray, plte = None,
      interlace = 1)
  }

  /** Apply the y % 5 filter cycle to unfiltered row data (rowBytes per
    * row, `bpp` filter stride), producing the (filter byte + row)*h
    * stream the deflate stage compresses.
    */
  private def filterRows(
      data: Array[Byte], rowBytes: Int, h: Int, bpp: Int): Array[Byte] = {
    val raw = new Array[Byte]((rowBytes + 1) * h)
    var y = 0
    while (y < h) {
      val ft = y % 5
      val ro = y * (rowBytes + 1)
      raw(ro) = ft.toByte
      val src = y * rowBytes
      var i = 0
      while (i < rowBytes) {
        val x = data(src + i) & 0xff
        val a = if (i >= bpp) data(src + i - bpp) & 0xff else 0
        val b = if (y > 0) data(src - rowBytes + i) & 0xff else 0
        val c = if (y > 0 && i >= bpp) data(src - rowBytes + i - bpp) & 0xff else 0
        val f = ft match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - (a + b) / 2
          case _ => x - paeth(a, b, c)
        }
        raw(ro + 1 + i) = (f & 0xff).toByte
        i += 1
      }
      y += 1
    }
    raw
  }

  /** Deflate pre-filtered scanlines and emit the container: signature,
    * IHDR, optional PLTE, <=1 KiB IDAT chunks (keeps the decoder's
    * multi-chunk streaming on every tested path), IEND — all CRC'd.
    */
  private def pngContainer(
      w: Int, h: Int, depth: Int, colorType: Int,
      raw: Array[Byte], plte: Option[Array[Byte]],
      interlace: Int = 0): Array[Byte] = {
    val defl = new java.util.zip.Deflater()
    val z =
      try {
        defl.setInput(raw)
        defl.finish()
        val buf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
        val tmp = new Array[Byte](8192)
        while (!defl.finished()) buf.write(tmp, 0, defl.deflate(tmp))
        buf.toByteArray
      } finally defl.end()

    val out = new java.io.ByteArrayOutputStream(z.length + 128)
    out.write(PngSig, 0, PngSig.length)
    val crc = new java.util.zip.CRC32
    def be32(v: Long): Array[Byte] = Array(
      ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, body: Array[Byte]): Unit = {
      out.write(be32(body.length.toLong), 0, 4)
      val t = typ.getBytes("US-ASCII")
      out.write(t, 0, 4)
      out.write(body, 0, body.length)
      crc.reset()
      crc.update(t)
      crc.update(body)
      out.write(be32(crc.getValue), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    System.arraycopy(be32(w.toLong), 0, ihdr, 0, 4)
    System.arraycopy(be32(h.toLong), 0, ihdr, 4, 4)
    ihdr(8) = depth.toByte
    ihdr(9) = colorType.toByte
    ihdr(12) = interlace.toByte
    chunk("IHDR", ihdr)
    plte.foreach(p => chunk("PLTE", p))
    var off = 0
    while (off < z.length) {
      val l = math.min(1024, z.length - off)
      chunk("IDAT", java.util.Arrays.copyOfRange(z, off, off + l))
      off += l
    }
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }
}

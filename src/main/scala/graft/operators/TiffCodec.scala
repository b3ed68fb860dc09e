package graft.operators

import graft.bytes.Bytes._

/** Baseline TIFF decode — the scanned-document image format (faxes,
  * archival scans, the raster sibling of the PDF path), dependency-
  * free like its codec siblings. Implements TIFF 6.0 baseline plus
  * the LZW extension.
  *
  * IN scope:
  *  - both byte orders (II little-endian, MM big-endian), IFD entry
  *    walk with inline-vs-offset value resolution (SHORT and LONG
  *    types; inline values are left-justified per spec §2)
  *  - 8-bit samples, 1 (gray) or 3 (RGB) samples per pixel, chunky
  *    planar config; PhotometricInterpretation 0 (WhiteIsZero —
  *    samples inverted for stats), 1, 2, and 3 (r19 — palette color,
  *    the archival-scan staple: 3x256 16-bit ColorMap planes mapped
  *    to 8-bit via /257, indices resolved per pixel, stats over the
  *    mapped RGB — the PNG-palette precedent)
  *  - multi-strip rasters (RowsPerStrip + StripOffsets/ByteCounts,
  *    partial last strip), decoded strip by strip in O(strip) memory
  *  - TILED rasters (r19, spec SS15 — how archival scanners actually
  *    lay out big pages): TileWidth/TileLength (16-multiples) +
  *    TileOffsets/ByteCounts, edge tiles padded to full size per
  *    spec, decoded tile by tile in O(tile) memory — the strip walk
  *    in 2D, through the same region-emit pass
  *  - Compression 1 (none), 32773 (PackBits), and 5 (TIFF LZW —
  *    MSB-first with EARLY CHANGE, the exact algorithm PDF's
  *    /LZWDecode borrowed, so the decoder is shared with
  *    [[graft.sources.Pdf]]); Predictor 2 (horizontal differencing)
  *  - Compression 4 (r19 — CCITT Group 4 via [[CcittG4]], the fax
  *    codec archival scans actually use): bilevel 1-bit strips, each
  *    an independent T.6 stream, expanded to 8-bit through the
  *    photometric (0 = MinIsWhite, the fax default) into the same
  *    stats pass
  *  - Compressions 2 and 3 (r20 — the OLDER fax codecs via
  *    [[CcittG3]], closing the family): 2 = Modified Huffman with
  *    byte-aligned rows; 3 = T.4 proper with EOL framing, fill bits,
  *    and 1D/2D line switching per T4Options bit 0 — same bilevel
  *    strip expansion as G4
  *  - Compression 7 (r20 — new-style JPEG-in-TIFF, the scanner-
  *    output staple): a SINGLE strip that IS a JPEG stream, decoded
  *    by [[JpegCodec]] (gray photometric 1 / YCbCr photometric 6),
  *    with the TIFF/EP shared-tables form honored — tag 347
  *    JPEGTables (SOI + DQT/DHT + EOI) spliced into the abbreviated
  *    strip after its SOI
  *
  * OUT of scope (named Lefts): other bit depths, planar config 2,
  * multi-strip or tiled JPEG-in-TIFF (JpegCodec surfaces stats, not
  * pixel rows — independent per-strip streams cannot merge),
  * old-style Compression 6, T.4 uncompressed mode (T4Options bit 1),
  * tiled fax compressions, and multi-page files beyond the FIRST IFD
  * (the GIF first-frame rule: census stats want one raster).
  *
  * Malformed input is a Left, never an exception. The independent
  * python fixture (scripts/gen_tiff_fixture.py) pins the decoder.
  */
object TiffCodec {

  import ImageCodec.ImageStats

  def sniff(d: Array[Byte]): Boolean =
    d.length >= 8 && (
      (d(0) == 'I' && d(1) == 'I' && d(2) == 42 && d(3) == 0) ||
        (d(0) == 'M' && d(1) == 'M' && d(2) == 0 && d(3) == 42))

  def decode(d: Array[Byte]): Either[String, (ImageStats, Array[Int])] = {
    if (!sniff(d)) return Left("tiff: missing II*/MM* signature")
    guarded("tiff")(decodeInner(d))
  }

  private def decodeInner(d: Array[Byte]): Either[String, (ImageStats, Array[Int])] = {
    val le = d(0) == 'I'

    val ifd = u32(d, 4, le).toInt
    val n = u16(d, ifd, le)
    // tag -> (fieldType, count, entry offset of the value cell)
    var entries = Map.empty[Int, (Int, Int, Int)]
    var k = 0
    while (k < n) {
      val e = ifd + 2 + 12 * k
      entries += u16(d, e, le) -> ((u16(d, e + 2, le), u32(d, e + 4, le).toInt, e + 8))
      k += 1
    }
    def vals(tag: Int): Option[Seq[Long]] = entries.get(tag).map { case (tpe, count, cell) =>
      val unit = tpe match {
        case 3 => 2 // SHORT
        case 4 => 4 // LONG
        case 1 | 7 => 1 // BYTE / UNDEFINED (tag 347 JPEGTables)
        case t => throw Malformed(s"tiff: unsupported field type $t for tag $tag")
      }
      val base = if (unit * count <= 4) cell else u32(d, cell, le).toInt
      (0 until count).map { i =>
        unit match {
          case 1 => (d(base + i) & 0xff).toLong
          case 2 => u16(d, base + 2 * i, le).toLong
          case _ => u32(d, base + 4 * i, le)
        }
      }
    }
    def one(tag: Int, default: => Long): Long =
      // flatMap over headOption: a malformed entry with count 0 gives
      // an EMPTY value list — fall to the default (which for required
      // tags throws Malformed), never a NoSuchElementException
      vals(tag).flatMap(_.headOption).getOrElse(default)

    val w = one(256, throw Malformed("tiff: no ImageWidth")).toInt
    val h = one(257, throw Malformed("tiff: no ImageLength")).toInt
    if (w <= 0 || h <= 0) return Left(s"tiff: bad dimensions ${w}x$h")
    val spp = one(277, 1L).toInt
    if (spp != 1 && spp != 3) return Left(s"tiff: $spp samples/pixel out of scope")
    val compression = one(259, 1L).toInt
    if (compression != 1 && compression != 2 && compression != 3 &&
      compression != 4 && compression != 5 && compression != 7 &&
      compression != 32773)
      return Left(s"tiff: compression $compression out of scope")
    // new-style JPEG-in-TIFF (r20): the strip IS a JPEG stream,
    // decoded by [[JpegCodec]]; optional shared tables via tag 347
    val isJpeg = compression == 7
    // the fax family (r19 G4; r20 MH + G3): bilevel codecs sharing
    // one strip-expansion path
    val isFax = compression == 2 || compression == 3 || compression == 4
    // T4Options (tag 292, Compression 3 only): bit 0 = 2D lines,
    // bit 1 = uncompressed mode (out of scope), bit 2 = fill bits
    // (handled either way by the EOL scan)
    val t4Options = one(292, 0L)
    if (compression == 3 && (t4Options & 2L) != 0)
      return Left("tiff: T.4 uncompressed mode out of scope")
    val bps = vals(258).getOrElse(Seq.fill(spp)(1L))
    if (vals(258).isEmpty) return Left("tiff: no BitsPerSample")
    // the fax codecs are BILEVEL: 1-bit samples, one sample per pixel
    // (expanded to 8-bit for the shared stats pass); everything else
    // in scope is 8-bit
    if (isFax && (spp != 1 || bps.exists(_ != 1L)))
      return Left("tiff: fax compressions require bilevel 1-bit single-sample data")
    if (!isFax && bps.exists(_ != 8L))
      return Left("tiff: only 8-bit samples are in scope")
    val photometric = one(262, 1L).toInt
    // JPEG strips carry their own color model: gray (photometric 1,
    // spp 1) or YCbCr (photometric 6, spp 3) — the JFIF defaults
    if (isJpeg && !((photometric == 1 && spp == 1) || (photometric == 6 && spp == 3)))
      return Left(s"tiff: photometric $photometric with $spp samples out of scope for JPEG-in-TIFF")
    if (!isJpeg && (photometric > 3 ||
      (photometric == 2) != (spp == 3) || (photometric == 3 && spp != 1)))
      return Left(s"tiff: photometric $photometric with $spp samples out of scope")
    if (isFax && photometric > 1)
      return Left(s"tiff: photometric $photometric with a fax compression out of scope")
    if (one(284, 1L) != 1L) return Left("tiff: planar configuration 2 out of scope")

    if (isJpeg) {
      if (entries.contains(322)) return Left("tiff: tiled JPEG-in-TIFF out of scope")
      val offsets = vals(273).getOrElse(throw Malformed("tiff: no StripOffsets"))
      val counts = vals(279).getOrElse(throw Malformed("tiff: no StripByteCounts"))
      // JpegCodec surfaces stats, not pixel rows, so multi-strip
      // JPEG files (independent streams whose stats cannot merge)
      // are a named Left — real scanner output is single-strip
      if (offsets.length != 1 || counts.length != 1)
        return Left("tiff: multi-strip JPEG-in-TIFF out of scope")
      val off = offsets.head.toInt
      val len = counts.head.toInt
      if (off < 0 || len < 0) return Left("tiff: JPEG strip offset/size out of range")
      if (off + len > d.length) return Left("tiff: JPEG strip runs past EOF")
      val strip = java.util.Arrays.copyOfRange(d, off, off + len)
      // tag 347 JPEGTables: SOI + DQT/DHT segments + EOI, spliced
      // after the abbreviated strip's SOI per TIFF/EP
      val merged = vals(347) match {
        case Some(tb) => spliceJpegTables(tb.map(_.toByte).toArray, strip)
        case None => strip
      }
      return JpegCodec.decode(merged) match {
        case Right((st, grid)) =>
          if (st.width != w || st.height != h)
            Left(s"tiff: JPEG strip is ${st.width}x${st.height} for a ${w}x$h IFD")
          else if ((st.channels == 3) != (spp == 3))
            Left(s"tiff: JPEG strip carries ${st.channels} channels for $spp samples/pixel")
          else Right((st.copy(codec = "tiff", orientation = 1), grid))
        case Left(e) => Left(s"tiff: JPEG strip: $e")
      }
    }
    val predictor = one(317, 1L).toInt
    if (predictor != 1 && predictor != 2)
      return Left(s"tiff: predictor $predictor out of scope")
    // palette color (r19, the PNG-palette precedent): ColorMap is
    // 3x256 16-bit planes (all R, all G, all B); entries map to 8-bit
    // via /257 (0xFFFF -> 255, the round-trip-exact convention)
    val palette: Array[Array[Int]] =
      if (photometric != 3) null
      else {
        val cm = vals(320).getOrElse(throw Malformed("tiff: palette image without a ColorMap"))
        if (cm.length != 3 * 256) throw Malformed(s"tiff: ColorMap carries ${cm.length} of 768 entries")
        Array.tabulate(3, 256)((c, i) => (cm(c * 256 + i) / 257L).toInt)
      }

    val gridX = Array.tabulate(64)(g => (g % 8) * w / 8)
    val gridY = Array.tabulate(64)(g => (g / 8) * h / 8)
    val grays = new Array[Int](64)
    val sums = new Array[Long](3)
    var mn = Int.MaxValue
    var mx = Int.MinValue

    // one decoded REGION (a strip: full-width rows at x0 = 0; or a
    // tile: a tw x th block, edge tiles padded to full size per spec)
    // feeds the same single-pass stats - O(region) memory either way
    def emitRegion(data: Array[Byte], x0: Int, y0: Int,
        dataRowBytes: Int, visW: Int, visH: Int): Unit = {
      // mn/mx are captured vars (heap refs); the pixel loop updates locals
      var lo = mn
      var hi = mx
      var r = 0
      while (r < visH) {
        val base = r * dataRowBytes
        if (predictor == 2) { // horizontal differencing, per channel
          var x = spp
          while (x < dataRowBytes) {
            data(base + x) = (data(base + x) + data(base + x - spp)).toByte
            x += 1
          }
        }
        val y = y0 + r
        // channel i (0-2) of the pixel at column x of this row
        // (post-predictor); gray repeats its one sample
        def ch(x: Int, i: Int): Int = {
          val px = base + x * spp
          if (palette != null) palette(i)(data(px) & 0xff)
          else {
            val v = data(if (spp == 1) px else px + i) & 0xff
            if (photometric == 0) 255 - v else v
          }
        }
        val color = palette != null || spp == 3
        var x = 0
        while (x < visW) {
          val c0 = ch(x, 0)
          sums(0) += c0
          if (c0 < lo) lo = c0
          if (c0 > hi) hi = c0
          if (color) {
            val c1 = ch(x, 1)
            val c2 = ch(x, 2)
            sums(1) += c1; sums(2) += c2
            if (c1 < lo) lo = c1; if (c2 < lo) lo = c2
            if (c1 > hi) hi = c1; if (c2 > hi) hi = c2
          }
          x += 1
        }
        // grid samples: one 64-way pass PER ROW (not per pixel)
        var g = 0
        while (g < 64) {
          if (gridY(g) == y && gridX(g) >= x0 && gridX(g) < x0 + visW) {
            val gx = gridX(g) - x0
            grays(g) = ch(gx, 0) + ch(gx, 1) + ch(gx, 2)
          }
          g += 1
        }
        r += 1
      }
      mn = lo
      mx = hi
    }

    def decodeRegion(off: Int, len: Int, size: Long, what: String): Array[Byte] = {
      val expect = capped("tiff", what, size)
      // u32 offsets/counts read as Int can wrap NEGATIVE on malformed
      // input — copyOfRange would throw IllegalArgumentException,
      // which the decode() catch list does not (and should not) cover
      if (off < 0 || len < 0) throw Malformed(s"tiff: $what offset/size out of range")
      if (off + len > d.length) throw Malformed(s"tiff: $what runs past EOF")
      val raw = java.util.Arrays.copyOfRange(d, off, off + len)
      val out = compression match {
        case 1 => raw
        case 32773 => packBitsDecode(raw, expect)
        case _ => graft.sources.Pdf.lzwDecode(raw, limit = expect)
          .fold(reason => throw Malformed(s"tiff: $what: $reason"), identity)
      }
      if (out.length != expect)
        throw Malformed(s"tiff: $what decoded ${out.length} of $expect bytes")
      out
    }

    if (entries.contains(322)) {
      if (isFax) return Left("tiff: tiled fax compressions out of scope")
      // tiled layout (r19): TileWidth/TileLength must be multiples of
      // 16 per spec SS15; tile data is ALWAYS full-size (edge tiles
      // padded), decoded tile by tile in O(tile) memory
      val tw = one(322, 0L).toInt
      val th = one(323, throw Malformed("tiff: tiled image without TileLength")).toInt
      if (tw <= 0 || th <= 0 || tw % 16 != 0 || th % 16 != 0)
        return Left(s"tiff: tile geometry ${tw}x$th out of range")
      val tOffsets = vals(324).getOrElse(throw Malformed("tiff: no TileOffsets"))
      val tCounts = vals(325).getOrElse(throw Malformed("tiff: no TileByteCounts"))
      if (tOffsets.length != tCounts.length) return Left("tiff: ragged tile tables")
      val across = (w + tw - 1) / tw
      val down = (h + th - 1) / th
      if (tOffsets.length != across * down)
        return Left(s"tiff: ${tOffsets.length} tiles for ${across * down} expected")
      val tileRowBytes = tw * spp
      for (ty <- 0 until down; tx <- 0 until across) {
        val i = ty * across + tx
        val tile = decodeRegion(tOffsets(i).toInt, tCounts(i).toInt,
          tw.toLong * spp * th, s"tile $i")
        emitRegion(tile, tx * tw, ty * th, tileRowBytes,
          math.min(tw, w - tx * tw), math.min(th, h - ty * th))
      }
    } else {
      val rowsPerStrip = math.min(one(278, h.toLong), h.toLong).toInt
      // RowsPerStrip = 0 (or a negative LONG read as Int) would divide
      // by zero below — ArithmeticException is not in decode()'s catch
      // list, so it must be a Left here, not a throw
      if (rowsPerStrip <= 0) return Left(s"tiff: RowsPerStrip $rowsPerStrip out of range")
      val offsets = vals(273).getOrElse(throw Malformed("tiff: no StripOffsets"))
      val counts = vals(279).getOrElse(throw Malformed("tiff: no StripByteCounts"))
      if (offsets.length != counts.length) return Left("tiff: ragged strip tables")
      val expectStrips = (h + rowsPerStrip - 1) / rowsPerStrip
      if (offsets.length != expectStrips)
        return Left(s"tiff: ${offsets.length} strips for $expectStrips expected")
      val rowBytes = w * spp
      for (s <- offsets.indices) {
        val rowsHere = math.min(rowsPerStrip, h - s * rowsPerStrip)
        val strip =
          if (isFax) {
            // the fax decoders' bit planes are sized by the header:
            // checked in Long before anything is allocated
            capped("tiff", s"strip $s", rowsHere.toLong * w * spp)
            // each strip is an independent fax stream (fresh all-white
            // reference line); bilevel bits expand to the 8-bit values
            // the photometric implies so the shared stats pass applies
            val off = offsets(s).toInt
            val len = counts(s).toInt
            if (off < 0 || len < 0) throw Malformed(s"tiff: strip $s offset/size out of range")
            if (off + len > d.length) throw Malformed(s"tiff: strip $s runs past EOF")
            val raw = java.util.Arrays.copyOfRange(d, off, off + len)
            val bits =
              try compression match {
                case 2 => CcittG3.decodeMH(raw, w, rowsHere)
                case 3 => CcittG3.decodeG3(raw, w, rowsHere, (t4Options & 1L) != 0)
                case _ => CcittG4.decode(raw, w, rowsHere)
              }
              catch { case Malformed(m) => throw Malformed(s"tiff: $m") }
            val out = new Array[Byte](rowsHere * rowBytes)
            var i = 0
            while (i < out.length) {
              val black = bits(i) == 1
              // photometric 0 (MinIsWhite, the fax default): black =
              // sample 1 -> expanded 255, and emitRegion's inversion
              // maps it to luminance 0; photometric 1 is direct
              out(i) = (if (photometric == 0) (if (black) 255 else 0)
                        else (if (black) 0 else 255)).toByte
              i += 1
            }
            out
          } else decodeRegion(offsets(s).toInt, counts(s).toInt,
            rowsHere.toLong * w * spp, s"strip $s")
        emitRegion(strip, 0, s * rowsPerStrip, rowBytes, w, rowsHere)
      }
    }

    val nPx = w.toLong * h
    val stats =
      if (spp == 1 && palette == null) {
        val m = sums(0).toDouble / nPx
        ImageStats("tiff", w, h, 1, 255, nPx, m, m, m, mn, mx)
      } else ImageStats("tiff", w, h, 3, 255, nPx,
        sums(0).toDouble / nPx, sums(1).toDouble / nPx, sums(2).toDouble / nPx, mn, mx)
    Right((stats, grays))
  }

  /** PackBits (Apple/TIFF §9): control n in 0..127 copies n+1
    * literals; 129..255 repeats the next byte 257-n times; 128 is a
    * no-op.
    */
  private def packBitsDecode(src: Array[Byte], expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    var i = 0
    var o = 0
    while (o < expect) {
      if (i >= src.length) throw Malformed("tiff: truncated PackBits strip")
      val n = src(i) & 0xff
      i += 1
      if (n < 128) {
        var k = 0
        while (k <= n) {
          if (o >= expect) throw Malformed("tiff: PackBits overrun")
          out(o) = src(i); i += 1; o += 1; k += 1
        }
      } else if (n > 128) {
        val rep = 257 - n
        val b = src(i)
        i += 1
        var k = 0
        while (k < rep) {
          if (o >= expect) throw Malformed("tiff: PackBits overrun")
          out(o) = b; o += 1; k += 1
        }
      } // 128: no-op
    }
    out
  }

  private def packBitsEncode(row: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(row.length + 8)
    var i = 0
    while (i < row.length) {
      // find a run of >= 3 equal bytes
      var run = 1
      while (i + run < row.length && row(i + run) == row(i) && run < 128) run += 1
      if (run >= 3) {
        out.write(257 - run)
        out.write(row(i))
        i += run
      } else {
        // literal stretch up to the next >= 3 run (or 128 bytes)
        var j = i
        var lit = 0
        var done = false
        while (!done && j < row.length && lit < 128) {
          var r = 1
          while (j + r < row.length && row(j + r) == row(j) && r < 3) r += 1
          if (r >= 3) done = true
          else { j += 1; lit += 1 }
        }
        out.write(lit - 1)
        out.write(row, i, lit)
        i = j
      }
    }
    out.toByteArray
  }

  // ------------------------------------------------------------ encode

  /** Deterministic baseline-TIFF encoder — the `Media.toTiff`
    * adapter/fixture substrate: chunky 8-bit gray or RGB, either byte
    * order, multi-strip, Compression 1/5/32773 with optional
    * horizontal differencing on LZW. IFD tags emitted in ascending
    * order per spec.
    */
  def encodeTiff(
      pixels: Array[Byte], w: Int, h: Int, spp: Int,
      compression: Int = 1, predictor: Int = 1,
      rowsPerStrip: Int = 2, littleEndian: Boolean = true): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeTiff: bad dimensions ${w}x$h")
    require(spp == 1 || spp == 3, s"encodeTiff: bad samples/pixel $spp")
    require(pixels.length == w * h * spp, "encodeTiff: raster length mismatch")
    require(Set(1, 5, 32773).contains(compression), s"encodeTiff: compression $compression")
    require(predictor == 1 || (predictor == 2 && compression == 5),
      "encodeTiff: predictor 2 only with LZW")

    val rowBytes = w * spp
    val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
    val strips = (0 until nStrips).map { s =>
      val rows = math.min(rowsPerStrip, h - s * rowsPerStrip)
      val raw = java.util.Arrays.copyOfRange(
        pixels, s * rowsPerStrip * rowBytes, (s * rowsPerStrip + rows) * rowBytes)
      if (predictor == 2) {
        var r = 0
        while (r < rows) {
          var x = rowBytes - 1
          while (x >= spp) {
            raw(r * rowBytes + x) = (raw(r * rowBytes + x) - raw(r * rowBytes + x - spp)).toByte
            x -= 1
          }
          r += 1
        }
      }
      compression match {
        case 1 => raw
        case 32773 =>
          // PackBits restarts per ROW per spec
          val o = new java.io.ByteArrayOutputStream()
          var r = 0
          while (r < rows) {
            o.write(packBitsEncode(java.util.Arrays.copyOfRange(
              raw, r * rowBytes, (r + 1) * rowBytes)))
            r += 1
          }
          o.toByteArray
        case _ => graft.sources.Pdf.lzwEncode(raw)
      }
    }

    val out = new java.io.ByteArrayOutputStream(pixels.length + 512)
    def b(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit =
      if (littleEndian) { b(v); b(v >> 8) } else { b(v >> 8); b(v) }
    def w32(v: Long): Unit =
      if (littleEndian) { b(v.toInt); b((v >> 8).toInt); b((v >> 16).toInt); b((v >> 24).toInt) }
      else { b((v >> 24).toInt); b((v >> 16).toInt); b((v >> 8).toInt); b(v.toInt) }

    if (littleEndian) { b('I'); b('I'); b(42); b(0) } else { b('M'); b('M'); b(0); b(42) }
    // layout: header(8) | strip data | [strip tables] | IFD
    val dataStart = 8
    val stripOffs = strips.scanLeft(dataStart)(_ + _.length).init
    val afterData = dataStart + strips.map(_.length).sum
    // out-of-line arrays (when > 1 strip): offsets then counts then bps
    val needTables = nStrips > 1
    val offTable = afterData
    val cntTable = offTable + (if (needTables) 4 * nStrips else 0)
    val bpsTable = cntTable + (if (needTables) 4 * nStrips else 0)
    val ifdStart = bpsTable + (if (spp == 3) 6 else 0)
    w32(ifdStart.toLong)
    strips.foreach(out.write)
    if (needTables) {
      stripOffs.foreach(o => w32(o.toLong))
      strips.foreach(s => w32(s.length.toLong))
    }
    if (spp == 3) { w16(8); w16(8); w16(8) }

    case class Entry(tag: Int, tpe: Int, count: Int, value: Long)
    val entries = Seq(
      Entry(256, 4, 1, w.toLong),
      Entry(257, 4, 1, h.toLong),
      if (spp == 3) Entry(258, 3, 3, bpsTable.toLong) else Entry(258, 3, 1, 8L),
      Entry(259, 3, 1, compression.toLong),
      Entry(262, 3, 1, if (spp == 3) 2L else 1L),
      if (needTables) Entry(273, 4, nStrips, offTable.toLong)
      else Entry(273, 4, 1, stripOffs.head.toLong),
      Entry(277, 3, 1, spp.toLong),
      Entry(278, 4, 1, rowsPerStrip.toLong),
      if (needTables) Entry(279, 4, nStrips, cntTable.toLong)
      else Entry(279, 4, 1, strips.head.length.toLong)) ++
      (if (predictor == 2) Seq(Entry(317, 3, 1, 2L)) else Nil)

    w16(entries.length)
    entries.foreach { e =>
      w16(e.tag); w16(e.tpe); w32(e.count.toLong)
      if (e.tpe == 3 && e.count == 1) {
        // SHORT inline: left-justified in the 4-byte cell
        w16(e.value.toInt); w16(0)
      } else w32(e.value)
    }
    w32(0L) // no next IFD
    out.toByteArray
  }

  /** STRIP-layout palette-color encoder (r19): the classic
    * RowsPerStrip walk with photometric 3 and a ColorMap — pairs with
    * [[encodeTiffTiled]]'s palette mode so both layouts cover the
    * palette path. Indices are spp = 1 bytes; colormap entries 0..255
    * stored x257.
    */
  def encodeTiffStripPalette(
      indices: Array[Byte], w: Int, h: Int, colormap: Array[Int],
      compression: Int = 1, rowsPerStrip: Int = 2,
      littleEndian: Boolean = true): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeTiffStripPalette: bad dimensions ${w}x$h")
    require(colormap.length == 768, "encodeTiffStripPalette: colormap needs 256 RGB triples")
    require(indices.length == w * h, "encodeTiffStripPalette: raster length mismatch")
    require(Set(1, 5, 32773).contains(compression),
      s"encodeTiffStripPalette: compression $compression")

    val rowBytes = w
    val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
    val strips = (0 until nStrips).map { st =>
      val rows = math.min(rowsPerStrip, h - st * rowsPerStrip)
      val raw = java.util.Arrays.copyOfRange(
        indices, st * rowsPerStrip * rowBytes, (st * rowsPerStrip + rows) * rowBytes)
      compression match {
        case 1 => raw
        case 32773 =>
          val o = new java.io.ByteArrayOutputStream()
          var r = 0
          while (r < rows) {
            o.write(packBitsEncode(java.util.Arrays.copyOfRange(
              raw, r * rowBytes, (r + 1) * rowBytes)))
            r += 1
          }
          o.toByteArray
        case _ => graft.sources.Pdf.lzwEncode(raw)
      }
    }

    val out = new java.io.ByteArrayOutputStream(indices.length + 2048)
    def b(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit =
      if (littleEndian) { b(v); b(v >> 8) } else { b(v >> 8); b(v) }
    def w32(v: Long): Unit =
      if (littleEndian) { b(v.toInt); b((v >> 8).toInt); b((v >> 16).toInt); b((v >> 24).toInt) }
      else { b((v >> 24).toInt); b((v >> 16).toInt); b((v >> 8).toInt); b(v.toInt) }

    if (littleEndian) { b('I'); b('I'); b(42); b(0) } else { b('M'); b('M'); b(0); b(42) }
    val dataStart = 8
    val stripOffs = strips.scanLeft(dataStart)(_ + _.length).init
    val afterData = dataStart + strips.map(_.length).sum
    val needTables = nStrips > 1
    val offTable = afterData
    val cntTable = offTable + (if (needTables) 4 * nStrips else 0)
    val cmTable = cntTable + (if (needTables) 4 * nStrips else 0)
    val ifdStart = cmTable + 1536
    w32(ifdStart.toLong)
    strips.foreach(out.write)
    if (needTables) {
      stripOffs.foreach(o => w32(o.toLong))
      strips.foreach(st => w32(st.length.toLong))
    }
    colormap.foreach(v => w16(v * 257))

    case class Entry(tag: Int, tpe: Int, count: Int, value: Long)
    val entries = Seq(
      Entry(256, 4, 1, w.toLong),
      Entry(257, 4, 1, h.toLong),
      Entry(258, 3, 1, 8L),
      Entry(259, 3, 1, compression.toLong),
      Entry(262, 3, 1, 3L),
      if (needTables) Entry(273, 4, nStrips, offTable.toLong)
      else Entry(273, 4, 1, stripOffs.head.toLong),
      Entry(277, 3, 1, 1L),
      Entry(278, 4, 1, rowsPerStrip.toLong),
      if (needTables) Entry(279, 4, nStrips, cntTable.toLong)
      else Entry(279, 4, 1, strips.head.length.toLong),
      Entry(320, 3, 768, cmTable.toLong))

    w16(entries.length)
    entries.foreach { e =>
      w16(e.tag); w16(e.tpe); w32(e.count.toLong)
      if (e.tpe == 3 && e.count == 1) { w16(e.value.toInt); w16(0) }
      else w32(e.value)
    }
    w32(0L) // no next IFD
    out.toByteArray
  }

  /** Bilevel CCITT G4 encoder (r19): photometric 0 (MinIsWhite, the
    * fax default), BitsPerSample 1, Compression 4, each strip an
    * independent T.6 stream over the 0/1 black-flag raster. The
    * fixture / `Media.toTiffG4` substrate.
    */
  def encodeTiffG4(
      blackBits: Array[Byte], w: Int, h: Int,
      rowsPerStrip: Int = 8, littleEndian: Boolean = true): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeTiffG4: bad dimensions ${w}x$h")
    require(blackBits.length == w * h, "encodeTiffG4: raster length mismatch")
    require(rowsPerStrip > 0, "encodeTiffG4: rowsPerStrip must be positive")

    val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
    val strips = (0 until nStrips).map { st =>
      val rows = math.min(rowsPerStrip, h - st * rowsPerStrip)
      CcittG4.encode(java.util.Arrays.copyOfRange(
        blackBits, st * rowsPerStrip * w, (st * rowsPerStrip + rows) * w), w, rows)
    }

    val out = new java.io.ByteArrayOutputStream(blackBits.length / 4 + 512)
    def b(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit =
      if (littleEndian) { b(v); b(v >> 8) } else { b(v >> 8); b(v) }
    def w32(v: Long): Unit =
      if (littleEndian) { b(v.toInt); b((v >> 8).toInt); b((v >> 16).toInt); b((v >> 24).toInt) }
      else { b((v >> 24).toInt); b((v >> 16).toInt); b((v >> 8).toInt); b(v.toInt) }

    if (littleEndian) { b('I'); b('I'); b(42); b(0) } else { b('M'); b('M'); b(0); b(42) }
    val dataStart = 8
    val stripOffs = strips.scanLeft(dataStart)(_ + _.length).init
    val afterData = dataStart + strips.map(_.length).sum
    val needTables = nStrips > 1
    val offTable = afterData
    val cntTable = offTable + (if (needTables) 4 * nStrips else 0)
    val ifdStart = cntTable + (if (needTables) 4 * nStrips else 0)
    w32(ifdStart.toLong)
    strips.foreach(out.write)
    if (needTables) {
      stripOffs.foreach(o => w32(o.toLong))
      strips.foreach(st => w32(st.length.toLong))
    }

    case class Entry(tag: Int, tpe: Int, count: Int, value: Long)
    val entries = Seq(
      Entry(256, 4, 1, w.toLong),
      Entry(257, 4, 1, h.toLong),
      Entry(258, 3, 1, 1L),
      Entry(259, 3, 1, 4L),
      Entry(262, 3, 1, 0L), // MinIsWhite
      if (needTables) Entry(273, 4, nStrips, offTable.toLong)
      else Entry(273, 4, 1, stripOffs.head.toLong),
      Entry(277, 3, 1, 1L),
      Entry(278, 4, 1, rowsPerStrip.toLong),
      if (needTables) Entry(279, 4, nStrips, cntTable.toLong)
      else Entry(279, 4, 1, strips.head.length.toLong))

    w16(entries.length)
    entries.foreach { e =>
      w16(e.tag); w16(e.tpe); w32(e.count.toLong)
      if (e.tpe == 3 && e.count == 1) { w16(e.value.toInt); w16(0) }
      else w32(e.value)
    }
    w32(0L) // no next IFD
    out.toByteArray
  }

  /** Splice a JPEGTables stream (tag 347: SOI + DQT/DHT + EOI) into
    * an abbreviated strip stream after its SOI (TIFF/EP's shared-
    * tables form) — the result is a self-contained JPEG for
    * [[JpegCodec]].
    */
  private def spliceJpegTables(tables: Array[Byte], strip: Array[Byte]): Array[Byte] = {
    def soi(a: Array[Byte]) =
      a.length >= 2 && (a(0) & 0xff) == 0xff && (a(1) & 0xff) == 0xd8
    if (!soi(tables) || tables.length < 4 ||
      (tables(tables.length - 2) & 0xff) != 0xff ||
      (tables(tables.length - 1) & 0xff) != 0xd9)
      throw Malformed("tiff: JPEGTables is not an SOI..EOI stream")
    if (!soi(strip)) throw Malformed("tiff: JPEG strip missing SOI")
    Array[Byte](0xff.toByte, 0xd8.toByte) ++
      java.util.Arrays.copyOfRange(tables, 2, tables.length - 2) ++
      java.util.Arrays.copyOfRange(strip, 2, strip.length)
  }

  /** Split a self-contained JPEG into (tables, abbreviated): DQT and
    * DHT segments move to an SOI..EOI tables stream, everything else
    * stays — the writer-side dual of [[spliceJpegTables]] and the
    * `Media.toTiffJpeg` / fixture substrate for the tag-347 form.
    */
  def splitJpegTables(jpeg: Array[Byte]): (Array[Byte], Array[Byte]) = {
    require(jpeg.length >= 4 && (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8,
      "splitJpegTables: not a JPEG stream")
    val tables = new java.io.ByteArrayOutputStream()
    val rest = new java.io.ByteArrayOutputStream()
    tables.write(0xff); tables.write(0xd8)
    rest.write(0xff); rest.write(0xd8)
    var p = 2
    var done = false
    while (!done && p + 2 <= jpeg.length) {
      require((jpeg(p) & 0xff) == 0xff, s"splitJpegTables: lost marker sync at $p")
      val m = jpeg(p + 1) & 0xff
      if (m == 0xd9) { // EOI
        rest.write(0xff); rest.write(0xd9)
        done = true
      } else if (m == 0xda) { // SOS: entropy data follows to EOI
        rest.write(jpeg, p, jpeg.length - p)
        done = true
      } else {
        val segLen = u16be(jpeg, p + 2)
        require(p + 2 + segLen <= jpeg.length, "splitJpegTables: truncated segment")
        val sink = if (m == 0xdb || m == 0xc4) tables else rest
        sink.write(jpeg, p, 2 + segLen) // marker + length-inclusive payload
        p += 2 + segLen
      }
    }
    tables.write(0xff); tables.write(0xd9)
    (tables.toByteArray, rest.toByteArray)
  }

  /** New-style JPEG-in-TIFF encoder (r20): wraps a self-contained
    * JPEG stream (from [[JpegCodec]]'s encoders) as a single-strip
    * Compression-7 file — photometric 1 (gray, spp 1) or 6 (YCbCr,
    * spp 3) — optionally in the TIFF/EP shared-tables form
    * (`withTables`: DQT/DHT move to a tag-347 JPEGTables stream and
    * the strip becomes abbreviated). The `Media.toTiffJpeg` / fixture
    * substrate.
    */
  def encodeTiffJpeg(
      jpeg: Array[Byte], w: Int, h: Int, channels: Int,
      withTables: Boolean = false, littleEndian: Boolean = true): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeTiffJpeg: bad dimensions ${w}x$h")
    require(channels == 1 || channels == 3, s"encodeTiffJpeg: bad channels $channels")
    val (tables, strip) =
      if (withTables) splitJpegTables(jpeg)
      else (Array.emptyByteArray, jpeg)

    val out = new java.io.ByteArrayOutputStream(jpeg.length + 512)
    def b(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit =
      if (littleEndian) { b(v); b(v >> 8) } else { b(v >> 8); b(v) }
    def w32(v: Long): Unit =
      if (littleEndian) { b(v.toInt); b((v >> 8).toInt); b((v >> 16).toInt); b((v >> 24).toInt) }
      else { b((v >> 24).toInt); b((v >> 16).toInt); b((v >> 8).toInt); b(v.toInt) }

    if (littleEndian) { b('I'); b('I'); b(42); b(0) } else { b('M'); b('M'); b(0); b(42) }
    // layout: header(8) | strip | [bps] | [tables] | IFD
    val dataStart = 8
    val bpsTable = dataStart + strip.length
    val tblTable = bpsTable + (if (channels == 3) 6 else 0)
    val ifdStart = tblTable + tables.length
    w32(ifdStart.toLong)
    out.write(strip)
    if (channels == 3) { w16(8); w16(8); w16(8) }
    out.write(tables)

    case class Entry(tag: Int, tpe: Int, count: Int, value: Long)
    val entries = Seq(
      Entry(256, 4, 1, w.toLong),
      Entry(257, 4, 1, h.toLong),
      if (channels == 3) Entry(258, 3, 3, bpsTable.toLong) else Entry(258, 3, 1, 8L),
      Entry(259, 3, 1, 7L),
      Entry(262, 3, 1, if (channels == 3) 6L else 1L),
      Entry(273, 4, 1, dataStart.toLong),
      Entry(277, 3, 1, channels.toLong),
      Entry(278, 4, 1, h.toLong),
      Entry(279, 4, 1, strip.length.toLong)) ++
      (if (withTables) Seq(Entry(347, 7, tables.length, tblTable.toLong)) else Nil)

    w16(entries.length)
    entries.foreach { e =>
      w16(e.tag); w16(e.tpe); w32(e.count.toLong)
      if (e.tpe == 3 && e.count == 1) { w16(e.value.toInt); w16(0) }
      else w32(e.value)
    }
    w32(0L) // no next IFD
    out.toByteArray
  }

  /** Bilevel G3-family encoder (r20): Compression 2 (MH,
    * byte-aligned rows) or 3 (T.4 with EOLs; `twoD` switches the
    * K=2 1D/2D cadence and writes T4Options bit 0), photometric 0,
    * BitsPerSample 1, each strip an independent stream. The fixture /
    * `Media.toTiffG3` substrate.
    */
  def encodeTiffG3(
      blackBits: Array[Byte], w: Int, h: Int, compression: Int,
      twoD: Boolean = false, rowsPerStrip: Int = 8,
      littleEndian: Boolean = true): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeTiffG3: bad dimensions ${w}x$h")
    require(blackBits.length == w * h, "encodeTiffG3: raster length mismatch")
    require(compression == 2 || compression == 3, s"encodeTiffG3: compression $compression")
    require(!twoD || compression == 3, "encodeTiffG3: 2D lines need Compression 3")
    require(rowsPerStrip > 0, "encodeTiffG3: rowsPerStrip must be positive")

    val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
    val strips = (0 until nStrips).map { st =>
      val rows = math.min(rowsPerStrip, h - st * rowsPerStrip)
      val slice = java.util.Arrays.copyOfRange(
        blackBits, st * rowsPerStrip * w, (st * rowsPerStrip + rows) * w)
      if (compression == 2) CcittG3.encodeMH(slice, w, rows)
      else CcittG3.encodeG3(slice, w, rows, twoD)
    }

    val out = new java.io.ByteArrayOutputStream(blackBits.length / 4 + 512)
    def b(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit =
      if (littleEndian) { b(v); b(v >> 8) } else { b(v >> 8); b(v) }
    def w32(v: Long): Unit =
      if (littleEndian) { b(v.toInt); b((v >> 8).toInt); b((v >> 16).toInt); b((v >> 24).toInt) }
      else { b((v >> 24).toInt); b((v >> 16).toInt); b((v >> 8).toInt); b(v.toInt) }

    if (littleEndian) { b('I'); b('I'); b(42); b(0) } else { b('M'); b('M'); b(0); b(42) }
    val dataStart = 8
    val stripOffs = strips.scanLeft(dataStart)(_ + _.length).init
    val afterData = dataStart + strips.map(_.length).sum
    val needTables = nStrips > 1
    val offTable = afterData
    val cntTable = offTable + (if (needTables) 4 * nStrips else 0)
    val ifdStart = cntTable + (if (needTables) 4 * nStrips else 0)
    w32(ifdStart.toLong)
    strips.foreach(out.write)
    if (needTables) {
      stripOffs.foreach(o => w32(o.toLong))
      strips.foreach(st => w32(st.length.toLong))
    }

    case class Entry(tag: Int, tpe: Int, count: Int, value: Long)
    val entries = Seq(
      Entry(256, 4, 1, w.toLong),
      Entry(257, 4, 1, h.toLong),
      Entry(258, 3, 1, 1L),
      Entry(259, 3, 1, compression.toLong),
      Entry(262, 3, 1, 0L), // MinIsWhite
      if (needTables) Entry(273, 4, nStrips, offTable.toLong)
      else Entry(273, 4, 1, stripOffs.head.toLong),
      Entry(277, 3, 1, 1L),
      Entry(278, 4, 1, rowsPerStrip.toLong),
      if (needTables) Entry(279, 4, nStrips, cntTable.toLong)
      else Entry(279, 4, 1, strips.head.length.toLong)) ++
      (if (compression == 3) Seq(Entry(292, 4, 1, if (twoD) 1L else 0L)) else Nil)

    w16(entries.length)
    entries.foreach { e =>
      w16(e.tag); w16(e.tpe); w32(e.count.toLong)
      if (e.tpe == 3 && e.count == 1) { w16(e.value.toInt); w16(0) }
      else w32(e.value)
    }
    w32(0L) // no next IFD
    out.toByteArray
  }

  /** Deterministic TILED-tiff encoder (r19), optionally palette-color:
    * `colormap` (256 RGB triples, 0..255, stored x257 as 16-bit
    * planes) switches photometric to 3 with `pixels` as indices
    * (spp = 1). Tile dims must be 16-multiples per spec SS15; edge
    * tiles are padded with zero bytes to full size, as the spec
    * requires. PackBits restarts per tile ROW; LZW codes each tile
    * whole. The fixture / `Media.toTiffPalette` substrate.
    */
  def encodeTiffTiled(
      pixels: Array[Byte], w: Int, h: Int, spp: Int,
      colormap: Array[Int] = null,
      tileW: Int = 16, tileH: Int = 16,
      compression: Int = 1, littleEndian: Boolean = true): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeTiffTiled: bad dimensions ${w}x$h")
    require(spp == 1 || spp == 3, s"encodeTiffTiled: bad samples/pixel $spp")
    require(colormap == null || (spp == 1 && colormap.length == 768),
      "encodeTiffTiled: colormap needs spp 1 and 256 RGB triples")
    require(pixels.length == w * h * spp, "encodeTiffTiled: raster length mismatch")
    require(tileW > 0 && tileH > 0 && tileW % 16 == 0 && tileH % 16 == 0,
      s"encodeTiffTiled: tile dims ${tileW}x$tileH must be 16-multiples")
    require(Set(1, 5, 32773).contains(compression), s"encodeTiffTiled: compression $compression")

    val across = (w + tileW - 1) / tileW
    val down = (h + tileH - 1) / tileH
    val tileRowBytes = tileW * spp
    val tiles = (for (ty <- 0 until down; tx <- 0 until across) yield {
      val raw = new Array[Byte](tileRowBytes * tileH) // zero padding per spec
      var r = 0
      while (r < tileH) {
        val y = ty * tileH + r
        if (y < h) {
          val visW = math.min(tileW, w - tx * tileW)
          System.arraycopy(pixels, (y * w + tx * tileW) * spp,
            raw, r * tileRowBytes, visW * spp)
        }
        r += 1
      }
      compression match {
        case 1 => raw
        case 32773 =>
          val o = new java.io.ByteArrayOutputStream()
          var r2 = 0
          while (r2 < tileH) {
            o.write(packBitsEncode(java.util.Arrays.copyOfRange(
              raw, r2 * tileRowBytes, (r2 + 1) * tileRowBytes)))
            r2 += 1
          }
          o.toByteArray
        case _ => graft.sources.Pdf.lzwEncode(raw)
      }
    }).toIndexedSeq

    val out = new java.io.ByteArrayOutputStream(pixels.length + 2048)
    def b(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit =
      if (littleEndian) { b(v); b(v >> 8) } else { b(v >> 8); b(v) }
    def w32(v: Long): Unit =
      if (littleEndian) { b(v.toInt); b((v >> 8).toInt); b((v >> 16).toInt); b((v >> 24).toInt) }
      else { b((v >> 24).toInt); b((v >> 16).toInt); b((v >> 8).toInt); b(v.toInt) }

    if (littleEndian) { b('I'); b('I'); b(42); b(0) } else { b('M'); b('M'); b(0); b(42) }
    // layout: header(8) | tile data | [tile tables] | [bps] | [colormap] | IFD
    val nTiles = tiles.length
    val dataStart = 8
    val tileOffs = tiles.scanLeft(dataStart)(_ + _.length).init
    val afterData = dataStart + tiles.map(_.length).sum
    val needTables = nTiles > 1
    val offTable = afterData
    val cntTable = offTable + (if (needTables) 4 * nTiles else 0)
    val bpsTable = cntTable + (if (needTables) 4 * nTiles else 0)
    val cmTable = bpsTable + (if (spp == 3) 6 else 0)
    val ifdStart = cmTable + (if (colormap != null) 1536 else 0)
    w32(ifdStart.toLong)
    tiles.foreach(out.write)
    if (needTables) {
      tileOffs.foreach(o => w32(o.toLong))
      tiles.foreach(t => w32(t.length.toLong))
    }
    if (spp == 3) { w16(8); w16(8); w16(8) }
    if (colormap != null) colormap.foreach(v => w16(v * 257))

    case class Entry(tag: Int, tpe: Int, count: Int, value: Long)
    val photometric = if (colormap != null) 3L else if (spp == 3) 2L else 1L
    val entries = Seq(
      Entry(256, 4, 1, w.toLong),
      Entry(257, 4, 1, h.toLong),
      if (spp == 3) Entry(258, 3, 3, bpsTable.toLong) else Entry(258, 3, 1, 8L),
      Entry(259, 3, 1, compression.toLong),
      Entry(262, 3, 1, photometric),
      Entry(277, 3, 1, spp.toLong)) ++
      (if (colormap != null) Seq(Entry(320, 3, 768, cmTable.toLong)) else Nil) ++
      Seq(
        Entry(322, 4, 1, tileW.toLong),
        Entry(323, 4, 1, tileH.toLong),
        if (needTables) Entry(324, 4, nTiles, offTable.toLong)
        else Entry(324, 4, 1, tileOffs.head.toLong),
        if (needTables) Entry(325, 4, nTiles, cntTable.toLong)
        else Entry(325, 4, 1, tiles.head.length.toLong))

    w16(entries.length)
    entries.foreach { e =>
      w16(e.tag); w16(e.tpe); w32(e.count.toLong)
      if (e.tpe == 3 && e.count == 1) { w16(e.value.toInt); w16(0) }
      else w32(e.value)
    }
    w32(0L) // no next IFD
    out.toByteArray
  }
}

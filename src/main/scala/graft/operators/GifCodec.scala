package graft.operators

import graft.bytes.Bytes._

/** GIF (87a/89a) decode — with PNG, JPEG and BMP this completes the
  * image formats a web crawl carries in volume, dependency-free on
  * the same precedent as the siblings.
  *
  * IN scope:
  *  - logical screen descriptor + global color table; image
  *    descriptors with local color tables (local overrides global)
  *  - GIF-flavor LZW: LSB-first variable-width codes across data
  *    sub-blocks, per-image minimum code size, CLEAR/EOI, KwKwK,
  *    code width growing at table size 2^width up to 12 bits (NO
  *    early change — the TIFF/PDF variant's off-by-one does not
  *    apply here)
  *  - four-pass row interlacing (rows 0/8, 4/8, 2/4, 1/2 — stats are
  *    order-independent and the aHash grid captures by actual row,
  *    so memory stays O(row), the decodePngFull rule)
  *  - extension blocks (GCE/comment/application) skipped by their
  *    sub-block framing
  *
  * OUT of scope (documented): animation — the FIRST image frame is
  * the decode target (a census/near-dup stat wants one raster;
  * subsequent frames are deltas against accumulated state);
  * transparency is ignored for stats (the transparent index still
  * maps through the palette — stats measure stored color data, the
  * [[ImageCodec]] alpha rule); COMPOSITING — reported width/height
  * are the first frame's own (frame-local), not the logical screen's,
  * and the descriptor's left/top offsets are not applied (stats and
  * the aHash grid describe the stored raster, not a canvas paint).
  *
  * Malformed input is a Left, never an exception (the decodeImages
  * error-channel discipline).
  */
object GifCodec {

  import ImageCodec.ImageStats

  def sniff(d: Array[Byte]): Boolean =
    d.length >= 6 && d(0) == 'G' && d(1) == 'I' && d(2) == 'F' &&
      d(3) == '8' && (d(4) == '7' || d(4) == '9') && d(5) == 'a'

  /** Decode the first frame to (summary stats, aHash grid grays). */
  def decode(d: Array[Byte]): Either[String, (ImageStats, Array[Int])] = {
    if (!sniff(d)) return Left("gif: missing GIF87a/GIF89a signature")
    guarded("gif")(decodeInner(d))
  }

  private def decodeInner(d: Array[Byte]): Either[String, (ImageStats, Array[Int])] = {
    var pos = 6
    val screenW = u16le(d, pos)
    val screenH = u16le(d, pos + 2)
    val packed = d(pos + 4) & 0xff
    pos += 7
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      gct = java.util.Arrays.copyOfRange(d, pos, pos + 3 * n)
      pos += 3 * n
    }
    if (screenW <= 0 || screenH <= 0)
      return Left(s"gif: bad screen dimensions ${screenW}x$screenH")

    // walk blocks to the first image descriptor
    while (true) {
      if (pos >= d.length) return Left("gif: no image descriptor before EOF")
      val b0 = d(pos) & 0xff
      pos += 1
      b0 match {
        case 0x3b => return Left("gif: trailer before any image")
        case 0x21 => // extension: label + sub-blocks
          pos += 1 // label
          var len = d(pos) & 0xff
          while (len != 0) {
            pos += 1 + len
            len = d(pos) & 0xff
          }
          pos += 1 // block terminator
        case 0x2c => // image descriptor
          val w = u16le(d, pos + 4)
          val h = u16le(d, pos + 6)
          val ipacked = d(pos + 8) & 0xff
          pos += 9
          if (w <= 0 || h <= 0) return Left(s"gif: bad frame dimensions ${w}x$h")
          var palette = gct
          if ((ipacked & 0x80) != 0) {
            val n = 2 << (ipacked & 7)
            palette = java.util.Arrays.copyOfRange(d, pos, pos + 3 * n)
            pos += 3 * n
          }
          if (palette == null) return Left("gif: no color table for the frame")
          val interlaced = (ipacked & 0x40) != 0
          return decodeFrame(d, pos, w, h, palette, interlaced)
        case other =>
          return Left(f"gif: unknown block 0x$other%02X")
      }
    }
    Left("gif: unreachable")
  }

  /** LZW-decode the frame's index stream, folding stats and the aHash
    * grid row by row (pixels arrive in row order — pass order when
    * interlaced — so only the current row buffers).
    */
  private def decodeFrame(
      d: Array[Byte], start: Int, w: Int, h: Int,
      palette: Array[Byte], interlaced: Boolean): Either[String, (ImageStats, Array[Int])] = {
    val minCode = d(start) & 0xff
    // spec bound: palettes cap at 256 entries, so the minimum code
    // size is 2..8 (a larger value is malformed — other decoders
    // reject it; accepting it would let clear/EOI collide with data)
    if (minCode < 2 || minCode > 8) return Left(s"gif: bad LZW minimum code size $minCode")
    var pos = start + 1
    val paletteN = palette.length / 3

    val clear = 1 << minCode
    val eoi = clear + 1
    // table: prefix link + tail byte (the classic compact layout)
    val prefix = new Array[Int](4096)
    val tail = new Array[Byte](4096)
    var nextCode = eoi + 1
    var width = minCode + 1
    var prev = -1

    // sub-block byte feed + LSB-first bit accumulator
    var blockLeft = 0
    var acc = 0L
    var nbits = 0
    var done = false

    // row fold state
    val row = new Array[Int](w) // palette indices of the current row
    var x = 0
    var rowsDone = 0
    // interlace pass schedule: (start, step)
    val passes = if (interlaced) Array((0, 8), (4, 8), (2, 4), (1, 2)) else Array((0, 1))
    var passIdx = 0
    var passY = passes(0)._1

    val gridX = Array.tabulate(64)(g => (g % 8) * w / 8)
    val gridY = Array.tabulate(64)(g => (g / 8) * h / 8)
    val grays = new Array[Int](64)
    val sums = new Array[Long](3)
    var mn = Int.MaxValue
    var mx = Int.MinValue

    def foldRow(y: Int): Unit = {
      var i = 0
      while (i < w) {
        val idx = row(i)
        if (idx >= paletteN) throw Malformed(
          s"gif: palette index $idx out of range ($paletteN entries)")
        var ch = 0
        while (ch < 3) {
          val v = palette(3 * idx + ch) & 0xff
          sums(ch) += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          ch += 1
        }
        i += 1
      }
      var g = 0
      while (g < 64) {
        if (gridY(g) == y) {
          val idx = row(gridX(g))
          grays(g) = (palette(3 * idx) & 0xff) + (palette(3 * idx + 1) & 0xff) +
            (palette(3 * idx + 2) & 0xff)
        }
        g += 1
      }
    }

    def emitPixel(idx: Int): Unit = {
      if (rowsDone >= h) return // surplus pixels beyond the raster: ignore
      row(x) = idx
      x += 1
      if (x == w) {
        foldRow(passY)
        x = 0
        rowsDone += 1
        passY += passes(passIdx)._2
        while (passY >= h && passIdx < passes.length - 1) {
          passIdx += 1
          passY = passes(passIdx)._1
        }
      }
    }

    // emit a table entry (walk the prefix chain; chain depth <= 4096)
    val stack = new Array[Byte](4096)
    def emitCode(code: Int): Int = { // returns the entry's FIRST byte
      var sp = 0
      var c = code
      while (c >= clear) {
        stack(sp) = tail(c)
        sp += 1
        c = prefix(c)
      }
      val first = c
      emitPixel(c)
      while (sp > 0) { sp -= 1; emitPixel(stack(sp) & 0xff) }
      first
    }

    while (!done) {
      // refill bits from the sub-block stream
      while (nbits < width && !done) {
        if (blockLeft == 0) {
          if (pos >= d.length) throw Malformed("gif: truncated LZW data")
          blockLeft = d(pos) & 0xff
          pos += 1
          if (blockLeft == 0) { // block terminator before EOI: tolerate
            done = true
          }
        }
        if (!done) {
          if (pos >= d.length) throw Malformed("gif: truncated LZW sub-block")
          acc |= (d(pos) & 0xff).toLong << nbits // LSB-first
          nbits += 8
          pos += 1
          blockLeft -= 1
        }
      }
      if (!done) {
        val code = (acc & ((1 << width) - 1)).toInt
        acc >>>= width
        nbits -= width
        if (code == clear) {
          nextCode = eoi + 1
          width = minCode + 1
          prev = -1
        } else if (code == eoi) done = true
        else {
          val first =
            if (code < nextCode) {
              if (code >= clear && code < eoi + 1) throw Malformed("gif: invalid code")
              emitCode(code)
            } else if (code == nextCode && prev >= 0) {
              // KwKwK: prev + first(prev)
              var c = prev
              while (c >= clear) c = prefix(c)
              prefix(nextCode) = prev // provisional: completed below
              tail(nextCode) = c.toByte
              emitCode(code)
            } else throw Malformed(s"gif: code $code beyond table")
          if (prev >= 0 && nextCode < 4096) {
            prefix(nextCode) = prev
            tail(nextCode) = first.toByte
            nextCode += 1
            // GIF: width grows when the table REACHES 2^width (no
            // early change), capping at 12
            if (nextCode == (1 << width) && width < 12) width += 1
          }
          prev = code
        }
      }
      if (rowsDone >= h && !done) {
        // raster complete: skip remaining data to the terminator
        done = true
      }
    }
    if (rowsDone < h)
      return Left(s"gif: LZW stream ended after $rowsDone of $h rows")

    val n = w.toLong * h
    Right((ImageStats("gif", w, h, 3, 255, n,
      sums(0).toDouble / n, sums(1).toDouble / n, sums(2).toDouble / n, mn, mx),
      grays))
  }

  // ------------------------------------------------------------ encode

  /** Deterministic GIF encoder — the `Media.toGif` adapter/fixture
    * substrate: one frame, global color table, optional interlacing,
    * GIF-flavor LZW (LSB-first, no early change) in 255-byte
    * sub-blocks. GIF is lossless on palette indices, so the q230
    * oracle re-derives every stat from the source bytes.
    */
  def encodeGif(
      indices: Array[Byte], palette: Array[Byte], w: Int, h: Int,
      interlaced: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeGif: bad dimensions ${w}x$h")
    require(indices.length == w * h,
      s"encodeGif: index raster length ${indices.length} != $w*$h")
    require(palette.length % 3 == 0 && palette.length >= 6 && palette.length <= 768,
      s"encodeGif: bad palette length ${palette.length}")
    val paletteN = palette.length / 3
    // color table sizes are powers of two: round up, zero-pad
    var bits = 1
    while ((1 << bits) < paletteN) bits += 1
    val ctN = 1 << bits
    val minCode = math.max(2, bits)

    val out = new java.io.ByteArrayOutputStream(indices.length / 2 + 64)
    def b(v: Int): Unit = out.write(v & 0xff)
    def put16(v: Int): Unit = { b(v); b(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    put16(w); put16(h)
    b(0x80 | ((bits - 1) & 7)) // GCT present, size 2^bits
    b(0); b(0)
    for (i <- 0 until 3 * ctN) b(if (i < palette.length) palette(i) & 0xff else 0)
    // image descriptor
    b(0x2c)
    put16(0); put16(0); put16(w); put16(h)
    b(if (interlaced) 0x40 else 0x00)
    b(minCode)

    // reorder rows for interlace
    val order =
      if (!interlaced) (0 until h).toArray
      else Array((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s, st) =>
        s until h by st
      }
    val stream = new Array[Byte](w * h)
    var o = 0
    for (y <- order) {
      System.arraycopy(indices, y * w, stream, o, w)
      o += w
    }

    // LZW encode, LSB-first, sub-blocked
    val data = new java.io.ByteArrayOutputStream(stream.length / 2 + 16)
    var acc = 0L
    var nbits = 0
    val clear = 1 << minCode
    val eoi = clear + 1
    var width = minCode + 1
    def put(code: Int): Unit = {
      acc |= code.toLong << nbits
      nbits += width
      while (nbits >= 8) {
        data.write((acc & 0xff).toInt)
        acc >>>= 8
        nbits -= 8
      }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int] // (prefixCode, byte)
    var nextCode = eoi + 1
    put(clear)
    var cur = -1
    var i = 0
    while (i < stream.length) {
      val k = stream(i) & 0xff
      if (k >= paletteN) throw new IllegalArgumentException(
        s"encodeGif: index $k out of palette range")
      if (cur < 0) cur = k
      else dict.get((cur, k)) match {
        case Some(code) => cur = code
        case None =>
          put(cur)
          if (nextCode < 4096) {
            // width sync: the decoder's table lags this insert by one
            // entry, so its bump (at ITS nextCode == 2^width) maps to
            // the encoder's PRE-insert value — check before inserting
            // (the giflib schedule)
            if (nextCode == (1 << width) && width < 12) width += 1
            dict((cur, k)) = nextCode
            nextCode += 1
          } else {
            put(clear)
            dict.clear()
            nextCode = eoi + 1
            width = minCode + 1
          }
          cur = k
      }
      i += 1
    }
    if (cur >= 0) put(cur)
    put(eoi)
    if (nbits > 0) data.write((acc & 0xff).toInt)

    val bytes = data.toByteArray
    var off = 0
    while (off < bytes.length) {
      val l = math.min(255, bytes.length - off)
      b(l)
      out.write(bytes, off, l)
      off += l
    }
    b(0) // block terminator
    b(0x3b) // trailer
    out.toByteArray
  }
}

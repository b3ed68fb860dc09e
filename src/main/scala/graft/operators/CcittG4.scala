package graft.operators

import graft.bytes.Bytes.Malformed

/** CCITT Group 4 (ITU-T T.6) two-dimensional bilevel codec — the fax
  * compression archival document scans actually use (TIFF
  * Compression 4), dependency-free like its codec siblings. Pure 2D
  * coding: every line codes against the previous (reference) line
  * through the vertical (V0, VR1-3, VL1-3), horizontal (T.4 MH run
  * lengths), and pass modes; the first line references an imaginary
  * all-white line. No EOL codes, no RTC (T.6 drops them); decoding
  * stops after exactly `rows` lines and ignores trailing fill bits
  * (the TIFF strip byte count bounds the stream).
  *
  * The Modified Huffman tables (white/black terminating 0-63, makeup
  * 64-1728 per color, shared extended makeup 1792-2560) are
  * transcribed from ITU-T T.4 §2; runs longer than a makeup chain
  * code as repeated makeups + one terminating code. Table integrity
  * is pinned at class-init (prefix-freeness + completeness) and by
  * the exhaustive per-run round-trip spec.
  *
  * Malformed input throws the shared [[graft.bytes.Bytes.Malformed]],
  * which the TIFF integration maps to its error channel.
  */
object CcittG4 {

  // ------------------------------------------------------------ tables

  // (code bits as Int, bit length) indexed by run/64 for makeups
  private def t(code: String): (Int, Int) = (Integer.parseInt(code, 2), code.length)

  private val WhiteTerm: Array[(Int, Int)] = Array(
    "00110101", "000111", "0111", "1000", "1011", "1100", "1110", "1111",
    "10011", "10100", "00111", "01000", "001000", "000011", "110100", "110101",
    "101010", "101011", "0100111", "0001100", "0001000", "0010111", "0000011",
    "0000100", "0101000", "0101011", "0010011", "0100100", "0011000",
    "00000010", "00000011", "00011010", "00011011", "00010010", "00010011",
    "00010100", "00010101", "00010110", "00010111", "00101000", "00101001",
    "00101010", "00101011", "00101100", "00101101", "00000100", "00000101",
    "00001010", "00001011", "01010010", "01010011", "01010100", "01010101",
    "00100100", "00100101", "01011000", "01011001", "01011010", "01011011",
    "01001010", "01001011", "00110010", "00110011", "00110100").map(t)

  private val WhiteMakeup: Array[(Int, Int)] = Array(
    "11011", "10010", "010111", "0110111", "00110110", "00110111", "01100100",
    "01100101", "01101000", "01100111", "011001100", "011001101", "011010010",
    "011010011", "011010100", "011010101", "011010110", "011010111",
    "011011000", "011011001", "011011010", "011011011", "010011000",
    "010011001", "010011010", "011000", "010011011").map(t) // 64..1728

  private val BlackTerm: Array[(Int, Int)] = Array(
    "0000110111", "010", "11", "10", "011", "0011", "0010", "00011",
    "000101", "000100", "0000100", "0000101", "0000111", "00000100",
    "00000111", "000011000", "0000010111", "0000011000", "0000001000",
    "00001100111", "00001101000", "00001101100", "00000110111",
    "00000101000", "00000010111", "00000011000", "000011001010",
    "000011001011", "000011001100", "000011001101", "000001101000",
    "000001101001", "000001101010", "000001101011", "000011010010",
    "000011010011", "000011010100", "000011010101", "000011010110",
    "000011010111", "000001101100", "000001101101", "000011011010",
    "000011011011", "000001010100", "000001010101", "000001010110",
    "000001010111", "000001100100", "000001100101", "000001010010",
    "000001010011", "000000100100", "000000110111", "000000111000",
    "000000100111", "000000101000", "000001011000", "000001011001",
    "000000101011", "000000101100", "000001011010", "000001100110",
    "000001100111").map(t)

  private val BlackMakeup: Array[(Int, Int)] = Array(
    "0000001111", "000011001000", "000011001001", "000001011011",
    "000000110011", "000000110100", "000000110101", "0000001101100",
    "0000001101101", "0000001001010", "0000001001011", "0000001001100",
    "0000001001101", "0000001110010", "0000001110011", "0000001110100",
    "0000001110101", "0000001110110", "0000001110111", "0000001010010",
    "0000001010011", "0000001010100", "0000001010101", "0000001011010",
    "0000001011011", "0000001100100", "0000001100101").map(t) // 64..1728

  private val ExtMakeup: Array[(Int, Int)] = Array(
    "00000001000", "00000001100", "00000001101", "000000010010",
    "000000010011", "000000010100", "000000010101", "000000010110",
    "000000010111", "000000011100", "000000011101", "000000011110",
    "000000011111").map(t) // 1792..2560, both colors

  // decode maps: (len, code) -> run
  private def mkMap(term: Array[(Int, Int)], makeup: Array[(Int, Int)]): Map[(Int, Int), Int] = {
    val m = Map.newBuilder[(Int, Int), Int]
    term.zipWithIndex.foreach { case ((c, l), run) => m += ((l, c) -> run) }
    makeup.zipWithIndex.foreach { case ((c, l), i) => m += ((l, c) -> (64 * (i + 1))) }
    ExtMakeup.zipWithIndex.foreach { case ((c, l), i) => m += ((l, c) -> (1792 + 64 * i)) }
    m.result()
  }
  private val WhiteMap = mkMap(WhiteTerm, WhiteMakeup)
  private val BlackMap = mkMap(BlackTerm, BlackMakeup)

  // table integrity: prefix-freeness per color (a transcription slip
  // almost always breaks this)
  locally {
    def check(m: Map[(Int, Int), Int], name: String): Unit = {
      val codes = m.keys.toSeq
      for (a @ (la, ca) <- codes; (lb, cb) <- codes
           if la < lb && (cb >> (lb - la)) == ca)
        throw new IllegalStateException(s"CcittG4 $name table: ${a} prefixes ($lb,$cb)")
    }
    check(WhiteMap, "white"); check(BlackMap, "black")
  }

  // -------------------------------------------------------- bit stream

  private[operators] final class Reader(d: Array[Byte]) {
    var pos = 0 // bit position
    def bit(): Int = {
      if (pos >= d.length * 8) throw Malformed("g4: bit stream exhausted")
      val b = (d(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1
      b
    }
  }

  private[operators] final class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        n += 1
        if (n == 8) { out.write(acc); acc = 0; n = 0 }
        i -= 1
      }
    }
    def result(): Array[Byte] = {
      if (n > 0) { out.write(acc << (8 - n)); acc = 0; n = 0 }
      out.toByteArray
    }
    /** Pad to the next byte boundary with zero bits (Compression 2's
      * per-row alignment; a no-op when already aligned).
      */
    def align(): Unit = if (n > 0) { out.write(acc << (8 - n)); acc = 0; n = 0 }
  }

  /** One MH run of `color` (0 white, 1 black): makeup chain + term. */
  private[operators] def readRun(r: Reader, color: Int): Int = {
    val map = if (color == 0) WhiteMap else BlackMap
    var total = 0
    var done = false
    while (!done) {
      var code = 0
      var len = 0
      var run = -1
      while (run < 0) {
        code = (code << 1) | r.bit()
        len += 1
        if (len > 14) throw Malformed("g4: unknown run code")
        run = map.getOrElse((len, code), -1)
      }
      total += run
      done = run < 64 // a terminating code ends the chain
    }
    total
  }

  private[operators] def writeRun(w: Writer, run0: Int, color: Int): Unit = {
    val (term, makeup) = if (color == 0) (WhiteTerm, WhiteMakeup) else (BlackTerm, BlackMakeup)
    var run = run0
    while (run >= 2624) { // largest ext makeup 2560 + largest term 63
      val (c, l) = ExtMakeup(ExtMakeup.length - 1)
      w.put(c, l); run -= 2560
    }
    if (run >= 1792) {
      val i = (run - 1792) / 64
      val (c, l) = ExtMakeup(i); w.put(c, l); run -= 1792 + 64 * i
    } else if (run >= 64) {
      val i = run / 64 - 1
      val (c, l) = makeup(i); w.put(c, l); run -= 64 * (i + 1)
    }
    val (c, l) = term(run)
    w.put(c, l)
  }

  // ------------------------------------------------------------- codec

  /** Changing elements of a row of 0/1 bytes: positions where the
    * color differs from the previous pixel (imaginary white at -1),
    * terminated by two sentinels at `w`.
    */
  private[operators] def changes(row: Array[Byte], off: Int, w: Int): Array[Int] = {
    val out = new Array[Int](w + 2)
    var n = 0
    var prev = 0
    var x = 0
    while (x < w) {
      val v = row(off + x) & 1
      if (v != prev) { out(n) = x; n += 1; prev = v }
      x += 1
    }
    out(n) = w; out(n + 1) = w
    java.util.Arrays.copyOf(out, n + 2)
  }

  /** Index of b1: first changing element of `ref` STRICTLY right of
    * a0 whose transition parity matches the current color (a white
    * current color needs a white->black transition = even index).
    */
  private[operators] def indexOfB1(ref: Array[Int], a0: Int, color: Int): Int = {
    var i = 0
    while (i < ref.length && (ref(i) <= a0 || (i & 1) != color)) i += 1
    i
  }

  /** Decode ONE 2D-coded line against `ref` (the previous line's
    * changing elements) into out[off, off+w) — the T.6 line coder,
    * shared verbatim by T.4's 2D lines ([[CcittG3]]): the mode code
    * table is identical; only the line framing differs.
    */
  private[operators] def decode2DLine(
      r: Reader, ref: Array[Int], out: Array[Byte], off: Int, w: Int): Unit = {
    var a0 = -1
    var color = 0
    while (a0 < w) {
      val i1 = indexOfB1(ref, a0, color)
      val b1 = if (i1 < ref.length) ref(i1) else w
      val b2 = if (i1 + 1 < ref.length) ref(i1 + 1) else w
      // mode decision tree per T.6 code table
      if (r.bit() == 1) {
        // V0
        fill(out, off, a0, b1, color, w); a0 = b1; color ^= 1
      } else if (r.bit() == 1) {
        // 01x: VL1 (010) / VR1 (011)
        val a1 = if (r.bit() == 1) b1 + 1 else b1 - 1
        fill(out, off, a0, a1, color, w); a0 = a1; color ^= 1
      } else if (r.bit() == 1) {
        // 001: horizontal — two MH runs from runStart
        val s = if (a0 < 0) 0 else a0
        val r1 = readRun(r, color)
        val r2 = readRun(r, color ^ 1)
        if (s + r1 + r2 > w) throw Malformed("g4: horizontal runs overrun the row")
        fillRun(out, off, s, r1, color)
        fillRun(out, off, s + r1, r2, color ^ 1)
        a0 = s + r1 + r2
      } else if (r.bit() == 1) {
        // 0001: pass — color continues through b2
        fill(out, off, a0, b2, color, w); a0 = b2
      } else {
        // 00001x / 000001x: VR2/VL2, VR3/VL3 — or EOFB garbage
        if (r.bit() == 1) {
          val a1 = if (r.bit() == 1) b1 + 2 else b1 - 2
          fill(out, off, a0, a1, color, w); a0 = a1; color ^= 1
        } else if (r.bit() == 1) {
          val a1 = if (r.bit() == 1) b1 + 3 else b1 - 3
          fill(out, off, a0, a1, color, w); a0 = a1; color ^= 1
        } else throw Malformed("g4: unknown 2D mode code")
      }
      if (a0 > w) throw Malformed("g4: coding ran past the row end")
    }
  }

  /** Decode ONE 1D (pure MH) line: alternating white/black runs from
    * an imaginary white start, summing to exactly `w` — T.4 §2.1.
    * Shared by [[CcittG3]]'s Compression-2 and 1D-G3 paths.
    */
  private[operators] def decode1DLine(
      r: Reader, out: Array[Byte], off: Int, w: Int): Unit = {
    var x = 0
    var color = 0
    while (x < w) {
      val run = readRun(r, color)
      if (x + run > w) throw Malformed("g3: 1D run past the row end")
      fillRun(out, off, x, run, color)
      x += run
      color ^= 1
    }
  }

  /** Decode `rows` lines of width `w`; returns w*rows bytes, 1 = black. */
  def decode(d: Array[Byte], w: Int, rows: Int): Array[Byte] = {
    require(w > 0 && rows > 0, s"g4 decode: bad geometry ${w}x$rows")
    val r = new Reader(d)
    val out = new Array[Byte](w * rows)
    var ref = Array(w, w) // imaginary all-white line
    var y = 0
    while (y < rows) {
      val off = y * w
      decode2DLine(r, ref, out, off, w)
      ref = changes(out, off, w)
      y += 1
    }
    out
  }

  private[operators] def fill(out: Array[Byte], off: Int, a0: Int, a1: Int, color: Int,
      w: Int): Unit = {
    val s = if (a0 < 0) 0 else a0
    if (a1 < s) throw Malformed("g4: negative run (a1 left of a0)")
    if (a1 > w) throw Malformed("g4: run past the row end")
    fillRun(out, off, s, a1 - s, color)
  }

  private[operators] def fillRun(out: Array[Byte], off: Int, from: Int, len: Int, color: Int): Unit = {
    if (color == 1) java.util.Arrays.fill(out, off + from, off + from + len, 1.toByte)
    // white: the array is zero-initialized
  }

  /** Encode ONE 2D line (coding-line changes `cur` against reference
    * `ref`) — shared by [[CcittG3]]'s 2D lines.
    */
  private[operators] def encode2DLine(
      wr: Writer, cur: Array[Int], ref: Array[Int], w: Int): Unit = {
    var a0 = -1
    var color = 0
    while (a0 < w) {
      // a1: first change in the coding line strictly right of a0
      // (it flips the CURRENT color by construction)
      var ci = 0
      while (ci < cur.length && cur(ci) <= a0) ci += 1
      val a1 = if (ci < cur.length) cur(ci) else w
      val i1 = indexOfB1(ref, a0, color)
      val b1 = if (i1 < ref.length) ref(i1) else w
      val b2 = if (i1 + 1 < ref.length) ref(i1 + 1) else w
      if (b2 < a1) {
        wr.put(Integer.parseInt("0001", 2), 4) // pass
        a0 = b2
      } else if (math.abs(a1 - b1) <= 3) {
        val d = a1 - b1
        val (c, l) = d match {
          case 0 => (1, 1)
          case 1 => (Integer.parseInt("011", 2), 3)
          case -1 => (Integer.parseInt("010", 2), 3)
          case 2 => (Integer.parseInt("000011", 2), 6)
          case -2 => (Integer.parseInt("000010", 2), 6)
          case 3 => (Integer.parseInt("0000011", 2), 7)
          case _ => (Integer.parseInt("0000010", 2), 7)
        }
        wr.put(c, l)
        a0 = a1; color ^= 1
      } else {
        // horizontal: runs a1-a0 of color, a2-a1 of opposite
        var cj = ci + 1
        val a2 = if (cj < cur.length) cur(cj) else w
        val s = if (a0 < 0) 0 else a0
        wr.put(Integer.parseInt("001", 2), 3)
        writeRun(wr, a1 - s, color)
        writeRun(wr, a2 - a1, color ^ 1)
        a0 = a2
      }
    }
  }

  /** Encode ONE 1D (pure MH) line — alternating runs from white. */
  private[operators] def encode1DLine(
      wr: Writer, bits: Array[Byte], off: Int, w: Int): Unit = {
    var x = 0
    var color = 0
    while (x < w) {
      var e = x
      while (e < w && (bits(off + e) & 1) == color) e += 1
      writeRun(wr, e - x, color)
      x = e
      color ^= 1
    }
    // T.4: a line STARTING black still leads with a zero-length white
    // run — handled naturally: bits(off) black => first loop pass
    // emits writeRun(0, white)
  }

  /** Encode `rows` lines of width `w` from 0/1 bytes (1 = black). */
  def encode(bits: Array[Byte], w: Int, rows: Int): Array[Byte] = {
    require(bits.length == w * rows, "g4 encode: raster length mismatch")
    val wr = new Writer
    var ref = Array(w, w)
    var y = 0
    while (y < rows) {
      val off = y * w
      val cur = changes(bits, off, w)
      encode2DLine(wr, cur, ref, w)
      ref = cur
      y += 1
    }
    wr.result()
  }
}

package graft.operators

import graft.bytes.Bytes.Malformed

/** CCITT Group 3 (ITU-T T.4) bilevel codecs — the OLDER fax
  * compressions archival scans carry next to [[CcittG4]]'s T.6
  * (TIFF Compressions 2 and 3; G4 landed in r19, these close the fax
  * family in r20). Everything Huffman-shaped is REUSED from CcittG4:
  * the T.4 Modified Huffman tables ARE its tables, the 2D line coder
  * IS its line coder — this file adds only the T.4 line framing.
  *
  * Two framings:
  *  - **Modified Huffman (TIFF Compression 2)**: every line is
  *    1D-coded (alternating white/black runs from an imaginary white
  *    start, a zero-length white run when a line opens black) and
  *    each line begins on a BYTE boundary (TIFF §Section 10's
  *    EOL-free profile).
  *  - **T.4 / Group 3 proper (TIFF Compression 3)**: every line is
  *    preceded by an EOL (000000000001), with optional zero FILL
  *    bits before it; in 2D mode (T4Options bit 0) the EOL carries a
  *    tag bit — 1 = the next line is 1D, 0 = 2D against the previous
  *    line (the first line is always 1D, there being no reference).
  *    RTC (six EOLs) is tolerated as trailing garbage — decoding
  *    stops after exactly `rows` lines, the TIFF strip contract.
  *
  * Malformed input throws [[graft.bytes.Bytes.Malformed]] (same channel — the
  * TIFF integration maps both to its error Left).
  */
object CcittG3 {

  import CcittG4.{Reader, Writer}

  /** Decode `rows` MH lines (Compression 2; PDF's CCITTFaxDecode
    * K = 0 uses the same 1D stream with `byteAlign` following its
    * /EncodedByteAlign — false packs lines back to back); 1 = black.
    */
  def decodeMH(d: Array[Byte], w: Int, rows: Int,
      byteAlign: Boolean = true): Array[Byte] = {
    require(w > 0 && rows > 0, s"mh decode: bad geometry ${w}x$rows")
    val r = new Reader(d)
    val out = new Array[Byte](w * rows)
    var y = 0
    while (y < rows) {
      CcittG4.decode1DLine(r, out, y * w, w)
      if (byteAlign) r.pos = (r.pos + 7) & ~7 // rows restart byte-aligned
      y += 1
    }
    out
  }

  /** Encode `rows` MH lines (Compression 2 / CCITTFaxDecode K = 0). */
  def encodeMH(bits: Array[Byte], w: Int, rows: Int,
      byteAlign: Boolean = true): Array[Byte] = {
    require(bits.length == w * rows, "mh encode: raster length mismatch")
    val wr = new Writer
    var y = 0
    while (y < rows) {
      CcittG4.encode1DLine(wr, bits, y * w, w)
      if (byteAlign) wr.align()
      y += 1
    }
    wr.result()
  }

  /** Consume fill bits + one EOL: zero or more 0s then a 1, with at
    * least 11 zeros total (the EOL's own 11 + any fill, which is
    * always zeros).
    */
  private def eatEol(r: Reader): Unit = {
    var zeros = 0
    while (r.bit() == 0) {
      zeros += 1
      if (zeros > 4096) throw Malformed("g3: runaway fill before EOL")
    }
    if (zeros < 11) throw Malformed("g3: line does not open with an EOL")
  }

  /** Decode `rows` T.4 lines (Compression 3); `twoD` per T4Options
    * bit 0. 1 = black.
    */
  def decodeG3(d: Array[Byte], w: Int, rows: Int, twoD: Boolean): Array[Byte] = {
    require(w > 0 && rows > 0, s"g3 decode: bad geometry ${w}x$rows")
    val r = new Reader(d)
    val out = new Array[Byte](w * rows)
    var ref = Array(w, w) // only consulted by 2D lines
    var y = 0
    while (y < rows) {
      val off = y * w
      eatEol(r)
      val oneD = if (!twoD) true else r.bit() == 1 // EOL tag bit
      if (oneD) CcittG4.decode1DLine(r, out, off, w)
      else {
        if (y == 0) throw Malformed("g3: first line cannot be 2D")
        CcittG4.decode2DLine(r, ref, out, off, w)
      }
      ref = CcittG4.changes(out, off, w)
      y += 1
    }
    out
  }

  /** Encode `rows` T.4 lines; in 2D mode even lines are 1D-coded and
    * odd lines 2D (a K=2 cadence — both tag-bit paths on every
    * raster taller than one row).
    */
  def encodeG3(bits: Array[Byte], w: Int, rows: Int, twoD: Boolean): Array[Byte] = {
    require(bits.length == w * rows, "g3 encode: raster length mismatch")
    val wr = new Writer
    var ref = Array(w, w)
    var y = 0
    while (y < rows) {
      val off = y * w
      wr.put(1, 12) // EOL 000000000001
      val oneD = !twoD || y % 2 == 0
      if (twoD) wr.put(if (oneD) 1 else 0, 1) // tag bit
      if (oneD) CcittG4.encode1DLine(wr, bits, off, w)
      else CcittG4.encode2DLine(wr, CcittG4.changes(bits, off, w), ref, w)
      ref = CcittG4.changes(bits, off, w)
      y += 1
    }
    wr.result()
  }
}

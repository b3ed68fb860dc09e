package graft.sources

import graft.bytes.Bytes.{Malformed, capped}

/** Raw Snappy block-format codec — the fourth JDK-free decompressor
  * in the source family (after Inflater-deflate, PackBits, and LZW):
  * snappy is the most common Avro codec in the wild, and the wire
  * format is public (google/snappy format_description.txt).
  *
  * Decode implements the FULL tag stream: literals (tag & 3 == 0,
  * with 1/2/3/4-byte extended lengths), copy-1 (3-bit length 4..11,
  * 11-bit offset), copy-2 (16-bit LE offset), copy-4 (32-bit LE
  * offset), overlapping copies byte-by-byte (the RLE idiom where
  * offset < length), all bounds-checked against the declared
  * uncompressed length. Encode emits LITERALS ONLY — spec-valid
  * output any decoder accepts (compression ratio is not this
  * repo's concern; correctness of the interchange is).
  *
  * Malformed input aborts with a named reason via the shared
  * [[graft.bytes.Bytes.Malformed]], never a raw out-of-bounds throw,
  * and a declared length over [[graft.bytes.Bytes.InflateCap]] is
  * refused before anything is allocated.
  */
object Snappy {

  /** Decompress a raw Snappy block (varint uncompressed length +
    * tag stream). Throws [[Malformed]] on any framing violation.
    */
  def decompress(d: Array[Byte]): Array[Byte] = {
    var pos = 0
    def byte(): Int = {
      if (pos >= d.length) throw Malformed("snappy: truncated stream")
      val b = d(pos) & 0xff; pos += 1; b
    }
    // uncompressed length: PLAIN varint (no zigzag — snappy, not avro)
    var expect = 0L
    var shift = 0
    var more = true
    while (more) {
      val b = byte()
      expect |= (b & 0x7fL) << shift
      shift += 7
      more = (b & 0x80) != 0
      if (shift > 35) throw Malformed("snappy: length varint overrun")
    }
    val out = new Array[Byte](capped("snappy", "declared length", expect))
    var w = 0
    while (pos < d.length) {
      val tag = byte()
      (tag & 3) match {
        case 0 => // literal
          var len = (tag >>> 2) + 1
          if (len > 60) {
            val extra = len - 60 // 1..4 length bytes, LE
            len = 0
            var k = 0
            while (k < extra) { len |= byte() << (8 * k); k += 1 }
            len += 1
          }
          if (pos + len > d.length) throw Malformed("snappy: literal past EOF")
          if (w + len > out.length) throw Malformed("snappy: literal past declared length")
          System.arraycopy(d, pos, out, w, len)
          pos += len; w += len
        case c => // copy
          val (len, offset) = c match {
            case 1 => (((tag >>> 2) & 7) + 4, ((tag >>> 5) << 8) | byte())
            case 2 => ((tag >>> 2) + 1, byte() | (byte() << 8))
            case _ => ((tag >>> 2) + 1,
              byte() | (byte() << 8) | (byte() << 16) | (byte() << 24))
          }
          if (offset <= 0 || offset > w) throw Malformed("snappy: copy offset out of range")
          if (w + len > out.length) throw Malformed("snappy: copy past declared length")
          // byte-by-byte: overlapping copies (offset < len) are the
          // RLE idiom and must re-read freshly written bytes
          var k = 0
          while (k < len) { out(w) = out(w - offset); w += 1; k += 1 }
      }
    }
    if (w != out.length)
      throw Malformed(s"snappy: decoded $w of ${out.length} declared bytes")
    out
  }

  /** Literal-only raw Snappy block: varint length + maximal literal
    * runs. Any conforming decoder reads it back byte-identical.
    */
  def compressLiteral(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 8)
    var v = data.length
    while ((v & ~0x7f) != 0) { out.write((v & 0x7f) | 0x80); v >>>= 7 }
    out.write(v)
    var p = 0
    while (p < data.length) {
      val len = math.min(65536, data.length - p) // 3-byte length tag covers 2^24
      if (len <= 60) out.write((len - 1) << 2)
      else {
        val lm1 = len - 1
        if (lm1 < 256) { out.write(60 << 2 | 0); out.write(lm1) }
        else { out.write(61 << 2 | 0); out.write(lm1 & 0xff); out.write(lm1 >>> 8) }
      }
      out.write(data, p, len)
      p += len
    }
    out.toByteArray
  }
}

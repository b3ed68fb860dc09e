package graft.operators

import graft.bytes.Bytes._

/** WebP (VP8L lossless) decode — after PNG/JPEG/GIF/BMP the last
  * common web image format, dependency-free on the same precedent as
  * the siblings (the reference sniffs and decodes its own inputs
  * JDK-only, /root/reference/src/main.rs:431-433). Implements the
  * public "WebP Lossless Bitstream Specification".
  *
  * IN scope:
  *  - RIFF container walk to a `VP8L` chunk; LSB-first bitstream,
  *    14-bit dimensions, version 0
  *  - the FULL prefix-code machinery: simple codes (1- and 2-symbol,
  *    including the 0-bit single-symbol degenerate), normal codes via
  *    the code-length code (3-bit CL lengths in the spec order,
  *    16/17/18 repeat tokens with offsets 3/3/11) and the max_symbol
  *    token-count shortcut
  *  - literals (green/red/blue/alpha tree order), LZ77 backward
  *    references (length/distance prefix values, the 120-entry 2D
  *    distance map AND direct distances above it), color cache
  *    (0x1e35a7bd multiplicative hash, every emitted pixel inserted)
  *  - ALL FOUR transforms (r18B — what real libwebp files use):
  *    subtract-green, the per-block PREDICTOR transform (all 14
  *    modes incl. Select and the clamped add/subtract pair, edge
  *    rules, residual addition mod 256), the CROSS-COLOR transform
  *    (signed 3.5 fixed-point deltas, blue after restored red), and
  *    COLOR INDEXING (delta-cumulated palette, sub-byte index packing
  *    at 1/2/4/8 px per green byte) — each carried by a recursively
  *    decoded sub-image, exactly the spec's DecodeImageStream shape
  *  - META prefix codes (entropy images): per-block prefix-code
  *    groups, the 5-tree set per group
  *
  * OUT of scope (explicit Lefts, the GIF/PDF scoping discipline):
  *  - lossy `VP8 ` and extended `VP8X` containers (animation, EXIF):
  *    a different codec family entirely
  *
  * Memory: LZ77 references reach arbitrarily far back, so the decoder
  * materializes the O(raster) ARGB buffer behind an explicit size
  * guard — the progressive-JPEG documented exception class; stats and
  * the aHash grid fold over it once. Alpha is excluded from stats
  * (channels = 3, the rgba.png rule).
  *
  * The ENCODER half is the adapter/fixture substrate (encodePng
  * pattern, not a production sink): literal-only, no transforms, flat
  * 8-bit canonical codes for green/red/blue (transmitted through the
  * real code-length-code + max_symbol path, so the decoder's normal-
  * code machinery sits on every oracle row), 0-bit single-symbol
  * alpha and distance trees. Lossless: the oracle recomputes stats
  * from the source text exactly as the PPM/PNG gates do.
  */
object WebpCodec {

  import ImageCodec.ImageStats

  def sniff(d: Array[Byte]): Boolean =
    d.length >= 16 && d(0) == 'R' && d(1) == 'I' && d(2) == 'F' && d(3) == 'F' &&
      d(8) == 'W' && d(9) == 'E' && d(10) == 'B' && d(11) == 'P'

  /** CL-code transmission order (spec 5.2.2). */
  private val ClOrder: Array[Int] =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  /** The 2D offset map for distance codes 1..120 (spec 5.2.3): pairs
    * (dx, dy), dist = dy * xsize + dx (clamped to >= 1). Codes above
    * 120 are direct: dist = code - 120.
    */
  private val DistMap: Array[(Int, Int)] = Array(
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (5, 0), (1, 5), (-1, 5), (5, 1), (-5, 1),
    (2, 5), (-2, 5), (5, 2), (-5, 2), (4, 3), (-4, 3), (3, 4), (-3, 4),
    (0, 6), (6, 0), (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6),
    (6, 2), (-6, 2), (4, 4), (-4, 4), (5, 3), (-5, 3), (3, 5), (-3, 5),
    (0, 7), (7, 0), (1, 7), (-1, 7), (4, 5), (-4, 5), (5, 4), (-5, 4),
    (7, 1), (-7, 1), (2, 7), (-2, 7), (7, 2), (-7, 2), (3, 6), (-3, 6),
    (6, 3), (-6, 3), (0, 8), (8, 0), (1, 8), (-1, 8), (7, 3), (-7, 3),
    (3, 7), (-3, 7), (8, 1), (-8, 1), (4, 6), (-4, 6), (6, 4), (-6, 4),
    (2, 8), (-2, 8), (8, 2), (-8, 2), (5, 5), (-5, 5), (7, 4), (-7, 4),
    (4, 7), (-4, 7), (0, 9), (9, 0), (1, 9), (-1, 9), (9, 1), (-9, 1),
    (3, 8), (-3, 8), (8, 3), (-8, 3), (2, 9), (-2, 9), (9, 2), (-9, 2),
    (5, 6), (-5, 6), (6, 5), (-6, 5))

  // ------------------------------------------------------------ decode

  private[operators] final class BitReader(d: Array[Byte], var pos: Int, end: Int) {
    private var acc = 0L
    private var n = 0
    def bits(k: Int): Int = {
      while (n < k) {
        if (pos >= end) throw Malformed("webp: bitstream exhausted")
        acc |= (d(pos) & 0xffL) << n
        pos += 1
        n += 8
      }
      val v = (acc & ((1L << k) - 1)).toInt
      acc >>>= k
      n -= k
      v
    }
    def bit(): Int = bits(1)
  }

  /** Canonical prefix code over `lengths` (increasing length, then
    * symbol order; first-read bit = MSB of the code). A code with
    * exactly ONE used symbol reads zero bits (the simple-code
    * degenerate the spec allows). Over/under-subscribed codes abort.
    * Codes come from counting lengths: the first code of each length
    * follows from the counts of the shorter ones (RFC 1951 §3.2.2).
    */
  private[operators] final class Huff(lengths: Array[Int]) {
    private var single = -1
    // binary tree in arrays; node 0 is the root, -sym-1 marks a leaf
    private var left: Array[Int] = null
    private var right: Array[Int] = null
    locally {
      val count = new Array[Int](16) // used symbols per code length
      var nUsed = 0
      var first = -1
      var tooLong = -1
      var sym = 0
      while (sym < lengths.length) {
        val l = lengths(sym)
        if (l > 0) {
          nUsed += 1
          if (first < 0) first = sym
          if (l <= 15) count(l) += 1
          else if (tooLong < 0) tooLong = l
        }
        sym += 1
      }
      if (nUsed == 0) throw Malformed("webp: empty prefix code")
      if (nUsed == 1) single = first
      else {
        if (tooLong >= 0) throw Malformed(s"webp: code length $tooLong > 15")
        // Kraft sum in units of 2^-15: complete iff exactly 2^15
        var kraft = 0L
        var l = 1
        while (l <= 15) { kraft += count(l).toLong << (15 - l); l += 1 }
        if (kraft != (1L << 15)) throw Malformed("webp: prefix code not complete")
        val next = new Array[Int](16)
        var code = 0
        l = 1
        while (l <= 15) {
          code = (code + count(l - 1)) << 1
          next(l) = code
          l += 1
        }
        val maxNodes = 2 * nUsed + 16
        left = new Array[Int](maxNodes)
        right = new Array[Int](maxNodes)
        var nextNode = 1
        sym = 0
        while (sym < lengths.length) {
          val len = lengths(sym)
          if (len > 0) {
            val c = next(len)
            next(len) += 1
            // walk MSB-first, creating nodes
            var node = 0
            var i = len - 1
            while (i > 0) {
              val b = (c >> i) & 1
              val nxt = if (b == 0) left(node) else right(node)
              node =
                if (nxt > 0) nxt
                else {
                  val n = nextNode
                  nextNode += 1
                  if (b == 0) left(node) = n else right(node) = n
                  n
                }
              i -= 1
            }
            if ((c & 1) == 0) left(node) = -sym - 1 else right(node) = -sym - 1
          }
          sym += 1
        }
      }
    }
    def read(br: BitReader): Int = {
      if (single >= 0) return single
      var node = 0
      while (true) {
        val nxt = if (br.bit() == 0) left(node) else right(node)
        if (nxt < 0) return -nxt - 1
        if (nxt == 0) throw Malformed("webp: invalid prefix code walk")
        node = nxt
      }
      -1 // unreachable
    }
  }

  /** One prefix code: simple (1 bit flag set) or normal via the
    * code-length code with 16/17/18 repeats and max_symbol.
    */
  private def readCode(br: BitReader, alphabetSize: Int): Huff = {
    val lengths = new Array[Int](alphabetSize)
    if (br.bit() == 1) { // simple
      val numSyms = br.bit() + 1
      val first = if (br.bit() == 1) br.bits(8) else br.bits(1)
      if (first >= alphabetSize) throw Malformed("webp: simple-code symbol out of range")
      if (numSyms == 2) {
        val second = br.bits(8)
        if (second >= alphabetSize) throw Malformed("webp: simple-code symbol out of range")
        lengths(first) = 1
        lengths(second) = 1
      } else lengths(first) = 1
      new Huff(lengths)
    } else {
      val numCl = 4 + br.bits(4)
      val clLens = new Array[Int](19)
      var i = 0
      while (i < numCl) { clLens(ClOrder(i)) = br.bits(3); i += 1 }
      val clTree = new Huff(clLens)
      var maxTokens =
        if (br.bit() == 1) {
          val nbits = 2 + 2 * br.bits(3)
          2 + br.bits(nbits)
        } else alphabetSize
      var sym = 0
      var prevLen = 8
      while (sym < alphabetSize && maxTokens > 0) {
        maxTokens -= 1
        val cl = clTree.read(br)
        if (cl < 16) {
          lengths(sym) = cl
          sym += 1
          if (cl != 0) prevLen = cl
        } else {
          val (rep, fill) = cl match {
            case 16 => (3 + br.bits(2), prevLen)
            case 17 => (3 + br.bits(3), 0)
            case 18 => (11 + br.bits(7), 0)
            case _ => throw Malformed(s"webp: bad code-length symbol $cl")
          }
          if (sym + rep > alphabetSize)
            throw Malformed("webp: code-length repeat overruns alphabet")
          var r = 0
          while (r < rep) { lengths(sym) = fill; sym += 1; r += 1 }
        }
      }
      new Huff(lengths)
    }
  }

  private def prefixValue(code: Int, br: BitReader): Int =
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      offset + br.bits(extra) + 1
    }

  /** Decode the first VP8L image to (stats, aHash grid grays). */
  def decode(d: Array[Byte]): Either[String, (ImageStats, Array[Int])] = {
    if (!sniff(d)) return Left("webp: missing RIFF/WEBP signature")
    guarded("webp")(decodeInner(d))
  }

  private def decodeInner(d: Array[Byte]): Either[String, (ImageStats, Array[Int])] = {
    // RIFF chunk walk to VP8L
    var pos = 12
    var payload = -1
    var payloadEnd = -1
    while (payload < 0 && pos + 8 <= d.length) {
      val fourcc = new String(d, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = u32le(d, pos + 4)
      if (size > d.length) return Left("webp: chunk size overruns file")
      fourcc match {
        case "VP8L" =>
          payload = pos + 8
          payloadEnd = math.min(d.length, pos + 8 + size.toInt)
        case "VP8 " =>
          return Left("webp: lossy VP8 out of scope — VP8L lossless only")
        case "VP8X" =>
          // extended container: a STILL lossless image inside VP8X is
          // just more chunks before the VP8L — walk on; animations are
          // a different decode model (frame deltas) — explicit Left
          if (size < 10) return Left("webp: truncated VP8X header")
          if ((d(pos + 8) & 0x02) != 0)
            return Left("webp: animated WebP out of scope (still images only)")
          pos += 8 + size.toInt + (size.toInt & 1)
        case _ =>
          pos += 8 + size.toInt + (size.toInt & 1) // chunks are even-padded
      }
    }
    if (payload < 0) return Left("webp: no VP8L chunk found")
    if ((d(payload) & 0xff) != 0x2f) return Left("webp: bad VP8L signature byte")
    val br = new BitReader(d, payload + 1, payloadEnd)
    val width = br.bits(14) + 1
    val height = br.bits(14) + 1
    br.bit() // alpha hint — informational
    val version = br.bits(3)
    if (version != 0) return Left(s"webp: VP8L version $version not supported")

    val px = decodeImageStream(br, width, height, isLevel0 = true)
    val nPx = width.toLong * height

    // stats + aHash grid over the fully inverse-transformed raster;
    // alpha excluded (channels = 3, the rgba.png rule)
    var sr = 0L
    var sg = 0L
    var sb = 0L
    var mn = Int.MaxValue
    var mx = Int.MinValue
    var i = 0
    while (i < nPx) {
      val v = px(i)
      val r = (v >>> 16) & 0xff
      val g = (v >>> 8) & 0xff
      val b = v & 0xff
      sr += r; sg += g; sb += b
      val lo = math.min(g, math.min(r, b))
      val hi = math.max(g, math.max(r, b))
      if (lo < mn) mn = lo
      if (hi > mx) mx = hi
      i += 1
    }
    val grays = new Array[Int](64)
    var gi = 0
    while (gi < 64) {
      val y = (gi / 8) * height / 8
      val x = (gi % 8) * width / 8
      val v = px(y * width + x)
      grays(gi) = ((v >>> 16) & 0xff) + ((v >>> 8) & 0xff) + (v & 0xff)
      gi += 1
    }
    Right((ImageStats("webp", width, height, 3, 255, nPx,
      sr.toDouble / nPx, sg.toDouble / nPx, sb.toDouble / nPx, mn, mx),
      grays))
  }

  /** ceil(size / 2^bits) — the spec's DIV_ROUND_UP over subsampled
    * transform/entropy images.
    */
  private def subSample(size: Int, bits: Int): Int =
    (size + (1 << bits) - 1) >> bits

  /** Per-channel byte-wise add mod 256 (the spec's pixel addition —
    * predictor residuals and palette delta accumulation).
    */
  private def addPixels(a: Int, b: Int): Int = {
    val al = ((a >>> 24) + (b >>> 24)) & 0xff
    val r = (((a >>> 16) & 0xff) + ((b >>> 16) & 0xff)) & 0xff
    val g = (((a >>> 8) & 0xff) + ((b >>> 8) & 0xff)) & 0xff
    val bl = ((a & 0xff) + (b & 0xff)) & 0xff
    (al << 24) | (r << 16) | (g << 8) | bl
  }

  /** One transform, recorded at read time: `bits` is the block
    * size_bits (predictor/color) or the palette width_bits, `xsize`
    * the image width WHEN the transform was read (palette shrinks it
    * for everything after), `data` the decoded sub-image (predictor
    * modes / transform elements) or the cumulated palette.
    */
  private final case class Xform(tpe: Int, bits: Int, xsize: Int, data: Array[Int])

  /** Decode one VP8L image stream to ARGB, recursively: level 0 reads
    * transforms and the optional entropy image (meta prefix groups);
    * sub-images (transform data, entropy image, palette) share the
    * same spatial decoder without those headers — exactly the spec's
    * DecodeImageStream shape. Inverse transforms apply in reverse
    * read order on the way out.
    */
  private def decodeImageStream(br: BitReader, xsize0: Int, ysize: Int,
      isLevel0: Boolean): Array[Int] = {
    var xsize = xsize0
    val transforms = scala.collection.mutable.ArrayBuffer.empty[Xform]
    if (isLevel0) {
      var seen = 0
      while (br.bit() == 1) {
        val t = br.bits(2)
        if ((seen & (1 << t)) != 0) throw Malformed("webp: duplicate transform")
        seen |= 1 << t
        t match {
          case 2 => transforms += Xform(2, 0, xsize, null) // subtract-green
          case 0 | 1 => // predictor / cross-color: per-block sub-image
            val bits = br.bits(3) + 2
            val sub = decodeImageStream(br,
              subSample(xsize, bits), subSample(ysize, bits), isLevel0 = false)
            transforms += Xform(t, bits, xsize, sub)
          case _ => // color indexing (palette)
            val palSize = br.bits(8) + 1
            val deltas = decodeImageStream(br, palSize, 1, isLevel0 = false)
            val pal = new Array[Int](palSize)
            var prev = 0
            var i = 0
            while (i < palSize) { prev = addPixels(prev, deltas(i)); pal(i) = prev; i += 1 }
            val widthBits =
              if (palSize <= 2) 3 else if (palSize <= 4) 2
              else if (palSize <= 16) 1 else 0
            transforms += Xform(3, widthBits, xsize, pal)
            xsize = subSample(xsize, widthBits) // indices pack into green
        }
      }
    }
    val nPx = xsize.toLong * ysize
    capped("webp", "pixel buffer", nPx * 4)
    if (nPx <= 0) throw Malformed("webp: empty image stream")

    val cacheBits = if (br.bit() == 1) br.bits(4) else 0
    if (cacheBits > 11) throw Malformed(s"webp: bad color-cache bits $cacheBits")
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null

    // entropy image (meta prefix groups) — level 0 only, per spec
    var metaBits = 0
    var metaW = 0
    var meta: Array[Int] = null
    var numGroups = 1
    if (isLevel0 && br.bit() == 1) {
      metaBits = br.bits(3) + 2
      metaW = subSample(xsize, metaBits)
      meta = decodeImageStream(br, metaW, subSample(ysize, metaBits), isLevel0 = false)
      var mxv = 0
      var i = 0
      while (i < meta.length) {
        val g = (meta(i) >>> 8) & 0xffff
        if (g > mxv) mxv = g
        i += 1
      }
      numGroups = mxv + 1
    }
    val greenT = new Array[Huff](numGroups)
    val redT = new Array[Huff](numGroups)
    val blueT = new Array[Huff](numGroups)
    val alphaT = new Array[Huff](numGroups)
    val distT = new Array[Huff](numGroups)
    var gI = 0
    while (gI < numGroups) {
      greenT(gI) = readCode(br, 256 + 24 + cacheSize)
      redT(gI) = readCode(br, 256)
      blueT(gI) = readCode(br, 256)
      alphaT(gI) = readCode(br, 256)
      distT(gI) = readCode(br, 40)
      gI += 1
    }

    val px = new Array[Int](nPx.toInt)
    def insertCache(argb: Int): Unit =
      if (cache != null)
        cache((0x1e35a7bd * argb) >>> (32 - cacheBits)) = argb
    var i = 0
    var x = 0
    var y = 0
    def advance(n: Int): Unit = {
      i += n
      x += n
      while (x >= xsize) { x -= xsize; y += 1 }
    }
    while (i < nPx) {
      val group =
        if (meta == null) 0
        else (meta((y >> metaBits) * metaW + (x >> metaBits)) >>> 8) & 0xffff
      val g = greenT(group).read(br)
      if (g < 256) {
        val r = redT(group).read(br)
        val b = blueT(group).read(br)
        val a = alphaT(group).read(br)
        val argb = (a << 24) | (r << 16) | (g << 8) | b
        px(i) = argb
        insertCache(argb)
        advance(1)
      } else if (g < 256 + 24) {
        val len = prefixValue(g - 256, br)
        val distCode = prefixValue(distT(group).read(br), br)
        val dist0 =
          if (distCode > 120) distCode - 120
          else {
            val (dx, dy) = DistMap(distCode - 1)
            dy * xsize + dx
          }
        val dist = math.max(1, dist0)
        if (dist > i) throw Malformed("webp: LZ77 distance before image start")
        if (i + len > nPx) throw Malformed("webp: LZ77 run overruns raster")
        var k = 0
        while (k < len) {
          px(i + k) = px(i + k - dist)
          insertCache(px(i + k))
          k += 1
        }
        advance(len)
      } else {
        if (cache == null) throw Malformed("webp: cache reference without a color cache")
        val argb = cache(g - 256 - 24)
        px(i) = argb
        insertCache(argb) // a re-insert of the same slot, per spec
        advance(1)
      }
    }

    // inverse transforms, reverse read order
    var out = px
    var outXsize = xsize
    transforms.reverseIterator.foreach { tr =>
      tr.tpe match {
        case 3 =>
          out = unpackPalette(out, outXsize, ysize, tr.xsize, tr.bits, tr.data)
          outXsize = tr.xsize
        case 2 => addGreenInverse(out)
        case 0 => predictorInverse(out, outXsize, ysize, tr.bits, tr.data)
        case _ => colorInverse(out, outXsize, ysize, tr.bits, tr.data)
      }
    }
    out
  }

  /** Color-indexing inverse: unpack `1 << widthBits` indices per green
    * byte (LSB-first sub-positions) and map through the palette. An
    * index past the palette is a parse error, never a silent read.
    */
  private def unpackPalette(packed: Array[Int], packedW: Int, ysize: Int,
      fullW: Int, widthBits: Int, pal: Array[Int]): Array[Int] = {
    val out = new Array[Int](fullW * ysize)
    val perUnit = 1 << widthBits
    val bitsPer = 8 >> widthBits
    val mask = (1 << bitsPer) - 1
    var y = 0
    while (y < ysize) {
      var x = 0
      while (x < fullW) {
        val unit = packed(y * packedW + (x >> widthBits))
        val idx = (((unit >>> 8) & 0xff) >> (bitsPer * (x & (perUnit - 1)))) & mask
        if (idx >= pal.length) throw Malformed("webp: palette index out of range")
        out(y * fullW + x) = pal(idx)
        x += 1
      }
      y += 1
    }
    out
  }

  private def addGreenInverse(px: Array[Int]): Unit = {
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val g = (p >>> 8) & 0xff
      val r = (((p >>> 16) & 0xff) + g) & 0xff
      val b = ((p & 0xff) + g) & 0xff
      px(i) = (p & 0xff00ff00) | (r << 16) | b
      i += 1
    }
  }

  /** Per-channel floor average of two ARGB pixels (SWAR). */
  private def avg2(a: Int, b: Int): Int =
    (((a ^ b) & 0xfefefefe) >>> 1) + (a & b)

  private def sub3(a: Int, b: Int, c: Int): Int =
    math.abs(b - c) - math.abs(a - c)

  /** The spec's Select predictor: a = top, b = left, c = top-left. */
  private def select(a: Int, b: Int, c: Int): Int = {
    val paMinusPb =
      sub3((a >>> 24) & 0xff, (b >>> 24) & 0xff, (c >>> 24) & 0xff) +
        sub3((a >>> 16) & 0xff, (b >>> 16) & 0xff, (c >>> 16) & 0xff) +
        sub3((a >>> 8) & 0xff, (b >>> 8) & 0xff, (c >>> 8) & 0xff) +
        sub3(a & 0xff, b & 0xff, c & 0xff)
    if (paMinusPb <= 0) a else b
  }

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def clampAddSubFull(a: Int, b: Int, c: Int): Int = {
    def ch(sh: Int): Int =
      clip255(((a >>> sh) & 0xff) + ((b >>> sh) & 0xff) - ((c >>> sh) & 0xff))
    (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
  }

  private def clampAddSubHalf(ave: Int, c: Int): Int = {
    def ch(sh: Int): Int = {
      val a = (ave >>> sh) & 0xff
      val b = (c >>> sh) & 0xff
      clip255(a + (a - b) / 2) // integer division truncates toward zero
    }
    (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
  }

  /** Predictor-transform inverse: residual + prediction per channel,
    * mod 256. Mode per block from the sub-image's green channel; the
    * first pixel predicts opaque black, the top row L, the left
    * column T; the right edge's TR is the current row's first pixel
    * (the linear-index wrap the spec's row layout implies).
    */
  private def predictorInverse(px: Array[Int], w: Int, h: Int, bits: Int,
      modeImg: Array[Int]): Unit = {
    val bw = subSample(w, bits)
    var y = 0
    var idx = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val pred: Int =
          if (y == 0 && x == 0) 0xff000000
          else if (y == 0) px(idx - 1)
          else if (x == 0) px(idx - w)
          else {
            val mode = (modeImg((y >> bits) * bw + (x >> bits)) >>> 8) & 0xff
            val left = px(idx - 1)
            val top = px(idx - w)
            val tr = px(idx - w + 1)
            val tl = px(idx - w - 1)
            mode match {
              case 0 => 0xff000000
              case 1 => left
              case 2 => top
              case 3 => tr
              case 4 => tl
              case 5 => avg2(avg2(left, tr), top)
              case 6 => avg2(left, tl)
              case 7 => avg2(left, top)
              case 8 => avg2(tl, top)
              case 9 => avg2(top, tr)
              case 10 => avg2(avg2(left, tl), avg2(top, tr))
              case 11 => select(top, left, tl)
              case 12 => clampAddSubFull(left, top, tl)
              case 13 => clampAddSubHalf(avg2(left, top), tl)
              case m => throw Malformed(s"webp: bad predictor mode $m")
            }
          }
        px(idx) = addPixels(px(idx), pred)
        x += 1
        idx += 1
      }
      y += 1
    }
  }

  /** Cross-color inverse: per block, signed 3.5 fixed-point deltas
    * (green_to_red in the element's blue byte, green_to_blue in
    * green, red_to_blue in red — the spec's ColorCodeToMultipliers
    * packing); red restores first, then blue uses the RESTORED red.
    */
  private def colorInverse(px: Array[Int], w: Int, h: Int, bits: Int,
      elemImg: Array[Int]): Unit = {
    val bw = subSample(w, bits)
    def delta(t: Byte, c: Byte): Int = (t * c) >> 5
    var y = 0
    var idx = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val e = elemImg((y >> bits) * bw + (x >> bits))
        val g2r = (e & 0xff).toByte
        val g2b = ((e >>> 8) & 0xff).toByte
        val r2b = ((e >>> 16) & 0xff).toByte
        val p = px(idx)
        val g = ((p >>> 8) & 0xff).toByte
        val r = (((p >>> 16) & 0xff) + delta(g2r, g)) & 0xff
        var b = ((p & 0xff) + delta(g2b, g)) & 0xff
        b = (b + delta(r2b, r.toByte)) & 0xff
        px(idx) = (p & 0xff00ff00) | (r << 16) | b
        x += 1
        idx += 1
      }
      y += 1
    }
  }


  // ------------------------------------------------------------ encode

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream(1 << 12)
    private var acc = 0L
    private var n = 0
    def put(v: Int, k: Int): Unit = {
      acc |= (v.toLong & ((1L << k) - 1)) << n
      n += k
      while (n >= 8) {
        out.write((acc & 0xff).toInt)
        acc >>>= 8
        n -= 8
      }
    }
    /** A canonical prefix code: first-WRITTEN bit is the code's MSB. */
    def putCode(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { put((code >> i) & 1, 1); i -= 1 }
    }
    def toBytes: Array[Byte] = {
      if (n > 0) { out.write((acc & 0xff).toInt); acc = 0; n = 0 }
      out.toByteArray
    }
  }

  /** A FLAT 8-bit canonical code over symbols 0..255 (code == symbol),
    * transmitted through the real normal-code path: CL code {8->0,
    * 16->1} at one bit each, max_symbol = 44 tokens, one literal "8"
    * then 43 repeat-previous tokens. Complete (256 x 2^-8 = 1) with
    * any trailing alphabet symbols at length 0.
    */
  private def writeFlat8(bw: BitWriter): Unit = {
    bw.put(0, 1) // normal code
    bw.put(15, 4) // num_code_lengths - 4 = 15 -> all 19 slots
    var i = 0
    while (i < 19) {
      val len = if (ClOrder(i) == 8 || ClOrder(i) == 16) 1 else 0
      bw.put(len, 3)
      i += 1
    }
    bw.put(1, 1) // use max_symbol
    bw.put(3, 3) // length_nbits = 2 + 2*3 = 8
    bw.put(42, 8) // max tokens = 2 + 42 = 44
    // canonical CL code: symbol 8 -> 0, symbol 16 -> 1
    bw.putCode(0, 1) // literal length 8 (symbol 0 of the run)
    var reps = 0
    while (reps < 42) { bw.putCode(1, 1); bw.put(3, 2); reps += 1 } // 42 x repeat-6
    bw.putCode(1, 1); bw.put(0, 2) // + repeat-3 -> 1 + 252 + 3 = 256 symbols
  }

  /** A 0-bit single-symbol simple code. */
  private def writeSingle(bw: BitWriter, sym: Int): Unit = {
    bw.put(1, 1) // simple
    bw.put(0, 1) // one symbol
    if (sym < 2) { bw.put(0, 1); bw.put(sym, 1) }
    else { bw.put(1, 1); bw.put(sym, 8) }
  }

  /** Lossless VP8L encode of an 8-bit RGB raster — literal-only (24
    * bits/px), no transforms, no cache, flat green/red/blue codes,
    * 0-bit alpha(255)/distance trees. The fixture/adapter substrate;
    * byte-exact round trip by construction.
    */
  def encodeWebpLossless(rgb: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(w >= 1 && w <= 16384 && h >= 1 && h <= 16384,
      s"encodeWebpLossless: bad dimensions ${w}x$h")
    require(rgb.length == 3 * w * h,
      s"encodeWebpLossless: raster length ${rgb.length} != 3*$w*$h")
    val bw = new BitWriter
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1) // no alpha
    bw.put(0, 3) // version 0
    bw.put(0, 1) // no transforms
    bw.put(0, 1) // no color cache
    bw.put(0, 1) // no meta prefix codes
    writeFlat8(bw) // green (alphabet 280; lengths beyond 255 are 0)
    writeFlat8(bw) // red
    writeFlat8(bw) // blue
    writeSingle(bw, 255) // alpha
    writeSingle(bw, 0) // distance (unused)
    var i = 0
    while (i < w * h) {
      val r = rgb(3 * i) & 0xff
      val g = rgb(3 * i + 1) & 0xff
      val b = rgb(3 * i + 2) & 0xff
      // flat-8 canonical code: code == symbol, written MSB-first
      bw.putCode(g, 8)
      bw.putCode(r, 8)
      bw.putCode(b, 8)
      // alpha/distance trees are 0-bit
      i += 1
    }
    val payload = Array[Byte](0x2f) ++ bw.toBytes
    val out = new java.io.ByteArrayOutputStream(payload.length + 24)
    def ascii(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def put32le(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    val padded = payload.length + (payload.length & 1)
    ascii("RIFF")
    put32le(4 + 8 + padded)
    ascii("WEBP")
    ascii("VP8L")
    put32le(payload.length)
    out.write(payload)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }
}

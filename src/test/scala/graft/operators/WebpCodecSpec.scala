package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** VP8L (lossless WebP): exact round trips through the real normal-
  * code path, cross-format aHash twins with the PNM/PNG raster rule,
  * hand-built bitstreams for the decode-only paths (LZ77 backrefs via
  * both distance mappings, color cache, subtract-green, 2-symbol
  * simple codes), and the malformed-input discipline (Left, never a
  * throw). The committed python fixture pins the decoder against an
  * independent encoder in ImageCodecSpec.
  */
class WebpCodecSpec extends AnyFunSuite {

  private def seededBytes(n: Int, seed: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextInt(256).toByte)
  }

  test("round trip is EXACT across geometries (lossless by construction)") {
    for ((w, h, seed) <- Seq((1, 1, 1), (7, 3, 2), (16, 16, 3), (23, 9, 4))) {
      val rgb = seededBytes(3 * w * h, seed)
      val webp = WebpCodec.encodeWebpLossless(rgb, w, h)
      val (s, _) = WebpCodec.decode(webp).toOption.get
      assert(s.codec === "webp")
      assert((s.width, s.height, s.channels, s.maxval) === ((w, h, 3, 255)))
      assert(s.nPixels === w.toLong * h)
      val n = w * h
      def mean(c: Int): Double =
        (0 until n).map(i => (rgb(3 * i + c) & 0xff).toLong).sum.toDouble / n
      assert((s.rMean, s.gMean, s.bMean) === ((mean(0), mean(1), mean(2))))
      assert(s.pxMin === rgb.map(_ & 0xff).min && s.pxMax === rgb.map(_ & 0xff).max)
    }
  }

  test("aHash: a WebP re-encode of the same raster twins the PPM at hamming 0") {
    val w = 9
    val h = 5
    val rgb = seededBytes(3 * w * h, 7)
    val ppm = (s"P6\n$w $h\n255\n").getBytes("ISO-8859-1") ++ rgb
    val webp = WebpCodec.encodeWebpLossless(rgb, w, h)
    assert(ImageCodec.aHash(ppm) === ImageCodec.aHash(webp))
    // and the generic decode entry point routes the sniff
    assert(ImageCodec.decode(webp).toOption.get.codec === "webp")
  }

  /** Bit-level VP8L writer for decode-only paths the Scala encoder
    * never emits — independent of the production BitWriter.
    */
  private final class Bits {
    private val out = new scala.collection.mutable.ArrayBuffer[Byte]
    private var acc = 0L
    private var n = 0
    def put(v: Int, k: Int): Unit = {
      acc |= (v.toLong & ((1L << k) - 1)) << n
      n += k
      while (n >= 8) { out += (acc & 0xff).toByte; acc >>>= 8; n -= 8 }
    }
    def code(c: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { put((c >> i) & 1, 1); i -= 1 }
    }
    def riff(): Array[Byte] = {
      if (n > 0) { out += (acc & 0xff).toByte; acc = 0; n = 0 }
      val payload = Array[Byte](0x2f) ++ out.toArray
      val b = new java.io.ByteArrayOutputStream()
      def a(s: String): Unit = b.write(s.getBytes("US-ASCII"))
      def u(v: Int): Unit = { b.write(v & 0xff); b.write((v >> 8) & 0xff); b.write((v >> 16) & 0xff); b.write((v >> 24) & 0xff) }
      val padded = payload.length + (payload.length & 1)
      a("RIFF"); u(4 + 8 + padded); a("WEBP"); a("VP8L"); u(payload.length)
      b.write(payload); if ((payload.length & 1) == 1) b.write(0)
      b.toByteArray
    }
  }

  /** Header + five trees for a tiny two-color stream: 2-symbol SIMPLE
    * codes for green/red/blue (1 bit per channel symbol), 0-bit alpha
    * and a 2-symbol distance tree.
    */
  private def twoColorHeader(b: Bits, w: Int, h: Int, subtractGreen: Boolean,
      cacheBits: Int, g2: (Int, Int), r2: (Int, Int), b2: (Int, Int)): Unit = {
    b.put(w - 1, 14); b.put(h - 1, 14); b.put(0, 1); b.put(0, 3)
    if (subtractGreen) { b.put(1, 1); b.put(2, 2) } // one transform: type 2
    b.put(0, 1) // end of transforms
    if (cacheBits > 0) { b.put(1, 1); b.put(cacheBits, 4) } else b.put(0, 1)
    b.put(0, 1) // no meta codes
    def simple2(lo: Int, hi: Int): Unit = {
      b.put(1, 1); b.put(1, 1) // simple, two symbols
      b.put(1, 1); b.put(lo, 8) // first symbol, 8-bit form
      b.put(hi, 8)
    }
    simple2(g2._1, g2._2); simple2(r2._1, r2._2); simple2(b2._1, b2._2)
    b.put(1, 1); b.put(0, 1); b.put(1, 1); b.put(255, 8) // alpha single 255
    simple2(0, 1) // distance: prefix codes 0 and 1 at one bit each
  }

  test("two-color literal stream (2-symbol simple codes) decodes exactly") {
    val b = new Bits
    twoColorHeader(b, 2, 2, subtractGreen = false, cacheBits = 0,
      (10, 20), (30, 40), (50, 60))
    def lit(bit: Int): Unit = { b.code(bit, 1); b.code(bit, 1); b.code(bit, 1) }
    lit(0); lit(1); lit(1); lit(0)
    val (s, _) = WebpCodec.decode(b.riff()).toOption.get
    assert((s.width, s.height) === ((2, 2)))
    assert(s.gMean === 15.0 && s.rMean === 35.0 && s.bMean === 55.0)
    assert(s.pxMin === 10 && s.pxMax === 60)
  }

  test("subtract-green transform inverts: stored r/b get green added back") {
    val b = new Bits
    // literals store (g, r-g, b-g): g in {100,200}, stored r 50, b 100
    // (second red/blue symbols are decoys so the codes stay 1-bit)
    twoColorHeader(b, 2, 1, subtractGreen = true, cacheBits = 0,
      (100, 200), (50, 51), (100, 101))
    def lit(bit: Int): Unit = { b.code(bit, 1); b.code(0, 1); b.code(0, 1) }
    lit(0); lit(1)
    val (s, _) = WebpCodec.decode(b.riff()).toOption.get
    // px1: g=100 r=150 b=200; px2: g=200 r=(50+200)&255=250 b=(100+200)&255=44
    assert(s.gMean === 150.0)
    assert(s.rMean === 200.0)
    assert(s.bMean === (200.0 + 44.0) / 2)
  }

  /** Green tree with literals {10, 20} and the length symbol 256,
    * written through the REAL code-length-code path: lengths 10->2,
    * 20->2, 256->1 (Kraft 1/4+1/4+1/2 = 1); canonical codes 256->'0',
    * 10->'10', 20->'11'. CL tree over {1, 2, 17, 18} at two bits each
    * (canonical 1->'00', 2->'01', 17->'10', 18->'11').
    */
  private def greenWithLengths(b: Bits): Unit = {
    b.put(0, 1) // normal code
    b.put(15, 4) // all 19 CL slots
    // ClOrder = 17,18,0..15,16: 3-bit lengths, 2 for {1,2,17,18}
    val lens = Map(17 -> 2, 18 -> 2, 1 -> 2, 2 -> 2)
    for (s <- Array(17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16))
      b.put(lens.getOrElse(s, 0), 3)
    b.put(1, 1) // use max_symbol
    b.put(1, 3) // nbits = 2 + 2*1 = 4
    b.put(5, 4) // max tokens = 2 + 5 = 7
    // tokens: 17(rep10 zeros) 2 17(rep9 zeros) 2 18(rep138) 18(rep97) 1
    b.code(2, 2); b.put(10 - 3, 3) // 17: zeros 0..9
    b.code(1, 2) // symbol 10 -> length 2
    b.code(2, 2); b.put(9 - 3, 3) // 17: zeros 11..19
    b.code(1, 2) // symbol 20 -> length 2
    b.code(3, 2); b.put(138 - 11, 7) // 18: zeros 21..158
    b.code(3, 2); b.put(97 - 11, 7) // 18: zeros 159..255
    b.code(0, 2) // symbol 256 -> length 1
  }

  private def simple2(b: Bits, lo: Int, hi: Int): Unit = {
    b.put(1, 1); b.put(1, 1); b.put(1, 1); b.put(lo, 8); b.put(hi, 8)
  }
  private def single(b: Bits, sym: Int): Unit = {
    b.put(1, 1); b.put(0, 1)
    if (sym < 2) { b.put(0, 1); b.put(sym, 1) }
    else { b.put(1, 1); b.put(sym, 8) }
  }

  test("LZ77 via the 2D distance map: dist code (0,1) copies the row above") {
    val b = new Bits
    b.put(3, 14); b.put(1, 14); b.put(0, 1); b.put(0, 3) // 4x2
    b.put(0, 1); b.put(0, 1); b.put(0, 1) // no transform/cache/meta
    greenWithLengths(b)
    simple2(b, 30, 40) // red
    simple2(b, 50, 60) // blue
    single(b, 255) // alpha
    single(b, 0) // distance: prefix code 0 -> value 1 -> DistMap(0)=(0,1)
    // row 0: 4 literals alternating (10,30,50)/(20,40,60)
    def lit(bit: Int): Unit = {
      b.code(if (bit == 0) 2 else 3, 2) // green 10='10' or 20='11'
      b.code(bit, 1); b.code(bit, 1)
    }
    lit(0); lit(1); lit(0); lit(1)
    // row 1: four 1-px backrefs (green 256='0', length code 0 -> len 1;
    // distance symbol reads 0 bits) copying dist = 0*?+... (0,1) -> width
    for (_ <- 0 until 4) b.code(0, 1)
    val (s, _) = WebpCodec.decode(b.riff()).toOption.get
    assert((s.width, s.height) === ((4, 2)))
    // both rows identical: means are the two-pixel averages
    assert(s.gMean === 15.0 && s.rMean === 35.0 && s.bMean === 55.0)
  }

  test("LZ77 via a DIRECT distance code (>120) behaves identically") {
    val b = new Bits
    b.put(3, 14); b.put(1, 14); b.put(0, 1); b.put(0, 3) // 4x2
    b.put(0, 1); b.put(0, 1); b.put(0, 1)
    greenWithLengths(b)
    simple2(b, 30, 40)
    simple2(b, 50, 60)
    single(b, 255)
    // distance tree: single symbol 13 -> prefixValue reads 5 extra
    // bits; offset (2+1)<<5 = 96, so bits=27 -> 124 -> direct dist 4
    single(b, 13)
    def lit(bit: Int): Unit = {
      b.code(if (bit == 0) 2 else 3, 2); b.code(bit, 1); b.code(bit, 1)
    }
    lit(0); lit(1); lit(0); lit(1)
    for (_ <- 0 until 4) { b.code(0, 1); b.put(27, 5) } // backref len1 dist124-120=4
    val (s, _) = WebpCodec.decode(b.riff()).toOption.get
    assert(s.gMean === 15.0 && s.rMean === 35.0 && s.bMean === 55.0)
  }

  test("color cache: a cache hit replays the inserted pixel") {
    val cacheBits = 2
    val argb = (255 << 24) | (30 << 16) | (10 << 8) | 50 // the literal below
    val idx = (0x1e35a7bd * argb) >>> (32 - cacheBits)
    // green alphabet = 256+24+4; cache symbol 280+idx > 255 exceeds the
    // simple-code 8-bit form, so green rides the normal-code path
    val b2 = new Bits
    b2.put(1, 14); b2.put(0, 14); b2.put(0, 1); b2.put(0, 3) // 2x1
    b2.put(0, 1)
    b2.put(1, 1); b2.put(cacheBits, 4)
    b2.put(0, 1)
    // green lengths: 10 -> 1, (280+idx) -> 1
    b2.put(0, 1) // normal
    b2.put(15, 4)
    val lens = Map(17 -> 2, 18 -> 2, 0 -> 2, 1 -> 2)
    for (s <- Array(17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16))
      b2.put(lens.getOrElse(s, 0), 3)
    b2.put(1, 1); b2.put(2, 3); b2.put(3, 6) // nbits 6, max tokens 2+3 = 5
    // CL canonical over {0,1,17,18} at len 2: 0->'00' 1->'01' 17->'10' 18->'11'
    // tokens: 17(rep10) 1 18(rep(280+idx-11)) ... idx is runtime: two 17/18 runs
    val zerosAfter10 = 280 + idx - 11 // symbols 11 .. 279+idx are zero
    assert(zerosAfter10 >= 11 && zerosAfter10 <= 138 + 138)
    b2.code(2, 2); b2.put(10 - 3, 3) // zeros 0..9
    b2.code(1, 2) // symbol 10 -> len 1
    val rep1 = math.min(138, zerosAfter10)
    b2.code(3, 2); b2.put(rep1 - 11, 7)
    val rep2 = zerosAfter10 - rep1
    if (rep2 > 0) {
      assert(rep2 >= 11, s"second zero-run $rep2 must fit an 18 token")
      b2.code(3, 2); b2.put(rep2 - 11, 7)
    }
    b2.code(1, 2) // symbol 280+idx -> len 1
    simple2(b2, 30, 30) // red (degenerate two-equal -> 0-bit)
    simple2(b2, 50, 50) // blue
    single(b2, 255) // alpha
    single(b2, 0) // distance (unused)
    // green canonical: 10 -> '0', 280+idx -> '1'
    b2.code(0, 1) // literal (10,30,50): red/blue/alpha read 0 bits
    b2.code(1, 1) // cache hit -> same pixel
    val (s2, _) = WebpCodec.decode(b2.riff()).toOption.get
    assert((s2.width, s2.height) === ((2, 1)))
    assert(s2.gMean === 10.0 && s2.rMean === 30.0 && s2.bMean === 50.0)
  }

  test("VP8X container: still lossless decodes through the chunk walk; animated is a Left") {
    val inner = WebpCodec.encodeWebpLossless(seededBytes(27, 6), 3, 3)
    val vp8l = inner.drop(12) // the VP8L chunk (fourcc + size + payload)
    def riffWith(flags: Int): Array[Byte] = {
      val vp8x = Array[Byte]('V'.toByte, 'P'.toByte, '8'.toByte, 'X'.toByte,
        10, 0, 0, 0, flags.toByte, 0, 0, 0, 2, 0, 0, 2, 0, 0) // canvas 3x3-1
      val body = "WEBP".getBytes("US-ASCII") ++ vp8x ++ vp8l
      val out = new java.io.ByteArrayOutputStream()
      out.write("RIFF".getBytes("US-ASCII"))
      val n = body.length
      out.write(n & 0xff); out.write((n >> 8) & 0xff)
      out.write((n >> 16) & 0xff); out.write((n >> 24) & 0xff)
      out.write(body)
      out.toByteArray
    }
    val still = WebpCodec.decode(riffWith(0x00)).toOption.get._1
    val plain = WebpCodec.decode(inner).toOption.get._1
    assert(still === plain)
    assert(WebpCodec.decode(riffWith(0x02)).left.exists(_.contains("animated")))
  }

  test("malformed payloads are Left(reason), never an exception") {
    val good = WebpCodec.encodeWebpLossless(seededBytes(27, 5), 3, 3)
    assert(WebpCodec.decode("not webp".getBytes).isLeft)
    // lossy container is an explicit Left
    val lossy = good.clone()
    lossy(12) = 'V'; lossy(13) = 'P'; lossy(14) = '8'; lossy(15) = ' '
    assert(WebpCodec.decode(lossy).left.exists(_.contains("lossy")))
    // truncations and bit flips never throw
    for (cut <- Seq(4, 12, 20, good.length - 2))
      WebpCodec.decode(good.take(cut))
    val rnd = new scala.util.Random(99)
    for (_ <- 0 until 300) {
      val bb = good.clone()
      val i = rnd.nextInt(bb.length)
      bb(i) = (bb(i) ^ (1 << rnd.nextInt(8))).toByte
      WebpCodec.decode(bb) // Left or Right, must not throw
    }
  }

  test("Huff: the counted canonical code ≡ the sort-built one it replaced") {
    import graft.bytes.Bytes.Malformed
    val rnd = new java.util.SplittableRandom(20261020L)
    // a complete code: split random leaves until `leaves` remain
    def complete(leaves: Int): Array[Int] = {
      val ls = scala.collection.mutable.ArrayBuffer(1, 1)
      while (ls.length < leaves) {
        val i = rnd.nextInt(ls.length)
        if (ls(i) < 15) { ls(i) += 1; ls += ls(i) }
      }
      ls.toArray
    }
    def place(ls: Array[Int], alphabet: Int): Array[Int] = {
      val out = new Array[Int](alphabet)
      val syms = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
        .shuffle((0 until alphabet).toList).take(ls.length)
      syms.zip(ls).foreach { case (sym, l) => out(sym) = l }
      out
    }
    def vector(kind: Int): Array[Int] = {
      val alphabet = 2 + rnd.nextInt(300)
      val ls = complete(2 + rnd.nextInt(math.min(alphabet, 60) - 1))
      kind match {
        case 0 => place(ls, alphabet) // complete
        case 1 => // over-subscribed: one code shorter
          val i = ls.indexWhere(_ > 1); if (i >= 0) ls(i) -= 1; place(ls, alphabet)
        case 2 => // under-subscribed: one code longer
          val i = ls.indexWhere(_ < 15); if (i >= 0) ls(i) += 1; place(ls, alphabet)
        case 3 => ls(rnd.nextInt(ls.length)) = 16 + rnd.nextInt(5); place(ls, alphabet)
        case 4 => place(Array(1 + rnd.nextInt(20)), alphabet) // one symbol
        case _ => new Array[Int](alphabet) // empty
      }
    }
    def outcome(build: => Unit): Option[String] =
      try { build; None } catch { case Malformed(m) => Some(m) }
    val stream = Array.fill(64)(rnd.nextInt(256).toByte)
    def symbols(read: WebpCodec.BitReader => Int): (Seq[Int], Option[String]) = {
      val br = new WebpCodec.BitReader(stream, 0, stream.length)
      val out = Seq.newBuilder[Int]
      var err: Option[String] = None
      var k = 0
      while (err.isEmpty && k < 300) {
        try out += read(br) catch { case Malformed(m) => err = Some(m) }
        k += 1
      }
      (out.result(), err)
    }
    var built = 0
    for (i <- 0 until 3000) {
      val ls = vector(i % 6)
      var neu: WebpCodec.Huff = null
      var old: OldHuff = null
      val want = outcome { old = new OldHuff(ls.clone()) }
      assert(outcome { neu = new WebpCodec.Huff(ls.clone()) } === want, ls.mkString(","))
      if (want.isEmpty) {
        built += 1
        assert(symbols(neu.read) === symbols(old.read), ls.mkString(","))
      }
    }
    assert(built > 1000)
  }

  /** WebpCodec's prefix code before the counting rewrite, verbatim. */
  private final class OldHuff(lengths: Array[Int]) {
    import graft.bytes.Bytes.Malformed
    private var single = -1
    private var left: Array[Int] = null
    private var right: Array[Int] = null
    locally {
      val used = lengths.zipWithIndex.filter(_._1 > 0)
      if (used.isEmpty) throw Malformed("webp: empty prefix code")
      if (used.length == 1) single = used(0)._2
      else {
        var kraft = 0.0
        used.foreach { case (l, _) =>
          if (l > 15) throw Malformed(s"webp: code length $l > 15")
          kraft += 1.0 / (1L << l)
        }
        if (math.abs(kraft - 1.0) > 1e-12)
          throw Malformed("webp: prefix code not complete")
        val maxNodes = 2 * used.length + 16
        left = Array.fill(maxNodes)(0)
        right = Array.fill(maxNodes)(0)
        var nextNode = 1
        var code = 0
        var prevLen = 0
        used.sortBy { case (l, s) => (l, s) }.foreach { case (l, sym) =>
          code <<= (l - prevLen)
          prevLen = l
          var node = 0
          var i = l - 1
          while (i >= 0) {
            val b = (code >> i) & 1
            if (i == 0) {
              if (b == 0) left(node) = -sym - 1 else right(node) = -sym - 1
            } else {
              val nxt = if (b == 0) left(node) else right(node)
              val child =
                if (nxt > 0) nxt
                else {
                  val c = nextNode
                  nextNode += 1
                  if (b == 0) left(node) = c else right(node) = c
                  c
                }
              node = child
            }
            i -= 1
          }
          code += 1
        }
      }
    }
    def read(br: WebpCodec.BitReader): Int = {
      if (single >= 0) return single
      var node = 0
      while (true) {
        val nxt = if (br.bit() == 0) left(node) else right(node)
        if (nxt < 0) return -nxt - 1
        if (nxt == 0) throw Malformed("webp: invalid prefix code walk")
        node = nxt
      }
      -1
    }
  }
}

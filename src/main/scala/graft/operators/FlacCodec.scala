package graft.operators

import graft.bytes.Bytes._

/** FLAC decode — the lossless audio sibling of [[ImageCodec]]'s PNG
  * path, dependency-free: after WAV/PCM this is the audio format a
  * crawl actually carries losslessly (podcast masters, archival
  * speech corpora). Implements the public format (xiph.org FLAC
  * format spec / RFC 9639).
  *
  * IN scope:
  *  - fLaC marker + metadata-block walk (STREAMINFO parsed: rate,
  *    channels, bits-per-sample, total samples; other blocks skipped
  *    by their 24-bit lengths)
  *  - frame headers: sync, blocking strategy, all block-size codes
  *    (192, 576<<n, 256<<n, 8/16-bit at end), all sample-rate codes
  *    (table + 8/16-bit forms + streaminfo), UTF-8-coded frame/sample
  *    number, CRC-8 verified
  *  - subframes: CONSTANT, VERBATIM, FIXED orders 0-4, and LPC (any
  *    order, signed quantized coefficients, arithmetic-shift
  *    prediction in 64-bit) — wasted-bits unary prefix honored
  *  - residuals: 4-bit (method 0) and 5-bit (method 1) Rice
  *    partitions, zigzag decode, escape partitions (raw n-bit
  *    residuals, including the 0-bit all-zero form)
  *  - channel assignments: 1-8 independent, left/side, right/side,
  *    mid/side (side channel carries bps+1 bits per spec)
  *  - frame CRC-16 verified; stats fold frame by frame in
  *    O(blockSize * channels) memory (stereo decorrelation needs the
  *    block buffered; 65535-sample blocks cap it)
  *
  * OUT of scope (documented): sample-size codes 011 (reserved) and
  * 111 (32-bit, FLAC 1.4+) — Left naming the code; variable-blocksize
  * streams ARE decoded (blocking-strategy bit 1 just changes the
  * number's meaning, which stats don't use). Seeking/OGG mapping:
  * not applicable (one streaming pass).
  *
  * Malformed input is a Left, never an exception (the decodeImages
  * error-channel discipline). The committed python fixture
  * (scripts/gen_flac_fixture.py — an INDEPENDENT encoder) pins the
  * decoder; [[encodeFlac]] below is the `Media.toFlac` substrate the
  * q237 oracle gate drives end-to-end.
  */
object FlacCodec {

  import AudioCodec.AudioStats

  def sniff(d: Array[Byte]): Boolean =
    d.length >= 4 && d(0) == 'f' && d(1) == 'L' && d(2) == 'a' && d(3) == 'C'

  // ---------------------------------------------------------- bit I/O

  /** MSB-first bit reader; `bytePos` is only meaningful at byte
    * alignment (frame boundaries — where the CRCs live).
    */
  private[operators] final class BitReader(d: Array[Byte], start: Int) {
    private var pos = start
    private var acc = 0L
    private var n = 0

    def readBits(w: Int): Int = {
      while (n < w) {
        acc = (acc << 8) | (d(pos) & 0xffL)
        pos += 1
        n += 8
      }
      n -= w
      val v = (acc >>> n) & ((1L << w) - 1)
      v.toInt
    }

    def readSigned(w: Int): Int = {
      if (w == 0) return 0
      val v = readBits(w)
      (v << (32 - w)) >> (32 - w) // sign-extend
    }

    def readUnary(): Int = {
      var q = 0
      while (readBits(1) == 0) q += 1
      q
    }

    def align(): Unit = { acc = 0; n = 0 }
    def bytePos: Int = pos - n / 8
  }

  private[operators] final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var n = 0

    def write(v: Long, w: Int): Unit = {
      acc = (acc << w) | (v & ((1L << w) - 1))
      n += w
      while (n >= 8) {
        n -= 8
        out.write(((acc >>> n) & 0xff).toInt)
      }
    }

    def writeUnary(q: Int): Unit = { var i = 0; while (i < q) { write(0, 1); i += 1 }; write(1, 1) }
    def alignZero(): Unit = if (n > 0) write(0, 8 - n)
    def toBytes: Array[Byte] = { alignZero(); out.toByteArray }
  }

  // ------------------------------------------------------------- CRCs

  /** CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 — the frame-header
    * checksum.
    */
  private[operators] def crc8(d: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= d(i) & 0xff
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        b += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial x^16+x^15+x^2+1 (0x8005), init 0 — the whole-
    * frame checksum.
    */
  private[operators] def crc16(d: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (d(i) & 0xff) << 8
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff else (crc << 1) & 0xffff
        b += 1
      }
      i += 1
    }
    crc
  }

  // ------------------------------------------------------------ decode

  def decode(d: Array[Byte]): Either[String, AudioStats] = {
    if (!sniff(d)) return Left("flac: missing fLaC marker")
    guarded("flac")(decodeInner(d))
  }

  private def decodeInner(d: Array[Byte]): Either[String, AudioStats] = {
    var pos = 4
    var rate = 0
    var channels = 0
    var bps = 0
    var total = 0L
    var sawStreamInfo = false
    var last = false
    while (!last) {
      val h = d(pos) & 0xff
      last = (h & 0x80) != 0
      val btype = h & 0x7f
      val len = ((d(pos + 1) & 0xff) << 16) | ((d(pos + 2) & 0xff) << 8) | (d(pos + 3) & 0xff)
      val body = pos + 4
      if (btype == 0) { // STREAMINFO
        if (len < 34) return Left("flac: STREAMINFO shorter than 34 bytes")
        val br = new BitReader(d, body)
        br.readBits(16); br.readBits(16) // min/max block size
        br.readBits(24); br.readBits(24) // min/max frame size
        rate = br.readBits(20)
        channels = br.readBits(3) + 1
        bps = br.readBits(5) + 1
        total = (br.readBits(4).toLong << 32) | (br.readBits(32).toLong & 0xffffffffL)
        sawStreamInfo = true
      } else if (btype == 127) return Left("flac: invalid metadata block type 127")
      pos = body + len
      if (pos > d.length) return Left("flac: metadata block runs past EOF")
    }
    if (!sawStreamInfo) return Left("flac: no STREAMINFO block")
    if (rate <= 0) return Left(s"flac: bad sample rate $rate")

    var sum = 0L
    var mn = Int.MaxValue
    var mx = Int.MinValue
    var frames = 0L
    var samplesDone = 0L
    while ((total > 0 && samplesDone < total) || (total == 0 && pos < d.length)) {
      val (next, block) = decodeFrame(d, pos, rate, channels, bps,
        (v: Int) => { sum += v; if (v < mn) mn = v; if (v > mx) mx = v })
      pos = next
      samplesDone += block
      frames += 1
    }
    if (total > 0 && samplesDone != total)
      return Left(s"flac: decoded $samplesDone of $total samples")
    if (samplesDone == 0) return Left("flac: no audio frames")
    val nSamples = samplesDone * channels
    Right(AudioStats("flac", channels, rate, bps, samplesDone,
      samplesDone * 1000L / rate, sum.toDouble / nSamples, mn, mx))
  }

  /** One frame: header (CRC-8-checked), subframes, CRC-16, stereo
    * reconstruction; returns (next byte offset, block size). Decoded
    * samples stream through `fold`.
    */
  private def decodeFrame(
      d: Array[Byte], frameStart: Int, siRate: Int, siChannels: Int, siBps: Int,
      fold: Int => Unit): (Int, Int) = {
    val br = new BitReader(d, frameStart)
    if (br.readBits(14) != 0x3ffe) throw Malformed("flac: lost frame sync")
    if (br.readBits(1) != 0) throw Malformed("flac: reserved header bit set")
    br.readBits(1) // blocking strategy: only changes the number's meaning
    val bsCode = br.readBits(4)
    val srCode = br.readBits(4)
    val chanAsg = br.readBits(4)
    val ssCode = br.readBits(3)
    if (br.readBits(1) != 0) throw Malformed("flac: reserved header bit set")
    // UTF-8-coded frame/sample number: walk by the leading byte
    val lead = br.readBits(8)
    val extra =
      if ((lead & 0x80) == 0) 0
      else if ((lead & 0xe0) == 0xc0) 1
      else if ((lead & 0xf0) == 0xe0) 2
      else if ((lead & 0xf8) == 0xf0) 3
      else if ((lead & 0xfc) == 0xf8) 4
      else if ((lead & 0xfe) == 0xfc) 5
      else if (lead == 0xfe) 6
      else throw Malformed("flac: bad UTF-8 coded number")
    var i = 0
    while (i < extra) {
      if ((br.readBits(8) & 0xc0) != 0x80) throw Malformed("flac: bad UTF-8 continuation")
      i += 1
    }
    val blockSize = bsCode match {
      case 0 => throw Malformed("flac: reserved block-size code 0")
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => br.readBits(8) + 1
      case 7 => br.readBits(16) + 1
      case c => 256 << (c - 8)
    }
    val rate = srCode match {
      case 0 => siRate
      case 1 => 88200
      case 2 => 176400
      case 3 => 192000
      case 4 => 8000
      case 5 => 16000
      case 6 => 22050
      case 7 => 24000
      case 8 => 32000
      case 9 => 44100
      case 10 => 48000
      case 11 => 96000
      case 12 => br.readBits(8) * 1000
      case 13 => br.readBits(16)
      case 14 => br.readBits(16) * 10
      case _ => throw Malformed("flac: invalid sample-rate code 15")
    }
    if (rate <= 0) throw Malformed("flac: bad frame sample rate")
    val bps = ssCode match {
      case 0 => siBps
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case c => throw Malformed(s"flac: sample-size code $c out of scope")
    }
    val channels = if (chanAsg <= 7) chanAsg + 1 else 2
    if (chanAsg > 10) throw Malformed(s"flac: reserved channel assignment $chanAsg")
    if (channels != siChannels)
      throw Malformed("flac: frame channel count disagrees with STREAMINFO")
    val headerEnd = br.bytePos
    val storedCrc8 = br.readBits(8)
    if (crc8(d, frameStart, headerEnd) != storedCrc8) throw Malformed("flac: frame header CRC-8 mismatch")

    val chans = Array.ofDim[Int](channels, blockSize)
    var ch = 0
    while (ch < channels) {
      val sideBit = chanAsg match {
        case 8 => if (ch == 1) 1 else 0 // left/side
        case 9 => if (ch == 0) 1 else 0 // right/side
        case 10 => if (ch == 1) 1 else 0 // mid/side
        case _ => 0
      }
      decodeSubframe(br, blockSize, bps + sideBit, chans(ch))
      ch += 1
    }
    br.align()
    val frameEnd = br.bytePos
    val storedCrc16 = u16be(d, frameEnd)
    if (crc16(d, frameStart, frameEnd) != storedCrc16) throw Malformed("flac: frame CRC-16 mismatch")

    // stereo reconstruction, then fold
    chanAsg match {
      case 8 => // left/side: right = left - side
        var i = 0
        while (i < blockSize) { fold(chans(0)(i)); fold(chans(0)(i) - chans(1)(i)); i += 1 }
      case 9 => // right/side: left = right + side
        var i = 0
        while (i < blockSize) { fold(chans(1)(i) + chans(0)(i)); fold(chans(1)(i)); i += 1 }
      case 10 => // mid/side
        var i = 0
        while (i < blockSize) {
          val s = chans(1)(i)
          val m = (chans(0)(i) << 1) | (s & 1)
          fold((m + s) >> 1); fold((m - s) >> 1)
          i += 1
        }
      case _ =>
        var c = 0
        while (c < channels) {
          var i = 0
          while (i < blockSize) { fold(chans(c)(i)); i += 1 }
          c += 1
        }
    }
    (frameEnd + 2, blockSize)
  }

  private def decodeSubframe(br: BitReader, n: Int, bps: Int, out: Array[Int]): Unit = {
    if (br.readBits(1) != 0) throw Malformed("flac: subframe padding bit set")
    val t = br.readBits(6)
    val wasted = if (br.readBits(1) == 1) 1 + br.readUnary() else 0
    val eb = bps - wasted
    if (eb <= 0) throw Malformed("flac: wasted bits exhaust the sample size")
    t match {
      case 0 =>
        val v = br.readSigned(eb)
        java.util.Arrays.fill(out, v << wasted)
      case 1 =>
        var i = 0
        while (i < n) { out(i) = br.readSigned(eb) << wasted; i += 1 }
      case o if o >= 8 && o <= 12 =>
        val order = o - 8
        if (order > n) throw Malformed("flac: fixed order exceeds block size")
        var i = 0
        while (i < order) { out(i) = br.readSigned(eb); i += 1 }
        readResiduals(br, n, order, out)
        i = order
        while (i < n) {
          val p = order match {
            case 0 => 0L
            case 1 => out(i - 1).toLong
            case 2 => 2L * out(i - 1) - out(i - 2)
            case 3 => 3L * out(i - 1) - 3L * out(i - 2) + out(i - 3)
            case _ => 4L * out(i - 1) - 6L * out(i - 2) + 4L * out(i - 3) - out(i - 4)
          }
          out(i) = (out(i) + p).toInt
          i += 1
        }
        if (wasted > 0) { i = 0; while (i < n) { out(i) <<= wasted; i += 1 } }
      case o if o >= 32 =>
        val order = o - 31
        if (order > n) throw Malformed("flac: LPC order exceeds block size")
        var i = 0
        while (i < order) { out(i) = br.readSigned(eb); i += 1 }
        val precision = br.readBits(4)
        if (precision == 15) throw Malformed("flac: invalid LPC precision code")
        val shift = br.readSigned(5)
        if (shift < 0) throw Malformed("flac: negative LPC shift")
        val coefs = new Array[Int](order)
        i = 0
        while (i < order) { coefs(i) = br.readSigned(precision + 1); i += 1 }
        readResiduals(br, n, order, out)
        i = order
        while (i < n) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j).toLong * out(i - 1 - j); j += 1 }
          out(i) = (out(i) + (acc >> shift)).toInt
          i += 1
        }
        if (wasted > 0) { i = 0; while (i < n) { out(i) <<= wasted; i += 1 } }
      case o => throw Malformed(s"flac: reserved subframe type $o")
    }
  }

  /** Rice-partitioned residuals into out(order until n) (raw residual
    * values — prediction is applied by the caller).
    */
  private def readResiduals(br: BitReader, n: Int, order: Int, out: Array[Int]): Unit = {
    val method = br.readBits(2)
    if (method > 1) throw Malformed(s"flac: reserved residual method $method")
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val partOrder = br.readBits(4)
    val parts = 1 << partOrder
    if (n % parts != 0) throw Malformed("flac: partition count does not divide block size")
    val perPart = n / parts
    var idx = order
    var p = 0
    while (p < parts) {
      val count = if (p == 0) perPart - order else perPart
      if (count < 0) throw Malformed("flac: predictor order exceeds first partition")
      val param = br.readBits(pBits)
      if (param == escape) {
        val raw = br.readBits(5)
        var i = 0
        while (i < count) { out(idx) = if (raw == 0) 0 else br.readSigned(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < count) {
          val q = br.readUnary()
          val r = if (param == 0) 0 else br.readBits(param)
          val u = (q.toLong << param) | r
          out(idx) = ((u >>> 1) ^ -(u & 1L)).toInt // zigzag
          idx += 1
          i += 1
        }
      }
      p += 1
    }
  }

  // ------------------------------------------------------------ encode

  /** Deterministic FLAC encoder — the `Media.toFlac` adapter/fixture
    * substrate: fixed block size (8/16-bit-at-end header form),
    * CONSTANT for all-equal blocks, FIXED(order) otherwise with a
    * deterministic best Rice parameter per subframe (partition order
    * 0), independent channels or the left/side | right/side |
    * mid/side stereo transforms (side as VERBATIM — correctness over
    * ratio; the DECODER is the product, this writer exists to drive
    * it). Samples are interleaved when channels > 1.
    */
  def encodeFlac(
      samples: Array[Int], channels: Int, rate: Int, bits: Int,
      blockSize: Int = 192, fixedOrder: Int = 2, stereoMode: String = "independent"): Array[Byte] = {
    require(channels >= 1 && channels <= 8, s"encodeFlac: bad channel count $channels")
    require(samples.length % channels == 0, "encodeFlac: ragged channel interleave")
    require(rate > 0 && rate < (1 << 20), s"encodeFlac: bad rate $rate")
    require(bits >= 4 && bits <= 24, s"encodeFlac: bad bits $bits")
    require(blockSize >= 1 && blockSize <= 65535, s"encodeFlac: bad block size $blockSize")
    require(fixedOrder >= 0 && fixedOrder <= 4, s"encodeFlac: bad fixed order $fixedOrder")
    require(stereoMode == "independent" || channels == 2,
      s"encodeFlac: stereo mode $stereoMode needs 2 channels")
    val nFrames = samples.length / channels

    val out = new java.io.ByteArrayOutputStream()
    // fLaC + STREAMINFO (last metadata block)
    out.write("fLaC".getBytes("US-ASCII"))
    val si = new BitWriter
    si.write(0x80L, 8) // last block, type 0
    si.write(34L, 24)
    si.write(blockSize.toLong, 16); si.write(blockSize.toLong, 16)
    si.write(0L, 24); si.write(0L, 24) // frame sizes unknown
    si.write(rate.toLong, 20)
    si.write((channels - 1).toLong, 3)
    si.write((bits - 1).toLong, 5)
    si.write(nFrames.toLong, 36)
    for (_ <- 0 until 16) si.write(0L, 8) // md5 unset
    out.write(si.toBytes)

    var frameIdx = 0L
    var s0 = 0
    while (s0 < nFrames) {
      val n = math.min(blockSize, nFrames - s0)
      val chans = Array.tabulate(channels)(c =>
        Array.tabulate(n)(i => samples((s0 + i) * channels + c)))
      val (asg, stored, sideBits) = stereoMode match {
        case "independent" => (channels - 1, chans, Array.fill(channels)(0))
        case "leftside" =>
          (8, Array(chans(0), Array.tabulate(n)(i => chans(0)(i) - chans(1)(i))), Array(0, 1))
        case "rightside" =>
          (9, Array(Array.tabulate(n)(i => chans(0)(i) - chans(1)(i)), chans(1)), Array(1, 0))
        case "midside" =>
          (10, Array(Array.tabulate(n)(i => (chans(0)(i) + chans(1)(i)) >> 1),
            Array.tabulate(n)(i => chans(0)(i) - chans(1)(i))), Array(0, 1))
        case m => throw new IllegalArgumentException(s"encodeFlac: unknown stereo mode $m")
      }
      val w = new BitWriter
      w.write(0x3ffeL, 14)
      w.write(0L, 1); w.write(0L, 1) // reserved, fixed-blocksize strategy
      w.write(if (n <= 256) 6L else 7L, 4) // block size at end
      w.write(0L, 4) // rate from STREAMINFO
      w.write(asg.toLong, 4)
      w.write(bits match {
        case 8 => 1L
        case 12 => 2L
        case 16 => 4L
        case 20 => 5L
        case 24 => 6L
        case _ => 0L // from STREAMINFO
      }, 3)
      w.write(0L, 1)
      writeUtf8Num(w, frameIdx)
      if (n <= 256) w.write((n - 1).toLong, 8) else w.write((n - 1).toLong, 16)
      val headerBytes = w.toBytes // aligned: every field above is whole bits mod 8
      val frame = new java.io.ByteArrayOutputStream()
      frame.write(headerBytes)
      frame.write(crc8(headerBytes, 0, headerBytes.length))

      val body = new BitWriter
      var c = 0
      while (c < stored.length) {
        writeSubframe(body, stored(c), bits + sideBits(c),
          forceVerbatim = sideBits(c) == 1, fixedOrder)
        c += 1
      }
      frame.write(body.toBytes)
      val fb = frame.toByteArray
      val fc = crc16(fb, 0, fb.length)
      out.write(fb)
      out.write((fc >> 8) & 0xff)
      out.write(fc & 0xff)
      frameIdx += 1
      s0 += n
    }
    out.toByteArray
  }

  private[operators] def writeUtf8Num(w: BitWriter, v: Long): Unit = {
    if (v < 0x80) w.write(v, 8)
    else {
      // count payload bits -> UTF-8 length
      var len = 2
      while (len < 7 && v >= (1L << (len * 5 + 1))) len += 1
      w.write(((0xffL << (8 - len)) & 0xff) | (v >>> ((len - 1) * 6)), 8)
      var i = len - 2
      while (i >= 0) {
        w.write(0x80L | ((v >>> (i * 6)) & 0x3f), 8)
        i -= 1
      }
    }
  }

  private def writeSubframe(
      w: BitWriter, s: Array[Int], bps: Int, forceVerbatim: Boolean, maxOrder: Int): Unit = {
    val n = s.length
    w.write(0L, 1) // padding
    val allEqual = n > 0 && s.forall(_ == s(0))
    if (allEqual && !forceVerbatim) {
      w.write(0L, 6); w.write(0L, 1)
      w.write(s(0).toLong, bps)
    } else if (forceVerbatim) {
      w.write(1L, 6); w.write(0L, 1)
      var i = 0
      while (i < n) { w.write(s(i).toLong, bps); i += 1 }
    } else {
      val order = math.min(maxOrder, math.max(0, n - 1))
      w.write((8 + order).toLong, 6); w.write(0L, 1)
      var i = 0
      while (i < order) { w.write(s(i).toLong, bps); i += 1 }
      val res = new Array[Long](n - order)
      i = order
      while (i < n) {
        val p = order match {
          case 0 => 0L
          case 1 => s(i - 1).toLong
          case 2 => 2L * s(i - 1) - s(i - 2)
          case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
          case _ => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
        }
        res(i - order) = s(i) - p
        i += 1
      }
      val zig = res.map(r => (r << 1) ^ (r >> 63)) // zigzag
      // deterministic best Rice parameter over one partition
      var best = 0
      var bestBits = Long.MaxValue
      var p = 0
      while (p <= 14) {
        var b = 0L
        var j = 0
        while (j < zig.length) { b += (zig(j) >>> p) + 1 + p; j += 1 }
        if (b < bestBits) { bestBits = b; best = p }
        p += 1
      }
      w.write(0L, 2) // method 0: 4-bit params
      w.write(0L, 4) // partition order 0
      w.write(best.toLong, 4)
      var j = 0
      while (j < zig.length) {
        val u = zig(j)
        var q = u >>> best
        while (q > 0) { w.write(0L, 1); q -= 1 }
        w.write(1L, 1)
        if (best > 0) w.write(u & ((1L << best) - 1), best)
        j += 1
      }
    }
  }
}

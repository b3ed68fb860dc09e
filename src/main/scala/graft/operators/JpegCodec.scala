package graft.operators

import graft.bytes.Bytes._

/** Baseline sequential JFIF (JPEG) codec — the dominant image format
  * in any real crawl, decoded dependency-free on the PNG/Inflater
  * precedent (the reference sniffs and decompresses its own inputs
  * the same JDK-only way, `/root/reference/src/main.rs:431-433`).
  *
  * IN scope (decode):
  *  - baseline sequential DCT, 8-bit precision (SOF0), grayscale and
  *    3-component YCbCr
  *  - PROGRESSIVE DCT (SOF2): spectral selection AND successive
  *    approximation — interleaved/single-component DC first and
  *    refinement scans, single-component AC band scans with EOBRUN,
  *    the full T.81 G.1.2.3 refinement correction-bit walk, restarts
  *    resetting predictors and EOB runs
  *  - sampling factors 1 and 2 per axis — 4:4:4, 4:2:2, 4:2:0, 4:4:0
  *    all fall out of the generic MCU walk; chroma upsampling is
  *    nearest-neighbor (index scaling), the JFIF-common choice;
  *    single-component frames normalize declared factors to 1x1
  *    (T.81 A.2.2 — a one-component scan is non-interleaved, so the
  *    factors do not shape the block grid; libjpeg does the same)
  *  - DQT 8- and 16-bit precision tables, multi-table segments; DHT
  *    multi-table segments with canonical-code validation; DRI +
  *    RST0-7 restart markers (byte-aligned, DC predictors reset);
  *    byte stuffing (FF 00); APPn/COM and unknown length-bearing
  *    segments skipped
  *
  * OUT of scope (explicit `Left`s, the PNG/PDF scoping discipline):
  *  - extended sequential (SOF1), lossless, hierarchical and
  *    arithmetic-coded frames (SOF3, SOF5-15)
  *  - 12-bit precision, 2- or 4-component frames (CMYK), sampling
  *    factors above 2
  *  - SEQUENTIAL frames entropy-coded as one scan per component
  *    (multiple SOS in a SOF0 frame — legal but rare; only the
  *    single interleaved scan is decoded, others get an error row)
  *
  * The BASELINE decode is MCU-ROW streaming: per component one plane
  * buffer of 8·v rows (O(width) memory — the decodePngFull rule),
  * stats and the aHash grid fold out of each emitted pixel row, and
  * no full raster ever materializes. PROGRESSIVE decode is the one
  * documented exception: scans revisit every block, so quantized
  * coefficients buffer at O(raster) ints (bounded by an explicit
  * size guard) before the same MCU-row reconstruction + fold runs.
  * Integer sample output: IDCT runs in doubles
  * over an 8x8 basis matrix embedded as EXACT bit patterns (the
  * python fixture generator mirrors the same constants and operation
  * order, so the committed-fixture stats are bit-exact across the two
  * independent implementations), then rounds floor(x + 0.5) with
  * clamp — and YCbCr→RGB uses the JFIF coefficients with the same
  * rounding rule.
  *
  * The ENCODER half is the adapter/fixture substrate (the encodePng
  * pattern, not a production sink): unit quantization tables (so
  * flat-tile rasters survive the round trip bit-exactly — the q227
  * oracle's lever), standard Annex K style Huffman tables written
  * in-band via DHT (the decoder reads whatever DHT carries, so the
  * two halves share no table state), grayscale / 4:4:4 / 4:2:0
  * modes, edge-replication padding to MCU multiples.
  */
object JpegCodec {

  import ImageCodec.ImageStats

  /** SOI + next-marker prefix — the cheap routing sniff. */
  def sniff(d: Array[Byte]): Boolean =
    d.length >= 3 && (d(0) & 0xff) == 0xff && (d(1) & 0xff) == 0xd8 &&
      (d(2) & 0xff) == 0xff

  /** Natural index of each zigzag position (ITU T.81 Figure 5). */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** IDCT basis M(x)(u) = C(u)/2 · cos((2x+1)uπ/16), embedded as
    * exact IEEE-754 bit patterns: scripts/gen_image_fixtures.py
    * carries the IDENTICAL 64 longs (IDCTM_BITS, asserted against its
    * own cos/sqrt-computed basis at generation time so a divergent
    * libm fails loudly instead of silently unpinning the fixtures)
    * and the identical summation order, so fixture stats pin the
    * decoder bit-for-bit through an independent implementation.
    */
  private[operators] val IdctM: Array[Array[Double]] = {
    val bits = Array(
      0x3FD6A09E667F3BCCL, 0x3FDF6297CFF75CB0L, 0x3FDD906BCF328D46L,
      0x3FDA9B66290EA1A3L, 0x3FD6A09E667F3BCDL, 0x3FD1C73B39AE68C9L,
      0x3FC87DE2A6AEA964L, 0x3FB8F8B83C69A60DL, 0x3FD6A09E667F3BCCL,
      0x3FDA9B66290EA1A3L, 0x3FC87DE2A6AEA964L, 0xBFB8F8B83C69A608L,
      0xBFD6A09E667F3BCCL, 0xBFDF6297CFF75CB0L, 0xBFDD906BCF328D47L,
      0xBFD1C73B39AE68C8L, 0x3FD6A09E667F3BCCL, 0x3FD1C73B39AE68C9L,
      0xBFC87DE2A6AEA962L, 0xBFDF6297CFF75CB0L, 0xBFD6A09E667F3BCEL,
      0x3FB8F8B83C69A60CL, 0x3FDD906BCF328D44L, 0x3FDA9B66290EA1A5L,
      0x3FD6A09E667F3BCCL, 0x3FB8F8B83C69A60DL, 0xBFDD906BCF328D46L,
      0xBFD1C73B39AE68C8L, 0x3FD6A09E667F3BCBL, 0x3FDA9B66290EA1A5L,
      0xBFC87DE2A6AEA965L, 0xBFDF6297CFF75CB2L, 0x3FD6A09E667F3BCCL,
      0xBFB8F8B83C69A608L, 0xBFDD906BCF328D47L, 0x3FD1C73B39AE68C5L,
      0x3FD6A09E667F3BCEL, 0xBFDA9B66290EA1A2L, 0xBFC87DE2A6AEA971L,
      0x3FDF6297CFF75CB0L, 0x3FD6A09E667F3BCCL, 0xBFD1C73B39AE68C6L,
      0xBFC87DE2A6AEA96DL, 0x3FDF6297CFF75CB0L, 0xBFD6A09E667F3BC5L,
      0xBFB8F8B83C69A602L, 0x3FDD906BCF328D46L, 0xBFDA9B66290EA1A1L,
      0x3FD6A09E667F3BCCL, 0xBFDA9B66290EA1A4L, 0x3FC87DE2A6AEA967L,
      0x3FB8F8B83C69A61DL, 0xBFD6A09E667F3BC9L, 0x3FDF6297CFF75CB2L,
      0xBFDD906BCF328D43L, 0x3FD1C73B39AE68C2L, 0x3FD6A09E667F3BCCL,
      0xBFDF6297CFF75CB0L, 0x3FDD906BCF328D44L, 0xBFDA9B66290EA1A2L,
      0x3FD6A09E667F3BC4L, 0xBFD1C73B39AE68C2L, 0x3FC87DE2A6AEA95FL,
      0xBFB8F8B83C69A616L)
    Array.tabulate(8, 8)((x, u) => java.lang.Double.longBitsToDouble(bits(x * 8 + u)))
  }

  // ------------------------------------------------------------ decode

  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    // canonical code assignment (T.81 Annex C)
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    val values: Array[Int] = vals
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1)
        k += bits(l - 1)
        if (bits(l - 1) > 0) maxCode(l) = code - 1
        require(code <= (1 << l), s"jpeg: over-subscribed huffman table at length $l")
        code <<= 1
        l += 1
      }
      require(k == vals.length, "jpeg: DHT value count mismatch")
    }
  }

  private final case class Comp(id: Int, h: Int, v: Int, tq: Int)

  /** Bit-level reader over the entropy-coded scan: FF 00 unstuffs to
    * FF; any other FF-marker inside bit reads is a parse error (RSTs
    * are consumed byte-aligned between restart intervals, never from
    * inside a bit read). Errors surface as [[Malformed]] and become
    * the caller's Left — never an exception out of [[decode]].
    */
  private final class BitReader(d: Array[Byte], var p: Int) {
    private var acc = 0
    private var n = 0
    def nextBit(): Int = {
      if (n == 0) {
        if (p >= d.length) throw Malformed("jpeg: entropy data exhausted")
        var b = d(p) & 0xff
        p += 1
        if (b == 0xff) {
          if (p >= d.length) throw Malformed("jpeg: truncated after FF in scan")
          val m = d(p) & 0xff
          if (m == 0x00) p += 1
          else throw Malformed(f"jpeg: unexpected marker FF$m%02X inside scan")
          b = 0xff
        }
        acc = b
        n = 8
      }
      n -= 1
      (acc >>> n) & 1
    }
    def receive(len: Int): Int = {
      var v = 0
      var i = 0
      while (i < len) { v = (v << 1) | nextBit(); i += 1 }
      v
    }
    def decodeHuff(t: HuffTable): Int = {
      var code = nextBit()
      var l = 1
      while (code > t.maxCode(l)) {
        if (l >= 16) throw Malformed("jpeg: huffman code longer than 16 bits")
        code = (code << 1) | nextBit()
        l += 1
      }
      t.values(t.valPtr(l) + code - t.minCode(l))
    }
    /** Byte-align and consume an expected RSTn marker. */
    def restart(expected: Int): Unit = {
      n = 0
      if (p + 1 >= d.length) throw Malformed("jpeg: truncated at restart")
      if ((d(p) & 0xff) != 0xff || (d(p + 1) & 0xff) != (0xd0 + expected))
        throw Malformed(f"jpeg: expected RST$expected%d, found " +
          f"${d(p) & 0xff}%02X${d(p + 1) & 0xff}%02X")
      p += 2
    }
  }

  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Decode to (summary stats, 64 aHash grid grays) in one MCU-row
    * streaming pass. Color stats are over the converted RGB samples
    * (grayscale: the single channel); the aHash grid follows the
    * format-independent rule shared with the PNM/PNG paths.
    */
  def decode(d: Array[Byte]): Either[String, (ImageStats, Array[Int])] = {
    if (!sniff(d)) return Left("jpeg: missing SOI marker")
    guarded("jpeg")(decodeInner(d))
  }

  private def decodeInner(d: Array[Byte]): Either[String, (ImageStats, Array[Int])] = {
    // segment length field (includes itself): < 2 would loop forever
    def segLen(o: Int): Int = {
      val l = u16be(d, o)
      if (l < 2) throw Malformed(s"jpeg: bad segment length $l")
      l
    }

    val qt = new Array[Array[Int]](4) // zigzag order
    val huff = Array.ofDim[HuffTable](2, 4)
    var restartInterval = 0
    var orientation = 1 // EXIF APP1 tag 0x0112 (1..8), 1 when absent
    var width = 0
    var height = 0
    var comps: Array[Comp] = null
    var scanDc: Array[Int] = null // per-comp DC table ids
    var scanAc: Array[Int] = null
    var scanStart = -1

    // ---- progressive (SOF2) state: quantized coefficients, zigzag
    // order, over the MCU-padded block grid, accumulated across scans.
    // Progressive is the ONE decode path that materializes O(raster)
    // state — inherent to the format (scans revisit every block), and
    // the documented exception to the O(row) streaming rule.
    var progressive = false
    var progDone = false
    var progScans = 0
    var progCoefs: Array[Array[Int]] = null
    var progBW: Array[Int] = null

    def frameHmax = comps.map(_.h).max
    def frameVmax = comps.map(_.v).max
    def frameMcusX = (width + 8 * frameHmax - 1) / (8 * frameHmax)
    def frameMcusY = (height + 8 * frameVmax - 1) / (8 * frameVmax)

    /** One progressive scan: header (band Ss..Se, successive
      * approximation Ah/Al, per-scan components in frame order),
      * then the entropy data into the coefficient planes. Returns
      * the position after the entropy data.
      */
    def decodeProgScan(hdrPos: Int): Int = {
      val len = segLen(hdrPos)
      val b = hdrPos + 2
      val ns = d(b) & 0xff
      if (ns < 1 || ns > comps.length)
        throw Malformed(s"jpeg: bad scan component count $ns")
      val sc = new Array[Int](ns)
      val sdc = new Array[Int](ns)
      val sac = new Array[Int](ns)
      var i = 0
      var prevCi = -1
      while (i < ns) {
        val cid = d(b + 1 + 2 * i) & 0xff
        val ci = comps.indexWhere(_.id == cid)
        if (ci < 0) throw Malformed(s"jpeg: scan references unknown component $cid")
        if (ci <= prevCi) throw Malformed("jpeg: scan components out of frame order")
        prevCi = ci
        sc(i) = ci
        sdc(i) = (d(b + 2 + 2 * i) & 0xff) >> 4
        sac(i) = d(b + 2 + 2 * i) & 15
        i += 1
      }
      val ss = d(b + 1 + 2 * ns) & 0xff
      val se = d(b + 2 + 2 * ns) & 0xff
      val ahal = d(b + 3 + 2 * ns) & 0xff
      val ah = ahal >> 4
      val al = ahal & 15
      if (se > 63 || ss > se) throw Malformed(s"jpeg: bad spectral band $ss..$se")
      if (ss == 0 && se != 0) throw Malformed("jpeg: progressive scan mixes DC and AC")
      if (ss > 0 && ns != 1) throw Malformed("jpeg: progressive AC scan must be single-component")
      if (al > 13 || ah > 13) throw Malformed(s"jpeg: bad successive approximation $ah/$al")
      val isDc = ss == 0
      val br = new BitReader(d, hdrPos + len)
      var eobrun = 0
      val pred = new Array[Int](comps.length)

      def dcBlock(si: Int, off: Int): Unit = {
        val ci = sc(si)
        if (ah == 0) {
          val tab = huff(0)(sdc(si))
          if (tab == null) throw Malformed(s"jpeg: missing DC table ${sdc(si)}")
          val t = br.decodeHuff(tab)
          if (t > 11) throw Malformed(s"jpeg: bad DC category $t")
          pred(ci) += extend(br.receive(t), t)
          progCoefs(ci)(off) = pred(ci) << al
        } else if (br.nextBit() == 1)
          progCoefs(ci)(off) |= 1 << al
      }

      def acFirst(co: Array[Int], off: Int, tab: HuffTable): Unit = {
        if (eobrun > 0) { eobrun -= 1; return }
        var k = ss
        var done = false
        while (k <= se && !done) {
          val rs = br.decodeHuff(tab)
          val r = rs >> 4
          val s = rs & 15
          if (s != 0) {
            k += r
            if (k > se) throw Malformed("jpeg: AC run past band end")
            co(off + k) = extend(br.receive(s), s) << al
            k += 1
          } else if (r == 15) k += 16 // ZRL
          else {
            eobrun = (1 << r) - 1 + (if (r > 0) br.receive(r) else 0)
            done = true
          }
        }
      }

      // T.81 G.1.2.3: refinement — newly-nonzero coefficients arrive
      // as (zero-history-run, 1) symbols; every nonzero-history
      // coefficient passed contributes one correction bit, including
      // the band tails of blocks inside an EOB run
      def acRefine(co: Array[Int], off: Int, tab: HuffTable): Unit = {
        val p1 = 1 << al
        val m1 = -(1 << al)
        def correct(k: Int): Unit = {
          val c0 = co(off + k)
          if (br.nextBit() == 1 && (c0 & p1) == 0)
            co(off + k) = c0 + (if (c0 >= 0) p1 else m1)
        }
        var k = ss
        if (eobrun == 0) {
          var brk = false
          while (k <= se && !brk) {
            val rs = br.decodeHuff(tab)
            var r = rs >> 4
            val s = rs & 15
            var newVal = 0
            if (s == 0) {
              if (r < 15) {
                eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0)
                brk = true // band tail handled by the eobrun path below
              }
            } else {
              if (s != 1) throw Malformed("jpeg: bad AC refinement magnitude")
              newVal = if (br.nextBit() == 1) p1 else m1
            }
            if (!brk) {
              var placed = false
              while (k <= se && !placed) {
                if (co(off + k) != 0) correct(k)
                else if (r == 0) {
                  if (newVal != 0) co(off + k) = newVal
                  placed = true
                } else r -= 1
                k += 1
              }
              if (!placed && newVal != 0)
                throw Malformed("jpeg: AC refinement run past band end")
            }
          }
        }
        if (eobrun > 0) {
          while (k <= se) {
            if (co(off + k) != 0) correct(k)
            k += 1
          }
          eobrun -= 1
        }
      }

      val hm = frameHmax
      val vm = frameVmax
      val mX = frameMcusX
      val mY = frameMcusY
      var mcuCount = 0
      var rstIdx = 0
      def maybeRestart(): Unit =
        if (restartInterval > 0 && mcuCount == restartInterval) {
          br.restart(rstIdx)
          rstIdx = (rstIdx + 1) % 8
          java.util.Arrays.fill(pred, 0)
          eobrun = 0
          mcuCount = 0
        }

      if (isDc && ns > 1) {
        // interleaved DC scan: frame MCU order
        var my = 0
        while (my < mY) {
          var mx = 0
          while (mx < mX) {
            maybeRestart()
            var si = 0
            while (si < ns) {
              val c = comps(sc(si))
              var by = 0
              while (by < c.v) {
                var bx = 0
                while (bx < c.h) {
                  dcBlock(si, ((my * c.v + by) * progBW(sc(si)) + mx * c.h + bx) * 64)
                  bx += 1
                }
                by += 1
              }
              si += 1
            }
            mcuCount += 1
            mx += 1
          }
          my += 1
        }
      } else {
        // single-component scan (DC or AC): the component's own
        // ceil-sized block grid in raster order (no MCU padding)
        val ci = sc(0)
        val c = comps(ci)
        val compW = (width * c.h + hm - 1) / hm
        val compH = (height * c.v + vm - 1) / vm
        val niW = (compW + 7) / 8
        val niH = (compH + 7) / 8
        val co = progCoefs(ci)
        val tab = if (isDc) null else {
          val t = huff(1)(sac(0))
          if (t == null) throw Malformed(s"jpeg: missing AC table ${sac(0)}")
          t
        }
        var by = 0
        while (by < niH) {
          var bx = 0
          while (bx < niW) {
            maybeRestart()
            val off = (by * progBW(ci) + bx) * 64
            if (isDc) dcBlock(0, off)
            else if (ah == 0) acFirst(co, off, tab)
            else acRefine(co, off, tab)
            mcuCount += 1
            bx += 1
          }
          by += 1
        }
      }
      progScans += 1
      br.p
    }

    var pos = 2
    while (scanStart < 0 && !progDone) {
      // markers may be preceded by fill bytes (FF FF ... FFxx)
      if (pos + 1 >= d.length) return Left("jpeg: truncated before SOS")
      if ((d(pos) & 0xff) != 0xff) return Left(f"jpeg: expected marker, got ${d(pos) & 0xff}%02X")
      while (pos < d.length && (d(pos) & 0xff) == 0xff) pos += 1
      if (pos >= d.length) return Left("jpeg: truncated marker")
      val marker = d(pos) & 0xff
      pos += 1
      marker match {
        case 0xd8 => return Left("jpeg: duplicate SOI")
        case 0xd9 =>
          if (progressive && progScans > 0) progDone = true
          else return Left("jpeg: EOI before any scan")
        case m if m == 0xc0 || m == 0xc2 => // SOF0 baseline / SOF2 progressive
          if (comps != null) return Left("jpeg: duplicate SOF")
          val len = segLen(pos)
          val b = pos + 2
          val precision = d(b) & 0xff
          if (precision != 8) return Left(s"jpeg: $precision-bit precision not supported (8 only)")
          height = u16be(d, b + 1)
          width = u16be(d, b + 3)
          if (width <= 0 || height <= 0) return Left(s"jpeg: bad dimensions ${width}x$height")
          val nc = d(b + 5) & 0xff
          if (nc != 1 && nc != 3)
            return Left(s"jpeg: $nc components not supported (grayscale/YCbCr only)")
          comps = Array.tabulate(nc) { i =>
            val o = b + 6 + 3 * i
            val hv = d(o + 1) & 0xff
            Comp(d(o) & 0xff, hv >> 4, hv & 15, d(o + 2) & 0xff)
          }
          if (nc == 1) {
            // T.81 A.2.2: a single-component scan is non-interleaved —
            // its data units cover the ceil(w/8) x ceil(h/8) grid and
            // the declared sampling factors do NOT shape the walk, so
            // a legal grayscale frame may declare 2x2 and still carry
            // one block per 8x8 tile. Normalize to 1x1 (libjpeg
            // behavior); the interleaved MCU walk then IS the
            // non-interleaved grid.
            comps = comps.map(c => c.copy(h = 1, v = 1))
          }
          for (c <- comps) {
            if (c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2)
              return Left(s"jpeg: sampling factor ${c.h}x${c.v} not supported (1/2 only)")
            if (c.tq > 3) return Left(s"jpeg: bad quant table id ${c.tq}")
          }
          if (m == 0xc2) {
            progressive = true
            progBW = Array.tabulate(nc)(i => frameMcusX * comps(i).h)
            val totalCoefs = (0 until nc).map(i =>
              progBW(i).toLong * frameMcusY * comps(i).v * 64).sum
            capped("jpeg", "progressive coefficient buffer", totalCoefs * 4)
            progCoefs = Array.tabulate(nc)(i =>
              new Array[Int]((progBW(i) * frameMcusY * comps(i).v * 64)))
          }
          pos += len
        case m if m == 0xc1 || m == 0xc3 || (m >= 0xc5 && m <= 0xc7) ||
            (m >= 0xc9 && m <= 0xcb) || (m >= 0xcd && m <= 0xcf) =>
          return Left(f"jpeg: SOF${m - 0xc0}%d (extended/lossless/arithmetic) " +
            "not supported — baseline sequential and progressive only")
        case 0xc4 => // DHT, possibly several tables
          val len = segLen(pos)
          var b = pos + 2
          val end = pos + len
          while (b < end) {
            val tcth = d(b) & 0xff
            val tc = tcth >> 4
            val th = tcth & 15
            if (tc > 1 || th > 3) return Left(s"jpeg: bad DHT class/id $tc/$th")
            val bits = Array.tabulate(16)(i => d(b + 1 + i) & 0xff)
            val nVals = bits.sum
            val vals = Array.tabulate(nVals)(i => d(b + 17 + i) & 0xff)
            try huff(tc)(th) = new HuffTable(bits, vals)
            catch { case e: IllegalArgumentException => return Left(e.getMessage) }
            b += 17 + nVals
          }
          pos += len
        case 0xdb => // DQT, possibly several tables
          val len = segLen(pos)
          var b = pos + 2
          val end = pos + len
          while (b < end) {
            val pqtq = d(b) & 0xff
            val pq = pqtq >> 4
            val tq = pqtq & 15
            if (pq > 1 || tq > 3) return Left(s"jpeg: bad DQT precision/id $pq/$tq")
            val t = new Array[Int](64)
            var i = 0
            while (i < 64) {
              t(i) = if (pq == 0) d(b + 1 + i) & 0xff else u16be(d, b + 1 + 2 * i)
              i += 1
            }
            qt(tq) = t
            b += 1 + (if (pq == 0) 64 else 128)
          }
          pos += len
        case 0xdd => // DRI
          restartInterval = u16be(d, pos + 2)
          pos += segLen(pos)
        case 0xda => // SOS
          if (comps == null) return Left("jpeg: SOS before SOF")
          if (progressive) pos = decodeProgScan(pos)
          else {
            val len = segLen(pos)
            val b = pos + 2
            val ns = d(b) & 0xff
            // sequential frames split across one-scan-per-component
            // SOS segments (legal SOF0, rare in the wild) are OUT of
            // scope — the baseline path is single-interleaved-scan
            // only; such files get this error row, never garbage
            if (ns != comps.length)
              return Left(s"jpeg: scan components $ns != frame components ${comps.length}" +
                " (multi-scan sequential out of scope)")
            scanDc = new Array[Int](ns)
            scanAc = new Array[Int](ns)
            var i = 0
            while (i < ns) {
              val cid = d(b + 1 + 2 * i) & 0xff
              val ci = comps.indexWhere(_.id == cid)
              if (ci < 0) return Left(s"jpeg: scan references unknown component $cid")
              if (ci != i) return Left("jpeg: scan component order differs from frame order")
              scanDc(i) = (d(b + 2 + 2 * i) & 0xff) >> 4
              scanAc(i) = d(b + 2 + 2 * i) & 15
              i += 1
            }
            scanStart = pos + len
          }
        case 0x01 => () // TEM, no length
        case m if m >= 0xd0 && m <= 0xd7 =>
          return Left("jpeg: stray RST marker outside a scan")
        case 0xe1 => // APP1: Exif TIFF IFD0 — orientation tag 0x0112
          val len = segLen(pos)
          parseExifOrientation(d, pos + 2, pos + len).foreach(orientation = _)
          pos += len
        case _ => // APPn / COM / anything with a length field
          pos += segLen(pos)
      }
    }

    for (c <- comps if qt(c.tq) == null)
      return Left(s"jpeg: missing quant table ${c.tq}")
    if (!progressive) {
      for (i <- comps.indices) {
        if (huff(0)(scanDc(i)) == null) return Left(s"jpeg: missing DC huffman table ${scanDc(i)}")
        if (huff(1)(scanAc(i)) == null) return Left(s"jpeg: missing AC huffman table ${scanAc(i)}")
      }
    }

    val nc = comps.length
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    val mcuW = 8 * hmax
    val mcuH = 8 * vmax
    val mcusX = (width + mcuW - 1) / mcuW
    val mcusY = (height + mcuH - 1) / mcuH
    val colorCh = if (nc == 1) 1 else 3

    // one MCU row of samples per component
    val planeW = Array.tabulate(nc)(i => mcusX * 8 * comps(i).h)
    val planes = Array.tabulate(nc)(i => new Array[Int](planeW(i) * 8 * comps(i).v))

    val br = if (progressive) null else new BitReader(d, scanStart)
    val pred = new Array[Int](nc)
    val coef = new Array[Int](64)
    val tmp = Array.ofDim[Double](8, 8)
    val block = new Array[Int](64)

    val gridRowOf = Array.tabulate(8)(gy => gy * height / 8)
    val grays = new Array[Int](64)
    val sums = new Array[Long](3)
    var mn = Int.MaxValue
    var mx = Int.MinValue

    // separable IDCT of `coef` (natural order, dequantized) into
    // `block` — the exact operation order the python fixture mirror
    // replicates; shared by the baseline stream and the progressive
    // reconstruction
    def idctFromCoef(): Unit = {
      var v = 0
      while (v < 8) {
        var x = 0
        while (x < 8) {
          var acc = 0.0
          var u = 0
          while (u < 8) { acc += IdctM(x)(u) * coef(v * 8 + u); u += 1 }
          tmp(v)(x) = acc
          x += 1
        }
        v += 1
      }
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var acc = 0.0
          var vv = 0
          while (vv < 8) { acc += IdctM(y)(vv) * tmp(vv)(x); vv += 1 }
          val s0 = math.floor(acc + 128.5).toInt
          block(y * 8 + x) = if (s0 < 0) 0 else if (s0 > 255) 255 else s0
          x += 1
        }
        y += 1
      }
    }

    def blitBlock(ci: Int, mx0: Int, bx: Int, by: Int): Unit = {
      val pw = planeW(ci)
      val x0 = mx0 * 8 * comps(ci).h + bx * 8
      val y0 = by * 8
      var yy = 0
      while (yy < 8) {
        System.arraycopy(block, yy * 8, planes(ci), (y0 + yy) * pw + x0, 8)
        yy += 1
      }
    }

    def decodeBlock(ci: Int): Unit = {
      java.util.Arrays.fill(coef, 0)
      val dcT = huff(0)(scanDc(ci))
      val acT = huff(1)(scanAc(ci))
      val q = qt(comps(ci).tq)
      val t = br.decodeHuff(dcT)
      if (t > 11) throw Malformed(s"jpeg: bad DC category $t")
      pred(ci) += extend(br.receive(t), t)
      coef(0) = pred(ci) * q(0)
      var k = 1
      var done = false
      while (k < 64 && !done) {
        val rs = br.decodeHuff(acT)
        val r = rs >> 4
        val s = rs & 15
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else done = true // EOB
        } else {
          k += r
          if (k > 63) throw Malformed("jpeg: AC run past block end")
          coef(Zigzag(k)) = extend(br.receive(s), s) * q(k)
          k += 1
        }
      }
      idctFromCoef()
    }

    var mcuCount = 0
    var rstIdx = 0
    var my = 0
    while (my < mcusY) {
      var mx0 = 0
      while (mx0 < mcusX) {
        if (!progressive && restartInterval > 0 && mcuCount == restartInterval) {
          br.restart(rstIdx)
          rstIdx = (rstIdx + 1) % 8
          java.util.Arrays.fill(pred, 0)
          mcuCount = 0
        }
        var ci = 0
        while (ci < nc) {
          val c = comps(ci)
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              if (progressive) {
                // dequantize the accumulated zigzag coefficients
                val co = progCoefs(ci)
                val off = ((my * c.v + by) * progBW(ci) + mx0 * c.h + bx) * 64
                val q = qt(c.tq)
                var k = 0
                while (k < 64) { coef(Zigzag(k)) = co(off + k) * q(k); k += 1 }
                idctFromCoef()
              } else decodeBlock(ci)
              blitBlock(ci, mx0, bx, by)
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcuCount += 1
        mx0 += 1
      }
      // emit this MCU row's pixel rows: upsample, color-convert, fold
      var yRel = 0
      while (yRel < mcuH && my * mcuH + yRel < height) {
        val y = my * mcuH + yRel
        var x = 0
        while (x < width) {
          var r = 0; var g = 0; var b = 0
          if (nc == 1) {
            r = planes(0)((yRel * comps(0).v / vmax) * planeW(0) + x * comps(0).h / hmax)
            sums(0) += r
            if (r < mn) mn = r
            if (r > mx) mx = r
          } else {
            val yv = planes(0)((yRel * comps(0).v / vmax) * planeW(0) + x * comps(0).h / hmax)
            val cb = planes(1)((yRel * comps(1).v / vmax) * planeW(1) + x * comps(1).h / hmax) - 128
            val cr = planes(2)((yRel * comps(2).v / vmax) * planeW(2) + x * comps(2).h / hmax) - 128
            r = clamp8(math.floor(yv + 1.402 * cr + 0.5).toInt)
            g = clamp8(math.floor(yv - 0.344136 * cb - 0.714136 * cr + 0.5).toInt)
            b = clamp8(math.floor(yv + 1.772 * cb + 0.5).toInt)
            sums(0) += r; sums(1) += g; sums(2) += b
            val lo = math.min(r, math.min(g, b))
            val hi = math.max(r, math.max(g, b))
            if (lo < mn) mn = lo
            if (hi > mx) mx = hi
          }
          x += 1
        }
        // aHash grid rows (nearest-neighbor 8x8, the shared rule)
        var gy = 0
        while (gy < 8) {
          if (gridRowOf(gy) == y) {
            var gx = 0
            while (gx < 8) {
              val gpx = gx * width / 8
              grays(gy * 8 + gx) =
                if (nc == 1)
                  3 * planes(0)((yRel * comps(0).v / vmax) * planeW(0) + gpx * comps(0).h / hmax)
                else {
                  val yv = planes(0)((yRel * comps(0).v / vmax) * planeW(0) + gpx * comps(0).h / hmax)
                  val cb = planes(1)((yRel * comps(1).v / vmax) * planeW(1) + gpx * comps(1).h / hmax) - 128
                  val cr = planes(2)((yRel * comps(2).v / vmax) * planeW(2) + gpx * comps(2).h / hmax) - 128
                  clamp8(math.floor(yv + 1.402 * cr + 0.5).toInt) +
                    clamp8(math.floor(yv - 0.344136 * cb - 0.714136 * cr + 0.5).toInt) +
                    clamp8(math.floor(yv + 1.772 * cb + 0.5).toInt)
                }
              gx += 1
            }
          }
          gy += 1
        }
        yRel += 1
      }
      my += 1
    }

    val n = width.toLong * height
    val (rM, gM, bM) =
      if (colorCh == 3) (sums(0).toDouble / n, sums(1).toDouble / n, sums(2).toDouble / n)
      else { val m = sums(0).toDouble / n; (m, m, m) }
    // normalize the aHash grid to the UPRIGHT image: the 8 EXIF
    // orientations are a dihedral remap of grid indices — no raster
    // work. Exact at tile granularity (spec pins rotated re-encode
    // pairs at hamming 0 on tile-aligned rasters); for arbitrary
    // images the mirrored nearest-neighbor sample points differ by
    // sub-cell offsets, the usual near-dup tolerance. Pixel stats are
    // orientation-invariant and stay as stored.
    val oriented =
      if (orientation == 1) grays
      else {
        val o = new Array[Int](64)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            val (sy, sx) = orientation match {
              case 2 => (y, 7 - x) // mirrored horizontal
              case 3 => (7 - y, 7 - x) // rotated 180
              case 4 => (7 - y, x) // mirrored vertical
              case 5 => (x, y) // transposed
              case 6 => (7 - x, y) // stored is 90 CCW of upright
              case 7 => (7 - x, 7 - y) // transverse
              case 8 => (x, 7 - y) // stored is 90 CW of upright
              case _ => (y, x)
            }
            o(y * 8 + x) = grays(sy * 8 + sx)
            x += 1
          }
          y += 1
        }
        o
      }
    Right((ImageStats("jpeg", width, height, colorCh, 255, n, rM, gM, bM, mn, mx,
      orientation), oriented))
  }

  /** Walk an APP1 payload for the Exif TIFF IFD0 orientation tag
    * (0x0112, SHORT, count 1). None when the payload is not Exif, the
    * TIFF header is malformed, or the tag is absent/out-of-range —
    * the decoder then keeps orientation 1, never aborts (a broken
    * thumbnail IFD must not kill an otherwise healthy image).
    */
  private def parseExifOrientation(d: Array[Byte], b: Int, end: Int): Option[Int] = {
    if (end - b < 14) return None
    if (!(d(b) == 'E' && d(b + 1) == 'x' && d(b + 2) == 'i' && d(b + 3) == 'f' &&
        d(b + 4) == 0 && d(b + 5) == 0)) return None
    val t = b + 6 // TIFF header
    val little = (d(t) & 0xff, d(t + 1) & 0xff) match {
      case (0x49, 0x49) => true
      case (0x4d, 0x4d) => false
      case _ => return None
    }
    val tiff = new ExifGps.Tiff(d, t, end, little)
    if (tiff.u16(t + 2) != 42) return None
    val ifdOff = tiff.u32(t + 4)
    if (ifdOff < 0 || t + ifdOff + 2 > end) return None
    val ifd = t + ifdOff.toInt
    val nEntries = tiff.u16(ifd)
    if (nEntries < 0) return None
    var i = 0
    while (i < nEntries) {
      val e = ifd + 2 + 12 * i
      if (e + 12 > end) return None
      if (tiff.u16(e) == 0x0112 && tiff.u16(e + 2) == 3 && tiff.u32(e + 4) == 1L) {
        val v = tiff.u16(e + 8)
        return if (v >= 1 && v <= 8) Some(v) else None
      }
      i += 1
    }
    None
  }

  /** Splice an Exif APP1 orientation segment right after SOI — the
    * adapter/fixture substrate for rotated re-encodes (works on any
    * encoded stream: gray, color, progressive). Orientation 1 returns
    * the input unchanged.
    */
  def withExifOrientation(jpeg: Array[Byte], orientation: Int): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8,
      s"withExifOrientation: bad orientation $orientation")
    if (orientation == 1) return jpeg
    // Exif\0\0 + TIFF(II, 42, IFD at 8) + 1-entry IFD + next-IFD 0
    val tiff = Array[Byte](
      'E'.toByte, 'x'.toByte, 'i'.toByte, 'f'.toByte, 0, 0,
      0x49, 0x49, 42, 0, 8, 0, 0, 0, // II, magic, IFD0 at offset 8
      1, 0, // one entry
      0x12, 0x01, 3, 0, 1, 0, 0, 0, // tag 0x0112, SHORT, count 1
      orientation.toByte, 0, 0, 0, // value (inline, little-endian)
      0, 0, 0, 0) // no next IFD
    val segLen = tiff.length + 2
    val out = new Array[Byte](jpeg.length + 4 + tiff.length)
    out(0) = jpeg(0); out(1) = jpeg(1) // SOI
    out(2) = 0xff.toByte; out(3) = 0xe1.toByte
    out(4) = ((segLen >> 8) & 0xff).toByte
    out(5) = (segLen & 0xff).toByte
    System.arraycopy(tiff, 0, out, 6, tiff.length)
    System.arraycopy(jpeg, 2, out, 6 + tiff.length, jpeg.length - 2)
    out
  }

  private def clamp8(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  // ------------------------------------------------------------ encode

  // Standard-style Huffman specs (BITS then HUFFVAL). Written in-band
  // via DHT, so decoder correctness never depends on these exact
  // values — they only need to be valid canonical tables.
  private val DcLumBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumVals = (0 to 11).toArray
  private val DcChrBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChrVals = (0 to 11).toArray
  private val AcLumBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
  private val AcChrBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChrVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** Progressive AC table: baseline Annex-K-style tables carry no
    * EOBn symbols (0x10..0xE0), which progressive scans require — so
    * the progressive encoder transmits its own flat 8-bit canonical
    * table covering every (run, size<=10) pair incl. all EOBn and
    * ZRL. Tables travel in-band via DHT, so the decoder needs no
    * knowledge of this choice.
    */
  private val AcProgVals: Array[Int] =
    (for { r <- 0 to 15; s <- 0 to 10 } yield (r << 4) | s).toArray
  private val AcProgBits: Array[Int] = {
    val b = new Array[Int](16)
    b(7) = AcProgVals.length // all codes 8 bits long (176 < 256)
    b
  }

  /** (code, length) per symbol from a BITS/HUFFVAL spec. */
  private def encTable(bits: Array[Int], vals: Array[Int]): Array[(Int, Int)] = {
    val out = new Array[(Int, Int)](256)
    var code = 0
    var k = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l - 1)) {
        out(vals(k)) = (code, l)
        code += 1
        k += 1
        i += 1
      }
      code <<= 1
      l += 1
    }
    out
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >>> i) & 1)
        n += 1
        if (n == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.write(0x00) // byte stuffing
          acc = 0
          n = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (n > 0) { // pad with 1-bits per spec
      put(0xff, 8 - n)
    }
  }

  /** Grayscale baseline JPEG, unit quantization; `restartInterval`
    * > 0 writes DRI + RSTn markers every that many MCUs (the decoder
    * restart path's test substrate).
    */
  def encodeJpegGray(
      gray: Array[Byte], w: Int, h: Int, restartInterval: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeJpegGray: bad dimensions ${w}x$h")
    require(gray.length == w * h, s"encodeJpegGray: raster ${gray.length} != $w*$h")
    val plane = pad(Array.tabulate(w * h)(i => gray(i) & 0xff), w, h, 8, 8)
    encodeFrame(w, h, Seq((plane, (w + 7) / 8 * 8, 1, 1)), gray = true,
      restartInterval)
  }

  /** Color baseline JPEG from an RGB raster: 4:4:4, or 4:2:0 when
    * `subsample` (chroma averaged 2x2 — exact for flat 16x16 tiles,
    * the q227 lever). Unit quantization throughout.
    */
  def encodeJpeg(rgb: Array[Byte], w: Int, h: Int, subsample: Boolean): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeJpeg: bad dimensions ${w}x$h")
    require(rgb.length == 3 * w * h, s"encodeJpeg: raster ${rgb.length} != 3*$w*$h")
    encodeFrame(w, h, colorPlanes(rgb, w, h, subsample), gray = false)
  }

  /** RGB -> padded YCbCr planes (4:4:4, or 4:2:0 with 2x2 chroma
    * averaging) — shared by the baseline and progressive encoders.
    */
  private def colorPlanes(
      rgb: Array[Byte], w: Int, h: Int,
      subsample: Boolean): Seq[(Array[Int], Int, Int, Int)] = {
    val n = w * h
    val yP = new Array[Int](n)
    val cbP = new Array[Int](n)
    val crP = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = rgb(3 * i) & 0xff
      val g = rgb(3 * i + 1) & 0xff
      val b = rgb(3 * i + 2) & 0xff
      yP(i) = clamp8(math.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5).toInt)
      cbP(i) = clamp8(math.floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5).toInt)
      crP(i) = clamp8(math.floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5).toInt)
      i += 1
    }
    if (!subsample) {
      val pw = (w + 7) / 8 * 8
      Seq((pad(yP, w, h, 8, 8), pw, 1, 1), (pad(cbP, w, h, 8, 8), pw, 1, 1),
        (pad(crP, w, h, 8, 8), pw, 1, 1))
    } else {
      // luma padded to 16, chroma downsampled 2x2 then padded to 8
      val yPad = pad(yP, w, h, 16, 16)
      val pw = (w + 15) / 16 * 16
      val ph = (h + 15) / 16 * 16
      val cw = pw / 2
      val chh = ph / 2
      def down(p: Array[Int]): Array[Int] = {
        val full = pad(p, w, h, 16, 16)
        Array.tabulate(cw * chh) { k =>
          val x = (k % cw) * 2
          val y = (k / cw) * 2
          (full(y * pw + x) + full(y * pw + x + 1) +
            full((y + 1) * pw + x) + full((y + 1) * pw + x + 1) + 2) / 4
        }
      }
      Seq((yPad, pw, 2, 2), (down(cbP), cw, 1, 1), (down(crP), cw, 1, 1))
    }
  }

  /** Edge-replication pad to multiples of (mw, mh). */
  private def pad(p: Array[Int], w: Int, h: Int, mw: Int, mh: Int): Array[Int] = {
    val pw = (w + mw - 1) / mw * mw
    val ph = (h + mh - 1) / mh * mh
    Array.tabulate(pw * ph) { k =>
      val x = math.min(k % pw, w - 1)
      val y = math.min(k / pw, h - 1)
      p(y * w + x)
    }
  }

  /** Shared encode tail: planes are already padded; sampling factors
    * describe the MCU layout ((1,1)-only grayscale, (2,2)+(1,1)x2 for
    * 4:2:0, all-(1,1) for 4:4:4).
    */
  private def encodeFrame(
      w: Int, h: Int,
      planes: Seq[(Array[Int], Int, Int, Int)], // (samples, planeW, hFac, vFac)
      gray: Boolean,
      restartInterval: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1024)
    def b(v: Int): Unit = out.write(v & 0xff)
    def b16(v: Int): Unit = { b(v >> 8); b(v) }
    def marker(m: Int): Unit = { b(0xff); b(m) }

    marker(0xd8) // SOI
    marker(0xe0) // APP0 / JFIF
    b16(16)
    Seq('J', 'F', 'I', 'F', 0).foreach(c => b(c.toInt))
    b(1); b(1) // version 1.1
    b(0) // aspect ratio units
    b16(1); b16(1) // density
    b(0); b(0) // no thumbnail

    // DQT: unit tables (id 0 luma; id 1 chroma when color)
    val nTables = if (gray) 1 else 2
    marker(0xdb)
    b16(2 + 65 * nTables)
    for (t <- 0 until nTables) { b(t); (0 until 64).foreach(_ => b(1)) }

    // SOF0
    val nc = planes.length
    marker(0xc0)
    b16(8 + 3 * nc)
    b(8) // precision
    b16(h); b16(w)
    b(nc)
    for (i <- 0 until nc) {
      b(i + 1) // component id
      b((planes(i)._3 << 4) | planes(i)._4)
      b(if (i == 0) 0 else 1) // quant table
    }

    // DHT
    def dht(tc: Int, th: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4)
      b16(2 + 1 + 16 + vals.length)
      b((tc << 4) | th)
      bits.foreach(b)
      vals.foreach(b)
    }
    dht(0, 0, DcLumBits, DcLumVals)
    dht(1, 0, AcLumBits, AcLumVals)
    if (!gray) {
      dht(0, 1, DcChrBits, DcChrVals)
      dht(1, 1, AcChrBits, AcChrVals)
    }

    if (restartInterval > 0) { // DRI
      marker(0xdd)
      b16(4)
      b16(restartInterval)
    }

    // SOS
    marker(0xda)
    b16(6 + 2 * nc)
    b(nc)
    for (i <- 0 until nc) { b(i + 1); b(if (i == 0) 0x00 else 0x11) }
    b(0); b(63); b(0) // spectral selection (baseline fixed)

    // entropy-coded data
    val dcLum = encTable(DcLumBits, DcLumVals)
    val acLum = encTable(AcLumBits, AcLumVals)
    val dcChr = encTable(DcChrBits, DcChrVals)
    val acChr = encTable(AcChrBits, AcChrVals)
    val bw = new BitWriter(out)
    val pred = new Array[Int](nc)
    val coef = new Array[Int](64)
    val tmp = Array.ofDim[Double](8, 8)

    def encodeBlock(plane: Array[Int], pw: Int, x0: Int, y0: Int, ci: Int): Unit = {
      // forward DCT with the same basis matrix (transposed indexing)
      var v = 0
      while (v < 8) {
        var y = 0
        while (y < 8) {
          var acc = 0.0
          var x = 0
          while (x < 8) { acc += IdctM(x)(v) * (plane((y0 + y) * pw + x0 + x) - 128); x += 1 }
          tmp(y)(v) = acc
          y += 1
        }
        v += 1
      }
      var u = 0
      while (u < 8) {
        var v2 = 0
        while (v2 < 8) {
          var acc = 0.0
          var y = 0
          while (y < 8) { acc += IdctM(y)(u) * tmp(y)(v2); y += 1 }
          coef(u * 8 + v2) = math.round(acc).toInt // unit quant
          v2 += 1
        }
        u += 1
      }
      val (dcTab, acTab) = if (ci == 0) (dcLum, acLum) else (dcChr, acChr)
      val dc = coef(0)
      val diff = dc - pred(ci)
      pred(ci) = dc
      val cat = category(diff)
      val (c0, l0) = dcTab(cat)
      bw.put(c0, l0)
      if (cat > 0) bw.put(bitsOf(diff, cat), cat)
      var k = 1
      var zeroRun = 0
      while (k < 64) {
        val ac = coef(Zigzag(k))
        if (ac == 0) zeroRun += 1
        else {
          while (zeroRun > 15) { val (cz, lz) = acTab(0xf0); bw.put(cz, lz); zeroRun -= 16 }
          val s = category(ac)
          val (ca, la) = acTab((zeroRun << 4) | s)
          bw.put(ca, la)
          bw.put(bitsOf(ac, s), s)
          zeroRun = 0
        }
        k += 1
      }
      if (zeroRun > 0) { val (ce, le) = acTab(0x00); bw.put(ce, le) } // EOB
    }

    val hmax = planes.map(_._3).max
    val vmax = planes.map(_._4).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    var mcuIdx = 0
    var rstIdx = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcuIdx > 0 && mcuIdx % restartInterval == 0) {
          bw.flush()
          marker(0xd0 + rstIdx)
          rstIdx = (rstIdx + 1) % 8
          java.util.Arrays.fill(pred, 0)
        }
        var ci = 0
        while (ci < nc) {
          val (plane, pw, hc, vc) = planes(ci)
          var by = 0
          while (by < vc) {
            var bx = 0
            while (bx < hc) {
              encodeBlock(plane, pw, (mx * hc + bx) * 8, (my * vc + by) * 8, ci)
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcuIdx += 1
        mx += 1
      }
      my += 1
    }
    bw.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** FDCT + unit quantization of one 8x8 block into ZIGZAG order —
    * the progressive encoder's coefficient source (same basis matrix
    * and rounding as the baseline encoder's inline block).
    */
  private def fdctQuantZig(
      plane: Array[Int], pw: Int, x0: Int, y0: Int,
      zigOut: Array[Int], off: Int): Unit = {
    val tmp = Array.ofDim[Double](8, 8)
    val nat = new Array[Int](64)
    var v = 0
    while (v < 8) {
      var y = 0
      while (y < 8) {
        var acc = 0.0
        var x = 0
        while (x < 8) { acc += IdctM(x)(v) * (plane((y0 + y) * pw + x0 + x) - 128); x += 1 }
        tmp(y)(v) = acc
        y += 1
      }
      v += 1
    }
    var u = 0
    while (u < 8) {
      var v2 = 0
      while (v2 < 8) {
        var acc = 0.0
        var y = 0
        while (y < 8) { acc += IdctM(y)(u) * tmp(y)(v2); y += 1 }
        nat(u * 8 + v2) = math.round(acc).toInt
        v2 += 1
      }
      u += 1
    }
    var k = 0
    while (k < 64) { zigOut(off + k) = nat(Zigzag(k)); k += 1 }
  }

  /** Progressive (SOF2) twin of [[encodeJpeg]]: the jpeg_simple_
    * progression-shaped script — interleaved DC first at Al=1 + DC
    * refinement, per-component AC first scans in two spectral bands
    * at Al=2, then two AC refinement passes down to Al=0. Successive
    * approximation transmits every coefficient bit, so the decoded
    * image is BIT-IDENTICAL to the baseline encoding of the same
    * raster — the differential the spec suite pins.
    */
  def encodeJpegProgressive(
      rgb: Array[Byte], w: Int, h: Int, subsample: Boolean): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeJpegProgressive: bad dimensions ${w}x$h")
    require(rgb.length == 3 * w * h,
      s"encodeJpegProgressive: raster ${rgb.length} != 3*$w*$h")
    encodeFrameProgressive(w, h, colorPlanes(rgb, w, h, subsample), gray = false)
  }

  /** Grayscale progressive twin of [[encodeJpegGray]]. */
  def encodeJpegProgressiveGray(gray: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeJpegProgressiveGray: bad dimensions ${w}x$h")
    require(gray.length == w * h, s"encodeJpegProgressiveGray: raster ${gray.length} != $w*$h")
    val plane = pad(Array.tabulate(w * h)(i => gray(i) & 0xff), w, h, 8, 8)
    encodeFrameProgressive(w, h, Seq((plane, (w + 7) / 8 * 8, 1, 1)), gray = true)
  }

  /** SOF2 emission: headers, coefficient precompute, and the scan
    * script — DC first (interleaved, Al=1), DC refine, per-component
    * AC first in bands 1-5 and 6-63 at Al=2, then AC refinements
    * Ah=2→Al=1 and Ah=1→Al=0 over 1-63. Unit quantization.
    */
  private def encodeFrameProgressive(
      w: Int, h: Int,
      planes: Seq[(Array[Int], Int, Int, Int)],
      gray: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1024)
    def b(v: Int): Unit = out.write(v & 0xff)
    def b16(v: Int): Unit = { b(v >> 8); b(v) }
    def marker(m: Int): Unit = { b(0xff); b(m) }

    marker(0xd8)
    marker(0xe0)
    b16(16)
    Seq('J', 'F', 'I', 'F', 0).foreach(c => b(c.toInt))
    b(1); b(1); b(0); b16(1); b16(1); b(0); b(0)

    val nTables = if (gray) 1 else 2
    marker(0xdb)
    b16(2 + 65 * nTables)
    for (t <- 0 until nTables) { b(t); (0 until 64).foreach(_ => b(1)) }

    val nc = planes.length
    marker(0xc2) // SOF2
    b16(8 + 3 * nc)
    b(8)
    b16(h); b16(w)
    b(nc)
    for (i <- 0 until nc) {
      b(i + 1)
      b((planes(i)._3 << 4) | planes(i)._4)
      b(if (i == 0) 0 else 1)
    }

    def dht(tc: Int, th: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4)
      b16(2 + 1 + 16 + vals.length)
      b((tc << 4) | th)
      bits.foreach(b)
      vals.foreach(b)
    }
    dht(0, 0, DcLumBits, DcLumVals)
    dht(1, 0, AcProgBits, AcProgVals)
    if (!gray) dht(0, 1, DcChrBits, DcChrVals)

    // precompute every block's quantized zigzag coefficients over the
    // padded grid (the decoder's layout)
    val hmax = planes.map(_._3).max
    val vmax = planes.map(_._4).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val bW = Array.tabulate(nc)(i => mcusX * planes(i)._3)
    val bH = Array.tabulate(nc)(i => mcusY * planes(i)._4)
    val coefs = Array.tabulate(nc) { ci =>
      val (plane, pw, _, _) = planes(ci)
      val arr = new Array[Int](bW(ci) * bH(ci) * 64)
      var by = 0
      while (by < bH(ci)) {
        var bx = 0
        while (bx < bW(ci)) {
          fdctQuantZig(plane, pw, bx * 8, by * 8, arr, (by * bW(ci) + bx) * 64)
          bx += 1
        }
        by += 1
      }
      arr
    }

    val dcEnc = Array(encTable(DcLumBits, DcLumVals), encTable(DcChrBits, DcChrVals))
    val acProg = encTable(AcProgBits, AcProgVals)
    def tabIdx(ci: Int) = if (ci == 0) 0 else 1

    def sosHeader(scanComps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xda)
      b16(6 + 2 * scanComps.length)
      b(scanComps.length)
      for (ci <- scanComps) {
        b(ci + 1)
        b((tabIdx(ci) << 4) | 0) // every component shares AC table 0
      }
      b(ss); b(se); b((ah << 4) | al)
    }

    // ---- DC first scan: interleaved, point transform Al
    def dcFirstScan(al: Int): Unit = {
      sosHeader(0 until nc, 0, 0, 0, al)
      val bw = new BitWriter(out)
      val pred = new Array[Int](nc)
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var ci = 0
          while (ci < nc) {
            val (_, _, hc, vc) = planes(ci)
            var byy = 0
            while (byy < vc) {
              var bxx = 0
              while (bxx < hc) {
                val dc = coefs(ci)(((my * vc + byy) * bW(ci) + mx * hc + bxx) * 64) >> al
                val diff = dc - pred(ci)
                pred(ci) = dc
                val cat = category(diff)
                val (c0, l0) = dcEnc(tabIdx(ci))(cat)
                bw.put(c0, l0)
                if (cat > 0) bw.put(bitsOf(diff, cat), cat)
                bxx += 1
              }
              byy += 1
            }
            ci += 1
          }
          mx += 1
        }
        my += 1
      }
      bw.flush()
    }

    // ---- DC refinement scan: one bit per block
    def dcRefineScan(ah: Int, al: Int): Unit = {
      sosHeader(0 until nc, 0, 0, ah, al)
      val bw = new BitWriter(out)
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var ci = 0
          while (ci < nc) {
            val (_, _, hc, vc) = planes(ci)
            var byy = 0
            while (byy < vc) {
              var bxx = 0
              while (bxx < hc) {
                bw.put((coefs(ci)(((my * vc + byy) * bW(ci) + mx * hc + bxx) * 64) >> al) & 1, 1)
                bxx += 1
              }
              byy += 1
            }
            ci += 1
          }
          mx += 1
        }
        my += 1
      }
      bw.flush()
    }

    // non-interleaved block grid of a component (ceil dims, no pad)
    def niDims(ci: Int): (Int, Int) = {
      val hc = planes(ci)._3
      val vc = planes(ci)._4
      val compW = (w * hc + hmax - 1) / hmax
      val compH = (h * vc + vmax - 1) / vmax
      ((compW + 7) / 8, (compH + 7) / 8)
    }

    // ---- AC first scan: single component, band ss..se, Al
    def acFirstScan(ci: Int, ss: Int, se: Int, al: Int): Unit = {
      sosHeader(Seq(ci), ss, se, 0, al)
      val bw = new BitWriter(out)
      val tab = acProg
      var eobrun = 0
      def flushEob(): Unit = if (eobrun > 0) {
        var nb = 0
        var v = eobrun
        while (v > 1) { v >>= 1; nb += 1 }
        val (c0, l0) = tab(nb << 4)
        bw.put(c0, l0)
        if (nb > 0) bw.put(eobrun - (1 << nb), nb)
        eobrun = 0
      }
      val (niW, niH) = niDims(ci)
      val co = coefs(ci)
      var by = 0
      while (by < niH) {
        var bx = 0
        while (bx < niW) {
          val off = (by * bW(ci) + bx) * 64
          // last band index carrying a nonzero at this precision
          var last = ss - 1
          var k = ss
          while (k <= se) {
            if (math.abs(co(off + k)) >> al != 0) last = k
            k += 1
          }
          if (last < ss) {
            eobrun += 1
            if (eobrun == 0x7fff) flushEob()
          } else {
            flushEob()
            var r = 0
            k = ss
            while (k <= last) {
              val t = math.abs(co(off + k)) >> al
              if (t == 0) r += 1
              else {
                while (r > 15) { val (cz, lz) = tab(0xf0); bw.put(cz, lz); r -= 16 }
                val s = category(t)
                val (ca, la) = tab((r << 4) | s)
                bw.put(ca, la)
                bw.put(bitsOf(if (co(off + k) >= 0) t else -t, s), s)
                r = 0
              }
              k += 1
            }
            if (last < se) { eobrun += 1; if (eobrun == 0x7fff) flushEob() }
          }
          bx += 1
        }
        by += 1
      }
      flushEob()
      bw.flush()
    }

    // ---- AC refinement scan (T.81 G.1.2.3 inverse, libjpeg shape)
    def acRefineScan(ci: Int, ss: Int, se: Int, ah: Int, al: Int): Unit = {
      sosHeader(Seq(ci), ss, se, ah, al)
      val bw = new BitWriter(out)
      val tab = acProg
      var eobrun = 0
      val pending = scala.collection.mutable.ArrayBuffer.empty[Int]
      def flushEob(): Unit = if (eobrun > 0 || pending.nonEmpty) {
        if (eobrun > 0) {
          var nb = 0
          var v = eobrun
          while (v > 1) { v >>= 1; nb += 1 }
          val (c0, l0) = tab(nb << 4)
          bw.put(c0, l0)
          if (nb > 0) bw.put(eobrun - (1 << nb), nb)
          eobrun = 0
        }
        pending.foreach(bit => bw.put(bit, 1))
        pending.clear()
      }
      val (niW, niH) = niDims(ci)
      val co = coefs(ci)
      var by = 0
      while (by < niH) {
        var bx = 0
        while (bx < niW) {
          val off = (by * bW(ci) + bx) * 64
          // last index newly nonzero at this precision
          var eobPos = ss - 1
          var k = ss
          while (k <= se) {
            if (math.abs(co(off + k)) >> al == 1) eobPos = k
            k += 1
          }
          var r = 0
          val corr = scala.collection.mutable.ArrayBuffer.empty[Int]
          k = ss
          while (k <= se) {
            val t = math.abs(co(off + k)) >> al
            if (t == 0) r += 1
            else if (t > 1) corr += (t & 1) // history-nonzero: correction bit
            else {
              // newly nonzero: fold ZRLs only if more news follow
              while (r > 15 && k <= eobPos) {
                flushEob()
                val (cz, lz) = tab(0xf0)
                bw.put(cz, lz)
                r -= 16
                corr.foreach(bit => bw.put(bit, 1))
                corr.clear()
              }
              flushEob()
              val (ca, la) = tab((r << 4) | 1)
              bw.put(ca, la)
              bw.put(if (co(off + k) >= 0) 1 else 0, 1)
              corr.foreach(bit => bw.put(bit, 1))
              corr.clear()
              r = 0
            }
            k += 1
          }
          if (r > 0 || corr.nonEmpty) {
            eobrun += 1
            pending ++= corr
            if (eobrun == 0x7fff) flushEob()
          }
          bx += 1
        }
        by += 1
      }
      flushEob()
      bw.flush()
    }

    // the scan script
    dcFirstScan(al = 1)
    dcRefineScan(ah = 1, al = 0)
    for (ci <- 0 until nc) {
      acFirstScan(ci, 1, 5, al = 2)
      acFirstScan(ci, 6, 63, al = 2)
    }
    for (ci <- 0 until nc) acRefineScan(ci, 1, 63, ah = 2, al = 1)
    for (ci <- 0 until nc) acRefineScan(ci, 1, 63, ah = 1, al = 0)

    marker(0xd9)
    out.toByteArray
  }

  private def category(v: Int): Int = {
    var a = math.abs(v)
    var c = 0
    while (a != 0) { a >>= 1; c += 1 }
    c
  }

  /** The `cat` low-order bits encoding of a signed value (T.81 F.1.4:
    * negative values send value − 1 in `cat` bits).
    */
  private def bitsOf(v: Int, cat: Int): Int =
    (if (v >= 0) v else v - 1) & ((1 << cat) - 1)
}

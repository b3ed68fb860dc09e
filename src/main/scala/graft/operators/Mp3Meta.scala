package graft.operators

import graft.bytes.Bytes._

/** MP3 container metadata — the census-grade parse of the dominant
  * lossy audio format a crawl carries: ID3v2 tag walk (title/artist
  * text frames) plus the MPEG audio frame-header walk that yields
  * bitrate / sample rate / channel mode / frame count / duration
  * WITHOUT entropy decode (frame headers fully determine frame byte
  * lengths, so the walk is O(frames) with O(1) memory — the census
  * and dataset-card stats a pipeline actually needs; full MDCT
  * synthesis of a perceptual codec is out of scope for this
  * environment by the [[Media]] compressed-codec rule).
  *
  * IN scope:
  *  - ID3v2.2, v2.3, and v2.4 headers (syncsafe tag size; v2.4
  *    syncsafe frame sizes vs v2.3 plain 32-bit vs v2.2's 6-byte
  *    frames with 3-char IDs — TT2/TP1 surface as title/artist),
  *    text frames in ISO-8859-1,
  *    UTF-16 (BOM'd), UTF-16BE, and UTF-8 encodings; TIT2/TPE1
  *    surfaced; UNSYNCHRONISED tags (r20, flag bit 7 — the classic
  *    v2.3 whole-tag form): the 0x00 escape after every 0xFF drops
  *    out before the frame walk
  *  - MPEG1 Layer III frames: bitrate/sample-rate tables, padding
  *    bit, channel mode, frame length 144000*kbps/rate + pad,
  *    1152 samples/frame; VBR detected as >1 distinct bitrate index
  *  - ID3v1 "TAG" trailer skipped
  *
  * OUT of scope (named Lefts): MPEG2/2.5 and Layers I/II (different
  * length/sample tables — a census wants the dominant format exact,
  * not every 1990s profile), free-format bitrate (index 0), and
  * compressed ID3v2.2 tags (flag bit 6 — an undefined scheme the
  * spec itself says to skip).
  *
  * Malformed input is a Left, never an exception.
  */
object Mp3Meta {

  final case class Mp3Stats(
      version: String, // mpeg1
      layer: Int, // 3
      bitrateKbps: Int, // first frame's
      sampleRate: Int,
      channels: Int,
      nFrames: Long,
      durationMs: Long,
      vbr: Boolean,
      title: String, // "" when untagged
      artist: String)

  private val Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Rates = Array(44100, 48000, 32000)

  def sniff(d: Array[Byte]): Boolean =
    (d.length >= 10 && d(0) == 'I' && d(1) == 'D' && d(2) == '3') ||
      (d.length >= 4 && (d(0) & 0xff) == 0xff && (d(1) & 0xe0) == 0xe0)

  def decode(d: Array[Byte]): Either[String, Mp3Stats] = {
    if (!sniff(d)) return Left("mp3: no ID3v2 tag or frame sync")
    guarded("mp3")(decodeInner(d))
  }

  private def decodeInner(d: Array[Byte]): Either[String, Mp3Stats] = {
    var pos = 0
    var title = ""
    var artist = ""

    // ------------------------------------------------------- ID3v2 tag
    if (d.length >= 10 && d(0) == 'I' && d(1) == 'D' && d(2) == '3') {
      val verMajor = d(3) & 0xff
      val flags = d(5) & 0xff
      def syncsafe(a: Array[Byte], o: Int): Int =
        ((a(o) & 0x7f) << 21) | ((a(o + 1) & 0x7f) << 14) | ((a(o + 2) & 0x7f) << 7) | (a(o + 3) & 0x7f)
      val tagSize = syncsafe(d, 6)
      val tagEnd = 10 + tagSize
      if (tagEnd > d.length) return Left("mp3: ID3v2 tag runs past EOF")
      // unsynchronisation (r20 — flag bit 7, the classic v2.3
      // whole-tag form): every 0x00 that FOLLOWS a 0xFF inside the
      // stored tag is an escape byte and drops out; frame sizes refer
      // to the de-unsynced data, so the walk runs over the restored
      // bytes. The audio data after the tag is untouched.
      // v2.4 ONLY flags per-frame unsync here (frame sizes count the
      // STORED bytes) — the whole-tag transform would shrink frame
      // bodies under stored-size offsets and misalign the walk, so
      // v2.4 walks the stored tag and de-unsyncs each frame body.
      val (t, tStart, tEnd) =
        if ((flags & 0x80) != 0 && verMajor <= 3) {
          val out = new java.io.ByteArrayOutputStream(tagSize)
          var i = 10
          while (i < tagEnd) {
            out.write(d(i))
            if ((d(i) & 0xff) == 0xff && i + 1 < tagEnd && d(i + 1) == 0) i += 2
            else i += 1
          }
          val a = out.toByteArray
          (a, 0, a.length)
        } else (d, 10, tagEnd)
      var p = tStart
      // v2.2's bit 6 means the whole tag is COMPRESSED (an undefined
      // scheme the spec itself says to skip) — not an extended header
      if (verMajor == 2 && (flags & 0x40) != 0)
        return Left("mp3: compressed ID3v2.2 tags are out of scope")
      if (verMajor != 2 && (flags & 0x40) != 0) { // extended header: skip by its own size
        p += (if (verMajor >= 4) syncsafe(t, p) else u32be(t, p).toInt + 4)
      }
      // ID3v2.2 (r20): 6-byte frame headers — 3-char IDs (TT2/TP1
      // are TIT2/TPE1's ancestors), 3-byte big-endian sizes, no
      // flags. v2.3/v2.4 keep their 10-byte form.
      val hdrLen = if (verMajor == 2) 6 else 10
      while (p + hdrLen <= tEnd && t(p) != 0) {
        val id = new String(t, p, if (verMajor == 2) 3 else 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        val fSize =
          if (verMajor == 2)
            ((t(p + 3) & 0xff) << 16) | ((t(p + 4) & 0xff) << 8) | (t(p + 5) & 0xff)
          else if (verMajor >= 4) syncsafe(t, p + 4)
          else u32be(t, p + 4).toInt
        val body = p + hdrLen
        // v2.3 sizes are plain 32-bit: a malformed tag with the top bit
        // set reads NEGATIVE, and `p = body + fSize` would then stall
        // (fSize = -10) or walk backward — an infinite loop on the
        // executor instead of a Left. Reject; every surviving iteration
        // advances p by at least the header length.
        if (fSize < 0) return Left(s"mp3: ID3v2 frame $id has negative size $fSize")
        if (body + fSize > tEnd) return Left(s"mp3: ID3v2 frame $id runs past the tag")
        val isTitle = id == "TIT2" || id == "TT2"
        val isArtist = id == "TPE1" || id == "TP1"
        if ((isTitle || isArtist) && fSize >= 1) {
          // v2.4 data-length-indicator format flag (0x01, r22
          // advisory): a 4-byte SYNCHSAFE stored-vs-restored length
          // prefixes the body — commonly set alongside unsync. It is
          // synchsafe (never itself unsynced), so it strips BEFORE the
          // de-unsync; without the skip its bytes were read as the
          // encoding byte + text, silently corrupting title/artist.
          val dli = verMajor >= 4 && (t(p + 9) & 0x01) != 0
          if (dli && fSize < 4)
            return Left(s"mp3: ID3v2.4 frame $id declares a data length " +
              "indicator but is shorter than 4 bytes")
          val bodyOff = if (dli) body + 4 else body
          val bodyLen = if (dli) fSize - 4 else fSize
          // v2.4 per-frame unsync: tag-header flag = every frame, or
          // the frame's own format flag bit 0x02; the stored body is
          // restored before decoding (sizes stay stored-size, so the
          // walk itself is untouched)
          val frameUnsync = verMajor >= 4 &&
            ((flags & 0x80) != 0 || (t(p + 9) & 0x02) != 0)
          if (bodyLen >= 1) {
            val text =
              if (frameUnsync) {
                val out = new java.io.ByteArrayOutputStream(bodyLen)
                var i = bodyOff
                val lim = bodyOff + bodyLen
                while (i < lim) {
                  out.write(t(i))
                  if ((t(i) & 0xff) == 0xff && i + 1 < lim && t(i + 1) == 0) i += 2
                  else i += 1
                }
                val a = out.toByteArray
                decodeText(a, 0, a.length)
              } else decodeText(t, bodyOff, bodyLen)
            if (isTitle) title = text else artist = text
          }
        }
        p = body + fSize
      }
      pos = tagEnd
    }

    // ---------------------------------------------------- frame walk
    var nFrames = 0L
    var firstKbps = -1
    var rate = -1
    var channels = -1
    var vbr = false
    while (pos < d.length) {
      if (pos + 3 <= d.length && d(pos) == 'T' && d(pos + 1) == 'A' && d(pos + 2) == 'G') {
        pos = d.length // ID3v1 trailer: 128 bytes, last thing in the file
      } else {
        if (pos + 4 > d.length) return Left("mp3: truncated frame header")
        if ((d(pos) & 0xff) != 0xff || (d(pos + 1) & 0xe0) != 0xe0)
          return Left("mp3: lost frame sync")
        val b1 = d(pos + 1) & 0xff
        val version = (b1 >> 3) & 3
        val layer = (b1 >> 1) & 3
        if (version != 3) return Left("mp3: MPEG2/2.5 frames are out of scope")
        if (layer != 1) return Left("mp3: Layers I/II are out of scope")
        val b2 = d(pos + 2) & 0xff
        val bIdx = (b2 >> 4) & 0xf
        val rIdx = (b2 >> 2) & 3
        val pad = (b2 >> 1) & 1
        if (bIdx == 0) return Left("mp3: free-format bitrate is out of scope")
        if (bIdx == 15) return Left("mp3: invalid bitrate index 15")
        if (rIdx == 3) return Left("mp3: invalid sample-rate index 3")
        val b3 = d(pos + 3) & 0xff
        val mode = (b3 >> 6) & 3
        val kbps = Bitrates(bIdx)
        val r = Rates(rIdx)
        if (firstKbps < 0) { firstKbps = kbps; rate = r; channels = if (mode == 3) 1 else 2 }
        else {
          if (kbps != firstKbps) vbr = true
          if (r != rate) return Left("mp3: sample rate changes mid-stream")
        }
        val frameLen = 144000 * kbps / r + pad
        if (pos + frameLen > d.length) return Left("mp3: truncated frame body")
        pos += frameLen
        nFrames += 1
      }
    }
    if (nFrames == 0) return Left("mp3: no audio frames")
    Right(Mp3Stats("mpeg1", 3, firstKbps, rate, channels, nFrames,
      nFrames * 1152L * 1000L / rate, vbr, title, artist))
  }

  /** ID3v2 text frame body: encoding byte + payload (terminators
    * stripped).
    */
  private def decodeText(d: Array[Byte], body: Int, size: Int): String = {
    import java.nio.charset.StandardCharsets._
    val enc = d(body) & 0xff
    val raw = java.util.Arrays.copyOfRange(d, body + 1, body + size)
    val s = enc match {
      case 0 => new String(raw, ISO_8859_1)
      case 1 => new String(raw, UTF_16) // BOM-routed
      case 2 => new String(raw, UTF_16BE)
      case 3 => new String(raw, UTF_8)
      case e => throw Malformed(s"mp3: unknown ID3v2 text encoding $e")
    }
    s.takeWhile(_ != '\u0000')
  }

  // ------------------------------------------------------------ encode

  /** Deterministic MP3 builder — the `Media.toMp3` adapter/fixture
    * substrate: an ID3v2.3 tag (ISO-8859-1 TIT2/TPE1) followed by
    * `nFrames` MPEG1 Layer III frames at one bitrate/rate whose
    * payload bytes cycle through `fill` (headers are real; payloads
    * are opaque to the header walk, exactly like a real census pass).
    */
  def encodeMp3(
      title: String, artist: String, nFrames: Int,
      bitrateIdx: Int, rateIdx: Int, mono: Boolean, fill: Array[Byte],
      unsync: Boolean = false): Array[Byte] = {
    require(nFrames >= 1, s"encodeMp3: need at least one frame, got $nFrames")
    require(bitrateIdx >= 1 && bitrateIdx <= 14, s"encodeMp3: bad bitrate index $bitrateIdx")
    require(rateIdx >= 0 && rateIdx <= 2, s"encodeMp3: bad rate index $rateIdx")
    require(fill.nonEmpty, "encodeMp3: empty fill")
    val tag = new java.io.ByteArrayOutputStream()
    def textFrame(id: String, text: String): Unit = {
      val payload = text.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      tag.write(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val sz = payload.length + 1
      tag.write((sz >> 24) & 0xff); tag.write((sz >> 16) & 0xff)
      tag.write((sz >> 8) & 0xff); tag.write(sz & 0xff)
      tag.write(0); tag.write(0) // flags
      tag.write(0) // ISO-8859-1
      tag.write(payload)
    }
    textFrame("TIT2", title)
    textFrame("TPE1", artist)
    // v2.3 unsynchronisation (r20): FF followed by 00 or 111xxxxx
    // gets a 00 escape inserted — the decoder must drop it
    val tagBody = {
      val plain = tag.toByteArray
      if (!unsync) plain
      else {
        val u = new java.io.ByteArrayOutputStream(plain.length + 8)
        var i = 0
        while (i < plain.length) {
          u.write(plain(i))
          if ((plain(i) & 0xff) == 0xff && i + 1 < plain.length &&
            (plain(i + 1) == 0 || (plain(i + 1) & 0xe0) == 0xe0)) u.write(0)
          i += 1
        }
        u.toByteArray
      }
    }
    val frames = new java.io.ByteArrayOutputStream()
    val full = new java.io.ByteArrayOutputStream()
    full.write('I'); full.write('D'); full.write('3')
    full.write(3); full.write(0) // v2.3.0
    full.write(if (unsync) 0x80 else 0) // flags
    val ts = tagBody.length
    full.write((ts >> 21) & 0x7f); full.write((ts >> 14) & 0x7f)
    full.write((ts >> 7) & 0x7f); full.write(ts & 0x7f)
    full.write(tagBody)

    val kbps = Bitrates(bitrateIdx)
    val rate = Rates(rateIdx)
    val frameLen = 144000 * kbps / rate
    var f = 0
    var fi = 0
    while (f < nFrames) {
      frames.write(0xff)
      frames.write(0xfb) // MPEG1, Layer III, no CRC
      frames.write((bitrateIdx << 4) | (rateIdx << 2)) // no padding
      frames.write(if (mono) 0xc0 else 0x00)
      var i = 4
      while (i < frameLen) {
        frames.write(fill(fi % fill.length))
        fi += 1
        i += 1
      }
      f += 1
    }
    full.write(frames.toByteArray)
    full.toByteArray
  }
}

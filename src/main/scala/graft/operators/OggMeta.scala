package graft.operators

import graft.bytes.Bytes._

/** Ogg container metadata — the [[Mp3Meta]] discipline for the other
  * audio container a crawl carries in volume (Opus voice notes,
  * Vorbis archives): page walk with per-page CRC verification, first-
  * packet codec identification, and exact duration from the terminal
  * granule position — all WITHOUT entropy decode (granule positions
  * are the container's own sample clock; this is how `ffprobe` gets
  * a duration without decoding).
  *
  * IN scope:
  *  - Ogg page framing (RFC 3533): capture pattern, version 0, header
  *    type, 64-bit granule position, serial, sequence, CRC-32
  *    (polynomial 0x04C11DB7, init 0, unreflected, no final xor,
  *    computed with the CRC field zeroed — verified on EVERY page),
  *    lacing values, continued packets
  *  - first-packet codec headers: OpusHead (channels, pre-skip;
  *    output clock fixed at 48 kHz per RFC 7845) and
  *    \x01vorbis (channels, sample rate)
  *  - duration: last page with granulepos != -1; Opus
  *    (gp - pre_skip)*1000/48000 truncating, Vorbis gp*1000/rate
  *
  * OUT of scope (named Lefts): multiplexed/chained streams (a second
  * serial or a second BOS page), Theora/FLAC-in-Ogg/Speex first
  * packets, and packets spanning pages for the ID header (real ID
  * headers fit one page).
  *
  * Malformed input is a Left, never an exception.
  */
object OggMeta {

  final case class OggStats(
      codec: String, // opus | vorbis
      channels: Int,
      sampleRate: Int, // opus: 48000 (the container clock)
      preSkip: Int, // opus only; 0 for vorbis
      nPages: Long,
      lastGranule: Long,
      durationMs: Long)

  def sniff(d: Array[Byte]): Boolean =
    d.length >= 4 && d(0) == 'O' && d(1) == 'g' && d(2) == 'g' && d(3) == 'S'

  /** Ogg CRC-32: forward (unreflected), poly 0x04C11DB7, init 0, no
    * final xor — NOT the zlib CRC.
    */
  private[operators] def oggCrc(d: Array[Byte], from: Int, until: Int,
      zeroFrom: Int = -1, zeroUntil: Int = -1): Long = {
    var crc = 0L
    var i = from
    while (i < until) {
      val b = if (i >= zeroFrom && i < zeroUntil) 0 else d(i) & 0xff
      crc ^= b.toLong << 24
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80000000L) != 0) ((crc << 1) ^ 0x04c11db7L) & 0xffffffffL
        else (crc << 1) & 0xffffffffL
        k += 1
      }
      i += 1
    }
    crc
  }

  def decode(d: Array[Byte]): Either[String, OggStats] = {
    if (!sniff(d)) return Left("ogg: missing OggS capture pattern")
    guarded("ogg")(decodeInner(d))
  }

  private def decodeInner(d: Array[Byte]): Either[String, OggStats] = {
    var pos = 0
    var serial = -1L
    var nPages = 0L
    var lastGranule = -1L
    var firstPacket: Array[Byte] = null
    while (pos < d.length) {
      if (pos + 27 > d.length) throw Malformed("ogg: truncated page header")
      if (!(d(pos) == 'O' && d(pos + 1) == 'g' && d(pos + 2) == 'g' && d(pos + 3) == 'S'))
        throw Malformed("ogg: lost page sync")
      if (d(pos + 4) != 0) throw Malformed(s"ogg: stream structure version ${d(pos + 4)}")
      val htype = d(pos + 5) & 0xff
      val granule = u64le(d, pos + 6)
      val pageSerial = u32le(d, pos + 14)
      val crcStored = u32le(d, pos + 22)
      val nSegs = d(pos + 26) & 0xff
      val lacingAt = pos + 27
      if (lacingAt + nSegs > d.length) throw Malformed("ogg: truncated lacing table")
      var bodyLen = 0
      var s = 0
      while (s < nSegs) { bodyLen += d(lacingAt + s) & 0xff; s += 1 }
      val bodyAt = lacingAt + nSegs
      val pageEnd = bodyAt + bodyLen
      if (pageEnd > d.length) throw Malformed("ogg: page body runs past EOF")
      if (oggCrc(d, pos, pageEnd, zeroFrom = pos + 22, zeroUntil = pos + 26) != crcStored)
        throw Malformed("ogg: page CRC mismatch")
      if (serial < 0) {
        if ((htype & 2) == 0) throw Malformed("ogg: first page is not a BOS page")
        serial = pageSerial
      } else if (pageSerial != serial)
        throw Malformed("ogg: multiplexed/chained streams are out of scope")
      else if ((htype & 2) != 0)
        throw Malformed("ogg: second BOS page — chained streams are out of scope")
      if (firstPacket == null) {
        // ID header: first packet of the BOS page, must end there
        var len = 0
        var k = 0
        var done = false
        while (k < nSegs && !done) {
          len += d(lacingAt + k) & 0xff
          if ((d(lacingAt + k) & 0xff) < 255) done = true
          k += 1
        }
        if (!done) throw Malformed("ogg: ID header spans pages — out of scope")
        firstPacket = java.util.Arrays.copyOfRange(d, bodyAt, bodyAt + len)
      }
      if (granule != -1L) lastGranule = granule
      nPages += 1
      pos = pageEnd
    }
    if (firstPacket == null || nPages == 0) return Left("ogg: no pages")
    if (lastGranule < 0) return Left("ogg: no page carries a granule position")

    val p = firstPacket
    if (p.length >= 19 && new String(p, 0, 8, java.nio.charset.StandardCharsets.US_ASCII) == "OpusHead") {
      val channels = p(9) & 0xff
      val preSkip = u16le(p, 10)
      if (channels <= 0) return Left("ogg: bad Opus channel count")
      val dur = math.max(0L, lastGranule - preSkip) * 1000L / 48000L
      Right(OggStats("opus", channels, 48000, preSkip, nPages, lastGranule, dur))
    } else if (p.length >= 30 && p(0) == 1 &&
      new String(p, 1, 6, java.nio.charset.StandardCharsets.US_ASCII) == "vorbis") {
      val channels = p(11) & 0xff
      val rate = u32le(p, 12).toInt
      if (channels <= 0) return Left("ogg: bad Vorbis channel count")
      if (rate <= 0) return Left("ogg: bad Vorbis sample rate")
      Right(OggStats("vorbis", channels, rate, 0, nPages, lastGranule,
        lastGranule * 1000L / rate))
    } else Left("ogg: first packet is neither OpusHead nor a Vorbis ID header")
  }

  // ------------------------------------------------------------ encode

  /** Deterministic Ogg builder — the `Media.toOgg` adapter/fixture
    * substrate: a BOS page carrying the codec ID header (OpusHead or
    * the Vorbis ID packet), then `nAudioPages` audio pages whose
    * payload bytes cycle `fill` and whose granule positions step
    * linearly to `lastGranule` (the EOS page). Every page CRC'd.
    */
  def encodeOgg(
      codec: String, channels: Int, rate: Int, preSkip: Int,
      nAudioPages: Int, lastGranule: Long, fill: Array[Byte]): Array[Byte] = {
    require(codec == "opus" || codec == "vorbis", s"encodeOgg: unknown codec $codec")
    require(nAudioPages >= 1, "encodeOgg: need at least one audio page")
    require(channels >= 1 && channels <= 255, s"encodeOgg: bad channels $channels")
    require(fill.nonEmpty, "encodeOgg: empty fill")
    val serial = 0x47524654L // 'GRFT'

    def page(seq: Int, htype: Int, granule: Long, body: Array[Byte]): Array[Byte] = {
      require(body.length < 255 * 255, "encodeOgg: page body too large")
      val nFull = body.length / 255
      val lacing = Array.fill(nFull)(255.toByte) :+ (body.length % 255).toByte
      val out = new Array[Byte](27 + lacing.length + body.length)
      out(0) = 'O'; out(1) = 'g'; out(2) = 'g'; out(3) = 'S'
      out(4) = 0
      out(5) = htype.toByte
      var g = granule
      for (k <- 0 until 8) { out(6 + k) = (g & 0xff).toByte; g >>>= 8 }
      var sv = serial
      for (k <- 0 until 4) { out(14 + k) = (sv & 0xff).toByte; sv >>>= 8 }
      var sq = seq.toLong
      for (k <- 0 until 4) { out(18 + k) = (sq & 0xff).toByte; sq >>>= 8 }
      out(26) = lacing.length.toByte
      System.arraycopy(lacing, 0, out, 27, lacing.length)
      System.arraycopy(body, 0, out, 27 + lacing.length, body.length)
      val crc = oggCrc(out, 0, out.length)
      for (k <- 0 until 4) out(22 + k) = ((crc >>> (8 * k)) & 0xff).toByte
      out
    }

    val idPacket: Array[Byte] =
      if (codec == "opus") {
        val b = new Array[Byte](19)
        System.arraycopy("OpusHead".getBytes("US-ASCII"), 0, b, 0, 8)
        b(8) = 1 // version
        b(9) = channels.toByte
        b(10) = (preSkip & 0xff).toByte; b(11) = ((preSkip >> 8) & 0xff).toByte
        // input sample rate (informational)
        b(12) = (rate & 0xff).toByte; b(13) = ((rate >> 8) & 0xff).toByte
        b(14) = ((rate >> 16) & 0xff).toByte; b(15) = ((rate >> 24) & 0xff).toByte
        b // gain 0, mapping family 0
      } else {
        val b = new Array[Byte](30)
        b(0) = 1
        System.arraycopy("vorbis".getBytes("US-ASCII"), 0, b, 1, 6)
        // version 0 (4 bytes), channels, rate LE
        b(11) = channels.toByte
        b(12) = (rate & 0xff).toByte; b(13) = ((rate >> 8) & 0xff).toByte
        b(14) = ((rate >> 16) & 0xff).toByte; b(15) = ((rate >> 24) & 0xff).toByte
        b(16) = 0; b(20) = 0; b(24) = 0
        b(28) = (64 | 6).toByte // blocksizes (informational here)
        b(29) = 1 // framing bit
        b
      }

    val out = new java.io.ByteArrayOutputStream()
    out.write(page(0, 2, if (codec == "opus") 0L else 0L, idPacket)) // BOS
    var pg = 1
    var fi = 0
    while (pg <= nAudioPages) {
      val bodyLen = 40 + (pg % 3) * 17
      val body = Array.tabulate(bodyLen)(_ => { val b = fill(fi % fill.length); fi += 1; b })
      val granule = lastGranule * pg / nAudioPages
      val htype = if (pg == nAudioPages) 4 else 0 // EOS on the last page
      out.write(page(pg, htype, granule, body))
      pg += 1
    }
    out.toByteArray
  }
}

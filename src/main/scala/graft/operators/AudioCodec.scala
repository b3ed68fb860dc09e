package graft.operators

import graft.bytes.Bytes._

/** Real audio decoding for the multimodal column path — a
  * dependency-free WAV (RIFF) parser, the audio sibling of
  * [[ImageCodec]]:
  *
  *  - RIFF/WAVE container: chunk walk (`fmt `, `data`, any others
  *    skipped) honoring the odd-size pad byte, per the RIFF spec.
  *  - PCM (format 1): unsigned 8-bit and signed little-endian 16-bit
  *    samples, any channel count. Other format codes (float,
  *    compressed) are a clear `Left`, not a crash.
  *
  * Like the image codec, the decoder computes SUMMARY STATS in one
  * streaming pass over the payload — global sample mean/min/max,
  * frame count, duration from the header rate — without materializing
  * a decoded sample buffer: O(1) memory per record at any clip
  * length, the only shape that survives a media table at scale.
  * Malformed input is `Left(reason)`, never an exception (see
  * [[Media.decodeAudio]] for the error-channel surface).
  */
object AudioCodec {

  /** Single-pass summary of a decoded PCM clip. `mean`/`min`/`max`
    * are over raw sample values across ALL channels (unsigned 0..255
    * for 8-bit; signed -32768..32767 for 16-bit).
    */
  final case class AudioStats(
      codec: String, // wav
      channels: Int,
      sampleRate: Int,
      bits: Int,
      nFrames: Long,
      durationMs: Long,
      mean: Double,
      sMin: Int,
      sMax: Int)

  /** True when the payload starts with a RIFF/WAVE signature. */
  def sniff(data: Array[Byte]): Boolean =
    data.length >= 12 &&
      data(0) == 'R' && data(1) == 'I' && data(2) == 'F' && data(3) == 'F' &&
      data(8) == 'W' && data(9) == 'A' && data(10) == 'V' && data(11) == 'E'

  /** Decode a WAV payload to its summary stats, or a parse-failure
    * reason.
    */
  def decode(d: Array[Byte]): Either[String, AudioStats] =
    dataChunk(d).flatMap { case (body, size, format, channels, rate, bits) =>
      decodeData(d, body, size, format, channels, rate, bits)
    }

  /** Chunk walk to the data chunk: (body offset, size, format code,
    * channels, rate, bits). fmt must precede data (the spec's layout);
    * unknown chunks are skipped, odd sizes consume a pad byte. Shared
    * by [[decode]] and [[aHash]] so both address samples identically.
    */
  private def dataChunk(
      d: Array[Byte]): Either[String, (Int, Long, Int, Int, Int, Int)] = {
    if (!sniff(d)) return Left("wav: not a RIFF/WAVE payload")
    var pos = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // format, channels, rate, bits
    var result: Option[Either[String, (Int, Long, Int, Int, Int, Int)]] = None
    while (result.isEmpty && pos + 8 <= d.length) {
      val id = new String(d, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = u32le(d, pos + 4)
      val body = pos + 8
      if (body + size > d.length)
        result = Some(Left(s"wav: truncated '$id' chunk — need $size bytes, " +
          s"have ${d.length - body}"))
      else id match {
        case "fmt " =>
          if (size < 16) result = Some(Left("wav: fmt chunk shorter than 16 bytes"))
          else fmt = Some((u16le(d, body), u16le(d, body + 2), u32le(d, body + 4).toInt, u16le(d, body + 14)))
        case "data" =>
          fmt match {
            case None => result = Some(Left("wav: data chunk before fmt"))
            case Some((format, channels, rate, bits)) =>
              result = Some(Right((body, size, format, channels, rate, bits)))
          }
        case _ => () // skip unknown chunk (LIST, cue, fact, ...)
      }
      pos = body + size.toInt + (size.toInt & 1)
    }
    result.getOrElse(Left(
      if (fmt.isEmpty) "wav: no fmt chunk" else "wav: no data chunk"))
  }

  /** Perceptual average-hash of a PCM clip — the audio twin of
    * [[ImageCodec.aHash]]: sample the FIRST channel at 32 fixed
    * waveform positions (frame (w·nFrames) div 32 for w = 0..31 —
    * nearest-neighbor, so any duration maps onto the same 32 slots),
    * threshold each sample against the floor mean (Math.floorDiv, so
    * signed 16-bit clips round the same way DuckDB's `//` does), and
    * pack bit w of a 32-bit signature. Every step is integer
    * arithmetic; the q129 oracle rebuilds the signature from the
    * source bytes.
    */
  def aHash(d: Array[Byte]): Either[String, Long] =
    dataChunk(d).flatMap { case (body, size, format, channels, rate, bits) =>
      if (format != 1) Left(s"wav: format code $format not supported (PCM only)")
      else if (channels <= 0) Left(s"wav: bad channel count $channels")
      else if (rate <= 0) Left(s"wav: bad sample rate $rate")
      else if (bits != 8 && bits != 16) Left(s"wav: $bits-bit samples not supported (8/16 only)")
      else {
        val bytesPerSample = bits / 8
        val frameBytes = channels * bytesPerSample
        if (size % frameBytes != 0)
          Left(s"wav: data size $size not a multiple of the $frameBytes-byte frame")
        else {
          val nFrames = size / frameBytes
          if (nFrames == 0) Left("wav: empty data chunk")
          else {
            val vals = new Array[Int](32)
            var w = 0
            while (w < 32) {
              val p = body + ((w * nFrames) / 32).toInt * frameBytes
              vals(w) =
                if (bits == 8) d(p) & 0xff // 8-bit PCM is unsigned
                else ((d(p) & 0xff) | (d(p + 1) << 8)).toShort.toInt // 16-bit signed LE
              w += 1
            }
            val mean = java.lang.Math.floorDiv(vals.map(_.toLong).sum, 32L)
            var h = 0L
            var i = 0
            while (i < 32) {
              if (vals(i) > mean) h |= 1L << i
              i += 1
            }
            Right(h)
          }
        }
      }
    }

  /** One analysis WINDOW's energy: `window` the 0-based index, `n`
    * its sample count (the last window may be partial), `devPpm` the
    * mean absolute deviation from the zero line normalized to ppm of
    * full scale — (Σ min(|v − center|, scale) · 10⁶) DIV (scale · n),
    * truncating. 8-bit PCM centers at 128 over scale 127; 16-bit at 0
    * over 32767. Per-sample deviation is CLAMPED at scale (the
    * asymmetric extreme sample — byte 0 at 8-bit, −32768 at 16-bit —
    * deviates by scale+1), so devPpm ≤ 10⁶ always: "ppm of full
    * scale" is a real bound, which callers like silenceSegments rely
    * on when validating thresholdPpm ≤ 10⁶.
    */
  final case class WindowEnergy(window: Long, n: Long, devPpm: Long)

  /** Windowed energy over the sample stream — the substrate of
    * energy-based voice-activity / silence detection (the audio twin
    * of [[VideoCodec.sceneDeltas]]): fixed `winSamples` windows, per
    * window the exact integer mean absolute deviation from the zero
    * line in ppm of full scale. Interleaved channels fold into the
    * same window (energy is channel-agnostic at this granularity).
    * Single pass, O(1) memory; all integer so the q202 oracle
    * re-derives every window from the source bytes.
    */
  def windowEnergies(
      d: Array[Byte], winSamples: Int): Either[String, Seq[WindowEnergy]] = {
    require(winSamples >= 1, s"winSamples must be >= 1: $winSamples")
    // acc ≤ scale·winSamples with the clamp below, so acc·10⁶ stays
    // under 2⁶³ for winSamples ≤ 10⁸ (32767·10⁸·10⁶ ≈ 3.3·10¹⁸)
    require(winSamples <= 100000000,
      s"winSamples must be <= 1e8 (ppm arithmetic bound): $winSamples")
    dataChunk(d).flatMap { case (body, size, format, channels, rate, bits) =>
      if (format != 1) return Left(s"wav: format code $format not supported (PCM only)")
      if (channels <= 0) return Left(s"wav: bad channel count $channels")
      if (rate <= 0) return Left(s"wav: bad sample rate $rate")
      if (bits != 8 && bits != 16)
        return Left(s"wav: $bits-bit samples not supported (8/16 only)")
      val bytesPerSample = bits / 8
      if (size % (channels * bytesPerSample) != 0)
        return Left(s"wav: data size $size not a multiple of the frame")
      val nSamples = size / bytesPerSample
      if (nSamples == 0) return Left("wav: empty data chunk")
      val (center, scale) = if (bits == 8) (128, 127L) else (0, 32767L)
      val out = scala.collection.mutable.ArrayBuffer.empty[WindowEnergy]
      var i = 0L
      var p = body
      var win = 0L
      var acc = 0L
      var n = 0L
      while (i < nSamples) {
        val v =
          if (bits == 8) d(p) & 0xff
          else ((d(p) & 0xff) | (d(p + 1) << 8)).toShort.toInt
        acc += math.min(math.abs(v - center), scale)
        n += 1
        if (n == winSamples) {
          out += WindowEnergy(win, n, (acc * 1000000L) / (scale * n))
          win += 1; acc = 0L; n = 0L
        }
        p += bytesPerSample
        i += 1
      }
      if (n > 0) out += WindowEnergy(win, n, (acc * 1000000L) / (scale * n))
      Right(out.toSeq)
    }
  }

  private def decodeData(
      d: Array[Byte], body: Int, size: Long,
      format: Int, channels: Int, rate: Int, bits: Int): Either[String, AudioStats] = {
    if (format != 1) return Left(s"wav: format code $format not supported (PCM only)")
    if (channels <= 0) return Left(s"wav: bad channel count $channels")
    if (rate <= 0) return Left(s"wav: bad sample rate $rate")
    if (bits != 8 && bits != 16) return Left(s"wav: $bits-bit samples not supported (8/16 only)")
    val bytesPerSample = bits / 8
    val frameBytes = channels * bytesPerSample
    if (size % frameBytes != 0)
      return Left(s"wav: data size $size not a multiple of the $frameBytes-byte frame")
    val nSamples = size / bytesPerSample
    if (nSamples == 0) return Left("wav: empty data chunk")
    var sum = 0L
    var mn = Int.MaxValue
    var mx = Int.MinValue
    var i = 0L
    var p = body
    while (i < nSamples) {
      val v =
        if (bits == 8) d(p) & 0xff // 8-bit PCM is unsigned
        else ((d(p) & 0xff) | (d(p + 1) << 8)).toShort.toInt // 16-bit is signed LE
      sum += v
      if (v < mn) mn = v
      if (v > mx) mx = v
      p += bytesPerSample
      i += 1
    }
    val nFrames = size / frameBytes
    Right(AudioStats("wav", channels, rate, bits, nFrames,
      nFrames * 1000L / rate, sum.toDouble / nSamples, mn, mx))
  }
}

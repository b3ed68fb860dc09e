package graft.operators

import graft.bytes.Bytes._

/** MP4 / ISO-BMFF container metadata — video is the dominant crawl
  * media type by bytes, and a training pipeline needs duration, track
  * geometry, and codec identification WITHOUT an entropy decode (the
  * ffprobe rule the [[Mp3Meta]]/[[OggMeta]] siblings already follow):
  * everything here lives in the container's own box structure
  * (ISO/IEC 14496-12), so the walk is a pure byte scan.
  *
  * IN scope:
  *  - box framing: 32-bit big-endian size + fourcc, 64-bit largesize
  *    (size == 1), size == 0 ("to end of file", legal only for the
  *    final top-level box), strict child-inside-parent bounds
  *  - ftyp: major brand + minor version (the file MUST lead with it
  *    in this profile — the spec wants it "as early as possible")
  *  - moov/mvhd versions 0 and 1: movie timescale + duration;
  *    duration_ms = duration * 1000 / timescale, truncating
  *  - per-trak: tkhd v0/v1 (track id, 16.16 fixed-point presentation
  *    width/height — integer part surfaced), mdia/mdhd media
  *    timescale, mdia/hdlr handler type (vide / soun),
  *    mdia/minf/stbl/stsd first-entry sample format (the codec
  *    fourcc: avc1, hev1, mp4a, ...)
  *  - first video track and first audio track surfaced; every track
  *    counted
  *  - FRAGMENTED movies (r20 — DASH/CMAF segments, the dominant
  *    modern streaming-origin layout): moov/mvex/trex default sample
  *    durations and the optional mvex/mehd fragment_duration; each
  *    top-level moof counted and its traf walked — tfhd (track id +
  *    optional default-sample-duration override, flag 0x08) and trun
  *    in BOTH layouts (per-sample durations, flag 0x100, or
  *    count x default). When mvhd duration is 0/absent (the
  *    fragmented convention), duration_ms falls mehd -> sidx (summed
  *    subsegment_durations at the sidx's own timescale) -> the max
  *    over tracks of summed trun ticks at that track's mdhd
  *    timescale. `fragmented`/`n_fragments` surface so a census can
  *    split the family. A trun with no duration source (no
  *    per-sample durations, no tfhd default, no PRECEDING trex —
  *    moov-before-moof is the spec's own ordering) is a named Left.
  *  - STANDALONE media segments (r20 — what a DASH origin actually
  *    serves in volume: one init segment, thousands of media
  *    segments): files leading with `styp` and carrying NO moov are
  *    accepted when a `sidx` provides the timescale + duration;
  *    brand comes from styp, track fields read empty/zero (they
  *    live in the init segment). A moov-less file without a sidx is
  *    a named Left (no timescale source).
  *
  * OUT of scope (named Lefts): mvhd/tkhd versions > 1, encrypted
  * boxes, and files whose first box is neither ftyp nor styp. The
  * actual sample data (mdat) is never touched — fragment durations
  * ride the moof/sidx box walk, never an entropy decode.
  *
  * Malformed input is a Left, never an exception. The independent
  * python fixture (scripts/gen_mp4_fixture.py) pins the walk.
  */
object Mp4Meta {

  final case class Mp4Stats(
      brand: String,
      minorVersion: Long,
      timescale: Long,
      durationMs: Long,
      nTracks: Int,
      width: Int, // first vide track, integer part of 16.16
      height: Int,
      videoCodec: String, // "" when no vide track
      audioCodec: String, // "" when no soun track
      fragmented: Boolean, // any moof box present (r20)
      nFragments: Int) // number of top-level moof boxes

  def sniff(d: Array[Byte]): Boolean =
    d.length >= 12 && ((d(4) == 'f' && d(5) == 't') || (d(4) == 's' && d(5) == 't')) &&
      d(6) == 'y' && d(7) == 'p'

  def decode(d: Array[Byte]): Either[String, Mp4Stats] = {
    if (!sniff(d)) return Left("mp4: first box is neither ftyp nor styp")
    guarded("mp4")(decodeInner(d))
  }

  private final class TrackCtx {
    var trackId = -1L
    var handler = ""
    var codec = ""
    var w = 0
    var h = 0
    var mediaTimescale = -1L // mdhd; needed only on the fragmented path
  }

  private def decodeInner(d: Array[Byte]): Either[String, Mp4Stats] = {
    def fourcc(o: Int): String =
      new String(d, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    var brand = ""
    var minorVersion = -1L
    var timescale = -1L
    var duration = -1L
    val tracks = scala.collection.mutable.ArrayBuffer.empty[TrackCtx]
    // fragmented-movie state (r20): trex defaults, mehd duration,
    // summed trun ticks per track, per-traf overrides
    var trexDefault = Map.empty[Long, Long]
    var mehdDuration = -1L
    var fragTicks = Map.empty[Long, Long]
    var nFrags = 0
    var trafTrack = -1L
    var trafDefaultDur = -1L
    // segment-index state (r20): sidx timescale + summed reference
    // subsegment durations — the moov-less media-segment source
    var sidxTimescale = -1L
    var sidxTicks = 0L
    // a trun with no in-file duration source is only fatal when the
    // summed-trun fallback is actually NEEDED (a sidx-bearing
    // standalone segment legitimately lacks trex)
    var trunNoSource = false

    // containers whose children this profile walks; everything else
    // is skipped whole (mdat especially — never touched)
    val containers = Set("moov", "trak", "mdia", "minf", "stbl", "mvex")

    def walk(from: Int, until: Int, topLevel: Boolean, ctx: TrackCtx): Unit = {
      var pos = from
      while (pos < until) {
        if (pos + 8 > until) throw Malformed("mp4: truncated box header")
        val size32 = u32be(d, pos)
        val typ = fourcc(pos + 4)
        val (body, end) =
          if (size32 == 0) {
            // "to end of file": only the final top-level box may claim it
            if (!topLevel) throw Malformed(s"mp4: size-0 box $typ below top level")
            (pos + 8, until)
          } else if (size32 == 1) {
            if (pos + 16 > until) throw Malformed("mp4: truncated largesize")
            val large = u64be(d, pos + 8)
            if (large < 16) throw Malformed(s"mp4: largesize $large under header size")
            val e = pos + large
            if (e > until) throw Malformed(s"mp4: box $typ runs past its parent")
            (pos + 16, e.toInt)
          } else {
            if (size32 < 8) throw Malformed(s"mp4: box size $size32 under header size")
            val e = pos + size32
            if (e > until) throw Malformed(s"mp4: box $typ runs past its parent")
            (pos + 8, e.toInt)
          }
        typ match {
          case "ftyp" | "styp" => // styp: the media-segment twin
            if (body + 8 > end) throw Malformed("mp4: ftyp too short")
            brand = fourcc(body)
            minorVersion = u32be(d, body + 4)
          case "sidx" =>
            val ver = d(body) & 0xff
            if (ver > 1) throw Malformed(s"mp4: sidx version $ver out of scope")
            if (body + 12 > end) throw Malformed("mp4: sidx too short")
            sidxTimescale = u32be(d, body + 8)
            if (sidxTimescale <= 0) throw Malformed("mp4: sidx timescale is zero")
            // after earliest_presentation_time + first_offset
            // (4+4 in v0, 8+8 in v1): reserved(2) + reference_count(2)
            val o = body + 12 + (if (ver == 1) 16 else 8)
            if (o + 4 > end) throw Malformed("mp4: sidx too short for its version")
            val cnt = (u32be(d, o) & 0xffffL).toInt
            if (o + 4 + 12L * cnt > end) throw Malformed("mp4: sidx reference table overrun")
            var i = 0
            while (i < cnt) {
              // each reference: type+size(4), subsegment_duration(4),
              // SAP fields(4)
              sidxTicks += u32be(d, o + 4 + 12 * i + 4)
              i += 1
            }
          case "moof" =>
            nFrags += 1
            walk(body, end, topLevel = false, null)
          case "traf" =>
            // per-traf overrides reset; tfhd (mandatory first child
            // per spec) re-establishes them
            trafTrack = -1L
            trafDefaultDur = -1L
            walk(body, end, topLevel = false, null)
          case "tfhd" =>
            if (body + 8 > end) throw Malformed("mp4: tfhd too short")
            val flags = u32be(d, body) & 0xffffffL
            trafTrack = u32be(d, body + 4)
            // optional fields in spec order: base-data-offset (8,
            // 0x01), sample-description-index (4, 0x02),
            // default-sample-duration (4, 0x08)
            var o = body + 8
            if ((flags & 0x01L) != 0) o += 8
            if ((flags & 0x02L) != 0) o += 4
            if ((flags & 0x08L) != 0) {
              if (o + 4 > end) throw Malformed("mp4: tfhd too short for its flags")
              trafDefaultDur = u32be(d, o)
            }
          case "trun" =>
            if (trafTrack < 0) throw Malformed("mp4: trun outside a traf with tfhd")
            if (body + 8 > end) throw Malformed("mp4: trun too short")
            val flags = u32be(d, body) & 0xffffffL
            val sampleCount = u32be(d, body + 4)
            var o = body + 8
            if ((flags & 0x001L) != 0) o += 4 // data-offset
            if ((flags & 0x004L) != 0) o += 4 // first-sample-flags
            val perSample = Seq(0x100L, 0x200L, 0x400L, 0x800L)
              .map(f => if ((flags & f) != 0) 4 else 0)
            val stride = perSample.sum
            val ticks =
              if ((flags & 0x100L) != 0) {
                if (o + stride * sampleCount > end)
                  throw Malformed("mp4: trun sample table runs past its box")
                var acc = 0L
                var i = 0L
                while (i < sampleCount) {
                  acc += u32be(d, o + (stride * i).toInt) // duration is field 0
                  i += 1
                }
                acc
              } else {
                val dflt =
                  if (trafDefaultDur >= 0) trafDefaultDur
                  else trexDefault.getOrElse(trafTrack, -1L)
                if (dflt < 0) { trunNoSource = true; 0L }
                else sampleCount * dflt
              }
            fragTicks = fragTicks.updated(trafTrack,
              fragTicks.getOrElse(trafTrack, 0L) + ticks)
          case "trex" =>
            if (body + 24 > end) throw Malformed("mp4: trex too short")
            trexDefault = trexDefault.updated(u32be(d, body + 4), u32be(d, body + 12))
          case "mehd" =>
            val ver = d(body) & 0xff
            if (ver > 1) throw Malformed(s"mp4: mehd version $ver out of scope")
            if (body + 4 + (if (ver == 1) 8 else 4) > end)
              throw Malformed("mp4: mehd too short")
            mehdDuration = if (ver == 1) u64be(d, body + 4) else u32be(d, body + 4)
          case "mdhd" =>
            if (ctx != null) {
              val ver = d(body) & 0xff
              if (ver > 1) throw Malformed(s"mp4: mdhd version $ver out of scope")
              val o = body + 4 + (if (ver == 1) 16 else 8)
              if (o + 4 > end) throw Malformed("mp4: mdhd too short")
              ctx.mediaTimescale = u32be(d, o)
            }
          case "mvhd" =>
            val ver = d(body) & 0xff
            if (ver > 1) throw Malformed(s"mp4: mvhd version $ver out of scope")
            // FullBox header 4, then v0: creation 4 + modification 4;
            // v1: 8 + 8 — timescale is u32 in BOTH versions
            val o = body + 4 + (if (ver == 1) 16 else 8)
            if (o + (if (ver == 1) 12 else 8) > end) throw Malformed("mp4: mvhd too short")
            timescale = u32be(d, o)
            duration = if (ver == 1) u64be(d, o + 4) else u32be(d, o + 4)
            if (timescale <= 0) throw Malformed("mp4: mvhd timescale is zero")
          case "trak" =>
            val t = new TrackCtx
            walk(body, end, topLevel = false, t)
            tracks += t
          case "tkhd" =>
            if (ctx == null) throw Malformed("mp4: tkhd outside trak")
            val ver = d(body) & 0xff
            if (ver > 1) throw Malformed(s"mp4: tkhd version $ver out of scope")
            ctx.trackId = u32be(d, body + 4 + (if (ver == 1) 16 else 8))
            // after FullBox hdr: v0 creation 4 + modification 4 +
            // track_ID 4 + reserved 4 + duration 4 = 20 (v1: 32), then
            // reserved 8, layer/alt/volume/reserved 8, matrix 36
            val o = body + 4 + (if (ver == 1) 32 else 20) + 8 + 8 + 36
            if (o + 8 > end) throw Malformed("mp4: tkhd too short")
            ctx.w = (u32be(d, o) >>> 16).toInt // 16.16 fixed -> integer part
            ctx.h = (u32be(d, o + 4) >>> 16).toInt
          case "hdlr" =>
            if (ctx != null) {
              // FullBox hdr 4 + pre_defined 4, then handler_type
              if (body + 12 > end) throw Malformed("mp4: hdlr too short")
              ctx.handler = fourcc(body + 8)
            }
          case "stsd" =>
            if (ctx == null) throw Malformed("mp4: stsd outside trak")
            if (body + 8 > end) throw Malformed("mp4: stsd too short")
            val entries = u32be(d, body + 4)
            if (entries > 0) {
              // first sample entry: u32 size + format fourcc
              if (body + 16 > end) throw Malformed("mp4: stsd entry too short")
              ctx.codec = fourcc(body + 12)
            }
          case t if containers.contains(t) =>
            walk(body, end, topLevel = false, ctx)
          case _ => () // unknown / mdat / free: skipped whole
        }
        pos = end
      }
    }

    walk(0, d.length, topLevel = true, null)
    if (timescale < 0) {
      // moov-less STANDALONE media segment (r20): legal only when a
      // sidx provides the timescale + duration
      if (nFrags == 0 || sidxTimescale <= 0) return Left("mp4: no moov/mvhd box")
      return Right(Mp4Stats(brand, minorVersion, sidxTimescale,
        sidxTicks * 1000L / sidxTimescale, 0, 0, 0, "", "",
        fragmented = true, nFrags))
    }
    val vide = tracks.find(_.handler == "vide")
    val soun = tracks.find(_.handler == "soun")
    // duration: mvhd when it carries one; fragmented files write 0
    // there, so fall mehd (movie timescale) -> sidx (its own
    // timescale) -> the max over tracks of summed trun ticks at the
    // track's OWN mdhd timescale
    val durationMs =
      if (duration > 0 || nFrags == 0) duration * 1000L / timescale
      else if (mehdDuration >= 0) mehdDuration * 1000L / timescale
      else if (sidxTimescale > 0) sidxTicks * 1000L / sidxTimescale
      else {
        if (trunNoSource)
          throw Malformed("mp4: trun with no sample duration source (tfhd/trex/sidx)")
        fragTicks.foldLeft(0L) { case (best, (tid, ticks)) =>
          val mts = tracks.find(_.trackId == tid).map(_.mediaTimescale).getOrElse(-1L)
          if (mts <= 0) throw Malformed(s"mp4: fragments on track $tid without an mdhd timescale")
          math.max(best, ticks * 1000L / mts)
        }
      }
    Right(Mp4Stats(brand, minorVersion, timescale,
      durationMs, tracks.size,
      vide.map(_.w).getOrElse(0), vide.map(_.h).getOrElse(0),
      vide.map(_.codec).getOrElse(""), soun.map(_.codec).getOrElse(""),
      nFrags > 0, nFrags))
  }

  // ------------------------------------------------------------ encode

  // shared big-endian writers for both deterministic encoders
  private def be32(v: Long): Array[Byte] = Array(
    (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xffffffffL)
  private def cc(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private def box(typ: String, parts: Array[Byte]*): Array[Byte] = {
    val payload = parts.foldLeft(Array.emptyByteArray)(_ ++ _)
    be32(8L + payload.length) ++ cc(typ) ++ payload
  }

  final case class Mp4Track(
      handler: String, // vide | soun
      codec: String, // sample-entry fourcc
      trackId: Long,
      width: Int,
      height: Int)

  /** Deterministic ISO-BMFF encoder — the `Media.toMp4` adapter /
    * fixture substrate: ftyp + moov(mvhd + trak(tkhd + mdia(hdlr +
    * minf(stbl(stsd))))) + mdat carrying the filler bytes. mvhd and
    * the FIRST track's tkhd alternate version 0/1 with the duration's
    * parity so both layouts stay exercised.
    */
  def encodeMp4(
      brand: String, minorVersion: Long, timescale: Long, duration: Long,
      tracks: Seq[Mp4Track], mdat: Array[Byte]): Array[Byte] = {
    require(brand.length == 4, s"encodeMp4: brand '$brand' not a fourcc")
    require(timescale > 0, "encodeMp4: timescale must be positive")
    val v1 = duration % 2 == 1 // exercise both FullBox layouts
    val mvhd =
      if (v1) box("mvhd", Array[Byte](1, 0, 0, 0), be64(0), be64(0),
        be32(timescale), be64(duration), be32(0x00010000L), be32(0),
        new Array[Byte](76))
      else box("mvhd", Array[Byte](0, 0, 0, 0), be32(0), be32(0),
        be32(timescale), be32(duration), be32(0x00010000L), be32(0),
        new Array[Byte](76))
    val traks = tracks.zipWithIndex.map { case (t, i) =>
      val tv1 = v1 && i == 0
      val tkhd =
        if (tv1) box("tkhd", Array[Byte](1, 0, 0, 7), be64(0), be64(0),
          be32(t.trackId), be32(0), be64(duration), new Array[Byte](16),
          new Array[Byte](36),
          be32(t.width.toLong << 16), be32(t.height.toLong << 16))
        else box("tkhd", Array[Byte](0, 0, 0, 7), be32(0), be32(0),
          be32(t.trackId), be32(0), be32(duration), new Array[Byte](16),
          new Array[Byte](36),
          be32(t.width.toLong << 16), be32(t.height.toLong << 16))
      val hdlr = box("hdlr", Array[Byte](0, 0, 0, 0), be32(0),
        cc(t.handler), new Array[Byte](12), Array[Byte](0))
      val entry = box(t.codec, new Array[Byte](8)) // opaque sample entry
      val stsd = box("stsd", Array[Byte](0, 0, 0, 0), be32(1), entry)
      val stbl = box("stbl", stsd)
      val minf = box("minf", stbl)
      val mdia = box("mdia", hdlr, minf)
      box("trak", tkhd, mdia)
    }
    val moov = box("moov", (mvhd +: traks): _*)
    val ftyp = box("ftyp", cc(brand), be32(minorVersion), cc("isom"))
    ftyp ++ moov ++ box("mdat", mdat)
  }

  /** One movie fragment for [[encodeMp4Fragmented]]: `perSample`
    * emits the per-sample-duration trun layout (flag 0x100, one
    * duration per sample); otherwise the trun carries only a sample
    * count and the duration rides tfhd's default (flag 0x08) when
    * `tfhdDefault`, else falls through to the track's trex default —
    * the three duration sources a DASH walk must cover.
    */
  final case class Mp4Frag(
      trackId: Long,
      sampleDurations: Seq[Long],
      perSample: Boolean,
      tfhdDefault: Boolean,
      mdat: Array[Byte])

  /** Deterministic FRAGMENTED ISO-BMFF encoder (r20) — the
    * `Media.toMp4Fragmented` adapter / fixture substrate: an init
    * segment (ftyp + moov with mvhd duration 0, per-trak mdhd
    * carrying the MEDIA timescale, and mvex with one trex per track +
    * optional mehd) followed by one moof/mdat pair per fragment
    * (mfhd sequence numbers from 1, traf{tfhd, trun}). The
    * uniform-duration fragments may omit tfhd's default to exercise
    * the trex fallback; `mehdDuration` (movie-timescale ticks) adds
    * the third duration source.
    */
  def encodeMp4Fragmented(
      brand: String, minorVersion: Long, timescale: Long,
      tracks: Seq[Mp4Track], mediaTimescale: Long,
      trexDefaults: Map[Long, Long], mehdDuration: Option[Long],
      frags: Seq[Mp4Frag]): Array[Byte] = {
    require(brand.length == 4, s"encodeMp4Fragmented: brand '$brand' not a fourcc")
    require(timescale > 0 && mediaTimescale > 0,
      "encodeMp4Fragmented: timescales must be positive")
    require(frags.forall(f => f.perSample || f.sampleDurations.distinct.size <= 1),
      "encodeMp4Fragmented: count x default layout needs uniform durations")

    val fullbox0 = Array[Byte](0, 0, 0, 0)
    val mvhd = box("mvhd", fullbox0, be32(0), be32(0),
      be32(timescale), be32(0), // duration 0: the fragmented convention
      be32(0x00010000L), be32(0), new Array[Byte](76))
    val traks = tracks.map { t =>
      val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7), be32(0), be32(0),
        be32(t.trackId), be32(0), be32(0), new Array[Byte](16),
        new Array[Byte](36),
        be32(t.width.toLong << 16), be32(t.height.toLong << 16))
      val mdhd = box("mdhd", fullbox0, be32(0), be32(0),
        be32(mediaTimescale), be32(0), be32(0x55c40000L)) // language 'und'
      val hdlr = box("hdlr", fullbox0, be32(0),
        cc(t.handler), new Array[Byte](12), Array[Byte](0))
      val entry = box(t.codec, new Array[Byte](8))
      val stsd = box("stsd", fullbox0, be32(1), entry)
      box("trak", tkhd, box("mdia", mdhd, hdlr, box("minf", box("stbl", stsd))))
    }
    val trexes = tracks.map { t =>
      box("trex", fullbox0, be32(t.trackId), be32(1),
        be32(trexDefaults.getOrElse(t.trackId, 0L)), be32(0), be32(0))
    }
    val mvex = box("mvex",
      (mehdDuration.map(d => box("mehd", fullbox0, be32(d))).toSeq ++ trexes): _*)
    val moov = box("moov", (mvhd +: traks) :+ mvex: _*)
    val ftyp = box("ftyp", cc(brand), be32(minorVersion), cc("iso6"))

    (Seq(ftyp, moov) ++ moofMdat(frags)).foldLeft(Array.emptyByteArray)(_ ++ _)
  }

  /** The moof/mdat pair stream shared by [[encodeMp4Fragmented]] and
    * [[encodeMp4Segment]]: mfhd sequence numbers from 1,
    * traf{tfhd, trun} per fragment.
    */
  private def moofMdat(frags: Seq[Mp4Frag]): Seq[Array[Byte]] = {
    val fullbox0 = Array[Byte](0, 0, 0, 0)
    frags.zipWithIndex.flatMap { case (f, i) =>
      val mfhd = box("mfhd", fullbox0, be32(i + 1L))
      // tfhd flags: default-base-is-moof (0x020000) + optional
      // default-sample-duration (0x08)
      val tfFlags = 0x020000L | (if (f.tfhdDefault) 0x08L else 0L)
      val tfhdParts =
        Array[Byte](0, ((tfFlags >> 16) & 0xff).toByte,
          ((tfFlags >> 8) & 0xff).toByte, (tfFlags & 0xff).toByte) +:
          be32(f.trackId) +:
          (if (f.tfhdDefault) Seq(be32(f.sampleDurations.head)) else Nil)
      val tfhd = box("tfhd", tfhdParts: _*)
      val trFlags = if (f.perSample) 0x100L else 0L
      val trunParts =
        Array[Byte](0, 0, ((trFlags >> 8) & 0xff).toByte, (trFlags & 0xff).toByte) +:
          be32(f.sampleDurations.size.toLong) +:
          (if (f.perSample) f.sampleDurations.map(be32) else Nil)
      val trun = box("trun", trunParts: _*)
      Seq(box("moof", mfhd, box("traf", tfhd, trun)), box("mdat", f.mdat))
    }
  }

  /** Deterministic STANDALONE DASH media segment (r20): styp + a v0
    * sidx (reference_ID 1, the given timescale, one reference per
    * entry of `refDurations`) + one moof/mdat pair per fragment —
    * NO moov; the decode must take brand from styp and duration from
    * the sidx. The `Media.toMp4Segment` adapter / fixture substrate.
    */
  def encodeMp4Segment(
      brand: String, minorVersion: Long, sidxTimescale: Long,
      refDurations: Seq[Long], frags: Seq[Mp4Frag]): Array[Byte] = {
    require(brand.length == 4, s"encodeMp4Segment: brand '$brand' not a fourcc")
    require(sidxTimescale > 0, "encodeMp4Segment: timescale must be positive")
    val fullbox0 = Array[Byte](0, 0, 0, 0)
    val styp = box("styp", cc(brand), be32(minorVersion), cc(brand))
    val refs = refDurations.flatMap(dur =>
      Seq(be32(0L), be32(dur), be32(0L))) // type+size, duration, SAP
    val sidx = box("sidx", (Seq(fullbox0, be32(1L), be32(sidxTimescale),
      be32(0L), be32(0L), be32(refDurations.size.toLong)) ++ refs): _*)
    (Seq(styp, sidx) ++ moofMdat(frags)).foldLeft(Array.emptyByteArray)(_ ++ _)
  }
}

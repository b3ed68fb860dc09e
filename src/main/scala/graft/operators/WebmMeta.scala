package graft.operators

import graft.bytes.Bytes._

/** WebM / Matroska container metadata — the OTHER half of the crawl
  * video-container family next to [[Mp4Meta]] (YouTube-era crawls
  * carry WebM in volume), same metadata-only contract: duration,
  * track geometry, and codec identification from the container's own
  * EBML structure (RFC 8794 + the public Matroska element registry),
  * never the entropy-coded samples.
  *
  * IN scope:
  *  - EBML varint framing for element IDs (length marker RETAINED,
  *    per spec) and sizes (marker stripped), incl. the all-ones
  *    UNKNOWN size on Segment (treated as to-EOF, the streaming-
  *    muxer convention)
  *  - EBML header (0x1A45DFA3) with DocType; Segment > Info
  *    (TimestampScale, float Duration — 4- or 8-byte) and Segment >
  *    Tracks > TrackEntry (TrackType, CodecID, Video PixelWidth/
  *    PixelHeight, Audio SamplingFrequency/Channels)
  *  - duration_ms = Duration x TimestampScale / 1e6, truncating (the
  *    default scale 1000000 makes Duration milliseconds directly)
  *  - first video and first audio track surfaced; every track counted
  *  - Clusters (the sample data) skipped whole — EXCEPT (r20) when
  *    Info carries no Duration, the live/streaming-muxer case: then
  *    the cluster HEADERS are walked (Timestamp + each SimpleBlock's
  *    track varint and signed 16-bit relative time — never the frame
  *    bytes) and duration_ms falls back to the last Cluster Timestamp
  *    plus the last block's relative time, in ticks. BlockGroup-
  *    wrapped Blocks feed the same fallback (identical header
  *    layout — some muxers wrap key frames that way)
  *
  * OUT of scope (named Lefts): unknown-size elements anywhere but
  * Segment/Cluster, EBMLMaxIDLength/SizeLength beyond 4/8, chained
  * segments, and files whose first element is not an EBML header.
  * A Duration-less file with no clusters reads duration 0, as
  * before.
  *
  * Malformed input is a Left, never an exception. The independent
  * python fixture (scripts/gen_webm_fixture.py) pins the walk.
  */
object WebmMeta {

  final case class WebmStats(
      docType: String,
      timestampScale: Long, // ns per tick
      durationMs: Long,
      nTracks: Int,
      width: Int,
      height: Int,
      videoCodec: String, // "" when no video track
      audioCodec: String,
      audioHz: Int,
      audioChannels: Int)

  def sniff(d: Array[Byte]): Boolean =
    d.length >= 4 && (d(0) & 0xff) == 0x1a && (d(1) & 0xff) == 0x45 &&
      (d(2) & 0xff) == 0xdf && (d(3) & 0xff) == 0xa3

  def decode(d: Array[Byte]): Either[String, WebmStats] = {
    if (!sniff(d)) return Left("webm: missing EBML header magic")
    guarded("webm")(decodeInner(d))
  }

  private final class TrackCtx {
    var trackType = -1
    var codec = ""
    var w = 0
    var h = 0
    var hz = 0
    var ch = 0
  }

  private def decodeInner(d: Array[Byte]): Either[String, WebmStats] = {
    var pos = 0

    // element ID: EBML varint with the length marker RETAINED
    def readId(): Long = {
      val b0 = d(pos) & 0xff
      val n = Integer.numberOfLeadingZeros(b0) - 24 + 1
      if (n < 1 || n > 4) throw Malformed(f"webm: bad element-ID lead byte 0x$b0%02x")
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | (d(pos + i) & 0xff); i += 1 }
      pos += n
      v
    }

    // element size: EBML varint, marker stripped; Some(len) or None
    // for the all-ones unknown size
    def readSize(): Option[Long] = {
      val b0 = d(pos) & 0xff
      if (b0 == 0) throw Malformed("webm: zero size lead byte")
      val n = Integer.numberOfLeadingZeros(b0) - 24 + 1
      if (n > 8) throw Malformed("webm: size varint wider than 8 bytes")
      var v = (b0 & (0xff >>> n)).toLong
      var i = 1
      while (i < n) { v = (v << 8) | (d(pos + i) & 0xff); i += 1 }
      pos += n
      // all value bits set = unknown size
      if (v == (1L << (7 * n)) - 1) None else Some(v)
    }

    def uintAt(from: Int, len: Int): Long = {
      if (len < 1 || len > 8) throw Malformed(s"webm: uint of $len bytes")
      var v = 0L
      var i = 0
      while (i < len) { v = (v << 8) | (d(from + i) & 0xff); i += 1 }
      v
    }

    def floatAt(from: Int, len: Int): Double = len match {
      case 4 => java.lang.Float.intBitsToFloat(uintAt(from, 4).toInt).toDouble
      case 8 => java.lang.Double.longBitsToDouble(uintAt(from, 8))
      case n => throw Malformed(s"webm: float of $n bytes")
    }

    var docType = ""
    var scale = 1000000L // Matroska default: 1 ms ticks
    var durationTicks = -1.0
    // live-mux fallback state (r20): last Cluster Timestamp + last
    // SimpleBlock relative time, consulted only when Duration is absent
    var lastClusterTs = -1L
    var lastRel = 0L
    val tracks = scala.collection.mutable.ArrayBuffer.empty[TrackCtx]

    // returns the element's end offset; size None only legal where noted
    def walk(until: Int, inside: String, track: TrackCtx): Unit = {
      while (pos < until) {
        if (pos + 2 > until) throw Malformed("webm: truncated element header")
        val id = readId()
        val size = readSize()
        val end = size match {
          case Some(n) =>
            val e = pos + n
            if (e > until) throw Malformed(f"webm: element 0x$id%x runs past its parent")
            e.toInt
          case None =>
            // unknown size: only Segment (top level) and Cluster may
            if (id != 0x18538067L && id != 0x1f43b675L)
              throw Malformed(f"webm: unknown-size element 0x$id%x out of scope")
            until
        }
        id match {
          case 0x1a45dfa3L => // EBML header
            walk(end, "ebml", null)
          case 0x4282L if inside == "ebml" => // DocType
            docType = new String(d, pos, end - pos,
              java.nio.charset.StandardCharsets.US_ASCII).takeWhile(_ != 0)
          case 0x42f7L | 0x42f2L | 0x42f3L if inside == "ebml" =>
            // ReadVersion / MaxIDLength / MaxSizeLength
            val v = uintAt(pos, end - pos)
            if (id == 0x42f2L && v > 4) throw Malformed("webm: EBMLMaxIDLength > 4 out of scope")
            if (id == 0x42f3L && v > 8) throw Malformed("webm: EBMLMaxSizeLength > 8 out of scope")
          case 0x18538067L => // Segment
            walk(end, "segment", null)
          case 0x1549a966L if inside == "segment" => // Info
            walk(end, "info", null)
          case 0x2ad7b1L if inside == "info" => // TimestampScale
            scale = uintAt(pos, end - pos)
            if (scale <= 0) throw Malformed("webm: TimestampScale is zero")
          case 0x4489L if inside == "info" => // Duration (float)
            durationTicks = floatAt(pos, end - pos)
          case 0x1654ae6bL if inside == "segment" => // Tracks
            walk(end, "tracks", null)
          case 0xaeL if inside == "tracks" => // TrackEntry
            val t = new TrackCtx
            walk(end, "entry", t)
            tracks += t
          case 0x83L if inside == "entry" => // TrackType
            track.trackType = uintAt(pos, end - pos).toInt
          case 0x86L if inside == "entry" => // CodecID
            track.codec = new String(d, pos, end - pos,
              java.nio.charset.StandardCharsets.US_ASCII).takeWhile(_ != 0)
          case 0xe0L if inside == "entry" => // Video
            walk(end, "video", track)
          case 0xb0L if inside == "video" => track.w = uintAt(pos, end - pos).toInt
          case 0xbaL if inside == "video" => track.h = uintAt(pos, end - pos).toInt
          case 0xe1L if inside == "entry" => // Audio
            walk(end, "audio", track)
          case 0xb5L if inside == "audio" =>
            track.hz = floatAt(pos, end - pos).toInt
          case 0x9fL if inside == "audio" =>
            track.ch = uintAt(pos, end - pos).toInt
          case 0x1f43b675L if (inside == "segment" || inside == "cluster") &&
            durationTicks < 0 =>
            // Duration-less file: walk cluster HEADERS for the
            // fallback (files WITH a Duration keep the skip-whole
            // path). An UNKNOWN-SIZE cluster swallows its successors
            // as pseudo-children (its end is the parent's), so a
            // cluster id inside a cluster re-enters the same walk.
            walk(end, "cluster", null)
          case 0xe7L if inside == "cluster" => // Cluster Timestamp
            lastClusterTs = uintAt(pos, end - pos)
            lastRel = 0L // relative times restart with their cluster
          case 0xa3L if inside == "cluster" => // SimpleBlock header only
            // track number: EBML varint (marker stripped, like sizes),
            // then a SIGNED 16-bit big-endian relative timestamp
            if (pos >= end) throw Malformed("webm: empty SimpleBlock")
            val b0 = d(pos) & 0xff
            if (b0 == 0) throw Malformed("webm: zero SimpleBlock track varint")
            val n = Integer.numberOfLeadingZeros(b0) - 24 + 1
            if (pos + n + 2 > end) throw Malformed("webm: truncated SimpleBlock header")
            lastRel = u16be(d, pos + n).toShort.toLong
          case 0xa0L if inside == "cluster" => // BlockGroup (r20)
            walk(end, "blockgroup", null)
          case 0xa1L if inside == "blockgroup" =>
            // Block: the same header layout as SimpleBlock (the
            // flags byte differs — never read here)
            if (pos >= end) throw Malformed("webm: empty Block")
            val b0 = d(pos) & 0xff
            if (b0 == 0) throw Malformed("webm: zero Block track varint")
            val n = Integer.numberOfLeadingZeros(b0) - 24 + 1
            if (pos + n + 2 > end) throw Malformed("webm: truncated Block header")
            lastRel = u16be(d, pos + n).toShort.toLong
          case _ => () // Cluster / SeekHead / Cues / unknown: skip whole
        }
        pos = end
      }
    }

    walk(d.length, "top", null)
    if (docType.isEmpty) return Left("webm: no DocType in the EBML header")
    if (docType != "webm" && docType != "matroska")
      return Left(s"webm: DocType $docType out of scope")
    val video = tracks.find(_.trackType == 1)
    val audio = tracks.find(_.trackType == 2)
    val durMs =
      if (durationTicks >= 0) (durationTicks * scale).toLong / 1000000L
      else if (lastClusterTs >= 0) // live-mux fallback (r20)
        math.max(0L, (lastClusterTs + lastRel) * scale / 1000000L)
      else 0L
    Right(WebmStats(docType, scale, durMs, tracks.size,
      video.map(_.w).getOrElse(0), video.map(_.h).getOrElse(0),
      video.map(_.codec).getOrElse(""), audio.map(_.codec).getOrElse(""),
      audio.map(_.hz).getOrElse(0), audio.map(_.ch).getOrElse(0)))
  }

  // ------------------------------------------------------------ encode

  final case class WebmTrack(
      trackType: Int, // 1 video, 2 audio
      codec: String,
      width: Int = 0,
      height: Int = 0,
      hz: Int = 0,
      channels: Int = 0)

  /** Deterministic WebM encoder — the `Media.toWebm` adapter /
    * fixture substrate: EBML header (DocType webm) + Segment{Info
    * (TimestampScale + 8-byte-float Duration), Tracks, one Cluster
    * carrying the filler bytes}. `unknownSegmentSize` emits the
    * streaming-muxer all-ones Segment size. `omitDuration` (r20)
    * drops Info/Duration — the live-mux layout — and
    * `clusterTimestamp`/`blockRelTimes` then put real SimpleBlocks
    * in the Cluster so the fallback has something to read (defaults
    * keep every pre-r20 artifact byte-identical).
    */
  def encodeWebm(
      timestampScale: Long, durationTicks: Double, tracks: Seq[WebmTrack],
      cluster: Array[Byte], unknownSegmentSize: Boolean = false,
      omitDuration: Boolean = false, clusterTimestamp: Long = 0L,
      blockRelTimes: Seq[Int] = Nil): Array[Byte] = {
    require(timestampScale > 0, "encodeWebm: timestampScale must be positive")
    def id(v: Long): Array[Byte] = {
      // IDs serialize with their marker retained: emit minimal bytes
      val n = (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8
      Array.tabulate(n)(i => ((v >>> (8 * (n - 1 - i))) & 0xff).toByte)
    }
    def sz(v: Long): Array[Byte] = {
      // minimal EBML size varint
      var n = 1
      while (n < 8 && v >= (1L << (7 * n)) - 1) n += 1
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) { out(i) = ((v >>> (8 * (n - 1 - i))) & 0xff).toByte; i += 1 }
      out(0) = (out(0) | (0x80 >>> (n - 1))).toByte
      out
    }
    def el(i: Long, payload: Array[Byte]*): Array[Byte] = {
      val p = payload.foldLeft(Array.emptyByteArray)(_ ++ _)
      id(i) ++ sz(p.length.toLong) ++ p
    }
    def uint(v: Long): Array[Byte] = {
      val n = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8)
      Array.tabulate(n)(i => ((v >>> (8 * (n - 1 - i))) & 0xff).toByte)
    }
    def f64(v: Double): Array[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(v)
      Array.tabulate(8)(i => ((bits >>> (8 * (7 - i))) & 0xff).toByte)
    }
    def ascii(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

    val header = el(0x1a45dfa3L,
      el(0x4286L, uint(1L)), // EBMLVersion
      el(0x42f7L, uint(1L)), // EBMLReadVersion
      el(0x42f2L, uint(4L)), // EBMLMaxIDLength
      el(0x42f3L, uint(8L)), // EBMLMaxSizeLength
      el(0x4282L, ascii("webm")),
      el(0x4287L, uint(4L)), // DocTypeVersion
      el(0x4285L, uint(2L))) // DocTypeReadVersion
    val info =
      if (omitDuration) el(0x1549a966L, el(0x2ad7b1L, uint(timestampScale)))
      else el(0x1549a966L,
        el(0x2ad7b1L, uint(timestampScale)),
        el(0x4489L, f64(durationTicks)))
    val trackEls = tracks.zipWithIndex.map { case (t, i) =>
      val media =
        if (t.trackType == 1)
          el(0xe0L, el(0xb0L, uint(t.width.toLong)), el(0xbaL, uint(t.height.toLong)))
        else
          el(0xe1L, el(0xb5L, f64(t.hz.toDouble)), el(0x9fL, uint(t.channels.toLong)))
      el(0xaeL,
        el(0xd7L, uint(i + 1L)), // TrackNumber
        el(0x73c5L, uint(i + 1L)), // TrackUID
        el(0x83L, uint(t.trackType.toLong)),
        el(0x86L, ascii(t.codec)),
        media)
    }
    val trks = el(0x1654ae6bL, trackEls: _*)
    // with SimpleBlocks present, the filler bytes ride INSIDE the
    // last block's frame — a Duration-less decode walks the cluster's
    // children, so everything there must be element-framed; the
    // blockless form keeps the raw trailing filler (and its exact
    // pre-r20 bytes), which only the skip-whole path ever sees
    val blocks = blockRelTimes.zipWithIndex.map { case (rel, i) =>
      // SimpleBlock: track-1 varint (0x81), s16 BE relative time,
      // keyframe flag, then the frame bytes
      val frame = if (i == blockRelTimes.size - 1) cluster else Array(0x2a.toByte)
      el(0xa3L, Array(0x81.toByte, ((rel >> 8) & 0xff).toByte,
        (rel & 0xff).toByte, 0x80.toByte) ++ frame)
    }
    val clu =
      if (blocks.isEmpty) el(0x1f43b675L, el(0xe7L, uint(clusterTimestamp)), cluster)
      else el(0x1f43b675L, (el(0xe7L, uint(clusterTimestamp)) +: blocks): _*)
    val segPayload = info ++ trks ++ clu
    val seg =
      if (unknownSegmentSize)
        id(0x18538067L) ++ Array(0x01.toByte) ++ Array.fill(7)(0xff.toByte) ++ segPayload
      else id(0x18538067L) ++ sz(segPayload.length.toLong) ++ segPayload
    header ++ seg
  }
}

package graft.operators

import graft.bytes.Bytes

/** EXIF GPS surfacing + redaction — the media-layer PII pass
  * (`Quality.piiRedact` covers text; training pipelines must also
  * scrub location metadata from images before the bytes ship). Walks
  * a JPEG's APP1/Exif TIFF structure — the same IFD0 walk the
  * [[JpegCodec]] orientation path does — OR (r20) a bare TIFF file's
  * own IFD0 (scanners write the identical GPS IFD pointer into .tif
  * pages, so the PII matrix must cover both carriers), follows the
  * GPS IFD pointer (tag 0x8825), and reads the GPSLatitudeRef/
  * GPSLatitude/GPSLongitudeRef/GPSLongitude tags (1/2/3/4; D-M-S
  * RATIONAL triplets).
  *
  * Coordinates surface as integer ARCSECONDS (deg*3600 + min*60 +
  * sec, each component's rational resolved with truncating division
  * at its own scale) — exact for the den=1 rationals cameras
  * overwhelmingly write, integer-deterministic for the oracle.
  *
  * [[strip]] is an IN-PLACE redaction, not a segment drop: the GPS
  * IFD pointer entry is neutered (zeroed tag/type/count/value), the
  * GPS IFD entry table AND its out-of-line value blocks are zeroed —
  * so the coordinate BYTES are gone, while the rest of the Exif
  * block (orientation, camera metadata, the JPEG stream itself)
  * survives byte-identical. Sizes never change, so no offset in the
  * file shifts.
  *
  * Both byte orders; absent/malformed Exif never throws — extraction
  * is None and strip returns the input unchanged with `false` (a
  * broken thumbnail IFD must not kill an otherwise healthy image —
  * the JpegCodec rule).
  */
object ExifGps {

  final case class GpsInfo(
      latRef: String, // N | S
      lonRef: String, // E | W
      latArcsec: Long,
      lonArcsec: Long)

  /** Bounds-checked TIFF view over an APP1 payload (also JPEG's
    * orientation walk): an out-of-range read is -1, never a throw.
    */
  private[operators] final class Tiff(d: Array[Byte], val t: Int, end: Int, little: Boolean) {
    def u16(o: Int): Int = if (o < 0 || o + 2 > end) -1 else Bytes.u16(d, o, little)
    def u32(o: Int): Long = if (o < 0 || o + 4 > end) -1L else Bytes.u32(d, o, little)
    def byteAt(o: Int): Int = if (o < 0 || o >= end) -1 else d(o) & 0xff
    /** entry offset of `tag` in the IFD at `ifd`, or -1 */
    def find(ifd: Int, tag: Int): Int = {
      val n = u16(ifd)
      if (n < 0) return -1
      var i = 0
      while (i < n) {
        val e = ifd + 2 + 12 * i
        if (u16(e) == tag) return e
        i += 1
      }
      -1
    }
  }

  /** Locate the TIFF view + IFD0 for either carrier: a JPEG's Exif
    * APP1 payload, or (r20) a bare TIFF file's own structure.
    * Returns (tiff, ifd0 offset) or None.
    */
  private def exifIfd0(d: Array[Byte]): Option[(Tiff, Int)] = {
    if (d.length >= 8 &&
      ((d(0) == 'I' && d(1) == 'I' && d(2) == 42 && d(3) == 0) ||
        (d(0) == 'M' && d(1) == 'M' && d(2) == 0 && d(3) == 42))) {
      // bare TIFF: the file IS the TIFF structure (t = 0)
      val tiff = new Tiff(d, 0, d.length, d(0) == 'I')
      val ifdOff = tiff.u32(4)
      if (ifdOff < 0) return None
      return Some((tiff, ifdOff.toInt))
    }
    if (d.length < 4 || (d(0) & 0xff) != 0xff || (d(1) & 0xff) != 0xd8) return None
    var pos = 2
    while (pos + 4 <= d.length && (d(pos) & 0xff) == 0xff) {
      val marker = d(pos + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) return None // EOI / SOS: no APP1
      val len = Bytes.u16be(d, pos + 2)
      if (len < 2 || pos + 2 + len > d.length) return None
      if (marker == 0xe1) {
        val b = pos + 4
        val end = pos + 2 + len
        if (end - b >= 14 && d(b) == 'E' && d(b + 1) == 'x' && d(b + 2) == 'i' &&
          d(b + 3) == 'f' && d(b + 4) == 0 && d(b + 5) == 0) {
          val t = b + 6
          val little = (d(t) & 0xff, d(t + 1) & 0xff) match {
            case (0x49, 0x49) => true
            case (0x4d, 0x4d) => false
            case _ => return None
          }
          val tiff = new Tiff(d, t, end, little)
          if (tiff.u16(t + 2) != 42) return None
          val ifdOff = tiff.u32(t + 4)
          if (ifdOff < 0) return None
          return Some((tiff, t + ifdOff.toInt))
        }
      }
      pos += 2 + len
    }
    None
  }

  /** GPS IFD offset (absolute) via IFD0 tag 0x8825, or -1. */
  private def gpsIfd(tiff: Tiff, ifd0: Int): Int = {
    val e = tiff.find(ifd0, 0x8825)
    if (e < 0) return -1
    if (tiff.u16(e + 2) != 4 || tiff.u32(e + 4) != 1L) return -1 // LONG, count 1
    val off = tiff.u32(e + 8)
    if (off < 0) -1 else tiff.t + off.toInt
  }

  /** D-M-S rational triplet at entry `e` -> truncating arcseconds. */
  private def dmsArcsec(tiff: Tiff, e: Int): Option[Long] = {
    if (tiff.u16(e + 2) != 5 || tiff.u32(e + 4) != 3L) return None // RATIONAL x3
    val v = tiff.u32(e + 8)
    if (v < 0) return None
    val p = tiff.t + v.toInt
    def rat(o: Int, scale: Long): Option[Long] = {
      val num = tiff.u32(o)
      val den = tiff.u32(o + 4)
      if (num < 0 || den <= 0) None else Some(num * scale / den)
    }
    for (d <- rat(p, 3600L); m <- rat(p + 8, 60L); s <- rat(p + 16, 1L))
      yield d + m + s
  }

  private def refChar(tiff: Tiff, e: Int): Option[String] = {
    if (tiff.u16(e + 2) != 2) return None // ASCII, value inline for count <= 4
    // inline values are LEFT-JUSTIFIED in the 4-byte field (TIFF §2):
    // the first character is the first physical byte in EITHER order
    val ch = tiff.byteAt(e + 8).toChar
    if (ch == 'N' || ch == 'S' || ch == 'E' || ch == 'W') Some(ch.toString) else None
  }

  /** Extract GPS coordinates; None when no Exif, no GPS IFD, or
    * malformed tags (never throws).
    */
  def extract(d: Array[Byte]): Option[GpsInfo] =
    exifIfd0(d).flatMap { case (tiff, ifd0) =>
      val g = gpsIfd(tiff, ifd0)
      if (g < 0) None
      else for {
        latRefE <- Some(tiff.find(g, 1)).filter(_ >= 0)
        latE <- Some(tiff.find(g, 2)).filter(_ >= 0)
        lonRefE <- Some(tiff.find(g, 3)).filter(_ >= 0)
        lonE <- Some(tiff.find(g, 4)).filter(_ >= 0)
        latRef <- refChar(tiff, latRefE)
        lonRef <- refChar(tiff, lonRefE)
        lat <- dmsArcsec(tiff, latE)
        lon <- dmsArcsec(tiff, lonE)
      } yield GpsInfo(latRef, lonRef, lat, lon)
    }

  def hasGps(d: Array[Byte]): Boolean =
    exifIfd0(d).exists { case (tiff, ifd0) => gpsIfd(tiff, ifd0) >= 0 }

  /** Redact GPS in place (see object doc): returns (bytes, stripped).
    * When no GPS IFD exists the INPUT array is returned with false.
    */
  def strip(d: Array[Byte]): (Array[Byte], Boolean) = {
    val located = exifIfd0(d) match {
      case Some((tiff, ifd0)) =>
        val e = tiff.find(ifd0, 0x8825)
        if (e < 0) None else Some((tiff, e))
      case None => None
    }
    located match {
      case None => (d, false)
      case Some((tiff, pointerEntry)) =>
        val out = d.clone()
        // resolve the GPS IFD offset directly off the pointer entry
        val gAbs = {
          val off = tiff.u32(pointerEntry + 8)
          if (tiff.u16(pointerEntry + 2) != 4 || off < 0) -1 else tiff.t + off.toInt
        }
        if (gAbs >= 0) {
          val n = tiff.u16(gAbs)
          if (n > 0) {
            var i = 0
            while (i < n) {
              val e = gAbs + 2 + 12 * i
              // zero out-of-line value blocks first (RATIONAL x3 = 24B,
              // or any type whose byte size exceeds the 4 inline bytes)
              val tpe = tiff.u16(e + 2)
              val cnt = tiff.u32(e + 4)
              val unit = tpe match {
                case 1 | 2 | 6 | 7 => 1L
                case 3 | 8 => 2L
                case 4 | 9 | 11 => 4L
                case 5 | 10 | 12 => 8L
                case _ => 0L
              }
              val byteLen = unit * math.max(cnt, 0L)
              if (byteLen > 4 && cnt >= 0) {
                val off = tiff.u32(e + 8)
                if (off >= 0) {
                  val from = tiff.t + off.toInt
                  val until = math.min(from + byteLen, out.length.toLong).toInt
                  if (from >= 0 && from < out.length)
                    java.util.Arrays.fill(out, from, until, 0.toByte)
                }
              }
              i += 1
            }
            // zero the whole GPS IFD table (count + entries + next ptr)
            val until = math.min(gAbs + 2 + 12L * n + 4, out.length.toLong).toInt
            java.util.Arrays.fill(out, gAbs, until, 0.toByte)
          }
        }
        // neuter the pointer entry itself: unknown tag 0, type 0,
        // count 0, value 0 — readers skip it, and nothing references
        // the zeroed region anymore
        java.util.Arrays.fill(out, pointerEntry, pointerEntry + 12, 0.toByte)
        (out, true)
    }
  }

  // ------------------------------------------------------------ encode

  /** Splice ONE Exif APP1 segment right after SOI carrying IFD0
    * {orientation, GPS pointer} + a GPS IFD with D-M-S den=1
    * rationals — the adapter/fixture substrate (little-endian; the
    * committed python fixture covers big-endian independently).
    */
  def withExifGps(
      jpeg: Array[Byte], orientation: Int,
      latRef: String, lonRef: String,
      latArcsec: Long, lonArcsec: Long): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8, s"bad orientation $orientation")
    require(latRef == "N" || latRef == "S", s"bad latRef $latRef")
    require(lonRef == "E" || lonRef == "W", s"bad lonRef $lonRef")
    require(latArcsec >= 0 && lonArcsec >= 0, "arcseconds are unsigned; sign is the ref")
    val tiff = new Array[Byte](140)
    var p = 0
    def w8(v: Int): Unit = { tiff(p) = v.toByte; p += 1 }
    def w16(v: Int): Unit = { w8(v & 0xff); w8((v >> 8) & 0xff) }
    def w32(v: Long): Unit = { w16((v & 0xffff).toInt); w16(((v >> 16) & 0xffff).toInt) }
    def entry(tag: Int, tpe: Int, cnt: Long, value: Long): Unit = {
      w16(tag); w16(tpe); w32(cnt); w32(value)
    }
    w8(0x49); w8(0x49); w16(42); w32(8L) // II header, IFD0 at 8
    w16(2) // IFD0: 2 entries
    entry(0x0112, 3, 1L, orientation.toLong) // SHORT value inline (LE: low bytes)
    entry(0x8825, 4, 1L, 38L) // GPS IFD pointer
    w32(0L) // no next IFD
    w16(4) // GPS IFD at 38: 4 entries
    entry(1, 2, 2L, latRef.charAt(0).toLong) // ASCII "X\0" inline
    entry(2, 5, 3L, 92L)
    entry(3, 2, 2L, lonRef.charAt(0).toLong)
    entry(4, 5, 3L, 116L)
    w32(0L) // no next IFD
    def dms(arcsec: Long): Unit = {
      w32(arcsec / 3600); w32(1L)
      w32(arcsec % 3600 / 60); w32(1L)
      w32(arcsec % 60); w32(1L)
    }
    dms(latArcsec) // at 92
    dms(lonArcsec) // at 116
    val payload = "Exif".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      Array[Byte](0, 0) ++ tiff
    val segLen = payload.length + 2
    val out = new Array[Byte](jpeg.length + 4 + payload.length)
    out(0) = jpeg(0); out(1) = jpeg(1) // SOI
    out(2) = 0xff.toByte; out(3) = 0xe1.toByte
    out(4) = ((segLen >> 8) & 0xff).toByte
    out(5) = (segLen & 0xff).toByte
    System.arraycopy(payload, 0, out, 6, payload.length)
    System.arraycopy(jpeg, 2, out, 6 + payload.length, jpeg.length - 2)
    out
  }

  /** Graft a GPS IFD into a BARE TIFF (r20): the original IFD0 is
    * re-emitted at EOF with one extra entry — the 0x8825 pointer,
    * appended last, which keeps the spec's ascending-tag order since
    * every baseline tag is smaller — followed by the GPS IFD and its
    * D-M-S den=1 rational blocks; the header's IFD offset is patched.
    * The original IFD bytes become dead padding, so every existing
    * strip/tile offset stays valid and the raster decode is
    * byte-identical. Honors the file's own byte order. The
    * `Media.toTiff` adapter / fixture substrate.
    */
  def tiffWithGps(
      tiff: Array[Byte], latRef: String, lonRef: String,
      latArcsec: Long, lonArcsec: Long): Array[Byte] = {
    require(latRef == "N" || latRef == "S", s"bad latRef $latRef")
    require(lonRef == "E" || lonRef == "W", s"bad lonRef $lonRef")
    require(latArcsec >= 0 && lonArcsec >= 0, "arcseconds are unsigned; sign is the ref")
    require(tiff.length >= 8 &&
      ((tiff(0) == 'I' && tiff(1) == 'I') || (tiff(0) == 'M' && tiff(1) == 'M')),
      "tiffWithGps: not a TIFF payload")
    val little = tiff(0) == 'I'
    val v = new Tiff(tiff, 0, tiff.length, little)
    val ifd0 = v.u32(4).toInt
    val n = v.u16(ifd0)
    require(n > 0 && ifd0 + 2 + 12 * n + 4 <= tiff.length, "tiffWithGps: broken IFD0")
    require(v.find(ifd0, 0x8825) < 0, "tiffWithGps: GPS IFD already present")

    val out = new java.io.ByteArrayOutputStream(tiff.length + 256)
    out.write(tiff, 0, tiff.length)
    def w8(x: Int): Unit = out.write(x & 0xff)
    def w16(x: Int): Unit =
      if (little) { w8(x); w8(x >> 8) } else { w8(x >> 8); w8(x) }
    def w32(x: Long): Unit =
      if (little) { w8(x.toInt); w8((x >> 8).toInt); w8((x >> 16).toInt); w8((x >> 24).toInt) }
      else { w8((x >> 24).toInt); w8((x >> 16).toInt); w8((x >> 8).toInt); w8(x.toInt) }
    def entry(tag: Int, tpe: Int, cnt: Long, value: Long): Unit = {
      w16(tag); w16(tpe); w32(cnt)
      if (tpe == 3 && cnt == 1) { w16(value.toInt); w16(0) } // SHORT inline
      else w32(value)
    }

    val newIfd0 = tiff.length
    val gpsIfdOff = newIfd0 + 2 + 12 * (n + 1) + 4
    val latOff = gpsIfdOff + 2 + 12 * 4 + 4
    val lonOff = latOff + 24
    // IFD0 copy + the GPS pointer (0x8825 > every baseline tag)
    w16(n + 1)
    out.write(tiff, ifd0 + 2, 12 * n)
    entry(0x8825, 4, 1L, gpsIfdOff.toLong)
    w32(0L) // next IFD: none (single-page contract)
    // GPS IFD
    w16(4)
    entry(1, 2, 2L, latRef.charAt(0).toLong << (if (little) 0 else 24))
    entry(2, 5, 3L, latOff.toLong)
    entry(3, 2, 2L, lonRef.charAt(0).toLong << (if (little) 0 else 24))
    entry(4, 5, 3L, lonOff.toLong)
    w32(0L)
    def dms(arcsec: Long): Unit = {
      w32(arcsec / 3600); w32(1L)
      w32(arcsec % 3600 / 60); w32(1L)
      w32(arcsec % 60); w32(1L)
    }
    dms(latArcsec)
    dms(lonArcsec)
    val res = out.toByteArray
    // patch the header's IFD offset to the appended copy
    if (little) {
      res(4) = newIfd0.toByte; res(5) = (newIfd0 >> 8).toByte
      res(6) = (newIfd0 >> 16).toByte; res(7) = (newIfd0 >> 24).toByte
    } else {
      res(4) = (newIfd0 >> 24).toByte; res(5) = (newIfd0 >> 16).toByte
      res(6) = (newIfd0 >> 8).toByte; res(7) = newIfd0.toByte
    }
    res
  }
}

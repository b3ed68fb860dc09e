package graft.bytes

/** The one byte layer under every decoder of untrusted input: the
  * fixed-width readers, the single malformed-input exception and the
  * guard that turns it (and the JVM's own out-of-range throws) into a
  * `Left("<fmt>: …")` error row, and the one capped inflate.
  *
  * Readers do no bounds checks of their own: an out-of-range read
  * raises `ArrayIndexOutOfBoundsException`, which [[guarded]] maps to
  * `"<fmt>: truncated payload"`. Every buffer that one untrusted
  * header field or one compressed stream can size is held to
  * [[InflateCap]]; what a decoder keeps across streams or blocks (Avro
  * records, PDF text) is bounded by the input, not by the cap.
  */
object Bytes {

  /** Absolute limit on what one decode may materialize from a
    * compressed or size-declaring field: inflated output, a declared
    * uncompressed length, a declared raster. A constant by design —
    * untrusted bytes do not get to choose it.
    */
  final val InflateCap: Int = 64 << 20

  private val CapLabel = s"${InflateCap >> 20} MiB"

  /** Malformed input: the message is the finished error row text
    * (`"<fmt>: …"`). Control flow only, so no stack trace.
    */
  final case class Malformed(msg: String) extends RuntimeException(msg, null, false, false)

  /** Run a decoder body; malformed input of any kind becomes a Left. */
  def guarded[A](fmt: String)(body: => Either[String, A]): Either[String, A] =
    try body
    catch {
      case Malformed(m) => Left(m)
      case _: ArrayIndexOutOfBoundsException | _: StringIndexOutOfBoundsException =>
        Left(s"$fmt: truncated payload")
      case _: NegativeArraySizeException => Left(s"$fmt: negative size field")
      // a decimal or hex field parsed with toInt/parseInt past Int range
      case _: NumberFormatException => Left(s"$fmt: number out of range")
    }

  /** A size read from untrusted bytes, checked against [[InflateCap]]
    * before anything is allocated from it.
    */
  def capped(fmt: String, what: String, size: Long): Int = {
    if (size > InflateCap) throw Malformed(s"$fmt: $what of $size bytes exceeds $CapLabel")
    size.toInt
  }

  // ------------------------------------------------ fixed-width readers

  def u16le(d: Array[Byte], o: Int): Int = (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8)
  def u16be(d: Array[Byte], o: Int): Int = ((d(o) & 0xff) << 8) | (d(o + 1) & 0xff)
  def u32le(d: Array[Byte], o: Int): Long =
    (d(o) & 0xffL) | ((d(o + 1) & 0xffL) << 8) | ((d(o + 2) & 0xffL) << 16) |
      ((d(o + 3) & 0xffL) << 24)
  def u32be(d: Array[Byte], o: Int): Long =
    ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) | ((d(o + 2) & 0xffL) << 8) |
      (d(o + 3) & 0xffL)
  def u64le(d: Array[Byte], o: Int): Long = u32le(d, o) | (u32le(d, o + 4) << 32)
  def u64be(d: Array[Byte], o: Int): Long = (u32be(d, o) << 32) | u32be(d, o + 4)
  def u16(d: Array[Byte], o: Int, little: Boolean): Int =
    if (little) u16le(d, o) else u16be(d, o)
  def u32(d: Array[Byte], o: Int, little: Boolean): Long =
    if (little) u32le(d, o) else u32be(d, o)

  // ------------------------------------------------------------ inflate

  /** DEFLATE framing: bare (ZIP, Avro), zlib-wrapped (PDF), or
    * back-to-back gzip members (WARC-gz).
    */
  sealed trait Wrap
  case object Raw extends Wrap
  case object Zlib extends Wrap
  case object GzipMembers extends Wrap

  /** The Left reason of a stream that inflates past [[InflateCap]]. */
  val OverCap: String = s"inflated output exceeds $CapLabel"

  /** Inflate `d(off until off + len)`. A corrupt stream is a Left
    * reason the caller words or skips: `truncated deflate stream`,
    * `malformed deflate stream` (also a preset dictionary), or for
    * gzip the JDK's own message. At most `stopAt` bytes are inflated:
    * a stream with more output is cut there when `stopAt` is below
    * the cap (a ZIP entry stops at its declared size), and at the cap
    * it is the Left reason [[OverCap]], having held at most one cap's
    * worth of output. Bytes after the end of a raw or zlib stream are
    * ignored.
    */
  def inflate(d: Array[Byte], off: Int, len: Int, wrap: Wrap,
      stopAt: Int = InflateCap): Either[String, Array[Byte]] = {
    val limit = math.min(stopAt, InflateCap)
    val src = new java.io.ByteArrayInputStream(d, off, len)
    val inf = if (wrap == GzipMembers) null else new java.util.zip.Inflater(wrap == Raw)
    var in: java.io.InputStream = null
    try {
      in =
        if (inf == null) new java.util.zip.GZIPInputStream(src, 1 << 16)
        else new java.util.zip.InflaterInputStream(src, inf, 1 << 16)
      // output lands in chunks (doubling up to 4 MiB) that are joined
      // once at the end, so a tripped cap never copied or regrown them;
      // one byte past `limit` is read to tell a longer stream apart
      val full = Vector.newBuilder[Array[Byte]]
      var chunk = new Array[Byte](math.min(len.toLong * 4 + 64, math.min(1L << 20,
        limit + 1L)).toInt)
      var at = 0
      var total = 0L
      var n = 0
      while (n >= 0 && total <= limit) {
        if (at == chunk.length) {
          full += chunk
          chunk = new Array[Byte](math.min(chunk.length * 2L, math.min(1L << 22,
            limit + 1L - total)).toInt)
          at = 0
        }
        n = in.read(chunk, at, chunk.length - at)
        if (n > 0) { at += n; total += n }
      }
      val parts = full.result()
      if (total > InflateCap) Left(OverCap)
      else if (total <= limit && inf != null && !inf.finished()) Left("malformed deflate stream")
      else if (parts.isEmpty) Right(java.util.Arrays.copyOf(chunk, math.min(at, limit)))
      else {
        val out = new Array[Byte](math.min(total, limit.toLong).toInt)
        var w = 0
        (parts :+ chunk).foreach { p =>
          val k = math.min(p.length, out.length - w)
          System.arraycopy(p, 0, out, w, k)
          w += k
        }
        Right(out)
      }
    } catch {
      case e: java.io.IOException => Left(
        if (inf == null) String.valueOf(e.getMessage)
        else if (e.isInstanceOf[java.io.EOFException]) "truncated deflate stream"
        else "malformed deflate stream")
    } finally {
      if (in != null) in.close()
      if (inf != null) inf.end()
    }
  }
}

package graft.sources

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.bytes.Bytes._

/** PDF text extraction for the crawl-extraction family (q130's HTML,
  * q141's markdown — PDFs are the third text container a crawl
  * carries in volume). Dependency-free and deliberately SCOPED, the
  * compressed-video adjudication pattern:
  *
  * IN scope:
  *  - classic cross-reference PDFs scanned linearly for
  *    `<< dict >> stream … endstream` objects (no xref walk needed to
  *    find content; works on linearized and incrementally-updated
  *    files too)
  *  - uncompressed streams, `/FlateDecode` (zlib via the JDK
  *    `Inflater` — the q142/PNG precedent), `/ASCIIHexDecode`,
  *    `/ASCII85Decode` (incl. the `z` zero-group shortcut and `~>`
  *    EOD), `/RunLengthDecode`, `/LZWDecode` (TIFF-flavor variable
  *    9–12-bit codes, EarlyChange 1 default), and FILTER CHAINS
  *    (`/Filter [/ASCII85Decode /FlateDecode]` — applied in array
  *    order per spec §7.4); abbreviated inline names (`/Fl`, `/AHx`,
  *    `/A85`, `/RL`, `/LZW`) accepted
  *  - text-show operators `Tj`, `TJ`, `'` (move-and-show) and `"`
  *    (spacing-and-show) with PARENTHESIZED string literals (escapes
  *    `\\ \( \) \n \r \t \b \f`, octal `\ddd`, escaped-newline
  *    continuation; nested balanced parens) AND hex string literals
  *    `<…>` (whitespace-tolerant, odd digit count padded with a zero
  *    low nibble per spec §7.3.4.3), shows concatenated VERBATIM in
  *    stream order — TJ's interleaved numbers are kerning, not
  *    spacing, so array elements concatenate
  *
  *  - `/Subtype /Image` XObjects (r18): filter chains ending in
  *    /DCTDecode decode through the in-house JPEG codec; raw or
  *    standard-filter rasters (/BitsPerComponent 8, /DeviceRGB or
  *    /DeviceGray) fold through the shared PNM stats path — per-doc
  *    `n_images` / `img_px` / `img_mean_sum` feed the census and the
  *    q231 gate; the raster never touches the text channel
  *
  * OUT of scope (documented, surfaced as error rows or skip counts,
  * never silent garbage):
  *  - encrypted documents (`/Encrypt` in a trailer) → error row
  *  - lossy/image filters on CONTENT streams (DCTDecode, JPXDecode,
  *    CCITTFax, JBIG2, …) and LZW with a non-default /EarlyChange or
  *    /Predictor → stream counted in `n_skipped`, extraction continues
  *  - image XObjects with foreign codecs (CCITT/JBIG2/JPX), predictor
  *    rows, sub-8-bit/16-bit samples, or palette/ICC/CMYK color
  *    spaces → counted in `n_image_skipped`
  *  - a FlateDecode stream inflating past
  *    [[graft.bytes.Bytes.InflateCap]] → skipped like a corrupt one
  *    (`n_skipped`, or `n_image_skipped` for an image XObject)
  *  - font/CMap decoding (bytes are taken as standard-encoding
  *    Latin-1 — the all-ASCII adapter corpus and fixtures make this
  *    exact)
  *
  * MODERN containers (r18, IN scope): `/Type /ObjStm` object streams
  * are unpacked (header pairs → per-object dict bodies; /Type /Page
  * dicts counted — content streams may not live there per §7.5.7, so
  * text extraction is container-independent) and `/Type /XRef`
  * cross-reference streams are decoded (W-column rows, PNG Up/Sub/
  * Paeth predictor rows unfiltered) with entry types tallied —
  * `n_objstm` / `n_objstm_objs` / `n_pages` / `n_xref_offsets` /
  * `n_xref_compressed` sit on the q220 gate via the container
  * rotation in [[toPdfs]].
  *
  * Everything is a single linear pass over the bytes; per-record
  * memory is bounded by the largest single stream. Malformed input is
  * an error ROW (the [[Media.decodeImages]] channel discipline), not
  * a task failure. q220 hash-gates the full encode → extract round
  * trip against text-derived oracle ground truth.
  */
object Pdf {

  final case class PdfExtract(
      nStreams: Int, // stream objects seen
      nFlate: Int, // streams whose filter chain included FlateDecode
      nRaw: Int, // streams taken uncompressed
      nSkipped: Int, // streams with out-of-scope filters
      nShows: Int, // show operators that contributed text
      text: String,
      nAscii: Int = 0, // chains that included an ASCIIHex/85 stage
      nImages: Int = 0, // /Subtype /Image XObjects decoded to stats
      nImageSkipped: Int = 0, // image XObjects out of scope / failed
      imgPx: Long = 0L, // sum of decoded image pixel counts (w*h)
      imgMeanSum: Double = 0.0, // sum of per-image gray means
      nObjStm: Int = 0, // /Type /ObjStm streams unpacked
      nObjStmObjs: Int = 0, // objects discovered inside them
      nPages: Int = 0, // /Type /Page dicts seen in unpacked ObjStms
      nXrefOffsets: Int = 0, // xref-STREAM type-1 (offset) entries
      nXrefCompressed: Int = 0, // xref-stream type-2 (in-ObjStm) entries
      nCmaps: Int = 0) // /ToUnicode CMaps parsed and applied

  // every dictionary pattern the extractor reads, compiled once
  private val FontTypeRe = "/Type\\s*/Font".r
  private val ToUnicodeRe = "/ToUnicode\\s+(\\d+)\\s+0\\s+R".r
  private val FontResRe = "/Font\\s*<<([^>]*)>>".r
  private val FontRefRe = "/(\\w+)\\s+(\\d+)\\s+0\\s+R".r
  private val LengthRe = "/Length\\s+(\\d+)(?!\\s+0\\s+R)".r
  private val ImageRe = "/Subtype\\s*/Image".r
  private val ObjStmRe = "/Type\\s*/ObjStm".r
  private val XRefRe = "/Type\\s*/XRef".r
  private val EarlyChange0Re = "/EarlyChange\\s+0".r
  private val KRe = "/K\\s+(-?\\d+)".r
  private val ColumnsRe = "/Columns\\s+(-?\\d+)".r
  private val RowsRe = "/Rows\\s+(-?\\d+)".r
  private val SignedHeightRe = "/Height\\s+(-?\\d+)".r
  private val EncodedByteAlignRe = "/EncodedByteAlign\\s+true".r
  private val EndOfLineRe = "/EndOfLine\\s+true".r
  private val WidthRe = "/Width\\s+(\\d+)".r
  private val HeightRe = "/Height\\s+(\\d+)".r
  private val BitsRe = "/BitsPerComponent\\s+(\\d+)".r
  private val IndexedRe = ("/ColorSpace\\s*\\[\\s*/Indexed\\s*/(DeviceRGB|DeviceGray)" +
    "\\s+(\\d+)\\s*<([0-9A-Fa-f\\s]*)>\\s*\\]").r
  private val ColorSpaceRe = "/ColorSpace\\s*/([A-Za-z0-9]+)".r
  private val NRe = "/N\\s+(\\d+)".r
  private val FirstRe = "/First\\s+(\\d+)".r
  private val DigitsRe = "\\d+".r
  private val PageRe = "/Type\\s*/Page(?![A-Za-z])".r
  private val WRe = "/W\\s*\\[([^\\]]*)\\]".r
  private val PredictorRe = "/Predictor\\s+(\\d+)".r
  private val FilterRe = "/Filter\\s*(\\[[^\\]]*\\]|/[A-Za-z0-9]+)".r
  private val NameRe = "/([A-Za-z0-9]+)".r
  private val CodespaceRe = "(?s)begincodespacerange\\s*<([0-9A-Fa-f]+)>".r
  private val HexTokRe = "<([0-9A-Fa-f]+)>".r
  private val BfCharRe = "(?s)beginbfchar(.*?)endbfchar".r
  private val BfRangeRe = "(?s)beginbfrange(.*?)endbfrange".r
  private val RangeTokRe = "<([0-9A-Fa-f]+)>|\\[|\\]".r

  /** Every top-level object header `(\d+)\s+0\s+obj`, as the
    * leftmost non-overlapping `(start, number)` matches a regex scan
    * would give, found from each `obj` by a backward check: whitespace,
    * the generation `0`, whitespace, then the object number's digits.
    * Whitespace is `\s`'s set, `[ \t\n\x0B\f\r]`.
    */
  private[sources] def objectStarts(s: String): Array[(Int, Int)] = {
    def ws(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'
    def digit(c: Char) = c >= '0' && c <= '9'
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var t = s.indexOf("obj")
    while (t >= 0) {
      var q = t - 1
      while (q >= 0 && ws(s(q))) q -= 1
      if (q < t - 1 && q >= 0 && s(q) == '0') {
        val zero = q
        q -= 1
        while (q >= 0 && ws(s(q))) q -= 1
        if (q < zero - 1 && q >= 0 && digit(s(q))) {
          val numEnd = q + 1
          while (q >= 0 && digit(s(q))) q -= 1
          out += ((q + 1, s.substring(q + 1, numEnd).toInt))
        }
      }
      t = s.indexOf("obj", t + 3)
    }
    out.toArray
  }

  def sniff(data: Array[Byte]): Boolean =
    data.length >= 5 && data(0) == '%' && data(1) == 'P' &&
      data(2) == 'D' && data(3) == 'F' && data(4) == '-'

  def extractText(data: Array[Byte]): Either[String, PdfExtract] =
    guarded("pdf")(extractInner(data))

  private def extractInner(data: Array[Byte]): Either[String, PdfExtract] = {
    if (!sniff(data)) return Left("pdf: missing %PDF- header")
    // byte-preserving view: Latin-1 maps byte k to codepoint k
    val s = new String(data, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (s.contains("/Encrypt"))
      return Left("pdf: encrypted (out of scope — no decryption support)")

    var nStreams = 0
    var nFlate = 0
    var nRaw = 0
    var nSkipped = 0
    var nShows = 0
    var nAscii = 0
    var nImages = 0
    var nImageSkipped = 0
    var imgPx = 0L
    var imgMeanSum = 0.0
    var nObjStm = 0
    var nObjStmObjs = 0
    var nPages = 0
    var nXrefOffsets = 0
    var nXrefCompressed = 0
    var nCmaps = 0
    val text = new StringBuilder

    // ---- font / ToUnicode discovery (composite-font text) ----------
    // Top-level `N 0 obj` dicts only (a ToUnicode ref on an
    // ObjStm-RESIDENT font dict is out of scope, documented): fonts
    // carrying /ToUnicode N 0 R make show strings glyph-coded; their
    // CMap streams must feed the code->unicode map, never the shows
    // scanner, and content decoding becomes font-aware (Tf tracking).
    val objStarts: Array[(Int, Int)] =
      objectStarts(s)
    val fontToUni: Map[Int, Int] = objStarts.flatMap { case (off, num) =>
      val end = s.indexOf("endobj", off)
      val seg = s.substring(off, if (end > 0) math.min(end, off + 4096) else math.min(s.length, off + 4096))
      if (FontTypeRe.findFirstIn(seg).isDefined)
        ToUnicodeRe.findFirstMatchIn(seg).map(m => num -> m.group(1).toInt)
      else None
    }.toMap
    val resFont: Map[String, Int] =
      FontResRe.findAllMatchIn(s).flatMap { m =>
        FontRefRe.findAllMatchIn(m.group(1))
          .map(fm => fm.group(1) -> fm.group(2).toInt)
      }.toMap
    val toUniObjs: Set[Int] = fontToUni.values.toSet
    val cmapsByObj = scala.collection.mutable.HashMap.empty[Int, (Int, Map[Int, String])]
    // content bodies deferred until the CMaps are all parsed (a CMap
    // object may follow the content stream in file order)
    val deferred = scala.collection.mutable.ArrayBuffer.empty[String]
    def objNumAt(dictStart: Int): Int = {
      // greatest object start before the stream's dict
      var lo = 0
      var hi = objStarts.length - 1
      var best = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (objStarts(mid)._1 < dictStart) { best = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (best < 0) -1 else objStarts(best)._2
    }

    var from = 0
    while (from < s.length) {
      val sp = s.indexOf("stream", from)
      if (sp < 0) from = s.length
      else {
        // must be the keyword (not "endstream"), preceded by a dict
        val isEnd = sp >= 3 && s.regionMatches(sp - 3, "end", 0, 3)
        val dictEnd = s.lastIndexOf(">>", sp)
        if (isEnd || dictEnd < 0) from = sp + 6
        else {
          // walk back to the matching "<<" (dicts nest)
          var depth = 1
          var q = dictEnd - 1
          var dictStart = -1
          while (q >= 1 && dictStart < 0) {
            if (s(q) == '>' && s(q - 1) == '>') { depth += 1; q -= 2 }
            else if (s(q) == '<' && s(q - 1) == '<') {
              depth -= 1
              if (depth == 0) dictStart = q - 1 else q -= 2
            } else q -= 1
          }
          val dict = if (dictStart >= 0) s.substring(dictStart, dictEnd + 2) else ""
          // data begins after the keyword's EOL (spec: CRLF or LF)
          var ds = sp + 6
          if (ds < s.length && s(ds) == '\r') ds += 1
          if (ds < s.length && s(ds) == '\n') ds += 1
          val lenDirect = LengthRe.findFirstMatchIn(dict).map(_.group(1).toInt)
          val de = lenDirect.map(ds + _).filter(_ <= s.length)
            .getOrElse {
              val e = s.indexOf("endstream", ds)
              if (e < 0) s.length
              else { // trim the EOL the writer put before the keyword
                var t = e
                if (t > ds && s(t - 1) == '\n') t -= 1
                if (t > ds && s(t - 1) == '\r') t -= 1
                t
              }
            }
          if (de > s.length) { from = sp + 6 }
          else if (ImageRe.findFirstIn(dict).isDefined) {
            // image XObject: the raster never feeds the shows scanner;
            // decode it to stats through the shared image codecs
            // (DCTDecode tails route to the in-house JPEG decoder,
            // standard-filter rasters wrap as PNM) — out-of-scope
            // images count skipped, never garble the text channel
            nStreams += 1
            decodeImageXObject(dict, data, ds, de) match {
              case Some(st) =>
                nImages += 1
                imgPx += st.nPixels
                imgMeanSum +=
                  (if (st.channels == 1) st.rMean
                   else (st.rMean + st.gMean + st.bMean) / 3.0)
              case None => nImageSkipped += 1
            }
            from = math.max(de, sp + 6)
          } else if (ObjStmRe.findFirstIn(dict).isDefined) {
            // OBJECT stream (spec §7.5.7, modern writers): unpack the
            // compressed dict objects — never the shows scanner (its
            // bytes are dicts, not content)
            nStreams += 1
            applyFilters(dict, filtersOf(dict), data, ds, de).foreach { b =>
              parseObjStm(dict, b).foreach { case (nObjs, pages) =>
                nObjStm += 1
                nObjStmObjs += nObjs
                nPages += pages
              }
            }
            from = math.max(de, sp + 6)
          } else if (XRefRe.findFirstIn(dict).isDefined) {
            // cross-reference STREAM (spec §7.5.8): W-column entries,
            // usually flate + PNG Up predictor — decode and tally
            // entry types (1 = offset, 2 = compressed-in-ObjStm)
            nStreams += 1
            applyFilters(dict, filtersOf(dict), data, ds, de,
              predictorHandledByCaller = true).foreach { b =>
              parseXrefStream(dict, b).foreach { case (t1, t2) =>
                nXrefOffsets += t1
                nXrefCompressed += t2
              }
            }
            from = math.max(de, sp + 6)
          } else {
            nStreams += 1
            val filters = filtersOf(dict)
            val body: Option[Array[Byte]] =
              if (filters.isEmpty) {
                nRaw += 1
                Some(java.util.Arrays.copyOfRange(data, ds, de))
              } else applyFilters(dict, filters, data, ds, de) match {
                case Some(b) =>
                  // a successful chain ran every named stage
                  if (filters.exists(f => f == "FlateDecode" || f == "Fl"))
                    nFlate += 1
                  if (filters.exists(f => f == "ASCIIHexDecode" || f == "AHx" ||
                      f == "ASCII85Decode" || f == "A85")) nAscii += 1
                  Some(b)
                case None => nSkipped += 1; None
              }
            body.foreach { b =>
              val c = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
              val objNum = if (toUniObjs.isEmpty) -1 else objNumAt(dictStart)
              if (objNum >= 0 && toUniObjs.contains(objNum)) {
                cmapsByObj(objNum) = parseCmap(c)
                nCmaps += 1
              } else if (toUniObjs.nonEmpty) deferred += c
              else {
                val (shown, ops) = showsFrom(c)
                text.append(shown)
                nShows += ops
              }
            }
            from = math.max(de, sp + 6)
          }
        }
      }
    }
    if (deferred.nonEmpty) {
      val fonts: Map[String, (Int, Map[Int, String])] = resFont.flatMap { case (name, fObj) =>
        fontToUni.get(fObj).flatMap(cmapsByObj.get).map(name -> _)
      }
      deferred.foreach { c =>
        val (shown, ops) = showsFrom(c, fonts)
        text.append(shown)
        nShows += ops
      }
    }
    Right(PdfExtract(nStreams, nFlate, nRaw, nSkipped, nShows, text.toString,
      nAscii, nImages, nImageSkipped, imgPx, imgMeanSum,
      nObjStm, nObjStmObjs, nPages, nXrefOffsets, nXrefCompressed, nCmaps))
  }

  /** Decode a `/Subtype /Image` XObject's stream to image stats. The
    * repo owns complete JPEG and zlib decoders, so the r17 scoping
    * ("lossy/image filters skipped") narrows to genuinely foreign
    * codecs. IN scope:
    *  - a filter chain ENDING in /DCTDecode (any standard transport
    *    stages before it) → the in-house baseline/progressive JPEG
    *    decoder ([[graft.operators.JpegCodec]])
    *  - a chain ending in /CCITTFaxDecode (r20 — scanned PDFs): G4
    *    (/K < 0), pure-1D MH (/K = 0, /EncodedByteAlign honored), and
    *    EOL-framed 2D (/K > 0 with /EndOfLine) through the
    *    [[graft.operators.CcittG4]]/[[graft.operators.CcittG3]] fax
    *    codecs; bilevel bits expand to a visual gray raster
    *  - raw or standard-filter rasters with /BitsPerComponent 8 and
    *    /ColorSpace /DeviceRGB or /DeviceGray → framed as P6/P5 and
    *    folded by the shared PNM stats path (one copy, O(raster))
    *  - /Indexed palette color spaces (r20) over either base family
    *    with an INLINE hex lookup table: 8-bit indices resolve
    *    through the palette (out-of-range index = skip) into the
    *    same PNM stats path — the PNG/GIF/TIFF-palette precedent
    * OUT of scope → None, counted `n_image_skipped`: JBIG2/JPX
    * filters, /K > 0 without /EndOfLine (no EOL = no 2D tag bit),
    * /Predictor rows, stream-referenced /Indexed lookup tables,
    * sub-8-bit or 16-bit non-CCITT samples, ICC / CMYK color spaces,
    * short payloads. Never silent garbage.
    */
  /** Apply a standard transport-filter chain in array order (spec
    * 7.4). Any unknown or failing stage, or a /Predictor on the dict
    * (rows would need unpredicting the caller doesn't do — the xref
    * branch handles its own), yields None: skip, never misdecode.
    */
  private def applyFilters(dict: String, filters: Seq[String],
      data: Array[Byte], ds: Int, de: Int,
      predictorHandledByCaller: Boolean = false): Option[Array[Byte]] = {
    val lzwDefault = !EarlyChange0Re.findFirstIn(dict).isDefined
    val hasPredictor = !predictorHandledByCaller && dict.contains("/Predictor")
    var cur: Option[Array[Byte]] =
      Some(java.util.Arrays.copyOfRange(data, ds, de))
    filters.foreach { f =>
      if (cur.isDefined) f match {
        case "FlateDecode" | "Fl" if !hasPredictor =>
          cur = inflate(cur.get, 0, cur.get.length, Zlib).toOption
        case "ASCIIHexDecode" | "AHx" => cur = Some(asciiHexDecode(cur.get))
        case "ASCII85Decode" | "A85" => cur = ascii85Decode(cur.get)
        case "RunLengthDecode" | "RL" => cur = runLengthDecode(cur.get)
        case "LZWDecode" | "LZW" if lzwDefault && !hasPredictor =>
          cur = lzwDecode(cur.get).toOption
        case _ => cur = None
      }
    }
    cur
  }

  /** CCITTFaxDecode (r20 — the fax codecs landed, so scanned-PDF
    * images decode too): /K < 0 -> G4 (T.6), /K = 0 -> pure 1D MH
    * with /EncodedByteAlign honored; /K > 0 needs /EndOfLine true
    * (without EOLs the 2D tag bit has nowhere to live — skip, never
    * misdecode). /BlackIs1 only flips SAMPLE polarity, not the runs;
    * stats are over the VISUAL raster (black 0 / white 255), the
    * pairing every writer keeps via /Decode. Returns None (counted
    * n_image_skipped) on any malformed stream.
    */
  private def decodeCcittImage(dict: String,
      bytes: Array[Byte]): Option[graft.operators.ImageCodec.ImageStats] = {
    import graft.operators.{CcittG3, CcittG4, ImageCodec}
    def num(re: Regex): Option[Int] = re.findFirstMatchIn(dict).map(_.group(1).toInt)
    def flag(re: Regex): Boolean = re.findFirstIn(dict).isDefined
    val k = num(KRe).getOrElse(0)
    val w = num(ColumnsRe).getOrElse(1728)
    val rows = num(RowsRe).orElse(num(SignedHeightRe)).getOrElse(0)
    if (w <= 0 || rows <= 0 || w.toLong * rows > (64L << 20)) return None
    val bits =
      try {
        if (k < 0) Some(CcittG4.decode(bytes, w, rows))
        else if (k == 0)
          Some(CcittG3.decodeMH(bytes, w, rows, byteAlign = flag(EncodedByteAlignRe)))
        else if (flag(EndOfLineRe)) Some(CcittG3.decodeG3(bytes, w, rows, twoD = true))
        else None
      } catch { case Malformed(_) => None }
    bits.flatMap { b =>
      val hdr = s"P5\n$w $rows\n255\n"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val pnm = new Array[Byte](hdr.length + b.length)
      System.arraycopy(hdr, 0, pnm, 0, hdr.length)
      var i = 0
      while (i < b.length) {
        pnm(hdr.length + i) = (if (b(i) == 1) 0 else 255).toByte
        i += 1
      }
      ImageCodec.decode(pnm).toOption
    }
  }

  private def decodeImageXObject(dict: String, data: Array[Byte],
      ds: Int, de: Int): Option[graft.operators.ImageCodec.ImageStats] = {
    val filters = filtersOf(dict)
    val isDct = filters.nonEmpty &&
      (filters.last == "DCTDecode" || filters.last == "DCT")
    val isCcitt = filters.nonEmpty &&
      (filters.last == "CCITTFaxDecode" || filters.last == "CCF")
    val transport = if (isDct || isCcitt) filters.dropRight(1) else filters
    applyFilters(dict, transport, data, ds, de).flatMap { bytes =>
      if (isDct) graft.operators.ImageCodec.decode(bytes).toOption
      else if (isCcitt) decodeCcittImage(dict, bytes)
      else {
        def num(re: Regex): Option[Int] = re.findFirstMatchIn(dict).map(_.group(1).toInt)
        // /Indexed palette color space (r20 — the scanned-PDF palette
        // shape, the PNG/GIF/TIFF-palette precedent): base family +
        // hival + an INLINE hex-string lookup table; stream-ref
        // lookups stay out of scope (skip)
        val indexed = IndexedRe.findFirstMatchIn(dict)
        val cs = ColorSpaceRe.findFirstMatchIn(dict).map(_.group(1))
        (num(WidthRe), num(HeightRe), num(BitsRe), indexed) match {
          case (Some(w), Some(h), Some(8), Some(m)) if w > 0 && h > 0 =>
            val baseCh = if (m.group(1) == "DeviceGray") 1 else 3
            val hival = m.group(2).toInt
            val hex = m.group(3).filterNot(_.isWhitespace)
            val need = w.toLong * h
            if (hival < 0 || hival > 255 || need > bytes.length ||
              need > Int.MaxValue - 32 ||
              hex.length < 2 * (hival + 1) * baseCh) None
            else {
              val pal = Array.tabulate((hival + 1) * baseCh)(i =>
                Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte)
              val hdr = s"P${if (baseCh == 1) 5 else 6}\n$w $h\n255\n"
                .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
              val pnm = new Array[Byte](hdr.length + need.toInt * baseCh)
              System.arraycopy(hdr, 0, pnm, 0, hdr.length)
              var i = 0
              var bad = false
              while (i < need.toInt && !bad) {
                val idx = bytes(i) & 0xff
                if (idx > hival) bad = true // out-of-range index: skip
                else {
                  var c = 0
                  while (c < baseCh) {
                    pnm(hdr.length + i * baseCh + c) = pal(idx * baseCh + c)
                    c += 1
                  }
                }
                i += 1
              }
              if (bad) None
              else graft.operators.ImageCodec.decode(pnm).toOption
            }
          case _ => (num(WidthRe), num(HeightRe), num(BitsRe), cs) match {
            case (Some(w), Some(h), Some(8), Some(space))
                if w > 0 && h > 0 &&
                  (space == "DeviceRGB" || space == "DeviceGray") =>
              val ch = if (space == "DeviceGray") 1 else 3
              val need = w.toLong * h * ch
              if (need > bytes.length || need > Int.MaxValue - 32) None
              else {
                val hdr = s"P${if (ch == 1) 5 else 6}\n$w $h\n255\n"
                  .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
                val pnm = new Array[Byte](hdr.length + need.toInt)
                System.arraycopy(hdr, 0, pnm, 0, hdr.length)
                System.arraycopy(bytes, 0, pnm, hdr.length, need.toInt)
                graft.operators.ImageCodec.decode(pnm).toOption
              }
            case _ => None
          }
        }
      }
    }
  }

  /** Unpack an /ObjStm body (spec §7.5.7): header of /N integer pairs
    * (objnum, offset), objects start at /First + offset. Returns
    * (objects discovered, /Type /Page dicts among them); None when
    * the header is malformed — never a throw, never garbage counts.
    */
  private def parseObjStm(dict: String, body: Array[Byte]): Option[(Int, Int)] = {
    val n = NRe.findFirstMatchIn(dict).map(_.group(1).toInt)
    val first = FirstRe.findFirstMatchIn(dict).map(_.group(1).toInt)
    (n, first) match {
      case (Some(n0), Some(f0)) if n0 >= 0 && n0 <= (1 << 20) && f0 >= 0 &&
          f0 <= body.length =>
        val s = new String(body, java.nio.charset.StandardCharsets.ISO_8859_1)
        val nums = DigitsRe.findAllIn(s.substring(0, f0)).map(_.toLong).toIndexedSeq
        if (nums.length < 2L * n0) None
        else {
          val offs = Array.tabulate(n0)(i => nums(2 * i + 1))
          var pages = 0
          var i = 0
          while (i < n0) {
            val st = f0 + offs(i)
            val en = if (i + 1 < n0) math.min(f0 + offs(i + 1), s.length.toLong)
              else s.length.toLong
            if (st >= 0 && st <= en && en <= s.length) {
              if (PageRe.findFirstIn(s.substring(st.toInt, en.toInt)).isDefined)
                pages += 1
            }
            i += 1
          }
          Some((n0, pages))
        }
      case _ => None
    }
  }

  /** Tally an xref STREAM's entries (spec §7.5.8): fixed-width rows of
    * /W [a b c] byte columns, optionally behind a PNG row predictor
    * (/DecodeParms /Predictor 10-15 — writers near-universally use Up).
    * Returns (type-1 offset entries, type-2 in-ObjStm entries).
    */
  private def parseXrefStream(dict: String, body: Array[Byte]): Option[(Int, Int)] = {
    WRe.findFirstMatchIn(dict).map(_.group(1)).flatMap { ws =>
      val w = DigitsRe.findAllIn(ws).map(_.toInt).toIndexedSeq
      val rowLen = w.sum
      if (w.isEmpty || rowLen <= 0 || rowLen > 32) None
      else {
        val pred = PredictorRe.findFirstMatchIn(dict)
          .map(_.group(1).toInt).getOrElse(1)
        val rows: Option[Array[Byte]] =
          if (pred == 1) Some(body)
          else if (pred >= 10 && pred <= 15) pngUnpredict(body, rowLen)
          else None
        rows.flatMap { d0 =>
          if (d0.length % rowLen != 0) None
          else {
            var t1 = 0
            var t2 = 0
            var r = 0
            while (r < d0.length) {
              // field 1 (entry type); W[0] == 0 defaults the type to 1
              var tpe = 1
              var k = 0
              if (w(0) > 0) {
                tpe = 0
                while (k < w(0)) { tpe = (tpe << 8) | (d0(r + k) & 0xff); k += 1 }
              }
              if (tpe == 1) t1 += 1 else if (tpe == 2) t2 += 1
              r += rowLen
            }
            Some((t1, t2))
          }
        }
      }
    }
  }

  /** Undo PNG row filters over fixed-width rows (bpp = 1 byte — the
    * /Colors 1 /BitsPerComponent 8 case xref streams use): each row is
    * a filter byte then `rowLen` data bytes. None on a length mismatch
    * or an unknown filter type.
    */
  private def pngUnpredict(d: Array[Byte], rowLen: Int): Option[Array[Byte]] = {
    val stride = rowLen + 1
    if (rowLen <= 0 || d.length % stride != 0) return None
    val nRows = d.length / stride
    val out = new Array[Byte](nRows * rowLen)
    val prev = new Array[Int](rowLen)
    val cur = new Array[Int](rowLen)
    var r = 0
    while (r < nRows) {
      val ft = d(r * stride) & 0xff
      var i = 0
      while (i < rowLen) {
        val x = d(r * stride + 1 + i) & 0xff
        val a = if (i > 0) cur(i - 1) else 0
        val b = prev(i)
        val c = if (i > 0) prev(i - 1) else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a)
            val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return None
        }
        cur(i) = v & 0xff
        out(r * rowLen + i) = (v & 0xff).toByte
        i += 1
      }
      System.arraycopy(cur, 0, prev, 0, rowLen)
      r += 1
    }
    Some(out)
  }

  /** The /Filter value as an ordered name list: a single `/Name` or a
    * `[/N1 /N2 …]` array (decode order = array order). Empty when the
    * dict carries no filter.
    */
  private def filtersOf(dict: String): Seq[String] =
    FilterRe.findFirstMatchIn(dict) match {
      case None => Nil
      case Some(m) =>
        NameRe.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq
    }

  /** ASCIIHexDecode (spec 7.4.2): hex pairs to bytes, whitespace
    * ignored, `>` is EOD, an odd final digit gets a zero low nibble.
    * Non-hex garbage is skipped rather than fatal (the shows scanner
    * downstream is the robustness boundary).
    */
  private def asciiHexDecode(d: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(d.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < d.length && !done) {
      val c = d(i).toChar
      if (c == '>') done = true
      else {
        val v = Character.digit(c, 16)
        if (v >= 0) {
          if (hi < 0) hi = v
          else { out.write((hi << 4) | v); hi = -1 }
        }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  /** ASCII85Decode (spec 7.4.3): 5 chars in `!`..`u` per 4 bytes,
    * `z` = four zero bytes (only between groups), `~>` is EOD, an
    * optional leading `<~` tolerated, whitespace ignored; a partial
    * final group of n chars pads with `u` and yields n−1 bytes.
    * Returns None on a malformed group (chars out of range inside a
    * group, a 1-char final group, or an overflowing tuple) — the
    * stream then counts as skipped, never silent garbage.
    */
  private def ascii85Decode(d: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(d.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var n = 0
    var i = 0
    // tolerate the Adobe-style <~ prologue
    if (d.length >= 2 && d(0) == '<' && d(1) == '~') i = 2
    var done = false
    def emit(count: Int): Boolean = {
      var k = n
      while (k < 5) { grp(k) = 84; k += 1 } // pad with 'u'
      var tuple = 0L
      k = 0
      while (k < 5) { tuple = tuple * 85 + grp(k); k += 1 }
      if (tuple > 0xffffffffL) return false
      var b = 0
      while (b < count) {
        out.write(((tuple >>> (24 - 8 * b)) & 0xff).toInt)
        b += 1
      }
      true
    }
    while (i < d.length && !done) {
      val c = d(i).toChar
      if (c == '~') done = true
      else if (c == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        grp(n) = c - '!'
        n += 1
        if (n == 5) { if (!emit(4)) return None; n = 0 }
      } else if (!Character.isWhitespace(c)) return None
      i += 1
    }
    if (n == 1) return None // a lone final char encodes nothing
    if (n > 1) { val bytes = n - 1; if (!emit(bytes)) return None }
    Some(out.toByteArray)
  }

  /** RunLengthDecode (spec 7.4.5): length byte L — 0..127 copies the
    * next L+1 bytes literally, 129..255 repeats the next byte 257−L
    * times, 128 is EOD. A run header with no payload is malformed →
    * None (skip, never garble).
    */
  private[sources] def runLengthDecode(d: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(d.length * 2 + 16)
    var i = 0
    var done = false
    while (i < d.length && !done) {
      val l = d(i) & 0xff
      i += 1
      if (l == 128) done = true
      else if (l < 128) {
        if (i + l + 1 > d.length) return None
        out.write(d, i, l + 1)
        i += l + 1
      } else {
        if (i >= d.length) return None
        var k = 0
        while (k < 257 - l) { out.write(d(i)); k += 1 }
        i += 1
      }
    }
    Some(out.toByteArray)
  }

  /** LZWDecode (spec 7.4.4, the TIFF flavor): MSB-first variable-width
    * codes starting at 9 bits, 256 = clear table, 257 = EOD, the code
    * width bumping at table sizes 511/1023/2047 (EarlyChange 1, the
    * default — non-default parameters are skipped upstream). A code
    * beyond the table (other than the next-to-assign KwKwK case) is
    * `Left("malformed LZW stream")`. Output stops at `limit` bytes, at
    * most [[InflateCap]] (a TIFF strip passes its size): a stream with
    * more is `Left("LZW output exceeds <limit> bytes")`, having held at
    * most the limit plus one chunk.
    */
  private[graft] def lzwDecode(d: Array[Byte], limit: Int = InflateCap): Either[String, Array[Byte]] = {
    val cap = math.min(limit, InflateCap)
    // the table holds each code as (prefix code, last byte, first
    // byte, length): a code's bytes are written by walking its
    // prefixes, so no code allocates
    val prefix = new Array[Int](4096)
    val last = new Array[Byte](4096)
    val first = new Array[Byte](4096)
    val size = new Array[Int](4096)
    var c = 0
    while (c < 256) { last(c) = c.toByte; first(c) = c.toByte; size(c) = 1; c += 1 }
    // output in chunks (doubling up to 4 MiB) joined once at the end,
    // so a stream stopped at the limit never regrew or copied them
    val parts = Vector.newBuilder[(Array[Byte], Int)]
    var chunk = new Array[Byte](math.max(4096, math.min(d.length * 3L + 16, cap.toLong)).toInt)
    var at = 0
    var total = 0
    var nextCode = 258
    var width = 9
    var prev = -1
    var acc = 0L
    var nbits = 0
    var i = 0
    var eod = false
    while (!eod && (i < d.length || nbits >= width)) {
      if (nbits < width) { acc = (acc << 8) | (d(i) & 0xff); nbits += 8; i += 1 }
      else {
        val code = ((acc >>> (nbits - width)) & ((1 << width) - 1)).toInt
        nbits -= width
        if (code == 256) { nextCode = 258; width = 9; prev = -1 }
        else if (code == 257) eod = true
        else {
          if (code > nextCode || (code == nextCode && prev < 0))
            return Left("malformed LZW stream")
          if (prev >= 0 && nextCode < 4096) {
            // prev + the first byte of this code (of prev itself when
            // this code is the one being assigned: KwKwK)
            prefix(nextCode) = prev
            last(nextCode) = first(if (code == nextCode) prev else code)
            first(nextCode) = first(prev)
            size(nextCode) = size(prev) + 1
            nextCode += 1
          }
          val n = size(code)
          if (total + n > cap) return Left(s"LZW output exceeds $cap bytes")
          if (at + n > chunk.length) {
            parts += ((chunk, at))
            chunk = new Array[Byte](math.min(chunk.length * 2, 4 << 20))
            at = 0
          }
          var k = at + n - 1
          var x = code
          while (k >= at) { chunk(k) = last(x); x = prefix(x); k -= 1 }
          at += n
          total += n
          prev = code
          // EarlyChange 1: width bumps one code early
          if (width < 12 && nextCode + 1 > (1 << width) - 1) width += 1
        }
      }
    }
    // a stream without EOD is kept (some writers omit it): the bits
    // left are only padding
    val done = parts.result()
    if (done.isEmpty) Right(java.util.Arrays.copyOf(chunk, at))
    else {
      val out = new Array[Byte](total)
      var w = 0
      (done :+ ((chunk, at))).foreach { case (p, n) => System.arraycopy(p, 0, out, w, n); w += n }
      Right(out)
    }
  }

  /** PDF delimiter or whitespace byte (spec §7.2.2-3): token
    * boundaries for the shows scanner.
    */
  private def isDelim(ch: Char): Boolean = ch match {
    case '\u0000' | '\t' | '\n' | '\f' | '\r' | ' ' => true
    case '(' | ')' | '<' | '>' | '[' | ']' | '{' | '}' | '/' | '%' => true
    case _ => false
  }

  /** Scan one decoded content stream for Tj/TJ/'/" shows; returns the
    * concatenated shown text and the show-op count. PDF comments (%)
    * are skipped. Name tokens are consumed wholesale (apostrophes are
    * REGULAR chars per §7.2.2, so `/F1'` is one name, never a show
    * op), `'`/`"` count as operators only when delimiter-bounded on
    * the left, and any other alphabetic operator token drops the
    * pending literal (operands bind to the NEXT operator only — a
    * stale literal must not be flushed by a distant show op).
    */
  private def showsFrom(
      c: String,
      fonts: Map[String, (Int, Map[Int, String])] = Map.empty): (String, Int) = {
    val out = new StringBuilder
    var shows = 0
    var lastLit: String = null
    var arr: StringBuilder = null // non-null while inside [ … ]
    var lastName: String = null // most recent name token (the Tf operand)
    var curMap: (Int, Map[Int, String]) = null // active font's (code width, ToUnicode map)
    def show(): Unit =
      if (lastLit != null) {
        if (curMap == null) out.append(lastLit)
        else {
          // ToUnicode'd font: the string is big-endian glyph codes at
          // the CMap's codespace width (1 byte for simple fonts,
          // 2 for composite); map each through the CMap (an unmapped
          // code contributes nothing — the spec's "no mapping" rule;
          // a dangling partial code likewise)
          val (w, map) = curMap
          var k = 0
          while (k + w - 1 < lastLit.length) {
            val code =
              if (w == 1) lastLit(k).toInt
              else (lastLit(k) << 8) | (lastLit(k + 1) & 0xff)
            map.get(code).foreach(out.append)
            k += w
          }
        }
        shows += 1
        lastLit = null
      }
    var i = 0
    while (i < c.length) {
      val ch = c(i)
      if (ch == '(') {
        val (lit, end) = parseLiteral(c, i)
        if (arr != null) arr.append(lit) else lastLit = lit
        i = end
      } else if (ch == '[') { arr = new StringBuilder; i += 1 }
      else if (ch == ']') {
        lastLit = if (arr != null) arr.toString else null
        arr = null
        i += 1
      } else if (ch == '%') {
        while (i < c.length && c(i) != '\n' && c(i) != '\r') i += 1
      } else if (ch == '<') {
        // dict-open: skip the token; otherwise a hex string literal
        if (i + 1 < c.length && c(i + 1) == '<') i += 2
        else {
          val (lit, end) = parseHexLiteral(c, i)
          if (arr != null) arr.append(lit) else lastLit = lit
          i = end
        }
      } else if (ch == '/') {
        // name token: '/' plus every following REGULAR char (which
        // includes ' and " — they never act as operators inside one)
        var j = i + 1
        while (j < c.length && !isDelim(c(j))) j += 1
        lastName = c.substring(i + 1, j)
        i = j
      } else if (ch == '\'' || ch == '"') {
        // move-and-show / spacing-and-show: only as a standalone
        // token (delimiter-bounded on the left); the string operand
        // is the pending literal (aw/ac numbers were skipped)
        if (i == 0 || isDelim(c(i - 1))) show()
        i += 1
      } else if ((ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z')) {
        var j = i
        while (j < c.length && ((c(j) >= 'A' && c(j) <= 'Z') ||
          (c(j) >= 'a' && c(j) <= 'z') || c(j) == '*')) j += 1
        val tok = c.substring(i, j)
        if (tok == "Tj" || tok == "TJ") show()
        else {
          if (tok == "Tf" && lastName != null)
            curMap = fonts.get(lastName).orNull // font selection
          if (arr == null) lastLit = null // operand consumed by a non-show op
        }
        i = j
      } else i += 1
    }
    (out.toString, shows)
  }

  /** Parse a /ToUnicode CMap stream (spec §9.10.3 / Adobe CMap spec):
    * `beginbfchar` blocks map <src> <dst> pairs, `beginbfrange`
    * blocks map <lo> <hi> to either an incrementing <dstStart> or an
    * explicit [<dst> <dst> …] array. Codes are the hex value of the
    * src token (1- or 2-byte codespaces both land in an Int);
    * destinations are UTF-16BE strings (surrogate pairs pass through
    * as their code units — the all-BMP corpus never splits them).
    * Anything else in the stream (codespacerange, CID ops, PostScript
    * wrapper) is skipped by token shape.
    */
  private[sources] def parseCmap(c: String): (Int, Map[Int, String]) = {
    // code width (bytes) from the first codespacerange token: <FF> is
    // a 1-byte space (simple fonts), <FFFF> 2-byte (composite) — the
    // show-string walk consumes codes at this width
    val width =
      CodespaceRe.findFirstMatchIn(c)
        .map(m => math.max(1, math.min(2, m.group(1).length / 2))).getOrElse(2)
    val out = Map.newBuilder[Int, String]
    def hexVal(tok: String): Int = Integer.parseInt(tok, 16)
    def hexStr(tok: String): String = {
      val sb = new StringBuilder
      var k = 0
      while (k + 3 < tok.length) {
        sb.append(Integer.parseInt(tok.substring(k, k + 4), 16).toChar)
        k += 4
      }
      if (k < tok.length) sb.append(Integer.parseInt(tok.substring(k), 16).toChar)
      sb.toString
    }
    for (m <- BfCharRe.findAllMatchIn(c)) {
      val toks = HexTokRe.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq
      toks.grouped(2).foreach {
        case Seq(src, dst) => out += hexVal(src) -> hexStr(dst)
        case _ => () // dangling token: malformed entry, skip
      }
    }
    for (m <- BfRangeRe.findAllMatchIn(c)) {
      // token walk: <lo> <hi> then either <dstStart> or [<d> <d> …]
      val body = m.group(1)
      val toks = RangeTokRe.findAllMatchIn(body).map(_.matched).toSeq
      var i = 0
      while (i + 1 < toks.length) {
        (toks.lift(i), toks.lift(i + 1), toks.lift(i + 2)) match {
          case (Some(loT), Some(hiT), Some("[")) if loT.startsWith("<") && hiT.startsWith("<") =>
            val lo = hexVal(loT.stripPrefix("<").stripSuffix(">"))
            val hi = hexVal(hiT.stripPrefix("<").stripSuffix(">"))
            var j = i + 3
            var code = lo
            while (j < toks.length && toks(j) != "]") {
              if (code <= hi) out += code -> hexStr(toks(j).stripPrefix("<").stripSuffix(">"))
              code += 1
              j += 1
            }
            i = j + 1
          case (Some(loT), Some(hiT), Some(dT))
            if loT.startsWith("<") && hiT.startsWith("<") && dT.startsWith("<") =>
            val lo = hexVal(loT.stripPrefix("<").stripSuffix(">"))
            val hi = hexVal(hiT.stripPrefix("<").stripSuffix(">"))
            val dst = hexStr(dT.stripPrefix("<").stripSuffix(">"))
            var code = lo
            while (code <= hi) {
              val mapped =
                if (dst.isEmpty) ""
                else dst.substring(0, dst.length - 1) +
                  (dst.last + (code - lo)).toChar
              out += code -> mapped
              code += 1
            }
            i += 3
          case _ => i = toks.length // malformed tail: stop this block
        }
      }
    }
    (width, out.result())
  }

  /** Parse a hex string literal starting at `start` (which must be
    * '<'): hex digit pairs become bytes, non-hex bytes (whitespace)
    * are ignored, an odd digit count gets a zero low nibble (spec
    * §7.3.4.3). Returns (decoded text, index past the closing '>').
    */
  private def parseHexLiteral(c: String, start: Int): (String, Int) = {
    val out = new StringBuilder
    var hi = -1 // pending high nibble
    var i = start + 1
    var done = false
    while (i < c.length && !done) {
      val ch = c(i)
      if (ch == '>') done = true
      else {
        val v = Character.digit(ch, 16)
        if (v >= 0) {
          if (hi < 0) hi = v
          else { out.append(((hi << 4) | v).toChar); hi = -1 }
        }
      }
      i += 1
    }
    if (hi >= 0) out.append((hi << 4).toChar)
    (out.toString, i)
  }

  /** Parse a parenthesized string literal starting at `start` (which
    * must be '('): returns (decoded text, index past the closing
    * paren). Balanced unescaped parens nest per spec.
    */
  private def parseLiteral(c: String, start: Int): (String, Int) = {
    val out = new StringBuilder
    var depth = 1
    var i = start + 1
    while (i < c.length && depth > 0) {
      val ch = c(i)
      if (ch == '\\' && i + 1 < c.length) {
        c(i + 1) match {
          case 'n' => out.append('\n'); i += 2
          case 'r' => out.append('\r'); i += 2
          case 't' => out.append('\t'); i += 2
          case 'b' => out.append('\b'); i += 2
          case 'f' => out.append('\f'); i += 2
          case '(' => out.append('('); i += 2
          case ')' => out.append(')'); i += 2
          case '\\' => out.append('\\'); i += 2
          case '\r' => // escaped EOL: line continuation, no char
            i += 2; if (i < c.length && c(i) == '\n') i += 1
          case '\n' => i += 2
          case d if d >= '0' && d <= '7' =>
            var v = 0
            var k = i + 1
            while (k < c.length && k <= i + 3 && c(k) >= '0' && c(k) <= '7') {
              v = v * 8 + (c(k) - '0'); k += 1
            }
            out.append((v & 0xff).toChar)
            i = k
          case other => out.append(other); i += 2 // spec: drop the backslash
        }
      } else if (ch == '(') { depth += 1; out.append(ch); i += 1 }
      else if (ch == ')') {
        depth -= 1
        if (depth > 0) out.append(ch)
        i += 1
      } else { out.append(ch); i += 1 }
    }
    (out.toString, i)
  }

  // ------------------------------------------------------------ adapter

  /** Documents -> REAL single-page PDFs, deterministically: a full
    * classic-xref document (catalog, page tree, Type1 font, correct
    * byte-offset xref table, trailer) whose content stream shows
    * `Doc <id>|` as one hex-literal `Tj`, the document text as one
    * `TJ` array of 7-char chunks (kerning numbers interleaved —
    * concatenation must reconstruct the text EXACTLY, spaces
    * included), and a fixed `~fin.` suffix through the `'` and `"`
    * show operators. Even doc_id -> uncompressed stream; odd ->
    * /FlateDecode. The oracle never parses the PDF: extracted text
    * must equal `'Doc ' || doc_id || '|' || text || '~fin.'` (q220) —
    * a wrong escape, a bad hex-pair decode, a mis-framed stream, a
    * kerning number leaking into the text, or a broken inflate all
    * hash-fail. Stream encodings rotate doc_id % 6: raw, /FlateDecode,
    * /ASCIIHexDecode, the [/ASCII85Decode /FlateDecode] chain,
    * /RunLengthDecode, and /LZWDecode — all six decode paths sit on
    * the oracle gate.
    */
  def toPdfs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val modes = Array("raw", "flate", "hex", "a85flate", "rle", "lzw")
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text").cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        // container rotation (r18): odd docs arrive in the MODERN
        // layout — structure dicts in a Flate /ObjStm behind a /Type
        // /XRef stream with PNG Up-predicted rows — even docs in the
        // classic xref-table layout; the content stream (and so the
        // extracted text) is identical either way
        val pdf =
          if (id % 2 == 1) buildPdfModern(s"Doc $id|", text, modes((id % 6).toInt))
          else buildPdf(s"Doc $id|", text, modes((id % 6).toInt))
        (id, "doc", "pdf", pdf)
      }
      .toDF("media_id", "kind", "format", "data")
  }

  /** [[toPdfs]] plus one embedded `/Subtype /Image` XObject per
    * document — the q231 adapter. Text payloads keep the q220 mode
    * rotation (doc_id % 6), so image presence provably never perturbs
    * the text channel; the image rotates doc_id % 2:
    *  - EVEN: /FlateDecode DeviceRGB raster with [[Media.toPpm]]'s
    *    geometry — w = L%8+1, h = L%6+1, bytes = the text repeated to
    *    3wh (the oracle recomputes mean = avg of those codepoints)
    *  - ODD: /DCTDecode grayscale flat-tile JPEG with
    *    [[Media.toJpeg]]'s gray geometry — tw = L%3+1, th = L%2+1,
    *    8x8 tiles of the first tw*th repeated text bytes; DC-only
    *    unit-quant tiles decode BIT-exactly, so the decoded mean is
    *    again pure text arithmetic
    * and every doc_id % 3 == 0 image additionally rides an
    * /ASCIIHexDecode transport stage — filter CHAINS on image
    * XObjects sit on the oracle gate too.
    */
  def toPdfsWithImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val modes = Array("raw", "flate", "hex", "a85flate", "rle", "lzw")
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text").cast("string"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val L = t.length
        val hexed = id % 3 == 0
        val img =
          if (id % 6 == 4) {
            // r20: the /Indexed palette shape — indices are the text
            // bytes, the inline hex lookup maps i -> ((i*3)%256)x3,
            // so the decoded mean is text arithmetic for the oracle
            val w = L % 8 + 1
            val h = L % 6 + 1
            val indices = Array.tabulate(w * h)(i => t(i % L).toByte)
            val hex = (0 until 256).map { i =>
              val v = f"${i * 3 % 256}%02x"; v * 3
            }.mkString
            PdfImage(w, h, gray = false, " /Filter /FlateDecode",
              deflateBytes(indices),
              colorSpace = s"[/Indexed /DeviceRGB 255 <$hex>]")
          } else if (id % 2 == 0) {
            val w = L % 8 + 1
            val h = L % 6 + 1
            val raster = Array.tabulate(3 * w * h)(i => t((i % L)).toByte)
            val defl = deflateBytes(raster)
            if (hexed)
              PdfImage(w, h, gray = false,
                " /Filter [/ASCIIHexDecode /FlateDecode]", asciiHexEncode(defl))
            else PdfImage(w, h, gray = false, " /Filter /FlateDecode", defl)
          } else {
            val tw = L % 3 + 1
            val th = L % 2 + 1
            val vals = Array.tabulate(tw * th)(i => t(i % L).toByte)
            val w = 8 * tw
            val gray = Array.tabulate(w * 8 * th) { k =>
              vals(((k / w) / 8) * tw + (k % w) / 8)
            }
            val jpg = graft.operators.JpegCodec.encodeJpegGray(gray, w, 8 * th)
            if (hexed)
              PdfImage(w, 8 * th, gray = true,
                " /Filter [/ASCIIHexDecode /DCTDecode]", asciiHexEncode(jpg))
            else PdfImage(w, 8 * th, gray = true, " /Filter /DCTDecode", jpg)
          }
        (id, "doc", "pdf",
          buildPdfWithImage(s"Doc $id|", t, modes((id % 6).toInt), img))
      }
      .toDF("media_id", "kind", "format", "data")
  }

  /** Documents -> PDFs each embedding one CCITTFaxDecode image
    * XObject (r20, the scanned-PDF shape): a (L%40+12) x (L%20+6)
    * bilevel page (black iff odd codepoint, the toTiffG4 raster
    * rule), fax-coded by doc_id%4 — 0: G4 (/K -1), 1: 1D unaligned
    * (/K 0), 2: 1D byte-aligned (/K 0 /EncodedByteAlign true),
    * 3: EOL-framed 2D (/K 2 /EndOfLine true) — content-stream mode
    * rotating doc_id%6 as everywhere. The q264 oracle recomputes the
    * pixel count and the visual byte sum (255 x even-codepoint
    * count) from the text alone.
    */
  def toPdfsCcitt(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val modes = Array("raw", "flate", "hex", "a85flate", "rle", "lzw")
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text").cast("string"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val L = t.length
        val w = L % 40 + 12
        val h = L % 20 + 6
        val bits = Array.tabulate(w * h)(i => (t(i % L).toInt % 2).toByte)
        val (body, parms) = (id % 4) match {
          case 0 => (graft.operators.CcittG4.encode(bits, w, h),
            s"/K -1 /Columns $w /Rows $h")
          case 1 => (graft.operators.CcittG3.encodeMH(bits, w, h, byteAlign = false),
            s"/K 0 /Columns $w /Rows $h")
          case 2 => (graft.operators.CcittG3.encodeMH(bits, w, h),
            s"/K 0 /Columns $w /Rows $h /EncodedByteAlign true")
          case _ => (graft.operators.CcittG3.encodeG3(bits, w, h, twoD = true),
            s"/K 2 /Columns $w /Rows $h /EndOfLine true")
        }
        val img = PdfImage(w, h, gray = true, " /Filter /CCITTFaxDecode",
          body, bpc = 1, extraDict = s" /DecodeParms << $parms >>")
        (id, "doc", "pdf",
          buildPdfWithImage(s"Doc $id|", t, modes((id % 6).toInt), img))
      }
      .toDF("media_id", "kind", "format", "data")
  }

  private def esc(t: String): String =
    t.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  /** One real single-page PDF. Exposed for fixtures/specs. The
    * content stream exercises every in-scope show path: the title as
    * a HEX string literal through `Tj`, the text as a 7-char-chunked
    * `TJ` array, then a fixed `~fin.` suffix split across the `'`
    * (move-and-show) and `"` (spacing-and-show) operators — so the
    * q220/q221 oracles gate all four operators and both literal
    * syntaxes on every document.
    */
  def buildPdf(title: String, text: String, flate: Boolean): Array[Byte] =
    buildPdf(title, text, if (flate) "flate" else "raw")

  private def deflateBytes(raw: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater()
    try {
      defl.setInput(raw); defl.finish()
      val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
      out.toByteArray
    } finally defl.end()
  }

  /** ASCIIHexDecode's inverse — fixture/adapter substrate. */
  private[sources] def asciiHexEncode(raw: Array[Byte]): Array[Byte] =
    (raw.map(b => f"${b & 0xff}%02X").mkString + ">")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  /** ASCII85Decode's inverse (with the `z` zero-group shortcut on) —
    * fixture/adapter substrate.
    */
  private[sources] def ascii85Encode(raw: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(raw.length * 5 / 4 + 8)
    var i = 0
    while (i < raw.length) {
      val rem = math.min(4, raw.length - i)
      var tuple = 0L
      var k = 0
      while (k < 4) {
        tuple = (tuple << 8) | (if (k < rem) raw(i + k) & 0xff else 0)
        k += 1
      }
      if (tuple == 0L && rem == 4) sb.append('z')
      else {
        val cs = new Array[Char](5)
        var t = tuple
        var j = 4
        while (j >= 0) { cs(j) = ('!' + (t % 85)).toChar; t /= 85; j -= 1 }
        sb.appendAll(cs, 0, rem + 1)
      }
      i += 4
    }
    sb.append("~>")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** RunLengthDecode's inverse (literal runs up to 128, repeat runs
    * for 3+ byte repetitions) — fixture/adapter substrate.
    */
  private[sources] def runLengthEncode(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length + raw.length / 128 + 2)
    var i = 0
    while (i < raw.length) {
      // measure the repeat run at i
      var run = 1
      while (i + run < raw.length && raw(i + run) == raw(i) && run < 128) run += 1
      if (run >= 3) {
        out.write(257 - run)
        out.write(raw(i))
        i += run
      } else {
        // literal run until the next 3+ repeat (or 128 cap)
        var lit = run
        while (i + lit < raw.length && lit < 128 && {
          var r2 = 1
          while (i + lit + r2 < raw.length && raw(i + lit + r2) == raw(i + lit) && r2 < 3) r2 += 1
          r2 < 3
        }) lit += 1
        out.write(lit - 1)
        out.write(raw, i, lit)
        i += lit
      }
    }
    out.write(128) // EOD
    out.toByteArray
  }

  /** LZWDecode's inverse (TIFF flavor, EarlyChange 1) —
    * fixture/adapter substrate. The code width is driven by an
    * explicit MIRROR of the decoder's state (`decNext`, the decoder's
    * next table slot at each read, which lags the encoder's dict by
    * one entry and by the no-insert first-code-after-clear rule), so
    * the two sides stay bit-synchronized at every 511/1023/2047
    * boundary and across mid-stream table resets — the exact class of
    * off-by-one the early-change variant is notorious for.
    */
  private[graft] def lzwEncode(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length + 16)
    var acc = 0L
    var nbits = 0
    var width = 9
    var decNext = 258 // decoder's next table slot at the NEXT read
    var firstSinceClear = true
    def syncWidth(): Unit =
      while (width < 12 && decNext >= (1 << width) - 1) width += 1
    def put(code: Int): Unit = {
      acc = (acc << width) | code
      nbits += width
      while (nbits >= 8) {
        out.write(((acc >>> (nbits - 8)) & 0xff).toInt)
        nbits -= 8
      }
    }
    def putData(code: Int): Unit = {
      syncWidth()
      put(code)
      // the decoder inserts an entry while processing every data code
      // except the first after a clear
      if (firstSinceClear) firstSinceClear = false else decNext += 1
    }
    def putClear(): Unit = {
      syncWidth()
      put(256)
      width = 9
      decNext = 258
      firstSinceClear = true
    }
    val dict = scala.collection.mutable.HashMap.empty[Seq[Byte], Int]
    var nextCode = 258
    putClear() // spec: encoders open with a clear
    var w = Vector.empty[Byte]
    def codeOf(s: Seq[Byte]): Int =
      if (s.length == 1) s.head & 0xff else dict(s)
    var i = 0
    while (i < raw.length) {
      val k = raw(i)
      val wk = w :+ k
      if (wk.length == 1 || dict.contains(wk)) w = wk
      else {
        putData(codeOf(w))
        if (nextCode < 4095) {
          dict(wk) = nextCode
          nextCode += 1
        } else {
          putClear()
          dict.clear()
          nextCode = 258
        }
        w = Vector(k)
      }
      i += 1
    }
    if (w.nonEmpty) putData(codeOf(w))
    syncWidth()
    put(257) // EOD
    if (nbits > 0) out.write(((acc << (8 - nbits)) & 0xff).toInt)
    out.toByteArray
  }

  /** Mode-typed builder: `raw`, `flate`, `hex` (ASCIIHexDecode),
    * `a85flate` (`/Filter [/ASCII85Decode /FlateDecode]` — the chain
    * form; encode applies the filters in reverse, decode in array
    * order per spec 7.4), `rle` (RunLengthDecode) or `lzw`
    * (LZWDecode).
    */
  def buildPdf(title: String, text: String, mode: String): Array[Byte] =
    buildPdfImpl(title, text, mode, None)

  /** An image XObject to embed: pre-encoded stream body plus the dict
    * fields the extractor needs. `filter` is the literal dict fragment
    * (e.g. `" /Filter /DCTDecode"` or
    * `" /Filter [/ASCIIHexDecode /FlateDecode]"`), empty for raw.
    */
  final case class PdfImage(
      width: Int, height: Int, gray: Boolean, filter: String,
      body: Array[Byte],
      bpc: Int = 8, // 1 for the CCITT bilevel rasters (r20)
      extraDict: String = "", // e.g. a /DecodeParms fragment
      colorSpace: String = "") // override, e.g. "[/Indexed /DeviceRGB 255 <...>]"

  /** [[buildPdf]] plus one embedded `/Subtype /Image` XObject, painted
    * by the page content (`cm` + `Do` — both non-show operators, so
    * the text channel is untouched). The q231 adapter substrate.
    */
  def buildPdfWithImage(title: String, text: String, mode: String,
      img: PdfImage): Array[Byte] =
    buildPdfImpl(title, text, mode, Some(img))

  /** The standard single-page content stream (hex-Tj title, chunked
    * TJ, the '/" suffix), encoded per `mode`; returns (stream body,
    * /Filter dict fragment). Shared by the classic and modern builders.
    */
  private def encodeContentStream(title: String, text: String, mode: String,
      paint: String): (Array[Byte], String) = {
    val chunks = text.grouped(7).toSeq
    val tj = chunks.map(c => s"(${esc(c)})").mkString(" -40 ")
    val hexTitle = title.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      .map(b => f"${b & 0xff}%02X").mkString
    val content =
      s"BT /F1 12 Tf 72 720 Td <$hexTitle> Tj [$tj] TJ (~fi) ' 0 0 (n.) \" ET$paint"
    val raw = content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    mode match {
      case "raw" => (raw, "")
      case "flate" => (deflateBytes(raw), " /Filter /FlateDecode")
      case "hex" => (asciiHexEncode(raw), " /Filter /ASCIIHexDecode")
      case "a85flate" =>
        (ascii85Encode(deflateBytes(raw)),
          " /Filter [/ASCII85Decode /FlateDecode]")
      case "rle" => (runLengthEncode(raw), " /Filter /RunLengthDecode")
      case "lzw" => (lzwEncode(raw), " /Filter /LZWDecode")
      case other => throw new IllegalArgumentException(s"buildPdf: unknown mode $other")
    }
  }

  /** Composite-font (Type0 / Identity-H) twin of [[buildPdf]]: the
    * SAME shows (title Tj, 7-char TJ chunks, the '/" suffix) but
    * every string is 2-byte GLYPH CODES, decodable only through the
    * font's /ToUnicode CMap — '|' and '~' ride `bfchar` entries
    * (codes 1 and 2), everything else the incrementing `bfrange`
    * <0027><0085> → U+0020 (code = codepoint + 7). The CMap object
    * FOLLOWS the content stream in the file, so extraction must
    * defer content decoding until the object graph is complete.
    * Extracted text must equal the classic build's byte for byte.
    */
  def buildPdfCid(title: String, text: String, flate: Boolean): Array[Byte] = {
    def enc(ch: Char): Int = ch match {
      case '|' => 1
      case '~' => 2
      case c => c + 7
    }
    def cid(str: String): String = str.map(enc).map(v => f"$v%04X").mkString
    val tj = text.grouped(7).map(c => s"<${cid(c)}>").mkString(" -40 ")
    val content = s"BT /F1 12 Tf 72 720 Td <${cid(title)}> Tj [$tj] TJ " +
      s"<${cid("~fi")}> ' 0 0 <${cid("n.")}> \" ET"
    val raw = content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val (body, filter) =
      if (flate) (deflateBytes(raw), " /Filter /FlateDecode") else (raw, "")
    val cmap = ("/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
      "/CMapName /Graft-UCS def\n/CMapType 2 def\n" +
      "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
      "2 beginbfchar\n<0001> <007C>\n<0002> <007E>\nendbfchar\n" +
      "1 beginbfrange\n<0027> <0085> <0020>\nendbfrange\n" +
      "endcmap\nCMap currentdict /CMap defineresource pop\nend end\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

    val out = new java.io.ByteArrayOutputStream(body.length + cmap.length + 1280)
    def w(str: String): Unit =
      out.write(str.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    val offsets = new Array[Int](7)
    def obj(k: Int)(write: => Unit): Unit = { offsets(k) = out.size(); write }
    obj(1)(w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"))
    obj(2)(w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"))
    obj(3)(w("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"))
    obj(4) {
      w(s"4 0 obj\n<< /Length ${body.length}$filter >>\nstream\n")
      out.write(body)
      w("\nendstream\nendobj\n")
    }
    obj(5)(w("5 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /Graft " +
      "/Encoding /Identity-H /ToUnicode 6 0 R >>\nendobj\n"))
    obj(6) {
      w(s"6 0 obj\n<< /Length ${cmap.length} >>\nstream\n")
      out.write(cmap)
      w("\nendstream\nendobj\n")
    }
    val xref = out.size()
    w("xref\n0 7\n0000000000 65535 f \n")
    (1 to 6).foreach(k => w(f"${offsets(k)}%010d 00000 n \n"))
    w(s"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  /** Documents -> composite-font PDFs ([[buildPdfCid]]; even docs raw
    * content streams, odd /FlateDecode) — the q244 adapter. The
    * oracle is q220's ground truth: recovering it proves the CMap
    * parse, the Tf-tracked 2-byte decode, and the deferred-content
    * ordering all compose.
    */
  def toPdfsCid(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text").cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, "doc", "pdf", buildPdfCid(s"Doc $id|", text, flate = id % 2 == 1))
      }
      .toDF("media_id", "kind", "format", "data")
  }

  private def buildPdfImpl(title: String, text: String, mode: String,
      img: Option[PdfImage]): Array[Byte] = {
    val paint =
      if (img.isDefined) " q 96 0 0 96 72 560 cm /Im1 Do Q" else ""
    val (body, filter) = encodeContentStream(title, text, mode, paint)
    val xobj = img.map(_ => " /XObject << /Im1 6 0 R >>").getOrElse("")
    val nObjs = if (img.isDefined) 6 else 5
    val out = new java.io.ByteArrayOutputStream(
      body.length + img.map(_.body.length).getOrElse(0) + 1280)
    def w(str: String): Unit =
      out.write(str.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    val offsets = new Array[Int](nObjs + 1)
    def obj(k: Int)(write: => Unit): Unit = { offsets(k) = out.size(); write }
    obj(1)(w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"))
    obj(2)(w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"))
    obj(3)(w("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      s"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >>$xobj >> >>\nendobj\n"))
    obj(4) {
      w(s"4 0 obj\n<< /Length ${body.length}$filter >>\nstream\n")
      out.write(body)
      w("\nendstream\nendobj\n")
    }
    obj(5)(w("5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n"))
    img.foreach { im =>
      obj(6) {
        val cs =
          if (im.colorSpace.nonEmpty) im.colorSpace
          else if (im.gray) "/DeviceGray" else "/DeviceRGB"
        w(s"6 0 obj\n<< /Type /XObject /Subtype /Image /Width ${im.width} " +
          s"/Height ${im.height} /ColorSpace $cs " +
          s"/BitsPerComponent ${im.bpc}${im.filter}${im.extraDict} " +
          s"/Length ${im.body.length} >>\nstream\n")
        out.write(im.body)
        w("\nendstream\nendobj\n")
      }
    }
    val xref = out.size()
    w(s"xref\n0 ${nObjs + 1}\n0000000000 65535 f \n")
    (1 to nObjs).foreach(k => w(f"${offsets(k)}%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${nObjs + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  /** The MODERN container twin of [[buildPdf]]: identical page content
    * (same mode rotation), but the document structure is what a
    * current writer emits — catalog, page tree, page and font dicts
    * packed in a Flate /ObjStm, and a cross-reference STREAM (/Type
    * /XRef, W [1 4 2], Flate + PNG Up predictor /Predictor 12) instead
    * of a classic xref table + trailer. Extracted TEXT must be
    * identical to the classic build; the structure counters (n_pages,
    * n_objstm_objs, n_xref_compressed) prove the object graph was
    * actually discovered, predictor rows unfiltered and entry types
    * tallied.
    */
  def buildPdfModern(title: String, text: String, mode: String): Array[Byte] = {
    val (body, filter) = encodeContentStream(title, text, mode, paint = "")
    // objects 1,2,3,5 live in the ObjStm (object 6); 4 is the content
    // stream; 7 is the xref stream
    val inner = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
      5 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val offs = inner.scanLeft(0)(_ + _._2.length + 1).init
    val header = inner.zip(offs).map { case ((num, _), off) => s"$num $off" }
      .mkString("", " ", "\n")
    val objStmRaw = (header + inner.map(_._2).mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val objStmBody = deflateBytes(objStmRaw)

    val out = new java.io.ByteArrayOutputStream(body.length + objStmBody.length + 1024)
    def w(str: String): Unit =
      out.write(str.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    w("%PDF-1.5\n")
    val off4 = out.size()
    w(s"4 0 obj\n<< /Length ${body.length}$filter >>\nstream\n")
    out.write(body)
    w("\nendstream\nendobj\n")
    val off6 = out.size()
    w(s"6 0 obj\n<< /Type /ObjStm /N ${inner.length} /First ${header.length} " +
      s"/Filter /FlateDecode /Length ${objStmBody.length} >>\nstream\n")
    out.write(objStmBody)
    w("\nendstream\nendobj\n")
    val off7 = out.size()
    // xref rows, W [1 4 2]: type, offset-or-objstm, gen-or-index
    def row(t: Int, f2: Long, f3: Int): Array[Byte] = Array(
      t.toByte, (f2 >>> 24).toByte, (f2 >>> 16).toByte, (f2 >>> 8).toByte,
      f2.toByte, (f3 >>> 8).toByte, f3.toByte)
    val rows = Array(
      row(0, 0L, 0xffff), // obj 0: free
      row(2, 6L, 0), // obj 1 in ObjStm 6, index 0
      row(2, 6L, 1),
      row(2, 6L, 2), // obj 3 (the page)
      row(1, off4.toLong, 0),
      row(2, 6L, 3), // obj 5 (the font)
      row(1, off6.toLong, 0),
      row(1, off7.toLong, 0))
    // PNG Up predictor over the 7-byte rows (filter byte 2 per row)
    val rowLen = 7
    val pred = new java.io.ByteArrayOutputStream(rows.length * (rowLen + 1))
    var prev = new Array[Byte](rowLen)
    rows.foreach { r =>
      pred.write(2)
      var i = 0
      while (i < rowLen) { pred.write((r(i) - prev(i)) & 0xff); i += 1 }
      prev = r
    }
    val xrefBody = deflateBytes(pred.toByteArray)
    w(s"7 0 obj\n<< /Type /XRef /Size 8 /Root 1 0 R /W [1 4 2] " +
      s"/Index [0 8] /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Columns 7 >> " +
      s"/Length ${xrefBody.length} >>\nstream\n")
    out.write(xrefBody)
    w("\nendstream\nendobj\n")
    w(s"startxref\n$off7\n%%EOF\n")
    out.toByteArray
  }

  // ------------------------------------------------------- Dataset op

  final case class PdfRow(
      media_id: Long, ok: Boolean, err: String, n_streams: Int,
      n_flate: Int, n_raw: Int, n_skipped: Int, n_shows: Int, text: String,
      n_ascii: Int, n_images: Int, n_image_skipped: Int, img_px: Long,
      img_mean_sum: Double, n_objstm: Int, n_objstm_objs: Int, n_pages: Int,
      n_xref_offsets: Int, n_xref_compressed: Int, n_cmaps: Int)

  /** Per-record extraction over the opaque media table — one linear
    * parse per record behind the mapPartitions boundary, error rows
    * for out-of-scope documents (the decodeImages channel). Map-only;
    * partitioning preserved.
    */
  def extractRows(media: Dataset[graft.operators.Media.MediaRecord]): Dataset[PdfRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        extractText(m.data) match {
          case Right(x) =>
            PdfRow(m.media_id, ok = true, "", x.nStreams, x.nFlate, x.nRaw,
              x.nSkipped, x.nShows, x.text, x.nAscii, x.nImages,
              x.nImageSkipped, x.imgPx, x.imgMeanSum, x.nObjStm,
              x.nObjStmObjs, x.nPages, x.nXrefOffsets, x.nXrefCompressed,
              x.nCmaps)
          case Left(e) =>
            PdfRow(m.media_id, ok = false, e, 0, 0, 0, 0, 0, "", 0, 0, 0, 0L,
              0.0, 0, 0, 0, 0, 0, 0)
        }
      }
    }
  }
}

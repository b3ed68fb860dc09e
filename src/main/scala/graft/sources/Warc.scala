package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.bytes.Bytes.{GzipMembers, inflate}

/** Crawl-archive ingestion: dependency-free WARC (ISO 28500) record
  * framing plus an HTML boilerplate-strip text extractor — the first
  * stage a web-scale training corpus build runs, and the training-data
  * analog of the reference's parse-the-raw-archive identity
  * (/root/reference/src/main.rs:286-382 walks OSM XML the same way:
  * find record start, read bounded fields, emit one row per record).
  *
  * Framing discipline: records are walked by `Content-Length`, the
  * only framing the WARC spec guarantees — a record BODY may legally
  * contain the bytes `WARC/1.0\r\n` (a crawled page quoting a WARC
  * file, or this library's own test fixture), so separator-split
  * framing (the `lineSep` trick `FastChangesetParser` uses for XML,
  * where the closing tag cannot appear inside a record) would tear
  * such records apart. The walker is single-pass and per-record O(1):
  * header lines to the blank line, then a length-prescribed body skip.
  *
  * Parallelism shape: one task per archive FILE (binaryFile source),
  * not intra-file splits. That is the production layout — a crawl
  * dump is tens of thousands of ~1 GB archives (and real Common Crawl
  * WARCs are per-record gzip members, unsplittable without an index),
  * so file-count parallelism saturates any cluster while keeping the
  * framing spec-correct. Malformed records become error rows (`ok =
  * false` with a reason), never task failures — the
  * [[graft.operators.ImageCodec]] contract.
  */
object Warc {

  /** One framed record: WARC headers surfaced as typed columns, the
    * HTTP response (when the record carries one) split into status /
    * headers / payload. `payload` is the HTTP body for response
    * records, the raw WARC body otherwise.
    */
  final case class WarcRecord(
      archive: String,
      rec_index: Int,
      ok: Boolean,
      error: String,
      warc_type: String,
      record_id: String,
      target_uri: String,
      content_length: Long,
      http_status: Int,
      http_content_type: String,
      payload: String)

  private val Crlf = "\r\n"

  /** Walk one archive's bytes into records — the Content-Length
    * framing loop. Bytes are decoded per record: headers are ASCII by
    * spec; response payloads decode by their DECLARED charset
    * ([[resolveCharset]] — HTTP header param, then meta-prefix sniff,
    * then UTF-8; the fixture and the q130 adapter are ASCII, where
    * every candidate charset agrees byte-for-byte).
    */
  def parseArchiveBytes(archive: String, data: Array[Byte]): Seq[WarcRecord] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    var pos = 0
    var idx = 0
    def err(reason: String): Unit = {
      out += WarcRecord(archive, idx, ok = false, reason, "", "", "", -1L, -1, "", "")
      idx += 1
      pos = data.length // framing is lost past a malformed head: stop
    }
    // index of the header-terminating blank line (\r\n\r\n) from `from`
    def findBlank(from: Int): Int = {
      var i = from
      while (i + 3 < data.length) {
        if (data(i) == '\r' && data(i + 1) == '\n' &&
          data(i + 2) == '\r' && data(i + 3) == '\n') return i
        i += 1
      }
      -1
    }
    while (pos < data.length) {
      // tolerate inter-record CRLF padding
      while (pos < data.length && (data(pos) == '\r' || data(pos) == '\n')) pos += 1
      if (pos >= data.length) return out.toSeq
      val blank = findBlank(pos)
      if (blank < 0) { err("warc: unterminated header block"); return out.toSeq }
      val head = new String(data, pos, blank - pos, "US-ASCII")
      val lines = head.split(Crlf)
      if (!lines.head.startsWith("WARC/")) {
        err(s"warc: expected version line, got '${lines.head.take(40)}'")
        return out.toSeq
      }
      val headers = lines.tail.flatMap { l =>
        val c = l.indexOf(':')
        if (c < 0) None else Some(l.take(c).trim.toLowerCase -> l.drop(c + 1).trim)
      }.toMap
      headers.get("content-length").flatMap(_.toLongOption) match {
        case None => err("warc: missing Content-Length"); return out.toSeq
        // a negative length parses (toLongOption accepts "-5") but
        // would reach new String(data, start, -5) and KILL the task —
        // the malformed-records-become-error-rows contract forbids that
        case Some(clen) if clen < 0 =>
          err(s"warc: negative Content-Length ($clen)"); return out.toSeq
        case Some(clen) =>
          val bodyStart = blank + 4
          if (bodyStart + clen > data.length) {
            err(s"warc: body truncated (need $clen bytes)"); return out.toSeq
          }
          val isHttp = headers.getOrElse("content-type", "").startsWith("application/http")
          val (status, httpCt, payload) =
            if (isHttp) {
              // split the HTTP envelope at the BYTE level so the
              // payload can decode by its DECLARED charset — real
              // crawls are not all UTF-8, and decoding a legacy page
              // as UTF-8 first would corrupt its bytes before any
              // charset logic could see them
              val bodyEnd = bodyStart + clen.toInt
              var h = bodyStart
              var hEnd = -1
              while (hEnd < 0 && h + 3 < bodyEnd) {
                if (data(h) == '\r' && data(h + 1) == '\n' &&
                  data(h + 2) == '\r' && data(h + 3) == '\n') hEnd = h
                h += 1
              }
              if (hEnd < 0) (-1, "", new String(data, bodyStart, clen.toInt, "UTF-8"))
              else {
                val hLines = new String(data, bodyStart, hEnd - bodyStart, "US-ASCII")
                  .split(Crlf)
                val st = hLines.head.split(' ')
                  .lift(1).flatMap(_.toIntOption).getOrElse(-1)
                val ct = hLines.tail.flatMap { l =>
                  val c = l.indexOf(':')
                  if (c < 0) None
                  else if (l.take(c).trim.equalsIgnoreCase("Content-Type"))
                    Some(l.drop(c + 1).trim)
                  else None
                }.headOption.getOrElse("")
                val pStart = hEnd + 4
                val pLen = bodyEnd - pStart
                (st, ct, new String(data, pStart, pLen,
                  resolveCharset(ct, data, pStart, pLen)))
              }
            } else (-1, "", new String(data, bodyStart, clen.toInt, "UTF-8"))
          out += WarcRecord(archive, idx, ok = true, "",
            headers.getOrElse("warc-type", ""),
            headers.getOrElse("warc-record-id", ""),
            headers.getOrElse("warc-target-uri", ""),
            clen, status, httpCt, payload)
          idx += 1
          pos = bodyStart + clen.toInt
      }
    }
    out.toSeq
  }

  private val CharsetRe =
    java.util.regex.Pattern.compile(
      "charset\\s*=\\s*[\"']?([A-Za-z0-9_.:\\-]+)",
      java.util.regex.Pattern.CASE_INSENSITIVE)

  /** Resolve a response payload's character encoding the way a crawl
    * text-extraction stack does (WHATWG encoding sniffing, abridged):
    * the HTTP `Content-Type` charset parameter wins; failing that, a
    * `charset=` declaration in the first 1024 payload bytes (the HTML
    * `<meta charset>` / http-equiv forms — ASCII-compatible prefix
    * scan, the spec's own bound); failing both, UTF-8.
    * `iso-8859-1` / `latin-1` / `us-ascii` map to windows-1252 (the
    * WHATWG rule: real pages labeled latin-1 use the cp1252
    * superset); unknown or unsupported names degrade to UTF-8 — a
    * mislabeled page must yield replacement characters, never a task
    * failure (the error-row discipline, applied to decoding).
    */
  private[sources] def resolveCharset(
      contentType: String, data: Array[Byte], pStart: Int, pLen: Int):
      java.nio.charset.Charset = {
    def fromHeader = {
      val m = CharsetRe.matcher(contentType)
      if (m.find()) Some(m.group(1)) else None
    }
    def fromMeta = {
      val n = math.min(1024, pLen)
      if (n <= 0) None
      else {
        val prefix = new String(data, pStart, n, "ISO-8859-1")
        val m = CharsetRe.matcher(prefix)
        if (m.find()) Some(m.group(1)) else None
      }
    }
    // BINARY content types (a PDF, an image, a tarball) have no
    // character encoding: decode ISO-8859-1, the byte-PRESERVING
    // charset (codepoint k == byte k), so a downstream binary
    // consumer ([[graft.sources.Pdf.extractText]] via q221's router)
    // recovers the exact payload bytes with getBytes(ISO_8859_1).
    // UTF-8 here would corrupt arbitrary bytes into replacement chars
    // before any consumer could see them.
    val mime = contentType.takeWhile(_ != ';').trim.toLowerCase(java.util.Locale.ROOT)
    val binaryMime = mime == "application/pdf" ||
      mime == "application/octet-stream" || mime == "application/zip" ||
      mime == "application/gzip" || mime.startsWith("image/") ||
      mime.startsWith("audio/") || mime.startsWith("video/")
    if (binaryMime && fromHeader.isEmpty)
      return java.nio.charset.StandardCharsets.ISO_8859_1
    val name = fromHeader.orElse(fromMeta).getOrElse("utf-8")
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "iso-8859-1" | "latin-1" | "latin1" | "us-ascii" | "windows-1252" | "cp1252" =>
        java.nio.charset.Charset.forName("windows-1252")
      case other =>
        try java.nio.charset.Charset.forName(other)
        catch { case _: Exception => java.nio.charset.StandardCharsets.UTF_8 }
    }
  }

  /** Decode a gzip archive of CONCATENATED MEMBERS — the layout real
    * Common Crawl WARCs ship (one gzip member per record, members
    * back-to-back in one `.warc.gz` file), and the crawl analog of the
    * reference's multistream bz2 sniff
    * (/root/reference/src/main.rs:431-433 wraps a MultiBzDecoder the
    * same way: the compression container holds many independent
    * streams; decoding them in sequence yields the plain concatenated
    * bytes). JDK-only: `GZIPInputStream` walks trailing members
    * itself — after each member's trailer it probes for another
    * header and continues, so one read loop drains every member.
    * Decompressing all members restores exactly the uncompressed
    * archive, and [[parseArchiveBytes]]'s Content-Length framing
    * applies unchanged. A corrupt container is a Left, as is one that
    * inflates past [[graft.bytes.Bytes.InflateCap]].
    */
  def gunzipMembers(data: Array[Byte]): Either[String, Array[Byte]] =
    inflate(data, 0, data.length, GzipMembers).left.map(r => s"warc: gzip decode failed: $r")

  /** Compress bytes as ONE gzip member (fixture/adapter side of
    * [[gunzipMembers]] — concatenating these per record reproduces the
    * Common Crawl `.warc.gz` member-per-record layout).
    */
  def gzipMember(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(math.max(64, data.length / 2))
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(data); gz.close()
    bos.toByteArray
  }

  private val GzMagic0 = 0x1F.toByte
  private val GzMagic1 = 0x8B.toByte

  /** One archive's records. Archives whose first two bytes are the
    * gzip magic decode through [[gunzipMembers]] first
    * (sniff-then-decode, the reference's `.bz2` handling); a corrupt or
    * over-cap gzip container becomes ONE error row for the archive —
    * framing inside it is unknowable — never a task failure.
    */
  def parseArchive(archive: String, data: Array[Byte]): Seq[WarcRecord] =
    if (data.length >= 2 && data(0) == GzMagic0 && data(1) == GzMagic1)
      gunzipMembers(data) match {
        case Right(plain) => parseArchiveBytes(archive, plain)
        case Left(e) => Seq(WarcRecord(archive, 0, ok = false, e, "", "", "", -1L, -1, "", ""))
      }
    else parseArchiveBytes(archive, data)

  /** Frame a column of archive bytes into records: one input row per
    * archive, exploded map-side through [[parseArchive]] — no shuffle,
    * per-record O(1) state.
    */
  def parseArchives(archives: DataFrame, nameCol: String, bytesCol: String): DataFrame = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col(nameCol).cast("string").as("a"), col(bytesCol).as("b"))
      .as[(String, Array[Byte])]
      .flatMap { case (a, b) => parseArchive(a, b) }
      .toDF()
  }

  /** Read WARC archives from a path/glob: one task per file (the
    * crawl-dump parallelism shape — see the object doc), records
    * framed by Content-Length within each.
    */
  def readRecords(spark: SparkSession, path: String): DataFrame =
    parseArchives(
      spark.read.format("binaryFile").load(path)
        .select(col("path"), col("content")),
      "path", "content")

  /** Streaming twin of [[readRecords]] — the production crawl-ingest
    * loop: a fetcher drops finished archives into `dir`, the pipeline
    * tails it. File-source checkpointing gives exactly-once framing
    * per archive; `Trigger.AvailableNow` turns the same query into a
    * batch-like catch-up run (the reference's poll-and-reprocess
    * loop, Spark-native). Same parser, same row contract as the batch
    * path — WarcSpec pins stream ≡ batch on the fixture.
    */
  def streamRecords(spark: SparkSession, dir: String): DataFrame = {
    // streaming file sources require the schema up front; binaryFile's
    // is fixed by the format (path, modificationTime, length, content)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    parseArchives(
      spark.readStream.format("binaryFile").schema(schema).load(dir)
        .select(col("path"), col("content")),
      "path", "content")
  }

  /** HTML boilerplate strip → clean text, entirely in codegen'd
    * builtin expressions (no UDF): drop script/style subtrees and
    * comments, replace every remaining tag with a space, decode the
    * common entities, collapse whitespace. Tag strip runs BEFORE
    * entity decode so text content like `&lt;b&gt;` survives as
    * literal `<b>` instead of being re-parsed as markup.
    */
  def htmlText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, from, to) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** MAIN-CONTENT extraction by block link-density — the standard
    * crawl-extraction quality step above [[htmlText]]'s flat strip
    * (the trafilatura/jusText rule: boilerplate nav/footer/sidebar
    * blocks are link-dense, body prose is not). Entirely builtin
    * codegen'd expressions, no UDF:
    *
    *  1. drop script/style subtrees and comments (the htmlText
    *     prologue — a nav inside a commented-out template must not
    *     count);
    *  2. split the page into BLOCKS at block-level tag boundaries
    *     (div/p/h1-h6/li/table rows/nav/footer/header/section/…,
    *     plus the html/head/body/title structure tags so head
    *     content isolates into its own block);
    *  3. per block, two integers: the collapsed visible-text length
    *     and the collapsed ANCHOR-text length (`<a>…</a>` contents,
    *     summed);
    *  4. keep blocks with at least `minTextLen` visible chars whose
    *     link share is at most `maxLinkPct` percent (integer
    *     cross-multiply — no floats, so the oracle is exact);
    *  5. kept block texts join in document order, whitespace
    *     collapsed.
    *
    * Deliberate scope: an `<a>` spanning a block boundary counts
    * only its in-block text (nav markup keeps anchors inside their
    * `<li>`/`<nav>` block in practice), and headings shorter than
    * `minTextLen` drop with the rest of the short-block boilerplate —
    * this is a curation front-end, not a renderer (the markdownText
    * scoping rule). Map-only; q225 hash-gates nav/footer/sidebar
    * drops and both keep/drop sides of each rule, and q136 runs it
    * as the crawl-curation extraction stage.
    */
  def htmlMainText(
      html: Column, minTextLen: Int = 25, maxLinkPct: Int = 33): Column = {
    require(minTextLen >= 0 && maxLinkPct >= 0 && maxLinkPct <= 100,
      s"htmlMainText: bad thresholds ($minTextLen, $maxLinkPct)")
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blocks = split(noComment,
      "(?i)</?(?:html|head|body|title|div|p|h[1-6]|ul|ol|li|dl|dt|dd|" +
        "table|thead|tbody|tr|td|th|nav|footer|header|section|article|" +
        "aside|main|figure|figcaption|blockquote|form|fieldset|pre|br|hr)" +
        "\\b[^>]*>")
    def visText(b: Column): Column = {
      val noTags = regexp_replace(b, "<[^>]+>", " ")
      val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
        .foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, from, to) }
      trim(regexp_replace(ent, "\\s+", " "))
    }
    val scored = transform(blocks, b => struct(
      visText(b).as("t"),
      aggregate(
        regexp_extract_all(b, lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1)),
        lit(0), (acc, a) => acc + length(visText(a))).as("l")))
    val kept = filter(scored, sc =>
      length(sc.getField("t")) >= lit(minTextLen) &&
        sc.getField("l") * lit(100) <= lit(maxLinkPct) * length(sc.getField("t")))
    trim(regexp_replace(
      array_join(transform(kept, sc => sc.getField("t")), " "), "\\s+", " "))
  }

  /** Markdown boilerplate strip → clean text — the [[htmlText]]
    * sibling for the other markup a crawl carries in volume (READMEs,
    * forums, docs sites). Builtin regexp only, and every pattern is
    * RE2-compatible (no backreferences, no lookaround) so the q141
    * DuckDB oracle applies the IDENTICAL chain: fenced code blocks
    * drop (boilerplate, like script/style in HTML), inline code and
    * link/image texts keep their payload, header/quote/list markers
    * and horizontal rules strip, emphasis runs of `*`/`_` strip as
    * marker characters (documented cost: a literal snake_case
    * underscore also strips — acceptable for a quality/dedup
    * front-end, wrong for a renderer, which this is not).
    */
  def markdownText(md: Column): Column = {
    val noFence = regexp_replace(md, "(?s)```.*?```", " ")
    val inlineCode = regexp_replace(noFence, "`([^`]*)`", " $1 ")
    val images = regexp_replace(inlineCode, "!\\[([^\\]]*)\\]\\([^)]*\\)", " $1 ")
    val links = regexp_replace(images, "\\[([^\\]]*)\\]\\([^)]*\\)", " $1 ")
    val hr = regexp_replace(links, "(?m)^\\s*([-*_]\\s*){3,}$", " ")
    val headers = regexp_replace(hr, "(?m)^#{1,6}\\s*", " ")
    val quotes = regexp_replace(headers, "(?m)^\\s*>\\s?", " ")
    val lists = regexp_replace(quotes, "(?m)^\\s*([-*+]|[0-9]+\\.)\\s+", " ")
    val emphasis = regexp_replace(lists, "[*_]+", " ")
    trim(regexp_replace(emphasis, "\\s+", " "))
  }

  /** The document title, or '' when absent — kept separate from
    * [[htmlText]] because curation pipelines weight titles differently
    * from body text.
    */
  def htmlTitle(html: Column): Column =
    coalesce(regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1), lit(""))

  // ------------------------------------------------------------------
  // URL canonicalization — the FIRST dedup a crawl pipeline runs.
  // Recrawl aliases (case-variant hosts, default ports, fragments,
  // tracking params, param order) multiply every page's mass before
  // content ever decodes; exact dedup over the canonical URL removes
  // that mass with a map-only codegen'd rewrite + one groupBy — no
  // content hash, no text extraction. Entirely builtin expressions so
  // the q134 DuckDB oracle re-derives the same canonicalization with
  // SQL regexp/list ops.
  // ------------------------------------------------------------------

  /** Canonical form of a crawl URL: lowercase scheme + host, strip the
    * scheme's default port, drop the fragment, root empty paths at
    * '/', drop `utm_*` tracking params and empty params, sort the
    * surviving query params (param order is transport-insignificant).
    * Deliberately NOT canonicalized: %-escapes and path dot-segments
    * (both can be semantic on real servers — over-canonicalizing
    * merges distinct pages, and a dedup that merges distinct pages is
    * wrong in the unrecoverable direction).
    */
  def urlCanonical(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    val hostport = lower(regexp_extract(url, "^[^:]+://([^/?#]*)", 1))
    val host = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val rest = regexp_extract(url, "^[^:]+://[^/?#]*([^#]*)", 1)
    val path0 = regexp_extract(rest, "^([^?]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val params = filter(split(query, "&"),
      p => (p =!= "").and(not(p.rlike("^utm_"))))
    val qs = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
  }

  /** The URL's host, lowercased, any port stripped — the per-host
    * grouping key (politeness buckets, per-site caps).
    */
  def urlHost(url: Column): Column =
    regexp_replace(lower(regexp_extract(url, "^[^:]+://([^/?#]*)", 1)), ":\\d+$", "")

  /** `<meta>` content for a name/property key — the page-metadata
    * channel (og:*, description, robots) a crawl curator reads before
    * the body: titles/descriptions feed retrieval and dataset cards,
    * `robots` metas gate indexing. Handles BOTH attribute orders
    * (content-first serializers are common), `name=` and `property=`
    * interchangeably, case-insensitive tags. Missing key → empty
    * string (the degradation rule). `key` is a trusted literal
    * (og:title, description, …) — regex-significant characters in it
    * are the caller's bug, documented not escaped.
    */
  def metaContent(html: Column, key: String): Column = {
    val fwd = regexp_extract(html,
      s"""(?i)<meta\\s[^>]*(?:name|property)="$key"[^>]*content="([^"]*)"""", 1)
    val rev = regexp_extract(html,
      s"""(?i)<meta\\s[^>]*content="([^"]*)"[^>]*(?:name|property)="$key"""", 1)
    when(fwd =!= "", fwd).otherwise(rev)
  }

  /** URL path TEMPLATE — the URL with its variable parts masked:
    * long hex runs (≥ 8 chars — content ids, session tokens) become
    * `{h}`, digit runs become `{n}`, query parameter VALUES drop
    * (sorted distinct names survive — the facet structure). Two URLs
    * sharing a template are the same page generator with different
    * ids — the unit crawler-trap detection counts: a host whose
    * per-template URL count explodes (calendar pages, faceted
    * navigation, session-id echoes) is a trap, and its template roster
    * is the dedup/budget key a frontier actually wants (fetch a few
    * per template, not millions). Map-only, codegen'd regexes.
    */
  def urlPathTemplate(url: Column): Column = {
    val path = regexp_extract(url, "^[^:]+://[^/?#]*([^?#]*)", 1)
    val masked = regexp_replace(
      regexp_replace(path, "[0-9a-f]{8,}", "{h}"), "[0-9]+", "{n}")
    val q = regexp_extract(url, "\\?([^#]*)", 1)
    val names = array_sort(array_distinct(transform(
      filter(split(q, "&"), p => p =!= ""),
      p => regexp_extract(p, "^([^=]+)", 1))))
    concat(
      when(path === "", lit("/")).otherwise(masked),
      when(size(names) > 0, concat(lit("?"), array_join(names, "&")))
        .otherwise(lit("")))
  }

  /** Structural template fingerprint — md5 of the page's OPENING-tag
    * sequence (tag names only, attributes and text stripped): two
    * pages sharing it were rendered by the SAME template, whatever
    * their words say. The crawl-curation signal text dedup can't
    * give — template families (forum skins, product-page generators,
    * mirror shells) whose members are lexically distinct but
    * structurally identical; a corpus where one fingerprint covers
    * millions of pages is a generated-site farm. Map-only, one
    * regexp_extract_all, codegen'd.
    */
  def templateFingerprint(html: Column): Column =
    md5(array_join(
      regexp_extract_all(lower(html), lit("<([a-z][a-z0-9]*)"), lit(1)), ">"))

  /** Every anchor href in an HTML page, document order — the edge
    * emitter of the crawl link graph (outlinks feed the frontier and
    * [[graft.operators.LinkGraph]]'s quality ranks). Builtin
    * `regexp_extract_all`, double-quoted hrefs (the form every
    * serializer emits); pair with [[urlCanonical]] before using
    * hrefs as join keys.
    */
  def extractLinks(html: Column): Column =
    regexp_extract_all(html, lit("(?i)<a\\s[^>]*href=\"([^\"]+)\""), lit(1))

  /** Every anchor as (url, text) — [[extractLinks]] plus the anchor's
    * INNER TEXT, the classic off-page quality/relevance signal (what
    * other pages call a page is a cleaner description than the page's
    * own words; the link-graph counterpart of [[htmlText]]). Builtin
    * expressions only: extract whole `<a …>…</a>` elements
    * (non-greedy, so nested anchors never span), then per element the
    * double-quoted href and the tag-stripped, whitespace-collapsed
    * inner text. Array of struct(url, text), document order.
    */
  def extractAnchors(html: Column): Column =
    transform(
      regexp_extract_all(html,
        lit("(?is)<a\\s[^>]*href=\"[^\"]+\"[^>]*>.*?</a>"), lit(0)),
      a => struct(
        regexp_extract(a, "(?i)href=\"([^\"]+)\"", 1).as("url"),
        trim(regexp_replace(regexp_replace(
          regexp_extract(a, "(?is)>(.*)</a>$", 1),
          "<[^>]+>", " "), "\\s+", " ")).as("text")))

  /** Sitemap entries from a sitemap.xml payload — the frontier-seeding
    * counterpart of [[Robots]] (robots.txt says what MAY be fetched, the
    * sitemap says what the site WANTS fetched, with freshness and
    * priority hints). Array of struct(loc, lastmod, priority_ppm),
    * document order, builtin regexp only: `<url>` blocks extracted
    * non-greedily, per block the `<loc>`, optional `<lastmod>` (empty
    * string when absent) and optional `<priority>` (0.0–1.0 in the
    * spec, surfaced as exact ppm BIGINT — default 500000 per the
    * protocol). Sitemap-INDEX files (`<sitemapindex>`) are a recursion
    * the caller drives by re-reading the listed locs; this extracts
    * one document's entries.
    */
  def sitemapEntries(xml: Column): Column =
    transform(
      regexp_extract_all(xml, lit("(?is)<url>.*?</url>"), lit(0)),
      u => {
        // exact decimal-string -> ppm (never through a double: 0.7·10⁶
        // in float64 is 699999.99…, and a truncating cast would ship a
        // wrong ppm): integer part · 10⁶ + fraction right-padded to 6
        val p = regexp_extract(u, "(?is)<priority>\\s*([0-9.]+)\\s*</priority>", 1)
        val ppm = when(p === "", lit(500000L)) // spec default 0.5
          .otherwise(
            coalesce(regexp_extract(p, "^([0-9]+)", 1).cast("long"), lit(0L)) * 1000000L +
              rpad(regexp_extract(p, "\\.([0-9]*)", 1), 6, "0").cast("long"))
        struct(
          regexp_extract(u, "(?is)<loc>\\s*(.*?)\\s*</loc>", 1).as("loc"),
          regexp_extract(u, "(?is)<lastmod>\\s*(.*?)\\s*</lastmod>", 1).as("lastmod"),
          ppm.as("priority_ppm"))
      })

  /** Registered domain by the last-two-labels heuristic
    * ("news.site3.org" -> "site3.org") — the per-SITE key (domain
    * caps, contamination blocklists). A public-suffix-aware version
    * needs the PSL, which is external data; the heuristic is exact
    * for single-label TLDs and documented as such (".co.uk" domains
    * group one label too high).
    */
  def registeredDomain(host: Column): Column =
    regexp_extract(host, "([^.]+\\.[^.]+)$", 1)

  /** Mirror-site detection + canonical election — the cross-domain
    * step AFTER URL-level dedup ([[urlCanonical]] collapses aliases of
    * one URL; this collapses the same CONTENT served from different
    * sites: CDN mirrors, package-archive mirrors, scraped republishers
    * — on a real crawl a top-decile source of residual duplication).
    * Pages group by exact content fingerprint (md5 of the extracted
    * text — in production the stored fingerprint column, computed once
    * at ingest); a group is a mirror cluster when it spans ≥ 2
    * registered domains. Each cluster elects the lexicographically
    * smallest member URL as canonical (deterministic, needs no
    * external signal; callers with a link-rank table can re-elect by
    * joining it) and carries an order-insensitive md5 membership
    * fingerprint so a gate pins the full member set, not just counts.
    *
    * Shape: ONE map-side-combined groupBy on the fingerprint — the
    * same shuffle exact dedup already pays; no joins, no window. At
    * 100 TB the fingerprint groupBy is the q27 plan verbatim; clusters
    * are tiny (mirror counts, not corpus counts), so the aggregate
    * state per key stays bounded in practice and a pathological
    * single-fingerprint flood is exactly an AQE skew-split case.
    *
    * Returns (fingerprint, n_urls, n_domains, canonical_url,
    * members_fp) for clusters with n_domains ≥ 2.
    */
  def mirrorClusters(pages: DataFrame, urlCol: String, textCol: String): DataFrame =
    pages
      .select(col(urlCol).as("url"), md5(col(textCol)).as("fingerprint"))
      // null text = failed extraction, not shared content: without
      // this, every error page corpus-wide would coalesce into one
      // giant pseudo-mirror under the null fingerprint
      .filter(col("fingerprint").isNotNull)
      .withColumn("domain", registeredDomain(urlHost(col("url"))))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("domain")).as("n_domains"),
        min(col("url")).as("canonical_url"),
        md5(array_join(array_sort(collect_list(col("url"))), "|")).as("members_fp"))
      .filter(col("n_domains") >= 2)

  /** PSL-aware registered domain — [[registeredDomain]] with a
    * public-suffix table (the heuristic groups ".co.uk" one label too
    * high; on a real crawl that merges every UK/JP/AU site into one
    * pseudo-domain, and the domain caps / condensation keyed on it
    * inherit the error). The PSL is public data but EXTERNAL — it
    * arrives as a DataFrame (one column of rules in the published
    * format: "com", "co.uk", wildcard "*.kawasaki.jp", exception
    * "!city.kawasaki.jp"; comment lines "//" and blanks are filtered
    * here), the heuristic stays the no-data default.
    *
    * Shape: entirely declarative, NO shuffle on the corpus side — the
    * rule table (≈10k rows) aggregates per key, then ONE broadcast
    * hash left-join per key depth (≤ `maxKeyDepth`, default 5) probes
    * the host's last-i-labels candidate; the winner is a static
    * coalesce in exception-first, longest-suffix order (the published
    * PSL algorithm). Each rule becomes (key, Δ): exact rule → its own
    * labels, registered domain = key depth+1; wildcard → its PARENT
    * labels (the wildcard label is unconstrained, so a parent match IS
    * the wildcard match), rd = depth+2; exception → its labels, rd =
    * the key itself. When two kinds share a key the DEEPER public
    * suffix wins (max Δ), matching longest-match.
    *
    * Totality: strict PSL gives hosts that are THEMSELVES public
    * suffixes no registered domain; a grouping key must be total, so
    * such hosts resolve through the next-shallower rule or the
    * heuristic (documented tail-of-host behavior) instead of null.
    */
  def registeredDomainPsl(
      df: DataFrame,
      hostCol: String,
      outCol: String,
      psl: DataFrame,
      maxKeyDepth: Int = 5): DataFrame = {
    val ruleCol = psl.columns.head
    val keyed = psl.select(trim(col(ruleCol)).as("rule"))
      .where(col("rule") =!= "" && !col("rule").startsWith("//"))
      .select(
        when(col("rule").startsWith("!"), lit("exc"))
          .when(col("rule").startsWith("*."), lit("wild"))
          .otherwise(lit("exact")).as("kind"),
        lower(when(col("rule").startsWith("!"), expr("substring(rule, 2)"))
          .when(col("rule").startsWith("*."), expr("substring(rule, 3)"))
          .otherwise(col("rule"))).as("key"))
      .groupBy(col("key")).agg(
        max(when(col("kind") === "exc", 1).otherwise(0)).as("has_exc"),
        max(when(col("kind") === "wild", 2)
          .when(col("kind") === "exact", 1)).as("delta"))
    val labels = "_psl_labels"
    val n = "_psl_n"
    val depths = 1 to maxKeyDepth
    var out = df
      .withColumn(labels, split(col(hostCol), "\\."))
      .withColumn(n, size(col(labels)))
    depths.foreach { i =>
      val cand = when(col(n) >= i, array_join(slice(col(labels), -i, i), "."))
      out = out.join(
        broadcast(keyed.select(col("key").as(s"_psl_k$i"),
          col("has_exc").as(s"_psl_e$i"), col("delta").as(s"_psl_d$i"))),
        cand === col(s"_psl_k$i"), "left")
    }
    def lastLabels(depth: Column): Column =
      array_join(slice(col(labels), depth * -1, depth), ".")
    // exception rules first (the PSL precedence), then rule matches
    // deepest key first — a depth-i key's public suffix is never
    // shallower than a depth-(i−1) key's, and equal depths produce the
    // identical string, so static desc order IS longest-match
    val excRd = depths.reverse.map { i =>
      when(col(s"_psl_e$i") === 1, lastLabels(lit(i)))
    }
    val ruleRd = depths.reverse.map { i =>
      when(col(s"_psl_d$i").isNotNull && col(n) >= col(s"_psl_d$i") + lit(i),
        lastLabels(col(s"_psl_d$i") + lit(i)))
    }
    val temp = Seq(labels, n) ++
      depths.flatMap(i => Seq(s"_psl_k$i", s"_psl_e$i", s"_psl_d$i"))
    out.withColumn(outCol,
        coalesce(excRd ++ ruleRd :+ registeredDomain(col(hostCol)): _*))
      .drop(temp: _*)
  }

  // ------------------------------------------------------------------
  // Deterministic documents -> WARC adapter (the Media.toPpm
  // discipline): build REAL archives from the documents table so the
  // framing walker and the HTML stripper are hash-gated end-to-end by
  // a DuckDB oracle that rebuilds the same strings. The generated
  // page embeds the literal 'WARC/1.0' line inside a <script> block —
  // separator-split framing would tear every record at that point, so
  // the oracle passing proves Content-Length framing.
  // ------------------------------------------------------------------

  /** The page template, as a Column so Spark and the SQL oracle can
    * build character-identical bytes (all-ASCII corpus: char length
    * == byte length).
    */
  private def pageHtml(docId: Column, text: Column, lang: Column, source: Column): Column =
    concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), docId, lit("</title>"),
      lit("<script type=\"text/javascript\">\nWARC/1.0\nvar x = 1;</script>"),
      lit("<style>body { color: #000; }</style></head><body>\n  <h1>Doc "),
      docId, lit(" &amp; friends</h1>\n  <!-- nav boilerplate -->\n  <p>"),
      text, lit("</p>\n  <div>lang: "), lang, lit(" &lt;"), source,
      lit("&gt;</div>\n</body></html>"))

  /** One full WARC response record (version line, headers, HTTP
    * response, trailing blank lines) per document.
    */
  private def record(docId: Column, html: Column): Column = {
    val http = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "),
      length(html), lit("\r\n\r\n"), html)
    concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:graft:"),
      docId, lit(">\r\nWARC-Target-URI: urn:doc:"), docId,
      lit("\r\nContent-Type: application/http; msgtype=response\r\nContent-Length: "),
      length(http), lit("\r\n\r\n"), http, lit("\r\n\r\n"))
  }

  /** documents -> (archive_id, bytes): docs grouped `doc_id % nArchives`,
    * records concatenated in doc_id order within an archive — a real
    * multi-record archive per group, built map-side + one grouped
    * concat (archive size is bounded by the group's docs; at corpus
    * scale the grouping key is a path prefix, not a modulus).
    */
  def toWarcArchives(docs: DataFrame, nArchives: Int = 7): DataFrame =
    docs.select(
      (col("doc_id") % nArchives).as("archive_id"),
      col("doc_id"),
      record(col("doc_id"),
        pageHtml(col("doc_id"), col("text"), col("lang"), col("source"))).as("rec"))
      .groupBy(col("archive_id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("doc_id"), col("rec")))),
        e => e.getField("rec")), "").as("archive"))
      .select(col("archive_id"), encode(col("archive"), "UTF-8").as("bytes"))

  /** The `.warc.gz` twin of [[toWarcArchives]]: each record compressed
    * as its OWN gzip member, members concatenated in doc_id order —
    * byte-faithful to the Common Crawl layout (member-per-record is
    * what makes real archives seekable via an offset index; here it
    * exercises [[gunzipMembers]]' multi-member walk, not just a
    * whole-file inflate). Same grouping, same record strings; q142
    * hash-gates decode ≡ plain against the q130 oracle.
    */
  def toWarcArchivesGz(docs: DataFrame, nArchives: Int = 7): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      (col("doc_id") % nArchives).as("archive_id"),
      col("doc_id"),
      record(col("doc_id"),
        pageHtml(col("doc_id"), col("text"), col("lang"), col("source"))).as("rec"))
      .select(col("archive_id"), col("doc_id"), col("rec"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (aid, rows) =>
        val members = rows.toSeq.sortBy(_._2)
          .map(r => gzipMember(r._3.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        val out = new java.io.ByteArrayOutputStream(members.map(_.length).sum)
        members.foreach(out.write)
        (aid, out.toByteArray)
      }
      .toDF("archive_id", "bytes")
  }

  /** Mixed-CONTENT archives — the shape a real crawl segment has
    * (one WARC carries html next to PDFs next to images, never one
    * type): even doc_id gets the q130 html response record, odd
    * doc_id a REAL PDF payload ([[graft.sources.Pdf.buildPdf]];
    * doc_id % 4 == 3 additionally /FlateDecode — genuinely BINARY
    * bytes, which is what forces the byte-preserving decode rule in
    * [[resolveCharset]]) behind `Content-Type: application/pdf`.
    * Assembly is byte-level (records are no longer strings); same
    * grouping and doc_id ordering as [[toWarcArchives]]. q221
    * hash-gates the type-routed extraction over these.
    */
  def toWarcArchivesMixed(docs: DataFrame, nArchives: Int = 7): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val html = docs.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") % nArchives).as("aid"), col("doc_id"),
        encode(record(col("doc_id"),
          pageHtml(col("doc_id"), col("text"), col("lang"), col("source"))),
          "UTF-8").as("rec"))
      .as[(Long, Long, Array[Byte])]
    val pdf = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") % nArchives).as("aid"), col("doc_id"),
        col("text").cast("string"))
      .as[(Long, Long, String)]
      .map { case (aid, id, text) =>
        (aid, id, pdfRecord(id, graft.sources.Pdf.buildPdf(
          s"Doc $id|", Option(text).getOrElse(""), flate = id % 4 == 3)))
      }
    html.union(pdf)
      .groupByKey(_._1)
      .mapGroups { (aid, rows) =>
        val rs = rows.toSeq.sortBy(_._2).map(_._3)
        val out = new java.io.ByteArrayOutputStream(rs.map(_.length).sum + 4)
        rs.foreach(out.write)
        (aid, out.toByteArray)
      }
      .toDF("archive_id", "bytes")
  }

  /** One WARC response record framing a binary PDF payload. */
  private def pdfRecord(docId: Long, pdf: Array[Byte]): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val httpHead =
      (s"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n" +
        s"Content-Length: ${pdf.length}\r\n\r\n").getBytes(ascii)
    val httpLen = httpHead.length + pdf.length
    val warcHead =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:graft:$docId>\r\n" +
        s"WARC-Target-URI: urn:doc:$docId\r\n" +
        s"Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: $httpLen\r\n\r\n").getBytes(ascii)
    val out = new java.io.ByteArrayOutputStream(warcHead.length + httpLen + 4)
    out.write(warcHead)
    out.write(httpHead)
    out.write(pdf)
    out.write("\r\n\r\n".getBytes(ascii))
    out.toByteArray
  }
}

package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** WARC framing + HTML extraction (sources.Warc — oracle-gated
  * end-to-end by q130). The committed fixture at
  * test/resources/graft/fixtures/sample.warc is hand-built: five
  * records (warcinfo, request, response, resource, 404 response)
  * whose fields the tests assert literally — a differential against a
  * hand parse. The load-bearing case: record 2's HTML body embeds a
  * literal `WARC/1.0\r\n` line, which Content-Length framing must keep
  * INSIDE the record (separator framing would split there and produce
  * a corrupt sixth record).
  */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def fixture: String =
    getClass.getResource("/graft/fixtures/sample.warc").getPath

  private def rows =
    Warc.readRecords(spark, fixture)
      .orderBy(col("rec_index"))
      .collect()

  test("fixture frames into exactly the five hand-parsed records") {
    val r = rows
    assert(r.length === 5, s"got ${r.length} records: ${r.mkString("\n")}")
    assert(r.forall(_.getAs[Boolean]("ok")))
    assert(r.map(_.getAs[String]("warc_type")).toSeq ===
      Seq("warcinfo", "request", "response", "resource", "response"))
    assert(r.map(_.getAs[String]("record_id")).toSeq ===
      (0 to 4).map(i => s"<urn:fix:$i>"))
    assert(r.map(_.getAs[String]("target_uri")).toSeq ===
      Seq("", "urn:fix:page-one", "urn:fix:page-one", "urn:fix:notes", "urn:fix:missing"))
  }

  test("a body containing the literal WARC/1.0 marker stays one record (Content-Length framing)") {
    val resp = rows(2)
    assert(resp.getAs[String]("payload").contains("WARC/1.0\r\nWARC-Type: response"),
      "the embedded marker must survive inside the record body")
    assert(resp.getAs[Long]("content_length") === 244L) // hand-computed HTTP envelope size
    assert(resp.getAs[Int]("http_status") === 200)
    assert(resp.getAs[String]("http_content_type") === "text/html; charset=utf-8")
  }

  test("HTTP envelope is split only for application/http records") {
    val r = rows
    assert(r(1).getAs[Int]("http_status") === -1,
      "a request record carries no response status")
    assert(r(3).getAs[Int]("http_status") === -1)
    assert(r(3).getAs[String]("payload") === "just some bytes, no envelope")
    assert(r(4).getAs[Int]("http_status") === 404)
    assert(r(4).getAs[Long]("content_length") === 94L)
  }

  test("htmlText strips script/style/comments and tags, decodes entities, keeps quoted markup") {
    val got = Seq(rows(2).getAs[String]("payload")).toDF("h")
      .select(Warc.htmlText(col("h")).as("t")).head.getString(0)
    // style and script content gone; the <pre> body (including the
    // quoted WARC header line) survives as TEXT with tags stripped
    assert(got === "Page One alpha & beta WARC/1.0 WARC-Type: response gamma")

    val tricky = Seq(
      "<p>a &lt;b&gt; c</p>",             // entity-encoded markup stays literal text
      "<div>x&nbsp;&amp;&#39;y&quot;</div>",
      "<script>drop()</script>keep<style>p{}</style>",
      "  lots \n of\t space  ").toDF("h")
      .select(Warc.htmlText(col("h")).as("t")).collect().map(_.getString(0)).toSeq
    assert(tricky === Seq("a <b> c", "x &'y\"", "keep", "lots of space"))
  }

  test("htmlMainText: link-dense and short blocks drop, mixed and prose blocks survive") {
    def main(h: String, minLen: Int = 25, pct: Int = 33): String =
      Seq(h).toDF("h")
        .select(Warc.htmlMainText(col("h"), minLen, pct).as("t"))
        .head.getString(0)

    val page =
      "<html><head><title>Short</title><script>var nav='<footer>';</script></head><body>" +
        "<nav><ul><li><a href='/'>Home</a></li><li><a href='/a'>About us</a></li></ul></nav>" +
        "<h1>Tiny heading</h1>" +
        "<div><a href='/t'>tag one</a> related reading picked for you today</div>" +
        "<p>the quick brown fox jumps over the lazy dog repeatedly</p>" +
        "<footer><a href='/p'>Privacy</a> | <a href='/t'>Terms</a> | <a href='/c'>Contact us</a></footer>" +
        "</body></html>"
    // nav links (pure-link AND short), title/h1 (short), footer (28
    // visible chars, 22 of them link text -> 78% > 33%) all drop; the
    // sidebar (7 of 44 link chars = 15%) and body prose survive
    assert(main(page) ===
      "tag one related reading picked for you today " +
        "the quick brown fox jumps over the lazy dog repeatedly")

    // threshold boundaries are integer-exact: 26 visible chars carry
    // 8 link chars at 800 <= 33*26 = 858 (kept); 9 at 900 > 858 drops
    assert(main(s"<p><a href='/'>${"a" * 8}</a> ${"b" * 17}</p>") ===
      "a" * 8 + " " + "b" * 17)
    assert(main(s"<p><a href='/'>${"a" * 9}</a> ${"b" * 16}</p>") === "")
    // the length floor is >= minLen on the collapsed visible text
    assert(main("<p>" + "x" * 24 + "</p>") === "")
    assert(main("<p>" + "x" * 25 + "</p>") === "x" * 25)

    // an anchor's text counts only inside its own block, and a nav
    // inside a comment or script must not resurrect
    assert(main("<!-- <p>ghost content that would otherwise survive</p> -->") === "")
  }

  test("truncated body becomes an error row, not a task failure") {
    val bad = ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\nshort"
      ).getBytes("UTF-8")
    val r = Warc.parseArchives(
      Seq(("bad", bad)).toDF("name", "bytes"), "name", "bytes").collect()
    assert(r.length === 1)
    assert(!r(0).getAs[Boolean]("ok"))
    assert(r(0).getAs[String]("error").contains("truncated"))
  }

  test("negative Content-Length becomes an error row, not a task failure") {
    // "-5".toLongOption parses — without the guard this reaches
    // new String(data, start, -5) and kills the task
    val bad = ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -5\r\n\r\nbody"
      ).getBytes("UTF-8")
    val r = Warc.parseArchives(
      Seq(("bad", bad)).toDF("name", "bytes"), "name", "bytes").collect()
    assert(r.length === 1)
    assert(!r(0).getAs[Boolean]("ok"))
    assert(r(0).getAs[String]("error").contains("negative Content-Length"))
  }

  test("a valid prefix is preserved when a later record is malformed") {
    val good = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixture)), "UTF-8")
    val bytes = (good + "WARC/1.0\r\nno-length-header\r\n\r\n").getBytes("UTF-8")
    val r = Warc.parseArchives(
        Seq(("mix", bytes)).toDF("name", "bytes"), "name", "bytes")
      .orderBy(col("rec_index")).collect()
    assert(r.length === 6)
    assert(r.take(5).forall(_.getAs[Boolean]("ok")))
    assert(!r(5).getAs[Boolean]("ok"))
  }

  test("documents -> archives -> records roundtrip is the identity on every field") {
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "srcA"),
      (2L, "one two", "de", "srcB"),
      (9L, "lone doc", "fr", "srcC")
    ).toDF("doc_id", "text", "lang", "source")
    val recs = Warc.parseArchives(Warc.toWarcArchives(docs, nArchives = 2),
        "archive_id", "bytes")
      .filter(col("ok"))
    assert(recs.count() === 3)
    val got = recs
      .select(
        regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long").as("doc_id"),
        col("http_status"),
        Warc.htmlTitle(col("payload")).as("title"),
        Warc.htmlText(col("payload")).as("text"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3))).toSeq
    assert(got === Seq(
      (1L, 200, "Doc 1", "Doc 1 Doc 1 & friends alpha beta gamma lang: en <srcA>"),
      (2L, 200, "Doc 2", "Doc 2 Doc 2 & friends one two lang: de <srcB>"),
      (9L, 200, "Doc 9", "Doc 9 Doc 9 & friends lone doc lang: fr <srcC>")))
  }

  test("non-ASCII documents keep their framing: every record of both archive forms comes back") {
    val rnd = new scala.util.Random(11)
    val words = Seq("alpha", "é", "日本語", "café", "naïve", "beta", "Ω", "straße")
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" "),
        "xx", s"src$i")
    }.toDF("doc_id", "text", "lang", "source")
    def texts(archives: org.apache.spark.sql.DataFrame) =
      Warc.parseArchives(archives, "archive_id", "bytes")
        .select(col("ok"), regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long"),
          Warc.htmlText(col("payload")))
        .collect().map(r => (r.getBoolean(0), r.getLong(1), r.getString(2))).sortBy(_._2).toSeq
    val want = docs.collect().map(r => (true, r.getLong(0),
      s"Doc ${r.getLong(0)} Doc ${r.getLong(0)} & friends ${r.getString(1)} lang: xx <${r.getString(3)}>"))
      .toSeq
    assert(texts(Warc.toWarcArchives(docs, nArchives = 3)) === want)
    assert(texts(Warc.toWarcArchivesGz(docs, nArchives = 3)) === want)
  }

  test(".warc.gz frames to the same rows as its uncompressed twin (multi-member walk)") {
    val plain = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixture))
    // two members split at an ARBITRARY byte offset (not a record
    // boundary): members are a compression container, decode must
    // concatenate them before framing — a per-member framing attempt
    // would tear the record straddling the split
    val cut = plain.length / 2
    val gz = Warc.gzipMember(plain.take(cut)) ++ Warc.gzipMember(plain.drop(cut))
    val dir = tmpDir("warc-gz")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "fixture.warc.gz"), gz)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("rec_index", "ok", "error", "warc_type", "record_id",
          "target_uri", "content_length", "http_status", "http_content_type", "payload")
        .orderBy(col("rec_index")).collect().map(_.toSeq).toSeq
    assert(canon(Warc.readRecords(spark, s"$dir/fixture.warc.gz"))
      === canon(Warc.readRecords(spark, fixture)))
  }

  test("toWarcArchivesGz ≡ toWarcArchives through the parser (member-per-record layout)") {
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "srcA"),
      (2L, "one two", "de", "srcB"),
      (9L, "lone doc", "fr", "srcC")
    ).toDF("doc_id", "text", "lang", "source")
    def canon(archives: org.apache.spark.sql.DataFrame) =
      Warc.parseArchives(archives, "archive_id", "bytes")
        .select("ok", "warc_type", "record_id", "target_uri",
          "content_length", "http_status", "payload")
        .orderBy(col("record_id")).collect().map(_.toSeq).toSeq
    val gz = canon(Warc.toWarcArchivesGz(docs, nArchives = 2))
    assert(gz === canon(Warc.toWarcArchives(docs, nArchives = 2)))
    assert(gz.length === 3)
  }

  test("corrupt gzip container becomes one error row, not a task failure") {
    val bad = Array[Byte](0x1F.toByte, 0x8B.toByte, 0x08, 0x00, 0x42, 0x42, 0x42)
    val r = Warc.parseArchives(
      Seq(("bad.warc.gz", bad)).toDF("name", "bytes"), "name", "bytes").collect()
    assert(r.length === 1)
    assert(!r(0).getAs[Boolean]("ok"))
    assert(r(0).getAs[String]("error").contains("gzip"))
  }

  test("urlCanonical: recrawl aliases collapse, distinct pages never merge") {
    def canon(urls: String*): Seq[String] =
      urls.toDF("url").select(Warc.urlCanonical(col("url"))).collect()
        .map(_.getString(0)).toSeq
    // each alias group canonicalizes to one form
    assert(canon(
      "https://www.Site3.org/p/9?a=1&b=2",
      "HTTPS://WWW.SITE3.ORG:443/p/9?b=2&utm_source=x&a=1#frag",
      "https://www.site3.org:443/p/9?utm_campaign=y&a=1&b=2#x"
    ).distinct === Seq("https://www.site3.org/p/9?a=1&b=2"))
    // scheme-correct default-port strip: :80 only for http, :443 only
    // for https; a NON-default port survives
    assert(canon("http://a.org:80/x", "http://a.org:443/x", "https://a.org:8443/")
      === Seq("http://a.org/x", "http://a.org:443/x", "https://a.org:8443/"))
    // empty path roots at '/', all-utm query drops the '?' entirely
    assert(canon("https://a.org", "https://a.org/x?utm_source=f")
      === Seq("https://a.org/", "https://a.org/x"))
    // NOT over-canonicalized: %-escapes, dot-segments, case-variant
    // paths and differing params stay distinct pages
    assert(canon("https://a.org/x%2Fy", "https://a.org/x/y", "https://a.org/X",
      "https://a.org/x", "https://a.org/x?a=1", "https://a.org/x?a=2").distinct.size === 6)
  }

  test("streamRecords ≡ readRecords: the tailing ingest loop frames identically") {
    // stage the fixture as a drop directory, drain with AvailableNow
    val dropDir = tmpDir("warc-drop")
    val chk = tmpDir("warc-chk")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(fixture),
      java.nio.file.Paths.get(dropDir, "batch-0.warc"))
    val q = Warc.streamRecords(spark, dropDir)
      .writeStream.format("memory").queryName("warc_stream_out")
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("rec_index", "ok", "error", "warc_type", "record_id",
          "target_uri", "content_length", "http_status", "http_content_type", "payload")
        .orderBy(col("rec_index"))
        .collect().map(_.toSeq).toSeq
    val streamed = canon(spark.table("warc_stream_out"))
    val batch = canon(Warc.readRecords(spark, fixture))
    assert(streamed === batch)
    assert(streamed.length === 5)
  }

  test("markdownText: every strip rule, hand-asserted") {
    def strip(md: String): String =
      Seq(md).toDF("m").select(Warc.markdownText(col("m"))).head().getString(0)
    assert(strip("# Title\n\nbody **bold** _em_ text") === "Title body bold em text")
    assert(strip("pre\n```\nfenced WARC/1.0 code\n```\npost") === "pre post")
    assert(strip("see [the docs](https://x.org/d) and ![alt text](i.png)")
      === "see the docs and alt text")
    assert(strip("> quoted\n- one\n- two\n3. three") === "quoted one two three")
    assert(strip("above\n---\nbelow") === "above below")
    assert(strip("`inline code` kept") === "inline code kept")
    // the documented emphasis-strip cost: literal underscores strip too
    assert(strip("snake_case word") === "snake case word")
  }

  test("registeredDomainPsl: exact, wildcard, and exception rules over a mini PSL") {
    // a representative slice of the published list: multi-label exact
    // suffixes (.co.uk), a wildcard family (*.kawasaki.jp) with its
    // exception (!city.kawasaki.jp), comments and blanks to filter
    val psl = Seq("// ICANN section", "", "com", "uk", "co.uk",
      "jp", "*.kawasaki.jp", "!city.kawasaki.jp").toDF("suffix")
    val hosts = Seq(
      "example.com",          // plain exact TLD
      "news.site3.co.uk",     // the heuristic's known failure class
      "a.b.site.co.uk",       // deep host under a 2-label suffix
      "city.kawasaki.jp",     // exception rule: rd = the exception itself
      "x.city.kawasaki.jp",   // exception still prevails for sub-hosts
      "x.foo.kawasaki.jp",    // wildcard: pub suffix foo.kawasaki.jp
      "site.weirdtld",        // unlisted TLD -> PSL default rule ≡ heuristic
      "sub.pages.site9.com"   // exact TLD, deep host
    ).toDF("host")
    val got = Warc.registeredDomainPsl(hosts, "host", "rd", psl)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map(
      "example.com" -> "example.com",
      "news.site3.co.uk" -> "site3.co.uk",
      "a.b.site.co.uk" -> "site.co.uk",
      "city.kawasaki.jp" -> "city.kawasaki.jp",
      "x.city.kawasaki.jp" -> "city.kawasaki.jp",
      "x.foo.kawasaki.jp" -> "x.foo.kawasaki.jp",
      "site.weirdtld" -> "site.weirdtld",
      "sub.pages.site9.com" -> "site9.com"))
    // heuristic-vs-PSL differential on the failure class: the default
    // groups one label too high, the PSL version does not
    val heur = hosts.select(col("host"),
        Warc.registeredDomain(col("host")).as("rd"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(heur("news.site3.co.uk") === "co.uk") // the documented error
    assert(got("news.site3.co.uk") === "site3.co.uk") // closed with the PSL
  }

  test("registeredDomainPsl stays broadcast-joined — no shuffle on the corpus side") {
    val psl = Seq("com", "co.uk").toDF("suffix")
    val hosts = Seq("a.example.com", "b.site.co.uk").toDF("host")
    val plan = Warc.registeredDomainPsl(hosts, "host", "rd", psl)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("sitemapEntries: field extraction, spec defaults, and EXACT decimal-to-ppm priority") {
    val xml =
      """<?xml version="1.0"?><urlset>
        |<url><loc> https://a.org/1 </loc><lastmod> 2024-02-01 </lastmod><priority>0.7</priority></url>
        |<url><loc>https://a.org/2</loc><priority>1</priority></url>
        |<url><loc>https://a.org/3</loc></url>
        |<url><loc>https://a.org/4</loc><priority>0.85</priority></url>
        |</urlset>""".stripMargin
    val got = Seq(xml).toDF("x")
      .select(explode(Warc.sitemapEntries(col("x"))).as("u"))
      .select("u.loc", "u.lastmod", "u.priority_ppm")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq(
      // 0.7 is the float trap: 0.7·10⁶ in double is 699999.99…, a
      // truncating cast ships 699999 — the string parse must give 700000
      ("https://a.org/1", "2024-02-01", 700000L),
      ("https://a.org/2", "", 1000000L),   // integer "1" -> full ppm
      ("https://a.org/3", "", 500000L),    // absent -> spec default 0.5
      ("https://a.org/4", "", 850000L)))
    // a sitemap INDEX carries <sitemap> children, not <url> — zero
    // entries, never a crash (callers recurse through the listed locs)
    val index = "<sitemapindex><sitemap><loc>https://a.org/s1.xml</loc></sitemap></sitemapindex>"
    assert(Seq(index).toDF("x")
      .select(size(Warc.sitemapEntries(col("x")))).head.getInt(0) === 0)
  }

  test("urlHost + registeredDomain: grouping keys for politeness and domain caps") {
    val got = Seq("https://News.Site3.ORG:8443/p/1", "http://example.com/x")
      .toDF("url")
      .select(Warc.urlHost(col("url")).as("h"),
        Warc.registeredDomain(Warc.urlHost(col("url"))).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === Seq(("news.site3.org", "site3.org"), ("example.com", "example.com")))
  }

  test("mirrorClusters: cross-domain clusters only, min-URL election, exact membership") {
    val pages = Seq(
      // same content on two domains (+ a same-domain extra URL)
      ("https://b.org/1", "shared content"),
      ("https://a.org/2", "shared content"),
      ("https://a.org/9", "shared content"),
      // same content, ONE domain (www. strips to the same registered
      // domain) -> not a mirror cluster
      ("https://c.org/1", "single site"),
      ("https://www.c.org/2", "single site"),
      // unique content -> no cluster
      ("https://d.org/1", "lonely")
    ).toDF("url", "text")
    val got = Warc.mirrorClusters(pages, "url", "text").collect()
    assert(got.length === 1)
    val r = got(0)
    assert(r.getAs[Long]("n_urls") === 3L)
    assert(r.getAs[Long]("n_domains") === 2L)
    assert(r.getAs[String]("canonical_url") === "https://a.org/2")
    // membership fingerprint pins the full sorted member set
    val members = Seq("https://a.org/2", "https://a.org/9", "https://b.org/1")
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest(members.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getAs[String]("members_fp") === exp)
  }

  test("charset: payloads decode by declared encoding — header param, meta sniff, UTF-8 default") {
    def record(httpCt: String, bodyBytes: Array[Byte]): Array[Byte] = {
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $httpCt\r\n\r\n").getBytes("US-ASCII")
      val clen = http.length + bodyBytes.length
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"Content-Type: application/http;msgtype=response\r\n" +
        s"Content-Length: $clen\r\n\r\n").getBytes("US-ASCII") ++
        http ++ bodyBytes ++ "\r\n\r\n".getBytes("US-ASCII")
    }
    val eAcute1252 = Array(0xE9.toByte) // 'é' in windows-1252; invalid alone in UTF-8
    val bytes =
      record("text/html; charset=iso-8859-1", "caf".getBytes("US-ASCII") ++ eAcute1252) ++
      record("text/html",
        "<meta charset=\"windows-1252\">caf".getBytes("US-ASCII") ++ eAcute1252) ++
      record("text/html", "caf\u00e9".getBytes("UTF-8")) ++
      record("text/html", "caf".getBytes("US-ASCII") ++ eAcute1252) ++
      record("text/html; charset=klingon-9", "plain ascii".getBytes("US-ASCII"))
    val got = Warc.parseArchiveBytes("a", bytes)
    assert(got.length === 5 && got.forall(_.ok))
    // header-declared latin-1 maps to cp1252 (the WHATWG superset rule)
    assert(got(0).payload === "caf\u00e9")
    // no header param -> the meta-prefix sniff finds it
    assert(got(1).payload.endsWith("caf\u00e9"))
    // undeclared + valid UTF-8 -> decodes as UTF-8
    assert(got(2).payload === "caf\u00e9")
    // undeclared + NOT valid UTF-8 -> replacement char, never a crash
    assert(got(3).payload === "caf\ufffd")
    // unknown charset name degrades to UTF-8
    assert(got(4).payload === "plain ascii")
  }

  test("mirrorClusters: null-text pages (failed extractions) never form a cluster") {
    val pages = Seq(
      ("https://a.org/1", null), ("https://b.org/1", null),
      ("https://c.org/1", "real"), ("https://d.org/1", "real")
    ).toDF("url", "text")
    val got = Warc.mirrorClusters(pages, "url", "text").collect()
    assert(got.length === 1 && got(0).getAs[String]("canonical_url") === "https://c.org/1")
  }

  test("mirrorClusters: one map-side-combined groupBy — no join, no window") {
    val pages = Seq(("https://a.org/1", "t"), ("https://b.org/1", "t"))
      .toDF("url", "text")
    val plan = Warc.mirrorClusters(pages, "url", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  test("metaContent: both attribute orders, name vs property, missing key degrades to ''") {
    val h = "<html><head>" +
      "<META Property=\"og:title\" content=\"A&amp;B\"/>" +
      "<meta content=\"desc here\" name=\"description\"/>" +
      "</head></html>"
    val got = Seq(h).toDF("h").select(
      Warc.metaContent(col("h"), "og:title").as("t"),
      Warc.metaContent(col("h"), "description").as("d"),
      Warc.metaContent(col("h"), "robots").as("r")).collect().head
    assert(got.getString(0) === "A&amp;B") // raw content, no entity decode here
    assert(got.getString(1) === "desc here") // content-first order
    assert(got.getString(2) === "")           // absent key -> empty
  }

  test("urlPathTemplate masks hex ids then digits, sorts param names, roots empty paths") {
    val cases = Seq(
      "https://a.org/p/123?utm_source=x&ref=9" -> "/p/{n}?ref&utm_source",
      "https://a.org/article/00deadbeef42" -> "/article/{h}",
      "https://a.org/y2024/m03/d05" -> "/y{n}/m{n}/d{n}",
      "https://a.org/about" -> "/about",
      "https://a.org" -> "/",                      // empty path roots
      "https://a.org/x?a=1&a=2&b=3" -> "/x?a&b",   // dup names collapse
      "https://a.org/x#frag" -> "/x")              // fragment ignored
    val got = cases.map(_._1).toDF("u")
      .select(Warc.urlPathTemplate(col("u"))).as[String].collect()
    assert(got.toSeq === cases.map(_._2))
  }

  test("templateFingerprint hashes the opening-tag sequence, ignoring attrs/text/close tags") {
    val same = Seq(
      "<html><body class=\"x\"><p>hello</p></body></html>",
      "<HTML><BODY><P>completely other words</P></BODY></HTML>")
      .toDF("h").select(Warc.templateFingerprint(col("h"))).as[String].collect()
    assert(same.distinct.length === 1, "same structure must share the fingerprint")
    val diff = Seq("<html><body><div>hello</div></body></html>")
      .toDF("h").select(Warc.templateFingerprint(col("h"))).as[String].collect()
    assert(diff.head !== same.head, "different structure must differ")
  }

  test("binary payloads (application/pdf) decode byte-preserving and round-trip through the mixed archive") {
    import graft.operators.Media
    val docs = Seq(
      (0L, "an html page body here", "en", "web"),
      (1L, "a pdf document with (parens) and \\ slash", "en", "web"),
      (2L, "another html page", "es", "web"),
      (3L, "a FLATE pdf: id %% 4 == 3 routes through the deflater", "de", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val recs = Warc.parseArchives(
      Warc.toWarcArchivesMixed(docs, nArchives = 2), "archive_id", "bytes")
      .filter(col("ok")).collect()
      .map(r => r.getAs[String]("record_id") ->
        (r.getAs[String]("http_content_type"), r.getAs[String]("payload"))).toMap
    assert(recs.size === 4)
    assert(recs("<urn:graft:0>")._1 === "text/html")
    assert(recs("<urn:graft:1>")._1 === "application/pdf")
    // the binary payload decoded ISO-8859-1: getBytes(ISO_8859_1) must
    // recover the EXACT pdf bytes — including the flate stream — so
    // extraction reconstructs the text bit-for-bit
    for (id <- Seq(1L, 3L)) {
      val payload = recs(s"<urn:graft:$id>")._2
      val x = Pdf.extractText(
        payload.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).toOption.get
      val expected = "Doc " + id + "|" + docs.filter(col("doc_id") === id)
        .collect()(0).getString(1) + "~fin."
      assert(x.text === expected, s"doc $id")
      assert((id % 4 == 3) === (x.nFlate > 0), s"doc $id flate routing")
    }
  }

}

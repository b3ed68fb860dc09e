package graft.changesets

import java.nio.file.Files

import org.apache.spark.sql.Row

import graft.SparkSpec

/** The fast parser's contract is "same rows as the XML-datasource
  * path" — pinned here differentially on edge-case fixtures and on the
  * round-trip generator corpus, plus the two-tier error semantics.
  */
class FastParserSpec extends SparkSpec {

  private def write(xml: String): String = {
    val f = Files.createTempFile("fastp", ".osm")
    Files.writeString(f, xml)
    f.toString
  }

  private def rows(path: String, opts: ChangesetConverter.Options): Seq[Row] =
    ChangesetConverter.parse(spark, path, opts)
      .orderBy("id").collect().toSeq

  private def bothAgree(xml: String): Seq[Row] = {
    val p = write(xml)
    val slow = rows(p, ChangesetConverter.Options())
    val fast = rows(p, ChangesetConverter.Options(fastParser = true))
    assert(fast === slow, s"fast/slow divergence on:\n$xml")
    slow
  }

  test("differential: self-closing + open elements, entities, quotes, unknown attrs") {
    val got = bothAgree(
      """<?xml version="1.0" encoding="UTF-8"?>
        |<osm version="0.6">
        |<changeset id="1" created_at="2024-01-02T03:04:05Z" open="false" user="a&amp;b &lt;c&gt;" uid="7" num_changes="3" comments_count="1"/>
        |<changeset id="2" created_at="2024-01-02t03:04:05.25z" open="true" user="it&apos;s &quot;q&quot;" min_lat="-1.5" min_lon="2.5" max_lat="3.5" max_lon="4.5" surprise="ignored">
        |  <tag k="ignored" v="x"/>
        |  <tag k="comment" v="first"/>
        |  <discussion><comment uid="9"><text>deep text</text></comment></discussion>
        |  <tag k="comment" v="last &#119; wins"/>
        |</changeset>
        |<changeset id="3" open="True"/>
        |<changeset id='4' open='true' user='single > quoted'/>
        |<changeset id="5"
        |   user="attrs split over lines" open="true"/>
        |</osm>""".stripMargin)
    assert(got.size === 5)
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(2).getString(12) === "last w wins") // last comment tag wins
    assert(byId(3).getBoolean(3) === false)         // "True" != "true"
    assert(byId(4).getString(4) === "single > quoted")
    assert(byId(5).getString(4) === "attrs split over lines")
  }

  test("newline INSIDE an attribute value: fast path keeps it raw like quick-xml") {
    // XML-spec attribute-value normalization folds the newline to a
    // space; quick-xml (the reference, src/main.rs:205) hands the raw
    // bytes through, and so does the fast path. The StAX datasource
    // normalizes — a documented strict-path divergence from the
    // reference, not from the fast path.
    val p = write("<osm><changeset id=\"1\" user=\"multi\nline\" open=\"true\"/></osm>")
    val fast = rows(p, ChangesetConverter.Options(fastParser = true))
    assert(fast.head.getString(4) === "multi\nline")
    val slow = rows(p, ChangesetConverter.Options())
    assert(slow.head.getString(4) === "multi line")
  }

  test("differential: tags without a comment, and no tags, give a null description") {
    // the default parser once raised INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    // under ANSI when a changeset's tags held no comment
    val got = bothAgree(
      """<osm>
        |<changeset id="1" open="false">
        |  <tag k="created_by" v="JOSM"/>
        |  <tag k="source" v="survey"/>
        |</changeset>
        |<changeset id="2" open="false"/>
        |<changeset id="3" open="false"><tag k="comment" v="kept"/></changeset>
        |</osm>""".stripMargin)
    assert(got.map(_.getLong(0)) === Seq(1L, 2L, 3L))
    assert(got(0).isNullAt(12) && got(1).isNullAt(12))
    assert(got(2).getString(12) === "kept")
  }

  test("differential: absent attributes default exactly like the reference") {
    val got = bothAgree(
      """<osm><changeset open="true"/><changeset id="9"/></osm>""")
    // missing @id -> 0 (Rust Default), counters 0, the rest null
    assert(got.map(_.getLong(0)) === Seq(0L, 9L))
    assert(got.forall(r => r.getLong(10) === 0L && r.getLong(11) === 0L))
    assert(got.forall(r => r.isNullAt(1) && r.isNullAt(5)))
  }

  test("differential: random round-trip corpora (seeded)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = RoundTripXml.genChangesets
    (1 to 10).foreach { i =>
      val batch = gen.apply(Gen.Parameters.default, Seed(1000L + i))
        .getOrElse(fail(s"generator exhausted at $i"))
      bothAgree(RoundTripXml.render(batch))
    }
  }

  test("value errors abort even with continue-on-error (both paths)") {
    for (bad <- Seq(
        """<osm><changeset id="x1"/></osm>""",
        """<osm><changeset id="1" uid=" 42"/></osm>""",
        """<osm><changeset id="1" created_at="2024-01-02 03:04:05"/></osm>""",
        """<osm><changeset id="1" num_changes="4294967296"/></osm>""");
        fast <- Seq(false, true)) {
      val p = write(bad)
      val e = intercept[Exception] {
        ChangesetConverter.parse(spark, p,
          ChangesetConverter.Options(continueOnError = true, fastParser = fast)).collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(m =>
        m.contains("parse failed") || m.contains("u32 range") ||
          m.contains("entity") || m.contains("RaiseError")),
        s"fast=$fast xml=$bad got=${messages(e)}")
    }
    // unresolvable entity: a VALUE error in the reference (unescape_value's
    // `?`, src/main.rs:205) — the fast path matches; the XML datasource
    // classifies it as record corruption instead (documented divergence:
    // entity resolution happens inside the StAX tokenizer there)
    val p = write("""<osm><changeset id="1" user="bad &entity;"/></osm>""")
    val e = intercept[Exception] {
      ChangesetConverter.parse(spark, p,
        ChangesetConverter.Options(continueOnError = true, fastParser = true)).collect()
    }
    assert(e.getMessage != null || e.getCause != null)
  }

  test("fast path: structural damage skipped under continue-on-error, fatal without") {
    // unterminated start tag in the middle; neighbors stay parseable
    val xml =
      """<osm>
        |<changeset id="1" open="true"/>
        |<changeset id="2" open="never closed
        |<changeset id="3" open="true"/>
        |</osm>""".stripMargin
    val p = write(xml)
    val kept = ChangesetConverter.parse(spark, p,
        ChangesetConverter.Options(continueOnError = true, fastParser = true))
      .collect().map(_.getLong(0)).sorted.toSeq
    // fragment 2 is damaged and dropped; fragment bounds stop its
    // unterminated quote from swallowing the NEXT changeset, so 3
    // survives (strictly better recovery than a linear tokenizer)
    assert(kept === Seq(1L, 3L))
    assertThrows[Exception] {
      ChangesetConverter.parse(spark, p,
        ChangesetConverter.Options(fastParser = true)).collect()
    }
  }

  test("duplicate attributes: fast path keeps the LAST like the reference's match arms") {
    // quick-xml with check_* disabled passes duplicate attributes
    // through and the reference's match arms overwrite
    // (src/main.rs:207-221, last assignment wins). A validating XML
    // parser calls this malformed — the StAX path drops the record
    // under PERMISSIVE — so the lenient tier is fast-path parity only.
    val p = write("""<osm><changeset id="1" user="first" user="second" open="true"/></osm>""")
    val fast = rows(p, ChangesetConverter.Options(fastParser = true))
    assert(fast.size === 1 && fast.head.getString(4) === "second")
  }

  test("bz2 input (incl. multistream, the planet format): both paths agree") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val batch = RoundTripXml.genChangesets
      .apply(Gen.Parameters.default, Seed(77L)).get
    val xml = RoundTripXml.render(batch)
    // single-stream bz2
    val single = Files.createTempFile("fastp", ".osm.bz2")
    writeBz2(single, Seq(xml))
    // multistream: two independently-compressed members concatenated —
    // exactly what planet dumps ship (reference uses MultiBzDecoder,
    // src/main.rs:431-433); Hadoop's Bzip2Codec reads members through
    val half = xml.length / 2
    val multi = Files.createTempFile("fastp-multi", ".osm.bz2")
    writeBz2(multi, Seq(xml.substring(0, half), xml.substring(half)))
    for (p <- Seq(single, multi)) {
      val slow = rows(p.toString, ChangesetConverter.Options())
      val fast = rows(p.toString, ChangesetConverter.Options(fastParser = true))
      assert(fast === slow, s"bz2 fast/slow divergence for $p")
      assert(slow.size === batch.size)
    }
  }

  /** Each element of `parts` becomes its own bz2 stream member. */
  private def writeBz2(path: java.nio.file.Path, parts: Seq[String]): Unit = {
    val out = new java.io.FileOutputStream(path.toFile)
    try parts.foreach { part =>
      val codec = new org.apache.hadoop.io.compress.BZip2Codec()
      codec.setConf(new org.apache.hadoop.conf.Configuration())
      val cos = codec.createOutputStream(out)
      cos.write(part.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      cos.finish()
      cos.flush()
    } finally out.close()
  }

  test("fast path parallelizes a single uncompressed file across splits") {
    val n = 5000
    val sb = new StringBuilder("<osm>\n")
    (0 until n).foreach(i => sb.append(
      s"""<changeset id="$i" created_at="2024-01-01T00:00:00Z" open="false" num_changes="${i % 7}" comments_count="0"/>\n"""))
    sb.append("</osm>\n")
    val p = write(sb.toString)
    val df = FastChangesetParser.parse(spark, p, continueOnError = false)
    assert(df.count() === n.toLong)
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      === (n.toLong - 1) * n / 2)
  }
}

package graft.changesets

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec

/** The converter's parser (FastChangesetParser) against explicit
  * expected rows on edge-case fixtures and against the round-trip
  * generator's own values (RoundTripXml), plus the two-tier error
  * semantics and single-file splitting.
  */
class FastParserSpec extends SparkSpec {
  import spark.implicits._

  private def write(xml: String): String = {
    val f = Files.createTempFile("fastp", ".osm")
    Files.writeString(f, xml)
    f.toString
  }

  private def changesets(path: String): Seq[Changeset] =
    ChangesetConverter.parse(spark, path).as[Changeset].collect().sortBy(_.id).toSeq

  private def ts(s: String) = Some(Timestamp.from(java.time.Instant.parse(s)))

  /** A changeset with the reference's defaults (src/main.rs:40-42). */
  private def cs(id: Long): Changeset =
    Changeset(id, None, None, open = false, None, None, None, None, None, None, 0L, 0L, None)

  test("differential: self-closing + open elements, entities, quotes, unknown attrs") {
    val got = changesets(write(
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
        |</osm>""".stripMargin))
    assert(got === Seq(
      cs(1).copy(created_at = ts("2024-01-02T03:04:05Z"), user = Some("a&b <c>"),
        uid = Some(7L), num_changes = 3L, comments_count = 1L),
      cs(2).copy(created_at = ts("2024-01-02T03:04:05.250Z"), open = true,
        user = Some("it's \"q\""), min_lat = Some(-1.5), min_lon = Some(2.5),
        max_lat = Some(3.5), max_lon = Some(4.5),
        description = Some("last w wins")), // last comment tag wins
      cs(3),                                // "True" != "true"
      cs(4).copy(open = true, user = Some("single > quoted")),
      cs(5).copy(open = true, user = Some("attrs split over lines"))))
  }

  test("newline INSIDE an attribute value: fast path keeps it raw like quick-xml") {
    // XML-spec attribute-value normalization folds the newline to a
    // space; quick-xml (the reference, src/main.rs:205) hands the raw
    // bytes through, and so does the parser
    val p = write("<osm><changeset id=\"1\" user=\"multi\nline\" open=\"true\"/></osm>")
    assert(changesets(p).head.user === Some("multi\nline"))
  }

  test("differential: tags without a comment, and no tags, give a null description") {
    val got = changesets(write(
      """<osm>
        |<changeset id="1" open="false">
        |  <tag k="created_by" v="JOSM"/>
        |  <tag k="source" v="survey"/>
        |</changeset>
        |<changeset id="2" open="false"/>
        |<changeset id="3" open="false"><tag k="comment" v="kept"/></changeset>
        |</osm>""".stripMargin))
    assert(got === Seq(cs(1), cs(2), cs(3).copy(description = Some("kept"))))
  }

  test("differential: absent attributes default exactly like the reference") {
    val got = changesets(write(
      """<osm><changeset open="true"/><changeset id="9"/></osm>"""))
    // missing @id -> 0 (Rust Default), counters 0, the rest null
    assert(got === Seq(cs(0).copy(open = true), cs(9)))
  }

  test("differential: random round-trip corpora (seeded)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = RoundTripXml.genChangesets
    (1 to 10).foreach { i =>
      val batch = gen.apply(Gen.Parameters.default, Seed(1000L + i))
        .getOrElse(fail(s"generator exhausted at $i"))
      assert(changesets(write(RoundTripXml.render(batch))) === batch.sortBy(_.id),
        s"round-trip mismatch at seed ${1000L + i}")
    }
  }

  test("value errors abort even with continue-on-error (both paths)") {
    for (bad <- Seq(
        """<osm><changeset id="x1"/></osm>""",
        """<osm><changeset id="1" uid=" 42"/></osm>""",
        """<osm><changeset id="1" created_at="2024-01-02 03:04:05"/></osm>""",
        """<osm><changeset id="1" num_changes="4294967296"/></osm>""")) {
      val p = write(bad)
      val e = intercept[Exception] {
        ChangesetConverter.parse(spark, p,
          ChangesetConverter.Options(continueOnError = true)).collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(m =>
        m.contains("parse failed") || m.contains("u32 range") ||
          m.contains("entity") || m.contains("RaiseError")),
        s"xml=$bad got=${messages(e)}")
    }
    // unresolvable entity: a VALUE error in the reference (unescape_value's
    // `?`, src/main.rs:205), so continue-on-error does not skip it
    val p = write("""<osm><changeset id="1" user="bad &entity;"/></osm>""")
    val e = intercept[Exception] {
      ChangesetConverter.parse(spark, p,
        ChangesetConverter.Options(continueOnError = true)).collect()
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
        ChangesetConverter.Options(continueOnError = true))
      .collect().map(_.getLong(0)).sorted.toSeq
    // fragment 2 is damaged and dropped; fragment bounds stop its
    // unterminated quote from swallowing the NEXT changeset, so 3
    // survives (strictly better recovery than a linear tokenizer)
    assert(kept === Seq(1L, 3L))
    assertThrows[Exception] {
      ChangesetConverter.parse(spark, p).collect()
    }
  }

  test("duplicate attributes: fast path keeps the LAST like the reference's match arms") {
    // quick-xml with check_* disabled passes duplicate attributes
    // through and the reference's match arms overwrite
    // (src/main.rs:207-221, last assignment wins), where a validating
    // XML parser would call the record malformed
    val p = write("""<osm><changeset id="1" user="first" user="second" open="true"/></osm>""")
    assert(changesets(p) === Seq(cs(1).copy(open = true, user = Some("second"))))
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
    for (p <- Seq(single, multi))
      assert(changesets(p.toString) === batch.sortBy(_.id), s"bz2 round-trip mismatch for $p")
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
    // ~550 KB: 64 KB splits cut the file, and record framing must hold
    // across every cut
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, 64L * 1024)
    try {
      val df = FastChangesetParser.parse(spark, p, continueOnError = false)
      assert(df.rdd.getNumPartitions > 1)
      assert(df.count() === n.toLong)
      assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
        === (n.toLong - 1) * n / 2)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

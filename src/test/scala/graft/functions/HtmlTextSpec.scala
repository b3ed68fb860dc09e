package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.sources.Warc

/** [[HtmlText]] exact-equivalence gate: the native byte passes must
  * give the same bytes as the builtin `regexp_replace` chain that
  * `Warc.htmlText` used to be, kept here as the reference, on the
  * regex edge cases, on seeded random markup, on every payload of a
  * `toWarcArchivesGz` corpus, on invalid UTF-8 and on null.
  */
class HtmlTextSpec extends SparkSpec {
  import spark.implicits._

  /** The former `Warc.htmlText`, verbatim. */
  private def chain(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, from, to) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Rows of `df.h` where native and chain differ, as (input, native, chain). */
  private def diffs(df: DataFrame): Seq[(String, String, String)] =
    df.select(col("h"), Warc.htmlText(col("h")).as("n"), chain(col("h")).as("c"))
      .collect().toSeq
      .filter(r => !(r.isNullAt(1) && r.isNullAt(2)) &&
        (r.isNullAt(1) || r.isNullAt(2) || r.getString(1) != r.getString(2)))
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

  private val cases = Seq(
    "",
    " ",
    "plain text",
    "  lead and trail  ",
    "tab\tnl\nvt\u000bff\fcr\r mix",
    "<p>a</p><p>b</p>",
    "<style>a<script>b</style>c</script>d",
    "<script>b</script><style>a</style>",
    "<SCRIPT type=x>var a = 1;</Script>after",
    "<script>never closed",
    "<script x>one</script><script>two",
    "<scripts>kept</scripts>",
    "<script_x>kept</script>",
    "<script1>kept</script>",
    "<scripté>kept</script>",
    "<script́>kept</script>",
    "<script𝐀>kept</script>",
    "<style😀>dropped</style>",
    "<script >dropped</script>",
    "<script-x>dropped</script>",
    "<script",
    "<script>",
    "<script a=\"</script>\">x</script>y",
    "<style\n>s</STYLE>z",
    "<!-->",
    "<!--->",
    "<!---->",
    "<!-- a -->b<!-- c",
    "<!--x--><!--y-->",
    "<>",
    "<a <b>",
    "a < b > c",
    "<",
    ">",
    "x<",
    "&amp;lt;",
    "&lt;&gt;&quot;&#39;&nbsp;&amp;",
    "&nbsp; &nbsp;",
    "a&nbsp;\t&nbsp;b",
    "&nbsp;",
    "&amp",
    "&&amp;;",
    "&lt",
    "tail &",
    "日本語 <b>太字</b> 漢字",
    "emoji 😀 <i>x</i>",
    "  unicode space \u0085")

  test("native ≡ builtin chain on regex edge cases and null") {
    val df = (cases.map(Option(_)) :+ None).toDF("h")
    assert(diffs(df).isEmpty, diffs(df).mkString("\n"))
    assert(df.select(Warc.htmlText(col("h"))).schema.head.dataType ===
      df.select(chain(col("h"))).schema.head.dataType)
  }

  test("native ≡ builtin chain on seeded random markup") {
    val atoms = Array("<script", "<SCRIPT", "</script>", "</SCRIPT>", "<style", "</style>",
      "<Style", "<!--", "-->", "--", "<", ">", "/", "!", "a", "Z", "_", "1", "é", "́",
      "日", " ", "  ", "\t", "\n", "\r\n", "\u000b", "\f", "&", ";", "&amp;", "&lt;", "&gt;",
      "&quot;", "&#39;", "&nbsp;", "amp;", "lt", "x=\"y\"", "😀")
    val rnd = new java.util.SplittableRandom(20261020L)
    val rows = Seq.fill(3000) {
      val sb = new StringBuilder
      for (_ <- 0 until rnd.nextInt(24)) sb ++= atoms(rnd.nextInt(atoms.length))
      sb.toString
    }
    val d = diffs(rows.toDF("h"))
    assert(d.isEmpty, d.take(5).mkString("\n"))
  }

  test("native ≡ builtin chain on every payload of a toWarcArchivesGz corpus") {
    // ASCII only: the generator's Content-Length counts characters
    val words = Array("the", "data", "a&b", "x < y", "z > w", "&amp;", "&lt;tag&gt;",
      "<i>it</i>", "</p>", "&nbsp;", "\"q\"", "it's", "\t", "  ", "<!-- c -->", "&#39;")
    val rnd = new java.util.SplittableRandom(20261021L)
    val docs = (0 until 500).map { i =>
      val text = Seq.fill(1 + rnd.nextInt(40))(words(rnd.nextInt(words.length))).mkString(" ")
      (i.toLong, text, Seq("en", "de", "fr")(i % 3), s"src${i % 5}")
    }.toDF("doc_id", "text", "lang", "source")
    val payloads = Warc.parseArchives(Warc.toWarcArchivesGz(docs), "archive_id", "bytes")
      .filter(col("ok") && col("warc_type") === "response")
      .select(col("payload").as("h"))
      .cache()
    assert(payloads.count() === docs.count())
    val d = diffs(payloads)
    assert(d.isEmpty, d.take(3).mkString("\n"))
    payloads.unpersist()
  }

  test("invalid UTF-8 is stripped as regexp_replace decodes it") {
    val raw = Seq(
      Array[Byte]('a', 0xff.toByte, '<', 'b', '>', 'c'),
      Array[Byte](0xc3.toByte, '<', 's', 'c', 'r', 'i', 'p', 't', 0xe9.toByte, '>', 'x',
        '<', '/', 's', 'c', 'r', 'i', 'p', 't', '>'),
      Array[Byte](' ', 0xe2.toByte, 0x82.toByte, ' ', '&', 'a', 'm', 'p', ';'),
      Array[Byte](0xed.toByte, 0xa0.toByte, 0x80.toByte, '\t'))
    val df = raw.toDF("b").select(col("b").cast(StringType).as("h"))
    val both = df.select(Warc.htmlText(col("h")).as("n"), chain(col("h")).as("c"))
      .select(col("n").cast("binary"), col("c").cast("binary")).collect()
    both.foreach(r => assert(r.getAs[Array[Byte]](0).toSeq === r.getAs[Array[Byte]](1).toSeq))
  }

  test("interpreted eval matches generated code") {
    val gen = cases.toDF("h").select(Warc.htmlText(col("h"))).collect().map(_.getString(0))
    val interp = cases.map(c => HtmlText(Literal(UTF8String.fromString(c), StringType)).eval())
    assert(interp.map(_.toString) === gen.toSeq)
    assert(HtmlText(Literal(null, StringType)).eval() === null)
  }
}

package graft.changesets

import java.nio.file.Files

import graft.SparkSpec

/** Diagnostics parity with the reference's structural-error block
  * (src/main.rs:344-363): position, processed-count, last good id,
  * error, bounded context windows — asserted on truncated/damaged
  * fixtures, where the converter must keep exactly the rows the report
  * explains.
  */
class ConverterDiagnosticsSpec extends SparkSpec {
  import spark.implicits._

  private def write(content: String): String = {
    val f = Files.createTempFile("diag", ".osm")
    Files.writeString(f, content)
    f.toString
  }

  private def keptIds(path: String): Seq[Long] =
    ChangesetConverter.parse(spark, path,
        ChangesetConverter.Options(continueOnError = true))
      .select("id").as[Long].collect().sorted.toSeq

  test("truncated dump (reference's scenario): offset, count, last id, context reported") {
    // EOF mid-attribute — the exact failure mode of a truncated
    // planet download; no closing delimiter anywhere
    val content =
      """<?xml version="1.0"?><osm>
        |<changeset id="1" open="true"/>
        |<changeset id="2" open="false"/>
        |<changeset id="3" created_at="2024-01-15T10:3""".stripMargin
    val path = write(content)

    val rep = ConverterDiagnostics.report(spark, path).collect()
    assert(rep.length === 1)
    val r = rep.head
    assert(r.getAs[String]("file").endsWith(path.substring(path.lastIndexOf('/'))))
    // single-split local file: split offset == file offset
    assert(r.getAs[Long]("char_offset") === content.indexOf("""<changeset id="3""""))
    assert(r.getAs[Long]("n_good_before") === 2L)
    assert(r.getAs[Long]("last_good_id") === 2L)
    assert(r.getAs[String]("error").contains("unterminated <changeset> start tag"))
    assert(r.getAs[String]("context_head").startsWith("""<changeset id="3""""))
    assert(r.getAs[String]("context_tail").endsWith("10:3"))

    // the converter keeps exactly the rows the report explains
    assert(keptIds(path) === Seq(1L, 2L))
  }

  test("damage mid-file: later records survive on both paths; running last-good id crosses records") {
    val content =
      """<?xml version="1.0"?><osm>
        |<changeset id="10" open="true"><tag k="comment" v="ok"/></changeset>
        |<changeset id="11" open="false"
        |<changeset id="12" open="true"/>
        |</osm>""".stripMargin
    val path = write(content)

    val rep = ConverterDiagnostics.report(spark, path).collect()
    assert(rep.length === 1)
    val r = rep.head
    assert(r.getAs[Long]("char_offset") === content.indexOf("""<changeset id="11""""))
    // id 10 lives in the PREVIOUS text record (before its
    // </changeset>): the split-level running state must carry it
    assert(r.getAs[Long]("n_good_before") === 1L)
    assert(r.getAs[Long]("last_good_id") === 10L)

    // per-fragment framing stops the damage at the next <changeset>,
    // so id=12 survives
    assert(keptIds(path) === Seq(10L, 12L))
  }

  test("damage before any good record: last_good_id is null, n_good_before is 0") {
    val content =
      """<?xml version="1.0"?><osm>
        |<changeset id="7" open="true"
        |<changeset id="8" open="false"/>
        |</osm>""".stripMargin
    val path = write(content)
    val r = ConverterDiagnostics.report(spark, path).collect().head
    assert(r.getAs[Long]("n_good_before") === 0L)
    assert(r.isNullAt(r.fieldIndex("last_good_id")))
    assert(keptIds(path) === Seq(8L))
  }

  test("context windows are bounded at 500 chars each on oversized fragments") {
    val bigAttr = "x" * 2000
    val content =
      s"""<?xml version="1.0"?><osm>
         |<changeset id="1" open="true"/>
         |<changeset id="2" user="$bigAttr" open="false"
         |</osm>""".stripMargin
    val r = ConverterDiagnostics.report(spark, write(content)).collect().head
    assert(r.getAs[String]("context_head").length === 500)
    assert(r.getAs[String]("context_tail").length === 500)
    assert(r.getAs[String]("context_head").startsWith("""<changeset id="2""""))
  }

  test("clean input produces an empty report on both surfaces") {
    val content =
      """<?xml version="1.0"?><osm>
        |<changeset id="1" open="true"/>
        |<changeset id="2" open="false"/>
        |</osm>""".stripMargin
    val path = write(content)
    assert(ConverterDiagnostics.report(spark, path).count() === 0L)
    assert(keptIds(path) === Seq(1L, 2L))
  }
}

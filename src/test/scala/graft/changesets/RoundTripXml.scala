package graft.changesets

import java.sql.Timestamp

import org.scalacheck.{Arbitrary, Gen}

/** Shared random-changeset corpus generator + XML renderer for the
  * round-trip suites (ChangesetRoundTripSpec, FastParserSpec): the
  * generated values are the expected rows.
  */
object RoundTripXml {

  private val genUser: Gen[Option[String]] = Gen.option(Gen.oneOf(
    "alice", "bob w space", "go\u00dfmann", "quote\"user", "a&b<c>", "\u65e5\u672c\u8a9e"))

  private val genTs: Gen[Option[Timestamp]] = Gen.option(
    Gen.choose(946684800000L, 1893456000000L).map(new Timestamp(_))) // 2000..2030

  val genChangeset: Gen[Changeset] = for {
    id <- Gen.choose(1L, Long.MaxValue / 2)
    created <- genTs
    closed <- genTs
    open <- Arbitrary.arbitrary[Boolean]
    user <- genUser
    uid <- Gen.option(Gen.choose(0L, Int.MaxValue.toLong))
    minLat <- Gen.option(Gen.choose(-90.0, 90.0))
    minLon <- Gen.option(Gen.choose(-180.0, 180.0))
    maxLat <- Gen.option(Gen.choose(-90.0, 90.0))
    maxLon <- Gen.option(Gen.choose(-180.0, 180.0))
    numChanges <- Gen.choose(0L, 4294967295L) // u32 range
    comments <- Gen.choose(0L, 1000L)
    desc <- Gen.option(Gen.oneOf(
      "simple", "with & entity", "with <angle> brackets", "unicode \u2713 \u00e9dit", ""))
  } yield Changeset(id, created, closed, open, user, uid,
    minLat, minLon, maxLat, maxLon, numChanges, comments, desc)

  /** Batch with ids rewritten to be unique (stable sort-and-compare). */
  val genChangesets: Gen[Seq[Changeset]] =
    Gen.listOfN(8, genChangeset).map(_.zipWithIndex.map {
      case (c, idx) => c.copy(id = idx + 1L)
    })

  def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")

  def fmtTs(t: Timestamp): String =
    java.time.Instant.ofEpochMilli(t.getTime).toString

  def render(cs: Seq[Changeset]): String = {
    val items = cs.map { c =>
      val attrs = Seq(
        Some(s"""id="${c.id}""""),
        c.created_at.map(t => s"""created_at="${fmtTs(t)}""""),
        c.closed_at.map(t => s"""closed_at="${fmtTs(t)}""""),
        Some(s"""open="${c.open}""""),
        c.user.map(u => s"""user="${esc(u)}""""),
        c.uid.map(u => s"""uid="$u""""),
        c.min_lat.map(v => s"""min_lat="$v""""),
        c.min_lon.map(v => s"""min_lon="$v""""),
        c.max_lat.map(v => s"""max_lat="$v""""),
        c.max_lon.map(v => s"""max_lon="$v""""),
        Some(s"""num_changes="${c.num_changes}""""),
        Some(s"""comments_count="${c.comments_count}"""")).flatten.mkString(" ")
      c.description match {
        case Some(d) =>
          s"""<changeset $attrs>\n  <tag k="comment" v="${esc(d)}"/>\n</changeset>"""
        case None => s"<changeset $attrs/>"
      }
    }
    s"""<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n${items.mkString("\n")}\n</osm>"""
  }
}

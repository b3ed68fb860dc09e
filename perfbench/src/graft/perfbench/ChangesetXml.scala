package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded OSM changeset XML generator: the one copy of the converter's
  * benchmark input.
  *
  * A seed fixes every byte of every file. The generator also computes
  * what `ChangesetConverter.convert` must produce for those bytes: the
  * row count and an order-independent checksum over all 13 output
  * columns ([[RowHash]]), so the convert output is checked against an
  * independent derivation rather than against itself.
  *
  * Variety per changeset:
  *   - open changesets (`open="true"`, no `closed_at`);
  *   - missing optional attributes (user/uid, bbox, counts);
  *   - 0-3 `<tag>` children, several of them `comment` (the last wins);
  *   - non-ASCII user names and comments;
  *   - XML entities (named and numeric) in attribute values.
  */
object ChangesetXml {

  final case class Expected(rows: Long, checksum: Long)

  private val users = Array(
    "mapper", "Zoë", "José Ñandú", "東京マッパー", "Łukasz", "Øyvind", "Ана", "كريم",
    "AT&T fleet", "o'brien", "plain_user", "Ελένη")
  private val words = Array(
    "fixed", "added", "road", "building", "survey", "bridge", "café", "straße",
    "道路", "ré-tag", "<wip>", "\"quoted\"", "a & b", "naïve", "imagery", "name")
  private val otherKeys = Array("created_by", "source", "imagery_used", "hashtags")

  /** XML attribute escape: the five named entities, plus a numeric
    * character reference for every non-ASCII code point on odd rows so
    * both decoded forms are exercised.
    */
  private def esc(s: String, numeric: Boolean): String = {
    val b = new java.lang.StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cp match {
        case '&' => b.append("&amp;")
        case '<' => b.append("&lt;")
        case '>' => b.append("&gt;")
        case '"' => b.append("&quot;")
        case '\'' => b.append("&apos;")
        case c if numeric && c > 127 => b.append("&#").append(c).append(';')
        case c => b.appendCodePoint(c)
      }
      i += Character.charCount(cp)
    }
    b.toString
  }

  private val isoFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  private def coord(rng: java.util.SplittableRandom, lim: Int): String = {
    // 7 decimals, the OSM precision
    val units = rng.nextLong(-lim * 10000000L, lim * 10000000L + 1)
    val sign = if (units < 0) "-" else ""
    val a = math.abs(units)
    f"$sign${a / 10000000L}.${a % 10000000L}%07d"
  }

  /** Write `files` XML files holding `rows` changesets in total under
    * `dir`, and return what the converter must produce for them.
    */
  def write(dir: Path, seed: Long, rows: Int, files: Int): Expected = {
    Files.createDirectories(dir)
    val rng = new java.util.SplittableRandom(seed)
    var sum = 0L
    var id = 1000L + rng.nextInt(1000)
    val perFile = (rows + files - 1) / files
    var written = 0
    var f = 0
    while (f < files) {
      val n = math.min(perFile, rows - written)
      val xml = new java.lang.StringBuilder(n * 320 + 128)
      xml.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\" generator=\"perfbench\">\n")
      var k = 0
      while (k < n) {
        id += 1 + rng.nextInt(3)
        val numeric = (id & 1L) == 1L
        val created = 1420070400L + rng.nextLong(315360000L)
        val open = rng.nextInt(10) == 0
        val closed = if (open) None else Some(created + 60L + rng.nextLong(86400L))
        val hasUser = rng.nextInt(20) != 0
        val user = users(rng.nextInt(users.length)) + (if (rng.nextBoolean()) "" else rng.nextInt(500).toString)
        val uid = rng.nextLong(1L, 30000000L)
        val hasBox = rng.nextInt(8) != 0
        val box = Seq(coord(rng, 89), coord(rng, 179), coord(rng, 89), coord(rng, 179))
        val hasCounts = rng.nextInt(12) != 0
        val numChanges = rng.nextLong(0L, 10001L)
        val comments = rng.nextInt(6).toLong
        val nTags = rng.nextInt(4)
        val tags = (0 until nTags).map { _ =>
          val key = if (rng.nextInt(3) != 0) "comment" else otherKeys(rng.nextInt(otherKeys.length))
          val v = (0 until 1 + rng.nextInt(6)).map(_ => words(rng.nextInt(words.length))).mkString(" ")
          (key, v)
        }
        xml.append("<changeset id=\"").append(id).append("\" created_at=\"")
          .append(isoFmt.format(java.time.Instant.ofEpochSecond(created))).append('"')
        closed.foreach(c => xml.append(" closed_at=\"")
          .append(isoFmt.format(java.time.Instant.ofEpochSecond(c))).append('"'))
        xml.append(" open=\"").append(open).append('"')
        if (hasUser)
          xml.append(" user=\"").append(esc(user, numeric)).append("\" uid=\"").append(uid).append('"')
        if (hasBox)
          xml.append(" min_lat=\"").append(box(0)).append("\" min_lon=\"").append(box(1))
            .append("\" max_lat=\"").append(box(2)).append("\" max_lon=\"").append(box(3)).append('"')
        if (hasCounts)
          xml.append(" num_changes=\"").append(numChanges).append("\" comments_count=\"")
            .append(comments).append('"')
        if (tags.isEmpty) xml.append("/>\n")
        else {
          xml.append(">\n")
          tags.foreach { case (key, v) =>
            xml.append("  <tag k=\"").append(key).append("\" v=\"").append(esc(v, numeric)).append("\"/>\n")
          }
          xml.append("</changeset>\n")
        }
        val description = tags.filter(_._1 == "comment").lastOption.map(_._2)
        sum += RowHash.changeset(id, Some(created * 1000L), closed.map(_ * 1000L), open,
          if (hasUser) Some(user) else None, if (hasUser) Some(uid) else None,
          if (hasBox) box.map(s => Some(s.toDouble)) else Seq.fill(4)(None),
          if (hasCounts) numChanges else 0L, if (hasCounts) comments else 0L, description)
        k += 1
      }
      xml.append("</osm>\n")
      Files.write(dir.resolve(f"changesets-$f%02d.osm"), xml.toString.getBytes(StandardCharsets.UTF_8))
      written += n
      f += 1
    }
    Expected(written.toLong, sum)
  }
}

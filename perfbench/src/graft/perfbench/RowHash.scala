package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent result hashes: every row maps to a 64-bit hash of
  * a canonical text form of its values, and a result's hash is the
  * row count plus the wrapping sum of its row hashes. Row order and
  * partitioning do not change it; any changed, lost or extra row does.
  */
object RowHash {

  def of(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x2545F491)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5BD1E995)
    (h1.toLong << 32) | (h2.toLong & 0xFFFFFFFFL)
  }

  /** Canonical text of one value. Doubles and floats are rounded to 9
    * significant digits so a harmless change of summation order does
    * not read as a wrong answer.
    */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case t: java.sql.Timestamp => t.getTime.toString
    case t: java.time.Instant => t.toEpochMilli.toString
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  def row(r: Row): Long = of(canon(r))

  /** (rows, checksum) of a collected result. */
  def rows(rs: Array[Row]): (Long, Long) = (rs.length.toLong, rs.map(row).sum)

  /** Hash of one converter output row, from typed values; the
    * generator and the output check share it.
    */
  def changeset(id: Long, createdMs: Option[Long], closedMs: Option[Long], open: Boolean,
      user: Option[String], uid: Option[Long], box: Seq[Option[Double]],
      numChanges: Long, commentsCount: Long, description: Option[String]): Long = {
    def o(x: Option[Any]) = x.map(canon).getOrElse("∅")
    of(Seq(id.toString, o(createdMs), o(closedMs), open.toString, o(user), o(uid),
      box.map(o).mkString("/"), numChanges.toString, commentsCount.toString, o(description))
      .mkString("|"))
  }

  /** Checksum of a converter output table (all 13 columns). */
  def changesets(df: DataFrame): (Long, Long) = {
    val parts = df.select("id", "created_at", "closed_at", "open", "user", "uid",
        "min_lat", "min_lon", "max_lat", "max_lon", "num_changes", "comments_count", "description")
      .rdd.mapPartitions { it =>
        var n = 0L; var s = 0L
        it.foreach { r =>
          def opt[A](i: Int, f: Any => A): Option[A] = if (r.isNullAt(i)) None else Some(f(r.get(i)))
          def ms(x: Any): Long = x match {
            case t: java.sql.Timestamp => t.getTime
            case t: java.time.Instant => t.toEpochMilli
          }
          n += 1
          s += changeset(r.getLong(0), opt(1, ms), opt(2, ms), r.getBoolean(3),
            opt(4, _.toString), opt(5, _.asInstanceOf[Long]),
            (6 to 9).map(i => opt(i, _.asInstanceOf[Double])),
            r.getLong(10), r.getLong(11), opt(12, _.toString))
        }
        Iterator.single((n, s))
      }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

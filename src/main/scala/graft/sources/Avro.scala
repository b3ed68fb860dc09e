package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.bytes.Bytes._
import graft.operators.Media

/** Avro object-container reader — the data-lake interchange format
  * (Kafka archives, warehouse exports) joins the source family,
  * dependency-free per the Archive/Warc precedent (spark-avro is an
  * external module, not on this classpath; the container format is
  * public: Avro spec §Object Container Files).
  *
  * IN scope:
  *  - container framing: Obj\x01 magic, the file-metadata map
  *    (varint-framed keys/bytes, negative-count map blocks with their
  *    byte-size prefix), the 16-byte sync marker, data blocks
  *    (zigzag-varint record count + byte size) with per-block sync
  *    VERIFIED against the header's
  *  - codecs: null, deflate (raw DEFLATE via the JDK Inflater), and
  *    snappy (r19 — [[Snappy]], the dependency-free raw-block
  *    decoder; per the Avro spec each snappy block carries a 4-byte
  *    big-endian CRC-32 of the UNCOMPRESSED data, verified here)
  *  - record decode for record schemas of primitives — long, int,
  *    string, boolean, float, double — plus (r19, because they are
  *    how real warehouse exports mark optional/repeated fields)
  *    `["null", T]` nullable unions (either member order; the
  *    varint branch index selects), `{"type":"array","items":T}`
  *    arrays (multi-block with optional byte-size prefix, zero
  *    terminator), and NESTED records flattened to dotted field
  *    names in writer order (depth <= 8; a nested value serializes
  *    as exactly its fields in order, so the flattening preserves
  *    the wire walk). r20 rounds out the warehouse-export types:
  *    `{"type":"map","values":T}` maps (block-framed like arrays,
  *    string keys, surfaced as "k=v,..." in wire order),
  *    `{"type":"enum","symbols":[...]}` (varint index -> symbol,
  *    bounds-checked) and `{"type":"fixed","size":N}` (N raw bytes,
  *    surfaced as lowercase hex; N <= 1024 — fixed is for digests,
  *    not blobs). Field order taken from the schema JSON's `fields`
  *    array through the minimal order-preserving JSON parse below.
  *
  * OUT of scope (named Lefts): general unions beyond ["null", T],
  * non-primitive array items / map values, recursive record
  * references, record nesting deeper than 8, zstd, and schemaless
  * fragments.
  *
  * Scale shape: one flatMap inside the typed map boundary — no
  * shuffle, no driver collect; per-record memory is one block's
  * decompressed bytes (writers bound block sizes by design).
  * Malformed input is a Left, never an exception.
  */
object Avro {

  /** One decoded record: primitive field values as strings (the
    * driver-facing surface; typed extraction keys off the schema).
    */
  final case class AvroRecord(rec_idx: Int, fields: Map[String, String])

  final case class AvroFile(
      schemaName: String,
      codec: String,
      nBlocks: Int,
      nRecords: Long,
      records: Seq[AvroRecord])

  def sniff(d: Array[Byte]): Boolean =
    d.length >= 4 && d(0) == 'O' && d(1) == 'b' && d(2) == 'j' && d(3) == 1

  def read(d: Array[Byte]): Either[String, AvroFile] = {
    if (!sniff(d)) return Left("avro: missing Obj\\x01 magic")
    guarded("avro")(readInner(d))
  }

  private final class Reader(d: Array[Byte], var pos: Int) {
    def varLong(): Long = { // zigzag varint
      var shift = 0
      var acc = 0L
      var more = true
      while (more) {
        val b = d(pos) & 0xff
        pos += 1
        acc |= (b & 0x7fL) << shift
        shift += 7
        more = (b & 0x80) != 0
        if (shift > 70) throw Malformed("avro: varint overrun")
      }
      (acc >>> 1) ^ -(acc & 1L)
    }
    def bytes(n: Int): Array[Byte] = {
      // a negative zigzag length (-1 encodes as varint 1) passes the
      // pos + n > d.length bound and copyOfRange then throws
      // IllegalArgumentException, which read() does not catch
      if (n < 0) throw Malformed(s"avro: negative length $n")
      if (pos + n > d.length) throw Malformed("avro: truncated byte run")
      val r = java.util.Arrays.copyOfRange(d, pos, pos + n)
      pos += n
      r
    }
    def str(): String =
      new String(bytes(varLong().toInt), java.nio.charset.StandardCharsets.UTF_8)
  }

  private def readInner(d: Array[Byte]): Either[String, AvroFile] = {
    val r = new Reader(d, 4)
    // file metadata map
    var meta = Map.empty[String, Array[Byte]]
    var count = r.varLong()
    while (count != 0) {
      if (count < 0) { count = -count; r.varLong() } // block byte size: skip
      var i = 0L
      while (i < count) {
        val k = r.str()
        meta += k -> r.bytes(r.varLong().toInt)
        i += 1
      }
      count = r.varLong()
    }
    val sync = r.bytes(16)
    val codec = meta.get("avro.codec")
      .map(new String(_, java.nio.charset.StandardCharsets.UTF_8)).getOrElse("null")
    if (codec != "null" && codec != "deflate" && codec != "snappy")
      return Left(s"avro: codec $codec out of scope")
    val schemaJson = meta.get("avro.schema")
      .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
      .getOrElse(return Left("avro: no avro.schema metadata"))
    val (schemaName, fields) = parseSchema(schemaJson) match {
      case Right(v) => v
      case Left(e) => return Left(e)
    }

    val records = Vector.newBuilder[AvroRecord]
    var nBlocks = 0
    var nRecords = 0L
    while (r.pos < d.length) {
      val cnt = r.varLong()
      val size = r.varLong().toInt
      val raw = r.bytes(size)
      val blockSync = r.bytes(16)
      if (!java.util.Arrays.equals(blockSync, sync))
        return Left("avro: block sync marker mismatch")
      val body = codec match {
        case "deflate" =>
          inflate(raw, 0, raw.length, Raw).fold(r => throw Malformed(s"avro: $r"), identity)
        case "snappy" =>
          // Avro spec: raw snappy block + 4-byte BE CRC32 of the
          // UNCOMPRESSED bytes
          if (raw.length < 4) throw Malformed("avro: snappy block under CRC size")
          val un =
            try Snappy.decompress(java.util.Arrays.copyOfRange(raw, 0, raw.length - 4))
            catch { case Malformed(m) => throw Malformed(s"avro: $m") }
          val crc = new java.util.zip.CRC32()
          crc.update(un)
          if (crc.getValue != u32be(raw, raw.length - 4))
            throw Malformed("avro: snappy block CRC mismatch")
          un
        case _ => raw
      }
      val br = new Reader(body, 0)
      def prim(tpe: String): String = tpe match {
        case "long" | "int" => br.varLong().toString
        case "string" => br.str()
        case "boolean" =>
          val b = body(br.pos); br.pos += 1
          if (b == 1) "true" else "false"
        case "double" =>
          val p = br.pos; br.pos += 8
          if (br.pos > body.length) throw Malformed("avro: truncated double")
          var v = 0L
          var k = 7
          while (k >= 0) { v = (v << 8) | (body(p + k) & 0xffL); k -= 1 }
          java.lang.Double.longBitsToDouble(v).toString
        case "float" =>
          val p = br.pos; br.pos += 4
          if (br.pos > body.length) throw Malformed("avro: truncated float")
          var v = 0
          var k = 3
          while (k >= 0) { v = (v << 8) | (body(p + k) & 0xff); k -= 1 }
          java.lang.Float.intBitsToFloat(v).toString
        case t => throw Malformed(s"avro: field type $t out of scope")
      }
      var i = 0L
      while (i < cnt) {
        // null-union fields are OMITTED from the map (the map's
        // absent-key state IS the null; every surface goes through
        // getOrElse/get so the distinction survives to the DataFrame)
        var vals = Map.empty[String, String]
        fields.foreach { case (name, tpe) =>
          if (tpe.startsWith("union")) {
            // branch index is a zigzag varint into the union BY
            // SCHEMA POSITION; the parse encoded the null member's
            // position as union<nullIdx>:T
            val nullIdx = tpe.charAt(5) - '0'
            val b = br.varLong()
            if (b == nullIdx) ()
            else if (b == 1 - nullIdx) vals += name -> prim(tpe.substring(7))
            else throw Malformed(s"avro: union branch $b out of range")
          } else if (tpe.startsWith("array:")) {
            val item = tpe.stripPrefix("array:")
            val sb = new StringBuilder
            var c = br.varLong()
            while (c != 0) {
              if (c < 0) { c = -c; br.varLong() } // block byte size: skip
              var k = 0L
              while (k < c) {
                if (sb.nonEmpty) sb.append(',')
                sb.append(prim(item))
                k += 1
              }
              c = br.varLong()
            }
            vals += name -> sb.toString
          } else if (tpe.startsWith("map:")) {
            // maps share the array's block framing: count (negative =
            // byte-size-prefixed), key string + primitive value pairs,
            // zero terminator; surfaced in WIRE order as "k=v,..."
            val vt = tpe.stripPrefix("map:")
            val sb = new StringBuilder
            var c = br.varLong()
            while (c != 0) {
              if (c < 0) { c = -c; br.varLong() }
              var k = 0L
              while (k < c) {
                if (sb.nonEmpty) sb.append(',')
                sb.append(br.str()).append('=').append(prim(vt))
                k += 1
              }
              c = br.varLong()
            }
            vals += name -> sb.toString
          } else if (tpe.startsWith("enum:")) {
            val syms = tpe.stripPrefix("enum:").split('|')
            val idx = br.varLong()
            if (idx < 0 || idx >= syms.length)
              throw Malformed(s"avro: enum index $idx out of range for $name")
            vals += name -> syms(idx.toInt)
          } else if (tpe.startsWith("fixed:")) {
            val n = tpe.stripPrefix("fixed:").toInt
            vals += name -> br.bytes(n).map(x => f"${x & 0xff}%02x").mkString
          } else vals += name -> prim(tpe)
        }
        records += AvroRecord(nRecords.toInt + i.toInt, vals)
        i += 1
      }
      if (br.pos != body.length)
        return Left(s"avro: block decoded ${br.pos} of ${body.length} bytes")
      nRecords += cnt
      nBlocks += 1
    }
    Right(AvroFile(schemaName, codec, nBlocks, nRecords, records.result()))
  }

  /** Minimal order-preserving JSON reader for the schema metadata
    * (r19): object fields keep WRITER ORDER (a Vector of pairs, not a
    * map — Avro field order IS the wire order), strings handle the
    * escapes schema text actually carries. Machine-written input; a
    * parse failure aborts to the schema Left.
    */
  private sealed trait Jv
  private final case class Js(v: String) extends Jv
  private final case class Jn(v: Double) extends Jv
  private final case class Jb(v: Boolean) extends Jv
  private case object Jnull extends Jv
  private final case class Ja(items: Vector[Jv]) extends Jv
  private final case class Jo(fields: Vector[(String, Jv)]) extends Jv

  private def parseJson(text: String): Jv = {
    var i = 0
    def fail(msg: String): Nothing = throw Malformed(s"avro: schema JSON $msg at $i")
    def ws(): Unit = while (i < text.length && text.charAt(i).isWhitespace) i += 1
    def expect(c: Char): Unit = {
      ws()
      if (i >= text.length || text.charAt(i) != c) fail(s"expected '$c'")
      i += 1
    }
    def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < text.length && text.charAt(i) != '"') {
        val c = text.charAt(i)
        if (c == '\\') {
          i += 1
          if (i >= text.length) fail("dangling escape")
          text.charAt(i) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'n' => sb.append('\n')
            case 't' => sb.append('\t')
            case 'r' => sb.append('\r')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              if (i + 4 >= text.length) fail("short unicode escape")
              val hex = text.substring(i + 1, i + 5)
              if (!hex.forall(c => Character.digit(c, 16) >= 0))
                fail("bad unicode escape")
              sb.append(Integer.parseInt(hex, 16).toChar)
              i += 4
            case e => fail(s"unknown escape \\$e")
          }
        } else sb.append(c)
        i += 1
      }
      expect('"')
      sb.toString
    }
    def value(): Jv = {
      ws()
      if (i >= text.length) fail("ran out of input")
      text.charAt(i) match {
        case '"' => Js(str())
        case '{' =>
          i += 1
          val out = Vector.newBuilder[(String, Jv)]
          ws()
          if (i < text.length && text.charAt(i) == '}') { i += 1; return Jo(out.result()) }
          var more = true
          while (more) {
            ws()
            val k = str()
            expect(':')
            out += k -> value()
            ws()
            if (i < text.length && text.charAt(i) == ',') i += 1
            else { expect('}'); more = false }
          }
          Jo(out.result())
        case '[' =>
          i += 1
          val out = Vector.newBuilder[Jv]
          ws()
          if (i < text.length && text.charAt(i) == ']') { i += 1; return Ja(out.result()) }
          var more = true
          while (more) {
            out += value()
            ws()
            if (i < text.length && text.charAt(i) == ',') i += 1
            else { expect(']'); more = false }
          }
          Ja(out.result())
        case 't' if text.startsWith("true", i) => i += 4; Jb(true)
        case 'f' if text.startsWith("false", i) => i += 5; Jb(false)
        case 'n' if text.startsWith("null", i) => i += 4; Jnull
        case c if c == '-' || (c >= '0' && c <= '9') =>
          val start = i
          while (i < text.length && "+-.eE0123456789".indexOf(text.charAt(i)) >= 0) i += 1
          val lit = text.substring(start, i)
          try Jn(lit.toDouble)
          catch { case _: NumberFormatException => fail(s"bad number '$lit'") }
        case _ => fail("unexpected character")
      }
    }
    val v = value()
    ws()
    if (i != text.length) fail("trailing content")
    v
  }

  /** Schema parse over a real (minimal) JSON tree: records of
    * primitives, ["null", T] unions (either member order — stored as
    * "union<nullPos>:T" so the decoder matches branch indexes BY
    * SCHEMA POSITION, the Avro union rule), flat primitive arrays
    * ("array:T"), and — r19 — NESTED RECORDS flattened to dotted
    * field names in writer order: a nested record value serializes as
    * exactly its fields in order, so flattening preserves the wire
    * walk byte-for-byte while surfacing "meta.lang"-style columns.
    * Out of scope (named Lefts): unions beyond ["null", primitive],
    * non-primitive array items, maps/enums/fixed, and recursive
    * record references.
    */
  private[sources] def parseSchema(json: String): Either[String, (String, Seq[(String, String)])] = {
    val prims = Set("long", "int", "string", "boolean", "double", "float")
    try {
      val root = parseJson(json) match {
        case o: Jo => o
        case _ => return Left("avro: schema root is not an object")
      }
      def get(o: Jo, k: String): Option[Jv] = o.fields.find(_._1 == k).map(_._2)
      val name = get(root, "name") match {
        case Some(Js(n)) => n
        case _ => return Left("avro: schema has no name")
      }
      def fieldsOf(rec: Jo, prefix: String, depth: Int): Seq[(String, String)] = {
        if (depth > 8) throw Malformed("avro: record nesting deeper than 8 out of scope")
        val fs = get(rec, "fields") match {
          case Some(Ja(items)) => items
          case _ => throw Malformed("avro: record without a fields array")
        }
        fs.flatMap {
          case fo: Jo =>
            val fname = get(fo, "name") match {
              case Some(Js(n)) => prefix + n
              case _ => throw Malformed("avro: field without a name")
            }
            get(fo, "type") match {
              case Some(Js(t)) if prims.contains(t) => Seq(fname -> t)
              case Some(Ja(Vector(Js("null"), Js(t)))) if prims.contains(t) =>
                Seq(fname -> s"union0:$t")
              case Some(Ja(Vector(Js(t), Js("null")))) if prims.contains(t) =>
                Seq(fname -> s"union1:$t")
              case Some(inner: Jo) =>
                get(inner, "type") match {
                  case Some(Js("array")) => get(inner, "items") match {
                    case Some(Js(it)) if prims.contains(it) => Seq(fname -> s"array:$it")
                    case _ => throw Malformed(s"avro: array items of $fname out of scope")
                  }
                  case Some(Js("record")) =>
                    fieldsOf(inner, fname + ".", depth + 1)
                  case Some(Js("map")) => get(inner, "values") match {
                    case Some(Js(vt)) if prims.contains(vt) => Seq(fname -> s"map:$vt")
                    case _ => throw Malformed(s"avro: map values of $fname out of scope")
                  }
                  case Some(Js("enum")) => get(inner, "symbols") match {
                    case Some(Ja(items)) if items.nonEmpty &&
                      items.forall { case Js(s) => !s.contains('|'); case _ => false } =>
                      Seq(fname -> ("enum:" +
                        items.map { case Js(s) => s; case _ => "" }.mkString("|")))
                    case _ => throw Malformed(s"avro: enum symbols of $fname out of scope")
                  }
                  case Some(Js("fixed")) => get(inner, "size") match {
                    case Some(Jn(n)) if n >= 1 && n <= 1024 && n == n.toInt =>
                      Seq(fname -> s"fixed:${n.toInt}")
                    case _ => throw Malformed(s"avro: fixed size of $fname out of range")
                  }
                  case _ =>
                    throw Malformed(s"avro: field type of $fname out of scope")
                }
              case _ => throw Malformed(s"avro: field type of $fname out of scope")
            }
          case _ => throw Malformed("avro: fields array carries a non-object")
        }
      }
      val fields = fieldsOf(root, "", 0)
      if (fields.isEmpty) return Left("avro: no fields parsed from the schema")
      Right((name, fields))
    } catch {
      case Malformed(m) => Left(m)
    }
  }

  // ------------------------------------------------------------ encode

  /** Zigzag-varint writer shared by the builders. */
  private def zz(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var u = (v << 1) ^ (v >> 63)
    var more = true
    while (more) {
      val b = (u & 0x7f).toInt
      u >>>= 7
      more = u != 0
      out.write(if (more) b | 0x80 else b)
    }
  }

  private def zstr(out: java.io.ByteArrayOutputStream, v: String): Unit = {
    val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    zz(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  private def deflateRaw(rec: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      defl.setInput(rec)
      defl.finish()
      val bufOut = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      while (!defl.finished()) bufOut.write(chunk, 0, defl.deflate(chunk))
      bufOut.toByteArray
    } finally defl.end()
  }

  private def snappyBlock(rec: Array[Byte]): Array[Byte] = {
    // Avro spec: raw snappy + 4-byte BE CRC32 of the UNCOMPRESSED data
    val crc = new java.util.zip.CRC32()
    crc.update(rec)
    val c = crc.getValue
    Snappy.compressLiteral(rec) ++ Array[Byte](
      (c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte)
  }

  /** Shared container writer: header (schema + codec metadata map,
    * seeded sync marker) + one data block PER RECORD (multi-block
    * framing on every file), codec-encoded bodies.
    */
  private def container(
      schema: String, codec: String, recs: Seq[Array[Byte]],
      syncSeed: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("Obj".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(1)
    zz(out, 2L)
    zstr(out, "avro.schema"); zstr(out, schema)
    zstr(out, "avro.codec"); zstr(out, codec)
    zz(out, 0L)
    val sync = new Array[Byte](16)
    var s = syncSeed
    for (k <- 0 until 16) { s = s * 6364136223846793005L + 1442695040888963407L; sync(k) = (s >>> 56).toByte }
    out.write(sync, 0, 16)
    recs.foreach { rec =>
      val stored = codec match {
        case "deflate" => deflateRaw(rec)
        case "snappy" => snappyBlock(rec)
        case _ => rec
      }
      zz(out, 1L)
      zz(out, stored.length.toLong)
      out.write(stored, 0, stored.length)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }

  /** Build an Avro object container of flat (long id, int seq,
    * string part) records, one record per block, any of the three
    * in-scope codecs, deterministic sync marker. The `toAvro`
    * adapter / fixture substrate.
    */
  def avroBytes(
      records: Seq[(Long, Int, String)], codec: String,
      syncSeed: Long): Array[Byte] = {
    val schema = """{"type":"record","name":"doc_part","fields":[""" +
      """{"name":"id","type":"long"},{"name":"seq","type":"int"},""" +
      """{"name":"part","type":"string"}]}"""
    val recs = records.map { case (id, seq, part) =>
      val b = new java.io.ByteArrayOutputStream()
      zz(b, id)
      zz(b, seq.toLong)
      zstr(b, part)
      b.toByteArray
    }
    container(schema, codec, recs, syncSeed)
  }

  /** One nullable/array record for [[avroDocBytes]]: note None =
    * the union's null branch; tag groups become array blocks
    * (one block per group — a two-group write exercises multi-block
    * array framing).
    */
  final case class DocRec(id: Long, note: Option[String], tagGroups: Seq[Seq[Int]])

  /** Build an Avro container whose schema carries the r19 shapes —
    * a ["null","string"] union (member order FLIPS with noteNullFirst
    * so both branch layouts exist in the corpus) and an int array —
    * one record per block. The `toAvroNullable` / q252 substrate.
    */
  def avroDocBytes(
      records: Seq[DocRec], noteNullFirst: Boolean, codec: String,
      syncSeed: Long): Array[Byte] = {
    val noteType = if (noteNullFirst) """["null","string"]""" else """["string","null"]"""
    val nullBranch = if (noteNullFirst) 0L else 1L
    val schema = """{"type":"record","name":"doc_rec","fields":[""" +
      """{"name":"id","type":"long"},""" +
      s"""{"name":"note","type":$noteType},""" +
      """{"name":"tags","type":{"type":"array","items":"int"}}]}"""
    val recs = records.map { r =>
      val b = new java.io.ByteArrayOutputStream()
      zz(b, r.id)
      r.note match {
        case None => zz(b, nullBranch)
        case Some(n) => zz(b, 1L - nullBranch); zstr(b, n)
      }
      r.tagGroups.filter(_.nonEmpty).foreach { g =>
        zz(b, g.length.toLong)
        g.foreach(v => zz(b, v.toLong))
      }
      zz(b, 0L) // array terminator
      b.toByteArray
    }
    container(schema, codec, recs, syncSeed)
  }

  /** One nested record for [[avroNestedBytes]]. */
  final case class NestedRec(id: Long, lang: String, score: Int, note: Option[String])

  /** Build an Avro container with a NESTED record schema (r19):
    * doc_nested{id long, meta record{lang string, score int},
    * note ["null","string"]} — the warehouse-export shape the
    * flattened dotted-name walk exists for. One record per block.
    */
  def avroNestedBytes(
      records: Seq[NestedRec], codec: String, syncSeed: Long): Array[Byte] = {
    val schema = """{"type":"record","name":"doc_nested","fields":[""" +
      """{"name":"id","type":"long"},""" +
      """{"name":"meta","type":{"type":"record","name":"meta_rec","fields":[""" +
      """{"name":"lang","type":"string"},{"name":"score","type":"int"}]}},""" +
      """{"name":"note","type":["null","string"]}]}"""
    val recs = records.map { r =>
      val b = new java.io.ByteArrayOutputStream()
      zz(b, r.id)
      zstr(b, r.lang) // nested record: just its fields, in order
      zz(b, r.score.toLong)
      r.note match {
        case None => zz(b, 0L)
        case Some(n) => zz(b, 1L); zstr(b, n)
      }
      b.toByteArray
    }
    container(schema, codec, recs, syncSeed)
  }

  /** One map/enum/fixed record for [[avroRichBytes]]: attr groups
    * become map blocks (two single-entry groups exercise multi-block
    * map framing).
    */
  final case class RichRec(
      id: Long, attrGroups: Seq[Seq[(String, Int)]], colorIdx: Int,
      sig: Array[Byte])

  /** Build an Avro container whose schema carries the r20 types —
    * a map<string,int> (block-framed like arrays), an enum
    * {red,green,blue}, and a fixed(4) digest — one record per block.
    * The `toAvroRich` / q260 substrate.
    */
  def avroRichBytes(
      records: Seq[RichRec], codec: String, syncSeed: Long): Array[Byte] = {
    val schema = """{"type":"record","name":"doc_rich","fields":[""" +
      """{"name":"id","type":"long"},""" +
      """{"name":"attrs","type":{"type":"map","values":"int"}},""" +
      """{"name":"color","type":{"type":"enum","name":"color_e",""" +
      """"symbols":["red","green","blue"]}},""" +
      """{"name":"sig","type":{"type":"fixed","name":"sig_f","size":4}}]}"""
    val recs = records.map { r =>
      require(r.sig.length == 4, "avroRichBytes: sig must be fixed(4)")
      val b = new java.io.ByteArrayOutputStream()
      zz(b, r.id)
      r.attrGroups.filter(_.nonEmpty).foreach { g =>
        zz(b, g.length.toLong)
        g.foreach { case (k, v) => zstr(b, k); zz(b, v.toLong) }
      }
      zz(b, 0L) // map terminator
      zz(b, r.colorIdx.toLong)
      b.write(r.sig, 0, 4)
      b.toByteArray
    }
    container(schema, codec, recs, syncSeed)
  }

  // ------------------------------------------------- DataFrame surface

  /** Documents -> REAL Avro containers: the text split into
    * k = len%4+1 equal ceil(len/k) chunks, one (id, seq, part) record
    * per BLOCK; codec rotates doc_id % 3 through null / deflate /
    * snappy (r19: the census avro bucket now spans all three). Every
    * field is a pure function of (doc_id, text), so the q250 oracle
    * re-derives the whole record stream with substring arithmetic.
    */
  def toAvro(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text").cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val k = text.length % 4 + 1
        val c = (text.length + k - 1) / k
        val recs = (0 until k).map(i =>
          (id, i, text.substring(i * c, math.min((i + 1) * c, text.length))))
        val codec = (id % 3) match {
          case 1 => "deflate"
          case 2 => "snappy"
          case _ => "null"
        }
        Media.MediaRecord(id, "doc", "avro", avroBytes(recs, codec, syncSeed = id))
      }
      .toDF()
  }

  /** Per-record extraction rows over the opaque media table —
    * map-only, the listEntries shape.
    */
  def listRecords(media: Dataset[Media.MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      read(m.data) match {
        case Right(f) => f.records.map { rec =>
          (m.media_id, f.schemaName, f.codec, f.nBlocks, f.nRecords,
            rec.rec_idx, rec.fields.getOrElse("id", ""),
            rec.fields.getOrElse("seq", ""), rec.fields.getOrElse("part", ""),
            null.asInstanceOf[String])
        }
        case Left(e) =>
          Seq((m.media_id, null.asInstanceOf[String], null.asInstanceOf[String],
            0, 0L, 0, null.asInstanceOf[String], null.asInstanceOf[String],
            null.asInstanceOf[String], e))
      }
    }.toDF("media_id", "schema_name", "codec", "n_blocks", "n_records",
      "rec_idx", "id", "seq", "part", "err")
  }

  /** Documents -> Avro containers exercising the r19 schema shapes,
    * deterministically: k = len%3+1 doc_rec records per file; record
    * i carries note = null when (doc_id+i)%3 == 0 else "n"+(doc_id+i)
    * (union member order flips with doc parity so BOTH branch
    * layouts exist), tags = [(len+i)%7, (len+i)%5] written as TWO
    * single-item array blocks for even docs (multi-block framing) and
    * one two-item block for odd; codec rotates doc_id % 3. Every
    * field is a pure function of (doc_id, len) — the q252 oracle
    * re-derives the stream with modular arithmetic.
    */
  def toAvroNullable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")))
      .as[(Long, Int)]
      .map { case (id, len) =>
        val k = len % 3 + 1
        val recs = (0 until k).map { i =>
          val note = if ((id + i) % 3 == 0) None else Some(s"n${id + i}")
          val tags =
            if (id % 2 == 0) Seq(Seq((len + i) % 7), Seq((len + i) % 5))
            else Seq(Seq((len + i) % 7, (len + i) % 5))
          DocRec(id, note, tags)
        }
        val codec = (id % 3) match {
          case 1 => "deflate"
          case 2 => "snappy"
          case _ => "null"
        }
        Media.MediaRecord(id, "doc", "avro",
          avroDocBytes(recs, noteNullFirst = id % 2 == 0, codec, syncSeed = id))
      }
      .toDF()
  }

  /** Per-record extraction over [[toAvroNullable]] payloads — note's
    * ABSENCE from the field map (the union's null branch) surfaces as
    * a genuine SQL NULL, tags as the comma-joined array.
    */
  def listDocRecords(media: Dataset[Media.MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      read(m.data) match {
        case Right(f) => f.records.map { rec =>
          (m.media_id, f.codec, rec.rec_idx,
            rec.fields.getOrElse("id", ""),
            rec.fields.get("note").orNull,
            rec.fields.getOrElse("tags", ""),
            null.asInstanceOf[String])
        }
        case Left(e) =>
          Seq((m.media_id, null.asInstanceOf[String], 0,
            null.asInstanceOf[String], null.asInstanceOf[String],
            null.asInstanceOf[String], e))
      }
    }.toDF("media_id", "codec", "rec_idx", "id", "note", "tags", "err")
  }

  /** Documents -> nested-schema Avro containers, deterministically:
    * k = len%3+1 doc_nested records per file; record i carries
    * meta.lang cycling en/de/fr by (doc_id+i)%3, meta.score
    * (len+i)%1000, note null when (doc_id+i)%4 == 0 else
    * "n"+(doc_id+i); codec rotates doc_id % 3. The q258 oracle
    * re-derives the flattened columns with modular arithmetic.
    */
  def toAvroNested(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")))
      .as[(Long, Int)]
      .map { case (id, len) =>
        val k = len % 3 + 1
        val langs = Array("en", "de", "fr")
        val recs = (0 until k).map { i =>
          NestedRec(id, langs(((id + i) % 3).toInt), (len + i) % 1000,
            if ((id + i) % 4 == 0) None else Some(s"n${id + i}"))
        }
        val codec = (id % 3) match {
          case 1 => "deflate"
          case 2 => "snappy"
          case _ => "null"
        }
        Media.MediaRecord(id, "doc", "avro",
          avroNestedBytes(recs, codec, syncSeed = id))
      }
      .toDF()
  }

  /** Documents -> map/enum/fixed Avro containers (r20),
    * deterministically: k = len%3+1 doc_rich records per file; record
    * i carries attrs {a: (len+i)%7, b: (len+i)%5} — written as TWO
    * single-entry map blocks on even docs (multi-block framing) and
    * one two-entry block on odd — color = [red,green,blue][(id+i)%3],
    * and sig = the 4 big-endian bytes of (id*31+i)%65536; codec
    * rotates doc_id % 3. Every field is a pure function of
    * (doc_id, len) — the q260 oracle re-derives the stream with
    * modular arithmetic and a hex lpad.
    */
  def toAvroRich(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")))
      .as[(Long, Int)]
      .map { case (id, len) =>
        val k = len % 3 + 1
        val colors = Array("red", "green", "blue")
        val recs = (0 until k).map { i =>
          val a = "a" -> (len + i) % 7
          val b = "b" -> (len + i) % 5
          val groups = if (id % 2 == 0) Seq(Seq(a), Seq(b)) else Seq(Seq(a, b))
          val v = (id * 31 + i) % 65536
          RichRec(id, groups, ((id + i) % 3).toInt, Array(
            (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
        }
        val codec = (id % 3) match {
          case 1 => "deflate"
          case 2 => "snappy"
          case _ => "null"
        }
        Media.MediaRecord(id, "doc", "avro", avroRichBytes(recs, codec, syncSeed = id))
      }
      .toDF()
  }

  /** Per-record extraction over [[toAvroRich]] payloads — map wire
    * order, enum symbol resolution, and the fixed digest's hex form
    * prove the three r20 type walks.
    */
  def listRichRecords(media: Dataset[Media.MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      read(m.data) match {
        case Right(f) => f.records.map { rec =>
          (m.media_id, f.schemaName, f.codec, rec.rec_idx,
            rec.fields.getOrElse("id", ""),
            rec.fields.getOrElse("attrs", ""),
            rec.fields.getOrElse("color", ""),
            rec.fields.getOrElse("sig", ""),
            null.asInstanceOf[String])
        }
        case Left(e) =>
          Seq((m.media_id, null.asInstanceOf[String], null.asInstanceOf[String],
            0, null.asInstanceOf[String], null.asInstanceOf[String],
            null.asInstanceOf[String], null.asInstanceOf[String], e))
      }
    }.toDF("media_id", "schema_name", "codec", "rec_idx",
      "id", "attrs", "color", "sig", "err")
  }

  /** Per-record extraction over [[toAvroNested]] payloads — the
    * DOTTED flattened columns prove the nested walk.
    */
  def listNestedRecords(media: Dataset[Media.MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      read(m.data) match {
        case Right(f) => f.records.map { rec =>
          (m.media_id, f.schemaName, f.codec, rec.rec_idx,
            rec.fields.getOrElse("id", ""),
            rec.fields.getOrElse("meta.lang", ""),
            rec.fields.getOrElse("meta.score", ""),
            rec.fields.get("note").orNull,
            null.asInstanceOf[String])
        }
        case Left(e) =>
          Seq((m.media_id, null.asInstanceOf[String], null.asInstanceOf[String],
            0, null.asInstanceOf[String], null.asInstanceOf[String],
            null.asInstanceOf[String], null.asInstanceOf[String], e))
      }
    }.toDF("media_id", "schema_name", "codec", "rec_idx",
      "id", "meta_lang", "meta_score", "note", "err")
  }
}

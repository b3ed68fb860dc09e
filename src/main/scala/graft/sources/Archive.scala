package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.bytes.Bytes._
import graft.operators.Media

/** Archive container sources — ZIP and TAR (ustar), the two wrappers
  * crawl and data-drop payloads overwhelmingly arrive in (WARC sits a
  * level up; gzip members are [[Warc]]'s job). Dependency-free on the
  * JDK-only precedent of the sibling codecs: DEFLATE entries ride
  * the shared capped `graft.bytes.Bytes.inflate` in raw mode, CRC-32 verification
  * rides `java.util.zip.CRC32`.
  *
  * ZIP, IN scope:
  *  - end-of-central-directory discovery by backward signature scan
  *    (archives may carry a trailing comment — the spec's own reason
  *    EOCD has no fixed offset)
  *  - central-directory walk; per-entry sizes/CRC are taken from the
  *    CENTRAL record, so local headers written streaming-style with
  *    data descriptors (general-purpose bit 3, sizes 0 in the local
  *    header) extract correctly
  *  - methods 0 (stored) and 8 (raw DEFLATE); CRC-32 verified over
  *    the extracted bytes
  *  - directory entries (name ends in '/') are skipped — rows are
  *    regular files only
  *
  *  - Zip64 (r19 — modern data drops routinely exceed 4 GiB or 65k
  *    entries): masked EOCD fields (0xFFFF / 0xFFFFFFFF) resolve
  *    through the Zip64 EOCD locator + record, and masked per-entry
  *    sizes/offsets resolve through the 0x0001 extra field (present-
  *    if-masked ordering per APPNOTE 4.5.3). Entries above the 2 GiB
  *    row-cell bound are a named Left — archive cells are row-sized
  *    by the WARC rule, and a byte array cannot hold more anyway.
  *
  * ZIP, OUT of scope (documented, Left or skip — never an exception):
  * encryption (general-purpose bit 0), multi-disk archives (disk
  * fields != 0), and methods beyond stored/DEFLATE (bzip2, LZMA,
  * zstd) — each a per-archive Left, the decodeImages error-channel
  * discipline.
  *
  * TAR (ustar), IN scope: 512-byte headers (name, octal size, header
  * checksum verified with the checksum field blanked per spec),
  * regular-file typeflags ('0' and NUL), ustar `prefix` field joined
  * to the name, data rounded to 512-byte blocks, end at two zero
  * blocks (or EOF after a zero block — tolerated, GNU tar emits it).
  * GNU long-name ('L') records APPLY (r19): the payload becomes the
  * following regular entry's name, so >100-char paths extract under
  * their real names. POSIX pax ('x'/'g') extended headers APPLY
  * (r20 — pax is the DEFAULT output format of modern GNU/BSD tar, so
  * fresh archives carry long paths and large sizes as pax records):
  * "%d key=value\n" records are parsed, `path` and `size` override
  * the following entry's header fields ('x' binds to the immediate
  * next entry and wins over a GNU 'L' name and over 'g'; 'g' globals
  * apply to every following entry until overridden), other keys are
  * carried but ignored; entries that consumed an 'x' record surface
  * method "pax". GNU base-256 numeric fields APPLY (r20): a first
  * byte with the 0x80 flag marks the rest a big-endian binary
  * number — the non-pax >8 GiB convention (overflow past Long is a
  * named Left; a size past the payload Lefts at the EOF bound).
  * OUT of scope: 'K' link-name records are skipped (clearing any
  * pending long name / 'x' map — both bind only to the immediate
  * next entry) and sparse files.
  *
  * Scale shape: archives are opaque binary cells; [[listEntries]] is
  * one `flatMap` inside a `mapPartitions`-equivalent typed map — no
  * shuffle, no driver collect — so a 100 TB archive dump fans out by
  * parquet row groups exactly like the media decode paths. Per-record
  * memory is bounded by one archive's extracted entries (crawl-side
  * archives are row-sized cells, the WARC rule; a multi-GB archive
  * belongs in object storage, split upstream).
  */
object Archive {

  /** One extracted regular-file entry. `comp_size` is the stored
    * (possibly compressed) byte count; `crc_ok` is the CRC-32 check
    * for ZIP and the header-checksum check for TAR.
    */
  case class EntryRec(
      entry_name: String,
      method: String, // stored | deflate | ustar
      comp_size: Long,
      uncomp_size: Long,
      crc_ok: Boolean,
      data: Array[Byte])

  def sniffZip(d: Array[Byte]): Boolean =
    d.length >= 4 && d(0) == 'P' && d(1) == 'K' &&
      ((d(2) == 3 && d(3) == 4) || (d(2) == 5 && d(3) == 6))

  def sniffTar(d: Array[Byte]): Boolean =
    d.length >= 512 && d(257) == 'u' && d(258) == 's' && d(259) == 't' &&
      d(260) == 'a' && d(261) == 'r'

  // --------------------------------------------------------------- ZIP

  /** Extract all regular-file entries of a ZIP archive. */
  def readZip(d: Array[Byte]): Either[String, Seq[EntryRec]] =
    readZipDetailed(d).map(_._2)

  /** [[readZip]] plus whether the archive used Zip64 framing (a
    * masked EOCD resolved through the EOCD64 record) — surfaced so
    * census rows can split the format family.
    */
  def readZipDetailed(d: Array[Byte]): Either[String, (Boolean, Seq[EntryRec])] = {
    guarded("zip")(Right(readZipInner(d)))
  }

  private def readZipInner(d: Array[Byte]): (Boolean, Seq[EntryRec]) = {
    // EOCD: backward scan over the comment window (<= 64 KiB + 22)
    val lo = math.max(0, d.length - 65557)
    var eocd = -1
    var p = d.length - 22
    while (p >= lo && eocd < 0) {
      if (d(p) == 'P' && d(p + 1) == 'K' && d(p + 2) == 5 && d(p + 3) == 6 &&
        u16le(d, p + 20) == d.length - (p + 22)) eocd = p
      p -= 1
    }
    if (eocd < 0) throw Malformed("zip: no end-of-central-directory record")
    var nEntries: Long = u16le(d, eocd + 10)
    var cdOff: Long = u32le(d, eocd + 16)
    val zip64 = nEntries == 0xffffL || cdOff == 0xffffffffL
    if (zip64) {
      // Zip64 EOCD locator sits immediately before the EOCD record
      val loc = eocd - 20
      if (loc < 0 || u32le(d, loc) != 0x07064b50L)
        throw Malformed("zip: masked EOCD without a Zip64 locator")
      if (u32le(d, loc + 4) != 0L || u32le(d, loc + 16) != 1L)
        throw Malformed("zip: multi-disk Zip64 archives are out of scope")
      val z64 = u64le(d, loc + 8)
      if (z64 < 0 || z64 + 56 > loc) throw Malformed("zip: Zip64 EOCD offset out of range")
      val z = z64.toInt
      if (u32le(d, z) != 0x06064b50L) throw Malformed("zip: bad Zip64 EOCD signature")
      nEntries = u64le(d, z + 32) // total entries, all disks
      cdOff = u64le(d, z + 48)
      if (cdOff < 0 || cdOff > d.length) throw Malformed("zip: Zip64 directory offset out of range")
    }

    val out = Vector.newBuilder[EntryRec]
    var c = cdOff.toInt
    var i = 0L
    while (i < nEntries) {
      if (u32le(d, c) != 0x02014b50L) throw Malformed("zip: bad central-directory signature")
      val flags = u16le(d, c + 8)
      if ((flags & 1) != 0) throw Malformed("zip: encrypted entries are out of scope")
      val method = u16le(d, c + 10)
      val crc = u32le(d, c + 16)
      var compSize = u32le(d, c + 20)
      var uncompSize = u32le(d, c + 24)
      val nameLen = u16le(d, c + 28)
      val extraLen = u16le(d, c + 30)
      val commentLen = u16le(d, c + 32)
      var localOff = u32le(d, c + 42)
      if (compSize == 0xffffffffL || uncompSize == 0xffffffffL ||
        localOff == 0xffffffffL) {
        // Zip64 extended-information extra (id 0x0001): only the
        // MASKED fields appear, in uncomp/comp/offset order
        var e = c + 46 + nameLen
        val extraEnd = e + extraLen
        var found = false
        while (e + 4 <= extraEnd && !found) {
          val id = u16le(d, e)
          val sz = u16le(d, e + 2)
          if (id == 1) {
            var q = e + 4
            val fieldEnd = e + 4 + sz
            def take64(): Long = {
              if (q + 8 > fieldEnd) throw Malformed("zip: Zip64 extra too short")
              val v = u64le(d, q); q += 8; v
            }
            if (uncompSize == 0xffffffffL) uncompSize = take64()
            if (compSize == 0xffffffffL) compSize = take64()
            if (localOff == 0xffffffffL) localOff = take64()
            found = true
          } else e += 4 + sz
        }
        if (!found) throw Malformed("zip: masked entry without a Zip64 extra")
        // extraction materializes a byte array: entries beyond the
        // 2 GiB row-cell bound are a named Left, not an allocation
        if (compSize > Int.MaxValue || uncompSize > Int.MaxValue)
          throw Malformed("zip: Zip64 entry exceeds the 2 GiB row-cell bound")
        if (localOff > Int.MaxValue || localOff < 0)
          throw Malformed("zip: Zip64 local offset out of range")
      }
      // bound the variable-length tail BEFORE the String copy: a
      // corrupt nameLen reaches the String constructor as an uncaught
      // StringIndexOutOfBoundsException otherwise (fuzz-caught, r19)
      if (c + 46 + nameLen + extraLen + commentLen > d.length)
        throw Malformed("zip: central record runs past EOF")
      val name = new String(d, c + 46, nameLen, java.nio.charset.StandardCharsets.UTF_8)
      c += 46 + nameLen + extraLen + commentLen
      i += 1
      if (!name.endsWith("/")) { // regular files only
        // local header gives the data offset; sizes come from central
        val lh = localOff.toInt
        if (u32le(d, lh) != 0x04034b50L) throw Malformed(s"zip: bad local header for $name")
        val dataOff = lh + 30 + u16le(d, lh + 26) + u16le(d, lh + 28)
        if (dataOff + compSize > d.length) throw Malformed(s"zip: $name data runs past EOF")
        val (methodName, bytes) = method match {
          case 0 => ("stored", java.util.Arrays.copyOfRange(d, dataOff, dataOff + compSize.toInt))
          case 8 =>
            // a stream longer than declared is cut there (crc_ok then
            // says so); past the cap the archive is an error row
            val stopAt = math.min(uncompSize, InflateCap.toLong).toInt
            ("deflate", inflate(d, dataOff, compSize.toInt, Raw, stopAt)
              .fold(r => throw Malformed(s"zip: $r"), identity))
          case m => throw Malformed(s"zip: compression method $m is out of scope")
        }
        if (bytes.length != uncompSize)
          throw Malformed(s"zip: $name extracted ${bytes.length} of $uncompSize bytes")
        val check = new java.util.zip.CRC32()
        check.update(bytes)
        out += EntryRec(name, methodName, compSize, uncompSize, check.getValue == crc, bytes)
      }
    }
    (zip64, out.result())
  }

  /** Build a ZIP archive: local headers with up-front sizes, raw
    * DEFLATE or stored per entry, central directory + EOCD. With
    * `zip64 = true` (r19) the central records mask sizes/offsets to
    * 0xFFFFFFFF with 0x0001 extras and the EOCD masks through a
    * Zip64 EOCD record + locator — spec-valid regardless of actual
    * sizes (APPNOTE makes masking the trigger, not the values), so
    * small fixtures exercise the exact walk a 4 GiB drop needs. The
    * `Media.toArchives` adapter / fixture substrate (decode path is
    * the independent python `zipfile` fixture's job).
    */
  def zipBytes(entries: Seq[(String, Array[Byte], Boolean)],
      zip64: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def put16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def put32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    case class Central(name: Array[Byte], method: Int, crc: Long,
        comp: Int, uncomp: Int, off: Int)
    val centrals = entries.map { case (name, data, deflate) =>
      val nameB = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val stored =
        if (!deflate) data
        else {
          val defl = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          try {
            defl.setInput(data)
            defl.finish()
            val buf = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
            val chunk = new Array[Byte](4096)
            while (!defl.finished()) buf.write(chunk, 0, defl.deflate(chunk))
            buf.toByteArray
          } finally defl.end()
        }
      val off = out.size()
      put32(0x04034b50L); put16(20); put16(0); put16(if (deflate) 8 else 0)
      put16(0); put16(0) // DOS time/date: zero (deterministic artifacts)
      put32(crc.getValue); put32(stored.length.toLong); put32(data.length.toLong)
      put16(nameB.length); put16(0)
      out.write(nameB); out.write(stored)
      Central(nameB, if (deflate) 8 else 0, crc.getValue, stored.length, data.length, off)
    }
    def put64(v: Long): Unit = { put32(v & 0xffffffffL); put32(v >>> 32) }
    val cdStart = out.size()
    centrals.foreach { ce =>
      put32(0x02014b50L); put16(if (zip64) 45 else 20); put16(if (zip64) 45 else 20)
      put16(0); put16(ce.method)
      put16(0); put16(0)
      put32(ce.crc)
      if (zip64) { put32(0xffffffffL); put32(0xffffffffL) }
      else { put32(ce.comp.toLong); put32(ce.uncomp.toLong) }
      put16(ce.name.length); put16(if (zip64) 28 else 0); put16(0); put16(0); put16(0)
      put32(0L); put32(if (zip64) 0xffffffffL else ce.off.toLong)
      out.write(ce.name)
      if (zip64) { // 0x0001 extra: uncomp, comp, offset (all masked)
        put16(1); put16(24)
        put64(ce.uncomp.toLong); put64(ce.comp.toLong); put64(ce.off.toLong)
      }
    }
    val cdSize = out.size() - cdStart
    if (zip64) {
      val z64At = out.size()
      put32(0x06064b50L); put64(44L) // record size after this field
      put16(45); put16(45); put32(0L); put32(0L)
      put64(centrals.size.toLong); put64(centrals.size.toLong)
      put64(cdSize.toLong); put64(cdStart.toLong)
      put32(0x07064b50L); put32(0L); put64(z64At.toLong); put32(1L) // locator
      put32(0x06054b50L); put16(0); put16(0)
      put16(0xffff); put16(0xffff)
      put32(0xffffffffL); put32(0xffffffffL); put16(0)
    } else {
      put32(0x06054b50L); put16(0); put16(0)
      put16(centrals.size); put16(centrals.size)
      put32(cdSize.toLong); put32(cdStart.toLong); put16(0)
    }
    out.toByteArray
  }

  // --------------------------------------------------------------- TAR

  /** Extract all regular-file entries of a ustar TAR archive. */
  def readTar(d: Array[Byte]): Either[String, Seq[EntryRec]] = {
    guarded("tar")(Right(readTarInner(d)))
  }

  /** Parse a pax extended-header payload: "%d key=value\n" records
    * where the decimal length counts the WHOLE record including the
    * length digits, the space, and the trailing newline (POSIX
    * pax(1) §Extended Header). Malformed framing aborts.
    */
  private def parsePaxRecords(d: Array[Byte], from: Int, until: Int): Map[String, String] = {
    var m = Map.empty[String, String]
    var p = from
    while (p < until) {
      var q = p
      var len = 0
      while (q < until && d(q) != ' ') {
        val ch = d(q) & 0xff
        if (ch < '0' || ch > '9') throw Malformed("tar: bad pax record length")
        len = len * 10 + (ch - '0')
        if (len > until - from) throw Malformed("tar: pax record length overrun")
        q += 1
      }
      if (q >= until || len < q - p + 2 || p + len > until || d(p + len - 1) != '\n')
        throw Malformed("tar: pax record framing")
      val body = new String(d, q + 1, p + len - 1 - (q + 1),
        java.nio.charset.StandardCharsets.UTF_8)
      val eq = body.indexOf('=')
      if (eq < 0) throw Malformed("tar: pax record without '='")
      m += body.substring(0, eq) -> body.substring(eq + 1)
      p += len
    }
    m
  }

  private def readTarInner(d: Array[Byte]): Seq[EntryRec] = {
    val out = Vector.newBuilder[EntryRec]
    var p = 0
    var zeros = 0
    // GNU 'L' long-name payload, pending application to the NEXT
    // regular entry (r19 — tars with >100-char paths used to extract
    // under their truncated header-local names)
    var pendingLongName: String = null
    // pax state (r20): 'x' records bind to the immediate next entry,
    // 'g' globals apply to everything that follows
    var paxNext: Map[String, String] = null
    var paxGlobal = Map.empty[String, String]
    while (p + 512 <= d.length && zeros < 2) {
      var allZero = true
      var i = p
      while (allZero && i < p + 512) { if (d(i) != 0) allZero = false; i += 1 }
      if (allZero) { zeros += 1; p += 512 }
      else {
        zeros = 0
        def str(off: Int, len: Int): String = {
          var e = off
          while (e < off + len && d(p + e) != 0) e += 1
          new String(d, p + off, e - off, java.nio.charset.StandardCharsets.UTF_8)
        }
        def octal(off: Int, len: Int): Long = {
          var v = 0L
          var i = off
          if ((d(p + off) & 0x80) != 0) {
            // GNU base-256 (r20): flag bit on the first byte, the
            // rest a big-endian binary number — how >8 GiB sizes
            // arrive in non-pax GNU archives
            v = (d(p + off) & 0x7fL)
            i = off + 1
            while (i < off + len) {
              if (v > (Long.MaxValue >> 8)) throw Malformed("tar: base-256 field overflows")
              v = (v << 8) | (d(p + i) & 0xffL)
              i += 1
            }
            return v
          }
          while (i < off + len) {
            val ch = d(p + i) & 0xff
            if (ch >= '0' && ch <= '7') v = v * 8 + (ch - '0')
            else if (ch != ' ' && ch != 0) throw Malformed(s"tar: bad octal digit '${ch.toChar}'")
            i += 1
          }
          v
        }
        val headerSize = octal(124, 12)
        val stated = octal(148, 8)
        // checksum: header bytes with the checksum field read as spaces
        var sum = 0L
        i = 0
        while (i < 512) {
          sum += (if (i >= 148 && i < 156) ' '.toInt else d(p + i) & 0xff)
          i += 1
        }
        val typeflag = d(p + 156)
        val prefix = str(345, 155)
        val name = if (prefix.isEmpty) str(0, 100) else prefix + "/" + str(0, 100)
        val dataStart = p + 512
        // pax size override governs the DATA BLOCKS of the entry it
        // binds to (the header octal may read 0 there — GNU tar's own
        // convention past 8 GiB); metadata records use their header size
        def paxVal(key: String): Option[String] =
          Option(paxNext).flatMap(_.get(key)).orElse(paxGlobal.get(key))
        val size =
          if (typeflag == '0' || typeflag == 0)
            paxVal("size").map { s =>
              // ASCII digits only (Character.isDigit admits Unicode
              // digits) and <= 18 chars: 19-digit values overflow
              // toLong into NumberFormatException, and a parseable
              // near-Long.MaxValue size overflows dataStart + size
              // negative, bypassing the EOF check below
              if (s.isEmpty || s.length > 18 || !s.forall(c => c >= '0' && c <= '9'))
                throw Malformed("tar: bad pax size value")
              s.toLong
            }.getOrElse(headerSize)
          else headerSize
        val blocks = ((size + 511) / 512).toInt
        if (dataStart + size > d.length) throw Malformed(s"tar: $name data runs past EOF")
        if (typeflag == '0' || typeflag == 0) {
          val bytes = java.util.Arrays.copyOfRange(d, dataStart, dataStart + size.toInt)
          // name precedence: pax 'x' path > GNU 'L' > pax 'g' path >
          // the header's own (prefix-joined) name
          val effName = paxVal("path") match {
            case Some(px) if paxNext != null && paxNext.contains("path") => px
            case _ if pendingLongName != null => pendingLongName
            case Some(pg) => pg
            case None => name
          }
          val method = if (paxNext != null) "pax" else "ustar"
          pendingLongName = null
          paxNext = null
          out += EntryRec(effName, method, size, size, sum == stated, bytes)
        } else if (typeflag == 'L') {
          // GNU long name: the data block is the NUL-terminated path
          // of the entry that follows
          var e = dataStart
          val lim = dataStart + size.toInt
          while (e < lim && d(e) != 0) e += 1
          pendingLongName = new String(d, dataStart, e - dataStart,
            java.nio.charset.StandardCharsets.UTF_8)
        } else if (typeflag == 'x') {
          // pax per-file extended header: binds to the next entry
          paxNext = parsePaxRecords(d, dataStart, dataStart + size.toInt)
        } else if (typeflag == 'g') {
          // pax global header: applies to all following entries
          paxGlobal ++= parsePaxRecords(d, dataStart, dataStart + size.toInt)
        } else {
          // dirs, links, other metadata: skipped (and they consume any
          // pending long name / 'x' map, which bind only to the
          // immediate next entry)
          pendingLongName = null
          paxNext = null
        }
        p = dataStart + blocks * 512
      }
    }
    out.result()
  }

  /** Build a ustar TAR archive of regular files (zeroed mtime/uid/gid
    * — deterministic artifacts), ending in two zero blocks.
    */
  def tarBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        System.arraycopy(b, 0, h, off, b.length)
      }
      put(0, name.take(100))
      put(100, "0000644")
      put(108, "0000000")
      put(116, "0000000")
      put(124, f"${data.length}%011o")
      put(136, "00000000000")
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // checksum placeholder
      h(156) = '0'
      put(257, "ustar")
      h(263) = '0'; h(264) = '0' // version "00"
      var sum = 0L
      var i = 0
      while (i < 512) { sum += h(i) & 0xff; i += 1 }
      put(148, f"$sum%06o")
      h(154) = 0; h(155) = ' '
      out.write(h)
      out.write(data)
      val pad = (512 - data.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** One 512-byte ustar header block (zeroed mtime/uid/gid, checksum
    * computed with the field read as spaces) — shared by the pax
    * writer; [[tarBytes]] keeps its original inline form so its
    * artifact bytes stay stable.
    */
  private def tarHeader(name: String, size: Long, typeflag: Char): Array[Byte] = {
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      System.arraycopy(b, 0, h, off, b.length)
    }
    put(0, name.take(100))
    put(100, "0000644")
    put(108, "0000000")
    put(116, "0000000")
    put(124, f"$size%011o")
    put(136, "00000000000")
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    h(156) = typeflag.toByte
    put(257, "ustar")
    h(263) = '0'; h(264) = '0'
    var sum = 0L
    var i = 0
    while (i < 512) { sum += h(i) & 0xff; i += 1 }
    put(148, f"$sum%06o")
    h(154) = 0; h(155) = ' '
    h
  }

  private def paxRecord(key: String, value: String): Array[Byte] = {
    val kv = s" $key=$value\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // length counts its own decimal digits: fix-point over the width
    var len = kv.length + 1
    while (len.toString.length + kv.length != len) len = len.toString.length + kv.length
    len.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ kv
  }

  /** Build a POSIX pax TAR (r20): optional 'g' global header first,
    * then per entry an 'x' extended header carrying `path` (the REAL
    * name) and `size`, followed by the ustar data entry whose header
    * name is truncated and whose size field reads 0 — so extraction
    * under the real name with the right byte count PROVES the pax
    * overrides applied (the GNU >8 GiB convention writes 0 there
    * too). Deterministic like [[tarBytes]]; ends in two zero blocks.
    */
  def tarBytesPax(entries: Seq[(String, Array[Byte])],
      global: Map[String, String] = Map.empty): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def writeData(data: Array[Byte]): Unit = {
      out.write(data)
      out.write(new Array[Byte]((512 - data.length % 512) % 512))
    }
    if (global.nonEmpty) {
      val recs = global.toSeq.sortBy(_._1)
        .map { case (k, v) => paxRecord(k, v) }
        .foldLeft(Array.emptyByteArray)(_ ++ _)
      out.write(tarHeader("pax_global_header", recs.length.toLong, 'g'))
      writeData(recs)
    }
    entries.foreach { case (name, data) =>
      val recs = paxRecord("path", name) ++ paxRecord("size", data.length.toString)
      out.write(tarHeader("PaxHeaders/" + name.take(88), recs.length.toLong, 'x'))
      writeData(recs)
      out.write(tarHeader(name.take(100), 0L, '0'))
      writeData(data)
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  // ------------------------------------------------- DataFrame surface

  /** Documents -> REAL archive payloads, deterministically: even docs
    * become a ZIP carrying the text twice (`doc_<id>_d.txt` DEFLATEd,
    * `doc_<id>_s.txt` stored — both methods on every archive walk),
    * odd docs a ustar TAR carrying it once — and every THIRD odd doc
    * (doc_id%6 == 3, r20) a POSIX pax TAR whose >100-char real path
    * and true size arrive ONLY as 'x' records (ustar header name
    * truncated, size field 0) behind a 'g' global the reader must
    * carry but ignore. The corpus is all-ASCII (the q35/q44 gate
    * assertion), so the q235 oracle recovers every extracted byte
    * straight from the text — a wrong data offset, a misfed
    * raw-DEFLATE window, a broken header checksum, or an unapplied
    * pax override all hash-fail.
    */
  def toArchives(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (id % 2 == 0)
          // r19: every other zip rides Zip64 framing (masked EOCD +
          // 0x0001 extras) — same entries, the modern-drop walk
          Media.MediaRecord(id, "archive", if (id % 4 == 0) "zip64" else "zip",
            zipBytes(Seq(
              (s"doc_${id}_d.txt", bytes, true),
              (s"doc_${id}_s.txt", bytes, false)), zip64 = id % 4 == 0))
        else if (id % 6 == 3)
          Media.MediaRecord(id, "archive", "tar",
            tarBytesPax(Seq((s"pax/${"p" * 110}/doc_$id.txt", bytes)),
              global = Map("graft.round" -> "20")))
        else
          Media.MediaRecord(id, "archive", "tar", tarBytes(Seq((s"doc_$id.txt", bytes))))
      }
      .toDF()
  }

  /** Per-entry extraction rows: one row per regular file across every
    * archive, format routed by magic (not the metadata column — the
    * mixed-content WARC rule). Map-only; see the object doc for the
    * scale shape.
    */
  def listEntries(media: Dataset[Media.MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val parsed: Either[String, (String, Seq[EntryRec])] =
        if (sniffZip(m.data))
          readZipDetailed(m.data).map { case (z64, es) =>
            (if (z64) "zip64" else "zip", es)
          }
        else if (sniffTar(m.data)) readTar(m.data).map(("tar", _))
        else Left("archive: unrecognized container magic")
      parsed match {
        case Right((fmt, entries)) => entries.map { e =>
          (m.media_id, fmt, e.entry_name, e.method, e.comp_size, e.uncomp_size,
            e.crc_ok, new String(e.data, java.nio.charset.StandardCharsets.UTF_8),
            null.asInstanceOf[String])
        }
        case Left(err) =>
          Seq((m.media_id, m.format, null.asInstanceOf[String],
            null.asInstanceOf[String], 0L, 0L, false, null.asInstanceOf[String], err))
      }
    }.toDF("media_id", "archive", "entry_name", "method", "comp_size",
      "uncomp_size", "crc_ok", "text", "err")
  }
}

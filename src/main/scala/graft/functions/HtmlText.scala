package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** HTML boilerplate strip → clean text as one native expression: the
  * byte-scan form of the builtin chain
  * {{{
  *   trim(regexp_replace(<6 entity replaces>(
  *     regexp_replace(<comment/style/script drops>(html), "<[^>]+>", " ")),
  *     "\\s+", " "))
  * }}}
  * without its eleven String decode/encode round trips per row.
  *
  * EXACT-EQUIVALENCE contract (HtmlTextSpec pins it against the chain):
  *  - four removal passes in the chain's order — `<script\b[^>]*>.*?</script>`
  *    and `<style\b…</style>` (ASCII case-insensitive, dot-all), then
  *    `<!--.*?-->`, then `<[^>]+>` — each replacing a match with one
  *    space. They stay separate passes: merged, `<style>a<script>b</style>c</script>d`
  *    would keep `c` instead of `a`.
  *  - one pass for the six entities: every pattern starts with `&`,
  *    ends at its first `;` and no replacement creates a new match, so
  *    one left-to-right pass equals the six sequential replaces.
  *  - one pass collapsing each `[ \t\n\x0B\f\r]+` run to a space, and
  *    `trim`'s strip of spaces at both ends.
  *  - `\b` after the tag name is java.util.regex's word boundary: none
  *    when the next code point is `_`, a letter or digit, or a
  *    non-spacing mark.
  *  - a row that is not valid UTF-8 is first decoded and re-encoded
  *    the way `regexp_replace` sees it (`UTF8String.toString`).
  *
  * Every pass only shrinks the text and reads ahead of where it
  * writes, so all run in place over one copy of the row's bytes.
  */
case class HtmlText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = HtmlText.fnName

  override protected def nullSafeEval(input: Any): Any =
    HtmlText.strip(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HtmlText.strip($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HtmlText {
  val fnName = "html_text"

  private val Script = "script".getBytes("US-ASCII")
  private val Style = "style".getBytes("US-ASCII")

  /** Shared by interpreted eval and generated code. */
  def strip(s: UTF8String): UTF8String = {
    val src = if (s.isValid) s else UTF8String.fromString(s.toString)
    var n = src.numBytes()
    val b = new Array[Byte](n)
    src.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    n = dropBlocks(b, n, Script)
    n = dropBlocks(b, n, Style)
    n = dropComments(b, n)
    n = dropTags(b, n)
    n = decodeEntities(b, n)
    collapseAndTrim(b, n)
  }

  private def lower(c: Byte): Int = if (c >= 'A' && c <= 'Z') c + 32 else c

  /** `name` (lowercase ASCII) at b[at, …), ASCII case-insensitive. */
  private def nameAt(b: Array[Byte], n: Int, at: Int, name: Array[Byte]): Boolean = {
    if (at + name.length > n) return false
    var k = 0
    while (k < name.length) {
      if (lower(b(at + k)) != name(k)) return false
      k += 1
    }
    true
  }

  private def indexOf(b: Array[Byte], n: Int, c: Byte, from: Int): Int = {
    var i = from
    while (i < n) {
      if (b(i) == c) return i
      i += 1
    }
    -1
  }

  /** java.util.regex's `\b` right after a word character: a boundary
    * unless the code point at `at` is a word character (`_`, a letter
    * or a digit) or a non-spacing mark, which joins the preceding
    * letter. `b` is valid UTF-8.
    */
  private def boundaryAfterWord(b: Array[Byte], n: Int, at: Int): Boolean = {
    if (at >= n) return true
    val c0 = b(at) & 0xff
    val cp =
      if (c0 < 0x80) c0
      else if (c0 < 0xe0) ((c0 & 0x1f) << 6) | (b(at + 1) & 0x3f)
      else if (c0 < 0xf0) ((c0 & 0x0f) << 12) | ((b(at + 1) & 0x3f) << 6) | (b(at + 2) & 0x3f)
      else ((c0 & 0x07) << 18) | ((b(at + 1) & 0x3f) << 12) | ((b(at + 2) & 0x3f) << 6) |
        (b(at + 3) & 0x3f)
    !(cp == '_' || Character.isLetterOrDigit(cp) ||
      Character.getType(cp) == Character.NON_SPACING_MARK)
  }

  /** `(?is)<name\b[^>]*>.*?</name>` → " ". Once the `>` or the closing
    * tag is missing after some start, it is missing after every later
    * one, so the pass stops matching there.
    */
  private def dropBlocks(b: Array[Byte], n: Int, name: Array[Byte]): Int = {
    val l = name.length
    var r = 0
    var w = 0
    var open = true
    while (r < n) {
      var end = -1
      if (open && b(r) == '<' && nameAt(b, n, r + 1, name) && boundaryAfterWord(b, n, r + 1 + l)) {
        val gt = indexOf(b, n, '>', r + 1 + l)
        var c = if (gt < 0) n else gt + 1
        while (end < 0 && c + l + 3 <= n) {
          if (b(c) == '<' && b(c + 1) == '/' && nameAt(b, n, c + 2, name) && b(c + 2 + l) == '>')
            end = c + l + 3
          c += 1
        }
        if (end < 0) open = false
      }
      if (end >= 0) { b(w) = ' '; w += 1; r = end }
      else { b(w) = b(r); w += 1; r += 1 }
    }
    w
  }

  /** `(?s)<!--.*?-->` → " ". */
  private def dropComments(b: Array[Byte], n: Int): Int = {
    var r = 0
    var w = 0
    var open = true
    while (r < n) {
      var end = -1
      if (open && b(r) == '<' && r + 3 < n && b(r + 1) == '!' && b(r + 2) == '-' && b(r + 3) == '-') {
        var c = r + 4
        while (end < 0 && c + 2 < n) {
          if (b(c) == '-' && b(c + 1) == '-' && b(c + 2) == '>') end = c + 3
          c += 1
        }
        if (end < 0) open = false
      }
      if (end >= 0) { b(w) = ' '; w += 1; r = end }
      else { b(w) = b(r); w += 1; r += 1 }
    }
    w
  }

  /** `<[^>]+>` → " ". */
  private def dropTags(b: Array[Byte], n: Int): Int = {
    var r = 0
    var w = 0
    var open = true
    while (r < n) {
      var end = -1
      if (open && b(r) == '<' && r + 1 < n && b(r + 1) != '>') {
        val gt = indexOf(b, n, '>', r + 2)
        if (gt < 0) open = false else end = gt + 1
      }
      if (end >= 0) { b(w) = ' '; w += 1; r = end }
      else { b(w) = b(r); w += 1; r += 1 }
    }
    w
  }

  private val Entities: Array[(Array[Byte], Byte)] = Array(
    "lt;" -> '<', "gt;" -> '>', "quot;" -> '"', "#39;" -> '\'', "nbsp;" -> ' ', "amp;" -> '&')
    .map { case (e, c) => (e.getBytes("US-ASCII"), c.toByte) }

  private def decodeEntities(b: Array[Byte], n: Int): Int = {
    var r = 0
    var w = 0
    while (r < n) {
      var end = -1
      if (b(r) == '&') {
        var k = 0
        while (end < 0 && k < Entities.length) {
          val (e, c) = Entities(k)
          if (r + 1 + e.length <= n && java.util.Arrays.equals(b, r + 1, r + 1 + e.length, e, 0, e.length)) {
            b(w) = c
            end = r + 1 + e.length
          }
          k += 1
        }
      }
      if (end >= 0) { w += 1; r = end }
      else { b(w) = b(r); w += 1; r += 1 }
    }
    w
  }

  private def isSpace(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  /** `\s+` → " ", then strip the spaces at both ends. */
  private def collapseAndTrim(b: Array[Byte], n: Int): UTF8String = {
    var r = 0
    var w = 0
    while (r < n) {
      if (isSpace(b(r))) {
        while (r < n && isSpace(b(r))) r += 1
        if (w > 0) { b(w) = ' '; w += 1 }
      } else { b(w) = b(r); w += 1; r += 1 }
    }
    if (w > 0 && b(w - 1) == ' ') w -= 1
    UTF8String.fromBytes(b, 0, w)
  }
}

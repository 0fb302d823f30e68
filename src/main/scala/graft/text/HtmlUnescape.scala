package graft.text

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for HTML-entity unescape (reference:
  * embed.py:31, Python `html.unescape` semantics on the covered entity
  * surface — see `TextOps.namedEntities` / `TextOps.numericRemap`).
  *
  * Covered surface: SEMICOLON-TERMINATED references — the ~80-entry
  * named table plus all numeric/hex charrefs (with CPython's remap,
  * replacement and drop tables in full). CPython additionally decodes
  * semicolon-LESS legacy forms (`&amp` → `&`, `&#65` → `A`, longest-
  * prefix named matching); those deliberately pass through untouched
  * here, and TextOpsSpec pins that boundary. The DuckDB twin
  * (`Helpers.htmlUnescapeSql`) and the column form are generated from
  * the same tables and share the boundary exactly, so cross-engine
  * parity holds everywhere, including where the surface diverges from
  * CPython.
  *
  * Why native: `cleanText` runs over every document in every text query
  * (~30 registered queries), and the pure-column formulation
  * (`TextOps.htmlUnescapeCols` — regexp-mark, split, per-segment decode
  * case-when) costs 2-4× the whole query at sf0.1. This expression is a
  * single left-to-right scan with an early exit when the string contains
  * no `&` at all (the overwhelmingly common case), and a HashMap lookup
  * per candidate reference otherwise. TextOpsSpec pins equality against
  * both the CPython vectors and the column formulation; the DuckDB
  * oracle twin (`Helpers.htmlUnescapeSql`) is generated from the same
  * entity tables.
  *
  * Matching is single-pass and non-overlapping exactly like CPython's
  * `_charref` regex sweep: decoded output is never re-scanned, so
  * `&amp;lt;` → `&lt;` (not `<`). Unrecognized references pass through
  * untouched.
  */
case class HtmlUnescape(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${dt.catalogString}")
  }

  override def prettyName: String = HtmlUnescape.fnName
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    HtmlUnescape.unescapeU8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.HtmlUnescape.unescapeU8($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HtmlUnescape {
  val fnName = "html_unescape"

  private val AMP: UTF8String = UTF8String.fromString("&")

  private lazy val named: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    TextOps.namedEntities.foreach { case (k, v) => m.put(k, v) }
    m
  }
  private lazy val maxNameLen: Int = TextOps.namedEntities.map(_._1.length).max

  private lazy val remap: java.util.HashMap[java.lang.Long, String] = {
    val m = new java.util.HashMap[java.lang.Long, String]()
    TextOps.numericRemap.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Fast path: a byte scan for '&' avoids the String round-trip for
    * entity-free rows (the common case in real corpora).
    */
  def unescapeU8(u: UTF8String): UTF8String =
    if (!u.contains(AMP)) u
    else UTF8String.fromString(unescape(u.toString))

  /** chrUnicode semantics shared with the column/SQL forms: remap table
    * first (so 0x00 and 0x80-0x9F never reach the drop set), then
    * surrogates / out-of-range → U+FFFD, then CPython's
    * _invalid_codepoints DROP set → "", else the codepoint itself.
    */
  private def decodeCodepoint(code: Long): String = {
    val r = remap.get(code)
    if (r != null) r
    else if (code <= 0L || (code >= 0xD800L && code <= 0xDFFFL) || code > 0x10FFFFL)
      "�"
    else if ((code >= 0x01L && code <= 0x08L) || code == 0x0bL ||
        (code >= 0x0eL && code <= 0x1fL) || code == 0x7fL ||
        (code >= 0xfdd0L && code <= 0xfdefL) || (code % 0x10000L >= 0xfffeL)) ""
    else new String(Character.toChars(code.toInt))
  }

  /** Strip leading zeros (keep ≥1 digit) then bound the significant
    * length BEFORE parsing — ≤7 decimal / ≤6 hex digits covers
    * 0x10FFFF; anything longer is out-of-range without overflow risk.
    * Same scheme as the ltrim/len guards in the column and SQL forms.
    */
  private def parseBounded(digits: String, hex: Boolean): Long = {
    var z = 0
    while (z < digits.length - 1 && digits.charAt(z) == '0') z += 1
    val sig = digits.substring(z)
    if (hex) { if (sig.length <= 6) java.lang.Long.parseLong(sig, 16) else 0x110000L }
    else { if (sig.length <= 7) java.lang.Long.parseLong(sig) else 0x110000L }
  }

  private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  private def isAlnum(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** Try to match a covered character reference starting at `i`
    * (`s(i) == '&'`). Returns (endExclusive, decoded) or null.
    */
  private def matchRef(s: String, i: Int): (Int, String) = {
    val n = s.length
    if (i + 1 >= n) return null
    if (s.charAt(i + 1) == '#') {
      var j = i + 2
      val hex = j < n && (s.charAt(j) == 'x' || s.charAt(j) == 'X')
      if (hex) j += 1
      val d0 = j
      if (hex) while (j < n && isHexDigit(s.charAt(j))) j += 1
      else while (j < n && s.charAt(j) >= '0' && s.charAt(j) <= '9') j += 1
      if (j == d0 || j >= n || s.charAt(j) != ';') return null
      (j + 1, decodeCodepoint(parseBounded(s.substring(d0, j), hex)))
    } else {
      var j = i + 1
      val lim = math.min(n, i + 1 + maxNameLen)
      while (j < lim && isAlnum(s.charAt(j))) j += 1
      if (j >= n || s.charAt(j) != ';') return null
      val v = named.get(s.substring(i + 1, j))
      if (v == null) null else (j + 1, v)
    }
  }

  def unescape(s: String): String = {
    var amp = s.indexOf('&')
    if (amp < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    while (amp >= 0) {
      val m = matchRef(s, amp)
      if (m != null) {
        sb.append(s, last, amp).append(m._2)
        last = m._1
        amp = s.indexOf('&', m._1)
      } else {
        amp = s.indexOf('&', amp + 1)
      }
    }
    sb.append(s, last, s.length)
    sb.toString
  }
}

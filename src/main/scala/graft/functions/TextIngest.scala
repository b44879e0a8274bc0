package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Charset sniffing + HTML character-reference decoding — the two
  * text-ingest steps between "bytes off the wire" (utf8_sanitize,
  * strip_html) and a clean corpus string. Both are per-row kernels:
  * no shuffle, 100 TB shape. */
object TextIngest {

  /** BOM-first charset sniff (the W3C/WHATWG precedence: 32-bit BOMs
    * before their 16-bit prefixes), then content heuristics:
    *   'utf-32be' | 'utf-32le' | 'utf-16be' | 'utf-16le' | 'utf-8-bom'
    *   — by BOM;
    *   'ascii'    — no BOM, every byte < 0x80;
    *   'utf-8'    — no BOM, valid UTF-8 with at least one multibyte;
    *   'binary'   — not UTF-8 and contains NUL;
    *   'legacy-8bit' — not UTF-8, no NUL (Latin-1/Windows-125x family;
    *                   WHICH one is undecidable without a language
    *                   model, so the sniff stops at the family).
    * Empty input reports 'ascii' (vacuously 7-bit). */
  def sniff(b: Array[Byte]): String = {
    if (b == null) return null
    val n = b.length
    @inline def at(i: Int): Int = b(i) & 0xff
    if (n >= 4 && at(0) == 0 && at(1) == 0 && at(2) == 0xfe && at(3) == 0xff)
      return "utf-32be"
    if (n >= 4 && at(0) == 0xff && at(1) == 0xfe && at(2) == 0 && at(3) == 0)
      return "utf-32le"
    if (n >= 2 && at(0) == 0xfe && at(1) == 0xff) return "utf-16be"
    if (n >= 2 && at(0) == 0xff && at(1) == 0xfe) return "utf-16le"
    if (n >= 3 && at(0) == 0xef && at(1) == 0xbb && at(2) == 0xbf)
      return "utf-8-bom"
    val (valid, _, _, nAscii, n2, n3, n4, _) = Utf8.scan(b, build = false)
    if (valid && n2 + n3 + n4 == 0) return "ascii"
    if (valid) return "utf-8"
    var hasNul = false
    var i = 0
    while (i < n && !hasNul) { hasNul = b(i) == 0; i += 1 }
    val _ = nAscii // counts unused beyond the branch above
    if (hasNul) "binary" else "legacy-8bit"
  }

  /** HTML5 §13.5 numeric-reference error table: code points in the
    * C1 range 0x80..0x9F decode as their WINDOWS-1252 glyphs (the
    * browsers-forever quirk; &#x80; is '€', not a control char). */
  private val c1Remap: Map[Int, Int] = Map(
    0x80 -> 0x20ac, 0x82 -> 0x201a, 0x83 -> 0x0192, 0x84 -> 0x201e,
    0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02c6,
    0x89 -> 0x2030, 0x8a -> 0x0160, 0x8b -> 0x2039, 0x8c -> 0x0152,
    0x8e -> 0x017d, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201c,
    0x94 -> 0x201d, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
    0x98 -> 0x02dc, 0x99 -> 0x2122, 0x9a -> 0x0161, 0x9b -> 0x203a,
    0x9c -> 0x0153, 0x9e -> 0x017e, 0x9f -> 0x0178)

  /** Pinned named-entity subset (the high-frequency web set; the full
    * HTML5 table is 2k+ names — unknown names pass through VERBATIM,
    * which is the safe behavior for a corpus pipeline). */
  private val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "copy" -> "©",
    "reg" -> "®", "trade" -> "™", "deg" -> "°",
    "middot" -> "·", "laquo" -> "«", "raquo" -> "»",
    "ndash" -> "–", "mdash" -> "—", "lsquo" -> "‘",
    "rsquo" -> "’", "ldquo" -> "“", "rdquo" -> "”",
    "hellip" -> "…", "bull" -> "•", "sect" -> "§",
    "para" -> "¶", "times" -> "×", "divide" -> "÷",
    "euro" -> "€", "pound" -> "£", "yen" -> "¥",
    "cent" -> "¢", "eacute" -> "é", "egrave" -> "è",
    "agrave" -> "à", "ccedil" -> "ç", "uuml" -> "ü",
    "ouml" -> "ö", "auml" -> "ä", "szlig" -> "ß",
    "ntilde" -> "ñ", "aring" -> "å", "oslash" -> "ø")

  /** Decode `&name;`, `&#NNN;`, `&#xHH;` references. Scope (stated):
    * the semicolon is REQUIRED (HTML5's semicolon-less legacy set is
    * an attribute-context quirk a text pipeline should not replicate);
    * names are bounded at 32 chars; numeric references that land on
    * surrogates, 0x00, or above 0x10FFFF decode to U+FFFD (HTML5
    * §13.2.5.80); C1 controls remap per the Windows-1252 table;
    * anything unrecognized passes through verbatim. */
  def decodeEntities(s: String): String = {
    if (s == null) return null
    val amp = s.indexOf('&')
    if (amp < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(s, 0, amp)
    var i = amp
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c != '&') { sb.append(c); i += 1 }
      else {
        // bounded lookahead: names are capped at 32 chars, so never
        // scan further — an unbounded indexOf would make a long
        // ampersand-dense document quadratic
        var semi = -1
        var j = i + 1
        val lim = math.min(n, i + 34)
        while (semi < 0 && j < lim) {
          if (s.charAt(j) == ';') semi = j
          j += 1
        }
        val end = semi
        if (end < 0) { sb.append(c); i += 1 }
        else {
          val body = s.substring(i + 1, end)
          val decoded: String =
            if (body.startsWith("#x") || body.startsWith("#X")) {
              val hex = body.substring(2)
              if (hex.nonEmpty && hex.length <= 6 &&
                  hex.forall(ch => Character.digit(ch, 16) >= 0))
                codePointToString(java.lang.Integer.parseInt(hex, 16))
              else null
            } else if (body.startsWith("#")) {
              val dec = body.substring(1)
              if (dec.nonEmpty && dec.length <= 7 && dec.forall(_.isDigit))
                codePointToString(java.lang.Integer.parseInt(dec))
              else null
            } else named.getOrElse(body, null)
          if (decoded == null) { sb.append('&'); i += 1 } // verbatim
          else { sb.append(decoded); i = end + 1 }
        }
      }
    }
    sb.toString
  }

  /** Quoted-printable decode (RFC 2045 §6.7) — the 7-bit-safe encoding
    * of email/MIME corpora: `=XX` decodes to a byte, a `=` at
    * line end is a SOFT BREAK (removed, joining the lines), trailing
    * spaces/tabs before a line break are transport padding (removed),
    * and any malformed `=` sequence passes through VERBATIM (the
    * robustness rule §6.7(4) recommends). Decoded bytes re-enter text
    * through the maximal-subpart UTF-8 repair. */
  def decodeQuotedPrintable(s: String): String = {
    if (s == null) return null
    val bytes = new java.io.ByteArrayOutputStream(s.length)
    val n = s.length
    var i = 0
    @inline def hex(c: Char): Int = Character.digit(c, 16)
    while (i < n) {
      val c = s.charAt(i)
      if (c == '=') {
        if (i + 2 < n && hex(s.charAt(i + 1)) >= 0 && hex(s.charAt(i + 2)) >= 0) {
          bytes.write((hex(s.charAt(i + 1)) << 4) | hex(s.charAt(i + 2)))
          i += 3
        } else if (i + 2 <= n && s.charAt(i + 1) == '\r' &&
            i + 2 < n && s.charAt(i + 2) == '\n') { i += 3 } // soft CRLF
        else if (i + 1 < n && (s.charAt(i + 1) == '\n' || s.charAt(i + 1) == '\r')) {
          i += 2 // soft break, bare LF/CR tolerated
        } else if (i + 1 == n) { i += 1 } // trailing '=' at end: soft
        else { bytes.write('='); i += 1 } // malformed: verbatim
      } else if (c == ' ' || c == '\t') {
        // transport padding: spaces/tabs are dropped only when nothing
        // but more whitespace stands between them and the line break
        var j = i
        while (j < n && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
        if (j >= n || s.charAt(j) == '\r' || s.charAt(j) == '\n') i = j
        else {
          while (i < j) { bytes.write(s.charAt(i)); i += 1 }
        }
      } else if (c < 0x80) { bytes.write(c); i += 1 }
      else {
        val cp = s.codePointAt(i)
        val enc = new String(Character.toChars(cp)).getBytes("UTF-8")
        bytes.write(enc, 0, enc.length)
        i += Character.charCount(cp)
      }
    }
    Utf8.scan(bytes.toByteArray, build = true)._8
  }

  private def codePointToString(cpRaw: Int): String = {
    val cp = c1Remap.getOrElse(cpRaw, cpRaw)
    if (cp <= 0 || cp > 0x10ffff || (cp >= 0xd800 && cp <= 0xdfff)) "\uFFFD"
    else new String(Character.toChars(cp))
  }
}

/** `charset_sniff(binary)` -> string label per [[TextIngest.sniff]]. */
case class CharsetSniff(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(TextIngest.sniff(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): CharsetSniff =
    copy(child = newChild)
  override def prettyName: String = "charset_sniff"
}

/** `html_entity_decode(string)` -> string per
  * [[TextIngest.decodeEntities]]. */
case class HtmlEntityDecode(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      TextIngest.decodeEntities(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(newChild: Expression): HtmlEntityDecode =
    copy(child = newChild)
  override def prettyName: String = "html_entity_decode"
}

/** `qp_decode(string)` per [[TextIngest.decodeQuotedPrintable]]. */
case class QpDecode(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(TextIngest.decodeQuotedPrintable(
      input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(newChild: Expression): QpDecode =
    copy(child = newChild)
  override def prettyName: String = "qp_decode"
}

object textingest {
  def charset_sniff(blob: Column): Column =
    ColumnBridge.column(CharsetSniff(ColumnBridge.expression(blob)))
  def html_entity_decode(s: Column): Column =
    ColumnBridge.column(HtmlEntityDecode(ColumnBridge.expression(s)))
  def qp_decode(s: Column): Column =
    ColumnBridge.column(QpDecode(ColumnBridge.expression(s)))
}

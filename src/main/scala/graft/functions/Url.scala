package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** URL parsing + normalization for web-corpus pipelines: the key step
  * before host-level grouping (crawl politeness, per-domain caps,
  * domain blocklists) and URL-level dedup — a corpus keyed on raw URL
  * strings treats `HTTP://X.COM:80/a` and `http://x.com/a` as
  * different documents; keyed on the normalized form it does not.
  *
  * Pinned subset of RFC 3986 (stated, not implied):
  *   - absolute URLs with an authority: `scheme://host[:port]path…`;
  *     scheme = ALPHA (ALPHA/DIGIT/+/-/.)*, host non-empty and
  *     userinfo-free ('@' in the authority → malformed), port all
  *     digits ≤ 65535;
  *   - path runs to '?' or '#'; query to '#'; fragment to the end —
  *     all possibly empty;
  *   - NORMALIZATION: scheme and host lowercased, default ports
  *     dropped (http:80, https:443), empty path → "/", fragment
  *     stripped (never sent to the server), query kept byte-exact
  *     (parameter ORDER is semantic for some endpoints — sorting
  *     would conflate distinct resources).
  * Anything outside the subset returns null (PERMISSIVE — malformed
  * URLs route, they do not fail the scan). Per-row kernel: no
  * shuffle, dictionary-free, 100 TB shape. */
object Url {

  final case class Parsed(scheme: String, host: String, port: Int,
      path: String, query: String, fragment: String) {
    def normalized: String = {
      val sch = scheme.toLowerCase(java.util.Locale.ROOT)
      val h = host.toLowerCase(java.util.Locale.ROOT)
      val defaultPort = sch match {
        case "http" => 80
        case "https" => 443
        case _ => -1
      }
      val p = if (port < 0 || port == defaultPort) "" else s":$port"
      val pa = if (path.isEmpty) "/" else path
      val q = if (query.isEmpty) "" else s"?$query"
      s"$sch://$h$p$pa$q"
    }
  }

  def parse(s: String): Option[Parsed] = {
    if (s == null || s.isEmpty) return None
    val si = s.indexOf("://")
    if (si <= 0) return None
    val scheme = s.substring(0, si)
    // RFC 3986 scheme chars are ASCII only — Char.isLetter would admit
    // Unicode letters ("héttp://…") the spec rejects
    def alpha(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    if (!alpha(scheme.head) ||
      !scheme.forall(c => alpha(c) || (c >= '0' && c <= '9') ||
        c == '+' || c == '-' || c == '.'))
      return None
    val rest = s.substring(si + 3)
    var authEnd = rest.length
    var i = 0
    var found = false
    while (i < rest.length && !found) {
      val c = rest.charAt(i)
      if (c == '/' || c == '?' || c == '#') { authEnd = i; found = true }
      i += 1
    }
    val auth = rest.substring(0, authEnd)
    if (auth.isEmpty || auth.contains('@')) return None // userinfo: out of scope
    val (host, port) = auth.lastIndexOf(':') match {
      case -1 => (auth, -1)
      case ci =>
        val ps = auth.substring(ci + 1)
        if (ps.isEmpty || !ps.forall(_.isDigit) || ps.length > 5) return None
        val p = ps.toInt
        if (p > 65535) return None
        (auth.substring(0, ci), p)
    }
    if (host.isEmpty) return None
    val tail = rest.substring(authEnd)
    val hi = tail.indexOf('#')
    val (beforeFrag, frag) =
      if (hi < 0) (tail, "") else (tail.substring(0, hi), tail.substring(hi + 1))
    val qi = beforeFrag.indexOf('?')
    val (path, query) =
      if (qi < 0) (beforeFrag, "")
      else (beforeFrag.substring(0, qi), beforeFrag.substring(qi + 1))
    Some(Parsed(scheme, host, port, path, query, frag))
  }
}

/** `url_parse(string)` -> struct(scheme, host, port, path, query,
  * fragment, normalized) per [[Url]]'s pinned subset, or null. */
case class UrlParse(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("scheme", StringType), StructField("host", StringType),
    StructField("port", IntegerType), StructField("path", StringType),
    StructField("query", StringType), StructField("fragment", StringType),
    StructField("normalized", StringType)))
  override def nullable: Boolean = true
  override def inputTypes = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    Url.parse(input.asInstanceOf[UTF8String].toString) match {
      case None => null
      case Some(p) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(p.scheme), UTF8String.fromString(p.host),
          p.port, UTF8String.fromString(p.path), UTF8String.fromString(p.query),
          UTF8String.fromString(p.fragment), UTF8String.fromString(p.normalized)))
    }
  override protected def withNewChildInternal(newChild: Expression): UrlParse =
    copy(child = newChild)
  override def prettyName: String = "url_parse"
}

/** Percent-decoding per the WHATWG URL standard's forgiving rule: a
  * '%' followed by two hex digits decodes to that byte; anything else
  * (bare '%', truncated, non-hex) passes through VERBATIM — never an
  * error, which is what a crawler needs (java.net.URLDecoder throws).
  * The decoded BYTES then re-enter text via utf8_sanitize-equivalent
  * decoding here (maximal-subpart U+FFFD), so `%C3%A9` is 'é' and a
  * lone `%C3` is U+FFFD. `plusAsSpace` applies the
  * application/x-www-form-urlencoded variant. */
object PercentDecode {
  def decode(s: String, plusAsSpace: Boolean): String = {
    if (s == null) return null
    if (s.indexOf('%') < 0 && !(plusAsSpace && s.indexOf('+') >= 0)) return s
    val bytes = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    val n = s.length
    @inline def hex(c: Char): Int = Character.digit(c, 16)
    while (i < n) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < n && hex(s.charAt(i + 1)) >= 0 &&
          hex(s.charAt(i + 2)) >= 0) {
        bytes.write((hex(s.charAt(i + 1)) << 4) | hex(s.charAt(i + 2)))
        i += 3
      } else if (c == '+' && plusAsSpace) { bytes.write(' '); i += 1 }
      else {
        // copy the char's UTF-8 bytes through untouched
        val cp = s.codePointAt(i)
        val enc = new String(Character.toChars(cp)).getBytes("UTF-8")
        bytes.write(enc, 0, enc.length)
        i += Character.charCount(cp)
      }
    }
    Utf8.scan(bytes.toByteArray, build = true)._8
  }
}

/** `percent_decode(string, plus_as_space)` per [[PercentDecode]]. */
case class PercentDecodeExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes = Seq(StringType, BooleanType)
  override def nullSafeEval(sA: Any, pA: Any): Any =
    UTF8String.fromString(PercentDecode.decode(
      sA.asInstanceOf[UTF8String].toString, pA.asInstanceOf[Boolean]))
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): PercentDecodeExpr = copy(left = l, right = r)
  override def prettyName: String = "percent_decode"
}

object url {
  def url_parse(u: Column): Column =
    ColumnBridge.column(UrlParse(ColumnBridge.expression(u)))
  def percent_decode(s: Column, plusAsSpace: Column): Column =
    ColumnBridge.column(PercentDecodeExpr(ColumnBridge.expression(s),
      ColumnBridge.expression(plusAsSpace)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Punycode (RFC 3492) + the IDNA `xn--` label convention — the
  * encoding behind every internationalized hostname. A web corpus
  * keyed on raw hosts treats `xn--mnchen-3ya.de` and `münchen.de` as
  * different publishers; decoded they are one. Both directions
  * implemented (encode exists so the spec can round-trip arbitrary
  * labels — external correctness is pinned by the RFC's own
  * arithmetic plus well-known vectors).
  *
  * The generalized-variable-length-integer machinery follows the RFC
  * text exactly: base 36, tmin 1, tmax 26, skew 38, damp 700,
  * initial bias 72, initial n 128, with the bias adaptation loop and
  * overflow checks. Decode errors (bad digit, truncated, overflow,
  * code point out of range/surrogate) → None; `idnaDecode` maps any
  * bad label to None for the whole host (PERMISSIVE null routing). */
object Punycode {

  private final val Base = 36
  private final val TMin = 1
  private final val TMax = 26
  private final val Skew = 38
  private final val Damp = 700
  private final val InitialBias = 72
  private final val InitialN = 128

  private def adapt(deltaIn: Int, numPoints: Int, firstTime: Boolean): Int = {
    var delta = if (firstTime) deltaIn / Damp else deltaIn / 2
    delta += delta / numPoints
    var k = 0
    while (delta > ((Base - TMin) * TMax) / 2) {
      delta /= Base - TMin
      k += Base
    }
    k + ((Base - TMin + 1) * delta) / (delta + Skew)
  }

  private def digitValue(c: Char): Int =
    if (c >= 'a' && c <= 'z') c - 'a'
    else if (c >= 'A' && c <= 'Z') c - 'A'
    else if (c >= '0' && c <= '9') c - '0' + 26
    else -1

  /** Decode one punycode label (WITHOUT the xn-- prefix). */
  def decode(input: String): Option[String] = {
    if (input == null) return None
    val lastDelim = input.lastIndexOf('-')
    val basic = if (lastDelim < 0) "" else input.substring(0, lastDelim)
    if (basic.exists(_ >= 0x80)) return None
    val out = new java.lang.StringBuilder(basic)
    // work on code points; basic is ASCII so chars == code points
    var cps = basic.toCharArray.map(_.toInt).toVector
    var p = if (lastDelim < 0) 0 else lastDelim + 1
    var i = 0
    var n = InitialN
    var bias = InitialBias
    while (p < input.length) {
      val oldi = i
      var w = 1
      var k = Base
      var done = false
      while (!done) {
        if (p >= input.length) return None
        val digit = digitValue(input.charAt(p)); p += 1
        if (digit < 0) return None
        if (digit > (Int.MaxValue - i) / w) return None // overflow
        i += digit * w
        val t = if (k <= bias) TMin else if (k >= bias + TMax) TMax else k - bias
        if (digit < t) done = true
        else {
          if (w > Int.MaxValue / (Base - t)) return None
          w *= Base - t
          k += Base
        }
      }
      val count = cps.length + 1
      bias = adapt(i - oldi, count, oldi == 0)
      if (i / count > Int.MaxValue - n) return None
      n += i / count
      i %= count
      if (n > 0x10ffff || (n >= 0xd800 && n <= 0xdfff) || n < 0x80) return None
      cps = (cps.take(i) :+ n) ++ cps.drop(i)
      i += 1
    }
    val sb = new java.lang.StringBuilder()
    cps.foreach(cp => sb.appendCodePoint(cp))
    Some(sb.toString)
  }

  /** Encode one label to punycode (no xn-- prefix added). */
  def encode(input: String): Option[String] = {
    if (input == null) return None
    val cps = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < input.length) {
        val cp = input.codePointAt(i)
        buf += cp
        i += Character.charCount(cp)
      }
      buf.toVector
    }
    val basic = cps.filter(_ < 0x80)
    val out = new java.lang.StringBuilder()
    basic.foreach(cp => out.append(cp.toChar))
    val basicLen = basic.length
    // RFC 3492: the delimiter is present iff there ARE basic code
    // points — even when nothing follows (pure-ASCII "w" -> "w-"),
    // cf. the RFC's own sample (T) ending in "<--"
    if (basicLen > 0) out.append('-')
    var handled = basicLen
    var n = InitialN
    var delta = 0
    var bias = InitialBias
    while (handled < cps.length) {
      var m = Int.MaxValue
      cps.foreach(cp => if (cp >= n && cp < m) m = cp)
      if (m - n > (Int.MaxValue - delta) / (handled + 1)) return None
      delta += (m - n) * (handled + 1)
      n = m
      cps.foreach { cp =>
        if (cp < n) {
          delta += 1
          if (delta == Int.MaxValue) return None
        }
        if (cp == n) {
          var q = delta
          var k = Base
          var done = false
          while (!done) {
            val t = if (k <= bias) TMin else if (k >= bias + TMax) TMax else k - bias
            if (q < t) done = true
            else {
              out.append(digitChar(t + (q - t) % (Base - t)))
              q = (q - t) / (Base - t)
              k += Base
            }
          }
          out.append(digitChar(q))
          bias = adapt(delta, handled + 1, handled == basicLen)
          delta = 0
          handled += 1
        }
      }
      delta += 1
      n += 1
    }
    Some(out.toString)
  }

  private def digitChar(d: Int): Char =
    if (d < 26) ('a' + d).toChar else ('0' + d - 26).toChar

  /** Decode every `xn--` label of a hostname; a bad label nulls the
    * host. Case-insensitive prefix; non-IDNA labels pass verbatim. */
  def idnaDecode(host: String): Option[String] = {
    if (host == null) return None
    val labels = host.split("\\.", -1)
    val out = new Array[String](labels.length)
    var i = 0
    while (i < labels.length) {
      val l = labels(i)
      if (l.length >= 4 && l.substring(0, 4).equalsIgnoreCase("xn--")) {
        decode(l.substring(4)) match {
          case Some(d) => out(i) = d
          case None => return None
        }
      } else out(i) = l
      i += 1
    }
    Some(out.mkString("."))
  }
}

/** `idna_decode(host)` -> the Unicode hostname, or null when any
  * xn-- label is invalid punycode. */
case class IdnaDecode(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def inputTypes = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    Punycode.idnaDecode(input.asInstanceOf[UTF8String].toString) match {
      case Some(s) => UTF8String.fromString(s)
      case None => null
    }
  override protected def withNewChildInternal(newChild: Expression): IdnaDecode =
    copy(child = newChild)
  override def prettyName: String = "idna_decode"
}

object punycode {
  def idna_decode(host: Column): Column =
    ColumnBridge.column(IdnaDecode(ColumnBridge.expression(host)))
}

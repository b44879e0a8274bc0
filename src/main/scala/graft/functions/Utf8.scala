package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** UTF-8 validation and repair — the FIRST transform of any web-scale
  * text ingest: crawled bytes are declared-charset-unreliable, and a
  * pipeline that feeds malformed bytes into tokenizers/dedup gets
  * undefined downstream behavior. The kernel is the WHATWG Encoding
  * Standard's UTF-8 decoder (the one browsers run), which is RFC 3629
  * strict — overlong forms, UTF-16 surrogates (U+D800..DFFF), and
  * code points above U+10FFFF are errors — with the standard
  * "maximal subpart" substitution policy (Unicode §3.9 best practice):
  * each maximal prefix of a valid sequence is replaced by ONE U+FFFD,
  * and the offending byte is then re-examined as a potential lead.
  * So 0xC0 0xAF (overlong) is TWO replacements, 0xED 0xA0 0x80
  * (surrogate half) is THREE, and a truncated 4-byte tail 0xF0 0x9F
  * 0x98 is ONE. Those counts are pinned by the oracle-gated query.
  *
  * Per-row kernels, no shuffle — the 100 TB shape. */
object Utf8 {

  /** One pass over the bytes. Returns
    * (valid, nChars, nReplacements, nAscii, n2, n3, n4) and, when
    * `build` is set, the sanitized string (U+FFFD substituted). */
  def scan(b: Array[Byte], build: Boolean): (Boolean, Long, Long, Long, Long, Long, Long, String) = {
    val sb = if (build) new java.lang.StringBuilder(b.length) else null
    var nAscii = 0L; var n2 = 0L; var n3 = 0L; var n4 = 0L
    var repl = 0L
    var cp = 0
    var needed = 0
    var seen = 0 // bytes consumed of the current sequence (for class counts)
    var lower = 0x80
    var upper = 0xbf
    var i = 0
    @inline def substitute(): Unit = {
      repl += 1
      if (build) sb.append('\uFFFD')
    }
    @inline def emit(c: Int, len: Int): Unit = {
      len match {
        case 1 => nAscii += 1
        case 2 => n2 += 1
        case 3 => n3 += 1
        case _ => n4 += 1
      }
      if (build) {
        if (c < 0x10000) sb.append(c.toChar)
        else {
          val v = c - 0x10000
          sb.append((0xd800 | (v >> 10)).toChar)
          sb.append((0xdc00 | (v & 0x3ff)).toChar)
        }
      }
    }
    while (i < b.length) {
      val byte = b(i) & 0xff
      if (needed == 0) {
        if (byte <= 0x7f) { emit(byte, 1); i += 1 }
        else if (byte >= 0xc2 && byte <= 0xdf) {
          needed = 1; seen = 1; cp = byte & 0x1f; i += 1
        } else if (byte >= 0xe0 && byte <= 0xef) {
          if (byte == 0xe0) lower = 0xa0
          else if (byte == 0xed) upper = 0x9f
          needed = 2; seen = 1; cp = byte & 0xf; i += 1
        } else if (byte >= 0xf0 && byte <= 0xf4) {
          if (byte == 0xf0) lower = 0x90
          else if (byte == 0xf4) upper = 0x8f
          needed = 3; seen = 1; cp = byte & 0x7; i += 1
        } else { // stray continuation, C0/C1 overlong lead, F5..FF
          substitute(); i += 1
        }
      } else {
        if (byte >= lower && byte <= upper) {
          cp = (cp << 6) | (byte & 0x3f)
          lower = 0x80; upper = 0xbf
          needed -= 1; seen += 1; i += 1
          if (needed == 0) emit(cp, seen)
        } else {
          // maximal subpart consumed so far -> one replacement; the
          // offending byte is NOT consumed — it restarts as a lead
          substitute()
          needed = 0; lower = 0x80; upper = 0xbf
        }
      }
    }
    if (needed != 0) substitute() // truncated trailing sequence
    val nChars = nAscii + n2 + n3 + n4 + repl
    (repl == 0, nChars, repl, nAscii, n2, n3, n4,
      if (build) sb.toString else null)
  }
}

/** `utf8_stats(binary)` -> struct(valid, n_chars, n_replacements,
  * n_ascii, n_2byte, n_3byte, n_4byte) under the WHATWG decoder with
  * maximal-subpart substitution (see [[Utf8]]). */
case class Utf8Stats(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("valid", BooleanType), StructField("n_chars", LongType),
    StructField("n_replacements", LongType), StructField("n_ascii", LongType),
    StructField("n_2byte", LongType), StructField("n_3byte", LongType),
    StructField("n_4byte", LongType)))
  override def nullable: Boolean = true
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any = {
    val (valid, nChars, repl, a, b2, b3, b4, _) =
      Utf8.scan(input.asInstanceOf[Array[Byte]], build = false)
    new GenericInternalRow(Array[Any](valid, nChars, repl, a, b2, b3, b4))
  }
  override protected def withNewChildInternal(newChild: Expression): Utf8Stats =
    copy(child = newChild)
  override def prettyName: String = "utf8_stats"
}

/** `utf8_sanitize(binary)` -> string: the WHATWG-decoded text with
  * every maximal invalid subpart replaced by U+FFFD — the repair step
  * that makes arbitrary crawled bytes safe for the string pipeline.
  * Total (never null, never throws): every byte sequence decodes. */
case class Utf8Sanitize(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any = {
    val (_, _, _, _, _, _, _, s) =
      Utf8.scan(input.asInstanceOf[Array[Byte]], build = true)
    UTF8String.fromString(s)
  }
  override protected def withNewChildInternal(newChild: Expression): Utf8Sanitize =
    copy(child = newChild)
  override def prettyName: String = "utf8_sanitize"
}

object utf8 {
  def utf8_stats(blob: Column): Column =
    ColumnBridge.column(Utf8Stats(ColumnBridge.expression(blob)))
  def utf8_sanitize(blob: Column): Column =
    ColumnBridge.column(Utf8Sanitize(ColumnBridge.expression(blob)))
}

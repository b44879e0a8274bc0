package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** G.711 companded telephony audio (µ-law / A-law) and WAV container
  * triage — the audio counterpart of the JPEG kind()/decode pair: a
  * 100 TB speech corpus is mostly 8 kHz G.711 (every PSTN/VoIP
  * recording), and a pipeline must both ROUTE containers by format
  * tag and decode the companded bytes to linear PCM for feature
  * extraction.
  *
  * Both expansions are the public ITU-T G.711 formulas on the 16-bit
  * PCM scale (the classic lookup-table values, computed instead of
  * tabulated), which makes them EXACT integer maps the DuckDB oracle
  * replays arithmetically:
  *   µ-law: u = ~code; mag = ((mant·8 + 0x84) << exp) − 0x84
  *          (max 32124), sign from bit 7;
  *   A-law: a = code ⊕ 0x55; mag = (mant·16 + 8) for exp 0, else
  *          ((mant·16 + 0x108) << (exp−1)) (max 32256), bit 7 SET
  *          means positive (A-law's inverted sign convention).
  *
  * Scale shape: per-row expressions — no shuffle, embarrassingly
  * parallel like the whole codec family. */
object G711 {

  /** Expand one µ-law byte to linear PCM (16-bit scale, ±32124). */
  def mulawToLinear(code: Int): Int = {
    val u = ~code & 0xff
    val exp = (u >> 4) & 0x07
    val mant = u & 0x0f
    val mag = (((mant << 3) + 0x84) << exp) - 0x84
    if ((u & 0x80) != 0) -mag else mag
  }

  /** Expand one A-law byte to linear PCM (16-bit scale, ±32256). */
  def alawToLinear(code: Int): Int = {
    val a = code ^ 0x55
    val exp = (a >> 4) & 0x07
    val mant = a & 0x0f
    val mag = if (exp == 0) (mant << 4) + 8
      else ((mant << 4) + 0x108) << (exp - 1)
    if ((a & 0x80) != 0) mag else -mag // bit 7 set = POSITIVE in A-law
  }

  /** WAVE_FORMAT_* tag of the first adequate fmt chunk, or None for a
    * malformed/absent one (cursor walk in Long space — the
    * MediaHeaders.parseWav discipline). */
  def formatTag(b: Array[Byte]): Option[Int] = {
    if (b == null || b.length < 12) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var p = 12L
    while (p + 8 <= b.length) {
      val pi = p.toInt
      val id = new String(Array(b(pi), b(pi + 1), b(pi + 2), b(pi + 3)), "US-ASCII")
      val size = (b(pi + 4) & 0xffL) | ((b(pi + 5) & 0xffL) << 8) |
        ((b(pi + 6) & 0xffL) << 16) | ((b(pi + 7) & 0xffL) << 24)
      if (id == "fmt " && size >= 16 && p + 8 + 16 <= b.length)
        return Some((b(pi + 8) & 0xff) | ((b(pi + 9) & 0xff) << 8))
      val next = p + 8L + size + (size & 1L)
      if (next > b.length) return None
      p = next
    }
    None
  }

  /** Container triage string: "pcm8"/"pcm16"/"pcm24" (what audio_stats
    * decodes), "ieee_float", "ulaw", "alaw" (what audio_stats_g711
    * decodes), "extensible", "unsupported" (other tags or PCM widths),
    * "malformed" (RIFF/WAVE magic but a broken walk), "not_wav". */
  def kind(b: Array[Byte]): String = {
    if (b == null || b.length < 12 ||
      !(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')) return "not_wav"
    if (!(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return "not_wav"
    formatTag(b) match {
      case None => "malformed"
      case Some(1) => MediaHeaders.parseWav(b) match {
        case Some((_, _, 8, _)) => "pcm8"
        case Some((_, _, 16, _)) => "pcm16"
        case Some((_, _, 24, _)) => "pcm24"
        case Some(_) => "unsupported"
        case None => "malformed"
      }
      case Some(3) => "ieee_float"
      case Some(6) => "alaw"
      case Some(7) => "ulaw"
      case Some(0xfffe) => "extensible"
      case Some(_) => "unsupported"
    }
  }

  /** Synthesize a complete G.711 WAV: format tag 6 (A-law) or 7
    * (µ-law), 8 kHz mono, one companded byte per sample keyed on the
    * (id, t) congruence the oracle replays. */
  def synth(id: Long, n: Int, alaw: Boolean): Array[Byte] = {
    require(n > 0 && n <= (1 << 20), s"synth n out of range: $n")
    val out = new Array[Byte](44 + n)
    def le32(off: Int, v: Long): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte; out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def ascii(off: Int, s: String): Unit = {
      var i = 0; while (i < s.length) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    val rate = 8000
    ascii(0, "RIFF"); le32(4, 36L + n); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16); le16(20, if (alaw) 6 else 7); le16(22, 1)
    le32(24, rate); le32(28, rate.toLong); le16(32, 1); le16(34, 8)
    ascii(36, "data"); le32(40, n.toLong)
    var t = 0
    while (t < n) {
      out(44 + t) = ((((id * 7919 + t * 2654435761L) % 256) + 256) % 256).toByte
      t += 1
    }
    out
  }
}

/** `wav_kind(binary)` -> WAV container triage string ([[G711.kind]])
  * — the dispatch step before audio decoders, the jpeg_kind twin. */
case class WavKind(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(G711.kind(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): WavKind =
    copy(child = newChild)
  override def prettyName: String = "wav_kind"
}

/** `synth_wav_g711(id, n, alaw)` -> a complete G.711 WAV fixture. */
case class SynthWavG711(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = BinaryType
  override def inputTypes = Seq(LongType, IntegerType, BooleanType)
  override def nullSafeEval(idA: Any, nA: Any, aA: Any): Any =
    G711.synth(idA.asInstanceOf[Long], nA.asInstanceOf[Int],
      aA.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): SynthWavG711 = copy(first = f, second = s, third = t)
  override def prettyName: String = "synth_wav_g711"
}

/** `audio_stats_g711(wav_binary)` -> struct(law, n_samples, sum_abs,
  * sum_sq, peak, zero_crossings): exact integer statistics over the
  * G.711-EXPANDED linear samples of a µ-law/A-law WAV — the
  * telephony-corpus feature-extraction step. Sums accumulate via
  * Math.addExact (the audio_stats overflow contract; unreachable for
  * G.711's ±32256 range below ~2^32 samples, checked anyway). Null
  * for non-G.711 format tags or a malformed container. */
case class AudioStatsG711(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("law", StringType), StructField("n_samples", LongType),
    StructField("sum_abs", LongType), StructField("sum_sq", LongType),
    StructField("peak", IntegerType), StructField("zero_crossings", LongType)))
  override def nullable: Boolean = true
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val law = G711.formatTag(b) match {
      case Some(6) => "alaw"
      case Some(7) => "ulaw"
      case _ => return null
    }
    val (dataOff, dataLen) = MediaHeaders.dataChunk(b) match {
      case None => return null
      case Some(dc) => dc
    }
    // hostile declared sizes: the payload must actually fit the blob
    // (the audio_stats null-not-crash discipline)
    if (dataOff < 0 || dataLen < 0 || dataOff + dataLen > b.length) return null
    val n = dataLen.toInt
    val off = dataOff.toInt
    var t = 0
    var sumAbs = 0L; var sumSq = 0L; var peak = 0
    var crossings = 0L; var prev = 0
    while (t < n) {
      val s = if (law == "ulaw") G711.mulawToLinear(b(off + t) & 0xff)
        else G711.alawToLinear(b(off + t) & 0xff)
      val a = math.abs(s)
      try {
        sumAbs = Math.addExact(sumAbs, a.toLong)
        sumSq = Math.addExact(sumSq, s.toLong * s)
      } catch { case _: ArithmeticException => return null }
      if (a > peak) peak = a
      if (t > 0 && prev.toLong * s < 0) crossings += 1
      prev = s
      t += 1
    }
    new GenericInternalRow(Array[Any](UTF8String.fromString(law), n.toLong,
      sumAbs, sumSq, peak, crossings))
  }
  override protected def withNewChildInternal(newChild: Expression): AudioStatsG711 =
    copy(child = newChild)
  override def prettyName: String = "audio_stats_g711"
}

object audio {
  def wav_kind(blob: Column): Column =
    ColumnBridge.column(WavKind(ColumnBridge.expression(blob)))
  def synth_wav_g711(id: Column, n: Column, alaw: Column): Column =
    ColumnBridge.column(SynthWavG711(ColumnBridge.expression(id),
      ColumnBridge.expression(n), ColumnBridge.expression(alaw)))
  def audio_stats_g711(blob: Column): Column =
    ColumnBridge.column(AudioStatsG711(ColumnBridge.expression(blob)))
}

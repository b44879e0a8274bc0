package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MP3 (MPEG-1/2 Audio Layer III) FRAME-WALK triage — completing the
  * audio container family (WAV PCM/G.711/ADPCM decode, AVI and
  * MP4/ISO-BMFF box walks): the planning envelope an audio pipeline
  * needs before any synthesis-filterbank work. A strict sequential
  * frame walk over the public header format:
  *
  *   - optional leading ID3v2 tag (syncsafe 28-bit size, footer flag);
  *   - per frame: 11-bit sync, version (MPEG1/2 — 2.5 is triaged via
  *     the same low-rate table), Layer III required, bitrate index
  *     against the published kbps tables, sample-rate index, padding
  *     bit; frame byte length = (MPEG1 ? 144000 : 72000)·kbps/rate +
  *     pad — frames must tile the payload EXACTLY;
  *   - optional trailing 128-byte ID3v1 "TAG" block.
  *
  * Reports frame count, sample rate, CBR/VBR (distinct bitrate
  * count), summed per-frame kbps (so the oracle replays the exact
  * average), duration = frames · samples-per-frame / rate, and tag
  * accounting. Audio DECODE is out of scope (stated — the Layer III
  * filterbank/huffman is a lossy codec; triage is the dispatch step,
  * the mp4_meta contract). Never throws; malformation -> null. */
object Mp3 {

  final case class Meta(version: String, sampleRate: Int, nFrames: Int,
      cbr: Boolean, kbpsSum: Long, durationMs: Long, id3v2Bytes: Int,
      hasId3v1: Boolean)

  // Layer III bitrate tables (kbps), index 1..14; 0 = free, 15 = bad
  private val BrV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
    192, 224, 256, 320, -1)
  private val BrV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 144, 160, -1)
  private val RateV1 = Array(44100, 48000, 32000, -1)
  private val RateV2 = Array(22050, 24000, 16000, -1)
  private val RateV25 = Array(11025, 12000, 8000, -1)

  def meta(b: Array[Byte]): Option[Meta] = {
    if (b == null || b.length < 4) return None
    var p = 0
    var id3v2 = 0
    // leading ID3v2: "ID3" ver(2) flags(1) syncsafe size(4)
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val flags = b(5) & 0xff
      var size = 0
      var k = 0
      while (k < 4) {
        val v = b(6 + k) & 0xff
        if ((v & 0x80) != 0) return None // syncsafe bytes are 7-bit
        size = (size << 7) | v
        k += 1
      }
      id3v2 = 10 + size + (if ((flags & 0x10) != 0) 10 else 0)
      if (id3v2 > b.length) return None
      p = id3v2
    }
    var nFrames = 0
    var rate = -1
    var version: String = null
    var kbpsSum = 0L
    var spf = 0
    var firstKbps = -1
    var cbr = true
    var hasId3v1 = false
    while (p < b.length) {
      if (b.length - p == 128 && b(p) == 'T' && b(p + 1) == 'A' &&
          b(p + 2) == 'G') {
        hasId3v1 = true
        p = b.length
      } else {
        if (p + 4 > b.length) return None
        if ((b(p) & 0xff) != 0xff || (b(p + 1) & 0xe0) != 0xe0) return None
        val verBits = (b(p + 1) >> 3) & 3
        val layerBits = (b(p + 1) >> 1) & 3
        if (layerBits != 1) return None // Layer III only (mp3)
        val brIdx = (b(p + 2) >> 4) & 0xf
        val rateIdx = (b(p + 2) >> 2) & 3
        if (brIdx == 0 || brIdx == 15 || rateIdx == 3) return None
        val pad = (b(p + 2) >> 1) & 1
        val (ver, kbps, r, samples, coef) = verBits match {
          case 3 => ("1", BrV1(brIdx), RateV1(rateIdx), 1152, 144000)
          case 2 => ("2", BrV2(brIdx), RateV2(rateIdx), 576, 72000)
          case 0 => ("2.5", BrV2(brIdx), RateV25(rateIdx), 576, 72000)
          case _ => return None // reserved version
        }
        if (version == null) { version = ver; rate = r; spf = samples }
        else if (version != ver || rate != r) return None // mid-stream switch
        val frameLen = coef * kbps / r + pad
        if (frameLen < 4 || p + frameLen > b.length) return None
        if (firstKbps < 0) firstKbps = kbps else if (kbps != firstKbps) cbr = false
        kbpsSum += kbps
        nFrames += 1
        p += frameLen
      }
    }
    if (nFrames == 0 || version == null) return None
    val durationMs = nFrames.toLong * spf * 1000L / rate
    Some(Meta(version, rate, nFrames, cbr, kbpsSum, durationMs, id3v2,
      hasId3v1))
  }

  /** Synthesize a header-true MP3 for the oracle: optional ID3v2 with
    * syncsafe size (every third id), MPEG1/MPEG2 alternating, rotating
    * sample rates, CBR or VBR bitrate ladders by parity, alternating
    * padding bits, optional trailing ID3v1 (ids 1 mod 4). `corrupt`
    * breaks the first frame's sync byte -> deterministic null. */
  def synth(id: Long, corrupt: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(2048)
    if (id % 3 == 0) {
      val size = (20 + id % 40).toInt
      out.write('I'); out.write('D'); out.write('3')
      out.write(4); out.write(0); out.write(0) // v2.4, no flags
      out.write((size >> 21) & 0x7f); out.write((size >> 14) & 0x7f)
      out.write((size >> 7) & 0x7f); out.write(size & 0x7f)
      var i = 0
      while (i < size) { out.write(((id + i) % 251).toInt); i += 1 }
    }
    val v1 = id % 2 == 0
    val rateIdx = (id % 3).toInt
    val rate = if (v1) RateV1(rateIdx) else RateV2(rateIdx)
    val n = (3 + id % 6).toInt
    var j = 0
    while (j < n) {
      // CBR/VBR decoupled from the version parity (id/2) so all four
      // version x rate-mode combinations occur over time
      val brIdx = if ((id / 2) % 2 == 0) (1 + id % 14).toInt
        else (1 + (id + j * 3) % 14).toInt
      val kbps = if (v1) BrV1(brIdx) else BrV2(brIdx)
      val pad = ((id + j) % 2).toInt
      val frameLen = (if (v1) 144000 else 72000) * kbps / rate + pad
      val b0 = 0xff
      val b1 = 0xe0 | ((if (v1) 3 else 2) << 3) | (1 << 1) | 1 // LIII, no CRC
      val b2 = (brIdx << 4) | (rateIdx << 2) | (pad << 1)
      val b3 = 0xc0 // mono
      out.write(if (corrupt && j == 0) 0xfe else b0)
      out.write(b1); out.write(b2); out.write(b3)
      var i = 4
      while (i < frameLen) { out.write(((id + j + i) % 251).toInt); i += 1 }
      j += 1
    }
    if (id % 4 == 1) {
      out.write('T'); out.write('A'); out.write('G')
      var i = 0
      while (i < 125) { out.write(((id + i) % 120 + 32).toInt); i += 1 }
    }
    out.toByteArray
  }
}

/** `mp3_meta(binary)` -> struct(version, sample_rate, n_frames, cbr,
  * kbps_sum, duration_ms, id3v2_bytes, has_id3v1) or null per
  * [[Mp3.meta]]. */
case class Mp3Meta(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("version", StringType), StructField("sample_rate", IntegerType),
    StructField("n_frames", IntegerType), StructField("cbr", BooleanType),
    StructField("kbps_sum", LongType), StructField("duration_ms", LongType),
    StructField("id3v2_bytes", IntegerType),
    StructField("has_id3v1", BooleanType)))
  override def nullable: Boolean = true
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any =
    Mp3.meta(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some(m) => new GenericInternalRow(Array[Any](
        UTF8String.fromString(m.version), m.sampleRate, m.nFrames, m.cbr,
        m.kbpsSum, m.durationMs, m.id3v2Bytes, m.hasId3v1))
    }
  override protected def withNewChildInternal(newChild: Expression): Mp3Meta =
    copy(child = newChild)
  override def prettyName: String = "mp3_meta"
}

/** `synth_mp3(id, corrupt)` per [[Mp3.synth]]. */
case class SynthMp3(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = BinaryType
  override def inputTypes = Seq(LongType, BooleanType)
  override def nullSafeEval(id: Any, c: Any): Any =
    Mp3.synth(id.asInstanceOf[Long], c.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SynthMp3 = copy(left = l, right = r)
  override def prettyName: String = "synth_mp3"
}

object mp3 {
  def mp3_meta(blob: Column): Column =
    ColumnBridge.column(Mp3Meta(ColumnBridge.expression(blob)))
  def synth_mp3(id: Column, corrupt: Column): Column =
    ColumnBridge.column(SynthMp3(ColumnBridge.expression(id),
      ColumnBridge.expression(corrupt)))
}

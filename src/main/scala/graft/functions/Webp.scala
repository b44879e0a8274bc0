package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WebP container TRIAGE (the public RIFF/WEBP format) — alongside
  * mp4_meta and zstd_frame_meta: the web's dominant modern image
  * container, routed and envelope-parsed before any codec work. All
  * three payload kinds:
  *
  *   - `VP8 ` (lossy): 3-byte frame tag (keyframe bit, version,
  *     show-frame, first-partition size), 0x9D012A sync, 14-bit
  *     width/height with 2-bit upscale codes;
  *   - `VP8L` (lossless): 0x2F signature, 14+14-bit dims (stored -1),
  *     alpha-hint bit, 3-bit version (must be 0);
  *   - `VP8X` (extended): feature flags (ICC/alpha/EXIF/XMP/anim),
  *     24-bit canvas dims (stored -1), then feature subchunks.
  *
  * Chunk walk honors RIFF even-padding. Pixel DECODE is out of scope
  * (stated — VP8 entropy coding is a video codec; triage is the
  * dispatch step, the same contract as mp4_meta). Never throws;
  * malformation -> null. */
object Webp {

  /** Round-12 adds the ANIMATION envelope: `nFrames`/`animMs` from the
    * ANMF frame walk (24-bit per-frame durations summed), `loopCount`
    * from ANIM. Zero for still images; ANIM/ANMF chunks in a file
    * whose VP8X did not declare the animation flag are a structural
    * violation -> None. */
  final case class Meta(kind: String, width: Int, height: Int,
      hasAlpha: Boolean, hasAnim: Boolean, nChunks: Int,
      nFrames: Int = 0, loopCount: Int = 0, animMs: Long = 0L)

  @inline private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  @inline private def u24(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16)
  @inline private def u32(b: Array[Byte], i: Int): Long =
    (u24(b, i) & 0xffffffL) | ((b(i + 3) & 0xffL) << 24)
  @inline private def cc(b: Array[Byte], i: Int, s: String): Boolean =
    s.indices.forall(k => b(i + k) == s.charAt(k).toByte)

  def meta(b: Array[Byte]): Option[Meta] = {
    if (b == null || b.length < 20) return None
    if (!cc(b, 0, "RIFF") || !cc(b, 8, "WEBP")) return None
    val riffSize = u32(b, 4)
    if (riffSize + 8 > b.length) return None
    val end = (riffSize + 8).toInt
    var p = 12
    var kind: String = null
    var w = -1; var h = -1
    var alpha = false; var anim = false
    var nChunks = 0
    var nFrames = 0
    var loopCount = 0
    var animMs = 0L
    while (p + 8 <= end) {
      val size = u32(b, p + 4)
      val payload = p + 8
      if (payload + size > end) return None
      nChunks += 1
      if (cc(b, p, "VP8 ") && kind == null) {
        if (size < 10) return None
        val tag = u24(b, payload)
        val keyframe = (tag & 1) == 0
        if (!keyframe) return None // a still image starts on a keyframe
        if ((b(payload + 3) & 0xff) != 0x9d || (b(payload + 4) & 0xff) != 0x01 ||
            (b(payload + 5) & 0xff) != 0x2a) return None
        kind = "lossy"
        w = u16(b, payload + 6) & 0x3fff
        h = u16(b, payload + 8) & 0x3fff
      } else if (cc(b, p, "VP8L") && kind == null) {
        if (size < 5) return None
        if ((b(payload) & 0xff) != 0x2f) return None
        val bits = u32(b, payload + 1)
        kind = "lossless"
        w = (bits & 0x3fff).toInt + 1
        h = ((bits >> 14) & 0x3fff).toInt + 1
        alpha = ((bits >> 28) & 1) == 1
        if (((bits >> 29) & 7) != 0) return None // version must be 0
      } else if (cc(b, p, "VP8X")) {
        if (size < 10 || kind != null) return None // VP8X leads
        val flags = b(payload) & 0xff
        if ((flags & 0xc1) != 0) return None // reserved bits
        alpha = (flags & 0x10) != 0
        anim = (flags & 0x02) != 0
        kind = "extended"
        w = u24(b, payload + 4) + 1
        h = u24(b, payload + 7) + 1
      } else if (cc(b, p, "ANIM")) {
        // background color (4) + 16-bit loop count; only valid when
        // the VP8X animation flag was declared
        if (!anim || size < 6) return None
        loopCount = u16(b, payload + 4)
      } else if (cc(b, p, "ANMF")) {
        // frame rect (2x24-bit origin, 24-bit w-1/h-1), 24-bit
        // duration, flags byte, then frame data
        if (!anim || size < 16) return None
        animMs += u24(b, payload + 12)
        nFrames += 1
      }
      p = payload + size.toInt + (size.toInt & 1) // RIFF even padding
    }
    if (kind == null || w <= 0 || h <= 0) None
    else Some(Meta(kind, w, h, alpha, anim, nChunks, nFrames, loopCount,
      animMs))
  }

  /** Synthesize a header-true WebP for the oracle: kind rotates
    * lossy/lossless/extended by id; dims from the caller; extended
    * files carry an ALPH + a VP8 subchunk (counted); odd-sized chunks
    * exercise the RIFF padding rule. `corrupt` breaks the sync/sig. */
  def synth(id: Long, w: Int, h: Int, corrupt: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(96)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w24(v: Int): Unit = { w16(v & 0xffff); out.write((v >> 16) & 0xff) }
    def w32(v: Long): Unit = { w24((v & 0xffffff).toInt); out.write(((v >> 24) & 0xff).toInt) }
    def cc4(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    def chunk(tag: String)(body: => Unit): Unit = {
      val save = out.toByteArray; out.reset(); body
      val payload = out.toByteArray
      out.reset(); out.write(save, 0, save.length)
      cc4(tag); w32(payload.length)
      out.write(payload, 0, payload.length)
      if ((payload.length & 1) == 1) out.write(0) // even padding
    }
    val mode = (id % 3).toInt
    def buildInto(): Unit = mode match {
      case 0 => // lossy
        chunk("VP8 ") {
          w24(0x000000 | (1 << 1)) // keyframe (bit0=0), version 0, show
          out.write(0x9d); out.write(0x01); out.write(0x2a)
          w16(w); w16(h)
          out.write((id % 251).toInt) // opaque partition byte (odd size)
        }
      case 1 => // lossless
        chunk("VP8L") {
          out.write(0x2f)
          val bits = ((w - 1) & 0x3fff).toLong |
            (((h - 1) & 0x3fff).toLong << 14) |
            ((id % 2) << 28) // alpha hint alternates
          w32(bits)
          out.write(0x42) // opaque stream byte
        }
      case _ => // extended: VP8X + ANIM + ANMF frames + ALPH + VP8
        chunk("VP8X") {
          out.write(0x10 | 0x02) // alpha + animation flags
          w24(0) // reserved
          w24(w - 1); w24(h - 1)
        }
        // round-12: the animation envelope — ANIM (bg + loop count)
        // and 2-4 ANMF frames with 24-bit durations; frame payloads
        // are opaque to triage (odd sizes exercise RIFF padding)
        chunk("ANIM") { w32(0xff000000L); w16((id % 7).toInt) }
        // id/3 keeps the frame count varying on the extended lane
        // (extended ids are 2 mod 3, so id % 3 would be constant)
        val nf = (2 + (id / 3) % 3).toInt
        var j = 0
        while (j < nf) {
          val dur = (40 + (id + j * 7) % 200).toInt
          chunk("ANMF") {
            w24(0); w24(0) // frame origin
            w24(w - 1); w24(h - 1)
            w24(dur)
            out.write(if (j % 2 == 0) 0x02 else 0x03) // blend/dispose bits
            out.write((id % 256).toInt) // opaque frame byte (odd payload)
          }
          j += 1
        }
        chunk("ALPH") { out.write(0); out.write((id % 256).toInt); out.write(1) }
        chunk("VP8 ") {
          w24(1 << 1)
          out.write(0x9d); out.write(0x01); out.write(0x2a)
          w16(w); w16(h)
        }
    }
    buildInto()
    val body = out.toByteArray
    out.reset()
    cc4("RIFF"); w32(body.length + 4); cc4("WEBP")
    out.write(body, 0, body.length)
    val full = out.toByteArray
    // corrupt: inflate the declared RIFF size past the actual bytes —
    // a truncated transfer, the commonest real-corpus corruption;
    // deterministically null for every mode
    if (corrupt) full(4) = ((full(4) & 0xff) + 40).toByte
    full
  }
}

/** `webp_meta(binary)` -> struct(kind, width, height, has_alpha,
  * has_anim, n_chunks, n_frames, loop_count, anim_ms) or null per
  * [[Webp.meta]]. */
case class WebpMeta(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("kind", StringType), StructField("width", IntegerType),
    StructField("height", IntegerType), StructField("has_alpha", BooleanType),
    StructField("has_anim", BooleanType), StructField("n_chunks", IntegerType),
    StructField("n_frames", IntegerType), StructField("loop_count", IntegerType),
    StructField("anim_ms", LongType)))
  override def nullable: Boolean = true
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any =
    Webp.meta(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some(m) => new GenericInternalRow(Array[Any](
        UTF8String.fromString(m.kind), m.width, m.height, m.hasAlpha,
        m.hasAnim, m.nChunks, m.nFrames, m.loopCount, m.animMs))
    }
  override protected def withNewChildInternal(newChild: Expression): WebpMeta =
    copy(child = newChild)
  override def prettyName: String = "webp_meta"
}

/** `synth_webp(id, w, h, corrupt)` per [[Webp.synth]]. */
case class SynthWebp(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = BinaryType
  override def inputTypes = Seq(LongType, IntegerType, IntegerType, BooleanType)
  override def nullSafeEval(id: Any, w: Any, h: Any, c: Any): Any =
    Webp.synth(id.asInstanceOf[Long], w.asInstanceOf[Int],
      h.asInstanceOf[Int], c.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): SynthWebp =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "synth_webp"
}

object webp {
  def webp_meta(blob: Column): Column =
    ColumnBridge.column(WebpMeta(ColumnBridge.expression(blob)))
  def synth_webp(id: Column, w: Column, h: Column, corrupt: Column): Column =
    ColumnBridge.column(SynthWebp(ColumnBridge.expression(id),
      ColumnBridge.expression(w), ColumnBridge.expression(h),
      ColumnBridge.expression(corrupt)))
}

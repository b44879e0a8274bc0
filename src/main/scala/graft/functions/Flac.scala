package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** FLAC container triage (the published xiph.org / RFC 9639 format) —
  * completes the lossless-audio corner of the container family. The
  * metadata layer is fully self-contained: "fLaC" magic, then metadata
  * blocks (1-byte header: last-flag bit + 7-bit type, u24 BE length)
  * of which block 0 MUST be STREAMINFO (34 bytes): min/max blocksize
  * (u16), min/max framesize (u24), then a packed 64-bit group — sample
  * rate (20 bits), channels-1 (3), bits-per-sample-1 (5), total
  * samples (36) — and the 16-byte unencoded-audio MD5. The walk counts
  * blocks by type (padding/application/seektable/vorbis_comment/
  * cuesheet/picture), sums metadata bytes, and checks the first audio
  * frame's sync code (0b11111111111110) follows the last block. Frame
  * DECODE is out of scope (stated — LPC audio codec work; the
  * mp4_meta contract). Never throws; malformation -> null. */
object Flac {

  final case class Meta(minBlock: Int, maxBlock: Int, sampleRate: Long,
      channels: Int, bitsPerSample: Int, totalSamples: Long,
      nBlocks: Int, nPadding: Int, nSeektable: Int, nVorbisComment: Int,
      nPicture: Int, metaBytes: Long, hasFrames: Boolean, md5Hex: String)

  def meta(b: Array[Byte]): Option[Meta] = {
    if (b == null || b.length < 8) return None
    if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return None
    var p = 4
    var last = false
    var first = true
    var minBlock = 0; var maxBlock = 0; var rate = 0L
    var channels = 0; var bps = 0; var totalSamples = 0L
    var md5Hex: String = null
    var nBlocks = 0; var nPad = 0; var nSeek = 0; var nVc = 0; var nPic = 0
    var metaBytes = 0L
    while (!last) {
      if (p + 4 > b.length) return None
      val hdr = b(p) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      if (typ == 127) return None // forbidden sentinel type
      val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      if (p + 4 + len > b.length) return None
      if (first) {
        // the spec REQUIRES block 0 to be STREAMINFO of exactly 34 bytes
        if (typ != 0 || len != 34) return None
        val s = p + 4
        minBlock = ((b(s) & 0xff) << 8) | (b(s + 1) & 0xff)
        maxBlock = ((b(s + 2) & 0xff) << 8) | (b(s + 3) & 0xff)
        // packed: rate(20) channels-1(3) bps-1(5) totalSamples(36)
        val g0 = b(s + 10) & 0xffL; val g1 = b(s + 11) & 0xffL
        val g2 = b(s + 12) & 0xffL; val g3 = b(s + 13) & 0xffL
        rate = (g0 << 12) | (g1 << 4) | (g2 >> 4)
        channels = (((g2 >> 1) & 0x7) + 1).toInt
        bps = ((((g2 & 1) << 4) | (g3 >> 4)).toInt & 0x1f) + 1
        var ts = (g3 & 0xf) << 32
        var k = 0
        while (k < 4) { ts |= (b(s + 14 + k) & 0xffL) << (8 * (3 - k)); k += 1 }
        totalSamples = ts
        if (rate == 0 || rate > 655350) return None
        if (minBlock < 16 || maxBlock < minBlock) return None
        val sb = new StringBuilder(32)
        k = 0
        while (k < 16) { sb.append(f"${b(s + 18 + k) & 0xff}%02x"); k += 1 }
        md5Hex = sb.toString
        first = false
      } else typ match {
        case 0 => return None // a second STREAMINFO is malformed
        case 1 => nPad += 1
        case 3 => nSeek += 1
        case 4 => nVc += 1
        case 6 => nPic += 1
        case _ => ()
      }
      nBlocks += 1
      metaBytes += 4L + len
      p += 4 + len
    }
    if (first) return None
    // first audio frame: 14-bit sync 11111111111110
    val hasFrames = p + 2 <= b.length &&
      (b(p) & 0xff) == 0xff && ((b(p + 1) & 0xfc) == 0xf8)
    Some(Meta(minBlock, maxBlock, rate, channels, bps, totalSamples,
      nBlocks, nPad, nSeek, nVc, nPic, metaBytes, hasFrames, md5Hex))
  }

  /** Structurally-true synth for the oracle: STREAMINFO from id
    * arithmetic, a vorbis_comment block, optional seektable + padding,
    * a deterministic fake-MD5, and two bytes of frame sync. `corrupt`
    * truncates mid-block. */
  def synth(id: Long, corrupt: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256)
    def block(typ: Int, last: Boolean)(body: Array[Byte]): Unit = {
      out.write((if (last) 0x80 else 0) | typ)
      out.write((body.length >> 16) & 0xff)
      out.write((body.length >> 8) & 0xff)
      out.write(body.length & 0xff)
      out.write(body, 0, body.length)
    }
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    val rate = 8000L * (1 + id % 6)
    val channels = (1 + id % 2).toInt
    val bps = Seq(16, 24, 8)((id % 3).toInt)
    val total = 10000L + id % 1000000
    val minB = 1024; val maxB = 4096
    val si = new Array[Byte](34)
    si(0) = (minB >> 8).toByte; si(1) = (minB & 0xff).toByte
    si(2) = (maxB >> 8).toByte; si(3) = (maxB & 0xff).toByte
    // frame sizes left 0 (unknown — legal)
    si(10) = ((rate >> 12) & 0xff).toByte
    si(11) = ((rate >> 4) & 0xff).toByte
    si(12) = (((rate & 0xf) << 4) | ((channels - 1) << 1) |
      (((bps - 1) >> 4) & 1)).toByte
    si(13) = ((((bps - 1) & 0xf) << 4) | ((total >> 32) & 0xf)).toByte
    var k = 0
    while (k < 4) { si(14 + k) = ((total >> (8 * (3 - k))) & 0xff).toByte; k += 1 }
    k = 0
    while (k < 16) { si(18 + k) = ((id * 37 + k * 11) % 251).toByte; k += 1 }
    val hasSeek = id % 3 == 0
    val hasPad = id % 2 == 0
    block(0, last = false)(si)
    block(4, last = false)( // vorbis comment: vendor only
      {
        val vendor = s"graft-$id".getBytes("US-ASCII")
        val bb = java.nio.ByteBuffer.allocate(8 + vendor.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putInt(vendor.length).put(vendor).putInt(0)
        bb.array()
      })
    if (hasSeek) block(3, last = false)(new Array[Byte](18 * (1 + (id % 3).toInt)))
    if (hasPad) block(1, last = true)(new Array[Byte]((8 + id % 32).toInt))
    else block(1, last = true)(Array.emptyByteArray)
    out.write(0xff); out.write(0xf8) // first frame sync
    out.write(((id % 251)).toInt)
    val full = out.toByteArray
    if (corrupt) java.util.Arrays.copyOf(full, full.length - 12)
    else full
  }
}

/** `flac_meta(binary)` per [[Flac.meta]], or null. */
case class FlacMeta(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("min_block", IntegerType), StructField("max_block", IntegerType),
    StructField("sample_rate", LongType), StructField("channels", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("total_samples", LongType),
    StructField("n_blocks", IntegerType), StructField("n_padding", IntegerType),
    StructField("n_seektable", IntegerType),
    StructField("n_vorbis_comment", IntegerType),
    StructField("n_picture", IntegerType), StructField("meta_bytes", LongType),
    StructField("has_frames", BooleanType), StructField("md5_hex", StringType)))
  override def nullable: Boolean = true
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any =
    Flac.meta(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some(m) => new GenericInternalRow(Array[Any](
        m.minBlock, m.maxBlock, m.sampleRate, m.channels, m.bitsPerSample,
        m.totalSamples, m.nBlocks, m.nPadding, m.nSeektable, m.nVorbisComment,
        m.nPicture, m.metaBytes, m.hasFrames, UTF8String.fromString(m.md5Hex)))
    }
  override protected def withNewChildInternal(newChild: Expression): FlacMeta =
    copy(child = newChild)
  override def prettyName: String = "flac_meta"
}

/** `synth_flac(id, corrupt)` per [[Flac.synth]]. */
case class SynthFlac(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = BinaryType
  override def inputTypes = Seq(LongType, BooleanType)
  override def nullSafeEval(id: Any, c: Any): Any =
    Flac.synth(id.asInstanceOf[Long], c.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SynthFlac = copy(left = l, right = r)
  override def prettyName: String = "synth_flac"
}

object flac {
  def flac_meta(blob: Column): Column =
    ColumnBridge.column(FlacMeta(ColumnBridge.expression(blob)))
  def synth_flac(id: Column, corrupt: Column): Column =
    ColumnBridge.column(SynthFlac(ColumnBridge.expression(id),
      ColumnBridge.expression(corrupt)))
}

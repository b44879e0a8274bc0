package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Ogg container triage (RFC 3533 page walk) — the free-codec A/V
  * member of the container family (Opus podcasts, Vorbis audio,
  * Theora video all ship in Ogg pages): per page, the "OggS" capture
  * pattern, version 0, header-type flags (continued/BOS/EOS), 64-bit
  * granule position, stream serial, sequence number, and the lacing
  * (segment) table whose values sum to the payload length. Pages must
  * tile the blob EXACTLY. Reports page/stream/BOS/EOS counts, total
  * payload bytes, max granule, and the first BOS page's codec
  * identity from its published magic ("OpusHead", \x01vorbis,
  * \x80theora, "fishead\0" for skeleton). Round-13: every page's CRC32
  * is VERIFIED (RFC 3533 §6: polynomial 0x04c11db7, direct, init 0, no
  * final xor, CRC field zeroed during computation) — a corrupt-CRC
  * page routes the blob to null; and the codec IDENTIFICATION headers
  * are parsed (OpusHead: channels, pre-skip, input rate — RFC 7845
  * §5.1; Vorbis id: channels, rate — Vorbis I §4.2.2).
  * Distinct-stream tracking is BOUNDED at 64
  * serials (per-row memory guard: a hostile blob is one page per 27
  * bytes, so unbounded tracking is O(blob) heap per row); a 65th
  * distinct serial is treated as out of triage scope and returns
  * None rather than silently reporting a saturated count (round-12
  * advice #1). Never throws; malformation -> null. */
object Ogg {

  final case class Meta(nPages: Int, nStreams: Int, nBos: Int, nEos: Int,
      payloadBytes: Long, maxGranule: Long, codec: String,
      channels: Int = -1, sampleRate: Long = -1L, preSkip: Int = -1)

  /** RFC 3533 §6 page CRC: 0x04c11db7, direct (not reflected), zero
    * init, no final xor. Table-driven over the MSB. */
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var k = 0
      while (k < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        k += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  private[graft] def pageCrc(b: Array[Byte], from: Int, len: Int,
      crcFieldAt: Int): Int = {
    var crc = 0
    var i = from
    while (i < from + len) {
      // the 4 CRC field bytes are computed as zero
      val v = if (i >= crcFieldAt && i < crcFieldAt + 4) 0 else b(i) & 0xff
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ v) & 0xff)
      i += 1
    }
    crc
  }

  def meta(b: Array[Byte]): Option[Meta] = {
    if (b == null || b.length < 27) return None
    var p = 0
    var nPages = 0
    var nBos = 0
    var nEos = 0
    var payload = 0L
    var maxGranule = Long.MinValue
    var codec: String = null
    var channels = -1
    var sampleRate = -1L
    var preSkip = -1
    val serials = new scala.collection.mutable.HashSet[Long]
    @inline def u32(i: Int): Long = (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    while (p < b.length) {
      if (p + 27 > b.length) return None
      if (b(p) != 'O' || b(p + 1) != 'g' || b(p + 2) != 'g' || b(p + 3) != 'S')
        return None
      if (b(p + 4) != 0) return None // stream structure version
      val hType = b(p + 5) & 0xff
      if ((hType & 0xf8) != 0) return None // reserved flag bits
      var granule = 0L
      var k = 0
      while (k < 8) { granule |= (b(p + 6 + k) & 0xffL) << (8 * k); k += 1 }
      val serial = u32(p + 14)
      val nSegs = b(p + 26) & 0xff
      if (p + 27 + nSegs > b.length) return None
      var segSum = 0
      k = 0
      while (k < nSegs) { segSum += b(p + 27 + k) & 0xff; k += 1 }
      val payloadStart = p + 27 + nSegs
      if (payloadStart + segSum > b.length) return None
      // RFC 3533 §6: verify the page CRC over header + lacing + payload
      // with the CRC field zeroed; a mismatch routes the blob to null
      val declaredCrc = u32(p + 22).toInt
      if (pageCrc(b, p, 27 + nSegs + segSum, p + 22) != declaredCrc)
        return None
      nPages += 1
      serials += serial
      if (serials.size > 64) return None // bounded triage scope (see doc)
      if ((hType & 0x02) != 0) {
        nBos += 1
        if (codec == null && segSum >= 8) {
          val s = payloadStart
          if (b(s) == 'O' && b(s + 1) == 'p' && b(s + 2) == 'u' &&
            b(s + 3) == 's' && b(s + 4) == 'H') {
            codec = "opus"
            // RFC 7845 §5.1 OpusHead: version(1) channels(1)
            // pre-skip(u16le) input-rate(u32le) gain(s16le) mapping(1)
            if (segSum >= 19 && (b(s + 8) & 0xff) == 1) {
              channels = b(s + 9) & 0xff
              preSkip = (b(s + 10) & 0xff) | ((b(s + 11) & 0xff) << 8)
              sampleRate = (b(s + 12) & 0xffL) | ((b(s + 13) & 0xffL) << 8) |
                ((b(s + 14) & 0xffL) << 16) | ((b(s + 15) & 0xffL) << 24)
            }
          } else if ((b(s) & 0xff) == 0x01 && b(s + 1) == 'v' &&
            b(s + 2) == 'o' && b(s + 3) == 'r') {
            codec = "vorbis"
            // Vorbis I §4.2.2 id header: \x01vorbis version(u32le=0)
            // channels(1) rate(u32le) bitrates(3xu32) blocksizes framing
            if (segSum >= 30 && u32(s + 7) == 0L) {
              channels = b(s + 11) & 0xff
              sampleRate = (b(s + 12) & 0xffL) | ((b(s + 13) & 0xffL) << 8) |
                ((b(s + 14) & 0xffL) << 16) | ((b(s + 15) & 0xffL) << 24)
            }
          } else codec =
            if ((b(s) & 0xff) == 0x80 && b(s + 1) == 't' &&
              b(s + 2) == 'h' && b(s + 3) == 'e') "theora"
            else if (b(s) == 'f' && b(s + 1) == 'i' && b(s + 2) == 's' &&
              b(s + 3) == 'h') "skeleton"
            else "unknown"
        }
      }
      if ((hType & 0x04) != 0) nEos += 1
      // granule -1 means "no packet finishes on this page"
      if (granule != -1L && granule > maxGranule) maxGranule = granule
      payload += segSum
      p = payloadStart + segSum
    }
    if (nPages == 0 || nBos == 0) return None
    Some(Meta(nPages, serials.size, nBos, nEos, payload,
      if (maxGranule == Long.MinValue) -1L else maxGranule,
      if (codec == null) "unknown" else codec,
      channels, sampleRate, preSkip))
  }

  /** Synthesize a structurally-true multi-stream Ogg for the oracle:
    * 1-2 logical streams, 2-4 pages each (BOS first with a FULL codec
    * identification header — OpusHead / Vorbis id alternating — EOS
    * last), deterministic single-packet lacing and granule ladders,
    * and VALID page CRCs (round-13). `corrupt` breaks the second
    * page's capture pattern; `corrupt` mode 2 (via corruptCrc) flips a
    * payload byte AFTER the CRC is computed — structurally perfect,
    * CRC-invalid. */
  def synth(id: Long, corrupt: Boolean): Array[Byte] =
    synthInner(id, if (corrupt) 1 else 0)

  def synthCrcBroken(id: Long): Array[Byte] = synthInner(id, 2)

  private def synthInner(id: Long, corruptMode: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1024)
    val nStreams = (1 + id % 2).toInt
    var pageIdx = 0
    var s = 0
    while (s < nStreams) {
      val nPg = (2 + (id + s) % 3).toInt
      val serial = 1000L + id % 9000 + s
      var j = 0
      while (j < nPg) {
        val bos = j == 0
        val eos = j == nPg - 1
        val len = (40 + (id + s * 7 + j * 3) % 200).toInt // < 255: one lacing byte
        val page = new java.io.ByteArrayOutputStream(300)
        def p32(v: Long): Unit =
          (0 until 4).foreach(k => page.write(((v >> (8 * k)) & 0xff).toInt))
        def p64(v: Long): Unit =
          (0 until 8).foreach(k => page.write(((v >> (8 * k)) & 0xff).toInt))
        page.write('O'); page.write('g'); page.write('g')
        page.write(if (corruptMode == 1 && pageIdx == 1) 'Z' else 'S')
        page.write(0) // version
        page.write((if (bos) 2 else 0) | (if (eos) 4 else 0))
        p64((id % 97) * 100 + s * 10 + j) // granule ladder
        p32(serial)
        p32(j.toLong) // page sequence
        p32(0L) // crc placeholder, filled after the page is assembled
        page.write(1) // one segment
        page.write(len)
        // payload: BOS pages lead with the FULL identification header
        val magic: Array[Byte] =
          if (!bos) Array.emptyByteArray
          else if ((id + s) % 2 == 0) {
            // RFC 7845 OpusHead, 19 bytes
            val h = new Array[Byte](19)
            "OpusHead".getBytes("US-ASCII").copyToArray(h)
            h(8) = 1 // version
            h(9) = (1 + (id + s) % 2).toByte // channels
            val ps = 300 + (id + s) % 100
            h(10) = (ps & 0xff).toByte; h(11) = ((ps >> 8) & 0xff).toByte
            val rate = 48000L
            var k = 0
            while (k < 4) { h(12 + k) = ((rate >> (8 * k)) & 0xff).toByte; k += 1 }
            // gain 0, mapping family 0 already zeroed
            h
          } else {
            // Vorbis I identification header, 30 bytes
            val h = new Array[Byte](30)
            h(0) = 0x01
            "vorbis".getBytes("US-ASCII").copyToArray(h, 1)
            // version u32 = 0 (already zero)
            h(11) = (1 + (id + s) % 2).toByte // channels
            val rate = 8000L * (1 + (id + s) % 5)
            var k = 0
            while (k < 4) { h(12 + k) = ((rate >> (8 * k)) & 0xff).toByte; k += 1 }
            h(28) = 0x68.toByte // blocksizes (2^8 / 2^6 packed) — shape only
            h(29) = 1 // framing bit
            h
          }
        page.write(magic, 0, magic.length)
        var i = magic.length
        while (i < len) { page.write(((id + s + j + i) % 251).toInt); i += 1 }
        val pb = page.toByteArray
        // RFC 3533 CRC over the whole page with the field zeroed
        val crc = pageCrc(pb, 0, pb.length, 22)
        var k = 0
        while (k < 4) { pb(22 + k) = ((crc >> (8 * k)) & 0xff).toByte; k += 1 }
        if (corruptMode == 2 && pageIdx == 1)
          pb(pb.length - 1) = (pb(pb.length - 1) ^ 0x40).toByte
        out.write(pb, 0, pb.length)
        pageIdx += 1
        j += 1
      }
      s += 1
    }
    out.toByteArray
  }
}

/** `ogg_meta(binary)` -> struct(n_pages, n_streams, n_bos, n_eos,
  * payload_bytes, max_granule, codec, channels, sample_rate, pre_skip)
  * or null per [[Ogg.meta]]; CRC-verified (round-13). */
case class OggMeta(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("n_pages", IntegerType), StructField("n_streams", IntegerType),
    StructField("n_bos", IntegerType), StructField("n_eos", IntegerType),
    StructField("payload_bytes", LongType),
    StructField("max_granule", LongType), StructField("codec", StringType),
    StructField("channels", IntegerType),
    StructField("sample_rate", LongType),
    StructField("pre_skip", IntegerType)))
  override def nullable: Boolean = true
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any =
    Ogg.meta(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some(m) => new GenericInternalRow(Array[Any](m.nPages, m.nStreams,
        m.nBos, m.nEos, m.payloadBytes, m.maxGranule,
        UTF8String.fromString(m.codec), m.channels, m.sampleRate, m.preSkip))
    }
  override protected def withNewChildInternal(newChild: Expression): OggMeta =
    copy(child = newChild)
  override def prettyName: String = "ogg_meta"
}

/** `synth_ogg_crcbad(id)` — structurally perfect pages, one payload
  * byte flipped AFTER CRC computation (round-13 CRC-routing lane). */
case class SynthOggCrcBad(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = BinaryType
  override def inputTypes = Seq(LongType)
  override def nullSafeEval(id: Any): Any =
    Ogg.synthCrcBroken(id.asInstanceOf[Long])
  override protected def withNewChildInternal(newChild: Expression): SynthOggCrcBad =
    copy(child = newChild)
  override def prettyName: String = "synth_ogg_crcbad"
}

/** `synth_ogg(id, corrupt)` per [[Ogg.synth]]. */
case class SynthOgg(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = BinaryType
  override def inputTypes = Seq(LongType, BooleanType)
  override def nullSafeEval(id: Any, c: Any): Any =
    Ogg.synth(id.asInstanceOf[Long], c.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SynthOgg = copy(left = l, right = r)
  override def prettyName: String = "synth_ogg"
}

object ogg {
  def ogg_meta(blob: Column): Column =
    ColumnBridge.column(OggMeta(ColumnBridge.expression(blob)))
  def synth_ogg(id: Column, corrupt: Column): Column =
    ColumnBridge.column(SynthOgg(ColumnBridge.expression(id),
      ColumnBridge.expression(corrupt)))
  def synth_ogg_crcbad(id: Column): Column =
    ColumnBridge.column(SynthOggCrcBad(ColumnBridge.expression(id)))
}

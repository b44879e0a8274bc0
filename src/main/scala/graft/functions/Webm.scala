package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WebM / Matroska EBML triage (RFC 8794 structure + the published
  * Matroska/WebM element IDs) — completes the video container family
  * (MP4/AVI/Ogg were covered; WebM is the other web-native one). EBML
  * vints: the element ID keeps its length-marker bit, the size strips
  * it (all-ones size = "unknown", legal for Segment). Walked elements:
  *   EBML header (0x1A45DFA3): DocType 0x4282, DocTypeVersion 0x4287,
  *     EBMLVersion 0x4286;
  *   Segment (0x18538067): Info 0x1549A966 -> TimestampScale 0x2AD7B1;
  *     Tracks 0x1654AE6B -> TrackEntry 0xAE -> TrackType 0x83 (1 =
  *     video, 2 = audio), CodecID 0x86 (string, e.g. V_VP8/A_OPUS);
  *     Cluster 0x1F43B675 (counted, payload skipped — sample decode is
  *     codec work, stated).
  * Never throws; malformation -> null. */
object Webm {

  final case class Meta(docType: String, docTypeVersion: Long,
      timestampScale: Long, nTracks: Int, nVideo: Int, nAudio: Int,
      codecs: String, nClusters: Int)

  // read an EBML vint at p; returns (value, width) — id keeps the
  // marker bit, size strips it; width 0 on malformation
  private def vint(b: Array[Byte], p: Int, keepMarker: Boolean): (Long, Int) = {
    if (p >= b.length) return (0L, 0)
    val first = b(p) & 0xff
    if (first == 0) return (0L, 0)
    val width = Integer.numberOfLeadingZeros(first) - 24 + 1
    if (width < 1 || width > 8 || p + width > b.length) return (0L, 0)
    var v = (if (keepMarker) first else first & ((1 << (8 - width)) - 1)).toLong
    var i = 1
    while (i < width) { v = (v << 8) | (b(p + i) & 0xff); i += 1 }
    (v, width)
  }

  private def uintAt(b: Array[Byte], p: Int, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < len) { v = (v << 8) | (b(p + i) & 0xff); i += 1 }
    v
  }

  def meta(b: Array[Byte]): Option[Meta] = {
    if (b == null || b.length < 8) return None
    var docType: String = null
    var docTypeVersion = -1L
    var timestampScale = 1000000L // Matroska default
    var nTracks = 0; var nVideo = 0; var nAudio = 0; var nClusters = 0
    val codecs = new scala.collection.mutable.ArrayBuffer[String](4)

    // walk children in [from, to); unknown elements skipped by size.
    // returns false on malformation. cb returns false to flag one.
    def walkLevel(from: Int, to: Int)(cb: (Long, Int, Int) => Boolean): Boolean = {
      var p = from
      while (p < to) {
        val (id, iw) = vint(b, p, keepMarker = true)
        if (iw == 0) return false
        val (sz, sw) = vint(b, p + iw, keepMarker = false)
        if (sw == 0) return false
        // all-ones payload size = unknown (stream to the end) — only
        // tolerated for Segment at top level (handled by caller)
        val unknown = sz == (1L << (7 * sw)) - 1
        val start = p + iw + sw
        val end = if (unknown) to else start + sz
        if (end < start || end > to || sz > Int.MaxValue) return false
        if (!cb(id, start, end.toInt)) return false
        p = end.toInt
      }
      true
    }

    val ok = walkLevel(0, b.length) { (id, f, t) =>
      id match {
        case 0x1A45DFA3L => // EBML header
          walkLevel(f, t) { (cid, cf, ct) =>
            cid match {
              case 0x4282L => docType = new String(b, cf, ct - cf, "US-ASCII"); true
              case 0x4287L => docTypeVersion = uintAt(b, cf, ct - cf); true
              case _ => true
            }
          }
        case 0x18538067L => // Segment
          walkLevel(f, t) { (cid, cf, ct) =>
            cid match {
              case 0x1549A966L => // Info
                walkLevel(cf, ct) { (iid, if_, it) =>
                  if (iid == 0x2AD7B1L) timestampScale = uintAt(b, if_, it - if_)
                  true
                }
              case 0x1654AE6BL => // Tracks
                walkLevel(cf, ct) { (tid, tf, tt) =>
                  if (tid != 0xAEL) true
                  else {
                    nTracks += 1
                    walkLevel(tf, tt) { (eid, ef, et) =>
                      eid match {
                        case 0x83L =>
                          val tt2 = uintAt(b, ef, et - ef)
                          if (tt2 == 1) nVideo += 1 else if (tt2 == 2) nAudio += 1
                          true
                        case 0x86L =>
                          if (codecs.size < 16)
                            codecs += new String(b, ef, et - ef, "US-ASCII")
                          true
                        case _ => true
                      }
                    }
                  }
                }
              case 0x1F43B675L => nClusters += 1; true
              case _ => true
            }
          }
        case _ => true
      }
    }
    if (!ok || docType == null) return None
    Some(Meta(docType, docTypeVersion, timestampScale, nTracks, nVideo,
      nAudio, codecs.mkString(","), nClusters))
  }

  /** Structurally-true synth: EBML header (doctype webm), Segment with
    * Info(TimestampScale), 1-2 TrackEntries (video V_VP8/V_VP9, audio
    * A_OPUS/A_VORBIS rotating by id), 1-4 Clusters with a Timestamp
    * child. `corrupt` breaks the EBML magic. */
  def synth(id: Long, corrupt: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(512)
    def writeId(v: Long): Unit = {
      // ids are written verbatim (marker included)
      var w = 8
      while (w > 1 && (v >> (8 * (w - 1))) == 0) w -= 1
      var i = w - 1
      while (i >= 0) { out.write(((v >> (8 * i)) & 0xff).toInt); i -= 1 }
    }
    def writeSize(v: Long): Unit = {
      // 1-byte form when it fits (v < 127), else 2-byte
      if (v < 127) out.write((0x80 | v).toInt)
      else { out.write((0x40 | (v >> 8)).toInt); out.write((v & 0xff).toInt) }
    }
    def element(id2: Long)(body: => Unit): Unit = {
      val mark = out.size()
      body
      val payload = out.toByteArray.drop(mark)
      val keep = out.toByteArray.take(mark)
      out.reset(); out.write(keep, 0, keep.length)
      writeId(id2); writeSize(payload.length.toLong)
      out.write(payload, 0, payload.length)
    }
    def uintEl(id2: Long, v: Long): Unit = element(id2) {
      var w = 8
      while (w > 1 && (v >> (8 * (w - 1))) == 0) w -= 1
      var i = w - 1
      while (i >= 0) { out.write(((v >> (8 * i)) & 0xff).toInt); i -= 1 }
    }
    def strEl(id2: Long, s: String): Unit = element(id2) {
      val bs = s.getBytes("US-ASCII"); out.write(bs, 0, bs.length)
    }
    element(0x1A45DFA3L) {
      uintEl(0x4286L, 1) // EBMLVersion
      strEl(0x4282L, "webm")
      uintEl(0x4287L, 2 + id % 3) // DocTypeVersion
    }
    element(0x18538067L) {
      element(0x1549A966L) {
        uintEl(0x2AD7B1L, 1000000L * (1 + id % 3))
      }
      element(0x1654AE6BL) {
        val nT = (1 + id % 2).toInt
        var k = 0
        while (k < nT) {
          element(0xAEL) {
            uintEl(0xD7L, k + 1L) // TrackNumber
            uintEl(0x83L, if ((id + k) % 2 == 0) 1L else 2L)
            strEl(0x86L,
              if ((id + k) % 2 == 0) Seq("V_VP8", "V_VP9")((id % 2).toInt)
              else Seq("A_OPUS", "A_VORBIS")((id % 2).toInt))
          }
          k += 1
        }
      }
      val nC = (1 + id % 4).toInt
      var c = 0
      while (c < nC) {
        element(0x1F43B675L) { uintEl(0xE7L, c * 40L) } // Timestamp
        c += 1
      }
    }
    val full = out.toByteArray
    if (corrupt) { full(2) = 0x00; full } else full
  }
}

/** `webm_meta(binary)` per [[Webm.meta]], or null. */
case class WebmMeta(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("doc_type", StringType),
    StructField("doc_type_version", LongType),
    StructField("timestamp_scale", LongType),
    StructField("n_tracks", IntegerType), StructField("n_video", IntegerType),
    StructField("n_audio", IntegerType), StructField("codecs", StringType),
    StructField("n_clusters", IntegerType)))
  override def nullable: Boolean = true
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any =
    Webm.meta(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some(m) => new GenericInternalRow(Array[Any](
        UTF8String.fromString(m.docType), m.docTypeVersion, m.timestampScale,
        m.nTracks, m.nVideo, m.nAudio, UTF8String.fromString(m.codecs),
        m.nClusters))
    }
  override protected def withNewChildInternal(newChild: Expression): WebmMeta =
    copy(child = newChild)
  override def prettyName: String = "webm_meta"
}

/** `synth_webm(id, corrupt)` per [[Webm.synth]]. */
case class SynthWebm(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = BinaryType
  override def inputTypes = Seq(LongType, BooleanType)
  override def nullSafeEval(id: Any, c: Any): Any =
    Webm.synth(id.asInstanceOf[Long], c.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SynthWebm = copy(left = l, right = r)
  override def prettyName: String = "synth_webm"
}

object webm {
  def webm_meta(blob: Column): Column =
    ColumnBridge.column(WebmMeta(ColumnBridge.expression(blob)))
  def synth_webm(id: Column, corrupt: Column): Column =
    ColumnBridge.column(SynthWebm(ColumnBridge.expression(id),
      ColumnBridge.expression(corrupt)))
}

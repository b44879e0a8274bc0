package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `blob_kind` — the engine's file(1): one magic-byte dispatch across
  * every container family the codec library decodes, so a mixed
  * 100 TB blob column routes to the right decoder with ONE cheap scan
  * (a prefix read — no decode, no shuffle) before the per-format
  * pipelines fan out. Detectors, in precedence order (more-specific
  * first where prefixes overlap):
  *
  *   png, jpeg, gif, bmp, qoi, tiff, ico, wav (RIFF/WAVE), avi
  *   (RIFF/AVI ), webp (RIFF/WEBP), mp4 (ftyp at 4), gzip, zstd (frame or skippable
  *   magic), zip, tar (ustar at 257), warc (WARC/1.), pgm/ppm (P5/P6),
  *   utf8_text / ascii_text (whole-blob scan, the one non-prefix
  *   rule), binary (anything else).
  *
  * Labels match each family's own triage kernel (jpeg_kind, wav_kind)
  * at the container level; those kernels then refine WITHIN the
  * format. Never throws; empty/null-safe.
  *
  * Brotli (`br`) is the ONE family that cannot be sniffed — RFC 7932
  * streams carry no magic, and a large fraction of random bytes
  * parses as a valid prefix. [[kindHinted]] therefore takes the
  * transfer-metadata hint a crawler actually has (Content-Encoding):
  * with hint "br" and a structurally valid stream ([[Brotli.meta]]),
  * the blob routes to "br"; the unhinted dispatch NEVER guesses
  * brotli by design (a guess would mislabel real binary). */
object BlobKind {

  def kind(b: Array[Byte]): String = {
    if (b == null) return null
    if (b.length == 0) return "empty"
    @inline def at(i: Int): Int = if (i < b.length) b(i) & 0xff else -1
    @inline def ascii(i: Int, s: String): Boolean =
      i + s.length <= b.length && s.indices.forall(k => b(i + k) == s.charAt(k).toByte)

    if (at(0) == 0x89 && ascii(1, "PNG\r\n") && at(6) == 0x1a && at(7) == 0x0a)
      return "png"
    if (at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) return "jpeg"
    if (ascii(0, "GIF87a") || ascii(0, "GIF89a")) return "gif"
    if (ascii(0, "qoif")) return "qoi"
    if (ascii(0, "BM")) return "bmp"
    if ((ascii(0, "II") && at(2) == 42 && at(3) == 0) ||
        (ascii(0, "MM") && at(2) == 0 && at(3) == 42)) return "tiff"
    if (at(0) == 0 && at(1) == 0 && at(2) == 1 && at(3) == 0 &&
        at(4) > 0 && at(5) == 0) return "ico"
    if (ascii(0, "RIFF") && ascii(8, "WAVE")) return "wav"
    if (ascii(0, "RIFF") && ascii(8, "AVI ")) return "avi"
    if (ascii(0, "RIFF") && ascii(8, "WEBP")) return "webp"
    if (ascii(4, "ftyp")) return "mp4"
    if (at(0) == 0x1f && at(1) == 0x8b) return "gzip"
    if (at(0) == 0x28 && at(1) == 0xb5 && at(2) == 0x2f && at(3) == 0xfd)
      return "zstd"
    if (at(0) >= 0x50 && at(0) <= 0x5f && at(1) == 0x2a && at(2) == 0x4d &&
        at(3) == 0x18) return "zstd" // skippable-frame magic family
    if (ascii(0, "PK") && (at(2) == 3 || at(2) == 5 || at(2) == 7))
      return "zip"
    if (ascii(257, "ustar")) return "tar"
    if (ascii(0, "WARC/1.")) return "warc"
    if (ascii(0, "PAR1")) return "parquet"
    if (ascii(0, "OggS")) return "ogg"
    if (ascii(0, "fLaC")) return "flac"
    if (at(0) == 0x1a && at(1) == 0x45 && at(2) == 0xdf && at(3) == 0xa3)
      return "webm" // EBML master element (WebM / Matroska)
    // ID3v2-tagged MP3 only: a bare 0xFFEx frame sync is too weak to
    // sniff (random binary matches it constantly — the brotli lesson)
    if (ascii(0, "ID3")) return "mp3"
    if (at(0) == 'P' && (at(1) == '5' || at(1) == '6') &&
        (at(2) == '\n' || at(2) == ' ')) return if (at(1) == '5') "pgm" else "ppm"
    // content fallback: the ONE whole-blob rule
    val (valid, _, _, _, n2, n3, n4, _) = Utf8.scan(b, build = false)
    if (valid && n2 + n3 + n4 == 0) "ascii_text"
    else if (valid) "utf8_text"
    else "binary"
  }

  /** Dispatch with a transfer-metadata hint (the Content-Encoding /
    * extension signal a crawler has): hint "br" + structurally valid
    * brotli -> "br"; any other hint value or an implausible stream
    * falls through to the magic dispatch. */
  def kindHinted(b: Array[Byte], hint: String): String = {
    if (b == null) return null
    if (hint != null && hint.equalsIgnoreCase("br") && Brotli.plausible(b))
      "br"
    else kind(b)
  }
}

/** `blob_kind(binary)` -> string label per [[BlobKind.kind]]. */
case class BlobKindOf(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(BlobKind.kind(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): BlobKindOf =
    copy(child = newChild)
  override def prettyName: String = "blob_kind"
}

/** `blob_kind_hinted(binary, hint)` -> label per
  * [[BlobKind.kindHinted]] (hint null-safe: null hint == no hint). */
case class BlobKindHinted(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def inputTypes = Seq(BinaryType, StringType)
  // null hint must NOT null the result: evaluate with nulls passed through
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val blob = left.eval(input)
    if (blob == null) return null
    val hint = right.eval(input)
    UTF8String.fromString(BlobKind.kindHinted(blob.asInstanceOf[Array[Byte]],
      if (hint == null) null else hint.toString))
  }
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BlobKindHinted = copy(left = newLeft, right = newRight)
  override def prettyName: String = "blob_kind_hinted"
}

object blobkind {
  def blob_kind(blob: Column): Column =
    ColumnBridge.column(BlobKindOf(ColumnBridge.expression(blob)))
  def blob_kind_hinted(blob: Column, hint: Column): Column =
    ColumnBridge.column(BlobKindHinted(ColumnBridge.expression(blob),
      ColumnBridge.expression(hint)))
}

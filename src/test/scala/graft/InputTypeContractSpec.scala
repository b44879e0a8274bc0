package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.avro.{AvroCanRead, AvroFraming, FromAvroConfluent, FromAvroDatum, FromAvroOcf,
  StaticSchemaRegistry, ToAvroConfluent, ToAvroDatum, ToAvroOcf}
import graft.functions._
import graft.model.Schemas

/** The input-type contract of every graft Catalyst expression, as a
  * table: one row per expression class, with the types each argument
  * accepts (every member of a union listed, array element nullability
  * both ways). Each row is built on typed null `Literal` children and
  * must pass `checkInputDataTypes` on every accepted type, and fail it
  * on a wrong type in each position: a string or binary it does not
  * take, a bare `NullType` (the analyzer, not the expression, types a
  * bare NULL) and, where a string is accepted, a non-default collation. */
class InputTypeContractSpec extends AnyFunSuite {

  private case class Contract(cls: String, build: Seq[Expression] => Expression,
      accepts: Seq[Seq[DataType]])

  private val bin = Seq(BinaryType)
  private val str = Seq(StringType)
  private val long = Seq(LongType)
  private val int = Seq(IntegerType)
  private val bool = Seq(BooleanType)
  private def arr(elems: DataType*): Seq[DataType] =
    elems.flatMap(e => Seq(ArrayType(e, containsNull = true), ArrayType(e, containsNull = false)))
  private val struct = Seq(Schemas.order, StructType(Nil))
  private val floatVec = arr(FloatType, DoubleType)
  private val integral = Seq(ByteType, ShortType, IntegerType, LongType)

  private val json = Schemas.orderAvroJson
  private def u(cls: String, f: Expression => Expression, a: Seq[DataType]) =
    Contract(cls, es => f(es(0)), Seq(a))
  private def b(cls: String, f: (Expression, Expression) => Expression,
      a: Seq[DataType], b: Seq[DataType]) = Contract(cls, es => f(es(0), es(1)), Seq(a, b))
  private def t(cls: String, f: (Expression, Expression, Expression) => Expression,
      a: Seq[DataType], b: Seq[DataType], c: Seq[DataType]) =
    Contract(cls, es => f(es(0), es(1), es(2)), Seq(a, b, c))
  private def q(cls: String, f: (Expression, Expression, Expression, Expression) => Expression,
      a: Seq[DataType], b: Seq[DataType], c: Seq[DataType], d: Seq[DataType]) =
    Contract(cls, es => f(es(0), es(1), es(2), es(3)), Seq(a, b, c, d))

  private val contracts: Seq[Contract] = Seq(
    // avro codec
    u("FromAvroOcf", FromAvroOcf(_, json), bin),
    u("ToAvroOcf", ToAvroOcf(_, json), struct),
    u("FromAvroDatum", FromAvroDatum(_, json), bin),
    u("ToAvroDatum", ToAvroDatum(_, json), struct),
    u("ToAvroConfluent", ToAvroConfluent(_, json, 1), struct),
    u("FromAvroConfluent",
      FromAvroConfluent(_, json, StaticSchemaRegistry(Map(1 -> json))), bin),
    b("AvroCanRead", AvroCanRead, str, str),
    u("AvroFraming", AvroFraming, bin),
    // kernels
    u("WordShingles", WordShingles(_, 2), arr(StringType)),
    b("FixedPointDot", FixedPointDot, floatVec, floatVec),
    b("FixedPointDotCent", FixedPointDotCent, floatVec, arr(LongType)),
    b("FixedPointL2", FixedPointL2, floatVec, floatVec),
    u("SimHash32", SimHash32, arr(StringType)),
    u("QuantizeInt8", QuantizeInt8, floatVec),
    b("ZOrder2", ZOrder2, integral, integral),
    b("JaroWinklerPpm", JaroWinklerPpm, str, str),
    u("NfcNormalize", NfcNormalize, str),
    u("StripAccents", StripAccents, str),
    u("WinnowFingerprints", WinnowFingerprints(_, 3, 2), str),
    u("StripHtml", StripHtml, str),
    u("GzipCompress", GzipCompress, bin),
    u("GzipDecompress", GzipDecompress, bin),
    u("SignSketch", SignSketch, floatVec),
    u("ChunkDocument", ChunkDocument(_, 4, 1), arr(StringType)),
    u("MultiMatchCounts", MultiMatchCounts(_, Seq("a")), str),
    // text ingest
    u("CharsetSniff", CharsetSniff, bin),
    u("HtmlEntityDecode", HtmlEntityDecode, str),
    u("QpDecode", QpDecode, str),
    u("IdnaDecode", IdnaDecode, str),
    u("UrlParse", UrlParse, str),
    b("PercentDecodeExpr", PercentDecodeExpr, str, bool),
    u("Utf8Stats", Utf8Stats, bin),
    u("Utf8Sanitize", Utf8Sanitize, bin),
    t("RobotsDecision", RobotsDecision, str, str, str),
    t("GeohashEncode", GeohashEncode, long, long, int),
    u("BlobKindOf", BlobKindOf, bin),
    b("BlobKindHinted", BlobKindHinted, bin, str),
    // containers and codecs
    u("SnappyCompress", SnappyCompress, bin),
    u("SnappyDecompress", SnappyDecompress, bin),
    u("ZstdFrameMeta", ZstdFrameMeta, bin),
    u("SynthZstd", SynthZstd, long),
    b("ZstdCompress", ZstdCompress, bin, bool),
    u("ZstdDecompress", ZstdDecompress, bin),
    b("ZstdCompressDict", ZstdCompressDict, bin, bin),
    b("ZstdDecompressDict", ZstdDecompressDict, bin, bin),
    u("ZstdSeekMeta", ZstdSeekMeta, bin),
    b("ZstdSeekRead", ZstdSeekRead, bin, int),
    u("ZstdSeekPack", ZstdSeekPack, arr(BinaryType)),
    u("BrotliMeta", BrotliMeta, bin),
    u("BrotliWrap", BrotliWrap, bin),
    u("BrotliUnwrap", BrotliUnwrap, bin),
    b("SynthBrotliStructural", SynthBrotliStructural, long, bool),
    u("ProtoStats", ProtoStats, bin),
    b("SynthProto", SynthProto, long, bool),
    u("ParquetFooterMeta", ParquetFooterMeta, bin),
    b("SynthParquet", SynthParquet, long, bool),
    u("TarEntries", TarEntries, bin),
    t("SynthTar", SynthTar, long, int, bool),
    u("ZipEntries", ZipEntries, bin),
    t("SynthZip", SynthZip, long, int, bool),
    u("WarcRecords", WarcRecords, bin),
    t("SynthWarc", SynthWarc, long, int, bool),
    // audio
    b("SynthAdpcm", SynthAdpcm, long, int),
    u("AdpcmStats", AdpcmStats, bin),
    u("WavKind", WavKind, bin),
    t("SynthWavG711", SynthWavG711, long, int, bool),
    u("AudioStatsG711", AudioStatsG711, bin),
    u("AudioMeta", AudioMeta, bin),
    u("AudioStats", AudioStats, bin),
    b("SynthWavPcm", SynthWavPcm, long, int),
    b("SynthWavBits", SynthWavBits(_, _, 16), long, int),
    u("FlacMeta", FlacMeta, bin),
    b("SynthFlac", SynthFlac, long, bool),
    u("Mp3Meta", Mp3Meta, bin),
    b("SynthMp3", SynthMp3, long, bool),
    u("OggMeta", OggMeta, bin),
    u("SynthOggCrcBad", SynthOggCrcBad, long),
    b("SynthOgg", SynthOgg, long, bool),
    // video
    u("VideoMeta", VideoMeta, bin),
    u("Mp4Meta", Mp4Meta, bin),
    u("Mp4Tracks", Mp4Tracks, bin),
    b("SynthMp4", SynthMp4, long, bool),
    u("WebmMeta", WebmMeta, bin),
    b("SynthWebm", SynthWebm, long, bool),
    // images
    u("ImageDims", ImageDims, bin),
    u("ImageStats", ImageStats, bin),
    u("ImageDownsample", ImageDownsample(_, 2), bin),
    t("SynthPgm", SynthPgm, long, int, int),
    t("SynthPng", SynthPng, long, int, int),
    u("PngStats", PngStats, bin),
    t("SynthPngRgb", SynthPngRgb, long, int, int),
    t("SynthPngPal", SynthPngPal, long, int, int),
    u("PngStatsRgb", PngStatsRgb, bin),
    t("SynthGif", SynthGif(_, _, _, false), long, int, int),
    u("GifStats", GifStats, bin),
    t("SynthPngAdam7", SynthPngAdam7, long, int, int),
    t("SynthPngRgba", SynthPngRgba, long, int, int),
    t("SynthJpeg", SynthJpeg, long, int, int),
    u("JpegStats", JpegStats, bin),
    t("SynthJpegRgb", SynthJpegRgb, long, int, int),
    u("JpegStatsRgb", JpegStatsRgb, bin),
    t("SynthJpeg420", SynthJpeg420, long, int, int),
    t("SynthJpegYcbcr", SynthJpegYcbcr, long, int, int),
    u("JpegStatsYcbcr", JpegStatsYcbcr, bin),
    t("SynthPng16", SynthPng16, long, int, int),
    u("PngStats16", PngStats16, bin),
    t("SynthJpegProg", SynthJpegProg, long, int, int),
    t("SynthJpegProg420", SynthJpegProg420, long, int, int),
    t("SynthPng16Rgb", SynthPng16Rgb, long, int, int),
    u("PngStats16Rgb", PngStats16Rgb, bin),
    u("JpegKind", JpegKind, bin),
    u("JpegWithSof", JpegWithSof(_, 0xC0), bin),
    t("SynthPngGa", SynthPngGa, long, int, int),
    t("SynthBmp", SynthBmp, long, int, int),
    u("BmpStatsRgb", BmpStatsRgb, bin),
    b("SynthIco", SynthIco, long, int),
    u("IcoStats", IcoStats, bin),
    u("ExifMeta", ExifMeta, bin),
    q("JpegWithExif", JpegWithExif, bin, long, int, int),
    q("SynthQoi", SynthQoi, long, int, int, bool),
    u("QoiStats", QoiStats, bin),
    Contract("SynthTiff", SynthTiff, Seq(long, int, int, bool, bool)),
    u("TiffStats", TiffStats, bin),
    u("WebpMeta", WebpMeta, bin),
    q("SynthWebp", SynthWebp, long, int, int, bool),
    u("WebpAnimFrames", WebpAnimFrames, bin),
    u("Vp8StatsExpr", Vp8StatsExpr, bin),
    q("SynthVp8", SynthVp8, long, int, int, int),
    u("Vp8lStats", Vp8lStats, bin),
    q("SynthVp8l", SynthVp8l, long, int, int, int))

  private def typed(ts: Seq[DataType]): Seq[Expression] = ts.map(Literal.create(null, _))

  private val lcase = StringType("UTF8_LCASE")

  /** Wrong types for one argument position: the first of string/binary
    * it does not accept, NullType, and a collated string if it takes
    * strings. */
  private def wrongFor(accepts: Seq[DataType]): Seq[DataType] =
    Seq(StringType, BinaryType).filterNot(accepts.contains).take(1) ++
      Seq(NullType) ++ (if (accepts.contains(StringType)) Seq(lcase) else Nil)

  test("the table has one row per expression class") {
    assert(contracts.size === 130)
    assert(contracts.map(_.cls).distinct.size === 130)
    contracts.foreach { c =>
      val e = c.build(typed(c.accepts.map(_.head)))
      assert(e.getClass.getSimpleName === c.cls)
      assert(e.children.size === c.accepts.size, c.cls)
    }
  }

  contracts.foreach { c =>
    test(s"${c.cls}: accepts ${c.accepts.map(_.map(_.simpleString).mkString("|"))
      .mkString("(", ", ", ")")}, rejects a wrong type in each position") {
      val base = c.accepts.map(_.head)
      for (i <- base.indices; ok <- c.accepts(i)) {
        val r = c.build(typed(base.updated(i, ok))).checkInputDataTypes()
        assert(r.isSuccess, s"${c.cls} arg $i = $ok should be accepted: $r")
      }
      for (i <- base.indices; bad <- wrongFor(c.accepts(i))) {
        val r = c.build(typed(base.updated(i, bad))).checkInputDataTypes()
        assert(r.isFailure, s"${c.cls} arg $i = $bad should be rejected")
      }
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL user surface: a session built with GraftExtensions
  * must expose the ingest-kernel family as SQL functions — same
  * Expression classes the Column API plans, resolved by name through
  * the catalog. (A fresh SparkSession is forced so the extension list
  * actually applies; getOrCreate would silently reuse a session built
  * without it.) */
class SqlSurfaceSpec extends AnyFunSuite {

  private lazy val sql: SparkSession = {
    // reuse the shared context but force a NEW session so
    // withExtensions takes effect
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("sql-surface")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s
  }

  private def one[T](q: String): T =
    sql.sql(q).head().get(0).asInstanceOf[T]

  test("text kernels resolve and evaluate through spark.sql") {
    assert(one[String]("SELECT utf8_sanitize(cast('ok' as binary))") === "ok")
    assert(one[Boolean](
      "SELECT utf8_stats(cast('café' as binary)).valid") === true)
    assert(one[String]("SELECT charset_sniff(cast('plain' as binary))") === "ascii")
    assert(one[String]("SELECT html_entity_decode('a &amp; b')") === "a & b")
    assert(one[String]("SELECT qp_decode('a=3Db')") === "a=b")
    assert(one[String](
      "SELECT percent_decode('caf%C3%A9', false)") === "café")
    assert(one[String]("SELECT idna_decode('xn--n3h.net')") === "☃.net")
    assert(one[String]("SELECT url_parse('HTTPS://X.com/a').normalized")
      === "https://x.com/a")
  }

  test("blob kernels resolve and evaluate through spark.sql") {
    assert(one[String]("SELECT blob_kind(cast('GIF89a...' as binary))") === "gif")
    assert(one[Array[Byte]](
      "SELECT snappy_decompress(snappy_compress(cast('abcabcabc' as binary)))")
      .sameElements("abcabcabc".getBytes))
    assert(one[String](
      "SELECT zstd_frame_meta(cast('nope' as binary)).kind") === "not_zstd")
    assert(one[String]("SELECT geohash(57649110L, 10407440L, 5)") === "u4pru")
    assert(one[Boolean](
      "SELECT robots_decision('User-agent: *\nDisallow: /private\n', " +
        "'bot', '/private/x').allowed") === false)
    // round-11 kernels: full zstd codec, brotli store layer, mp4
    // triage, hinted dispatch
    assert(one[Array[Byte]](
      "SELECT zstd_decompress(zstd_compress(cast('frame frame frame' as binary), true))")
      .sameElements("frame frame frame".getBytes))
    assert(one[Array[Byte]](
      "SELECT brotli_unwrap(brotli_wrap(cast('stored bytes' as binary)))")
      .sameElements("stored bytes".getBytes))
    assert(one[String](
      "SELECT brotli_meta(brotli_wrap(cast('x' as binary))).kind") === "br_store")
    assert(one[String](
      "SELECT blob_kind_hinted(brotli_wrap(cast('x' as binary)), 'br')") === "br")
    assert(one[String](
      "SELECT mp4_meta(cast('not a box walk' as binary)).major_brand") === null)
    // round-12 kernels: VP8L pixel decode, MP4 sample-table walk,
    // brotli structural synth
    assert(one[Boolean](
      "SELECT vp8l_stats(cast('not a webp' as binary)) IS NULL") === true)
    // round-13: VP8 lossy key-frame pixel decode
    assert(one[Boolean](
      "SELECT vp8_stats(cast('not a vp8 frame' as binary)) IS NULL") === true)
    // round-13: FLAC/WebM triage + CRC-broken ogg synth
    assert(one[Boolean](
      "SELECT flac_meta(cast('not flac' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT webm_meta(cast('not webm' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT ogg_meta(synth_ogg_crcbad(5::long)) IS NULL") === true)
    assert(one[Long](
      "SELECT flac_meta(synth_flac(6::long, false)).sample_rate") === 8000L)
    assert(one[String](
      "SELECT webm_meta(synth_webm(4::long, false)).doc_type") === "webm")
    assert(one[Boolean](
      "SELECT webp_anim_frames(cast('no anim here' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT mp4_tracks(cast('not an mp4' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT parquet_footer(cast('PAR1 nope' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT mp3_meta(cast('not audio' as binary)) IS NULL") === true)
    assert(one[Boolean](
      "SELECT ogg_meta(cast('OggS nope' as binary)) IS NULL") === true)
  }

  private val json = graft.model.Schemas.orderAvroJson
  private val order =
    "named_struct('orderId', 'o-1', 'product', 'Widget', 'price', cast(4.5 as float))"

  test("all eight Avro functions resolve and evaluate through spark.sql") {
    assert(one[String](s"SELECT avro_framing(to_avro_ocf($order, '$json'))") === "ocf")
    assert(one[String](
      s"SELECT from_avro_ocf(to_avro_ocf($order, '$json'), '$json').product") === "Widget")
    assert(one[String](
      s"SELECT from_avro_datum(to_avro_datum($order, '$json'), '$json').orderId") === "o-1")
    assert(one[Float](s"SELECT from_avro_confluent(to_avro_confluent($order, '$json', 7), " +
      s"'$json', 7).price") === 4.5f)
    assert(one[String](
      s"SELECT avro_framing(to_avro_confluent($order, '$json', 7))") === "confluent")
    assert(one[Boolean](s"SELECT avro_can_read('$json', '$json')") === true)
    // an unknown schema id decodes to null, not an error
    assert(one[Any](s"SELECT from_avro_confluent(to_avro_confluent($order, '$json', 7), " +
      s"'$json', 8)") === null)
  }

  /** Every SQL function the extension registers, with the arguments
    * after the first. */
  private val calls: Seq[(String, String)] = Seq(
    "from_avro_ocf" -> s", '$json'", "to_avro_ocf" -> s", '$json'",
    "from_avro_datum" -> s", '$json'", "to_avro_datum" -> s", '$json'",
    "from_avro_confluent" -> s", '$json', 1", "to_avro_confluent" -> s", '$json', 1",
    "avro_can_read" -> s", '$json'", "avro_framing" -> "",
    "chunk_document" -> ", 4, 1",
    "blob_kind" -> "", "blob_kind_hinted" -> ", 'br'", "charset_sniff" -> "",
    "utf8_stats" -> "", "utf8_sanitize" -> "", "html_entity_decode" -> "",
    "qp_decode" -> "", "idna_decode" -> "", "url_parse" -> "",
    "percent_decode" -> ", false", "robots_decision" -> ", 'bot', '/x'",
    "geohash" -> ", 10407440L, 5",
    "snappy_compress" -> "", "snappy_decompress" -> "", "proto_stats" -> "",
    "zstd_frame_meta" -> "", "zstd_decompress" -> "", "zstd_compress" -> ", true",
    "zstd_compress_dict" -> ", cast('d' as binary)",
    "zstd_decompress_dict" -> ", cast('d' as binary)",
    "zstd_seek_pack" -> "", "zstd_seek_meta" -> "", "zstd_seek_read" -> ", 0",
    "brotli_meta" -> "", "brotli_wrap" -> "", "brotli_unwrap" -> "",
    "mp4_meta" -> "", "mp4_tracks" -> "", "parquet_footer" -> "", "mp3_meta" -> "",
    "ogg_meta" -> "", "synth_ogg_crcbad" -> "", "flac_meta" -> "",
    "synth_flac" -> ", false", "webm_meta" -> "", "synth_webm" -> ", false",
    "webp_meta" -> "", "vp8l_stats" -> "", "vp8_stats" -> "", "webp_anim_frames" -> "",
    "synth_vp8" -> ", 16, 16, 0", "qoi_stats" -> "", "tiff_stats" -> "",
    "ico_stats" -> "", "exif_meta" -> "", "adpcm_stats" -> "")

  test("the call table covers every SQL function the extension registers") {
    val registry = sql.sessionState.functionRegistry
    val graftFns = registry.listFunction().map(_.funcName).filter(name =>
      registry.lookupFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)).exists(
        _.getClassName.startsWith("graft.")))
    assert(graftFns.toSet === calls.map(_._1).toSet)
  }

  test("a bare NULL first argument resolves to a typed null and evaluates") {
    for ((fn, rest) <- calls) {
      val df = sql.sql(s"SELECT $fn(NULL$rest)")
      val cls = sql.sessionState.functionRegistry
        .lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(fn)).get.getClassName
      val resolved = df.queryExecution.analyzed.flatMap(_.expressions)
        .flatMap(_.collect { case e if e.getClass.getName == cls => e })
      assert(resolved.size === 1, fn)
      assert(resolved.head.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes], fn)
      assert(resolved.head.children.head.dataType !=
        org.apache.spark.sql.types.NullType, fn)
      df.collect()
    }
  }

  test("a wrong-typed first argument fails analysis with DATATYPE_MISMATCH") {
    for ((fn, rest) <- calls) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        sql.sql(s"SELECT $fn(array(1)$rest)").collect())
      assert(e.getMessage.contains("DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE"),
        s"$fn: ${e.getMessage}")
    }
  }

  test("the asof planner strategy and codec-elimination rule ride the " +
    "same extension class (smoke: session plans a query)") {
    // a plain SQL round through the new session proves the injected
    // optimizer rules/strategies didn't break ordinary planning
    assert(sql.sql("SELECT 1 + 1").head().getInt(0) === 2)
  }
}

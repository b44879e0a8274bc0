package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Geohash encoding (Niemeyer 2008, public algorithm) — the standard
  * geo-bucketing key: interleaved longitude/latitude bisection bits,
  * base-32 alphabet '0123456789bcdefghjkmnpqrstuvwxyz'. Prefix-shared
  * geohashes are spatial neighbors, so GROUP BY substr(gh, 1, k) is
  * the shuffle-friendly spatial join/aggregation primitive at corpus
  * scale (the geo twin of the Z-order kernel).
  *
  * EXACT integer formulation: coordinates arrive in MICRO-degrees
  * (long), each axis quantizes as
  * q = min(floor((x - lo) · 2^k / range), 2^k − 1) — the clamp is the
  * x = hi edge — which equals the classic per-bit bisection; the bits
  * of q, MSB first, interleave lon-first. No floating point anywhere,
  * so the oracle replays the arithmetic term by term. Out-of-range
  * coordinates return null (PERMISSIVE). */
object Geohash {

  private final val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  def encode(latMicro: Long, lonMicro: Long, precision: Int): String = {
    if (precision < 1 || precision > 12) return null
    if (latMicro < -90000000L || latMicro > 90000000L) return null
    if (lonMicro < -180000000L || lonMicro > 180000000L) return null
    val bits = 5 * precision
    val lonBits = (bits + 1) / 2 // lon leads, so odd totals give lon the extra
    val latBits = bits / 2
    val qLon = quant(lonMicro + 180000000L, 360000000L, lonBits)
    val qLat = quant(latMicro + 90000000L, 180000000L, latBits)
    val sb = new java.lang.StringBuilder(precision)
    var acc = 0
    var nacc = 0
    var i = 0
    var lonTurn = true
    var li = 0; var ti = 0
    while (i < bits) {
      val bit =
        if (lonTurn) { val v = (qLon >>> (lonBits - 1 - li)) & 1L; li += 1; v }
        else { val v = (qLat >>> (latBits - 1 - ti)) & 1L; ti += 1; v }
      lonTurn = !lonTurn
      acc = (acc << 1) | bit.toInt
      nacc += 1
      if (nacc == 5) { sb.append(Alphabet.charAt(acc)); acc = 0; nacc = 0 }
      i += 1
    }
    sb.toString
  }

  @inline private def quant(offset: Long, range: Long, k: Int): Long = {
    val q = (offset << k) / range // offset ≤ 3.6e8, k ≤ 30: no overflow
    val max = (1L << k) - 1
    if (q > max) max else q
  }
}

/** `geohash(lat_micro, lon_micro, precision)` -> base-32 geohash
  * string, or null for out-of-range coordinates/precision. */
case class GeohashEncode(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def inputTypes = Seq(LongType, LongType, IntegerType)
  override def nullSafeEval(latA: Any, lonA: Any, pA: Any): Any = {
    val s = Geohash.encode(latA.asInstanceOf[Long], lonA.asInstanceOf[Long],
      pA.asInstanceOf[Int])
    if (s == null) null else UTF8String.fromString(s)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): GeohashEncode = copy(first = f, second = s, third = t)
  override def prettyName: String = "geohash"
}

object geohash {
  def geohash(latMicro: Column, lonMicro: Column, precision: Column): Column =
    ColumnBridge.column(GeohashEncode(ColumnBridge.expression(latMicro),
      ColumnBridge.expression(lonMicro), ColumnBridge.expression(precision)))
}

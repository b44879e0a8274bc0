package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Protocol-Buffers wire format (the public encoding spec:
  * protobuf.dev/programming-guides/encoding) — schema-FREE profiling
  * of binary log/event payloads. At 100 TB most event streams are
  * protobuf-framed; before a schema is known (or when it drifted),
  * the wire walk itself answers the triage questions: how many
  * fields, which numbers, which wire types, how much of the payload
  * is length-delimited (strings/bytes/submessages) vs numeric.
  *
  * Wire grammar implemented: records of (varint key = field<<3|wire)
  * with wire 0 = varint (base-128, ≤10 bytes), 1 = fixed64,
  * 2 = length-delimited (varint length + bytes), 5 = fixed32.
  * Wire 3/4 (groups) are deprecated-and-rejected → null, as is any
  * overrun, oversize varint, or field number 0. Zigzag/packed/nested
  * are application-layer views of wire-2/0 values and show up in the
  * profile as their raw encodings (the oracle replays the zigzag
  * arithmetic explicitly). Never throws on arbitrary bytes. */
object Proto {

  final case class Profile(nFields: Int, maxField: Int,
      nVarint: Int, varintSum: Long, nI64: Int, i64Sum: Long,
      nLen: Int, lenBytes: Long, nI32: Int, i32Sum: Long)

  def profile(b: Array[Byte]): Option[Profile] = {
    if (b == null) return None
    var p = 0
    var bad = false // error channel: a varint VALUE can legally be any
    // long (10-byte encodings of negatives), so no in-band sentinel
    def varint(): Long = {
      var v = 0L
      var shift = 0
      while (true) {
        if (p >= b.length || shift >= 70) { bad = true; return 0L }
        val x = b(p) & 0xff; p += 1
        v |= (x & 0x7fL) << shift
        shift += 7
        if ((x & 0x80) == 0) return v
      }
      0L
    }
    var nFields = 0; var maxField = 0
    var nVarint = 0; var varintSum = 0L
    var nI64 = 0; var i64Sum = 0L
    var nLen = 0; var lenBytes = 0L
    var nI32 = 0; var i32Sum = 0L
    while (p < b.length) {
      val key = varint()
      if (bad || key < 0) return None // keys are small positive varints
      val field = (key >>> 3).toInt
      val wire = (key & 7).toInt
      if (field <= 0 || (key >>> 3) > Int.MaxValue) return None
      nFields += 1
      if (field > maxField) maxField = field
      wire match {
        case 0 =>
          val v = varint()
          if (bad) return None
          nVarint += 1; varintSum += v
        case 1 =>
          if (p + 8 > b.length) return None
          var v = 0L
          var k = 0
          while (k < 8) { v |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
          p += 8
          nI64 += 1; i64Sum += v
        case 2 =>
          val len = varint()
          if (bad || len < 0 || p + len > b.length) return None
          p += len.toInt
          nLen += 1; lenBytes += len
        case 5 =>
          if (p + 4 > b.length) return None
          var v = 0L
          var k = 0
          while (k < 4) { v |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
          p += 4
          nI32 += 1; i32Sum += v
        case _ => return None // groups (3/4) and invalid types
      }
    }
    Some(Profile(nFields, maxField, nVarint, varintSum, nI64, i64Sum,
      nLen, lenBytes, nI32, i32Sum))
  }

  /** Varint append. */
  private def putVarint(out: java.io.ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def key(field: Int, wire: Int): Long = (field.toLong << 3) | wire

  /** The synthesis the oracle replays: seven fields —
    * 1: varint (id % 300), 2: sint64 zigzag of ((id % 21) - 10),
    * 3: fixed64 (id*3+7), 4: string of 5 + id%11 'a'-run bytes,
    * 5: fixed32 ((id*5+1) % 1000), 6: nested message {1: id%100},
    * 7: packed varints [id%50, (id+1)%50, (id+2)%50]. When corrupt,
    * the final two bytes are dropped (mid-record truncation). */
  def synth(id: Long, corrupt: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    putVarint(out, key(1, 0)); putVarint(out, id % 300)
    val s2 = (id % 21) - 10
    putVarint(out, key(2, 0)); putVarint(out, (s2 << 1) ^ (s2 >> 63)) // zigzag
    putVarint(out, key(3, 1))
    val v3 = id * 3 + 7
    var k = 0
    while (k < 8) { out.write(((v3 >>> (8 * k)) & 0xff).toInt); k += 1 }
    putVarint(out, key(4, 2))
    val l4 = (5 + id % 11).toInt
    putVarint(out, l4.toLong)
    var i = 0
    while (i < l4) { out.write('a' + (i % 26)); i += 1 }
    putVarint(out, key(5, 5))
    val v5 = (id * 5 + 1) % 1000
    k = 0
    while (k < 4) { out.write(((v5 >>> (8 * k)) & 0xff).toInt); k += 1 }
    val nested = new java.io.ByteArrayOutputStream(4)
    putVarint(nested, key(1, 0)); putVarint(nested, id % 100)
    putVarint(out, key(6, 2)); putVarint(out, nested.size.toLong)
    nested.writeTo(out)
    val packed = new java.io.ByteArrayOutputStream(4)
    putVarint(packed, id % 50); putVarint(packed, (id + 1) % 50)
    putVarint(packed, (id + 2) % 50)
    putVarint(out, key(7, 2)); putVarint(out, packed.size.toLong)
    packed.writeTo(out)
    val bytes = out.toByteArray
    if (corrupt) bytes.dropRight(2) else bytes
  }
}

/** `proto_stats(binary)` -> struct(n_fields, max_field, n_varint,
  * varint_sum, n_i64, i64_sum, n_len, len_bytes, n_i32, i32_sum) —
  * the schema-free wire profile, or null on malformed bytes. */
case class ProtoStats(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("n_fields", IntegerType), StructField("max_field", IntegerType),
    StructField("n_varint", IntegerType), StructField("varint_sum", LongType),
    StructField("n_i64", IntegerType), StructField("i64_sum", LongType),
    StructField("n_len", IntegerType), StructField("len_bytes", LongType),
    StructField("n_i32", IntegerType), StructField("i32_sum", LongType)))
  override def nullable: Boolean = true
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any =
    Proto.profile(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some(pr) =>
        new GenericInternalRow(Array[Any](pr.nFields, pr.maxField,
          pr.nVarint, pr.varintSum, pr.nI64, pr.i64Sum,
          pr.nLen, pr.lenBytes, pr.nI32, pr.i32Sum))
    }
  override protected def withNewChildInternal(newChild: Expression): ProtoStats =
    copy(child = newChild)
  override def prettyName: String = "proto_stats"
}

/** `synth_proto(id, corrupt)` -> the seven-field wire message above. */
case class SynthProto(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = BinaryType
  override def inputTypes = Seq(LongType, BooleanType)
  override def nullSafeEval(idA: Any, corruptA: Any): Any =
    Proto.synth(idA.asInstanceOf[Long], corruptA.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SynthProto =
    copy(left = l, right = r)
  override def prettyName: String = "synth_proto"
}

object proto {
  def proto_stats(blob: Column): Column =
    ColumnBridge.column(ProtoStats(ColumnBridge.expression(blob)))
  def synth_proto(id: Column, corrupt: Column): Column =
    ColumnBridge.column(SynthProto(ColumnBridge.expression(id),
      ColumnBridge.expression(corrupt)))
}

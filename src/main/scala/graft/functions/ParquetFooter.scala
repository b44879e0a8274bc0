package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Parquet FOOTER triage — the data-lake forensics kernel: given an
  * opaque blob claimed to be parquet, read the planning envelope a
  * 100 TB lake operation needs WITHOUT a table scan: row count,
  * leaf-column count, row-group count + total byte size, writer
  * identity. This is the real access pattern for foreign-file audits
  * (two byte-range reads: the 8-byte tail, then the footer).
  *
  * The footer is Thrift COMPACT protocol (the format every parquet
  * writer emits): varint/zigzag ints, delta-encoded field ids, nested
  * structs, size-prefixed lists. The walker decodes the FileMetaData
  * fields it reports (version=1, schema=2, num_rows=3, row_groups=4,
  * created_by=6) and GENERICALLY skips everything else by wire type —
  * forward-compatible with writer extensions, like the protobuf
  * walker. Anchored two ways: ParquetFooterSpec parses the REAL
  * pyarrow-written testdata files and cross-checks Spark's own reader;
  * q_parquet_real does the same through the binaryFile source with
  * DuckDB row counts as the oracle. Never throws; malformation ->
  * None. */
object ParquetFooter {

  final case class Meta(version: Int, numRows: Long, nColumns: Int,
      nRowGroups: Int, totalByteSize: Long, createdBy: String)

  private final class Corrupt extends RuntimeException(null, null, false, false)
  @inline private def fail(): Nothing = throw new Corrupt

  private final class R(val b: Array[Byte], var p: Int, val end: Int) {
    def u8(): Int = {
      if (p >= end) fail()
      val v = b(p) & 0xff
      p += 1
      v
    }
    def varint(): Long = {
      var shift = 0
      var v = 0L
      while (shift <= 63) {
        val x = u8()
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
      }
      fail()
    }
    def zigzag(): Long = { val n = varint(); (n >>> 1) ^ -(n & 1) }
    def skipBytes(n: Long): Unit = {
      if (n < 0 || p + n > end) fail()
      p += n.toInt
    }
  }

  // thrift compact wire types
  private final val TStop = 0
  private final val TBoolTrue = 1
  private final val TBoolFalse = 2
  private final val TByte = 3
  private final val TI16 = 4
  private final val TI32 = 5
  private final val TI64 = 6
  private final val TDouble = 7
  private final val TBinary = 8
  private final val TList = 9
  private final val TSet = 10
  private final val TMap = 11
  private final val TStruct = 12
  private final val TUuid = 13

  /** Skip one value of wire type `t` (inside a collection, bools carry
    * one payload byte; as a FIELD the header already encoded them). */
  private def skipValue(r: R, t: Int, inCollection: Boolean): Unit = t match {
    case TBoolTrue | TBoolFalse => if (inCollection) r.skipBytes(1)
    case TByte => r.skipBytes(1)
    case TI16 | TI32 | TI64 => r.varint(); ()
    case TDouble => r.skipBytes(8)
    case TBinary => r.skipBytes(r.varint())
    case TList | TSet =>
      val (n, et) = listHeader(r)
      var i = 0L
      while (i < n) { skipValue(r, et, inCollection = true); i += 1 }
    case TMap =>
      val h = r.u8()
      if (h != 0) {
        // non-empty map: that byte was the varint size's first byte
        r.p -= 1
        val n = r.varint()
        val kv = r.u8()
        val kt = (kv >> 4) & 0xf
        val vt = kv & 0xf
        var i = 0L
        while (i < n) {
          skipValue(r, kt, inCollection = true)
          skipValue(r, vt, inCollection = true)
          i += 1
        }
      }
    case TStruct => walkStruct(r)((_, _) => false)
    case TUuid => r.skipBytes(16)
    case _ => fail()
  }

  private def listHeader(r: R): (Long, Int) = {
    val h = r.u8()
    val et = h & 0xf
    val sz = (h >> 4) & 0xf
    val n = if (sz == 15) r.varint() else sz.toLong
    if (n < 0 || n > (r.end - r.p)) fail() // every element costs >=1 byte
    (n, et)
  }

  /** Walk one struct's fields; `onField(id, type)` returns true when it
    * consumed the value, false to generic-skip. Bool fields' values
    * live in the type nibble, so onField sees them consumed either
    * way. */
  private def walkStruct(r: R)(onField: (Int, Int) => Boolean): Unit = {
    var prevId = 0
    var continue = true
    while (continue) {
      val h = r.u8()
      if (h == TStop) continue = false
      else {
        val t = h & 0xf
        val delta = (h >> 4) & 0xf
        val id = if (delta == 0) r.zigzag().toInt else prevId + delta
        prevId = id
        if (t == TBoolTrue || t == TBoolFalse) { onField(id, t); () }
        else if (!onField(id, t)) skipValue(r, t, inCollection = false)
      }
    }
  }

  /** Parse the footer of a complete parquet file image. */
  def parse(b: Array[Byte]): Option[Meta] = {
    if (b == null || b.length < 12) return None
    try {
      @inline def cc(i: Int): Boolean =
        b(i) == 'P' && b(i + 1) == 'A' && b(i + 2) == 'R' && b(i + 3) == '1'
      if (!cc(0) || !cc(b.length - 4)) return None
      val fl = (b(b.length - 8) & 0xffL) | ((b(b.length - 7) & 0xffL) << 8) |
        ((b(b.length - 6) & 0xffL) << 16) | ((b(b.length - 5) & 0xffL) << 24)
      val start = b.length - 8 - fl
      if (fl <= 0 || start < 4) return None
      val r = new R(b, start.toInt, b.length - 8)
      var version = -1
      var numRows = -1L
      var nCols = 0
      var nGroups = 0
      var nonLeaf = 0
      var totalBytes = 0L
      var createdBy: String = null
      walkStruct(r) { (id, t) =>
        (id, t) match {
          case (1, TI32) => version = r.zigzag().toInt; true
          case (2, TList) => // schema elements (flat pre-order tree)
            val (n, et) = listHeader(r)
            if (et != TStruct) fail()
            var i = 0L
            while (i < n) {
              var children = 0L
              walkStruct(r) { (fid, ft) =>
                if (fid == 5 && ft == TI32) { children = r.zigzag(); true }
                else false
              }
              nCols += 1
              if (children > 0) nonLeaf += 1
              i += 1
            }
            true
          case (3, TI64) => numRows = r.zigzag(); true
          case (4, TList) => // row groups
            val (n, et) = listHeader(r)
            if (et != TStruct) fail()
            var i = 0L
            while (i < n) {
              walkStruct(r) { (fid, ft) =>
                if (fid == 2 && ft == TI64) { totalBytes += r.zigzag(); true }
                else false
              }
              nGroups += 1
              i += 1
            }
            true
          case (6, TBinary) =>
            val len = r.varint()
            if (len > r.end - r.p) fail()
            createdBy = new String(b, r.p, len.toInt, "UTF-8")
            r.skipBytes(len)
            true
          case _ => false
        }
      }
      if (numRows < 0 || nCols <= 0) return None
      Some(Meta(version, numRows, nCols - nonLeaf, nGroups, totalBytes,
        if (createdBy == null) "" else createdBy))
    } catch {
      case _: Corrupt => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  // ---------------------------------------------------------- synthesis

  private final class W {
    val out = new java.io.ByteArrayOutputStream(256)
    def u8(v: Int): Unit = out.write(v & 0xff)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { u8(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      u8(v.toInt)
    }
    def zigzag(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    def field(prevId: Int, id: Int, t: Int): Unit = {
      val delta = id - prevId
      if (delta >= 1 && delta <= 15) u8((delta << 4) | t)
      else { u8(t); zigzag(id.toLong) }
    }
    def str(s: String): Unit = {
      val bs = s.getBytes("UTF-8")
      varint(bs.length.toLong)
      out.write(bs, 0, bs.length)
    }
  }

  /** Synthesize a structurally-true parquet file image for the oracle:
    * "PAR1" + opaque body + a real thrift-compact FileMetaData (root +
    * `1 + id%5` leaf schema elements, `1 + id%3` row groups with
    * arithmetic sizes, created_by "graft") + length + "PAR1". The
    * footer also carries an UNKNOWN field (key_value_metadata, id 5)
    * so the generic skip path is always exercised. `corrupt` breaks
    * the declared footer length. */
  def synth(id: Long, corrupt: Boolean): Array[Byte] = {
    val nCols = (1 + id % 5).toInt
    val nGroups = (1 + id % 3).toInt
    val numRows = 100L + id % 1000
    val w = new W
    // FileMetaData
    w.field(0, 1, TI32); w.zigzag(2L) // version
    w.field(1, 2, TList) // schema
    val nEl = 1 + nCols
    if (nEl < 15) w.u8((nEl << 4) | TStruct)
    else { w.u8(0xf0 | TStruct); w.varint(nEl.toLong) }
    // root element: name + num_children
    w.field(0, 4, TBinary); w.str("schema")
    w.field(4, 5, TI32); w.zigzag(nCols.toLong)
    w.u8(TStop)
    var c = 0
    while (c < nCols) {
      // leaf: type (1=INT64 code 2? arbitrary valid i32), repetition, name
      w.field(0, 1, TI32); w.zigzag(2L)
      w.field(1, 3, TI32); w.zigzag(1L)
      w.field(3, 4, TBinary); w.str(s"c$c")
      w.u8(TStop)
      c += 1
    }
    w.field(2, 3, TI64); w.zigzag(numRows) // num_rows
    w.field(3, 4, TList) // row groups
    w.u8((nGroups << 4) | TStruct)
    var g = 0
    while (g < nGroups) {
      w.field(0, 1, TList); w.u8(TStruct) // columns: empty list
      w.field(1, 2, TI64); w.zigzag(1000L + (id + g * 13) % 5000)
      w.field(2, 3, TI64); w.zigzag(numRows / nGroups)
      w.u8(TStop)
      g += 1
    }
    // an unknown-to-the-walker field: key_value_metadata (id 5), one
    // entry -> the generic list-of-struct skip runs on every file
    w.field(4, 5, TList)
    w.u8((1 << 4) | TStruct)
    w.field(0, 1, TBinary); w.str("writer.note")
    w.field(1, 2, TBinary); w.str(s"id=$id")
    w.u8(TStop)
    w.field(5, 6, TBinary); w.str("graft-parquet 1.0") // created_by
    w.u8(TStop)
    val footer = w.out.toByteArray
    val out = new java.io.ByteArrayOutputStream(footer.length + 64)
    out.write("PAR1".getBytes("US-ASCII"), 0, 4)
    // opaque "column chunk" body bytes
    var i = 0
    val bodyLen = (8 + id % 24).toInt
    while (i < bodyLen) { out.write(((id + i) % 251).toInt); i += 1 }
    out.write(footer, 0, footer.length)
    val fl = if (corrupt) footer.length + 7 else footer.length
    out.write(fl & 0xff); out.write((fl >> 8) & 0xff)
    out.write((fl >> 16) & 0xff); out.write((fl >> 24) & 0xff)
    out.write("PAR1".getBytes("US-ASCII"), 0, 4)
    out.toByteArray
  }
}

/** `parquet_footer(binary)` -> struct(version, num_rows, n_columns,
  * n_row_groups, total_byte_size, created_by) or null per
  * [[ParquetFooter.parse]]. */
case class ParquetFooterMeta(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("version", IntegerType), StructField("num_rows", LongType),
    StructField("n_columns", IntegerType),
    StructField("n_row_groups", IntegerType),
    StructField("total_byte_size", LongType),
    StructField("created_by", StringType)))
  override def nullable: Boolean = true
  override def inputTypes = Seq(BinaryType)
  override def nullSafeEval(input: Any): Any =
    ParquetFooter.parse(input.asInstanceOf[Array[Byte]]) match {
      case None => null
      case Some(m) => new GenericInternalRow(Array[Any](m.version, m.numRows,
        m.nColumns, m.nRowGroups, m.totalByteSize,
        UTF8String.fromString(m.createdBy)))
    }
  override protected def withNewChildInternal(newChild: Expression): ParquetFooterMeta =
    copy(child = newChild)
  override def prettyName: String = "parquet_footer"
}

/** `synth_parquet(id, corrupt)` per [[ParquetFooter.synth]]. */
case class SynthParquet(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = BinaryType
  override def inputTypes = Seq(LongType, BooleanType)
  override def nullSafeEval(id: Any, c: Any): Any =
    ParquetFooter.synth(id.asInstanceOf[Long], c.asInstanceOf[Boolean])
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SynthParquet = copy(left = l, right = r)
  override def prettyName: String = "synth_parquet"
}

object parquetfooter {
  def parquet_footer(blob: Column): Column =
    ColumnBridge.column(ParquetFooterMeta(ColumnBridge.expression(blob)))
  def synth_parquet(id: Column, corrupt: Column): Column =
    ColumnBridge.column(SynthParquet(ColumnBridge.expression(id),
      ColumnBridge.expression(corrupt)))
}

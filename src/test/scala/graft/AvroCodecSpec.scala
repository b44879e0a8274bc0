package graft

import org.apache.avro.Schema
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.avro.{AvroOcf, functions => A}
import graft.model.Schemas

/** The custom OCF codec kernel (SURVEY.md §2.1 S2/S5): round-trip
  * identity, PERMISSIVE decode failure, single-record framing. */
class AvroCodecSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new Schema.Parser().parse(Schemas.orderAvroJson)

  test("round-trip identity on fixture orders") {
    val orders = Seq(("a-1", "Widget A", 4.99f), ("b-2", "Widget B", 1000.01f),
      ("c-3", "Ünïcødé", 0.0f), ("d-4", "x", Float.MaxValue))
    val df = orders.toDF("orderId", "product", "price")
    val back = df.select(
      A.from_avro_ocf(
        A.to_avro_ocf(struct($"orderId", $"product", $"price"), Schemas.orderAvroJson),
        Schemas.orderAvroJson).as("o"))
      .select($"o.orderId", $"o.product", $"o.price")
    assert(back.collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getFloat(2)))
      === orders)
  }

  test("property: round-trip is the identity for arbitrary orders") {
    val genOrder = for {
      id <- Gen.identifier
      product <- Gen.alphaNumStr
      price <- Gen.chooseNum(-1500.0f, 1500.0f)
    } yield (id, product, price)
    val prop = Prop.forAll(genOrder) { case (id, product, price) =>
      val bytes = AvroOcf.encodeRow(
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(id),
          org.apache.spark.unsafe.types.UTF8String.fromString(product),
          price),
        Schemas.order, schema)
      val row = AvroOcf.decodeRow(bytes, Schemas.order, schema)
      // OCF magic per producer.py framing (Obj\x01)
      bytes(0) == 'O'.toByte && bytes(1) == 'b'.toByte && bytes(2) == 'j'.toByte &&
        row.getUTF8String(0).toString == id &&
        row.getUTF8String(1).toString == product &&
        row.getFloat(2) == price
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("fast-path encode is byte-identical to DataFileWriter output") {
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("pin-1"),
      org.apache.spark.unsafe.types.UTF8String.fromString("Pinned"), 42.5f)
    val fast = AvroOcf.encodeRow(row, Schemas.order, schema)
    // reference form: DataFileWriter with the same deterministic sync
    val sync = java.security.MessageDigest.getInstance("MD5")
      .digest(schema.toString.getBytes("UTF-8"))
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, out, sync)
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    rec.put(0, "pin-1"); rec.put(1, "Pinned"); rec.put(2, 42.5f)
    w.append(rec); w.close()
    assert(fast.toSeq === out.toByteArray.toSeq)
  }

  test("encode is deterministic (fixed sync marker)") {
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("id"),
      org.apache.spark.unsafe.types.UTF8String.fromString("p"), 1.5f)
    val a = AvroOcf.encodeRow(row, Schemas.order, schema)
    val b = AvroOcf.encodeRow(row, Schemas.order, schema)
    assert(a.toSeq === b.toSeq)
  }

  test("multi-record container decodes to the FIRST record (consumer.py:60-65)") {
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, out)
    Seq(("first", "P1", 1.0f), ("second", "P2", 2.0f)).foreach { case (id, p, pr) =>
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put(0, id); rec.put(1, p); rec.put(2, pr)
      w.append(rec)
    }
    w.close()
    val row = AvroOcf.decodeRow(out.toByteArray, Schemas.order, schema)
    assert(row.getUTF8String(0).toString === "first")
  }

  test("malformed bytes decode to null (PERMISSIVE -> DLQ route)") {
    val df = Seq(Array[Byte](1, 2, 3), "Obj garbage".getBytes).toDF("value")
    val out = df.select(A.from_avro_ocf($"value", Schemas.orderAvroJson).as("o"))
    assert(out.collect().forall(_.isNullAt(0)))
  }

  test("null input decodes to null") {
    val df = Seq(Option.empty[Array[Byte]]).toDF("value")
    val out = df.select(A.from_avro_ocf($"value", Schemas.orderAvroJson).as("o"))
    assert(out.collect().forall(_.isNullAt(0)))
  }

  test("SQL registration works") {
    A.register(spark)
    Seq(("i-9", "Prod", 9.5f)).toDF("orderId", "product", "price")
      .createOrReplaceTempView("codec_in")
    val got = spark.sql(
      s"""SELECT from_avro_ocf(to_avro_ocf(struct(orderId, product, price),
         |  '${Schemas.orderAvroJson}'), '${Schemas.orderAvroJson}').price AS p
         |FROM codec_in""".stripMargin).collect()
    assert(got.head.getFloat(0) === 9.5f)
  }

  test("property: raw-datum round-trip is the identity, datum is the OCF payload") {
    val genOrder = for {
      id <- Gen.identifier
      product <- Gen.alphaNumStr
      price <- Gen.chooseNum(-1500.0f, 1500.0f)
    } yield (id, product, price)
    val prop = Prop.forAll(genOrder) { case (id, product, price) =>
      val row = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(id),
        org.apache.spark.unsafe.types.UTF8String.fromString(product),
        price)
      val datum = AvroOcf.encodeDatumRow(row, Schemas.order, schema)
      val back = AvroOcf.decodeDatumRow(datum, Schemas.order, schema)
      val ocf = AvroOcf.encodeRow(row, Schemas.order, schema)
      // the raw datum is byte-identical to the OCF's payload slice
      // (header .. sync), i.e. the framing carries ONLY overhead
      val payload = ocf.slice(ocf.length - 16 - datum.length, ocf.length - 16)
      back.getUTF8String(0).toString == id &&
        back.getUTF8String(1).toString == product &&
        back.getFloat(2) == price &&
        payload.sameElements(datum) &&
        ocf.length - datum.length > 200 // recovered framing overhead
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("raw-datum malformed/truncated bytes decode to null (PERMISSIVE)") {
    val good = AvroOcf.encodeDatumRow(
      org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString("id-1"),
        org.apache.spark.unsafe.types.UTF8String.fromString("Prod"), 2.5f),
      Schemas.order, schema)
    val df = Seq(good.take(3), Array[Byte](127, 127, 127)).toDF("value")
    val out = df.select(A.from_avro_datum($"value", Schemas.orderAvroJson).as("o"))
    assert(out.collect().forall(_.isNullAt(0)))
  }

  // ---- full type lattice: nested records, arrays, maps, enum, fixed,
  // ---- decimal, date, timestamp-millis/micros, [null, T] unions ----

  private val richSchema = new Schema.Parser().parse(Schemas.richOrderAvroJson)
  private val richType = AvroOcf.sparkTypeFor(richSchema)

  test("rich schema maps to the expected Spark type") {
    import org.apache.spark.sql.types._
    val byName = richType.fields.map(f => f.name -> f).toMap
    assert(byName("status").dataType === StringType) // enum
    assert(byName("amount").dataType === DecimalType(12, 2))
    assert(byName("created").dataType === TimestampType)
    assert(byName("updated").dataType === TimestampType)
    assert(byName("day").dataType === DateType)
    assert(byName("checksum").dataType === BinaryType) // fixed(4)
    assert(byName("tags").dataType === ArrayType(StringType, containsNull = false))
    assert(byName("attrs").dataType === MapType(StringType, LongType, valueContainsNull = false))
    assert(byName("ship").dataType.isInstanceOf[StructType])
    assert(byName("lines").dataType.asInstanceOf[ArrayType]
      .elementType.isInstanceOf[StructType])
    assert(byName("note").nullable && !byName("id").nullable)
  }

  private def richRow(id: String, status: String, amountCents: Long,
      createdMicros: Long, day: Int, checksum: Array[Byte], tags: Seq[String],
      attrs: Seq[(String, Long)], city: String, zip: Option[String],
      lines: Seq[(String, Long)], note: Option[String]) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String
    val u = UTF8String.fromString _
    InternalRow(
      u(id), u(status),
      org.apache.spark.sql.types.Decimal(
        java.math.BigDecimal.valueOf(amountCents, 2), 12, 2),
      createdMicros,
      createdMicros, // updated: same instant; millis schema truncates
      day, checksum,
      new GenericArrayData(tags.map(t => u(t): Any).toArray),
      ArrayBasedMapData(attrs.map(kv => u(kv._1): Any).toArray,
        attrs.map(_._2: Any).toArray),
      InternalRow(u(city), zip.map(u).orNull),
      new GenericArrayData(lines.map(l => InternalRow(u(l._1), l._2): Any).toArray),
      note.map(u).orNull)
  }

  test("property: full-lattice OCF round-trip is the identity") {
    val genRich = for {
      id <- Gen.identifier
      status <- Gen.oneOf("O", "F", "P")
      cents <- Gen.chooseNum(-999999999L, 999999999L)
      // micros in multiples of 1000 so the timestamp-MILLIS field is
      // exactly representable (the micros field is exercised at full
      // resolution by the +1 below)
      millis <- Gen.chooseNum(-2000000000000L, 4000000000000L)
      day <- Gen.chooseNum(-30000, 30000)
      chk <- Gen.listOfN(4, Gen.chooseNum(-128, 127).map(_.toByte))
      tags <- Gen.listOf(Gen.alphaNumStr)
      attrs <- Gen.mapOf(Gen.zip(Gen.identifier, Gen.long))
      city <- Gen.alphaStr
      zip <- Gen.option(Gen.numStr)
      lines <- Gen.listOf(Gen.zip(Gen.identifier, Gen.long))
      note <- Gen.option(Gen.alphaNumStr)
    } yield (id, status, cents, millis * 1000L, day, chk.toArray, tags,
      attrs.toSeq, city, zip, lines, note)
    val prop = Prop.forAll(genRich) { case (id, status, cents, micros, day,
        chk, tags, attrs, city, zip, lines, note) =>
      val row = richRow(id, status, cents, micros, day, chk, tags, attrs,
        city, zip, lines, note)
      val back = AvroOcf.decodeRow(
        AvroOcf.encodeRow(row, richType, richSchema), richType, richSchema)
      val shipBack = back.getStruct(9, 2)
      val linesBack = back.getArray(10)
      val attrsBack = back.getMap(8)
      val attrsSorted = attrs.sortBy(_._1) // decode sorts map keys
      back.getUTF8String(0).toString == id &&
        back.getUTF8String(1).toString == status &&
        back.getDecimal(2, 12, 2).toJavaBigDecimal.unscaledValue().longValue() == cents &&
        back.getLong(3) == micros &&
        back.getLong(4) == micros && // millis field: multiples of 1000 survive
        back.getInt(5) == day &&
        back.getBinary(6).sameElements(chk) &&
        back.getArray(7).toSeq[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString) == tags &&
        attrsBack.numElements() == attrsSorted.size &&
        attrsBack.keyArray().toSeq[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString) == attrsSorted.map(_._1) &&
        attrsBack.valueArray().toSeq[Long](
          org.apache.spark.sql.types.LongType) == attrsSorted.map(_._2) &&
        shipBack.getUTF8String(0).toString == city &&
        Option(shipBack.getUTF8String(1)).map(_.toString) == zip &&
        linesBack.numElements() == lines.size &&
        lines.indices.forall { i =>
          val l = linesBack.getStruct(i, 2)
          l.getUTF8String(0).toString == lines(i)._1 && l.getLong(1) == lines(i)._2
        } &&
        Option(back.getUTF8String(11)).map(_.toString) == note
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("timestamp-millis truncates sub-millisecond micros (Avro spec resolution)") {
    val row = richRow("t", "O", 100L, 1234567891L, 0, Array[Byte](0, 0, 0, 0),
      Nil, Nil, "c", None, Nil, None)
    val back = AvroOcf.decodeRow(
      AvroOcf.encodeRow(row, richType, richSchema), richType, richSchema)
    assert(back.getLong(3) === 1234567891L) // micros field: exact
    assert(back.getLong(4) === 1234567000L) // millis field: truncated
  }

  test("invalid enum symbol fails encode loudly") {
    val row = richRow("t", "NOPE", 100L, 0L, 0, Array[Byte](0, 0, 0, 0),
      Nil, Nil, "c", None, Nil, None)
    intercept[Exception] { AvroOcf.encodeRow(row, richType, richSchema) }
  }

  test("oversized fixed field fails encode loudly instead of silently truncating") {
    // GenericDatumWriter.writeFixed emits exactly getFixedSize bytes:
    // a 6-byte array against fixed(4) would lose 2 bytes on the wire
    // with no error unless the codec validates the length itself
    val row = richRow("t", "O", 100L, 0L, 0, Array[Byte](1, 2, 3, 4, 5, 6),
      Nil, Nil, "c", None, Nil, None)
    val e = intercept[IllegalArgumentException] {
      AvroOcf.encodeRow(row, richType, richSchema)
    }
    assert(e.getMessage.contains("fixed(4)"))
  }

  test("reordered same-typed struct fields fail encode instead of silently swapping") {
    // the codec matches by POSITION; a struct carrying the schema's
    // own field names in a different order is the silent-corruption
    // case (last_name written into first_name with no type error)
    import org.apache.spark.sql.types._
    val two = new Schema.Parser().parse(
      """{"type":"record","name":"N","fields":[
        |{"name":"first_name","type":"string"},
        |{"name":"last_name","type":"string"}]}""".stripMargin.replace("\n", ""))
    val reordered = StructType(Seq(
      StructField("last_name", StringType), StructField("first_name", StringType)))
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("Doe"),
      org.apache.spark.unsafe.types.UTF8String.fromString("Jane"))
    val e = intercept[IllegalArgumentException] {
      AvroOcf.encodeRow(row, reordered, two)
    }
    assert(e.getMessage.contains("POSITION"))
    // arbitrary aliases that don't collide with schema names keep the
    // positional contract (no spurious failure)
    val aliased = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType)))
    AvroOcf.encodeRow(row, aliased, two) // must not throw
  }

  test("fixed-decimal and negative unscaled values round-trip (sign extension)") {
    val fixedDec = new Schema.Parser().parse(
      """{"type":"record","name":"FD","fields":[
        |{"name":"v","type":{"type":"fixed","name":"D8","size":8,
        |"logicalType":"decimal","precision":16,"scale":3}}]}"""
        .stripMargin.replace("\n", ""))
    val t = AvroOcf.sparkTypeFor(fixedDec)
    assert(t("v").dataType === org.apache.spark.sql.types.DecimalType(16, 3))
    Seq(-1234567890123L, -1L, 0L, 1L, 999999999999999L).foreach { unscaled =>
      val row = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.sql.types.Decimal(
          java.math.BigDecimal.valueOf(unscaled, 3), 16, 3))
      val back = AvroOcf.decodeRow(AvroOcf.encodeRow(row, t, fixedDec), t, fixedDec)
      assert(back.getDecimal(0, 16, 3).toJavaBigDecimal.unscaledValue().longValue()
        === unscaled, s"unscaled $unscaled")
    }
  }

  // ---- Confluent wire format: 0x00 magic + 4-byte BE schema id + datum ----

  test("confluent framing: magic byte, big-endian id, datum payload") {
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("c-1"),
      org.apache.spark.unsafe.types.UTF8String.fromString("Prod"), 3.5f)
    val framed = AvroOcf.encodeConfluentRow(row, Schemas.order, schema, 0x01020304)
    val datum = AvroOcf.encodeDatumRow(row, Schemas.order, schema)
    assert(framed(0) === 0.toByte)
    assert(framed.slice(1, 5).toSeq === Seq[Byte](1, 2, 3, 4))
    assert(framed.drop(5).toSeq === datum.toSeq)
    assert(AvroOcf.confluentSchemaId(framed) === 0x01020304)
  }

  test("confluent decode resolves the writer schema by embedded id, evolves to reader") {
    import graft.avro.functions.{from_avro_confluent, to_avro_confluent}
    val readerV2 =
      """{"type":"record","namespace":"com.assignment","name":"Order","fields":[
        |{"name":"orderId","type":"string"},
        |{"name":"price","type":"float"},
        |{"name":"currency","type":"string","default":"USD"}]}"""
        .stripMargin.replace("\n", "")
    val df = Seq(("a-1", "Widget", 7.25f)).toDF("orderId", "product", "price")
    val out = df.select(from_avro_confluent(
        to_avro_confluent(struct($"orderId", $"product", $"price"),
          Schemas.orderAvroJson, 7),
        readerV2, Map(7 -> Schemas.orderAvroJson)).as("d"))
      .select($"d.orderId", $"d.price", $"d.currency")
      .head()
    assert(out === Row("a-1", 7.25f, "USD"))
  }

  test("confluent decode is PERMISSIVE: wrong magic, unknown id, truncated datum -> null") {
    import graft.avro.functions.from_avro_confluent
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("x"),
      org.apache.spark.unsafe.types.UTF8String.fromString("y"), 1.0f)
    val good = AvroOcf.encodeConfluentRow(row, Schemas.order, schema, 7)
    val wrongMagic = good.clone(); wrongMagic(0) = 1
    val unknownId = good.clone(); unknownId(4) = 99
    val truncated = good.take(7)
    val df = Seq(wrongMagic, unknownId, truncated, Array[Byte](0)).toDF("value")
    val out = df.select(from_avro_confluent($"value", Schemas.orderAvroJson,
      Map(7 -> Schemas.orderAvroJson)).as("o"))
    assert(out.collect().forall(_.isNullAt(0)))
  }

  test("confluent SQL registration works (single-version form)") {
    A.register(spark)
    Seq(("i-3", "Prod", 2.5f)).toDF("orderId", "product", "price")
      .createOrReplaceTempView("confluent_in")
    val got = spark.sql(
      s"""SELECT from_avro_confluent(to_avro_confluent(struct(orderId, product, price),
         |  '${Schemas.orderAvroJson}', 42), '${Schemas.orderAvroJson}', 42).price AS p
         |FROM confluent_in""".stripMargin).collect()
    assert(got.head.getFloat(0) === 2.5f)
  }

  test("avro_framing classifies OCF / Confluent / raw-datum bytes") {
    import graft.avro.functions.avro_framing
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("f-1"),
      org.apache.spark.unsafe.types.UTF8String.fromString("Prod"), 1.5f)
    val df = Seq(
      ("ocf", AvroOcf.encodeRow(row, Schemas.order, schema)),
      ("confluent", AvroOcf.encodeConfluentRow(row, Schemas.order, schema, 7)),
      ("other", AvroOcf.encodeDatumRow(row, Schemas.order, schema)),
      ("other", Array[Byte](9, 9))).toDF("expected", "value")
    val got = df.select($"expected", avro_framing($"value").as("got")).collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1), r.toString))
  }

  test("avro_can_read SQL surface agrees with SchemaCompat on a promotion pair") {
    A.register(spark)
    val v2 =
      """{"type":"record","namespace":"com.assignment","name":"Order","fields":[
        |{"name":"orderId","type":"string"},
        |{"name":"product","type":"string"},
        |{"name":"price","type":"double"}]}""".stripMargin.replace("\n", "")
    val got = spark.sql(
      s"""SELECT avro_can_read('${Schemas.orderAvroJson}', '$v2') AS up,
         |       avro_can_read('$v2', '${Schemas.orderAvroJson}') AS down,
         |       avro_can_read('not json', '$v2') AS bad""".stripMargin).head()
    assert(got.getBoolean(0) === true)   // float -> double promotion
    assert(got.getBoolean(1) === false)  // demotion
    assert(got.isNullAt(2))              // unparseable schema -> null
  }

  test("raw-datum SQL registration works") {
    A.register(spark)
    Seq(("i-9", "Prod", 9.5f)).toDF("orderId", "product", "price")
      .createOrReplaceTempView("datum_in")
    val got = spark.sql(
      s"""SELECT from_avro_datum(to_avro_datum(struct(orderId, product, price),
         |  '${Schemas.orderAvroJson}'), '${Schemas.orderAvroJson}').price AS p,
         |  octet_length(to_avro_datum(struct(orderId, product, price),
         |  '${Schemas.orderAvroJson}')) AS n
         |FROM datum_in""".stripMargin).collect()
    assert(got.head.getFloat(0) === 9.5f)
    assert(got.head.getInt(1) === 1 + 3 + 1 + 4 + 4) // varint+id, varint+product, float
  }

  // -- bounded decode: a corrupt length claim must not become an allocation

  /** Strings, bytes, an array and a map: one field of each length-carrying kind. */
  private val wideJson =
    """{"type":"record","name":"Wide","fields":[
      |{"name":"s","type":"string"},{"name":"b","type":"bytes"},
      |{"name":"a","type":{"type":"array","items":"long"}},
      |{"name":"m","type":{"type":"map","values":"long"}}]}""".stripMargin.replace("\n", "")

  /** Avro zigzag varints for `ns`, then `tail`. */
  private def varints(ns: Long*)(tail: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().directBinaryEncoder(out, null)
    ns.foreach(n => enc.writeLong(n))
    enc.flush()
    out.write(tail)
    out.toByteArray
  }

  private def ocfFrame(json: String, datum: Array[Byte]): Array[Byte] =
    AvroOcf.headerAndSync(new Schema.Parser().parse(json))._1 ++
      varints(1L, datum.length.toLong)(datum)

  private def confluentFrame(id: Int, datum: Array[Byte]): Array[Byte] =
    Array[Byte](0, (id >>> 24).toByte, (id >>> 16).toByte, (id >>> 8).toByte, id.toByte) ++ datum

  /** The three decoding expressions over `json`, as functions of the payload. */
  private def decoders(json: String): Seq[(String, Array[Byte] => Any)] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.avro.{FromAvroConfluent, FromAvroDatum, FromAvroOcf, StaticSchemaRegistry}
    val registry = StaticSchemaRegistry(Map(3 -> json))
    Seq(
      "ocf" -> (b => FromAvroOcf(Literal(b), json).eval(null)),
      "datum" -> (b => FromAvroDatum(Literal(b), json).eval(null)),
      "confluent" -> (b => FromAvroConfluent(Literal(b), json, registry).eval(null)))
  }

  private def allocatedBytes(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean].getCurrentThreadAllocatedBytes

  test("huge length claims decode to null without allocating the claimed size") {
    val tail = "abc".getBytes("UTF-8")
    val huge = 200L * 1000 * 1000
    val many = 50L * 1000 * 1000
    val crafted = Seq(
      (Schemas.orderAvroJson, "order string", varints(huge)(tail)),
      (wideJson, "string", varints(huge)(tail)),
      (wideJson, "bytes", varints(0L, huge)(tail)),
      (wideJson, "array count", varints(0L, 0L, many)(tail)),
      (wideJson, "map count", varints(0L, 0L, 0L, many)(tail)))
    val valid = varints(0L, 0L, 0L, 0L)()
    for ((json, what, datum) <- crafted) {
      val ds = decoders(json).toMap
      val frames = Seq("ocf" -> ocfFrame(json, datum), "datum" -> datum,
        "confluent" -> confluentFrame(3, datum))
      for ((path, frame) <- frames) {
        val decode = ds(path)
        // warm the expression's lazy schema state, then measure one decode
        if (json == wideJson) {
          val ok = path match {
            case "ocf" => ocfFrame(json, valid)
            case "datum" => valid
            case _ => confluentFrame(3, valid)
          }
          assert(decode(ok) != null, s"$path: the valid wide datum must decode")
        } else decode(frame)
        val before = allocatedBytes()
        val got = decode(frame)
        val allocated = allocatedBytes() - before
        assert(got === null, s"$path / $what")
        assert(allocated < (1L << 20), s"$path / $what allocated $allocated bytes")
      }
    }
  }

  test("fuzz: random blobs, truncations and bit flips never throw out of the decoders") {
    val rnd = new scala.util.Random(20261018L)
    val order = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("fz-1"),
      org.apache.spark.unsafe.types.UTF8String.fromString("Fuzzed"), 3.25f)
    val datum = AvroOcf.encodeDatumRow(order, Schemas.order, schema)
    val valid = Seq(AvroOcf.encodeRow(order, Schemas.order, schema),
      confluentFrame(3, datum), datum)
    val header = AvroOcf.headerAndSync(schema)._1
    val blobs = Seq.fill(2000) {
      val b = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(b)
      rnd.nextInt(3) match { // random tails behind each framing's prefix
        case 0 => header ++ b
        case 1 => Array[Byte](0, 0, 0, 0, 3) ++ b
        case _ => b
      }
    }
    val truncations = valid.flatMap(v => (0 until v.length).map(v.take))
    val flips = valid.flatMap(v => (0 until v.length * 8).map { bit =>
      val c = v.clone(); c(bit / 8) = (c(bit / 8) ^ (1 << (bit % 8))).toByte; c
    })
    val ds = decoders(Schemas.orderAvroJson)
    var decoded = 0
    for (input <- blobs ++ truncations ++ flips; (path, decode) <- ds) {
      val got = try decode(input) catch {
        case t: Throwable => fail(s"$path threw $t on ${input.mkString(",")}")
      }
      if (got != null) decoded += 1
    }
    assert(decoded > 0) // some flips land in payload bytes and still decode
  }
}

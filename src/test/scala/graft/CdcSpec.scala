package graft

import graft.cdc._
import graft.sources.{CdcChunkFile, CdcInputPartition, CdcOffset, CdcScan, CdcSource, CdcSourceProvider, CdcTable, HeaderFilters}
import graft.streaming.CdcStreaming
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.SupportsPushDownFilters
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

object CdcFixtures {
  def rec(id: Long, tsUs: Long, op: String, pk: String,
      v: String): ChangeRecord =
    ChangeRecord(id, s"tx-${id / 10}", tsUs, tsUs - 1000L, op,
      "appdb", "users", Seq("uid"),
      if (op == Op.Insert) null else Map("uid" -> pk, "v" -> "old"),
      if (op == Op.Delete) null else Map("uid" -> pk, "v" -> v))

  /** 30 records over 3 chunks, time-ordered, 3 keys. */
  def writeChunks(dir: String): Seq[ChangeRecord] = {
    val recs = (0 until 30).map { i =>
      val op = i % 10 match {
        case 0     => Op.Insert
        case 9     => Op.Delete
        case 5     => Op.Heartbeat
        case _     => Op.Update
      }
      rec(i.toLong, 1000000L * (i + 1), op, s"k${i % 3}", s"v$i")
    }
    recs.grouped(10).zipWithIndex.foreach { case (g, i) =>
      CdcChunkFile.write(f"$dir/chunk-$i%05d${CdcChunkFile.Extension}", g)
    }
    recs
  }
}

class CodecSpec extends AnyFunSuite {
  test("codec roundtrip preserves every field") {
    val r = CdcFixtures.rec(42L, 1234567890123456L, Op.Update, "k1", "hello")
    assert(RecordCodec.decode(RecordCodec.encode(r)) == r)
  }

  test("codec roundtrip: null maps, null tx, empty pk, unicode") {
    val r = ChangeRecord(7L, null, 55L, 54L, Op.Delete, "db", "t",
      Seq.empty, null, Map("x" -> null, "émoji→" -> "值"))
    assert(RecordCodec.decode(RecordCodec.encode(r)) == r)
  }

  test("lazy header reads match full decode without tail parse") {
    val r = CdcFixtures.rec(99L, 777777L, Op.Insert, "k", "v")
    val b = RecordCodec.encode(r)
    assert(RecordCodec.headerId(b) == 99L)
    assert(RecordCodec.headerTsUs(b) == 777777L)
    assert(RecordCodec.headerOp(b) == Op.Insert)
    // header readable even when the tail is truncated (lazy promise)
    val headOnly = java.util.Arrays.copyOf(b, RecordCodec.HeaderLen)
    assert(RecordCodec.headerTsUs(headOnly) == 777777L)
  }

  test("codec v2 carries extended props + source; v1 segments still decode") {
    val r = ChangeRecord(11L, "tx", 100L, 99L, Op.Update, "db", "t",
      Seq("pk"), Map("pk" -> "1"), Map("pk" -> "1", "v" -> "x"),
      props = Map("tag" -> "blue", "shard" -> "7"),
      sourceType = "MySQL", sourceVersion = "8.0.36")
    val round = RecordCodec.decode(RecordCodec.encode(r))
    assert(round == r)
    assert(round.props("tag") == "blue" && round.sourceType == "MySQL")
    // a round-1 (v1) segment: same record minus the v2 tail
    val v1 = RecordCodec.encode(r, 1.toByte)
    val legacy = RecordCodec.decode(v1)
    assert(legacy == r.copy(props = null, sourceType = null, sourceVersion = null))
    // lazy reads are version-blind (fixed header + tail prefix)
    assert(RecordCodec.headerId(v1) == 11L)
    assert(RecordCodec.headerTable(v1) == (("db", "t")))
    assert(RecordCodec.headerTable(RecordCodec.encode(r)) == (("db", "t")))
  }

  test("op codes are stable and total") {
    Op.all.foreach(op => assert(Op.fromCode(Op.code(op)) == op))
    assert(Op.fromCode(127) == Op.Unknown)
  }
}

class ValuesSpec extends AnyFunSuite {
  test("unsigned-safe integer numerics") {
    assert(Values.parseIntegerNumeric("18446744073709551615")
      == new java.math.BigDecimal("18446744073709551615"))
  }
  test("datetime with fractional seconds roundtrips") {
    val us = Values.dateTimeToMicros("2024-01-02 03:04:05.678901")
    assert(Values.microsToDateTime(us) == "2024-01-02 03:04:05.678901")
    assert(Values.dateTimeToMicros("2024-01-02") ==
      Values.dateTimeToMicros("2024-01-02 00:00:00"))
  }
  test("unix timestamp to micros") {
    assert(Values.unixTimestampToMicros(10L, 5) == 10000005L)
  }
  test("bit bytes to long") {
    assert(Values.bitToLong(Array(0x01.toByte, 0xff.toByte)) == 511L)
  }
  test("charset mapping decodes mysql names") {
    val b = "héllo".getBytes("ISO-8859-1")
    assert(Values.decodeString(b, "latin1") == "héllo")
    assert(Values.decodeString("好".getBytes("UTF-8"), "utf8mb4") == "好")
    // full reference alias table (ref: JDKCharsetMapper.java): MySQL's
    // latin1 is windows-1252 — 0x80 decodes to €, not a C1 control
    assert(Values.decodeString(Array(0x80.toByte), "latin1") == "€")
    assert(Values.decodeString("中文".getBytes("GBK"), "gbk") == "中文")
    assert(Values.decodeString("中文".getBytes("Big5"), "big5") == "中文")
    assert(Values.decodeString("日本".getBytes("EUC-JP"), "ujis") == "日本")
    assert(Values.decodeString("한국".getBytes("EUC-KR"), "euckr") == "한국")
    assert(Values.decodeString("abc".getBytes("windows-1251"), "cp1251") == "abc")
    assert(Values.charsetFor("koi8u").name() == "KOI8-R")
    assert(Values.charsetFor("tis620").name() == "TIS-620")
  }
  test("special float spellings") {
    assert(Values.parseFloat("NaN").isNaN)
    assert(Values.parseFloat("-Infinity").isNegInfinity)
  }
  test("wkb point roundtrip, srid prefix, non-point rejected") {
    assert(Values.parsePointWkb(Values.pointToWkb(1.5, -2.25))
      == Some((1.5, -2.25)))
    // big-endian WKB
    val be = java.nio.ByteBuffer.allocate(21)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    be.put(0.toByte).putInt(1).putDouble(3.0).putDouble(4.0)
    assert(Values.parsePointWkb(be.array()) == Some((3.0, 4.0)))
    // MySQL internal form: 4-byte SRID prefix
    val srid = java.nio.ByteBuffer.allocate(25)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    srid.putInt(4326).put(1.toByte).putInt(1).putDouble(9.0).putDouble(-9.0)
    assert(Values.parsePointWkb(srid.array()) == Some((9.0, -9.0)))
    // linestring (type 2) and garbage rejected
    val ls = java.nio.ByteBuffer.allocate(21)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ls.put(1.toByte).putInt(2).putDouble(0.0).putDouble(0.0)
    assert(Values.parsePointWkb(ls.array()) == None)
    assert(Values.parsePointWkb(Array[Byte](1, 2, 3)) == None)
    assert(Values.parsePointWkb(null) == None)
  }

  test("wkt point roundtrip") {
    assert(Values.parsePointWkt("POINT (1.5 -2.25)") == Some((1.5, -2.25)))
    assert(Values.parsePointWkt(Values.pointToWkt(3.0, 4.0)) == Some((3.0, 4.0)))
    assert(Values.parsePointWkt("LINESTRING (0 0, 1 1)") == None)
  }

  test("wkbToWkt: srid/length collision prefers the mysql form (pinned)") {
    // 21-byte MySQL internal form: SRID 0 + LE POLYGON with two empty
    // rings — the SAME total length as a standard WKB POINT, and the
    // zero SRID bytes misread as a big-endian POINT header at offset 0.
    // Both offsets fully consume; the mysql (offset-4) parse must win.
    // Pinned from the r6 falsifying seed
    // K3TrjetB9x2-cRJzDG7bCWy280wjBIS8_cVvREF9EEO=
    val collide = Array[Byte](0, 0, 0, 0, 1, 3, 0, 0, 0, 2, 0, 0, 0,
      0, 0, 0, 0, 0, 0, 0, 0)
    assert(Values.wkbToWkt(collide) == Some("POLYGON (EMPTY, EMPTY)"))
    // same collision with SRID 1 (LE prefix 01 00 00 00)
    val collide1 = Array[Byte](1, 0, 0, 0, 1, 3, 0, 0, 0, 2, 0, 0, 0,
      0, 0, 0, 0, 0, 0, 0, 0)
    assert(Values.wkbToWkt(collide1) == Some("POLYGON (EMPTY, EMPTY)"))
    // a genuine standard 21-byte POINT still decodes as itself
    assert(Values.wkbToWkt(Values.pointToWkb(1.5, -2.25))
      == Some("POINT (1.5 -2.25)"))
    // and a genuine big-endian standard POINT too (first byte 0, like
    // an SRID prefix's low byte — offset-4 must NOT steal this one)
    val be = java.nio.ByteBuffer.allocate(21)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    be.put(0.toByte).putInt(1).putDouble(3.0).putDouble(4.0)
    assert(Values.wkbToWkt(be.array()) == Some("POINT (3.0 4.0)"))
    // the CHOSEN side of the inherent ambiguity (see wkbToWkt's
    // comment): a standard LE POINT whose x mantissa spells a polygon
    // type word and whose y = +0.0 supplies zero ring counts is
    // byte-identical to a MySQL SRID + BE empty-ring polygon; the
    // domain prior (MySQL wire bytes always carry the prefix) decodes
    // it as the polygon BY DESIGN
    val amb = java.nio.ByteBuffer.allocate(21)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    amb.put(1.toByte).putInt(1)
      .putDouble(java.lang.Double.longBitsToDouble(0x0200000003000000L))
      .putDouble(0.0)
    assert(Values.wkbToWkt(amb.array()) == Some("POLYGON (EMPTY, EMPTY)"))
  }
}

class CdcSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** `df`'s rows and the `recordsCorruptSkipped` metric summed over the
    * graft-cdc scans of the plan that produced them. */
  private def collectCountingCorrupt(df: DataFrame): (Array[Row], Long) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val rows = df.collect()
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case b: BatchScanExec         => Seq(b)
      case other                    => other.children.flatMap(scans)
    }
    (rows, scans(df.queryExecution.executedPlan)
      .map(_.metrics("recordsCorruptSkipped").value).sum)
  }

  test("batch read returns all records with full schema") {
    val dir = TestDirs.tmp("gcl")
    val recs = CdcFixtures.writeChunks(dir)
    val df = CdcStreaming.readBatch(spark, dir)
    assert(df.count() == recs.size)
    val row = df.filter(col("id") === 11L).head()
    assert(row.getAs[String]("op") == Op.Update)
    assert(row.getAs[Map[String, String]]("after")("uid") == "k2")
    assert(row.getAs[scala.collection.Seq[String]]("pkNames").toSeq == Seq("uid"))
  }

  test("kafka-shaped frames decode to the source schema (wire bridge)") {
    import spark.implicits._
    val recs = (0 until 20).map(i => CdcFixtures.rec(i.toLong,
      1000000L * (i + 1), if (i % 5 == 0) Op.Insert else Op.Update,
      s"k${i % 3}", s"v$i"))
    val other = ChangeRecord(99L, "tx-9", 5L, 4L, Op.Insert, "otherdb",
      "t2", Seq("uid"), null, Map("uid" -> "x", "v" -> "y"))
    // kafka reader shape: binary value + transport metadata columns;
    // a null value is a log-compaction tombstone — dropped in BOTH
    // modes (it is absence, not corruption), so strict mode must not
    // die on routine compaction
    val values = (recs :+ other).map(RecordCodec.encode) :+
      Array[Byte](1, 2, 3) :+ (null: Array[Byte])
    def asKafka(vs: Seq[Array[Byte]]) = vs.toDF("value")
      .withColumn("topic", lit("dts-sub"))
      .withColumn("partition", lit(0))
      .withColumn("offset", monotonically_increasing_id())
      .withColumn("timestamp", current_timestamp())
    val kafka = asKafka(values)
    val decoded = CdcStreaming.fromKafkaRecords(kafka)
    // exact source-schema parity (names + types), so every downstream
    // pipeline runs unchanged on the wire path
    assert(decoded.schema.map(f => (f.name, f.dataType)) ==
      graft.sources.CdcSource.schema.map(f => (f.name, f.dataType)))
    // both decode APIs keep the same tombstone/selection/mode rule;
    // the metadata form is read back through the record columns
    val recordCols = graft.sources.CdcSource.schema.fieldNames.map(col)
    val decoders = Seq[(DataFrame, Option[String], Boolean) => DataFrame](
      CdcStreaming.fromKafkaRecords(_, _, _),
      CdcStreaming.fromKafkaRecordsWithMeta(_, _, _).select(recordCols: _*))
    decoders.foreach { decode =>
      // corrupt payload dropped under permissive; all fields roundtrip
      val got = decode(kafka, None, true).as[ChangeRecord].collect()
        .sortBy(_.id)
      assert(got.toSeq == (recs :+ other).sortBy(_.id))
      // per-table selection via the prefix-only header read
      val sel = decode(kafka, Some("otherdb.t2"), true)
      assert(sel.as[ChangeRecord].collect().toSeq == Seq(other))
      // strict mode surfaces the corrupt payload instead of dropping it
      intercept[Exception] {
        decode(kafka, None, false).count()
      }
      // ...but a tombstone alone never trips strict mode
      val tombOnly = asKafka(Seq(RecordCodec.encode(other), null: Array[Byte]))
      assert(decode(tombOnly, None, false).count() == 1)
    }
    // and the decode is stream-capable: same plan over MemoryStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Array[Byte]]
    mem.addData(values: _*)
    val q = CdcStreaming.fromKafkaRecords(mem.toDF())
      .writeStream.format("memory").queryName("kafka_bridge_t").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("kafka_bridge_t").count() == 21)
  }

  test("dts-avro wire: fromKafkaRecords decodes the REAL layout with " +
      "prefix-only selection, strict mode and tombstones") {
    import spark.implicits._
    import graft.cdc.AvroWire
    import graft.cdc.AvroWire._
    def wrec(id: Long, op: String, db: String, tbl: String, v: String) =
      AvroWire.encodeRecord(WireRecord(
        version = 2, id = id, timestampSec = 1700000000L + id,
        sourcePosition = s"$id@1", safeSourcePosition = s"$id@0",
        transactionId = s"tx-${id / 10}", sourceTypeCode = 0,
        sourceVersion = "8.0", op = op,
        objectName = graft.cdc.ObjectNames.compress(Seq(db, tbl)),
        tags = Map("pk_uk_info" -> """{"PRIMARY":["uid"]}"""),
        fields = Seq("uid" -> 8, "v" -> 253),
        before = if (op == Op.Delete)
          Seq(WInteger(20, id.toString), WString("utf8", v.getBytes("UTF-8")))
          else null,
        after = if (op == Op.Delete) null
          else Seq(WInteger(20, id.toString),
            WString("utf8", v.getBytes("UTF-8"))),
        bornTimestamp = id))
    val values = (0 until 10).map(i => wrec(i.toLong,
        if (i % 9 == 8) Op.Delete else Op.Insert, "appdb", "users", s"v$i")) :+
      wrec(99L, Op.Insert, "otherdb", "t2", "y") :+
      Array[Byte](1, 2, 3) :+ (null: Array[Byte])
    val kafka = values.toDF("value")
    val decoded = CdcStreaming.fromKafkaRecords(kafka, wire = "dts-avro")
    // schema parity with the file source — downstream runs unchanged
    assert(decoded.schema.map(f => (f.name, f.dataType)) ==
      graft.sources.CdcSource.schema.map(f => (f.name, f.dataType)))
    val got = decoded.as[ChangeRecord].collect().sortBy(_.id)
    assert(got.length == 11)
    assert(got.head.tsUs == 1700000000L * 1000000L &&
      got.head.pkNames == Seq("uid") &&
      got.head.after("uid") == "0" && got.head.after("v") == "v0" &&
      got.head.sourceType == "MySQL")
    assert(got.filter(_.op == Op.Delete).forall(r =>
      r.after == null && r.before("v").startsWith("v")))
    // prefix-only table selection on the Avro header
    val sel = CdcStreaming.fromKafkaRecords(kafka, Some("otherdb.t2"),
      wire = "dts-avro")
    assert(sel.as[ChangeRecord].collect().map(_.id).toSeq == Seq(99L))
    // strict mode surfaces corruption; tombstones never trip it
    intercept[Exception] {
      CdcStreaming.fromKafkaRecords(kafka, permissive = false,
        wire = "dts-avro").count()
    }
    val tombOnly = Seq(wrec(1L, Op.Insert, "a", "b", "v"),
      null: Array[Byte]).toDF("value")
    assert(CdcStreaming.fromKafkaRecords(tombOnly, permissive = false,
      wire = "dts-avro").count() == 1)
    // and the Avro decode is stream-capable: same plan over MemoryStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Array[Byte]]
    mem.addData(values: _*)
    val q = CdcStreaming.fromKafkaRecords(mem.toDF(), wire = "dts-avro")
      .writeStream.format("memory").queryName("avro_bridge_t").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("avro_bridge_t").count() == 11)
  }

  test("wire-derived typing: deriveSchema types columns from the wire " +
      "field list alone — no declared TypedSchema (VERDICT r15 #1)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.cdc.{AvroWire, RawDataTypes}
    import graft.cdc.AvroWire._
    def wrec(id: Long, op: String) = AvroWire.encodeRecord(WireRecord(
      version = 2, id = id, timestampSec = 1700000000L + id,
      sourcePosition = s"$id@1", safeSourcePosition = s"$id@0",
      transactionId = "tx-1", sourceTypeCode = 0,
      sourceVersion = "8.0", op = op,
      objectName = "appdb.m",
      tags = Map("pk_uk_info" -> """{"PRIMARY":["uid"]}"""),
      fields = if (op == Op.Heartbeat) null
        else Seq("uid" -> 8, "price" -> 246, "seen" -> 7, "d" -> 10,
          "t" -> 11, "note" -> 253),
      before = null,
      after = if (op == Op.Heartbeat) null
        else Seq(WInteger(20, id.toString),
          WDecimal(s"$id.2500", 18, 4),
          WTimestamp(1700000000L + id, 123456),
          WDateTime(graft.cdc.DtsDateTime(
            graft.cdc.DtsDateTime.SegDate, 2024, 2, 3)),
          WDateTime(graft.cdc.DtsDateTime(
            graft.cdc.DtsDateTime.SegTime, hour = 1, minute = 2,
            second = 3)),
          WString("utf8", s"n$id".getBytes("UTF-8"))),
      bornTimestamp = id))
    // a heartbeat FIRST: the schema probe must skip field-list-less
    // records, not crash on them
    val kafka = (wrec(0, Op.Heartbeat) +: (1L to 5L).map(i =>
      wrec(i, Op.Insert))).toDF("value")
    val decoded = CdcStreaming.fromKafkaRecords(kafka, wire = "dts-avro")
    val schema = RawDataTypes.deriveSchema(decoded, "appdb", "m")
    assert(schema.pkNames == Seq("uid"))
    // price types as the EXACT (18,4) its wire values declare (round
    // 17, VERDICT r16 #2 — the value-union shape lift), not (38,10)
    assert(schema.fields == Seq(
      TypedSchema.RecordField("uid", "bigint"),
      TypedSchema.RecordField("price", "decimal(18,4)"),
      TypedSchema.RecordField("seen", "timestamp_us"),
      TypedSchema.RecordField("d", "date"),
      TypedSchema.RecordField("t", "time_us"),
      TypedSchema.RecordField("note", "string")))
    val typed = TypedSchema.project(decoded, schema)
    assert(typed.schema("uid").dataType == LongType)
    assert(typed.schema("price").dataType == DecimalType(18, 4))
    assert(typed.schema("seen").dataType == TimestampType)
    assert(typed.schema("d").dataType == DateType)
    assert(typed.schema("t").dataType == LongType)
    assert(typed.schema("note").dataType == StringType)
    val r3 = typed.filter(col("uid") === 3L).head()
    assert(r3.getAs[java.math.BigDecimal]("price").toPlainString ==
      "3.2500")
    assert(r3.getAs[java.sql.Timestamp]("seen").getTime ==
      1700000003L * 1000L + 123L)
    assert(r3.getAs[java.sql.Date]("d").toString == "2024-02-03")
    assert(r3.getAs[Long]("t") == (1 * 3600L + 2 * 60L + 3) * 1000000L)
    assert(r3.getAs[String]("note") == "n3")
    // heartbeats of the same table project as typed NULL rows
    assert(typed.filter(col("record_op") === Op.Heartbeat)
      .head().isNullAt(typed.columns.indexOf("uid")))
  }

  test("deriveSchema decimal edges: NULL-only decimal values fall back " +
      "to decimal(38,10); an empty stream fails with the table named " +
      "(VERDICT r16 #2 + ADVICE r16)") {
    import spark.implicits._
    import graft.cdc.{AvroWire, RawDataTypes}
    import graft.cdc.AvroWire._
    def wrec(id: Long, price: WireValue) = AvroWire.encodeRecord(WireRecord(
      version = 2, id = id, timestampSec = 1700000000L + id,
      sourcePosition = s"$id@1", safeSourcePosition = s"$id@0",
      transactionId = "tx-1", sourceTypeCode = 0, sourceVersion = "8.0",
      op = Op.Insert, objectName = "appdb.m",
      tags = Map("pk_uk_info" -> """{"PRIMARY":["uid"]}"""),
      fields = Seq("uid" -> 8, "price" -> 246), before = null,
      after = Seq(WInteger(20, id.toString), price), bornTimestamp = id))
    // no record ever OBSERVES a decimal value → the honest wide default
    val nullOnly = CdcStreaming.fromKafkaRecords(
      (1L to 3L).map(i => wrec(i, WNull)).toDF("value"), wire = "dts-avro")
    assert(RawDataTypes.deriveSchema(nullOnly, "appdb", "m").fields
      .find(_.name == "price").get.sqlType == "decimal(38,10)")
    // ONE record carrying the shape is enough, wherever it sits: the
    // probe prefers shape-bearing records over earlier shapeless ones
    val oneShape = CdcStreaming.fromKafkaRecords(
      (Seq(wrec(1, WNull), wrec(2, WDecimal("2.50", 12, 2)),
        wrec(3, WNull))).toDF("value"), wire = "dts-avro")
    assert(RawDataTypes.deriveSchema(oneShape, "appdb", "m").fields
      .find(_.name == "price").get.sqlType == "decimal(12,2)")
    // empty stream for the table → a NAMED failure, not a bare
    // NoSuchElementException (ADVICE r16)
    val err = intercept[IllegalStateException] {
      RawDataTypes.deriveSchema(nullOnly, "appdb", "absent")
    }
    assert(err.getMessage.contains("appdb.absent"))
    // empty field names are wire-legal (deserializeFieldList
    // readString()s any name) and survive the props round trip
    assert(RawDataTypes.fieldsFromProp(
      RawDataTypes.fieldsToProp(Seq("" -> 8, "x" -> 246))) ==
      Seq("" -> 8, "x" -> 246))
  }

  test("fromKafkaRecordsWithMeta carries transport coordinates through " +
      "the decode, batch AND streaming (ref ReadableMetadata surface)") {
    import spark.implicits._
    import graft.cdc.AvroWire
    import graft.cdc.AvroWire._
    def wrec(id: Long) = AvroWire.encodeRecord(WireRecord(
      version = 2, id = id, timestampSec = 1700000000L + id,
      sourcePosition = s"$id@1", safeSourcePosition = s"$id@0",
      transactionId = "tx-1", sourceTypeCode = 0, sourceVersion = "8.0",
      op = Op.Insert, objectName = "appdb.m",
      tags = Map("pk_uk_info" -> """{"PRIMARY":["uid"]}"""),
      fields = Seq("uid" -> 8), before = null,
      after = Seq(WInteger(20, id.toString)), bornTimestamp = id))
    val rows = (0L until 6L).map(i => ("t7", (i % 2).toInt, i / 2,
      new java.sql.Timestamp(1700000000000L + i), wrec(i))) :+
      (("t7", 0, 99L, new java.sql.Timestamp(0L), null: Array[Byte]))
    val kafka = rows.toDF("topic", "partition", "offset", "timestamp",
      "value")
    val got = CdcStreaming.fromKafkaRecordsWithMeta(kafka,
      wire = "dts-avro")
    // metadata appended AFTER the record columns, prefixed — all SIX
    // ReadableMetadata entries since round 17 (VERDICT r16 #1)
    assert(got.columns.takeRight(6).toSeq == Seq("kafka_topic",
      "kafka_partition", "kafka_offset", "kafka_timestamp_ms",
      "kafka_headers", "kafka_timestamp_type"))
    val r3 = got.filter(col("id") === 3L).head()
    assert(r3.getAs[String]("kafka_topic") == "t7")
    assert(r3.getAs[Int]("kafka_partition") == 1)
    assert(r3.getAs[Long]("kafka_offset") == 1L)
    assert(r3.getAs[Long]("kafka_timestamp_ms") == 1700000000003L)
    // a frame WITHOUT headers/timestampType columns (the real source
    // without includeHeaders): null headers, NoTimestampType
    assert(r3.isNullAt(r3.fieldIndex("kafka_headers")))
    assert(r3.getAs[String]("kafka_timestamp_type") == "NoTimestampType")
    assert(r3.getAs[Map[String, String]]("after")("uid") == "3")
    assert(got.count() == 6) // the tombstone dropped, never a crash
    // streaming: same plan over MemoryStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Int, Long, java.sql.Timestamp,
      Array[Byte])]
    mem.addData(rows: _*)
    val q = CdcStreaming.fromKafkaRecordsWithMeta(
      mem.toDF().toDF("topic", "partition", "offset", "timestamp",
        "value"), wire = "dts-avro")
      .writeStream.format("memory").queryName("meta_bridge_t").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("meta_bridge_t").count() == 6)
    assert(spark.table("meta_bridge_t")
      .agg(max(col("kafka_offset"))).head().getLong(0) == 2L)
  }

  test("DDL evolution and wire-derived typing AGREE in both directions " +
      "(ADD and DROP COLUMN) — the cdc39 convergence, spec side") {
    import spark.implicits._
    import graft.cdc.{AvroWire, RawDataTypes}
    import graft.cdc.AvroWire._
    def wrec(id: Long, fields: Seq[(String, Int)]) =
      AvroWire.encodeRecord(WireRecord(
        version = 2, id = id, timestampSec = 1700000000L + id,
        sourcePosition = s"$id@1", safeSourcePosition = s"$id@0",
        transactionId = "tx-1", sourceTypeCode = 0, sourceVersion = "8.0",
        op = Op.Insert, objectName = "appdb.m",
        tags = Map("pk_uk_info" -> """{"PRIMARY":["uid"]}"""),
        fields = fields, before = null,
        after = fields.map(_ => WInteger(10, "1")),
        bornTimestamp = id))
    val pre = Seq("uid" -> 8, "a" -> 3, "b" -> 253)
    val added = pre :+ ("k2" -> 3)
    val dropped = pre.filterNot(_._1 == "a")
    def derive(fields: Seq[(String, Int)]) =
      RawDataTypes.deriveSchema(
        CdcStreaming.fromKafkaRecords(
          Seq(wrec(1, fields)).toDF("value"), wire = "dts-avro"),
        "appdb", "m")
    val base = derive(pre)
    // ADD: applyDdl on the statement == deriveSchema on the new wire
    assert(TypedSchema.applyDdl(base,
      "ALTER TABLE appdb.m ADD COLUMN k2 int").fields ==
      derive(added).fields)
    // DROP: same agreement in the other direction
    assert(TypedSchema.applyDdl(base,
      "ALTER TABLE appdb.m DROP COLUMN a").fields ==
      derive(dropped).fields)
  }

  test("footer stats prune chunks on timestamp reposition") {
    val dir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir)
    // chunk 0 covers ts 1..10s, chunk 1 11..20s, chunk 2 21..30s
    val df = CdcStreaming.readBatch(spark, dir, Some(15000000L))
    assert(df.count() == 16) // records 14..29
    assert(df.agg(min(col("tsUs"))).head().getLong(0) == 15000000L)
    val footer = CdcChunkFile.readFooter(
      CdcChunkFile.listChunks(dir).head)
    assert(footer.nRecords == 10 && footer.minTsUs == 1000000L)
  }

  test("lazy header expressions work in a query (codegen path)") {
    import graft.cdc.CdcFunctions._
    val r = CdcFixtures.rec(5L, 123L, Op.Insert, "k", "v")
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(RecordCodec.encode(r))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("raw",
          org.apache.spark.sql.types.BinaryType))))
    val got = df.select(
      cdc_header_id(col("raw")).as("id"),
      cdc_header_ts_us(col("raw")).as("ts"),
      cdc_header_op_code(col("raw")).as("opc")).head()
    assert(got.getLong(0) == 5L && got.getLong(1) == 123L)
    assert(Op.fromCode(got.getInt(2).toByte) == Op.Insert)
  }

  test("micro-batch stream consumes chunks with admission cap") {
    val dir = TestDirs.tmp("gcl")
    val recs = CdcFixtures.writeChunks(dir)
    val q = CdcStreaming.readStream(spark, dir, maxChunksPerTrigger = Some(1))
      .writeStream.format("memory").queryName("cdc_stream_t1")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cdc_stream_t1")
      assert(got.count() == recs.size)
      // admission cap => at least 3 micro-batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    } finally q.stop()
  }

  test("streaming windowed op counts match the batch computation") {
    val dir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir)
    val q = CdcStreaming.windowedOpCounts(
        CdcStreaming.readStream(spark, dir), window = "10 seconds",
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("cdc_win_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; compare
      // against batch on the closed prefix
      val batch = CdcStreaming.windowedOpCounts(
        CdcStreaming.readBatch(spark, dir), window = "10 seconds")
      val streamed = spark.table("cdc_win_t")
      val closed = streamed.agg(max("win_us")).head()
      // all closed windows must agree with batch
      val joined = streamed.join(batch, Seq("win_us", "op"))
      assert(joined.filter(streamed("n") =!= batch("n")).count() == 0)
    } finally q.stop()
  }

  test("materialize: last DML wins, DELETE tombstones, heartbeats ignored") {
    implicit val s = spark
    val dir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir)
    val q = CdcStreaming.materialize(CdcStreaming.readStream(spark, dir))
      .writeStream.format("memory").queryName("cdc_mat_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val st = spark.table("cdc_mat_t")
      // final state per key == batch last-DML-wins
      val fin = st.withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("key"))
            .orderBy(col("tsUs").desc, col("recordId").desc)))
        .filter(col("rn") === 1)
      // keys: k0 saw record 9=DELETE? ids 0,3,6,9,12,... (i%3==0)
      // last DML per key: k0 -> id 27, k1 -> id 28, k2 -> id 29(DELETE)
      val byKey = fin.collect().map(r =>
        r.getAs[String]("key") -> (r.getAs[Long]("recordId"),
          r.getAs[Boolean]("alive"))).toMap
      assert(byKey.values.map(_._1).toSet == Set(27L, 28L, 29L))
      val deadKeys = byKey.filter(!_._2._2)
      assert(deadKeys.values.map(_._1).toSet == Set(29L))
    } finally q.stop()
  }

  test("dataOps is marker-proof: an injected fetch marker or heartbeat " +
      "never counts as a data row (ADVICE r14 #4)") {
    import spark.implicits._
    // a shared-fixture clone grown every marker op + the DML trio: the
    // CASE in CdcQueries.changelog emits only four ops today, but
    // cdc31-style marker-bearing chunks must stay excluded by
    // construction, not by fixture accident
    val ops = Seq(Op.Insert, Op.Update, Op.Delete, Op.Heartbeat) ++
      Op.markers
    val log = ops.zipWithIndex
      .map { case (op, i) => (i.toLong, 1000000L * i, op) }
      .toDF("record_id", "ts_us", "op")
    val kept = graft.cdc.CdcQueries.dataOpsOf(log)
      .select("op").as[String].collect().toSet
    assert(kept == Set(Op.Insert, Op.Update, Op.Delete))
  }

  test("typed schema projection yields typed columns on the stream") {
    import org.apache.spark.sql.types._
    val dir = TestDirs.tmp("gcl")
    val recs = (0 until 10).map { i =>
      ChangeRecord(i.toLong, "tx", 1000000L * (i + 1), 0L, Op.Insert,
        "app", "m", Seq("id"), null,
        Map("id" -> i.toString, "price" -> s"$i.5",
          "seen" -> (1000000L * i).toString, "mask" -> "255"))
    }
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", recs)
    val schema = TypedSchema.TableSchema("app", "m", Seq("id"), Seq(
      TypedSchema.RecordField("id", "bigint"),
      TypedSchema.RecordField("price", "decimal(10,2)"),
      TypedSchema.RecordField("seen", "timestamp_us"),
      TypedSchema.RecordField("mask", "bit(3)")))
    val q = TypedSchema.project(CdcStreaming.readStream(spark, dir), schema)
      .writeStream.format("memory").queryName("typed_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("typed_t")
      assert(got.schema("id").dataType == LongType)
      assert(got.schema("price").dataType == DecimalType(10, 2))
      assert(got.schema("seen").dataType == TimestampType)
      assert(got.schema("mask").dataType == LongType)
      val r5 = got.filter(col("id") === 5L).head()
      assert(r5.getAs[java.math.BigDecimal]("price").toPlainString == "5.50")
      assert(r5.getAs[Long]("mask") == 7L) // 255 & 0b111
      assert(r5.getAs[java.sql.Timestamp]("seen").getTime == 5000L)
      assert(got.count() == 10)
    } finally q.stop()
  }

  test("typed schema time_us: TIME-only strings become micros since " +
      "midnight, sign and >24h hours included") {
    import org.apache.spark.sql.types._
    val dir = TestDirs.tmp("gcl")
    // the DtsDateTime time-only renderings the real wire delivers for
    // MySQL TIME columns (cdc33's tod column shape)
    val times = Seq("07:05:09", "00:00:00", "23:59:59.25",
      "838:59:59", "-01:30:00", "12:00:00.000001", "junk")
    val recs = times.zipWithIndex.map { case (t, i) =>
      ChangeRecord(i.toLong, "tx", 1000000L * (i + 1), 0L, Op.Insert,
        "app", "m", Seq("id"), null, Map("id" -> i.toString, "t" -> t))
    }
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", recs)
    val schema = TypedSchema.TableSchema("app", "m", Seq("id"), Seq(
      TypedSchema.RecordField("id", "bigint"),
      TypedSchema.RecordField("t", "time_us")))
    val got = TypedSchema.project(CdcStreaming.readBatch(spark, dir), schema)
    assert(got.schema("t").dataType == LongType)
    val byId = got.select("id", "t").collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null
                       else java.lang.Long.valueOf(r.getLong(1)))).toMap
    def us(h: Long, m: Long, s: Long, frac: Long = 0L) =
      (h * 3600L + m * 60L + s) * 1000000L + frac
    assert(byId(0L) == us(7, 5, 9))
    assert(byId(1L) == 0L)
    assert(byId(2L) == us(23, 59, 59, 250000L))
    assert(byId(3L) == us(838, 59, 59)) // MySQL TIME's far edge
    assert(byId(4L) == -us(1, 30, 0))
    assert(byId(5L) == us(12, 0, 0, 1L))
    assert(byId(6L) == null) // malformed → NULL, the conversion contract
    // agreement with the value layer: DtsDateTime parse → toMicros
    // computes the same duration for the well-formed shapes
    times.init.foreach { t =>
      val dt = graft.cdc.DtsDateTime.parse(t,
        graft.cdc.DtsDateTime.SegTime | graft.cdc.DtsDateTime.SegNanos)
      val i = times.indexOf(t)
      assert(dt.toMicros == byId(i.toLong),
        s"DtsDateTime and time_us disagree on [$t]")
    }
  }

  test("typed schema projection of the BEFORE image (delete auditing)") {
    val dir = TestDirs.tmp("gcl")
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", Seq(
      ChangeRecord(1L, "tx", 1000000L, 0L, Op.Delete, "app", "m",
        Seq("id"), Map("id" -> "7", "price" -> "3.25"), null),
      ChangeRecord(2L, "tx", 2000000L, 0L, Op.Insert, "app", "m",
        Seq("id"), null, Map("id" -> "8", "price" -> "9.99"))))
    val schema = TypedSchema.TableSchema("app", "m", Seq("id"), Seq(
      TypedSchema.RecordField("id", "bigint"),
      TypedSchema.RecordField("price", "decimal(10,2)")))
    val got = TypedSchema.project(
        CdcStreaming.readBatch(spark, dir), schema, image = "before")
      .collect().map(r => r.getAs[Long]("record_id") ->
        (Option(r.getAs[java.lang.Long]("id")),
          Option(r.getAs[java.math.BigDecimal]("price")).map(_.toPlainString)))
      .toMap
    // the DELETE's before image projects typed; the INSERT has none
    assert(got(1L) == ((Some(7L), Some("3.25"))))
    assert(got(2L) == ((None, None)))
  }

  test("scan reports custom metrics: pruned chunks, header skips, decodes") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir) // 3 chunks x 10 records, ts 1s..30s
    val conf = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(conf)
    spark.conf.set(conf, "false") // keep BatchScanExec reachable
    try {
      // reposition past chunk 0 (maxTs 10s) => 1 chunk pruned whole;
      // op pushdown drops non-UPDATE records on the header byte
      val df = CdcStreaming.readBatch(spark, dir,
          startingTimestampUs = Some(10000001L))
        .filter(col("op") === Op.Update)
        .select("id", "op")
      df.collect() // executes THIS QueryExecution (count() builds its own)
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      def metric(n: String): Long = scan.metrics(n).value
      assert(metric("chunksPruned") == 1L)
      // chunks 1+2 hold records 10..29: ops cycle per 10 with
      // UPDATE at i%10 not in {0,5,9} => 14 updates, 6 skipped
      assert(metric("recordsDecoded") == 14L)
      assert(metric("recordsSkippedHeader") == 6L)
      assert(metric("recordsCorruptSkipped") == 0L)
    } finally spark.conf.set(conf, old)
  }

  test("DDL control stream evolves the declared schema (add/drop column)") {
    import org.apache.spark.sql.types._
    val dir = TestDirs.tmp("gcl")
    // data before the DDL, the DDL record in-band, data after with the
    // new column populated
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", Seq(
      ChangeRecord(1L, "tx", 1000000L, 0L, Op.Insert, "app", "m",
        Seq("id"), null, Map("id" -> "1", "price" -> "3.25")),
      ChangeRecord(2L, "tx", 2000000L, 0L, Op.Ddl, "app", "m",
        Seq.empty, null,
        Map("ddl" -> "ALTER TABLE app.m ADD COLUMN qty bigint")),
      ChangeRecord(3L, "tx", 3000000L, 0L, Op.Insert, "app", "m",
        Seq("id"), null,
        Map("id" -> "2", "price" -> "9.99", "qty" -> "4"))))
    val v0 = TypedSchema.TableSchema("app", "m", Seq("id"), Seq(
      TypedSchema.RecordField("id", "bigint"),
      TypedSchema.RecordField("price", "decimal(10,2)")))
    val batch = CdcStreaming.readBatch(spark, dir)
    // consumer folds the control stream into the declared schema
    val stmts = CdcStreaming.ddlEvents(batch)
      .orderBy("tsUs").collect().map(_.getAs[String]("statement"))
    val v1 = stmts.foldLeft(v0)(TypedSchema.applyDdl)
    assert(v1.fields.map(_.name) == Seq("id", "price", "qty"))
    val got = TypedSchema.project(batch, v1)
    assert(got.schema("qty").dataType == LongType)
    val byId = got.filter(col("record_op") === Op.Insert).collect()
      .map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Long]("qty"))).toMap
    assert(byId(1L).isEmpty) // pre-DDL row: new column is NULL
    assert(byId(2L).contains(4L))
    // unknown DDL and other tables are ignored, drop works
    assert(TypedSchema.applyDdl(v1, "TRUNCATE TABLE app.m") == v1)
    assert(TypedSchema.applyDdl(v1,
      "ALTER TABLE other.t ADD COLUMN x int") == v1)
    val v2 = TypedSchema.applyDdl(v1, "ALTER TABLE app.m DROP COLUMN qty")
    assert(v2.fields.map(_.name) == Seq("id", "price"))
  }

  test("per-table selection filters rows and skips tail decode") {
    val dir = TestDirs.tmp("gcl")
    val recs = (0 until 20).map { i =>
      val tbl = if (i % 4 == 0) "users" else "orders"
      ChangeRecord(i.toLong, "tx", 1000000L * (i + 1), 1000L * i, Op.Insert,
        "appdb", tbl, Seq("uid"), null, Map("uid" -> s"k$i", "v" -> s"v$i"))
    }
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", recs)
    val before = RecordCodec.fullDecodes.get()
    val rows = CdcStreaming.readBatch(spark, dir, table = Some("appdb.users"))
      .collect()
    val decoded = RecordCodec.fullDecodes.get() - before
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[String]("tbl") == "users"))
    // the filtered 15 records never paid the tail parse
    assert(decoded == 5L, s"expected 5 full decodes, saw $decoded")
  }

  test("filter pushdown: op/ts predicates evaluate on the header, chunks prune") {
    val dir = TestDirs.tmp("gcl")
    val recs = CdcFixtures.writeChunks(dir) // 3 chunks: 1-10s, 11-20s, 21-30s
    // op equality: only matching records pay a tail parse
    val nUpdates = recs.count(_.op == Op.Update)
    val before = RecordCodec.fullDecodes.get()
    val ups = CdcStreaming.readBatch(spark, dir)
      .filter(col("op") === Op.Update).collect()
    assert(ups.length == nUpdates)
    assert(RecordCodec.fullDecodes.get() - before == nUpdates.toLong)
    // the plan carries the pushed filter
    val df = CdcStreaming.readBatch(spark, dir)
      .filter(col("op") === Op.Update)
    assert(df.queryExecution.executedPlan.toString
      .contains("PushedFilters"), "scan should report pushed filters")
    // tsUs range: whole chunks outside the interval never plan tasks
    val ranged = CdcStreaming.readBatch(spark, dir)
      .filter(col("tsUs") >= 25000000L)
    assert(ranged.rdd.getNumPartitions == 1) // only chunk 3 survives
    assert(ranged.count() == 6) // records at 25..30s
    // a pushed op outside the vocabulary matches nothing
    assert(CdcStreaming.readBatch(spark, dir)
      .filter(col("op") === "weird").count() == 0)
  }

  test("column pruning reaches the decoder: header-only queries skip the tail") {
    val dir = TestDirs.tmp("gcl")
    val recs = CdcFixtures.writeChunks(dir)
    val before = RecordCodec.fullDecodes.get()
    val stats = CdcStreaming.readBatch(spark, dir)
      .groupBy("op").count().collect()
    // the pruned scan needed only the op byte — zero tail parses
    assert(RecordCodec.fullDecodes.get() - before == 0L)
    assert(stats.map(_.getLong(1)).sum == recs.size)
    // full-width reads still decode everything
    val b2 = RecordCodec.fullDecodes.get()
    val all = CdcStreaming.readBatch(spark, dir).collect()
    assert(all.length == recs.size)
    assert(RecordCodec.fullDecodes.get() - b2 == recs.size)
    // and the pruned values are correct mid-record (db needs a skip of tx)
    val dbs = CdcStreaming.readBatch(spark, dir)
      .select("db", "tsUs").distinct().collect()
    assert(dbs.forall(_.getString(0) == "appdb"))
  }

  test("footer statistics let Catalyst broadcast the subscription side") {
    val dir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir)
    val cdc = CdcStreaming.readBatch(spark, dir)
      .select(element_at(col("after"), "uid").as("uid"), col("id"))
    // big side: above the broadcast threshold, so the planner must
    // broadcast the CDC side — possible only because the scan reports
    // footer-derived stats (an unsized DSv2 source defaults to huge)
    val big = spark.range(3000000L)
      .select(concat(lit("k"), (col("id") % 5)).as("uid"),
        col("id").as("big_id"))
    val joined = cdc.join(big, "uid")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast in:\n$plan")
    assert(joined.count() > 0)
  }

  test("batch scan statistics count exactly the chunks the scan plans; " +
      "a streaming scan's follow the directory") {
    val dir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir)
    val scan = new CdcTable(dir, None, HeaderFilters(), permissive = false)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[CdcScan]
    val statRows = scan.estimateStatistics().numRows().getAsLong
    // a chunk lands between Catalyst's sizing and the scan's planning
    CdcChunkFile.write(s"$dir/chunk-00003${CdcChunkFile.Extension}",
      Seq(CdcFixtures.rec(30L, 31000000L, Op.Insert, "k9", "v30")))
    val planned = scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[CdcInputPartition].ranges.map(_.chunkPath)).distinct
    assert(statRows ==
      planned.map(c => CdcChunkFile.readFooter(c).nRecords.toLong).sum)
    // a streaming scan lives as long as its query: its statistics keep
    // following the directory
    val stream = new CdcTable(dir, None, HeaderFilters(), permissive = false)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[CdcScan]
    stream.toMicroBatchStream(dir)
    val before = stream.estimateStatistics().numRows().getAsLong
    CdcChunkFile.write(s"$dir/chunk-00004${CdcChunkFile.Extension}",
      Seq(CdcFixtures.rec(31L, 32000000L, Op.Insert, "k9", "v31")))
    assert(stream.estimateStatistics().numRows().getAsLong == before + 1)
    // the statistics leave out the chunks planning prunes: a pushed
    // tsUs bound, and `table` selection over a v3 multi-table transport
    def batchScan(d: String, opts: Map[String, String], pushed: Filter*): CdcScan = {
      import scala.jdk.CollectionConverters._
      val b = new CdcSourceProvider()
        .getTable(CdcSource.schema, Array.empty, (opts + ("path" -> d)).asJava)
        .asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty())
      b.asInstanceOf[SupportsPushDownFilters].pushFilters(pushed.toArray)
      b.build().asInstanceOf[CdcScan]
    }
    def statsMatchPlan(s: CdcScan, nChunks: Int): Unit = {
      val rows = s.estimateStatistics().numRows().getAsLong
      val chunks = s.toBatch.planInputPartitions()
        .flatMap(_.asInstanceOf[CdcInputPartition].ranges.map(_.chunkPath)).distinct
      assert(chunks.length == nChunks)
      assert(rows == chunks.map(c => CdcChunkFile.readFooter(c).nRecords.toLong).sum)
    }
    val tsDir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(tsDir) // 1-10s, 11-20s, 21-30s
    statsMatchPlan(batchScan(tsDir, Map.empty, GreaterThanOrEqual("tsUs", 15000000L)), 2)
    val tblDir = TestDirs.tmp("gcl")
    def r(id: Long, tbl: String) =
      ChangeRecord(id, "tx", 1000000L * id, 0L, Op.Update, "appdb", tbl,
        Seq("k"), null, Map("k" -> id.toString))
    CdcChunkFile.write(s"$tblDir/chunk-00000${CdcChunkFile.Extension}",
      (1L to 4L).map(r(_, "users")))
    CdcChunkFile.write(s"$tblDir/chunk-00001${CdcChunkFile.Extension}",
      (5L to 10L).map(r(_, "orders")))
    CdcChunkFile.write(s"$tblDir/chunk-00002${CdcChunkFile.Extension}",
      Seq(r(11L, "users"), r(12L, "orders"), r(13L, "orders")))
    statsMatchPlan(batchScan(tblDir, Map("table" -> "appdb.users")), 2)
  }

  test("options and pushed filters intersect: a conflicting equality " +
      "reads nothing, ts bounds narrow each other") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = TestDirs.tmp("gcl")
    def r(id: Long, tbl: String) =
      ChangeRecord(id, "tx", 1000000L * id, 0L, Op.Update, "appdb", tbl,
        Seq("k"), null, Map("k" -> id.toString))
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}",
      Seq(r(1L, "users"), r(2L, "orders"), r(3L, "users"), r(4L, "orders")))
    val users = spark.read.format("graft-cdc").option("path", dir)
      .option("table", "appdb.users").load()
    assert(users.filter(col("tbl") === "orders").collect().isEmpty)
    assert(users.filter(col("db") === "x").collect().isEmpty)
    assert(users.filter(col("tbl") === "users").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    val cat = "cdc_cat_and"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CdcCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", dir)
    try {
      assert(spark.sql(s"SELECT id FROM $cat.appdb.users WHERE tbl = 'orders'")
        .collect().isEmpty)
      assert(spark.sql(s"SELECT id FROM $cat.appdb.users WHERE db = 'x'")
        .collect().isEmpty)
      assert(spark.sql(s"SELECT id FROM $cat.appdb.users WHERE tbl = 'users'")
        .collect().length == 2)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
    }
    // startingTimestampUs AND a pushed upper bound: chunk 0 (1-10s)
    // falls to the option, chunk 2 (21-30s) to the filter
    val tsDir = TestDirs.tmp("gcl")
    val recs = CdcFixtures.writeChunks(tsDir)
    val conf = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(conf)
    spark.conf.set(conf, "false") // keep BatchScanExec reachable
    try {
      val df = spark.read.format("graft-cdc").option("path", tsDir)
        .option("startingTimestampUs", 12000000L).load()
        .filter(col("tsUs") < 21000000L).select("id")
      val ids = df.collect().map(_.getLong(0)).sorted.toSeq
      assert(ids.length == 9 && ids ==
        recs.filter(x => x.tsUs >= 12000000L && x.tsUs < 21000000L).map(_.id))
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      assert(scan.metrics("chunksPruned").value == 2L)
    } finally spark.conf.set(conf, old)
    // a bound no tsUs can pass has no header form: Spark keeps it
    assert(CdcStreaming.readBatch(spark, tsDir)
      .filter(col("tsUs") > Long.MaxValue).collect().isEmpty)
  }

  test("large chunks split into parallel scan ranges via the footer index") {
    val dir = TestDirs.tmp("gcl")
    val n = 10000
    val recs = (0 until n).map(i =>
      CdcFixtures.rec(i.toLong, 1000L * (i + 1), Op.Update,
        s"k${i % 7}", s"v$i"))
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", recs)
    val f = CdcChunkFile.readFooter(
      s"$dir/chunk-00000${CdcChunkFile.Extension}")
    // 10000 records at stride 4096 => boundaries at 4096, 8192
    assert(f.splits.length == 3)
    assert(f.nRecords == n)
    // ranges tile the record region exactly
    assert(f.splits.head._1 == 0L)
    assert(f.splits.sliding(2).forall(p => p(0)._2 == p(1)._1))
    // the scan plans one task per split and loses nothing
    val df = CdcStreaming.readBatch(spark, dir)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == n)
    assert(df.select(sum(col("id"))).head().getLong(0) ==
      n.toLong * (n - 1) / 2)
  }

  test("small chunks pack into fewer input partitions than chunks, " +
      "batch and micro-batch, with the same rows") {
    val dir = TestDirs.tmp("gcl")
    val n = 12
    val recs = (0 until n * 5).map(i =>
      CdcFixtures.rec(i.toLong, 1000000L * (i + 1), Op.Update, s"k${i % 4}", s"v$i"))
    recs.grouped(5).zipWithIndex.foreach { case (g, i) =>
      CdcChunkFile.write(f"$dir/chunk-$i%05d${CdcChunkFile.Extension}", g)
    }
    def byId(rows: Array[Row]) = rows.sortBy(_.getAs[Long]("id")).toSeq
    val batch = CdcStreaming.readBatch(spark, dir)
    val batchParts = batch.rdd.getNumPartitions
    assert(batchParts < n && batchParts > 1, s"$batchParts partitions")
    val batchRows = byId(batch.collect())
    assert(batchRows.map(_.getAs[Long]("id")) == recs.map(_.id))
    // one trigger over every chunk: the micro-batch plans the same way
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Array[Row])]()
    val q = CdcStreaming.readStream(spark, dir).writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        if (!df.isEmpty) seen.add((df.rdd.getNumPartitions, df.collect()))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val triggers = seen.asScala.toSeq
    assert(triggers.length == 1)
    assert(triggers.head._1 == batchParts)
    assert(byId(triggers.head._2) == batchRows)
  }

  test("permissive: a torn frame in a packed partition's first range " +
      "does not drop the next range's records") {
    val dir = TestDirs.tmp("gcl")
    // chunk 0: two good frames, then a length prefix that runs past
    // the record region (a torn write), then a v1 footer
    val good = (0 until 2).map(i =>
      CdcFixtures.rec(i.toLong, 1000000L * (i + 1), Op.Insert, s"k$i", s"v$i"))
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$dir/chunk-00000${CdcChunkFile.Extension}")))
    def frame(len: Int, b: Array[Byte]): Unit = {
      out.write(len & 0xff); out.write((len >> 8) & 0xff)
      out.write((len >> 16) & 0xff); out.write((len >> 24) & 0xff)
      out.write(b)
    }
    good.map(RecordCodec.encode).foreach(b => frame(b.length, b))
    frame(1000, Array.fill[Byte](12)(0x5a))
    val foot = java.nio.ByteBuffer.allocate(CdcChunkFile.FooterLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    foot.putLong(1000000L).putLong(2000000L).putInt(3).putInt(CdcChunkFile.FooterMagic)
    out.write(foot.array()); out.close()
    // chunks 1..7: three good records each
    val rest = (1 until 8).flatMap { c =>
      val g = (0 until 3).map { j =>
        val id = 10L * c + j
        CdcFixtures.rec(id, 1000000L * (id + 1), Op.Insert, s"k$id", s"v$id")
      }
      CdcChunkFile.write(f"$dir/chunk-$c%05d${CdcChunkFile.Extension}", g)
      g
    }
    // the torn chunk shares its partition with the next chunk
    val parts = new CdcTable(dir, None, HeaderFilters(), permissive = true)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .toBatch.planInputPartitions().map(_.asInstanceOf[CdcInputPartition])
    assert(parts.head.ranges.map(_.chunkPath).map(
      java.nio.file.Paths.get(_).getFileName.toString) ==
      Seq(0, 1).map(c => f"chunk-$c%05d${CdcChunkFile.Extension}"))
    // failfast: the torn frame aborts the scan
    intercept[org.apache.spark.SparkException] {
      CdcStreaming.readBatch(spark, dir).collect()
    }
    // permissive: the frames before the tear and every later range
    // survive; the tear counts once
    val (rows, corrupt) = collectCountingCorrupt(spark.read.format("graft-cdc")
      .option("path", dir).option("mode", "permissive").load())
    assert(rows.map(_.getAs[Long]("id")).sorted.toSeq ==
      (good ++ rest).map(_.id).sorted)
    assert(corrupt == 1L)
  }

  test("a stream reads each chunk footer once across triggers") {
    val dir = TestDirs.tmp("gcl")
    def land(c: Int): Unit =
      CdcChunkFile.write(f"$dir/chunk-$c%05d${CdcChunkFile.Extension}",
        Seq(CdcFixtures.rec(c.toLong, 1000000L * (c + 1), Op.Insert, s"k$c", s"v$c")))
    (0 until 3).foreach(land)
    val scan = new CdcTable(dir, None, HeaderFilters(), permissive = false)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[CdcScan]
    val stream = scan.toMicroBatchStream(dir)
    // one trigger as the micro-batch engine runs it: the end offset,
    // the plan's statistics, then the partitions
    def trigger(start: CdcOffset): CdcOffset = {
      val end = stream.latestOffset().asInstanceOf[CdcOffset]
      scan.estimateStatistics()
      stream.planInputPartitions(start, end)
      end
    }
    val reads0 = CdcChunkFile.footerReads.get()
    val end1 = trigger(CdcOffset(0))
    assert(CdcChunkFile.footerReads.get() - reads0 == 3L)
    (3 until 5).foreach(land)
    val reads1 = CdcChunkFile.footerReads.get()
    val end2 = trigger(end1)
    assert(end2.chunksConsumed == 5)
    assert(CdcChunkFile.footerReads.get() - reads1 == 2L)
    assert(scan.estimateStatistics().numRows().getAsLong == 5L)
  }

  test("permissive mode skips corrupt records; failfast aborts") {
    val dir = TestDirs.tmp("gcl")
    val good = (0 until 5).map(i =>
      CdcFixtures.rec(i.toLong, 1000000L * (i + 1), Op.Insert, s"k$i", s"v$i"))
    // hand-build a chunk with a garbage payload in the middle: framing
    // (length prefixes + footer) intact, record bytes corrupt
    val payloads = good.take(3).map(RecordCodec.encode) ++
      Seq(Array.fill[Byte](24)(0x5a)) ++ good.drop(3).map(RecordCodec.encode)
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$dir/chunk-00000${CdcChunkFile.Extension}")))
    payloads.foreach { b =>
      out.write(b.length & 0xff); out.write((b.length >> 8) & 0xff)
      out.write((b.length >> 16) & 0xff); out.write((b.length >> 24) & 0xff)
      out.write(b)
    }
    val foot = java.nio.ByteBuffer.allocate(CdcChunkFile.FooterLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    foot.putLong(1000000L).putLong(5000000L)
    foot.putInt(payloads.length).putInt(CdcChunkFile.FooterMagic)
    out.write(foot.array()); out.close()

    // failfast (default): the corrupt payload aborts the scan
    intercept[org.apache.spark.SparkException] {
      CdcStreaming.readBatch(spark, dir).count()
    }
    // permissive: 5 good records survive, 1 corruption counted
    val (rows, corrupt) = collectCountingCorrupt(spark.read.format("graft-cdc")
      .option("path", dir).option("mode", "permissive").load())
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == (0L until 5L))
    assert(corrupt == 1L)
  }

  test("subscription validates checkpoint and table selector eagerly") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.CdcSubscription(server = "/tmp/x", sid = Some("s"),
        checkpoint = Some("")).checkpointUs
    }
    assert(e.getMessage.contains("checkpoint"))
    assertThrows[IllegalArgumentException] {
      graft.sources.CdcSubscription(server = "/tmp/x", sid = Some("s"),
        table = Some("nodots"))
    }
  }

  test("heartbeats advance event-time and close windows on an idle stream") {
    val dir = TestDirs.tmp("gcl")
    // DML only in the 0-10s window; afterwards the table goes idle and
    // the transport emits just a liveness heartbeat at t=40s
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", Seq(
      CdcFixtures.rec(1L, 1000000L, Op.Update, "a", "v1"),
      CdcFixtures.rec(2L, 2000000L, Op.Update, "a", "v2"),
      CdcFixtures.rec(3L, 3000000L, Op.Update, "b", "v3")))
    CdcChunkFile.write(s"$dir/chunk-00001${CdcChunkFile.Extension}", Seq(
      CdcFixtures.rec(4L, 40000000L, Op.Heartbeat, "hb", "hb")))
    def windowed(base: org.apache.spark.sql.DataFrame) = base
      .groupBy(window(col("ts"), "10 seconds")).agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("win_us"), col("n"))
    // heartbeat-aware watermark: the t=40s heartbeat closes the 0-10s
    // window even though no DML followed it
    val q1 = windowed(CdcStreaming.withHeartbeatWatermark(
        CdcStreaming.readStream(spark, dir, maxChunksPerTrigger = Some(1)),
        watermark = "0 seconds"))
      .writeStream.format("memory").queryName("hb_aware_t")
      .outputMode("append").start()
    try {
      q1.processAllAvailable()
      val got = spark.table("hb_aware_t").collect()
      assert(got.length == 1)
      assert(got(0).getAs[Long]("win_us") == 0L && got(0).getAs[Long]("n") == 3L)
    } finally q1.stop()
    // control: dropping heartbeats BEFORE the watermark stalls the
    // stream — nothing ever closes the window
    val q2 = windowed(CdcStreaming.readStream(spark, dir)
        .filter(col("op") =!= Op.Heartbeat)
        .withColumn("ts", timestamp_micros(col("tsUs")))
        .withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("hb_blind_t")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("hb_blind_t").isEmpty)
    } finally q2.stop()
  }

  test("DDL records route end-to-end as control events, key state untouched") {
    implicit val s = spark
    val dir = TestDirs.tmp("gcl")
    val recs = Seq(
      CdcFixtures.rec(1L, 1000000L, Op.Insert, "k1", "v1"),
      ChangeRecord(2L, "tx-ddl", 2000000L, 1999000L, Op.Ddl, "appdb", "users",
        Seq.empty, null, Map("ddl" -> "ALTER TABLE users ADD COLUMN note TEXT")),
      CdcFixtures.rec(3L, 3000000L, Op.Update, "k1", "v3"))
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", recs)
    // control stream surfaces the DDL through codec -> source -> filter
    val qd = CdcStreaming.ddlEvents(CdcStreaming.readStream(spark, dir))
      .writeStream.format("memory").queryName("ddl_t")
      .outputMode("append").start()
    try {
      qd.processAllAvailable()
      val ddl = spark.table("ddl_t").collect()
      assert(ddl.length == 1)
      assert(ddl(0).getAs[String]("statement").startsWith("ALTER TABLE"))
      assert(ddl(0).getAs[String]("tbl") == "users")
    } finally qd.stop()
    // the DML materializer is oblivious: k1 ends at record 3
    val qm = CdcStreaming.materialize(CdcStreaming.readStream(spark, dir))
      .writeStream.format("memory").queryName("ddl_mat_t")
      .outputMode("append").start()
    try {
      qm.processAllAvailable()
      val last = spark.table("ddl_mat_t")
        .orderBy(col("tsUs").desc).head()
      assert(last.getAs[Long]("recordId") == 3L)
      assert(spark.table("ddl_mat_t")
        .filter(col("recordId") === 2L).count() == 0)
    } finally qm.stop()
  }

  test("composite primary keys materialize as distinct keys") {
    implicit val s = spark
    val dir = TestDirs.tmp("gcl")
    def rec(id: Long, sec: Long, op: String, a: String, b: String, v: String) =
      ChangeRecord(id, "tx", sec * 1000000L, 0L, op, "db", "t",
        Seq("a", "b"),
        if (op == Op.Insert) null else Map("a" -> a, "b" -> b, "v" -> "old"),
        if (op == Op.Delete) null else Map("a" -> a, "b" -> b, "v" -> v))
    // two rows share pk column a=1 but differ in b — round 1's
    // first-pk-only key would have collapsed them
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", Seq(
      rec(1L, 1, Op.Insert, "1", "x", "vx"),
      rec(2L, 2, Op.Insert, "1", "y", "vy"),
      rec(3L, 3, Op.Update, "1", "x", "vx2"),
      ChangeRecord(4L, "tx", 4000000L, 0L, Op.Delete, "db", "t",
        Seq("a", "b"), Map("a" -> "1", "b" -> "y", "v" -> "vy"), null)))
    val q = CdcStreaming.materialize(CdcStreaming.readStream(spark, dir))
      .writeStream.format("memory").queryName("cpk_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val fin = spark.table("cpk_t")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("key")
            .orderBy(col("tsUs").desc)))
        .filter(col("rn") === 1)
      val byKey = fin.collect().map(r =>
        r.getAs[String]("key") -> r.getAs[Boolean]("alive")).toMap
      assert(byKey.size == 2)
      assert(byKey("db|t|1#x"))        // updated, alive
      assert(!byKey("db|t|1#y"))       // deleted via before image
    } finally q.stop()
  }

  test("retract stream keeps downstream aggregates correct under updates") {
    implicit val s = spark
    val dir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir)
    // micro-batches of one chunk each => retractions cross batch
    // boundaries through the keyed state
    val q = CdcStreaming.materializeRetract(
        CdcStreaming.readStream(spark, dir, maxChunksPerTrigger = Some(1)),
        element_at(col("after"), "v"))
      .writeStream.format("memory").queryName("retract_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val events = spark.table("retract_t")
      assert(events.filter(col("change") === -1).count() > 0)
      // live-row count per value attribute = sum of signs
      val live = events.groupBy("value").agg(sum("change").as("n"))
        .filter(col("n") =!= 0)
      // batch recomputation: last DML per key, drop deleted, count values
      val pk1 = element_at(col("pkNames"), 1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("tsUs").desc, col("id").desc)
      val batchLive = CdcStreaming.readBatch(spark, dir)
        .filter(col("op").isin(Op.Insert, Op.Update, Op.Delete))
        .withColumn("key", concat_ws("|", col("db"), col("tbl"),
          coalesce(element_at(col("after"), pk1),
            element_at(col("before"), pk1))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= Op.Delete)
        .select(element_at(col("after"), "v").as("value"))
        .groupBy("value").count()
      assert(live.count() == batchLive.count())
      assert(live.join(batchLive, "value")
        .filter(col("n") =!= col("count")).count() == 0)
      // an upsert-only consumer of the same stream would over-count:
      // adds alone exceed the live count
      val addsOnly = events.filter(col("change") === 1).count()
      assert(addsOnly > live.agg(sum("n")).head().getLong(0))
    } finally q.stop()
  }

  test("SQL DDL surface: CREATE TABLE USING graft-cdc, select/filter/join") {
    // the reference's Table-API entry point is `CREATE TABLE ... WITH
    // ('connector'='dts', ...)` then plain SQL over it (ref:
    // DtsTableISelectTCaseTest.java:79, DtsTableIJoinTCase.java); the
    // Spark-native equivalent is CREATE TABLE ... USING `graft-cdc`
    // OPTIONS (...) against the session catalog, with the same
    // projection + scalar function + OperationType filter shapes
    val dir = TestDirs.tmp("gcl")
    val recs = CdcFixtures.writeChunks(dir)
    spark.sql("DROP TABLE IF EXISTS cdc_sql_t")
    spark.sql(s"""CREATE TABLE cdc_sql_t USING `graft-cdc`
      |OPTIONS (path '$dir', `table` 'appdb.users')""".stripMargin)
    try {
      // projection + scalar function (ref select test: concat('dts-', x))
      val sel = spark.sql("""SELECT id, concat('dts-', tbl) AS tagged,
        |  op FROM cdc_sql_t WHERE op = 'UPDATE'""".stripMargin)
      val expected = recs.count(_.op == Op.Update)
      assert(sel.count() == expected)
      assert(sel.select("tagged").distinct().head().getString(0) == "dts-users")
      // join of the subscription against a dimension table (ref join
      // test shape)
      spark.sql("DROP VIEW IF EXISTS dim_ops")
      spark.sql("""CREATE TEMPORARY VIEW dim_ops AS
        |SELECT 'UPDATE' AS op, 'modify' AS kind
        |UNION ALL SELECT 'INSERT', 'create'""".stripMargin)
      val joined = spark.sql("""SELECT c.id, d.kind FROM cdc_sql_t c
        |JOIN dim_ops d ON c.op = d.op""".stripMargin)
      assert(joined.count() ==
        recs.count(r => r.op == Op.Update || r.op == Op.Insert))
      // the same catalog table opens as a STREAM (the reference's
      // streaming-SQL consumption path)
      val q = spark.readStream.table("cdc_sql_t")
        .groupBy("op").count()
        .writeStream.format("memory").queryName("cdc_sql_stream_t")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        val ops = spark.table("cdc_sql_stream_t").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(ops(Op.Update) == recs.count(_.op == Op.Update))
        assert(ops(Op.Insert) == recs.count(_.op == Op.Insert))
      } finally q.stop()
    } finally {
      spark.sql("DROP TABLE IF EXISTS cdc_sql_t")
      spark.sql("DROP VIEW IF EXISTS dim_ops")
    }
  }

  test("retract → aggregate runs as ONE streaming query, exact under updates") {
    implicit val s = spark
    val dir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir)
    // two stateful operators in one plan: Append-mode
    // flatMapGroupsWithState (retract materializer) feeding a grouped
    // sign-sum — no intermediate landing table
    val q = CdcStreaming.liveCountByValue(
        CdcStreaming.readStream(spark, dir, maxChunksPerTrigger = Some(1)),
        element_at(col("after"), "v"))
      .writeStream.format("memory").queryName("retract_agg_t")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val live = spark.table("retract_agg_t").filter(col("live_rows") =!= 0)
      // batch recomputation: last DML per key, drop deleted, count values
      val pk1 = element_at(col("pkNames"), 1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("tsUs").desc, col("id").desc)
      val batchLive = CdcStreaming.readBatch(spark, dir)
        .filter(col("op").isin(Op.Insert, Op.Update, Op.Delete))
        .withColumn("key", concat_ws("|", col("db"), col("tbl"),
          coalesce(element_at(col("after"), pk1),
            element_at(col("before"), pk1))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= Op.Delete)
        .select(element_at(col("after"), "v").as("value"))
        .groupBy("value").count()
      assert(live.count() == batchLive.count())
      assert(live.join(batchLive, "value")
        .filter(col("live_rows") =!= col("count")).count() == 0)
    } finally q.stop()
  }

  test("multi-table catalog: one subscription dir, per-table SQL") {
    val dir = TestDirs.tmp("gcl")
    // two dbs, three tables on one wire
    def r(id: Long, db: String, tbl: String) =
      ChangeRecord(id, "tx", 1000000L * id, 0L, Op.Update, db, tbl,
        Seq("k"), null, Map("k" -> id.toString, "v" -> s"v$id"))
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", Seq(
      r(1, "appdb", "users"), r(2, "appdb", "orders"),
      r(3, "appdb", "users"), r(4, "auditdb", "log")))
    val cat = "cdc_cat_t"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CdcCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", dir)
    try {
      val ns = spark.sql(s"SHOW NAMESPACES IN $cat").collect()
        .map(_.getString(0)).toSet
      assert(ns == Set("appdb", "auditdb"))
      val tbls = spark.sql(s"SHOW TABLES IN $cat.appdb").collect()
        .map(_.getString(1)).toSet
      assert(tbls == Set("users", "orders"))
      // per-table scans carry the table selector (prefix-filtered)
      assert(spark.sql(s"SELECT * FROM $cat.appdb.users").count() == 2)
      assert(spark.sql(s"SELECT * FROM $cat.auditdb.log").count() == 1)
      // a missing table is a resolution error, not an empty scan
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.appdb.nope").collect()
      }
      // newly appended chunks surface new tables (cache revalidates)
      CdcChunkFile.write(s"$dir/chunk-00001${CdcChunkFile.Extension}",
        Seq(r(5, "appdb", "carts")))
      assert(spark.sql(s"SELECT * FROM $cat.appdb.carts").count() == 1)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
    }
  }

  test("empty subscription dir: batch is empty with full schema, stream waits") {
    val dir = TestDirs.tmp("gcl_empty")
    // batch: zero rows, but the schema must be the full record schema
    // (a consumer's projection compiles before any chunk exists)
    val batch = CdcStreaming.readBatch(spark, dir)
    assert(batch.count() == 0)
    assert(batch.columns.contains("ukNames"))
    // stream: starts on the empty dir, consumes nothing, then picks up
    // the first chunk that appears (day-0 subscription bootstrap)
    val q = CdcStreaming.readStream(spark, dir)
      .writeStream.format("memory").queryName("cdc_empty_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_empty_t").count() == 0)
      CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}",
        Seq(CdcFixtures.rec(1L, 1000000L, Op.Insert, "k0", "v0")))
      q.processAllAvailable()
      assert(spark.table("cdc_empty_t").count() == 1)
    } finally q.stop()
  }

  test("randomized catalog model: discovery and per-table scans match") {
    // seeded fuzz over random (db, tbl) layouts spread across chunks:
    // SHOW NAMESPACES / SHOW TABLES / per-table SELECT counts must all
    // equal the generating model, whatever the distribution
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val dbs = (0 until 3).map(i => s"db$i")
      val tbls = (0 until 4).map(i => s"t$i")
      val recs = (1 to 80).map { i =>
        val db = dbs(rnd.nextInt(dbs.size))
        val tbl = tbls(rnd.nextInt(tbls.size))
        ChangeRecord(i.toLong, "tx", 1000000L * i, 0L, Op.Update, db, tbl,
          Seq("k"), null, Map("k" -> i.toString, "v" -> s"v$i"))
      }
      val dir = TestDirs.tmp(s"gcl_cat_$seed")
      rnd.shuffle(recs).grouped(1 + rnd.nextInt(30)).zipWithIndex.foreach {
        case (g, i) =>
          CdcChunkFile.write(f"$dir/chunk-$i%05d${CdcChunkFile.Extension}", g)
      }
      val model = recs.groupBy(r => (r.db, r.tbl)).view.mapValues(_.size).toMap
      val cat = s"cdc_cat_fuzz_$seed"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CdcCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.path", dir)
      try {
        val ns = spark.sql(s"SHOW NAMESPACES IN $cat").collect()
          .map(_.getString(0)).toSet
        assert(ns == model.keySet.map(_._1), s"seed $seed namespaces")
        ns.foreach { db =>
          val got = spark.sql(s"SHOW TABLES IN $cat.$db").collect()
            .map(_.getString(1)).toSet
          val want = model.keySet.filter(_._1 == db).map(_._2)
          assert(got == want, s"seed $seed tables in $db")
          want.foreach { t =>
            assert(spark.sql(s"SELECT * FROM $cat.$db.$t").count() ==
              model((db, t)), s"seed $seed count $db.$t")
          }
        }
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.path")
      }
    }
  }

  test("retract → windowed aggregate chains event time through FMGWS") {
    implicit val s = spark
    val dir = TestDirs.tmp("gcl")
    CdcFixtures.writeChunks(dir)
    val q = CdcStreaming.windowedLiveCounts(
        CdcStreaming.readStream(spark, dir, maxChunksPerTrigger = Some(1)),
        element_at(col("after"), "v"), win = "10 seconds")
      .writeStream.format("memory").queryName("retract_win_t")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("retract_win_t")
      // sign-sums must globally reconcile: total live rows = keys
      // alive at the end (k0, k1 — k2 deleted by record 29)
      assert(got.agg(sum("live_rows")).head().getLong(0) == 2L)
      // each window's net change is the inserts minus deletes whose
      // LAST effect lands in it — never negative overall counts
      assert(got.groupBy("value").agg(sum("live_rows").as("n"))
        .filter(col("n") < 0).count() == 0)
    } finally q.stop()
  }

  test("footer v3 table directory prunes whole chunks on table selection") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = TestDirs.tmp("gcl")
    def r(id: Long, db: String, tbl: String) =
      ChangeRecord(id, "tx", 1000000L * id, 0L, Op.Update, db, tbl,
        Seq("k"), null, Map("k" -> id.toString, "v" -> s"v$id"))
    // chunk 0 carries only users, chunk 1 only orders
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}",
      (1L to 5L).map(r(_, "appdb", "users")))
    CdcChunkFile.write(s"$dir/chunk-00001${CdcChunkFile.Extension}",
      (6L to 10L).map(r(_, "appdb", "orders")))
    val f = CdcChunkFile.readFooter(
      s"$dir/chunk-00000${CdcChunkFile.Extension}")
    assert(f.tables.contains(Set(("appdb", "users"))))
    assert(f.nRecords == 5 && f.minTsUs == 1000000L && f.maxTsUs == 5000000L)
    val conf = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(conf)
    spark.conf.set(conf, "false") // keep BatchScanExec reachable
    try {
      // the per-table selector skips the orders chunk WHOLE: one input
      // partition, one chunk pruned, and its records never header-read
      val df = CdcStreaming.readBatch(spark, dir, table = Some("appdb.users"))
      val rows = df.collect()
      assert(rows.length == 5 && rows.forall(_.getAs[String]("tbl") == "users"))
      assert(df.rdd.getNumPartitions == 1)
      val scan = df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      assert(scan.metrics("chunksPruned").value == 1L)
      assert(scan.metrics("recordsSkippedHeader").value == 0L)
      // a pushed tbl-equality filter prunes the same way, no selector
      val df2 = CdcStreaming.readBatch(spark, dir)
        .filter(col("tbl") === "orders").select("id", "tbl")
      assert(df2.collect().length == 5)
      val scan2 = df2.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get
      assert(scan2.metrics("chunksPruned").value == 1L)
    } finally spark.conf.set(conf, old)
  }

  test("pre-v3 chunks read fine: no table dir, no table pruning, still split") {
    val dir = TestDirs.tmp("gcl")
    val recs = (0 until 5).map(i =>
      CdcFixtures.rec(i.toLong, 1000000L * (i + 1), Op.Insert, s"k$i", s"v$i"))
    // hand-write a round-2 (v2) chunk: records, no index, v2 footer
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$dir/chunk-00000${CdcChunkFile.Extension}")))
    recs.map(RecordCodec.encode).foreach { b =>
      out.write(b.length & 0xff); out.write((b.length >> 8) & 0xff)
      out.write((b.length >> 16) & 0xff); out.write((b.length >> 24) & 0xff)
      out.write(b)
    }
    val foot = java.nio.ByteBuffer.allocate(CdcChunkFile.FooterLen2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    foot.putInt(0).putLong(1000000L).putLong(5000000L)
    foot.putInt(recs.length).putInt(CdcChunkFile.FooterMagic2)
    out.write(foot.array()); out.close()
    val f = CdcChunkFile.readFooter(
      s"$dir/chunk-00000${CdcChunkFile.Extension}")
    assert(f.tables.isEmpty && f.nRecords == 5 && f.splits.length == 1)
    // reads fully; a table selector still works (per-record prefix path)
    assert(CdcStreaming.readBatch(spark, dir).count() == 5)
    assert(CdcStreaming.readBatch(spark, dir,
      table = Some("appdb.users")).count() == 5)
    assert(CdcStreaming.readBatch(spark, dir,
      table = Some("appdb.nope")).count() == 0)
  }

  test("catalog discovery is footer-only on v3 chunks (records untouched)") {
    val dir = TestDirs.tmp("gcl")
    def r(id: Long, db: String, tbl: String) =
      ChangeRecord(id, "tx", 1000000L * id, 0L, Op.Update, db, tbl,
        Seq("k"), null, Map("k" -> id.toString, "v" -> s"v$id"))
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", Seq(
      r(1, "appdb", "users"), r(2, "appdb", "orders"), r(3, "auditdb", "log")))
    // vandalize the RECORD region: first record's length prefix becomes
    // Int.MaxValue, so any fallback prefix-read of records would throw —
    // discovery must come from the v3 footer alone
    val raf = new java.io.RandomAccessFile(
      s"$dir/chunk-00000${CdcChunkFile.Extension}", "rw")
    try { raf.seek(0); raf.writeInt(0x7fffffff) } finally raf.close()
    val cat = "cdc_cat_v3"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CdcCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", dir)
    try {
      val ns = spark.sql(s"SHOW NAMESPACES IN $cat").collect()
        .map(_.getString(0)).toSet
      assert(ns == Set("appdb", "auditdb"))
      val tbls = spark.sql(s"SHOW TABLES IN $cat.appdb").collect()
        .map(_.getString(1)).toSet
      assert(tbls == Set("users", "orders"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
    }
  }

  test("restart from checkpoint continues, no duplicates") {
    val dir = TestDirs.tmp("gcl")
    val ckpt = TestDirs.tmp("ckpt")
    val out = TestDirs.tmp("gclout") + "/sink"
    val recs = CdcFixtures.writeChunks(dir)
    def start() = CdcStreaming.readStream(spark, dir)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    val n1 = spark.read.parquet(out).count()
    // new chunk arrives while stopped
    CdcChunkFile.write(s"$dir/chunk-00099${CdcChunkFile.Extension}",
      Seq(CdcFixtures.rec(100L, 40000000L, Op.Insert, "k9", "v100")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // offset continuation: exactly one new record, zero duplicates
      val after = spark.read.parquet(out)
      assert(n1 == recs.size)
      assert(after.count() == recs.size + 1)
      assert(after.filter(col("id") === 100L).count() == 1)
    } finally q2.stop()
  }

  test("cdc19 SCD2 history: dense versions, one current, point-in-time = last-wins") {
    val sf = "/root/testdata/sf0.001"
    val hist = SparkEntry.queries("cdc19_scd2_history")(spark, sf)
      .localCheckpoint(true)
    // intervals are well-formed and version numbering is dense per key
    assert(hist.filter(col("valid_to_us").isNotNull &&
      col("valid_to_us") <= col("valid_from_us")).count() == 0)
    val dense = hist.groupBy("pk").agg(
      count(lit(1)).as("n"), max(col("version_no")).as("mx"),
      sum(when(col("is_current"), 1L).otherwise(0L)).as("cur"))
    assert(dense.filter(col("n") =!= col("mx")).count() == 0)
    // at most one open interval per key
    assert(dense.filter(col("cur") > 1).count() == 0)
    // the is_current slice IS cdc02's materialized state (pk,val,k)
    val cur = hist.filter(col("is_current")).select("pk", "val", "k")
    val mat = SparkEntry.queries("cdc02_materialize")(spark, sf)
      .select("pk", "val", "k")
    assert(cur.exceptAll(mat).count() == 0 &&
      mat.exceptAll(cur).count() == 0)
    // point-in-time slice at t reconstructs the last-wins state of
    // records at-or-before t (the dimension-join contract)
    val t = hist.agg(expr("percentile(valid_from_us, 0.5)"))
      .head.getDouble(0).toLong
    val asOf = hist.filter(col("valid_from_us") <= t &&
      (col("valid_to_us").isNull || col("valid_to_us") > t))
      .select("pk", "val", "k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pk"))
      .orderBy(col("ts_us").desc, col("record_id").desc)
    val replay = CdcQueries.changelog(spark, sf)
      .filter(col("op") =!= "HEARTBEAT" && col("ts_us") <= t)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "DELETE")
      .select("pk", "val", "k")
    assert(asOf.exceptAll(replay).count() == 0 &&
      replay.exceptAll(asOf).count() == 0)
  }

  test("cdc20 IVM: incremental aggregate equals full recompute exactly") {
    val sf = "/root/testdata/sf0.001"
    val inc = SparkEntry.queries("cdc20_ivm_delta")(spark, sf)
    // the declarative view at t1, recomputed from scratch over the
    // materialized state (cdc02) — the incremental algebra must land
    // on it EXACTLY (decimal-exact sums, not approximately)
    val full = SparkEntry.queries("cdc02_materialize")(spark, sf)
      .groupBy(col("k")).agg(
        count(lit(1)).as("n_live"),
        graft.OracleSafe.dsum(col("val")).as("sum_val"))
    assert(inc.exceptAll(full).count() == 0 &&
      full.exceptAll(inc).count() == 0)
    // the view is non-trivial: several groups, keys live on both
    // sides of the checkpoint
    assert(inc.count() > 1)
  }

  test("cdc24 lateness: legs partition the changelog, both lateness regimes exercised") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("cdc24_late_side_output")(spark, sf)
      .persist()
    try {
      // exactly-once emission: one row per (leg, window, k)
      assert(out.groupBy("leg", "win_us", "k").count()
        .filter(col("count") > 1).count() == 0)
      // conservation: ontime + late = every data record, window by
      // window (nothing silently shed — the side output accounts for
      // every drop)
      val total = out.groupBy("win_us", "k").agg(sum("n").as("n"))
      val decl = graft.cdc.CdcQueries.changelog(spark, sf)
        .filter(col("op") =!= "HEARTBEAT")
        .groupBy(expr("(ts_us div 10000000) * 10000000").as("win_us"),
          when(col("op") =!= "DELETE", col("k")).as("k"))
        .agg(count(lit(1)).as("n"))
      assert(total.exceptAll(decl).count() == 0 &&
        decl.exceptAll(total).count() == 0)
      // both regimes non-vacuous: some stragglers were DROPPED to the
      // side table, and some were late-but-admitted (window still
      // open = allowed lateness actually bought something)
      val nLate = out.filter(col("leg") === "late")
        .agg(coalesce(sum("n"), lit(0L))).head.getLong(0)
      val nStraggler = graft.cdc.CdcQueries.changelog(spark, sf)
        .filter(col("op") =!= "HEARTBEAT" && col("record_id") % 11 === 7)
        .count()
      assert(nLate > 0, "no straggler was dropped - the gate is vacuous")
      assert(nLate < nStraggler,
        "every straggler was dropped - allowed lateness never exercised")
    } finally out.unpersist()
  }

  test("cdc26 outer join: unmatched inserts emit exactly once, matched set = inner's") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("cdc26_outer_interval_join")(spark, sf)
      .persist()
    try {
      val tolUs = 48L * 3600 * 1000000
      val log = graft.cdc.CdcQueries.changelog(spark, sf)
        .filter(col("op") =!= "HEARTBEAT").persist()
      val ins = log.filter(col("op") === "INSERT")
        .select(col("record_id").as("l_id"), col("pk").as("l_pk"),
          col("ts_us").as("l_ts"))
      val upd = log.filter(col("op") === "UPDATE")
        .select(col("record_id").as("r_id"), col("pk").as("r_pk"),
          col("ts_us").as("r_ts"))
      // matched rows ≡ the declarative inner interval join
      val declPairs = ins.join(upd,
        col("l_pk") === col("r_pk") &&
          col("r_ts").between(col("l_ts") - tolUs, col("l_ts") + tolUs))
        .select("l_id", "r_id")
      val gotPairs = out.filter(col("r_id").isNotNull).select("l_id", "r_id")
      assert(gotPairs.exceptAll(declPairs).count() == 0 &&
        declPairs.exceptAll(gotPairs).count() == 0)
      // outer rows: exactly the INSERTs with no UPDATE in the window,
      // each exactly ONCE with null right columns
      val unmatched = out.filter(col("r_id").isNull).persist()
      try {
        assert(unmatched.groupBy("l_id").count()
          .filter(col("count") > 1).count() == 0)
        assert(unmatched.filter(col("delta_us").isNotNull).count() == 0)
        val declUnmatched = ins.join(declPairs, Seq("l_id"), "left_anti")
          .select("l_id")
        assert(unmatched.select("l_id").exceptAll(declUnmatched).count() == 0 &&
          declUnmatched.exceptAll(unmatched.select("l_id")).count() == 0)
        // non-vacuous on BOTH sides of the tail-flush fix: outer rows
        // exist, and some sit in the final 48 h of the changelog (the
        // rows only the liveness flush can emit)
        assert(unmatched.count() > 0, "no unmatched insert - gate vacuous")
        val maxTs = log.agg(max("ts_us")).head().getLong(0)
        assert(unmatched.join(ins, "l_id")
          .filter(col("l_ts") > maxTs - tolUs).count() > 0,
          "no tail-horizon outer row - the liveness flush is unexercised")
        // liveness records never leak
        assert(out.filter(col("l_id") < 0 || col("r_id") < 0).count() == 0)
      } finally unmatched.unpersist()
      log.unpersist()
    } finally out.unpersist()
  }

  test("cdc27 lookup join: total enrichment, dim attributes exact per record") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("cdc27_lookup_join")(spark, sf)
      .persist()
    try {
      val log = graft.cdc.CdcQueries.changelog(spark, sf)
        .filter(col("op") =!= "HEARTBEAT")
      // the lookup is TOTAL: custkeys are dense 0..N-1 (precondition)
      // so every record enriches exactly once — nothing dropped,
      // nothing fanned out
      val dim = Tables.load(spark, sf, "customer")
      val nCust = dim.agg(max("c_custkey")).head().getLong(0) + 1
      assert(dim.count() == nCust, "dim keys not dense - precondition")
      assert(out.count() == log.count())
      assert(out.select("record_id").distinct().count() == out.count())
      // attribute exactness via a driver-side dim map
      val dimMap = dim
        .select("c_custkey", "c_mktsegment", "c_nationkey").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
      out.collect().foreach { r =>
        val ck = r.getAs[Long]("ck")
        assert(ck == java.lang.Math.floorMod(r.getAs[Long]("pk"), nCust))
        val (_, nation) = (dimMap(ck)._1, dimMap(ck)._2)
        assert(r.getAs[String]("segment") == dimMap(ck)._1, s"segment ck=$ck")
        assert(r.getAs[Int]("nation") == nation, s"nation ck=$ck")
      }
    } finally out.unpersist()
  }

  test("cdc28 window join: streamed set = per-window declarative join, tumble boundary real") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("cdc28_window_join")(spark, sf).persist()
    try {
      val dayUs = 86400L * 1000000
      val log = graft.cdc.CdcQueries.changelog(spark, sf)
        .filter(col("op") =!= "HEARTBEAT").persist()
      val ins = log.filter(col("op") === "INSERT")
        .select(col("record_id").as("l_id"), col("pk").as("l_pk"),
          col("ts_us").as("l_ts"))
      val upd = log.filter(col("op") === "UPDATE")
        .select(col("record_id").as("r_id"), col("pk").as("r_pk"),
          col("ts_us").as("r_ts"))
      // streamed multiset ≡ the declarative same-day-tumble join,
      // window bucket column included (window() aligns at the epoch,
      // so the integer-µs day bucket is the same boundary)
      val decl = ins.join(upd, col("l_pk") === col("r_pk") &&
          expr(s"l_ts div $dayUs") === expr(s"r_ts div $dayUs"))
        .select(col("l_id"), col("r_id"),
          expr(s"(l_ts div $dayUs) * $dayUs").as("win_us"))
      val got = out.select("l_id", "r_id", "win_us")
      assert(got.exceptAll(decl).count() == 0 &&
        decl.exceptAll(got).count() == 0)
      // non-vacuous: pairs exist, some (window, key) fans out past one
      // pair, and the tumble boundary EXCLUDES real same-key pairs
      // (there are cross-day insert/update pairs the join must drop)
      assert(out.count() > 0, "no window-join pair - gate vacuous")
      assert(out.groupBy("win_us", "key").count()
        .filter(col("count") > 1).count() > 0, "join never fanned out")
      val allPairs = ins.join(upd, col("l_pk") === col("r_pk")).count()
      assert(out.count() < allPairs,
        "window boundary never excluded a pair - tumble is vacuous")
      log.unpersist()
    } finally out.unpersist()
  }

  test("cdc25 evolution: merge-on-read NULL backfill, old snapshot keeps old schema") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("cdc25_evolved_snapshots")(spark, sf)
      .persist()
    try {
      val live = out.filter(col("leg") === "live")
      val asof = out.filter(col("leg") === "asof_v0")
      // live leg: v2 non-null iff the key's winning record is from
      // the post-ALTER era — both eras must be present (the cut is
      // mid-changelog) and v2 carries the declared derivation
      val cutUs = unix_micros(
        lit("2024-01-30 00:00:00").cast("timestamp"))
      val winners = graft.cdc.CdcQueries.changelog(spark, sf)
        .filter(col("op") =!= "HEARTBEAT")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("pk")
            .orderBy(col("ts_us").desc, col("record_id").desc)))
        .filter(col("rn") === 1 && col("op") =!= "DELETE")
        .select(col("pk"), (col("ts_us") >= cutUs).as("post"))
      val j = live.join(winners, "pk")
      assert(j.filter(col("post") =!= col("v2").isNotNull).count() == 0)
      assert(j.filter(col("post")).count() > 0)
      assert(j.filter(!col("post")).count() > 0)
      assert(live.filter(col("v2").isNotNull &&
        col("v2") =!= col("k").cast("long") * 2).count() == 0)
      // time-travel leg: schema is contemporaneous — v2 is never
      // populated, even for records that DID carry the field (batch
      // deal is id-based, so post-cut records land in batch 0 too)
      assert(asof.count() > 0)
      assert(asof.filter(col("v2").isNotNull).count() == 0)
      // the DROP COLUMN direction returns applyDdl to the v1 shape
      val v1 = graft.cdc.TypedSchema.TableSchema(
        "app", "users", Seq("pk"),
        Seq(graft.cdc.TypedSchema.RecordField("pk", "bigint")))
      val v2s = graft.cdc.TypedSchema.applyDdl(v1,
        "ALTER TABLE app.users ADD COLUMN v2 bigint")
      assert(graft.cdc.TypedSchema.applyDdl(v2s,
        "ALTER TABLE app.users DROP COLUMN v2") == v1)
    } finally out.unpersist()
  }

  test("cdc21 txn apply: no torn transactions, holds back the straddler's prefix") {
    val sf = "/root/testdata/sf0.001"
    val ckptUs = unix_micros(
      lit("2024-01-15 00:00:00").cast("timestamp"))
    val out = SparkEntry.queries("cdc21_txn_apply")(spark, sf)
      .localCheckpoint(true)
    // visibility invariant: every surviving row's transaction
    // committed at-or-before the checkpoint
    assert(out.filter(col("commit_us") > ckptUs).count() == 0)
    val d = CdcQueries.changelog(spark, sf)
      .filter(col("op") =!= "HEARTBEAT")
      .withColumn("txn", expr("record_id div 100"))
    val commits = d.groupBy("txn").agg(
      min(col("ts_us")).as("b"), max(col("ts_us")).as("c"))
    // the fixture has an in-flight transaction at the checkpoint and
    // its naive-visible prefix is non-empty — the semantics are
    // exercised, not vacuous
    val straddlers = commits.filter(col("b") <= ckptUs && col("c") > ckptUs)
    assert(straddlers.count() >= 1)
    val held = d.join(straddlers.select("txn"), "txn")
      .filter(col("ts_us") <= ckptUs)
    assert(held.count() >= 1, "straddler has no naive-visible prefix")
    // torn-read exclusion: no held-back record's id appears in the
    // output (the naive ts<=T apply would have materialized the ones
    // that are their key's latest record)
    assert(out.join(held.select("record_id"), "record_id").count() == 0)
  }

  test("routeWireRecords: good rows decode, corrupt rows quarantine, tombstones drop") {
    import spark.implicits._
    val recs = (0 until 20).map(i =>
      CdcFixtures.rec(i.toLong, 1000000L * (i + 1),
        if (i % 5 == 0) Op.Insert else Op.Update, s"k${i % 3}", s"v$i"))
    val wire = recs.map { r =>
      val b = graft.cdc.RecordCodec.encode(r)
      // ids 0,7,14: truncated payload; id 3: null tombstone
      (r.id, if (r.id % 7 == 0) b.take(4)
             else if (r.id == 3L) null
             else b)
    }.toDF("wire_id", "value")
    val routed = CdcStreaming.routeWireRecords(wire).localCheckpoint(true)
    // tombstone dropped silently (routine compaction, not an error)
    assert(routed.count() == 19)
    assert(routed.filter(col("wire_id") === 3L).count() == 0)
    // quarantine side: exactly the corrupted ids, with the error
    // class and payload length carried for forensics
    val quar = routed.filter(!col("ok"))
    assert(quar.select("wire_id").as[Long].collect().sorted
      .sameElements(Array(0L, 7L, 14L)))
    assert(quar.filter(col("err_class").isNull ||
      col("n_bytes") =!= 4L).count() == 0)
    assert(quar.filter(col("record_id").isNotNull).count() == 0)
    // good side: decoded identity matches what was encoded
    val good = routed.filter(col("ok"))
    assert(good.filter(col("record_id") =!= col("wire_id")).count() == 0)
    assert(good.filter(col("db") =!= "appdb" || col("tbl") =!= "users")
      .count() == 0)
    assert(good.filter(col("err_class").isNotNull).count() == 0)
  }

  test("cdc29 rollback apply: rolled txns contribute nothing, non-vacuously") {
    val sf = "/root/testdata/sf0.001"
    val ckptUs = unix_micros(lit("2024-01-15 00:00:00").cast("timestamp"))
    val out = SparkEntry.queries("cdc29_txn_rollback")(spark, sf)
      .localCheckpoint(true)
    val d = CdcQueries.changelog(spark, sf)
      .filter(col("op") =!= "HEARTBEAT")
      .withColumn("txn", expr("record_id div 100"))
    // the exclusion is non-vacuous: rolled txns (txn mod 7 = 3) that
    // COMMITTED before the checkpoint exist — cdc21's commit-time rule
    // alone would have applied them
    val rolled = d.filter(pmod(col("txn"), lit(7)) === 3)
    val rolledCommitted = rolled.groupBy("txn")
      .agg(max(col("ts_us")).as("c")).filter(col("c") <= ckptUs)
    assert(rolledCommitted.count() >= 1, "no committed rolled txn - vacuous")
    // no rolled txn's record ever surfaces
    assert(out.filter(pmod(col("txn"), lit(7)) === 3).count() == 0)
    // and the discard CHANGES the applied state vs the rollback-blind
    // rule: at least one key's winner differs
    val blind = SparkEntry.queries("cdc21_txn_apply")(spark, sf)
      .select(col("pk"), col("record_id").as("blind_id"))
    val j = out.select(col("pk"), col("record_id")).join(blind, "pk")
    assert(j.filter(col("record_id") =!= col("blind_id")).count() > 0 ||
      blind.count() != out.count(),
      "rollback exclusion changed nothing - fixture too weak")
  }

  test("txn apply: trans_seq order beats record-id order within a txn") {
    import spark.implicits._
    val ts = 1000000000L
    // one txn (id div 100 = 2 for both), same key, same timestamp:
    // the wire says statement transSeq=9 ran LAST even though its
    // record id is LOWER — a transport that re-ordered ids. A
    // record-id tiebreak would pick id 205; the wire order picks 201.
    val rows = Seq(
      (205L, "tx-2", ts, ts - 5L, "UPDATE", Map("pk" -> "7", "k" -> "111"), 1L),
      (201L, "tx-2", ts, ts - 5L, "UPDATE", Map("pk" -> "7", "k" -> "222"), 9L))
      .toDF("id", "transactionId", "tsUs", "bornUs", "op", "after", "transSeq")
      .withColumn("before", lit(null).cast("map<string,string>"))
    val out = CdcQueries.txnConsistentApply(rows, lit(ts + 1L)).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("record_id") == 201L,
      s"winner must follow trans_seq, got ${out(0)}")
    assert(out(0).getAs[Int]("k") == 222)
    // ABORT discards like ROLLBACK
    val aborted = rows.unionByName(
      Seq((299L, "tx-2", ts + 1L, ts, "ABORT",
        null.asInstanceOf[Map[String, String]], 99L))
        .toDF("id", "transactionId", "tsUs", "bornUs", "op", "after",
          "transSeq")
        .withColumn("before", lit(null).cast("map<string,string>")))
    assert(CdcQueries.txnConsistentApply(aborted, lit(ts + 2L)).count() == 0)
  }

  test("fkParents survive the DSv2 scan under nested column pruning") {
    val dir = TestDirs.tmp("gcl_fk")
    val fk = graft.cdc.FkParent(null, "app", "region",
      Seq("r_id"), Seq("region_id"))
    val recs = (0 until 8).map(i =>
      CdcFixtures.rec(i.toLong, 1000000L * (i + 1), Op.Insert, s"k$i", "v")
        .copy(fkParents = if (i % 2 == 0) Seq(fk) else null,
          transSeq = i.toLong))
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", recs)
    // selecting ONLY a nested field once mis-read parentTbl from the
    // parentSchema slot (Catalyst prunes the struct to one field; the
    // decoder emits full wire structs) — pin the re-widening fix
    val got = CdcStreaming.readBatch(spark, dir)
      .select(explode(col("fkParents")).as("fk"))
      .select(col("fk.parentTbl")).collect().map(_.getString(0))
    assert(got.length == 4 && got.forall(_ == "region"), got.toSeq.toString)
    val seqs = CdcStreaming.readBatch(spark, dir)
      .select(col("id"), col("transSeq")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until 8).forall(i => seqs(i.toLong) == i.toLong))
  }

  test("dotted db/table names resolve end-to-end (selector + catalog)") {
    val dir = TestDirs.tmp("gcl_dots")
    // an Oracle-style dotted database name and a dotted table name —
    // without escaping, the selector would split 'ora.pdb1.my.table'
    // at the wrong boundary (ref ObjectNameUtils contract)
    val recs = (0 until 6).map { i =>
      val (db, tbl) =
        if (i % 2 == 0) ("ora.pdb1", "my.table") else ("plain", "users")
      CdcFixtures.rec(i.toLong, 1000000L * (i + 1), Op.Insert, s"k$i", "v")
        .copy(db = db, tbl = tbl)
    }
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}", recs)
    val sel = graft.cdc.ObjectNames.compress(Seq("ora.pdb1", "my.table"))
    val picked = CdcStreaming.readBatch(spark, dir, table = Some(sel))
    assert(picked.count() == 3)
    assert(picked.select("db", "tbl").distinct().collect().toSeq
      .map(r => (r.getString(0), r.getString(1))) == Seq(("ora.pdb1", "my.table")))
    // the catalog surface discovers and loads the dotted identifiers
    spark.conf.set("spark.sql.catalog.cdcdots", "graft.sources.CdcCatalog")
    spark.conf.set("spark.sql.catalog.cdcdots.path", dir)
    // SHOW NAMESPACES renders a dotted identifier backquoted — the
    // quoting IS the proof the dot survived as part of ONE segment
    val nss = spark.sql("SHOW NAMESPACES IN cdcdots").collect()
      .map(_.getString(0)).sorted
    assert(nss.contains("`ora.pdb1`"), nss.toSeq.toString)
    val viaSql = spark.sql("SELECT * FROM cdcdots.`ora.pdb1`.`my.table`")
    assert(viaSql.count() == 3)
  }

  test("idle partition does not stall the global watermark (withIdleness contract)") {
    // the reference tracks PER-PARTITION watermarks with idle
    // detection (ref: DtsKafkaTopicPartitionStateWithWatermarkGenerator
    // .java) because Flink's global watermark is the MIN over
    // partitions — one idle partition stalls every window. Structured
    // Streaming's watermark is the global MAX of observed event time
    // minus the delay, so an idle table's windows still finalize as
    // long as ANY partition moves: the withIdleness contract holds by
    // construction. This pins it — db 'b' goes silent after its first
    // minute, db 'a' keeps producing; b's early window must EMIT in
    // append mode (= its state finalized past the watermark).
    val dir = TestDirs.tmp("gcl_idle")
    val minUs = 60L * 1000000L
    def r(id: Long, db: String, tsUs: Long) =
      ChangeRecord(id, s"tx-$id", tsUs, tsUs - 1000L, Op.Insert,
        db, "t", Seq("uid"), null, Map("uid" -> s"k$id"))
    // chunk 0: both dbs active in minute 0; chunks 1-2: only 'a',
    // advancing event time 20+ minutes
    CdcChunkFile.write(s"$dir/chunk-00000${CdcChunkFile.Extension}",
      (0 until 6).map(i => r(i.toLong, if (i % 2 == 0) "a" else "b",
        minUs / 2 + i.toLong * 1000000L)))
    CdcChunkFile.write(s"$dir/chunk-00001${CdcChunkFile.Extension}",
      (10 until 16).map(i => r(i.toLong, "a", 10L * minUs + i * 1000000L)))
    CdcChunkFile.write(s"$dir/chunk-00002${CdcChunkFile.Extension}",
      (20 until 26).map(i => r(i.toLong, "a", 20L * minUs + i * 1000000L)))
    val stream = CdcStreaming.readStream(spark, dir,
      maxChunksPerTrigger = Some(1))
    val counts = stream
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .withWatermark("ts", "1 minute")
      .groupBy(col("db"), window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(col("db"), col("window.start").cast("long").as("w"), col("n"))
    val q = counts.writeStream.format("memory").queryName("idle_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("idle_t").collect()
        .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
      // b's only window finalized although b was idle for 20+ minutes
      // of event time — a per-partition-min watermark would never
      // have closed it without idleness detection
      assert(got.contains(("b", 0L)), s"idle db's window never closed: $got")
      assert(got(("b", 0L)) == 3L)
      assert(got.contains(("a", 0L)) && got(("a", 0L)) == 3L)
      assert(got.exists(_._1._1 == "a"), got.toString)
    } finally q.stop()
  }

  test("cdc31 protocol markers: all eight codes survive the wire, " +
      "torn fetch quarantines non-vacuously") {
    val sf = "/root/testdata/sf0.001"
    // every marker code round-trips the codec individually
    import graft.cdc.{ChangeRecord, Op, RecordCodec}
    Seq(Op.Fill, Op.Finish, Op.Control, Op.Rdb, Op.Noop, Op.Init,
      Op.Eof, Op.ManualGenerated).foreach { op =>
      val rec = ChangeRecord(1L, "t", 2L, 3L, op, "db", "tbl",
        Seq("pk"), null, null, null, "MySQL", "5.7")
      val back = RecordCodec.decode(RecordCodec.encode(rec))
      assert(back.op == op, s"$op lost on the wire (got ${back.op})")
      assert(Op.isMarker(back.op))
    }
    // appended codes: v1-era codes below are untouched
    assert(Op.code(Op.Fill) == 11 && Op.code(Op.ManualGenerated) == 18)
    // COMMAND (round 15, ADVICE r14): last enum member, appended not
    // folded to UNKNOWN; a statement record, not a liveness marker
    assert(Op.code(Op.Command) == 19 && !Op.isMarker(Op.Command))
    assert(RecordCodec.decode(RecordCodec.encode(
      ChangeRecord(9L, "t", 2L, 3L, Op.Command, "db", "tbl",
        Seq("pk"), null, null))).op == Op.Command)
    val out = SparkEntry.queries("cdc31_protocol_markers")(spark, sf)
      .localCheckpoint(true)
    val rows = out.collect()
    val sessions = CdcQueries.changelog(spark, sf)
      .filter(col("op") =!= "HEARTBEAT")
      .select(expr("record_id div 50").as("s")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == sessions, "session coverage")
    rows.foreach { r =>
      val s = r.getLong(0)
      // keepalive kind cycles by session mod 4 — decoded counts agree
      assert(r.getAs[Long]("n_fill") == (if (s % 4 == 0) 1L else 0L))
      assert(r.getAs[Long]("n_noop") == (if (s % 4 == 1) 1L else 0L))
      assert(r.getAs[Long]("n_control") == (if (s % 4 == 2) 1L else 0L))
      assert(r.getAs[Long]("n_rdb") == (if (s % 4 == 3) 1L else 0L))
      assert(r.getAs[Long]("n_manual") == (if (s % 3 == 0) 1L else 0L))
      assert(r.getAs[Boolean]("has_init"))
      val closer = r.getAs[String]("closer")
      if (s % 5 == 2) assert(closer == "none")
      else assert(closer == (if (s % 2 == 0) "EOF" else "FINISH"))
      // the quarantine split is exact and two-sided
      val n = r.getAs[Long]("n_data")
      if (r.getAs[Boolean]("complete")) {
        assert(r.getAs[Long]("visible_n") == n &&
          r.getAs[Long]("quarantined_n") == 0L)
      } else {
        assert(r.getAs[Long]("visible_n") == 0L &&
          r.getAs[Long]("quarantined_n") == n)
      }
    }
    // non-vacuity: torn sessions exist AND quarantine real data
    assert(rows.exists(r => !r.getAs[Boolean]("complete") &&
      r.getAs[Long]("quarantined_n") > 0L),
      "no torn fetch with data - quarantine gate vacuous")
    assert(rows.exists(r => r.getAs[Boolean]("complete")))
    // every keepalive kind fired somewhere in the fixture
    Seq("n_fill", "n_noop", "n_control", "n_rdb", "n_manual").foreach { c =>
      assert(rows.exists(_.getAs[Long](c) > 0L), s"$c never fired")
    }
  }

  test("cdc32 streaming top-n: final ranks exact, displacement real " +
      "across triggers") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("cdc32_stream_topn")(spark, sf)
      .localCheckpoint(true)
    // driver-side truth: per-day counts over data ops, rank <= 3
    val DayUs = 86400L * 1000000L
    val data = CdcQueries.changelog(spark, sf)
      .filter(col("op") =!= "HEARTBEAT")
      .select("ts_us", "pk").collect()
      .map(r => (r.getLong(0) / DayUs * DayUs, r.getLong(1)))
    val counts = data.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val truth = counts.keys.map(_._1).toSet.toSeq.flatMap { w: Long =>
      counts.filter(_._1._1 == w).toSeq
        .map { case ((_, pk), n) => (pk, n) }
        .sortBy { case (pk, n) => (-n, pk) }.take(3).zipWithIndex
        .map { case ((pk, n), i) => (w, pk) -> (n, i.toLong + 1) }
    }.toMap
    val rows = out.collect()
    assert(rows.length == truth.size, s"${rows.length} vs ${truth.size}")
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val (n, rnk) = truth.getOrElse(key, fail(s"unexpected $key"))
      assert(r.getAs[Long]("n") == n, s"count $key")
      assert(r.getAs[Long]("rnk") == rnk, s"rank $key")
    }
    // displacement: the epoch trail must show some window whose top-3
    // MEMBERSHIP at the first populated trigger differs from the
    // final — the re-rank on later-arriving counts is load-bearing.
    // The query exposes its exact trail dir (ADVICE r14: a tmpdir
    // mtime glob could select another run's trail in a shared JVM).
    val trailDir = CdcQueries.cdc32Trails.get(sf)
    assert(trailDir != null, "no cdc32 epoch trail recorded")
    val trail = spark.read.parquet(trailDir)
      .select("epoch", "win_start_us", "pk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val epochs = trail.map(_._1).distinct.sorted
    // three one-chunk writes at admission cap 2: triggers [2,1]
    assert(epochs.length == 2, s"${epochs.length} populated triggers, not 2")
    def topSets(e: Long): Map[Long, Set[Long]] =
      trail.filter(_._1 == e).groupBy(_._2).view
        .mapValues(_.map(_._3).toSet).toMap
    val first = topSets(epochs.head)
    val last = topSets(epochs.last)
    val displaced = last.keys.count(w =>
      first.contains(w) && first(w) != last(w))
    assert(displaced > 0,
      "no window's top-3 changed across triggers - displacement vacuous")
  }

  test("cdc34 update-mode top-n: delta-scoped re-rank (touched ⊊ total), " +
      "straggler displacement, exact final ranks") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("cdc34_stream_topn_update")(spark, sf)
      .localCheckpoint(true)
    // truth: identical to cdc32's — the update-mode path must land the
    // exact complete-mode answer
    val DayUs = 86400L * 1000000L
    val data = CdcQueries.changelog(spark, sf)
      .filter(col("op") =!= "HEARTBEAT")
      .select("ts_us", "pk").collect()
      .map(r => (r.getLong(0) / DayUs * DayUs, r.getLong(1)))
    val counts = data.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val truth = counts.keys.map(_._1).toSet.toSeq.flatMap { w: Long =>
      counts.filter(_._1._1 == w).toSeq
        .map { case ((_, pk), n) => (pk, n) }
        .sortBy { case (pk, n) => (-n, pk) }.take(3).zipWithIndex
        .map { case ((pk, n), i) => (w, pk) -> (n, i.toLong + 1) }
    }.toMap
    val rows = out.collect()
    assert(rows.length == truth.size, s"${rows.length} vs ${truth.size}")
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val (n, rnk) = truth.getOrElse(key, fail(s"unexpected $key"))
      assert(r.getAs[Long]("n") == n, s"count $key")
      assert(r.getAs[Long]("rnk") == rnk, s"rank $key")
    }
    val trailDir = CdcQueries.cdc34Trails.get(sf)
    assert(trailDir != null, "no cdc34 trail recorded")
    val trail = spark.read.parquet(trailDir)
      .select("epoch", "win_start_us", "pk", "n_delta_wins").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val totalWins = truth.keys.map(_._1).toSet.size
    val byEpoch = trail.groupBy(_._1)
    // the load-bearing update-mode claim: a trigger's re-rank touches
    // exactly its delta's windows, and for the time-contiguous early
    // batches that is a STRICT subset of all windows
    byEpoch.foreach { case (e, rs) =>
      val touched = rs.map(_._2).distinct.length
      assert(touched == rs.head._4,
        s"epoch $e re-ranked $touched windows vs ${rs.head._4} in its delta")
    }
    assert(byEpoch.values.exists(rs => rs.map(_._2).distinct.length < totalWins),
      s"every trigger touched all $totalWins windows - delta scoping vacuous")
    // displacement through the delta path: the held-back straggler
    // slice (ids ≡ 0 mod 97, admitted last) must change some already-
    // ranked window's top-3 membership
    val epochs = byEpoch.keys.toSeq.sorted
    // four one-chunk writes (three time-thirds + the held-back slice)
    // at admission cap 2: triggers [2,2] — the straggler slice shares
    // the last trigger with the final third
    assert(epochs.length == 2, s"${epochs.length} populated triggers, not 2")
    def topSets(e: Long): Map[Long, Set[Long]] =
      trail.filter(_._1 == e).groupBy(_._2).view
        .mapValues(_.map(_._3).toSet).toMap
    val finalTop = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val displaced = epochs.init.flatMap { e =>
      topSets(e).collect { case (w, s) if finalTop.get(w).exists(_ != s) => w }
    }.distinct
    assert(displaced.nonEmpty,
      "no ranked window changed after its first ranking - stragglers vacuous")
    // --- retraction changelog (round 16, VERDICT r15 #7): replaying
    // the per-trigger (+I/-D) emissions must land EXACTLY the final
    // rank state — every displacement is one retract + one insert
    val retractDir = CdcQueries.cdc34Retracts.get(sf)
    assert(retractDir != null, "no cdc34 retract changelog recorded")
    val emissions = spark.read.parquet(retractDir)
      .select("epoch", "rank_op", "win_start_us", "pk", "n", "rnk")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    val state = scala.collection.mutable.Map.empty[
      (Long, Long, Long, Long), Int]
    emissions.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (e, ems) =>
      ems.filter(_._2 == "-D").foreach { case (_, _, row) =>
        val c = state.getOrElse(row, 0)
        assert(c > 0, s"epoch $e retracts $row which is not live")
        if (c == 1) state.remove(row) else state(row) = c - 1
      }
      ems.filter(_._2 == "+I").foreach { case (_, _, row) =>
        state(row) = state.getOrElse(row, 0) + 1
      }
    }
    assert(state.values.forall(_ == 1), "duplicate live rank rows")
    val replayed = state.keySet.toSet
    val finalRows = rows.map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Long]("n"), r.getAs[Long]("rnk"))).toSet
    assert(replayed == finalRows,
      s"retraction replay diverges: ${replayed.diff(finalRows).take(3)} vs " +
        s"${finalRows.diff(replayed).take(3)}")
    // non-vacuity: at least one PURE displacement (a pk leaving a
    // window's top-3 entirely, not just a count update on a survivor)
    val pureDisplace = emissions.filter(_._2 == "-D").exists {
      case (e, _, (w, pk, _, _)) =>
        !emissions.exists { case (e2, op2, (w2, pk2, _, _)) =>
          e2 == e && op2 == "+I" && w2 == w && pk2 == pk }
    }
    assert(pureDisplace, "no pure displacement in the retract changelog")
  }
}

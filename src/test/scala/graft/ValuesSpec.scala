package graft

import graft.cdc._
import org.scalatest.funsuite.AnyFunSuite

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

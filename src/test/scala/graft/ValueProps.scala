package graft

import graft.cdc.Values
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based fuzz of the value-type conversion layer (the
  * reference's value package re-expressed): roundtrips and algebraic
  * identities over the whole input domain, not just the example rows
  * ValuesSpec pins.
  */
object ValueProps extends Properties("Values") {

  // 500 cases/property: the r6 WKB srid-collision bug hid for rounds
  // behind rotating seeds at the default 100 (falsifying seed
  // K3TrjetB9x2-cRJzDG7bCWy280wjBIS8_cVvREF9EEO=, now pinned as a
  // deterministic ValuesSpec case). ScalaCheck prints the seed on failure.
  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(500)

  // WKB point: any finite double (plus ±0.0 and denormals) roundtrips
  // bit-exactly through the little-endian WKB encoding
  private val genDouble: Gen[Double] = Gen.oneOf(
    Gen.chooseNum(-1e308, 1e308),
    Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, Double.MinValue))

  property("wkb point roundtrip is bit-exact") =
    forAll(genDouble, genDouble) { (x, y) =>
      Values.parsePointWkb(Values.pointToWkb(x, y))
        .contains((x, y))
    }

  property("wkt point roundtrip survives the decimal detour") =
    forAll(genDouble, genDouble) { (x, y) =>
      // Double→String→Double is exact by JLS toString contract
      Values.parsePointWkt(Values.pointToWkt(x, y)).contains((x, y))
    }

  // datetime: epoch-µs → "yyyy-MM-dd HH:mm:ss.SSSSSS" → epoch-µs is
  // the identity across the whole four-digit-year range, negatives
  // (pre-1970) included
  private val genMicros: Gen[Long] = Gen.chooseNum(
    java.time.LocalDateTime.of(1, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L,
    java.time.LocalDateTime.of(9999, 12, 31, 23, 59, 59)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 999999L)

  property("datetime micros roundtrip, pre-epoch included") =
    forAll(genMicros) { us =>
      Values.dateTimeToMicros(Values.microsToDateTime(us)) == us
    }

  property("date-only strings parse as midnight") =
    forAll(Gen.chooseNum(1, 9999), Gen.chooseNum(1, 12)) { (y, m) =>
      val d = f"$y%04d-$m%02d-01"
      Values.dateTimeToMicros(d) == Values.dateTimeToMicros(s"$d 00:00:00")
    }

  // bit(n): the big-endian byte fold equals the BigInt interpretation
  property("bitToLong equals the BigInt big-endian value") =
    forAll(Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))) { bs =>
      val bytes = bs.toArray
      Values.bitToLong(bytes) == BigInt(1, bytes).longValue
    }

  property("unix timestamp arithmetic is exact") =
    forAll(Gen.chooseNum(-62135596800L, 253402300799L),
      Gen.chooseNum(0, 999999)) { (sec, us) =>
      val got = Values.unixTimestampToMicros(sec, us)
      got / 1000000L * 1000000L + got % 1000000L == got &&
        got == sec * 1000000L + us
    }

  // charsets: every alias resolves, and single-byte charsets decode
  // every byte to SOME char (no exceptions) — the property the
  // permissive record path relies on
  private val aliases = Seq("latin1", "utf8mb4", "gbk", "sjis", "koi8r",
    "cp1251", "greek", "hebrew", "tis620", "ascii", "binary", "euckr")

  property("known charset aliases decode arbitrary bytes without throwing") =
    forAll(Gen.oneOf(aliases),
      Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) { (cs, bs) =>
      Values.decodeString(bs.toArray, cs) != null
    }

  property("latin1 means windows-1252: 0x80 is the euro sign") =
    Prop(Values.decodeString(Array(0x80.toByte), "latin1") == "€")

  // ---------------------------------------------------- full WKB → WKT
  // geometry ADT + independent WKB encoder: every node carries its own
  // byte order (WKB allows mixing within one geometry)

  private case class Pt(x: Double, y: Double) {
    def wkt: String = s"$x $y"
  }
  private sealed trait Geom { def be: Boolean }
  private case class GPoint(be: Boolean, p: Pt) extends Geom
  private case class GLine(be: Boolean, pts: List[Pt]) extends Geom
  private case class GPoly(be: Boolean, rings: List[List[Pt]]) extends Geom
  private case class GMPoint(be: Boolean, ms: List[GPoint]) extends Geom
  private case class GMLine(be: Boolean, ms: List[GLine]) extends Geom
  private case class GMPoly(be: Boolean, ms: List[GPoly]) extends Geom
  private case class GColl(be: Boolean, ms: List[Geom]) extends Geom

  private final class W {
    private val out = new java.io.ByteArrayOutputStream
    def u8(v: Int): Unit = out.write(v)
    def i32(v: Int, be: Boolean): Unit = out.write(
      java.nio.ByteBuffer.allocate(4)
        .order(if (be) java.nio.ByteOrder.BIG_ENDIAN
               else java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(v).array())
    def f64(v: Double, be: Boolean): Unit = out.write(
      java.nio.ByteBuffer.allocate(8)
        .order(if (be) java.nio.ByteOrder.BIG_ENDIAN
               else java.nio.ByteOrder.LITTLE_ENDIAN)
        .putDouble(v).array())
    def bytes: Array[Byte] = out.toByteArray
  }

  private def typeCode(g: Geom): Int = g match {
    case _: GPoint => 1; case _: GLine => 2; case _: GPoly => 3
    case _: GMPoint => 4; case _: GMLine => 5; case _: GMPoly => 6
    case _: GColl => 7
  }

  /** `ewkbSrid` set on the top level writes the EWKB SRID flag + value. */
  private def encode(g: Geom, w: W, ewkbSrid: Option[Int] = None): Unit = {
    val be = g.be
    w.u8(if (be) 0 else 1)
    w.i32(typeCode(g) | ewkbSrid.map(_ => 0x20000000).getOrElse(0), be)
    ewkbSrid.foreach(w.i32(_, be))
    def pts(ps: List[Pt]): Unit = {
      w.i32(ps.length, be); ps.foreach(p => { w.f64(p.x, be); w.f64(p.y, be) })
    }
    g match {
      case GPoint(_, p) => w.f64(p.x, be); w.f64(p.y, be)
      case GLine(_, l) => pts(l)
      case GPoly(_, rs) => w.i32(rs.length, be); rs.foreach(pts)
      case GMPoint(_, ms) => w.i32(ms.length, be); ms.foreach(encode(_, w))
      case GMLine(_, ms) => w.i32(ms.length, be); ms.foreach(encode(_, w))
      case GMPoly(_, ms) => w.i32(ms.length, be); ms.foreach(encode(_, w))
      case GColl(_, ms) => w.i32(ms.length, be); ms.foreach(encode(_, w))
    }
  }

  private def body(g: Geom): String = g match {
    case GPoint(_, p) => s"(${p.wkt})"
    case GLine(_, l) =>
      if (l.isEmpty) "EMPTY" else l.map(_.wkt).mkString("(", ", ", ")")
    case GPoly(_, rs) =>
      if (rs.isEmpty) "EMPTY"
      else rs.map(r => if (r.isEmpty) "EMPTY"
        else r.map(_.wkt).mkString("(", ", ", ")")).mkString("(", ", ", ")")
    case GMPoint(_, ms) =>
      if (ms.isEmpty) "EMPTY" else ms.map(body).mkString("(", ", ", ")")
    case GMLine(_, ms) =>
      if (ms.isEmpty) "EMPTY" else ms.map(body).mkString("(", ", ", ")")
    case GMPoly(_, ms) =>
      if (ms.isEmpty) "EMPTY" else ms.map(body).mkString("(", ", ", ")")
    case GColl(_, ms) =>
      if (ms.isEmpty) "EMPTY" else ms.map(wkt).mkString("(", ", ", ")")
  }
  private def wkt(g: Geom): String = {
    val names = Map(1 -> "POINT", 2 -> "LINESTRING", 3 -> "POLYGON",
      4 -> "MULTIPOINT", 5 -> "MULTILINESTRING", 6 -> "MULTIPOLYGON",
      7 -> "GEOMETRYCOLLECTION")
    s"${names(typeCode(g))} ${body(g)}"
  }

  private val genBe: Gen[Boolean] = Gen.oneOf(true, false)
  private val genPt: Gen[Pt] =
    for (x <- genDouble; y <- genDouble) yield Pt(x, y)
  private def genPts(max: Int): Gen[List[Pt]] =
    Gen.choose(0, max).flatMap(Gen.listOfN(_, genPt))
  private val genPoint: Gen[GPoint] =
    for (be <- genBe; p <- genPt) yield GPoint(be, p)
  private val genLine: Gen[GLine] =
    for (be <- genBe; l <- genPts(4)) yield GLine(be, l)
  private val genPoly: Gen[GPoly] = for {
    be <- genBe
    rs <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, genPts(4)))
  } yield GPoly(be, rs)
  private def genMulti: Gen[Geom] = Gen.oneOf(
    for (be <- genBe; ms <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, genPoint)))
      yield GMPoint(be, ms),
    for (be <- genBe; ms <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, genLine)))
      yield GMLine(be, ms),
    for (be <- genBe; ms <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, genPoly)))
      yield GMPoly(be, ms))
  private val genGeom: Gen[Geom] = Gen.oneOf(
    genPoint, genLine, genPoly, genMulti,
    for {
      be <- genBe
      ms <- Gen.choose(0, 3).flatMap(Gen.listOfN(_,
        Gen.oneOf(genPoint, genLine, genPoly, genMulti)))
    } yield GColl(be, ms))

  property("wkb→wkt across all 7 type codes, mixed byte orders") =
    forAll(genGeom) { g =>
      val w = new W; encode(g, w)
      Values.wkbToWkt(w.bytes).contains(wkt(g))
    }

  // MySQL internal form = 4-byte LE SRID prefix before standard WKB.
  // Srid 0 (MySQL's default) and 1 make the prefix's first byte look
  // like a byte-order marker — full-consumption disambiguation in
  // wkbToWkt must still pick the SRID form, so the generator covers
  // the whole range INCLUDING the ambiguous low bytes
  private val genSrid: Gen[Int] =
    Gen.oneOf(Gen.const(0), Gen.const(1), Gen.choose(0, 1000000))

  property("mysql srid prefix is skipped for every geometry type") =
    forAll(genGeom, genSrid) { (g, srid) =>
      val w = new W
      w.i32(srid, be = false) // MySQL writes the prefix little-endian
      encode(g, w)
      Values.wkbToWkt(w.bytes).contains(wkt(g))
    }

  property("ewkb embedded-srid flag is skipped") =
    forAll(genGeom, genSrid) { (g, srid) =>
      val w = new W; encode(g, w, ewkbSrid = Some(srid))
      Values.wkbToWkt(w.bytes).contains(wkt(g))
    }

  property("wkbToWkt agrees with the point codec") =
    forAll(genDouble, genDouble) { (x, y) =>
      Values.wkbToWkt(Values.pointToWkb(x, y))
        .contains(s"POINT ($x $y)")
    }

  property("malformed wkb returns None, never throws") =
    forAll(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) { bs =>
      Values.wkbToWkt(bs.toArray); true
    }
}

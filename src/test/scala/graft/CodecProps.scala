package graft

import graft.cdc.{ChangeRecord, Op, RecordCodec}
import org.scalacheck.{Arbitrary, Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based fuzz of the binary record codec: whatever record
  * shape the generators produce — unicode keys, empty/null maps, null
  * columns, extreme timestamps, every op code — encode→decode must be
  * the identity, and the lazy header/prefix reads must agree with the
  * full decode without parsing the tail. The example-based CodecSpec
  * cases pin known shapes; this hunts the shapes nobody thought of.
  */
object CodecProps extends Properties("RecordCodec") {

  // 500 cases/property (default 100 let a seed-dependent WKB edge hide
  // for rounds in the sibling ValueProps suite)
  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(500)

  /** Valid-unicode strings only: arbitrary UTF-16 chars include
    * unpaired surrogates, which NO UTF-8 transport can carry (the JDK
    * substitutes U+FFFD) -- a property of Unicode, not a codec bug.
    * Codepoints span the BMP and astral planes and include NUL. */
  private val genStr: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(32)),
    Gen.const(""),
    Gen.const("na\u00efve-\u6771\u4eac-\ud83d\ude42"),
    Gen.listOfN(8,
      Gen.chooseNum(0, 0x10FFFF - 0x800).map { cp =>
        val c = if (cp >= 0xD800) cp + 0x800 else cp // skip surrogate block
        new String(Character.toChars(c))
      }).map(_.mkString))

  private val genCell: Gen[String] = Gen.oneOf(genStr, Gen.const(null: String))

  private val genImage: Gen[Map[String, String]] = Gen.oneOf(
    Gen.const(null: Map[String, String]),
    Gen.const(Map.empty[String, String]),
    Gen.mapOfN(4, Gen.zip(Gen.alphaNumStr.map("c" + _.take(8)), genCell)))

  val genRecord: Gen[ChangeRecord] = for {
    id <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    tx <- Gen.oneOf(genStr, Gen.const(null: String))
    ts <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    born <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    op <- Gen.oneOf(Op.all)
    db <- genStr
    tbl <- genStr
    pks <- Gen.oneOf(Gen.const(Seq.empty[String]),
      Gen.listOfN(3, Gen.alphaNumStr.map("p" + _.take(6))).map(_.toSeq))
    before <- genImage
    after <- genImage
    props <- genImage
    st <- Gen.oneOf(genStr, Gen.const(null: String))
    sv <- Gen.oneOf(genStr, Gen.const(null: String))
    uks <- Gen.oneOf(Gen.const(null: Seq[String]),
      Gen.const(Seq.empty[String]),
      Gen.listOfN(2, Gen.alphaNumStr.map("u" + _.take(6))).map(_.toSeq))
    seq <- Gen.chooseNum(-1L, Long.MaxValue)
    fks <- genFks
  } yield ChangeRecord(id, tx, ts, born, op, db, tbl, pks, before, after,
    props, st, sv, uks, seq, fks)

  /** fk constraints in CANONICAL pair order (sorted by parent column,
    * the reference's TreeMap) — what encode/decode round-trips as the
    * identity; the canonicalization property below covers unsorted
    * input separately. */
  private lazy val genFk: Gen[graft.cdc.FkParent] = for {
    ps <- Gen.oneOf(genStr, Gen.const(null: String))
    pd <- genStr
    pt <- genStr
    n <- Gen.chooseNum(0, 3)
    pcols <- Gen.listOfN(n, Gen.alphaNumStr.map("fp" + _.take(5)))
    ccols <- Gen.listOfN(n, Gen.alphaNumStr.map("fc" + _.take(5)))
  } yield {
    val pairs = pcols.zip(ccols).sortBy(_._1)
    graft.cdc.FkParent(ps, pd, pt, pairs.map(_._1), pairs.map(_._2))
  }

  private lazy val genFks: Gen[Seq[graft.cdc.FkParent]] = Gen.oneOf(
    Gen.const(null: Seq[graft.cdc.FkParent]),
    Gen.const(Seq.empty[graft.cdc.FkParent]),
    Gen.listOfN(2, genFk).map(_.toSeq))

  implicit private val arbRecord: Arbitrary[ChangeRecord] = Arbitrary(genRecord)

  property("encode-decode is the identity") = forAll { (r: ChangeRecord) =>
    RecordCodec.decode(RecordCodec.encode(r)) == r
  }

  property("lazy header fields match the full decode") = forAll {
    (r: ChangeRecord) =>
      val bytes = RecordCodec.encode(r)
      val full = RecordCodec.decode(bytes)
      Prop.all(
        Prop(RecordCodec.headerId(bytes) == full.id) :| "id",
        Prop(RecordCodec.headerTsUs(bytes) == full.tsUs) :| "tsUs",
        Prop(RecordCodec.headerBornUs(bytes) == full.bornUs) :| "bornUs",
        Prop(RecordCodec.headerOp(bytes) == full.op) :| "op")
  }

  property("prefix (db,tbl) read matches the full decode") = forAll {
    (r: ChangeRecord) =>
      val bytes = RecordCodec.encode(r)
      RecordCodec.headerTable(bytes) == ((r.db, r.tbl))
  }

  property("v1 encoding still decodes (extended fields null out)") = forAll {
    (r: ChangeRecord) =>
      val v1 = r.copy(props = null, sourceType = null, sourceVersion = null,
        ukNames = null, transSeq = -1L, fkParents = null)
      RecordCodec.decode(RecordCodec.encode(v1, 1.toByte)) == v1
  }

  property("v2 encoding still decodes (ukNames nulls out)") = forAll {
    (r: ChangeRecord) =>
      val v2 = r.copy(ukNames = null, transSeq = -1L, fkParents = null)
      RecordCodec.decode(RecordCodec.encode(v2, 2.toByte)) == v2
  }

  property("v3 encoding still decodes (transSeq/fkParents sentinel out)") =
    forAll { (r: ChangeRecord) =>
      val v3 = r.copy(transSeq = -1L, fkParents = null)
      RecordCodec.decode(RecordCodec.encode(v3, 3.toByte)) == v3
    }

  property("fk pair order canonicalizes to parent-column sort on the wire") =
    forAll(genRecord) { r =>
      val unsorted = graft.cdc.FkParent(null, "d", "t",
        Seq("zz", "aa", "mm"), Seq("c1", "c2", "c3"))
      val rr = r.copy(fkParents = Seq(unsorted))
      val got = RecordCodec.decode(RecordCodec.encode(rr)).fkParents.head
      got == graft.cdc.FkParent(null, "d", "t",
        Seq("aa", "mm", "zz"), Seq("c2", "c3", "c1"))
    }

  // ---- pruned decode (the column-pruning hot path) vs full decode ----

  private def plain(v: Any): Any = v match {
    case null => null
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case r: org.apache.spark.sql.catalyst.expressions.GenericInternalRow =>
      // fkParents entries: struct row back to the model case class
      graft.cdc.FkParent(
        plain(r.values(0)).asInstanceOf[String],
        plain(r.values(1)).asInstanceOf[String],
        plain(r.values(2)).asInstanceOf[String],
        plain(r.values(3)).asInstanceOf[Seq[String]],
        plain(r.values(4)).asInstanceOf[Seq[String]])
    case a: org.apache.spark.sql.catalyst.util.GenericArrayData =>
      // element type varies (strings, fk struct rows) — read the
      // backing array directly instead of a typed conversion
      a.array.map(plain).toSeq
    case a: org.apache.spark.sql.catalyst.util.ArrayData =>
      a.toObjectArray(org.apache.spark.sql.types.StringType)
        .map(plain).toSeq
    case m: org.apache.spark.sql.catalyst.util.MapData =>
      val ks = m.keyArray().toObjectArray(org.apache.spark.sql.types.StringType)
      val vs = m.valueArray().toObjectArray(org.apache.spark.sql.types.StringType)
      ks.map(plain).zip(vs.map(plain)).toMap
    case other => other
  }

  private def fieldOf(r: ChangeRecord, ord: Int): Any = ord match {
    case 0 => r.id
    case 1 => r.transactionId
    case 2 => r.tsUs
    case 3 => r.bornUs
    case 4 => r.op
    case 5 => r.db
    case 6 => r.tbl
    case 7 => r.pkNames
    case 8 => r.before
    case 9 => r.after
    case 10 => r.props
    case 11 => r.sourceType
    case 12 => r.sourceVersion
    case 13 => r.ukNames
    case 14 => r.transSeq
    case 15 => r.fkParents
  }

  private val genOrdinals: Gen[Array[Int]] =
    Gen.someOf(0 to 15).map(_.toArray.sorted)
      .suchThat(_.nonEmpty)

  property("pruned decode matches the full decode on every projected column") =
    forAll(genRecord, genOrdinals) { (r, ords) =>
      val bytes = RecordCodec.encode(r)
      val proj = new RecordCodec.RowProjection(ords)
      val row = RecordCodec.decodeProjected(bytes, proj)
      Prop.all(ords.zipWithIndex.map { case (ord, i) =>
        Prop(plain(row.values(i)) == fieldOf(r, ord)) :| s"ordinal $ord"
      }: _*)
    }

  property("pruned decode of v1 bytes nulls the extended ordinals") =
    forAll(genRecord) { r =>
      val v1 = r.copy(props = null, sourceType = null, sourceVersion = null,
        ukNames = null)
      val bytes = RecordCodec.encode(v1, 1.toByte)
      val proj = new RecordCodec.RowProjection(Array(10, 11, 12, 13))
      val row = RecordCodec.decodeProjected(bytes, proj)
      row.values.forall(_ == null)
    }

  property("pruned decode of v3 bytes: transSeq sentinel, fkParents null") =
    forAll(genRecord) { r =>
      val bytes = RecordCodec.encode(r.copy(transSeq = -1L, fkParents = null),
        3.toByte)
      val proj = new RecordCodec.RowProjection(Array(14, 15))
      val row = RecordCodec.decodeProjected(bytes, proj)
      row.values(0) == -1L && row.values(1) == null
    }
}

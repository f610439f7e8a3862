package graft

import graft.cdc.ChangeRecord
import graft.sources.CdcChunkFile
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based fuzz of the chunk segment format: for ANY record
  * list the generators produce, write→read must be the identity, the
  * footer's O(1) statistics must agree with the records, the sparse
  * split index must partition the record region exactly (every record
  * read once, in order, across ranges), and the v3 table directory
  * must equal the records' (db, tbl) set. No Spark session involved —
  * this is the raw transport layer under the DSv2 source.
  */
object ChunkProps extends Properties("CdcChunkFile") {

  // 500 cases/property (default 100 let a seed-dependent WKB edge hide
  // for rounds in the sibling ValueProps suite)
  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(500)

  private val tmp = TestDirs.tmp("graft_chunk_props")
  private val seq = new java.util.concurrent.atomic.AtomicInteger()

  private def writeTmp(recs: Seq[ChangeRecord]): String = {
    val p = s"$tmp/chunk-${seq.incrementAndGet()}${CdcChunkFile.Extension}"
    CdcChunkFile.write(p, recs)
    p
  }

  private val genRecs: Gen[List[ChangeRecord]] =
    Gen.choose(1, 24).flatMap(n => Gen.listOfN(n, CodecProps.genRecord))

  property("write then readRecords is the identity, in order") =
    forAll(genRecs) { recs =>
      CdcChunkFile.readRecords(writeTmp(recs)).toList == recs
    }

  property("footer stats are exact without touching the record region") =
    forAll(genRecs) { recs =>
      val f = CdcChunkFile.readFooter(writeTmp(recs))
      Prop.all(
        Prop(f.nRecords == recs.length) :| "nRecords",
        Prop(f.minTsUs == recs.map(_.tsUs).min) :| "minTs",
        Prop(f.maxTsUs == recs.map(_.tsUs).max) :| "maxTs",
        Prop(f.tables.contains(recs.map(r => (r.db, r.tbl)).toSet)) :| "dir")
    }

  property("split ranges partition the record region exactly") =
    forAll(genRecs) { recs =>
      val p = writeTmp(recs)
      val f = CdcChunkFile.readFooter(p)
      val viaSplits = f.splits.flatMap { case (s, e) =>
        CdcChunkFile.readRawRecordsRange(p, s, e)
          .map(graft.cdc.RecordCodec.decode).toList
      }
      viaSplits == recs
    }

  /** The multi-split path needs > SplitStride records — one memoized
    * large case instead of 100 slow generated ones. */
  property("a chunk beyond SplitStride records splits and still reads exactly") =
    Prop(ChunkProps.bigChunkOk)

  private lazy val bigChunkOk: Boolean = {
    val n = CdcChunkFile.SplitStride * 2 + 37
    val recs = (0 until n).map { i =>
      ChangeRecord(i.toLong, null, i.toLong * 7, 0L, cdc.Op.Insert,
        "db", s"t${i % 3}", Seq("k"), null, Map("k" -> i.toString))
    }
    val p = writeTmp(recs)
    val f = CdcChunkFile.readFooter(p)
    val viaSplits = f.splits.flatMap { case (s, e) =>
      CdcChunkFile.readRawRecordsRange(p, s, e)
        .map(graft.cdc.RecordCodec.decode).toList
    }
    f.splits.length >= 3 && viaSplits == recs &&
      f.nRecords == n && f.tables.contains(Set(("db", "t0"), ("db", "t1"), ("db", "t2")))
  }

  // ---- scan packing (Spark's file-packing rule over chunk ranges) ----

  /** Ranges as the scan plans them: chunks in name order, each cut
    * into 1..4 contiguous splits of random byte lengths (up to ~6 MB,
    * so both sides of the 4 MB default open cost occur). */
  private val genRanges: Gen[Seq[graft.sources.ChunkRange]] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n,
      Gen.choose(1, 4).flatMap(k => Gen.listOfN(k,
        Gen.frequency(3 -> Gen.choose(0L, 64L << 10), 1 -> Gen.choose(0L, 6L << 20))))))
      .map(_.zipWithIndex.flatMap { case (lens, c) =>
        val ends = lens.scanLeft(0L)(_ + _)
        ends.zip(ends.tail).map { case (s, e) =>
          graft.sources.ChunkRange(f"chunk-$c%05d", s, e)
        }
      })

  private val genPacking: Gen[graft.sources.ScanPacking] = for {
    maxBytes <- Gen.oneOf(128L << 20, 8L << 20, 1L << 20, 1L)
    open <- Gen.oneOf(4L << 20, 64L << 10, 0L)
    minParts <- Gen.choose(1, 8)
  } yield graft.sources.ScanPacking(maxBytes, open, minParts)

  property("packed partitions cover every range once, in order, " +
      "and stay within maxSplitBytes unless they hold one range") =
    forAll(genRanges, genPacking) { (ranges, packing) =>
      val parts = packing.pack(ranges)
      val limit = packing.maxSplitBytes(ranges)
      // Spark's size of a partition: its lengths plus an open cost for
      // every range but the last
      def size(p: Seq[graft.sources.ChunkRange]) =
        p.map(_.length).sum + packing.openCostInBytes * (p.length - 1)
      Prop.all(
        Prop(parts.flatten == ranges) :| "cover, in order",
        Prop(parts.forall(_.nonEmpty)) :| "no empty partition",
        Prop(parts.forall(p => p.length == 1 || size(p) <= limit)) :| "within limit",
        // next fit: a partition closed only because the next range
        // would not fit
        Prop(parts.zip(parts.drop(1)).forall { case (a, b) =>
          size(a) + packing.openCostInBytes + b.head.length > limit
        }) :| "next fit")
    }

  // ---- multi-part object names (ref ObjectNameUtils contract) ----

  /** Segments that stress the escape: dots anywhere (leading,
    * trailing, doubled), brackets, unicode, empties. */
  private val genSegment: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.const("a.b"), Gen.const(".lead"), Gen.const("trail."),
    Gen.const("do..uble"), Gen.const("br[ack]et"),
    Gen.const("東京.db"),
    Gen.listOfN(6, Gen.oneOf(Gen.alphaChar, Gen.const('.'))).map(_.mkString))

  property("object-name compress/uncompress round-trips dotted segments") =
    forAll(Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, genSegment))) { segs =>
      val nonEmpty = segs.map(s => if (s.isEmpty) "x" else s)
      graft.cdc.ObjectNames.uncompress(
        graft.cdc.ObjectNames.compress(nonEmpty)).toSeq == nonEmpty
    }

  property("table selector recovers (db, tbl) whatever the names hold") =
    forAll(genSegment, genSegment) { (db0, tbl0) =>
      val db = if (db0.isEmpty) "d" else db0
      val tbl = if (tbl0.isEmpty) "t" else tbl0
      val sel = graft.cdc.ObjectNames.compress(Seq(db, tbl))
      graft.sources.CdcSource.parseTableSelector(sel) == ((db, tbl))
    }

  property("a dotted table name never collides with an undotted pair") =
    forAll(Gen.alphaNumStr.map("d" + _.take(6)),
      Gen.alphaNumStr.map("t" + _.take(6))) { (d, t) =>
      // ("a", "b.c") and ("a.b", "c") style pairs must compress apart
      val c1 = graft.cdc.ObjectNames.compress(Seq(d, s"$t.x"))
      val c2 = graft.cdc.ObjectNames.compress(Seq(s"$d.$t", "x"))
      c1 != c2
    }
}

package graft

import graft.cdc._
import org.scalatest.funsuite.AnyFunSuite

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

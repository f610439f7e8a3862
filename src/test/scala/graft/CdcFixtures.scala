package graft

import graft.cdc._
import graft.sources.CdcChunkFile

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

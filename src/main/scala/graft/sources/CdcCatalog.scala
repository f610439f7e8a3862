package graft.sources

import graft.cdc.RecordCodec
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** Multi-table catalog over one subscription transport: every
  * `(db, tbl)` carried by the chunk dir becomes a queryable table in
  * a catalog namespace — the engine's answer to the reference's
  * per-table factory surface (ref: DTSSubscribeTableSourceFactory
  * .java: one DTS subscription, table selected by `table.name`),
  * but integrated where a Spark user expects it:
  *
  * {{{
  *   SET spark.sql.catalog.cdc      = graft.sources.CdcCatalog
  *   SET spark.sql.catalog.cdc.path = /data/cdc/orders-topic
  *   SHOW NAMESPACES IN cdc;              -- dbs on the wire
  *   SHOW TABLES IN cdc.appdb;            -- tables of one db
  *   SELECT * FROM cdc.appdb.users;       -- per-table scan: the
  *                                        -- `table` header predicate
  * }}}
  *
  * Discovery is O(chunks): v3 footers carry each chunk's distinct
  * (db, tbl) directory, so listing namespaces/tables reads footers
  * only — records are never touched. Pre-v3 chunks fall back to the
  * per-record (db, tbl) PREFIX read (the lazy header play; tails are
  * never parsed). Results cache per chunk-listing state, so repeated
  * catalog calls cost one directory listing. Each loaded table is an
  * ordinary [[CdcTable]] whose [[HeaderFilters]] hold `db = ns AND
  * tbl = name` (and the catalog's `startingTimestampUs`, if set), the
  * same header predicates the `table` option gives, intersected with
  * whatever a query pushes: v3 chunks that never mention the table are
  * pruned WHOLE (and left out of the planner statistics), and
  * surviving chunks drop non-matching records on the prefix read.
  * The catalog is read-only: the write path goes through the
  * `graft-cdc` sink, mirroring the reference (a subscription is not a
  * place you CREATE tables).
  */
class CdcCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var path: String = _
  private var from: HeaderFilters = _
  private var permissive: Boolean = false

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    path = CdcSource.normalizePath(options.get("path"))
    require(path != null,
      s"catalog '$name' requires spark.sql.catalog.$name.path")
    from = HeaderFilters.startingAt(options.get("startingTimestampUs"))
    permissive = CdcSource.parseMode(options.get("mode"))
  }

  override def name(): String = catalogName

  // (chunk listing, discovered tables) — revalidated by listing equality
  @volatile private var cache: (Seq[String], Set[(String, String)]) = _

  private def discovered(): Set[(String, String)] = {
    val chunks = CdcChunkFile.listChunks(path)
    val c = cache
    if (c != null && c._1 == chunks) c._2
    else {
      // v3 footers carry the chunk's (db,tbl) set → discovery is
      // O(chunks); pre-v3 chunks fall back to the prefix read
      val found = chunks.iterator.flatMap { ch =>
        CdcChunkFile.readFooter(ch).tables.getOrElse(
          CdcChunkFile.readRawRecords(ch).map(RecordCodec.headerTable).toSet)
      }.toSet
      cache = (chunks, found)
      found
    }
  }

  // ------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    discovered().map(_._1).toSeq.sorted.map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && discovered().exists(_._1 == namespace(0))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-cdc catalog is read-only (namespaces come from the wire)")

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft-cdc catalog is read-only")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("graft-cdc catalog is read-only")

  // ----------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    discovered().filter(_._1 == namespace(0)).toSeq.sorted
      .map { case (db, tbl) => Identifier.of(Array(db), tbl) }.toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().length == 1 &&
      discovered().contains((ident.namespace()(0), ident.name()))

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new CdcTable(path, None,
      from.copy(db = Some(ident.namespace()(0)), tbl = Some(ident.name())), permissive)
  }

  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "graft-cdc catalog is read-only (a subscription is not writable DDL)")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft-cdc catalog is read-only")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graft-cdc catalog is read-only")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft-cdc catalog is read-only")
}

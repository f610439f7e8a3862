package graft

import graft.fs.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Canonical session factory (SURVEY §3): every entry point — Bench,
  * Verify, Probe, ScaleProbe, user code — gets the same posture:
  *
  *   - shuffle partitions = cores (local[N] stands in for N executor
  *     slots; 200 default partitions would just fragment tiny files)
  *   - AQE on with partition coalescing and skew-join handling — the
  *     runtime re-plan a 100 TB job leans on for stragglers
  *   - UTC session timezone (oracle parity: DuckDB timestamps are
  *     naive UTC)
  *   - [[GraftExtensions]] installed: native cdc_header_* / vec_dot
  *     SQL functions, the RewriteZipWithDot optimizer rule, and the
  *     top-k planner strategy are part of the engine, not opt-in
  *   - local FS without forks: `file:` paths go through
  *     [[graft.fs.ForkFreeLocalFileSystem]] / [[graft.fs.ForkFreeLocalFs]],
  *     which set permissions and read link status in-process instead
  *     of running `chmod` / `readlink` per state, checkpoint and sink
  *     file (same bits, same `.crc` checksums); set on the
  *     SparkContext, so every child session inherits them
  *
  * A key already set in `SparkConf` (a `-Dspark.*` java option) wins
  * over the posture's value, so a conf experiment on any of these keys
  * reaches the outer session and every child session.
  */
object GraftSession {

  /** The two confs that route `file:` paths through [[graft.fs]]: the
    * `FileSystem` (sinks, parquet, committers) and the
    * `AbstractFileSystem` (`FileContext`: checkpoints, state store). */
  val localFs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** The posture's confs for `cores`, minus every key `preset`
    * already sets. */
  def posture(preset: SparkConf, cores: Int, appName: String): Seq[(String, String)] =
    (Seq(
      "spark.master" -> s"local[$cores]",
      "spark.app.name" -> appName,
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false") ++ localFs)
      .filterNot { case (k, _) => preset.contains(k) }

  def build(cores: Int, appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
    posture(new SparkConf(), cores, appName).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cores from SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def fromEnv(appName: String = "graft"): SparkSession =
    build(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors), appName)

  /** Free every pinned cached/localCheckpoint block between queries.
    * Iterative queries eagerly localCheckpoint per round; those blocks
    * are NON-EVICTABLE until the ContextCleaner notices the RDD got
    * GC'd — which in a quiet heap may be never. Left to accumulate,
    * they starve every later query's execution memory (the BENCH_r03
    * cliff: dd06 80 s, tx* ~30×). Queries never share cached state
    * across calls, so sweeping is semantics-free. Swallows its own
    * failures: a sweep on a dying/stopped context must never mask the
    * real error or abort a harness loop mid-run. */
  def sweep(spark: SparkSession): Unit =
    try {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    } catch { case _: Throwable => () }
}

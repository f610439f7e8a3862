package graft

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
  */
object GraftSession {

  def build(cores: Int, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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

package graft.streaming

import graft.{Fs, Scratch, StreamStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** The harness every oracle-gated streaming and sink gate runs
  * (`CdcQueries`, `Ingest`): fixture → chunk dir → child session →
  * stream → read-back — the Structured Streaming micro-batch model
  * driven to completion over a bounded input. One plain function per
  * step; a gate composes them and keeps only its own semantics:
  *
  *  1. [[fixture]] materializes the gate's input once, [[free]]
  *     releases it after the last batch write;
  *  2. [[ring]] hands out the gate's two-slot scratch dir;
  *  3. [[writeBatches]] publishes ordered batches of wire records into
  *     a chunk dir and asserts the chunks each write published — the
  *     layout the gate's admission cap and trigger comment rely on;
  *  4. [[gateSession]] is the child session the stream runs in;
  *  5. [[runToEnd]] drains started queries (telemetry, stop), and
  *     [[runToParquetAndRead]] adds the file sink + read-back on the
  *     OUTER session.
  */
object StreamGate {

  // ------------------------------------------------------------ fixture
  /** Eagerly materialize a fixture frame (optimization round 17, guide
    * §1.2 step 1: don't recompute what the job already computed): every
    * streaming gate derives its wire fixture from the events scan +
    * JSON projection and then runs 3-5 SEPARATE actions over it (a
    * bounds/count aggregate plus one chunk-encode write per batch) —
    * measured via `graft.Probe jobs`, each action re-paid the full scan+parse
    * as a single-task job (~0.5-1.2 s each at sf0.1 on a 4-core box).
    * localCheckpoint(eager) pays the scan ONCE; the batch writes then
    * read cached blocks. Chunk BYTES are unchanged: localCheckpoint
    * preserves partition layout and row order, so the batch deals see
    * identical input and the ordered-arrival contract is untouched.
    * Callers free the pinned blocks with [[free]] right after the last
    * fixture action — before the streaming section runs — so nothing
    * stays non-evictable. */
  def fixture(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Release [[fixture]]'s pinned blocks (the Similarity
    * freeCheckpoint recipe: localCheckpoint blocks are non-evictable
    * until explicitly unpersisted). */
  def free(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  // --------------------------------------------------------------- ring
  private val calls =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()

  /** The gate's scratch dir for this call: one of TWO alternating
    * slots per (gate tag, input dir) under [[Scratch.root]], wiped
    * before reuse. Bounded per-input dirs, NOT a fresh temp dir per
    * call: bench/verify/specs invoke queries repeatedly, and a new tree
    * per invocation grows scratch without bound. Each call rebuilds
    * from scratch (so a timed run measures the real write path, not an
    * idempotent-replay short-circuit). The counter is per (tag, dir): a
    * single global one would let two interleaved calls for different
    * input dirs land consecutive same-dir calls on the same slot and
    * delete files the previous call's returned frame still reads.
    * Companion dirs a gate derives from the slot (`_out`, `_ck`,
    * `_tbl`, …) share its lifetime.
    *
    * CONTRACT (ADVICE r4): the ring protects exactly ONE prior
    * invocation per (tag, dir) — the Nth call deletes the tree backing
    * the (N-2)th call's still-lazy frame, and the harnesses honor that
    * (DeterminismSpec holds at most two frames; Bench/Verify consume
    * each frame before the next call). A caller that must hold >2
    * results materializes them first (localCheckpoint/collect). */
  def ring(tag: String, dir: String): String = {
    val slot = calls
      .computeIfAbsent(tag + "|" + dir,
        _ => new java.util.concurrent.atomic.AtomicLong())
      .getAndIncrement() % 2
    val p = java.nio.file.Paths.get(Scratch.root,
      s"graft_${tag}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_$slot")
    Fs.deleteRecursively(p)
    p.toString
  }

  // -------------------------------------------------------------- write
  /** Per-segment row target for the parallel batch encode (round 13,
    * VERDICT r12 #5): every streaming gate's 16× ScaleProbe sweep was
    * dominated by single-task encodes of 1.5M+ records per batch (cdc12
    * 92 s / cdc24 84.5 s at 16× — adjudicated harness floor, not
    * operator cost). */
  private val SegTargetRows = 262144L

  /** Chunk segments [[writeBatch]] deals a batch of `approxRows` into. */
  private def segments(approxRows: Long): Int =
    math.max(1L, (approxRows + SegTargetRows - 1) / SegTargetRows).toInt

  /** Writes one time-contiguous batch of wire records (the `graft-cdc`
    * transport schema, in order) into `chunkDir` as
    * [[segments]]`(approxRows)` chunk segments encoded by that many
    * TASKS, and returns the number of chunks it published. The deal
    * preserves the ordered-arrival contract: the range deal on
    * (tsUs, id) puts earlier event times in lower partition ids, and
    * the write path names all of one job's segments with a shared
    * job-level time prefix + the partition id (CdcWrite's round-13
    * note), so the name-ordered admission replays them in event-time
    * order — a key's later record can never precede its earlier one —
    * and sequential writes into one dir arrive in write order. At every
    * repo SF (events ≤ 100k rows) a batch is ONE segment, so each write
    * publishes one chunk and an admission cap counts writes.
    * `approxRows` may over-estimate ([[graft.sources.CdcWrite]] writes
    * nothing for an empty partition). */
  private def writeBatch(df: DataFrame, chunkDir: String,
      approxRows: Long): Int = {
    val nSeg = segments(approxRows)
    val dealt =
      if (nSeg == 1) df.coalesce(1)
      else df.repartitionByRange(nSeg, col("tsUs"), col("id"))
    val before = graft.sources.CdcChunkFile.listChunks(chunkDir).size
    dealt.write.format("graft-cdc").mode("append")
      .option("path", chunkDir).save()
    graft.sources.CdcChunkFile.listChunks(chunkDir).size - before
  }

  /** [[writeBatch]] for each batch in order, requiring each to publish
    * exactly its [[segments]] — the chunk layout a gate's admission
    * cap and trigger comment rely on (one chunk per write at every repo
    * SF). */
  def writeBatches(chunkDir: String, approxRows: Long,
      batches: DataFrame*): Unit = {
    val got = batches.map(writeBatch(_, chunkDir, approxRows))
    val want = Seq.fill(batches.size)(segments(approxRows))
    require(got == want, s"$chunkDir: batch writes published chunks " +
      s"${got.mkString("[", ",", "]")}, the gate's trigger layout " +
      s"assumes ${want.mkString("[", ",", "]")}")
  }

  // ------------------------------------------------------------ session
  /** The THROWAWAY child session a gate's streams run in (same
    * SparkContext, own conf/sessionState), so its overrides are
    * invisible to a concurrently running query — an outer-session
    * set/restore would leak into it (ADVICE r9):
    *
    *  - 8 shuffle partitions: every stateful operator spawns
    *    shuffle-partitions state tasks per micro-batch, and at gate
    *    volume 32 of them are pure scheduler overhead (a real
    *    deployment sizes this to its key volume);
    *  - no-data micro-batches OFF: liveness here is IN-BAND (heartbeat
    *    records advance the watermark — the reference's model), and
    *    Spark's extra no-data micro-batch per quiesce is a pure
    *    planning+state-commit cycle for these bounded streams
    *    (optimization r17, measured ~20-40% of gate wall at sf0.1).
    *
    * Only the streaming section runs here. Read-backs are built on the
    * OUTER session (ADVICE r10): a frame bound to the child would run
    * its shuffles at the child's 8 partitions wherever it is consumed.
    * A `spark.conf.set` on the outer session does not reach the child
    * (`newSession` starts from the SparkContext conf); `-Dspark.*` JVM
    * properties do. */
  def gateSession(outer: SparkSession): SparkSession = {
    val child = outer.newSession()
    child.conf.set("spark.sql.shuffle.partitions", "8")
    child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    child
  }

  // ---------------------------------------------------------------- run
  /** Drive started queries over their bounded input to completion:
    * process everything available, fold each query's progress into
    * [[StreamStats]], stop them all (also when one fails). */
  def runToEnd(qs: StreamingQuery*): Unit =
    try qs.foreach(_.processAllAvailable())
    finally qs.foreach { q => StreamStats.record(q.recentProgress); q.stop() }

  /** Start `frame` into a parquet FILE sink at `outDir` (checkpoint at
    * `outDir_ck`; both wiped first). Append-mode topologies write
    * straight to the file sink; complete-mode aggregates write each
    * trigger's full snapshot through `foreachBatch` overwrite — the
    * storage analogue of a complete-mode sink (a real deployment lands
    * the snapshot in a table store; the result is the final
    * trigger's). No `format("memory")` whose row count scales with the
    * corpus anywhere in a query path (VERDICT r10 #1). */
  def startParquet(frame: DataFrame, outDir: String,
      complete: Boolean): StreamingQuery = {
    Fs.deleteRecursively(java.nio.file.Paths.get(outDir))
    Fs.deleteRecursively(java.nio.file.Paths.get(outDir + "_ck"))
    if (complete)
      frame.writeStream.outputMode("complete")
        .option("checkpointLocation", outDir + "_ck")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(outDir)
        }
        .start()
    else
      frame.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", outDir + "_ck")
        .start()
  }

  /** [[startParquet]] + [[runToEnd]], then read the result back on the
    * OUTER session with an explicit schema (a zero-row stream leaves
    * nothing to infer from). */
  def runToParquetAndRead(outer: SparkSession, frame: DataFrame,
      outDir: String, complete: Boolean, schema: StructType): DataFrame = {
    runToEnd(startParquet(frame, outDir, complete))
    outer.read.schema(schema).parquet(outDir)
  }

  /** Read-back schema from (name, type) pairs. */
  def outSchema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })
}

package cdcbench

import graft.GraftSession
import graft.cdc.{AvroWire, ChangeRecord, ObjectNames, Op, RecordCodec}
import graft.sinks.CdcParquetSink
import graft.sources.{CdcChunkFile, CdcSource}
import graft.streaming.CdcStreaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** A chunk directory and the generator that filled it. `writeMs` holds
  * each chunk's CdcChunkFile.write + rename time. */
final case class Transport(dir: Path, gen: Gen, writeMs: Seq[Double])

/** One pipeline query: its executed triggers, when it started, its wall
  * time to drain, and what the checks found. */
final case class PipeRun(triggers: Seq[Trigger], startMs: Double, wallMs: Double,
    records: Long, tableDir: Path, sink: Map[String, Double], ok: Boolean)

/** One batch query: due → done, its check, and its scan's DSv2 metrics. */
final case class QueryRun(dueMs: Double, startMs: Double, endMs: Double,
    ok: Boolean, scan: Map[String, Long])

/** The workloads, their measurement and their checks. */
final class Bench(o: Main.Opts, root: Path, jvmStartS: Double) {
  import Bench._

  private val cores = Runtime.getRuntime.availableProcessors
  private var spark: SparkSession = _
  private val progress = new ProgressLog
  private val spans = new Spans
  private val jobLog = new JobLog
  private var dirSeq = 0
  private var attempted = 0L
  private var failed = 0L
  private var tableChecksOk = true
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  // traced-phase bookkeeping: the workload's main traced window
  private var mainWindow: (Double, Double) = (0.0, 0.0)
  private var gcAtTrace = 0L
  private val drainTriggers = mutable.ArrayBuffer.empty[Seq[Trigger]]
  private val note = (s: String) => System.err.println(s"[cdcbench] $s")

  // ------------------------------------------------------------ plumbing

  private def fresh(tag: String): Path = {
    dirSeq += 1
    Files.createDirectories(root.resolve(f"$dirSeq%03d-$tag"))
  }

  private def session(n: Int): SparkSession = {
    // stop() drains the listener bus, so every event of the old
    // context is in before the generation moves on
    if (spark != null) spark.stop()
    jobLog.generation += 1
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = GraftSession.build(n, "cdcbench")
    spark.streams.addListener(progress)
    if (spans.enabled) spark.sparkContext.addSparkListener(jobLog)
    spark
  }

  /** Turn tracing on for the rest of the run: spans, the job listener
    * and the JVM counters all start here. */
  private def startTracing(): Unit = {
    spans.enabled = true
    spark.sparkContext.addSparkListener(jobLog)
    gcAtTrace = Jvm.gcMs
    Jvm.resetPeaks()
  }

  private def op(ok: Boolean, n: Long = 1L): Unit = {
    attempted += n
    if (!ok) failed += n
  }

  /** Land one chunk the way the CdcWrite layout does: write a dot-temp
    * file, then rename it to a monotone zero-padded name. Returns the
    * write + rename time in ms. */
  private def landChunk(dir: Path, seq: Int, recs: Array[ChangeRecord]): Double = {
    val t0 = Clock.nowMs
    val name = f"chunk-$seq%013d-p00000${CdcChunkFile.Extension}"
    val tmp = dir.resolve(s".$name.tmp")
    CdcChunkFile.write(tmp.toString, recs.toSeq)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    val t1 = Clock.nowMs
    spans.add(-1, "chunk.write", "sources", t0, t1)
    t1 - t0
  }

  /** A fresh transport of `n` generated chunks. */
  private def land(tag: String, seed: Long, recordsPerChunk: Int, n: Int): Transport = {
    val dir = fresh(tag)
    val gen = new Gen(seed, recordsPerChunk)
    val ms = (0 until n).map(k => landChunk(dir, k, gen.nextChunk()))
    Transport(dir, gen, ms)
  }

  /** Chunk transport → graft-cdc micro-batch stream → redelivery dedup →
    * CdcParquetSink table, with the default trigger. */
  private def startPipeline(chunks: Path, work: Path, cap: Option[Int]): StreamingQuery = {
    val src = CdcStreaming.readStream(spark, chunks.toString, maxChunksPerTrigger = cap)
    CdcParquetSink.start(CdcStreaming.dedupRedelivered(src),
      work.resolve("table").toString, work.resolve("ckpt").toString)
  }

  /** For each chunk (landing order), the index of the trigger that
    * published it, from cumulative numInputRows. */
  private def publishingTrigger(sizes: Seq[Int], ts: Seq[Trigger]): Array[Int] = {
    val cum = ts.map(_.rows).scanLeft(0L)(_ + _).tail.toArray
    var j = 0
    var acc = 0L
    sizes.map { n =>
      acc += n
      while (j < cum.length && cum(j) < acc) j += 1
      require(j < cum.length, s"chunk ending at record $acc was never published")
      j
    }.toArray
  }

  /** Dedup dropped exactly the redelivered copies, nothing was dropped
    * as late, and every record of the transport was read. */
  private def streamOk(ts: Seq[Trigger], records: Long, redelivered: Long): Boolean = {
    val rows = ts.map(_.rows).sum
    val dups = ts.map(_.dupsDropped).sum
    val late = ts.map(_.lateDropped).sum
    val ok = rows == records && dups == redelivered && late == 0
    if (!ok) note(s"stream check failed: rows $rows/$records, " +
      s"dups $dups/$redelivered, late $late")
    ok
  }

  private def checkTable(tableDir: Path, gen: Gen): Boolean = {
    val s = spark
    import s.implicits._
    val expected = gen.expectedTable
    val got = CdcParquetSink.readTable(spark, tableDir.toString) match {
      case None => (0L, 0L)
      case Some(df) =>
        df.select("key", "after").as[(String, Map[String, String])].rdd
          .map { case (k, a) => (1L, Gen.rowHash(k, a)) }
          .fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    }
    val ok = got == expected
    if (!ok) note(s"table check failed at $tableDir: rows/hash $got, expected $expected")
    tableChecksOk &&= ok
    ok
  }

  /** Layout of the sink table right after its query stopped. */
  private def sinkStats(tableDir: Path): Map[String, Double] = {
    val names = graft.Fs.listDir(tableDir).map(_.getFileName.toString)
    val manifests = names.filter(n => n.startsWith("manifest-v") && n.endsWith(".tsv"))
    val folds = manifests.map { m =>
      val v = m.stripPrefix("manifest-").stripSuffix(".tsv")
      Files.readAllLines(tableDir.resolve(m)).toArray.count(_.toString.contains(s"$v-base/"))
    }.sum
    var files = 0L
    var bytes = 0L
    Files.walk(tableDir).forEach { p =>
      if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")) {
        files += 1; bytes += Files.size(p)
      }
    }
    Map("sinks.versions" -> manifests.size.toDouble, "sinks.folds" -> folds.toDouble,
      "sinks.files" -> files.toDouble, "sinks.table_mb" -> bytes / 1048576.0)
  }

  /** Closed drain of a landed transport from an empty checkpoint. */
  private def drain(t: Transport, cap: Int, traced: Boolean): PipeRun = {
    val work = fresh("drain")
    val t0 = Clock.nowMs
    val q = startPipeline(t.dir, work, Some(cap))
    q.processAllAvailable()
    val wall = Clock.nowMs - t0
    q.stop()
    val ts = Trigger.from(progress.of(q.runId))
    if (traced) { traceTriggers(ts); drainTriggers += ts }
    val ok = streamOk(ts, t.gen.records, t.gen.redelivered) &&
      checkTable(work.resolve("table"), t.gen)
    PipeRun(ts, t0, wall, t.gen.records, work.resolve("table"),
      sinkStats(work.resolve("table")), ok)
  }

  /** Trigger spans with their phases laid end to end as children. */
  private def traceTriggers(ts: Seq[Trigger]): Unit = ts.foreach { t =>
    val id = spans.add(-1, s"trigger.${t.batchId}", "trigger", t.startMs, t.endMs)
    var at = t.startMs
    Trigger.Phases.foreach { p =>
      t.durations.get(p).foreach { d =>
        val layerOf = p match {
          case "latestOffset" => "sources"
          case "addBatch"     => "sinks"
          case _              => "trigger"
        }
        spans.add(id, p, layerOf, at, at + d)
        at += d
      }
    }
  }

  /** Per-chunk latency due → end of the publishing trigger, and wait
    * landed → start of the admitting trigger. */
  private def chunkLatencies(sizes: Seq[Int], due: Seq[Double], landed: Seq[Double],
      ts: Seq[Trigger]): (Seq[Double], Seq[Double]) = {
    val pub = publishingTrigger(sizes, ts)
    (pub.indices.map(k => ts(pub(k)).endMs - due(k)),
      pub.indices.map(k => ts(pub(k)).startMs - landed(k)))
  }

  // ------------------------------------------------------------- queries

  private def scanDf(dir: Path): DataFrame =
    spark.read.format("graft-cdc").option("path", dir.toString).load()

  /** (rows, Σ id, Σ after-image entries) of a query, by running its
    * physical plan to the end — never `count()`, which Catalyst may
    * answer without decoding a row. `id` must be output column 0. */
  private def drainRows(df: DataFrame, afterOrdinal: Int): ((Long, Long, Long), SparkPlan) = {
    val qe = df.queryExecution
    val r = qe.toRdd.mapPartitions { it =>
      var n = 0L; var s = 0L; var a = 0L
      it.foreach { row =>
        n += 1; s += row.getLong(0)
        if (afterOrdinal >= 0 && !row.isNullAt(afterOrdinal))
          a += row.getMap(afterOrdinal).numElements()
      }
      Iterator((n, s, a))
    }.collect()
    ((r.map(_._1).sum, r.map(_._2).sum, r.map(_._3).sum), qe.executedPlan)
  }

  /** DSv2 custom metrics and input partitions of every graft-cdc scan
    * in an executed plan. */
  private def scanMetrics(plan: SparkPlan): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec        => walk(s.plan)
        case b: BatchScanExec =>
          b.metrics.foreach { case (k, m) => out(k) += m.value }
          out("partitions") += b.inputRDD.getNumPartitions
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(plan)
    out.toMap
  }

  /** One pass of the changelog client: the full-row scan, then the four
    * pushdown queries. Each query is due when the previous one ended. */
  private def scanPass(t: Transport, x: ScanExpect, due0: Double): Seq[QueryRun] = {
    var due = due0
    def run(name: String)(body: => (Boolean, Map[String, Long])): QueryRun = {
      val t0 = Clock.nowMs
      val (ok, m) = spans.time(-1, s"query.$name", "sources")(body)
      val t1 = Clock.nowMs
      if (!ok) note(s"query $name check failed over ${t.dir}")
      val r = QueryRun(due, t0, t1, ok, m)
      due = t1
      r
    }
    val df = scanDf(t.dir)
    val full = run("full") {
      val ((n, s, a), p) = drainRows(df, 9)
      (n == x.total && s == x.sumId && a == x.afterEntries, scanMetrics(p))
    }
    val cold = run("cold_table") {
      val spec = Gen.Tables(Gen.SelectedCold)
      val ((n, s, _), p) = drainRows(
        df.where(col("db") === spec.db && col("tbl") === spec.tbl), -1)
      ((n, s) == x.cold, scanMetrics(p))
    }
    val range = run("ts_range") {
      val ((n, s, _), p) = drainRows(
        df.where(col("tsUs") >= x.lo && col("tsUs") < x.hi), -1)
      ((n, s) == x.range, scanMetrics(p))
    }
    val deletes = run("deletes") {
      val ((n, s, _), p) = drainRows(
        df.where(col("op") === Op.Delete).select("id", "tsUs"), -1)
      ((n, s) == x.deletes, scanMetrics(p))
    }
    val groups = run("group_by") {
      val g = df.groupBy("db", "tbl", "op").count()
      val rows = g.collect()
      val got = rows.map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
      (got == x.groups, scanMetrics(g.queryExecution.executedPlan))
    }
    Seq(full, cold, range, deletes, groups)
  }

  private def passMetrics(passes: Seq[Seq[QueryRun]], total: Long): Unit = {
    e2e("scan_full_rps") = Stats.median(passes.map { p =>
      total / ((p.head.endMs - p.head.startMs) / 1000.0) })
    e2e("scan_pushdown_ms") = Stats.median(passes.map(_.tail.map(q => q.endMs - q.startMs).sum))
  }

  private def readTableMs(tableDir: Path, reps: Int): Double = Stats.median((0 until reps).map { _ =>
    val t0 = Clock.nowMs
    spans.time(-1, "table.read", "sinks") {
      CdcParquetSink.readTable(spark, tableDir.toString).get.queryExecution.toRdd.count()
    }
    Clock.nowMs - t0
  })

  private def listMs(dir: Path): Double = Stats.median((0 until 5).map { _ =>
    val t0 = Clock.nowMs
    CdcChunkFile.listChunks(dir.toString)
    Clock.nowMs - t0
  })

  // ----------------------------------------------------------- workloads

  /** live_upsert's fixture: a chunk directory holding LiveHistory
    * chunks; its warm-up drains them into the table at LiveHistoryCap,
    * so every sink bucket enters the measured phase with the same
    * delta-chain length and the first fold trigger falls at the same
    * trigger, about two thirds into the window, in every run. */
  private final class LiveFx(val work: Path, val chunks: Path, val gen: Gen,
      val writeMs: mutable.ArrayBuffer[Double])

  private def liveFixture(): LiveFx = {
    val work = fresh("live")
    val chunks = Files.createDirectories(work.resolve("chunks"))
    val gen = new Gen(o.seed, LiveRecordsPerChunk)
    val ms = mutable.ArrayBuffer.from(
      (0 until LiveHistory).map(k => landChunk(chunks, k, gen.nextChunk())))
    new LiveFx(work, chunks, gen, ms)
  }

  private def liveWarmUp(fx: LiveFx): Unit = {
    val q = startPipeline(fx.chunks, fx.work, Some(LiveHistoryCap))
    q.processAllAvailable()
    q.stop()
    if (!streamOk(Trigger.from(progress.of(q.runId)), fx.gen.records, fx.gen.redelivered))
      tableChecksOk = false
    readTableMs(fx.work.resolve("table"), 1)
    scanPass(Transport(fx.chunks, fx.gen, fx.writeMs.toSeq), ScanExpect(fx.gen), Clock.nowMs)
  }

  final case class LivePhase(triggers: Seq[Trigger], lat: Seq[Double],
      queueWait: Seq[Double], lateP99: Double, backlogEnd: Int)

  /** Open loop: one producer lands a chunk every 1/LiveChunksPerSec s,
    * due on a fixed schedule, while the pipeline (restarted from its
    * checkpoint) runs with the default trigger. */
  private def livePhase(fx: LiveFx, seconds: Double, traced: Boolean): LivePhase = {
    val first = fx.gen.chunks
    val rec0 = fx.gen.records
    val red0 = fx.gen.redelivered
    val q = startPipeline(fx.chunks, fx.work, None)
    val interval = 1000.0 / LiveChunksPerSec
    val n = math.max(1, (seconds * LiveChunksPerSec).round.toInt)
    val due = new Array[Double](n)
    val landed = new Array[Double](n)
    val late = new Array[Double](n)
    val t0 = Clock.nowMs + 100.0
    var failure: Throwable = null
    val producer = new Thread(() => try {
      var next = fx.gen.nextChunk()
      var k = 0
      while (k < n) {
        due(k) = t0 + k * interval
        val waitMs = due(k) - Clock.nowMs
        if (waitMs > 0) java.util.concurrent.locks.LockSupport.parkNanos((waitMs * 1e6).toLong)
        late(k) = math.max(0.0, Clock.nowMs - due(k))
        fx.writeMs += landChunk(fx.chunks, first + k, next)
        landed(k) = Clock.nowMs
        if (k + 1 < n) next = fx.gen.nextChunk()
        k += 1
      }
    } catch { case e: Throwable => failure = e }, "cdcbench-producer")
    producer.start()
    producer.join()
    if (failure != null) throw failure
    val stopMs = Clock.nowMs
    q.processAllAvailable()
    q.stop()
    val ts = Trigger.from(progress.of(q.runId))
    if (traced) traceTriggers(ts)
    note("live triggers (start s, rows, ms): " + ts.map(t =>
      f"(${(t.startMs - t0) / 1000}%.2f,${t.rows},${t.totalMs},${t.durations.getOrElse("addBatch", 0L)})").mkString(" "))
    val sizes = fx.gen.chunkSizes.slice(first, first + n).toSeq
    val pub = publishingTrigger(sizes, ts)
    val backlogEnd = pub.count(j => ts(j).endMs > stopMs)
    val (lat, wait) = chunkLatencies(sizes, due.toSeq, landed.toSeq, ts)
    val valid = backlogEnd <= LiveBacklogBound
    if (!valid) note(s"open loop fell behind: $backlogEnd chunks unpublished at stop " +
      s"(bound $LiveBacklogBound)")
    val ok = valid &&
      streamOk(ts, fx.gen.records - rec0, fx.gen.redelivered - red0) &&
      checkTable(fx.work.resolve("table"), fx.gen)
    op(ok, n)
    LivePhase(ts, lat, wait, Stats.quantile(late.toSeq, 0.99), backlogEnd)
  }

  // --------------------------------------------------------------- setup

  /** Session and fixture, built SetupReps times on fresh sessions, then
    * one warm-up. setup_s is JVM start + the median build + warm-up. */
  private def setup[F](build: () => F)(warm: F => Unit): F = {
    var fx: Option[F] = None
    val times = (0 until SetupReps).map { _ =>
      val t0 = Clock.nowMs
      graft.Fs.listDir(root).foreach(graft.Fs.deleteRecursively)
      session(cores)
      fx = Some(build())
      (Clock.nowMs - t0) / 1000.0
    }
    val t0 = Clock.nowMs
    warm(fx.get)
    val warmS = (Clock.nowMs - t0) / 1000.0
    note(f"setup: builds ${times.map(t => f"$t%.2f").mkString(" ")} s, warm-up $warmS%.2f s" +
      f" (JVM start $jvmStartS%.2f s)")
    e2e("setup_s") = jvmStartS + Stats.median(times) + warmS
    fx.get
  }

  /** The streaming and table-read paths run once on a small transport
    * of their own and the batch-scan path once over the fixture, so the
    * measured phase starts warm. */
  private def warmUp(fixture: Transport): Unit = {
    val t = land("warm", o.seed ^ WarmSalt, fixture.gen.recordsPerChunk, 4)
    val work = fresh("warm")
    val q = startPipeline(t.dir, work, None)
    q.processAllAvailable()
    q.stop()
    readTableMs(work.resolve("table"), 1)
    (0 until WarmPasses).foreach(_ => scanPass(fixture, ScanExpect(fixture.gen), Clock.nowMs))
  }

  // ------------------------------------------------------ metrics output

  private def freshMetrics(lat: Seq[Double]): Unit = {
    e2e("fresh_p50_ms") = Stats.quantile(lat, 0.5)
    e2e("fresh_p95_ms") = Stats.quantile(lat, 0.95)
  }

  private def triggerLayer(ts: Seq[Trigger]): Unit = {
    val data = ts.filter(_.rows > 0)
    def med(p: String) = Stats.median(data.map(_.durations.getOrElse(p, 0L).toDouble))
    layer("trigger.count") = data.size
    layer("trigger.rows_p50") = Stats.median(data.map(_.rows.toDouble))
    Seq("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets")
      .foreach(p => layer(s"trigger.${p}_ms") = med(p))
    layer("trigger.total_ms") = Stats.median(data.map(_.totalMs.toDouble))
    layer("streaming.state_rows") = ts.map(_.stateRows).max
    layer("streaming.state_commit_ms") = Stats.median(data.map(_.stateCommitMs.toDouble))
    layer("streaming.state_mem_mb") = ts.map(_.stateMemBytes).max / 1048576.0
    layer("streaming.dups_dropped") = ts.map(_.dupsDropped).sum
  }

  private def sourceLayer(pass: Seq[QueryRun], t: Transport, queueWait: Seq[Double]): Unit = {
    val push = pass.tail
    def sum(k: String) = push.map(_.scan.getOrElse(k, 0L)).sum
    layer("sources.list_ms") = listMs(t.dir)
    layer("sources.chunks") = CdcChunkFile.listChunks(t.dir.toString).size
    layer("sources.queue_wait_p50_ms") = Stats.median(queueWait)
    layer("sources.chunk_write_ms") = Stats.median(t.writeMs)
    layer("sources.chunks_pruned") = sum("chunksPruned")
    layer("sources.records_skipped_header") = sum("recordsSkippedHeader")
    layer("sources.records_decoded") = sum("recordsDecoded")
    val read = sum("recordsDecoded") + sum("recordsSkippedHeader")
    layer("sources.decode_ratio") = if (read == 0) 0.0 else sum("recordsDecoded").toDouble / read
    layer("sources.partitions") = sum("partitions")
  }

  private def genLayer(gen: Gen, lateP99: Double, backlogEnd: Int): Unit = {
    layer("gen.late_p99_ms") = lateP99
    layer("gen.records") = gen.records
    layer("gen.redelivered") = gen.redelivered
    layer("gen.backlog_end_chunks") = backlogEnd
  }

  /** Fixed + per-row cost of a trigger, fitted over every data trigger
    * of the traced reference drains, at the cap and at 4× the cap. */
  private def fitLayer(): Unit = {
    val pts = drainTriggers.toSeq.flatMap(_.filter(_.rows > 0))
      .map(t => (t.rows / 1000.0, t.totalMs.toDouble))
    val (a, b) = Stats.fit(pts)
    layer("trigger.fixed_ms") = a
    layer("trigger.per_krow_ms") = b
  }

  /** The same drain on a one-core session, against the traced
    * full-core drain of the same transport. */
  private def speedupLayer(t: Transport, cap: Int, fullCore: PipeRun): Unit = {
    session(1)
    val one = counted(drain(t, cap, traced = false), t)
    layer("spark.speedup_vs_1core") = (one.wallMs / fullCore.wallMs)
  }

  private def sparkLayer(): Unit = {
    val (w0, w1) = mainWindow
    def in(ms: Double) = ms >= w0 && ms <= w1
    val jobs = jobLog.allJobs.filter(j => in(j.startMs.toDouble))
    val tasks = jobLog.allTasks.filter(t => in(t.launchMs.toDouble))
    val stages = jobLog.allStages.filter(s => in(s.doneMs.toDouble))
    layer("spark.jobs") = jobs.size
    layer("spark.stages") = stages.size
    layer("spark.tasks") = tasks.size
    layer("spark.shuffle_write_mb") = stages.map(_.shuffleWriteBytes).sum / 1048576.0
    layer("spark.task_busy_ratio") =
      tasks.map(t => (t.finishMs - t.launchMs).toDouble).sum / (cores * (w1 - w0))
    layer("spark.sched_delay_p50_ms") =
      if (tasks.isEmpty) 0.0 else Stats.median(tasks.map(_.schedDelayMs.toDouble))
    layer("jvm.gc_ms") = (Jvm.gcMs - gcAtTrace).toDouble
    layer("jvm.peak_heap_mb") = Jvm.peakHeapMb
  }

  /** Job spans under the trigger phase or query span that started them. */
  private def traceJobs(): Unit = {
    val parents = spans.all.filter(s => s.name.startsWith("query.") ||
      Trigger.Phases.contains(s.name))
    jobLog.allJobs.filter(_.endMs >= 0).foreach { j =>
      val p = parents.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(_.durMs).headOption.map(_.id).getOrElse(-1)
      spans.add(p, "job", "spark", j.startMs.toDouble, j.endMs.toDouble)
    }
    val self = spans.selfMsByLayer
    Seq("cdc", "sources", "trigger", "sinks", "spark").foreach(l =>
      layer(s"self.${l}_ms") = self.getOrElse(l, 0.0))
  }

  // ----------------------------------------------------------- codec probe

  /** Per-call cost of the codecs on the workload's own records, no
    * Spark: RecordCodec v4 encode / full decode / row decode / header
    * reads, AvroWire encode / decode / header read. */
  private def codecProbe(recordsPerChunk: Int): Unit = {
    val gen = new Gen(o.seed, recordsPerChunk)
    val recs = Iterator.continually(gen.nextChunk()).flatten.take(CodecSample).toArray
    val bytes = recs.map(RecordCodec.encode)
    val wire = recs.map(toWire)
    val avro = wire.map(w => AvroWire.encodeRecord(w))
    val full = new RecordCodec.RowProjection(CdcSource.schema.indices.toArray)
    var sink = 0L
    def perCall(name: String)(f: Int => Long): Double = {
      // warm, then time whole passes until CodecProbeMs elapsed
      recs.indices.foreach(i => sink += f(i))
      spans.time(-1, s"codec.$name", "cdc") {
        val t0 = System.nanoTime()
        var calls = 0L
        while (System.nanoTime() - t0 < CodecProbeMs * 1000000L) {
          var i = 0
          while (i < recs.length) { sink += f(i); i += 1 }
          calls += recs.length
        }
        (System.nanoTime() - t0).toDouble / calls
      }
    }
    layer("cdc.encode_ns") = perCall("encode")(i => RecordCodec.encode(recs(i)).length)
    layer("cdc.decode_ns") = perCall("decode")(i => RecordCodec.decode(bytes(i)).id)
    layer("cdc.decode_row_ns") = perCall("decode_row")(i =>
      RecordCodec.decodeProjected(bytes(i), full).numFields)
    layer("cdc.header_ns") = perCall("header") { i =>
      val b = bytes(i)
      val (d, _) = RecordCodec.headerTable(b)
      RecordCodec.headerTsUs(b) + RecordCodec.headerOpCode(b) + (if (d == null) 0 else d.length)
    }
    layer("cdc.avro_encode_ns") = perCall("avro_encode")(i => AvroWire.encodeRecord(wire(i)).length)
    layer("cdc.avro_decode_ns") = perCall("avro_decode")(i => AvroWire.decode(avro(i)).id)
    layer("cdc.avro_header_ns") = perCall("avro_header") { i =>
      val (d, _) = AvroWire.headerTable(avro(i))
      if (d == null) 0L else d.length.toLong
    }
    layer("cdc.bytes_per_record") = bytes.map(_.length.toDouble).sum / bytes.length
    // consume the results, so the JIT cannot drop the timed calls
    if (sink == Long.MinValue) note("codec probe checksum hit Long.MinValue")
  }

  // ------------------------------------------------------------------ run

  def run(): String = {
    val t0 = Clock.nowMs
    o.workload match {
      case "live_upsert"     => runLive()
      case "changelog_scan"  => runScan()
    }
    note(f"workload done in ${(Clock.nowMs - t0) / 1000}%.1f s")
    if (!tableChecksOk) failed = attempted
    if (o.trace) {
      traceJobs()
      o.traceOut.foreach(spans.writeJsonLines)
    }
    val t1 = Clock.nowMs
    if (spark != null) spark.stop()
    note(f"session stopped in ${(Clock.nowMs - t1) / 1000}%.1f s")
    e2e("ok_ops_ratio") = 1.0 - failed.toDouble / math.max(1L, attempted)
    val (out, want) = if (o.trace) (layer, PerLayer) else (e2e, EndToEnd)
    val missing = want.map(_._1).filterNot(out.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val ms = want.map { case (n, unit) =>
      s""""$n":{"value":${jsonNum(out(n))},"unit":"$unit"}""" }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }

  private def countPass(p: Seq[QueryRun]): Seq[QueryRun] = { p.foreach(q => op(q.ok)); p }

  /** The traced extras every workload shares: the reference drain at
    * its cap (already traced as `d`) and at 4× the cap for the
    * fixed + per-row fit, the codec probe, then the same drain on one
    * core. */
  private def tracedExtras(ref: Transport, cap: Int, d: PipeRun): Unit = {
    counted(drain(ref, cap * 4, traced = true), ref)
    fitLayer()
    sparkLayer()
    codecProbe(ref.gen.recordsPerChunk)
    speedupLayer(ref, cap, d)
  }

  private def counted(r: PipeRun, t: Transport): PipeRun = { op(r.ok, t.gen.chunks); r }

  private def runLive(): Unit = {
    val fx = setup(() => liveFixture())(liveWarmUp)
    val t = () => Transport(fx.chunks, fx.gen, fx.writeMs.toSeq)
    if (!o.trace) {
      val ph = livePhase(fx, o.seconds, traced = false)
      note(s"live: ${ph.triggers.count(_.rows > 0)} data triggers, backlog at stop ${ph.backlogEnd}")
      freshMetrics(ph.lat)
      val x = ScanExpect(fx.gen)
      passMetrics((0 until EpiloguePasses).map(_ => countPass(scanPass(t(), x, Clock.nowMs))),
        fx.gen.records)
      // the catch-up table, not the live one: the live table's chain
      // lengths depend on where its fold fell, the catch-up table's do not
      val d = counted(drain(t(), LiveCatchupCap, traced = false), t())
      e2e("catchup_rps") = d.records / (d.wallMs / 1000.0)
      e2e("table_read_ms") = readTableMs(d.tableDir, TableReads)
    } else {
      val u = livePhase(fx, o.seconds / 2.0, traced = false)
      startTracing()
      val w0 = Clock.nowMs
      val ph = livePhase(fx, o.seconds, traced = true)
      mainWindow = (w0, Clock.nowMs)
      // the phases differ in length and in where the fold trigger falls,
      // so they compare by median data-trigger time, which one slow
      // trigger does not move
      def trig(p: LivePhase) = Stats.median(p.triggers.filter(_.rows > 0).map(_.totalMs.toDouble))
      layer("trace.overhead_pct") = 100.0 * (trig(ph) - trig(u)) / trig(u)
      triggerLayer(ph.triggers)
      layer ++= sinkStats(fx.work.resolve("table"))
      genLayer(fx.gen, ph.lateP99, ph.backlogEnd)
      readTableMs(fx.work.resolve("table"), 1)
      val all = t()
      sourceLayer(countPass(scanPass(all, ScanExpect(fx.gen), Clock.nowMs)), all, ph.queueWait)
      val d = counted(drain(all, LiveCatchupCap, traced = true), all)
      tracedExtras(all, LiveCatchupCap, d)
    }
  }

  private def runScan(): Unit = {
    val t = setup(() => land("static", o.seed, ScanRecordsPerChunk, ScanChunks))(warmUp)
    val x = ScanExpect(t.gen)
    def passes(seconds: Double): Seq[Seq[QueryRun]] = {
      val t0 = Clock.nowMs
      val out = mutable.ArrayBuffer.empty[Seq[QueryRun]]
      var due = t0
      while (out.isEmpty || Clock.nowMs - t0 < seconds * 1000.0) {
        out += countPass(scanPass(t, x, due))
        due = out.last.last.endMs
      }
      out.toSeq
    }
    if (!o.trace) {
      val ps = passes(o.seconds)
      note(s"${ps.size} query passes (ms per query): " + ps.map(_.map(q =>
        f"${q.endMs - q.startMs}%.0f").mkString("/")).mkString(" "))
      passMetrics(ps, t.gen.records)
      freshMetrics(ps.flatten.map(q => q.endMs - q.dueMs))
      val d = counted(drain(t, ScanCatchupCap, traced = false), t)
      e2e("catchup_rps") = d.records / (d.wallMs / 1000.0)
      e2e("table_read_ms") = readTableMs(d.tableDir, TableReads)
    } else {
      val u = passes(o.seconds)
      startTracing()
      val w0 = Clock.nowMs
      val tr = passes(o.seconds)
      mainWindow = (w0, Clock.nowMs)
      def fullMs(ps: Seq[Seq[QueryRun]]) = Stats.median(ps.map(p => p.head.endMs - p.head.startMs))
      layer("trace.overhead_pct") = 100.0 * (fullMs(tr) - fullMs(u)) / fullMs(u)
      val d = counted(drain(t, ScanCatchupCap, traced = true), t)
      triggerLayer(d.triggers)
      layer ++= d.sink
      val due = Seq.fill(t.gen.chunks)(d.startMs)
      genLayer(t.gen, Stats.quantile(tr.flatten.map(q => q.startMs - q.dueMs), 0.99), 0)
      sourceLayer(tr.last, t, chunkLatencies(t.gen.chunkSizes.toSeq, due, due, d.triggers)._2)
      tracedExtras(t, ScanCatchupCap, d)
    }
  }

  // ------------------------------------------------------------- helpers

  /** A generated record as a reference-layout Avro wire record. */
  private def toWire(r: ChangeRecord): AvroWire.WireRecord = {
    import AvroWire._
    def img(m: Map[String, String]): Seq[WireValue] =
      if (m == null) null
      else WireCols.map { case (c, _) =>
        val v = m.getOrElse(c, null)
        if (v == null) WNull
        else c match {
          case "id" | "qty" | "flag" => WInteger(10, v)
          case "amount"              => WDecimal(v, 12, 2)
          case "score"               => WFloat(v.toDouble, 22, 0)
          case _                     => WString("utf8mb4", v.getBytes("UTF-8"))
        }
      }
    val hasRow = r.before != null || r.after != null
    WireRecord(version = 1, id = r.id, timestampSec = r.tsUs / 1000000L,
      sourcePosition = s"${r.id}@7", safeSourcePosition = s"${r.id}@7",
      transactionId = r.transactionId, sourceTypeCode = 0, sourceVersion = "8.0",
      op = r.op,
      objectName = if (r.db == null) null
        else ObjectNames.compress(Seq(r.db) ++ Option(r.tbl).toSeq),
      tags = if (hasRow) Map("pk_uk_info" -> """{"PRIMARY":["id"]}""") else Map.empty,
      fields = if (hasRow) WireCols else null,
      before = img(r.before), after = img(r.after), bornTimestamp = r.bornUs)
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** Exact answers for the changelog client's queries, from the
  * generator's per-record log. */
final case class ScanExpect(total: Long, sumId: Long, afterEntries: Long,
    cold: (Long, Long), range: (Long, Long), deletes: (Long, Long),
    groups: Map[(String, String, String), Long], lo: Long, hi: Long)

object ScanExpect {
  def apply(g: Gen): ScanExpect = {
    val (lo, hi) = g.midRange
    var sumId = 0L; var after = 0L
    var cold = (0L, 0L); var range = (0L, 0L); var dels = (0L, 0L)
    val groups = mutable.Map.empty[(String, String, String), Long].withDefaultValue(0L)
    val insert = Op.code(Op.Insert); val update = Op.code(Op.Update)
    val delete = Op.code(Op.Delete)
    var i = 0
    while (i < g.recTs.size) {
      val id = g.recId(i); val ts = g.recTs(i); val op = g.recOp(i)
      val t = g.recTable(i); val d = g.recDb(i)
      sumId += id
      if (op == insert || op == update) after += 10
      if (t == Gen.SelectedCold) cold = (cold._1 + 1, cold._2 + id)
      if (ts >= lo && ts < hi) range = (range._1 + 1, range._2 + id)
      if (op == delete) dels = (dels._1 + 1, dels._2 + id)
      val key = (if (d < 0) null else Gen.Dbs(d),
        if (t < 0) null else Gen.Tables(t).tbl, Op.fromCode(op))
      groups(key) += 1
      i += 1
    }
    ScanExpect(g.records, sumId, after, cold, range, dels, groups.toMap, lo, hi)
  }
}

object Bench {
  /** Open-loop rate of live_upsert (chunks of LiveRecordsPerChunk): under
    * what the trigger loop drains on a few cores, so the queue stays
    * short; high enough that a run lands 200 chunks. */
  val LiveChunksPerSec = 15.0
  val LiveRecordsPerChunk = 20
  /** Chunks already landed and drained when live_upsert's clock starts,
    * and the cap they were drained at. */
  val LiveHistory = 40
  val LiveHistoryCap = 20
  /** Cap of the live transport's catch-up drain: four triggers, so the
    * 4x-cap drain of the traced run spans 4x the rows per trigger. */
  val LiveCatchupCap = 65
  /** Unpublished chunks allowed when the producer stops: eight seconds
    * of arrivals, a fold trigger and the trigger that catches up after
    * it with room to spare; beyond it the open loop was not keeping up. */
  val LiveBacklogBound = 120
  val ScanRecordsPerChunk = 2500
  val ScanChunks = 40
  /** changelog_scan's catch-up drains its whole transport from an empty
    * checkpoint at this many chunks (25,000 records) per trigger: four
    * triggers, so the traced run's 4x-cap drain (the whole transport in
    * one trigger) spans 4x the rows per trigger. */
  val ScanCatchupCap = 10
  val SetupReps = 3
  val TableReads = 3
  val EpiloguePasses = 3
  /** Query passes in changelog_scan's warm-up: the scan path's JIT keeps
    * speeding up for about this many passes. */
  val WarmPasses = 3
  val CodecSample = 4000
  val CodecProbeMs = 300L
  val WarmSalt = 0x5bd1e995L

  val WireCols: Seq[(String, Int)] = Seq("id" -> 3, "name" -> 253, "email" -> 253,
    "amount" -> 246, "qty" -> 3, "status" -> 253, "created_at" -> 253,
    "note" -> 253, "flag" -> 1, "score" -> 5)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ok_ops_ratio" -> "ratio",
    "fresh_p50_ms" -> "ms", "fresh_p95_ms" -> "ms",
    "catchup_rps" -> "1/s", "table_read_ms" -> "ms",
    "scan_full_rps" -> "1/s", "scan_pushdown_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "cdc.encode_ns" -> "ns", "cdc.decode_ns" -> "ns", "cdc.decode_row_ns" -> "ns",
    "cdc.header_ns" -> "ns", "cdc.avro_encode_ns" -> "ns", "cdc.avro_decode_ns" -> "ns",
    "cdc.avro_header_ns" -> "ns", "cdc.bytes_per_record" -> "bytes",
    "sources.list_ms" -> "ms", "sources.chunks" -> "count",
    "sources.queue_wait_p50_ms" -> "ms", "sources.chunk_write_ms" -> "ms",
    "sources.chunks_pruned" -> "count", "sources.records_skipped_header" -> "count",
    "sources.records_decoded" -> "count", "sources.decode_ratio" -> "ratio",
    "sources.partitions" -> "count",
    "trigger.count" -> "count", "trigger.rows_p50" -> "count",
    "trigger.latestOffset_ms" -> "ms", "trigger.queryPlanning_ms" -> "ms",
    "trigger.walCommit_ms" -> "ms", "trigger.addBatch_ms" -> "ms",
    "trigger.commitOffsets_ms" -> "ms", "trigger.total_ms" -> "ms",
    "trigger.fixed_ms" -> "ms", "trigger.per_krow_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_commit_ms" -> "ms",
    "streaming.state_mem_mb" -> "MB", "streaming.dups_dropped" -> "count",
    "sinks.versions" -> "count", "sinks.folds" -> "count", "sinks.files" -> "count",
    "sinks.table_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.task_busy_ratio" -> "ratio",
    "spark.sched_delay_p50_ms" -> "ms", "spark.speedup_vs_1core" -> "x",
    "jvm.gc_ms" -> "ms", "jvm.peak_heap_mb" -> "MB",
    "gen.late_p99_ms" -> "ms", "gen.records" -> "count", "gen.redelivered" -> "count",
    "gen.backlog_end_chunks" -> "count", "trace.overhead_pct" -> "%",
    "self.cdc_ms" -> "ms", "self.sources_ms" -> "ms", "self.trigger_ms" -> "ms",
    "self.sinks_ms" -> "ms", "self.spark_ms" -> "ms")
}

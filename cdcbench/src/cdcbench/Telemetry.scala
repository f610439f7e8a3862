package cdcbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * clock Spark stamps progress and listener events with. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store; written out once, when the run ends. While
  * disabled it records nothing, so untraced phases pay only a flag
  * check. */
final class Spans {
  @volatile var enabled: Boolean = false
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  def add(parent: Int, name: String, layer: String,
      startMs: Double, endMs: Double): Int =
    if (!enabled) -1
    else {
      val id = ids.incrementAndGet()
      buf.add(Span(id, parent, name, layer, startMs, endMs))
      id
    }

  def time[T](parent: Int, name: String, layer: String)(f: => T): T = {
    val t0 = Clock.nowMs
    try f finally add(parent, name, layer, t0, Clock.nowMs)
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)

  /** Self time per layer: each span's duration minus the part of it
    * its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a })
      s.layer -> math.max(0.0, s.durMs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Collects every StreamingQueryProgress of the session, keyed by run
  * id (a query restarted from its checkpoint keeps its id but gets a
  * new run id). Freshness is computed from these, so the listener is on
  * in every run, traced or not. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.runId)

  /** Progress of one query in batch order, after its terminated event
    * arrived (the bus delivers it after every progress event). */
  def of(runId: java.util.UUID, timeoutMs: Long = 30000L): Seq[StreamingQueryProgress] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!terminated.contains(runId) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    require(terminated.contains(runId), s"no terminated event for query run $runId")
    events.asScala.filter(_.runId == runId).toSeq.sortBy(p => (p.batchId, p.timestamp))
  }
}

/** Trigger-level facts from progress events. */
final case class Trigger(batchId: Long, startMs: Double, rows: Long,
    durations: Map[String, Long], stateRows: Long, stateCommitMs: Long,
    stateMemBytes: Long, dupsDropped: Long, lateDropped: Long) {
  def totalMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Double = startMs + totalMs
}

object Trigger {
  /** Executed micro-batches only (idle progress reports carry no
    * addBatch phase). */
  def from(ps: Seq[StreamingQueryProgress]): Seq[Trigger] =
    ps.filter(_.durationMs.containsKey("addBatch")).map { p =>
      val st = p.stateOperators
      def stSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        st.map(f).sum
      Trigger(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        stSum(_.numRowsTotal), stSum(_.commitTimeMs), stSum(_.memoryUsedBytes),
        stSum(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))
          .map(_.longValue).getOrElse(0L)),
        stSum(_.numRowsDroppedByWatermark))
    }

  /** Phases in the order the micro-batch loop runs them — spans lay
    * them end to end from the trigger's start. */
  val Phases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")
}

/** Spark job/stage/task record from a listener the benchmark registers
  * in traced runs. Job ids restart with every SparkContext, so jobs are
  * keyed by `generation`, which the caller bumps per context. */
final class JobLog extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Task(launchMs: Long, finishMs: Long, schedDelayMs: Long)

  final case class Stage(doneMs: Long, shuffleWriteBytes: Long)

  @volatile var generation = 0
  val jobs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put((generation, e.jobId), Job(e.jobId, e.time, -1L))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get((generation, e.jobId))).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(Stage(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()),
      Option(e.stageInfo.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten)
        .getOrElse(0L)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val dur = i.finishTime - i.launchTime
      val exec = m.executorDeserializeTime + m.executorRunTime +
        m.resultSerializationTime + i.gettingResultTime
      tasks.add(Task(i.launchTime, i.finishTime, math.max(0L, dur - exec)))
    }
  }

  def allStages: Seq[Stage] = stages.asScala.toSeq
  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.startMs)
  def allTasks: Seq[Task] = tasks.asScala.toSeq
}

/** JVM-wide GC time and heap peaks over a measured phase. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def resetPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Least-squares y = a + b·x; (a, b). */
  def fit(pts: Seq[(Double, Double)]): (Double, Double) = {
    val n = pts.length.toDouble
    val mx = pts.map(_._1).sum / n
    val my = pts.map(_._2).sum / n
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val sxy = pts.map { case (x, y) => (x - mx) * (y - my) }.sum
    val b = if (sxx == 0) 0.0 else sxy / sxx
    (my - b * mx, b)
  }
}

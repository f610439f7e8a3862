package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev probe: one entry point for the questions a perf or plan change
  * asks, each answered by the code [[Bench]] runs — every query goes
  * through [[Bench.timed]], so a probe measures what the bench
  * measures.
  *
  * Usage: runMain graft.Probe <mode> <sfDir> [names|all] [reps]
  *
  *   - `time`: a warm run, then `reps` timed runs per query
  *     (`TIMEIT <name> rep<r> <s> s`).
  *   - `jobs`: per timed run, every Spark job's wall, stages, tasks and
  *     shuffle MB, so a slow query's seconds can be attributed to
  *     fixture writes, micro-batch triggers, foreachBatch bodies or
  *     iterative rounds without the UI.
  *   - `plan`: `explain("formatted")` of the final adaptive plan, after
  *     the query ran, under a `=== <name>` header. Building a streaming
  *     gate's frame runs its stream; the plan is the read-back's.
  *   - `audit`: one line per query from the same final plan — join
  *     strategies, exchanges, pushed filters, codegen stages — the
  *     quick check that a plan would survive a 100x scale-up (SURVEY
  *     §5).
  *   - `recall`: [[Bench.recalls]], one `RECALL` line per slot.
  *   - `rps`: [[Bench.streamRps]].
  *
  * `names` is a comma-separated query list (default all); `reps`
  * (default 1) applies to `time` and `jobs`. `recall` and `rps` ignore
  * both. A failing query or recall slot prints `<name> FAILED:
  * <message>` and the probe moves on to the next.
  */
object Probe {
  val Modes: Seq[String] = Seq("time", "jobs", "plan", "audit", "recall", "rps")

  def main(args: Array[String]): Unit =
    run(args, GraftSession.fromEnv(appName = "graft-probe"))

  /** Validates `args` before `session` is built, so a typo costs no
    * Spark start-up. */
  private[graft] def run(args: Array[String], session: => SparkSession): Unit = {
    def usage(why: String) = new IllegalArgumentException(s"$why — usage: " +
      s"graft.Probe <mode> <sfDir> [names|all] [reps]; modes: ${Modes.mkString(", ")}")
    if (args.length < 2) throw usage("missing mode or sfDir")
    val mode = args(0)
    if (!Modes.contains(mode)) throw usage(s"unknown mode '$mode'")
    val dir = args(1)
    val names =
      if (args.length > 2 && args(2) != "all") args(2).split(",").toSeq
      else SparkEntry.all.map(_.name)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) throw usage(s"unknown query ${unknown.mkString(", ")}")
    val reps = if (args.length > 3) args(3).toInt else 1

    val spark = session
    def time(n: String): Double =
      Bench.timed(spark)(SparkEntry.queries(n)(spark, dir))._1
    // the executed query's plan: AQE settles its final plan only while
    // the query runs
    def executed(n: String): QueryExecution = {
      val df = SparkEntry.queries(n)(spark, dir)
      Bench.timed(spark)(df)
      df.queryExecution
    }
    def attempt(label: String)(body: => Unit): Unit =
      try body
      catch {
        case e: Throwable => println(s"$label FAILED: ${oneLine(Bench.message(e))}")
      }
    def eachQuery(body: String => Unit): Unit = names.foreach(n => attempt(n)(body(n)))
    try mode match {
      case "time" => eachQuery { n =>
        time(n) // warm
        (1 to reps).foreach(r => println(f"TIMEIT $n rep$r ${time(n)}%.3f s"))
      }
      case "jobs" => eachQuery { n =>
        time(n) // warm
        (1 to reps).foreach(r => new JobTable(spark).profile(n, r)(time(n)))
      }
      case "plan" => eachQuery { n =>
        println(s"=== $n\n${executed(n).explainString(FormattedMode)}")
      }
      case "audit" => eachQuery(n => println(audit(n, executed(n))))
      case "recall" => Bench.recalls(spark, dir).foreach { case (k, f) =>
        val slot = k.stripPrefix("recall:")
        attempt(slot)(println(f"RECALL $slot ${f()}%.3f"))
      }
      case "rps" => println(s"RPS ${Bench.streamRps(spark).round}")
    } finally spark.stop()
  }

  // stream failures and micro-batch job descriptions span lines
  private def oneLine(s: String): String = s.replaceAll("\\s*\n\\s*", " ")

  private val Markers = Seq(
    "BroadcastHashJoin" -> "bhj", "SortMergeJoin" -> "smj",
    "ShuffledHashJoin" -> "shj", "BroadcastNestedLoopJoin" -> "bnlj",
    "CartesianProduct" -> "cart", "SortAggregate" -> "sortagg",
    "ObjectHashAggregate" -> "objagg")

  /** One line: exchanges, whole-stage-codegen stages, scans with pushed
    * filters, then each join/aggregate strategy present. Unexpected
    * SortAggregate, nested-loop joins on big sides or missing
    * PushedFilters show up at a glance. */
  private def audit(name: String, qe: QueryExecution): String = {
    val plan = (qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // not the initial plan too
      case p => p
    }).toString
    val found = Markers.collect {
      case (m, tag) if plan.contains(m) => s"$tag=${m.r.findAllIn(plan).size}"
    }
    val exchanges = "Exchange".r.findAllIn(plan).size
    val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).size
    val wsc = "\\*\\(\\d+\\)".r.findAllIn(plan).toSet.size
    f"$name%-22s exch=$exchanges wsc=$wsc pushed=$pushed ${found.mkString(" ")}"
  }

  private final case class Job(id: Int, desc: String, t0: Long,
      var wallMs: Long = -1, var stages: Int = 0,
      var shuffleReadMb: Double = 0, var shuffleWriteMb: Double = 0,
      var tasks: Int = 0)

  /** Every Spark job one timed run starts, attributed stage → job from
    * the job's declared stage ids. */
  private final class JobTable(spark: SparkSession) extends SparkListener {
    private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val p = Option(js.properties)
      val desc = p.flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(p.flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("")
      jobs.put(js.jobId, Job(js.jobId, desc, js.time))
      order.add(js.jobId)
      js.stageIds.foreach(stageJob.put(_, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(j => j.wallMs = je.time - j.t0)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      stageJob.get(sc.stageInfo.stageId).flatMap(id => Option(jobs.get(id)))
        .foreach { j =>
          j.stages += 1
          j.tasks += sc.stageInfo.numTasks
          j.shuffleReadMb += m.shuffleReadMetrics.totalBytesRead / 1e6
          j.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / 1e6
        }
    }

    /** Listen while `run` times the query, then print the table. */
    def profile(name: String, rep: Int)(run: => Double): Unit = {
      spark.sparkContext.addSparkListener(this)
      val wall =
        try run
        finally {
          Thread.sleep(300) // the listener bus delivers asynchronously
          spark.sparkContext.removeSparkListener(this)
        }
      import scala.jdk.CollectionConverters._
      val js = order.asScala.toSeq.flatMap(id => Option(jobs.get(id)))
      println(f"PROFILE $name rep$rep total $wall%.3f s, ${js.size} jobs")
      js.foreach { j =>
        println(f"  job ${j.id}%4d ${j.wallMs}%6d ms stages=${j.stages}%2d tasks=${j.tasks}%4d shufR=${j.shuffleReadMb}%8.2fMB shufW=${j.shuffleWriteMb}%8.2fMB  ${oneLine(j.desc).take(110)}")
      }
      val accounted = js.map(_.wallMs).filter(_ > 0).sum / 1e3
      println(f"  accounted job wall: $accounted%.3f s (gaps = driver/planning/checkpoint-io)")
    }
  }
}

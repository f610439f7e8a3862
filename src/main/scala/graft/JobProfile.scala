package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only per-JOB profiler (optimization round): runs one query and
  * prints every Spark job's wall time + description + stage shuffle
  * stats, so a slow query's seconds can be attributed to specific
  * actions (fixture writes, micro-batch triggers, foreachBatch bodies,
  * iterative rounds) without the UI (disabled in this sandbox).
  * Usage: runMain graft.JobProfile <sfDir> <name> [reps]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.fromEnv(appName = "graft-jobprofile")

    final case class Job(id: Int, desc: String, t0: Long,
        var wallMs: Long = -1, var stages: Int = 0,
        var shuffleReadMb: Double = 0, var shuffleWriteMb: Double = 0,
        var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Int]())
    // stage → owning job, from the job's declared stage ids
    val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(js.jobId, Job(js.jobId, desc, js.time))
        order.add(js.jobId)
        js.stageIds.foreach(stageJob.put(_, js.jobId))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach(j => j.wallMs = je.time - j.t0)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stageJob.get(sc.stageInfo.stageId).flatMap(id =>
          Option(jobs.get(id))).foreach { j =>
          j.stages += 1
          j.tasks += sc.stageInfo.numTasks
          j.shuffleReadMb += m.shuffleReadMetrics.totalBytesRead / 1e6
          j.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / 1e6
        }
      }
    }

    def exec(): Long =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()

    exec() // warm
    GraftSession.sweep(spark)
    (1 to reps).foreach { r =>
      jobs.clear(); order.clear(); stageJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      exec()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let listener bus drain
      println(f"PROFILE $name rep$r total ${wall}%.3f s, ${order.size} jobs")
      import scala.jdk.CollectionConverters._
      val js = order.asScala.flatMap(id => Option(jobs.get(id)))
      js.foreach { j =>
        println(f"  job ${j.id}%4d ${j.wallMs}%6d ms stages=${j.stages}%2d tasks=${j.tasks}%4d shufR=${j.shuffleReadMb}%8.2fMB shufW=${j.shuffleWriteMb}%8.2fMB  ${j.desc.take(110)}")
      }
      val accounted = js.map(_.wallMs).filter(_ > 0).sum / 1e3
      println(f"  accounted job wall: ${accounted}%.3f s (gaps = driver/planning/checkpoint-io)")
      GraftSession.sweep(spark)
    }
    spark.stop()
  }
}

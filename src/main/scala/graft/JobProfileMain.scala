package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round diagnostic: run ONE registry query (by name) and
  * print every Spark job it spawns — job id, wall seconds, stage count,
  * task count, shuffle bytes — so a multi-second bench row decomposes
  * into its job-level cost structure (guide §1: measure first; §7.1 UI
  * reads, headless form). Usage:
  *   runMain graft.JobProfileMain <queryName> [sfDir] [reps]
  */
object JobProfileMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfileMain <queryName> [sfDir] [reps]")
    val qname = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession()

    final case class JobRow(id: Int, t0: Long, var t1: Long = 0L,
                            var stages: Int = 0, var tasks: Int = 0,
                            var shuffleRead: Long = 0L,
                            var shuffleWrite: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, JobRow(e.jobId, e.time))
        order.add(e.jobId)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.t1 = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val sid = e.stageInfo.stageId
        val jid = stageToJob.getOrDefault(sid, -1)
        val r = jobs.get(jid)
        if (r != null) {
          r.stages += 1
          r.tasks += e.stageInfo.numTasks
          r.shuffleRead += e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    })

    val q = graft.queries.Registry.all.find(_.name == qname)
      .getOrElse(sys.error(s"no registry query named $qname"))
    // warmup: same move as Bench — JIT + codegen + parquet footers
    spark.read.parquet(s"$sfDir/region.parquet").count()
    for (rep <- 1 to reps) {
      jobs.clear(); order.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"== $qname rep $rep: total $secs%.3f s, ${order.size()} jobs")
      import scala.jdk.CollectionConverters._
      var acc = 0.0
      for (jid <- order.asScala) {
        val r = jobs.get(jid)
        val d = (r.t1 - r.t0) / 1e3
        acc += d
        println(f"  job ${r.id}%3d ${d}%7.3f s  stages=${r.stages}%2d tasks=${r.tasks}%4d shRead=${r.shuffleRead}%9d shWrite=${r.shuffleWrite}%9d")
      }
      println(f"  sum-of-jobs $acc%.3f s (gaps = driver/planning time: ${secs - acc}%.3f s)")
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Builder-side empirical profiler (guide §1.1 with spark.ui disabled):
  * runs one driver query with the Bench session shape and prints, for the
  * timed (post-warmup) run, every job and every stage with wall time,
  * task count, and shuffle read/write bytes — the "open the Stages tab,
  * find where the time goes" loop in text form.
  *
  * Usage: runMain graft.tools.JobProfile <queryName> [sfDir] [cpus]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "q1_agg"
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = graft.core.GraftSession.local(cpus, "ERROR")

    final case class JobRec(id: Int, desc: String, t0: Long, var t1: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stages = mutable.ArrayBuffer[(Int, String, Long, Int, Long, Long)]()
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.synchronized { jobs(e.jobId) = JobRec(e.jobId, desc, e.time) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) {
        val si = e.stageInfo
        val ms = (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId, si.name.linesIterator.next().take(90), ms,
            si.numTasks, si.taskMetrics.shuffleReadMetrics.totalBytesRead,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten))
        }
      }
    })

    val fn = graft.SparkEntry.queries(name)
    // warmup (codegen, file footers), then sweep to the Bench cold state
    fn(spark, sf).count()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()

    recording = true
    val t0 = System.nanoTime()
    val n = fn(spark, sf).count()
    val sec = (System.nanoTime() - t0) / 1e9
    recording = false
    Thread.sleep(300) // drain listener bus

    println(f"[profile] $name rows=$n total=$sec%.3f s  (jobs=${jobs.size}, stages=${stages.size})")
    println("[profile] ---- jobs (start-ordered) ----")
    jobs.values.foreach { j =>
      println(f"[profile] job ${j.id}%4d ${(j.t1 - j.t0) / 1e3}%8.3f s  ${j.desc.take(100)}")
    }
    println("[profile] ---- stages by duration ----")
    stages.sortBy(-_._3).take(30).foreach { case (id, nm, ms, nt, sr, sw) =>
      println(f"[profile] stage $id%4d ${ms / 1e3}%8.3f s tasks=$nt%3d shufR=${sr / 1e6}%9.2f MB shufW=${sw / 1e6}%9.2f MB  $nm")
    }
    spark.stop()
  }
}

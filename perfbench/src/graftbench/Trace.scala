package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One interval of the benchmark's trace, on the JVM's epoch clock in
  * milliseconds. Spans of one operator call share `callId`; `parent` is
  * the id of the span that caused this one (0 for a root). */
final case class Span(id: Long, callId: Long, name: String, parent: Long,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. The clock is `nanoTime` anchored once to the
  * epoch, so spans line up with the listener's job and task times. */
final class Spans {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private var nextId = 0L
  val all: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def add(callId: Long, name: String, parent: Long, startMs: Double, endMs: Double): Long = {
    nextId += 1
    all += Span(nextId, callId, name, parent, startMs, endMs)
    nextId
  }

  /** Self time of `s`: its duration minus the part of it that `children`
    * cover (overlapping children counted once). */
  def selfMs(s: Span, children: Seq[(Double, Double)]): Double =
    s.durMs - Spans.unionMs(children.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) })
}

object Spans {
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Spark listener that attributes every job, stage and task to the job
  * group it ran under; the benchmark sets one job group per call. */
final class JobTracer extends SparkListener {
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long)
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
      shuffleBytes: Long, spillBytes: Long)

  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobsById = mutable.LinkedHashMap[Int, Job]()
  private val tasksByGroup = mutable.HashMap[String, mutable.ArrayBuffer[Task]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      jobsById(e.jobId) = Job(e.jobId, g, e.time, e.time)
      e.stageIds.foreach(s => stageGroup(s) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val m = e.taskMetrics
      val i = e.taskInfo
      val t = if (m == null) Task(e.stageId, i.launchTime, i.finishTime, 0L, 0L, 0L)
        else Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      tasksByGroup.getOrElseUpdate(g, mutable.ArrayBuffer()) += t
    }
  }

  def jobs(group: String): Seq[Job] = synchronized { jobsById.values.filter(_.group == group).toSeq }
  def tasks(group: String): Seq[Task] = synchronized {
    tasksByGroup.get(group).map(_.toSeq).getOrElse(Nil)
  }
}

object JobTracer {
  /** Bytes shuffled by the Spark jobs `body` runs, observed by a listener
    * registered for the duration of the call. */
  def shuffleBytes(spark: SparkSession)(body: => Any): Long = {
    val sc = spark.sparkContext
    val t = new JobTracer
    sc.addSparkListener(t)
    try {
      sc.setJobGroup("self-test", "self-test")
      body
    } finally {
      sc.clearJobGroup()
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(t)
    }
    t.tasks("self-test").map(_.shuffleBytes).sum
  }
}

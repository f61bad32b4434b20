package graft

import java.util.concurrent.{CountDownLatch, ConcurrentLinkedQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One shared local SparkSession for the whole test JVM, configured as
  * the mains are ([[graft.core.GraftSession]]). */
object TestSpark {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "WARN")

  /** The Spark jobs `body` starts on this thread. A sentinel job in a
    * second group follows it; the listener bus delivers events in order,
    * so once the sentinel is seen every job of `body` has been counted. */
  def jobsOf(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val group = s"test-jobs-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.add(e)
          case g if g == s"$group-end" => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "TestSpark.jobsOf")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "TestSpark.jobsOf")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel job not seen")
      jobs.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }
}

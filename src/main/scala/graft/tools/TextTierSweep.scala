package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Sizes the driver-local tiers of `BpeTrain.train` and
  * `DupSpans.dupSpansMulti`: on seeded generated inputs of growing size it
  * times each operator with the local tier forced (gate at Long.MaxValue)
  * and with the distributed tier forced (gate at 0), and records the
  * largest heap in use after any garbage collection during the call, less
  * the heap in use before it.
  *
  *   - bpe: distinct words of 4–12 letters over a 20-letter alphabet with
  *     counts in [1, 100], until Σ length(w) reaches the size; 3 rounds.
  *   - spans: 60-token documents over a 5000-word Zipf vocabulary, every
  *     fifth one pasting a 20-token run of an earlier document, until the
  *     token count reaches the size; the default three resolutions.
  *
  * Inputs are cached in 4 partitions before timing; each call's outputs
  * are consumed by a hash sum over every column. Usage:
  *   SPARK_DRIVER_MEM=2g sbt "runMain graft.tools.TextTierSweep bpe|spans [local|distributed] SIZE..."
  * (both tiers unless one is named).
  * Prints one JSON line per (op, size, tier): the faster of two calls'
  * seconds, the larger of their heap figures, and the output digest.
  */
object TextTierSweep {

  private val peakAfterGc = new AtomicLong(0L)

  private def watchGc(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, h: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
              peakAfterGc.accumulateAndGet(used, math.max)
            }
        }, null, null)
      case _ =>
    }

  private def heapUsed(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private def consume(df: DataFrame): Long =
    df.selectExpr("coalesce(sum(hash(*)), 0)").collect()(0).getLong(0)

  def bpeWords(spark: SparkSession, size: Long): DataFrame = {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(7)
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var symbols = 0L
    while (symbols < size) {
      val w = Array.fill(4 + rnd.nextInt(9))(('a' + rnd.nextInt(20)).toChar).mkString
      if (!seen.contains(w)) { seen(w) = 1L + rnd.nextInt(100); symbols += w.length }
    }
    seen.toSeq.toDF("w", "n_w")
  }

  def spanDocs(spark: SparkSession, size: Long): DataFrame = {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(7)
    // Zipf(1) over 5000 words by inverse CDF
    val cdf = (1 to 5000).map(1.0 / _).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      s"w${if (i >= 0) i else -i - 1}"
    }
    val docs = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    var tokens = 0L
    while (tokens < size) {
      val d = Array.fill(60)(word())
      if (docs.size % 5 == 4) {
        val src = docs(rnd.nextInt(docs.size))
        System.arraycopy(src, rnd.nextInt(40), d, rnd.nextInt(40), 20)
      }
      docs += d
      tokens += 60
    }
    docs.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }.toSeq.toDF("doc_id", "text")
  }

  def main(args: Array[String]): Unit = {
    val op = args.head
    val only = args.tail.filter(a => a == "local" || a == "distributed").toSet
    val sizes = args.tail.filterNot(only).map(_.toLong)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    watchGc()
    def call(input: DataFrame, gate: Long): Long = op match {
      case "bpe" =>
        val (merges, segs) = graft.ops.BpeTrain.train(input, 3, maxLocalSymbols = gate)
        consume(merges) + consume(segs)
      case "spans" =>
        consume(graft.ops.DupSpans.dupSpansMulti(input, "doc_id", "text",
          maxLocalTokens = gate))
    }
    def gen(size: Long) = (if (op == "bpe") bpeWords(spark, size) else spanDocs(spark, size))
      .repartition(4).persist(StorageLevel.MEMORY_AND_DISK)
    val tiers = Seq("local" -> Long.MaxValue, "distributed" -> 0L)
      .filter { case (t, _) => only.isEmpty || only(t) }
    // warm the tiers' code paths on a small input
    val warm = gen(sizes.min min 20000L)
    warm.count()
    tiers.foreach { case (_, gate) => call(warm, gate) }
    warm.unpersist()
    for (size <- sizes) {
      val input = gen(size)
      val rows = input.count()
      for ((tier, gate) <- tiers) {
        val runs = (1 to 2).map { _ =>
          val base = heapUsed()
          peakAfterGc.set(0L)
          val t0 = System.nanoTime()
          val digest = call(input, gate)
          val sec = (System.nanoTime() - t0) / 1e9
          (sec, math.max(0L, peakAfterGc.get - base), digest)
        }
        val (sec, _, digest) = runs.minBy(_._1)
        val heap = runs.map(_._2).max
        println(f"""{"op":"$op","size":$size,"rows":$rows,"tier":"$tier",""" +
          f""""sec":$sec%.3f,"heap_mb":${heap / 1048576.0}%.1f,"digest":$digest}""")
      }
      input.unpersist()
    }
    spark.stop()
  }
}

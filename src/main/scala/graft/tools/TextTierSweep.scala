package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Sizes the driver-local tiers of `BpeTrain.train`,
  * `DupSpans.dupSpansMulti` and `Dedup.minHashLshPairs`: on seeded
  * generated inputs of growing size it times each operator with the local
  * tier forced (gate at Long.MaxValue) and with the distributed tier
  * forced (gate at 0), and records the largest heap in use after any
  * garbage collection during the call, less the heap in use before it.
  * `Tokenizer.tokenStats`, which has one plan and no tier, is timed the
  * same way (tier "plan"; tier arguments are ignored).
  *
  *   - bpe: distinct words of 4–12 letters over a 20-letter alphabet with
  *     counts in [1, 100], until Σ length(w) reaches the size; 3 rounds.
  *   - spans: 60-token documents over a 5000-word Zipf vocabulary, every
  *     fifth one pasting a 20-token run of an earlier document, until the
  *     token count reaches the size; the default three resolutions.
  *   - minhash: the same documents, every fifth one instead a copy of an
  *     earlier document with 3 of its tokens replaced; n = 3, 64 hashes,
  *     16 bands, threshold 0.5 (the benchmark's settings).
  *   - tokenstats: the spans documents; the default vocabulary.
  *   - spans@A-B, minhash@A-B, tokenstats@A-B (or @L): the same operators
  *     on documents of A to B tokens (uniform; exactly L) over the same
  *     vocabulary, nothing planted. Short documents are the shape where
  *     the per-document state, not the tokens, fills the heap, and they
  *     repeat exactly, so minhash meets large duplicate clusters.
  *
  * Inputs are cached in 4 partitions before timing; each call's outputs
  * are consumed by a hash sum over every column. Usage:
  *   SPARK_DRIVER_MEM=2g sbt "runMain graft.tools.TextTierSweep OP [local|distributed|gate=N]... SIZE..."
  * where `local` is the gate at Long.MaxValue, `distributed` at 0 and
  * `gate=N` at N (both forced tiers unless a tier is named).
  * Prints one JSON line per (op, size, tier): the faster of two calls'
  * seconds, the larger of their heap figures, the output digest, the
  * tier that ran (a gate may fall through) and the output's row count
  * (the last consumed output's, for bpe its segmentation).
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

  private val outRows = new AtomicLong(0L)

  // the hash sum over every column; the row count adds to outRows
  private def consume(df: DataFrame): Long = {
    val r = df.selectExpr("count(1)", "coalesce(sum(hash(*)), 0)").collect()(0)
    outRows.set(r.getLong(0))
    r.getLong(1)
  }

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

  def spanDocs(spark: SparkSession, size: Long, nearCopies: Boolean = false,
      lens: Option[(Int, Int)] = None): DataFrame = {
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
      val d = Array.fill(lens.fold(60) { case (a, b) => a + rnd.nextInt(b - a + 1) })(word())
      if (lens.isEmpty && docs.size % 5 == 4) {
        val src = docs(rnd.nextInt(docs.size))
        if (nearCopies) {
          System.arraycopy(src, 0, d, 0, 60)
          (1 to 3).foreach(_ => d(rnd.nextInt(60)) = word())
        } else System.arraycopy(src, rnd.nextInt(40), d, rnd.nextInt(40), 20)
      }
      docs += d
      tokens += d.length
    }
    docs.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }.toSeq.toDF("doc_id", "text")
  }

  def main(args: Array[String]): Unit = {
    val op = args.head.takeWhile(_ != '@')
    val lens = args.head.split('@').drop(1).headOption.map { r =>
      val Array(a, b) = if (r.contains('-')) r.split('-') else Array(r, r)
      (a.toInt, b.toInt)
    }
    val (tierArgs, sizeArgs) = args.tail.partition(a => a.head.isLetter)
    val sizes = sizeArgs.map(_.toLong)
    val spark = graft.core.GraftSession.local("4", "WARN")
    watchGc()
    def tier(local: Boolean) = if (local) "local" else "distributed"
    // (output digest, the tier that ran)
    def call(input: DataFrame, gate: Long): (Long, String) = op match {
      case "bpe" =>
        val (merges, segs) = graft.ops.BpeTrain.train(input, 3, maxLocalSymbols = gate)
        (consume(merges) + consume(segs), tier(graft.ops.BpeTrain.ranLocalTier(segs)))
      case "tokenstats" =>
        (consume(graft.ops.Tokenizer.tokenStats(input, "doc_id", "text")), "plan")
      case other =>
        val out = other match {
          case "spans" =>
            graft.ops.DupSpans.dupSpansMulti(input, "doc_id", "text", maxLocalTokens = gate)
          case "minhash" =>
            graft.ops.Dedup.minHashLshPairs(input, "doc_id", "text", 3, 64, 16, 0.5,
              maxLocalTokens = gate)
        }
        (consume(out), tier(out.queryExecution.logical
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    }
    def gen(size: Long) = (op match {
      case "bpe" => bpeWords(spark, size)
      case _ => spanDocs(spark, size, nearCopies = op == "minhash", lens = lens)
    })
      .repartition(4).persist(StorageLevel.MEMORY_AND_DISK)
    val tiers = (if (op == "tokenstats") Seq("plan")
      else if (tierArgs.isEmpty) Seq("local", "distributed") else tierArgs.toSeq).map {
      case "plan" => "plan" -> 0L
      case "local" => "local" -> Long.MaxValue
      case "distributed" => "distributed" -> 0L
      case g => g -> g.stripPrefix("gate=").toLong
    }
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
          val (digest, ran) = call(input, gate)
          val sec = (System.nanoTime() - t0) / 1e9
          (sec, math.max(0L, peakAfterGc.get - base), digest, ran)
        }
        val (sec, _, digest, ran) = runs.minBy(_._1)
        val heap = runs.map(_._2).max
        println(f"""{"op":"${args.head}","size":$size,"rows":$rows,"tier":"$tier",""" +
          f""""sec":$sec%.3f,"heap_mb":${heap / 1048576.0}%.1f,"digest":$digest,""" +
          f""""ran":"$ran","out_rows":${outRows.get}}""")
      }
      input.unpersist()
    }
    spark.stop()
  }
}

package graft.ops

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed BPE vocabulary training (Sennrich et al. 2016 — the public
  * byte-pair-encoding algorithm): repeatedly find the most frequent
  * adjacent symbol pair across the corpus and merge it into one symbol.
  *
  * Corpus representation is RELATIONAL — one row per (word, position,
  * symbol) over DISTINCT words, weighted by word multiplicity — so every
  * training step is window/join algebra that an unrolled-CTE oracle can
  * replay exactly:
  *
  *   1. pair counts: `lead(sym)` over (word, pos) + a weighted groupBy;
  *   2. best pair: global argmax, ties broken (count desc, left asc,
  *      right asc) — ONE collected row per round (a scalar action, same
  *      budget class as a convergence check, never O(data));
  *   3. merge: BPE merges leftmost-first within overlap chains (aaa with
  *      pair (a,a) → (aa)a, not a(aa)). Relationally: mark candidate
  *      positions, group CHAINED candidates (each one's right element is
  *      the next one's left) into runs, keep the odd-indexed members of
  *      each run — exactly greedy leftmost non-overlapping — then rewrite
  *      kept left symbols to the merged symbol and delete their right
  *      rows.
  *
  * Every structure is bounded: rows = Σ|distinct word|, pair-count table
  * ≤ |symbol vocab|², per-round driver traffic = one row. At 100 TB the
  * distinct-word table is the same vocabulary-sized object the tokenizer
  * and rare-token scorer already key on.
  *
  * Two tiers, gated on Σ length(w) — the distributed tier's initial row
  * count: within `maxLocalSymbols` one probe and one collect
  * bring the words to the driver and every round runs there, over
  * interned symbol ids, with the same argmax and greedy leftmost merge;
  * tasks then replay the learned merges per word ([[segment]]) for the
  * segmentation. Beyond the cap every round stays window/join algebra as
  * above.
  *
  * Symbols are Spark's characters: `length` and `substring` step through
  * the stored UTF-8 bytes by each lead byte's sequence length, so a byte
  * that is not valid UTF-8 is a symbol of its own, kept as stored. The
  * merge table holds symbols decoded to `String` (such a byte becomes
  * U+FFFD), and on both tiers a merge applies to the symbols equal to
  * its strings' UTF-8 bytes.
  */
object BpeTrain {

  /** @param words (w, n_w) distinct words with multiplicities
    * @return (merges, rows): merges = (round, left, right, pair_count)
    *         in training order; rows = final segmentation
    *         (w, pos, sym) — pos keeps the ORIGINAL character index of
    *         each surviving symbol's first character.
    * @param maxLocalSymbols driver-local tier cap on Σ length(w) (and on
    *   the word count): within it the words are collected once and the
    *   merges are learned on the driver. `merges` is then a LocalRelation
    *   and `rows` a lazy frame that tasks compute from the collected
    *   words' own RDD (no job runs until it is consumed), both with the
    *   distributed tier's schemas. Inputs with a null, empty or duplicate
    *   `w`, a null `n_w`, or non-string/non-integral columns fall through
    *   to the distributed tier, as does anything over the cap; 0 forces it.
    *   That tier reads the same RDD as the probe, so after a fall-through
    *   the shuffle upstream of the words is not run again.
    *   The default is measured (`graft.tools.TextTierSweep bpe`, 4 cores,
    *   3 rounds): at 2.5M symbols (310k words) the local tier took 1.6 s
    *   against 18.6 s distributed and raised a 2 GB heap by at most
    *   ~350 MB (~290 MB in a 1 GB heap); at 5M it still ran in 2.8 s but
    *   raised a 1 GB heap by ~560 MB, more than half of it.
    */
  def train(words: DataFrame, rounds: Int,
      maxLocalSymbols: Long = 2_500_000L): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val spark = words.sparkSession
    import spark.implicits._
    val input = words.select($"w", $"n_w")
    val nwType = input.schema("n_w").dataType
    val typed = input.schema("w").dataType == StringType &&
      Set[DataType](ByteType, ShortType, IntegerType, LongType)(nwType)
    // the one RDD of the words that the probe, the collect, the local
    // segmentation and the distributed tier all read; rows are copied
    // because the collect keeps them
    lazy val in = input.queryExecution.toRdd.map(_.copy())
    // a null or empty word counts 1, so the word count is bounded too
    val got = if (!typed) None else graft.core.Gate.collectWithin(in, maxLocalSymbols) { r =>
      if (r.isNullAt(0)) 1L else math.max(1L, r.getUTF8String(0).numChars.toLong)
    }
    got.flatMap(localWords(_, nwType)) match {
      case Some(ws) =>
        val merges = learn(ws, rounds)
        val segs = segment(in, merges.map(m => (m._2, m._3))).setName(SegmentsRdd)
        return (mergesFrame(spark, merges),
          shims.dataFrameOf(spark, segs, segmentSchema(input.schema("w").nullable)))
      case None => // over the cap or a contract edge: distributed tier
    }
    val wn = shims.dataFrameOf(spark, in, input.schema)
    var rows = wn.select($"w", explode(expr("sequence(1, length(w))")).as("pos"))
      .withColumn("sym", expr("substring(w, pos, 1)"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    val win = Window.partitionBy($"w").orderBy($"pos")
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val withNext = rows
        .withColumn("nsym", lead($"sym", 1).over(win))
        .withColumn("npos", lead($"pos", 1).over(win))
      val counts = withNext.where($"nsym".isNotNull)
        .join(wn, "w")
        .groupBy($"sym", $"nsym")
        .agg(sum($"n_w").as("cnt"))
      val best = counts.orderBy($"cnt".desc, $"sym".asc, $"nsym".asc)
        .limit(1).as[(String, String, Long)].collect()
      if (best.isEmpty) exhausted = true
      else {
        val (ba, bb, cnt) = best(0)
        merges += ((r, ba, bb, cnt))
        rows = mergeStep(rows, ba, bb).localCheckpoint(true)
      }
      r += 1
    }
    (mergesFrame(spark, merges.result()), rows)
  }

  private def mergesFrame(spark: SparkSession,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    spark.createDataset(merges).toDF("round", "left", "right", "pair_count")
  }

  private def segmentSchema(wNullable: Boolean) =
    StructType(Seq(StructField("w", StringType, wNullable),
      StructField("pos", IntegerType, nullable = false),
      StructField("sym", StringType, wNullable)))

  /** The name of the local tier's segmentation RDD. */
  private val SegmentsRdd = "bpe local segmentation"

  /** Whether `rows`, [[train]]'s segmentation, came from the local tier. */
  def ranLocalTier(rows: DataFrame): Boolean = rows.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.name == SegmentsRdd
    case _ => false
  }

  /** The collected words as (w, n_w), or None when one of them is a word
    * the distributed tier treats specially — a null or empty `w`, whose
    * `sequence(1, 0)` counts down; a duplicate `w`, which its join
    * multiplies; a null `n_w` — so that tier must run. */
  private def localWords(got: Array[InternalRow], nwType: DataType)
      : Option[Array[(UTF8String, Long)]] = {
    val seen = mutable.HashSet.empty[UTF8String]
    val ok = got.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
      r.getUTF8String(0).numBytes > 0 && seen.add(r.getUTF8String(0)))
    if (ok) Some(got.map(r => (r.getUTF8String(0), r.get(1, nwType).asInstanceOf[Number].longValue)))
    else None
  }

  /** Byte offsets of `w`'s characters as `length` and `substring` step
    * through them (by each lead byte's sequence length; a byte that
    * starts no sequence is one character), then the end. */
  private def charOffsets(w: UTF8String): Array[Int] = {
    val offs = new Array[Int](w.numChars + 1)
    for (c <- 1 until offs.length) offs(c) =
      math.min(w.numBytes, offs(c - 1) + UTF8String.numBytesForFirstByte(w.getByte(offs(c - 1))))
    offs
  }

  private def slice(w: UTF8String, from: Int, until: Int): UTF8String =
    UTF8String.fromAddress(w.getBaseObject, w.getBaseOffset + from, until - from)

  /** One merge of (a, b) into ab over a word's first `len` symbols `s`
    * (ids) and their first characters' indices `p`: greedy leftmost
    * non-overlapping, by one left-to-right scan that keeps the left
    * symbol's index. Returns the new length. */
  private def mergePair(s: Array[Int], p: Array[Int], len: Int, a: Int, b: Int, ab: Int): Int = {
    var j = 0
    var k = 0
    while (j < len) {
      if (j + 1 < len && s(j) == a && s(j + 1) == b) {
        s(k) = ab; p(k) = p(j); j += 2
      } else { s(k) = s(j); p(k) = p(j); j += 1 }
      k += 1
    }
    k
  }

  /** [[train]]'s rounds on the driver, over the words' characters
    * interned to ids: each round recounts the n_w-weighted adjacent pairs,
    * takes the argmax under (count desc, left asc, right asc) in byte
    * order, records it, and merges the pair as recorded (see
    * [[BpeTrain]]). */
  private def learn(words: Array[(UTF8String, Long)], rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    val names = mutable.ArrayBuffer.empty[UTF8String]
    val ids = mutable.HashMap.empty[UTF8String, Int]
    def intern(s: UTF8String): Int = ids.getOrElseUpdate(s, { names += s; names.size - 1 })
    val syms = words.map { case (w, _) =>
      val offs = charOffsets(w)
      Array.tabulate(offs.length - 1)(c => intern(slice(w, offs(c), offs(c + 1))))
    }
    val len = syms.map(_.length)
    // mergePair's positions, which training does not read: one scratch array
    val scratch = new Array[Int](len.foldLeft(0)(math.max))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = mutable.LongMap.empty[Long]
      for (i <- words.indices; j <- 0 until len(i) - 1) {
        val k = (syms(i)(j).toLong << 32) | syms(i)(j + 1)
        counts(k) = counts.getOrElse(k, 0L) + words(i)._2
      }
      if (counts.isEmpty) exhausted = true
      else {
        def before(k: Long, c: Long, bk: Long, bc: Long): Boolean =
          c > bc || c == bc && {
            val l = names((k >>> 32).toInt).binaryCompare(names((bk >>> 32).toInt))
            l < 0 || l == 0 && names(k.toInt).binaryCompare(names(bk.toInt)) < 0
          }
        val (bk, bc) = counts.reduce((x, y) => if (before(y._1, y._2, x._1, x._2)) y else x)
        val (left, right) = (names((bk >>> 32).toInt).toString, names(bk.toInt).toString)
        merges += ((r, left, right, bc))
        (ids.get(UTF8String.fromString(left)), ids.get(UTF8String.fromString(right))) match {
          case (Some(a), Some(b)) =>
            val ab = intern(UTF8String.concat(names(a), names(b)))
            for (i <- words.indices) len(i) = mergePair(syms(i), scratch, len(i), a, b, ab)
          case _ => // no symbol has a recorded string's bytes: the pair merges nothing
        }
      }
      r += 1
    }
    merges.result()
  }

  /** The one segmentation kernel, in tasks: each non-empty `w` (column 0
    * of `rows`) split into characters, then `merges` applied in order,
    * each as [[mergePair]] does in training; one (w, pos, sym) row per
    * final symbol, `sym` the slice of `w`'s bytes it covers. The output
    * row is reused; the scan over it projects each row as it comes. */
  private def segment(rows: RDD[InternalRow], merges: Seq[(String, String)]): RDD[InternalRow] = {
    val pairs = merges.map { case (a, b) => (UTF8String.fromString(a), UTF8String.fromString(b)) }
    rows.mapPartitions { it =>
      val ids = mutable.HashMap.empty[UTF8String, Int]
      def id(s: UTF8String): Int = ids.getOrElseUpdate(s, ids.size)
      val ms = pairs.map { case (a, b) => (id(a), id(b), id(UTF8String.concat(a, b))) }.toArray
      val out = new SpecificInternalRow(Seq(StringType, IntegerType, StringType))
      it.flatMap { r =>
        val w = if (r.isNullAt(0)) UTF8String.EMPTY_UTF8 else r.getUTF8String(0).clone()
        val offs = charOffsets(w)
        val s = Array.tabulate(offs.length - 1)(c => ids.getOrElse(slice(w, offs(c), offs(c + 1)), -1))
        val p = Array.range(0, s.length)
        var len = s.length
        for ((a, b, ab) <- ms) len = mergePair(s, p, len, a, b, ab)
        Iterator.tabulate(len) { k =>
          out.update(0, w)
          out.setInt(1, p(k) + 1)
          out.update(2, slice(w, offs(p(k)), if (k + 1 < len) offs(p(k + 1)) else w.numBytes))
          out
        }
      }
    }
  }

  /** BPE ENCODING: apply an already-learned merge list, in order, to a
    * fresh word set — the deployment-side half of BPE (training picks the
    * merges; encoding replays them). It runs [[segment]], the kernel that
    * gives the local tier's segmentation, so on the training corpus it
    * reproduces the training segmentation exactly (spec-asserted); null
    * and empty words give no rows.
    */
  def encode(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val distinct = words.select(col("w")).distinct()
    require(distinct.schema.head.dataType == StringType, "encode needs a string column w")
    shims.dataFrameOf(words.sparkSession, segment(distinct.queryExecution.toRdd, merges),
      segmentSchema(distinct.schema.head.nullable))
  }

  /** One merge round: rewrite greedy-leftmost non-overlapping (ba, bb)
    * adjacencies to the merged symbol (see the run trick in the object
    * doc). The distributed tier's merge. */
  private def mergeStep(rows: DataFrame, ba: String, bb: String): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val win = Window.partitionBy($"w").orderBy($"pos")
    val withNext = rows
      .withColumn("nsym", lead($"sym", 1).over(win))
      .withColumn("npos", lead($"pos", 1).over(win))
    val cand = withNext
      .where($"sym" === ba && $"nsym" === bb)
      .select($"w", $"pos", $"npos")
    // chained candidates (right element == next candidate's left element)
    // form runs; keep odd positions within each run = greedy leftmost
    // non-overlapping
    val kept = cand
      .withColumn("rs",
        when(lag($"npos", 1).over(win).isNull ||
          lag($"npos", 1).over(win) =!= $"pos", 1).otherwise(0))
      .withColumn("run",
        sum($"rs").over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("k",
        row_number().over(Window.partitionBy($"w", $"run").orderBy($"pos")))
      .where($"k" % 2 === 1)
      .select($"w", $"pos", $"npos")
    rows
      .join(kept.select($"w", $"pos", lit(1).as("__m")), Seq("w", "pos"), "left")
      .join(kept.select($"w", $"npos".as("pos"), lit(1).as("__d")),
        Seq("w", "pos"), "left")
      .where($"__d".isNull)
      .select($"w", $"pos",
        when($"__m".isNotNull, lit(ba + bb)).otherwise($"sym").as("sym"))
  }

  /** Corpus words (w, n_w) in the tokenizer's word convention:
    * lowercased `[a-z0-9]+` runs, multiplicity = occurrence count. */
  def corpusWords(docs: DataFrame, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(
        regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("n_w"))
  }
}

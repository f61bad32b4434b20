package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * beyond it every round stays window/join algebra as above.
  */
object BpeTrain {

  /** @param words (w, n_w) distinct words with multiplicities
    * @return (merges, rows): merges = (round, left, right, pair_count)
    *         in training order; rows = final segmentation
    *         (w, pos, sym) — pos keeps the ORIGINAL character index of
    *         each surviving symbol's first character.
    * @param maxLocalSymbols driver-local tier cap on Σ length(w) (and on
    *   the word count): within it the words are collected once and
    *   training runs on the driver, returning LocalRelations with the
    *   distributed tier's schemas. Inputs with a null, empty or duplicate
    *   `w`, a null `n_w`, or non-string/non-integral columns fall through
    *   to the distributed tier, as does anything over the cap; 0 forces it.
    *   The default is measured (`graft.tools.TextTierSweep bpe`, 4 cores,
    *   3 rounds): at 300k symbols the local tier took 2.6–3.0 s against
    *   8.1 s distributed and raised the heap by at most ~420 MB; at 1M it
    *   was still faster (7–8 s against 12–16 s) but needed ~1 GB, mostly
    *   the segmentation's LocalRelation (about 1 KB per output row across
    *   its Row, InternalRow and UnsafeRow copies).
    */
  def train(words: DataFrame, rounds: Int,
      maxLocalSymbols: Long = 300_000L): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val spark = words.sparkSession
    import spark.implicits._
    val wn = words.select($"w", $"n_w")
    collectWords(wn, maxLocalSymbols) match {
      case Some(ws) => return localTrain(spark, ws, rounds, wn.schema("w").nullable)
      case None => // over the cap or a contract edge: distributed tier
    }
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

  /** The local tier's input, or None when it must not run: a probe of
    * Σ length(w) (a null or empty word counting 1, so the word count is
    * bounded too) and — only within the cap — one collect. Words the
    * distributed tier treats specially (null or empty `w`, whose
    * `sequence(1, 0)` counts down; duplicate `w`, which its join
    * multiplies; null `n_w`) route there instead. */
  private def collectWords(wn: DataFrame, cap: Long): Option[Array[(String, Long)]] = {
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    if (wn.schema("w").dataType != StringType ||
        !integral(wn.schema("n_w").dataType)) return None
    val rows = graft.core.Gate.collectWithin(wn, cap) { r =>
      val w = r.getString(0)
      if (w == null) 1L else math.max(1L, w.codePointCount(0, w.length))
    }.getOrElse(return None)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val ok = rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
      r.getString(0).nonEmpty && seen.add(r.getString(0)))
    if (ok) Some(rows.map(r => (r.getString(0), r.getAs[Number](1).longValue))) else None
  }

  /** [[train]]'s rounds on the driver. Symbols are code points (Spark's
    * `length`/`substring` unit) interned to ids; each round recounts the
    * n_w-weighted adjacent pairs, takes the argmax under (count desc,
    * left asc, right asc) in UTF-8 order, and merges greedy leftmost
    * non-overlapping by one left-to-right scan that keeps the left
    * symbol's original position. */
  private def localTrain(spark: SparkSession, words: Array[(String, Long)],
      rounds: Int, wNullable: Boolean): (DataFrame, DataFrame) = {
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    def intern(s: String): Int = ids.getOrElseUpdate(s, { names += s; names.size - 1 })
    val cps = words.map(_._1.codePoints().toArray)
    val syms = cps.map(_.map(cp => intern(new String(Character.toChars(cp)))))
    val pos = cps.map(c => Array.tabulate(c.length)(_ + 1))
    val len = cps.map(_.length)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = scala.collection.mutable.LongMap.empty[Long]
      for (i <- words.indices; j <- 0 until len(i) - 1) {
        val k = (syms(i)(j).toLong << 32) | syms(i)(j + 1)
        counts(k) = counts.getOrElse(k, 0L) + words(i)._2
      }
      if (counts.isEmpty) exhausted = true
      else {
        def before(k: Long, c: Long, bk: Long, bc: Long): Boolean =
          c > bc || c == bc && {
            val l = graft.core.Utf8Order.compare(names((k >>> 32).toInt), names((bk >>> 32).toInt))
            l < 0 || l == 0 &&
              graft.core.Utf8Order.lt(names(k.toInt), names(bk.toInt))
          }
        val (bk, bc) = counts.reduce((x, y) => if (before(y._1, y._2, x._1, x._2)) y else x)
        val (a, b) = ((bk >>> 32).toInt, bk.toInt)
        merges += ((r, names(a), names(b), bc))
        val ab = intern(names(a) + names(b))
        for (i <- words.indices) {
          val s = syms(i); val p = pos(i)
          var j = 0
          var k = 0
          while (j < len(i)) {
            if (j + 1 < len(i) && s(j) == a && s(j + 1) == b) {
              s(k) = ab; p(k) = p(j); j += 2
            } else { s(k) = s(j); p(k) = p(j); j += 1 }
            k += 1
          }
          len(i) = k
        }
      }
      r += 1
    }
    val out = new java.util.ArrayList[Row]()
    for (i <- words.indices; j <- 0 until len(i))
      out.add(Row(words(i)._1, pos(i)(j), names(syms(i)(j))))
    val schema = StructType(Seq(StructField("w", StringType, wNullable),
      StructField("pos", IntegerType, nullable = false),
      StructField("sym", StringType, wNullable)))
    (mergesFrame(spark, merges.result()), spark.createDataFrame(out, schema))
  }

  /** BPE ENCODING: apply an already-learned merge list, in order, to a
    * fresh word set — the deployment-side half of BPE (training picks the
    * merges; encoding replays them). On the training corpus itself this
    * reproduces the training segmentation exactly (spec-asserted); on new
    * words it applies the same greedy leftmost semantics per merge.
    */
  def encode(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    var rows = words.select($"w").distinct()
      .select($"w", explode(expr("sequence(1, length(w))")).as("pos"))
      .withColumn("sym", expr("substring(w, pos, 1)"))
      .localCheckpoint(true)
    for ((ba, bb) <- merges)
      rows = mergeStep(rows, ba, bb).localCheckpoint(true)
    rows
  }

  /** One merge round: rewrite greedy-leftmost non-overlapping (ba, bb)
    * adjacencies to the merged symbol (see the run trick in the object
    * doc). Shared by training (argmax-chosen pair) and encoding (given
    * pair). */
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

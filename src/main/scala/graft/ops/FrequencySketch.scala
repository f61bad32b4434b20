package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode & Muthukrishnan 2005) — approximate
  * frequencies from a fixed d×w counter grid.
  *
  * At 100 TB, exact per-item counts are a full shuffle keyed by item with
  * one output row per distinct item (billions for token/url-shaped keys).
  * The sketch is ONE aggregation pass into at most d·w counter rows —
  * map-side partial aggregation compresses each partition to the grid
  * size before the (tiny) shuffle — and it is MERGEABLE: counters of a
  * union are the elementwise sums, so per-day/per-shard sketches roll up
  * without touching raw data. Any item's frequency is then answered from
  * d counter lookups: est(x) = min_j grid[j][h_j(x)], which never
  * underestimates and overestimates by at most ~N·e/w with probability
  * 1 - e^-d.
  *
  * The d hashes are the d consecutive 32-bit lanes of ONE md5 per item
  * (hash once, slice d times — the same idiom as the portable
  * MinHash/SimHash operators), and counters are plain COUNTs —
  * order-insensitive integer math end-to-end, so sketch AND estimates
  * reproduce exactly in any engine (q_heavy_hitters oracle).
  */
object FrequencySketch {

  // j is a COLUMN (it comes from the explode), so the slice offset is an
  // expression over the fixed internal names (__md5, j); hex_to_long is
  // the codegen parse (conv() measured 8x the md5's own cost at sf0.1)
  private def lane(width: Int): Column =
    graft.functions.functions.hex_to_long(
      expr("substring(__md5, j * 8 + 1, 8)")) % width

  private def rowIds(depth: Int): Column =
    explode(array((0 until depth).map(j => lit(j)): _*))

  // (j, idx, cnt) is the sketch's PUBLIC schema and (__md5, j) the working
  // names — an itemCol with one of these names would silently alias into
  // the lane expressions / the estimate join (ADVICE r4). Reject loudly.
  private def checkItemCol(itemCol: String): Unit =
    require(!Set("j", "idx", "cnt", "__md5", "__cms_it").contains(itemCol),
      s"itemCol '$itemCol' collides with the sketch's internal column " +
        "names {j, idx, cnt, __md5, __cms_it}; alias the column before " +
        "sketching")

  /** One pass over `df`: the sketch as (j, idx, cnt) rows, j < depth,
    * idx < width. Null items are skipped (they are not a value). */
  def cmsTable(df: DataFrame, itemCol: String, depth: Int, width: Int): DataFrame = {
    checkItemCol(itemCol)
    require(depth >= 1 && depth <= 4,
      s"depth must be in [1, 4] (md5 yields four 32-bit lanes; e^-4 ≈ 2% " +
        s"failure probability is the standard operating point), got $depth")
    require(width >= 16 && width <= (1 << 30), s"width must be in [16, 2^30], got $width")
    // r12 OPT (guide §2.1/§6): the d·w grid build is md5-bound PER ROW,
    // but Spark sizes scan splits by BYTES, so a small single-file input
    // funnels the whole hash pass through 2-3 tasks while the other cores
    // idle (profiled: 1.9 s of q_heavy_hitters' 3.0 s at sf0.1 in a
    // 3-task stage). Widen to full parallelism — a no-op at real scale
    // where the scan is already wider than the core count, so nothing is
    // tuned to local[32]. r13 (ADVICE r12): ROUND-ROBIN, not hash-by-item:
    // in a heavy-hitters workload every occurrence of the hottest item
    // hashes to one partition, re-serializing the md5 pass on exactly the
    // skewed inputs that matter; the downstream groupBy count is
    // order-free, so round-robin is safe and spreads evenly.
    Similarity.widenRoundRobin(
        df.where(col(itemCol).isNotNull)
          .select(col(itemCol).cast("string").as("__cms_it")))
      .select(md5(col("__cms_it")).as("__md5"))
      .select(rowIds(depth).as("j"), col("__md5"))
      .select(col("j"), lane(width).as("idx"))
      .groupBy("j", "idx").agg(count(lit(1)).as("cnt"))
  }

  /** Estimated frequency for every distinct item of `items`:
    * est = min over the d counters the item hashes to (0 when a counter
    * row is absent — an empty bucket). Never underestimates. */
  def estimateCounts(sketch: DataFrame, items: DataFrame, itemCol: String,
      depth: Int, width: Int): DataFrame = {
    checkItemCol(itemCol)
    require(Set("j", "idx", "cnt").subsetOf(sketch.columns.toSet),
      "sketch must be a cmsTable result with columns (j, idx, cnt)")
    items.select(col(itemCol)).where(col(itemCol).isNotNull).distinct()
      .select(col(itemCol), md5(col(itemCol).cast("string")).as("__md5"))
      .select(col(itemCol), rowIds(depth).as("j"), col("__md5"))
      .withColumn("idx", lane(width))
      .join(sketch, Seq("j", "idx"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Items of `items` whose estimated frequency reaches `threshold` — a
    * superset of the true heavy hitters (no false negatives, by the
    * never-underestimate guarantee). */
  def heavyHitters(df: DataFrame, items: DataFrame, itemCol: String,
      depth: Int, width: Int, threshold: Long): DataFrame =
    estimateCounts(cmsTable(df, itemCol, depth, width), items, itemCol,
      depth, width)
      .where(col("est") >= threshold)

  /** Sketch-error audit — the trust-but-verify step before anyone sizes
    * a production sketch from theory alone: build the sketch AND the
    * exact counts from the same pass-able input, then histogram the
    * per-item overcount `est − exact`. By the CMS guarantee every error
    * is ≥ 0 (property-spec'd); the histogram's tail is the real-world
    * answer to "is depth×width enough for this key distribution".
    *
    * Scale shape: the sketch build (one pass, d·w counters), one exact
    * item count (the same partial-aggregating shuffle any groupBy costs —
    * this audit is for SAMPLES or capped key domains at 100 TB), one
    * d-row probe join, and an error-cardinality-sized final histogram.
    *
    * Output: (err, n_items) ordered by err.
    */
  def errorAudit(df: DataFrame, itemCol: String, depth: Int,
      width: Int): DataFrame = {
    checkItemCol(itemCol)
    val exact = df.select(col(itemCol)).where(col(itemCol).isNotNull)
      .groupBy(col(itemCol)).agg(count(lit(1)).as("exact"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val est = estimateCounts(cmsTable(df, itemCol, depth, width),
      exact.select(col(itemCol)), itemCol, depth, width)
    est.join(exact, Seq(itemCol))
      .groupBy((col("est") - col("exact")).as("err"))
      .agg(count(lit(1)).as("n_items"))
  }
}

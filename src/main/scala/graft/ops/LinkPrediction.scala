package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link prediction by the Resource-Allocation index (Zhou, Lü & Zhang
  * 2009): for a non-adjacent pair (a, b), RA = Σ_{w ∈ N(a)∩N(b)} 1/deg(w)
  * — common neighbors weighted down by how promiscuous they are. Chosen
  * over the near-identical Adamic-Adar (1/ln deg) deliberately: 1/deg is
  * RATIONAL, so the ×1e9 integer-div quantization `1e9 div deg` is exact
  * in any engine, whereas ln() is a libm call whose last ulp differs
  * between implementations — RA is oracle-portable, AA is not.
  *
  * Shape: one wedge self-join keyed by the common neighbor (center),
  * aggregated per candidate pair, anti-joined against existing edges.
  * Wedge cost is Σ deg(w)² over centers, so one celebrity hub dominates
  * the whole job while contributing ≈ 0 weight per pair (1/deg ≈ 0) —
  * centers above `maxCenterDegree` are therefore EXCLUDED, the same
  * hot-key cap pattern as the LSH bucket caps, with a quantified error:
  * each dropped center under-counts an affected pair's score by
  * less than 1e9/maxCenterDegree.
  */
object LinkPrediction {

  private val Scale = 1000000000L

  private def canonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .distinct()

  /** In-memory replay of the capped-center wedge pipeline. Per center w
    * with deg(w) <= cap, every UTF8-ordered pair of distinct neighbors
    * accumulates (count, Σ Scale div deg(w)); existing edges and pairs
    * below `minCommon` drop. Returns (a, b, n_common, ra_q, 0) when
    * `withRa`, else (a, b, n_common, deg_a, deg_b) with the EXACT uncapped
    * degrees. Null when Σ capped-deg² exceeds the work budget.
    */
  private def localWedgeScores(canon: Array[(String, String)],
      maxCenterDegree: Int, minCommon: Int,
      withRa: Boolean): Array[(String, String, Long, Long, Long)] = {
    import graft.core.Utf8Order
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      canon.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
    val ex = canon.map { case (a, b) => (idOf(a), idOf(b)) }
    val deg = new Array[Long](n)
    ex.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    var budget = 0L
    var v = 0
    while (v < n) {
      if (deg(v) <= maxCenterDegree) budget += deg(v) * deg(v)
      v += 1
    }
    if (budget > 2000000000L) return null
    // adjacency CSR (both directions)
    val off = new Array[Int](n + 1)
    v = 0
    while (v < n) { off(v + 1) = off(v) + deg(v).toInt; v += 1 }
    val nbr = new Array[Int](2 * ex.length)
    val cur = off.clone()
    ex.foreach { case (a, b) =>
      nbr(cur(a)) = b; cur(a) += 1
      nbr(cur(b)) = a; cur(b) += 1
    }
    // r13 OPT (guide §1.2 per-task work — here, per-WEDGE work): the key
    // function ran a UTF-8 string comparison per wedge and the two tallies
    // were generic HashMaps boxing every key — together the dominant cost
    // of the replay (the distributed jobs account for ~1.2 s of a ~3 s
    // query; the rest was this loop). Precompute each node's rank in the
    // UTF-8 total order ONCE (rank is monotone in Utf8Order, so min/max by
    // rank picks the same (a, b) orientation) and tally into open-addressed
    // LongMaps. Same wedges, same integer arithmetic, same pair set.
    val rank = new Array[Int](n)
    locally {
      val order = Array.range(0, n)
        .sortWith((a, b) => Utf8Order.lt(names(a), names(b)))
      var r0 = 0
      while (r0 < n) { rank(order(r0)) = r0; r0 += 1 }
    }
    val edgeSet = new java.util.HashSet[Long](ex.length * 2)
    def key(i: Int, j: Int): Long =
      if (rank(i) < rank(j)) i.toLong * n + j
      else j.toLong * n + i
    ex.foreach { case (a, b) => edgeSet.add(key(a, b)) }
    val cnt = new scala.collection.mutable.LongMap[Long]
    val raq = new scala.collection.mutable.LongMap[Long]
    v = 0
    while (v < n) {
      if (deg(v) <= maxCenterDegree) {
        val share = Scale / deg(v)
        var i = off(v)
        while (i < off(v + 1)) {
          var j = i + 1
          while (j < off(v + 1)) {
            val k = key(nbr(i), nbr(j))
            cnt(k) = cnt.getOrElse(k, 0L) + 1
            if (withRa) raq(k) = raq.getOrElse(k, 0L) + share
            j += 1
          }
          i += 1
        }
      }
      v += 1
    }
    cnt.iterator
      .filter { case (k, c) => c >= minCommon && !edgeSet.contains(k) }
      .map { case (k, c) =>
        val i = (k / n).toInt; val j = (k % n).toInt
        if (withRa) (names(i), names(j), c, raq(k), 0L)
        else (names(i), names(j), c, deg(i), deg(j))
      }
      .toArray
  }

  /** Candidate (a, b) non-edges with >= `minCommon` common neighbors:
    * (a, b, n_common, ra_q) where ra_q = Σ floor(1e9 / deg(w)). */
  def resourceAllocation(edges: DataFrame, srcCol: String, dstCol: String,
      maxCenterDegree: Int = 1024, minCommon: Int = 1,
      maxLocalEdges: Long = 2000000L): DataFrame = {
    require(maxCenterDegree >= 2, s"maxCenterDegree must be >= 2, got $maxCenterDegree")

    // Gated driver-local replay (the Scc/LPA pattern): the capped-center
    // wedge work is Σ_{deg(w)<=cap} deg(w)² — bounded and budget-gated —
    // so under the edge cap the whole wedge+score+anti-join pipeline
    // replays in memory with identical integer arithmetic (parity-spec'd
    // with the gate forced to 0)
    val spark = edges.sparkSession
    import spark.implicits._
    Gate.collectAtMost(canonicalEdges(edges, srcCol, dstCol).as[(String, String)],
        maxLocalEdges) match {
      case Some(capped) =>
        val out = localWedgeScores(capped, maxCenterDegree, minCommon,
          withRa = true)
        if (out != null)
          return spark.createDataFrame(
              out.map(r => (r._1, r._2, r._3, r._4)).toIndexedSeq)
            .toDF("a", "b", "n_common", "ra_q")
        // wedge budget exceeded: fall through to the distributed joins
      case None => // over the cap: distributed tier
    }
    val e = edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .distinct()
      .persist() // consumed by adjacency AND the final anti-join
    val adj = e.select(col("x").as("w"), col("y").as("n"))
      .union(e.select(col("y").as("w"), col("x").as("n")))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("d"))
    val okCenters = deg.where(col("d") <= maxCenterDegree)
    // wedges through capped centers; carry the center degree for scoring
    val a1 = adj.join(okCenters, "w").select(col("w"), col("n").as("a"), col("d"))
    val a2 = adj.select(col("w"), col("n").as("b"))
    val cand = a1.join(a2, Seq("w"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr(s"$Scale div d")).as("ra_q"))
      .where(col("n_common") >= minCommon)
    cand
      .join(e.select(col("x").as("a"), col("y").as("b")), Seq("a", "b"), "left_anti")
  }

  /** Neighborhood-Jaccard link scores — the normalized cousin of
    * [[resourceAllocation]]: for a non-adjacent candidate pair (a, b),
    *
    *   jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|
    *           = n_common / (deg(a) + deg(b) − n_common)
    *
    * emitted as the exact integer per-mille
    * `(1000 · n_common) div (deg_a + deg_b − n_common)`, so the driver
    * query gets a hash-exact oracle. Same wedge shape and hot-center cap
    * as RA (common-neighbor counting through centers with degree ≤
    * `maxCenterDegree`; each dropped center under-counts n_common by 1 —
    * the denominator degrees stay exact). Output:
    * (a, b, n_common, deg_a, deg_b, jaccard_permille).
    */
  def neighborJaccard(edges: DataFrame, srcCol: String, dstCol: String,
      maxCenterDegree: Int = 1024, minCommon: Int = 1,
      maxLocalEdges: Long = 2000000L): DataFrame = {
    require(maxCenterDegree >= 2, s"maxCenterDegree must be >= 2, got $maxCenterDegree")

    // same gated local replay as [[resourceAllocation]] (shared wedge
    // core; denominator degrees stay the exact uncapped ones)
    val spark = edges.sparkSession
    import spark.implicits._
    Gate.collectAtMost(canonicalEdges(edges, srcCol, dstCol).as[(String, String)],
        maxLocalEdges) match {
      case Some(capped) =>
        val out = localWedgeScores(capped, maxCenterDegree, minCommon,
          withRa = false)
        if (out != null)
          return spark.createDataFrame(out.toIndexedSeq)
            .toDF("a", "b", "n_common", "deg_a", "deg_b")
            .withColumn("jaccard_permille",
              expr("(1000 * n_common) div (deg_a + deg_b - n_common)"))
        // wedge budget exceeded: fall through to the distributed joins
      case None => // over the cap: distributed tier
    }
    val e = edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .distinct()
      .persist() // adjacency, degree joins, AND the final anti-join
    val adj = e.select(col("x").as("w"), col("y").as("n"))
      .union(e.select(col("y").as("w"), col("x").as("n")))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("d"))
    val okCenters = deg.where(col("d") <= maxCenterDegree).select("w")
    // cap ONE wedge side only: the equi-join on w means a wedge survives
    // iff its center is capped, and the plain-adj side avoids a second
    // semi-join pass (RA's shape; measured on q_jaccard_links)
    val capped = adj.join(okCenters, Seq("w"), "left_semi")
    val cand = capped.join(adj.select(col("w"), col("n").as("b")), Seq("w"))
      .where(col("n") < col("b"))
      .select(col("n").as("a"), col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))
      .where(col("n_common") >= minCommon)
    cand
      .join(e.select(col("x").as("a"), col("y").as("b")), Seq("a", "b"), "left_anti")
      .join(deg.select(col("w").as("a"), col("d").as("deg_a")), "a")
      .join(deg.select(col("w").as("b"), col("d").as("deg_b")), "b")
      .withColumn("jaccard_permille",
        expr("(1000 * n_common) div (deg_a + deg_b - n_common)"))
      .select(col("a"), col("b"), col("n_common"), col("deg_a"), col("deg_b"),
        col("jaccard_permille"))
  }

  /** Deterministic negative sampling — the other half of link-prediction
    * training data: for every node, one pseudo-random partner that is NOT
    * a neighbor. Candidates come from a fixed multiplicative permutation
    * over the node ranks (partner(r) = r·2654435761 mod n + 1, the
    * Knuth hash multiplier), so the sample is replayable in any engine —
    * no RNG, no rejection loop; real edges (either orientation) are
    * anti-joined away. Roughly one negative per node (fewer where the
    * map self-pairs or hits a true edge) — run with several `mult`
    * values for more.
    *
    * Shape: [[Ranks.globalRowNumber]] over the node set (range exchange),
    * one rank-keyed self-join for the pairing, two anti-joins against the
    * distinct edge set. `n` (one count job) must stay below ~3.4e9 so
    * rank·mult fits a long — far above any node set that wants
    * one-negative-per-node in one pass.
    */
  def negativeEdges(edges: DataFrame, srcCol: String, dstCol: String,
      mult: Long = 2654435761L): DataFrame = {
    require(mult > 0, s"mult must be positive, got $mult")
    val e = edges.select(col(srcCol).cast("string").as("s"),
        col(dstCol).cast("string").as("t"))
      .where(col("s").isNotNull && col("t").isNotNull && col("s") =!= col("t"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("s").as("node"))
      .union(e.select(col("t").as("node"))).distinct()
    val ranked = Ranks.globalRowNumber(nodes, Seq("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = ranked.count()
    require(n < 3_400_000_000L,
      s"rank * mult must fit a long: $n nodes is over the ~3.4e9 bound")
    val cand = ranked
      .withColumn("p", (col("grn") * mult) % n + 1L)
      .where(col("p") =!= col("grn"))
      .join(ranked.select(col("node").as("dst"), col("grn").as("p")),
        Seq("p"))
      .select(col("node").as("src"), col("dst"))
    cand
      .join(e, cand("src") === e("s") && cand("dst") === e("t"), "left_anti")
      .join(e, col("src") === e("t") && col("dst") === e("s"), "left_anti")
  }
}

package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by synchronized peeling: repeatedly delete every
  * node whose degree (in the surviving subgraph) is below k; what remains
  * is the k-core — the standard graph-mining density filter (and the
  * usual preprocessing step before community/triangle analytics on crawl
  * graphs).
  *
  * Each round is one degree aggregation plus two left-semi joins — pure
  * shuffle algebra, no vertex state in any task, `localCheckpoint` per
  * round to stop the plan nesting (same fixpoint hygiene as PageRank and
  * the alternating-star CC loop). Peeling halves nothing per round in the
  * worst case (a long chain peels one layer per round), so the bounded
  * variant runs a FIXED number of rounds: both Spark and the unrolled-CTE
  * DuckDB oracle compute the identical partial fixpoint whether or not
  * peeling has converged — the parity trick the fixed-point PageRank
  * oracle uses. [[kCoreFixpoint]] is the library entry that iterates to
  * convergence (edge-count equality) under a round cap.
  */
object KCore {

  private def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .distinct()

  private def degrees(e: DataFrame): DataFrame =
    e.select(col("x").as("node")).union(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  private def peelOnce(e: DataFrame, k: Int): DataFrame = {
    val keep = degrees(e).where(col("deg") >= k).select("node")
    e.join(keep.select(col("node").as("x")), Seq("x"), "left_semi")
      .join(keep.select(col("node").as("y")), Seq("y"), "left_semi")
      .select("x", "y")
  }

  /** Exactly `iters` peeling rounds, then the surviving (node, deg) —
    * deg measured in the surviving subgraph. Fixed rounds for
    * cross-engine parity; use [[kCoreFixpoint]] for guaranteed-converged
    * results. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      iters: Int, maxLocalEdges: Long = 5000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")

    // Gated driver-local replay (the Scc/LPA pattern): `iters` synchronized
    // peels cost 3 shuffles each; under the cap one capped collect + the
    // IDENTICAL rounds in memory wins by an order of magnitude
    // (parity-spec'd with the gate forced to 0). Above: the shuffle loop.
    val spark = edges.sparkSession
    import spark.implicits._
    Gate.collectAtMost(canonical(edges, srcCol, dstCol).as[(String, String)],
        maxLocalEdges) match {
      case Some(capped) =>
        return spark.createDataFrame(localKCore(capped, k, iters).toIndexedSeq)
          .toDF("node", "deg")
      case None => // over the cap: distributed tier
    }

    var e = canonical(edges, srcCol, dstCol).localCheckpoint(true)
    // checkpoint every other round: two rounds of join/agg nest fine, and
    // each eager materialization is a full job — halving them nearly
    // halves the scheduler-bound wall clock of small-graph peels
    for (i <- 1 to iters)
      e = if (i % 2 == 0 || i == iters) peelOnce(e, k).localCheckpoint(true)
          else peelOnce(e, k)
    degrees(e)
  }

  /** In-memory replay of exactly `iters` synchronized peels over the
    * collected canonical edge list: per round, delete every node whose
    * surviving degree < k and every edge touching one — the same partial
    * fixpoint as the distributed loop, then surviving (node, deg).
    */
  private def localKCore(canon: Array[(String, String)], k: Int,
      iters: Int): Array[(String, Long)] = {
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      canon.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
    val ex = canon.map { case (a, b) => (idOf(a), idOf(b)) }
    val alive = Array.fill(ex.length)(true)
    val deg = new Array[Long](n)
    var r = 0
    while (r < iters) {
      java.util.Arrays.fill(deg, 0L)
      ex.indices.foreach { i =>
        if (alive(i)) { deg(ex(i)._1) += 1; deg(ex(i)._2) += 1 }
      }
      ex.indices.foreach { i =>
        if (alive(i) && (deg(ex(i)._1) < k || deg(ex(i)._2) < k))
          alive(i) = false
      }
      r += 1
    }
    java.util.Arrays.fill(deg, 0L)
    ex.indices.foreach { i =>
      if (alive(i)) { deg(ex(i)._1) += 1; deg(ex(i)._2) += 1 }
    }
    (0 until n).iterator.filter(v => deg(v) > 0)
      .map(v => (names(v), deg(v))).toArray
  }

  /** Peel until the edge count stops changing (true k-core), capped at
    * `maxIters` rounds with a loud failure beyond. */
  def kCoreFixpoint(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIters: Int = 64): DataFrame = {
    var e = canonical(edges, srcCol, dstCol).localCheckpoint(true)
    var prev = e.count()
    var round = 0
    var converged = prev == 0L
    while (!converged && round < maxIters) {
      e = peelOnce(e, k).localCheckpoint(true)
      val n = e.count()
      converged = n == prev || n == 0L
      prev = n
      round += 1
    }
    require(converged, s"k-core peeling did not converge in $maxIters rounds")
    degrees(e)
  }
}

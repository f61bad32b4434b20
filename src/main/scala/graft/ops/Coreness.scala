package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Coreness (k-core numbers) for ALL nodes at once via the h-index
  * fixpoint (Lü, Zhou, Zhang, Stanley 2016): start every node at its
  * degree and repeat
  *
  *   c(v) ← H({ c(u) : u ∈ N(v) }),   H = h-index
  *                                       (max h with >= h values >= h)
  *
  * — the unique fixpoint is the core number (the largest k such that v
  * sits in the k-core), computing the ENTIRE k-core decomposition in one
  * run where [[KCore.kCore]] answers a single k. Values only decrease, so
  * a FIXED round count is a well-defined upper-bounding partial fixpoint
  * both engines reproduce exactly — the LPA/k-core oracle parity trick.
  *
  * Spark shape per round: one label⋈edge join, then per node the h-index
  * WITHOUT a window sort:
  *
  *   h = array_max(zip_with(sort_array(vals, desc), sequence(1, n), least))
  *
  * (for a descending list, min(rank, value) peaks exactly at the h-index)
  * — collect_list is degree-bounded per node, every function codegen
  * builtins, and the round is pure shuffle algebra. The same gated
  * driver-local replay as the other small-graph fixpoints runs the
  * identical rounds in memory under `maxLocalEdges`.
  *
  * Output: (node, core) after exactly `rounds` updates. Convergence to
  * the true decomposition (once rounds cover the graph's settling depth)
  * is spec-pinned against [[KCore.kCoreFixpoint]] membership.
  */
object Coreness {

  def hIndexRounds(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, maxLocalEdges: Long = 5000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val half = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where($"a".isNotNull && $"b".isNotNull && $"a" =!= $"b")
    val symRaw = half.union(half.select($"b".as("a"), $"a".as("b"))).distinct()

    Gate.collectAtMost(symRaw.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, Long)].toDF("node", "core")
        return spark.createDataFrame(localHIndex(capped, rounds).toIndexedSeq)
          .toDF("node", "core")
      case None => // over the cap: distributed tier
    }

    val sym = symRaw.localCheckpoint(true)
    var core = sym.groupBy($"a".as("node"))
      .agg(count(lit(1)).cast("long").as("core"))
      .localCheckpoint(true)
    for (i <- 1 to rounds) {
      val next = sym
        .join(core.select($"node".as("b"), $"core".as("nc")), "b")
        .groupBy($"a")
        .agg(sort_array(collect_list($"nc"), asc = false).as("vals"))
        .select($"a".as("node"),
          expr("array_max(zip_with(vals, sequence(CAST(1 AS BIGINT), " +
            "CAST(size(vals) AS BIGINT)), (v, i) -> least(v, i)))")
            .as("core"))
      core = if (i % 2 == 0 || i == rounds) next.localCheckpoint(true) else next
    }
    core
  }

  /** In-memory replay of the identical h-index rounds over the collected
    * symmetric edge list. */
  private def localHIndex(sym: Array[(String, String)],
      rounds: Int): Array[(String, Long)] = {
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      sym.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
    val deg = new Array[Int](n)
    sym.foreach { case (a, _) => deg(idOf(a)) += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](sym.length)
    val cur = off.clone()
    sym.foreach { case (a, b) =>
      val ia = idOf(a); nbr(cur(ia)) = idOf(b); cur(ia) += 1
    }
    var core = deg.map(_.toLong)
    var r = 0
    while (r < rounds) {
      val next = new Array[Long](n)
      var v = 0
      while (v < n) {
        val vals = new Array[Long](deg(v))
        var j = off(v)
        while (j < off(v + 1)) { vals(j - off(v)) = core(nbr(j)); j += 1 }
        java.util.Arrays.sort(vals)
        // descending h-index: max over i of min(rank, value)
        var h = 0L
        var k = 0
        while (k < vals.length) {
          val rank = (k + 1).toLong
          val value = vals(vals.length - 1 - k) // k-th largest
          val m = math.min(rank, value)
          if (m > h) h = m
          k += 1
        }
        next(v) = h
        v += 1
      }
      core = next
      r += 1
    }
    Array.tabulate(n)(v => (names(v), core(v)))
  }
}

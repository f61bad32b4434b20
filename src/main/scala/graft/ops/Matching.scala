package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed greedy maximal matching — pair up nodes so no two chosen
  * edges share an endpoint and no unchosen edge could still be added.
  * The act-on-it step after pair mining ("merge each near-duplicate pair
  * once, never chain merges"), and the classic symmetry-breaking
  * primitive (its matched endpoints are a 2-approximate vertex cover).
  *
  * Local-minimum rounds (Israeli–Itai style): every edge gets a
  * DETERMINISTIC priority — the md5 integer of `salt‖x‖'|'‖y`, the repo's
  * identity-hash contract, or a caller-supplied column — and an edge is
  * matched in a round iff it is the (priority, x, y)-minimal incident
  * edge of BOTH its endpoints. Matched endpoints and their incident
  * edges drop out; repeat. Expected O(log n) rounds to maximality;
  * `rounds` is FIXED (the k-core/LPA partial-fixpoint parity trick), so
  * both engines compute the identical truncation and the driver query is
  * hash-exact. A round is two shuffles (per-vertex local-min window over
  * the incident-edge list, then the both-endpoints count) plus two
  * anti-joins; per-round results are checkpointed.
  *
  * Output: (x, y, round) — the matched pairs and the round each fell.
  */
object Matching {

  def greedyMatching(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 6, salt: String = "",
      priorityCol: Option[String] = None,
      maxLocalEdges: Long = 2000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1, 32], got $rounds")
    val base = edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
    val withP = priorityCol match {
      case Some(pc) => edges.select(
          least(col(srcCol), col(dstCol)).as("x"),
          greatest(col(srcCol), col(dstCol)).as("y"),
          col(pc).cast("long").as("p"))
        .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
        .groupBy("x", "y").agg(min(col("p")).as("p"))
      case None => base.distinct()
        .withColumn("p", graft.functions.functions.hex_to_long(
          substring(md5(concat(lit(salt), col("x"), lit("|"), col("y"))), 1, 15)))
    }
    // Gated driver-local replay (the IndependentSet.localLuby pattern):
    // a round is ~4 shuffles and rounds default to 6; under the cap the
    // IDENTICAL local-minimum rounds replay over collected (x, y, p)
    // triples — priorities are collected as Spark computed them, so no
    // hash re-implementation can drift. Tie order (p, x, y) uses
    // UTF8-byte string comparison to match the window sort.
    val spark = edges.sparkSession
    import spark.implicits._
    Gate.collectAtMost(withP.as[(String, String, Long)], maxLocalEdges) match {
      case Some(capped) =>
        val out = localMatching(capped, rounds)
        if (out.isEmpty)
          return spark.emptyDataset[(String, String, Long)]
            .toDF("x", "y", "round")
        return spark.createDataFrame(out.toIndexedSeq).toDF("x", "y", "round")
      case None => // over the cap: distributed tier
    }

    var e = withP.localCheckpoint(true)
    var matchedParts = List.empty[DataFrame]
    var r = 1
    while (r <= rounds && !e.isEmpty) {
      val adj = e.select(col("x").as("v"), col("x"), col("y"), col("p"))
        .union(e.select(col("y").as("v"), col("x"), col("y"), col("p")))
      val byV = Window.partitionBy(col("v"))
        .orderBy(col("p"), col("x"), col("y"))
      val localMin = adj.withColumn("__rn", row_number().over(byV))
        .where(col("__rn") === 1)
      val matched = localMin.groupBy(col("x"), col("y"))
        .agg(count(lit(1)).as("__c"))
        .where(col("__c") === 2)
        .select(col("x"), col("y"), lit(r.toLong).as("round"))
        .localCheckpoint(true)
      val mv = matched.select(col("x").as("v"))
        .union(matched.select(col("y").as("v"))).distinct()
      matchedParts ::= matched
      e = e.join(mv.withColumnRenamed("v", "x"), Seq("x"), "left_anti")
        .join(mv.withColumnRenamed("v", "y"), Seq("y"), "left_anti")
        .select(col("x"), col("y"), col("p"))
        .localCheckpoint(true)
      r += 1
    }
    matchedParts.reduceOption(_ unionByName _)
      .getOrElse(e.sparkSession.emptyDataFrame
        .withColumn("x", lit("")).withColumn("y", lit(""))
        .withColumn("round", lit(0L)).limit(0))
  }

  /** In-memory replay of the exact local-minimum rounds over collected
    * (x, y, priority) triples: an edge matches in a round iff it is the
    * (p, x, y)-minimal alive incident edge of BOTH endpoints; matched
    * vertices and their edges drop out. */
  private def localMatching(ed: Array[(String, String, Long)],
      rounds: Int): Array[(String, String, Long)] = {
    import graft.core.Utf8Order
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      ed.foreach { case (a, b, _) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
    val ex = ed.map { case (a, b, p) => (idOf(a), idOf(b), p) }
    // (p, x, y) total order between edge indices
    def edgeLt(i: Int, j: Int): Boolean = {
      val (xi, yi, pi) = ex(i); val (xj, yj, pj) = ex(j)
      if (pi != pj) pi < pj
      else {
        val cx = Utf8Order.compare(names(xi), names(xj))
        if (cx != 0) cx < 0 else Utf8Order.lt(names(yi), names(yj))
      }
    }
    val alive = Array.fill(ed.length)(true)
    val deadV = new Array[Boolean](n)
    val best = new Array[Int](n)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var r = 1
    var remaining = ed.length
    while (r <= rounds && remaining > 0) {
      java.util.Arrays.fill(best, -1)
      var i = 0
      while (i < ex.length) {
        if (alive(i)) {
          val (x, y, _) = ex(i)
          if (best(x) < 0 || edgeLt(i, best(x))) best(x) = i
          if (best(y) < 0 || edgeLt(i, best(y))) best(y) = i
        }
        i += 1
      }
      i = 0
      while (i < ex.length) {
        if (alive(i)) {
          val (x, y, _) = ex(i)
          if (best(x) == i && best(y) == i) {
            out += ((names(x), names(y), r.toLong))
            deadV(x) = true; deadV(y) = true
          }
        }
        i += 1
      }
      i = 0
      while (i < ex.length) {
        if (alive(i) && (deadV(ex(i)._1) || deadV(ex(i)._2))) {
          alive(i) = false
          remaining -= 1
        }
        i += 1
      }
      r += 1
    }
    out.toArray
  }
}

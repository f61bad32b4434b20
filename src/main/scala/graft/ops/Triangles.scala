package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting via degree-ordered edge orientation
  * (Cohen 2009 "Graph Twiddling in a MapReduce World" / the standard
  * compact-forward scheme).
  *
  * The naive 3-way self-join enumerates every wedge at its center: a node
  * of degree d contributes d·(d-1)/2 join rows, so one celebrity hub in
  * crawl-scale data produces billions of wedges. Orienting each edge from
  * its lower-(degree, id) endpoint to the higher one caps every node's
  * OUT-degree at O(sqrt(|E|)) (a node of out-degree k has k neighbors of
  * degree >= its own, which costs k^2 <= 2|E| edge endpoints), so the
  * wedge join does O(|E|^1.5) work in the worst case and far less on
  * real skewed graphs — per-node work is bounded by arboricity, not by
  * raw degree. Every triangle has exactly one source under a total order,
  * so each is emitted exactly once, no distinct needed.
  *
  * All stages are plain equi-joins/aggregations — Catalyst shuffles on the
  * join keys and AQE handles residual skew. Input edges may be directed,
  * duplicated, or contain self-loops; the operator canonicalizes to the
  * simple undirected graph first (reference has no triangle operator; this
  * is a beyond-reference graph op in the [[ConnectedComponents]] family).
  */
object Triangles {

  /** Canonical simple undirected edges (x < y), self-loops/dups/nulls
    * dropped. */
  private def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .distinct()

  /** All triangles of the undirected simple graph, one row each, corners
    * sorted: (a < b < c). */
  def triangleList(edges: DataFrame, srcCol: String, dstCol: String,
      maxLocalEdges: Long = 2000000L): DataFrame = {
    // Gated driver-local replay (the Scc/LPA pattern): the triangle SET is
    // a pure function of the graph (no tie-breaks to replicate), so under
    // the cap one capped collect + the same compact-forward enumeration in
    // memory replaces ~6 shuffle stages. The wedge-work budget inside
    // localTriangles keeps an adversarial dense case off the driver even
    // when the edge list fits; parity-spec'd with the gate forced to 0.
    val spark = edges.sparkSession
    import spark.implicits._
    Gate.collectAtMost(canonical(edges, srcCol, dstCol).as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        val out = localTriangles(capped)
        if (out != null)
          return spark.createDataFrame(out.toIndexedSeq).toDF("a", "b", "c")
        // wedge budget exceeded: fall through to the distributed joins
      case None => // over the cap: distributed tier
    }
    triangleListDistributed(edges, srcCol, dstCol)
  }

  /** In-memory compact-forward enumeration over the collected canonical
    * edge list: orient low (deg, id-utf8) → high, enumerate each out-
    * neighbor pair once, close against the oriented edge set. Corners
    * emitted in UTF8 order (= array_sort on strings). Returns null when
    * Σ out-degree² exceeds the work budget.
    */
  private def localTriangles(
      canon: Array[(String, String)]): Array[(String, String, String)] = {
    import graft.core.Utf8Order
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      canon.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
    val deg = new Array[Int](n)
    val ex = canon.map { case (a, b) => (idOf(a), idOf(b)) }
    ex.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    // total order for orientation: (deg, id) with UTF8 string ties
    def lowFirst(a: Int, b: Int): Boolean =
      deg(a) < deg(b) || (deg(a) == deg(b) && Utf8Order.lt(names(a), names(b)))
    val outDeg = new Array[Int](n)
    ex.foreach { case (a, b) =>
      if (lowFirst(a, b)) outDeg(a) += 1 else outDeg(b) += 1
    }
    var budget = 0L
    var v = 0
    while (v < n) { budget += outDeg(v).toLong * outDeg(v); v += 1 }
    if (budget > 2000000000L) return null
    val off = new Array[Int](n + 1)
    v = 0
    while (v < n) { off(v + 1) = off(v) + outDeg(v); v += 1 }
    val out = new Array[Int](ex.length)
    val cur = off.clone()
    val oriented = new java.util.HashSet[Long](ex.length * 2)
    ex.foreach { case (a, b) =>
      val (u, w) = if (lowFirst(a, b)) (a, b) else (b, a)
      out(cur(u)) = w; cur(u) += 1
      oriented.add(u.toLong * n + w)
    }
    val tris = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    v = 0
    while (v < n) {
      var i = off(v)
      while (i < off(v + 1)) {
        var j = off(v)
        while (j < off(v + 1)) {
          val v1 = out(i); val v2 = out(j)
          // wedge order (dv1, v1) < (dv2, v2) under the same total order,
          // closing edge oriented exactly v1 → v2
          if (lowFirst(v1, v2) && oriented.contains(v1.toLong * n + v2)) {
            val t = Array(names(v), names(v1), names(v2))
              .sorted(Utf8Order.ordering)
            tris += ((t(0), t(1), t(2)))
          }
          j += 1
        }
        i += 1
      }
      v += 1
    }
    tris.toArray
  }

  /** The distributed compact-forward joins — the above-the-gate path. */
  private def triangleListDistributed(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // persisted: e feeds the degree agg AND the orientation join, and
    // oriented feeds both wedge sides AND the closing semi-join — without
    // a persist the upstream edge derivation (often an expensive
    // self-join + distinct) re-executes 3-5x. Left to LRU eviction: an
    // eager unpersist under the returned lazy plan would just force the
    // recomputation back in (same policy as Dedup/ConnectedComponents)
    val e = canonical(edges, srcCol, dstCol).persist()
    val deg = e.select(col("x").as("node"))
      .union(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val ex = e
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), "y")
    // orient low (deg, id) → high; carry the target's rank for the wedge
    // ordering below
    val lowFirst = struct(col("dx"), col("x")) < struct(col("dy"), col("y"))
    val oriented = ex.select(
      when(lowFirst, col("x")).otherwise(col("y")).as("u"),
      when(lowFirst, col("y")).otherwise(col("x")).as("v"),
      when(lowFirst, col("dy")).otherwise(col("dx")).as("dv"))
      .persist()
    // wedges v1 ← u → v2 with ord(v1) < ord(v2); the closing edge, if
    // present, is oriented exactly v1 → v2 under the same total order
    val w1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
    val w2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("dv2"))
    val wedges = w1.join(w2, Seq("u"))
      .where(struct(col("dv1"), col("v1")) < struct(col("dv2"), col("v2")))
    val closing = oriented.select(col("u").as("v1"), col("v").as("v2"))
    val tri = wedges.join(closing, Seq("v1", "v2"), "left_semi")
    tri.select(array_sort(array(col("u"), col("v1"), col("v2"))).as("t"))
      .select(element_at(col("t"), 1).as("a"),
        element_at(col("t"), 2).as("b"),
        element_at(col("t"), 3).as("c"))
  }

  /** Per-node triangle participation counts (nodes in >= 1 triangle). */
  def perNodeCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    triangleList(edges, srcCol, dstCol)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))

  /** Global triangle count (single row). */
  def globalCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    triangleList(edges, srcCol, dstCol).agg(count(lit(1)).as("n_triangles"))

  /** Local clustering coefficient per node with degree >= 2:
    * triangles(v) / C(deg(v), 2), reported as an exact integer PERMILLE
    * (floor(2000·tri / (deg·(deg−1)))) so the value is engine-portable.
    * Degree is on the simple (canonicalized) graph — the same graph the
    * triangle count sees. One extra degree aggregation + left join on top
    * of [[perNodeCounts]]; zero-triangle nodes report 0.
    */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
      dstCol: String, maxLocalEdges: Long = 2000000L): DataFrame = {
    // gated local replay sharing ONE collect for degrees AND triangles —
    // composing the degree aggregate with triangleList's own gate would
    // run the (often expensive) upstream edge derivation twice; integer
    // (deg, n_triangles) pairs feed the IDENTICAL coef_pm expression
    val spark = edges.sparkSession
    import spark.implicits._
    Gate.collectAtMost(canonical(edges, srcCol, dstCol).as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        val tris = localTriangles(capped)
        if (tris != null) {
          val deg = new scala.collection.mutable.HashMap[String, Long]
          capped.foreach { case (x, y) =>
            deg.update(x, deg.getOrElse(x, 0L) + 1)
            deg.update(y, deg.getOrElse(y, 0L) + 1)
          }
          val nt = new scala.collection.mutable.HashMap[String, Long]
          tris.foreach { case (a, b, c) =>
            nt.update(a, nt.getOrElse(a, 0L) + 1)
            nt.update(b, nt.getOrElse(b, 0L) + 1)
            nt.update(c, nt.getOrElse(c, 0L) + 1)
          }
          val rows = deg.iterator.filter(_._2 >= 2L)
            .map { case (node, d) => (node, d, nt.getOrElse(node, 0L)) }
            .toIndexedSeq
          return spark.createDataFrame(rows)
            .toDF("node", "deg", "n_triangles")
            .withColumn("coef_pm",
              floor(lit(2000L) * col("n_triangles") /
                (col("deg") * (col("deg") - 1))).cast("long"))
            .select(col("node"), col("deg"), col("n_triangles"), col("coef_pm"))
        }
      case None => // over the cap: distributed tier
    }
    val e = canonical(edges, srcCol, dstCol)
    val deg = e.select(col("x").as("node"))
      .union(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.where(col("deg") >= 2)
      .join(perNodeCounts(edges, srcCol, dstCol), Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("coef_pm",
        floor(lit(2000L) * col("n_triangles") / (col("deg") * (col("deg") - 1)))
          .cast("long"))
      .select(col("node"), col("deg"), col("n_triangles"), col("coef_pm"))
  }
}

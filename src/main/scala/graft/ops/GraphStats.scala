package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Whole-graph summary statistics — the profiling layer of the graph
  * family ([[Profiler]] is the tabular cousin): degree distribution,
  * degree assortativity, and partition modularity. Every statistic is
  * reduced to INTEGER sufficient sums first (exact in any engine, tiny
  * outputs), with the final real-valued coefficient derived from those
  * sums by a fixed double expression — both engines perform the identical
  * correctly-rounded IEEE casts/ops, so even the doubles hash-match.
  *
  * All three share the same scale shape: one edge scan, degree tables via
  * partial-aggregating shuffles, and a one-row (or histogram-sized) final
  * aggregate. No windows over edges, no driver state.
  */
object GraphStats {

  /** Deduplicated undirected edges (x < y) with nulls and self-loops
    * dropped — the shared ingest of all three statistics. */
  private def undirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .distinct()

  /** (degree, n_nodes) histogram of the undirected graph. */
  def degreeHistogram(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
    e.select(col("x").as("node")).union(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
  }

  /** Newman degree assortativity: Pearson correlation of (deg(u), deg(v))
    * over DIRECTED edge ends (each undirected edge contributes both
    * orientations, so Σdx = Σdy and the symmetric form applies):
    *
    *   r = (M·Σdxdy − (Σdx)²) / (M·Σdx² − (Σdx)²)
    *
    * Output is ONE row: the integer sufficient statistics
    * (m_ends, s_xy, s_x, s_x2) plus `assortativity` computed from their
    * double casts. −1 = perfectly disassortative (stars), +1 = assortative.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String, maxLocalEdges: Long = 5000000L): DataFrame = {
    // Gated driver-local tally (the Scc/LPA pattern): the statistic is one
    // row of integer sufficient sums, so under the cap a capped collect
    // replaces a degree aggregate + two edge⋈degree shuffles; the double
    // coefficient is derived by the IDENTICAL SQL expression on the 1-row
    // result either way (parity-spec'd with the gate forced to 0)
    val spark = edges.sparkSession
    import spark.implicits._
    Gate.collectAtMost(undirected(edges, srcCol, dstCol).as[(String, String)],
        maxLocalEdges) match {
      case Some(capped) =>
        val deg = new scala.collection.mutable.HashMap[String, Long]
        capped.foreach { case (x, y) =>
          deg.update(x, deg.getOrElse(x, 0L) + 1)
          deg.update(y, deg.getOrElse(y, 0L) + 1)
        }
        var mEnds = 0L; var sXy = 0L; var sX = 0L; var sX2 = 0L
        capped.foreach { case (x, y) =>
          val dx = deg(x); val dy = deg(y)
          mEnds += 2
          sXy += 2 * dx * dy
          sX += dx + dy
          sX2 += dx * dx + dy * dy
        }
        return spark.createDataFrame(Seq((mEnds, sXy, sX, sX2)))
          .toDF("m_ends", "s_xy", "s_x", "s_x2")
          .withColumn("assortativity", assortativityExpr)
      case None => // over the cap: distributed tier
    }
    val e = undirected(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK) // degree agg + two end joins
    val deg = e.select(col("x").as("node")).union(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val ends = e
      .join(deg.select(col("node").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("d").as("dy")), "y")
      .select(col("dx"), col("dy"))
    val sym = ends.union(ends.select(col("dy").as("dx"), col("dx").as("dy")))
    sym.agg(
        count(lit(1)).as("m_ends"),
        sum(col("dx") * col("dy")).as("s_xy"),
        sum(col("dx")).as("s_x"),
        sum(col("dx") * col("dx")).as("s_x2"))
      .withColumn("assortativity", assortativityExpr)
  }

  // try_divide: a REGULAR graph has zero degree variance — the
  // coefficient is undefined and comes back NULL (DuckDB's plain
  // division returns NULL on zero divisors, so the oracle matches).
  // Shared by the local and distributed paths so the double derivation
  // is the same codegen expression bit for bit.
  private def assortativityExpr =
    expr("""try_divide(
        cast(m_ends as double) * cast(s_xy as double)
          - cast(s_x as double) * cast(s_x as double),
        cast(m_ends as double) * cast(s_x2 as double)
          - cast(s_x as double) * cast(s_x as double))""")

  /** Newman-Girvan modularity of a (node, community) partition over the
    * undirected graph:
    *
    *   Q = Σ_c [ e_c/m − (d_c/2m)² ]  =  Σ_c (4m·e_c − d_c²) / 4m²
    *
    * computed as the exact integer fraction (q_num, q_den) — e_c = intra-
    * community edge count, d_c = community degree sum, m = |E| — plus the
    * double quotient. One row out. Communities absent from the label
    * table contribute their edges as inter-community (labels joined
    * left-ish via inner join: unlabeled nodes drop their edges — callers
    * pass complete partitions, e.g. [[Communities.labelPropagation]]).
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, maxLocalEdges: Long = 5000000L): DataFrame = {
    // Gated driver-local replay (the Scc/LPA pattern): the statistic is
    // one row derived from integer counts over labeled edges, so under the
    // cap a capped collect + in-memory tally replaces two edge⋈label
    // shuffles + three aggregates (parity-spec'd with the gate forced 0)
    val spark = edges.sparkSession
    import spark.implicits._
    Gate.collectAtMost(undirected(edges, srcCol, dstCol).as[(String, String)],
        maxLocalEdges) match {
      case Some(capped) =>
        val labArr = labels.select(col("node").cast("string"),
          col("community").cast("string")).as[(String, String)].collect()
        val comm = labArr.toMap
        // inner-join semantics: only edges with BOTH endpoints labeled
        var m = 0L
        val eC = new scala.collection.mutable.HashMap[String, Long]
        val dC = new scala.collection.mutable.HashMap[String, Long]
        capped.foreach { case (x, y) =>
          (comm.get(x), comm.get(y)) match {
            case (Some(cx), Some(cy)) =>
              m += 1
              dC.update(cx, dC.getOrElse(cx, 0L) + 1)
              dC.update(cy, dC.getOrElse(cy, 0L) + 1)
              if (cx == cy) eC.update(cx, eC.getOrElse(cx, 0L) + 1)
            case _ => ()
          }
        }
        val qNum = dC.iterator.map { case (c, d) =>
          4L * m * eC.getOrElse(c, 0L) - d * d
        }.sum
        val qDen = 4L * m * m
        return spark.createDataFrame(Seq((m, qNum, qDen)))
          .toDF("m_edges", "q_num", "q_den")
          .withColumn("modularity",
            expr("try_divide(cast(q_num as double), cast(q_den as double))"))
      case None => // over the cap: distributed tier
    }
    val e = undirected(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val lab = labels.select(col("node"), col("community"))
    val withLabels = e
      .join(lab.select(col("node").as("x"), col("community").as("cx")), "x")
      .join(lab.select(col("node").as("y"), col("community").as("cy")), "y")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val totals = withLabels.agg(count(lit(1)).as("m_edges"))
    val intra = withLabels.where(col("cx") === col("cy"))
      .groupBy(col("cx").as("community")).agg(count(lit(1)).as("e_c"))
    val degC = withLabels
      .select(col("cx").as("community"))
      .union(withLabels.select(col("cy").as("community")))
      .groupBy("community").agg(count(lit(1)).as("d_c"))
    degC.join(intra, Seq("community"), "left")
      .select(col("community"), coalesce(col("e_c"), lit(0L)).as("e_c"),
        col("d_c"))
      .crossJoin(broadcast(totals))
      .agg(
        first(col("m_edges")).as("m_edges"),
        sum(lit(4L) * col("m_edges") * col("e_c") - col("d_c") * col("d_c"))
          .as("q_num"))
      .withColumn("q_den",
        lit(4L) * col("m_edges") * col("m_edges"))
      .withColumn("modularity",
        expr("try_divide(cast(q_num as double), cast(q_den as double))"))
  }

  /** Per-component structure profile: (component, n_nodes, n_edges,
    * density_permille) — density = 2e/(n(n−1)) in truncating per-mille,
    * 0 for singleton-free components of one node (cannot occur here:
    * every node is edge-incident) and for n = 1 guards. Reads the
    * component labels ONCE (persisted) for both the node rollup and the
    * edge-label join; the edge join keys on the undirected edge's lower
    * endpoint — both endpoints share a component by definition.
    */
  def componentDensity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val labels = ConnectedComponents.components(
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cn = labels.groupBy("component").agg(count(lit(1)).as("n_nodes"))
    val ce = und
      .join(labels.select(col("node").as("x"), col("component")), Seq("x"))
      .groupBy("component").agg(count(lit(1)).as("n_edges"))
    cn.join(ce, Seq("component"), "left")
      .select(col("component"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("density_permille",
        when(col("n_nodes") > 1L,
          expr("(2000 * n_edges) div (n_nodes * (n_nodes - 1))"))
          .otherwise(0L))
  }

  /** Weighted bipartite projection — the co-occurrence graph builder
    * behind baskets→item-graph, users→content-graph, docs→entity-graph
    * pipelines: groups sharing an item side project onto item pairs with
    * weight = number of groups containing both.
    *
    * Scale levers, both non-negotiable at 100 TB:
    *   - memberships dedupe FIRST (a group listing an item twice is one
    *     membership), keyed by (group, item) — partial-aggregated;
    *   - groups larger than `maxGroupSize` are EXCLUDED (a k-item group
    *     emits k² pairs — one celebrity basket otherwise dominates the
    *     whole job; same hot-key cap pattern as LSH buckets and RA
    *     centers), and the size filter runs BEFORE collect_list so no
    *     buffer ever holds an excluded group.
    *
    * Output: (a, b, weight) with a < b, weight >= 1.
    */
  def bipartiteProjection(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = 64): DataFrame = {
    require(maxGroupSize >= 2, s"maxGroupSize must be >= 2, got $maxGroupSize")
    val base = df.select(col(groupCol).as("tid"), col(itemCol).as("item"))
      .where(col("tid").isNotNull && col("item").isNotNull)
      .distinct()
    // r13 OPT (guide §2.4): group-size cap via a window count over the
    // same tid partitioning instead of groupBy + left-semi join — the
    // join shape evaluated `base` (scan + distinct) twice per call; the
    // window pass keeps the ADVICE-r4 bounded-buffer property (count
    // spills row batches, the collect_list below only ever sees groups
    // <= maxGroupSize) and the groupBy reuses the window's partitioning.
    base.withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("tid"))))
      .where(col("__n") <= maxGroupSize)
      .groupBy("tid").agg(collect_list(col("item")).as("items"))
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("weight"))
  }

  /** Directed-graph reciprocity: the fraction of directed edges whose
    * reverse edge also exists (how conversational is the interaction
    * graph — near 1 for mutual-follow networks, near 0 for broadcast
    * ones). Edges are deduplicated and self-loops dropped first; the
    * reverse probe is a self semi-join on the swapped key, so the whole
    * statistic is two shuffles of the distinct edge set and a one-row
    * output: (m_edges, m_reciprocal, reciprocity_permille).
    */
  def reciprocity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("s"), col(dstCol).as("t"))
      .where(col("s").isNotNull && col("t").isNotNull && col("s") =!= col("t"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rev = e.select(col("t").as("s"), col("s").as("t"))
    e.join(rev, Seq("s", "t"), "left_semi")
      .agg(count(lit(1)).as("m_reciprocal"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("m_edges"))))
      .select(col("m_edges"), col("m_reciprocal"),
        // degenerate empty graph: 0, not engine-dependent div-by-zero
        // (Spark div 0 → NULL, DuckDB // 0 → error)
        when(col("m_edges") > 0L,
          expr("(m_reciprocal * 1000) div m_edges")).otherwise(lit(0L))
          .as("reciprocity_permille"))
  }

  /** Freeman degree centralization — "how star-like is this graph" in
    * one row of exact integers: C = Σ_v (d_max − d_v) / ((n−1)(n−2)),
    * 1000‰ for a perfect star, 0 for a regular graph. The numerator and
    * denominator ship alongside the floored permille, so any downstream
    * can re-derive at full precision. Degenerate graphs (n < 3) report
    * NULL — the normalizer is undefined.
    *
    * Shape: the degree aggregate + one global max + one 1-row rollup —
    * two partial-aggregating shuffles over the node dimension.
    */
  def degreeCentralization(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
    val deg = e.select(col("x").as("node"))
      .union(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    deg.agg(count(lit(1)).as("n_nodes"), max(col("d")).as("d_max"),
        sum(col("d")).as("d_sum"))
      .select(col("n_nodes"), col("d_max"),
        (col("n_nodes") * col("d_max") - col("d_sum")).as("c_num"),
        ((col("n_nodes") - 1L) * (col("n_nodes") - 2L)).as("c_den"))
      .withColumn("centralization_permille",
        when(col("n_nodes") >= 3L, expr("(1000 * c_num) div c_den"))
          .otherwise(lit(null)))
  }

  /** Per-community conductance — the cut-quality score partition audits
    * report next to [[modularity]]: φ(S) = cut(S) / min(vol(S), 2m−vol(S)),
    * here in exact permille. Only edges with BOTH endpoints labeled count
    * (inner-join semantics, like modularity); an internal edge adds 2 to
    * its community's volume, a cross edge adds 1 to each side's volume
    * AND 1 to each side's cut. Low φ = a well-separated community.
    *
    * Shape: one labeled-edge derivation (two node-keyed joins) and one
    * community-keyed aggregate — partial-aggregating shuffles only, output
    * is community-dimension-sized.
    *
    * Output: (community, n_nodes, vol, cut, conductance_permille),
    * where a community covering the whole volume (min side 0) reports 0.
    */
  def conductance(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
    val lab = labels.select(col("node").cast("string"),
      col("community").cast("string"))
    val le = e
      .join(lab.select(col("node").as("x"), col("community").as("cx")), "x")
      .join(lab.select(col("node").as("y"), col("community").as("cy")), "y")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val twoM = le.agg((count(lit(1)) * 2L).as("two_m"))
    // per-edge contributions, exploded to the one or two communities the
    // edge touches: (community, node-end, vol-increment, cut-increment)
    val contrib = le.select(explode(when(col("cx") === col("cy"),
          array(struct(col("cx").as("c"), col("x").as("n"), lit(2L).as("v"),
            lit(0L).as("k"))))
        .otherwise(array(
          struct(col("cx").as("c"), col("x").as("n"), lit(1L).as("v"),
            lit(1L).as("k")),
          struct(col("cy").as("c"), col("y").as("n"), lit(1L).as("v"),
            lit(1L).as("k"))))).as("t"))
      .select(col("t.c").as("community"), col("t.n"), col("t.v"), col("t.k"))
    // n_nodes needs BOTH ends of internal edges (the explode above keeps
    // one representative node per side for vol, so count nodes separately)
    val nodes = le.select(col("cx").as("community"), col("x").as("n"))
      .union(le.select(col("cy").as("community"), col("y").as("n")))
      .groupBy("community")
      .agg(count_distinct(col("n")).as("n_nodes"))
    contrib.groupBy("community")
      .agg(sum(col("v")).as("vol"), sum(col("k")).as("cut"))
      .join(nodes, Seq("community"))
      .crossJoin(broadcast(twoM))
      .select(col("community"), col("n_nodes"), col("vol"), col("cut"),
        when(least(col("vol"), col("two_m") - col("vol")) > 0L,
          expr("(1000 * cut) div least(vol, two_m - vol)"))
          .otherwise(lit(0L)).as("conductance_permille"))
  }

  /** Label homophily (Newman's discrete-attribute assortativity) — do
    * edges preferentially connect same-label nodes beyond what the
    * label degree masses predict? With m distinct undirected labeled
    * edges, e_same of them same-label, and d_l the degree mass of label
    * l (Σ_l d_l = 2m):
    *
    *   r = (e_same/m − Σ_l (d_l/2m)²) / (1 − Σ_l (d_l/2m)²)
    *     = (4·m·e_same − Σd_l²) / (4·m² − Σd_l²)
    *
    * after clearing (2m)² — exact integers; r_ppm is the sign-split
    * floored ppm (1 ⇒ perfectly assortative, 0 ⇒ random given label
    * masses, <0 ⇒ heterophil). Edges touching unlabeled nodes are
    * dropped (inner label join). Degenerate single-label graphs
    * (denominator 0) report NULL.
    *
    * Shape: edge scan → two broadcast-able label joins → label-keyed
    * degree aggregate → 1-row rollup. Output (one row):
    * (m_edges, e_same, sum_dl2, r_ppm).
    */
  def labelHomophily(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("__l"))
    val le = e
      .join(lab.select(col("__n").as("x"), col("__l").as("lx")), "x")
      .join(lab.select(col("__n").as("y"), col("__l").as("ly")), "y")
      .persist(StorageLevel.MEMORY_AND_DISK) // totals + label-mass agg
    val totals = le.agg(count(lit(1)).as("m_edges"),
      sum(when(col("lx") === col("ly"), 1L).otherwise(0L)).as("e_same"))
    val dl2 = le.select(col("lx").as("l")).union(le.select(col("ly").as("l")))
      .groupBy("l").agg(count(lit(1)).as("d"))
      .agg(sum(col("d") * col("d")).as("sum_dl2"))
    totals.crossJoin(broadcast(dl2))
      .withColumn("r_ppm",
        when(lit(4L) * col("m_edges") * col("m_edges") === col("sum_dl2"),
          lit(null))
          .otherwise(expr(
            """CASE WHEN 4 * m_edges * e_same >= sum_dl2
              |     THEN (1000000 * (4 * m_edges * e_same - sum_dl2))
              |          div (4 * m_edges * m_edges - sum_dl2)
              |     ELSE 0 - ((1000000 * (sum_dl2 - 4 * m_edges * e_same))
              |          div (4 * m_edges * m_edges - sum_dl2)) END""".stripMargin)))
  }
}

package graft.ops

import graft.core.Ingest
import org.apache.spark.graphx.{Graph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an edge list, Spark-first.
  *
  * Reference semantics: `graph_solver` (reference: src/graph_solver.rs:45-103)
  * computes undirected connected components with union-find and emits, per
  * input row, a 1-based group id numbered by first appearance of the
  * component's earliest-seen node. The union-find is a single-node in-memory
  * structure; here components are computed distributed:
  *
  *   - [[components]] — size-gated: one-pass union-find Catalyst aggregate
  *     while the vertex set fits a task (measured ~2× faster than GraphX
  *     at sf0.1 and a fraction of the scheduler round-trips), GraphX
  *     `ConnectedComponents` (Pregel min-id propagation, O(diameter)
  *     supersteps, nothing materializes on one node) beyond the gate.
  *   - [[componentsAlternatingStar]] — pure-DataFrame alternating
  *     large-star/small-star contraction (Kiveris et al., "Connected
  *     Components in MapReduce and Beyond", MR'14): O(log n) rounds of
  *     shuffle-only joins, no RDD conversion, AQE-friendly. Kept as the
  *     scale alternative and cross-checked against GraphX in tests.
  *
  * Both return canonical, order-insensitive labels (component = smallest
  * node name, binary collation). The reference's order-dependent 1-based
  * numbering is layered on top in [[superMerger]] for parity.
  */
object ConnectedComponents {

  /** Canonical components of string edges (columns `src`, `dst`).
    * Returns (node string, component string = lexicographically smallest
    * member of the node's component). Null edges must already be dropped.
    *
    * Strategy is size-gated on the VERTEX count (known for free — the
    * vertex dictionary is materialized for id assignment either way):
    * up to `maxAggVertices` the one-pass [[graft.functions.UnionFindAgg]]
    * Catalyst aggregate wins (edges stream through partial union-find
    * states, ~3 jobs total vs GraphX's per-superstep job cadence; the
    * per-task state is one parent array, 8 B/vertex ≈ 32 MB at the 4M
    * default). Beyond the gate, GraphX Pregel min-id propagation keeps
    * every structure distributed — the 100 TB path.
    *
    * GATE CALIBRATION (r9 scale probe, tools/scale_probe_r09.jsonl): at
    * 64× sf0.1 the 5M-edge gate genuinely trips and the distributed CC
    * paths scale sub-linearly on local[32] (q_components_star 4.2×, and
    * q_robustness — two full CC passes — 9.1× at 64× data), so the
    * 5M/4M defaults stay: the local/aggregate paths win whenever they
    * fit, the fall-through is measured-sane past them.
    */
  def components(edges: DataFrame, maxAggVertices: Long = 4_000_000L,
      maxLocalEdges: Long = 5_000_000L): DataFrame = {
    // Gated driver-local fast path (the Scc.components pattern): component
    // membership is a pure function of the graph and the label is the min
    // member name, so a capped collect + one union-find pass is exact —
    // no tie-breaks to replicate — and skips the vertex-dictionary
    // zipWithIndex jobs + id joins that dominate small/derived pair
    // graphs (dedup clusters, bipartite parity graphs). Distinct before
    // the limit only shrinks the collect; CC is duplicate-invariant.
    if (maxLocalEdges > 0 && maxLocalEdges < Int.MaxValue - 1) {
      val spark = edges.sparkSession
      import spark.implicits._
      val capped = edges.select(col("src"), col("dst")).distinct()
        .limit(maxLocalEdges.toInt + 1).as[(String, String)].collect()
      if (capped.length <= maxLocalEdges) {
        if (capped.isEmpty)
          return spark.emptyDataset[(String, String)].toDF("node", "component")
        return spark.createDataFrame(localUnionFind(capped).toIndexedSeq)
          .toDF("node", "component")
      }
      // over the cap: fall through to the distributed strategies
    }

    // Persisted for the id-assignment count + endpoint joins; left to LRU
    // eviction because the returned plan is lazy — an eager unpersist here
    // would force the edge subtree to recompute 2-3× at execution time
    // (same policy as Dedup.ngramJaccardPairs).
    val e = edges.select(col("src"), col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
    val idDf = nodeIds(e)
    val n = idDf.count() // cached — already materialized by nodeIds
    val nodeCc =
      if (n <= maxAggVertices) componentsByIdViaAggregate(e, idDf)
      else componentsById(e, idDf)
    // component label = min node name per cc id: order-insensitive, exact.
    val labels = nodeCc.groupBy(col("cc")).agg(min(col("node")).as("component"))
    nodeCc.join(labels, "cc").select(col("node"), col("component"))
  }

  /** Union-find with path halving over a collected edge list; labels are
    * the UTF8-minimal member per component (= Spark's min(string)). Edges
    * with a null endpoint drop whole, like the distributed id joins. Nodes
    * are listed by first appearance (edge order, `src` before `dst`). */
  private[graft] def localUnionFind(
      ed: Array[(String, String)]): Array[(String, String)] = {
    val clean = ed.filter { case (a, b) => a != null && b != null }
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      clean.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    clean.foreach { case (a, b) =>
      val ra = find(idOf(a)); val rb = find(idOf(b))
      if (ra != rb) parent(rb) = ra
    }
    val minOf = new scala.collection.mutable.HashMap[Int, String]
    var v = 0
    while (v < n) {
      val r = find(v)
      val cur = minOf.get(r)
      if (cur.isEmpty || graft.core.Utf8Order.lt(names(v), cur.get))
        minOf.update(r, names(v))
      v += 1
    }
    Array.tabulate(n)(v => (names(v), minOf(find(v))))
  }

  /** GraphX-only variant (the unconditional scale path), kept callable for
    * tests and for callers that know the vertex set is huge. */
  def componentsGraphX(edges: DataFrame): DataFrame = {
    val nodeCc = componentsById(edges, nodeIds(edges))
    val labels = nodeCc.groupBy(col("cc")).agg(min(col("node")).as("component"))
    nodeCc.join(labels, "cc").select(col("node"), col("component"))
  }

  /** Exact dense vertex ids via zipWithIndex (no hash-collision risk at
    * any scale, one extra count job) — reference dictionary-encodes the
    * same way, single-node (src/graph_utils.rs:66-76). Returned persisted
    * and materialized (reused for endpoint joins + final map-back); left
    * to LRU eviction since the caller's returned plan reads it lazily.
    */
  private def nodeIds(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val nodes = edges.select($"src".as("node")).union(edges.select($"dst".as("node"))).distinct()
    val idDf = spark
      .createDataFrame(nodes.as[String].rdd.zipWithIndex())
      .toDF("node", "vid")
      .persist(StorageLevel.MEMORY_AND_DISK)
    idDf.count()
    idDf
  }

  /** (node, cc) where cc is an arbitrary-but-consistent Long component id,
    * via GraphX Pregel min-id propagation. `idDf` is the persisted vertex
    * dictionary from [[nodeIds]]; callers should persist `edges` when the
    * plan is reused.
    */
  private[graft] def componentsById(edges: DataFrame, idDf: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val srcIds = idDf.select($"node".as("src"), $"vid".as("svid"))
    val dstIds = idDf.select($"node".as("dst"), $"vid".as("dvid"))
    val edgeTuples = edges
      .join(srcIds, "src")
      .join(dstIds, "dst")
      .select($"svid", $"dvid")
      .as[(Long, Long)]
      .rdd

    val graph = Graph.fromEdgeTuples(
      edgeTuples, defaultValue = 1,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
    val cc = graph.connectedComponents().vertices // (vid, min vid in component)
    val ccDf = spark.createDataFrame(cc).toDF("vid", "cc")
    idDf.join(ccDf, "vid").select($"node", $"cc")
  }

  /** (node, cc) via the one-pass union-find Catalyst aggregate: each task
    * folds its edge slice into a disjoint-set forest, partials merge by
    * replaying parent links. Vertex ids must fit a task (gated by the
    * caller); edges stream through without materializing anywhere.
    */
  private[graft] def componentsByIdViaAggregate(edges: DataFrame,
      idDf: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val eids = edges
      .join(idDf.select($"node".as("src"), $"vid".as("svid")), "src")
      .join(idDf.select($"node".as("dst"), $"vid".as("dvid")), "dst")
    val mapRow = eids
      .agg(graft.functions.UnionFindAgg.union_find($"svid", $"dvid").as("uf"))
    val nodeCc = mapRow.select(explode($"uf").as(Seq("vid", "cc")))
    idDf.join(nodeCc, Seq("vid"), "left")
      .select($"node", coalesce($"cc", $"vid").as("cc")) // isolated nodes
  }

  /** Alternating large-star/small-star contraction (pure DataFrame).
    * Converges in O(log n) rounds; each round is two shuffle aggregations.
    * Returns (node string, component string) like [[components]].
    */
  def componentsAlternatingStar(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val idDf = nodeIds(edges)
    val srcIds = idDf.select($"node".as("src"), $"vid".as("u"))
    val dstIds = idDf.select($"node".as("dst"), $"vid".as("v"))
    // localCheckpoint (not persist) each round: truncates the logical plan,
    // which otherwise nests one union+join+distinct layer per round and
    // blows up planning/explain beyond a handful of iterations
    var cur = edges.join(srcIds, "src").join(dstIds, "dst")
      .select($"u", $"v").where($"u" =!= $"v")
      .localCheckpoint(true)

    def sigOf(df: DataFrame) =
      df.agg(count(lit(1)), coalesce(bit_xor(xxhash64($"u", $"v")), lit(0L))).first()
    // order-insensitive edge-set signature (bit_xor: no ANSI overflow),
    // carried across rounds — this round's `cur` IS last round's `small`,
    // so recomputing its signature would double the per-round job count
    var prevSig = sigOf(cur)
    var converged = false
    var round = 0
    while (!converged && round < 64) {
      // large-star: for each u, m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
      val sym = cur.union(cur.select($"v".as("u"), $"u".as("v")))
      val mins = sym.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
      // no distinct here: duplicate (u,v) rows ride through the small-star
      // groupBy/join unchanged and collapse in the round-end distinct —
      // one fewer shuffle per round, and multiplicity stays bounded by the
      // input's own duplication within a single round
      val large = sym.join(mins, "u").where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v")).where($"u" =!= $"v")
      // small-star: key each edge by its larger endpoint; m = min(N ∪ {u});
      // emit (x, m) for x ∈ N ∪ {u}, x ≠ m
      val byLarger = large.select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      val smins = byLarger.groupBy($"u").agg(min($"v").as("m"))
      val small = byLarger.join(smins, "u")
        .select(explode(array($"u", $"v")).as("x"), $"m")
        .where($"x" =!= $"m")
        .select($"x".as("u"), $"m".as("v")).distinct()
        .localCheckpoint(true)

      val curSig = sigOf(small)
      converged = prevSig == curSig
      prevSig = curSig
      cur = small
      round += 1
    }
    // star contraction halves component diameter per round, so 64 rounds
    // cover any graph that fits on hardware (2^64 diameter); if the
    // signature check somehow never fired, fail loudly rather than build
    // labels from an uncontracted edge set (ADVICE r1)
    require(converged,
      s"componentsAlternatingStar did not converge after $round rounds")
    // cur: (child u -> root v). Roots/isolated nodes map to themselves.
    val assign = idDf.join(cur.select($"u".as("vid"), $"v".as("cc0")), Seq("vid"), "left")
      .select($"node", $"vid", coalesce($"cc0", $"vid").as("cc"))
    val labels = assign.groupBy($"cc").agg(min($"node").as("component"))
    assign.join(labels, "cc").select($"node", $"component")
  }

  /** One-pass connected components via the [[graft.functions.UnionFindAgg]]
    * Catalyst aggregate: each partition folds its edges into a disjoint-set
    * forest, partials merge by replaying parent links. Suits graphs whose
    * VERTEX set fits in a task while edges stream (SURVEY.md §7.7); for
    * larger vertex sets use [[components]] / [[componentsAlternatingStar]].
    * Returns (node string, component string) like [[components]].
    */
  def componentsViaAggregate(edges: DataFrame): DataFrame = {
    val withNames = componentsByIdViaAggregate(edges, nodeIds(edges))
    val labels = withNames.groupBy(col("cc")).agg(min(col("node")).as("component"))
    withNames.join(labels, "cc").select(col("node"), col("component"))
  }

  /** Reference-parity `super_merger`: returns `df` plus a `group` column
    * (long): 1-based component id numbered by first appearance, rows with a
    * null `from` get sentinel 0 (reference: src/graph_solver.rs:78-100,
    * polars_grouper/__init__.py:246-301). Order-sensitive by design — exact
    * on single-partition input; use [[superMergerCanonical]] at scale.
    *
    * @param maxLocalEdges driver-local tier cap (the [[components]]
    *   default): while the non-null edges fit one capped collect, union-find
    *   and first-appearance numbering run on the driver and `group` rides a
    *   broadcast join onto `df`, keeping its row order. Over the cap, or at
    *   0, the distributed numbering runs, with this cap passed to its inner
    *   [[components]] call.
    */
  def superMerger(df: DataFrame, from: String, to: String,
      maxLocalEdges: Long = 5_000_000L): DataFrame = {
    if (maxLocalEdges > 0 && maxLocalEdges < Int.MaxValue - 1) {
      val spark = df.sparkSession
      import spark.implicits._
      // collect order is row order, so nodes come back by first appearance
      val capped = Ingest.edges(df, from, to)
        .limit(maxLocalEdges.toInt + 1).as[(String, String)].collect()
      if (capped.length <= maxLocalEdges) {
        // the first root seen while scanning nodes in appearance order gets
        // the next counter (src/graph_solver.rs:78-89)
        val number = scala.collection.mutable.HashMap.empty[String, Long]
        val groups = localUnionFind(capped).toSeq.map { case (node, label) =>
          (node, number.getOrElseUpdate(label, number.size + 1L))
        }
        // a broadcast hash join streams `df` in order: no row index or sort
        return df
          .join(broadcast(groups.toDF("__from_node", "group")),
            col(from).cast("string") === col("__from_node"), "left")
          .withColumn("group", coalesce(col("group"), lit(0L)))
          .drop("__from_node")
      }
      // over the cap: fall through to the distributed numbering
    }

    val withRid = Ingest.withRowIdx(df, "_rid").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val e = withRid.select(
          col(from).cast("string").as("src"),
          col(to).cast("string").as("dst"),
          col("_rid"))
        .where(col("src").isNotNull && col("dst").isNotNull)

      // first-appearance position of each node: row order, `from` before `to`
      // within a row (reference: src/graph_utils.rs:88-97)
      val firstPos = e
        .select(explode(array(
          struct(col("src").as("node"), (col("_rid") * 2).as("pos")),
          struct(col("dst").as("node"), (col("_rid") * 2 + 1).as("pos")))).as("np"))
        .select(col("np.node"), col("np.pos"))
        .groupBy("node").agg(min("pos").as("first_pos"))

      val comp = components(e.select("src", "dst"), maxLocalEdges = maxLocalEdges)
      // group = rank of (min first_pos over the component): reproduces
      // "first root seen while scanning nodes in appearance order gets the
      // next counter" (src/graph_solver.rs:78-89). comp_pos values are
      // globally unique (each pos slot names exactly one node, so distinct
      // components have disjoint pos sets), hence dense_rank ≡ row_number
      // and the numbering rides the range-partition + zipWithIndex
      // machinery instead of an unpartitioned window over the
      // one-row-per-component table (VERDICT r8 item 1)
      val compKey = comp.join(firstPos, "node")
        .groupBy("component").agg(min("first_pos").as("comp_pos"))
      val groups = comp.join(
          Ranks.globalRowNumber(compKey, Seq("comp_pos"), "group"),
          "component")
        .select(col("node"), col("group"))

      withRid
        .join(groups.withColumnRenamed("node", "__from_node"),
          col(from).cast("string") === col("__from_node"), "left")
        .withColumn("group", coalesce(col("group"), lit(0L)))
        .orderBy("_rid") // restore input row order (output is row-aligned)
        .drop("__from_node", "_rid")
    } finally withRid.unpersist()
  }

  /** `super_merger_weighted`: filter edges `weight >= threshold` first, then
    * group the surviving rows (reference: polars_grouper/__init__.py:304-372;
    * threshold is inclusive). Row count shrinks like the reference.
    */
  def superMergerWeighted(df: DataFrame, from: String, to: String,
      weight: String, threshold: Double): DataFrame =
    superMerger(df.where(col(weight).cast("double") >= lit(threshold)), from, to)

  /** Scale-path variant of super_merger: canonical component labels
    * (smallest member name) instead of order-dependent numbering; safe on
    * arbitrarily partitioned input.
    *
    * Contract deviation from [[superMerger]]: rows whose `from` is null or
    * never part of a complete edge get component NULL here, not the
    * reference's sentinel 0 (a string-labeled column has no natural
    * numeric sentinel) — filter or coalesce downstream as needed.
    */
  def superMergerCanonical(df: DataFrame, from: String, to: String): DataFrame = {
    val comp = components(Ingest.edges(df, from, to))
    df.join(comp.withColumnRenamed("node", "__from_node"),
        col(from).cast("string") === col("__from_node"), "left")
      .drop("__from_node")
  }
}

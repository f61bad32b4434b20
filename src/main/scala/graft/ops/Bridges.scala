package graft.ops

import graft.core.Gate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.functions.hex_to_long

/** Bridge edges — the single points of failure of an undirected graph:
  * an edge whose removal disconnects its component (equivalently, an
  * edge on NO cycle). Bridges partition a graph into its 2-edge-
  * connected components; in a pipeline they surface the brittle links
  * of similarity/co-occurrence graphs before a dedup or community pass
  * hard-commits to them.
  *
  * Two paths under one oracle:
  *
  * **Gated local Tarjan** (the Scc/Truss replay pattern): below
  * `maxLocalEdges`, collect the canonical edge list and run the
  * classic low-link DFS iteratively. The bridge SET is a pure function
  * of the graph — no tie-breaks to replicate — so any DFS order gives
  * the same answer.
  *
  * **Distributed XOR-labeling** above the gate: build a BFS forest
  * (level-synchronous, parent = min frontier neighbor, rounds =
  * eccentricity), give every NON-tree edge a 120-bit md5 label on two
  * 60-bit lanes, XOR each node's incident non-tree labels, and fold
  * subtree XORs bottom-up by depth. A tree edge (p, v) is covered by
  * exactly the non-tree edges with ONE endpoint under v — their labels
  * survive the subtree XOR — so S(v) = 0 ⟺ no cycle covers the edge ⟺
  * bridge. Non-tree edges are never bridges (they close a cycle
  * through the tree by construction). The md5 labels make the check
  * deterministic; a false zero needs a 2⁻¹²⁰ lane collision. Rounds:
  * one CC pass for roots + H BFS rounds + H upward folds, each a keyed
  * join + partial-aggregated XOR — pure shuffle algebra, no windows,
  * state is one row per node. `maxBfsRounds` bounds H loudly (a
  * 100 TB-scale path-shaped graph needs Euler-tour list ranking, not
  * level sync — out of scope and named here).
  *
  * Parallel input edges collapse to one undirected edge first; a true
  * multigraph's parallel pair is its own 2-edge-connected component
  * and the caller should pre-filter multiplicity ≥ 2 pairs.
  *
  * Output: (src, dst) canonical (src < dst) bridge edges.
  */
object Bridges {

  def bridges(edges: DataFrame, srcCol: String, dstCol: String,
      maxLocalEdges: Long = 2_000_000L,
      maxBfsRounds: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canonical = edges.select(
        least(col(srcCol).cast("string"), col(dstCol).cast("string")).as("x"),
        greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
          .as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .distinct()
    Gate.collectAtMost(canonical.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, String)].toDF("src", "dst")
        return spark.createDataFrame(localBridges(capped).toIndexedSeq)
          .toDF("src", "dst").orderBy("src", "dst")
      case None => // over the cap: distributed tier
    }
    distributedBridges(spark, canonical, maxBfsRounds)
  }

  /** 2-edge-connected components — the quotient [[bridges]] induces:
    * delete every bridge and the surviving connected components are
    * exactly the maximal subgraphs that tolerate any single edge
    * failure. Labels are the min member name (the CC convention), and a
    * node ALL of whose edges were bridges becomes its own singleton.
    * Cost: one bridges pass + one anti-join + one CC pass — every piece
    * inherits its own local/distributed gating.
    */
  def twoEdgeConnectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxLocalEdges: Long = 2_000_000L,
      maxBfsRounds: Int = 64): DataFrame = {
    val canonical = edges.select(
        least(col(srcCol).cast("string"), col(dstCol).cast("string")).as("x"),
        greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
          .as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .distinct()
    val br = bridges(canonical, "x", "y", maxLocalEdges, maxBfsRounds)
      .select(col("src").as("x"), col("dst").as("y"))
    val residual = canonical.join(br, Seq("x", "y"), "left_anti")
    val cc = ConnectedComponents.components(
      residual.select(col("x").as("src"), col("y").as("dst")),
      maxLocalEdges = maxLocalEdges)
    canonical.select(col("x").as("node"))
      .union(canonical.select(col("y").as("node"))).distinct()
      .join(cc, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node"))
        .as("component"))
      .orderBy("node")
  }

  /** Articulation points — the vertex version of [[bridges]]: nodes
    * whose removal disconnects their component. Gated local Tarjan ONLY
    * (root ⟺ ≥2 DFS children; non-root v ⟺ some child's low ≥ disc(v)):
    * unlike the edge version, vertex biconnectivity has no XOR-label
    * shortcut — the distributed build needs Euler-tour list ranking
    * over the block forest, which this engine does not implement, so
    * the gate is a loud require rather than a silent fallback. Output:
    * (node) sorted.
    */
  def articulationPoints(edges: DataFrame, srcCol: String, dstCol: String,
      maxLocalEdges: Long = 2_000_000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canonical = edges.select(
        least(col(srcCol).cast("string"), col(dstCol).cast("string")).as("x"),
        greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
          .as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .distinct()
    val capped = Gate.collectAtMost(canonical.as[(String, String)], maxLocalEdges)
      .getOrElse(throw new IllegalArgumentException(
        s"articulationPoints: graph exceeds maxLocalEdges=$maxLocalEdges — " +
          "vertex biconnectivity needs an Euler-tour list-ranking build " +
          "this engine does not provide; raise the cap only with driver " +
          "memory to match"))
    if (capped.isEmpty)
      return spark.emptyDataset[String].toDF("node")
    spark.createDataFrame(localArticulation(capped).map(Tuple1(_))
        .toIndexedSeq)
      .toDF("node").orderBy("node")
  }

  private[ops] def localArticulation(
      edges: Array[(String, String)]): Array[String] = {
    val ids = collection.mutable.LinkedHashMap[String, Int]()
    def id(s: String): Int = ids.getOrElseUpdate(s, ids.size)
    val es = edges.map { case (a, b) => (id(a), id(b)) }
    val n = ids.size
    val names = ids.keys.toArray
    val adjHead = Array.fill(n)(-1)
    val nxt = new Array[Int](2 * es.length)
    val to = new Array[Int](2 * es.length)
    var m = 0
    for ((a, b) <- es; (u, v) <- Seq((a, b), (b, a))) {
      to(m) = v; nxt(m) = adjHead(u); adjHead(u) = m; m += 1
    }
    val disc = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val isArt = new Array[Boolean](n)
    val rootChildren = new Array[Int](n)
    var timer = 0
    val stackNode = new Array[Int](n + 1)
    val stackEdge = new Array[Int](n + 1)
    val stackIter = new Array[Int](n + 1)
    for (s <- 0 until n if disc(s) < 0) {
      var top = 0
      stackNode(0) = s; stackEdge(0) = -1; stackIter(0) = adjHead(s)
      disc(s) = timer; low(s) = timer; timer += 1
      while (top >= 0) {
        val v = stackNode(top)
        val it = stackIter(top)
        if (it == -1) {
          top -= 1
          if (top >= 0) {
            val p = stackNode(top)
            if (low(v) < low(p)) low(p) = low(v)
            if (p == s) rootChildren(s) += 1
            else if (low(v) >= disc(p)) isArt(p) = true
          }
        } else {
          stackIter(top) = nxt(it)
          val w = to(it)
          if (disc(w) < 0) {
            disc(w) = timer; low(w) = timer; timer += 1
            top += 1
            stackNode(top) = w; stackEdge(top) = it; stackIter(top) = adjHead(w)
          } else if ((it ^ 1) != stackEdge(top)) {
            if (disc(w) < low(v)) low(v) = disc(w)
          }
        }
      }
      if (rootChildren(s) >= 2) isArt(s) = true
    }
    (0 until n).filter(isArt).map(names).sorted.toArray
  }

  /** Iterative Tarjan low-link: disc/low over an explicit DFS stack. */
  private[ops] def localBridges(
      edges: Array[(String, String)]): Array[(String, String)] = {
    val ids = collection.mutable.LinkedHashMap[String, Int]()
    def id(s: String): Int = ids.getOrElseUpdate(s, ids.size)
    val es = edges.map { case (a, b) => (id(a), id(b)) }
    val n = ids.size
    val names = ids.keys.toArray
    val adjHead = Array.fill(n)(-1)
    val nxt = new Array[Int](2 * es.length)
    val to = new Array[Int](2 * es.length)
    var m = 0
    for ((a, b) <- es; (u, v) <- Seq((a, b), (b, a))) {
      to(m) = v; nxt(m) = adjHead(u); adjHead(u) = m; m += 1
    }
    val disc = Array.fill(n)(-1)
    val low = new Array[Int](n)
    var timer = 0
    val out = collection.mutable.ArrayBuffer[(String, String)]()
    val stackNode = new Array[Int](n + 1)
    val stackEdge = new Array[Int](n + 1) // half-edge index used to enter
    val stackIter = new Array[Int](n + 1) // current adjacency cursor
    for (s <- 0 until n if disc(s) < 0) {
      var top = 0
      stackNode(0) = s; stackEdge(0) = -1; stackIter(0) = adjHead(s)
      disc(s) = timer; low(s) = timer; timer += 1
      while (top >= 0) {
        val v = stackNode(top)
        val it = stackIter(top)
        if (it == -1) {
          // v exhausted: fold its low into the parent, test the edge
          top -= 1
          if (top >= 0) {
            val p = stackNode(top)
            if (low(v) < low(p)) low(p) = low(v)
            if (low(v) > disc(p)) {
              val (a, b) = (names(p), names(v))
              out += (if (a < b) (a, b) else (b, a))
            }
          }
        } else {
          stackIter(top) = nxt(it)
          val w = to(it)
          if (disc(w) < 0) {
            disc(w) = timer; low(w) = timer; timer += 1
            top += 1
            stackNode(top) = w; stackEdge(top) = it; stackIter(top) = adjHead(w)
          } else if ((it ^ 1) != stackEdge(top)) {
            // back edge (skip ONLY the half-edge we entered through, so a
            // genuine parallel pair — impossible after distinct, kept for
            // safety — would still cancel the bridge)
            if (disc(w) < low(v)) low(v) = disc(w)
          }
        }
      }
    }
    out.toArray.sortBy(identity)
  }

  private def distributedBridges(spark: SparkSession, canonical: DataFrame,
      maxBfsRounds: Int): DataFrame = {
    val e = canonical.persist(StorageLevel.MEMORY_AND_DISK)
    val sym = e.select(col("x").as("a"), col("y").as("b"))
      .union(e.select(col("y").as("a"), col("x").as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // roots: each component's min node (the CC label IS the min member)
    val cc = ConnectedComponents.components(
      e.select(col("x").as("src"), col("y").as("dst")))
    var assigned = cc.where(col("node") === col("component"))
      .select(col("node"), lit(null).cast("string").as("parent"),
        lit(0).as("depth"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var frontier = assigned.select("node")
    var d = 0
    var growing = true
    while (growing) {
      require(d < maxBfsRounds,
        s"Bridges: BFS forest exceeded $maxBfsRounds levels — a graph this " +
          "deep needs an Euler-tour list-ranking build, not level sync")
      val next = sym.join(frontier.withColumnRenamed("node", "a"), Seq("a"))
        .select(col("b").as("node"), col("a").as("p"))
        .join(assigned.select("node"), Seq("node"), "left_anti")
        .groupBy("node").agg(min(col("p")).as("parent"))
        .withColumn("depth", lit(d + 1))
        .localCheckpoint(eager = true)
      growing = next.limit(1).count() > 0
      if (growing) {
        assigned = assigned.union(next)
          .persist(StorageLevel.MEMORY_AND_DISK)
        frontier = next.select("node")
        d += 1
      }
    }
    val tree = assigned.where(col("parent").isNotNull)
      .select(least(col("parent"), col("node")).as("x"),
        greatest(col("parent"), col("node")).as("y"))
    val nonTree = e.join(tree, Seq("x", "y"), "left_anti")
      .withColumn("md5", md5(concat(col("x"), lit("|"), col("y"))))
      .withColumn("l1", hex_to_long(substring(col("md5"), 1, 15)))
      .withColumn("l2", hex_to_long(substring(col("md5"), 16, 15)))
    val nodeLab = nonTree.select(col("x").as("node"), col("l1"), col("l2"))
      .union(nonTree.select(col("y").as("node"), col("l1"), col("l2")))
      .groupBy("node")
      .agg(expr("bit_xor(l1)").as("l1"), expr("bit_xor(l2)").as("l2"))
    val labeled = assigned
      .join(nodeLab, Seq("node"), "left")
      .select(col("node"), col("parent"), col("depth"),
        coalesce(col("l1"), lit(0L)).as("l1"),
        coalesce(col("l2"), lit(0L)).as("l2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // bottom-up subtree XOR, one depth level per round
    var s = labeled.where(col("depth") === d)
      .select(col("node"), col("parent"), col("depth"),
        col("l1").as("s1"), col("l2").as("s2"))
      .localCheckpoint(eager = false)
    var acc = s
    var level = d - 1
    while (level >= 0) {
      val up = s.groupBy(col("parent").as("node"))
        .agg(expr("bit_xor(s1)").as("c1"), expr("bit_xor(s2)").as("c2"))
      s = labeled.where(col("depth") === level)
        .join(up, Seq("node"), "left")
        .select(col("node"), col("parent"), col("depth"),
          expr("l1 ^ coalesce(c1, 0L)").as("s1"),
          expr("l2 ^ coalesce(c2, 0L)").as("s2"))
        .localCheckpoint(eager = false)
      acc = acc.union(s)
      level -= 1
    }
    acc.where(col("parent").isNotNull &&
        col("s1") === 0L && col("s2") === 0L)
      .select(least(col("parent"), col("node")).as("src"),
        greatest(col("parent"), col("node")).as("dst"))
      .orderBy("src", "dst")
  }
}

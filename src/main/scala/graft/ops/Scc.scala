package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Strongly connected components of a DIRECTED edge list — the directed
  * sibling of [[ConnectedComponents]] (user-journey graphs, link graphs,
  * dependency graphs all need mutual-reachability, not just contact).
  *
  * Algorithm: forward/backward min-label peeling. Per round:
  *
  *   f(v) = min id u with a directed path u →* v   (forward propagation)
  *   b(v) = min id u with a directed path v →* u   (backward propagation)
  *
  * If f(v) = b(v) = m then m reaches v and v reaches m, so v ∈ SCC(m);
  * conversely every SCC whose min-reaching and min-reached ids coincide is
  * fully labeled in the round (in particular the SCC of the globally
  * smallest surviving id, so each round strictly shrinks the graph —
  * rounds are bounded by the depth of the min-id chain in the condensation
  * DAG, small on real graphs). Extracted nodes and their edges peel off;
  * the rest re-runs.
  *
  * Everything is shuffle algebra, no driver-side graph state at any size.
  * Both label directions propagate in the SAME loop: each step is two
  * label⋈edge joins feeding ONE per-node min-aggregate, materialized by a
  * single `localCheckpoint` job whose row stream also feeds the
  * changed-label accumulator (the [[PageRank]] convergence trick) — one
  * scheduled job per step, where the naive two-fixpoint form costs four
  * (per direction: checkpoint + signature action). Edges are pre-shuffled
  * by src and by dst once per round and persisted, so each step re-shuffles
  * only the label side. Node ids travel as strings and component ids are
  * lexicographic mins, matching the repo's other graph operators.
  */
object Scc {

  /** (node, scc_id) for every node incident to an edge.
    *
    * `maxRounds` is a loud-abort guard, not a tuning knob: rounds are
    * bounded by the min-id-chain depth of the condensation DAG, and each
    * round extracts EVERY SCC whose forward and backward mins coincide —
    * typically a large fraction, so real graphs finish in a handful of
    * rounds. The worst case is adversarial: a path graph whose ids
    * strictly DESCEND along the edges peels exactly one SCC per round
    * (only the globally smallest id has f = b). 256 therefore covers any
    * condensation chain 256 deep; a deeper one aborts via `require` with
    * the remaining-node count rather than looping silently (raise the
    * parameter if a legitimately deeper id-descending chain exists).
    */
  def components(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 256,
      maxPropSteps: Int = 128, maxLocalEdges: Long = 5_000_000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val distinctEdges = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where($"src".isNotNull && $"dst".isNotNull && $"src" =!= $"dst")
      .distinct()

    // Gated driver-local fast path (the [[PageRank.scores]] pattern): SCC
    // state is O(V + E) and V <= 2E, so below `maxLocalEdges` distinct
    // edges ONE capped collect + an iterative Tarjan pass beats the
    // distributed peeling loop's dozens of sequential scheduled jobs by
    // orders of magnitude on small/filtered graphs. The limit stops the
    // collect early when over the cap; above it, the shuffle loop below.
    Gate.collectAtMost(distinctEdges.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, String)].toDF("node", "scc_id")
        return spark.createDataFrame(localTarjan(capped).toIndexedSeq)
          .toDF("node", "scc_id")
      case None => // over the cap: fall through to the distributed loop
    }

    var e = distinctEdges.localCheckpoint(true)
    var nodes = e.select($"src".as("node")).union(e.select($"dst".as("node")))
      .distinct().localCheckpoint(true)
    var result = spark.emptyDataset[(String, String)]
      .toDF("node", "scc_id")
    var round = 0
    var remaining = nodes.count()
    while (remaining > 0) {
      require(round < maxRounds,
        s"SCC peeling did not converge in $maxRounds rounds ($remaining nodes left)")
      val lab = propagateBoth(nodes, e, maxPropSteps)
      val done = lab.where($"f" === $"b")
        .select($"node", $"f".as("scc_id")).localCheckpoint(true)
      result = result.union(done)
      val doneNodes = done.select("node")
      nodes = nodes.join(doneNodes, Seq("node"), "left_anti").localCheckpoint(true)
      e = e.join(doneNodes.select($"node".as("src")), Seq("src"), "left_anti")
        .join(doneNodes.select($"node".as("dst")), Seq("dst"), "left_anti")
        .select("src", "dst").localCheckpoint(true)
      remaining = nodes.count()
      round += 1
    }
    result
  }

  /** Iterative Tarjan over a collected edge list: components in one DFS
    * pass, O(V + E). Explicit stack (no recursion — a 5M-edge chain would
    * blow the JVM stack). Component ids are the LEXICOGRAPHIC MIN node id
    * in each SCC, matching the distributed peeling path exactly.
    */
  private def localTarjan(edges: Array[(String, String)]): Array[(String, String)] = {
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      edges.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
    // CSR adjacency
    val deg = new Array[Int](n)
    edges.foreach { case (a, _) => deg(idOf(a)) += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](edges.length)
    val cur = java.util.Arrays.copyOf(off, n)
    edges.foreach { case (a, b) =>
      val u = idOf(a); adj(cur(u)) = idOf(b); cur(u) += 1
    }
    val index = Array.fill(n)(-1)
    val lowlink = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val comp = Array.fill(n)(-1)
    val stack = new scala.collection.mutable.ArrayDeque[Int]()
    var counter = 0
    var nComp = 0
    // explicit DFS frames: (node, next-edge cursor)
    val frameNode = new Array[Int](n)
    val frameEdge = new Array[Int](n)
    var v0 = 0
    while (v0 < n) {
      if (index(v0) == -1) {
        var top = 0
        frameNode(0) = v0; frameEdge(0) = off(v0)
        index(v0) = counter; lowlink(v0) = counter; counter += 1
        stack.prepend(v0); onStack(v0) = true
        while (top >= 0) {
          val v = frameNode(top)
          if (frameEdge(top) < off(v + 1)) {
            val w = adj(frameEdge(top)); frameEdge(top) += 1
            if (index(w) == -1) {
              index(w) = counter; lowlink(w) = counter; counter += 1
              stack.prepend(w); onStack(w) = true
              top += 1; frameNode(top) = w; frameEdge(top) = off(w)
            } else if (onStack(w)) {
              if (index(w) < lowlink(v)) lowlink(v) = index(w)
            }
          } else {
            if (lowlink(v) == index(v)) {
              var w = -1
              while (w != v) {
                w = stack.removeHead(); onStack(w) = false; comp(w) = nComp
              }
              nComp += 1
            }
            top -= 1
            if (top >= 0) {
              val parent = frameNode(top)
              if (lowlink(v) < lowlink(parent)) lowlink(parent) = lowlink(v)
            }
          }
        }
      }
      v0 += 1
    }
    // component id = lexicographic min member name
    val minName = new Array[String](nComp)
    i = 0
    while (i < n) {
      val c = comp(i)
      if (minName(c) == null || names(i) < minName(c)) minName(c) = names(i)
      i += 1
    }
    names.indices.map(j => (names(j), minName(comp(j)))).toArray
  }

  /** Joint forward+backward min-label fixpoint: per node v,
    *   f(v) = min {v} ∪ {f(u) : edge u→v},
    *   b(v) = min {v} ∪ {b(u) : edge v→u},
    * iterated until NEITHER label changed anywhere (a changed-row count
    * collected by an accumulator during the checkpoint materialization —
    * result-stage accumulator updates apply exactly once per successful
    * task, so retries can't fake convergence). Returns (node, f, b).
    */
  private def propagateBoth(nodes: DataFrame, e: DataFrame,
      maxSteps: Int): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // each step joins labels against edges keyed by src (forward) and by
    // dst (backward): shuffle the edge side once per ROUND, not per step
    val eBySrc = e.repartition($"src").persist(StorageLevel.MEMORY_AND_DISK)
    val eByDst = e.repartition($"dst").persist(StorageLevel.MEMORY_AND_DISK)
    var lab = nodes.select($"node", $"node".as("f"), $"node".as("b"))
      .localCheckpoint(true)
    var step = 0
    var converged = false
    while (!converged) {
      require(step < maxSteps, s"min propagation exceeded $maxSteps steps")
      // forward messages carry f along u→v; backward carry b along v→u;
      // the base row carries the old labels so the aggregate can compare
      val msgsF = lab.join(eBySrc, $"node" === $"src")
        .select($"dst".as("node"), $"f",
          lit(null).cast("string").as("b"),
          lit(null).cast("string").as("of"), lit(null).cast("string").as("ob"))
      val msgsB = lab.join(eByDst, $"node" === $"dst")
        .select($"src".as("node"), lit(null).cast("string").as("f"),
          $"b", lit(null).cast("string").as("of"), lit(null).cast("string").as("ob"))
      val base = lab.select($"node", $"f", $"b", $"f".as("of"), $"b".as("ob"))
      val next = base.union(msgsF).union(msgsB)
        .groupBy($"node")
        .agg(min($"f").as("f"), min($"b").as("b"),
          // exactly one non-null per node (the base row)
          min($"of").as("of"), min($"ob").as("ob"))
      val acc = spark.sparkContext.longAccumulator("scc_changed")
      val instrumented = next.as[(String, String, String, String, String)]
        .map { t => if (t._2 != t._4 || t._3 != t._5) acc.add(1L); t }
        .toDF("node", "f", "b", "of", "ob")
        .localCheckpoint(true)
      converged = acc.value == 0L
      lab = instrumented.select($"node", $"f", $"b")
      step += 1
    }
    eBySrc.unpersist()
    eByDst.unpersist()
    lab
  }

  /** Condensation DAG: the distinct (scc_src, scc_dst) edges between
    * DIFFERENT strongly connected components — the acyclic quotient graph
    * every cycle-sensitive downstream pass (topological ordering,
    * longest-path criticality, dependency batching) actually runs on.
    *
    * Shape: one [[components]] run, then the edge list joined to the
    * label table on each endpoint (two label-keyed shuffle joins of the
    * distinct edge set — labels are (node, scc_id) rows, never collected)
    * and a distinct. Output: (scc_src, scc_dst).
    */
  def condensationEdges(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 256,
      maxPropSteps: Int = 128, maxLocalEdges: Long = 5_000_000L): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    val lab = components(edges, srcCol, dstCol, maxRounds, maxPropSteps,
        maxLocalEdges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bySrc = lab.select(col("node").as("src"), col("scc_id").as("scc_src"))
    val byDst = lab.select(col("node").as("dst"), col("scc_id").as("scc_dst"))
    e.join(bySrc, Seq("src")).join(byDst, Seq("dst"))
      .where(col("scc_src") =!= col("scc_dst"))
      .select(col("scc_src"), col("scc_dst"))
      .distinct()
  }
}

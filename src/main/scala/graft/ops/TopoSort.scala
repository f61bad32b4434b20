package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Topological layering of a DAG: each node's LONGEST-path distance from
  * any source — the layer assignment dependency schedulers batch by
  * (every node's prerequisites live in strictly earlier layers, so layer
  * i can run as one parallel wave after i−1) and the critical-path
  * length when edges are unit-cost. Feed it [[Scc.condensationEdges]]
  * output to schedule a graph that has cycles.
  *
  * Level-synchronous relaxation with improvement-delta frontiers (the
  * [[TemporalReach]] shape): start every node at layer 0, each round
  * relax only the out-edges of nodes whose layer ROSE last round
  * (layer(v) ← max(layer(v), layer(u)+1)), stop when a round changes
  * nothing. Rounds = DAG depth; each is one frontier⋈edges shuffle plus
  * a node-keyed max — pure shuffle algebra, no driver graph state, with
  * per-round localCheckpoint to keep lineage flat.
  *
  * CYCLE GUARD: on a cyclic input, layers rise forever; after `maxRounds`
  * rounds the loop aborts with a loud `require` naming the still-rising
  * node count (a DAG deeper than `maxRounds` needs the parameter raised —
  * condensation DAGs of real dependency graphs are far shallower).
  *
  * Output: (node, layer).
  */
object TopoSort {

  def longestPathLayers(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 64,
      maxLocalEdges: Long = 1_000_000L): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark0 = edges.sparkSession
    import spark0.implicits._
    val distinctEdges = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()

    // Gated driver-local fast path (the [[Scc.components]] pattern).
    // The default cap is 1M edges — deliberately tighter than Scc's 5M:
    // the worst-case driver footprint of the capped collect is cap+1
    // string pairs held BEFORE the gate can reject (ADVICE r7), and DAG
    // layering inputs (dependency/condensation graphs) are small; bigger
    // DAGs belong on the distributed frontier loop below anyway.
    // the depth-round frontier loop below schedules one job per DAG
    // level — dozens of sequential jobs for a graph that fits one task.
    // Longest-path layers are a unique function of the DAG (no
    // tie-breaking anywhere), so Kahn + DP computes the IDENTICAL result
    // (parity pinned in SetSketchTopoSpec with maxLocalEdges = 0).
    Gate.collectAtMost(distinctEdges.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        val nodes = (capped.map(_._1) ++ capped.map(_._2)).distinct
        val indeg = scala.collection.mutable.HashMap.empty[String, Int]
          .withDefaultValue(0)
        val out = scala.collection.mutable.HashMap
          .empty[String, List[String]].withDefaultValue(Nil)
        capped.foreach { case (s, t) =>
          indeg(t) += 1; out(s) = t :: out(s)
        }
        val layer = scala.collection.mutable.HashMap.empty[String, Long]
          .withDefaultValue(0L)
        var queue = nodes.filter(indeg(_) == 0).toList
        var processed = 0
        while (queue.nonEmpty) {
          val u = queue.head; queue = queue.tail; processed += 1
          out(u).foreach { v =>
            if (layer(u) + 1 > layer(v)) layer(v) = layer(u) + 1
            indeg(v) -= 1
            if (indeg(v) == 0) queue = v :: queue
          }
        }
        require(processed == nodes.length,
          s"longestPathLayers: ${nodes.length - processed} nodes on a " +
            "cycle (run Scc.condensationEdges first)")
        return nodes.map(n => (n, layer(n))).toSeq.toDF("node", "layer")
      case None => // over the cap: distributed tier
    }

    val e = distinctEdges.persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var layers = nodes.withColumn("layer", lit(0L)).localCheckpoint(true)
    var frontier = layers
    var round = 0
    var frontierSize = frontier.count()
    while (frontierSize > 0 && round < maxRounds) {
      val cand = frontier
        .join(e, frontier("node") === e("src"))
        .select(e("dst").as("node"), (frontier("layer") + 1L).as("cl"))
        .groupBy("node").agg(max(col("cl")).as("cl"))
      val next = layers.join(cand, Seq("node"), "left")
        .select(col("node"), col("layer"), col("cl"))
        .withColumn("nl", greatest(col("layer"), coalesce(col("cl"), lit(0L))))
        .localCheckpoint(true)
      frontier = next.where(col("nl") > col("layer"))
        .select(col("node"), col("nl").as("layer")).localCheckpoint(true)
      layers = next.select(col("node"), col("nl").as("layer"))
        .localCheckpoint(true)
      frontierSize = frontier.count()
      round += 1
    }
    require(frontierSize == 0,
      s"longestPathLayers: $frontierSize nodes still rising after " +
        s"$maxRounds rounds — the graph has a cycle (run Scc.condensationEdges " +
        "first) or the DAG is deeper than maxRounds")
    e.unpersist()
    layers
  }
}

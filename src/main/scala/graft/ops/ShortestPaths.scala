package graft.ops

import graft.core.{Gate, Ingest, LocalGraph}
import org.apache.spark.graphx.{Edge => GXEdge, EdgeTriplet, Graph, Pregel, VertexId}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** All-pairs weighted shortest paths, reference-parity
  * (reference: src/shortest_path.rs:129-206, SURVEY.md §2.2.3).
  *
  * Numeric parity: weights are fixed-point quantized exactly like the
  * reference — `(w * 1000.0) as i64` truncation toward zero (rs:70), all
  * path arithmetic in integer cost space, distances read back as
  * `cost / 1000.0` (rs:95) — so results are bit-equal.
  *
  * Undirected mode enumerates unordered pairs emitting the
  * lexicographically smaller node as `from` (rs:158-184). Directed mode
  * emits each reachable ordered pair ONCE — a documented deviation from
  * the reference, which emits every pair twice via its i/j double loop
  * (rs:164-196; SURVEY.md §7.8). Self-pairs and unreachable pairs are
  * excluded (rs:166-175).
  *
  * Spark shape: the reference runs one Dijkstra per PAIR with early exit;
  * here each executor task runs one full Dijkstra per SOURCE over a
  * broadcast adjacency (same distances, V× less work), with sources spread
  * across the cluster. All-pairs output is inherently O(V²); above the
  * broadcast gate (`maxLocalEdges`) the operator falls through automatically
  * to [[allPairsPregel]], the fully distributed fixpoint.
  */
object ShortestPaths {

  /** `directedDoubleEmit` replicates the reference's literal directed
    * output byte for byte: its i/j loop runs j over ALL nodes and emits
    * BOTH dist(i→j) and the mirrored dist(j→i) per iteration
    * (rs:164-196), so every reachable ordered pair appears exactly TWICE
    * (identical duplicate rows). Off by default — the once-per-pair form
    * is the useful relation and the oracle surface (SURVEY §2.2.3 / §7.8
    * decision); turn it on when diffing row-for-row against the
    * reference on a directed graph.
    */
  def calculateShortestPath(df: DataFrame, from: String, to: String,
      weight: String, directed: Boolean = false,
      maxLocalEdges: Long = 50000000L,
      directedDoubleEmit: Boolean = false): DataFrame = {
    val once = allPairs(Ingest.weightedEdges(df, from, to, weight), directed,
      maxLocalEdges)
    if (directed && directedDoubleEmit) once.union(once) else once
  }

  /** edges: (src string, dst string, weight double), nulls already dropped. */
  def allPairs(edges: DataFrame, directed: Boolean,
      maxLocalEdges: Long = 50000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val quantized = edges.select($"src", $"dst",
      ($"weight" * lit(1000.0)).cast("long").as("cost"))
    // one capped collect (VERDICT r7 item 2): above the broadcast gate we
    // fall through to the distributed Pregel path instead of failing —
    // same quantization, same emission rules, spec-pinned equal output
    // with the gate forced to 0.
    val rows = Gate.collectAtMost(quantized.as[(String, String, Long)], maxLocalEdges)
      .getOrElse(return allPairsPregel(edges, directed))
    val graph = LocalGraph.fromEdges(rows.toSeq, directed)
    val n = graph.numNodes
    if (n == 0) return spark.emptyDataset[(String, String, Double)]
      .toDF("from", "to", "distance")

    val bc = spark.sparkContext.broadcast(graph)
    val parallelism = math.max(1, math.min(n, spark.sparkContext.defaultParallelism * 4))
    val out = spark.range(n).repartition(parallelism)
      .as[Long]
      .mapPartitions { sources =>
        val g = bc.value
        sources.flatMap { src =>
          val s = src.toInt
          val dist = dijkstra(g, s)
          val srcName = g.names(s)
          (0 until g.numNodes).iterator
            .filter(t => t != s && dist(t) >= 0)
            .map(t => (srcName, g.names(t), dist(t) / 1000.0))
            .filter { case (f, t, _) => directed || f < t }
        }
      }
    out.toDF("from", "to", "distance")
  }

  /** The 100 TB scale path: multi-source weighted SSSP as a GraphX Pregel
    * fixpoint — no broadcast adjacency, no per-task graph copy; state is a
    * per-vertex map of (source → best cost) and supersteps relax edges in
    * parallel. Use for graphs too big for [[allPairs]]'s broadcast (and
    * pick a bounded source set: all-pairs output is O(V²) by definition).
    *
    * Same fixed-point quantization and emission rules as [[allPairs]]
    * restricted to the given sources; results for those sources are
    * identical. Undirected mode symmetrizes edges; `from` in the output is
    * the source name (lexicographic pair-collapse only applies to the
    * undirected all-pairs form).
    */
  def fromSourcesPregel(edges: DataFrame, sources: Seq[String],
      directed: Boolean): DataFrame =
    pregelSssp(edges, Some(sources), directed)

  /** All-pairs via the Pregel fixpoint — the automatic fallback target of
    * [[allPairs]] above its broadcast gate. Every vertex seeds itself
    * (Map(vid → 0) at init — no driver-side source resolution, no O(V)
    * collect), and the output applies the SAME emission rules as the local
    * path: self/unreachable pairs dropped, undirected pairs collapsed to
    * the lexicographically smaller `from`. Per-vertex state is
    * O(reachable sources) — all-pairs is O(V²) work at any scale, which is
    * inherent to the operator's contract, but here it is spread across
    * executors instead of a driver broadcast.
    */
  def allPairsPregel(edges: DataFrame, directed: Boolean): DataFrame = {
    val out = pregelSssp(edges, None, directed)
    if (directed) out else out.where(col("from") < col("to"))
  }

  private def pregelSssp(edges: DataFrame, sources: Option[Seq[String]],
      directed: Boolean): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val quantized = edges.select($"src", $"dst",
      ($"weight" * lit(1000.0)).cast("long").as("cost"))
    val nodes = quantized.select($"src".as("node"))
      .union(quantized.select($"dst".as("node"))).distinct()
    val idDf = spark.createDataFrame(nodes.as[String].rdd.zipWithIndex())
      .toDF("node", "vid").persist(StorageLevel.MEMORY_AND_DISK)
    idDf.count()
    val eids = quantized
      .join(idDf.select($"node".as("src"), $"vid".as("svid")), "src")
      .join(idDf.select($"node".as("dst"), $"vid".as("dvid")), "dst")
      .select($"svid", $"dvid", $"cost")
    val gxEdges = eids.as[(Long, Long, Long)].rdd.flatMap { case (s, d, c) =>
      if (directed) Iterator(GXEdge(s, d, c))
      else Iterator(GXEdge(s, d, c), GXEdge(d, s, c))
    }
    // resolve only the requested sources (collecting the whole vertex
    // dictionary would need O(V) driver memory — the case this path avoids);
    // None = every vertex seeds itself (all-pairs mode, no driver state)
    val srcIds: Option[Set[VertexId]] = sources.map { ss =>
      val srcIdOf = idDf.where(col("node").isin(ss: _*))
        .as[(String, Long)].collect().toMap
      val missing = ss.toSet -- srcIdOf.keySet
      require(missing.isEmpty, s"sources not present in graph: ${missing.mkString(", ")}")
      srcIdOf.values.toSet
    }

    val init: Map[VertexId, Long] = Map.empty
    val graph = Graph.fromEdges(gxEdges, init,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      .mapVertices((vid, _) =>
        if (srcIds.forall(_.contains(vid))) Map(vid -> 0L)
        else Map.empty[VertexId, Long])

    def mergeMaps(a: Map[VertexId, Long], b: Map[VertexId, Long]): Map[VertexId, Long] =
      (a.keySet ++ b.keySet).iterator.map { k =>
        k -> math.min(a.getOrElse(k, Long.MaxValue), b.getOrElse(k, Long.MaxValue))
      }.toMap

    val result = Pregel(graph, init) (
      vprog = (_, attr, msg) => mergeMaps(attr, msg),
      sendMsg = (t: EdgeTriplet[Map[VertexId, Long], Long]) => {
        val relaxed = t.srcAttr.map { case (s, d) => s -> (d + t.attr) }
          .filter { case (s, d) => d < t.dstAttr.getOrElse(s, Long.MaxValue) }
        if (relaxed.nonEmpty) Iterator((t.dstId, relaxed)) else Iterator.empty
      },
      mergeMsg = mergeMaps)

    val distRows = result.vertices.flatMap { case (vid, m) =>
      m.iterator.filter(_._1 != vid).map { case (s, c) => (s, vid, c) }
    }
    spark.createDataFrame(distRows).toDF("svid", "tvid", "cost")
      .join(idDf.select($"vid".as("svid"), $"node".as("from")), "svid")
      .join(idDf.select($"vid".as("tvid"), $"node".as("to")), "tvid")
      .select($"from", $"to", ($"cost".cast("double") / 1000.0).as("distance"))
  }

  /** Integer-cost Dijkstra; dist(t) = -1 when unreachable. */
  private[graft] def dijkstra(g: LocalGraph, source: Int): Array[Long] = {
    val dist = Array.fill(g.numNodes)(-1L)
    val pq = mutable.PriorityQueue.empty[(Long, Int)](Ordering.by(-_._1))
    dist(source) = 0L
    pq.enqueue((0L, source))
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (d == dist(v)) {
        val nbrs = g.adj(v)
        var i = 0
        while (i < nbrs.length) {
          val (w, c) = nbrs(i)
          val nd = d + c
          if (dist(w) < 0 || nd < dist(w)) {
            dist(w) = nd
            pq.enqueue((nd, w))
          }
          i += 1
        }
      }
    }
    dist
  }
}

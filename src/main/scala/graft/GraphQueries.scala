package graft

import graft.ops.{AssociationRules, Betweenness, ConnectedComponents, Dedup, KMeansEmbed, Multimodal, PageRank, Sessionize, ShortestPaths, Similarity, TextStats, Tokenizer}
import graft.queries.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryHelpers._

/** Driver-contract registry — graph operators: components, paths, centralities, communities, structure.
  * One slice of [[SparkEntry.queries]]/[[SparkEntry.oracleSql]]; entries
  * moved verbatim in the r10 split (no semantic change, guarded by the
  * duplicate-key check in SparkEntry).
  */
private[graft] object GraphQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_components" -> { (s, d) =>
      ConnectedComponents.components(Tables.partSupplierEdges(s, d))
        .orderBy("node")
    },
    "q_components_stats" -> { (s, d) =>
      ConnectedComponents.components(Tables.partSupplierEdges(s, d))
        .groupBy("component").agg(count(lit(1)).as("n_nodes"))
        .orderBy("component")
    },
    "q_components_agg" -> { (s, d) =>
      // same semantics as q_components via the one-pass Catalyst
      // union-find aggregate (canonical labels are identical)
      ConnectedComponents.componentsViaAggregate(Tables.partSupplierEdges(s, d))
        .orderBy("node")
    },
    "q_components_star" -> { (s, d) =>
      // the pure-shuffle 100 TB CC path (alternating large-star/small-star
      // contraction, O(log n) rounds, no task-local vertex state) under
      // the SAME oracle as q_components — proving the scale path computes
      // identical canonical labels, as q_shortest_path_pregel does for SSSP
      ConnectedComponents.componentsAlternatingStar(Tables.partSupplierEdges(s, d))
        .orderBy("node")
    },
    "q_assoc" -> { (s, d) =>
      // unweighted association mining over order→part transactions;
      // minConfidence=0 keeps the association graph symmetric so `pattern`
      // reduces to undirected components (SQL-checkable)
      val tx = Tables.lineitem(s, d).select(
        col("l_orderkey").as("tid"),
        concat(lit("P"), col("l_partkey")).as("item"))
      AssociationRules.graphAssociationRules(tx, "tid", "item", None,
          AssociationRules.Params(minSupport = 0.002, minConfidence = 0.0,
            maxItemsetSize = 5, weighted = false, firstAppearanceOrder = false))
        .select(col("item"), col("support"), col("lift_score"), col("pattern"))
        .orderBy("item")
    },
    "q_assoc_weighted" -> { (s, d) =>
      // weighted mode: frequency = l_quantity; exercises the per-pair
      // confidence filter and the top-5 consequent ranking (scalar digest)
      val tx = Tables.lineitem(s, d).select(
        col("l_orderkey").as("tid"),
        concat(lit("P"), col("l_partkey")).as("item"),
        col("l_quantity").as("freq"))
      AssociationRules.graphAssociationRules(tx, "tid", "item", Some("freq"),
          AssociationRules.Params(minSupport = 0.04, minConfidence = 0.5,
            maxItemsetSize = 8, weighted = true, firstAppearanceOrder = false,
            includePattern = false))
        .select(col("item"), col("support"), col("lift_score"),
          size(col("consequents")).as("n_top"),
          coalesce(element_at(col("consequents"), 1), lit("")).as("top_consequent"),
          coalesce(element_at(col("confidence_scores"), 1), lit(0.0)).as("top_confidence"))
        .orderBy("item")
    },
    "q_assoc_lists" -> { (s, d) =>
      // the top-5 consequent/confidence lists themselves — the reference's
      // own tests exercise their contents
      // (reference: tests/test_graph_solver.py:249-293). Exploded to
      // (item, rank, consequent, confidence) rows so the DuckDB oracle
      // cell-compares list CONTENT and ORDER, not just a scalar digest.
      val tx = Tables.lineitem(s, d).select(
        col("l_orderkey").as("tid"),
        concat(lit("P"), col("l_partkey")).as("item"),
        col("l_quantity").as("freq"))
      AssociationRules.graphAssociationRules(tx, "tid", "item", Some("freq"),
          AssociationRules.Params(minSupport = 0.04, minConfidence = 0.5,
            maxItemsetSize = 8, weighted = true, firstAppearanceOrder = false,
            includePattern = false))
        .select(col("item"),
          posexplode(arrays_zip(col("consequents"), col("confidence_scores"))))
        .select(col("item"), (col("pos") + 1).cast("int").as("rank"),
          col("col.consequents").as("consequent"),
          col("col.confidence_scores").as("confidence"))
        .orderBy("item", "rank")
    },
    "q_shortest_path" -> { (s, d) =>
      // all-pairs fixed-point Dijkstra over the 25-node nation graph;
      // multiple competing paths + truncating weight quantization
      ShortestPaths.allPairs(Tables.nationGraphEdges(s, d), directed = false)
        .orderBy("from", "to")
    },
    "q_shortest_path_pregel" -> { (s, d) =>
      // the 100 TB SSSP path under the driver gate: GraphX Pregel
      // multi-source relaxation — same fixed-point quantization as
      // q_shortest_path's broadcast Dijkstra, proven identical by the
      // shared recursive-CTE oracle restricted to these sources
      ShortestPaths.fromSourcesPregel(Tables.nationGraphEdges(s, d),
          sources = Seq("NATION_0", "NATION_12", "NATION_7"), directed = false)
        .orderBy("from", "to")
    },
    "q_pagerank" -> { (s, d) =>
      // CONVERGENT PageRank, hash-exact (r12, VERDICT r11 item 7): the
      // reference recurrence ((1−d)/N base, no dangling redistribution,
      // L1 stopping rule) on the ×1e12 integer grid, iterating UNTIL
      // L1 < 1e6 (= 1e-6 on the unit scale, the same tolerance the
      // double path uses) — the data-dependent stop included. The oracle
      // is a recursive CTE that carries each step's integer L1 and stops
      // at the same step (QueryHelpers.pagerankConvOracle), closing the
      // gate's last rows-only PageRank entry; the double-precision
      // reference op PageRank.scores stays pinned by the 0.0125 pytest
      // golden in ScalaTest and its fixed-iteration twins
      // (q_pagerank_fp / q_pagerank_weighted / q_ppr) stay in the gate.
      PageRank.scoresFixedPointConvergent(
          Tables.partSupplierDirectedEdges(s, d),
          tolQ = 1_000_000L, maxIter = 60)
        .orderBy("node")
    },
    "q_pagerank_fp" -> { (s, d) =>
      // fixed-point integer PageRank (damping 17/20, ×1e12 grid, 10 fixed
      // iterations): every step is integer arithmetic, so the scores are
      // bit-identical in any engine / summation order → full DuckDB oracle
      // (unrolled per-iteration CTEs), unlike the double-precision
      // q_pagerank which is rows-only
      PageRank.scoresFixedPoint(Tables.partSupplierDirectedEdges(s, d),
          iters = 10)
        .orderBy("node")
    },
    "q_ppr" -> { (s, d) =>
      // personalized PageRank: same integer recurrence, teleport onto the
      // three source parts only — random-walk proximity scores used as a
      // curation graph feature
      PageRank.pprFixedPoint(Tables.partSupplierDirectedEdges(s, d),
          sources = Seq("P1", "P2", "P3"), iters = 10)
        .orderBy("node")
    },
    "q_betweenness" -> { (s, d) =>
      // NORMALIZED betweenness, hash-exact (r12, VERDICT r11 item 7):
      // the pairwise-σ identity with per-triple ×1e9 quantization plus
      // the reference normalization on the integer grid
      // ((qbc·1000) div ((n−1)(n−2)) — undirected halving and the 2/…
      // normalizer cancel), closing the gate's last rows-only row. The
      // double-precision exact-Brandes op (betweennessCentrality) stays
      // pinned by its ScalaTest goldens and the distributed/sampled
      // variants' parity specs.
      Betweenness.betweennessNormalizedQuantized(
          Tables.nationGraphEdges(s, d), "src", "dst", directed = false)
        .orderBy("node")
    },
    "q_betweenness_pairs" -> { (s, d) =>
      // betweenness via the pairwise σ identity with per-triple ×1e9
      // quantization — exact integer sums in any engine → full DuckDB
      // oracle (path-enumeration σ + the same FLOOR expression), unlike
      // the order-sensitive double accumulation of q_betweenness
      Betweenness.betweennessPairwiseQuantized(
          Tables.nationGraphEdges(s, d), "src", "dst", directed = false)
        .orderBy("node")
    },
    "q_feature_prop" -> { (s, d) =>
      // one round of GraphSAGE-style mean message passing: user-graph
      // neighbors' quantized embeddings, element-wise floor-mean
      // (ops/FeatureProp) — the core graph-ML feature workload
      graft.ops.FeatureProp.neighborMean(
          Tables.userSequenceEdges(s, d), "src", "dst",
          Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy("node", "pos")
    },
    "q_link_pred" -> { (s, d) =>
      // Resource-Allocation link prediction over the co-order part graph:
      // which part pairs are never co-ordered but share >= 2 co-order
      // neighbors. 1/deg weights quantized by integer div (×1e9) — exact
      // in any engine, unlike Adamic-Adar's libm ln(). Hot centers capped
      // at degree 64 (mirrored in the oracle), the LSH hot-bucket pattern
      graft.ops.LinkPrediction.resourceAllocation(
          Tables.coOrderPairEdges(s, d), "src", "dst",
          maxCenterDegree = 64, minCommon = 2)
        .orderBy("a", "b")
    },
    "q_communities" -> { (s, d) =>
      // deterministic synchronous label propagation on the co-order part
      // graph: 4 fixed rounds, most-frequent neighbor label with min-label
      // tie-break — the unrolled-CTE oracle replays the identical partial
      // fixpoint (q_kcore parity trick)
      graft.ops.Communities.labelPropagation(
          Tables.coOrderPairEdges(s, d), "src", "dst", rounds = 4)
        .orderBy("node")
    },
    "q_hyperball" -> { (s, d) =>
      // HyperBall ball-register state at radius 3 (ops/HyperBall): the
      // O(V·2^p) sketch path for geometric centralities — the register
      // evolution is pure integer math, so the SPARSE register table
      // itself is the oracle surface (estimates are spec-tested)
      graft.ops.HyperBall.ballRegisters(
          Tables.coOrderPairEdges(s, d), "src", "dst", rounds = 3, p = 4)
        .orderBy("node", "idx")
    },
    "q_eff_diameter" -> { (s, d) =>
      // neighborhood function + 90% effective diameter from the same
      // HyperBall register sweep as q_hyperball (ops/HyperBall
      // .effectiveDiameter): raw-HLL estimates floored to whole nodes
      // via one DECIMAL(38,0) division per node, order-independent
      // integer sums — the float-free estimator variant that joins the
      // oracle surface
      graft.ops.HyperBall.effectiveDiameter(
          Tables.coOrderPairEdges(s, d), "src", "dst", rounds = 3, p = 4)
        .orderBy("r")
    },
    "q_harmonic" -> { (s, d) =>
      // truncated harmonic centrality on the co-order part graph:
      // radius-4 BFS from a 1% md5-sampled source set, lcm-scaled exact
      // rational sums (ops/Harmonic) — fixed rounds so the unrolled
      // MATERIALIZED-CTE oracle replays the identical partial fixpoint
      graft.ops.Harmonic.harmonicCentrality(
          Tables.coOrderPairEdges(s, d), "src", "dst",
          rounds = 4, sourceRatePermille = 10, salt = "harmonic")
        .orderBy("node")
    },
    "q_lpa_weighted" -> { (s, d) =>
      // weighted label propagation (Communities.labelPropagationWeighted):
      // neighbors vote with co-occurrence weight, 3 fixed rounds over the
      // weighted co-order projection — unrolled weighted-majority oracle
      graft.ops.Communities.labelPropagationWeighted(
          graft.ops.GraphStats.bipartiteProjection(
            Tables.lineitem(s, d).where(col("l_quantity") <= 15)
              .select(col("l_orderkey").as("oid"),
                concat(lit("P"), col("l_partkey")).as("item")),
            "oid", "item", maxGroupSize = 8),
          "a", "b", "weight", rounds = 3)
        .orderBy("node")
    },
    "q_louvain_weighted" -> { (s, d) =>
      // weighted Louvain move over the weighted co-order projection
      // (Communities.modularityMoveStepWeighted): strengths replace
      // degrees, co-occurrence counts are the integer weights, LPA-2 on
      // the same pair set seeds the partition
      val proj = graft.ops.GraphStats.bipartiteProjection(
          Tables.lineitem(s, d).where(col("l_quantity") <= 15)
            .select(col("l_orderkey").as("oid"),
              concat(lit("P"), col("l_partkey")).as("item")),
          "oid", "item", maxGroupSize = 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ops.Communities.modularityMoveStepWeighted(proj, "a", "b",
          "weight",
          graft.ops.Communities.labelPropagation(proj, "a", "b", rounds = 2))
        .orderBy("node")
    },
    "q_bipartite_proj" -> { (s, d) =>
      // weighted bipartite projection (GraphStats.bipartiteProjection):
      // orders × parts → co-order item pairs with co-occurrence weights,
      // memberships deduped, 8-item group cap BEFORE any pair blowup
      graft.ops.GraphStats.bipartiteProjection(
          Tables.lineitem(s, d).where(col("l_quantity") <= 15)
            .select(col("l_orderkey").as("oid"),
              concat(lit("P"), col("l_partkey")).as("item")),
          "oid", "item", maxGroupSize = 8)
        .orderBy("a", "b")
    },
    "q_coreness" -> { (s, d) =>
      // FULL k-core decomposition in one run (ops/Coreness): h-index
      // fixpoint, 4 fixed rounds — upper-bounding partial fixpoint both
      // engines replay exactly; windowless h-index via zip_with/least
      graft.ops.Coreness.hIndexRounds(Tables.coOrderPairEdges(s, d),
          "src", "dst", rounds = 4)
        .orderBy("node")
    },
    "q_kcore" -> { (s, d) =>
      // k-core of the co-order part graph: exactly 8 synchronized peeling
      // rounds (ops/KCore) — fixed rounds so the unrolled-CTE oracle
      // computes the identical partial fixpoint (the q_pagerank_fp parity
      // trick); KCoreSpec proves fixed-rounds == true fixpoint when the
      // round count covers the peel depth
      graft.ops.KCore.kCore(Tables.coOrderPairEdges(s, d), "src", "dst",
          k = 3, iters = 8)
        .orderBy("node")
    },
    "q_triangles" -> { (s, d) =>
      // per-part triangle participation in the co-order graph (parts
      // co-occurring in an order are linked; low-quantity lineitems only
      // and orders capped at 8 items so clique blowup is bounded — same
      // guardrail as association mining; MEASURED on the unguarded graph
      // once (one-off timing): 1.20M edges, 5.65M participations, 21.1 s
      // at sf0.1/local[32] — feasible, just no extra oracle coverage).
      // Degree-ordered orientation emits each triangle once
      graft.ops.Triangles.perNodeCounts(Tables.coOrderPairEdges(s, d),
          "src", "dst")
        .orderBy("node")
    },
    "q_scc" -> { (s, d) =>
      // strongly connected components of the directed user-journey graph
      // (ops/Scc.scala): mutual-reachability classes via forward/backward
      // min-label peeling — all shuffle algebra, no driver graph state
      graft.ops.Scc.components(Tables.userSequenceEdges(s, d))
        .orderBy("node")
    },
    "q_jaccard_links" -> { (s, d) =>
      // neighborhood-Jaccard link scores over the co-order part graph —
      // the normalized companion of q_link_pred's RA index, same wedge
      // plan and degree-64 center cap, exact integer per-mille
      graft.ops.LinkPrediction.neighborJaccard(
          Tables.coOrderPairEdges(s, d), "src", "dst",
          maxCenterDegree = 64, minCommon = 2)
        .orderBy("a", "b")
    },
    "q_bipartite" -> { (s, d) =>
      // per-component 2-colorability of the (undirected) user-journey
      // graph via the parity-doubling reduction to connected components
      // (ops/Bipartite) — two CC runs, no new fixpoint machinery
      graft.ops.Bipartite.bipartiteComponents(
          Tables.userSequenceEdges(s, d), "src", "dst")
        .orderBy("component")
    },
    "q_pagerank_weighted" -> { (s, d) =>
      // edge-weighted integer fixed-point PageRank: walk mass leaves each
      // part proportional to floor(l_quantity) per supplier edge — the
      // weighted member of the q_pagerank_fp family, same unrolled oracle
      PageRank.weightedScoresFixedPoint(
          Tables.lineitem(s, d).select(
            concat(lit("P"), col("l_partkey")).as("src"),
            concat(lit("S"), col("l_suppkey")).as("dst"),
            col("l_quantity").as("w")),
          "w", iters = 10)
        .orderBy("node")
    },
    "q_degree_dist" -> { (s, d) =>
      // degree histogram of the co-order part graph (ops/GraphStats)
      graft.ops.GraphStats.degreeHistogram(
          Tables.coOrderPairEdges(s, d), "src", "dst")
        .orderBy("degree")
    },
    "q_assortativity" -> { (s, d) =>
      // Newman degree assortativity as one row of integer sufficient
      // statistics + the double coefficient derived from their casts
      graft.ops.GraphStats.degreeAssortativity(
          Tables.coOrderPairEdges(s, d), "src", "dst")
    },
    "q_modularity" -> { (s, d) =>
      // modularity of the 4-round LPA partition over the same graph —
      // exact integer fraction Σ(4m·e_c − d_c²) / 4m² plus the quotient.
      // The co-order derivation (groupBy + double explode over lineitem)
      // feeds BOTH the modularity edge side and LPA — persist so it runs
      // once (breaks even at sf0.1 where materialization ≈ recompute; at
      // corpus scale recompute is a second full lineitem pass)
      val edges = Tables.coOrderPairEdges(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ops.GraphStats.modularity(edges, "src", "dst",
        graft.ops.Communities.labelPropagation(edges, "src", "dst", rounds = 4))
    },
    "q_temporal_reach" -> { (s, d) =>
      // time-respecting earliest arrival over temporal user edges from a
      // 10% md5-sampled source set, 4 fixed relaxation rounds
      // (ops/TemporalReach) — static reachability overcounts diffusion
      val te = Tables.userTemporalEdges(s, d)
      val nodes = te.select(col("src").as("node"))
        .union(te.select(col("dst").as("node"))).distinct()
      graft.ops.TemporalReach.earliestArrival(te, "src", "dst", "t",
          graft.ops.Sampling.hashSample(nodes, "node", 100, "treach"),
          rounds = 4)
        .orderBy("s", "node")
    },
    "q_matching" -> { (s, d) =>
      // distributed greedy maximal matching on the co-order part graph
      // (ops/Matching): md5 edge priorities, 6 local-minimum rounds —
      // the "merge each near-dup pair once" symmetry breaker
      graft.ops.Matching.greedyMatching(Tables.coOrderPairEdges(s, d),
          "src", "dst", rounds = 6, salt = "match")
        .orderBy("x", "y")
    },
    "q_random_walks" -> { (s, d) =>
      // node2vec-style walk sampling (ops/RandomWalks): 4-step
      // hash-guided walks from the 40 lexicographically-smallest users of
      // the journey graph — deterministic "coin" via the md5 identity-hash
      // contract, one frontier⋈edges join + map-side argmin per step
      val e = Tables.userSequenceEdges(s, d)
      val seeds = e.select("src").distinct().orderBy("src").limit(40)
      graft.ops.RandomWalks.walks(e, "src", "dst", seeds, "src", steps = 4)
        .orderBy("walk_id", "step")
    },
    "q_mst" -> { (s, d) =>
      // distributed Borůvka minimum spanning forest (ops/SpanningForest)
      // on the nation graph with md5-derived DISTINCT integer weights —
      // distinctness makes the MSF unique, so the DuckDB oracle can run
      // Prim (a different greedy) and provably land on the same edge set
      val e = Tables.nationGraphEdges(s, d)
        .select(least(col("src"), col("dst")).as("x"),
          greatest(col("src"), col("dst")).as("y"))
        .distinct()
        .withColumn("w", graft.functions.functions.hex_to_long(
          substring(md5(concat(lit("mst"), col("x"), lit("|"), col("y"))), 1, 12)))
      graft.ops.SpanningForest.minimumSpanningForest(e, "x", "y", "w")
        .select("x", "y", "w").orderBy("x", "y")
    },
    "q_eccentricity" -> { (s, d) =>
      // per-node eccentricity (max finite shortest-path distance) on the
      // weighted nation graph — same ×1000-truncating APSP engine as
      // q_shortest_path, folded with one max; unreachable pairs stay out.
      // allPairs emits each undirected pair once (from < to), so the max
      // folds over BOTH endpoints; distances are symmetric
      val ap = ShortestPaths
        .allPairs(Tables.nationGraphEdges(s, d), directed = false)
      ap.select(col("from").as("node"), col("distance"))
        .union(ap.select(col("to").as("node"), col("distance")))
        .groupBy("node")
        .agg(max(col("distance")).as("ecc"))
        .orderBy("node")
    },
    "q_ktruss" -> { (s, d) =>
      // 4-truss of the co-order part graph (ops/Truss): iterative
      // triangle-support peeling on the degree-oriented wedge plan —
      // 6 rounds is past the fixpoint at this SF (oracle unrolls the same
      // 6; the monotone peel makes early-stable == full-unroll)
      graft.ops.Truss.kTruss(Tables.coOrderPairEdges(s, d), "src", "dst",
          k = 4, maxRounds = 6)
        .orderBy("x", "y")
    },
    "q_clustering_coef" -> { (s, d) =>
      // local clustering coefficient (Triangles.clusteringCoefficients)
      // on the co-order part graph — integer-permille portable score
      graft.ops.Triangles.clusteringCoefficients(
          Tables.coOrderPairEdges(s, d), "src", "dst")
        .orderBy("node")
    },
    "q_mis" -> { (s, d) =>
      // Luby maximal independent set (ops/IndependentSet) on the co-order
      // part graph — the node-side dual of q_matching's symmetry breaking;
      // 6 rounds is past the fixpoint at this SF (unrolled-oracle parity)
      graft.ops.IndependentSet.maximalIndependentSet(
          Tables.coOrderPairEdges(s, d), "src", "dst", rounds = 6)
        .orderBy("node")
    },
    "q_reciprocity" -> { (s, d) =>
      // directed-graph reciprocity of the user-journey graph
      // (GraphStats.reciprocity): two shuffles of the distinct edge set,
      // one-row output
      graft.ops.GraphStats.reciprocity(
        Tables.userSequenceEdges(s, d), "src", "dst")
    },
    "q_butterflies" -> { (s, d) =>
      // bipartite butterfly (2x2 biclique) count over the part-supplier
      // graph (ops/Butterflies): co-neighbor pair counts via the bounded
      // collect_list wedge plan, hub guard at wedge degree 64
      graft.ops.Butterflies.globalCount(
        Tables.partSupplierEdges(s, d), "src", "dst", maxWedgeDegree = 64)
    },
    "q_hits" -> { (s, d) =>
      // HITS hubs & authorities (ops/Hits): two exact integer a/h
      // rounds over the directed user-journey graph — a_1 is in-degree,
      // the unrolled-CTE oracle replays every walk count bit for bit
      graft.ops.Hits.hubsAuthorities(Tables.userSequenceEdges(s, d),
          "src", "dst", iterations = 2)
        .orderBy("node")
    },
    "q_bridges" -> { (s, d) =>
      // bridge edges of the undirected user-journey graph (ops/Bridges):
      // gated local Tarjan under the cap, BFS-forest XOR-labeling
      // distributed path above it — the oracle re-derives every bridge
      // by per-edge-removal reachability
      graft.ops.Bridges.bridges(Tables.userSequenceEdges(s, d),
        "src", "dst")
    },
    "q_articulation" -> { (s, d) =>
      // articulation points of the same graph (Bridges.articulationPoints,
      // gated local Tarjan): the oracle re-derives each one by per-node
      // removal — BFS from one neighbor must reach every other neighbor
      graft.ops.Bridges.articulationPoints(Tables.userSequenceEdges(s, d),
        "src", "dst")
    },
    "q_2ecc" -> { (s, d) =>
      // 2-edge-connected components (Bridges.twoEdgeConnectedComponents):
      // drop every bridge, CC-label what survives — min-member labels,
      // bridge-stranded nodes become singletons
      graft.ops.Bridges.twoEdgeConnectedComponents(
        Tables.userSequenceEdges(s, d), "src", "dst")
    },
    "q_coloring" -> { (s, d) =>
      // Jones–Plassmann greedy coloring (ops/Coloring): md5-priority
      // parallel rounds, mex colors, 12-round truncation replayed
      // exactly by the unrolled oracle
      graft.ops.Coloring.greedyColoring(Tables.userSequenceEdges(s, d),
        "src", "dst", rounds = 12)
    },
    "q_wl_colors" -> { (s, d) =>
      // 1-WL color refinement (ops/WlRefinement): 3 rounds of
      // (own color, sorted neighbor multiset) hashing — structural
      // fingerprints; the oracle replays each round via string_agg
      graft.ops.WlRefinement.wlColors(Tables.userSequenceEdges(s, d),
        "src", "dst", rounds = 3)
    },
    "q_euler" -> { (s, d) =>
      // Eulerian feasibility per component (GraphChecks.eulerian):
      // degree parity + CC, no traversal
      graft.ops.GraphChecks.eulerian(Tables.userSequenceEdges(s, d),
        "src", "dst")
    },
    "q_rich_club" -> { (s, d) =>
      // rich-club profile of the co-order graph (GraphChecks.richClub):
      // hub-to-hub density per degree threshold in exact permille
      graft.ops.GraphChecks.richClub(Tables.coOrderPairEdges(s, d),
        "src", "dst", maxK = 16)
    },
    "q_temporal_triangles" -> { (s, d) =>
      // cyclic temporal triangles (ops/TemporalMotifs): u→v→w→u with
      // strictly increasing times inside a 6h window — information-flow
      // loops, not static structure
      graft.ops.TemporalMotifs.cyclicTriangles(
        Tables.userTemporalEdges(s, d), "src", "dst", "t",
        windowUs = 21600000000L)
    },
    "q_wl_components" -> { (s, d) =>
      // per-component 1-WL signatures: structurally indistinguishable
      // components share wl_sig — distributed isomorphism screening.
      // Input: the five per-event-type journey graphs, node-namespaced
      // so each type is its own component family
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("ts_us"), col("event_id"))
      val typed = Tables.events(s, d).where(col("value") < 2.0)
        .withColumn("nxt", lead(col("user_id"), 1).over(w))
        .where(col("nxt").isNotNull && col("nxt") =!= col("user_id"))
        .select(concat(col("event_type"), lit(":"), col("user_id")).as("src"),
          concat(col("event_type"), lit(":"), col("nxt")).as("dst"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wl = graft.ops.WlRefinement.wlColors(typed, "src", "dst",
        rounds = 3)
      val cc = graft.ops.ConnectedComponents.components(typed)
      val sig = wl.join(cc, Seq("node"))
        .groupBy("component")
        .agg(count(lit(1)).as("n_nodes"),
          md5(concat_ws(",", sort_array(collect_list(col("wl_color")))))
            .as("wl_sig"))
      val iso = sig.groupBy("wl_sig").agg(count(lit(1)).as("n_isomorphic"))
      sig.join(iso, Seq("wl_sig"))
        .select(col("component"), col("n_nodes"), col("wl_sig"),
          col("n_isomorphic"))
        .orderBy("component")
    },
    "q_densest" -> { (s, d) =>
      // Charikar densest-subgraph peeling over the co-order graph
      // (DensestSubgraph.peelProfile): all-integer density comparisons,
      // best round flagged, gated local replay of the identical rounds
      graft.ops.DensestSubgraph.peelProfile(Tables.coOrderPairEdges(s, d),
        "src", "dst", maxRounds = 24)
    },
    "q_conductance" -> { (s, d) =>
      // per-community cut quality (GraphStats.conductance): brand
      // partition of the co-purchase graph, φ in exact permille —
      // inner-join labeled edges, community-keyed integer aggregate
      val labels = Tables.part(s, d).select(
        concat(lit("P"), col("p_partkey")).as("node"),
        col("p_brand").as("community"))
      graft.ops.GraphStats.conductance(Tables.coOrderPairEdges(s, d),
          "src", "dst", labels)
        .orderBy("community")
    },
    "q_degree_gini" -> { (s, d) =>
      // exact Gini of the co-order degree distribution (ops/Inequality):
      // is connectivity concentrated in a few hub parts? Lorenz rank-sum
      // identity, window only over the aggregated degree-value table
      // coOrderPairEdges emits one pair PER CO-ORDER; the degree
      // distribution is over the simple graph, so dedup first
      val e = Tables.coOrderPairEdges(s, d).select("src", "dst").distinct()
      val deg = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      graft.ops.Inequality.giniExact(deg, "degree")
    },
    "q_centralization" -> { (s, d) =>
      // Freeman degree centralization of the co-order graph
      // (GraphStats.degreeCentralization): how star-like is it, in exact
      // integer pieces + floor permille
      graft.ops.GraphStats.degreeCentralization(
        Tables.coOrderPairEdges(s, d), "src", "dst")
    },
    "q_cliques4" -> { (s, d) =>
      // per-part 4-clique participation (ops/Cliques4): the densification
      // step past triangles — triangleList (gated local replay inside)
      // expanded along the highest corner, two semi-joins close the pairs
      graft.ops.Cliques4.perNodeCounts(Tables.coOrderPairEdges(s, d),
          "src", "dst")
        .orderBy("node")
    },
    "q_stationary" -> { (s, d) =>
      // Markov stationary distribution (Transitions.stationary
      // Distribution): closed chain over event types, 6 integer
      // fixed-point rounds, gated local replay of the |types|² matrix
      graft.ops.Transitions.stationaryDistribution(Tables.events(s, d),
        "user_id", "ts_us", "event_type", "event_id", rounds = 6)
    },
    "q_scc_condense" -> { (s, d) =>
      // condensation DAG of the user-journey graph (Scc.condensationEdges):
      // distinct inter-SCC edges — the acyclic quotient topological passes
      // run on
      graft.ops.Scc.condensationEdges(Tables.userSequenceEdges(s, d))
        .orderBy("scc_src", "scc_dst")
    },
    "q_topo_layers" -> { (s, d) =>
      // longest-path topological layers of the nation DAG
      // (TopoSort.longestPathLayers): frontier relaxation rounds = DAG
      // depth, pure shuffle algebra, loud cycle guard
      graft.ops.TopoSort.longestPathLayers(
          Tables.nationGraphEdges(s, d), "src", "dst")
        .orderBy("node")
    },
    "q_louvain_move" -> { (s, d) =>
      // one synchronous Louvain move step over the LPA-4 partition
      // (Communities.modularityMoveStep): exact integer ΔQ comparison,
      // argmax via min-struct — deterministic unlike sequential Louvain
      graft.ops.Communities.lpaLouvain(Tables.coOrderPairEdges(s, d),
          "src", "dst", lpaRounds = 4, moveRounds = 1)
        .orderBy("node")
    },
    "q_louvain" -> { (s, d) =>
      // multi-round synchronous Louvain (Communities.lpaLouvain, VERDICT
      // r7 item 6): LPA-4 init, then TWO move rounds, each re-scoring
      // every node against the previous round's partition — the
      // unrolled-CTE oracle replays both rounds exactly; one derivation
      // pass feeds both replays
      graft.ops.Communities.lpaLouvain(Tables.coOrderPairEdges(s, d),
          "src", "dst", lpaRounds = 4, moveRounds = 2)
        .orderBy("node")
    },
    "q_louvain_hier" -> { (s, d) =>
      // multi-level Louvain (Communities.louvainHier, VERDICT r8 item 5):
      // LPA-4 + two node-move rounds, contract communities into
      // supernodes, one weighted move round on the contracted graph,
      // project back — adopted only when the exact integer modularity on
      // the ORIGINAL graph does not decrease (guarded acceptance)
      graft.ops.Communities.louvainHier(Tables.coOrderPairEdges(s, d),
          "src", "dst", lpaRounds = 4, moveRounds = 2, hierMoveRounds = 1)
        .orderBy("node")
    },
    "q_leiden" -> { (s, d) =>
      // Leiden-style refinement (Communities.leidenRefine): the q_louvain
      // coarse partition re-partitioned FROM SINGLETONS on each
      // community's intra-edge subgraph (2 move rounds, subgraph-exact
      // integer gains) — >1 refined label inside a community = badly
      // connected, the defect Leiden repairs; refined labels never cross
      // coarse boundaries by construction
      graft.ops.Communities.leidenRefine(Tables.coOrderPairEdges(s, d),
          "src", "dst", lpaRounds = 4, moveRounds = 2, refineRounds = 2)
        .orderBy("node")
    },
    "q_simrank" -> { (s, d) =>
      // SimRank structural similarity on the directed nation graph
      // (ops/SimRank): recursive "similar in-neighbors" measure on the
      // ppm integer grid, 3 floored rounds, sparse nonzero pairs only —
      // unrolled-CTE oracle replays every round exactly
      graft.ops.SimRank.simRank(
          Tables.nationGraphEdges(s, d), "src", "dst", iters = 3)
        .orderBy("node_a", "node_b")
    },
    "q_katz" -> { (s, d) =>
      // Katz centrality on the user-journey graph (ops/Katz): integer
      // fixed-point on a 1e9 grid, alpha = 1/8 (max in-degree 5 -> safe
      // geometric bound), 6 iterations unrolled in the oracle
      graft.ops.Katz.centralityFixedPoint(
          Tables.userSequenceEdges(s, d))
        .orderBy("node")
    },
    "q_label_spread" -> { (s, d) =>
      // semi-supervised label spreading (Communities.labelSpreading):
      // 2% md5-seeded nodes carry their own id as label, 3 synchronous
      // rounds of clamped majority adoption over the co-order graph
      val edges = Tables.coOrderPairEdges(s, d)
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      val seeds = nodes
        .where(pmod(graft.functions.functions.hex_to_long(
          substring(md5(concat(lit("spread"), col("node"))), 1, 15)),
          lit(1000L)) < 20L)
        .select(col("node"), col("node").as("label"))
      graft.ops.Communities.labelSpreading(edges, "src", "dst", seeds,
          rounds = 3)
        .orderBy("node")
    },
    "q_graph_density" -> { (s, d) =>
      // per-component structure profile (GraphStats.componentDensity):
      // node count, undirected edge count, truncating per-mille density —
      // labels computed once and persisted for both rollups
      graft.ops.GraphStats.componentDensity(
          Tables.partSupplierEdges(s, d), "src", "dst")
        .orderBy("component")
    },
    "q_negative_edges" -> { (s, d) =>
      // deterministic negative sampling (LinkPrediction.negativeEdges):
      // fixed multiplicative-permutation partners over global node ranks,
      // true edges anti-joined away — replayable in the oracle
      graft.ops.LinkPrediction.negativeEdges(
          Tables.userSequenceEdges(s, d), "src", "dst")
        .orderBy("src", "dst")
    },
    "q_percolation" -> { (s, d) =>
      // random-failure percolation sweep (Robustness
      // .randomFailureSweep): nested md5 removals at 25/50/75% on the
      // part-supplier graph — the contrast curve to q_robustness's
      // targeted attack (Albert-Jeong-Barabasi experiment)
      graft.ops.Robustness.randomFailureSweep(
        Tables.partSupplierEdges(s, d), "src", "dst",
        fractionsPermille = Seq(250, 500, 750)).orderBy("f_permille")
    },
    "q_bowtie" -> { (s, d) =>
      // bow-tie macro-structure of the user-journey digraph
      // (ops/BowTie.decompose): giant SCC core + IN (reaches core) +
      // OUT (reachable from core) + other — frontier BFS loops seeded
      // at the core, diameter-bounded rounds
      graft.ops.BowTie.decompose(Tables.userSequenceEdges(s, d),
        "src", "dst")
    },
    "q_sparsify" -> { (s, d) =>
      // kNN-graph sparsification audit (ops/Sparsify.sparsifyDrift):
      // keep each node's 2 heaviest incident edges of the weighted
      // part-supplier graph (OR-symmetrized), CC before/after — did
      // pruning shatter the giant component?
      val wEdges = Tables.lineitem(s, d).where(col("l_quantity") <= 2)
        .groupBy(concat(lit("P"), col("l_partkey")).as("src"),
          concat(lit("S"), col("l_suppkey")).as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.ops.Sparsify.sparsifyDrift(wEdges, "src", "dst", "w",
        kPerNode = 2)
    },
    "q_node_sketch" -> { (s, d) =>
      // neighborhood-MinHash node sketches (ops/NodeSketch.sketches):
      // 8 md5 lanes, radius-2 min-propagation over the user-journey
      // graph — float-free structural embeddings whose round evolution
      // the oracle unrolls exactly
      graft.ops.NodeSketch.sketches(Tables.userSequenceEdges(s, d),
        "src", "dst", k = 8, rounds = 2).orderBy("node", "lane")
    },
    "q_node_sim" -> { (s, d) =>
      // positional similarity from the same sketches (ops/NodeSketch
      // .similarPairs): candidate pairs mined THROUGH shared lane
      // minima (LSH for free), exact matching-lane count >= 5 of 8,
      // MinHash-estimated ball Jaccard in permille
      graft.ops.NodeSketch.similarPairs(Tables.userSequenceEdges(s, d),
        "src", "dst", k = 8, rounds = 2, minMatch = 5)
        .orderBy("node_a", "node_b")
    },
    "q_robustness" -> { (s, d) =>
      // targeted-attack robustness (ops/Robustness): remove the top-20
      // degree hubs of the part-supplier graph (deterministic ties),
      // largest-component size before/after via the CC family
      graft.ops.Robustness.hubRemovalImpact(
        Tables.partSupplierEdges(s, d), "src", "dst", topK = 20)
    },
    "q_homophily" -> { (s, d) =>
      // label homophily of the co-order part graph against part brands
      // (GraphStats.labelHomophily): Newman's discrete assortativity
      // with (2m)^2 cleared — do same-brand parts co-occur in orders
      // beyond what brand degree masses predict? One row of exact sums
      graft.ops.GraphStats.labelHomophily(
        Tables.coOrderPairEdges(s, d), "src", "dst",
        Tables.part(s, d).select(
          concat(lit("P"), col("p_partkey")).as("node"), col("p_brand")),
        "node", "p_brand")
    },
    "q_triad_census" -> { (s, d) =>
      // directed triad census of the user-journey graph (ops/Triads):
      // feed-forward vs cyclic motif counts; wedges stay a degree-table
      // aggregate (never materialized), the two triangle joins carry
      // candidate 2-paths only
      graft.ops.Triads.directedCensus(
        Tables.userSequenceEdges(s, d), "src", "dst")
    })

  def oracles: Map[String, String] = Map(
    "q_components" -> ccOracle("SELECT node, min(lab) AS component FROM cc GROUP BY node ORDER BY node"),
    "q_components_agg" -> ccOracle("SELECT node, min(lab) AS component FROM cc GROUP BY node ORDER BY node"),
    "q_components_star" -> ccOracle("SELECT node, min(lab) AS component FROM cc GROUP BY node ORDER BY node"),
    "q_components_stats" -> ccOracle(
      """SELECT component, COUNT(*) AS n_nodes
        |FROM (SELECT node, min(lab) AS component FROM cc GROUP BY node)
        |GROUP BY component ORDER BY component""".stripMargin),
    "q_assoc" ->
      """WITH RECURSIVE
        |rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item FROM lineitem),
        |tot AS (SELECT COUNT(DISTINCT tid) AS t FROM rows0),
        |supp AS (SELECT item, COUNT(*) AS cnt FROM rows0 GROUP BY item),
        |valid AS (SELECT item, cnt FROM supp, tot WHERE CAST(cnt AS DOUBLE) / t >= 0.002),
        |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 5),
        |vrows AS (SELECT r.tid, r.item FROM rows0 r JOIN valid USING (item) JOIN txok USING (tid)),
        |pairs AS (SELECT a.item AS ant, c.item AS cons
        |          FROM vrows a JOIN vrows c ON a.tid = c.tid AND a.item <> c.item),
        |liftn AS (SELECT ant, COUNT(*) AS npairs FROM pairs GROUP BY ant),
        |sym AS (SELECT DISTINCT ant AS a, cons AS b FROM pairs
        |        UNION SELECT DISTINCT cons AS a, ant AS b FROM pairs),
        |cc AS (
        |  SELECT item AS node, item AS lab FROM valid
        |  UNION
        |  SELECT s.b AS node, c.lab FROM cc c JOIN sym s ON c.node = s.a WHERE c.lab < s.b),
        |comp AS (SELECT node, MIN(lab) AS comp FROM cc GROUP BY node),
        |pat AS (SELECT node, DENSE_RANK() OVER (ORDER BY comp) AS pattern FROM comp)
        |SELECT v.item,
        |       CAST(v.cnt AS DOUBLE) AS support,
        |       COALESCE(CAST(l.npairs * v.cnt AS DOUBLE) / (SELECT t FROM tot), 0.0) AS lift_score,
        |       CAST(p.pattern AS INT) AS pattern
        |FROM valid v
        |LEFT JOIN liftn l ON v.item = l.ant
        |JOIN pat p ON v.item = p.node
        |ORDER BY v.item""".stripMargin,
    "q_assoc_weighted" ->
      """WITH
        |rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item,
        |                 l_quantity AS q FROM lineitem),
        |tot AS (SELECT COUNT(DISTINCT tid) AS t FROM rows0),
        |supp AS (SELECT item, SUM(q) AS ws FROM rows0 GROUP BY item),
        |valid AS (SELECT item, ws FROM supp, tot WHERE ws / t >= 0.04),
        |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
        |vrows AS (SELECT r.tid, r.item, r.q FROM rows0 r JOIN valid USING (item) JOIN txok USING (tid)),
        |kept AS (SELECT a.item AS ant, c.item AS cons, a.q AS qa, c.q AS qc,
        |                a.q * c.q / v.ws AS conf
        |         FROM vrows a
        |         JOIN vrows c ON a.tid = c.tid AND a.item <> c.item
        |         JOIN valid v ON v.item = a.item
        |         WHERE a.q * c.q / v.ws >= 0.5),
        |lift AS (SELECT ant, SUM(qa * qc) / MIN(vv.ws) AS lift_score
        |         FROM kept JOIN valid vv ON vv.item = kept.ant GROUP BY ant),
        |ranked AS (SELECT ant, cons, conf,
        |                  ROW_NUMBER() OVER (PARTITION BY ant ORDER BY conf DESC, cons ASC) AS rn
        |           FROM kept),
        |digest AS (SELECT ant,
        |                  CAST(SUM(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS INT) AS n_top,
        |                  MAX(CASE WHEN rn = 1 THEN cons END) AS top_consequent,
        |                  MAX(CASE WHEN rn = 1 THEN conf END) AS top_confidence
        |           FROM ranked GROUP BY ant)
        |SELECT v.item, v.ws AS support,
        |       COALESCE(l.lift_score, 0.0) AS lift_score,
        |       COALESCE(d.n_top, 0) AS n_top,
        |       COALESCE(d.top_consequent, '') AS top_consequent,
        |       COALESCE(d.top_confidence, 0.0) AS top_confidence
        |FROM valid v
        |LEFT JOIN lift l ON v.item = l.ant
        |LEFT JOIN digest d ON v.item = d.ant
        |ORDER BY v.item""".stripMargin,
    "q_assoc_lists" ->
      """WITH
        |rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item,
        |                 l_quantity AS q FROM lineitem),
        |tot AS (SELECT COUNT(DISTINCT tid) AS t FROM rows0),
        |supp AS (SELECT item, SUM(q) AS ws FROM rows0 GROUP BY item),
        |valid AS (SELECT item, ws FROM supp, tot WHERE ws / t >= 0.04),
        |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
        |vrows AS (SELECT r.tid, r.item, r.q FROM rows0 r JOIN valid USING (item) JOIN txok USING (tid)),
        |kept AS (SELECT a.item AS ant, c.item AS cons, a.q * c.q / v.ws AS conf
        |         FROM vrows a
        |         JOIN vrows c ON a.tid = c.tid AND a.item <> c.item
        |         JOIN valid v ON v.item = a.item
        |         WHERE a.q * c.q / v.ws >= 0.5),
        |ranked AS (SELECT ant, cons, conf,
        |                  ROW_NUMBER() OVER (PARTITION BY ant ORDER BY conf DESC, cons ASC) AS rn
        |           FROM kept)
        |SELECT ant AS item, CAST(rn AS INT) AS rank, cons AS consequent, conf AS confidence
        |FROM ranked WHERE rn <= 5
        |ORDER BY item, rank""".stripMargin,
    "q_shortest_path" ->
      s"""WITH
         |${nationApspCtes(rounds = 5)}
         |SELECT CASE WHEN src < dst THEN src ELSE dst END AS "from",
         |       CASE WHEN src < dst THEN dst ELSE src END AS "to",
         |       CAST(MIN(cost) AS DOUBLE) / 1000.0 AS distance
         |FROM d5 WHERE src <> dst GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    "q_shortest_path_pregel" ->
      s"""WITH
         |${nationApspCtes(rounds = 5)}
         |SELECT src AS "from", dst AS "to", CAST(cost AS DOUBLE) / 1000.0 AS distance
         |FROM d5 WHERE src <> dst AND src IN ('NATION_0', 'NATION_12', 'NATION_7')
         |ORDER BY 1, 2""".stripMargin,
    "q_simrank" -> simRankOracle(iters = 3),
    "q_pagerank" -> pagerankConvOracle(tolQ = 1_000_000L, maxIter = 60),
    "q_pagerank_fp" -> pagerankFpOracle(iters = 10),
    "q_ppr" -> pagerankFpOracle(iters = 10, sources = Seq("P1", "P2", "P3")),
    "q_betweenness_pairs" ->
      s"""WITH
         |${nationBfsSigmaCtes(rounds = 10)},
         |tri AS (SELECT a.t AS v,
         |          CAST(FLOOR(1000000000.0 * a.sigma * b.sigma / st.sigma) AS BIGINT) AS qc
         |        FROM sg st
         |        JOIN sg a ON a.s = st.s
         |        JOIN sg b ON b.s = a.t AND b.t = st.t
         |        WHERE a.t <> st.t AND a.d + b.d = st.d)
         |SELECT n.node, CAST(COALESCE(SUM(t.qc), 0) AS BIGINT) AS qbc
         |FROM nodes n LEFT JOIN tri t ON t.v = n.node
         |GROUP BY n.node ORDER BY n.node""".stripMargin,
    "q_betweenness" ->
      s"""WITH
         |${nationBfsSigmaCtes(rounds = 10)},
         |tri AS (SELECT a.t AS v,
         |          CAST(FLOOR(1000000000.0 * a.sigma * b.sigma / st.sigma) AS BIGINT) AS qc
         |        FROM sg st
         |        JOIN sg a ON a.s = st.s
         |        JOIN sg b ON b.s = a.t AND b.t = st.t
         |        WHERE a.t <> st.t AND a.d + b.d = st.d),
         |qb AS (SELECT n.node, CAST(COALESCE(SUM(t.qc), 0) AS BIGINT) AS qbc
         |       FROM nodes n LEFT JOIN tri t ON t.v = n.node
         |       GROUP BY n.node),
         |nn AS (SELECT COUNT(*) AS n FROM nodes)
         |SELECT node,
         |       CAST(CASE WHEN n > 2
         |            THEN (qbc * 1000) // ((n - 1) * (n - 2))
         |            ELSE 0 END AS BIGINT) AS qbc_norm
         |FROM qb, nn ORDER BY node""".stripMargin,
    "q_scc" ->
      """WITH RECURSIVE
        |ev AS (SELECT user_id, ts, event_id,
        |              lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |       FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |reach AS (SELECT node AS a, node AS b FROM n
        |          UNION
        |          SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |scc AS (SELECT f.a AS node, MIN(f.b) AS scc_id
        |        FROM reach f JOIN reach r ON f.a = r.b AND f.b = r.a
        |        GROUP BY f.a)
        |SELECT node, scc_id FROM scc ORDER BY node""".stripMargin,
    "q_feature_prop" ->
      """WITH ev AS (SELECT user_id, ts, event_id,
        |              lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |       FROM events WHERE event_type = 'click' AND value < 2.0),
        |ed AS (SELECT DISTINCT user_id AS src, nxt AS dst
        |       FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |sym AS (SELECT src AS a, dst AS b FROM ed
        |        UNION SELECT dst, src FROM ed),
        |q AS (SELECT vec_id, list_transform(embedding,
        |        x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE)) AS BIGINT)) AS v
        |      FROM embeddings),
        |j AS (SELECT sym.a AS node, t.i - 1 AS pos, q.v[t.i] AS vl
        |      FROM sym JOIN q ON q.vec_id = sym.b,
        |           UNNEST(range(1, len(q.v)+1)) AS t(i)),
        |g AS (SELECT node, pos, SUM(vl) AS s, COUNT(*) AS n
        |      FROM j GROUP BY 1, 2)
        |SELECT node, CAST(pos AS INT) AS pos,
        |       CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS value
        |FROM g ORDER BY node, pos""".stripMargin,
    "q_link_pred" ->
      """WITH rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item
        |               FROM lineitem WHERE l_quantity <= 15),
        |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
        |r AS (SELECT rows0.tid, rows0.item FROM rows0 JOIN txok USING (tid)),
        |e AS (SELECT DISTINCT a.item AS x, b.item AS y
        |      FROM r a JOIN r b ON a.tid = b.tid AND a.item < b.item),
        |adj AS (SELECT x AS w, y AS n FROM e UNION ALL SELECT y AS w, x AS n FROM e),
        |deg AS (SELECT w, COUNT(*) AS d FROM adj GROUP BY w),
        |okc AS (SELECT w, d FROM deg WHERE d <= 64),
        |wed AS (SELECT a1.n AS a, a2.n AS b, okc.d
        |        FROM adj a1
        |        JOIN okc ON okc.w = a1.w
        |        JOIN adj a2 ON a2.w = a1.w AND a1.n < a2.n),
        |cand AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
        |                CAST(SUM(1000000000 // d) AS BIGINT) AS ra_q
        |         FROM wed GROUP BY a, b
        |         HAVING COUNT(*) >= 2)
        |SELECT c.a, c.b, c.n_common, c.ra_q
        |FROM cand c LEFT JOIN e ON e.x = c.a AND e.y = c.b
        |WHERE e.x IS NULL
        |ORDER BY c.a, c.b""".stripMargin,
    "q_kcore" -> kcoreOracle(k = 3, iters = 8),
    "q_coreness" -> corenessOracle(rounds = 4),
    "q_lpa_weighted" ->
      """WITH base AS (SELECT DISTINCT l_orderkey AS tid,
        |         'P' || CAST(l_partkey AS VARCHAR) AS item
        |       FROM lineitem WHERE l_quantity <= 15),
        |ok AS (SELECT tid FROM base GROUP BY tid HAVING COUNT(*) <= 8),
        |bb AS (SELECT base.tid, base.item FROM base JOIN ok USING (tid)),
        |ew AS MATERIALIZED (SELECT x.item AS x, y.item AS y,
        |        CAST(COUNT(*) AS BIGINT) AS w
        |      FROM bb x JOIN bb y ON x.tid = y.tid AND x.item < y.item
        |      GROUP BY 1, 2),
        |sew AS MATERIALIZED (SELECT x AS a, y AS b, w FROM ew
        |      UNION ALL SELECT y AS a, x AS b, w FROM ew),
        |wl0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab FROM sew),
        |wc1 AS (SELECT s.a, l.lab, CAST(SUM(s.w) AS BIGINT) AS c
        |      FROM sew s JOIN wl0 l ON l.node = s.b GROUP BY s.a, l.lab),
        |wl1 AS MATERIALIZED (SELECT a AS node, lab FROM (
        |      SELECT a, lab,
        |             ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, lab ASC) AS rn
        |      FROM wc1) WHERE rn = 1),
        |wc2 AS (SELECT s.a, l.lab, CAST(SUM(s.w) AS BIGINT) AS c
        |      FROM sew s JOIN wl1 l ON l.node = s.b GROUP BY s.a, l.lab),
        |wl2 AS MATERIALIZED (SELECT a AS node, lab FROM (
        |      SELECT a, lab,
        |             ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, lab ASC) AS rn
        |      FROM wc2) WHERE rn = 1),
        |wc3 AS (SELECT s.a, l.lab, CAST(SUM(s.w) AS BIGINT) AS c
        |      FROM sew s JOIN wl2 l ON l.node = s.b GROUP BY s.a, l.lab),
        |wl3 AS MATERIALIZED (SELECT a AS node, lab FROM (
        |      SELECT a, lab,
        |             ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, lab ASC) AS rn
        |      FROM wc3) WHERE rn = 1)
        |SELECT node, lab AS community FROM wl3 ORDER BY node""".stripMargin,
    "q_louvain_weighted" ->
      """WITH base AS (SELECT DISTINCT l_orderkey AS tid,
        |         'P' || CAST(l_partkey AS VARCHAR) AS item
        |       FROM lineitem WHERE l_quantity <= 15),
        |ok AS (SELECT tid FROM base GROUP BY tid HAVING COUNT(*) <= 8),
        |bb AS (SELECT base.tid, base.item FROM base JOIN ok USING (tid)),
        |ew AS MATERIALIZED (SELECT x.item AS x, y.item AS y,
        |        CAST(COUNT(*) AS BIGINT) AS w
        |      FROM bb x JOIN bb y ON x.tid = y.tid AND x.item < y.item
        |      GROUP BY 1, 2),
        |se AS MATERIALIZED (SELECT x AS a, y AS b FROM ew
        |      UNION ALL SELECT y AS a, x AS b FROM ew),
        |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab FROM se),
        |c1 AS MATERIALIZED (SELECT s.a, l.lab, COUNT(*) AS c
        |      FROM se s JOIN l0 l ON l.node = s.b GROUP BY s.a, l.lab),
        |l1 AS MATERIALIZED (SELECT a AS node, lab FROM (
        |      SELECT a, lab,
        |             ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, lab ASC) AS rn
        |      FROM c1) WHERE rn = 1),
        |c2 AS MATERIALIZED (SELECT s.a, l.lab, COUNT(*) AS c
        |      FROM se s JOIN l1 l ON l.node = s.b GROUP BY s.a, l.lab),
        |l2 AS MATERIALIZED (SELECT a AS node, lab FROM (
        |      SELECT a, lab,
        |             ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, lab ASC) AS rn
        |      FROM c2) WHERE rn = 1),
        |adjw AS (SELECT x AS v, y AS n, w FROM ew
        |      UNION ALL SELECT y AS v, x AS n, w FROM ew),
        |ww AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM ew),
        |strv AS (SELECT v, CAST(SUM(w) AS BIGINT) AS s FROM adjw GROUP BY v),
        |labv AS (SELECT node, lab AS community FROM l2),
        |sccw AS (SELECT community, CAST(SUM(s) AS BIGINT) AS s_c
        |      FROM strv JOIN labv ON strv.v = labv.node GROUP BY community),
        |wvc AS (SELECT adjw.v, labv.community AS c,
        |        CAST(SUM(adjw.w) AS BIGINT) AS w_vc
        |      FROM adjw JOIN labv ON labv.node = adjw.n GROUP BY 1, 2),
        |ownc AS (SELECT node AS v, community AS c, 0 AS w_vc FROM labv),
        |candc AS (SELECT v, c, CAST(MAX(w_vc) AS BIGINT) AS w_vc FROM (
        |        SELECT * FROM wvc UNION ALL SELECT * FROM ownc)
        |      GROUP BY v, c),
        |scw AS (SELECT candc.v, candc.c,
        |        4 * ww.wsum * candc.w_vc
        |          - 2 * strv.s * (sccw.s_c -
        |              CASE WHEN candc.c = labv.community THEN strv.s ELSE 0 END) AS score
        |      FROM candc CROSS JOIN ww
        |      JOIN labv ON labv.node = candc.v
        |      JOIN strv ON strv.v = candc.v
        |      JOIN sccw ON sccw.community = candc.c),
        |best AS (SELECT v, c,
        |        ROW_NUMBER() OVER (PARTITION BY v ORDER BY score DESC, c ASC) AS rn
        |      FROM scw)
        |SELECT v AS node, c AS community FROM best WHERE rn = 1
        |ORDER BY node""".stripMargin,
    "q_bipartite_proj" ->
      """WITH base AS (SELECT DISTINCT l_orderkey AS tid,
        |         'P' || CAST(l_partkey AS VARCHAR) AS item
        |       FROM lineitem WHERE l_quantity <= 15),
        |ok AS (SELECT tid FROM base GROUP BY tid HAVING COUNT(*) <= 8),
        |b AS (SELECT base.tid, base.item FROM base JOIN ok USING (tid))
        |SELECT x.item AS a, y.item AS b, COUNT(*) AS weight
        |FROM b x JOIN b y ON x.tid = y.tid AND x.item < y.item
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q_communities" -> lpaOracle(rounds = 4),
    "q_harmonic" -> harmonicOracle(rounds = 4, ratePermille = 10,
      salt = "harmonic"),
    "q_hyperball" -> hyperballOracle(rounds = 3, p = 4, hashBits = 60),
    "q_eff_diameter" -> effDiameterOracle(rounds = 3, p = 4, hashBits = 60,
      targetPermille = 900L),
    "q_triangles" ->
      """WITH rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item
        |               FROM lineitem WHERE l_quantity <= 15),
        |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
        |r AS (SELECT rows0.tid, rows0.item FROM rows0 JOIN txok USING (tid)),
        |e AS (SELECT DISTINCT a.item AS x, b.item AS y
        |      FROM r a JOIN r b ON a.tid = b.tid AND a.item < b.item),
        |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
        |        FROM e e1
        |        JOIN e e2 ON e2.x = e1.y
        |        JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |corners AS (SELECT a AS node FROM tri
        |            UNION ALL SELECT b FROM tri
        |            UNION ALL SELECT c FROM tri)
        |SELECT node, COUNT(*) AS n_triangles
        |FROM corners GROUP BY node ORDER BY node""".stripMargin,
    "q_jaccard_links" ->
      """WITH rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item
        |               FROM lineitem WHERE l_quantity <= 15),
        |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
        |r AS (SELECT rows0.tid, rows0.item FROM rows0 JOIN txok USING (tid)),
        |e AS (SELECT DISTINCT a.item AS x, b.item AS y
        |      FROM r a JOIN r b ON a.tid = b.tid AND a.item < b.item),
        |adj AS (SELECT x AS w, y AS n FROM e UNION ALL SELECT y AS w, x AS n FROM e),
        |deg AS (SELECT w, COUNT(*) AS d FROM adj GROUP BY w),
        |okc AS (SELECT w FROM deg WHERE d <= 64),
        |capd AS (SELECT a1.w, a1.n FROM adj a1 JOIN okc ON okc.w = a1.w),
        |cand AS (SELECT a1.n AS a, a2.n AS b, CAST(COUNT(*) AS BIGINT) AS n_common
        |         FROM capd a1 JOIN capd a2 ON a2.w = a1.w AND a1.n < a2.n
        |         GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT c.a, c.b, c.n_common, da.d AS deg_a, db.d AS deg_b,
        |       CAST((1000 * c.n_common) // (da.d + db.d - c.n_common) AS BIGINT)
        |         AS jaccard_permille
        |FROM cand c
        |LEFT JOIN e ON e.x = c.a AND e.y = c.b
        |JOIN deg da ON da.w = c.a
        |JOIN deg db ON db.w = c.b
        |WHERE e.x IS NULL
        |ORDER BY c.a, c.b""".stripMargin,
    "q_bipartite" ->
      """WITH RECURSIVE
        |ev AS (SELECT user_id, ts, event_id,
        |         lead(user_id) OVER (PARTITION BY event_type
        |           ORDER BY ts, event_id) AS nxt
        |       FROM events WHERE event_type = 'click' AND value < 2.0),
        |ed AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS a,
        |         CAST(nxt AS VARCHAR) AS b
        |       FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |dbl AS (SELECT a || '#0' AS a, b || '#1' AS b FROM ed
        |        UNION SELECT a || '#1', b || '#0' FROM ed),
        |symd AS (SELECT a, b FROM dbl UNION SELECT b AS a, a AS b FROM dbl),
        |nodesd AS (SELECT DISTINCT a AS node FROM symd),
        |ccd AS (
        |  SELECT node, node AS lab FROM nodesd
        |  UNION
        |  SELECT s.b AS node, c.lab
        |  FROM ccd c JOIN symd s ON c.node = s.a
        |  WHERE c.lab < s.b),
        |compd AS (SELECT node, MIN(lab) AS comp FROM ccd GROUP BY node),
        |pairs AS (SELECT substr(node, 1, length(node) - 2) AS bnode, comp,
        |            COUNT(*) AS k
        |          FROM compd GROUP BY 1, 2),
        |odd AS (SELECT DISTINCT bnode FROM pairs WHERE k = 2),
        |symb AS (SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed),
        |nodesb AS (SELECT DISTINCT a AS node FROM symb),
        |ccb AS (
        |  SELECT node, node AS lab FROM nodesb
        |  UNION
        |  SELECT s.b AS node, c.lab
        |  FROM ccb c JOIN symb s ON c.node = s.a
        |  WHERE c.lab < s.b),
        |compb AS (SELECT node, MIN(lab) AS component FROM ccb GROUP BY node)
        |SELECT component, COUNT(*) AS n_nodes,
        |       MAX(CASE WHEN o.bnode IS NOT NULL THEN 1 ELSE 0 END) = 0
        |         AS is_bipartite
        |FROM compb LEFT JOIN odd o ON o.bnode = compb.node
        |GROUP BY component ORDER BY component""".stripMargin,
    "q_pagerank_weighted" -> pagerankFpOracle(iters = 10, weighted = true),
    "q_degree_dist" ->
      """WITH rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item
        |               FROM lineitem WHERE l_quantity <= 15),
        |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
        |r AS (SELECT rows0.tid, rows0.item FROM rows0 JOIN txok USING (tid)),
        |e AS (SELECT DISTINCT a.item AS x, b.item AS y
        |      FROM r a JOIN r b ON a.tid = b.tid AND a.item < b.item),
        |adj AS (SELECT x AS node FROM e UNION ALL SELECT y FROM e),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        |        FROM adj GROUP BY node)
        |SELECT degree, COUNT(*) AS n_nodes FROM deg
        |GROUP BY degree ORDER BY degree""".stripMargin,
    "q_assortativity" ->
      """WITH rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item
        |               FROM lineitem WHERE l_quantity <= 15),
        |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
        |r AS (SELECT rows0.tid, rows0.item FROM rows0 JOIN txok USING (tid)),
        |e AS (SELECT DISTINCT a.item AS x, b.item AS y
        |      FROM r a JOIN r b ON a.tid = b.tid AND a.item < b.item),
        |adj AS (SELECT x AS node FROM e UNION ALL SELECT y FROM e),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
        |ends AS (SELECT dx.d AS dx, dy.d AS dy
        |         FROM e JOIN deg dx ON dx.node = e.x JOIN deg dy ON dy.node = e.y),
        |sym AS (SELECT dx, dy FROM ends UNION ALL SELECT dy AS dx, dx AS dy FROM ends),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_ends,
        |        CAST(SUM(dx * dy) AS BIGINT) AS s_xy,
        |        CAST(SUM(dx) AS BIGINT) AS s_x,
        |        CAST(SUM(dx * dx) AS BIGINT) AS s_x2
        |      FROM sym)
        |SELECT m_ends, s_xy, s_x, s_x2,
        |       (CAST(m_ends AS DOUBLE) * CAST(s_xy AS DOUBLE)
        |          - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))
        |       / (CAST(m_ends AS DOUBLE) * CAST(s_x2 AS DOUBLE)
        |          - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE)) AS assortativity
        |FROM s""".stripMargin,
    "q_modularity" ->
      s"""${lpaCtes(4)},
         |lab AS (SELECT node, lab AS community FROM l4),
         |wl AS (SELECT lx.community AS cx, ly.community AS cy
         |       FROM e0 JOIN lab lx ON lx.node = e0.x
         |              JOIN lab ly ON ly.node = e0.y),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM wl),
         |intra AS (SELECT cx AS community, CAST(COUNT(*) AS BIGINT) AS e_c
         |          FROM wl WHERE cx = cy GROUP BY cx),
         |degc AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS d_c
         |         FROM (SELECT cx AS community FROM wl
         |               UNION ALL SELECT cy FROM wl) GROUP BY community),
         |pc AS (SELECT d.community, COALESCE(i.e_c, 0) AS e_c, d.d_c
         |       FROM degc d LEFT JOIN intra i ON i.community = d.community),
         |qn AS (SELECT CAST(SUM(4 * t.m_edges * pc.e_c - pc.d_c * pc.d_c)
         |                AS BIGINT) AS q_num,
         |              ANY_VALUE(t.m_edges) AS m_edges
         |       FROM pc, tot t)
         |SELECT m_edges, q_num,
         |       CAST(4 * m_edges * m_edges AS BIGINT) AS q_den,
         |       CAST(q_num AS DOUBLE) / CAST(4 * m_edges * m_edges AS DOUBLE)
         |         AS modularity
         |FROM qn""".stripMargin,
    "q_temporal_reach" -> {
      val head =
        """WITH ev AS (SELECT user_id, event_id,
          |         lead(user_id) OVER (PARTITION BY event_type
          |           ORDER BY ts, event_id) AS nxt,
          |         lead(epoch_us(ts)) OVER (PARTITION BY event_type
          |           ORDER BY ts, event_id) AS nxt_us
          |       FROM events WHERE event_type = 'click' AND value < 2.0),
          |te AS MATERIALIZED (SELECT DISTINCT CAST(user_id AS VARCHAR) AS a,
          |         CAST(nxt AS VARCHAR) AS b, CAST(nxt_us AS BIGINT) AS t
          |       FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
          |nodes AS (SELECT DISTINCT a AS node FROM te
          |          UNION SELECT DISTINCT b FROM te),
          |src AS (SELECT node FROM nodes
          |        WHERE ('0x' || substr(md5('treach' || node), 1, 15))::BIGINT
          |              % 1000 < 100),
          |r0 AS MATERIALIZED (SELECT node AS s, node AS v,
          |         CAST(-1 AS BIGINT) AS arr FROM src)""".stripMargin
      val steps = (1 to 4).map { i =>
        s"""r$i AS MATERIALIZED (SELECT s, v, MIN(arr) AS arr FROM (
           |       SELECT s, v, arr FROM r${i - 1}
           |       UNION ALL
           |       SELECT p.s, te.b AS v, te.t AS arr
           |       FROM r${i - 1} p JOIN te ON p.v = te.a AND te.t > p.arr
           |     ) GROUP BY s, v)""".stripMargin
      }.mkString(",\n")
      s"""$head,
         |$steps
         |SELECT s, v AS node, CAST(arr AS BIGINT) AS earliest_us FROM r4
         |WHERE s <> v ORDER BY s, node""".stripMargin
    },
    "q_matching" -> {
      val head =
        """WITH rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item
          |               FROM lineitem WHERE l_quantity <= 15),
          |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
          |r AS (SELECT rows0.tid, rows0.item FROM rows0 JOIN txok USING (tid)),
          |e AS (SELECT DISTINCT a.item AS x, b.item AS y
          |      FROM r a JOIN r b ON a.tid = b.tid AND a.item < b.item),
          |e0 AS MATERIALIZED (SELECT x, y,
          |        ('0x' || substr(md5('match' || x || '|' || y), 1, 15))::BIGINT AS p
          |      FROM e)""".stripMargin
      val steps = (1 to 6).map { i =>
        s"""adj$i AS (SELECT x AS v, x, y, p FROM e${i - 1}
           |        UNION ALL SELECT y AS v, x, y, p FROM e${i - 1}),
           |lm$i AS (SELECT x, y FROM (
           |        SELECT v, x, y, row_number() OVER (PARTITION BY v
           |          ORDER BY p, x, y) AS rn FROM adj$i) WHERE rn = 1),
           |m$i AS MATERIALIZED (SELECT x, y, $i AS round FROM lm$i
           |       GROUP BY x, y HAVING COUNT(*) = 2),
           |mv$i AS (SELECT x AS v FROM m$i UNION SELECT y FROM m$i),
           |e$i AS MATERIALIZED (SELECT t.x, t.y, t.p FROM e${i - 1} t
           |       LEFT JOIN mv$i a ON a.v = t.x
           |       LEFT JOIN mv$i b ON b.v = t.y
           |       WHERE a.v IS NULL AND b.v IS NULL)""".stripMargin
      }.mkString(",\n")
      val un = (1 to 6).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
      s"""$head,
         |$steps
         |SELECT x, y, CAST(round AS BIGINT) AS round FROM ($un)
         |ORDER BY x, y""".stripMargin
    },
    "q_random_walks" -> {
      // unrolled per-step argmin mirror of RandomWalks.walks: same md5
      // coin, same (score, dst) tie order, seeds = 40 smallest src strings
      val head =
        """WITH ev AS (SELECT user_id, ts, event_id,
          |         lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
          |       FROM events WHERE event_type = 'click' AND value < 2.0),
          |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
          |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
          |seeds AS (SELECT src AS walk_id FROM (SELECT DISTINCT src FROM e)
          |          ORDER BY src LIMIT 40),
          |s0 AS (SELECT walk_id, walk_id AS node FROM seeds)""".stripMargin
      val steps = (1 to 4).map { t =>
        s"""s$t AS (SELECT walk_id, dst AS node FROM (
           |  SELECT w.walk_id, e.dst,
           |    row_number() OVER (PARTITION BY w.walk_id ORDER BY
           |      ('0x' || substr(md5('walk' || w.walk_id || '|$t|' || e.dst), 1, 15))::BIGINT, e.dst) AS rn
           |  FROM s${t - 1} w JOIN e ON w.node = e.src) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val un = (0 to 4)
        .map(t => s"SELECT walk_id, CAST($t AS BIGINT) AS step, node FROM s$t")
        .mkString(" UNION ALL ")
      s"""$head,
         |$steps
         |SELECT * FROM ($un) ORDER BY walk_id, step""".stripMargin
    },
    "q_mst" ->
      // Prim with a single-row recursive state (visited list + chosen
      // edges); == Borůvka's MSF because the md5 weights are distinct
      """WITH RECURSIVE
        |nk AS (SELECT n_name, n_nationkey, ROW_NUMBER() OVER (ORDER BY n_nationkey) AS rn FROM nation),
        |chain AS (SELECT a.n_name AS src, b.n_name AS dst FROM nk a JOIN nk b ON b.rn = a.rn + 1),
        |skip AS (SELECT a.n_name AS src, b.n_name AS dst FROM nk a JOIN nk b ON b.rn = a.rn + 5),
        |und AS (SELECT LEAST(src, dst) AS x, GREATEST(src, dst) AS y
        |        FROM (SELECT * FROM chain UNION ALL SELECT * FROM skip)),
        |e AS MATERIALIZED (SELECT x, y,
        |      ('0x' || substr(md5('mst' || x || '|' || y), 1, 12))::BIGINT AS w
        |    FROM (SELECT DISTINCT x, y FROM und)),
        |prim AS (
        |  SELECT 0 AS it, [(SELECT MIN(x) FROM e)] AS vis,
        |         CAST([] AS STRUCT(x VARCHAR, y VARCHAR, w BIGINT)[]) AS mst
        |  UNION ALL
        |  SELECT it + 1,
        |    list_append(vis, CASE WHEN list_contains(vis, pick.x) THEN pick.y ELSE pick.x END),
        |    list_append(mst, {'x': pick.x, 'y': pick.y, 'w': pick.w})
        |  FROM prim, LATERAL (
        |    SELECT x, y, w FROM e
        |    WHERE list_contains(prim.vis, x) <> list_contains(prim.vis, y)
        |    ORDER BY w, x, y LIMIT 1) AS pick
        |  WHERE it < 24
        |)
        |SELECT u.x AS x, u.y AS y, u.w AS w FROM (
        |  SELECT unnest(mst) AS u FROM prim
        |  WHERE it = (SELECT MAX(it) FROM prim))
        |ORDER BY x, y""".stripMargin,
    "q_eccentricity" ->
      s"""WITH
         |${nationApspCtes(rounds = 5)}
         |SELECT src AS node, CAST(MAX(cost) AS DOUBLE) / 1000.0 AS ecc
         |FROM d5 GROUP BY src ORDER BY node""".stripMargin,
    "q_ktruss" -> {
      // unrolled support-peeling mirror of Truss.kTruss (k=4, 6 rounds):
      // per round, triangles of the surviving edge set via the canonical
      // a<b<c 3-join, corner-pair support, HAVING >= k-2, inner join back
      val head =
        """WITH rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item
          |               FROM lineitem WHERE l_quantity <= 15),
          |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
          |r AS (SELECT rows0.tid, rows0.item FROM rows0 JOIN txok USING (tid)),
          |e0 AS MATERIALIZED (SELECT DISTINCT a.item AS x, b.item AS y
          |      FROM r a JOIN r b ON a.tid = b.tid AND a.item < b.item)""".stripMargin
      val steps = (1 to 6).map { i =>
        val p = i - 1
        s"""t$i AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
           |        FROM e$p e1 JOIN e$p e2 ON e2.x = e1.y
           |        JOIN e$p e3 ON e3.x = e1.x AND e3.y = e2.y),
           |s$i AS (SELECT x, y FROM (SELECT a AS x, b AS y FROM t$i
           |         UNION ALL SELECT a, c FROM t$i UNION ALL SELECT b, c FROM t$i)
           |         GROUP BY x, y HAVING COUNT(*) >= 2),
           |e$i AS MATERIALIZED (SELECT e$p.x, e$p.y FROM e$p JOIN s$i USING (x, y))""".stripMargin
      }.mkString(",\n")
      s"""$head,
         |$steps
         |SELECT x, y FROM e6 ORDER BY x, y""".stripMargin
    },
    "q_clustering_coef" ->
      """WITH rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item
        |               FROM lineitem WHERE l_quantity <= 15),
        |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
        |r AS (SELECT rows0.tid, rows0.item FROM rows0 JOIN txok USING (tid)),
        |e AS (SELECT DISTINCT a.item AS x, b.item AS y
        |      FROM r a JOIN r b ON a.tid = b.tid AND a.item < b.item),
        |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
        |        FROM e e1 JOIN e e2 ON e2.x = e1.y
        |        JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |corners AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |            UNION ALL SELECT c FROM tri),
        |tcnt AS (SELECT node, COUNT(*) AS n_tri FROM corners GROUP BY 1),
        |deg AS (SELECT node, COUNT(*) AS deg FROM
        |        (SELECT x AS node FROM e UNION ALL SELECT y FROM e) GROUP BY 1)
        |SELECT d.node, d.deg, CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
        |       CAST(FLOOR(2000 * COALESCE(t.n_tri, 0) / (d.deg * (d.deg - 1))) AS BIGINT) AS coef_pm
        |FROM deg d LEFT JOIN tcnt t USING (node)
        |WHERE d.deg >= 2 ORDER BY node""".stripMargin,
    "q_mis" -> {
      // unrolled Luby rounds mirroring IndependentSet: per-round md5
      // priorities, neighbor argmin via row_number, row-value comparison,
      // winners+neighbors retired by anti-join
      val head =
        """WITH rows0 AS (SELECT l_orderkey AS tid, 'P' || CAST(l_partkey AS VARCHAR) AS item
          |               FROM lineitem WHERE l_quantity <= 15),
          |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
          |r AS (SELECT rows0.tid, rows0.item FROM rows0 JOIN txok USING (tid)),
          |e0 AS MATERIALIZED (SELECT DISTINCT a.item AS x, b.item AS y
          |      FROM r a JOIN r b ON a.tid = b.tid AND a.item < b.item),
          |n0 AS MATERIALIZED (SELECT x AS node FROM e0 UNION SELECT y FROM e0)""".stripMargin
      val steps = (1 to 6).map { i =>
        val p = i - 1
        s"""p$i AS (SELECT node, ('0x' || substr(md5('mis$i|' || node), 1, 15))::BIGINT AS pr FROM n$p),
           |adj$i AS (SELECT x AS v, y AS u FROM e$p UNION ALL SELECT y, x FROM e$p),
           |nm$i AS (SELECT v, pr AS mp, u AS mu FROM (
           |  SELECT a.v, pp.pr, pp.node AS u,
           |    ROW_NUMBER() OVER (PARTITION BY a.v ORDER BY pp.pr, pp.node) AS rn
           |  FROM adj$i a JOIN p$i pp ON pp.node = a.u) WHERE rn = 1),
           |mis$i AS MATERIALIZED (SELECT p$i.node FROM p$i LEFT JOIN nm$i ON nm$i.v = p$i.node
           |  WHERE nm$i.v IS NULL OR (p$i.pr, p$i.node) < (nm$i.mp, nm$i.mu)),
           |k$i AS (SELECT node FROM mis$i UNION SELECT a.u FROM adj$i a JOIN mis$i m ON a.v = m.node),
           |n$i AS MATERIALIZED (SELECT t.node FROM n$p t LEFT JOIN k$i kk ON kk.node = t.node WHERE kk.node IS NULL),
           |e$i AS MATERIALIZED (SELECT t.x, t.y FROM e$p t LEFT JOIN k$i a ON a.node = t.x
           |  LEFT JOIN k$i b ON b.node = t.y WHERE a.node IS NULL AND b.node IS NULL)""".stripMargin
      }.mkString(",\n")
      val un = (1 to 6)
        .map(i => s"SELECT node, CAST($i AS BIGINT) AS round FROM mis$i")
        .mkString(" UNION ALL ")
      s"""$head,
         |$steps
         |SELECT node, round FROM ($un) ORDER BY node""".stripMargin
    },
    "q_reciprocity" ->
      """WITH ev AS (SELECT user_id, ts, event_id,
        |              lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |            FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |rec AS (SELECT COUNT(*) AS m_reciprocal FROM e x
        |        WHERE EXISTS (SELECT 1 FROM e r
        |                      WHERE r.src = x.dst AND r.dst = x.src)),
        |tot AS (SELECT COUNT(*) AS m_edges FROM e)
        |SELECT m_edges, m_reciprocal,
        |  (m_reciprocal * 1000) // m_edges AS reciprocity_permille
        |FROM tot, rec""".stripMargin,
    "q_butterflies" ->
      """WITH e AS (SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR) AS l,
        |             'S' || CAST(l_suppkey AS VARCHAR) AS r
        |           FROM lineitem WHERE l_quantity <= 2),
        |okr AS (SELECT r FROM e GROUP BY r HAVING COUNT(*) <= 64),
        |k AS (SELECT l, r FROM e JOIN okr USING (r)),
        |p AS (SELECT a.l AS l1, b.l AS l2, COUNT(*) AS c
        |      FROM k a JOIN k b ON a.r = b.r AND a.l < b.l
        |      GROUP BY 1, 2)
        |SELECT (SELECT COUNT(*) FROM k) AS m_edges,
        |  COUNT(*) AS n_wedge_pairs,
        |  CAST(SUM(c) AS BIGINT) AS n_wedges,
        |  CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_butterflies
        |FROM p""".stripMargin,
    "q_hits" ->
      """WITH ev AS (SELECT user_id, ts, event_id,
        |              lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |            FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |a1 AS (SELECT dst AS node, COUNT(*) AS sc FROM e GROUP BY 1),
        |h1 AS (SELECT src AS node, CAST(SUM(a1.sc) AS BIGINT) AS sc
        |       FROM e JOIN a1 ON e.dst = a1.node GROUP BY 1),
        |a2 AS (SELECT dst AS node, CAST(SUM(h1.sc) AS BIGINT) AS sc
        |       FROM e JOIN h1 ON e.src = h1.node GROUP BY 1),
        |h2 AS (SELECT src AS node, CAST(SUM(a2.sc) AS BIGINT) AS sc
        |       FROM e JOIN a2 ON e.dst = a2.node GROUP BY 1)
        |SELECT n.node, COALESCE(a2.sc, 0) AS auth_fp,
        |  COALESCE(h2.sc, 0) AS hub_fp
        |FROM n LEFT JOIN a2 ON n.node = a2.node
        |LEFT JOIN h2 ON n.node = h2.node
        |ORDER BY n.node""".stripMargin,
    "q_bridges" ->
      """WITH RECURSIVE
        |ev AS (SELECT user_id, ts, event_id,
        |         lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |       FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |und AS (SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y
        |        FROM e),
        |eid AS (SELECT x, y, x || '|' || y AS id FROM und),
        |sym AS (SELECT id, x AS a, y AS b FROM eid
        |        UNION ALL SELECT id, y AS a, x AS b FROM eid),
        |reach AS (SELECT id AS rm, x AS node FROM eid
        |          UNION
        |          SELECT r.rm, s2.b
        |          FROM reach r JOIN sym s2
        |            ON s2.a = r.node AND s2.id <> r.rm)
        |SELECT x AS src, y AS dst
        |FROM eid
        |WHERE NOT EXISTS (SELECT 1 FROM reach r
        |                  WHERE r.rm = eid.id AND r.node = eid.y)
        |ORDER BY src, dst""".stripMargin,
    "q_articulation" ->
      """WITH RECURSIVE
        |ev AS (SELECT user_id, ts, event_id,
        |         lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |       FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |und AS (SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y
        |        FROM e),
        |sym AS (SELECT x AS a, y AS b FROM und
        |        UNION ALL SELECT y AS a, x AS b FROM und),
        |start AS (SELECT a AS v, MIN(b) AS s FROM sym GROUP BY a),
        |reach AS (SELECT v, s AS node FROM start
        |          UNION
        |          SELECT r.v, s2.b
        |          FROM reach r JOIN sym s2 ON s2.a = r.node
        |          WHERE s2.b <> r.v AND s2.a <> r.v)
        |SELECT DISTINCT sym.a AS node
        |FROM sym
        |WHERE NOT EXISTS (SELECT 1 FROM reach r
        |                  WHERE r.v = sym.a AND r.node = sym.b)
        |ORDER BY node""".stripMargin,
    "q_2ecc" ->
      """WITH RECURSIVE
        |ev AS (SELECT user_id, ts, event_id,
        |         lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |       FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |und AS (SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y
        |        FROM e),
        |eid AS (SELECT x, y, x || '|' || y AS id FROM und),
        |sym AS (SELECT id, x AS a, y AS b FROM eid
        |        UNION ALL SELECT id, y AS a, x AS b FROM eid),
        |reach AS (SELECT id AS rm, x AS node FROM eid
        |          UNION
        |          SELECT r.rm, s2.b
        |          FROM reach r JOIN sym s2
        |            ON s2.a = r.node AND s2.id <> r.rm),
        |bridges AS (SELECT x, y FROM eid
        |            WHERE NOT EXISTS (SELECT 1 FROM reach r
        |                              WHERE r.rm = eid.id AND r.node = eid.y)),
        |res AS (SELECT u.x, u.y FROM und u
        |        WHERE NOT EXISTS (SELECT 1 FROM bridges b
        |                          WHERE b.x = u.x AND b.y = u.y)),
        |rsym AS (SELECT x AS a, y AS b FROM res
        |         UNION ALL SELECT y AS a, x AS b FROM res),
        |n AS (SELECT x AS node FROM und UNION SELECT y FROM und),
        |reach2 AS (SELECT node AS a, node AS b FROM n
        |           UNION
        |           SELECT r.a, s2.b FROM reach2 r JOIN rsym s2 ON s2.a = r.b)
        |SELECT a AS node, MIN(b) AS component
        |FROM reach2 GROUP BY a ORDER BY node""".stripMargin,
    "q_coloring" ->
      s"""WITH ev AS MATERIALIZED (SELECT user_id, ts, event_id,
         |       lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
         |     FROM events WHERE event_type = 'click' AND value < 2.0),
         |e AS MATERIALIZED (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
         |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
         |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y
         |        FROM e),
         |symg AS MATERIALIZED (SELECT x AS a, y AS b FROM und
         |         UNION ALL SELECT y AS a, x AS b FROM und),
         |${graft.ops.Coloring.oracleRoundCtes(12)}
         |SELECT n.v AS node, COALESCE(c.color, -1) AS color,
         |  COALESCE(c.round, -1) AS round
         |FROM nodesg n LEFT JOIN c12 c ON c.v = n.v
         |ORDER BY node""".stripMargin,
    "q_wl_colors" ->
      """WITH ev AS MATERIALIZED (SELECT user_id, ts, event_id,
        |       lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |     FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS MATERIALIZED (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y
        |        FROM e),
        |symg AS MATERIALIZED (SELECT x AS a, y AS b FROM und
        |         UNION ALL SELECT y AS a, x AS b FROM und),
        |c0 AS MATERIALIZED (SELECT a AS v, md5(CAST(COUNT(*) AS VARCHAR)) AS c
        |      FROM symg GROUP BY a),
        |m1 AS (SELECT s.a AS v, string_agg(c.c, ',' ORDER BY c.c) AS ms
        |       FROM symg s JOIN c0 c ON c.v = s.b GROUP BY s.a),
        |c1 AS MATERIALIZED (SELECT p.v, md5(p.c || '#' || m.ms) AS c
        |      FROM c0 p JOIN m1 m ON m.v = p.v),
        |m2 AS (SELECT s.a AS v, string_agg(c.c, ',' ORDER BY c.c) AS ms
        |       FROM symg s JOIN c1 c ON c.v = s.b GROUP BY s.a),
        |c2 AS MATERIALIZED (SELECT p.v, md5(p.c || '#' || m.ms) AS c
        |      FROM c1 p JOIN m2 m ON m.v = p.v),
        |m3 AS (SELECT s.a AS v, string_agg(c.c, ',' ORDER BY c.c) AS ms
        |       FROM symg s JOIN c2 c ON c.v = s.b GROUP BY s.a),
        |c3 AS MATERIALIZED (SELECT p.v, md5(p.c || '#' || m.ms) AS c
        |      FROM c2 p JOIN m3 m ON m.v = p.v),
        |sz AS (SELECT c, COUNT(*) AS color_size FROM c3 GROUP BY c)
        |SELECT c3.v AS node, c3.c AS wl_color, sz.color_size
        |FROM c3 JOIN sz ON sz.c = c3.c
        |ORDER BY node""".stripMargin,
    "q_euler" ->
      """WITH RECURSIVE
        |ev AS (SELECT user_id, ts, event_id,
        |         lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |       FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |und AS (SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y
        |        FROM e),
        |sym AS (SELECT x AS a, y AS b FROM und
        |        UNION ALL SELECT y AS a, x AS b FROM und),
        |deg AS (SELECT a AS node, COUNT(*) AS deg FROM sym GROUP BY a),
        |n AS (SELECT x AS node FROM und UNION SELECT y FROM und),
        |reach AS (SELECT node AS a, node AS b FROM n
        |          UNION
        |          SELECT r.a, s2.b FROM reach r JOIN sym s2 ON s2.a = r.b),
        |comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a)
        |SELECT component, COUNT(*) AS n_nodes,
        |  CAST(SUM(deg) // 2 AS BIGINT) AS m_edges,
        |  CAST(SUM(CASE WHEN deg % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_odd,
        |  (SUM(CASE WHEN deg % 2 = 1 THEN 1 ELSE 0 END) = 0) AS has_circuit,
        |  (SUM(CASE WHEN deg % 2 = 1 THEN 1 ELSE 0 END) <= 2) AS has_path
        |FROM deg JOIN comp USING (node)
        |GROUP BY component
        |ORDER BY component""".stripMargin,
    "q_rich_club" ->
      """WITH base AS (SELECT DISTINCT l_orderkey AS tid,
        |         'P' || CAST(l_partkey AS VARCHAR) AS item
        |       FROM lineitem WHERE l_quantity <= 15),
        |ok AS (SELECT tid FROM base GROUP BY tid HAVING COUNT(*) <= 8),
        |bb AS (SELECT base.tid, base.item FROM base JOIN ok USING (tid)),
        |und AS MATERIALIZED (SELECT DISTINCT x.item AS x, y.item AS y
        |        FROM bb x JOIN bb y ON x.tid = y.tid AND x.item < y.item),
        |deg AS MATERIALIZED (SELECT node, COUNT(*) AS deg
        |      FROM (SELECT x AS node FROM und
        |            UNION ALL SELECT y FROM und)
        |      GROUP BY node),
        |nk AS (SELECT t.k, COUNT(*) AS n_k
        |       FROM deg, UNNEST(range(1, CAST(least(deg - 1, 16) AS BIGINT) + 1)) AS t(k)
        |       WHERE deg >= 2
        |       GROUP BY t.k),
        |ek AS (SELECT t.k, COUNT(*) AS e_k
        |       FROM (SELECT least(dx.deg, dy.deg) AS dmin
        |             FROM und JOIN deg dx ON dx.node = und.x
        |             JOIN deg dy ON dy.node = und.y) m,
        |         UNNEST(range(1, CAST(least(dmin - 1, 16) AS BIGINT) + 1)) AS t(k)
        |       WHERE dmin >= 2
        |       GROUP BY t.k)
        |SELECT nk.k, nk.n_k, COALESCE(ek.e_k, 0) AS e_k,
        |  (1000 * 2 * COALESCE(ek.e_k, 0)) // (nk.n_k * (nk.n_k - 1))
        |    AS phi_permille
        |FROM nk LEFT JOIN ek ON ek.k = nk.k
        |WHERE nk.n_k >= 2
        |ORDER BY nk.k""".stripMargin,
    "q_temporal_triangles" ->
      """WITH ev AS (SELECT user_id, event_id,
        |         lead(user_id) OVER (PARTITION BY event_type
        |           ORDER BY ts, event_id) AS nxt,
        |         lead(epoch_us(ts)) OVER (PARTITION BY event_type
        |           ORDER BY ts, event_id) AS nxt_us
        |       FROM events WHERE event_type = 'click' AND value < 2.0),
        |te AS MATERIALIZED (SELECT DISTINCT CAST(user_id AS VARCHAR) AS s,
        |         CAST(nxt AS VARCHAR) AS d, CAST(nxt_us AS BIGINT) AS t
        |       FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |w AS MATERIALIZED (SELECT a.s AS u, a.d AS v, b.d AS w,
        |         a.t AS t1, b.t AS t2
        |       FROM te a JOIN te b ON b.s = a.d
        |       WHERE b.t > a.t AND b.t - a.t <= 21600000000
        |         AND b.d <> a.s),
        |tri AS (SELECT COUNT(*) AS n_triangles
        |        FROM w JOIN te c ON c.s = w.w AND c.d = w.u
        |        WHERE c.t > w.t2 AND c.t - w.t1 <= 21600000000)
        |SELECT (SELECT COUNT(*) FROM te) AS n_edges,
        |  (SELECT COUNT(*) FROM w) AS n_wedges,
        |  n_triangles
        |FROM tri""".stripMargin,
    "q_wl_components" ->
      """WITH RECURSIVE
        |ev AS (SELECT event_type, user_id, ts, event_id,
        |         lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |       FROM events WHERE value < 2.0),
        |e AS (SELECT DISTINCT
        |        event_type || ':' || CAST(user_id AS VARCHAR) AS src,
        |        event_type || ':' || CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |und AS (SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y
        |        FROM e),
        |symg AS (SELECT x AS a, y AS b FROM und
        |         UNION ALL SELECT y AS a, x AS b FROM und),
        |c0 AS (SELECT a AS v, md5(CAST(COUNT(*) AS VARCHAR)) AS c
        |       FROM symg GROUP BY a),
        |m1 AS (SELECT s.a AS v, string_agg(c.c, ',' ORDER BY c.c) AS ms
        |       FROM symg s JOIN c0 c ON c.v = s.b GROUP BY s.a),
        |c1 AS (SELECT p.v, md5(p.c || '#' || m.ms) AS c
        |       FROM c0 p JOIN m1 m ON m.v = p.v),
        |m2 AS (SELECT s.a AS v, string_agg(c.c, ',' ORDER BY c.c) AS ms
        |       FROM symg s JOIN c1 c ON c.v = s.b GROUP BY s.a),
        |c2 AS (SELECT p.v, md5(p.c || '#' || m.ms) AS c
        |       FROM c1 p JOIN m2 m ON m.v = p.v),
        |m3 AS (SELECT s.a AS v, string_agg(c.c, ',' ORDER BY c.c) AS ms
        |       FROM symg s JOIN c2 c ON c.v = s.b GROUP BY s.a),
        |c3 AS (SELECT p.v, md5(p.c || '#' || m.ms) AS c
        |       FROM c2 p JOIN m3 m ON m.v = p.v),
        |nn AS (SELECT x AS node FROM und UNION SELECT y FROM und),
        |reach AS (SELECT node AS a, node AS b FROM nn
        |          UNION
        |          SELECT r.a, s2.b FROM reach r JOIN symg s2 ON s2.a = r.b),
        |comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a),
        |sig AS (SELECT comp.component, COUNT(*) AS n_nodes,
        |          md5(string_agg(c3.c, ',' ORDER BY c3.c)) AS wl_sig
        |        FROM c3 JOIN comp ON comp.node = c3.v
        |        GROUP BY 1),
        |iso AS (SELECT wl_sig, COUNT(*) AS n_isomorphic FROM sig GROUP BY 1)
        |SELECT component, n_nodes, sig.wl_sig, n_isomorphic
        |FROM sig JOIN iso ON iso.wl_sig = sig.wl_sig
        |ORDER BY component""".stripMargin,
    "q_densest" ->
      s"""WITH base AS (SELECT DISTINCT l_orderkey AS tid,
         |         'P' || CAST(l_partkey AS VARCHAR) AS item
         |       FROM lineitem WHERE l_quantity <= 15),
         |ok AS (SELECT tid FROM base GROUP BY tid HAVING COUNT(*) <= 8),
         |bb AS (SELECT base.tid, base.item FROM base JOIN ok USING (tid)),
         |und AS MATERIALIZED (SELECT DISTINCT x.item AS x, y.item AS y
         |        FROM bb x JOIN bb y ON x.tid = y.tid AND x.item < y.item),
         |${graft.ops.DensestSubgraph.oracleRoundCtes(24)}
         |SELECT round, n_nodes, m_edges,
         |  (1000 * m_edges) // n_nodes AS density_permille,
         |  round = (SELECT round FROM peelbest) AS is_best
         |FROM peelstats ORDER BY round""".stripMargin,
    "q_conductance" ->
      """WITH base AS (SELECT DISTINCT l_orderkey AS tid,
        |         'P' || CAST(l_partkey AS VARCHAR) AS item
        |       FROM lineitem WHERE l_quantity <= 15),
        |ok AS (SELECT tid FROM base GROUP BY tid HAVING COUNT(*) <= 8),
        |bb AS (SELECT base.tid, base.item FROM base JOIN ok USING (tid)),
        |und AS (SELECT DISTINCT x.item AS x, y.item AS y
        |        FROM bb x JOIN bb y ON x.tid = y.tid AND x.item < y.item),
        |lab AS (SELECT 'P' || CAST(p_partkey AS VARCHAR) AS node,
        |          p_brand AS community FROM part),
        |le AS (SELECT und.x, und.y, lx.community AS cx, ly.community AS cy
        |       FROM und JOIN lab lx ON lx.node = und.x
        |                JOIN lab ly ON ly.node = und.y),
        |tm AS (SELECT 2 * COUNT(*) AS two_m FROM le),
        |contrib AS (SELECT cx AS community, 2 AS v, 0 AS k FROM le WHERE cx = cy
        |            UNION ALL SELECT cx, 1, 1 FROM le WHERE cx <> cy
        |            UNION ALL SELECT cy, 1, 1 FROM le WHERE cx <> cy),
        |vols AS (SELECT community, CAST(SUM(v) AS BIGINT) AS vol,
        |           CAST(SUM(k) AS BIGINT) AS cut
        |         FROM contrib GROUP BY 1),
        |nds AS (SELECT community, COUNT(DISTINCT n) AS n_nodes
        |        FROM (SELECT cx AS community, x AS n FROM le
        |              UNION ALL SELECT cy, y FROM le)
        |        GROUP BY 1)
        |SELECT v.community, n_nodes, vol, cut,
        |  CASE WHEN least(vol, two_m - vol) > 0
        |       THEN (1000 * cut) // least(vol, two_m - vol)
        |       ELSE 0 END AS conductance_permille
        |FROM vols v JOIN nds USING (community) CROSS JOIN tm
        |ORDER BY community""".stripMargin,
    "q_degree_gini" ->
      """WITH base AS (SELECT DISTINCT l_orderkey AS tid,
        |         'P' || CAST(l_partkey AS VARCHAR) AS item
        |       FROM lineitem WHERE l_quantity <= 15),
        |ok AS (SELECT tid FROM base GROUP BY tid HAVING COUNT(*) <= 8),
        |bb AS (SELECT base.tid, base.item FROM base JOIN ok USING (tid)),
        |und AS (SELECT DISTINCT x.item AS x, y.item AS y
        |        FROM bb x JOIN bb y ON x.tid = y.tid AND x.item < y.item),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS v
        |        FROM (SELECT x AS node FROM und UNION ALL SELECT y FROM und)
        |        GROUP BY 1),
        |g AS (SELECT v, COUNT(*) AS c FROM deg GROUP BY 1),
        |cum AS (SELECT v, c,
        |          CAST(SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c
        |            AS BIGINT) AS rbefore
        |        FROM g),
        |s AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |        CAST(SUM(v * c) AS BIGINT) AS total,
        |        CAST(SUM(v * (c * rbefore + (c * (c + 1)) // 2)) AS BIGINT)
        |          AS s1
        |      FROM cum)
        |SELECT n, total, 2 * s1 - (n + 1) * total AS s1_num,
        |  CASE WHEN n > 0 AND total > 0
        |       THEN (1000 * (2 * s1 - (n + 1) * total)) // (n * total)
        |       END AS gini_permille
        |FROM s""".stripMargin,
    "q_centralization" ->
      """WITH base AS (SELECT DISTINCT l_orderkey AS tid,
        |         'P' || CAST(l_partkey AS VARCHAR) AS item
        |       FROM lineitem WHERE l_quantity <= 15),
        |ok AS (SELECT tid FROM base GROUP BY tid HAVING COUNT(*) <= 8),
        |bb AS (SELECT base.tid, base.item FROM base JOIN ok USING (tid)),
        |und AS (SELECT DISTINCT x.item AS x, y.item AS y
        |        FROM bb x JOIN bb y ON x.tid = y.tid AND x.item < y.item),
        |deg AS (SELECT node, COUNT(*) AS d
        |        FROM (SELECT x AS node FROM und UNION ALL SELECT y FROM und)
        |        GROUP BY 1),
        |s AS (SELECT COUNT(*) AS n_nodes, CAST(MAX(d) AS BIGINT) AS d_max,
        |        CAST(SUM(d) AS BIGINT) AS d_sum
        |      FROM deg)
        |SELECT n_nodes, d_max,
        |  n_nodes * d_max - d_sum AS c_num,
        |  (n_nodes - 1) * (n_nodes - 2) AS c_den,
        |  CASE WHEN n_nodes >= 3
        |       THEN (1000 * (n_nodes * d_max - d_sum))
        |            // ((n_nodes - 1) * (n_nodes - 2)) END
        |    AS centralization_permille
        |FROM s""".stripMargin,
    "q_cliques4" ->
      """WITH base AS (SELECT DISTINCT l_orderkey AS tid,
        |         'P' || CAST(l_partkey AS VARCHAR) AS item
        |       FROM lineitem WHERE l_quantity <= 15),
        |ok AS (SELECT tid FROM base GROUP BY tid HAVING COUNT(*) <= 8),
        |bb AS (SELECT base.tid, base.item FROM base JOIN ok USING (tid)),
        |und AS MATERIALIZED (SELECT DISTINCT x.item AS x, y.item AS y
        |        FROM bb x JOIN bb y ON x.tid = y.tid AND x.item < y.item),
        |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
        |        FROM und e1 JOIN und e2 ON e2.x = e1.x AND e2.y > e1.y
        |        JOIN und e3 ON e3.x = e1.y AND e3.y = e2.y),
        |cl AS (SELECT t.a, t.b, t.c, ed.y AS d
        |       FROM tri t JOIN und ed ON ed.x = t.c
        |       WHERE EXISTS (SELECT 1 FROM und p
        |                     WHERE p.x = t.a AND p.y = ed.y)
        |         AND EXISTS (SELECT 1 FROM und q2
        |                     WHERE q2.x = t.b AND q2.y = ed.y)),
        |part AS (SELECT node, COUNT(*) AS n_cliques4
        |         FROM (SELECT a AS node FROM cl UNION ALL SELECT b FROM cl
        |               UNION ALL SELECT c FROM cl UNION ALL SELECT d FROM cl)
        |         GROUP BY 1)
        |SELECT node, n_cliques4 FROM part ORDER BY node""".stripMargin,
    "q_stationary" ->
      s"""WITH e AS (SELECT user_id, event_type,
         |             lead(event_type) OVER (PARTITION BY user_id
         |               ORDER BY epoch_us(ts), event_id) AS to_type
         |           FROM events),
         |c AS (SELECT event_type AS a, to_type AS b, COUNT(*) AS n
         |      FROM e WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |st AS (SELECT DISTINCT a AS s FROM c),
         |tr AS (SELECT a, b, n FROM c WHERE b IN (SELECT s FROM st)),
         |outd AS (SELECT a, CAST(SUM(n) AS BIGINT) AS o FROM tr GROUP BY 1),
         |${graft.ops.Transitions.stationaryOracleCtes(6)}
         |SELECT st.s AS state, COALESCE(p6.pi, 0) AS pi_ppm
         |FROM st LEFT JOIN p6 ON p6.s = st.s
         |ORDER BY state""".stripMargin,
    "q_scc_condense" ->
      """WITH RECURSIVE
        |ev AS (SELECT user_id, ts, event_id,
        |              lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |       FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |reach AS (SELECT node AS a, node AS b FROM n
        |          UNION
        |          SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |scc AS (SELECT f.a AS node, MIN(f.b) AS scc_id
        |        FROM reach f JOIN reach r ON f.a = r.b AND f.b = r.a
        |        GROUP BY f.a)
        |SELECT DISTINCT a.scc_id AS scc_src, b.scc_id AS scc_dst
        |FROM e JOIN scc a ON a.node = e.src JOIN scc b ON b.node = e.dst
        |WHERE a.scc_id <> b.scc_id
        |ORDER BY scc_src, scc_dst""".stripMargin,
    "q_topo_layers" ->
      """WITH RECURSIVE
        |nk AS (SELECT n_name, n_nationkey, ROW_NUMBER() OVER (ORDER BY n_nationkey) AS rn FROM nation),
        |chain AS (SELECT a.n_name AS src, b.n_name AS dst FROM nk a JOIN nk b ON b.rn = a.rn + 1),
        |skip AS (SELECT a.n_name AS src, b.n_name AS dst FROM nk a JOIN nk b ON b.rn = a.rn + 5),
        |e AS (SELECT DISTINCT src, dst FROM (SELECT * FROM chain UNION ALL SELECT * FROM skip)),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |s AS (SELECT node FROM n WHERE node NOT IN (SELECT dst FROM e)),
        |p AS (SELECT node, 0 AS l FROM s
        |      UNION ALL
        |      SELECT e.dst, p.l + 1 FROM p JOIN e ON e.src = p.node)
        |SELECT node, CAST(MAX(l) AS BIGINT) AS layer
        |FROM p GROUP BY node ORDER BY node""".stripMargin,
    "q_katz" -> katzOracle(iters = 6, alphaNum = 1, alphaDen = 8,
      scale = 1000000000L),
    "q_louvain_move" ->
      s"""${lpaCtes(4)},
         |adjv AS (SELECT x AS v, y AS n FROM e0 UNION ALL SELECT y AS v, x AS n FROM e0),
         |mm AS (SELECT COUNT(*) AS m FROM e0),
         |degv AS (SELECT v, COUNT(*) AS d FROM adjv GROUP BY v),
         |labv AS (SELECT node, lab AS community FROM l4),
         |dcc AS (SELECT community, CAST(SUM(d) AS BIGINT) AS d_c
         |        FROM degv JOIN labv ON degv.v = labv.node GROUP BY community),
         |evc AS (SELECT adjv.v, labv.community AS c, COUNT(*) AS e_vc
         |        FROM adjv JOIN labv ON labv.node = adjv.n GROUP BY 1, 2),
         |ownc AS (SELECT node AS v, community AS c, 0 AS e_vc FROM labv),
         |candc AS (SELECT v, c, CAST(MAX(e_vc) AS BIGINT) AS e_vc FROM (
         |            SELECT * FROM evc UNION ALL SELECT * FROM ownc)
         |          GROUP BY v, c),
         |sc AS (SELECT candc.v, candc.c,
         |         4 * mm.m * candc.e_vc
         |           - 2 * degv.d * (dcc.d_c -
         |               CASE WHEN candc.c = labv.community THEN degv.d ELSE 0 END) AS score
         |       FROM candc CROSS JOIN mm
         |       JOIN labv ON labv.node = candc.v
         |       JOIN degv ON degv.v = candc.v
         |       JOIN dcc ON dcc.community = candc.c),
         |best AS (SELECT v, c,
         |           ROW_NUMBER() OVER (PARTITION BY v ORDER BY score DESC, c ASC) AS rn
         |         FROM sc)
         |SELECT v AS node, c AS community FROM best WHERE rn = 1
         |ORDER BY node""".stripMargin,
    "q_louvain" -> louvainOracle(moveRounds = 2),
    "q_louvain_hier" -> louvainHierOracle(moveRounds = 2),
    "q_leiden" -> leidenOracle(moveRounds = 2, refineRounds = 2),
    "q_label_spread" -> labelSpreadOracle(rounds = 3, ratePermille = 20,
      salt = "spread"),
    "q_graph_density" -> ccOracle(
      """, comp AS (SELECT node, MIN(lab) AS component FROM cc GROUP BY node),
        |e2 AS (SELECT DISTINCT LEAST(a, b) AS x, GREATEST(a, b) AS y FROM edges),
        |ce AS (SELECT c.component, COUNT(*) AS n_edges
        |       FROM e2 JOIN comp c ON c.node = e2.x GROUP BY 1),
        |cn AS (SELECT component, COUNT(*) AS n_nodes FROM comp GROUP BY 1)
        |SELECT cn.component, cn.n_nodes,
        |  CAST(COALESCE(ce.n_edges, 0) AS BIGINT) AS n_edges,
        |  CASE WHEN cn.n_nodes > 1
        |       THEN (2000 * COALESCE(ce.n_edges, 0))
        |              // (cn.n_nodes * (cn.n_nodes - 1))
        |       ELSE 0 END AS density_permille
        |FROM cn LEFT JOIN ce USING (component)
        |ORDER BY component""".stripMargin),
    "q_negative_edges" ->
      """WITH ev AS (SELECT user_id, ts, event_id,
        |              lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |            FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src, CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |r AS (SELECT node, ROW_NUMBER() OVER (ORDER BY node) AS grn FROM nodes),
        |nn AS (SELECT COUNT(*) AS n FROM r),
        |cand AS (SELECT a.node AS src, b.node AS dst
        |         FROM r a CROSS JOIN nn
        |         JOIN r b ON b.grn = (a.grn * 2654435761) % nn.n + 1
        |         WHERE (a.grn * 2654435761) % nn.n + 1 <> a.grn)
        |SELECT c.src, c.dst FROM cand c
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = c.src AND e.dst = c.dst)
        |  AND NOT EXISTS (SELECT 1 FROM e WHERE e.src = c.dst AND e.dst = c.src)
        |ORDER BY src, dst""".stripMargin,
    "q_percolation" -> percolationOracle(Seq(250, 500, 750)),
    "q_bowtie" ->
      """WITH RECURSIVE
        |ev AS (SELECT user_id, ts, event_id,
        |         lead(user_id) OVER (PARTITION BY event_type
        |           ORDER BY ts, event_id) AS nxt
        |       FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src,
        |        CAST(nxt AS VARCHAR) AS dst
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |-- DuckDB quirk: inside WITH RECURSIVE a non-recursive CTE's
        |-- UNION loses dedup -- make the distinct explicit
        |n AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e
        |      UNION ALL SELECT dst FROM e)),
        |reach AS (SELECT node AS a, node AS b FROM n
        |          UNION
        |          SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |scc AS (SELECT f.a AS node, MIN(f.b) AS scc_id
        |        FROM reach f JOIN reach r ON f.a = r.b AND f.b = r.a
        |        GROUP BY f.a),
        |core AS (SELECT node FROM scc WHERE scc_id = (
        |    SELECT scc_id FROM (SELECT scc_id, COUNT(*) AS sz FROM scc
        |                        GROUP BY 1)
        |    ORDER BY sz DESC, scc_id LIMIT 1)),
        |outx AS (SELECT DISTINCT r.b AS node
        |         FROM reach r JOIN core c ON r.a = c.node
        |         WHERE r.b NOT IN (SELECT node FROM core)),
        |inx AS (SELECT DISTINCT r.a AS node
        |        FROM reach r JOIN core c ON r.b = c.node
        |        WHERE r.a NOT IN (SELECT node FROM core))
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM n) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM core) AS n_core,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM inx) AS n_in,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM outx) AS n_out,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM n)
        |    - (SELECT CAST(COUNT(*) AS BIGINT) FROM core)
        |    - (SELECT CAST(COUNT(*) AS BIGINT) FROM inx)
        |    - (SELECT CAST(COUNT(*) AS BIGINT) FROM outx) AS n_other""".stripMargin,
    "q_sparsify" ->
      """WITH RECURSIVE
        |we AS (SELECT 'P' || CAST(l_partkey AS VARCHAR) AS a,
        |         'S' || CAST(l_suppkey AS VARCHAR) AS b,
        |         CAST(COUNT(*) AS BIGINT) AS w
        |       FROM lineitem WHERE l_quantity <= 2 GROUP BY 1, 2),
        |sym AS (SELECT a, b, w FROM we UNION ALL SELECT b, a, w FROM we),
        |rk AS (SELECT a, b,
        |         ROW_NUMBER() OVER (PARTITION BY a ORDER BY w DESC, b)
        |           AS rk
        |       FROM sym),
        |sp AS (SELECT DISTINCT LEAST(a, b) AS src, GREATEST(a, b) AS dst
        |       FROM rk WHERE rk <= 2),
        |symf AS (SELECT a, b FROM we UNION SELECT b AS a, a AS b FROM we),
        |nodesf AS (SELECT DISTINCT a AS node FROM symf),
        |ccf AS (SELECT node, node AS lab FROM nodesf
        |        UNION SELECT s.b AS node, c.lab
        |        FROM ccf c JOIN symf s ON c.node = s.a WHERE c.lab < s.b),
        |compf AS (SELECT node, MIN(lab) AS component FROM ccf GROUP BY 1),
        |af AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_comp_full,
        |         CAST(MAX(cnt) AS BIGINT) AS lcc_full
        |       FROM (SELECT component, COUNT(*) AS cnt FROM compf
        |             GROUP BY 1)),
        |syms AS (SELECT src AS a, dst AS b FROM sp
        |         UNION SELECT dst AS a, src AS b FROM sp),
        |nodess AS (SELECT DISTINCT a AS node FROM syms),
        |ccs AS (SELECT node, node AS lab FROM nodess
        |        UNION SELECT s.b AS node, c.lab
        |        FROM ccs c JOIN syms s ON c.node = s.a WHERE c.lab < s.b),
        |comps AS (SELECT node, MIN(lab) AS component FROM ccs GROUP BY 1),
        |asx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_comp_sparse,
        |          CAST(MAX(cnt) AS BIGINT) AS lcc_sparse
        |        FROM (SELECT component, COUNT(*) AS cnt FROM comps
        |              GROUP BY 1))
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM we) AS m_full,
        |  af.n_comp_full, af.lcc_full,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sp) AS m_sparse,
        |  asx.n_comp_sparse, asx.lcc_sparse
        |FROM af, asx""".stripMargin,
    "q_node_sketch" -> nodeSketchOracle(
      """SELECT node, CAST(lane AS INT) AS lane, h FROM s2
        |ORDER BY node, lane""".stripMargin),
    "q_node_sim" -> nodeSketchOracle(
      """, pr AS (SELECT x.node AS node_a, y.node AS node_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_match
        |  FROM s2 x JOIN s2 y ON y.lane = x.lane AND y.h = x.h
        |    AND x.node < y.node
        |  GROUP BY 1, 2)
        |SELECT node_a, node_b, n_match, (1000 * n_match) // 8 AS sim_permille
        |FROM pr WHERE n_match >= 5 ORDER BY node_a, node_b""".stripMargin),
    "q_robustness" ->
      """WITH RECURSIVE
        |edges AS (SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR) AS a,
        |            'S' || CAST(l_suppkey AS VARCHAR) AS b
        |          FROM lineitem WHERE l_quantity <= 2),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM
        |          (SELECT a AS node FROM edges
        |           UNION ALL SELECT b FROM edges) GROUP BY 1),
        |hubs AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 20),
        |e2 AS (SELECT a, b FROM edges
        |       WHERE a NOT IN (SELECT node FROM hubs)
        |         AND b NOT IN (SELECT node FROM hubs)),
        |sym1 AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b
        |         FROM edges),
        |nodes1 AS (SELECT DISTINCT a AS node FROM sym1),
        |cc1 AS (SELECT node, node AS lab FROM nodes1
        |        UNION SELECT s.b AS node, c.lab
        |        FROM cc1 c JOIN sym1 s ON c.node = s.a WHERE c.lab < s.b),
        |comp1 AS (SELECT node, MIN(lab) AS component FROM cc1 GROUP BY 1),
        |l1 AS (SELECT CAST(MAX(cnt) AS BIGINT) AS lcc FROM
        |         (SELECT component, COUNT(*) AS cnt FROM comp1 GROUP BY 1)),
        |sym2 AS (SELECT a, b FROM e2 UNION SELECT b AS a, a AS b FROM e2),
        |nodes2 AS (SELECT DISTINCT a AS node FROM sym2),
        |cc2 AS (SELECT node, node AS lab FROM nodes2
        |        UNION SELECT s.b AS node, c.lab
        |        FROM cc2 c JOIN sym2 s ON c.node = s.a WHERE c.lab < s.b),
        |comp2 AS (SELECT node, MIN(lab) AS component FROM cc2 GROUP BY 1),
        |l2 AS (SELECT CAST(MAX(cnt) AS BIGINT) AS lcc FROM
        |         (SELECT component, COUNT(*) AS cnt FROM comp2 GROUP BY 1))
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes1) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS m_edges,
        |  l1.lcc AS lcc,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes2) AS n_nodes_after,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e2) AS m_edges_after,
        |  COALESCE(l2.lcc, 0) AS lcc_after
        |FROM l1, l2""".stripMargin,
    "q_homophily" ->
      """WITH rows0 AS (SELECT l_orderkey AS tid,
        |         'P' || CAST(l_partkey AS VARCHAR) AS item
        |       FROM lineitem WHERE l_quantity <= 15),
        |txok AS (SELECT tid FROM rows0 GROUP BY tid HAVING COUNT(*) <= 8),
        |r AS (SELECT rows0.tid, rows0.item FROM rows0 JOIN txok USING (tid)),
        |e0 AS (SELECT DISTINCT a.item AS x, b.item AS y
        |       FROM r a JOIN r b ON a.tid = b.tid AND a.item < b.item),
        |lab AS (SELECT 'P' || CAST(p_partkey AS VARCHAR) AS n,
        |          p_brand AS l FROM part),
        |le AS (SELECT la.l AS lx, lb.l AS ly
        |       FROM e0 JOIN lab la ON la.n = e0.x JOIN lab lb ON lb.n = e0.y),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
        |          CAST(SUM(CASE WHEN lx = ly THEN 1 ELSE 0 END) AS BIGINT)
        |            AS e_same
        |        FROM le),
        |dl AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS d FROM
        |         (SELECT lx AS l FROM le UNION ALL SELECT ly FROM le)
        |       GROUP BY 1),
        |s2 AS (SELECT CAST(SUM(d * d) AS BIGINT) AS sum_dl2 FROM dl)
        |SELECT m_edges, e_same, sum_dl2,
        |  CASE WHEN 4 * m_edges * m_edges = sum_dl2 THEN NULL
        |       WHEN 4 * m_edges * e_same >= sum_dl2
        |       THEN (1000000 * (4 * m_edges * e_same - sum_dl2))
        |            // (4 * m_edges * m_edges - sum_dl2)
        |       ELSE 0 - ((1000000 * (sum_dl2 - 4 * m_edges * e_same))
        |            // (4 * m_edges * m_edges - sum_dl2))
        |  END AS r_ppm
        |FROM tot, s2""".stripMargin,
    "q_triad_census" ->
      """WITH ev AS (SELECT user_id, ts, event_id,
        |         lead(user_id) OVER (PARTITION BY event_type
        |           ORDER BY ts, event_id) AS nxt
        |       FROM events WHERE event_type = 'click' AND value < 2.0),
        |e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS a,
        |        CAST(nxt AS VARCHAR) AS b
        |      FROM ev WHERE nxt IS NOT NULL AND nxt <> user_id),
        |recip AS (SELECT e.a, e.b FROM e JOIN e r ON r.a = e.b AND r.b = e.a),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM e),
        |rc AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_reciprocal FROM recip),
        |din AS (SELECT b AS n, CAST(COUNT(*) AS BIGINT) AS din FROM e
        |        GROUP BY 1),
        |dout AS (SELECT a AS n, CAST(COUNT(*) AS BIGINT) AS dout FROM e
        |         GROUP BY 1),
        |rd AS (SELECT a AS n, CAST(COUNT(*) AS BIGINT) AS recip FROM recip
        |       GROUP BY 1),
        |wg AS (SELECT CAST(SUM(din.din * dout.dout - COALESCE(rd.recip, 0))
        |         AS BIGINT) AS n_wedges
        |       FROM din JOIN dout USING (n) LEFT JOIN rd USING (n)),
        |p AS (SELECT e1.a, e1.b, e2.b AS c
        |      FROM e e1 JOIN e e2 ON e2.a = e1.b WHERE e1.a <> e2.b),
        |tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_transitive FROM p
        |       WHERE EXISTS (SELECT 1 FROM e
        |                     WHERE e.a = p.a AND e.b = p.c)),
        |cy AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cyclic FROM p
        |       WHERE p.a < p.b AND p.a < p.c
        |         AND EXISTS (SELECT 1 FROM e
        |                     WHERE e.a = p.c AND e.b = p.a))
        |SELECT m_edges, m_reciprocal, n_wedges, n_transitive, n_cyclic
        |FROM tot, rc, wg, tr, cy""".stripMargin)
}

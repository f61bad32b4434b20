package graft.ops

import graft.core.{Gate, Ingest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank with the reference's exact recurrence
  * (reference: src/page_rank.rs:60-129, SURVEY.md §2.2.4):
  *
  *   rank_0[v]   = 1/N
  *   rank_t+1[v] = (1-d)/N + d * Σ_{u→v} rank_t[u] / outdeg(u)
  *
  * with NO dangling-mass redistribution and NO renormalization (sinks leak
  * mass; ranks sum to < 1 — deliberate parity with the reference, which
  * differs from GraphX's staticPageRank normalization). Multi-edges count
  * with multiplicity in both outdeg and contributions (rs:72-75).
  * Convergence: stop after the iteration whose L1 change Σ|new-old| drops
  * below `tol`, or after `maxIter` iterations (rs:82-114).
  *
  * Spark shape: the graph stays distributed; each iteration is one
  * broadcast-or-shuffle join (contributions) + one aggregation, with
  * `localCheckpoint` truncating lineage so 100 iterations don't blow up
  * planning time. The L1 check rides the checkpoint job via an
  * accumulator-instrumented map (same per-iteration cadence as the
  * reference, but one scheduled job per round, not two).
  */
object PageRank {

  /** Per-node scores: (node string, score double). Input columns src/dst.
    *
    * `maxBroadcastNodes` gates the per-iteration rank broadcast: up to that
    * many vertices the (node, score) table is collected to the driver and
    * broadcast (one narrow join per iteration, no shuffle of the big edge
    * side); beyond it the join falls back to a shuffle join so the vertex
    * set never materializes on one node — same guard pattern as
    * `LocalGraph.maxLocalEdges`. 10M nodes ≈ 400 MB broadcast, a sane
    * executor-memory default.
    */
  def scores(edges: DataFrame, damping: Double = 0.85, maxIter: Int = 100,
      tol: Double = 1e-6, maxBroadcastNodes: Long = 10_000_000L,
      maxLocalEdges: Long = 5_000_000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Gated driver-local fast path: once multi-edges are collapsed the
    // iteration state is O(V + collapsed E), and every node appears as a
    // collapsed-edge endpoint (nodes come from the edge list), so V <= 2E.
    // Below `maxLocalEdges` the whole computation is ONE map-side-combined
    // aggregation + capped collect (limit stops early when over the cap),
    // then local arithmetic: outdegrees fold out of the collapsed counts,
    // and the power iteration costs microseconds per round vs ~3 scheduled
    // jobs per round distributed. Same LocalGraph-style gate the per-source
    // traversal operators use (the reference itself is always single-node
    // here, rs:60-129). Above the gate: the distributed loop below.
    Gate.collectAtMost(edges.groupBy($"src", $"dst").agg(count(lit(1)).as("m"))
        .as[(String, String, Long)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, Double)].toDF("node", "score")
        val outdeg = new scala.collection.mutable.HashMap[String, Long]()
        capped.foreach { case (s, _, m) =>
          outdeg.update(s, outdeg.getOrElse(s, 0L) + m)
        }
        val collapsed = capped.map { case (s, d, m) =>
          (s, d, m.toDouble / outdeg(s))
        }
        val nodeNames = (collapsed.iterator.map(_._1) ++ collapsed.iterator.map(_._2))
          .toArray.distinct
        val result = localScores(nodeNames, collapsed, damping, maxIter, tol)
        return spark.createDataFrame(result.toIndexedSeq).toDF("node", "score")
      case None => // over the cap: fall through to the distributed loop
    }

    val e = edges.select($"src", $"dst").persist(StorageLevel.MEMORY_AND_DISK)

    // collapse multi-edges once: contribution weight = multiplicity/outdeg
    val outdeg = e.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val wEdges = e.groupBy($"src", $"dst").agg(count(lit(1)).as("m"))
      .join(outdeg, "src")
      .select($"src", $"dst", ($"m" / $"outdeg").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    wEdges.count()

    val nodes = e.select($"src".as("node")).union(e.select($"dst".as("node")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    e.unpersist()
    if (n == 0) { wEdges.unpersist(); return nodes.withColumn("score", lit(0.0)) }

    val base = (1.0 - damping) / n
    var ranks = nodes.withColumn("score", lit(1.0 / n))
      .persist(StorageLevel.MEMORY_AND_DISK)
    ranks.count()

    // explicit broadcast below the gate: a localCheckpoint'd plan reports
    // default (huge) stats, so the planner would sort-merge this join every
    // iteration; above the gate, never driver-materialize O(V) state
    val useBroadcast = n <= maxBroadcastNodes
    // shuffle path: pre-partition edges by src once so every iteration's
    // shuffle join reuses the edge-side exchange and only re-shuffles ranks
    val wEdgesPart =
      if (useBroadcast) wEdges
      else wEdges.repartition($"src").persist(StorageLevel.MEMORY_AND_DISK)

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val rankSide = ranks.withColumnRenamed("node", "src")
      val contrib = wEdgesPart
        .join(if (useBroadcast) broadcast(rankSide) else rankSide, "src")
        .groupBy($"dst").agg(sum($"score" * $"w").as("incoming"))
      // ranks already holds every node — join it directly (no separate
      // nodes join) and carry the old score for the L1 delta
      val joined = ranks.withColumnRenamed("score", "old")
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select($"node",
          (lit(base) + lit(damping) * coalesce($"incoming", lit(0.0))).as("score"),
          $"old")
      // L1 convergence folded into the materialization job itself: the
      // localCheckpoint job streams every row anyway, so an accumulator-
      // instrumented map collects Σ|new−old| for free — one scheduled job
      // per iteration instead of two (checkpoint + separate agg action).
      // Result-stage accumulator updates are applied exactly once per
      // successful task, so retries can't skew the threshold. tol <= 0 =
      // fixed-iteration mode: skip the instrumentation entirely.
      val checkpointed =
        if (tol > 0) {
          val acc = spark.sparkContext.doubleAccumulator("pagerank_l1")
          val instrumented = joined.as[(String, Double, Double)]
            .map { t => acc.add(math.abs(t._2 - t._3)); t }
            .toDF("node", "score", "old")
            .localCheckpoint(true)
          converged = acc.value < tol
          instrumented
        } else joined.localCheckpoint(true)
      ranks.unpersist()
      ranks = checkpointed.drop("old")
      iter += 1
    }
    if (!useBroadcast) wEdgesPart.unpersist()
    wEdges.unpersist()
    nodes.unpersist()
    ranks
  }

  /** Fixed-point integer PageRank: the same recurrence as [[scores]] but on
    * a ×`scale` integer grid with damping 0.85 = 17/20 exact, so every
    * operation is integer arithmetic and the result is IDENTICAL in any
    * engine and any summation order — this is what makes PageRank
    * DuckDB-oracle-checkable (the double-precision variant diverges in the
    * last bits with summation order). Fixed `iters` iterations, no
    * convergence check (a data-dependent stop isn't SQL-mirrorable).
    *
    *   r_0[v]  = scale div N
    *   r_t+1[v] = (3·scale) div (20·N)
    *              + Σ_{u→v} (17 · m_uv · r_t[u]) div (20 · outdeg_u)
    *
    * All quantities stay < 2^63 provided multiplicity · scale · 17 < 2^63
    * (multiplicity < ~5·10^5 at the default scale; ANSI mode faults loudly
    * beyond). Returns (node string, rank_q long). Same size gate as
    * [[scores]]: local loop under `maxLocalEdges`, distributed join
    * iteration above it.
    */
  def scoresFixedPoint(edges: DataFrame, iters: Int = 10,
      scale: Long = 1000000000000L, maxLocalEdges: Long = 5_000_000L,
      maxBroadcastNodes: Long = 10_000_000L): DataFrame =
    fixedPoint(edges, None, iters, scale, maxLocalEdges, maxBroadcastNodes)

  /** CONVERGENT fixed-point PageRank (r12, VERDICT r11 item 7): the same
    * integer recurrence as [[scoresFixedPoint]] run UNTIL the integer L1
    * delta Σ_v |r_t+1[v] − r_t[v]| drops below `tolQ` (or `maxIter` caps
    * it) — the data-dependent stopping rule [[scores]] applies, on the
    * portable grid. The r11 claim that "a data-dependent stop isn't
    * SQL-mirrorable" fell to DuckDB's recursive CTEs: the oracle
    * ([[graft.QueryHelpers.pagerankConvOracle]]) carries each step's L1
    * on its rows and the recursive term refuses to fire once it is below
    * tolQ — the SAME stopping rule over the SAME integers, so the
    * CONVERGENT path (not just fixed-iteration twins) is hash-exact at
    * any sf. tolQ is on the rank grid: tolQ = scale·tol mirrors a
    * double-path tolerance `tol`. Returns the ranks AFTER the first
    * iteration whose L1 beat tolQ. */
  def scoresFixedPointConvergent(edges: DataFrame, tolQ: Long = 1_000_000L,
      maxIter: Int = 60, scale: Long = 1000000000000L,
      maxLocalEdges: Long = 5_000_000L,
      maxBroadcastNodes: Long = 10_000_000L): DataFrame = {
    require(tolQ > 0, s"tolQ must be positive, got $tolQ (use scoresFixedPoint for a fixed iteration count)")
    fixedPoint(edges, None, maxIter, scale, maxLocalEdges, maxBroadcastNodes,
      tolQ = tolQ)
  }

  /** Personalized PageRank: the same integer fixed-point recurrence with
    * the uniform teleport replaced by a teleport onto `sources` only —
    * initial mass `scale div |S|` on each source, per-iteration base
    * `(3·scale) div (20·|S|)` on sources and 0 elsewhere. Random-walk
    * proximity to the source set, as a graph feature for curation.
    * Source nodes absent from the graph receive no row (their teleport
    * mass leaks — consistent with the no-dangling-redistribution parity
    * of the global variant). Oracle-checkable exactly like q_pagerank_fp.
    */
  def pprFixedPoint(edges: DataFrame, sources: Seq[String], iters: Int = 10,
      scale: Long = 1000000000000L, maxLocalEdges: Long = 5_000_000L,
      maxBroadcastNodes: Long = 10_000_000L): DataFrame = {
    require(sources.nonEmpty, "personalized PageRank needs at least one source")
    require(sources.distinct.size == sources.size,
      s"duplicate sources would double-count teleport mass: $sources")
    fixedPoint(edges, Some(sources), iters, scale, maxLocalEdges, maxBroadcastNodes)
  }

  /** Edge-WEIGHTED integer fixed-point PageRank: the walk leaves a node
    * along each edge with probability proportional to the edge's weight —
    * contribution `(17 · W(u,v) · r(u)) div (20 · W_out(u))` where W sums
    * the integer weights of parallel edges. The unweighted variant is the
    * special case weight ≡ 1 (multiplicity). Non-positive-weight edges
    * are DROPPED (they carry no walk mass and would poison the
    * denominator); fractional weights are floored to the integer grid —
    * both documented, both mirrored in the oracle. Same overflow posture
    * as [[scoresFixedPoint]]: 17·W·r must stay inside Long (ANSI mode
    * faults loudly beyond), i.e. per-pair weight < ~5·10^5 at the default
    * scale.
    */
  def weightedScoresFixedPoint(edges: DataFrame, weightCol: String,
      iters: Int = 10, scale: Long = 1000000000000L,
      maxLocalEdges: Long = 5_000_000L,
      maxBroadcastNodes: Long = 10_000_000L): DataFrame =
    fixedPoint(edges, None, iters, scale, maxLocalEdges, maxBroadcastNodes,
      weight = Some(weightCol))

  private def fixedPoint(edges0: DataFrame, sources: Option[Seq[String]],
      iters: Int, scale: Long, maxLocalEdges: Long,
      maxBroadcastNodes: Long, weight: Option[String] = None,
      tolQ: Long = 0L): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._

    // uniform shape: (src, dst, __w) with __w = 1 for the unweighted
    // variants (sum(__w) ≡ count, so the unweighted results are unchanged)
    val edges = weight match {
      case Some(w) => edges0.where(col(w) > 0)
        .select($"src", $"dst", floor(col(w)).cast("long").as("__w"))
      case None => edges0.select($"src", $"dst", lit(1L).as("__w"))
    }

    Gate.collectAtMost(edges.groupBy($"src", $"dst").agg(sum($"__w").as("m"))
        .as[(String, String, Long)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, Long)].toDF("node", "rank_q")
        val outdeg = new scala.collection.mutable.HashMap[String, Long]()
        capped.foreach { case (s, _, m) =>
          outdeg.update(s, outdeg.getOrElse(s, 0L) + m)
        }
        val names = (capped.iterator.map(_._1) ++ capped.iterator.map(_._2))
          .toArray.distinct.sorted
        val index = names.zipWithIndex.toMap
        val es = capped.map { case (s, d, m) => (index(s), index(d), m, outdeg(s)) }
        val n = names.length
        val isSrc: Int => Boolean = sources match {
          case Some(ss) => val set = ss.toSet; i => set(names(i))
          case None => _ => true
        }
        val denom = sources.map(_.size.toLong).getOrElse(n.toLong)
        var r = Array.tabulate(n)(i => if (isSrc(i)) scale / denom else 0L)
        val base = Array.tabulate(n)(i =>
          if (isSrc(i)) (3 * scale) / (20 * denom) else 0L)
        var it = 0
        var converged = false
        while (it < iters && !converged) {
          val next = base.clone()
          var i = 0
          while (i < es.length) {
            val (s, d, m, od) = es(i)
            next(d) += (17L * m * r(s)) / (20L * od)
            i += 1
          }
          if (tolQ > 0) {
            // integer L1 — exact, so the convergent stop is the oracle's
            var l1 = 0L
            var j = 0
            while (j < n) { l1 = Math.addExact(l1, math.abs(next(j) - r(j))); j += 1 }
            converged = l1 < tolQ
          }
          r = next
          it += 1
        }
        return spark.createDataFrame(names.zip(r).toIndexedSeq).toDF("node", "rank_q")
      case None => // over the cap: distributed tier
    }

    // distributed: integer join-iteration, localCheckpoint per round
    val wEdges = edges.groupBy($"src", $"dst").agg(sum($"__w").as("m"))
      .join(edges.groupBy($"src").agg(sum($"__w").as("outdeg")), "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    wEdges.count()
    val nodes = edges.select($"src".as("node")).union(edges.select($"dst".as("node")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    if (n == 0) { wEdges.unpersist(); return nodes.withColumn("rank_q", lit(0L)) }
    val denom = sources.map(_.size.toLong).getOrElse(n)
    // teleport indicator: uniform for global PageRank, source-only for PPR
    val isSrcCol = sources match {
      case Some(ss) => $"node".isin(ss: _*)
      case None => lit(true)
    }
    val baseCol = when(isSrcCol, lit((3 * scale) / (20 * denom))).otherwise(lit(0L))
    // same broadcast gate as scores(): never driver-materialize O(V) state
    // beyond maxBroadcastNodes
    val useBroadcast = n <= maxBroadcastNodes
    var ranks = nodes
      .withColumn("rank_q", when(isSrcCol, lit(scale / denom)).otherwise(lit(0L)))
      .localCheckpoint(true)
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val rankSide = ranks.withColumnRenamed("node", "src")
      val contrib = wEdges
        .join(if (useBroadcast) broadcast(rankSide) else rankSide, "src")
        .select($"dst", expr("(17 * m * rank_q) div (20 * outdeg)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("incoming"))
      val next = ranks.select($"node")
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select($"node",
          (baseCol + coalesce($"incoming", lit(0L))).as("rank_q"))
        .localCheckpoint(true)
      if (tolQ > 0) {
        // one extra 1-row action per iteration — the convergent variant's
        // price; integer L1, so the stop is bit-identical to the oracle's
        val l1 = next.withColumnRenamed("rank_q", "new_q")
          .join(ranks, "node")
          .agg(sum(abs($"new_q" - $"rank_q")).as("l1"))
          .as[Long].head()
        converged = l1 < tolQ
      }
      ranks = next
      it += 1
    }
    wEdges.unpersist()
    nodes.unpersist()
    ranks
  }

  /** Driver-local power iteration over collapsed weighted edges — exactly
    * the distributed recurrence ((1-d)/N base, no dangling redistribution,
    * L1 convergence checked after each iteration). Summation runs in
    * collapsed-edge order, so scores agree with the distributed path to
    * double rounding (~1e-15), not bitwise — fine for the rows-only check
    * and the tolerance-based goldens.
    */
  private[graft] def localScores(nodeNames: Array[String],
      wEdges: Array[(String, String, Double)], damping: Double,
      maxIter: Int, tol: Double): Array[(String, Double)] = {
    val names = nodeNames.sorted // deterministic iteration order
    val index = names.zipWithIndex.toMap
    val n = names.length
    val es = wEdges.map { case (s, d, w) => (index(s), index(d), w) }
      .sortBy(t => (t._1, t._2)) // deterministic summation order
    val base = (1.0 - damping) / n
    var ranks = Array.fill(n)(1.0 / n)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val next = Array.fill(n)(base)
      var i = 0
      while (i < es.length) {
        val (s, d, w) = es(i)
        next(d) += damping * ranks(s) * w
        i += 1
      }
      if (tol > 0) {
        var l1 = 0.0
        var j = 0
        while (j < n) { l1 += math.abs(next(j) - ranks(j)); j += 1 }
        converged = l1 < tol
      }
      ranks = next
      iter += 1
    }
    names.zip(ranks)
  }

  /** Reference-parity row-aligned form: returns `df` plus a `page_rank`
    * column holding the score of each row's `from` node; rows whose `from`
    * is null or never formed a valid edge get 0.0 (rs:118-126).
    */
  def pageRankColumn(df: DataFrame, from: String, to: String,
      damping: Double = 0.85, maxIter: Int = 100, tol: Double = 1e-6): DataFrame = {
    val s = scores(Ingest.edges(df, from, to), damping, maxIter, tol)
    Ingest.withRowIdx(df, "_rid")
      .join(s.withColumnRenamed("node", "__pr_node"),
        col(from).cast("string") === col("__pr_node"), "left")
      .withColumn("page_rank", coalesce(col("score"), lit(0.0)))
      .orderBy("_rid") // restore input row order (output is row-aligned)
      .drop("__pr_node", "score", "_rid")
  }
}

package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Densest-subgraph extraction by Charikar peeling — the 2-approximation
  * every "find the hot core" pipeline uses: repeatedly delete all nodes
  * of at-most-average degree and remember the densest intermediate
  * graph. Each round removes a constant fraction of nodes, so the
  * profile has O(log n) rows and SOME round's graph is within 2× of
  * the true maximum-density subgraph (Charikar 2000).
  *
  * All-integer: density m/n is compared and reported by
  * cross-multiplication — a node peels when deg_v·n ≤ 2·m (at most the
  * average 2m/n), the emitted density is (1000·m) div n, and the best
  * round maximizes the exact fraction m/n via m·n' > m'·n, ties to the
  * EARLIEST round. The oracle replays the identical peeling unrolled.
  *
  * Round cost: one degree aggregate + two semi-joins over the shrinking
  * induced edge set, locally checkpointed — shuffle algebra only; the
  * O(log n) sequential rounds are the algorithm's own depth.
  *
  * Output: one row per non-empty round —
  * (round, n_nodes, m_edges, density_permille, is_best).
  */
object DensestSubgraph {

  def peelProfile(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 24, maxLocalEdges: Long = 2_000_000L): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds must be in [1, 64], got $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val canonical = edges.select(
        least(col(srcCol).cast("string"), col(dstCol).cast("string")).as("x"),
        greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
          .as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .distinct()
    // gated local replay (the Scc/Truss pattern): the peel is a pure
    // function of the graph, so a capped collect replays the IDENTICAL
    // rounds without ~3 jobs per round of scheduling
    Gate.collectAtMost(canonical.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        val profile = localPeel(capped, maxRounds)
        if (profile.isEmpty)
          return spark.emptyDataset[(Long, Long, Long, Long, Boolean)]
            .toDF("round", "n_nodes", "m_edges", "density_permille",
              "is_best")
        return render(spark, profile)
      case None => // over the cap: distributed tier
    }
    var e = canonical.persist(StorageLevel.MEMORY_AND_DISK)
    val profile = collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var r = 0
    var done = false
    while (r < maxRounds && !done) {
      val deg = e.select(col("x").as("node"))
        .union(e.select(col("y").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val Array(n, m) = deg.agg(count(lit(1)), expr("sum(deg) div 2"))
        .collect()(0) match {
        case row => Array(row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      }
      if (n == 0L) done = true
      else {
        profile += ((r.toLong, n, m))
        // peel: deg_v * n <= 2 * m  (exact "at most average")
        val keep = deg.where(col("deg") * lit(n) > lit(2L * m))
          .select("node")
        e = e.join(keep.withColumnRenamed("node", "x"), Seq("x"), "left_semi")
          .join(keep.withColumnRenamed("node", "y"), Seq("y"), "left_semi")
          .localCheckpoint(eager = true)
        r += 1
      }
    }
    render(spark, profile.toSeq)
  }

  private def render(spark: org.apache.spark.sql.SparkSession,
      profile: Seq[(Long, Long, Long)]): DataFrame = {
    // maximize m/n EXACTLY via cross-multiplication; strict > keeps the
    // earliest round on ties
    val best = profile.indices.reduceLeft { (bi, ci) =>
      val (_, bn, bm) = profile(bi)
      val (_, cn, cm) = profile(ci)
      if (cm * bn > bm * cn) ci else bi
    }
    val rows = profile.zipWithIndex.map { case ((rd, n, m), i) =>
      (rd, n, m, 1000L * m / n, i == best)
    }
    spark.createDataFrame(rows.toIndexedSeq)
      .toDF("round", "n_nodes", "m_edges", "density_permille", "is_best")
      .orderBy("round")
  }

  private[ops] def localPeel(edges: Array[(String, String)],
      maxRounds: Int): Seq[(Long, Long, Long)] = {
    var es = edges.distinct
    val profile = collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var r = 0
    while (r < maxRounds && es.nonEmpty) {
      val deg = collection.mutable.HashMap.empty[String, Long]
      es.foreach { case (a, b) =>
        deg.update(a, deg.getOrElse(a, 0L) + 1L)
        deg.update(b, deg.getOrElse(b, 0L) + 1L)
      }
      val n = deg.size.toLong
      val m = es.length.toLong
      profile += ((r.toLong, n, m))
      val keep = deg.collect {
        case (v, d) if d * n > 2L * m => v
      }.toSet
      es = es.filter { case (a, b) => keep(a) && keep(b) }
      r += 1
    }
    profile.toSeq
  }

  /** Unrolled-oracle peeling chain over a CTE `und(x, y)` (canonical
    * undirected edges): e0..e<k>, d<k>, st<k>; the stats union is
    * `peelstats`, the winning round `peelbest`.
    */
  def oracleRoundCtes(maxRounds: Int): String = {
    val sb = new StringBuilder
    sb.append("e0 AS MATERIALIZED (SELECT x, y FROM und)")
    for (i <- 0 until maxRounds) {
      sb.append(
        s""",
           |d$i AS MATERIALIZED (SELECT node, COUNT(*) AS deg
           |      FROM (SELECT x AS node FROM e$i
           |            UNION ALL SELECT y FROM e$i)
           |      GROUP BY node),
           |st$i AS (SELECT CAST($i AS BIGINT) AS round,
           |           COUNT(*) AS n_nodes,
           |           CAST(SUM(deg) // 2 AS BIGINT) AS m_edges
           |         FROM d$i HAVING COUNT(*) > 0),
           |k$i AS MATERIALIZED (SELECT node FROM d$i
           |      CROSS JOIN (SELECT COUNT(*) AS n,
           |                    COALESCE(CAST(SUM(deg) // 2 AS BIGINT), 0) AS m
           |                  FROM d$i) t
           |      WHERE deg * n > 2 * m),
           |e${i + 1} AS MATERIALIZED (SELECT x, y FROM e$i
           |      WHERE x IN (SELECT node FROM k$i)
           |        AND y IN (SELECT node FROM k$i))""".stripMargin)
    }
    sb.append(
      s""",
         |peelstats AS (${(0 until maxRounds)
             .map(i => s"SELECT * FROM st$i").mkString("\n  UNION ALL ")}),
         |peelbest AS (SELECT s.round FROM peelstats s
         |             WHERE NOT EXISTS (SELECT 1 FROM peelstats t
         |               WHERE t.m_edges * s.n_nodes > s.m_edges * t.n_nodes
         |                  OR (t.m_edges * s.n_nodes = s.m_edges * t.n_nodes
         |                      AND t.round < s.round)))""".stripMargin)
    sb.toString
  }
}

package graft.ops

import graft.core.Gate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.functions.hex_to_long

/** Jones–Plassmann greedy graph coloring — adjacent nodes get distinct
  * colors, in parallel rounds with NO sequential vertex order: per
  * round every uncolored node whose (md5-priority, name) beats all of
  * its uncolored neighbors colors itself with the mex (smallest
  * non-negative integer) of its already-colored neighbors' colors.
  * Because a lower-priority neighbor can only color AFTER v, the
  * colored-neighbor set at v's turn is exactly its higher-priority
  * neighbors — so the final coloring is a pure function of the graph
  * and the hash, independent of scheduling, and the unrolled-CTE
  * oracle replays it exactly. Colors ≤ max degree + 1 always.
  *
  * Truncation is part of the contract (the k-core/MIS trick): after
  * `rounds` rounds — the longest decreasing-priority path bounds the
  * need; expected O(log n) for random priorities — every still-
  * uncolored node reports color −1, and the oracle computes the SAME
  * truncation. Early convergence equals the full unroll because
  * colored state never changes.
  *
  * Round cost: one uncolored-neighbor anti-join (am-I-the-local-max)
  * + one colored-neighbor color aggregation with the mex computed by a
  * codegen'd `aggregate` lambda over the sorted color set — keyed
  * shuffles only, state one row per node, locally checkpointed. The
  * gated driver-local replay (Scc/Truss pattern) runs the IDENTICAL
  * rounds below `maxLocalEdges` — same priorities via MessageDigest,
  * same mex, same truncation.
  *
  * Output: (node, color, round) — color −1 / round −1 for truncated.
  */
object Coloring {

  def greedyColoring(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 12, salt: String = "color|",
      maxLocalEdges: Long = 2_000_000L): DataFrame = {
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1, 64], got $rounds")
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
          return spark.emptyDataset[(String, Long, Long)]
            .toDF("node", "color", "round")
        return spark.createDataFrame(
            localColoring(capped, rounds, salt).toIndexedSeq)
          .toDF("node", "color", "round").orderBy("node")
      case None => // over the cap: distributed tier
    }
    distributedColoring(spark, canonical, rounds, salt)
  }

  /** Priority expression shared by both paths and the oracle. */
  private def priCol(node: org.apache.spark.sql.Column, salt: String) =
    hex_to_long(substring(md5(concat(lit(salt), node)), 1, 15))

  private def distributedColoring(spark: SparkSession, canonical: DataFrame,
      rounds: Int, salt: String): DataFrame = {
    import spark.implicits._
    val sym = canonical.select(col("x").as("a"), col("y").as("b"))
      .union(canonical.select(col("y").as("a"), col("x").as("b")))
      .withColumn("pa", priCol(col("a"), salt))
      .withColumn("pb", priCol(col("b"), salt))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // b strictly "above" a in the (priority, name) total order
    val higher = sym.where(col("pb") > col("pa") ||
        (col("pb") === col("pa") && col("b") > col("a")))
      .select(col("a").as("v"), col("b").as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var unc = sym.select(col("a").as("v")).distinct()
      .localCheckpoint(eager = false)
    var colored = Seq.empty[(String, Long, Long)]
      .toDF("v", "color", "round")
    var r = 1
    var live = true
    while (r <= rounds && live) {
      val blocked = higher
        .join(unc.withColumnRenamed("v", "h"), Seq("h"))
        .select("v").distinct()
      val cand = unc.join(blocked, Seq("v"), "left_anti")
      val nbrColors = sym.select(col("a").as("v"), col("b"))
        .join(colored.select(col("v").as("b"), col("color")), Seq("b"))
        .groupBy("v").agg(collect_set(col("color")).as("cs"))
      val newc = cand.join(nbrColors, Seq("v"), "left")
        .select(col("v"),
          expr("aggregate(array_sort(coalesce(cs, array())), 0L, " +
            "(acc, x) -> IF(x = acc, acc + 1L, acc))").as("color"),
          lit(r.toLong).as("round"))
        .localCheckpoint(eager = true)
      live = newc.limit(1).count() > 0
      if (live) {
        colored = colored.union(newc).localCheckpoint(eager = false)
        unc = unc.join(newc.select("v"), Seq("v"), "left_anti")
          .localCheckpoint(eager = false)
      }
      r += 1
    }
    colored
      .union(unc.select(col("v"), lit(-1L).as("color"), lit(-1L).as("round")))
      .select(col("v").as("node"), col("color"), col("round"))
      .orderBy("node")
  }

  private[ops] def localColoring(edges: Array[(String, String)],
      rounds: Int, salt: String): Array[(String, Long, Long)] = {
    val ids = collection.mutable.LinkedHashMap[String, Int]()
    def id(s: String): Int = ids.getOrElseUpdate(s, ids.size)
    val es = edges.map { case (a, b) => (id(a), id(b)) }
    val n = ids.size
    val names = ids.keys.toArray
    val adj = Array.fill(n)(collection.mutable.ArrayBuffer.empty[Int])
    es.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val md = java.security.MessageDigest.getInstance("MD5")
    val pri = names.map { nm =>
      val h = md.digest((salt + nm).getBytes("UTF-8"))
      md.reset()
      val hex = new StringBuilder(16)
      var i = 0
      while (hex.length < 15) { hex.append(f"${h(i) & 0xff}%02x"); i += 1 }
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    // strict (priority, UTF8 name) order — the distributed path's
    // (pb, b) comparison on Spark UTF8String binary order
    def above(u: Int, v: Int): Boolean =
      pri(u) > pri(v) ||
        (pri(u) == pri(v) && graft.core.Utf8Order.compare(names(u), names(v)) > 0)
    val color = Array.fill(n)(-1L)
    val roundOf = Array.fill(n)(-1L)
    var r = 1
    var progressed = true
    while (r <= rounds && progressed) {
      val pick = (0 until n).filter { v =>
        color(v) < 0 && adj(v).forall(u => color(u) >= 0 || !above(u, v))
      }
      progressed = pick.nonEmpty
      // colors assigned from the PREVIOUS rounds' state only — all of a
      // candidate's uncolored neighbors are below it, so the mex over
      // colored neighbors is stable within the round
      val cols = pick.map { v =>
        val used = adj(v).collect { case u if color(u) >= 0 => color(u) }
          .toArray.distinct.sorted
        var mex = 0L
        used.foreach { c => if (c == mex) mex += 1 }
        v -> mex
      }
      cols.foreach { case (v, c) => color(v) = c; roundOf(v) = r.toLong }
      r += 1
    }
    (0 until n).map(v => (names(v), color(v), roundOf(v))).toArray
  }

  /** Unrolled-oracle CTE chain: given a CTE `symg(a, b)` (symmetric
    * adjacency), appends pri/unc/cand/newc/c chains for `rounds` rounds;
    * the final colored set is `c<rounds>`. Kept beside the operator so
    * Spark code and SQL cannot drift.
    */
  def oracleRoundCtes(rounds: Int, salt: String = "color|"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""nodesg AS MATERIALIZED (SELECT DISTINCT a AS v FROM symg),
         |prig AS MATERIALIZED (SELECT v,
         |           ('0x' || substr(md5('$salt' || v), 1, 15))::BIGINT AS p
         |         FROM nodesg),
         |c0 AS (SELECT v, CAST(-1 AS BIGINT) AS color,
         |         CAST(-1 AS BIGINT) AS round
         |       FROM nodesg WHERE 1 = 0)""".stripMargin)
    for (k <- 1 to rounds) {
      val prev = s"c${k - 1}"
      sb.append(
        s""",
           |unc$k AS MATERIALIZED (SELECT prig.v, prig.p FROM prig
           |          WHERE NOT EXISTS (SELECT 1 FROM $prev
           |                            WHERE $prev.v = prig.v)),
           |cand$k AS (SELECT u.v FROM unc$k u
           |           WHERE NOT EXISTS (
           |             SELECT 1 FROM symg s JOIN unc$k h ON h.v = s.b
           |             WHERE s.a = u.v
           |               AND (h.p > u.p OR (h.p = u.p AND s.b > u.v)))),
           |newc$k AS (SELECT c.v, MIN(t.i) AS color
           |           FROM cand$k c CROSS JOIN range(0, 4096) t(i)
           |           WHERE NOT EXISTS (
           |             SELECT 1 FROM symg s JOIN $prev hc ON hc.v = s.b
           |             WHERE s.a = c.v AND hc.color = t.i)
           |           GROUP BY c.v),
           |c$k AS MATERIALIZED (SELECT v, color, round FROM $prev
           |        UNION ALL
           |        SELECT v, color, CAST($k AS BIGINT) AS round
           |        FROM newc$k)""".stripMargin)
    }
    sb.toString
  }
}

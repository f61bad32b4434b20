package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Markov transition matrix over per-entity event sequences — the
  * sequence-mining primitive behind "what do users do next" analyses and
  * the first step of any behavioral next-event model: for every ordered
  * pair of event types (a, b), count how often b immediately follows a
  * within one entity's time-ordered stream, plus the per-source integer
  * per-mille transition probability.
  *
  * The successor is derived with `lead` over (`tsCol`, `tieCol`) inside
  * each entity partition — the tie column (a unique event id) makes the
  * order total, so the pair multiset is deterministic and the driver query
  * gets a hash-exact DuckDB oracle. Probabilities are integer:
  * `permille = (n * 1000) div from_total` — no floating-point division.
  *
  * Plan shape at 100 TB: ONE entity-keyed shuffle for the sequence window
  * (the same partitioning sessionization uses), then a (from, to) count
  * whose partials combine map-side into a |types|² table — tiny however
  * large the stream. The per-source totals are a window over that tiny
  * table, not over events.
  */
object Transitions {

  def eventTransitions(events: DataFrame, entityCol: String, tsCol: String,
      typeCol: String, tieCol: String): DataFrame = {
    val seq = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .select(col(entityCol), col(tsCol), col(tieCol),
        col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(seq))
      .where(col("to_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val perSource = Window.partitionBy(col("from_type"))
    counts
      .withColumn("from_total", sum(col("n")).over(perSource))
      .withColumn("permille", expr("(n * 1000) div from_total"))
  }

  /** Event n-gram counts — [[eventTransitions]] generalized to length-`n`
    * consecutive type sequences ("view>view>click"), the input of
    * sequential pattern mining and next-k-step models. All `n−1` leads
    * share ONE entity-keyed sort window (Spark evaluates them in a single
    * Window operator), windows that would cross the end of an entity's
    * stream are dropped, and the count table is at most |types|^n rows —
    * partial-aggregated map-side like the transition matrix.
    */
  def eventNgrams(events: DataFrame, entityCol: String, tsCol: String,
      typeCol: String, tieCol: String, n: Int = 3): DataFrame = {
    require(n >= 2 && n <= 8, s"n must be in [2, 8], got $n")
    val seq = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol), col(tieCol))
    var df = events.select(col(entityCol), col(tsCol), col(tieCol),
      col(typeCol).as("__t0"))
    for (i <- 1 until n)
      df = df.withColumn(s"__t$i", lead(col("__t0"), i).over(seq))
    val steps = (0 until n).map(i => col(s"__t$i"))
    df.where(steps.map(_.isNotNull).reduce(_ && _))
      .select(concat_ws(">", steps: _*).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n_occurrences"))
  }

  /** Stationary distribution of the [[eventTransitions]] chain by
    * integer fixed-point power iteration — "where does a user end up in
    * the long run". The chain is CLOSED first: states are the types with
    * at least one outgoing transition, edges into non-states are dropped
    * and out-degrees recomputed over what remains (otherwise mass leaks
    * into sinks and the iteration is not a distribution at all).
    *
    * Grid arithmetic (the q_pagerank_fp discipline, so the unrolled
    * oracle replays it exactly): π₀(s) = 1_000_000 div k; each round
    * π'(b) = Σ_a (π(a)·n(a,b)) div out(a), floor per (a,b) term; states
    * no round reaches report 0. The floors bleed a few ppm per round —
    * that is the SPEC'D semantics, not an approximation to hide.
    *
    * Scale shape: the event stream collapses to the |types|² matrix via
    * one entity-keyed window + map-side-combined count (inherited from
    * [[eventTransitions]]); the iteration itself runs on the matrix —
    * gated driver-local under `maxLocalMatrix` rows, identical-result
    * distributed join rounds above it (parity-spec'd with the gate 0).
    *
    * Output: (state, pi_ppm) for every state, ordered by state.
    */
  def stationaryDistribution(events: DataFrame, entityCol: String,
      tsCol: String, typeCol: String, tieCol: String, rounds: Int = 6,
      maxLocalMatrix: Long = 1000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 32,
      s"rounds must be in [1, 32], got $rounds")
    val spark = events.sparkSession
    import spark.implicits._
    val c = eventTransitions(events, entityCol, tsCol, typeCol, tieCol)
      .select(col("from_type").cast("string").as("a"),
        col("to_type").cast("string").as("b"), col("n"))
    val st = c.select(col("a").as("s")).distinct()
    val tr = c.join(st.select(col("s").as("b")), Seq("b"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Gate.collectAtMost(tr.select(col("a"), col("b"), col("n")).as[(String, String, Long)],
        maxLocalMatrix) match {
      case Some(capped) =>
        val states = st.as[String].collect().sorted
        val k = states.length.toLong
        if (k == 0L)
          return spark.emptyDataset[(String, Long)].toDF("state", "pi_ppm")
        val out = new scala.collection.mutable.HashMap[String, Long]
        capped.foreach { case (a, _, n) =>
          out.update(a, out.getOrElse(a, 0L) + n)
        }
        var pi: Map[String, Long] = states.map(_ -> 1000000L / k).toMap
        for (_ <- 0 until rounds) {
          val nxt = new scala.collection.mutable.HashMap[String, Long]
          capped.foreach { case (a, b, n) =>
            val pa = pi.getOrElse(a, 0L)
            if (pa != 0L)
              nxt.update(b, nxt.getOrElse(b, 0L) + pa * n / out(a))
          }
          pi = states.map(s => s -> nxt.getOrElse(s, 0L)).toMap
        }
        return spark.createDataFrame(
            states.toIndexedSeq.map(s => (s, pi(s))))
          .toDF("state", "pi_ppm").orderBy("state")
      case None => // over the cap: distributed tier
    }
    val outd = tr.groupBy("a").agg(sum(col("n")).as("o"))
    val k = st.count()
    if (k == 0L)
      return spark.emptyDataset[(String, Long)].toDF("state", "pi_ppm")
    var pi = st.select(col("s"), lit(1000000L / k).as("pi"))
    for (_ <- 0 until rounds) {
      pi = tr.join(pi.select(col("s").as("a"), col("pi")), Seq("a"))
        .join(outd, Seq("a"))
        .groupBy(col("b").as("s"))
        .agg(sum(expr("(pi * n) div o")).as("pi"))
        .localCheckpoint(eager = true)
    }
    st.join(pi, Seq("s"), "left")
      .select(col("s").as("state"),
        coalesce(col("pi"), lit(0L)).as("pi_ppm"))
      .orderBy("state")
  }

  /** Unrolled-oracle iteration chain for [[stationaryDistribution]] over
    * CTEs `st(s)`, `tr(a, b, n)` and `outd(a, o)`: kk, p0..p<rounds>.
    * The final round's table is `p<rounds>`.
    */
  def stationaryOracleCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("kk AS (SELECT COUNT(*) AS k FROM st),\n")
    sb.append("p0 AS (SELECT s, CAST(1000000 // k AS BIGINT) AS pi " +
      "FROM st CROSS JOIN kk)")
    for (i <- 1 to rounds) {
      sb.append(
        s""",
           |p$i AS (SELECT t.b AS s, CAST(SUM((p.pi * t.n) // o.o) AS BIGINT) AS pi
           |        FROM p${i - 1} p JOIN tr t ON t.a = p.s
           |                         JOIN outd o ON o.a = t.a
           |        GROUP BY 1)""".stripMargin)
    }
    sb.toString
  }
}

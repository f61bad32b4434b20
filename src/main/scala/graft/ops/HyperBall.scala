package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HyperBall (Boldi & Vigna 2013, "In-Core Computation of Geometric
  * Centralities with HyperBall") — neighborhood-function sketching: every
  * node carries a HyperLogLog counter of its ball B(v, r), and one round
  * of elementwise register max-merge across edges advances every ball
  * radius by one. Ball-size ESTIMATES per radius then yield harmonic
  * centrality (and closeness, neighbourhood function, …) for ALL nodes at
  * O(V · 2^p) state — the 100 TB-scale complement of [[Harmonic]], whose
  * exact pair-state BFS is O(sources · reach) and needs source sampling
  * to stay tractable.
  *
  * Registers are kept SPARSE — one row (node, idx, rho), zero registers
  * absent — and use the identical portable register math as
  * [[graft.functions.HllRegistersAgg]] (md5 60-bit lane, trailing-zero
  * rank: pure integer ops, so the register evolution itself is
  * reproducible in any engine — the q_hyperball oracle replays it in
  * unrolled SQL). Each round is one edge join + one (node, idx) max
  * aggregation — pure shuffle algebra, no driver state.
  *
  * Estimates ([[harmonicEstimate]]) use the standard HLL estimator with
  * the small-range linear-counting correction; accuracy vs the exact BFS
  * is spec-tested (estimates are float and deliberately NOT part of the
  * cross-engine oracle surface).
  */
object HyperBall {

  /** Symmetric distinct edge list (BFS semantics: multiplicity and
    * direction ignored), persisted — probed every round. */
  private def symEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val fwd = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Sparse single-value register row per node: the HLL of {v}. */
  private def baseRegisters(nodes: DataFrame, p: Int, hashBits: Int): DataFrame = {
    val m = 1 << p
    nodes
      .withColumn("__h", graft.functions.functions.hex_to_long(
        substring(md5(col("node")), 1, 15)))
      .withColumn("idx", expr(s"CAST(__h % $m AS INT)"))
      .withColumn("rho", expr(
        s"""CAST(CASE WHEN (__h >> $p) = 0 THEN ${hashBits - p + 1}
           |     ELSE bit_count(((__h >> $p) & -(__h >> $p)) - 1) + 1
           |     END AS INT)""".stripMargin))
      .select(col("node"), col("idx"), col("rho"))
  }

  /** Register states per node per radius 0..rounds:
    * (r, node, idx, rho) — sparse. The per-radius slices feed the
    * estimator; callers wanting only the final ball take `r = rounds`.
    */
  def ballRegistersByRound(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, p: Int = 6, hashBits: Int = 60,
      maxLocalEdges: Long = 2000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1, 32], got $rounds")
    require(p >= 2 && p <= 14, s"p must be in [2, 14], got $p")

    // Gated driver-local replay (the Scc/LPA pattern): rounds of edge-join
    // + max-merge cost ~2 shuffles each; under the cap the IDENTICAL
    // register evolution (same md5 lane, same trailing-zero rank — pure
    // integer math) replays over dense per-node register arrays. The
    // V·2^p state budget keeps a high-p case off the driver even when the
    // edge list fits. Parity-spec'd with the gate forced to 0.
    val spark = edges.sparkSession
    import spark.implicits._
    val fwd0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val symD = fwd0.union(fwd0.select(col("b").as("a"), col("a").as("b")))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    Gate.collectAtMost(symD.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        val out = localBallRegisters(capped, rounds, p, hashBits,
          fromRadius = 0)
        if (out != null)
          return spark.createDataFrame(out.toIndexedSeq)
            .toDF("r", "node", "idx", "rho")
        // state budget exceeded: fall through to the distributed loop
      case None => // over the cap: distributed tier
    }

    val sym = symEdges(edges, srcCol, dstCol)
    val nodes = sym.select(col("a").as("node")).distinct()
    var state = baseRegisters(nodes, p, hashBits).localCheckpoint(true)
    var slices = List(state.withColumn("r", lit(0)))
    for (i <- 1 to rounds) {
      // neighbor registers flow along edges, then elementwise max —
      // checkpoint per round (two consumers: next round + the slice)
      state = state
        .join(sym, col("node") === col("b"))
        .select(col("a").as("node"), col("idx"), col("rho"))
        .union(state)
        .groupBy(col("node"), col("idx")).agg(max(col("rho")).as("rho"))
        .localCheckpoint(true)
      slices ::= state.withColumn("r", lit(i))
    }
    slices.reverse.reduce(_ union _)
      .select(col("r"), col("node"), col("idx"), col("rho"))
  }

  /** In-memory replay: dense per-node register arrays, per round
    * new[v] = elementwise-max(old[v], old[neighbors of v]) — identical to
    * the distributed union + max aggregate. Emits the SPARSE rows (rho >
    * 0 only, and every register starts at rho >= 1 for its own node) per
    * radius 0..rounds. Returns null when V·2^p exceeds the state budget.
    */
  /** Shared dense-array replay core: builds the CSR adjacency + base
    * registers, then calls `onRadius(r, names, reg)` with the dense
    * n×m register array at every radius 0..rounds. Returns false (no
    * callbacks fired) when V·2^p exceeds the driver state budget. */
  private def replayRegisters(sym: Array[(String, String)], rounds: Int,
      p: Int, hashBits: Int)(
      onRadius: (Int, Array[String], Array[Int]) => Unit): Boolean = {
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      sym.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
    val m = 1 << p
    if (n.toLong * m > 16000000L) return false
    val deg = new Array[Int](n)
    sym.foreach { case (a, _) => deg(idOf(a)) += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](sym.length)
    val cur = off.clone()
    sym.foreach { case (a, b) =>
      val ia = idOf(a); nbr(cur(ia)) = idOf(b); cur(ia) += 1
    }
    // base: each node's own md5 lane → (idx, rho)
    var reg = new Array[Int](n * m)
    i = 0
    while (i < n) {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(names(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = d.take(8).map(b => f"$b%02x").mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      val idx = (h % m).toInt
      val w = h >> p
      val rho =
        if (w == 0L) hashBits - p + 1
        else java.lang.Long.numberOfTrailingZeros(w) + 1
      reg(i * m + idx) = rho
      i += 1
    }
    onRadius(0, names, reg)
    var r = 1
    while (r <= rounds) {
      val next = reg.clone()
      var v = 0
      while (v < n) {
        var e = off(v)
        while (e < off(v + 1)) {
          val u = nbr(e)
          var j = 0
          while (j < m) {
            if (reg(u * m + j) > next(v * m + j)) next(v * m + j) = reg(u * m + j)
            j += 1
          }
          e += 1
        }
        v += 1
      }
      reg = next
      onRadius(r, names, reg)
      r += 1
    }
    true
  }

  private def localBallRegisters(sym: Array[(String, String)], rounds: Int,
      p: Int, hashBits: Int, fromRadius: Int): Array[(Int, String, Int, Int)] = {
    val m = 1 << p
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Int, Int)]
    // emitting only the tail radii matters: the driver-side row conversion
    // of ~V·2^p tuples PER RADIUS is the local path's dominant cost, and
    // ballRegisters needs just the final slice
    val ok = replayRegisters(sym, rounds, p, hashBits) { (r, names, reg) =>
      if (r >= fromRadius) {
        var v = 0
        while (v < names.length) {
          var j = 0
          while (j < m) {
            if (reg(v * m + j) > 0) out += ((r, names(v), j, reg(v * m + j)))
            j += 1
          }
          v += 1
        }
      }
    }
    if (ok) out.toArray else null
  }

  /** Final-radius sparse registers: (node, idx, rho) — the oracle
    * surface. Gates its own local replay emitting ONLY the final slice
    * (the per-radius driver row conversion is the local path's cost). */
  def ballRegisters(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, p: Int = 6, hashBits: Int = 60,
      maxLocalEdges: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val fwd0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val symD = fwd0.union(fwd0.select(col("b").as("a"), col("a").as("b")))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    Gate.collectAtMost(symD.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        val out = localBallRegisters(capped, rounds, p, hashBits,
          fromRadius = rounds)
        if (out != null)
          // r13 OPT (guide §5 — the driver should do almost no data work):
          // the final register slice is ~10 rows per node (319 k rows at
          // sf0.1), and createDataFrame(Seq) encodes a LocalRelation on
          // the driver single-threaded — profiled as ~2 s of a 3.2 s
          // query while every core idled. parallelize + createDataset
          // moves the row encoding into tasks; values are identical and
          // the caller's orderBy fixes the output order.
          return spark.createDataset(spark.sparkContext.parallelize(
              out.map(t => (t._2, t._3, t._4)).toIndexedSeq,
              spark.sparkContext.defaultParallelism))
            .toDF("node", "idx", "rho")
      case None => // over the cap: distributed tier
    }
    ballRegistersByRound(edges, srcCol, dstCol, rounds, p, hashBits,
        maxLocalEdges)
      .where(col("r") === rounds).drop("r")
  }

  /** Per-node truncated harmonic centrality estimate:
    * Ĥ(v) = Σ_{r=1..rounds} (|B̂(v,r)| - |B̂(v,r-1)|) / r, with |B̂| the
    * HLL estimate (linear counting below 2.5m). Returns
    * (node, ball_final, harmonic_est). Estimates are doubles — spec-tested
    * against the exact BFS, not oracle-compared.
    */
  def harmonicEstimate(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, p: Int = 6, hashBits: Int = 60): DataFrame = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val slices = ballRegistersByRound(edges, srcCol, dstCol, rounds, p, hashBits)
    // HLL estimate per (node, r): raw = alpha·m² / Σ 2^-M[j] (absent
    // sparse rows are zeros contributing 1 each); linear counting when
    // raw <= 2.5m and zero registers remain
    val est = slices.groupBy(col("r"), col("node"))
      .agg(count(lit(1)).as("nz"), sum(expr("pow(0.5, rho)")).as("s"))
      .withColumn("raw", expr(s"$alpha * $m * $m / (s + ($m - nz))"))
      .withColumn("est", expr(
        s"""CASE WHEN raw <= 2.5 * $m AND nz < $m
           |     THEN $m * ln(CAST($m AS DOUBLE) / ($m - nz))
           |     ELSE raw END""".stripMargin))
      .select(col("r"), col("node"), col("est"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("node")).orderBy(col("r"))
    est
      .withColumn("prev", lag(col("est"), 1).over(w))
      .withColumn("term", when(col("r") > 0,
        greatest(col("est") - col("prev"), lit(0.0)) / col("r")))
      .groupBy(col("node"))
      .agg(max(when(col("r") === rounds, col("est"))).as("ball_final"),
        sum(col("term")).as("harmonic_est"))
  }

  /** Neighborhood function + effective diameter from the same register
    * sweep — the Boldi-Vigna "how far is 90% of the graph" statistic,
    * kept EXACT-INTEGER so it joins the oracle surface (unlike
    * [[harmonicEstimate]]'s float estimates, whose node-summed doubles
    * would be addition-order-dependent):
    *
    *   est(v,r) = (ALPHA_PPM · m² · 2^K) div (denom(v,r) · 10⁶)  [nodes]
    *   denom    = Σ_present 2^(K−rho) + (m − nz)·2^K,  K = hashBits−p+1
    *   NF(r)    = Σ_v est(v,r)
    *
    * est is the RAW HLL estimator floored to whole nodes — one exact
    * integer division per node (numerator precomputed as one
    * DECIMAL(38,0) literal; 2^K·m ≤ 2^61 keeps denom in long), then an
    * order-independent integer sum. No linear-counting branch: the
    * effective diameter is a RATIO of the same estimator at two radii,
    * so a uniform estimator choice is both principled and portable.
    * NF(r) is non-decreasing in r (registers only grow ⇒ denom only
    * shrinks), so the threshold radius is well-defined:
    *
    *   eff_diameter = min { r : 1000·NF(r) ≥ targetPermille·NF(rounds) }
    *
    * Output: one row per radius 0..rounds —
    * (r, n_nodes, nf_est, ratio_permille, eff_diameter) with
    * eff_diameter constant across rows. Scale shape: the register sweep
    * (2 shuffles per round) + one (r, node) aggregate + a (rounds+1)-row
    * rollup.
    */
  def effectiveDiameter(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, p: Int = 4, hashBits: Int = 60,
      targetPermille: Long = 900L,
      maxLocalEdges: Long = 2000000L): DataFrame = {
    val m = 1 << p
    val alphaPpm = m match {
      case 16 => 673000L
      case 32 => 697000L
      case 64 => 709000L
      case _ => throw new IllegalArgumentException(
        s"effectiveDiameter supports p in {4, 5, 6}, got $p")
    }
    require(targetPermille >= 1 && targetPermille <= 1000,
      s"targetPermille must be in [1, 1000], got $targetPermille")
    val kBits = hashBits - p + 1
    val pow2K = 1L << kBits
    val numBig = BigInt(alphaPpm) * m * m * pow2K
    val num = numBig.toString

    // Gated driver-local NF: the sparse per-radius register rows are
    // pure intermediate here — only (rounds+1) NF sums leave the driver,
    // so the replay skips the V·2^p-per-radius row conversion that
    // dominates ballRegisters' local path. Identical arithmetic
    // (BigInt floor division ≡ the distributed DECIMAL(38,0) div on
    // these non-negative values); parity-spec'd with the gate at 0.
    val nf: DataFrame = {
      var localNf: DataFrame = null
      val spark = edges.sparkSession
      import spark.implicits._
      val fwd0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      val symD = fwd0.union(fwd0.select(col("b").as("a"), col("a").as("b")))
        .where(col("a").isNotNull && col("b").isNotNull &&
          col("a") =!= col("b"))
        .distinct()
      Gate.collectAtMost(symD.as[(String, String)], maxLocalEdges) match {
        case Some(capped) =>
          val rows = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Long)]
          val ok = replayRegisters(capped, rounds, p, hashBits) {
            (r, names, reg) =>
              val n = names.length
              var v = 0
              var s = 0L
              while (v < n) {
                var denom = 0L
                var j = 0
                while (j < m) {
                  denom += (1L << (kBits - reg(v * m + j)))
                  j += 1
                }
                s += (numBig / (BigInt(denom) * 1000000L)).toLong
                v += 1
              }
              rows += ((r, n.toLong, s))
          }
          if (ok)
            localNf = spark.createDataFrame(rows.toIndexedSeq)
              .toDF("r", "n_nodes", "nf_est")
        case None => // over the cap: distributed tier
      }
      if (localNf != null) localNf
      else {
        val slices = ballRegistersByRound(edges, srcCol, dstCol, rounds, p,
          hashBits, maxLocalEdges)
        slices.groupBy(col("r"), col("node"))
          .agg(count(lit(1)).as("nz"),
            sum(expr(s"CAST(1 AS BIGINT) << ($kBits - rho)")).as("s_pow"))
          .withColumn("denom",
            col("s_pow") + (lit(m.toLong) - col("nz")) * lit(pow2K))
          .withColumn("est_nodes", expr(
            s"""CAST(CAST('$num' AS DECIMAL(38, 0))
               div (CAST(denom AS DECIMAL(38, 0))
                    * CAST(1000000 AS DECIMAL(38, 0))) AS BIGINT)"""))
          .groupBy(col("r"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("est_nodes")).as("nf_est"))
      }
    }
    val fin = nf.where(col("r") === rounds)
      .select(col("nf_est").as("nf_final"))
    val ratios = nf.crossJoin(broadcast(fin))
      .withColumn("ratio_permille",
        when(col("nf_final") > 0L, expr("(1000 * nf_est) div nf_final"))
          .otherwise(lit(0L)))
    val eff = ratios
      .where(lit(1000L) * col("nf_est") >= lit(targetPermille) * col("nf_final"))
      .agg(min(col("r")).as("eff_diameter"))
    ratios.crossJoin(broadcast(eff))
      .select("r", "n_nodes", "nf_est", "ratio_permille", "eff_diameter")
  }
}

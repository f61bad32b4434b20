package graft.ops

import graft.core.Gate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et al.
  * 2007), made deterministic: every node simultaneously adopts the most
  * frequent label among its neighbors, ties broken by the MINIMUM label —
  * no RNG, no visit order. Run for a FIXED number of rounds: synchronous
  * LPA can oscillate on bipartite-ish structures, and a fixed round count
  * makes the result a well-defined partial fixpoint that an unrolled-CTE
  * oracle reproduces exactly (the same parity trick as KCore and the
  * fixed-point PageRank).
  *
  * Scale shape: each round is one join (edge × label) plus two
  * aggregations — pure shuffle algebra keyed by node, no per-task vertex
  * state, `localCheckpoint` every other round to stop plan nesting
  * (KCore's fixpoint hygiene). At 1000 executors the per-round cost is
  * the co-partitioned edge-label join; rounds are few (communities form
  * in O(log n) rounds in practice).
  */
object Communities {

  /** (node, community) after exactly `rounds` synchronous updates over
    * the undirected graph of `edges` (symmetrized, deduplicated,
    * self-loops dropped). Nodes keep their own id as initial label.
    *
    * GATE CALIBRATION (r9 scale probe, tools/scale_probe_r09.jsonl): at
    * 64× sf0.1 (6.9M co-order edges — just past this 5M default) the
    * distributed loops run end-to-end with sub-linear scaling on
    * local[32] (q_louvain 104 s at 64× data = 21× its 1× time,
    * q_modularity 12×, q_triangles 10×). The local replay at 5M edges is
    * a ~100 MB collect replayed in seconds, so 5M is kept: local wins
    * wherever it fits, and the fall-through is measured-sane beyond it.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, maxLocalEdges: Long = 5000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val half = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where($"a".isNotNull && $"b".isNotNull && $"a" =!= $"b")
    // distinct AFTER symmetrizing collapses (u,v) and (v,u) duplicates of
    // the input into one undirected edge each way
    val symRaw = half.union(half.select($"b".as("a"), $"a".as("b"))).distinct()

    // Gated driver-local fast path (the Scc.components pattern, VERDICT r7
    // item 3): a synchronous LPA round is 2 shuffles, so `rounds` rounds
    // cost ~2·rounds sequential scheduled jobs — on a graph whose DISTINCT
    // symmetric edge list fits under the cap, one capped collect + an
    // in-memory replay of the IDENTICAL rounds (same majority rule, same
    // min-label tie-break in UTF8-byte order) is an order of magnitude
    // faster. Above the cap: the shuffle loop below, unchanged.
    Gate.collectAtMost(symRaw.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, String)].toDF("node", "community")
        return spark.createDataFrame(localLpa(capped, rounds).toIndexedSeq)
          .toDF("node", "community")
      case None => // over the cap: fall through to the distributed loop
    }

    val sym = symRaw
      .localCheckpoint(true) // consumed once per round — cut, not re-derived
    var lab = sym.select($"a".as("node")).distinct()
      .select($"node", $"node".as("lab"))
      .localCheckpoint(true)
    for (i <- 1 to rounds) {
      val cnt = sym
        .join(lab.select($"node".as("b"), $"lab".as("nlab")), "b")
        .groupBy($"a", $"nlab").agg(count(lit(1)).as("c"))
      // most frequent neighbor label, min label on ties: one min-struct
      // aggregate — no window over the node table
      val next = cnt.groupBy($"a")
        .agg(min(struct((lit(0L) - $"c").as("nc"), $"nlab".as("lab"))).as("m"))
        .select($"a".as("node"), $"m.lab".as("lab"))
      lab = if (i % 2 == 0 || i == rounds) next.localCheckpoint(true) else next
    }
    lab.withColumnRenamed("lab", "community")
  }

  /** Weighted synchronous label propagation: neighbors vote with their
    * EDGE WEIGHT instead of one vote each — the form that respects a
    * co-occurrence/similarity graph's strengths (a heavy edge outvotes
    * many light ones; spec'd). Same determinism contract as
    * [[labelPropagation]]: synchronous update, min-label tie-break (by
    * UTF8 byte order), fixed rounds = engine-reproducible partial
    * fixpoint. Parallel canonical pairs merge by weight sum first;
    * weights must be positive integers (non-positive rows drop).
    * Gated local replay under `maxLocalEdges`, shuffle loop above.
    */
  def labelPropagationWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, rounds: Int,
      maxLocalEdges: Long = 5000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val canon = edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"),
        col(weightCol).cast("long").as("w"))
      .where($"x".isNotNull && $"y".isNotNull && $"x" =!= $"y" && $"w" > 0L)
      .groupBy($"x", $"y").agg(sum($"w").as("w"))
    val symRaw = canon.select($"x".as("a"), $"y".as("b"), $"w")
      .union(canon.select($"y".as("a"), $"x".as("b"), $"w"))

    Gate.collectAtMost(symRaw.as[(String, String, Long)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, String)].toDF("node", "community")
        return spark.createDataFrame(localLpaWeighted(capped, rounds).toIndexedSeq)
          .toDF("node", "community")
      case None => // over the cap: distributed tier
    }

    val sym = symRaw.localCheckpoint(true)
    var lab = sym.select($"a".as("node")).distinct()
      .select($"node", $"node".as("lab"))
      .localCheckpoint(true)
    for (i <- 1 to rounds) {
      val cnt = sym
        .join(lab.select($"node".as("b"), $"lab".as("nlab")), "b")
        .groupBy($"a", $"nlab").agg(sum($"w").as("c"))
      val next = cnt.groupBy($"a")
        .agg(min(struct((lit(0L) - $"c").as("nc"), $"nlab".as("lab"))).as("m"))
        .select($"a".as("node"), $"m.lab".as("lab"))
      lab = if (i % 2 == 0 || i == rounds) next.localCheckpoint(true) else next
    }
    lab.withColumnRenamed("lab", "community")
  }

  /** In-memory replay of the exact weighted LPA rounds. */
  private def localLpaWeighted(sym: Array[(String, String, Long)],
      rounds: Int): Array[(String, String)] = {
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      sym.foreach { case (a, b, _) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
    val deg = new Array[Int](n)
    sym.foreach { case (a, _, _) => deg(idOf(a)) += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](sym.length)
    val nw = new Array[Long](sym.length)
    val cur = off.clone()
    sym.foreach { case (a, b, w) =>
      val ia = idOf(a); nbr(cur(ia)) = idOf(b); nw(cur(ia)) = w; cur(ia) += 1
    }
    var lab = Array.tabulate(n)(identity)
    var r = 0
    while (r < rounds) {
      val next = new Array[Int](n)
      val cnt = new scala.collection.mutable.HashMap[Int, Long]
      var v = 0
      while (v < n) {
        cnt.clear()
        var j = off(v)
        while (j < off(v + 1)) {
          val l = lab(nbr(j))
          cnt.update(l, cnt.getOrElse(l, 0L) + nw(j))
          j += 1
        }
        var bestLab = -1
        var bestW = -1L
        cnt.foreach { case (l, w) =>
          if (w > bestW || (w == bestW && utf8Lt(names(l), names(bestLab))))
            { bestLab = l; bestW = w }
        }
        next(v) = bestLab
        v += 1
      }
      lab = next
      r += 1
    }
    Array.tabulate(n)(v => (names(v), names(lab(v))))
  }

  /** Unsigned byte-wise UTF-8 comparison — Spark SQL's string ordering
    * (UTF8String.compareTo), which the local replays must match exactly
    * for tie-breaks to agree with the distributed min-struct aggregates.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** In-memory replay of the EXACT synchronous LPA rounds over a collected
    * symmetric edge list: every node simultaneously adopts its most
    * frequent neighbor label, ties to the minimum label in UTF8-byte
    * order. CSR adjacency, label state as int indices into the name table.
    */
  private def localLpa(sym: Array[(String, String)],
      rounds: Int): Array[(String, String)] = {
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      sym.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
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
    var lab = Array.tabulate(n)(identity)
    var r = 0
    while (r < rounds) {
      val next = new Array[Int](n)
      val cnt = new scala.collection.mutable.HashMap[Int, Int]
      var v = 0
      while (v < n) {
        cnt.clear()
        var j = off(v)
        while (j < off(v + 1)) {
          val l = lab(nbr(j))
          cnt.update(l, cnt.getOrElse(l, 0) + 1)
          j += 1
        }
        var bestLab = -1
        var bestCnt = -1
        cnt.foreach { case (l, c) =>
          if (c > bestCnt || (c == bestCnt && utf8Lt(names(l), names(bestLab))))
            { bestLab = l; bestCnt = c }
        }
        // every node incident to an edge has >= 1 neighbor by construction
        next(v) = bestLab
        v += 1
      }
      lab = next
      r += 1
    }
    Array.tabulate(n)(v => (names(v), names(lab(v))))
  }

  /** One synchronous Louvain-style move step: every node simultaneously
    * re-evaluates, against the CURRENT partition, which neighboring
    * community (or its own) maximizes the modularity gain of hosting it,
    * and adopts the argmax. The per-candidate score is the exact
    * integer-scaled gain term
    *
    *     score(v, c) = 4m·e_{v,c} − 2·d_v·(d_c − [c = c(v)]·d_v)
    *
    * (e_{v,c} = edges from v into c, d_c = community degree sum; the
    * d_v correction removes v's own contribution when judging its home
    * community) — comparing scores across candidates for fixed v is
    * exactly comparing Louvain's ΔQ, with no floating point anywhere.
    * Ties break to the smaller community label; argmax is a min-struct
    * aggregate, not a window. Synchronous + deterministic = the same
    * partition every run/engine, unlike classic sequential Louvain whose
    * result depends on visit order — the documented trade for
    * reproducibility (iterate the step to a fixpoint for refinement).
    *
    * Shape: degree/community-degree tables via partial-aggregated
    * shuffles, one adjacency⋈labels join for e_{v,c}, one argmax
    * aggregate. No driver state.
    *
    * Output: (node, community) — the post-move partition.
    */
  def modularityMoveStep(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, maxLocalEdges: Long = 5000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val eRaw = edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .where($"x".isNotNull && $"y".isNotNull && $"x" =!= $"y")
      .distinct()

    // Gated driver-local fast path (Scc.components pattern, VERDICT r7
    // item 3): the distributed step below is ~6 sequential shuffle stages;
    // under the cap one capped collect + an in-memory replay of the
    // IDENTICAL integer scoring (same candidate set, same min-struct
    // tie-break in UTF8-byte order) wins by an order of magnitude. The
    // label table is at most one row per vertex, so it is collected only
    // after the edge list passes the gate.
    Gate.collectAtMost(eRaw.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, String)].toDF("node", "community")
        val labArr = labels.select(col("node").cast("string"),
          col("community").cast("string")).as[(String, String)].collect()
        return spark.createDataFrame(localMoveStep(capped, labArr).toIndexedSeq)
          .toDF("node", "community")
      case None => // over the cap: fall through to the distributed step
    }

    val e = eRaw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = e.select($"x".as("v"), $"y".as("n"))
      .union(e.select($"y".as("v"), $"x".as("n")))
    val lab = labels.select(col("node"), col("community"))
      .localCheckpoint(true)
    val m = e.count()
    val deg = adj.groupBy($"v").agg(count(lit(1)).as("d"))
    val dc = deg.join(lab, deg("v") === lab("node"))
      .groupBy($"community").agg(sum($"d").as("d_c"))
    // edges from v into each neighboring community
    val evc = adj.join(lab.select($"node".as("n"), $"community".as("c")), "n")
      .groupBy($"v", $"c").agg(count(lit(1)).as("e_vc"))
    // candidate set = neighbor communities ∪ own community (e_vc = 0 when
    // v has no neighbor at home)
    val own = lab.select($"node".as("v"), $"community".as("c"),
      lit(0L).as("e_vc"))
    val cand = evc.union(own)
      .groupBy($"v", $"c").agg(max($"e_vc").as("e_vc"))
    // degree and home-community ride ONE v-keyed join (they share the key)
    val vinfo = deg.join(lab, deg("v") === lab("node"))
      .select($"v", $"d", $"community".as("home"))
    val scored = cand
      .join(vinfo, "v")
      .join(dc.select($"community".as("c"), $"d_c"), "c")
      .withColumn("d_excl",
        $"d_c" - when($"c" === $"home", $"d").otherwise(lit(0L)))
      .withColumn("score",
        lit(4L) * m * $"e_vc" - lit(2L) * $"d" * $"d_excl")
    scored.groupBy($"v")
      .agg(min(struct((lit(0L) - $"score").as("ns"), $"c".as("c"))).as("b"))
      .select($"v".as("node"), $"b.c".as("community"))
  }

  /** In-memory replay of the EXACT distributed move step over a collected
    * distinct undirected edge list + label table. Faithful to the inner
    * joins of the distributed form: nodes without a label or without an
    * edge are absent from the output, unlabeled neighbors don't count
    * toward e_{v,c}, community degree sums cover labeled nodes only.
    */
  private def localMoveStep(e: Array[(String, String)],
      labArr: Array[(String, String)]): Array[(String, String)] = {
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      e.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
    val m = e.length.toLong
    // adjacency (both directions)
    val deg = new Array[Int](n)
    e.foreach { case (a, b) => deg(idOf(a)) += 1; deg(idOf(b)) += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](2 * e.length)
    val cur = off.clone()
    e.foreach { case (a, b) =>
      val ia = idOf(a); val ib = idOf(b)
      nbr(cur(ia)) = ib; cur(ia) += 1
      nbr(cur(ib)) = ia; cur(ib) += 1
    }
    // community of each graph node (only nodes present in BOTH tables)
    val comm = new Array[String](n)
    labArr.foreach { case (node, c) =>
      idOf.get(node).foreach(v => comm(v) = c)
    }
    val dC = new scala.collection.mutable.HashMap[String, Long]
    var v = 0
    while (v < n) {
      if (comm(v) != null)
        dC.update(comm(v), dC.getOrElse(comm(v), 0L) + deg(v))
      v += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val evc = new scala.collection.mutable.HashMap[String, Long]
    v = 0
    while (v < n) {
      if (comm(v) != null) {
        evc.clear()
        var j = off(v)
        while (j < off(v + 1)) {
          val c = comm(nbr(j))
          if (c != null) evc.update(c, evc.getOrElse(c, 0L) + 1L)
          j += 1
        }
        if (!evc.contains(comm(v))) evc.update(comm(v), 0L)
        val d = deg(v).toLong
        var bestC: String = null
        var bestScore = Long.MinValue
        evc.foreach { case (c, eVc) =>
          val dExcl = dC(c) - (if (c == comm(v)) d else 0L)
          val score = 4L * m * eVc - 2L * d * dExcl
          if (score > bestScore || (score == bestScore && utf8Lt(c, bestC)))
            { bestC = c; bestScore = score }
        }
        out += ((names(v), bestC))
      }
      v += 1
    }
    out.toArray
  }

  /** Weighted synchronous Louvain move step — [[modularityMoveStep]] for
    * a weighted undirected graph (the production norm: co-occurrence
    * projections, similarity graphs): with W = Σw, strength
    * s_v = Σ_incident w, community strength s_c, and w_{v,c} the weight
    * from v into c, the exact integer-scaled gain is
    *
    *   score(v, c) = 4W·w_{v,c} − 2·s_v·(s_c − [c = c(v)]·s_v)
    *
    * — same argmax/tie-break contract as the unweighted form (min-struct,
    * ties to the smaller community label), all integer (weights must be
    * POSITIVE integers; ANSI overflow is the loud bound). Parallel
    * canonical pairs merge by summing weights first. Gated driver-local
    * replay under `maxLocalEdges`, distributed shuffle algebra above —
    * parity-spec'd gate-off.
    */
  def modularityMoveStepWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, labels: DataFrame,
      maxLocalEdges: Long = 5000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val eRaw = edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"),
        col(weightCol).cast("long").as("w"))
      .where($"x".isNotNull && $"y".isNotNull && $"x" =!= $"y" && $"w" > 0L)
      .groupBy($"x", $"y").agg(sum($"w").as("w"))

    Gate.collectAtMost(eRaw.as[(String, String, Long)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, String)].toDF("node", "community")
        val labArr = labels.select(col("node").cast("string"),
          col("community").cast("string")).as[(String, String)].collect()
        return spark.createDataFrame(
            localMoveStepWeighted(capped, labArr).toIndexedSeq)
          .toDF("node", "community")
      case None => // over the cap: distributed tier
    }

    val e = eRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = e.select($"x".as("v"), $"y".as("n"), $"w")
      .union(e.select($"y".as("v"), $"x".as("n"), $"w"))
    val lab = labels.select(col("node"), col("community"))
      .localCheckpoint(true)
    val bigW = e.agg(sum($"w")).as[Long].head()
    val str = adj.groupBy($"v").agg(sum($"w").as("s"))
    val sc = str.join(lab, str("v") === lab("node"))
      .groupBy($"community").agg(sum($"s").as("s_c"))
    val wvc = adj.join(lab.select($"node".as("n"), $"community".as("c")), "n")
      .groupBy($"v", $"c").agg(sum($"w").as("w_vc"))
    val own = lab.select($"node".as("v"), $"community".as("c"),
      lit(0L).as("w_vc"))
    // positive weights: max(w_vc, 0) = w_vc, so the union+max trick from
    // the unweighted form carries over unchanged
    val cand = wvc.union(own)
      .groupBy($"v", $"c").agg(max($"w_vc").as("w_vc"))
    val vinfo = str.join(lab, str("v") === lab("node"))
      .select($"v", $"s", $"community".as("home"))
    val scored = cand
      .join(vinfo, "v")
      .join(sc.select($"community".as("c"), $"s_c"), "c")
      .withColumn("s_excl",
        $"s_c" - when($"c" === $"home", $"s").otherwise(lit(0L)))
      .withColumn("score",
        lit(4L) * bigW * $"w_vc" - lit(2L) * $"s" * $"s_excl")
    scored.groupBy($"v")
      .agg(min(struct((lit(0L) - $"score").as("ns"), $"c".as("c"))).as("b"))
      .select($"v".as("node"), $"b.c".as("community"))
  }

  /** In-memory replay of the exact weighted move step. */
  private def localMoveStepWeighted(e: Array[(String, String, Long)],
      labArr: Array[(String, String)]): Array[(String, String)] = {
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      e.foreach { case (a, b, _) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
    var bigW = 0L
    e.foreach { case (_, _, w) => bigW += w }
    val deg = new Array[Int](n)
    e.foreach { case (a, b, _) => deg(idOf(a)) += 1; deg(idOf(b)) += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](2 * e.length)
    val nw = new Array[Long](2 * e.length)
    val cur = off.clone()
    val strength = new Array[Long](n)
    e.foreach { case (a, b, w) =>
      val ia = idOf(a); val ib = idOf(b)
      nbr(cur(ia)) = ib; nw(cur(ia)) = w; cur(ia) += 1
      nbr(cur(ib)) = ia; nw(cur(ib)) = w; cur(ib) += 1
      strength(ia) += w; strength(ib) += w
    }
    val comm = new Array[String](n)
    labArr.foreach { case (node, c) => idOf.get(node).foreach(v => comm(v) = c) }
    val sC = new scala.collection.mutable.HashMap[String, Long]
    var v = 0
    while (v < n) {
      if (comm(v) != null)
        sC.update(comm(v), sC.getOrElse(comm(v), 0L) + strength(v))
      v += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val wvc = new scala.collection.mutable.HashMap[String, Long]
    v = 0
    while (v < n) {
      if (comm(v) != null) {
        wvc.clear()
        var j = off(v)
        while (j < off(v + 1)) {
          val c = comm(nbr(j))
          if (c != null) wvc.update(c, wvc.getOrElse(c, 0L) + nw(j))
          j += 1
        }
        if (!wvc.contains(comm(v))) wvc.update(comm(v), 0L)
        val s = strength(v)
        var bestC: String = null
        var bestScore = Long.MinValue
        wvc.foreach { case (c, w) =>
          val sExcl = sC(c) - (if (c == comm(v)) s else 0L)
          val score = 4L * bigW * w - 2L * s * sExcl
          if (score > bestScore || (score == bestScore && utf8Lt(c, bestC)))
            { bestC = c; bestScore = score }
        }
        out += ((names(v), bestC))
      }
      v += 1
    }
    out.toArray
  }

  /** LPA init + Louvain refinement over ONE collected edge list: the
    * fused form of `louvain(edges, labelPropagation(edges, …), …)`, which
    * would collect the symmetric list for LPA and the canonical list for
    * the move rounds separately — one derivation pass feeds both replays
    * here (the canonical pairs are exactly the UTF8-ordered half of the
    * symmetric set). Above the gate: the distributed forms, unchanged.
    */
  def lpaLouvain(edges: DataFrame, srcCol: String, dstCol: String,
      lpaRounds: Int, moveRounds: Int,
      maxLocalEdges: Long = 5000000L): DataFrame = {
    require(lpaRounds >= 1 && lpaRounds <= 64,
      s"lpaRounds must be in [1, 64], got $lpaRounds")
    require(moveRounds >= 1 && moveRounds <= 32,
      s"moveRounds must be in [1, 32], got $moveRounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val half = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where($"a".isNotNull && $"b".isNotNull && $"a" =!= $"b")
    val symRaw = half.union(half.select($"b".as("a"), $"a".as("b"))).distinct()
    Gate.collectAtMost(symRaw.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, String)].toDF("node", "community")
        val canon = capped.filter { case (a, b) => utf8Lt(a, b) }
        var labArr = localLpa(capped, lpaRounds)
        for (_ <- 1 to moveRounds) labArr = localMoveStep(canon, labArr)
        return spark.createDataFrame(labArr.toIndexedSeq)
          .toDF("node", "community")
      case None => // over the cap: distributed tier
    }
    louvain(edges, srcCol, dstCol,
      labelPropagation(edges, srcCol, dstCol, lpaRounds, maxLocalEdges = 0L),
      moveRounds, maxLocalEdges = 0L)
  }

  /** Multi-round synchronous Louvain refinement (VERDICT r7 item 6): start
    * from `labels` and apply [[modularityMoveStep]] exactly `rounds` times,
    * each round re-evaluating every node against the partition the previous
    * round produced. Deterministic (synchronous argmax, integer ΔQ, fixed
    * tie-breaks), so a fixed round count is a well-defined partial fixpoint
    * an unrolled-CTE oracle replays exactly — the LPA/KCore parity trick.
    * Modularity is non-decreasing per round in the sequential-move sense is
    * NOT guaranteed for synchronous simultaneous moves; what IS pinned
    * (spec + oracle) is the exact partition sequence.
    */
  def louvain(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, rounds: Int,
      maxLocalEdges: Long = 5000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1, 32], got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    // gate ONCE and replay all rounds over the same collected edge list —
    // calling the single-step gate per round would re-collect the edges
    // `rounds` times
    val eRaw = edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .where($"x".isNotNull && $"y".isNotNull && $"x" =!= $"y")
      .distinct()
    Gate.collectAtMost(eRaw.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, String)].toDF("node", "community")
        var labArr = labels.select(col("node").cast("string"),
          col("community").cast("string")).as[(String, String)].collect()
        for (_ <- 1 to rounds) labArr = localMoveStep(capped, labArr)
        return spark.createDataFrame(labArr.toIndexedSeq)
          .toDF("node", "community")
      case None => // over the cap: distributed tier
    }
    var lab = labels
    for (i <- 1 to rounds) {
      // gate already failed once — skip re-probing inside each step, and
      // cut lineage between rounds (the fixpoint-loop hygiene)
      lab = modularityMoveStep(edges, srcCol, dstCol, lab, maxLocalEdges = 0L)
      if (i < rounds) lab = lab.localCheckpoint(true)
    }
    lab
  }

  /** Leiden-STYLE refinement — the well-connectedness audit Louvain lacks
    * (Traag et al. 2019's motivating defect: Louvain communities can be
    * internally DISCONNECTED or bridge-thin, and nothing in the move
    * phase ever detects it). Refinement here re-partitions each coarse
    * community FROM SINGLETONS using only its INTRA-community edges:
    *
    *   1. coarse partition P = [[lpaLouvain]] (LPA init + synchronous
    *      move rounds — the q_louvain recipe);
    *   2. the intra-community SUBGRAPH: edges whose endpoints share a
    *      P-label (cross-community edges drop — refinement must not see
    *      them, that is what confines refined labels inside P);
    *   3. `refineRounds` synchronous [[modularityMoveStep]] rounds on
    *      that subgraph seeded from singletons (via [[louvain]], which
    *      brings the one-collect local-replay gate for free);
    *   4. nodes with no intra-community edge keep themselves as their
    *      refined label.
    *
    * A coarse community emerging with MORE THAN ONE refined label is
    * badly connected — its parts hold together only through other
    * communities — exactly the condition Leiden's refinement phase
    * repairs. Deviation from the paper, deliberate and documented: gains
    * are the SUBGRAPH's own exact-integer modularity (its m and degrees),
    * moves are synchronous with the repo's fixed tie-breaks, and there is
    * no randomized aggregation — every stage is deterministic, so the
    * unrolled-CTE oracle replays the partition sequence exactly (the
    * lpaLouvain discipline; true Leiden's randomized refinement cannot be
    * oracled at all). Refined labels never cross coarse boundaries by
    * construction (spec-pinned).
    *
    * Output: (node, community, refined), one row per labeled node.
    */
  def leidenRefine(edges: DataFrame, srcCol: String, dstCol: String,
      lpaRounds: Int = 4, moveRounds: Int = 2, refineRounds: Int = 2,
      maxLocalEdges: Long = 5000000L): DataFrame = {
    // bounds validated BEFORE the gate branch (ADVICE r10): the
    // distributed fall-through hits lpaLouvain/louvain requires anyway,
    // but the local fast path used to skip them — so e.g. moveRounds=0
    // silently "succeeded" on small graphs and threw once the edge count
    // crossed the cap; argument validity must not depend on input size
    require(lpaRounds >= 1 && lpaRounds <= 64,
      s"lpaRounds must be in [1, 64], got $lpaRounds")
    require(moveRounds >= 1 && moveRounds <= 32,
      s"moveRounds must be in [1, 32], got $moveRounds")
    require(refineRounds >= 1 && refineRounds <= 32,
      s"refineRounds must be in [1, 32], got $refineRounds")
    val spark = edges.sparkSession
    import spark.implicits._
    // Integrated local replay (the lpaLouvain/louvainHier gate): ONE
    // capped collect runs coarse LPA+moves, the intra filter, and the
    // singleton-seeded refine rounds in memory — composing the gated
    // operators would collect the edge list three times
    val half = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where($"a".isNotNull && $"b".isNotNull && $"a" =!= $"b")
    val symRaw = half.union(half.select($"b".as("a"), $"a".as("b"))).distinct()
    Gate.collectAtMost(symRaw.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        if (capped.isEmpty)
          return spark.emptyDataset[(String, String, String)]
            .toDF("node", "community", "refined")
        val canon = capped.filter { case (a, b) => utf8Lt(a, b) }
        var labArr = localLpa(capped, lpaRounds)
        for (_ <- 1 to moveRounds) labArr = localMoveStep(canon, labArr)
        val lab = labArr.toMap
        val intraCanon = canon.filter { case (a, b) =>
          lab.get(a).exists(ca => lab.get(b).contains(ca)) }
        var ref = intraCanon.flatMap(e => Seq(e._1, e._2)).distinct
          .map(n => (n, n))
        for (_ <- 1 to refineRounds) ref = localMoveStep(intraCanon, ref)
        val refMap = ref.toMap
        return spark.createDataFrame(
            labArr.map { case (n, c) => (n, c, refMap.getOrElse(n, n)) }
              .toIndexedSeq)
          .toDF("node", "community", "refined")
      case None => // over the cap: distributed tier
    }
    val coarse = lpaLouvain(edges, srcCol, dstCol, lpaRounds, moveRounds,
        maxLocalEdges = 0L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = edges.select(least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .where($"x".isNotNull && $"y".isNotNull && $"x" =!= $"y")
      .distinct()
    val intra = e
      .join(coarse.select($"node".as("x"), $"community".as("__ca")), "x")
      .join(coarse.select($"node".as("y"), $"community".as("__cb")), "y")
      .where($"__ca" === $"__cb").select("x", "y")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val singles = intra.select($"x".as("node"))
      .union(intra.select($"y".as("node"))).distinct()
      .select($"node", $"node".as("community"))
    val refined = louvain(intra, "x", "y", singles, refineRounds,
      maxLocalEdges = 0L)
    coarse
      .join(refined.select($"node", $"community".as("__r")), Seq("node"),
        "left")
      .select($"node", $"community",
        coalesce($"__r", $"node").as("refined"))
  }

  /** Multi-level Louvain with ONE contraction level (VERDICT r8 item 5):
    * real Louvain alternates node-move rounds with contracting each
    * community into a supernode and moving supernodes. Here:
    *
    *   1. level 0: [[lpaLouvain]] (LPA init + `moveRounds` synchronous
    *      move rounds) → partition P0;
    *   2. contract: community graph with one super-edge per unordered
    *      community pair, weight = # original edges between them (a
    *      groupBy on label pairs — internal edges drop: they are
    *      invariant under whole-community moves);
    *   3. `hierMoveRounds` weighted move rounds
    *      ([[modularityMoveStepWeighted]]) on the contracted graph,
    *      every supernode starting as its own community;
    *   4. project back: node → its supernode's new community (isolated
    *      supernodes keep their own label);
    *   5. GUARDED acceptance: the projected partition is adopted only if
    *      its EXACT integer-scaled modularity on the ORIGINAL graph,
    *      Q·4m² = 4m·intra − Σ_c d_c², does not decrease — synchronous
    *      simultaneous supernode moves can swap two communities into each
    *      other and lower Q, and the guard turns "usually improves" into
    *      a by-construction non-decrease (spec'd by property test).
    *
    * Everything is deterministic and oracle-replayable: the guard is one
    * integer comparison between two 1-row aggregates (Long-exact while
    * 4m·intra < 2⁶³, i.e. m below ~1.5·10⁹ edges — document-loud, not
    * silently wrapped, at the scales where the driver queries run).
    * Output: (node, community).
    */
  def louvainHier(edges: DataFrame, srcCol: String, dstCol: String,
      lpaRounds: Int, moveRounds: Int, hierMoveRounds: Int = 1,
      maxLocalEdges: Long = 5000000L, levels: Int = 1): DataFrame = {
    require(hierMoveRounds >= 1 && hierMoveRounds <= 8,
      s"hierMoveRounds must be in [1, 8], got $hierMoveRounds")
    require(levels >= 1 && levels <= 8,
      s"levels must be in [1, 8], got $levels")
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(
        least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .where($"x".isNotNull && $"y".isNotNull && $"x" =!= $"y")
      .distinct()
      .localCheckpoint(true) // reused: level 0, contractions, all Q evals
    // WHOLE-PIPELINE local gate against e0 DIRECTLY: e0 is already the
    // canonical distinct (x<y) list, so the symmetric list is
    // arr ++ arr.swapped — going through lpaLouvain would rebuild
    // union+distinct over e0 (a full extra shuffle) and collect 2× the
    // rows. Gate at maxLocalEdges/2 canonical edges ≡ lpaLouvain's
    // maxLocalEdges symmetric rows, so the switch point is unchanged.
    // Below the gate EVERY stage replays locally — LPA, moves,
    // contraction, weighted moves, guarded acceptance — one collect and
    // zero further Spark jobs instead of ~15 small ones (r10: the
    // distributed level machinery alone held q_louvain_hier at ~4.7 s on
    // a graph that fits in memory; job-count-bound, not data-bound).
    // Above the gate the distributed forms run unchanged.
    // persist e0 ACROSS the gate probe: the probe's limit-collect fully
    // evaluates the co-order distinct either way, and without the cache
    // the distributed branch's checkpoint re-derived it from the raw
    // scan a second time (r10 ×64 probe: q_louvain_hier 243 s vs r9's
    // 89 s — one whole extra e0 evaluation plus the failed 2.5M-row
    // fetch). Local branch: the collected array IS the data. Both
    // branches unpersist as soon as their copy is materialized.
    val e0p = e0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Gate.collectAtMost(e0p.as[(String, String)], maxLocalEdges / 2) match {
      case Some(arr) =>
        e0p.unpersist(blocking = false)
        if (arr.isEmpty)
          return spark.emptyDataset[(String, String)].toDF("node", "community")
        val sym = arr ++ arr.map { case (a, b) => (b, a) }
        var labArr = localLpa(sym, lpaRounds)
        for (_ <- 1 to moveRounds) labArr = localMoveStep(arr, labArr)
        for (_ <- 1 to levels)
          labArr = localContractMoveProject(arr, labArr, hierMoveRounds)
        return spark.createDataFrame(labArr.toIndexedSeq)
          .toDF("node", "community")
      case None => // over the cap: distributed tier
    }
    val e0c = e0p.localCheckpoint(true) // distributed: reused by all levels
    e0p.unpersist(blocking = false)
    var p = lpaLouvain(e0c, "x", "y", lpaRounds, moveRounds, maxLocalEdges)
      .localCheckpoint(true)
    for (i <- 1 to levels) {
      p = contractMoveProject(e0c, p, hierMoveRounds, maxLocalEdges)
      if (i < levels) p = p.localCheckpoint(true)
    }
    p
  }

  /** Driver-side replay of [[contractMoveProject]] — contraction,
    * `hierMoveRounds` weighted supernode moves ([[localMoveStepWeighted]],
    * the parity-spec'd twin of the distributed step), projection, and the
    * exact integer Q·4m² guarded acceptance — over the already-collected
    * canonical edge list. Semantics identical stage-for-stage: contracted
    * keys utf8-ordered (≡ least/greatest), isolated supernodes keep their
    * label, acceptance is non-strict (>=) on the original graph. */
  private def localContractMoveProject(canon: Array[(String, String)],
      lab: Array[(String, String)], hierMoveRounds: Int): Array[(String, String)] = {
    val labMap = scala.collection.mutable.HashMap(lab: _*)
    val wMap = scala.collection.mutable.HashMap.empty[(String, String), Long]
    canon.foreach { case (x, y) =>
      val cx = labMap(x); val cy = labMap(y)
      if (cx != cy) {
        val key = if (utf8Lt(cx, cy)) (cx, cy) else (cy, cx)
        wMap.update(key, wMap.getOrElse(key, 0L) + 1L)
      }
    }
    val ce = wMap.iterator.map { case ((a, b), w) => (a, b, w) }.toArray
    var sl: Array[(String, String)] = lab.map(_._2).distinct.map(c => (c, c))
    for (_ <- 1 to hierMoveRounds) sl = localMoveStepWeighted(ce, sl)
    val slMap = sl.toMap
    val p1 = lab.map { case (n, c) => (n, slMap.getOrElse(c, c)) }
    val m = canon.length.toLong
    val degs = scala.collection.mutable.HashMap.empty[String, Long]
    canon.foreach { case (x, y) =>
      degs.update(x, degs.getOrElse(x, 0L) + 1L)
      degs.update(y, degs.getOrElse(y, 0L) + 1L)
    }
    def q4m2(lm: scala.collection.Map[String, String]): Long = {
      var intra = 0L
      canon.foreach { case (x, y) => if (lm(x) == lm(y)) intra += 1L }
      val dc = scala.collection.mutable.HashMap.empty[String, Long]
      degs.foreach { case (v, d) =>
        val c = lm(v); dc.update(c, dc.getOrElse(c, 0L) + d)
      }
      var s = 0L
      dc.values.foreach(d => s += d * d)
      4L * m * intra - s
    }
    if (q4m2(scala.collection.mutable.HashMap(p1: _*)) >= q4m2(labMap)) p1
    else lab
  }

  /** One Louvain contraction level with guarded acceptance: contract the
    * partition's communities into a weighted supernode graph, run
    * `hierMoveRounds` weighted move rounds on it, project back, and keep
    * the projection only if the exact integer modularity
    * Q·4m² = 4m·intra − Σ d_c² on the ORIGINAL edge list does not
    * decrease. `e0` must be the canonical distinct edge list (x < y).
    */
  private def contractMoveProject(e0: DataFrame, p0: DataFrame,
      hierMoveRounds: Int, maxLocalEdges: Long): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val ce = e0
      .join(p0.select($"node".as("x"), $"community".as("cx")), "x")
      .join(p0.select($"node".as("y"), $"community".as("cy")), "y")
      .where($"cx" =!= $"cy")
      .select(least($"cx", $"cy").as("sx"), greatest($"cx", $"cy").as("sy"))
      .groupBy("sx", "sy").agg(count(lit(1)).as("w"))
    var sl = p0.select($"community".as("node")).distinct()
      .select($"node", $"node".as("community"))
    for (_ <- 1 to hierMoveRounds)
      sl = modularityMoveStepWeighted(ce, "sx", "sy", "w", sl, maxLocalEdges)
    // isolated supernodes are absent from the move output (inner joins
    // against the contracted edge list) and keep their own label
    val p1 = p0
      .join(sl.select($"node".as("community"), $"community".as("c1")),
        Seq("community"), "left")
      .select($"node", coalesce($"c1", $"community").as("community"))
      .localCheckpoint(true)
    // Q·4m² of BOTH partitions in one pass over e0: label each endpoint
    // with (incoming, projected) at once — one edge-table join pair and
    // one degree join instead of two of each (bench: q_louvain_hier is
    // job-count-bound, not data-bound)
    // lazy on purpose: p0/p1 are already checkpointed, and an eager
    // checkpoint here would serialize an extra barrier job into the
    // plan (measured slower than re-deriving these small joins)
    val both = p0.select($"node", $"community".as("c0"))
      .join(p1.select($"node", $"community".as("c1")), "node")
    val im = e0
      .join(both.select($"node".as("x"), $"c0".as("cx0"), $"c1".as("cx1")),
        "x")
      .join(both.select($"node".as("y"), $"c0".as("cy0"), $"c1".as("cy1")),
        "y")
      .agg(
        coalesce(sum(when($"cx0" === $"cy0", 1L).otherwise(0L)), lit(0L))
          .as("intra0"),
        coalesce(sum(when($"cx1" === $"cy1", 1L).otherwise(0L)), lit(0L))
          .as("intra1"),
        count(lit(1)).as("m"))
    val degs = e0.select($"x".as("v")).union(e0.select($"y".as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .join(both.withColumnRenamed("node", "v"), "v")
    // both Σ_c d_c² sums in ONE tree: explode each node's degree into a
    // (side, community) row per partition — two separate groupBy trees
    // would each re-evaluate the degs subtree (job-count again)
    val dc2 = degs
      .select($"d", explode(array(
        struct(lit(0).as("side"), $"c0".as("c")),
        struct(lit(1).as("side"), $"c1".as("c")))).as("sc"))
      .groupBy($"sc.side".as("side"), $"sc.c".as("c"))
      .agg(sum($"d").as("d_c"))
      .groupBy($"side").agg(sum($"d_c" * $"d_c").as("s"))
      .agg(
        coalesce(sum(when($"side" === 0, $"s")), lit(0L)).as("sum_dc2_0"),
        coalesce(sum(when($"side" === 1, $"s")), lit(0L)).as("sum_dc2_1"))
    // the acceptance decision is ONE boolean — a 1-row collect (the
    // repo's allowed driver-side shape) and a direct branch beats the
    // old lazy crossJoin+union, whose two .where(take1/!take1) branches
    // each re-evaluated the flag subtree on every consumer action
    // (r10: q_louvain_hier regressed to 6.2 s when the final checkpoint
    // stopped hiding that double evaluation)
    val take1 = im.crossJoin(dc2)
      .select((lit(4L) * $"m" * $"intra1" - $"sum_dc2_1" >=
        lit(4L) * $"m" * $"intra0" - $"sum_dc2_0").as("take1"))
      .head().getBoolean(0)
    if (take1) p1 else p0
  }

  /** Semi-supervised label SPREADING (Zhu & Ghahramani 2002 shape): a
    * small seed set carries known labels; every other node adopts, each
    * synchronous round, the most frequent label among its CURRENTLY
    * LABELED neighbors (ties to the smallest label — the [[labelPropagation]]
    * min-struct rule). Seeds are clamped: they never change, which is
    * what separates spreading from community LPA. Nodes not reached
    * within `rounds` hops of any seed stay unlabeled and are absent from
    * the output.
    *
    * Shape per round: one label-keyed join of the symmetric edge list
    * against the labeled set + one majority aggregate (min-struct, no
    * window) + the clamp union — pure shuffle algebra, label state
    * localCheckpointed every other round.
    *
    * `seeds`: (node, label) — must be unique per node. Output:
    * (node, label) for every labeled node after `rounds` rounds.
    */
  def labelSpreading(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, rounds: Int,
      maxLocalEdges: Long = 5000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val half = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where($"a".isNotNull && $"b".isNotNull && $"a" =!= $"b")
    val symRaw = half.union(half.select($"b".as("a"), $"a".as("b"))).distinct()

    // same gated local replay as [[labelPropagation]]: clamped seeds,
    // majority-of-labeled-neighbors, min-label tie-break in UTF8-byte
    // order, node drops back out when no neighbor is labeled this round —
    // round-for-round identical to the shuffle loop (parity-spec'd)
    Gate.collectAtMost(symRaw.as[(String, String)], maxLocalEdges) match {
      case Some(capped) =>
        val seedArr = seeds.select(col("node").cast("string"),
          col("label").cast("string")).as[(String, String)].collect()
        return spark.createDataFrame(
            localSpread(capped, seedArr, rounds).toIndexedSeq)
          .toDF("node", "label")
      case None => // over the cap: fall through to the distributed loop
    }

    val sym = symRaw
      .localCheckpoint(true)
    val seed = seeds.select(col("node"), col("label").as("lab"))
      .localCheckpoint(true)
    var lab = seed
    for (i <- 1 to rounds) {
      val cnt = sym
        .join(lab.select($"node".as("b"), $"lab".as("nlab")), "b")
        .groupBy($"a", $"nlab").agg(count(lit(1)).as("c"))
      val majority = cnt.groupBy($"a")
        .agg(min(struct((lit(0L) - $"c").as("nc"), $"nlab".as("lab"))).as("m"))
        .select($"a".as("node"), $"m.lab".as("lab"))
      val next = seed.union(
        majority.join(seed.select($"node"), Seq("node"), "left_anti"))
      lab = if (i % 2 == 0 || i == rounds) next.localCheckpoint(true) else next
    }
    lab.withColumnRenamed("lab", "label")
  }

  /** In-memory replay of the EXACT clamped spreading rounds. Seeds keep
    * their label unconditionally (including seeds naming nodes absent
    * from the edge list — the distributed union keeps them too); a
    * non-seed node holds a label only while it has >= 1 labeled neighbor
    * in the current round.
    */
  private def localSpread(sym: Array[(String, String)],
      seedArr: Array[(String, String)], rounds: Int): Array[(String, String)] = {
    val names = {
      val s = new scala.collection.mutable.LinkedHashSet[String]
      sym.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val idOf = names.zipWithIndex.toMap
    val n = names.length
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
    val seedLabel = seedArr.toMap
    var lab = Array.tabulate(n)(v => seedLabel.getOrElse(names(v), null))
    var r = 0
    while (r < rounds) {
      val next = new Array[String](n)
      val cnt = new scala.collection.mutable.HashMap[String, Int]
      var v = 0
      while (v < n) {
        val sl = seedLabel.get(names(v))
        if (sl.isDefined) next(v) = sl.get
        else {
          cnt.clear()
          var j = off(v)
          while (j < off(v + 1)) {
            val l = lab(nbr(j))
            if (l != null) cnt.update(l, cnt.getOrElse(l, 0) + 1)
            j += 1
          }
          var bestLab: String = null
          var bestCnt = -1
          cnt.foreach { case (l, c) =>
            if (c > bestCnt || (c == bestCnt && utf8Lt(l, bestLab)))
              { bestLab = l; bestCnt = c }
          }
          next(v) = bestLab // null when no labeled neighbor this round
        }
        v += 1
      }
      lab = next
      r += 1
    }
    val offGraphSeeds = seedArr.filter { case (node, _) => !idOf.contains(node) }
    val onGraph = (0 until n).iterator
      .filter(v => lab(v) != null)
      .map(v => (names(v), lab(v))).toArray
    onGraph ++ offGraphSeeds
  }
}

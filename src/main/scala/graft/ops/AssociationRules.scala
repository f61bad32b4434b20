package graft.ops

import graft.core.{Gate, Ingest, Utf8Order}
import graft.functions.TopKStrBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Pairwise co-occurrence association mining, reference-parity.
  *
  * Semantics reproduced from
  * reference: src/association_rule_graph_mining.rs:16-288 (see SURVEY.md
  * §2.2.6), including its quirks:
  *
  *   - support_count = Σ frequency (weighted) / row count (unweighted) over
  *     ALL rows of the item (rs:37-41); valid iff
  *     support_count / countDistinct(tid) >= minSupport (rs:44-55).
  *   - transactions with more than maxItemsetSize rows are skipped for the
  *     pairing pass only; their rows still count toward support (rs:65-68).
  *   - ordered row-level pairs (antecedent row, consequent row) with
  *     different item ids, both items valid (rs:70-91); duplicates
  *     accumulate once per co-occurring row pair.
  *   - confidence: weighted = freq_a * freq_c / support_count(a) (rs:77-78);
  *     unweighted = support_count(a) / total_transactions — NOT a
  *     conditional probability, identical for every consequent (rs:79-81).
  *   - lift_score = Σ confidences of the item's kept associations
  *     (rs:104-112) — not statistical lift. Computed here as one division
  *     of an exact sum instead of a sum of divisions (deterministic across
  *     engines; differs from the reference only at ~1e-12).
  *   - pattern = 1-based id assigned by scanning items in id order and
  *     flood-filling directed reachability over kept associations
  *     (rs:114-135). The reachable item-graph is min-support-bounded, so it
  *     is collected to the driver and partitioned exactly.
  *   - consequents/confidence_scores = top 5 by confidence descending
  *     (rs:259-266). The reference's tie order is unstable (HashMap
  *     iteration); we deterministically break ties by consequent name
  *     ascending — documented deviation.
  *
  * Two tiers, gated on the pair-volume bound nRows · (maxItemsetSize − 1)
  * (see [[Params.eagerMaterializePairVolume]]): within
  * min(5M, eagerMaterializePairVolume) the non-null rows are collected
  * once (a capped `limit`) and the whole single pass above runs on the
  * driver; beyond it everything stays distributed shuffle SQL.
  *
  * Output columns: item, support, lift_score, pattern, consequents,
  * confidence_scores — one row per valid item, in item-id order.
  */
object AssociationRules {

  /** @param firstAppearanceOrder item ids by first appearance (reference
    *   parity; row-order dependent, exact on single-partition input). When
    *   false, item ids are assigned lexicographically — order-insensitive,
    *   the mode every distributed query should use.
    * @param includePattern compute the `pattern` column. Callers that never
    *   read `pattern` (the weighted top-5 queries) should pass false: the
    *   column is emitted as the 0 sentinel and NO pattern-graph work runs.
    *   Spark plans are declared eagerly, so "lazy when consumed" is
    *   expressed as this explicit opt-out rather than plan introspection.
    * @param maxPatternEdges driver-memory gate for the reference-parity
    *   pattern DFS (the one deliberately non-distributed step of the
    *   distributed tier): the DFS collects the distinct kept (antecedent,
    *   consequent) pairs, bounded only by (valid items)² — at a low
    *   minSupport on cluster-scale data that is a silent driver OOM
    *   without this cap. Enforced on both tiers. The symmetric unweighted
    *   case (minConfidence <= minSupport) never hits the cap: it routes
    *   through connected components instead.
    */
  case class Params(
      minSupport: Double = 0.01,
      minConfidence: Double = 0.1,
      maxItemsetSize: Int = 50,
      weighted: Boolean = false,
      firstAppearanceOrder: Boolean = true,
      includePattern: Boolean = true,
      maxPatternEdges: Int = 2_000_000,
      /** Pair-volume gate for the eager `kept` materialization (VERDICT
        * r10 item 4; re-keyed per ADVICE r11): above it, one count()
        * action writes the kept-pair cache while `rows` is still
        * persisted — the fix for the 38× recompute fan-out the r10 probe
        * measured at ×16; below it, the caller's single action computes
        * the plan lazily (the r9 shape — re-deriving a small scan per
        * subtree costs less than an extra cache-write pass over the wide
        * pair table, which is where q_assoc_weighted's 4× sf0.1
        * regression came from). The gate compares against an UPPER BOUND
        * on the exploded pair volume — nRows · (maxItemsetSize − 1),
        * valid because transactions larger than maxItemsetSize are
        * excluded by txOk, so each row pairs with < maxItemsetSize
        * others — rather than raw input rows: the cost being prevented
        * scales with pair fan-out, and a small input with big (but
        * still admitted) transactions hits the blowup long before 5M
        * raw rows. 250M = the old 5M-row gate at the default
        * maxItemsetSize = 50, so default behavior is unchanged.
        *
        * The same bound also caps the driver-local tier: it runs when the
        * non-null rows satisfy nRows · (maxItemsetSize − 1) ≤
        * min(5M, eagerMaterializePairVolume). 0 forces the distributed
        * tier. */
      eagerMaterializePairVolume: Long = 250_000_000L)

  def graphAssociationRules(
      df: DataFrame,
      tidCol: String,
      itemCol: String,
      freqCol: Option[String] = None,
      params: Params = Params()): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val projected = freqCol match {
      case Some(f) => df.select(
        col(tidCol).cast("long").as("tid"),
        col(itemCol).cast("string").as("item"),
        col(f).cast("double").as("freq"))
      case None => df.select(
        col(tidCol).cast("long").as("tid"),
        col(itemCol).cast("string").as("item"),
        lit(1.0).as("freq"))
    }
    val nonNull = $"tid".isNotNull && $"item".isNotNull && $"freq".isNotNull

    // Driver-local tier: one capped collect of the non-null rows. Its
    // order is the `_rid` (partition) order, so first-appearance ids need
    // no row index; over the cap, fall through to the distributed plan.
    val rowCap = math.min(LocalPairVolume, params.eagerMaterializePairVolume) /
      math.max(1L, params.maxItemsetSize.toLong - 1L)
    Gate.collectAtMost(projected.where(nonNull).as[(Long, String, Double)], rowCap) match {
      case Some(capped) =>
        return localRules(spark, capped, projected.schema("item").nullable, params)
      case None => // over the cap: distributed tier
    }

    val ordered =
      if (params.firstAppearanceOrder) Ingest.withRowIdx(projected, "_rid")
      else projected.withColumn("_rid", lit(0L))
    val rows = ordered
      .where(nonNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // count-probe on the RAW input (it sizes a gate, nothing is collected),
      // not the cached projection: a bare count() over the source scans
      // zero columns (parquet row-group counts), ~free, while counting
      // `rows` would pay a full cache-write pass the lazy small-scale
      // path deliberately avoids. Null rows only inflate the probe —
      // an upper bound is exactly what a gate wants.
      val nRows = df.count()
      val totals = rows.agg(countDistinct($"tid").cast("double").as("total_tx"))

      val supp = rows.groupBy($"item")
        .agg(sum($"freq").as("wsupp"), count(lit(1)).as("cnt"), min($"_rid").as("first_rid"))
        .crossJoin(broadcast(totals))
        .withColumn("support_count",
          if (params.weighted) $"wsupp" else $"cnt".cast("double"))
      // validItems/kept feed multiple downstream joins AND the returned
      // lazy plan, so they stay persisted past this call (LRU-evicted);
      // only `rows` — consumed entirely within this method — is unpersisted
      val validItems = supp
        .where($"support_count" / $"total_tx" >= lit(params.minSupport))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // pairing pass input: rows of valid items inside small-enough transactions
      val txOk = rows.groupBy($"tid").agg(count(lit(1)).as("tx_n"))
        .where($"tx_n" <= params.maxItemsetSize).select($"tid")
      val vrows = rows
        .join(validItems.select($"item"), Seq("item"), "left_semi")
        .join(txOk, Seq("tid"), "left_semi")

      val pairs = vrows.select($"tid", $"item".as("antecedent"), $"freq".as("freq_a"))
        .join(vrows.select($"tid", $"item".as("consequent"), $"freq".as("freq_c")), Seq("tid"))
        .where($"antecedent" =!= $"consequent")
        .join(validItems.select(
            $"item".as("antecedent"),
            $"support_count".as("supp_a"),
            $"total_tx"),
          Seq("antecedent"))
        .withColumn("confidence",
          if (params.weighted) $"freq_a" * $"freq_c" / $"supp_a"
          else $"supp_a" / $"total_tx")
      val kept = pairs.where($"confidence" >= lit(params.minConfidence))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // MATERIALIZE kept (and, on its lineage, validItems/totals) while
      // `rows` is still cached: everything here is lazy, so without this
      // the finally-unpersist below emptied the rows cache before the
      // caller's first action, which then re-derived the raw scan once
      // per downstream subtree — the r10 full-gate probe measured
      // q_assoc at 38× linear (89 s) on 16× data from exactly that
      // recompute fan-out. GATED (VERDICT r10 item 4) on the pair-volume
      // upper bound nRows·(maxItemsetSize−1) (ADVICE r11): below it the
      // recompute being prevented is a few re-scans of a small
      // cached/parquet input — cheaper than the extra cache-write pass
      // over the wide pair table that this count forces
      // (q_assoc_weighted paid 4× at sf0.1 for it); above it the
      // fan-out dominates and the one count() action is the fix. After
      // it the returned plan reads only the two persisted tables.
      val pairVolumeBound =
        nRows * math.max(1L, params.maxItemsetSize.toLong - 1L)
      if (pairVolumeBound > params.eagerMaterializePairVolume) kept.count()

      // lift: exact numerator summed first, single final division
      val lift = (
        if (params.weighted)
          kept.groupBy($"antecedent")
            .agg((sum($"freq_a" * $"freq_c") / first($"supp_a")).as("lift_score"))
        else
          kept.groupBy($"antecedent")
            .agg((count(lit(1)) * first($"supp_a") / first($"total_tx")).as("lift_score"))
      )

      // top-5 consequents per antecedent (confidence desc, consequent asc,
      // duplicate pairs keep their multiplicity — reference semantics,
      // src/association_rule_graph_mining.rs:259-266) via the 5-slot hash
      // aggregate: no window sort of the full kept-pair table, and the
      // buffer's duplicate handling matches row_number's ranking exactly
      val top5 = kept
        .groupBy($"antecedent")
        .agg(graft.functions.TopKByAgg.top_k_by_str(
          $"confidence", $"consequent", 5).as("arr"))
        .select($"antecedent",
          expr("transform(arr, x -> x.payload)").as("consequents"),
          expr("transform(arr, x -> x.score)").as("confidence_scores"))

      // Pattern routing: symmetric unweighted case → distributed CC (no
      // driver state at any scale); general directed case → reference-parity
      // driver DFS behind the maxPatternEdges gate; opted-out → 0 sentinel,
      // zero extra jobs.
      val patterned =
        if (!params.includePattern)
          validItems.select($"item", lit(0).as("pattern"))
        else if (symmetric(params)) patternIdsViaComponents(spark, validItems, kept)
        else broadcast(patternIds(spark, validItems, kept, params.maxPatternEdges))

      val orderCol = if (params.firstAppearanceOrder) $"first_rid" else $"item"
      validItems
        .join(lift.withColumnRenamed("antecedent", "item"), Seq("item"), "left")
        .join(top5.withColumnRenamed("antecedent", "item"), Seq("item"), "left")
        .join(patterned, Seq("item"), "left")
        .select(
          $"item",
          $"support_count".as("support"),
          coalesce($"lift_score", lit(0.0)).as("lift_score"),
          coalesce($"pattern", lit(0)).as("pattern"),
          coalesce($"consequents", array().cast("array<string>")).as("consequents"),
          coalesce($"confidence_scores", array().cast("array<double>")).as("confidence_scores"),
          orderCol.as("_ord"))
        .orderBy($"_ord")
        .drop("_ord")
    } finally rows.unpersist()
  }

  /** Unweighted with minConfidence <= minSupport: every co-occurring valid
    * pair is kept in both directions, so patterns are undirected
    * components. */
  private def symmetric(p: Params): Boolean = !p.weighted && p.minConfidence <= p.minSupport

  /** Fully distributed pattern numbering for the symmetric case
    * (unweighted, minConfidence <= minSupport): every co-occurring valid
    * pair is kept in BOTH directions, so directed flood-fill reachability
    * collapses to undirected connected components. The reference's DFS
    * numbers each component when its earliest item (by scan order) is
    * first visited, so pattern = 1-based dense rank of the component's
    * minimum (first_rid, item) key. The rank window runs over one row per
    * valid item — the same cardinality the caller's final orderBy already
    * sorts — with no driver collect anywhere.
    */
  private def patternIdsViaComponents(
      spark: SparkSession, validItems: DataFrame, kept: DataFrame): DataFrame = {
    import spark.implicits._
    val comp = ConnectedComponents.components(
      kept.select($"antecedent".as("src"), $"consequent".as("dst")))
    val keyed = validItems.select($"item", $"first_rid")
      .join(comp.withColumnRenamed("node", "item"), Seq("item"), "left")
      // isolated valid items (no kept pair) are their own component
      .withColumn("component", coalesce($"component", $"item"))
    // (first_rid, item) keys are unique per component; rank them through
    // the range-partition + zipWithIndex machinery instead of an
    // unpartitioned window over the one-row-per-component table
    // (VERDICT r8 item 1)
    val compKey = Ranks.globalRowNumber(
      keyed.groupBy($"component")
        .agg(min($"first_rid").as("__fr"),
          min(struct($"first_rid", $"item")).as("ck"))
        .select($"component", $"__fr", $"ck.item".as("__it")),
      Seq("__fr", "__it"), "__grn")
      .select($"component", $"__grn".cast("int").as("pattern"))
    keyed.join(compKey, "component").select($"item", $"pattern")
  }

  /** The distributed tier's pattern numbering for the directed case: the
    * valid items in scan order and the distinct kept pairs are collected
    * (the one deliberately non-distributed step, behind the loud
    * `maxPatternEdges` gate: the distinct kept-pair set is bounded only by
    * (valid items)², and an ungated collect at a low minSupport on
    * cluster-scale data is a silent driver OOM), then [[dfsPatterns]].
    */
  private def patternIds(
      spark: SparkSession, validItems: DataFrame, kept: DataFrame,
      maxPatternEdges: Int): DataFrame = {
    import spark.implicits._
    val items: Array[String] = validItems
      .select($"item", $"first_rid").orderBy($"first_rid", $"item")
      .select($"item").as[String].collect()
    val edges = Gate.collectAtMost(
      kept.select($"antecedent", $"consequent").distinct().as[(String, String)],
      maxPatternEdges)
    requirePatternEdges(edges.isDefined, maxPatternEdges)
    dfsPatterns(items, edges.get).toSeq.toDF("item", "pattern")
  }

  /** Both tiers' loud gate. `within`: the cap is ≥ 1 and there are at
    * most `maxPatternEdges` distinct kept pairs (see [[Gate]]). */
  private def requirePatternEdges(within: Boolean, maxPatternEdges: Int): Unit =
    require(within,
      s"association pattern graph exceeds maxPatternEdges=$maxPatternEdges " +
        "distinct kept pairs; raise Params.maxPatternEdges (driver memory " +
        "permitting), raise minSupport/minConfidence, or use the symmetric " +
        "unweighted mode (minConfidence <= minSupport) which computes " +
        "patterns via connected components")

  /** Exact replica of the reference's pattern DFS (rs:114-135): scan
    * `items` in id order; each unvisited item starts pattern n and floods
    * its directed reachability over `edges` (through unvisited items).
    * Each flood visits a reachability set, so adjacency order is
    * irrelevant and the numbering is a pure function of its inputs.
    */
  private def dfsPatterns(
      items: Seq[String], edges: Array[(String, String)]): mutable.LinkedHashMap[String, Int] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
    val patternOf = mutable.LinkedHashMap.empty[String, Int]
    var next = 1
    for (start <- items) {
      if (!patternOf.contains(start)) {
        val stack = mutable.Stack(start)
        while (stack.nonEmpty) {
          val it = stack.pop()
          if (!patternOf.contains(it)) {
            patternOf(it) = next
            adj.getOrElse(it, Array.empty).foreach { n =>
              if (!patternOf.contains(n)) stack.push(n)
            }
          }
        }
        next += 1
      }
    }
    patternOf
  }

  /** Pair-volume cap of the driver-local tier — the `maxLocalEdges`
    * default of [[ConnectedComponents.components]]: at most 5M pairs are
    * enumerated and 5M rows collected. */
  private val LocalPairVolume = 5_000_000L

  /** Spark SQL's double `>=` (SQLOrderingUtil.compareDoubles): -0.0 equals
    * 0.0, NaN equals NaN and ranks above every number. */
  private def sqlGe(a: Double, b: Double): Boolean =
    a == b || java.lang.Double.compare(a, b) >= 0

  /** The distributed tier's output schema: `item` keeps the input
    * column's nullability; support is a `sum` when weighted, a non-null
    * count cast otherwise. */
  private def outputSchema(itemNullable: Boolean, weighted: Boolean): StructType = StructType(Seq(
    StructField("item", StringType, nullable = itemNullable),
    StructField("support", DoubleType, nullable = weighted),
    StructField("lift_score", DoubleType, nullable = false),
    StructField("pattern", IntegerType, nullable = false),
    StructField("consequents", ArrayType(StringType, containsNull = true), nullable = false),
    StructField("confidence_scores", ArrayType(DoubleType, containsNull = true),
      nullable = false)))

  /** The driver-local tier: the reference's single pass over the collected
    * non-null (tid, item, freq) rows, in collect (= `_rid`) order, with
    * the distributed tier's semantics — support and validity over all
    * rows, `txOk` pairing exclusion, row-level ordered pairs with their
    * multiplicity, both confidence modes, lift as one division of the
    * summed numerator, top-5 through [[TopKStrBuffer]] (the
    * `top_k_by_str` order), and the same pattern numbering. Sums run in
    * row order; they equal the distributed sums exactly whenever those
    * are order-independent (integer-valued or dyadic frequencies).
    */
  private def localRules(spark: SparkSession, rows: Array[(Long, String, Double)],
      itemNullable: Boolean, params: Params): DataFrame = {
    val names = mutable.ArrayBuffer.empty[String]
    val idOf = mutable.HashMap.empty[String, Int]
    // item ids by first appearance = min(_rid) order
    val itemOf = rows.map { r => idOf.getOrElseUpdate(r._2, { names += r._2; names.length - 1 }) }
    val nItems = names.length
    val wsupp = new Array[Double](nItems)
    val cnt = new Array[Long](nItems)
    // rows per transaction: the `txOk` size, and countDistinct(tid)
    val txRows = mutable.LongMap.empty[Int]
    rows.indices.foreach { r =>
      wsupp(itemOf(r)) += rows(r)._3
      cnt(itemOf(r)) += 1
      txRows(rows(r)._1) = txRows.getOrElse(rows(r)._1, 0) + 1
    }
    val totalTx = txRows.size.toDouble
    val support = Array.tabulate(nItems)(i => if (params.weighted) wsupp(i) else cnt(i).toDouble)
    val valid = support.map(s => sqlGe(s / totalTx, params.minSupport))
    // pairing input (`vrows`): rows of valid items in small-enough transactions
    val byTx = rows.indices
      .filter(r => valid(itemOf(r)) && txRows(rows(r)._1) <= params.maxItemsetSize)
      .groupBy(rows(_)._1)

    // lift numerator: Σ freq_a·freq_c (weighted) or the kept count
    val liftNum = new Array[Double](nItems)
    val top = new Array[TopKStrBuffer](nItems) // null: no kept pair
    val payload = names.map(UTF8String.fromString)
    val edges = mutable.HashSet.empty[(Int, Int)]
    val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
    for (vr <- byTx.valuesIterator; i <- vr; j <- vr) {
      val a = itemOf(i)
      val c = itemOf(j)
      val sa = support(a)
      if (a != c && params.weighted && sa == 0.0) {
        // Spark's double `/` by zero: a null confidence (never kept), or
        // an error under ANSI mode
        if (ansi) throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero.")
      } else if (a != c) {
        val conf =
          if (params.weighted) rows(i)._3 * rows(j)._3 / sa else sa / totalTx
        if (sqlGe(conf, params.minConfidence)) {
          liftNum(a) += (if (params.weighted) rows(i)._3 * rows(j)._3 else 1.0)
          if (top(a) == null) top(a) = new TopKStrBuffer(5)
          top(a).insert(if (conf == 0.0) 0.0 else conf, payload(c)) // -0.0 → 0.0
          if (params.includePattern) edges += ((a, c))
        }
      }
    }

    // output order: first appearance, or item name (Spark's binary order)
    val ordered = {
      val v = (0 until nItems).filter(valid)
      if (params.firstAppearanceOrder) v else v.sortBy(names)(Utf8Order.ordering)
    }
    lazy val keptPairs = edges.iterator.map { case (a, c) => (names(a), names(c)) }.toArray
    val patternOf: Map[String, Int] =
      if (!params.includePattern) Map.empty
      else if (symmetric(params)) {
        // undirected components numbered by their minimal (first_rid, item)
        // member: the first member met in output order
        val label = ConnectedComponents.localUnionFind(keptPairs).toMap
        val number = mutable.HashMap.empty[String, Int]
        ordered.map { i =>
          val it = names(i)
          it -> number.getOrElseUpdate(label.getOrElse(it, it), number.size + 1)
        }.toMap
      } else {
        requirePatternEdges(params.maxPatternEdges > 0 &&
          edges.size <= params.maxPatternEdges, params.maxPatternEdges)
        dfsPatterns(ordered.map(names), keptPairs).toMap
      }

    val out = ordered.map { i =>
      val t = top(i)
      val k = if (t == null) 0 else t.n
      val lift =
        if (t == null) 0.0
        else if (params.weighted) liftNum(i) / support(i)
        else liftNum(i) * support(i) / totalTx
      Row(names(i), support(i), lift, patternOf.getOrElse(names(i), 0),
        (0 until k).map(j => t.payloads(j).toString),
        (0 until k).map(j => t.scores(j)))
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      outputSchema(itemNullable, params.weighted))
  }
}

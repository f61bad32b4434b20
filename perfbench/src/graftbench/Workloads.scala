package graftbench

import graft.ops._
import graft.queries.Tables
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One operator invocation inside a round. `call` is the public graft call
  * (the call phase); the frames it returns are digested in the result
  * phase. `key` names the input the call ran on: every call with the same
  * key must produce the same digest as that key's checked output. */
final case class Step(op: String, key: String, rows: Long, call: () => Seq[DataFrame])

/** Outcome of the post-run check of one key: the reference digests every
  * timed call on that key is compared against, or why the check failed. */
final case class KeyCheck(reference: Seq[Digest], failure: Option[String])

trait Workload {
  /** Build the seeded inputs and write them as parquet under `dir`. */
  def generate(spark: SparkSession, dir: String): Unit
  /** The `sources` layer: read the generated parquet back and pin it. */
  def read(spark: SparkSession, dir: String): Unit
  /** The `queries` layer, once per round; false when the workload derives
    * nothing. */
  def derive(spark: SparkSession, dir: String): Boolean = false
  def round(i: Int): Seq[Step]
  /** Reference digests of one (op, key), whose output has the given
    * schemas. Runs outside every timed interval, on its own thread,
    * concurrently with warm-up calls and other checks. */
  def check(spark: SparkSession, dir: String, op: String, key: String,
      schemas: Seq[StructType]): KeyCheck
  /** Stated input sizes and properties, as measured on this seed. */
  def properties: Seq[(String, Any)]
  /** A check on the benchmark itself; None when it holds. */
  def selfTest(spark: SparkSession): Option[String] = None
}

object Workload {
  val names: Seq[String] = Seq("graph_local", "graph_distributed", "pipeline_text")
  def apply(name: String, seed: Long): Workload = name match {
    case "graph_local" => new GraphWorkload(seed, distributed = false)
    case "graph_distributed" => new GraphWorkload(seed, distributed = true)
    case "pipeline_text" => new PipelineText(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** Pin a frame in memory (eager local checkpoint) so timed calls do not
    * re-read or re-derive it. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Digests of driver-side reference rows, typed like the operator's
    * output so the exact-column hashes are comparable. */
  def reference(spark: SparkSession, schemas: Seq[StructType], rows: Seq[Seq[Row]]): KeyCheck =
    KeyCheck(schemas.zip(rows).map { case (schema, rs) =>
      Digest.of(spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema))
    }, None)
}

// =================================================================== graphs

/** Inputs of the six graph operators: `edges` (src, dst, weight) for
  * components / super_merger / pagerank, the smaller `paths` (src, dst,
  * weight) for all-pairs shortest paths and betweenness (both O(V²)
  * output or work), and `tx` (tid, item) for association rules. */
final case class GraphIn(edges: DataFrame, paths: DataFrame, tx: DataFrame,
    nEdges: Long, nPaths: Long, nTx: Long)

object GraphOps {
  val ops: Seq[String] = Seq("components", "super_merger", "pagerank",
    "shortest_paths", "betweenness", "assoc_rules")

  /** PageRank is capped at 6 iterations: the distributed tier, which every
    * local call is checked against, costs about 2.5 Spark jobs per
    * iteration, and both tiers stop at the same cap. */
  val PageRankIters = 6
  val AssocParams = AssociationRules.Params(minSupport = 0.01, minConfidence = 0.0,
    maxItemsetSize = 5, weighted = false, firstAppearanceOrder = false)

  def rows(op: String, in: GraphIn): Long = op match {
    case "shortest_paths" | "betweenness" => in.nPaths
    case "assoc_rules" => in.nTx
    case _ => in.nEdges
  }

  /** The public call of `op`. `distributed` sets every public gate
    * parameter of the operator to 0 so its distributed tier runs;
    * otherwise the gates keep their defaults. `super_merger` has no gate
    * parameter and runs the same call in both tiers. */
  def call(op: String, in: GraphIn, distributed: Boolean): Seq[DataFrame] = {
    val e = in.edges.select("src", "dst")
    op match {
      case "components" => Seq(
        if (distributed) ConnectedComponents.components(e, maxLocalEdges = 0L)
        else ConnectedComponents.components(e))
      case "super_merger" => Seq(ConnectedComponents.superMerger(in.edges, "src", "dst"))
      case "pagerank" => Seq(
        if (distributed) PageRank.scores(e, maxIter = PageRankIters,
          maxBroadcastNodes = 0L, maxLocalEdges = 0L)
        else PageRank.scores(e, maxIter = PageRankIters))
      case "shortest_paths" => Seq(
        if (distributed) ShortestPaths.allPairs(in.paths, directed = false, maxLocalEdges = 0L)
        else ShortestPaths.allPairs(in.paths, directed = false))
      case "betweenness" => Seq(
        if (distributed) Betweenness.betweennessCentrality(in.paths, "src", "dst",
          maxLocalEdges = 0L)
        else Betweenness.betweennessCentrality(in.paths, "src", "dst"))
      case "assoc_rules" => Seq(AssociationRules.graphAssociationRules(in.tx, "tid", "item",
        None, if (distributed) AssocParams.copy(eagerMaterializePairVolume = 0L) else AssocParams))
    }
  }

  /** Reference digest of `op` on `in`: the other tier's output (labels
    * exact, scores within 1e-9 relative, compared through the digest);
    * `super_merger`, which has one tier, is checked against a driver-side
    * statement of its first-appearance numbering. */
  def check(spark: SparkSession, op: String, in: GraphIn, distributed: Boolean,
      schemas: Seq[StructType]): KeyCheck =
    if (op == "super_merger")
      Workload.reference(spark, schemas, Seq(Reference.superMerger(in.edges.collect().toSeq)))
    else KeyCheck(call(op, in, !distributed).map(Digest.of), None)
}

/** The six graph operators over edge sets derived each round through
  * `Tables.coOrderPairEdges` / `partSupplierEdges` — the derivation the
  * repo's graph queries share — from a seeded lineitem-shaped table with
  * Zipf part popularity and a stated share of orders over the co-order
  * cap. `graph_local` keeps every gate at its default (all inputs sit far
  * below them, so per-call fixed cost dominates); `graph_distributed` sets
  * every public gate to 0 so the distributed tiers run. Each is checked
  * against the other tier on the same input. */
final class GraphWorkload(seed: Long, distributed: Boolean) extends Workload {
  val Orders = 1500
  val Parts = 1500
  val Suppliers = 100
  val HotShare = 0.03
  /** parts 1..PathParts (the Zipf head) form the shortest-paths /
    * betweenness subgraph */
  val PathParts = 40
  private var tx: DataFrame = _
  private var nTx = 0L
  private var nHot = 0L
  private var in: GraphIn = _
  private var edgesPs: DataFrame = _
  private var nPs = 0L
  private var expectedCoOrder = 0L
  private var expectedPartSupp = 0L

  def generate(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val li = Inputs.lineitem(Inputs.rng(seed, 200), Orders, Parts, Suppliers, HotShare)
    val byOrder = li.groupBy(_._1)
    nHot = byOrder.count { case (_, ls) => ls.count(_._4 <= 15.0) > 8 }
    // what the derivations must produce, counted here from the generated rows
    expectedCoOrder = byOrder.values.map { ls =>
      val parts = ls.filter(_._4 <= 15.0).map(l => s"P${l._2}")
      if (parts.length > 8) 0L
      else parts.map(a => parts.count(b => a < b).toLong).sum
    }.sum
    expectedPartSupp = li.count(_._4 <= 2.0).toLong
    li.toSeq.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  def read(spark: SparkSession, dir: String): Unit = {
    // the transaction view of the same table, as q_assoc builds it
    tx = Workload.pin(Readers.parquet(spark, s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("tid"), concat(lit("P"), col("l_partkey")).as("item")))
    nTx = tx.count()
  }

  /** Weighted, head-restricted view of the co-order edges for the O(V²)
    * operators; the weight is a pure function of the pair. */
  private def pathsOf(coOrder: DataFrame): DataFrame =
    coOrder.where(substring(col("src"), 2, 12).cast("long") <= PathParts &&
        substring(col("dst"), 2, 12).cast("long") <= PathParts)
      .select(col("src"), col("dst"),
        (lit(1.0) + pmod(xxhash64(col("src"), col("dst")), lit(4000L)) / 1000.0 + 0.0004)
          .as("weight"))

  /** The round's inputs, derived and pinned: the co-order graph (and its
    * weighted head subgraph) and the part–supplier graph. */
  private def derived(spark: SparkSession, dir: String): (GraphIn, DataFrame, Long) = {
    val co = Workload.pin(Tables.coOrderPairEdges(spark, dir))
    val ps = Workload.pin(Tables.partSupplierEdges(spark, dir)
      .withColumn("weight", lit(1.0)))
    val paths = Workload.pin(pathsOf(co))
    (GraphIn(co.withColumn("weight", lit(1.0)), paths, tx, co.count(), paths.count(), nTx),
      ps, ps.count())
  }

  override def derive(spark: SparkSession, dir: String): Boolean = {
    val (i, ps, n) = derived(spark, dir)
    in = i; edgesPs = ps; nPs = n
    true
  }

  /** super_merger groups the bipartite part–supplier graph, as the
    * q_components family does; the rest run on the co-order graph. */
  private def inputOf(op: String, in: GraphIn, ps: DataFrame, nPs: Long): GraphIn =
    if (op == "super_merger") in.copy(edges = ps, nEdges = nPs) else in

  def round(i: Int): Seq[Step] = GraphOps.ops.map { op =>
    val opIn = inputOf(op, in, edgesPs, nPs)
    Step(op, "derived", GraphOps.rows(op, opIn), () => GraphOps.call(op, opIn, distributed))
  }

  /** The checks' own derivation, made once, and whether its row counts
    * match what the generator computed from the rows it wrote. */
  private var checkInputs: ((GraphIn, DataFrame, Long), Option[String]) = _

  def check(spark: SparkSession, dir: String, op: String, key: String,
      schemas: Seq[StructType]): KeyCheck = {
    val ((i, ps, n), failure) = synchronized {
      if (checkInputs == null) {
        val d @ (ci, _, cn) = derived(spark, dir)
        checkInputs = (d,
          if (ci.nEdges != expectedCoOrder)
            Some(s"coOrderPairEdges derived ${ci.nEdges} rows, generator expects $expectedCoOrder")
          else if (cn != expectedPartSupp)
            Some(s"partSupplierEdges derived $cn rows, generator expects $expectedPartSupp")
          else None)
      }
      checkInputs
    }
    GraphOps.check(spark, op, inputOf(op, i, ps, n), distributed, schemas)
      .copy(failure = failure)
  }

  def properties: Seq[(String, Any)] = Seq(
    "lineitem_rows" -> nTx, "orders" -> Orders, "parts" -> Parts,
    "part_zipf_s" -> 1.0, "hot_order_share" -> HotShare,
    "orders_over_cap" -> nHot,
    "co_order_edges" -> Option(in).map(_.nEdges).getOrElse(0L),
    "part_supplier_edges" -> nPs,
    "paths_edges" -> Option(in).map(_.nPaths).getOrElse(0L),
    "paths_parts" -> PathParts)
}

// ================================================================= pipeline

/** A seeded corpus with planted exact and near duplicates, run through the
  * six training-data pipeline operators. */
object PipelineText {
  val ops: Seq[String] = Seq("exact_dups", "minhash_pairs", "near_dup_clusters",
    "dup_spans", "token_stats", "bpe_train")
}

final class PipelineText(seed: Long) extends Workload {
  val Docs = 500
  val Words = 60
  val Vocab = 20000
  val ExactShare = 0.05
  val NearShare = 0.10
  val EditShare = 0.05
  val Resolutions: Seq[(Int, Int)] = Seq((4, 4), (8, 3), (16, 2))
  val BpeRounds = 1
  val Threshold = 0.5
  private var corpus: Inputs.Corpus = _
  private var docs: DataFrame = _
  private var pairs: DataFrame = _
  private var nPairs = 0L
  private var mined: Seq[Row] = Nil

  def generate(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    corpus = Inputs.corpus(Inputs.rng(seed, 300), Docs, Words, Vocab,
      ExactShare, NearShare, EditShare)
    corpus.docs.toSeq.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // near_dup_clusters clusters the planted pair table: the pairs an
    // ideal miner reports, so its input does not depend on LSH luck
    Reference.plantedPairs(corpus).toSeq.sorted.toDF("id_a", "id_b").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/pairs.parquet")
  }

  private def minhash(d: DataFrame): DataFrame =
    Dedup.minHashLshPairs(d, "doc_id", "text", n = 3, numHashes = 64, bands = 16,
      threshold = Threshold)

  def read(spark: SparkSession, dir: String): Unit = {
    docs = Workload.pin(Readers.parquet(spark, s"$dir/documents.parquet"))
    pairs = Workload.pin(Readers.parquet(spark, s"$dir/pairs.parquet"))
    nPairs = pairs.count()
  }

  def round(i: Int): Seq[Step] = PipelineText.ops.map { op =>
    Step(op, "corpus", if (op == "near_dup_clusters") nPairs else Docs.toLong, () => call(op))
  }

  private def call(op: String): Seq[DataFrame] = op match {
    case "exact_dups" => Seq(Dedup.exactDuplicates(docs, "doc_id", "text"))
    case "minhash_pairs" => Seq(minhash(docs))
    case "near_dup_clusters" => Seq(Dedup.nearDupClusters(pairs, "id_a", "id_b"))
    case "dup_spans" => Seq(DupSpans.dupSpansMulti(docs, "doc_id", "text", Resolutions))
    case "token_stats" => Seq(Tokenizer.tokenStats(docs, "doc_id", "text"))
    case "bpe_train" =>
      val (merges, segs) = BpeTrain.train(BpeTrain.corpusWords(docs, "text"), BpeRounds)
      Seq(merges, segs)
  }

  def check(spark: SparkSession, dir: String, op: String, key: String,
      schemas: Seq[StructType]): KeyCheck = {
    def ref(rows: Seq[Row]*) = Workload.reference(spark, schemas, rows)
    op match {
      case "exact_dups" => ref(Reference.exactDuplicates(corpus.docs))
      case "minhash_pairs" =>
        // LSH candidates are hash-dependent: check properties of a fresh
        // output, which every timed call must then reproduce
        val out = minhash(docs)
        mined = out.collect().toSeq
        KeyCheck(Seq(Digest.of(out)), Reference.checkPairs(mined, corpus, Threshold))
      case "near_dup_clusters" => ref(Reference.components(
        pairs.collect().toSeq.map(r => (r.get(0).toString, r.get(1).toString))))
      case "dup_spans" => ref(Reference.dupSpans(corpus.docs, Resolutions))
      case "token_stats" => ref(Reference.tokenStats(corpus.docs))
      case "bpe_train" =>
        val (m, segs) = Reference.bpe(corpus.docs, BpeRounds)
        ref(m, segs)
    }
  }

  /** The result phase must force the whole plan: digesting the token
    * statistics shuffles (its joins and aggregates run), where a bare
    * `count()` would let Catalyst prune them away. */
  override def selfTest(spark: SparkSession): Option[String] = {
    val bytes = JobTracer.shuffleBytes(spark)(Digest.of(Tokenizer.tokenStats(docs, "doc_id", "text")))
    if (bytes > 0) None else Some("digesting tokenStats shuffled 0 bytes")
  }

  /** Measured on the checked MinHash output: pairs outside every planted
    * family are accidental; recall is over the planted near-copy pairs. */
  def properties: Seq[(String, Any)] = {
    val found = mined.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = Reference.plantedPairs(corpus)
    val near = corpus.nearPairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    Seq("docs" -> Docs, "words_per_doc" -> Words, "vocab" -> Vocab,
      "exact_share" -> ExactShare, "near_share" -> NearShare, "edit_share" -> EditShare,
      "planted_exact_groups" -> corpus.exactGroups.size,
      "planted_near_pairs" -> corpus.nearPairs.size, "planted_pairs" -> nPairs,
      "minhash_pairs" -> found.size, "accidental_pairs" -> (found -- planted).size,
      "near_pair_recall" -> f"${near.count(found).toDouble / near.size}%.3f",
      "bpe_rounds" -> BpeRounds)
  }
}

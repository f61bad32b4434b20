package graft

import graft.ops.AssociationRules
import graft.ops.AssociationRules.Params
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference association-rule pytest cases
  * (reference: tests/test_graph_solver.py:192-364) with exact expected
  * values derived from the kernel semantics (SURVEY.md §2.2.6).
  */
class AssociationRulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(df: DataFrame, p: Params, freq: Option[String] = Some("frequency")) =
    AssociationRules.graphAssociationRules(df, "transaction_id", "item_id", freq, p)

  test("basic weighted fixture: schema, order, supports, lift (py:192-232)") {
    val df = Seq(
      (1L, "A", 1.0), (1L, "B", 2.0), (1L, "C", 1.0),
      (2L, "B", 1.0), (2L, "D", 1.0), (3L, "A", 1.0))
      .toDF("transaction_id", "item_id", "frequency")
    val out = run(df, Params(minSupport = 0.1, minConfidence = 0.1, weighted = true))
    val rows = out.collect()
    assert(out.columns.toSeq == Seq(
      "item", "support", "lift_score", "pattern", "consequents", "confidence_scores"))
    // item-id (first appearance) order: A, B, C, D
    assert(rows.map(_.getString(0)).toSeq == Seq("A", "B", "C", "D"))
    // weighted supports: A=2, B=3, C=1, D=1
    assert(rows.map(_.getDouble(1)).toSeq == Seq(2.0, 3.0, 1.0, 1.0))
    // D's kept associations: (D,B) conf = 1*1/1 = 1.0 → lift 1.0
    val d = rows.find(_.getString(0) == "D").get
    assert(d.getDouble(2) == 1.0)
    assert(d.getSeq[String](4).toSeq == Seq("B"))
    // all items share one pattern (A-B-C-D association graph is connected)
    assert(rows.map(_.getInt(3)).distinct.toSeq == Seq(1))
  }

  test("empty transactions (py:235-246)") {
    val schema = StructType(Seq(
      StructField("transaction_id", LongType), StructField("item_id", StringType),
      StructField("frequency", DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(run(df, Params()).count() == 0)
  }

  test("single-item transactions: one row, no associations (py:249-264)") {
    val df = Seq((1L, "A", 1.0), (2L, "A", 1.0), (3L, "A", 1.0))
      .toDF("transaction_id", "item_id", "frequency")
    val rows = run(df, Params()).collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "A")
    assert(rows(0).getSeq[String](4).isEmpty)
    assert(rows(0).getSeq[Double](5).isEmpty)
  }

  test("min_support filters rare items (py:267-293)") {
    val df = Seq(
      (1L, "A", 1.0), (1L, "B", 1.0), (2L, "B", 1.0), (3L, "C", 1.0), (4L, "C", 1.0))
      .toDF("transaction_id", "item_id", "frequency")
    val items = run(df, Params(minSupport = 0.5)).select("item").as[String].collect().toSet
    assert(items == Set("B", "C"))
  }

  test("weighted vs unweighted supports differ (py:296-320)") {
    val df = Seq((1L, "A", 1.0), (1L, "B", 2.0), (2L, "A", 2.0), (2L, "B", 1.0))
      .toDF("transaction_id", "item_id", "frequency")
    val w = run(df, Params(weighted = true)).select("support").as[Double].collect().toSeq
    val u = run(df, Params(weighted = false)).select("support").as[Double].collect().toSeq
    assert(w != u)
  }

  test("max_itemset_size skips oversized transactions in pairing only (py:323-342)") {
    val df = (1 to 51).map(i => (1L, s"item_$i", 1.0))
      .toDF("transaction_id", "item_id", "frequency")
    val rows = run(df, Params(maxItemsetSize = 50)).collect()
    assert(rows.length == 51)          // all items valid (support 1/1)
    assert(rows.forall(_.getSeq[String](4).isEmpty)) // but no associations
  }

  test("null rows are dropped (py:345-364)") {
    val df = Seq(
      (Some(1L), Some("A"), Some(1.0)),
      (Some(1L), Some("B"), None),
      (None, Some("C"), Some(1.0)),
      (Some(2L), None, Some(1.0)),
      (Some(2L), Some("D"), Some(1.0)))
      .toDF("transaction_id", "item_id", "frequency")
    val rows = run(df, Params()).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("A", "D"))
  }

  test("pattern ids: two disjoint association components") {
    val df = Seq(
      (1L, "A", 1.0), (1L, "B", 1.0), (2L, "C", 1.0), (2L, "D", 1.0))
      .toDF("transaction_id", "item_id", "frequency")
    val rows = run(df, Params(minSupport = 0.0, minConfidence = 0.1)).collect()
    assert(rows.map(r => (r.getString(0), r.getInt(3))).toSeq ==
      Seq(("A", 1), ("B", 1), ("C", 2), ("D", 2)))
  }

  test("unweighted confidence quirk: antecedent support ratio, not P(c|a) (rs:79-81)") {
    // A appears in 2 of 2 transactions; B only in t1. conf(A→B) = supp(A)/T = 1.0
    val df = Seq((1L, "A", 1.0), (1L, "B", 1.0), (2L, "A", 1.0), (2L, "C", 1.0))
      .toDF("transaction_id", "item_id", "frequency")
    val rows = run(df, Params(minSupport = 0.0, minConfidence = 0.0)).collect()
    val a = rows.find(_.getString(0) == "A").get
    val confs = a.getSeq[Double](5)
    assert(confs.nonEmpty && confs.forall(_ == 1.0))
  }

  test("maxPatternEdges gate fires loudly on the directed DFS route") {
    // weighted mode forces the driver-DFS pattern route; 3 distinct kept
    // pairs > cap of 2 must abort rather than silently OOM at scale
    val df = Seq(
      (1L, "A", 1.0), (1L, "B", 1.0), (1L, "C", 1.0), (2L, "A", 1.0))
      .toDF("transaction_id", "item_id", "frequency")
    val ex = intercept[IllegalArgumentException] {
      run(df, Params(minSupport = 0.0, minConfidence = 0.0, weighted = true,
        maxPatternEdges = 2)).collect()
    }
    assert(ex.getMessage.contains("maxPatternEdges"))
  }

  test("symmetric CC pattern route ≡ driver DFS route") {
    // unweighted + minConfidence <= minSupport routes through distributed
    // components; weighted with minConfidence=0 keeps every pair too, so
    // the DFS route computes the same flood-fill on the same graph —
    // pattern ids must agree exactly (two components + one isolated item)
    val df = Seq(
      (1L, "A", 1.0), (1L, "B", 1.0), (2L, "B", 1.0), (2L, "A", 1.0),
      (3L, "C", 1.0), (3L, "D", 1.0), (4L, "E", 1.0), (5L, "E", 1.0))
      .toDF("transaction_id", "item_id", "frequency")
    def pats(p: Params) = run(df, p).select("item", "pattern")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    val viaCc = pats(Params(minSupport = 0.0, minConfidence = 0.0))
    val viaDfs = pats(Params(minSupport = 0.0, minConfidence = 0.0, weighted = true))
    assert(viaCc == viaDfs)
    assert(viaCc == Seq(("A", 1), ("B", 1), ("C", 2), ("D", 2), ("E", 3)))
  }

  test("includePattern=false emits the 0 sentinel and skips pattern work") {
    val df = Seq((1L, "A", 1.0), (1L, "B", 1.0))
      .toDF("transaction_id", "item_id", "frequency")
    val rows = run(df, Params(minSupport = 0.0, minConfidence = 0.0,
      includePattern = false)).collect()
    assert(rows.map(_.getInt(3)).toSeq == Seq(0, 0))
  }

  private val txSchema = StructType(Seq(
    StructField("transaction_id", LongType), StructField("item_id", StringType),
    StructField("frequency", DoubleType)))

  /** Both tiers on `df`: the default gate (driver-local at this size) and
    * eagerMaterializePairVolume = 0 (distributed), compared row for row. */
  private def assertTiersAgree(df: DataFrame, p: Params, freq: Option[String]): Seq[Row] = {
    val local = run(df, p, freq)
    val dist = run(df, p.copy(eagerMaterializePairVolume = 0L), freq)
    assert(local.queryExecution.logical.isInstanceOf[LocalRelation], p)
    assert(!dist.queryExecution.logical.isInstanceOf[LocalRelation], p)
    assert(local.schema == dist.schema, p)
    val rows = local.collect().toSeq
    assert(rows == dist.collect().toSeq, p)
    rows
  }

  test("driver-local tier ≡ distributed tier on a seeded multi-partition table") {
    val rnd = new scala.util.Random(11)
    // non-ASCII names exercise the binary (UTF-8) name order of ties
    val pool = (0 until 14).map(i => s"i$i") ++ Seq("é", "𝔸", "Z")
    val rows = (0 until 60).flatMap { t =>
      // every 9th transaction is oversized; repeated picks give duplicate
      // (tid, item) rows; frequencies are dyadic so every sum is exact
      val n = if (t % 9 == 0) 9 else 1 + rnd.nextInt(5)
      Seq.fill(n)(Row(t.toLong, pool(rnd.nextInt(pool.length)), (1 + rnd.nextInt(6)) * 0.25))
    } ++ Seq(Row(null, "i1", 1.0), Row(3L, null, 1.0), Row(4L, "i2", null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), txSchema)
    val cases = Seq(
      Params(minSupport = 0.05, minConfidence = 0.0, maxItemsetSize = 6),  // symmetric
      Params(minSupport = 0.05, minConfidence = 0.15, maxItemsetSize = 6), // directed
      Params(minSupport = 0.02, minConfidence = 0.1, maxItemsetSize = 6, weighted = true),
      Params(minSupport = 0.0, minConfidence = 0.0, maxItemsetSize = 6, weighted = true),
      Params(minSupport = 0.02, minConfidence = 0.05, maxItemsetSize = 6,
        weighted = true, includePattern = false))
    for (p <- cases; fa <- Seq(true, false); freq <- Seq(Some("frequency"), None)) {
      val out = assertTiersAgree(df, p.copy(firstAppearanceOrder = fa), freq)
      assert(out.nonEmpty && out.exists(_.getSeq[String](4).nonEmpty))
    }
    // confidence ties reach the top-5: unweighted scores repeat per antecedent
    val tied = assertTiersAgree(df, cases(0), None)
    assert(tied.exists(r => r.getSeq[Double](5).distinct.length < r.getSeq[Double](5).length))
    assert(tied.exists(_.getSeq[String](4).length == 5))

    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], txSchema)
    assert(assertTiersAgree(empty, Params(), Some("frequency")).isEmpty)
  }

  test("maxPatternEdges = Int.MaxValue disables the cap on both tiers; a small cap fails on both") {
    val df = Seq(
      (1L, "A", 1.0), (1L, "B", 1.0), (1L, "C", 1.0), (2L, "A", 1.0))
      .toDF("transaction_id", "item_id", "frequency")
    val p = Params(minSupport = 0.0, minConfidence = 0.0, weighted = true)
    val rows = assertTiersAgree(df, p.copy(maxPatternEdges = Int.MaxValue), Some("frequency"))
    assert(rows.map(_.getInt(3)) == Seq(1, 1, 1))
    for (vol <- Seq(p.eagerMaterializePairVolume, 0L)) {
      val ex = intercept[IllegalArgumentException] {
        run(df, p.copy(maxPatternEdges = 2, eagerMaterializePairVolume = vol)).collect()
      }
      assert(ex.getMessage.contains("maxPatternEdges"))
    }
  }
}

package graft

import graft.ops.ConnectedComponents
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference's graph_solver/super_merger pytest goldens
  * (reference: tests/test_graph_solver.py:43-87) plus a GraphX-vs-
  * alternating-star cross-check.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def groups(rows: Seq[(String, String)]): Seq[Long] = {
    val df = rows.toDF("from", "to")
    ConnectedComponents.superMerger(df, "from", "to")
      .select("group").as[Long].collect().toSeq
  }

  test("graph_solver golden: 9-edge, 3-component fixture (py:43-51)") {
    val fixture = Seq(
      "A" -> "B", "B" -> "C", "C" -> "D", "E" -> "F", "F" -> "G",
      "G" -> "J", "I" -> "K", "I" -> "J", "AA" -> "Z")
    assert(groups(fixture) == Seq(1L, 1L, 1L, 2L, 2L, 2L, 2L, 2L, 3L))
  }

  test("super_merger golden: 7-edge fixture keeps columns, adds group (py:54-67)") {
    val df = Seq(
      "A" -> "B", "B" -> "C", "C" -> "D", "E" -> "F", "F" -> "G",
      "G" -> "J", "I" -> "K").toDF("from", "to")
    val out = ConnectedComponents.superMerger(df, "from", "to")
    assert(out.columns.toSeq == Seq("from", "to", "group"))
    assert(out.select("group").as[Long].collect().toSeq == Seq(1L, 1L, 1L, 2L, 2L, 2L, 3L))
    assert(out.select("from").as[String].collect().toSeq ==
      Seq("A", "B", "C", "E", "F", "G", "I"))
  }

  test("super_merger on empty frame (py:70-77)") {
    val schema = StructType(Seq(
      StructField("from", StringType), StructField("to", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val out = ConnectedComponents.superMerger(df, "from", "to")
    assert(out.columns.toSeq == Seq("from", "to", "group"))
    assert(out.count() == 0)
  }

  test("single component cycle (py:80-87)") {
    assert(groups(Seq("A" -> "B", "B" -> "C", "C" -> "A")) == Seq(1L, 1L, 1L))
  }

  test("null handling: null edges dropped, null/unseen from gets sentinel 0") {
    val df = Seq(
      (Some("A"), Some("B")),
      (Some("B"), None),
      (None, Some("C")),
      (Some("X"), Some("Y"))).toDF("from", "to")
    val out = ConnectedComponents.superMerger(df, "from", "to")
    assert(out.select("group").as[Long].collect().toSeq == Seq(1L, 1L, 0L, 2L))
  }

  test("superMergerWeighted filters first, then groups (inclusive threshold)") {
    val df = Seq(
      ("A", "B", 0.5), ("B", "C", 0.3), ("C", "D", 0.1), ("D", "E", 0.05))
      .toDF("from", "to", "w")
    val out = ConnectedComponents.superMergerWeighted(df, "from", "to", "w", 0.3)
    // rows with w >= 0.3 survive: A-B, B-C → one component, rows reduced
    assert(out.count() == 2)
    assert(out.select("group").as[Long].collect().toSeq == Seq(1L, 1L))
  }

  test("alternating-star DataFrame CC matches GraphX CC on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(400)((s"n${rnd.nextInt(150)}", s"n${rnd.nextInt(150)}"))
      .filter { case (a, b) => a != b }
      .toDF("src", "dst")
    val viaGraphX = ConnectedComponents.components(edges)
      .as[(String, String)].collect().toSet
    val viaStars = ConnectedComponents.componentsAlternatingStar(edges)
      .as[(String, String)].collect().toSet
    assert(viaGraphX == viaStars)
    assert(viaGraphX.nonEmpty)
  }

  test("superMerger local tier ≡ distributed tier (maxLocalEdges = 0), row order kept") {
    val rnd = new scala.util.Random(7)
    def node() = if (rnd.nextInt(25) == 0) null else s"n${rnd.nextInt(400)}"
    // null from/to, a `from` seen nowhere else (sentinel 0) and integer
    // node ids cast to string, over four partitions
    val rows = (0 until 300).map(i => Row(i.toLong, node(), node())) ++
      Seq(Row(300L, "lonely", null), Row(301L, null, null))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("from", StringType), StructField("to", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val local = ConnectedComponents.superMerger(df, "from", "to")
    val dist = ConnectedComponents.superMerger(df, "from", "to", maxLocalEdges = 0L)
    assert(local.schema == dist.schema)
    val got = local.collect().toSeq
    assert(got == dist.collect().toSeq)
    assert(got.map(_.getLong(0)) == (0L to 301L))
    assert(got.takeRight(2).map(_.getLong(3)) == Seq(0L, 0L))
    assert(got.map(_.getLong(3)).max > 1L)

    val ints = (0 until 200).map(i => (i % 37, (i * 7) % 53)).toDF("from", "to")
    assert(ConnectedComponents.superMerger(ints, "from", "to").collect().toSeq ==
      ConnectedComponents.superMerger(ints, "from", "to", maxLocalEdges = 0L).collect().toSeq)
  }
}

package graft

import graft.core.Gate
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class GateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def units(t: String) = Gate.textUnits(UTF8String.fromString(t))

  private def jobsOf(body: => Unit): Int = TestSpark.jobsOf(body).size

  private def rows(n: Int) = spark.range(n).as[Long]

  test("textUnits: tokens or an eighth of the UTF-8 bytes, whichever is more") {
    assert(units("é" * 800 + " a b c") == 201L) // 4 tokens, 1606 bytes
    assert(units("a b  c") == 4L)
    assert(units("𝔸" * 4) == 2L) // 16 bytes, 1 token
    assert(units("") == 1L)
  }

  test("collectAtMost: Some at exactly cap rows, None at cap + 1") {
    assert(Gate.collectAtMost(rows(5), 5).map(_.sorted.toSeq) == Some(0L until 5L))
    assert(Gate.collectAtMost(rows(6), 5).isEmpty)
    assert(Gate.collectAtMost(rows(0), 1).map(_.toSeq) == Some(Seq.empty))
  }

  test("collectAtMost: a cap <= 0 is None without a Spark job") {
    // rows that fail when computed: any job over them would throw
    val poison = rows(3).map(x => if (x >= 0) sys.error("evaluated") else x)
    for (cap <- Seq(0L, -1L)) {
      var got: Option[Array[Long]] = Some(Array(1L))
      assert(jobsOf { got = Gate.collectAtMost(poison, cap) } == 0)
      assert(got.isEmpty)
    }
    // the counter sees the probe's job at a positive cap
    assert(jobsOf(Gate.collectAtMost(rows(3), 1)) >= 1)
  }

  test("collectAtMost: a cap >= Int.MaxValue - 1 collects without a row limit") {
    for (cap <- Seq(Int.MaxValue - 2L, Int.MaxValue - 1L, Int.MaxValue.toLong, Long.MaxValue))
      assert(Gate.collectAtMost(rows(4), cap).map(_.sorted.toSeq) == Some(0L until 4L),
        s"cap $cap")
  }

  test("collectWithin: a cap <= 0 is None without a Spark job, even on an empty input") {
    val empty = Seq.empty[(String, Long)].toDF("k", "v")
    assert(Gate.collectWithin(empty.rdd, 0L)(_ => 1L).isEmpty)
    assert(Gate.collectWithin(empty.rdd, 1L)(_ => 1L).map(_.length) == Some(0))
    // an aggregate: building its RDD would run the shuffle stage
    val agg = rows(10).toDF("x").groupBy(col("x") % 3).count()
    var got: Option[Array[org.apache.spark.sql.Row]] = Some(Array.empty)
    assert(jobsOf { got = Gate.collectWithin(agg.rdd, 0L)(_ => 1L) } == 0)
    assert(got.isEmpty)
    assert(Gate.collectWithin(agg.rdd, 3L)(_ => 1L).map(_.length) == Some(3))
    assert(Gate.collectWithin(agg.rdd, 2L)(_ => 1L).isEmpty)
  }

  test("loud gates take an Int.MaxValue cap and still fail over a small one") {
    // 60 vectors, all of them the codebook sample (sampleN = 60)
    val emb = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 0.37 + j * 0.11))))
      .toDF("vec_id", "embedding")
    def pq(cap: Int) = graft.ops.Similarity.pqTopKPortable(emb, "vec_id", "embedding",
        dim = 16, k = 5, m = 4, sampleN = 60, maxBroadcastCodes = cap)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq(Int.MaxValue) == pq(2_000_000))
    intercept[IllegalArgumentException](pq(1))

    val g = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    def cut(cap: Long) = graft.ops.Bridges.articulationPoints(g, "src", "dst",
      maxLocalEdges = cap).as[String].collect().toSeq
    assert(cut(Long.MaxValue) == Seq("b"))
    assert(cut(Int.MaxValue - 1L) == Seq("b"))
    intercept[IllegalArgumentException](cut(1L))
  }

  /** A `.limit(… + 1)` whose chained call ends in `.collect()`. */
  private val handRolledProbe =
    ("""\.limit\((?:[^()]|\([^()]*\))*?\+\s*1\b(?:[^()]|\([^()]*\))*\)""" +
      """(?:\s*\.(?!collect\b)\w+(?:\[[^\]]*\])?(?:\((?:[^()]|\([^()]*\))*\))?)*""" +
      """\s*\.collect\(\)""").r

  test("source guard: capped-collect probes go through Gate, nowhere else") {
    // the pattern itself: hand-rolled forms match, a capped count does not
    assert(handRolledProbe.findFirstIn(
      "val c = e.limit(maxLocalEdges.toInt + 1)\n  .as[(String, String)].collect()").nonEmpty)
    assert(handRolledProbe.findFirstIn(
      "df.limit(if (m < Int.MaxValue - 1) m.toInt + 1 else Int.MaxValue)\n  .collect()").nonEmpty)
    assert(handRolledProbe.findFirstIn(
      "val cnt = b.limit(maxBuckets + 1).count()\nval a = x.collect()").isEmpty)
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val gate = root.resolve("core/Gate.scala")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") && p != gate)
    assert(files.size > 100, s"found only ${files.size} sources under $root")
    val bad = files.flatMap { p =>
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      handRolledProbe.findAllMatchIn(src).map { m =>
        s"$p:${src.take(m.start).count(_ == '\n') + 1}: ${m.matched.linesIterator.next()}"
      }
    }
    assert(bad.isEmpty, "use Gate.collectAtMost:\n" + bad.mkString("\n"))
  }
}

package graft

import graft.ops.DupSpans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

class DupSpansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(docs: Seq[(Long, String)], n: Int = 2, minDocs: Int = 2)
      : Set[(Long, Long, Long, Long)] =
    DupSpans.dupSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
        n, minDocs)
      .as[(Long, Long, Long, Long)].collect().toSet

  test("cross-doc duplicated bigram runs merge into maximal spans") {
    val got = run(Seq(
      (1L, "a b c d e"),   // "a b","b c" dup -> span [0, 2 grams]
      (2L, "x a b c y"),   // same grams at pos 1,2
      (3L, "p q r s t")))  // all unique
    assert(got == Set(
      (1L, 0L, 2L, 3L),
      (2L, 1L, 2L, 3L)))
  }

  test("within-one-doc repetition is not a duplicated span (minDocs=2)") {
    // "m n" occurs twice but only in doc 4 -> 1 distinct doc
    assert(run(Seq((4L, "m n z m n"), (5L, "u v w"))).isEmpty)
  }

  test("non-adjacent duplicated grams split into separate islands") {
    val got = run(Seq(
      (1L, "a b z c d"),  // dup at pos 0 ("a b") and pos 3 ("c d")
      (2L, "a b q c d")))
    assert(got == Set(
      (1L, 0L, 1L, 2L), (1L, 3L, 1L, 2L),
      (2L, 0L, 1L, 2L), (2L, 3L, 1L, 2L)))
  }

  test("span_tokens = n_grams + n - 1 for trigram spans") {
    val got = run(Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d q r")), n = 3)
    // shared trigrams: "a b c"(0), "b c d"(1) -> span of 2 grams = 4 tokens
    assert(got == Set((1L, 0L, 2L, 4L), (2L, 0L, 2L, 4L)))
  }

  test("docs shorter than n produce no grams and no spans") {
    assert(run(Seq((1L, "a b"), (2L, "a b")), n = 3).isEmpty)
  }

  test("parameter guards are loud") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      DupSpans.dupSpans(df, "doc_id", "text", n = 1)
    }
    intercept[IllegalArgumentException] {
      DupSpans.dupSpans(df, "doc_id", "text", n = 2, minDocs = 1)
    }
  }

  /** dupSpansMulti at the given gate (default: the default gate) and with the distributed tier
    * forced (`maxLocalTokens = 0`): asserts both tiers agree — rows,
    * schemas, and which tier the default gate chose — and returns the
    * rows as (doc_id as string, start_pos, span_tokens). */
  private def tiers(df: DataFrame, res: Seq[(Int, Int)], local: Boolean = true,
      cap: Long = 5_000_000L): Seq[(String, Long, Long)] = {
    val got = DupSpans.dupSpansMulti(df, "doc_id", "text", res, maxLocalTokens = cap)
    val dist = DupSpans.dupSpansMulti(df, "doc_id", "text", res, maxLocalTokens = 0)
    def rows(d: DataFrame) = d.collect().map(r =>
      (String.valueOf(r.get(0)), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got.queryExecution.logical.isInstanceOf[LocalRelation] == local)
    assert(!dist.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(got.schema == dist.schema)
    val out = rows(got)
    assert(out == rows(dist))
    out
  }

  private def runMulti(docs: Seq[(Long, String)], res: Seq[(Int, Int)])
      : Set[(Long, Long, Long)] =
    tiers(docs.toDF("doc_id", "text"), res)
      .map { case (id, s, tk) => (id.toLong, s, tk) }.toSet

  test("multi at one resolution covers exactly dupSpans' token set") {
    // the two views agree on COVERED TOKENS; span boundaries may differ —
    // dupSpans islands consecutive GRAM positions, the multi merge unions
    // token INTERVALS, so two gram-islands whose token coverage is
    // adjacent ([0,2] and [3,5]) legitimately fuse into one multi span
    val docs = Seq(
      (1L, "a b c d e f g"), (2L, "x a b c y d e f"), (3L, "p q r s"))
    def tokens(spans: Set[(Long, Long, Long)]): Set[(Long, Long)] =
      spans.flatMap { case (id, s, tk) => (s until s + tk).map(id -> _) }
    val single = tokens(run(docs, n = 2, minDocs = 2)
      .map { case (id, s, _, tk) => (id, s, tk) })
    val multi = runMulti(docs, Seq((2, 2)))
    assert(tokens(multi) == single && single.nonEmpty)
    // and the fusion actually happens on this fixture: doc 1's adjacent
    // gram-islands [0,2]+[3,5] arrive as ONE maximal token span
    assert(multi.contains((1L, 0L, 6L)))
  }

  test("containment theorem: longer grams at EQUAL minDocs add no coverage") {
    // an 8-gram in >= 2 docs implies each constituent 4-gram is in >= 2
    // docs, so (4,2) ∪ (8,2) ≡ (4,2) — the degenerate case the Scaladoc
    // warns about, pinned so the thresholds stay per-resolution
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "zz one two three four five six seven eight nine ten qq"),
      (3L, "unrelated words only here nothing shared at all today"))
    assert(runMulti(docs, Seq((4, 2), (8, 2))) == runMulti(docs, Seq((4, 2))))
  }

  test("every base-resolution span is contained in a multi span (superset)") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten gap alpha beta gamma delta"),
      (2L, "one two three four five six seven eight nine ten xx alpha beta gamma delta"),
      (3L, "pad one two three four pad2 alpha beta gamma delta end"),
      (4L, "pad3 one two three four pad4 more filler words here now"))
    val multi = runMulti(docs, Seq((4, 4), (8, 3), (16, 2)))
    for ((n, m) <- Seq((4, 4), (8, 3), (16, 2))) {
      val base = run(docs, n, m).map { case (id, s, _, tk) => (id, s, s + tk - 1) }
      base.foreach { case (id, s, e) =>
        assert(multi.exists { case (mid, ms, mtk) =>
          mid == id && ms <= s && ms + mtk - 1 >= e
        }, s"base ($n,$m) span ($id,$s,$e) not covered by $multi")
      }
    }
    assert(multi.nonEmpty)
  }

  test("low-support long match + high-support short boilerplate both survive") {
    // docs 1,2 share a 16-token verbatim run (only 2 docs: caught by
    // (16,2), invisible to (4,4)); docs 1-4 share a 4-token boilerplate
    // (caught by (4,4))
    val long16 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val docs = Seq(
      (1L, s"$long16 boiler plate text now"),
      (2L, s"head $long16 boiler plate text now"),
      (3L, s"other stuff boiler plate text now"),
      (4L, s"more words boiler plate text now"))
    val multi = runMulti(docs, Seq((4, 4), (16, 2)))
    // doc 1 gets the 16-token span at pos 0
    assert(multi.exists { case (id, s, tk) => id == 1L && s == 0L && tk >= 16L })
    // doc 3 gets only the boilerplate span ("stuff boiler plate text"
    // region via the shared 4-gram "boiler plate text here"? -> at least
    // one span, and none longer than its doc)
    assert(multi.exists(_._1 == 3L))
    // (4,4) alone would miss the 16-token run entirely
    val shortOnly = runMulti(docs, Seq((4, 4)))
    assert(!shortOnly.exists { case (id, s, tk) => id == 1L && tk >= 16L })
  }

  test("driver-local tier ≡ distributed tier on a seeded multi-partition corpus") {
    val vocab = Seq("the", "cat", "naïve", "日本", "𝔸x", "sat", "mat", "on", "a", "b")
    val rnd = new scala.util.Random(11)
    val base = Seq.tabulate(30)(i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    // planted copies: a 5..20-token run of one doc pasted into another
    val planted = Seq.tabulate(12) { i =>
      val src = base(rnd.nextInt(30))._2.split(" ")
      val from = rnd.nextInt(math.max(1, src.length - 5))
      (100L + i, s"head$i " + src.slice(from, from + 5 + rnd.nextInt(16)).mkString(" ") + s" tail$i")
    }
    val edges = Seq(
      (200L, "x"),                       // shorter than every n
      (201L, "the  cat sat  on"),        // double spaces: empty tokens
      (202L, " the cat sat on "),        // leading and trailing space
      (203L, ""),
      (204L, null),
      // touching: "t1 t2" shared with 206, "t3 t4" with 207, "t2 t3"
      // nowhere else, so [0,1] and [2,3] meet at s == e + 1
      (205L, "t1 t2 t3 t4"), (206L, "t1 t2 q"), (207L, "r t3 t4"),
      // overlapping: [0,1] and [1,2]
      (208L, "o1 o2 o3"), (209L, "o1 o2 o3"))
    val df = (base ++ planted ++ edges).toDF("doc_id", "text").repartition(3)
    val single = tiers(df, Seq((2, 2)))
    assert(single.contains(("205", 0L, 4L)) && single.contains(("208", 0L, 3L)))
    assert(tiers(df, Seq((4, 4), (8, 3), (16, 2))).nonEmpty)
  }

  test("null or duplicate ids and non-integral ids route to the distributed tier") {
    val docs = Seq(Some(1L) -> "a b c", None -> "a b c", Some(2L) -> "x a b")
    tiers(docs.toDF("doc_id", "text"), Seq((2, 2)), local = false)
    tiers(Seq((1L, "a b c"), (1L, "x a b"), (2L, "a b")).toDF("doc_id", "text"),
      Seq((2, 2)), local = false)
    tiers(Seq((1.5, "a b c"), (2.5, "x a b")).toDF("doc_id", "text"),
      Seq((2, 2)), local = false)
  }

  test("a long text with few spaces is bounded by its bytes, not its tokens") {
    // 4 tokens but 1606 UTF-8 bytes: 201 units, over a cap of 100; the
    // two short texts count Gate.RowUnits each
    val long = "é" * 800 + " a b c"
    assert(graft.core.Gate.textUnits(
      org.apache.spark.unsafe.types.UTF8String.fromString(long)) == 201L)
    val df = Seq((1L, long), (2L, "x a b c"), (3L, "a b c")).toDF("doc_id", "text")
    tiers(df, Seq((2, 2)), local = false, cap = 100)
    tiers(df, Seq((2, 2)), cap = 201 + 2 * graft.core.Gate.RowUnits)
  }
}

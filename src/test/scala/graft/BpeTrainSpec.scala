package graft

import graft.ops.BpeTrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BpeTrainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Trains at the default gate and with the distributed tier forced
    * (`maxLocalSymbols = 0`), asserts both tiers agree — rows, schemas,
    * and which tier the default gate chose — and returns the result. */
  private def tiers(words: DataFrame, rounds: Int, local: Boolean = true) = {
    val (m, r) = BpeTrain.train(words, rounds)
    val (dm, dr) = BpeTrain.train(words, rounds, maxLocalSymbols = 0)
    def rows(m: DataFrame, r: DataFrame) =
      (m.orderBy("round").collect().map(x =>
         (x.getInt(0), x.getString(1), x.getString(2), x.getLong(3))).toSeq,
       r.orderBy("w", "pos").collect().map(x =>
         (x.getString(0), x.getInt(1), x.getString(2))).toSeq)
    assert(BpeTrain.ranLocalTier(r) == local)
    assert(!BpeTrain.ranLocalTier(dr))
    assert(m.schema == dm.schema && r.schema == dr.schema)
    val got = rows(m, r)
    assert(got == rows(dm, dr))
    got
  }

  private def run(words: Seq[(String, Long)], rounds: Int) =
    tiers(words.toDF("w", "n_w"), rounds)

  test("weighted pair counts drive merge order; ties break lexicographically") {
    // "aaab"×2: pairs (a,a)=2·2=4, (a,b)=1·2=2; "ab"×3: (a,b)=3 → (a,b)=5 wins r1.
    // r2: "a a ab": (a,a)=2, (a,ab)=2 — tie → (a,a) (left/right asc).
    // r3: "aa ab": (aa,ab)=2 → merges to the full word.
    val (merges, segs) = run(Seq(("aaab", 2L), ("ab", 3L)), rounds = 3)
    assert(merges == Seq(
      (1, "a", "b", 5L), (2, "a", "a", 2L), (3, "aa", "ab", 2L)))
    assert(segs == Seq(("aaab", 1, "aaab"), ("ab", 1, "ab")))
  }

  test("overlap chains merge greedy leftmost: aaaa → (aa)(aa), not a(aa)a") {
    val (merges, segs) = run(Seq(("aaaa", 1L)), rounds = 2)
    assert(merges == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
    // after r1 the segmentation must have been [aa, aa] (positions 1 and 3)
    assert(segs == Seq(("aaaa", 1, "aaaa")))
    val (_, segs1) = run(Seq(("aaaa", 1L)), rounds = 1)
    assert(segs1 == Seq(("aaaa", 1, "aa"), ("aaaa", 3, "aa")))
  }

  test("odd-length chain: aaaaa → aa aa a after one (a,a) merge") {
    val (_, segs) = run(Seq(("aaaaa", 1L)), rounds = 1)
    assert(segs == Seq(("aaaaa", 1, "aa"), ("aaaaa", 3, "aa"), ("aaaaa", 5, "a")))
  }

  test("training stops quietly when no pairs remain") {
    // single-char words have no adjacent pairs at all
    val (merges, segs) = run(Seq(("a", 5L), ("b", 2L)), rounds = 4)
    assert(merges.isEmpty)
    assert(segs == Seq(("a", 1, "a"), ("b", 1, "b")))
  }

  test("encode replays learned merges: training corpus round-trips exactly") {
    val words = Seq(("aaab", 2L), ("ab", 3L), ("baba", 1L)).toDF("w", "n_w")
    val (m, trained) = BpeTrain.train(words, rounds = 3)
    val merges = m.orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val encoded = BpeTrain.encode(words, merges)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("w", "pos").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    assert(norm(encoded) == norm(trained))
    // and encoding UNSEEN words applies the same merges deterministically
    val novel = BpeTrain.encode(Seq(("aabb", 1L)).toDF("w", "n_w"), merges)
    assert(norm(novel).map(_._3).mkString("") == "aabb")
  }

  test("real corpus: merges are nonempty and segments reconstruct the words") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (m, r) = BpeTrain.train(BpeTrain.corpusWords(docs, "text"), rounds = 3)
    assert(m.count() == 3)
    // concatenating each word's symbols in pos order must give the word back
    val rebuilt = r.orderBy("w", "pos").collect()
      .groupBy(_.getString(0))
      .map { case (w, rows) => (w, rows.sortBy(_.getInt(1)).map(_.getString(2)).mkString) }
    rebuilt.foreach { case (w, joined) => assert(w == joined, s"word $w") }
  }

  test("driver-local tier ≡ distributed tier on a seeded multi-partition word table") {
    // accented and supplementary-plane symbols: code points, not UTF-16
    // units, and ties where UTF-8 order and String.compareTo disagree
    val alphabet = Seq("a", "b", "é", "ｆ", "𝔸", "😀")
    val rnd = new scala.util.Random(7)
    val words = Seq.fill(120)(Seq.fill(1 + rnd.nextInt(7))(alphabet(rnd.nextInt(6))).mkString)
      .distinct.map(w => (w, 1L + rnd.nextInt(4)))
    val df = words.toDF("w", "n_w").repartition(3)
    for (rounds <- Seq(1, 3)) {
      val (merges, segs) = tiers(df, rounds)
      assert(merges.size == rounds)
      assert(segs.groupBy(_._1).forall { case (w, ss) => ss.map(_._3).mkString == w })
    }
  }

  test("code points and UTF-8 tie order on both tiers") {
    // (ｆ,x) and (𝔸,x) tie at 2: UTF-8 puts U+FF46 before U+1D538, Java's
    // UTF-16 compareTo the other way round; 𝔸𝔸 is two symbols, not four
    val (merges, segs) = run(Seq(("ｆx", 2L), ("𝔸x", 2L), ("é𝔸𝔸", 1L)), rounds = 1)
    assert(merges == Seq((1, "ｆ", "x", 2L)))
    assert(segs.filter(_._1 == "é𝔸𝔸") == Seq(("é𝔸𝔸", 1, "é"), ("é𝔸𝔸", 2, "𝔸"), ("é𝔸𝔸", 3, "𝔸")))
  }

  test("empty input trains nothing on both tiers") {
    assert(run(Seq.empty, rounds = 2) == ((Nil, Nil)))
  }

  test("null, empty or duplicate words and null counts route to the distributed tier") {
    for (words <- Seq(
        Seq(("ab", Some(2L)), (null, Some(3L))),
        Seq(("ab", Some(2L)), ("", Some(1L))),
        Seq(("ab", Some(1L)), ("ab", Some(2L))),
        Seq(("ab", Some(2L)), ("abc", None), ("bc", Some(1L)))))
      tiers(words.toDF("w", "n_w"), rounds = 1, local = false)
  }

  test("a non-string w column trains on the distributed tier at every gate") {
    val words = Seq((1121, 2L), (212, 1L)).toDF("w", "n_w")
    def rows(m: DataFrame, r: DataFrame) =
      (m.orderBy("round").collect().map(_.toSeq).toSeq,
       r.orderBy("w", "pos").collect().map(_.toSeq).toSeq)
    val (m, r) = BpeTrain.train(words, rounds = 2)
    val (dm, dr) = BpeTrain.train(words, rounds = 2, maxLocalSymbols = 0)
    assert(!BpeTrain.ranLocalTier(r))
    val got = rows(m, r)
    assert(got == rows(dm, dr))
    assert(got._1.head == Seq(1, "1", "2", 3L))
  }

  test("tiers agree on words that are not valid UTF-8") {
    // ab\xff and ab\xfe differ only in an invalid byte that decoding would
    // replace with U+FFFD; the third word holds a real U+FFFD
    val df = Seq(("6162ff", 3L), ("6162fe", 2L), ("6162efbfbd", 1L)).toDF("h", "n_w")
      .select(expr("cast(unhex(h) as string)").as("w"), $"n_w")
    def hexRows(m: DataFrame, r: DataFrame) =
      (m.orderBy("round").collect().map(_.toSeq).toSeq,
       r.select(hex($"w").as("w"), $"pos", hex($"sym").as("sym")).orderBy("w", "pos")
         .collect().map(_.toSeq).toSeq)
    val (m, r) = BpeTrain.train(df, rounds = 3)
    val (dm, dr) = BpeTrain.train(df, rounds = 3, maxLocalSymbols = 0)
    assert(BpeTrain.ranLocalTier(r))
    val got = hexRows(m, r)
    assert(got == hexRows(dm, dr))
    // (ab, \xff) wins rounds 2 and 3 and is recorded as (ab, U+FFFD): it
    // merges the real U+FFFD, never the invalid byte
    assert(got._1 == Seq(Seq(1, "a", "b", 6L), Seq(2, "ab", "\uFFFD", 3L),
      Seq(3, "ab", "\uFFFD", 3L)))
    assert(got._2 == Seq(Seq("6162EFBFBD", 1, "6162EFBFBD"), Seq("6162FE", 1, "6162"),
      Seq("6162FE", 3, "FE"), Seq("6162FF", 1, "6162"), Seq("6162FF", 3, "FF")))
  }

  test("a merges-only caller starts no segmentation job") {
    val words = Seq(("aaab", 2L), ("ab", 3L), ("baba", 1L)).toDF("w", "n_w")
    var segs: DataFrame = null
    val trainJobs = TestSpark.jobsOf {
      val (m, r) = BpeTrain.train(words, rounds = 3)
      assert(m.collect().length == 3)
      segs = r
    }
    assert(BpeTrain.ranLocalTier(segs))
    val id = segs.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    def touches(jobs: Seq[org.apache.spark.scheduler.SparkListenerJobStart]) =
      jobs.exists(_.stageInfos.exists(_.rddInfos.exists(_.id == id)))
    assert(trainJobs.nonEmpty && !touches(trainJobs))
    assert(touches(TestSpark.jobsOf(segs.collect())))
  }

  test("the local segmentation gives the same rows each time it is consumed") {
    val rnd = new scala.util.Random(11)
    val words = Seq.fill(200)(Seq.fill(2 + rnd.nextInt(6))("abcé"(rnd.nextInt(4))).mkString)
      .distinct.map(w => (w, 1L + rnd.nextInt(5)))
    val (_, segs) = BpeTrain.train(words.toDF("w", "n_w").repartition(3), rounds = 4)
    assert(BpeTrain.ranLocalTier(segs))
    assert(segs.queryExecution.toRdd.getNumPartitions == 3)
    def rows = segs.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val first = rows
    assert(first.nonEmpty && rows == first && segs.count() == first.size)
    assert(first.groupBy(_._1).forall { case (w, ss) => ss.sortBy(_._2).map(_._3).mkString == w })
  }
}

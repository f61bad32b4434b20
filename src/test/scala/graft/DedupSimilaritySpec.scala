package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Correctness + recall characteristics of the dedup and similarity-search
  * operators on controlled fixtures and the sf0.001 testdata.
  */
class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()

  test("exactDuplicates groups identical texts under min id") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDuplicates(df, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) == 2 && out(0).getLong(2) == 1) // n_copies, keep_id
    assert(out(1).getLong(1) == 1 && out(1).getLong(2) == 3)
  }

  test("ngramJaccardPairs finds identical and near-identical docs, skips distinct") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now ok yes"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.4)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    // docs 1/2 share 6 of 7 trigrams in each: inter=6, union=8 → 0.75
    assert(pairs.keySet == Set((1L, 2L)))
    assert(math.abs(pairs((1L, 2L)) - 6.0 / 8.0) < 1e-12)
  }

  test("editDistancePairs finds small-edit dups within the band, drops the rest") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // dist 3 (dog→cat)
      (3L, "the quick brown fox jumps over the lazy dog today"), // dist 6 (append " today")
      (4L, "completely different words entirely here now ok yes"))
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(df, "doc_id", "text", maxDist = 6)
      .as[(Long, Long, Long)].collect().toSet
    // (2,3) is distance 9 (cat→dog plus " today") — outside the band
    assert(got == Set((1L, 2L, 3L), (1L, 3L, 6L)), s"got $got")
    // tighter band excludes the distance-6 pair
    val tight = Dedup.editDistancePairs(df, "doc_id", "text", maxDist = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(tight == Set((1L, 2L, 3L)))
  }

  test("editDistancePairs distances are exact vs a reference DP on testdata") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    val texts = docs.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    val got = Dedup.editDistancePairs(docs, "doc_id", "text", maxDist = 20)
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty, "testdata should contain small-edit near-dups")
    got.foreach { case (a, b, d) =>
      assert(lev(texts(a), texts(b)) == d, s"pair ($a,$b)")
    }
  }

  test("ngramJaccardPairsPrefix equals the full inverted-index result") {
    // fixture: near-dup pair + distinct doc + shared boilerplate shingle
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now ok yes"),
      (4L, "the quick brown unrelated tail of words goes here"))
      .toDF("doc_id", "text")
    // 0.7996 regression-tests the ADVICE r5 rounding bug: round() gave
    // tPm=800 > t*1000, over-tightening the overlap bound and losing pairs
    // with jaccard in [0.7996, 0.8); floor() errs toward a longer prefix
    for (t <- Seq(0.3, 0.4, 0.5, 0.7996, 0.8)) {
      val full = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, t)
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.ngramJaccardPairsPrefix(df, "doc_id", "text", 3, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == full, s"threshold $t: prefix=$pref full=$full")
    }
    // and on real testdata at the driver-query threshold
    val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val pref = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(full.nonEmpty && pref == full)
  }

  test("prefix filtering indexes strictly fewer postings than the full index") {
    // the point of the operator: candidate volume shrinks. Compare the
    // indexed row counts (prefix table vs full shingle table) on testdata.
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    val full = sh.count()
    val nDocs = docs.count()
    val pref = Dedup.prefixPostings(sh, 0.5).count()
    // per doc the prefix keeps n - ceil(0.5n) + 1 <= n/2 + 1 shingles
    assert(pref <= full / 2 + nDocs,
      s"prefix index should ~halve postings at t=0.5: prefix=$pref full=$full")
    assert(pref < full, "prefix index must be a strict subset")
  }

  test("prefix length never undershoots |S| - ceil(t|S|) + 1 (ADVICE r5 rounding)") {
    // t=0.2505 on a 4000-shingle doc: true keep = 4000 - ceil(1002) + 1 =
    // 2999. The old math.round gave tPm=251 (rounded UP past the true
    // threshold) -> reqOverlap ceil(251*4000/1000) = 1004 -> keep 2997,
    // silently losing candidates. floor(tPm=250) errs to keep 3001 >= 2999.
    val t = 0.2505
    val n = 4000
    val sh = (0 until n).map(i => (1L, f"sh_$i%05d")).toDF("id", "shingle")
    val keep = Dedup.prefixPostings(sh, t).count()
    val trueKeep = n - math.ceil(t * n).toInt + 1
    assert(keep >= trueKeep,
      s"prefix too short: keep=$keep < required $trueKeep (recall loss)")
  }

  test("passageDuplication flags shared passages, not unique ones") {
    // 4-token passages; docs 1 and 2 share their first passage exactly,
    // doc 3 shares nothing. Doc 1: 8 tokens = 2 passages (1 dup);
    // doc 2: 6 tokens = 2 passages (first full, then 2-token tail).
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y"),
      (3L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val out = Dedup.passageDuplication(df, "doc_id", "text", passageTokens = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(out(0) == ((1L, 2L, 1L, 500L)))
    assert(out(1) == ((2L, 2L, 1L, 500L)))
    assert(out(2) == ((3L, 2L, 0L, 0L)))
    // corpus-level sanity on testdata: planted exact dups must make the
    // signal non-trivial
    val td = Dedup.passageDuplication(docs, "doc_id", "text", 16)
    assert(td.where(col("n_dup_passages") > 0).count() > 0)
    assert(td.count() == docs.count(), "every doc reports")
  }

  test("minHashLshPairs achieves full recall of high-jaccard pairs on testdata") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    // banded LSH at b=16,r=4 collides w.p. >0.999 at j>=0.8; and every LSH
    // pair is exact-verified, so lsh ⊆ exact always
    assert(lsh.subsetOf(exact))
    assert(lsh == exact, s"missed: ${exact -- lsh}")
  }

  /** minHashLshPairs at the default gate and with the distributed tier
    * forced (`maxLocalTokens = 0`): asserts both tiers agree — rows,
    * schemas, and which tier the default gate chose — and returns the rows
    * as (id_a as string, id_b as string, jaccard). */
  private def mhTiers(df: DataFrame, threshold: Double, local: Boolean = true,
      maxBucketSize: Int = 1000, cap: Long = 2_500_000L): Seq[(String, String, Double)] = {
    val got = Dedup.minHashLshPairs(df, "doc_id", "text", 3, 64, 16, threshold,
      maxBucketSize, maxLocalTokens = cap)
    val dist = Dedup.minHashLshPairs(df, "doc_id", "text", 3, 64, 16, threshold,
      maxBucketSize, maxLocalTokens = 0)
    def rows(d: DataFrame) = d.collect().map(r =>
      (String.valueOf(r.get(0)), String.valueOf(r.get(1)), r.getDouble(2))).toSeq.sorted
    assert(got.queryExecution.logical.isInstanceOf[LocalRelation] == local)
    assert(!dist.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(got.schema == dist.schema)
    val out = rows(got)
    assert(out == rows(dist))
    out
  }

  test("minHashLshPairs driver-local tier ≡ distributed tier on testdata") {
    val hi = mhTiers(docs, 0.8)
    val lo = mhTiers(docs, 0.5)
    assert(hi.nonEmpty && hi.toSet.subsetOf(lo.toSet))
  }

  test("minHashLshPairs tiers agree on a seeded corpus and on text edges") {
    val vocab = Seq("the", "cat", "naïve", "日本", "𝔸x", "sat", "mat", "on", "a", "b", "c", "d")
    val rnd = new scala.util.Random(5)
    val base = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(8 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    // planted near copies: one token of an earlier doc replaced
    val near = Seq.tabulate(15) { i =>
      val src = base(rnd.nextInt(40))._2.split(" ", -1)
      src(rnd.nextInt(src.length)) = s"edit$i"
      (100L + i, src.mkString(" "))
    }
    val edges = Seq(
      (200L, "x y"), (201L, "x y"),      // shorter than n: the whole text
      (202L, ""), (203L, ""),            // empty texts share the "" shingle
      (204L, null), (205L, null),        // no shingle at all
      (206L, "a b a b a b a b"),         // repeated shingles within a doc
      (207L, "a b a b a b"),
      (208L, "the  cat sat  on"),        // double spaces: empty tokens
      (209L, " the cat sat on "))
    val df = (base ++ near ++ edges).toDF("doc_id", "text").repartition(3)
    val got = mhTiers(df, 0.5)
    assert(Seq(("200", "201", 1.0), ("202", "203", 1.0), ("206", "207", 1.0))
      .forall(got.contains), s"got $got")
    assert(got.count(_._1.toLong >= 100) >= 2)
    // maxBucketSize = 2: buckets of three or more docs drop on both tiers,
    // and a null-id doc counts toward its buckets without pairing
    val nullId = Seq((Option.empty[Long], "x y")).toDF("doc_id", "text")
    val capped = mhTiers(df.union(nullId), 0.5, maxBucketSize = 2)
    assert(!capped.exists(_._1 == "200") && capped.contains(("206", "207", 1.0)))
  }

  test("minHashLshPairs orders string ids by UTF-8 bytes on both tiers") {
    // U+FF21 sorts before U+1D538 in UTF-8 bytes, after it in UTF-16
    val df = Seq(("\uFF21", "one two three four"), ("\uD835\uDD38", "one two three four"),
        ("b", "one two three five"), ("é", "unrelated words here now"))
      .toDF("doc_id", "text")
    assert(mhTiers(df, 0.5) == Seq(("\uFF21", "\uD835\uDD38", 1.0)))
  }

  test("minHashLshPairs duplicate and double ids route to the distributed tier") {
    mhTiers(Seq((1L, "a b c d"), (1L, "a b c e"), (2L, "a b c d")).toDF("doc_id", "text"),
      0.5, local = false)
    mhTiers(Seq((1.5, "a b c d"), (2.5, "a b c d")).toDF("doc_id", "text"), 0.5,
      local = false)
    // two null ids: the distributed groupBy(id) merges their shingles
    mhTiers(Seq((Some(1L), "a b c d"), (None, "a b c d"), (None, "a b c e"))
      .toDF("doc_id", "text"), 0.5, local = false)
  }

  test("minHashLshPairs: an exact-duplicate cluster over the pair bound is distributed") {
    // 12 copies collide in all 16 bands: 16 · C(12, 2) = 1056 candidate
    // pairs; the 13 texts count 13 · RowUnits units
    val df = (Seq.tabulate(12)(i => (i.toLong, "same words in every copy")) ++
      Seq((20L, "other words here entirely"))).toDF("doc_id", "text")
    val pairs = 16L * 66
    assert(13 * graft.core.Gate.RowUnits < pairs * Dedup.MinHashPairDiv)
    mhTiers(df, 0.8, local = false, cap = pairs * Dedup.MinHashPairDiv - 1)
    assert(mhTiers(df, 0.8, cap = pairs * Dedup.MinHashPairDiv).size == 66)
  }

  test("minHashLshPairs tiers agree on texts and ids that are not valid UTF-8") {
    // 2 and 3 differ only in an invalid byte that decoding would replace
    // with U+FFFD; so do the string ids 4 and 5
    val df = Seq(("31", "6120627a"), ("32", "7820ff"), ("33", "7820fe"),
        ("61ff", "61206220632064"), ("61fe", "61206220632064"))
      .toDF("h_id", "h_text")
      .select(expr("cast(unhex(h_id) as string)").as("doc_id"),
        expr("cast(unhex(h_text) as string)").as("text"))
    assert(mhTiers(df, 0.5).size == 1)
    def hexIds(d: DataFrame) = d.select(hex(col("id_a")), hex(col("id_b")))
      .collect().map(_.toSeq).toSeq
    assert(hexIds(Dedup.minHashLshPairs(df, "doc_id", "text", threshold = 0.5)) ==
      hexIds(Dedup.minHashLshPairs(df, "doc_id", "text", threshold = 0.5,
        maxLocalTokens = 0)))
  }

  test("portable (md5-derived) minhash variant keeps full recall too") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLshPairsPortable(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // candidates are exact-verified
    assert(lsh == exact, s"missed: ${exact -- lsh}")
  }

  test("portable simhash matches identical docs at hamming 0") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally different words here now")).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairsPortable(df, "doc_id", "text", maxBits = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 2L, 0)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("portable LSH topK keeps useful recall vs brute force") {
    // recall-tuned params (wide buckets × many tables), same as the
    // xxhash-variant recall test; the q_ann_lsh query uses scale-tuned
    // narrower buckets and is correctness-gated by its oracle instead
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = graft.ops.Similarity.lshTopKPortable(emb, "vec_id", "embedding",
        dim = 64, k = 5, nBits = 4, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.5, s"recall=$recall")
  }

  test("multi-probe LSH recall >= single-probe at the same table count") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(s: Set[(Long, Long)]) =
      (brute intersect s).size.toDouble / brute.size
    // ordering at the driver query's scale-tuned params (64 buckets over
    // 200 vectors — sparse on purpose): Hamming-1 probing can only ADD
    // candidates, so top-k recall cannot drop — the whole point of
    // trading probes for tables
    val single6 = pairs(graft.ops.Similarity.lshTopKPortable(emb, "vec_id",
      "embedding", dim = 64, k = 5, nBits = 6, tables = 2))
    val multi6 = pairs(graft.ops.Similarity.lshTopKMultiProbe(emb, "vec_id",
      "embedding", dim = 64, k = 5, nBits = 6, tables = 2))
    assert(recall(multi6) >= recall(single6),
      s"multi=${recall(multi6)} single=${recall(single6)}")
    // absolute recall at recall-tuned width (the single-probe test's
    // convention): 16 buckets, 2 tables + probes beats the 0.5 bar
    val multi4 = pairs(graft.ops.Similarity.lshTopKMultiProbe(emb, "vec_id",
      "embedding", dim = 64, k = 5, nBits = 4, tables = 2))
    assert(recall(multi4) > 0.5, s"recall=${recall(multi4)}")
  }

  test("PQ asymmetric-distance topK keeps useful recall vs brute force") {
    // PQ compresses 64 floats to 4 codes; ADC ranking is approximate but
    // must agree with exact cosine neighbors far above chance. The sample
    // IS the corpus at sf0.001 (200 vectors), so codebooks are well-fit.
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = graft.ops.Similarity.pqTopKPortable(emb, "vec_id", "embedding",
        dim = 64, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall > 0.7, s"recall=$recall")
    // deterministic: a second run is identical
    val pq2 = graft.ops.Similarity.pqTopKPortable(emb, "vec_id", "embedding",
        dim = 64, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq == pq2)
  }

  test("IVF-PQ finds exact duplicates as top-1 and is partition-invariant") {
    // a duplicated vector shares its coarse cell AND its residual code, so
    // ADC distance is exactly 0 → it must survive the candidate cut and
    // rerank to cosine 1.0 at rank 1
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble() * 2 - 1)))
    val dup = base.map { case (i, v) => (i + 40L, v.clone()) }
    val df = (base ++ dup).toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.ivfPqTopKPortable(df, "vec_id",
        "embedding", dim = 8, k = 1, nCells = 8, nProbe = 2, m = 4,
        ksub = 8, candR = 5, kmeansIters = 2, sampleN = 80, seed = 42L)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    base.foreach { case (i, _) =>
      val got = out.find(_._1 == i).get
      assert(got._2 == i + 40L && got._3 == 1.0,
        s"query $i: expected dup ${i + 40} at cosine 1.0, got $got")
    }
    val out2 = graft.ops.Similarity.ivfPqTopKPortable(df.repartition(7),
        "vec_id", "embedding", dim = 8, k = 1, nCells = 8, nProbe = 2,
        m = 4, ksub = 8, candR = 5, kmeansIters = 2, sampleN = 80, seed = 42L)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(out.toSet == out2.toSet)
  }

  test("auto-width derivations: nBits holds occupancy, nCells is sqrt(N), clamps hold") {
    import graft.ops.Similarity.{autoNBits, autoNCells}
    // occupancy target: 2^nBits buckets keep N/2^nBits <= targetOccupancy
    for ((n, occ) <- Seq((2000L, 32), (32000L, 32), (1000000L, 32), (64L, 8))) {
      val b = autoNBits(n, occ)
      assert((1L << b) * occ >= n || b == 40, s"n=$n occ=$occ nBits=$b")
      assert(b == 4 || (1L << (b - 1)) * occ < n, s"not minimal: n=$n b=$b")
    }
    assert(autoNBits(1L, 32) == 4)            // floor clamp
    assert(autoNBits(Long.MaxValue, 1) == 40) // ceiling clamp
    assert(autoNCells(2000L) == 45 && autoNCells(32000L) == 179)
    assert(autoNCells(1L) == 16 && autoNCells(100000000000L) == 4096)
  }

  test("lshTopKAuto == lshTopK at the derived width; useful recall on testdata") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val auto = graft.ops.Similarity.lshTopKAuto(emb, "vec_id", "embedding",
        dim = 64, k = 5, targetOccupancy = 32)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val forced = graft.ops.Similarity.lshTopK(emb, "vec_id", "embedding",
        dim = 64, k = 5,
        nBits = graft.ops.Similarity.autoNBits(emb.count(), 32))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(auto == forced)
    val brute = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect auto).size.toDouble / brute.size
    assert(recall > 0.3, s"recall=$recall")
  }

  test("ivfTopKAuto == ivfTopK at the derived width; useful recall on testdata") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val auto = graft.ops.Similarity.ivfTopKAuto(emb, "vec_id", "embedding",
        dim = 64, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val nCells = graft.ops.Similarity.autoNCells(emb.count())
    val forced = graft.ops.Similarity.ivfTopK(emb, "vec_id", "embedding",
        dim = 64, k = 5, nCells = nCells,
        sampleSize = math.min(65536, math.max(2000, 8 * nCells)))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(auto == forced)
    val brute = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect auto).size.toDouble / brute.size
    assert(recall > 0.3, s"recall=$recall")
  }

  test("ivfPqTopKAuto == ivfPqTopKPortable at the derived width") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val nCells = graft.ops.Similarity.autoNCells(n)
    val sampleN = math.min(n,
      math.min(65536L, math.max(200L, 8L * nCells))).toInt
    val auto = graft.ops.Similarity.ivfPqTopKAuto(emb, "vec_id",
        "embedding", dim = 64, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val forced = graft.ops.Similarity.ivfPqTopKPortable(emb, "vec_id",
        "embedding", dim = 64, k = 5, nCells = nCells, sampleN = sampleN)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(auto == forced && auto.nonEmpty)
  }

  test("strideInitIndices: nCells evenly-spaced distinct ranks inside the sample") {
    val s = graft.ops.Similarity.strideInitIndices(200, 23)
    assert(s.length == 23 && s.distinct.length == 23)
    assert(s.head == 0 && s.forall(i => i >= 0 && i < 200))
    assert(s == s.sorted)
    // the exact integer rule the oracles replicate: floor(c*sampleN/nCells)
    assert(s(7) == 7L * 200 / 23)
  }

  test("lshTopKAutoPortable == lshTopKPortable at the derived width; recall holds") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val auto = graft.ops.Similarity.lshTopKAutoPortable(emb, "vec_id",
        "embedding", dim = 64, k = 5, targetOccupancy = 32)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val forced = graft.ops.Similarity.lshTopKPortable(emb, "vec_id",
        "embedding", dim = 64, k = 5,
        nBits = graft.ops.Similarity.autoNBits(emb.count(), 32))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(auto == forced && auto.nonEmpty)
    val brute = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect auto).size.toDouble / brute.size
    assert(recall > 0.3, s"recall=$recall")
  }

  test("ivfTopKAutoPortable == ivfTopKPortable at derived width+stride; recall holds") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val nCells = graft.ops.Similarity.autoNCells(n)
    val auto = graft.ops.Similarity.ivfTopKAutoPortable(emb, "vec_id",
        "embedding", dim = 64, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val forced = graft.ops.Similarity.ivfTopKPortable(emb, "vec_id",
        "embedding", dim = 64, k = 5, nCells = nCells,
        sampleN = graft.ops.Similarity.autoSampleN(n, nCells),
        strideInit = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(auto == forced && auto.nonEmpty)
    val brute = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect auto).size.toDouble / brute.size
    assert(recall > 0.3, s"recall=$recall")
  }

  test("ivfPqTopKAutoPortable == ivfPqTopKPortable at derived width+stride") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val nCells = graft.ops.Similarity.autoNCells(n)
    val auto = graft.ops.Similarity.ivfPqTopKAutoPortable(emb, "vec_id",
        "embedding", dim = 64, k = 5, m = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val forced = graft.ops.Similarity.ivfPqTopKPortable(emb, "vec_id",
        "embedding", dim = 64, k = 5, nCells = nCells, m = 16,
        sampleN = graft.ops.Similarity.autoSampleN(n, nCells),
        strideInit = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(auto == forced && auto.nonEmpty)
  }

  test("IVF-PQ recall tracks the IVF probe ceiling on testdata") {
    // composed index: candidates come only from the nProbe/nCells probed
    // cells (the sub-quadratic property), so recall is bounded by IVF's
    // cell recall — it must sit well above chance and within reach of the
    // plain-IVF ceiling (driver audit at sf0.01: ivfpq 0.64 vs ivf 0.69)
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpq = graft.ops.Similarity.ivfPqTopKPortable(emb, "vec_id",
        "embedding", dim = 64, k = 5, nCells = 16, nProbe = 4, m = 16,
        ksub = 16, candR = 50, kmeansIters = 2, sampleN = 200, seed = 42L)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivfpq).size.toDouble / brute.size
    assert(recall > 0.5, s"recall=$recall")
    // probing MORE cells can only widen the candidate set → recall must
    // not decrease (the nProbe knob's contract)
    val wide = graft.ops.Similarity.ivfPqTopKPortable(emb, "vec_id",
        "embedding", dim = 64, k = 5, nCells = 16, nProbe = 8, m = 16,
        ksub = 16, candR = 50, kmeansIters = 2, sampleN = 200, seed = 42L)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recallWide = (brute intersect wide).size.toDouble / brute.size
    assert(recallWide >= recall, s"nProbe=8 $recallWide < nProbe=4 $recall")
  }

  test("simHash hamming 0 for identical docs, small for near-identical") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"))
      .toDF("doc_id", "text")
    val fp = Dedup.simHashFingerprints(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) <= 16)
  }

  test("single-pass bit_votes fingerprint equals the 64-sum column formulation") {
    val toks = docs.select(col("doc_id").as("id"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map(j =>
      sum(when(expr(s"(h >> $j) & 1") === 1, 1).otherwise(-1)).as(s"v_$j"))
    val agg = toks.groupBy(col("id")).agg(votes.head, votes.tail: _*)
    val wide = agg.select(col("id"), (0 until 64).map(j =>
        when(col(s"v_$j") > 0, expr(s"CAST(1 AS BIGINT) << $j")).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_)).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val single = Dedup.simHashFingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(single == wide)
  }

  test("hot-bucket cap keeps degenerate buckets from exploding candidates") {
    // 600 byte-identical docs — every LSH bucket they land in is hot; a
    // real crawl corpus always contains such degenerate masses (empty
    // pages, boilerplate). Uncapped, candidate generation is O(600²) pairs
    // from one bucket; capped, those buckets are dropped and the normal
    // near-dup pair is still found (its buckets stay small).
    val degenerate = (100L until 700L).map(i => (i, "lorem ipsum dolor sit amet"))
    val normal = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again ok"),
      (2L, "the quick brown fox jumps over the lazy dog tonight again yes"),
      (3L, "completely unrelated text about graph analytics at scale here"))
    val df = (normal ++ degenerate).toDF("doc_id", "text")

    val capped = Dedup.minHashLshPairsPortable(df, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5, maxBucketSize = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // recall on normal pairs unchanged; degenerate mass contributes nothing
    assert(capped == Set((1L, 2L)), s"got $capped")

    // disabled cap: the same degenerate mass produces all O(n²) pairs —
    // proof the cap (not banding luck) is what bounded the work above
    val uncapped = Dedup.minHashLshPairsPortable(df, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5, maxBucketSize = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)))
    assert(uncapped.size == 1 + 600 * 599 / 2, s"got ${uncapped.size}")
  }

  test("hot-shingle df cap bounds the n-gram inverted index on boilerplate") {
    // 500 byte-identical boilerplate docs: every shingle they carry has
    // document frequency 500+ — uncapped, the inverted-index self-join
    // materializes all O(500²) clone pairs. Docs 1/2 additionally START
    // with the boilerplate prefix, so they share a hot shingle with the
    // clone mass AND with each other.
    val clones = (100L until 600L).map(i =>
      (i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"))
    val normal = Seq(
      (1L, "lorem ipsum dolor the quick brown fox jumps over the lazy dog tonight"),
      (2L, "lorem ipsum dolor the quick brown fox jumps over the lazy dog today"),
      (3L, "completely unrelated text about graph analytics at scale right here"))
    val df = (clones ++ normal).toDF("doc_id", "text")

    val capped = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5,
        maxPostings = 100)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    // clone mass contributes zero candidates; the real near-dup survives
    assert(capped.keySet == Set((1L, 2L)), s"got ${capped.keySet}")

    val uncapped = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5,
        maxPostings = 0)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(uncapped.size == 1 + 500 * 499 / 2, s"got ${uncapped.size}")
    // the surviving pair's jaccard is EXACT under the cap: intersection is
    // recounted over the full shingle set, hot shingle included
    assert(capped((1L, 2L)) == uncapped((1L, 2L)))
  }

  test("blocked embedding cosine pairs == broadcast pairs, bit-identical") {
    // the distributed block-pair plan must find EVERY pair the broadcast
    // brute force finds, with the same cosine bits (index-order dots in
    // both) — recall 1.0 by construction, verified here
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("qv"))
    val broad = Dedup.embeddingCosinePairsBroadcast(e, "vec_id", "qv",
        threshold = 0.3, maxLocalVectors = 1000000L)
      .as[(Long, Long, Double)].collect().toSet
    assert(broad.nonEmpty)
    // small block count forces both diagonal and off-diagonal block logic
    val blocked = Dedup.embeddingCosinePairsBlocked(e, "vec_id", "qv",
        threshold = 0.3, blocks = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(blocked == broad,
      s"missed: ${(broad -- blocked).take(3)} extra: ${(blocked -- broad).take(3)}")
    // and the auto-gated front door picks the blocked plan above the gate
    val gated = Dedup.embeddingCosinePairs(e, "vec_id", "qv",
        threshold = 0.3, maxLocalVectors = 10L)
      .as[(Long, Long, Double)].collect().toSet
    assert(gated == broad)
  }

  test("hot-bucket cap in lshTopKPortable drops zero-information buckets") {
    // identical vectors all collide in every table; cap removes them while
    // distinct vectors keep their neighbors
    val base = (0 until 64).map(i => math.sin(i * 0.7))
    val distinct = (0L until 8L).map(i =>
      (i, (0 until 64).map(j => math.cos((j + 1) * (i + 1) * 0.31)).toArray))
    val clones = (100L until 400L).map(i => (i, base.toArray))
    val df = (distinct ++ clones).toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.lshTopKPortable(df, "vec_id", "embedding",
        dim = 64, k = 3, nBits = 2, tables = 2, maxBucketSize = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    // no clone pair survives; at 300 clones × anything the uncapped join
    // would dwarf this. Distinct ids may still rank each other.
    assert(out.forall { case (q, n) => q < 100 && n < 100 }, "clone pair leaked")
  }

  test("native array_dot matches interpreted zip_with/aggregate formulation") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100)
    val both = e.select(
        graft.functions.ArrayDot.array_dot(col("embedding"), col("embedding")).as("native"),
        aggregate(zip_with(col("embedding").cast("array<double>"),
            col("embedding").cast("array<double>"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v).as("hof"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) => assert(n == h) } // bit-identical
  }

  test("native array_quantize matches interpreted transform/floor formulation") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100)
    val both = e.select(
        Similarity.quantize(col("embedding")).as("native"),
        transform(col("embedding"), x => floor(x.cast("double") * lit(10000.0))
          .cast("double")).as("hof"))
      .as[(Seq[Double], Seq[Double])].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) => assert(n == h) } // element-wise identical
  }

  test("array_quantize preserves null slots and null arrays") {
    val df = Seq(
      (1L, Some(Seq(Some(1.25), None, Some(-0.37)))),
      (2L, None: Option[Seq[Option[Double]]]))
      .toDF("id", "v")
    val got = df.select(col("id"), Similarity.quantize(col("v"), 10.0).as("q"))
      .orderBy("id").collect()
    assert(got(0).getSeq[Any](1) == Seq(12.0, null, -4.0)) // floor rounds toward -inf
    assert(got(1).isNullAt(1))
  }

  test("cosine column: exact on known vectors") {
    val df = Seq(
      (1L, Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (2L, Seq(1.0, 2.0), Seq(2.0, 4.0)))
      .toDF("id", "a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(got(0) - 0.0) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak") {
    val df = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(1.0, 0.1)),
      (3L, Seq(0.0, 1.0)),
      (4L, Seq(1.0, 0.0)))
      .toDF("vec_id", "v")
    val got = Similarity.bruteForceTopK(df, "vec_id", "v",
        df.where($"vec_id" === 1), "vec_id", "v", 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(4L, 2L)) // 4 is identical (cos 1.0), then 2
  }

  test("ivfTopK recall vs brute force on sf0.001 embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", 64, 5,
        nCells = 16, nProbe = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.5, s"recall=$recall")
    // deterministic across invocations (seeded centroids)
    val again = Similarity.ivfTopK(e, "vec_id", "embedding", 64, 5,
        nCells = 16, nProbe = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf == again)
  }

  test("portable IVF topK keeps useful recall vs brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopKPortable(e, "vec_id", "embedding", 64, 5,
        nCells = 16, nProbe = 6, kmeansIters = 3, sampleN = 200)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.5, s"recall=$recall")
  }

  test("lshTopK recall vs brute force on sf0.001 embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(e, "vec_id", "embedding", 64, 5,
        nBits = 4, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    // multi-table (8×4-bit) hyperplane LSH on weakly-clustered vectors
    assert(recall > 0.5, s"recall=$recall")
    assert(lsh.nonEmpty)
  }
}

package graftbench

import java.util.SplittableRandom

/** Seeded input generators. One workload seed fixes every input; the
  * sizes below are constants so that two seeds differ in structure, never
  * in volume (run-to-run spread across seeds must stay inside the
  * benchmark's bounds). graft only ever sees the generated tables.
  */
object Inputs {

  /** Stream of independent generators, one per (seed, purpose). */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** Cumulative Zipf(s) weights over ranks 1..n, for inverse sampling. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val out = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); out(i) = acc; i += 1 }
      out.map(_ / acc)
    }
    /** 0-based rank. */
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---------------------------------------------------------------- graphs

  /** Lineitem-shaped table (l_orderkey, l_partkey, l_suppkey, l_quantity).
    * Part popularity is Zipf(1.0) over `nParts`; suppliers are four per
    * part as in TPC-H. Exactly round(`hotShare` × `nOrders`) orders, at
    * seeded positions, carry 40–80 lines, so after the co-order quantity
    * filter they still exceed the `maxItems = 8` group cap of
    * `Tables.coOrderPairEdges`; all other orders carry 1–7.
    */
  def lineitem(r: SplittableRandom, nOrders: Int, nParts: Int, nSupp: Int,
      hotShare: Double): Array[(Long, Long, Long, Double)] = {
    val z = new Zipf(nParts, 1.0)
    val hot = new Array[Boolean](nOrders + 1)
    var left = math.round(nOrders * hotShare).toInt
    while (left > 0) {
      val o = 1 + r.nextInt(nOrders)
      if (!hot(o)) { hot(o) = true; left -= 1 }
    }
    val out = Array.newBuilder[(Long, Long, Long, Double)]
    (1 to nOrders).foreach { o =>
      val k = if (hot(o)) 40 + r.nextInt(41) else 1 + r.nextInt(7)
      (0 until k).foreach { _ =>
        val p = 1L + z.sample(r)
        val s = 1L + (p + r.nextInt(4) * (nSupp / 4)) % nSupp
        out += ((o.toLong, p, s, (1 + r.nextInt(50)).toDouble))
      }
    }
    out.result()
  }

  // ---------------------------------------------------------------- corpus

  /** Generated corpus with known duplicate structure. */
  final case class Corpus(
      docs: Array[(Long, String)],
      /** groups of doc ids with byte-identical text (size >= 2) */
      exactGroups: Seq[Seq[Long]],
      /** (original, copy) pairs made by substituting `editShare` of words */
      nearPairs: Seq[(Long, Long)])

  /** `nDocs` documents of `words` space-separated words. Words are drawn
    * UNIFORMLY from a vocabulary of `vocabSize` random 3–8 letter strings:
    * a skewed (Zipf) vocabulary makes common word triples shared by
    * unrelated documents, and then accidental near-duplicates swamp the
    * planted ones and the recall check means nothing. Of the documents,
    * `exactShare` are verbatim copies of an earlier original and
    * `nearShare` are copies with `editShare` of their words substituted
    * (3-shingle Jaccard to the original ≈ 0.6–0.8, above the 0.5 verify
    * threshold). Ids are shuffled so copies are not adjacent to originals.
    */
  def corpus(r: SplittableRandom, nDocs: Int, words: Int, vocabSize: Int,
      exactShare: Double, nearShare: Double, editShare: Double): Corpus = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = {
      val seen = new java.util.HashSet[String]()
      val b = Array.newBuilder[String]
      while (seen.size < vocabSize) {
        val len = 3 + r.nextInt(6)
        val w = new String(Array.fill(len)(letters.charAt(r.nextInt(26))))
        if (seen.add(w)) b += w
      }
      b.result()
    }
    def fresh(): Array[String] = Array.fill(words)(vocab(r.nextInt(vocabSize)))
    val nExact = math.round(nDocs * exactShare).toInt
    val nNear = math.round(nDocs * nearShare).toInt
    val nOrig = nDocs - nExact - nNear
    val texts = new Array[Array[String]](nDocs)
    (0 until nOrig).foreach(i => texts(i) = fresh())
    val exactOf = new Array[Int](nExact)
    (0 until nExact).foreach { k =>
      val src = r.nextInt(nOrig); exactOf(k) = src
      texts(nOrig + k) = texts(src)
    }
    val nearOf = new Array[Int](nNear)
    (0 until nNear).foreach { k =>
      val src = r.nextInt(nOrig); nearOf(k) = src
      val t = texts(src).clone()
      (0 until math.round(words * editShare).toInt).foreach { _ =>
        t(r.nextInt(words)) = vocab(r.nextInt(vocabSize))
      }
      texts(nOrig + nExact + k) = t
    }
    // shuffled ids
    val ids = Array.tabulate(nDocs)(i => i.toLong + 1)
    var i = nDocs - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    val docs = Array.tabulate(nDocs)(d => (ids(d), texts(d).mkString(" ")))
    val exactGroups = (0 until nExact).groupBy(k => exactOf(k)).toSeq
      .map { case (src, ks) => (ids(src) +: ks.map(k => ids(nOrig + k))).sorted }
    val nearPairs = (0 until nNear).map(k => (ids(nearOf(k)), ids(nOrig + nExact + k)))
    Corpus(docs, exactGroups, nearPairs)
  }
}

package graftbench

import org.apache.spark.sql.Row
import scala.collection.mutable

/** Driver-side references for the output checks. Each is a direct,
  * single-threaded statement of the operator's documented semantics; none
  * runs inside a timed interval. */
object Reference {

  private final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(rb) = ra
    }
  }

  /** (node, component = smallest member name) over undirected edges. */
  def components(edges: Seq[(String, String)]): Seq[Row] = {
    val ids = mutable.LinkedHashMap[String, Int]()
    edges.foreach { case (a, b) => ids.getOrElseUpdate(a, ids.size); ids.getOrElseUpdate(b, ids.size) }
    val uf = new UnionFind(ids.size)
    edges.foreach { case (a, b) => uf.union(ids(a), ids(b)) }
    val minOf = mutable.HashMap[Int, String]()
    ids.foreach { case (name, i) =>
      val r = uf.find(i)
      if (minOf.get(r).forall(name.compareTo(_) < 0)) minOf(r) = name
    }
    ids.toSeq.map { case (name, i) => Row(name, minOf(uf.find(i))) }
  }

  /** `super_merger` on rows (src, dst, weight) in input order: each row
    * gets the 1-based number of its `src`'s component, components numbered
    * by the first appearance of any member (src before dst within a row). */
  def superMerger(rows: Seq[Row]): Seq[Row] = {
    val ids = mutable.LinkedHashMap[String, Int]() // insertion = first appearance
    val edges = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0).toString, r.get(1).toString))
    edges.foreach { case (a, b) => ids.getOrElseUpdate(a, ids.size); ids.getOrElseUpdate(b, ids.size) }
    val uf = new UnionFind(ids.size)
    edges.foreach { case (a, b) => uf.union(ids(a), ids(b)) }
    val groupOfRoot = mutable.HashMap[Int, Long]()
    ids.valuesIterator.foreach { i =>
      groupOfRoot.getOrElseUpdate(uf.find(i), groupOfRoot.size + 1L)
    }
    rows.map { r =>
      val g = if (r.isNullAt(0)) 0L
        else ids.get(r.get(0).toString).map(i => groupOfRoot(uf.find(i))).getOrElse(0L)
      Row.fromSeq(r.toSeq :+ g)
    }
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** (text_sha, n_copies, keep_id) per distinct text. */
  def exactDuplicates(docs: Seq[(Long, String)]): Seq[Row] =
    docs.groupBy(_._2).toSeq.map { case (text, ds) =>
      Row(sha256(text), ds.size.toLong, ds.map(_._1).min)
    }

  /** Distinct word 3-shingles (the whole text when shorter than 3 words). */
  private def shingles(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet else Set(text)
  }

  /** Pairs sharing a planted family (an original with its exact and near
    * copies), as (smaller id, larger id). */
  def plantedPairs(c: Inputs.Corpus): Set[(Long, Long)] = {
    val root = mutable.HashMap[Long, Long]()
    c.exactGroups.foreach(g => g.foreach(id => root(id) = g.head))
    c.nearPairs.foreach { case (orig, copy) => root(copy) = root.getOrElse(orig, orig); root.getOrElseUpdate(orig, orig) }
    root.toSeq.groupBy(_._2).values.flatMap { members =>
      val ids = members.map(_._1).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet
  }

  /** MinHash/LSH output check: every pair inside a planted exact group is
    * found (Jaccard 1 collides in every band), and every reported pair is
    * re-verified at or above the threshold with the reported Jaccard. */
  def checkPairs(rows: Seq[Row], c: Inputs.Corpus, threshold: Double): Option[String] = {
    val text = c.docs.toMap
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bad = rows.iterator.map { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val sa = shingles(text(a)); val sb = shingles(text(b))
      val exact = (sa intersect sb).size.toDouble / (sa union sb).size
      if (a >= b) Some(s"pair ($a, $b) not ordered")
      else if (exact < threshold) Some(s"pair ($a, $b) verifies at $exact < $threshold")
      else if (math.abs(exact - j) > 1e-12) Some(s"pair ($a, $b) reports $j, recomputed $exact")
      else None
    }.collectFirst { case Some(m) => m }
    bad.orElse {
      c.exactGroups.iterator.flatMap(g => for (i <- g.indices; k <- i + 1 until g.size) yield (g(i), g(k)))
        .find(p => !got.contains(p)).map(p => s"planted exact duplicate $p not found")
    }
  }

  /** Maximal duplicated spans, union over (n, minDocs) resolutions; spans
    * that touch or overlap merge. Rows (doc_id, start_pos, span_tokens). */
  def dupSpans(docs: Seq[(Long, String)], resolutions: Seq[(Int, Int)]): Seq[Row] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1) }
    val intervals = mutable.HashMap[Long, mutable.ArrayBuffer[(Long, Long)]]()
    resolutions.foreach { case (n, m) =>
      val docsOf = mutable.HashMap[String, Int]()
      toks.foreach { case (_, t) =>
        if (t.length >= n) t.sliding(n).map(_.mkString(" ")).toSet
          .foreach((g: String) => docsOf(g) = docsOf.getOrElse(g, 0) + 1)
      }
      toks.foreach { case (id, t) =>
        if (t.length >= n) t.sliding(n).zipWithIndex.foreach { case (g, p) =>
          if (docsOf(g.mkString(" ")) >= m)
            intervals.getOrElseUpdate(id, mutable.ArrayBuffer()) += ((p.toLong, p.toLong + n - 1))
        }
      }
    }
    intervals.toSeq.flatMap { case (id, iv) =>
      val sorted = iv.distinct.sorted
      val out = mutable.ArrayBuffer[Row]()
      var (s, e) = sorted.head
      sorted.tail.foreach { case (s2, e2) =>
        if (s2 > e + 1) { out += Row(id, s, e - s + 1); s = s2; e = e2 }
        else e = math.max(e, e2)
      }
      out += Row(id, s, e - s + 1)
      out
    }
  }

  private val WordRe = "[a-z0-9]+".r
  private def words(text: String): Seq[String] = WordRe.findAllIn(text.toLowerCase).toSeq

  /** (doc_id, n_tokens, n_unk, head_toks) with the default vocabulary. */
  def tokenStats(docs: Seq[(Long, String)]): Seq[Row] = {
    val vocab = graft.ops.Tokenizer.defaultVocab
    val vs = vocab.toSet; val maxLen = vocab.map(_.length).max
    val cache = mutable.HashMap[String, Seq[String]]()
    docs.map { case (id, text) =>
      val ws = words(text)
      val toks = ws.map(w => cache.getOrElseUpdate(w, graft.ops.Tokenizer.tokenizeWord(w, vs, maxLen)))
      Row(id, toks.map(_.size.toLong).sum, toks.map(_.count(_ == "?").toLong).sum,
        toks.take(8).flatten.take(8).mkString(" "))
    }
  }

  /** BPE training: each round merges the most frequent adjacent symbol pair
    * (count desc, then left, right ascending), greedily leftmost and
    * non-overlapping. Returns (merges, final segmentation). */
  def bpe(docs: Seq[(Long, String)], rounds: Int): (Seq[Row], Seq[Row]) = {
    val nw = mutable.HashMap[String, Long]()
    docs.foreach { case (_, t) => words(t).foreach(w => nw(w) = nw.getOrElse(w, 0L) + 1) }
    var seg: Map[String, Vector[(Int, String)]] =
      nw.keys.map(w => w -> w.indices.map(i => (i + 1, w.substring(i, i + 1))).toVector).toMap
    val merges = mutable.ArrayBuffer[Row]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val cnt = mutable.HashMap[(String, String), Long]()
      seg.foreach { case (w, s) =>
        var i = 0
        while (i + 1 < s.size) { val k = (s(i)._2, s(i + 1)._2); cnt(k) = cnt.getOrElse(k, 0L) + nw(w); i += 1 }
      }
      if (cnt.isEmpty) exhausted = true
      else {
        val ((a, b), c) = cnt.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        merges += Row(r, a, b, c)
        seg = seg.map { case (w, s) =>
          val out = Vector.newBuilder[(Int, String)]
          var i = 0
          while (i < s.size) {
            if (i + 1 < s.size && s(i)._2 == a && s(i + 1)._2 == b) { out += ((s(i)._1, a + b)); i += 2 }
            else { out += s(i); i += 1 }
          }
          w -> out.result()
        }
      }
      r += 1
    }
    (merges.toSeq, seg.toSeq.flatMap { case (w, s) => s.map { case (p, sym) => Row(w, p, sym) } })
  }
}

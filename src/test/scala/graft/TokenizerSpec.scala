package graft

import graft.ops.Tokenizer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TokenizerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vs = Tokenizer.defaultVocab.toSet
  private val mx = Tokenizer.defaultVocab.map(_.length).max

  test("greedy longest-match picks the longest prefix, not the first") {
    assert(Tokenizer.tokenizeWord("the", vs, mx) == Seq("the"))
    assert(Tokenizer.tokenizeWord("batch", vs, mx) == Seq("bat", "ch"))
    assert(Tokenizer.tokenizeWord("table", vs, mx) == Seq("tab", "le"))
    assert(Tokenizer.tokenizeWord("spark", vs, mx) == Seq("sp", "ark"))
    assert(Tokenizer.tokenizeWord("sort", vs, mx) == Seq("sor", "t"))
  }

  test("unknown characters emit ? and advance one char") {
    // q, x, z are deliberately not in the vocab (not even as singles)
    assert(Tokenizer.tokenizeWord("xyz", vs, mx) == Seq("?", "y", "?"))
    assert(Tokenizer.tokenizeWord("", vs, mx) == Seq.empty)
  }

  test("greedy is a left-to-right maximal munch (no backtracking)") {
    // "windo" : "wind" consumes 4 chars even though "w"+"i"+"ndo..." would
    // also tokenize; remaining "o" is a single
    assert(Tokenizer.tokenizeWord("windo", vs, mx) == Seq("wind", "o"))
  }

  test("tokenStats: counts, unk, and 8-token head per document") {
    val docs = Seq(
      (1L, "the batch table"),
      (2L, "xq"),
      (3L, ""),
      (4L, "a a a a a a a a a a")) // 10 words of 1 token each
      .toDF("doc_id", "text")
    val rows = Tokenizer.tokenStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq == Seq(
      (1L, 5L, 0L, "the bat ch tab le"),
      (2L, 2L, 2L, "? ?"),
      (3L, 0L, 0L, ""),
      (4L, 10L, 0L, "a a a a a a a a")))
  }

  /** The join tree that was tokenStats' distributed tier, kept as the
    * reference its one projection is checked against: words exploded
    * with their positions, each distinct word tokenized once, then two
    * joins, two `groupBy`s and two left joins back to the documents.
    * Unlike tokenStats it merges rows that share an id. */
  private def reference(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = Tokenizer.explodeWords(docs, idCol, textCol)
    // word-token sequences feed both the count agg and the head-token
    // assembly; persisted for the double consumption (repo convention:
    // LRU-evicted, never eagerly unpersisted under a returned lazy plan)
    val wordToks = Tokenizer.tokenizeDistinctWords(words, vocab)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wstats = wordToks.select(
      $"w",
      size($"toks").cast("long").as("n_tok"),
      size(filter($"toks", t => t === lit("?"))).cast("long").as("n_unk"))
    val dstats = words.join(wstats, "w")
      .groupBy(col(idCol))
      .agg(sum($"n_tok").as("n_tokens"), sum($"n_unk").as("n_unk"))
    val head = words.where($"wi" <= 8)
      .join(wordToks, "w")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct($"wi", $"toks"))).as("wl"))
      .select(col(idCol),
        concat_ws(" ",
          slice(flatten(expr("transform(wl, x -> x.toks)")), 1, 8)).as("head_toks"))
    docs.select(col(idCol))
      .join(dstats, Seq(idCol), "left")
      .join(head, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"n_unk", lit(0L)).as("n_unk"),
        coalesce($"head_toks", lit("")).as("head_toks"))
  }

  private def rows(d: DataFrame) = d.collect().map(r =>
    (String.valueOf(r.get(0)), r.getLong(1), r.getLong(2), r.getString(3))).toSeq.sorted

  /** tokenStats and its [[reference]] tier on ids that do not repeat:
    * asserts equal rows and schemas, and returns the rows as (id as
    * string, n_tokens, n_unk, head_toks). */
  private def tiers(docs: DataFrame, vocab: Seq[String] = Tokenizer.defaultVocab)
      : Seq[(String, Long, Long, String)] = {
    val got = Tokenizer.tokenStats(docs, "doc_id", "text", vocab)
    val ref = reference(docs, "doc_id", "text", vocab)
    assert(got.schema == ref.schema)
    val out = rows(got)
    assert(out == rows(ref))
    out
  }

  test("tokenStats ≡ the join-tree reference on text edges") {
    val docs = Seq(
      (Some(1L), "the batch table"), (Some(2L), "xq"), (Some(3L), ""),
      (Some(4L), "a a a a a a a a a a"),
      (Some(5L), "İSTANBUL Kİ straẞe ΣΑΣ Σx"), // İ lowercases to i + U+0307
      (Some(6L), "Mixed CASE w0rds, 42 and-more: the|end"),
      (Some(7L), null), (None, "the batch"), (None, "x"))
      .toDF("doc_id", "text").repartition(3)
    val got = tiers(docs)
    assert(got.contains(("5", 13L, 1L, "i st an b u l k i")), s"got $got")
    assert(got.contains(("7", 0L, 0L, "")) && got.count(_._1 == "null") == 2)
    assert(got.filter(_._1 == "null").forall(_._2 == 0L))
    // a vocab entry "?" still counts as an unknown token
    val withUnk = tiers(docs, Tokenizer.defaultVocab :+ "?")
    assert(withUnk.contains(("2", 2L, 2L, "? ?")))
    assert(tiers(docs.limit(0)).isEmpty)
  }

  test("tokenStats tiers agree on testdata, also with a sorted trained vocab") {
    val docs = Tables("documents")
    assert(tiers(docs).nonEmpty)
    val segs = graft.ops.BpeTrain.train(graft.ops.BpeTrain.corpusWords(docs, "text"), rounds = 3)._2
    val vocab = segs.select("sym").distinct().collect().map(_.getString(0)).toSeq
    assert(tiers(docs, vocab.sorted).nonEmpty)
  }

  test("tokenStats duplicate and double ids route to the distributed tier") {
    val dup = Seq((1L, "the batch"), (1L, "table"), (2L, "x")).toDF("doc_id", "text")
    assert(rows(Tokenizer.tokenStats(dup, "doc_id", "text")) == Seq(
      ("1", 2L, 0L, "tab le"), ("1", 3L, 0L, "the bat ch"), ("2", 1L, 1L, "?")))
    tiers(Seq((1.5, "the batch"), (2.5, "table")).toDF("doc_id", "text"))
  }

  test("tokenStats tiers agree on texts and ids that are not valid UTF-8") {
    val docs = Seq(("61ff", "41ff42c3"), ("61fe", "41fe42"), ("62", "ff"))
      .toDF("h_id", "h_text")
      .selectExpr("cast(unhex(h_id) as string) as doc_id",
        "cast(unhex(h_text) as string) as text")
    assert(tiers(docs).size == 3)
    def hexIds(d: DataFrame) = d.selectExpr("hex(doc_id)").collect().map(_.getString(0)).sorted
    assert(hexIds(Tokenizer.tokenStats(docs, "doc_id", "text")) ===
      hexIds(reference(docs, "doc_id", "text", Tokenizer.defaultVocab)))
  }

  test("tokenStats starts no Spark job until consumed") {
    val docs = Tables("documents")
    var stats: DataFrame = null
    assert(TestSpark.jobsOf { stats = Tokenizer.tokenStats(docs, "doc_id", "text") }.isEmpty)
    assert(TestSpark.jobsOf(stats.collect()).nonEmpty)
  }

  test("tokenStats over a parquet scan plans no Exchange and no join") {
    val stats = Tokenizer.tokenStats(Tables("documents"), "doc_id", "text")
    assert(stats.collect().nonEmpty)
    val plan = stats.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"), plan)
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("tokenFrequencies: multiplicity-weighted corpus counts") {
    val docs = Seq((1L, "the the batch"), (2L, "batch")).toDF("doc_id", "text")
    val freqs = Tokenizer.tokenFrequencies(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(freqs == Map("the" -> 2L, "bat" -> 2L, "ch" -> 2L))
  }

  test("pipeline ≡ local kernel on the real corpus words") {
    val docs = Tables("documents")
    val words = Tokenizer.explodeWords(docs, "doc_id", "text")
    val fromPipeline = Tokenizer.tokenizeDistinctWords(words)
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toList)).toMap
    fromPipeline.foreach { case (w, toks) =>
      assert(toks == Tokenizer.tokenizeWord(w, vs, mx).toList, s"word $w")
    }
    assert(fromPipeline.nonEmpty)
  }

  private def Tables(name: String) =
    spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
}

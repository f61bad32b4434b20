package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Real subword tokenization by greedy longest-match against an explicit
  * vocabulary — the public WordPiece-style matching loop (no continuation
  * markers): at each position take the longest vocab entry that prefixes
  * the remainder; if none matches, emit the `?` unknown token and advance
  * one character. Replaces the regex run-count proxy
  * ([[TextStats.bpeishTokenCount]]) with token sequences that are actually
  * vocab-dependent, so chunking/packing budgets mean something.
  *
  * Scale shape: tokenization depends only on the word string, so the
  * corpus explodes to words once, tokenizes only DISTINCT words (a
  * vocabulary-sized table, the same trick as rare-token scoring), and
  * joins the per-word token sequences back; [[tokenStats]], which is per
  * row, segments each row's words in place. The vocab ships in the task
  * closure (it is a small explicit list); no driver state grows with the
  * corpus.
  */
object Tokenizer {

  /** Explicit subword vocabulary: multi-char fragments plus single chars.
    * `q`, `x`, `z` are deliberately absent so the unknown path (`?`) is
    * exercised on real data. Mirrored verbatim into the DuckDB oracle via
    * [[vocabValuesSql]].
    */
  val defaultVocab: Seq[String] = Seq(
    "the", "key", "agg", "row", "tab", "le", "val", "ue", "sp", "ark",
    "wind", "ow", "pa", "rt", "ha", "sh", "sc", "an", "mer", "ge", "bat",
    "ch", "sor", "lin", "ne", "fa", "st", "slo", "qu", "er", "y",
    "a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "l", "m", "n",
    "o", "p", "r", "s", "t", "u", "v", "w",
    "0", "1", "2", "3", "4", "5", "6", "7", "8", "9")

  /** The vocab as a SQL VALUES list for the oracle's `vocab(tok)` CTE. */
  def vocabValuesSql(vocab: Seq[String] = defaultVocab): String =
    vocab.map(v => s"('$v')").mkString(", ")

  /** Greedy longest-match of one word. Pure function of (word, vocab) —
    * the single-node kernel applied per distinct word inside tasks
    * ([[tokenizeDistinctWords]]) and per word by the
    * [[graft.functions.TokenStats]] expression.
    */
  def tokenizeWord(w: String, vocab: Set[String], maxLen: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var pos = 0
    while (pos < w.length) {
      var l = math.min(maxLen, w.length - pos)
      var hit: String = null
      while (l >= 1 && hit == null) {
        val s = w.substring(pos, pos + l)
        if (vocab.contains(s)) hit = s else l -= 1
      }
      if (hit == null) { out += "?"; pos += 1 }
      else { out += hit; pos += hit.length }
    }
    out.result()
  }

  /** Lowercased `[a-z0-9]+` word runs with their 1-based position. */
  def explodeWords(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
        col(idCol),
        posexplode(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))))
      .select(col(idCol), (col("pos") + 1).cast("int").as("wi"), col("col").as("w"))

  /** (w, toks array<string>) for every DISTINCT word in `words`. The
    * per-partition tight loop is the honest implementation here (same
    * policy as broadcast scoring/decode): a trie walk per character beats
    * any Catalyst expression tree for variable-length longest-match.
    */
  def tokenizeDistinctWords(words: DataFrame, vocab: Seq[String] = defaultVocab): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val maxLen = vocab.map(_.length).max
    val vocabList = vocab // stable local for the closure
    words.select($"w").distinct().as[String]
      .mapPartitions { it =>
        val vs = vocabList.toSet
        it.map(w => (w, tokenizeWord(w, vs, maxLen)))
      }
      .toDF("w", "toks")
  }

  /** Per-document token stats: (idCol, n_tokens, n_unk, head_toks) where
    * head_toks is the first 8 tokens space-joined. One projection of the
    * [[graft.functions.TokenStats]] kernel over each row's lowercased
    * `[a-z0-9]+` words (Spark's own `lower` and `regexp_extract_all`), so
    * the call starts no job and its plan holds no shuffle. A null id or a
    * null text gives 0, 0, ""; rows sharing an id each get their own
    * text's stats. `graft.tools.TextTierSweep tokenstats` (4 cores, 1 GB
    * heap) measured this plan at 2.48 s and +170 MB of heap for 10M
    * tokens of 60-token docs, against 3.76 s and +533 MB for the
    * driver-local tier it replaced and 12.8 s and +572 MB for the join
    * tree.
    */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String] = defaultVocab): DataFrame = {
    val words = when(col(idCol).isNotNull,
      regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0)))
    docs.select(col(idCol), graft.functions.TokenStats.token_stats(words, vocab).as("token_stats"))
      .select(col(idCol), col("token_stats.*"))
  }

  /** Corpus-wide token frequencies: (tok, n_occurrences) — multiplicity
    * per word occurrence, the table a BPE trainer's merge step would
    * consume. */
  def tokenFrequencies(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String] = defaultVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = explodeWords(docs, idCol, textCol)
    val perWord = tokenizeDistinctWords(words, vocab)
    words.groupBy($"w").agg(count(lit(1)).as("n_w"))
      .join(perWord, "w")
      .select(explode($"toks").as("tok"), $"n_w")
      .groupBy($"tok").agg(sum($"n_w").as("n_occurrences"))
  }

  /** TF-IDF top terms per document over REAL subword tokens,
    * integer-quantized for cross-engine exactness: idf is the per-mille
    * inverse document frequency `(N · 1000) div df(tok)` (no `ln` — libm
    * differs across engines), weight = tf · idf. Top `k` tokens per doc
    * by (weight desc, token asc) via the k-slot string aggregate — no
    * window sort over the doc-token table. Returns
    * (idCol, rank, tok, weight).
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int,
      vocab: Seq[String] = defaultVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = explodeWords(docs, idCol, textCol)
    val docToks = words
      .join(tokenizeDistinctWords(words, vocab), "w")
      .select(col(idCol), explode($"toks").as("tok"))
    val tf = docToks.groupBy(col(idCol), $"tok").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val totals = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(totals))
      .withColumn("weight", expr("tf * ((n_docs * 1000) div df)"))
      .groupBy(col(idCol))
      .agg(graft.functions.TopKByAgg.top_k_by_str(
        $"weight".cast("double"), $"tok", k).as("arr"))
      .select(col(idCol), posexplode($"arr"))
      .select(col(idCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.payload").as("tok"), col("col.score").cast("long").as("weight"))
  }
}

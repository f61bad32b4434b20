package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
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
  * joins the per-word token sequences back. The vocab ships in the task
  * closure (it is a small explicit list); no driver state grows with the
  * corpus beyond [[tokenStats]]' size-gated driver-local tier.
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
    * the single-node kernel applied per distinct word inside tasks.
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
    * head_toks is the first 8 tokens space-joined (the first 8 words
    * suffice — every word yields at least one token, so the collect_list
    * buffer is bounded at 8 structs regardless of document size).
    *
    * @param maxLocalTokens driver-local tier cap on the token count over
    *   the texts, a text counting at least an eighth of its UTF-8 bytes
    *   ([[graft.core.Gate.textUnits]]) and any row, a null text's too, at
    *   least [[graft.core.Gate.RowUnits]]: within it one probe and one
    *   collect bring the (id, text) rows to the driver, which lowercases
    *   each text's stored bytes through Spark's own `lower`
    *   (`CollationSupport.Lower`, honouring
    *   `spark.sql.icu.caseMappings.enabled`), extracts `[a-z0-9]+` words
    *   as `regexp_extract_all` does, tokenizes each distinct word once with
    *   [[tokenizeWord]], and returns one row per input row as a
    *   LocalRelation with the distributed schema (a null id or a null text
    *   gives 0, 0, "", as the distributed left joins do). Duplicate
    *   non-null ids (whose words the distributed `groupBy` merges), ids
    *   that are neither integral nor string, a text column that is not a
    *   string, and anything over the cap fall through to the distributed
    *   tier; 0 forces it. The default is measured
    *   (`graft.tools.TextTierSweep tokenstats`, 4 cores, 1 GB heap): at
    *   10M tokens of 60-token docs (166,667 rows, the most the row floor
    *   admits) the local tier took 4.1 s against 19.6 s distributed and
    *   raised the heap by at most ~360 MB; 166k docs of 1–5 tokens took
    *   1.5–1.8 s against 4.1 s at ~290–330 MB.
    */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String] = defaultVocab,
      maxLocalTokens: Long = 10_000_000L): DataFrame = {
    localTokenStats(docs, idCol, textCol, vocab, maxLocalTokens) match {
      case Some(local) => return local
      case None => // over the cap or a contract edge: distributed tier
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val words = explodeWords(docs, idCol, textCol)
    // word-token sequences feed both the count agg and the head-token
    // assembly; persisted for the double consumption (repo convention:
    // LRU-evicted, never eagerly unpersisted under a returned lazy plan)
    val wordToks = tokenizeDistinctWords(words, vocab)
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

  /** [[tokenStats]]'s driver-local tier, or None when it must not run: one
    * probe of the size, then — only within the cap — one collect of every
    * (id, text) row, as [[graft.core.Gate.collectTexts]] gives them (the
    * texts' stored bytes, a row counting at least [[graft.core.Gate.RowUnits]]). */
  private def localTokenStats(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String], cap: Long): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val (idField, rows) = graft.core.Gate.collectTexts(docs, idCol, textCol, cap,
      nullTexts = true, maxNullIds = Int.MaxValue)
      .getOrElse(return None)
    val maxLen = vocab.map(_.length).max
    val vs = vocab.toSet
    val icu = {
      val e = SQLConf.ICU_CASE_MAPPINGS_ENABLED
      docs.sparkSession.conf.get(e.key, e.defaultValueString).toBoolean
    }
    val word = java.util.regex.Pattern.compile("[a-z0-9]+")
    val empty = UTF8String.fromString("")
    // distinct word -> (its tokens, how many are "?")
    val memo = scala.collection.mutable.HashMap.empty[String, (Seq[String], Long)]
    val out = rows.iterator.map { case (id, t) =>
      if (id == null || t == null) InternalRow(id, 0L, 0L, empty)
      else {
        // regexp_extract_all matches on the lowered text's String form
        val m = word.matcher(CollationSupport.Lower.exec(t,
          CollationFactory.UTF8_BINARY_COLLATION_ID, icu).toString)
        var nTok = 0L
        var nUnk = 0L
        val head = scala.collection.mutable.ArrayBuffer.empty[String]
        while (m.find()) {
          val (toks, unk) = memo.getOrElseUpdate(m.group(), {
            val ws = tokenizeWord(m.group(), vs, maxLen)
            (ws, ws.count(_ == "?").toLong)
          })
          nTok += toks.size
          nUnk += unk
          if (head.length < 8) head ++= toks
        }
        InternalRow(id, nTok, nUnk, UTF8String.fromString(head.take(8).mkString(" ")))
      }
    }
    Some(graft.core.Gate.localFrame(docs.sparkSession, StructType(Seq(
      idField,
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_unk", LongType, nullable = false),
      StructField("head_toks", StringType, nullable = false))), out))
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

  /** Column helper: used by callers that only need a count estimate and
    * already have the stats table. */
  def unknownRatio: Column =
    when(col("n_tokens") === 0, lit(0.0))
      .otherwise(col("n_unk").cast("double") / col("n_tokens"))
}

package graft

import graft.ops.{AssociationRules, Betweenness, ConnectedComponents, Dedup, KMeansEmbed, Multimodal, PageRank, Sessionize, ShortestPaths, Similarity, TextStats, Tokenizer}
import graft.queries.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryHelpers._

/** Driver-contract registry — text / dedup / ANN / multimodal / tokenization / curation.
  * One slice of [[SparkEntry.queries]]/[[SparkEntry.oracleSql]]; entries
  * moved verbatim in the r10 split (no semantic change, guarded by the
  * duplicate-key check in SparkEntry).
  */
private[graft] object TextQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> { (s, d) =>
      Dedup.exactDuplicates(Tables.documents(s, d), "doc_id", "text")
        .orderBy("text_sha")
    },
    "q_dedup_keep_best" -> { (s, d) =>
      // survivor selection by quality, not id: keeper = longest copy
      // (n_chars), ties → smallest doc_id — the curation-pipeline variant
      // of exact dedup
      Dedup.exactDedupKeepBest(Tables.documents(s, d), "doc_id", "text",
          "n_chars")
        .orderBy("text_sha")
    },
    "q_dedup_ngram" -> { (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
    "q_dedup_prefix" -> { (s, d) =>
      // PPJoin-style prefix filtering: same exact pair set and scores as
      // q_dedup_ngram (the oracle SQL is literally shared) from a far
      // smaller candidate join — the 100 TB path for EXACT jaccard dedup
      Dedup.ngramJaccardPairsPrefix(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
    "q_dedup_edit" -> { (s, d) =>
      // Levenshtein near-dups: shingle-blocked candidates, length
      // pre-filter, banded 3-arg levenshtein verification — catches
      // aligned small-edit dups token-set measures miss
      Dedup.editDistancePairs(Tables.documents(s, d), "doc_id", "text",
          maxDist = 20, n = 3)
        .orderBy("id_a", "id_b")
    },
    "q_dedup_passage" -> { (s, d) =>
      // sub-document dedup: per-doc count of 16-token passages repeated
      // anywhere in the corpus (boilerplate signal document-level dedup
      // cannot see)
      Dedup.passageDuplication(Tables.documents(s, d), "doc_id", "text",
          passageTokens = 16)
        .orderBy("doc_id")
    },
    "q_dedup_minhash" -> { (s, d) =>
      // MinHash(64)+LSH(16 bands) candidates, exact-Jaccard verified.
      // Portable md5 hashing → full DuckDB oracle (the xxhash64 variant
      // stays as the throughput path, recall-tested in ScalaTest)
      Dedup.minHashLshPairsPortable(Tables.documents(s, d), "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
    "q_dedup_winnow" -> { (s, d) =>
      // winnowing fingerprints (Dedup.winnowingPairs — the MOSS
      // selection): per-doc sliding-window minimum of md5 4-gram hashes,
      // pairs mined through the fingerprint index, exact
      // fingerprint-Jaccard >= 0.5 — the fourth blocking family, with
      // the w+n-1 shared-run detection guarantee
      Dedup.winnowingPairs(Tables.documents(s, d), "doc_id", "text",
          n = 4, w = 5, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
    "q_dedup_simhash" -> { (s, d) =>
      // 64-bit SimHash from md5 halves, 4×16-bit bands (exact ≤ 3 bits by
      // pigeonhole) → full DuckDB oracle
      Dedup.simHashPairsPortable(Tables.documents(s, d), "doc_id", "text",
          maxBits = 3)
        .orderBy("id_a", "id_b")
    },
    "q_dedup_embed" -> { (s, d) =>
      // cosine near-dup over ×10000-quantized embeddings: integer dot
      // products are exact in any summation order → bit-identical to the
      // DuckDB oracle. Runs the distributed block-pair plan — no driver
      // vector collect anywhere in the plan (the broadcast variant is
      // bit-identical and auto-selected by embeddingCosinePairs below the
      // gate; this query showcases the 100 TB shape).
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      Dedup.embeddingCosinePairsBlocked(q, "vec_id", "qv", threshold = 0.3)
        .orderBy("id_a", "id_b")
    },
    "q_dedup_clusters" -> { (s, d) =>
      // the step after pair mining: near-dup pairs (portable MinHash+LSH)
      // collapsed into dedup clusters via connected components — keeper is
      // the component's min doc id; per-cluster sizes out
      val pairs = Dedup.minHashLshPairsPortable(Tables.documents(s, d),
          "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      Dedup.nearDupClusters(pairs, "id_a", "id_b")
        .groupBy(col("component").as("keeper"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("keeper")
    },
    "q_split_leakage" -> { (s, d) =>
      // train/test contamination audit (ops/SplitLeakage): deterministic
      // md5 80/20 split crossed with the MinHash+LSH near-dup pairs —
      // every cross-split pair is memorization leaking into the held-out
      // metric; one 3-row aggregate over the mined pair table
      val pairs = Dedup.minHashLshPairsPortable(Tables.documents(s, d),
          "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      graft.ops.SplitLeakage.crossSplitPairs(pairs, "id_a", "id_b",
          salt = "split", testPermille = 200)
        .orderBy("split_a", "split_b")
    },
    "q_split_leakage_cross" -> { (s, d) =>
      // streaming-monitor form of the leakage audit (SplitLeakage
      // .crossCorpusLeaks, wrapped by streaming/StreamSplitLeakage):
      // docs with doc_id % 7 == 0 play the arriving batch, the rest the
      // frozen reference corpus; every cross-split near-dup pair is a
      // leak event — shingle-index candidates, uncapped-set Jaccard
      val docs = Tables.documents(s, d)
      graft.ops.SplitLeakage.crossCorpusLeaks(
          docs.where(pmod(col("doc_id"), lit(7)) === 0),
          docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
          "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("new_id", "ref_id")
    },
    "q_bm25" -> { (s, d) =>
      // BM25-shaped lexical retrieval (ops/Bm25): three fixed queries
      // against the corpus — ppm-floored Robertson-ratio idf (no libm
      // log), exact cross-multiplied tf saturation (k1=6/5, b=3/4),
      // top-10 per query via the k-slot aggregate
      import s.implicits._
      val qs = Seq((1L, "hash"), (1L, "join"), (2L, "slow"), (2L, "scan"),
        (2L, "filter"), (3L, "vector"), (3L, "data"))
        .toDF("query_id", "term")
      graft.ops.Bm25.topKDocs(Tables.documents(s, d), "doc_id", "text",
          qs, k = 10)
        .orderBy("query_id", "rank")
    },
    "q_ann_topk" -> { (s, d) =>
      // exact brute-force cosine top-5 for the first 20 vectors
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      Similarity.bruteForceTopK(q, "vec_id", "qv",
          q.where(col("vec_id") < 20), "vec_id", "qv", k = 5)
        .orderBy("query_id", "rank")
    },
    "q_ann_lsh" -> { (s, d) =>
      // SMALL-N ORACLE PIN (VERDICT r11 item 1): hyperplane-LSH bucketed
      // ANN at a FIXED width (nBits=6 is a DuckDB oracle literal), kept
      // in the gate only to pin the fixed-width arithmetic. The query
      // side is BOUNDED to ids < 64 so candidate volume is
      // |queries|·tables·occupancy — linear in N — instead of the
      // unbounded all-pairs form's ~N² (r10 probe: 92× at ×16). The form
      // a 100 TB user runs — width derived from COUNT(*), all ids
      // queried — is q_ann_lsh_auto.
      val e = Tables.embeddings(s, d)
      Similarity.lshTopKPortable(e, "vec_id", "embedding", dim = 64, k = 5,
          nBits = 6, tables = 4, seed = 42L, queryPred = col("id") < 64)
        .orderBy("query_id", "rank")
    },
    "q_ann_multiprobe" -> { (s, d) =>
      // multi-probe LSH (Similarity.lshTopKMultiProbe): HALF the hash
      // tables of q_ann_lsh, each query also probing its nBits Hamming-1
      // buckets — the memory-for-probes trade every large ANN deployment
      // makes; candidates are a superset of same-table single-probe
      // (recall-ordering spec'd), arithmetic identical -> hash-exact
      Similarity.lshTopKMultiProbe(Tables.embeddings(s, d), "vec_id",
          "embedding", dim = 64, k = 5, nBits = 6, tables = 2, seed = 42L)
        .orderBy("query_id", "rank")
    },
    "q_ann_pq" -> { (s, d) =>
      // product-quantization ANN: per-subspace quantized-Lloyd codebooks,
      // m-byte codes, asymmetric-distance ranking — the memory-compressed
      // ANN form; all-integer distances → hash-exact oracle
      Similarity.pqTopKPortable(Tables.embeddings(s, d), "vec_id",
          "embedding", dim = 64, k = 5)
        .orderBy("query_id", "rank")
    },
    "q_ann_ivf" -> { (s, d) =>
      // SMALL-N ORACLE PIN (VERDICT r11 item 1): IVF-cell ANN at FIXED
      // width (nCells=16, sampleN=200 are oracle literals, the seeded
      // Lloyd init is embedded as literal rows), kept in the gate only
      // to pin the fixed-width quantized-Lloyd arithmetic. The query
      // side is BOUNDED to ids < 64 so probe cost is
      // |queries|·nProbe·occupancy — linear in N — instead of the
      // all-queries form's ~N² (r10 probe: 101× at ×16). The deployable
      // √N-cells form is q_ann_ivf_auto / q_ann_ivfpq_auto.
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopKPortable(e, "vec_id", "embedding", dim = 64, k = 5,
          nCells = 16, nProbe = 4, kmeansIters = 3, sampleN = 200, seed = 42L,
          queryPred = col("id") < 64)
        .orderBy("query_id", "rank")
    },
    "q_ann_ivfpq" -> { (s, d) =>
      // IVF-PQ (IVFADC): coarse cells restrict WHICH codes a query scores,
      // residual product codes are WHAT it scores them with — PQ's
      // sub-quadratic scale path (q_ann_pq's exhaustive ADC scan never
      // runs here); all-integer residual ADC → hash-exact oracle
      Similarity.ivfPqTopKPortable(Tables.embeddings(s, d), "vec_id",
          "embedding", dim = 64, k = 5, nCells = 16, nProbe = 4, m = 16,
          ksub = 16, candR = 50, kmeansIters = 2, sampleN = 200, seed = 42L)
        .orderBy("query_id", "rank")
    },
    "q_ann_lsh_auto" -> { (s, d) =>
      // WIDTH-ADAPTIVE LSH behind the gate (VERDICT r10 item 1): nBits is
      // derived from COUNT(*) on BOTH sides (Spark autoNBits / the
      // oracle's params CTE over prefix-stable plane literals), so the
      // form a 100 TB user would run — occupancy held at 32, candidate
      // volume linear in N where q_ann_lsh's fixed width is quadratic —
      // is hash-exact at any sf, not just the gate corpus
      Similarity.lshTopKAutoPortable(Tables.embeddings(s, d), "vec_id",
          "embedding", dim = 64, k = 5, targetOccupancy = 32, tables = 4,
          seed = 42L)
        .orderBy("query_id", "rank")
    },
    "q_ann_ivf_auto" -> { (s, d) =>
      // WIDTH-ADAPTIVE IVF behind the gate: ceil(√N) cells + stride init
      // (the SQL-expressible seeding), sampleN from the same rule the
      // oracle derives — assignment and probe passes N^1.5 where
      // q_ann_ivf's fixed 16 cells probe-flagged 101× at ×16
      Similarity.ivfTopKAutoPortable(Tables.embeddings(s, d), "vec_id",
          "embedding", dim = 64, k = 5, nProbe = 4, kmeansIters = 3)
        .orderBy("query_id", "rank")
    },
    "q_ann_ivfpq_auto" -> { (s, d) =>
      // WIDTH-ADAPTIVE IVF-PQ behind the gate: √N coarse cells, stride
      // init at both codebook levels, residual ADC inside probed cells
      // only — the deployable compressed-index sizing, oracle-derived
      // widths end to end
      Similarity.ivfPqTopKAutoPortable(Tables.embeddings(s, d), "vec_id",
          "embedding", dim = 64, k = 5, nProbe = 4, m = 16, ksub = 16,
          candR = 50, kmeansIters = 2)
        .orderBy("query_id", "rank")
    },
    "q_ann_incremental" -> { (s, d) =>
      // INCREMENTAL IVF (VERDICT r11 item 5): the last 64 ids arrive as
      // a batch against the frozen-codebook ledger of the rest — the
      // per-batch path a 100 TB pipeline runs instead of re-indexing.
      // Widths derive from the EPOCH count on both sides; the oracle is
      // ivfAutoOracle with widths from COUNT(*)−64 and tail-only probes.
      // ledger(A)+B ≡ full(A∪B, queries=B) parity is IncrementalAnnSpec.
      val e = Tables.embeddings(s, d)
      val cut = e.count() - 64
      Similarity.incrementalIvfTopKAuto(
          e.where(col("vec_id") < cut), e.where(col("vec_id") >= cut),
          "vec_id", "embedding", dim = 64, k = 5, nProbe = 4,
          kmeansIters = 3)
        .orderBy("query_id", "rank")
    },
    "q_ann_cell_stats" -> { (s, d) =>
      // IVF index-health audit (r12): per-cell occupancy under the
      // width-adaptive frozen codebook, dead cells included, hot flag at
      // 8x design occupancy — the re-freeze signal for the incremental
      // ledger family; oracle reuses the auto assignment CTE chain
      Similarity.ivfCellStatsAuto(Tables.embeddings(s, d), "vec_id",
          "embedding", dim = 64, kmeansIters = 3)
        .orderBy("cell")
    },
    "q_tokenize" -> { (s, d) =>
      // real greedy longest-match subword tokenization against the
      // explicit vocab; head_toks cell-compares the actual token SEQUENCE
      // of the first 8 words, not just counts
      Tokenizer.tokenStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },
    "q_token_freq" -> { (s, d) =>
      // corpus-wide token frequencies — the table a BPE trainer's merge
      // step consumes; distinct-word tokenization joined back with word
      // multiplicities
      Tokenizer.tokenFrequencies(Tables.documents(s, d), "doc_id", "text")
        .orderBy("tok")
    },
    "q_token_gini" -> { (s, d) =>
      // per-source token concentration (TextStats.tokenConcentration):
      // integer HHI/Gini over whitespace-token counts — the boilerplate/
      // spam diversity screen, no libm entropy
      graft.ops.TextStats.tokenConcentration(Tables.documents(s, d),
          "source", "text")
        .orderBy("key")
    },
    "q_gopher_rules" -> { (s, d) =>
      // Gopher-style quality rule battery (ops/GopherRules): per-doc
      // integer evidence + 0/1 flags, scan-speed column algebra —
      // replace-length symbol counting, no libm, no UDF
      graft.ops.GopherRules.ruleFlags(Tables.documents(s, d),
          "doc_id", "text")
        .orderBy("id")
    },
    "q_length_batches" -> { (s, d) =>
      // length-bucketed batching (Features.lengthBucketedBatches): pad-
      // waste-bounded training batches via ONE global range exchange —
      // bucket-leading sort + per-bucket offsets, no per-bucket window
      graft.ops.Features.lengthBucketedBatches(Tables.documents(s, d),
          "doc_id", "n_chars", bucketWidth = 64, batchSize = 16)
        .orderBy("id")
    },
    "q_target_encode" -> { (s, d) =>
      // smoothed target encoding of order priority against a high-value
      // flag (ops/TargetEncode): ppm integer shrinkage toward the global
      // rate, m = 20 pseudo-counts
      graft.ops.TargetEncode.encoderTable(Tables.orders(s, d),
          "o_orderpriority", col("o_totalprice") > 150000.0, smoothing = 20L)
        .orderBy("category")
    },
    "q_tfidf" -> { (s, d) =>
      // top-3 TF-IDF terms per doc over the real token stream; integer
      // per-mille idf (no ln — not oracle-portable), k-slot aggregate
      // instead of a window sort
      Tokenizer.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    },
    "q_tokenize_trained" -> { (s, d) =>
      // end-to-end: train BPE merges on the corpus, then greedy-tokenize
      // the same corpus against the LEARNED symbol inventory. The vocab
      // collect is vocabulary-sized (distinct trained symbols), limit-
      // capped — the same bounded-scalar class as the per-round argmax
      val docs = Tables.documents(s, d)
      val segs = graft.ops.BpeTrain.train(
        graft.ops.BpeTrain.corpusWords(docs, "text"), rounds = 3)._2
      val cap = 1 << 20
      val vocab = graft.core.Gate.collectAtMost(segs.select(col("sym")).distinct(), cap)
        .getOrElse(throw new IllegalArgumentException(s"trained vocab exceeds $cap symbols"))
        .map(_.getString(0)).toSeq
      Tokenizer.tokenStats(docs, "doc_id", "text", vocab.sorted)
        .orderBy("doc_id")
    },
    "q_bpe_merges" -> { (s, d) =>
      // distributed BPE vocabulary training, 3 merge rounds: the learned
      // (left, right) merges with their weighted pair counts — greedy
      // leftmost non-overlapping semantics replayed by the unrolled oracle
      graft.ops.BpeTrain.train(
          graft.ops.BpeTrain.corpusWords(Tables.documents(s, d), "text"),
          rounds = 3)._1
        .orderBy("round")
    },
    "q_bpe_segments" -> { (s, d) =>
      // the corpus segmentation after those 3 merges — cell-comparing it
      // implicitly verifies every per-round argmax and merge decision
      graft.ops.BpeTrain.train(
          graft.ops.BpeTrain.corpusWords(Tables.documents(s, d), "text"),
          rounds = 3)._2
        .orderBy("w", "pos")
    },
    "q_text_stats" -> { (s, d) =>
      // integer token statistics rolled up per (lang, source); the one
      // ratio column is a single final division (deterministic)
      TextStats.withTokenStats(Tables.documents(s, d), "text")
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tot_tokens"),
          sum(col("n_chars")).as("tot_chars"),
          sum(col("n_distinct")).as("tot_distinct"),
          sum(col("n_stop")).as("tot_stop"),
          sum(TextStats.bpeishTokenCount("text")).as("tot_bpe_tokens"),
          (sum(col("n_stop")).cast("double") / sum(col("n_tokens"))).as("stop_ratio"))
        .orderBy("lang", "source")
    },
    "q_lang_id" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), TextStats.langId("text").as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    },
    "q_rare_tokens" -> { (s, d) =>
      // corpus-frequency rarity per document (ops/TextStats
      // .rareTokenScore): tokens with document-frequency <= 2 are "rare";
      // integer counts + integer division → hash-exact oracle
      TextStats.rareTokenScore(Tables.documents(s, d), "doc_id", "text",
          rareDf = 2L)
        .orderBy("doc_id")
    },
    "q_repetition" -> { (s, d) =>
      // Gopher-style repetition filters (ops/TextStats.repetitionStats):
      // duplicate-bigram / top-bigram / duplicate-5-gram token fractions
      // per document, integer per-mille — doc-keyed shuffles only
      val docs = Tables.documents(s, d)
      val r2 = TextStats.repetitionStats(docs, "doc_id", "text", 2)
        .select(col("doc_id"), col("total_ngrams").as("total_bigrams"),
          col("dup_permille").as("dup2_permille"),
          col("top_permille").as("top2_permille"))
      val r5 = TextStats.repetitionStats(docs, "doc_id", "text", 5)
        .select(col("doc_id"), col("dup_permille").as("dup5_permille"))
      r2.join(r5, Seq("doc_id")).orderBy("doc_id")
    },
    "q_source_cap" -> { (s, d) =>
      // per-source diversity cap (Sampling.capPerStratum): ≤ 10 docs per
      // source by deterministic 52-bit md5 priority, k-slot aggregate
      graft.ops.Sampling.capPerStratum(Tables.documents(s, d),
          Seq("source"), "doc_id", cap = 10, salt = "cap")
        .orderBy("source", "rank")
    },
    "q_doc_sim" -> { (s, d) =>
      // inverted-index sparse TF-IDF cosine top-3 (ops/DocSimilarity):
      // posting-list self-join (no cross join), df-capped vectors,
      // decimal-exact squared-cosine per-mille, k-slot top-k aggregate
      graft.ops.DocSimilarity.topKSimilarDocs(Tables.documents(s, d),
          "doc_id", "text", k = 3, maxDf = 200)
        .orderBy("doc_id", "rank")
    },
    "q_doc_sim_auto" -> { (s, d) =>
      // WIDTH-ADAPTIVE maxDf (VERDICT r11 item 6): df cap derived from
      // COUNT(*) on both sides (max(2, N·500‰) — "drop tokens in more
      // than half the corpus"), so vector membership is scale-invariant
      // where q_doc_sim's fixed 200 empties the vectors as N grows
      graft.ops.DocSimilarity.topKSimilarDocsAuto(Tables.documents(s, d),
          "doc_id", "text", k = 3, maxDfPermille = 500)
        .orderBy("doc_id", "rank")
    },
    "q_decontam" -> { (s, d) =>
      // benchmark decontamination (ops/Decontaminate): deterministic
      // md5-split carves an "eval corpus" out of documents, then each
      // train doc is scored by the fraction of its 3-gram shingles that
      // collide with ANY eval n-gram (broadcast eval-side probe)
      val split = graft.ops.Sampling.hashSplit(Tables.documents(s, d),
        "doc_id", Seq("eval" -> 100, "train" -> 1000), salt = "decontam")
      val ev = split.where(col("split") === "eval")
      val train = split.where(col("split") === "train")
      graft.ops.Decontaminate.flagContaminated(train, ev, "doc_id", "text",
          n = 3, thresholdPermille = 200)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    "q_fingerprint" -> { (s, d) =>
      // native codegen'd Catalyst expression (ScalaTest proves it equals
      // the column-algebra formula the oracle mirrors)
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.functions.token_fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
    "q_quality" -> { (s, d) =>
      TextStats.withTokenStats(Tables.documents(s, d), "text")
        .select(col("doc_id"), TextStats.qualityScore.as("quality"))
        .orderBy("doc_id")
    },
    "q_chunks" -> { (s, d) =>
      // document chunking (ops/Chunker): 64-token windows, 16-token
      // overlap — pure per-row collection algebra, zero shuffles before
      // the final orderBy. Chunk text digested to md5 so the oracle
      // cell-compares every chunk's exact content
      graft.ops.Chunker.chunkByTokens(Tables.documents(s, d), "doc_id",
          "text", chunkTokens = 64, overlapTokens = 16)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },
    "q_curate" -> { (s, d) =>
      // full curation pipeline: exact dedup → ngram near-dedup → quality
      // gate → language id; every stage is engine-portable so the whole
      // pipeline has a composed DuckDB oracle
      graft.ops.Curation.curate(Tables.documents(s, d), "doc_id", "text",
          minQuality = 0.3, jaccardThreshold = 0.5, shingleSize = 3)
        .select(col("doc_id"), col("quality"), col("lang_pred"))
        .orderBy("doc_id")
    },
    "q_multimodal" -> { (s, d) =>
      // binary-asset pipeline: pack → partition-wise (stubbed) decode →
      // feature extraction → per-kind/format rollup. The decode stub
      // derives metadata from md5(payload) (byte-defined), so the rollup
      // hash-matches a DuckDB oracle mirroring the same formulas
      val assets = Multimodal.decodeAssets(
        Multimodal.packAssets(Tables.documents(s, d), "doc_id", "text"))
      Multimodal.extractFeatures(assets, dim = 8)
        .groupBy(col("kind"), col("meta.format").as("format"))
        .agg(count(lit(1)).as("n_assets"),
          sum(col("meta.width").cast("long")).as("tot_width"),
          sum(length(col("payload")).cast("long")).as("tot_bytes"))
        .orderBy("kind", "format")
    },
    "q_multimodal_imageio" -> { (s, d) =>
      // REAL image decode through the AssetDecoder boundary: synthesize a
      // tiny constant-gray PNG per doc (dims + gray derived from doc_id by
      // formula), decode with pure-JVM javax.imageio, report the DECODED
      // width/height/format/luma. The oracle re-derives the formula from
      // doc_id alone — it matches only if the PNG encode→decode round
      // trip really happened (no stub involved)
      import s.implicits._
      val ids = Tables.documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
      val assets = ids.mapPartitions(_.map { id =>
        val w = (1 + id % 16).toInt
        val h = (1 + (id / 16) % 16).toInt
        val gray = (id % 256).toInt
        (id, "image", Multimodal.syntheticPng(w, h, gray))
      }).toDF("asset_id", "kind", "payload")
      Multimodal.decodeAssetsWithStats(assets, Multimodal.ImageIoDecoder)
        .select(col("asset_id"), col("width"), col("height"), col("format"),
          expr("luma_sum div n_pixels").as("gray"))
        .orderBy("asset_id")
    },
    "q_multimodal_ann" -> { (s, d) =>
      // the full multimodal story in ONE plan: binary payloads →
      // partition-wise decode → portable md5-lane features → bucketed
      // hyperplane-LSH ANN top-3. Every stage is byte-defined, so the
      // whole pipeline hash-matches a DuckDB oracle.
      val assets = Multimodal.decodeAssets(
        Multimodal.packAssets(Tables.documents(s, d), "doc_id", "text"))
      // r13 OPT (guide §2.1, VERDICT r12 item 3): widen the feature table
      // before indexing — the decode pass leaves 1-2 partitions on a
      // small single-file corpus, so the LSH bucket self-join fan-out +
      // cosine rerank (this query's dominant stage: 0.88 s / 2 tasks /
      // 15 MB written at sf0.1) streamed through 2 tasks. Gated no-op at
      // real scale; same per-query widen precedent as q_set_cover's gram
      // build. (Widening inside lshTopKPortable instead regressed the
      // tiny-corpus q_ann_lsh pins 4x — see OPTIMIZATION_r13.md.)
      val feats = Similarity.widen(
        Multimodal.extractFeaturesPortable(assets, dim = 8)
          .select(col("asset_id"), col("features")), "asset_id")
      Similarity.lshTopKPortable(feats, "asset_id", "features", dim = 8,
          k = 3, nBits = 4, tables = 2, seed = 42L)
        .orderBy("query_id", "rank")
    },
    "q_kmeans" -> { (s, d) =>
      // fully distributed Lloyd (per-partition k×dim partial stats, only
      // the merged sums reach the driver — the 100 TB shape, unlike the
      // sample-based Lloyd inside q_ann_ivf). Integer-quantized vectors,
      // floorDiv centroid updates, (dist, cluster) argmin ties → the
      // whole 2-iteration fit + final assignment is hash-exact vs the
      // unrolled-CTE DuckDB oracle.
      KMeansEmbed.assignments(Tables.embeddings(s, d), "vec_id",
          "embedding", k = 8, iters = 2)
        .orderBy("vec_id")
    },
    "q_kmeans_fps" -> { (s, d) =>
      // farthest-point (deterministic k-means++-style) seeding: spreads
      // the initial centroids instead of taking the k smallest ids —
      // k-1 extra broadcast-map + top-1 corpus passes, same distributed
      // Lloyd machinery after
      KMeansEmbed.assignments(Tables.embeddings(s, d), "vec_id",
          "embedding", k = 4, iters = 1, farthestPoint = true)
        .orderBy("vec_id")
    },
    "q_semdedup" -> { (s, d) =>
      // SemDeDup (Abbas et al. 2023): k-means partition, then exact
      // cosine dedup only WITHIN a cluster — Σ|cell|² pair work instead
      // of n². A vector is a dup iff a smaller-id same-cluster vector
      // clears the cosine threshold.
      KMeansEmbed.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 8, iters = 2, threshold = 0.35)
        .orderBy("vec_id")
    },
    "q_novelty" -> { (s, d) =>
      // first-occurrence 3-gram novelty per document — the per-doc "is
      // this fresh content or boilerplate" curation signal; no pair join,
      // two shingle-keyed shuffles (ops/TextStats.noveltyScores)
      TextStats.noveltyScores(Tables.documents(s, d), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },
    "q_multimodal_resize" -> { (s, d) =>
      // pack → decode → aspect-preserving integer resize into a 256×256
      // box (audio passthrough, payload truncated by area ratio) →
      // per-kind/format rollup of the post-resize dims and bytes
      val assets = Multimodal.decodeAssets(
        Multimodal.packAssets(Tables.documents(s, d), "doc_id", "text"))
      Multimodal.resizeAssets(assets, maxW = 256, maxH = 256)
        .groupBy(col("kind"), col("meta.format").as("format"))
        .agg(count(lit(1)).as("n_assets"),
          sum(col("meta.width").cast("long")).as("tot_width"),
          sum(col("meta.height").cast("long")).as("tot_height"),
          sum(length(col("payload")).cast("long")).as("tot_bytes"))
        .orderBy("kind", "format")
    },
    "q_domain_affinity" -> { (s, d) =>
      // DSIR-style importance signal with target = English docs: exact
      // cross-multiplied likelihood-ratio test on md5-hashed bigram
      // buckets (no logs — integer-exact), affinity = permille of a
      // doc's features in target-affine buckets (ops/DomainAffinity)
      graft.ops.DomainAffinity.score(Tables.documents(s, d), "doc_id",
          "text", targetPred = col("lang") === "en")
        .orderBy("doc_id")
    },
    "q_keywords" -> { (s, d) =>
      // top-3 rarity-weighted keywords per document (TextStats.keywords):
      // integer tf·(1e6 div df) scoring, ranked by the k-slot string
      // top-k aggregate instead of a window sort over every token row
      graft.ops.TextStats.keywords(Tables.documents(s, d),
          "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    },
    "q_hard_negatives" -> { (s, d) =>
      // contrastive hard-negative mining (Similarity.hardNegatives):
      // top-5 most-similar DIFFERENT-label vectors per query — broadcast
      // query batch, one corpus scan, k-slot top-k aggregate
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        graft.ops.Similarity.quantize(col("embedding")).as("qv"), col("label"))
      graft.ops.Similarity.hardNegatives(e, "vec_id", "qv", "label",
          e.where(col("vec_id") < 20), k = 5)
        .orderBy("query_id", "rank")
    },
    "q_mixture" -> { (s, d) =>
      // training-mixture sampling (ops/Mixture): 50/30/20 target shares
      // over three sources, 30-row budget — per-source per-mille rates
      // from quota arithmetic, identity-hash acceptance, others dropped
      graft.ops.Mixture.mixSample(Tables.documents(s, d), "doc_id", "source",
          Seq("src0" -> 500, "src1" -> 300, "src2" -> 200),
          totalTarget = 30L, salt = "mix")
        .select(col("doc_id"), col("source"), col("rate_permille"))
        .orderBy("doc_id")
    },
    "q_mix_temperature" -> { (s, d) =>
      // temperature-scaled mixture (Mixture.temperatureMix): target
      // shares DERIVED from the corpus, p(source) ∝ √n (T=2 — the one
      // power IEEE guarantees exactly, so the weights are engine-
      // portable), largest-remainder permille apportionment, then the
      // same identity-hash acceptance as q_mixture
      graft.ops.Mixture.temperatureMix(Tables.documents(s, d), "doc_id",
          "source", totalTarget = 40L, salt = "tmix")
        .select(col("doc_id"), col("source"), col("share_permille"),
          col("rate_permille"))
        .orderBy("doc_id")
    },
    "q_collocations" -> { (s, d) =>
      // document-level token collocation lift (ops/Collocations):
      // integer sufficient stats + double lift, df-capped pairing
      graft.ops.Collocations.collocations(Tables.documents(s, d),
          "doc_id", "text", maxDf = 400L, minPairCount = 20L)
        .orderBy("x", "y")
    },
    "q_multimodal_dedup" -> { (s, d) =>
      // thumbnail-level exact asset dedup (Multimodal.dedupAssets):
      // payloads packed from the 40-char text prefix stand in for sampled
      // first-frame thumbnails — identical bytes collapse to the smallest
      // asset id, digest-keyed shuffle carries no payloads
      val thumbs = Multimodal.packAssets(
        Tables.documents(s, d).select(col("doc_id"),
          substring(col("text"), 1, 40).as("text")),
        "doc_id", "text")
      Multimodal.dedupAssets(thumbs).orderBy("digest")
    },
    "q_skipgrams" -> { (s, d) =>
      // word2vec training-pair extraction (ops/Skipgrams): forward
      // window-2 (center, context) counts over the corpus, one doc-keyed
      // window for all leads + one map-side-combined count
      graft.ops.Skipgrams.skipgramCounts(Tables.documents(s, d), "doc_id",
          "text", window = 2, minCount = 20L)
        .orderBy("center", "context")
    },
    "q_dedup_contain" -> { (s, d) =>
      // containment near-dup (Dedup.containmentPairs): catches short-doc-
      // inside-long-doc duplication that Jaccard structurally misses
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, thresholdPermille = 800L)
        .orderBy("id_a", "id_b")
    },
    "q_split_strata" -> { (s, d) =>
      // exact-fraction 80/20 stratified split (ops/Splits): every
      // (lang, source) stratum gets exactly floor(0.8n) train rows,
      // ranked by the replayable md5 permutation
      graft.ops.Splits.stratifiedSplit(
          Tables.documents(s, d).select("doc_id", "lang", "source"),
          "doc_id", Seq("lang", "source"), trainNum = 4, trainDen = 5)
        .select("doc_id", "lang", "source", "split")
        .orderBy("doc_id")
    },
    "q_label_noise" -> { (s, d) =>
      // label-noise detection: for each of the first 500 vectors, how many
      // of its 10 nearest neighbors (exact cosine over the shared ×10000
      // quantization) share its label — minority agreement flags a suspect
      // label. The label-QA pass of an embedding-classifier pipeline;
      // the LSH/IVF ANN variants are the documented scale path for the
      // neighbor search.
      val emb = Tables.embeddings(s, d)
      val q = emb.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("qv"))
      val topk = Similarity.bruteForceTopK(q, "vec_id", "qv",
        q.where(col("vec_id") < 500), "vec_id", "qv", k = 10)
      val lab = emb.select(col("vec_id"), col("label"))
      topk
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("q_label")), "query_id")
        .join(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), "neighbor_id")
        .groupBy(col("query_id"), col("q_label"))
        .agg(sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
            .as("n_agree"),
          count(lit(1)).as("k_found"))
        .withColumn("suspect", col("n_agree") * 2 < col("k_found"))
        .orderBy("query_id")
    },
    "q_lm_score" -> { (s, d) =>
      // CCNet-style LM quality scoring (ops/LmScore): bigram model
      // trained on the lang='en' slice, every document scored by its mean
      // conditional bigram probability in ppm — integer-exact (no logs),
      // model join is a plain bigram-keyed shuffle (model size unbounded)
      graft.ops.LmScore.score(Tables.documents(s, d), "doc_id", "text",
          col("lang") === "en")
        .orderBy("doc_id")
    },
    "q_decontam_embed" -> { (s, d) =>
      // embedding-space decontamination (Decontaminate.embedOverlap):
      // eval = the vec_id % 97 == 0 slice (broadcast), corpus streams
      // through one scan of codegen ArrayDot cosines; quantized vectors
      // make dot/norms exact so the doubles hash-match the oracle
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      graft.ops.Decontaminate.embedOverlap(q, "vec_id", "qv",
          q.where(pmod(col("vec_id"), lit(97L)) === 0L), "vec_id", "qv",
          threshold = 0.25)
        .orderBy("id")
    },
    "q_source_overlap" -> { (s, d) =>
      // source-level corpus overlap (ops/SourceOverlap): df-capped
      // 5-gram inverted index rolled up to source pairs — which feeds
      // mirror each other, in containment permille of the smaller side
      graft.ops.SourceOverlap.pairOverlap(Tables.documents(s, d),
        "source", "text", n = 5, maxDf = 16)
    },
    "q_centroid_shift" -> { (s, d) =>
      // embedding drift between labels (EmbedStats.centroidShift):
      // exact integer centroid sums, portable dot/sqrt cosine
      graft.ops.EmbedStats.centroidShift(Tables.embeddings(s, d),
        "label", "embedding")
    },
    "q_blocking_quality" -> { (s, d) =>
      // blocking-quality audit (ops/BlockingQuality): does SimHash band
      // blocking retain the trigram-Jaccard>=0.5 truth pairs, and how
      // much of the all-pairs work does it eliminate?
      val docs = Tables.documents(s, d)
      graft.ops.BlockingQuality.evaluate(
        graft.ops.Dedup.simHashBandCandidates(docs, "doc_id", "text"),
        graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = 0.5),
        docs)
    },
    "q_canonicalize" -> { (s, d) =>
      // cluster → canonical record consensus (Dedup.canonicalize): the
      // post-dedup election — longest member wins (tie min id), majority
      // language, absorption accounting; min-struct argmax throughout
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashLshPairsPortable(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      Dedup.canonicalize(docs, "doc_id", "text", "lang", "source",
          Dedup.nearDupClusters(pairs, "id_a", "id_b"))
        .orderBy("cluster")
    },
    "q_target_leakage" -> { (s, d) =>
      // leave-one-out leakage audit of the mean encoder
      // (TargetEncode.looLeakageAudit) over a HIGH-cardinality category
      // (custkey): small categories with big LOO gaps are memorized
      // labels, not features
      graft.ops.TargetEncode.looLeakageAudit(Tables.orders(s, d),
          "o_custkey", col("o_totalprice") > 150000.0, smoothing = 20L)
        .orderBy("category")
    },
    "q_ann_recall2" -> { (s, d) =>
      // recall@5 of the OTHER two index families vs exact brute force
      // (AnnAudit.recallAtK): IVF and PQ side by side — with q_ann_recall
      // every approximate index in the engine is recall-audited
      val e = Tables.embeddings(s, d)
      val q = e.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("qv"))
      val truth = Similarity.bruteForceTopK(q, "vec_id", "qv",
        q.where(col("vec_id") < 20), "vec_id", "qv", k = 5)
      val ivf = Similarity.ivfTopKPortable(e, "vec_id", "embedding",
          dim = 64, k = 5, nCells = 16, nProbe = 4, kmeansIters = 3,
          sampleN = 200, seed = 42L, queryPred = col("id") < 20)
      val pq = Similarity.pqTopKPortable(e, "vec_id", "embedding",
          dim = 64, k = 5, queryPred = col("id") < 20)
      graft.ops.AnnAudit.recallAtK(truth, ivf)
        .withColumn("method", lit("ivf"))
        .unionByName(graft.ops.AnnAudit.recallAtK(truth, pq)
          .withColumn("method", lit("pq")))
        .orderBy("method", "query_id")
    },
    "q_ann_recall_ivfpq" -> { (s, d) =>
      // recall@5 of the composed IVF-PQ index vs exact brute force — the
      // audit the verdict asked to sit alongside q_ann_recall2, closing
      // the loop on PQ's sub-quadratic path (accuracy, not just shape)
      val e = Tables.embeddings(s, d)
      val q = e.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("qv"))
      val truth = Similarity.bruteForceTopK(q, "vec_id", "qv",
        q.where(col("vec_id") < 20), "vec_id", "qv", k = 5)
      val ivfpq = Similarity.ivfPqTopKPortable(e, "vec_id", "embedding",
          dim = 64, k = 5, nCells = 16, nProbe = 4, m = 16, ksub = 16,
          candR = 50, kmeansIters = 2, sampleN = 200, seed = 42L,
          queryPred = col("id") < 20)
      graft.ops.AnnAudit.recallAtK(truth, ivfpq).orderBy("query_id")
    },
    "q_kmeans_distortion" -> { (s, d) =>
      // per-cluster distortion rollup of the distributed Lloyd fit:
      // SSE / max / floored mean of the exact integer distances — the
      // "is k right" audit next to q_kmeans's assignments
      KMeansEmbed.assignments(Tables.embeddings(s, d), "vec_id",
          "embedding", k = 8, iters = 2)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"), sum(col("dist")).as("sse"),
          max(col("dist")).as("max_dist"))
        .withColumn("mean_dist", expr("sse div n_vecs"))
        .orderBy("cluster")
    },
    "q_minhash_error" -> { (s, d) =>
      // MinHash estimator audit (Dedup.minHashEstimateAudit): matching-
      // lane estimate vs exact shingle Jaccard over all pairs of the
      // first 40 docs — completes the sketch trust-but-verify family
      graft.ops.Dedup.minHashEstimateAudit(
        Tables.documents(s, d).where(col("doc_id") < 40),
        "doc_id", "text", n = 3, numHashes = 64)
        .orderBy("id_a", "id_b")
    },
    "q_ann_recall" -> { (s, d) =>
      // recall@5 audit of the LSH index vs exact brute force
      // (ops/AnnAudit): per-query hit counts over the two k-bounded
      // lists — the trust-but-verify step before shipping an ANN index
      val e = Tables.embeddings(s, d)
      val q = e.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("qv"))
      val truth = Similarity.bruteForceTopK(q, "vec_id", "qv",
        q.where(col("vec_id") < 20), "vec_id", "qv", k = 5)
      val approx = Similarity.lshTopKPortable(e, "vec_id", "embedding",
          dim = 64, k = 5, nBits = 6, tables = 4, seed = 42L,
          queryPred = col("id") < 20) // audit pushdown: score 20 queries, not 32k
      graft.ops.AnnAudit.recallAtK(truth, approx)
    },
    "q_ann_recall_auto" -> { (s, d) =>
      // recall@5 audit of the WIDTH-ADAPTIVE LSH index (r11): the same
      // trust-but-verify as q_ann_recall, over lshTopKAutoPortable —
      // the form a 100 TB deployment runs; its oracle derives nBits from
      // COUNT(*) like the index itself, so the audit too is hash-exact
      // at any sf
      val e = Tables.embeddings(s, d)
      val q = e.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("qv"))
      val truth = Similarity.bruteForceTopK(q, "vec_id", "qv",
        q.where(col("vec_id") < 20), "vec_id", "qv", k = 5)
      val approx = Similarity.lshTopKAutoPortable(e, "vec_id", "embedding",
          dim = 64, k = 5, targetOccupancy = 32, tables = 4, seed = 42L,
          queryPred = col("id") < 20)
      graft.ops.AnnAudit.recallAtK(truth, approx)
    },
    "q_rrf_fusion" -> { (s, d) =>
      // reciprocal-rank fusion (ops/RankFusion) of two ANN scorers over
      // the same query batch: exact cosine top-20 + inner-product top-20,
      // fused by integer 1e6 div (60 + rank) — k-slot aggregates, no
      // window sorts anywhere
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      val queries = emb.where(col("vec_id") < 20)
      val ra = Similarity.bruteForceTopK(emb, "vec_id", "qv",
        queries, "vec_id", "qv", k = 20)
      val rb = graft.ops.RankFusion.innerProductTopK(emb, "vec_id", "qv",
        queries, "vec_id", "qv", k = 20)
      graft.ops.RankFusion.reciprocalRankFusion(Seq(ra, rb), k0 = 60,
          topK = 5)
        .orderBy("query_id", "rank")
    },
    "q_chi2_tokens" -> { (s, d) =>
      // χ² token–language association (ops/ChiSquare): which tokens
      // predict lang='en'? φ² in exact ppm via digit-carried long
      // division — the feature-selection pass of a quality classifier
      graft.ops.ChiSquare.tokenLabel(
        Tables.documents(s, d).select(
          split(col("text"), " ").as("toks"),
          (col("lang") === "en").as("label")),
        "toks", "label")
    },
    "q_feature_hash" -> { (s, d) =>
      // signed feature hashing (ops/FeatureHash): 64-bucket hashing-
      // trick vectors per document, no vocabulary state anywhere
      graft.ops.FeatureHash.hashFeatures(
          Tables.documents(s, d).select(col("doc_id"),
            split(col("text"), " ").as("toks")),
          "doc_id", "toks", bits = 6)
        .orderBy("doc_id", "bucket")
    },
    "q_dedup_snm" -> { (s, d) =>
      // sorted-neighborhood dedup (Dedup.sortedNeighborhoodPairs): the
      // third blocking family — text-prefix sort key, rank window 8,
      // exact 3-gram Jaccard on the O(N*w) candidates
      Dedup.sortedNeighborhoodPairs(Tables.documents(s, d), "doc_id",
          "text", window = 8, n = 3, thresholdPermille = 500)
        .orderBy("id_a", "id_b")
    },
    "q_epoch_batches" -> { (s, d) =>
      // deterministic epoch shuffling (Features.epochBatches): per-epoch
      // md5 permutation + one global range-partitioned rank for ALL
      // epochs, cut into fixed batches — the replayable training reader
      graft.ops.Features.epochBatches(Tables.documents(s, d), "doc_id",
          epochs = 2, batchSize = 64)
        .orderBy("id", "epoch")
    },
    "q_embed_gram" -> { (s, d) =>
      // distributed covariance sufficient statistics (EmbedStats
      // .gramMatrix): one mapPartitions pass folds rows into dim×dim
      // exact Long partials — dim² numbers shuffle, never rows; the
      // driver-side PCA eigensolve consumes exactly this table
      graft.ops.EmbedStats.gramMatrix(
          Tables.embeddings(s, d)
            .select(Similarity.quantize(col("embedding")).as("qv")),
          "qv", dim = 64)
        .orderBy("i", "j")
    },
    "q_vocab_drift" -> { (s, d) =>
      // pairwise total-variation drift between source vocabularies
      // (ops/VocabDrift): hashed-bucket token distributions in integer
      // per-mille, L1 over the tiny distribution table — the log-free
      // domain-drift monitor (KL needs libm, not oracle-portable)
      graft.ops.VocabDrift.drift(Tables.documents(s, d), "source", "text",
          buckets = 1024)
        .orderBy("src_a", "src_b")
    },
    "q_sq_recall" -> { (s, d) =>
      // int8 scalar-quantization recall audit (Similarity.sqCodes +
      // AnnAudit.recallAtK): top-5 cosine ranking on 0..255 SQ codes vs
      // exact brute force — completes the recall-audited index family
      // (LSH, IVF, PQ, SQ)
      val e = Tables.embeddings(s, d)
      val q = e.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("qv"))
      val truth = Similarity.bruteForceTopK(q, "vec_id", "qv",
        q.where(col("vec_id") < 20), "vec_id", "qv", k = 5)
      val codes = Similarity.sqCodes(e, "vec_id", "embedding")
      val approx = Similarity.bruteForceTopK(codes, "vec_id", "recon",
        codes.where(col("vec_id") < 20), "vec_id", "recon", k = 5)
      graft.ops.AnnAudit.recallAtK(truth, approx)
    },
    "q_linkage_clusters" -> { (s, d) =>
      // end-to-end entity resolution: q_record_linkage's 'link'-class
      // pairs collapsed into entity clusters via min-label CC
      // (Dedup.nearDupClusters), per-cluster member counts — the
      // pair->entity step every ER pipeline ends with
      import graft.ops.RecordLinkage.Comparator
      val pairs = graft.ops.RecordLinkage.scorePairs(
        Tables.customer(s, d), "c_custkey",
        Tables.supplier(s, d), "s_suppkey",
        col("c_nationkey"), col("s_nationkey"),
        Seq(
          Comparator(
            expr("CAST(FLOOR(ABS(c_acctbal) * 100) AS BIGINT) % 10"),
            expr("CAST(FLOOR(ABS(s_acctbal) * 100) AS BIGINT) % 10"),
            18L, -2L),
          Comparator(floor(col("c_acctbal") / lit(1000.0)).cast("long"),
            floor(col("s_acctbal") / lit(1000.0)).cast("long"), 15L, -3L),
          Comparator(expr("right(c_name, 2)"), expr("right(s_name, 2)"),
            25L, -1L)),
        linkThreshold = 40L, possibleThreshold = 40L)
        .select(concat(lit("C"), col("id_a")).as("id_a"),
          concat(lit("S"), col("id_b")).as("id_b"))
      graft.ops.Dedup.nearDupClusters(pairs, "id_a", "id_b")
        .groupBy(col("component").as("entity"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("entity")
    },
    "q_phash_dedup" -> { (s, d) =>
      // perceptual-hash near-dup pairs over packed multimodal assets
      // (Multimodal.phashNearDup): 60-bit pHash stand-in, 4-band LSH
      // bucketing (pigeonhole: Hamming < 4 always caught), exact
      // bit_count(xor) verify — candidate volume bounded by band
      // buckets, never all-pairs
      graft.ops.Multimodal.phashNearDup(
        graft.ops.Multimodal.packAssets(Tables.documents(s, d),
          "doc_id", "text"),
        bands = 4, maxHamming = 20).orderBy("id_a", "id_b")
    },
    "q_phash_pixels" -> { (s, d) =>
      // DECODED-PIXEL perceptual hash (r11, VERDICT r10 item 6): gradient
      // PNGs built from a doc_id formula (seed = doc_id % 1024, so docs
      // sharing a seed are pixel-identical), javax.imageio decode → 8×8
      // pooled-luma average-hash → the same band/verify plumbing as
      // q_phash_dedup. The oracle re-derives each pHash from the id
      // FORMULA — it can only match if real pixels round-tripped
      import s.implicits._
      val ids = Tables.documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
      val assets = ids.mapPartitions(_.map { id =>
        (id, "image", graft.ops.Multimodal.syntheticGradientImage(
          16, 16, (id % 1024).toInt))
      }).toDF("asset_id", "kind", "payload")
      graft.ops.Multimodal.phashPixelNearDup(assets,
          graft.ops.Multimodal.ImageIoDecoder, bands = 4, maxHamming = 8)
        .orderBy("id_a", "id_b")
    },
    "q_knn_shapley" -> { (s, d) =>
      // KNN-Shapley data valuation (ops/DataValue): closed-form Shapley
      // of each training vector for a 5-NN classifier over a sampled
      // test set (id mod 25) — term-wise ppm flooring turns the
      // recurrence into an exact suffix sum both engines replay
      graft.ops.DataValue.knnShapley(Tables.embeddings(s, d), "vec_id",
        "embedding", "label", k = 5, testModulus = 25L)
        .orderBy("train_id")
    },
    "q_label_noise_class" -> { (s, d) =>
      // per-CLASS kNN label-noise audit (ops/LabelNoise): how many probe
      // points' 5 nearest neighbors mostly DISAGREE with the point's own
      // label, rolled up per label class — the confident-learning triage
      // complement of q_label_noise's per-vector agreement counts; exact
      // integer L2, k-slot aggregate (no window)
      graft.ops.LabelNoise.knnLabelAudit(Tables.embeddings(s, d), "vec_id",
        "embedding", "label", k = 5, probeModulus = 4L)
        .orderBy("label")
    },
    "q_record_linkage" -> { (s, d) =>
      // Fellegi-Sunter scoring pass (ops/RecordLinkage): customers vs
      // suppliers blocked on nation, three literal deci-ban field
      // comparators (acctbal cents digit, kilobuck acctbal bucket, name
      // suffix), classified link/possible; sub-threshold pairs dropped
      // so output stays candidate-sized
      import graft.ops.RecordLinkage.Comparator
      graft.ops.RecordLinkage.scorePairs(
        Tables.customer(s, d), "c_custkey",
        Tables.supplier(s, d), "s_suppkey",
        col("c_nationkey"), col("s_nationkey"),
        Seq(
          Comparator(
            expr("CAST(FLOOR(ABS(c_acctbal) * 100) AS BIGINT) % 10"),
            expr("CAST(FLOOR(ABS(s_acctbal) * 100) AS BIGINT) % 10"),
            18L, -2L),
          Comparator(floor(col("c_acctbal") / lit(1000.0)).cast("long"),
            floor(col("s_acctbal") / lit(1000.0)).cast("long"), 15L, -3L),
          Comparator(expr("right(c_name, 2)"), expr("right(s_name, 2)"),
            25L, -1L)),
        linkThreshold = 40L, possibleThreshold = 20L)
        .orderBy("id_a", "id_b")
    },
    "q_dbscan_grid" -> { (s, d) =>
      // grid-density clustering over the first two embedding axes
      // (ops/Density.gridDbscan): eps = 1/8 (power of two -> exact cell
      // assignment), core cells >= 10 pts, clusters = CC over 8-adjacent
      // core cells, borders take the MIN adjacent cluster — all cluster
      // structure on the cell dimension, points only map-side-join in
      graft.ops.Density.gridDbscan(Tables.embeddings(s, d), "vec_id",
        "embedding", eps = 0.125, minPts = 10L).orderBy("id")
    },
    "q_dup_spans" -> { (s, d) =>
      // cross-doc duplicated-span mining (ops/DupSpans): maximal token
      // ranges whose every 4-gram occurs in >= 2 distinct docs — the
      // position-level boilerplate signal (Lee et al. 2022 flavor);
      // entity-keyed windows + one gram-keyed count, no doc pairs ever
      graft.ops.DupSpans.dupSpans(Tables.documents(s, d), "doc_id", "text",
        n = 4, minDocs = 2).orderBy("doc_id", "start_pos")
    },
    "q_dup_spans_multi" -> { (s, d) =>
      // MULTI-RESOLUTION dup spans (ops/DupSpans.dupSpansMulti): token
      // coverage unioned across (4-gram, >=4 docs), (8-gram, >=3),
      // (16-gram, >=2) and merged into maximal spans — long verbatim
      // matches at low support, short grams only as broad boilerplate
      // (the suffix-array trade of Lee et al. 2022 at n-gram cost);
      // still zero doc-pair joins
      graft.ops.DupSpans.dupSpansMulti(Tables.documents(s, d), "doc_id",
          "text", Seq((4, 4), (8, 3), (16, 2)))
        .orderBy("doc_id", "start_pos")
    },
    "q_pii_scrub" -> { (s, d) =>
      // regex redaction pass (ops/Redact): PII-shaped patterns (email,
      // phone) prove zero false positives on this corpus; the third
      // corpus-hitting pattern exercises the rewrite+count plumbing.
      // One codegen'd projection, zero shuffles before the sort
      graft.ops.Redact.scrub(Tables.documents(s, d), "doc_id", "text", Seq(
        graft.ops.Redact.Pattern("email",
          "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
        graft.ops.Redact.Pattern("phone", "[0-9]{3}-[0-9]{4}", "<PHONE>"),
        graft.ops.Redact.Pattern("speed", "\\b(slow|fast)\\b", "<SPEED>")))
        .orderBy("doc_id")
    },
    "q_blocklist" -> { (s, d) =>
      // token-aligned phrase blocklist (ops/Blocklist): mixed 1/2/3-token
      // phrases from one shared lead set, broadcast phrase join
      graft.ops.Blocklist.phraseMatches(Tables.documents(s, d), "doc_id",
          "text",
          Seq("batch batch", "slow", "the fast key", "window window"))
        .orderBy("doc_id", "phrase")
    },
    "q_token_budget" -> { (s, d) =>
      // largest-remainder token-budget apportionment (ops/TokenBudget):
      // per-source char masses -> integer quotas summing to exactly 1M;
      // remainder ranking on the scale-safe globalRowNumber
      graft.ops.TokenBudget.allocate(Tables.documents(s, d), "source",
        "n_chars", budget = 1000000L).orderBy("grp")
    },
    "q_pack_pairs" -> { (s, d) =>
      // complementary-pair sequence packing (ops/Packing): r-th longest
      // pairs the r-th shortest when they fit 600 chars; one global
      // ranking + one rank-keyed equi-join, no sequential bin state
      graft.ops.Packing.packPairs(Tables.documents(s, d), "doc_id",
        "n_chars", capacity = 600L).orderBy("doc_id")
    },
    "q_dsir" -> { (s, d) =>
      // hashed-feature importance weights (ops/ImportanceWeights, the
      // DSIR selection step in integer ppm form): md5-lane token buckets,
      // target = lang 'en'; weight table broadcasts back (<= 4096 rows)
      graft.ops.ImportanceWeights.hashedRatioScores(Tables.documents(s, d),
        "doc_id", "text", isTarget = col("lang") === "en", buckets = 4096)
        .orderBy("doc_id")
    },
    "q_dedup_minhash_inc" -> { (s, d) =>
      // incremental near-dup (Dedup.incrementalMinHashPairs): odd docs
      // fold against the even docs' signature LEDGER — pairs touching the
      // batch only, scored by matching-lane permille (the ledger carries
      // signatures, not text); batch-equivalence invariant spec-pinned
      val docs = Tables.documents(s, d)
      val prevSig = Dedup.minHashSignaturesPortable(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
        n = 3, numHashes = 64)
      Dedup.incrementalMinHashPairs(prevSig,
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, thresholdPermille = 500)
        .orderBy("id_a", "id_b")
    },
    "q_vocab_coverage" -> { (s, d) =>
      // top-V vocabulary coverage audit (ops/VocabCoverage): rank tokens
      // by (count desc, tok asc) on globalRowNumber, keep 24, broadcast
      // back; per-doc occurrence coverage in ppm — the vocab-sizing tool
      graft.ops.VocabCoverage.topVCoverage(Tables.documents(s, d),
        "doc_id", "text", vocabSize = 24).orderBy("doc_id")
    },
    "q_shard_layout" -> { (s, d) =>
      // training-shard layout audit (ops/ShardLayout): md5-salted 16-way
      // shard assignment; per shard row count, char mass, ppm share, and
      // distinct-source coverage — the straggler/starvation check
      graft.ops.ShardLayout.layoutAudit(Tables.documents(s, d), "doc_id",
        "n_chars", "source", numShards = 16).orderBy("shard")
    },
    "q_dedup_incremental" -> { (s, d) =>
      // incremental exact dedup (Dedup.incrementalExact): fold the odd
      // docs into the even docs' digest ledger — the updated ledger must
      // equal full-corpus exactDuplicates plus batch provenance (n_new)
      val docs = Tables.documents(s, d)
      val prev = Dedup.exactDuplicates(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text")
      Dedup.incrementalExact(prev,
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy("text_sha")
    })

  def oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT sha256(text) AS text_sha, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
        |FROM documents GROUP BY sha256(text) ORDER BY text_sha""".stripMargin,
    "q_dedup_keep_best" ->
      """WITH g AS (SELECT sha256(text) AS text_sha, doc_id,
        |                  CAST(n_chars AS BIGINT) AS score
        |           FROM documents),
        |agg AS (SELECT text_sha, COUNT(*) AS n_copies FROM g GROUP BY text_sha),
        |best AS (SELECT text_sha, doc_id AS keep_id, score AS keep_score,
        |                ROW_NUMBER() OVER (PARTITION BY text_sha
        |                  ORDER BY score DESC, doc_id ASC) AS rn
        |         FROM g)
        |SELECT a.text_sha, a.n_copies, b.keep_id, b.keep_score
        |FROM agg a JOIN best b ON a.text_sha = b.text_sha AND b.rn = 1
        |ORDER BY a.text_sha""".stripMargin,
    "q_dedup_ngram" -> ngramJaccardOracleSql,
    // prefix filtering changes the CANDIDATE plan, not the result: the
    // oracle is shared verbatim with the full-inverted-index query,
    "q_dedup_prefix" -> ngramJaccardOracleSql,
    // candidate generation (shared-shingle blocking) mirrored exactly: a
    // pair sharing no word trigram is out of contract on both sides,
    "q_dedup_edit" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
        |FROM cand
        |JOIN documents ta ON ta.doc_id = id_a
        |JOIN documents tb ON tb.doc_id = id_b
        |WHERE abs(len(ta.text) - len(tb.text)) <= 20
        |  AND levenshtein(ta.text, tb.text) <= 20
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_passage" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, w, len(w) AS n FROM t),
        |idx AS (SELECT doc_id, w, CAST(u.i AS INT) AS ci
        |        FROM c, UNNEST(range(0, 1 + CAST(CEIL(GREATEST(n - 16, 0) / 16.0) AS BIGINT))) AS u(i)),
        |ch AS (SELECT doc_id, md5(array_to_string(w[ci*16+1 : ci*16+16], ' ')) AS h
        |       FROM idx),
        |g AS (SELECT h, COUNT(*) AS c FROM ch GROUP BY h),
        |d AS (SELECT doc_id, COUNT(*) AS n_passages,
        |             CAST(SUM(CASE WHEN g.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages
        |      FROM ch JOIN g USING (h) GROUP BY doc_id)
        |SELECT doc_id, n_passages, n_dup_passages,
        |       CAST(FLOOR(n_dup_passages * 1000.0 / n_passages) AS BIGINT) AS dup_permille
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE
         |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
         |${graft.ops.Dedup.minHashPortableOracleCtes(numHashes = 64, bands = 16)},
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bnd a JOIN bnd b
         |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
         |          FROM cand c
         |          JOIN sh a ON a.doc_id = c.id_a
         |          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
         |          GROUP BY c.id_a, c.id_b),
         |p AS (SELECT CAST(id_a AS VARCHAR) AS a, CAST(id_b AS VARCHAR) AS b
         |      FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |                 JOIN sizes sb ON sb.doc_id = id_b
         |      WHERE CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter) >= 0.5),
         |sym AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
         |nodes AS (SELECT DISTINCT a AS node FROM sym),
         |cc AS (SELECT node, node AS lab FROM nodes
         |       UNION
         |       SELECT s.b AS node, c.lab FROM cc c JOIN sym s ON c.node = s.a
         |       WHERE c.lab < s.b),
         |comp AS (SELECT node, MIN(lab) AS component FROM cc GROUP BY node)
         |SELECT component AS keeper, COUNT(*) AS n_docs
         |FROM comp GROUP BY component ORDER BY keeper""".stripMargin,
    "q_split_leakage" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
         |${graft.ops.Dedup.minHashPortableOracleCtes(numHashes = 64, bands = 16)},
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bnd a JOIN bnd b
         |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
         |          FROM cand c
         |          JOIN sh a ON a.doc_id = c.id_a
         |          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
         |          GROUP BY c.id_a, c.id_b),
         |p AS (SELECT id_a, id_b
         |      FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |                 JOIN sizes sb ON sb.doc_id = id_b
         |      WHERE CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter) >= 0.5),
         |sp AS (SELECT
         |        CASE WHEN ('0x' || substr(md5('split' || CAST(id_a AS VARCHAR)), 1, 15))::BIGINT
         |                  % 1000 < 200 THEN 'test' ELSE 'train' END AS spl_a,
         |        CASE WHEN ('0x' || substr(md5('split' || CAST(id_b AS VARCHAR)), 1, 15))::BIGINT
         |                  % 1000 < 200 THEN 'test' ELSE 'train' END AS spl_b
         |      FROM p)
         |SELECT LEAST(spl_a, spl_b) AS split_a, GREATEST(spl_a, spl_b) AS split_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       LEAST(spl_a, spl_b) <> GREATEST(spl_a, spl_b) AS is_leak
         |FROM sp GROUP BY 1, 2, 4 ORDER BY split_a, split_b""".stripMargin,
    "q_split_leakage_cross" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
        |shn AS (SELECT doc_id AS new_id, shingle FROM sh WHERE doc_id % 7 = 0),
        |shr AS (SELECT doc_id AS ref_id, shingle FROM sh WHERE doc_id % 7 <> 0),
        |cand AS (SELECT DISTINCT n.new_id, r.ref_id
        |         FROM shn n JOIN shr r ON r.shingle = n.shingle),
        |sn AS (SELECT new_id, COUNT(*) AS sa FROM shn GROUP BY 1),
        |sr AS (SELECT ref_id, COUNT(*) AS sb FROM shr GROUP BY 1),
        |inter AS (SELECT c.new_id, c.ref_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |          FROM cand c JOIN shn a ON a.new_id = c.new_id
        |          JOIN shr b ON b.ref_id = c.ref_id AND b.shingle = a.shingle
        |          GROUP BY 1, 2),
        |j AS (SELECT i.new_id, i.ref_id, i.n_shared,
        |        CAST(i.n_shared AS DOUBLE)/(sn.sa + sr.sb - i.n_shared) AS jaccard
        |      FROM inter i JOIN sn ON sn.new_id = i.new_id
        |                   JOIN sr ON sr.ref_id = i.ref_id
        |      WHERE CAST(i.n_shared AS DOUBLE)/(sn.sa + sr.sb - i.n_shared) >= 0.5),
        |sp AS (SELECT new_id, ref_id, n_shared, jaccard,
        |        CASE WHEN ('0x' || substr(md5('split' || CAST(new_id AS VARCHAR)), 1, 15))::BIGINT
        |             % 1000 < 200 THEN 'test' ELSE 'train' END AS split_new,
        |        CASE WHEN ('0x' || substr(md5('split' || CAST(ref_id AS VARCHAR)), 1, 15))::BIGINT
        |             % 1000 < 200 THEN 'test' ELSE 'train' END AS split_ref
        |      FROM j)
        |SELECT new_id, ref_id, n_shared, jaccard, split_new, split_ref,
        |       split_new <> split_ref AS is_leak
        |FROM sp ORDER BY new_id, ref_id""".stripMargin,
    "q_bm25" ->
      """WITH toks AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
        |              FROM documents),
        |tok2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tok2 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |corpus AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
        |                  (SELECT CAST(COALESCE(SUM(tf), 0) AS BIGINT) FROM tf) AS s_tok),
        |q(query_id, term) AS (VALUES (1, 'hash'), (1, 'join'), (2, 'slow'),
        |       (2, 'scan'), (2, 'filter'), (3, 'vector'), (3, 'data')),
        |dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf
        |       WHERE tok IN (SELECT DISTINCT term FROM q) GROUP BY tok),
        |scored AS (SELECT q.query_id, tf.doc_id,
        |        CAST(SUM(
        |          ((1000000 * (corpus.n_docs - dfreq.df + 1)) // (dfreq.df + 1))
        |          * ((22000000::HUGEINT * tf.tf * corpus.s_tok)
        |             // (10::HUGEINT * corpus.s_tok * tf.tf
        |                + 3::HUGEINT * corpus.s_tok
        |                + 9::HUGEINT * dl.dl * corpus.n_docs))
        |          // 1000000) AS BIGINT) AS score_ppm
        |      FROM tf JOIN q ON q.term = tf.tok
        |      JOIN dfreq ON dfreq.tok = tf.tok
        |      JOIN dl ON dl.doc_id = tf.doc_id
        |      CROSS JOIN corpus
        |      GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score_ppm,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY score_ppm DESC, doc_id ASC) AS rn
        |      FROM scored)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS INT) AS rank,
        |       doc_id, score_ppm
        |FROM r WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_dedup_winnow" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS wd FROM documents),
        |g AS (SELECT doc_id, i AS pos, array_to_string(wd[i:i+3], ' ') AS gram
        |      FROM toks, UNNEST(range(1, greatest(len(wd)-2, 2))) t(i)),
        |h AS (SELECT doc_id, pos,
        |        ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv,
        |        COUNT(*) OVER (PARTITION BY doc_id) AS m
        |      FROM g),
        |wm AS (SELECT doc_id, pos, m,
        |        MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
        |      FROM h),
        |sel AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM wm
        |        WHERE pos <= greatest(m - 4, 1)),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
        |        FROM sel GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |        CAST(COUNT(*) AS BIGINT) AS n_shared
        |      FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared,
        |       CAST(n_shared AS DOUBLE)/(sa.n_fp + sb.n_fp - n_shared) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a
        |           JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_shared AS DOUBLE)/(sa.n_fp + sb.n_fp - n_shared) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
         |${graft.ops.Dedup.minHashPortableOracleCtes(numHashes = 64, bands = 16)},
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bnd a JOIN bnd b
         |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
         |          FROM cand c
         |          JOIN sh a ON a.doc_id = c.id_a
         |          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
         |          GROUP BY c.id_a, c.id_b)
         |SELECT id_a, id_b,
         |       CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_simhash" ->
      """WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |        ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
        |        ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
        |      FROM toks),
        |bits AS (SELECT doc_id, j,
        |           CAST(SUM(CASE WHEN (h1 >> j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v1,
        |           CAST(SUM(CASE WHEN (h2 >> j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v2
        |         FROM h CROSS JOIN (SELECT UNNEST(range(0, 32)) AS j) GROUP BY doc_id, j),
        |fp AS (SELECT doc_id,
        |         CAST(SUM(CASE WHEN v1 > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS fp1,
        |         CAST(SUM(CASE WHEN v2 > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS fp2
        |       FROM bits GROUP BY doc_id),
        |bnd AS (SELECT doc_id, UNNEST([0, 1, 2, 3]) AS band,
        |               UNNEST([fp1 & 65535, (fp1 >> 16) & 65535,
        |                       fp2 & 65535, (fp2 >> 16) & 65535]) AS bucket
        |        FROM fp),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bnd a JOIN bnd b
        |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |SELECT c.id_a, c.id_b,
        |       CAST(bit_count(xor(fa.fp1, fb.fp1)) + bit_count(xor(fa.fp2, fb.fp2)) AS INT) AS hamming
        |FROM cand c JOIN fp fa ON fa.doc_id = c.id_a JOIN fp fb ON fb.doc_id = c.id_b
        |WHERE bit_count(xor(fa.fp1, fb.fp1)) + bit_count(xor(fa.fp2, fb.fp2)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_embed" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE))) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, (SELECT SUM(x*x) FROM UNNEST(v) AS t(x)) AS nrm FROM q),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        (SELECT SUM(a.v[i]*b.v[i]) FROM UNNEST(range(1, len(a.v)+1)) AS t(i)) AS dot
        |      FROM q a JOIN q b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, dot / SQRT(na.nrm * nb.nrm) AS cosine
        |FROM p JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
        |WHERE dot / SQRT(na.nrm * nb.nrm) >= CAST(0.3 AS DOUBLE)
        |ORDER BY id_a, id_b""".stripMargin,
    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE))) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, (SELECT SUM(x*x) FROM UNNEST(v) AS t(x)) AS nrm FROM q),
        |p AS (SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        (SELECT SUM(qq.v[i]*c.v[i]) FROM UNNEST(range(1, len(qq.v)+1)) AS t(i)) AS dot
        |      FROM (SELECT * FROM q WHERE vec_id < 20) qq
        |      JOIN q c ON c.vec_id <> qq.vec_id),
        |scored AS (SELECT query_id, neighbor_id,
        |             dot / SQRT(na.nrm * nb.nrm) AS cosine,
        |             ROW_NUMBER() OVER (PARTITION BY query_id
        |               ORDER BY dot / SQRT(na.nrm * nb.nrm) DESC, neighbor_id ASC) AS rank
        |           FROM p JOIN n na ON na.vec_id = query_id
        |                  JOIN n nb ON nb.vec_id = neighbor_id)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine
        |FROM scored WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_ann_pq" -> graft.ops.Similarity.pqPortableOracle(
      dim = 64, k = 5, m = 16, ksub = 16, candR = 50, kmeansIters = 2,
      sampleN = 200, seed = 42L),
    "q_ann_ivf" -> graft.ops.Similarity.ivfPortableOracle(
      dim = 64, k = 5, nCells = 16, nProbe = 4, kmeansIters = 3,
      sampleN = 200, seed = 42L, queryIdLt = Some(64L)),
    "q_ann_ivfpq" -> graft.ops.Similarity.ivfPqPortableOracle(
      dim = 64, k = 5, nCells = 16, nProbe = 4, m = 16, ksub = 16,
      candR = 50, kmeansIters = 2, sampleN = 200, seed = 42L),
    "q_ann_multiprobe" -> graft.ops.Similarity.lshMultiProbeOracle(
      dim = 64, k = 5, nBits = 6, tables = 2, seed = 42L),
    "q_ann_lsh" -> graft.ops.Similarity.lshPortableOracle(
      dim = 64, k = 5, nBits = 6, tables = 4, seed = 42L,
      queryIdLt = Some(64L)),
    "q_ann_lsh_auto" -> graft.ops.Similarity.lshAutoOracle(
      dim = 64, k = 5, targetOccupancy = 32, tables = 4, seed = 42L),
    "q_ann_ivf_auto" -> graft.ops.Similarity.ivfAutoOracle(
      dim = 64, k = 5, nProbe = 4, kmeansIters = 3),
    "q_ann_ivfpq_auto" -> graft.ops.Similarity.ivfPqAutoOracle(
      dim = 64, k = 5, nProbe = 4, m = 16, ksub = 16, candR = 50,
      kmeansIters = 2),
    "q_ann_incremental" -> graft.ops.Similarity.ivfAutoOracle(
      dim = 64, k = 5, nProbe = 4, kmeansIters = 3,
      incrementalTailN = Some(64)),
    "q_ann_cell_stats" -> graft.ops.Similarity.ivfCellStatsOracle(
      dim = 64, kmeansIters = 3),
    "q_tokenize" ->
      s"""WITH RECURSIVE
         |${tokenizeCtes()}
         |,
         |$tokenStatsTailSql""".stripMargin,
    "q_tokenize_trained" ->
      s"""WITH RECURSIVE
         |${bpeCtes(rounds = 3)},
         |${tokenizeCtes(vocabCte = "vocab AS (SELECT DISTINCT sym AS tok FROM rows3)")}
         |,
         |$tokenStatsTailSql""".stripMargin,
    "q_token_freq" ->
      s"""WITH RECURSIVE
         |${tokenizeCtes()}
         |,
         |wn AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM words GROUP BY w)
         |SELECT t.tok, CAST(SUM(wn.n_w) AS BIGINT) AS n_occurrences
         |FROM wt t JOIN wn ON wn.w = t.w
         |GROUP BY t.tok ORDER BY t.tok""".stripMargin,
    "q_token_gini" ->
      """WITH tok AS (SELECT source AS key, t.tok
        |             FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
        |             WHERE length(t.tok) > 0),
        |c AS (SELECT key, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |s AS (SELECT key, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_count,
        |        CAST(SUM(c * c) AS BIGINT) AS sq
        |      FROM c GROUP BY key)
        |SELECT key, n_tokens, n_distinct, top_count,
        |  (1000000 * sq) // (n_tokens * n_tokens) AS hhi_ppm,
        |  1000000 - (1000000 * sq) // (n_tokens * n_tokens) AS gini_ppm
        |FROM s ORDER BY key""".stripMargin,
    "q_gopher_rules" ->
      """WITH w AS (SELECT doc_id AS id, text,
        |         list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        |       FROM documents),
        |b AS (SELECT id, CAST(len(toks) AS BIGINT) AS n_words,
        |        CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sumlen,
        |        CAST(length(text) - length(replace(text, '#', ''))
        |          + (length(text) - length(replace(text, '...', ''))) // 3
        |          AS BIGINT) AS n_symbols,
        |        CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
        |          AS BIGINT) AS n_alpha_words,
        |        CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in')))
        |          AS BIGINT) AS n_stop_hits
        |      FROM w),
        |f AS (SELECT id, n_words,
        |        CASE WHEN n_words > 0 THEN (10 * sumlen) // n_words ELSE 0 END AS mwl_x10,
        |        n_symbols, n_alpha_words, n_stop_hits
        |      FROM b)
        |SELECT id, n_words, mwl_x10, n_symbols, n_alpha_words, n_stop_hits,
        |  CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS words_ok,
        |  CASE WHEN mwl_x10 BETWEEN 30 AND 100 THEN 1 ELSE 0 END AS mwl_ok,
        |  CASE WHEN n_symbols * 10 <= n_words THEN 1 ELSE 0 END AS sym_ok,
        |  CASE WHEN n_alpha_words * 10 >= n_words * 8 THEN 1 ELSE 0 END AS alpha_ok,
        |  CASE WHEN n_stop_hits >= 2 THEN 1 ELSE 0 END AS stop_ok,
        |  (CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)
        |    * (CASE WHEN mwl_x10 BETWEEN 30 AND 100 THEN 1 ELSE 0 END)
        |    * (CASE WHEN n_symbols * 10 <= n_words THEN 1 ELSE 0 END)
        |    * (CASE WHEN n_alpha_words * 10 >= n_words * 8 THEN 1 ELSE 0 END)
        |    * (CASE WHEN n_stop_hits >= 2 THEN 1 ELSE 0 END) AS pass
        |FROM f ORDER BY id""".stripMargin,
    "q_length_batches" ->
      """WITH b AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS len,
        |         n_chars // 64 AS bucket
        |       FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT id, len, bucket,
        |        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY len, id) - 1 AS pos0
        |      FROM b)
        |SELECT id, len, bucket, pos0 // 16 AS batch_id, pos0 % 16 AS pos_in_batch
        |FROM r ORDER BY id""".stripMargin,
    "q_target_encode" ->
      """WITH base AS (SELECT o_orderpriority AS category,
        |         CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END AS t
        |       FROM orders),
        |g AS (SELECT (1000000 * CAST(SUM(t) AS BIGINT)) // COUNT(*) AS gppm
        |      FROM base),
        |per AS (SELECT category, COUNT(*) AS n, CAST(SUM(t) AS BIGINT) AS n_pos
        |        FROM base GROUP BY category)
        |SELECT category, n, n_pos,
        |  (1000000 * n_pos + 20 * g.gppm) // (n + 20) AS enc_ppm
        |FROM per, g ORDER BY category""".stripMargin,
    "q_bpe_merges" ->
      s"""WITH ${bpeCtes(rounds = 3)}
         |${(1 to 3).map(r =>
              s"""SELECT $r AS round, ba AS "left", bb AS "right", cnt AS pair_count FROM best$r""")
             .mkString("\nUNION ALL ")}
         |ORDER BY round""".stripMargin,
    "q_bpe_segments" ->
      s"""WITH ${bpeCtes(rounds = 3)}
         |SELECT w, pos, sym FROM rows3 ORDER BY w, pos""".stripMargin,
    "q_tfidf" ->
      s"""WITH RECURSIVE
         |${tokenizeCtes()}
         |,
         |dt AS (SELECT wo.doc_id, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM words wo JOIN wt t ON wo.w = t.w GROUP BY wo.doc_id, t.tok),
         |dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY tok),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |wq AS (SELECT dt.doc_id, dt.tok,
         |              dt.tf * (((SELECT n_docs FROM nd) * 1000) // dfreq.df) AS weight
         |       FROM dt JOIN dfreq ON dt.tok = dfreq.tok),
         |r AS (SELECT doc_id, tok, weight,
         |             ROW_NUMBER() OVER (PARTITION BY doc_id
         |               ORDER BY weight DESC, tok ASC) AS rn
         |      FROM wq)
         |SELECT doc_id, CAST(rn AS INT) AS rank, tok, CAST(weight AS BIGINT) AS weight
         |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_text_stats" ->
      """WITH t AS (SELECT lang, source, text, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT lang, source,
        |        len(w) AS n_tokens, length(text) AS n_chars,
        |        len(list_distinct(w)) AS n_distinct,
        |        len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS n_stop,
        |        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS n_bpe
        |      FROM t)
        |SELECT lang, source, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
        |       CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
        |       CAST(SUM(n_distinct) AS BIGINT) AS tot_distinct,
        |       CAST(SUM(n_stop) AS BIGINT) AS tot_stop,
        |       CAST(SUM(n_bpe) AS BIGINT) AS tot_bpe_tokens,
        |       CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens) AS stop_ratio
        |FROM s GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_lang_id" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
        |sc AS (SELECT lang,
        |         len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS en,
        |         len(list_filter(w, x -> x IN ('der','die','das','und'))) AS de,
        |         len(list_filter(w, x -> x IN ('el','los','y','es'))) AS es,
        |         len(list_filter(w, x -> x IN ('le','les','et','est'))) AS fr
        |       FROM t),
        |p AS (SELECT lang,
        |        CASE WHEN en >= GREATEST(de, es, fr) AND en > 0 THEN 'en'
        |             WHEN de >= GREATEST(es, fr) AND de > 0 THEN 'de'
        |             WHEN es >= fr AND es > 0 THEN 'es'
        |             WHEN fr > 0 THEN 'fr'
        |             ELSE 'unknown' END AS predicted
        |      FROM sc)
        |SELECT lang, predicted, COUNT(*) AS n
        |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "q_rare_tokens" ->
      """WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |dfreq AS (SELECT tok, COUNT(*) AS df
        |          FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
        |j AS (SELECT toks.doc_id, dfreq.df FROM toks JOIN dfreq USING (tok)),
        |agg AS (SELECT doc_id,
        |          COUNT(*) AS n_token_rows,
        |          CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |        FROM j GROUP BY doc_id)
        |SELECT doc_id, n_token_rows, n_rare,
        |       CAST((n_rare * 1000) // n_token_rows AS BIGINT) AS rare_permille
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g2 AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS ngram
        |       FROM t, UNNEST(range(1, len(w))) AS u(i)),
        |c2 AS (SELECT doc_id, ngram, COUNT(*) AS c FROM g2 GROUP BY doc_id, ngram),
        |a2 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total_bigrams,
        |         CAST((CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) * 1000)
        |              // SUM(c) AS BIGINT) AS dup2_permille,
        |         CAST((MAX(c) * 1000) // SUM(c) AS BIGINT) AS top2_permille
        |       FROM c2 GROUP BY doc_id),
        |g5 AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 4), ' ') AS ngram
        |       FROM t, UNNEST(range(1, len(w) - 3)) AS u(i)),
        |c5 AS (SELECT doc_id, ngram, COUNT(*) AS c FROM g5 GROUP BY doc_id, ngram),
        |a5 AS (SELECT doc_id,
        |         CAST((CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) * 1000)
        |              // SUM(c) AS BIGINT) AS dup5_permille
        |       FROM c5 GROUP BY doc_id)
        |SELECT a2.doc_id, total_bigrams, dup2_permille, top2_permille, dup5_permille
        |FROM a2 JOIN a5 ON a2.doc_id = a5.doc_id ORDER BY a2.doc_id""".stripMargin,
    "q_source_cap" ->
      """WITH p AS (SELECT source, doc_id,
        |        ('0x' || substr(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS prio
        |      FROM documents),
        |r AS (SELECT source, doc_id, prio,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY prio DESC, doc_id ASC) AS rn
        |      FROM p)
        |SELECT source, CAST(rn AS INT) AS rank, doc_id, prio AS priority
        |FROM r WHERE rn <= 10 ORDER BY source, rank""".stripMargin,
    "q_doc_sim" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, u.tok FROM t, UNNEST(w) AS u(tok)),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
        |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok HAVING COUNT(*) <= 200),
        |nd AS (SELECT COUNT(*) AS n FROM documents),
        |w AS (SELECT tf.doc_id, tf.tok,
        |        tf.tf * (((SELECT n FROM nd) * 1000) // dfq.df) AS wt
        |      FROM tf JOIN dfq USING (tok)),
        |norm AS (SELECT doc_id, SUM(wt * wt) AS n2 FROM w GROUP BY doc_id),
        |dot AS (SELECT a.doc_id AS ia, b.doc_id AS ib, SUM(a.wt * b.wt) AS num
        |        FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |        GROUP BY a.doc_id, b.doc_id),
        |sim AS (SELECT ia, ib,
        |          CAST((num * num * 1000) // (na.n2 * nb.n2) AS BIGINT) AS c2
        |        FROM dot JOIN norm na ON na.doc_id = ia
        |                 JOIN norm nb ON nb.doc_id = ib),
        |sym AS (SELECT ia AS a, ib AS b, c2 FROM sim
        |        UNION ALL SELECT ib AS a, ia AS b, c2 FROM sim),
        |r AS (SELECT a, b, c2,
        |        ROW_NUMBER() OVER (PARTITION BY a ORDER BY c2 DESC, b ASC) AS rn
        |      FROM sym)
        |SELECT a AS doc_id, CAST(rn AS INT) AS rank, b AS nbr_id,
        |       c2 AS cos2_permille
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_doc_sim_auto" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, u.tok FROM t, UNNEST(w) AS u(tok)),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
        |nd AS (SELECT COUNT(*) AS n FROM documents),
        |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
        |        HAVING COUNT(*) <= GREATEST(2, ((SELECT n FROM nd) * 500) // 1000)),
        |w AS (SELECT tf.doc_id, tf.tok,
        |        tf.tf * (((SELECT n FROM nd) * 1000) // dfq.df) AS wt
        |      FROM tf JOIN dfq USING (tok)),
        |norm AS (SELECT doc_id, SUM(wt * wt) AS n2 FROM w GROUP BY doc_id),
        |dot AS (SELECT a.doc_id AS ia, b.doc_id AS ib, SUM(a.wt * b.wt) AS num
        |        FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |        GROUP BY a.doc_id, b.doc_id),
        |sim AS (SELECT ia, ib,
        |          CAST((num * num * 1000) // (na.n2 * nb.n2) AS BIGINT) AS c2
        |        FROM dot JOIN norm na ON na.doc_id = ia
        |                 JOIN norm nb ON nb.doc_id = ib),
        |sym AS (SELECT ia AS a, ib AS b, c2 FROM sim
        |        UNION ALL SELECT ib AS a, ia AS b, c2 FROM sim),
        |r AS (SELECT a, b, c2,
        |        ROW_NUMBER() OVER (PARTITION BY a ORDER BY c2 DESC, b ASC) AS rn
        |      FROM sym)
        |SELECT a AS doc_id, CAST(rn AS INT) AS rank, b AS nbr_id,
        |       c2 AS cos2_permille
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_decontam" ->
      """WITH b AS (SELECT doc_id, text,
        |         ('0x' || substr(md5('decontam' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |           % 1000 AS bkt
        |       FROM documents),
        |train AS (SELECT doc_id, string_split(text, ' ') AS w FROM b WHERE bkt >= 100),
        |ev AS (SELECT string_split(text, ' ') AS w FROM b WHERE bkt < 100),
        |tsh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |        FROM train, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
        |esh AS (SELECT DISTINCT array_to_string(w[i:i+2], ' ') AS shingle
        |        FROM ev, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM tsh GROUP BY doc_id),
        |hits AS (SELECT doc_id, COUNT(*) AS n_contam
        |         FROM tsh JOIN esh USING (shingle) GROUP BY doc_id)
        |SELECT s.doc_id,
        |       CAST(s.n_ngrams AS BIGINT) AS n_ngrams,
        |       CAST(COALESCE(h.n_contam, 0) AS BIGINT) AS n_contam,
        |       CAST((COALESCE(h.n_contam, 0) * 1000) // s.n_ngrams AS BIGINT) AS contam_permille,
        |       CAST(CASE WHEN (COALESCE(h.n_contam, 0) * 1000) // s.n_ngrams >= 200
        |            THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    "q_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id,
        |  CAST((SELECT SUM((ascii(substr(w[i+1], 1, 1)) * 31 + length(w[i+1])) *
        |          CAST(([1,31,961,29791,923521,28629151,887503681,27512614111])[(i % 8) + 1] AS BIGINT))
        |        FROM UNNEST(range(0, len(w))) AS u(i)) % 1000000007 AS BIGINT) AS fp
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        len(w) AS n_tokens,
        |        len(list_distinct(w)) AS n_distinct,
        |        len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS n_stop
        |      FROM t)
        |SELECT doc_id,
        |  CAST(0.4 AS DOUBLE) * LEAST(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |  + CAST(0.4 AS DOUBLE) * (CAST(n_distinct AS DOUBLE) / n_tokens)
        |  + CAST(0.2 AS DOUBLE) * LEAST(CAST(n_stop AS DOUBLE) * CAST(5.0 AS DOUBLE) / n_tokens, CAST(1.0 AS DOUBLE))
        |  AS quality
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_multimodal" ->
      """WITH a AS (SELECT doc_id AS asset_id,
        |             (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
        |             text,
        |             ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
        |           FROM documents),
        |d AS (SELECT asset_id, kind,
        |        64 + h % 1024 AS width,
        |        CASE WHEN kind = 'image' THEN (CASE WHEN h % 2 = 0 THEN 'png' ELSE 'jpeg' END)
        |             WHEN kind = 'audio' THEN 'wav' ELSE 'mp4' END AS format,
        |        strlen(text) AS nbytes
        |      FROM a)
        |SELECT kind, format, COUNT(*) AS n_assets,
        |       CAST(SUM(width) AS BIGINT) AS tot_width,
        |       CAST(SUM(nbytes) AS BIGINT) AS tot_bytes
        |FROM d GROUP BY kind, format ORDER BY kind, format""".stripMargin,
    "q_multimodal_imageio" ->
      """SELECT doc_id AS asset_id,
        |  CAST(1 + doc_id % 16 AS INT) AS width,
        |  CAST(1 + (doc_id // 16) % 16 AS INT) AS height,
        |  'png' AS format,
        |  doc_id % 256 AS gray
        |FROM documents ORDER BY asset_id""".stripMargin,
    "q_multimodal_ann" -> graft.ops.Similarity.lshPortableOracle(
      dim = 8, k = 3, nBits = 4, tables = 2, seed = 42L,
      qSelect = {
        // md5(text) == md5(utf-8 payload bytes); 16-bit lanes % 1000,
        // pre-quantized ×10000 exactly as the Spark plan does
        val lanes = (0 until 8).map(i =>
          s"FLOOR(CAST(('0x' || substr(md5(text), ${4 * i + 1}, 4))::BIGINT % 1000 AS DOUBLE) * CAST(10000.0 AS DOUBLE))")
          .mkString(",\n           ")
        s"""SELECT doc_id AS id,
           |         [$lanes] AS v
           |       FROM documents""".stripMargin
      }),
    "q_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, w, len(w) AS n FROM t),
        |idx AS (SELECT doc_id, w, CAST(u.i AS INT) AS chunk_idx
        |        FROM c, UNNEST(range(0, 1 + CAST(CEIL(GREATEST(n - 64, 0) / 48.0) AS BIGINT))) AS u(i)),
        |ch AS (SELECT doc_id, chunk_idx,
        |              w[chunk_idx * 48 + 1 : chunk_idx * 48 + 64] AS cw
        |       FROM idx)
        |SELECT doc_id, chunk_idx, CAST(len(cw) AS INT) AS n_chunk_tokens,
        |       md5(array_to_string(cw, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_curate" ->
      """WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
        |d1 AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM d1),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |losers AS (SELECT DISTINCT id_b AS doc_id
        |           FROM inter JOIN sizes sa ON sa.doc_id = id_a
        |                      JOIN sizes sb ON sb.doc_id = id_b
        |           WHERE CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter) >= 0.5),
        |d2 AS (SELECT * FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
        |st AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM d2),
        |sc AS (SELECT doc_id,
        |         len(w) AS n_tokens,
        |         len(list_distinct(w)) AS n_distinct,
        |         len(list_filter(w, x -> x IN ('the','a','of','and','in'))) AS en,
        |         len(list_filter(w, x -> x IN ('der','die','das','und'))) AS de,
        |         len(list_filter(w, x -> x IN ('el','los','y','es'))) AS es,
        |         len(list_filter(w, x -> x IN ('le','les','et','est'))) AS fr
        |       FROM st),
        |q AS (SELECT doc_id,
        |        CAST(0.4 AS DOUBLE) * LEAST(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |        + CAST(0.4 AS DOUBLE) * (CAST(n_distinct AS DOUBLE) / n_tokens)
        |        + CAST(0.2 AS DOUBLE) * LEAST(CAST(en AS DOUBLE) * CAST(5.0 AS DOUBLE) / n_tokens, CAST(1.0 AS DOUBLE))
        |        AS quality,
        |        CASE WHEN en >= GREATEST(de, es, fr) AND en > 0 THEN 'en'
        |             WHEN de >= GREATEST(es, fr) AND de > 0 THEN 'de'
        |             WHEN es >= fr AND es > 0 THEN 'es'
        |             WHEN fr > 0 THEN 'fr'
        |             ELSE 'unknown' END AS lang_pred
        |      FROM sc)
        |SELECT doc_id, quality, lang_pred FROM q
        |WHERE quality >= CAST(0.3 AS DOUBLE)
        |ORDER BY doc_id""".stripMargin,
    "q_kmeans" -> (kmeansCtes(iters = 2) + """
        |SELECT vec_id, cluster, CAST(dist AS BIGINT) AS dist
        |FROM a_f ORDER BY vec_id""".stripMargin),
    "q_kmeans_fps" -> (kmeansFpsCtes(iters = 1, k = 4) + """
        |SELECT vec_id, cluster, CAST(dist AS BIGINT) AS dist
        |FROM a_f ORDER BY vec_id""".stripMargin),
    "q_semdedup" -> (kmeansCtes(iters = 2) + """,
        |nrm AS (SELECT vec_id, (SELECT SUM(v[i]*v[i])
        |          FROM UNNEST(range(1, len(v)+1)) AS t(i)) AS nrm FROM q),
        |wv AS (SELECT a_f.vec_id, a_f.cluster, q.v, nrm.nrm
        |       FROM a_f JOIN q USING (vec_id) JOIN nrm USING (vec_id)),
        |dup AS (SELECT DISTINCT b.vec_id FROM wv a
        |        JOIN wv b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |        WHERE (SELECT SUM(a.v[i]*b.v[i])
        |                 FROM UNNEST(range(1, len(a.v)+1)) AS t(i))
        |              / SQRT(a.nrm * b.nrm) >= CAST(0.35 AS DOUBLE))
        |SELECT w.vec_id, w.cluster,
        |       (w.vec_id IN (SELECT vec_id FROM dup)) AS is_dup
        |FROM wv w ORDER BY w.vec_id""".stripMargin),
    "q_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
        |fo AS (SELECT shingle, MIN(doc_id) AS first_id FROM sh GROUP BY shingle)
        |SELECT sh.doc_id,
        |  COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN sh.doc_id = fo.first_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST((SUM(CASE WHEN sh.doc_id = fo.first_id THEN 1 ELSE 0 END) * 1000)
        |    // COUNT(*) AS BIGINT) AS novelty_permille
        |FROM sh JOIN fo USING (shingle)
        |GROUP BY sh.doc_id
        |ORDER BY sh.doc_id""".stripMargin,
    "q_multimodal_resize" ->
      """WITH a AS (SELECT doc_id AS asset_id,
        |             (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
        |             text,
        |             ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
        |           FROM documents),
        |d AS (SELECT asset_id, kind,
        |        CAST(64 + h % 1024 AS BIGINT) AS w,
        |        CAST(64 + (h // 1024) % 1024 AS BIGINT) AS ht,
        |        CASE WHEN kind = 'image' THEN (CASE WHEN h % 2 = 0 THEN 'png' ELSE 'jpeg' END)
        |             WHEN kind = 'audio' THEN 'wav' ELSE 'mp4' END AS format,
        |        CAST(strlen(text) AS BIGINT) AS len
        |      FROM a),
        |r AS (SELECT kind, format, w, ht, len,
        |        CASE WHEN kind IN ('image', 'video')
        |             THEN least(1000000, (256 * 1000000) // w, (256 * 1000000) // ht)
        |             ELSE 1000000 END AS scale
        |      FROM d),
        |f AS (SELECT kind, format, w, ht, len,
        |        greatest(1, (w * scale) // 1000000) AS nw,
        |        greatest(1, (ht * scale) // 1000000) AS nh
        |      FROM r),
        |g AS (SELECT kind, format, nw, nh,
        |        least(len, greatest(1, (len * nw * nh) // (w * ht))) AS nlen
        |      FROM f)
        |SELECT kind, format, COUNT(*) AS n_assets,
        |  CAST(SUM(nw) AS BIGINT) AS tot_width,
        |  CAST(SUM(nh) AS BIGINT) AS tot_height,
        |  CAST(SUM(nlen) AS BIGINT) AS tot_bytes
        |FROM g GROUP BY kind, format ORDER BY kind, format""".stripMargin,
    "q_domain_affinity" ->
      """WITH toks AS (SELECT doc_id, lang = 'en' AS is_t,
        |                text, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, is_t,
        |         array_to_string(w[i:i+1], ' ') AS shingle
        |       FROM toks, UNNEST(range(1, greatest(len(w), 2))) AS t(i)),
        |b AS (SELECT DISTINCT doc_id, is_t,
        |        ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 4096 AS bucket
        |      FROM sh),
        |cnts AS (SELECT bucket,
        |           CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |           CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cs
        |         FROM b GROUP BY bucket),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
        |               CAST(SUM(cs) AS BIGINT) AS ns FROM cnts),
        |aff AS (SELECT bucket,
        |          (ct + 1) * (ns + 4096) >= 2 * ((cs + 1) * (nt + 4096)) AS is_affine
        |        FROM cnts, tot)
        |SELECT b.doc_id, COUNT(*) AS n_features,
        |  CAST(SUM(CASE WHEN aff.is_affine THEN 1 ELSE 0 END) AS BIGINT) AS n_affine,
        |  CAST((SUM(CASE WHEN aff.is_affine THEN 1 ELSE 0 END) * 1000)
        |    // COUNT(*) AS BIGINT) AS affinity_permille
        |FROM b JOIN aff USING (bucket)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "q_keywords" ->
      """WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
        |              FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |sc AS (SELECT doc_id, tok, tf * (1000000 // df) AS score
        |       FROM tf JOIN dfq USING (tok)),
        |r AS (SELECT doc_id, tok, score,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY score DESC, tok ASC) AS rank
        |      FROM sc)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok AS token,
        |       CAST(score AS BIGINT) AS score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |             x -> FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE))) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, (SELECT SUM(x*x) FROM UNNEST(v) AS t(x)) AS nrm FROM q),
        |p AS (SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        (SELECT SUM(qq.v[i]*c.v[i]) FROM UNNEST(range(1, len(qq.v)+1)) AS t(i)) AS dot
        |      FROM (SELECT * FROM q WHERE vec_id < 20) qq
        |      JOIN q c ON c.vec_id <> qq.vec_id AND c.label <> qq.label),
        |scored AS (SELECT query_id, neighbor_id,
        |             dot / SQRT(na.nrm * nb.nrm) AS cosine,
        |             ROW_NUMBER() OVER (PARTITION BY query_id
        |               ORDER BY dot / SQRT(na.nrm * nb.nrm) DESC, neighbor_id ASC) AS rank
        |           FROM p JOIN n na ON na.vec_id = query_id
        |                  JOIN n nb ON nb.vec_id = neighbor_id
        |           WHERE NOT isnan(dot / SQRT(na.nrm * nb.nrm)))
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine
        |FROM scored WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_mixture" ->
      """WITH sh AS (SELECT * FROM (VALUES ('src0', 500), ('src1', 300),
        |              ('src2', 200)) AS t(source, share)),
        |cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |rates AS (SELECT cnt.source,
        |            LEAST(1000, (((30 * share) // 1000) * 1000) // n)
        |              AS rate_permille
        |          FROM cnt JOIN sh USING (source))
        |SELECT d.doc_id, d.source, CAST(rate_permille AS BIGINT) AS rate_permille
        |FROM documents d JOIN rates USING (source)
        |WHERE ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 1000 < rate_permille
        |ORDER BY doc_id""".stripMargin,
    "q_mix_temperature" ->
      """WITH cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |             FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |w AS (SELECT source, n,
        |        CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS wt
        |      FROM cnt),
        |t AS (SELECT CAST(SUM(wt) AS BIGINT) AS tot FROM w),
        |q AS (SELECT source, n, wt,
        |        CAST((1000 * wt) // tot AS BIGINT) AS fl,
        |        CAST((1000 * wt) % tot AS BIGINT) AS rem
        |      FROM w, t),
        |e AS (SELECT CAST(1000 - SUM(fl) AS BIGINT) AS extra FROM q),
        |r AS (SELECT source, n, fl,
        |        row_number() OVER (ORDER BY rem DESC, source) AS rn
        |      FROM q),
        |sh AS (SELECT source, n,
        |         CAST(fl + CASE WHEN rn <= extra THEN 1 ELSE 0 END AS BIGINT)
        |           AS share_permille
        |       FROM r, e),
        |rates AS (SELECT source, share_permille,
        |            CAST(LEAST(1000,
        |              (((40 * share_permille) // 1000) * 1000) // n)
        |              AS BIGINT) AS rate_permille
        |          FROM sh)
        |SELECT d.doc_id, d.source, share_permille, rate_permille
        |FROM documents d JOIN rates USING (source)
        |WHERE ('0x' || substr(md5('tmix' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 1000 < rate_permille
        |ORDER BY doc_id""".stripMargin,
    "q_collocations" ->
      """WITH toks AS (SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS tok
        |              FROM documents),
        |dfq AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
        |kept AS (SELECT t.doc_id, t.tok FROM toks t JOIN dfq USING (tok)
        |         WHERE dfq.n <= 400),
        |p AS (SELECT a.tok AS x, b.tok AS y, COUNT(*) AS n_xy
        |      FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 20),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
        |SELECT x, y, CAST(n_xy AS BIGINT) AS n_xy,
        |       CAST(dx.n AS BIGINT) AS n_x, CAST(dy.n AS BIGINT) AS n_y,
        |       CAST(nd.n AS BIGINT) AS n_docs,
        |       (CAST(n_xy AS DOUBLE) * CAST(nd.n AS DOUBLE))
        |         / (CAST(dx.n AS DOUBLE) * CAST(dy.n AS DOUBLE)) AS lift
        |FROM p JOIN dfq dx ON dx.tok = p.x JOIN dfq dy ON dy.tok = p.y, nd
        |ORDER BY x, y""".stripMargin,
    "q_multimodal_dedup" ->
      """SELECT md5(substr(text, 1, 40)) AS digest, COUNT(*) AS n_copies,
        |       CAST(MIN(doc_id) AS BIGINT) AS keeper_id
        |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin,
    "q_skipgrams" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT w[i] AS center, w[i+j] AS context
        |      FROM toks, UNNEST(range(1, len(w)+1)) AS t(i), UNNEST([1,2]) AS u(j)
        |      WHERE i + j <= len(w))
        |SELECT center, context, COUNT(*) AS n FROM p GROUP BY 1, 2
        |HAVING COUNT(*) >= 20
        |ORDER BY center, context""".stripMargin,
    "q_dedup_contain" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
        |       CAST(FLOOR(1000 * n_inter / LEAST(sa.n_sh, sb.n_sh)) AS BIGINT) AS contain_pm
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE FLOOR(1000 * n_inter / LEAST(sa.n_sh, sb.n_sh)) >= 800
        |ORDER BY id_a, id_b""".stripMargin,
    "q_split_strata" ->
      """WITH r AS (SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY
        |      ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |      doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang, source) AS n
        |  FROM documents)
        |SELECT doc_id, lang, source,
        |       CASE WHEN rn * 5 <= n * 4 THEN 'train' ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_label_noise" ->
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |             x -> FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE))) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, (SELECT SUM(x*x) FROM UNNEST(v) AS t(x)) AS nrm FROM q),
        |p AS (SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        (SELECT SUM(qq.v[i]*c.v[i]) FROM UNNEST(range(1, len(qq.v)+1)) AS t(i)) AS dot
        |      FROM (SELECT * FROM q WHERE vec_id < 500) qq
        |      JOIN q c ON c.vec_id <> qq.vec_id),
        |scored AS (SELECT query_id, neighbor_id,
        |             ROW_NUMBER() OVER (PARTITION BY query_id
        |               ORDER BY dot / SQRT(na.nrm * nb.nrm) DESC, neighbor_id ASC) AS rank
        |           FROM p JOIN n na ON na.vec_id = query_id
        |                  JOIN n nb ON nb.vec_id = neighbor_id),
        |top AS (SELECT query_id, neighbor_id FROM scored WHERE rank <= 10)
        |SELECT t.query_id, ql.label AS q_label,
        |       CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |       COUNT(*) AS k_found,
        |       CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS BIGINT) * 2 < COUNT(*) AS suspect
        |FROM top t
        |JOIN q ql ON ql.vec_id = t.query_id
        |JOIN q nl ON nl.vec_id = t.neighbor_id
        |GROUP BY t.query_id, ql.label
        |ORDER BY query_id""".stripMargin,
    "q_lm_score" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, lang, ws[i] AS w1, ws[i + 1] AS w2
        |      FROM w, UNNEST(range(1, len(ws))) AS t(i)
        |      WHERE len(ws) >= 2),
        |m AS (SELECT w1, w2, COUNT(*) AS c2 FROM b WHERE lang = 'en' GROUP BY 1, 2),
        |f AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM m GROUP BY 1),
        |sc AS (SELECT doc_id, COUNT(*) AS nb,
        |         CAST(SUM(COALESCE((m.c2 * 1000000) // f.c1, 0)) AS BIGINT) AS sp
        |       FROM b LEFT JOIN m USING (w1, w2) LEFT JOIN f USING (w1)
        |       GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(nb, 0) AS BIGINT) AS n_bigrams,
        |  CAST(COALESCE(sp, 0) AS BIGINT) AS sum_ppm,
        |  CAST(CASE WHEN COALESCE(nb, 0) = 0 THEN 0 ELSE sp // nb END AS BIGINT) AS lm_ppm
        |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN sc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_decontam_embed" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE))) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, (SELECT SUM(x*x) FROM UNNEST(v) AS t(x)) AS nrm FROM q),
        |ev AS (SELECT vec_id AS eid, v AS evec FROM q WHERE vec_id % 97 = 0),
        |p AS (SELECT t.vec_id AS id, e.eid,
        |        (SELECT SUM(t.v[i] * e.evec[i])
        |         FROM UNNEST(range(1, len(t.v) + 1)) AS s(i)) AS dot
        |      FROM q t JOIN ev e ON t.vec_id <> e.eid),
        |c AS (SELECT p.id, dot / SQRT(na.nrm * nb.nrm) AS cos
        |      FROM p JOIN n na ON na.vec_id = p.id JOIN n nb ON nb.vec_id = p.eid)
        |SELECT id, COUNT(*) AS n_eval,
        |  CAST(SUM(CASE WHEN cos >= CAST(0.25 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  MAX(cos) AS max_cos,
        |  CAST(CASE WHEN SUM(CASE WHEN cos >= CAST(0.25 AS DOUBLE) THEN 1 ELSE 0 END) > 0
        |       THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM c GROUP BY id ORDER BY id""".stripMargin,
    "q_source_overlap" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS w
        |              FROM documents),
        |sh AS (SELECT DISTINCT source AS src,
        |         array_to_string(w[i:i+4], ' ') AS shingle
        |       FROM toks, UNNEST(range(1, len(w) - 3)) AS t(i)
        |       WHERE len(w) >= 5),
        |kept AS (SELECT shingle FROM sh GROUP BY shingle
        |         HAVING COUNT(*) <= 16),
        |cs AS (SELECT src, shingle FROM sh JOIN kept USING (shingle)),
        |tot AS (SELECT src, COUNT(*) AS n_sh FROM cs GROUP BY src),
        |p AS (SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS shared
        |      FROM cs a JOIN cs b ON a.shingle = b.shingle AND a.src < b.src
        |      GROUP BY 1, 2)
        |SELECT src_a, src_b, shared, ta.n_sh AS n_a, tb.n_sh AS n_b,
        |  (1000 * shared) // least(ta.n_sh, tb.n_sh) AS contain_permille
        |FROM p JOIN tot ta ON ta.src = src_a
        |JOIN tot tb ON tb.src = src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "q_centroid_shift" ->
      """WITH q AS (SELECT CAST(label AS VARCHAR) AS lab,
        |         list_transform(embedding,
        |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE)) AS BIGINT)) AS v
        |       FROM embeddings),
        |e AS (SELECT lab, t.i AS d, v[t.i] AS s0
        |      FROM q, UNNEST(range(1, len(v) + 1)) AS t(i)),
        |sums AS (SELECT lab, d, CAST(SUM(s0) AS BIGINT) AS s
        |         FROM e GROUP BY 1, 2),
        |meta AS (SELECT CAST(label AS VARCHAR) AS lab, COUNT(*) AS n
        |         FROM embeddings GROUP BY 1),
        |norms AS (SELECT sums.lab, CAST(SUM(s * s) AS BIGINT) AS nrm, meta.n
        |          FROM sums JOIN meta ON meta.lab = sums.lab
        |          GROUP BY sums.lab, meta.n),
        |dots AS (SELECT a.lab AS label_a, b.lab AS label_b,
        |           CAST(SUM(a.s * b.s) AS BIGINT) AS dot
        |         FROM sums a JOIN sums b ON a.d = b.d AND a.lab < b.lab
        |         GROUP BY 1, 2)
        |SELECT label_a, label_b, na.n AS n_a, nb.n AS n_b, dot,
        |  na.nrm AS nrm_a, nb.nrm AS nrm_b,
        |  CAST(dot AS DOUBLE) /
        |    SQRT(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
        |FROM dots
        |JOIN norms na ON na.lab = label_a
        |JOIN norms nb ON nb.lab = label_b
        |ORDER BY label_a, label_b""".stripMargin,
    "q_blocking_quality" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |truth AS (SELECT id_a, id_b
        |          FROM inter JOIN sizes sa ON sa.doc_id = id_a
        |          JOIN sizes sb ON sb.doc_id = id_b
        |          WHERE CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter) >= 0.5),
        |tk AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |        ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
        |        ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
        |      FROM tk),
        |bits AS (SELECT doc_id, j,
        |           CAST(SUM(CASE WHEN (h1 >> j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v1,
        |           CAST(SUM(CASE WHEN (h2 >> j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v2
        |         FROM h CROSS JOIN (SELECT UNNEST(range(0, 32)) AS j) GROUP BY doc_id, j),
        |fp AS (SELECT doc_id,
        |         CAST(SUM(CASE WHEN v1 > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS fp1,
        |         CAST(SUM(CASE WHEN v2 > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS fp2
        |       FROM bits GROUP BY doc_id),
        |bnd AS (SELECT doc_id, UNNEST([0, 1, 2, 3]) AS band,
        |               UNNEST([fp1 & 65535, (fp1 >> 16) & 65535,
        |                       fp2 & 65535, (fp2 >> 16) & 65535]) AS bucket
        |        FROM fp),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bnd a JOIN bnd b
        |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |agg AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |          (SELECT COUNT(*) FROM truth) AS n_truth,
        |          (SELECT COUNT(*) FROM cand) AS n_cand,
        |          (SELECT COUNT(*) FROM cand JOIN truth USING (id_a, id_b))
        |            AS n_hit)
        |SELECT n_docs, n_truth, n_cand, n_hit,
        |  CASE WHEN n_truth = 0 THEN 1000
        |       ELSE (1000 * n_hit) // n_truth END AS recall_permille,
        |  CASE WHEN n_docs < 2 THEN 0
        |       ELSE 1000000 - (2000000 * n_cand) // (n_docs * (n_docs - 1))
        |       END AS reduction_ppm
        |FROM agg""".stripMargin,
    "q_canonicalize" ->
      s"""WITH RECURSIVE
         |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
         |${graft.ops.Dedup.minHashPortableOracleCtes(numHashes = 64, bands = 16)},
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bnd a JOIN bnd b
         |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
         |          FROM cand c
         |          JOIN sh a ON a.doc_id = c.id_a
         |          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
         |          GROUP BY c.id_a, c.id_b),
         |p AS (SELECT CAST(id_a AS VARCHAR) AS a, CAST(id_b AS VARCHAR) AS b
         |      FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |                 JOIN sizes sb ON sb.doc_id = id_b
         |      WHERE CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter) >= 0.5),
         |sym AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
         |nodes AS (SELECT DISTINCT a AS node FROM sym),
         |cc AS (SELECT node, node AS lab FROM nodes
         |       UNION
         |       SELECT s.b AS node, c.lab FROM cc c JOIN sym s ON c.node = s.a
         |       WHERE c.lab < s.b),
         |comp AS (SELECT node, MIN(lab) AS component FROM cc GROUP BY node),
         |mem AS (SELECT comp.component AS cluster, d.doc_id AS id,
         |          LENGTH(d.text) AS len, d.lang, d.source
         |        FROM comp JOIN documents d
         |          ON CAST(d.doc_id AS VARCHAR) = comp.node),
         |elect AS (SELECT cluster, COUNT(*) AS n_docs,
         |            COUNT(DISTINCT source) AS n_sources,
         |            CAST(SUM(len) AS BIGINT) AS total_len
         |          FROM mem GROUP BY 1),
         |canon AS (SELECT cluster, id AS canonical_id, len AS canonical_len
         |          FROM mem
         |          QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster
         |            ORDER BY len DESC, id) = 1),
         |lv AS (SELECT cluster, lang AS major_lang
         |       FROM (SELECT cluster, lang, COUNT(*) AS n
         |             FROM mem GROUP BY 1, 2)
         |       QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster
         |         ORDER BY n DESC, lang) = 1)
         |SELECT e.cluster, n_docs, canonical_id, canonical_len, major_lang,
         |  n_sources, total_len
         |FROM elect e JOIN canon USING (cluster) JOIN lv USING (cluster)
         |ORDER BY cluster""".stripMargin,
    "q_target_leakage" ->
      """WITH c AS (SELECT o_custkey AS category, CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(CASE WHEN o_totalprice > 150000.0
        |                           THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |           FROM orders GROUP BY 1),
        |g AS (SELECT (1000000 * CAST(SUM(n_pos) AS BIGINT))
        |        // CAST(SUM(n) AS BIGINT) AS gppm FROM c),
        |e AS (SELECT category, n, n_pos,
        |        (1000000 * n_pos + 20 * gppm) // (n + 20) AS enc_ppm,
        |        CASE WHEN n_pos >= 1
        |             THEN (1000000 * (n_pos - 1) + 20 * gppm) // (n - 1 + 20)
        |             END AS loo_pos_ppm,
        |        CASE WHEN n - n_pos >= 1
        |             THEN (1000000 * n_pos + 20 * gppm) // (n - 1 + 20)
        |             END AS loo_neg_ppm
        |      FROM c CROSS JOIN g)
        |SELECT category, n, n_pos, enc_ppm, loo_pos_ppm, loo_neg_ppm,
        |  loo_neg_ppm - loo_pos_ppm AS leak_gap_ppm
        |FROM e ORDER BY category""".stripMargin,
    "q_ann_recall2" ->
      s"""WITH $annAuditCtes,
         |ivf AS (SELECT * FROM (
         |${graft.ops.Similarity.ivfPortableOracle(dim = 64, k = 5,
              nCells = 16, nProbe = 4, kmeansIters = 3, sampleN = 200,
              seed = 42L)})),
         |pq AS (SELECT * FROM (
         |${graft.ops.Similarity.pqPortableOracle(dim = 64, k = 5, m = 16,
              ksub = 16, candR = 50, kmeansIters = 2, sampleN = 200,
              seed = 42L)})),
         |ra AS (SELECT 'ivf' AS method, b.query_id, COUNT(*) AS n_truth,
         |         CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |       FROM bf b LEFT JOIN ivf a
         |         ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
         |       GROUP BY 1, 2
         |       UNION ALL
         |       SELECT 'pq', b.query_id, COUNT(*),
         |         CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |                       THEN 1 ELSE 0 END) AS BIGINT)
         |       FROM bf b LEFT JOIN pq a
         |         ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
         |       GROUP BY 1, 2)
         |SELECT method, query_id, n_truth, n_hits,
         |  (1000 * n_hits) // n_truth AS recall_permille
         |FROM ra ORDER BY method, query_id""".stripMargin,
    "q_ann_recall_ivfpq" ->
      s"""WITH $annAuditCtes,
         |ivfpq AS (SELECT * FROM (
         |${graft.ops.Similarity.ivfPqPortableOracle(dim = 64, k = 5,
              nCells = 16, nProbe = 4, m = 16, ksub = 16, candR = 50,
              kmeansIters = 2, sampleN = 200, seed = 42L)})),
         |ra AS (SELECT b.query_id, COUNT(*) AS n_truth,
         |         CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |       FROM bf b LEFT JOIN ivfpq a
         |         ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
         |       GROUP BY 1)
         |SELECT query_id, n_truth, n_hits,
         |  (1000 * n_hits) // n_truth AS recall_permille
         |FROM ra ORDER BY query_id""".stripMargin,
    "q_kmeans_distortion" -> (kmeansCtes(iters = 2) + """
        |SELECT cluster, COUNT(*) AS n_vecs,
        |  CAST(SUM(dist) AS BIGINT) AS sse,
        |  CAST(MAX(dist) AS BIGINT) AS max_dist,
        |  CAST(SUM(dist) AS BIGINT) // COUNT(*) AS mean_dist
        |FROM a_f GROUP BY cluster ORDER BY cluster""".stripMargin),
    "q_minhash_error" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
         |              FROM documents WHERE doc_id < 40),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
         |${graft.ops.Dedup.minHashPortableOracleCtes(numHashes = 64, bands = 16)},
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         |estm AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |           CAST(COUNT(*) AS BIGINT) AS est_matches
         |         FROM mh a JOIN mh b
         |           ON a.i = b.i AND a.mh = b.mh AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         |            CAST(COUNT(*) AS BIGINT) AS n_inter
         |          FROM sh x JOIN sh y
         |            ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2),
         |uni AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |          a.n_sh AS na, b.n_sh AS nb
         |        FROM sizes a JOIN sizes b ON a.doc_id < b.doc_id)
         |SELECT uni.id_a, uni.id_b,
         |  COALESCE(est_matches, 0) AS est_matches,
         |  (1000 * COALESCE(est_matches, 0)) // 64 AS est_permille,
         |  (1000 * COALESCE(n_inter, 0)) // (na + nb - COALESCE(n_inter, 0))
         |    AS exact_permille,
         |  (1000 * COALESCE(est_matches, 0)) // 64
         |    - (1000 * COALESCE(n_inter, 0)) // (na + nb - COALESCE(n_inter, 0))
         |    AS err_permille
         |FROM uni LEFT JOIN estm ON estm.id_a = uni.id_a AND estm.id_b = uni.id_b
         |         LEFT JOIN inter ON inter.id_a = uni.id_a AND inter.id_b = uni.id_b
         |ORDER BY uni.id_a, uni.id_b""".stripMargin,
    "q_ann_recall" ->
      s"""WITH lsh AS (SELECT * FROM (
         |${graft.ops.Similarity.lshPortableOracle(dim = 64, k = 5,
              nBits = 6, tables = 4, seed = 42L)})),
         |bf AS (SELECT * FROM (
         |  WITH q AS (SELECT vec_id, list_transform(embedding,
         |               x -> FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE))) AS v
         |             FROM embeddings),
         |  n AS (SELECT vec_id, (SELECT SUM(x*x) FROM UNNEST(v) AS t(x)) AS nrm FROM q),
         |  p AS (SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |          (SELECT SUM(qq.v[i]*c.v[i])
         |           FROM UNNEST(range(1, len(qq.v)+1)) AS t(i)) AS dot
         |        FROM (SELECT * FROM q WHERE vec_id < 20) qq
         |        JOIN q c ON c.vec_id <> qq.vec_id),
         |  scored AS (SELECT query_id, neighbor_id,
         |               ROW_NUMBER() OVER (PARTITION BY query_id
         |                 ORDER BY dot / SQRT(na.nrm * nb.nrm) DESC,
         |                   neighbor_id ASC) AS rank
         |             FROM p JOIN n na ON na.vec_id = query_id
         |                    JOIN n nb ON nb.vec_id = neighbor_id)
         |  SELECT query_id, neighbor_id FROM scored WHERE rank <= 5)),
         |j AS (SELECT b.query_id, COUNT(*) AS n_truth,
         |        CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL
         |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |      FROM bf b LEFT JOIN lsh l
         |        ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
         |      GROUP BY 1)
         |SELECT query_id, n_truth, n_hits,
         |  (1000 * n_hits) // n_truth AS recall_permille
         |FROM j ORDER BY query_id""".stripMargin,
    "q_ann_recall_auto" ->
      s"""WITH lsh AS (SELECT * FROM (
         |${graft.ops.Similarity.lshAutoOracle(dim = 64, k = 5,
              targetOccupancy = 32, tables = 4, seed = 42L)})),
         |bf AS (SELECT * FROM (
         |  WITH q AS (SELECT vec_id, list_transform(embedding,
         |               x -> FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE))) AS v
         |             FROM embeddings),
         |  n AS (SELECT vec_id, (SELECT SUM(x*x) FROM UNNEST(v) AS t(x)) AS nrm FROM q),
         |  p AS (SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |          (SELECT SUM(qq.v[i]*c.v[i])
         |           FROM UNNEST(range(1, len(qq.v)+1)) AS t(i)) AS dot
         |        FROM (SELECT * FROM q WHERE vec_id < 20) qq
         |        JOIN q c ON c.vec_id <> qq.vec_id),
         |  scored AS (SELECT query_id, neighbor_id,
         |               ROW_NUMBER() OVER (PARTITION BY query_id
         |                 ORDER BY dot / SQRT(na.nrm * nb.nrm) DESC,
         |                   neighbor_id ASC) AS rank
         |             FROM p JOIN n na ON na.vec_id = query_id
         |                    JOIN n nb ON nb.vec_id = neighbor_id)
         |  SELECT query_id, neighbor_id FROM scored WHERE rank <= 5)),
         |j AS (SELECT b.query_id, COUNT(*) AS n_truth,
         |        CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL
         |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |      FROM bf b LEFT JOIN lsh l
         |        ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
         |      GROUP BY 1)
         |SELECT query_id, n_truth, n_hits,
         |  (1000 * n_hits) // n_truth AS recall_permille
         |FROM j ORDER BY query_id""".stripMargin,
    "q_rrf_fusion" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE))) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, (SELECT SUM(x*x) FROM UNNEST(v) AS t(x)) AS nrm FROM q),
        |p AS (SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        (SELECT SUM(qq.v[i]*c.v[i])
        |         FROM UNNEST(range(1, len(qq.v)+1)) AS t(i)) AS dot
        |      FROM (SELECT * FROM q WHERE vec_id < 20) qq
        |      JOIN q c ON c.vec_id <> qq.vec_id),
        |ra AS (SELECT query_id, neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY dot / SQRT(na.nrm * nb.nrm) DESC,
        |             neighbor_id ASC) AS rank
        |       FROM p JOIN n na ON na.vec_id = query_id
        |              JOIN n nb ON nb.vec_id = neighbor_id),
        |rb AS (SELECT query_id, neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY dot DESC, neighbor_id ASC) AS rank
        |       FROM p),
        |u AS (SELECT query_id, neighbor_id, rank FROM ra WHERE rank <= 20
        |      UNION ALL
        |      SELECT query_id, neighbor_id, rank FROM rb WHERE rank <= 20),
        |fz AS (SELECT query_id, neighbor_id,
        |         CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm
        |       FROM u GROUP BY 1, 2)
        |SELECT query_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf_ppm DESC, neighbor_id ASC) AS INT) AS rank,
        |  neighbor_id, rrf_ppm
        |FROM fz
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_chi2_tokens" ->
      s"""WITH docs AS (SELECT doc_id, lang = 'en' AS lab, text FROM documents),
         |tokd AS (SELECT DISTINCT doc_id, lab, t.tok
         |         FROM docs, UNNEST(string_split(text, ' ')) AS t(tok)
         |         WHERE length(t.tok) > 0),
         |tot AS (SELECT COUNT(*) AS n,
         |          CAST(SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |        FROM docs),
         |pt AS (SELECT tok, COUNT(*) AS df,
         |         CAST(SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS pos_df
         |       FROM tokd GROUP BY 1),
         |j AS (SELECT tok, df, pos_df, n, n_pos FROM pt CROSS JOIN tot),
         |${graft.ops.ChiSquare.oracleDigitSql("j")}
         |SELECT tok, df, pos_df, phi2_ppm,
         |  CAST(phi2_ppm * n AS BIGINT) AS chi2_ppm
         |FROM chi
         |ORDER BY phi2_ppm DESC, tok""".stripMargin,
    "q_feature_hash" ->
      """WITH tok AS (SELECT doc_id, t.tok
        |             FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
        |             WHERE length(t.tok) > 0),
        |h AS (SELECT doc_id,
        |        ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        |      FROM tok),
        |f AS (SELECT doc_id, h % 64 AS bucket,
        |        1 - 2 * ((h // 64) % 2) AS sign
        |      FROM h)
        |SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS feat_val,
        |  COUNT(*) AS n_tokens
        |FROM f GROUP BY 1, 2
        |ORDER BY doc_id, bucket""".stripMargin,
    "q_dedup_snm" ->
      """WITH k AS (SELECT doc_id, substr(text, 1, 64) AS key FROM documents),
        |r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY key, doc_id) AS grn FROM k),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM r a JOIN r b ON b.grn - a.grn BETWEEN 1 AND 8),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
        |si AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        |          FROM cand c
        |          JOIN sh a ON a.doc_id = c.id_a
        |          JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
        |          GROUP BY 1, 2)
        |SELECT c.id_a, c.id_b, CAST(COALESCE(n_inter, 0) AS BIGINT) AS n_inter,
        |  (1000 * COALESCE(n_inter, 0))
        |    // (sa.n_sh + sb.n_sh - COALESCE(n_inter, 0)) AS jaccard_permille
        |FROM cand c
        |JOIN si sa ON sa.doc_id = c.id_a
        |JOIN si sb ON sb.doc_id = c.id_b
        |LEFT JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
        |WHERE (1000 * COALESCE(n_inter, 0))
        |    // (sa.n_sh + sb.n_sh - COALESCE(n_inter, 0)) >= 500
        |ORDER BY c.id_a, c.id_b""".stripMargin,
    "q_epoch_batches" ->
      """WITH k AS (SELECT doc_id AS id, e.epoch,
        |             ('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || '|'
        |               || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS kk
        |           FROM documents, UNNEST([0, 1]) AS e(epoch)),
        |r AS (SELECT id, epoch,
        |        ROW_NUMBER() OVER (ORDER BY epoch, kk, id) - 1 AS pos0g
        |      FROM k),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT id, epoch, (pos0g - epoch * n) // 64 AS batch_id,
        |  (pos0g - epoch * n) % 64 AS pos_in_batch
        |FROM r, n
        |ORDER BY id, epoch""".stripMargin,
    "q_embed_gram" ->
      """WITH q AS (SELECT list_transform(embedding,
        |             x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE)) AS BIGINT)) AS v
        |           FROM embeddings),
        |cells AS (SELECT CAST(a.i AS INT) AS i, CAST(b.j AS INT) AS j,
        |            v[a.i + 1] * v[b.j + 1] AS p
        |          FROM q, UNNEST(range(0, 64)) AS a(i), UNNEST(range(0, 64)) AS b(j)
        |          WHERE b.j >= a.i)
        |SELECT i, j, (SELECT COUNT(*) FROM q) AS n,
        |  CAST(SUM(p) AS BIGINT) AS s
        |FROM cells GROUP BY i, j
        |ORDER BY i, j""".stripMargin,
    "q_vocab_drift" ->
      """WITH toks AS (SELECT source AS k,
        |                ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
        |              FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |                    FROM documents)),
        |cnts AS (SELECT k, b, COUNT(*) AS cnt FROM toks GROUP BY k, b),
        |tots AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS tot FROM cnts GROUP BY k),
        |dist AS (SELECT cnts.k, b, (1000 * cnt) // tot AS pm
        |         FROM cnts JOIN tots USING (k)),
        |prs AS (SELECT a.k AS src_a, b.k AS src_b
        |        FROM (SELECT DISTINCT k FROM dist) a
        |        JOIN (SELECT DISTINCT k FROM dist) b ON a.k < b.k),
        |un AS (SELECT prs.src_a, prs.src_b, d.b, d.pm AS pm_a, 0 AS pm_b
        |       FROM prs JOIN dist d ON d.k = prs.src_a
        |       UNION ALL
        |       SELECT prs.src_a, prs.src_b, d.b, 0 AS pm_a, d.pm AS pm_b
        |       FROM prs JOIN dist d ON d.k = prs.src_b),
        |pb AS (SELECT src_a, src_b, b, SUM(pm_a) AS pa, SUM(pm_b) AS pb
        |       FROM un GROUP BY 1, 2, 3)
        |SELECT src_a, src_b, COUNT(*) AS n_buckets_used,
        |  CAST(SUM(ABS(pa - pb)) AS BIGINT) AS l1_permille
        |FROM pb GROUP BY src_a, src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "q_sq_recall" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |         x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(10000.0 AS DOUBLE))
        |           AS BIGINT)) AS v
        |       FROM embeddings),
        |dm AS (SELECT i AS pos, MIN(q.v[i]) AS mn, MAX(q.v[i]) AS mx
        |       FROM q, UNNEST(range(1, len((SELECT v FROM q LIMIT 1)) + 1))
        |         AS t(i)
        |       GROUP BY 1),
        |codes AS (SELECT id, list(mn * 255 + code * (mx - mn)
        |      ORDER BY pos) AS cv FROM (
        |    SELECT q.vec_id AS id, d.pos, d.mn, d.mx,
        |      CASE WHEN d.mx > d.mn
        |           THEN ((q.v[d.pos] - d.mn) * 255) // (d.mx - d.mn)
        |           ELSE 0 END AS code
        |    FROM q, dm d) GROUP BY id),
        |tn AS (SELECT vec_id, (SELECT SUM(x*x) FROM UNNEST(v) AS t(x)) AS nrm
        |       FROM q),
        |tp AS (SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        (SELECT SUM(qq.v[i]*c.v[i])
        |         FROM UNNEST(range(1, len(qq.v)+1)) AS t(i)) AS dot
        |      FROM (SELECT * FROM q WHERE vec_id < 20) qq
        |      JOIN q c ON c.vec_id <> qq.vec_id),
        |truth AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY dot / SQRT(na.nrm * nb.nrm) DESC, neighbor_id ASC)
        |        AS rank
        |    FROM tp JOIN tn na ON na.vec_id = query_id
        |           JOIN tn nb ON nb.vec_id = neighbor_id
        |    WHERE na.nrm > 0 AND nb.nrm > 0)
        |  WHERE rank <= 5),
        |an AS (SELECT id, (SELECT SUM(x*x) FROM UNNEST(cv) AS t(x)) AS nrm
        |       FROM codes),
        |ap AS (SELECT qq.id AS query_id, c.id AS neighbor_id,
        |        (SELECT SUM(qq.cv[i]*c.cv[i])
        |         FROM UNNEST(range(1, len(qq.cv)+1)) AS t(i)) AS dot
        |      FROM (SELECT * FROM codes WHERE id < 20) qq
        |      JOIN codes c ON c.id <> qq.id),
        |approx AS (SELECT query_id, neighbor_id FROM (
        |    SELECT ap.query_id, ap.neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY ap.query_id
        |        ORDER BY ap.dot / SQRT(na.nrm * nb.nrm) DESC,
        |          ap.neighbor_id ASC) AS rank
        |    FROM ap JOIN an na ON na.id = ap.query_id
        |           JOIN an nb ON nb.id = ap.neighbor_id
        |    WHERE na.nrm > 0 AND nb.nrm > 0)
        |  WHERE rank <= 5)
        |SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
        |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hits,
        |  (1000 * CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1
        |    ELSE 0 END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
        |    AS recall_permille
        |FROM truth t LEFT JOIN approx a
        |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
        |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,
    "q_linkage_clusters" ->
      """WITH RECURSIVE
        |a AS (SELECT c_custkey AS id_a, c_nationkey AS blk,
        |         CAST(FLOOR(ABS(c_acctbal) * 100) AS BIGINT) % 10 AS f0,
        |         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS f1,
        |         right(c_name, 2) AS f2
        |       FROM customer),
        |b AS (SELECT s_suppkey AS id_b, s_nationkey AS blk,
        |        CAST(FLOOR(ABS(s_acctbal) * 100) AS BIGINT) % 10 AS g0,
        |        CAST(FLOOR(s_acctbal / 1000.0) AS BIGINT) AS g1,
        |        right(s_name, 2) AS g2
        |      FROM supplier),
        |p AS (SELECT 'C' || CAST(id_a AS VARCHAR) AS x,
        |        'S' || CAST(id_b AS VARCHAR) AS y,
        |        (CASE WHEN f0 IS NOT NULL AND g0 IS NOT NULL AND f0 = g0
        |              THEN 18 ELSE -2 END)
        |      + (CASE WHEN f1 IS NOT NULL AND g1 IS NOT NULL AND f1 = g1
        |              THEN 15 ELSE -3 END)
        |      + (CASE WHEN f2 IS NOT NULL AND g2 IS NOT NULL AND f2 = g2
        |              THEN 25 ELSE -1 END) AS score
        |      FROM a JOIN b ON b.blk = a.blk),
        |e AS (SELECT x, y FROM p WHERE score >= 40),
        |sym AS (SELECT x AS a, y AS b FROM e UNION SELECT y, x FROM e),
        |nodes AS (SELECT DISTINCT a AS node FROM sym),
        |cc AS (SELECT node, node AS lab FROM nodes
        |       UNION SELECT s.b AS node, c.lab
        |       FROM cc c JOIN sym s ON c.node = s.a WHERE c.lab < s.b)
        |SELECT component AS entity, CAST(COUNT(*) AS BIGINT) AS n_members
        |FROM (SELECT node, MIN(lab) AS component FROM cc GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_phash_dedup" ->
      """WITH h AS (SELECT doc_id AS id,
        |         ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |       FROM documents),
        |b AS (SELECT id, h, k, (h >> (15 * CAST(k AS INT))) & 32767 AS bv
        |      FROM h, UNNEST([0, 1, 2, 3]) AS t(k)),
        |c AS (SELECT DISTINCT a.id AS id_a, bb.id AS id_b,
        |        a.h AS ha, bb.h AS hb
        |      FROM b a JOIN b bb ON bb.k = a.k AND bb.bv = a.bv
        |        AND a.id < bb.id)
        |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM c WHERE bit_count(xor(ha, hb)) <= 20
        |ORDER BY id_a, id_b""".stripMargin,
    "q_phash_pixels" ->
      """WITH px AS (
        |  SELECT doc_id, tx.x AS x, ty.y AS y,
        |         ((doc_id % 1024) * 7 + tx.x * 3 + ty.y * 7 +
        |          tx.x * ty.y * ((doc_id % 1024) % 13 + 1)) % 256 AS luma
        |  FROM documents, range(0, 16) tx(x), range(0, 16) ty(y)),
        |cells AS (SELECT doc_id,
        |            ((y * 8) // 16) * 8 + (x * 8) // 16 AS cell,
        |            SUM(luma) AS csum, COUNT(*) AS cnt
        |          FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(csum) // 256 AS gmean
        |        FROM cells GROUP BY 1),
        |ph AS (SELECT c.doc_id AS id,
        |         SUM(CASE WHEN c.csum // c.cnt >= t.gmean
        |             THEN (CAST(1 AS BIGINT) << CAST(c.cell AS INT))
        |             ELSE 0 END) AS h
        |       FROM cells c JOIN tot t USING (doc_id)
        |       WHERE c.cell < 60 GROUP BY 1),
        |b AS (SELECT id, h, k, (h >> (15 * CAST(k AS INT))) & 32767 AS bv
        |      FROM ph, UNNEST([0, 1, 2, 3]) AS t(k)),
        |c2 AS (SELECT DISTINCT a.id AS id_a, bb.id AS id_b,
        |         a.h AS ha, bb.h AS hb
        |       FROM b a JOIN b bb ON bb.k = a.k AND bb.bv = a.bv
        |         AND a.id < bb.id)
        |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM c2 WHERE bit_count(xor(ha, hb)) <= 8
        |ORDER BY id_a, id_b""".stripMargin,
    "q_knn_shapley" ->
      """WITH q AS (SELECT vec_id AS id, list_transform(embedding,
        |         x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))
        |         AS v, label AS lab
        |       FROM embeddings),
        |t AS (SELECT id AS test_id, v AS tv, lab AS tlab FROM q
        |      WHERE id % 25 = 0),
        |r AS (SELECT id AS train_id, v AS rv, lab AS rlab FROM q
        |      WHERE id % 25 <> 0),
        |pairs AS (SELECT test_id, train_id,
        |    (SELECT SUM((tv[i] - rv[i]) * (tv[i] - rv[i]))
        |     FROM UNNEST(range(1, len(tv) + 1)) AS u(i)) AS dist,
        |    CASE WHEN tlab = rlab THEN 1 ELSE 0 END AS eq
        |  FROM t JOIN r ON true),
        |rk AS (SELECT test_id, train_id, eq,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY test_id
        |      ORDER BY dist, train_id) AS BIGINT) AS j,
        |    CAST(COUNT(*) OVER (PARTITION BY test_id) AS BIGINT) AS n
        |  FROM pairs),
        |d AS (SELECT test_id, train_id, eq, j, n,
        |    LEAD(eq) OVER (PARTITION BY test_id ORDER BY j) AS eq_next
        |  FROM rk),
        |s AS (SELECT test_id, train_id, j,
        |    CASE WHEN j = n THEN (1000000 * eq) // n
        |         WHEN eq >= eq_next
        |         THEN (1000000 * (eq - eq_next)) // GREATEST(5, j)
        |         ELSE 0 - ((1000000 * (eq_next - eq)) // GREATEST(5, j))
        |    END AS delta
        |  FROM d),
        |suf AS (SELECT test_id, train_id,
        |    CAST(SUM(delta) OVER (PARTITION BY test_id ORDER BY j DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS shap_ppm
        |  FROM s)
        |SELECT train_id, CAST(COUNT(*) AS BIGINT) AS n_tests,
        |  CAST(SUM(shap_ppm) AS BIGINT) AS shap_sum_ppm
        |FROM suf GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_label_noise_class" ->
      """WITH q AS (SELECT vec_id AS id, list_transform(embedding,
        |         x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))
        |         AS v, CAST(label AS BIGINT) AS lab
        |       FROM embeddings),
        |p AS (SELECT id AS probe_id, v AS pv, lab AS plab FROM q
        |      WHERE id % 4 = 0),
        |pairs AS (SELECT probe_id, plab, train_id,
        |    (SELECT SUM((pv[i] - rv[i]) * (pv[i] - rv[i]))
        |     FROM UNNEST(range(1, len(pv) + 1)) AS u(i)) AS dist,
        |    CASE WHEN plab = rlab THEN 1 ELSE 0 END AS eq
        |  FROM p JOIN (SELECT id AS train_id, v AS rv, lab AS rlab FROM q) r
        |    ON probe_id <> train_id),
        |rk AS (SELECT probe_id, plab, eq,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY dist, train_id) AS rn
        |  FROM pairs),
        |agg AS (SELECT probe_id, plab,
        |    CAST(SUM(eq) AS BIGINT) AS eq_k,
        |    CAST(COUNT(*) AS BIGINT) AS k_eff
        |  FROM rk WHERE rn <= 5 GROUP BY 1, 2)
        |SELECT plab AS label, CAST(COUNT(*) AS BIGINT) AS n_probes,
        |  CAST(SUM(CASE WHEN eq_k * 2 < k_eff THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  (1000 * CAST(SUM(CASE WHEN eq_k * 2 < k_eff THEN 1 ELSE 0 END)
        |     AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS flag_permille,
        |  (1000000 * CAST(SUM(eq_k) AS BIGINT))
        |     // CAST(SUM(k_eff) AS BIGINT) AS agree_ppm
        |FROM agg GROUP BY 1 ORDER BY label""".stripMargin,
    "q_record_linkage" ->
      """WITH a AS (SELECT c_custkey AS id_a, c_nationkey AS blk,
        |         CAST(FLOOR(ABS(c_acctbal) * 100) AS BIGINT) % 10 AS f0,
        |         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS f1,
        |         right(c_name, 2) AS f2
        |       FROM customer),
        |b AS (SELECT s_suppkey AS id_b, s_nationkey AS blk,
        |        CAST(FLOOR(ABS(s_acctbal) * 100) AS BIGINT) % 10 AS g0,
        |        CAST(FLOOR(s_acctbal / 1000.0) AS BIGINT) AS g1,
        |        right(s_name, 2) AS g2
        |      FROM supplier),
        |p AS (SELECT id_a, id_b, CAST(
        |        (CASE WHEN f0 IS NOT NULL AND g0 IS NOT NULL AND f0 = g0
        |              THEN 18 ELSE -2 END)
        |      + (CASE WHEN f1 IS NOT NULL AND g1 IS NOT NULL AND f1 = g1
        |              THEN 15 ELSE -3 END)
        |      + (CASE WHEN f2 IS NOT NULL AND g2 IS NOT NULL AND f2 = g2
        |              THEN 25 ELSE -1 END) AS BIGINT) AS score_db
        |      FROM a JOIN b ON b.blk = a.blk)
        |SELECT id_a, id_b, score_db,
        |  CASE WHEN score_db >= 40 THEN 'link' ELSE 'possible' END AS klass
        |FROM p WHERE score_db >= 20 ORDER BY id_a, id_b""".stripMargin,
    "q_dbscan_grid" ->
      """WITH RECURSIVE
        |pts AS (SELECT vec_id AS id,
        |          CAST(FLOOR(CAST(embedding[1] AS DOUBLE) / 0.125) AS BIGINT)
        |            AS cell_x,
        |          CAST(FLOOR(CAST(embedding[2] AS DOUBLE) / 0.125) AS BIGINT)
        |            AS cell_y
        |        FROM embeddings
        |        WHERE embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL),
        |cells AS (SELECT cell_x, cell_y, CAST(COUNT(*) AS BIGINT) AS n
        |          FROM pts GROUP BY 1, 2),
        |core AS (SELECT cell_x, cell_y,
        |           CAST(cell_x AS VARCHAR) || ':' || CAST(cell_y AS VARCHAR)
        |             AS node
        |         FROM cells WHERE n >= 10),
        |off AS (SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
        |          (0,0),(0,1),(1,-1),(1,0),(1,1)) t(dx, dy)),
        |sym AS (SELECT a.node AS a, b.node AS b
        |        FROM core a JOIN off ON true
        |          JOIN core b ON b.cell_x = a.cell_x + off.dx
        |                     AND b.cell_y = a.cell_y + off.dy),
        |cc AS (SELECT node, node AS lab
        |         FROM (SELECT DISTINCT a AS node FROM sym)
        |       UNION
        |       SELECT s.b AS node, c.lab
        |       FROM cc c JOIN sym s ON c.node = s.a
        |       WHERE c.lab < s.b),
        |comp AS (SELECT node, MIN(lab) AS component FROM cc GROUP BY 1),
        |coreclu AS (SELECT c.cell_x, c.cell_y, comp.component AS cluster
        |            FROM core c JOIN comp ON comp.node = c.node),
        |borderclu AS (SELECT nc.cell_x, nc.cell_y, MIN(k.cluster) AS cluster
        |              FROM (SELECT cell_x, cell_y FROM cells WHERE n < 10) nc
        |                JOIN off ON true
        |                JOIN coreclu k ON k.cell_x = nc.cell_x + off.dx
        |                              AND k.cell_y = nc.cell_y + off.dy
        |              GROUP BY 1, 2)
        |SELECT p.id, p.cell_x, p.cell_y,
        |  COALESCE(k.cluster, b.cluster) AS cluster,
        |  CASE WHEN k.cluster IS NOT NULL THEN 'core'
        |       WHEN b.cluster IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS kind
        |FROM pts p
        |  LEFT JOIN coreclu k ON k.cell_x = p.cell_x AND k.cell_y = p.cell_y
        |  LEFT JOIN borderclu b ON b.cell_x = p.cell_x AND b.cell_y = p.cell_y
        |ORDER BY p.id""".stripMargin,
    "q_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos,
        |             array_to_string(w[i:i+3], ' ') AS gram
        |      FROM toks, UNNEST(range(1, greatest(len(w) - 2, 1))) AS t(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |        HAVING COUNT(DISTINCT doc_id) >= 2),
        |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |            AS grp
        |        FROM dp)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
        |       CAST(COUNT(*) AS BIGINT) AS n_grams,
        |       CAST(COUNT(*) + 3 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, start_pos""".stripMargin,
    "q_dup_spans_multi" -> {
      // one (grams → dup grams → covered intervals) CTE chain per
      // resolution, then the running-max island merge over the union
      val res = Seq((4, 4), (8, 3), (16, 2))
      val chains = res.map { case (n, m) =>
        // gh mirrors the Spark side's portable 60-bit md5 gram lane
        s"""g$n AS (SELECT doc_id, i - 1 AS pos,
           |            ('0x' || substr(md5(array_to_string(w[i:i+${n - 1}], ' ')), 1, 15))::BIGINT AS gh
           |      FROM toks, UNNEST(range(1, greatest(len(w) - ${n - 2}, 1))) AS t(i)),
           |dup$n AS (SELECT gh FROM g$n GROUP BY gh
           |          HAVING COUNT(DISTINCT doc_id) >= $m),
           |iv$n AS (SELECT doc_id, pos AS s, pos + ${n - 1} AS e
           |         FROM g$n JOIN dup$n USING (gh))""".stripMargin
      }.mkString(",\n")
      val unioned = res.map { case (n, _) => s"SELECT * FROM iv$n" }
        .mkString("\nUNION ALL\n")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |$chains,
         |iv AS (SELECT DISTINCT doc_id, s, e FROM (
         |$unioned)),
         |mx AS (SELECT doc_id, s, e,
         |         MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |       FROM iv),
         |grp AS (SELECT doc_id, s, e,
         |          SUM(CASE WHEN pmax IS NULL OR s > pmax + 1
         |              THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY doc_id ORDER BY s, e
         |              ROWS UNBOUNDED PRECEDING) AS g
         |        FROM mx)
         |SELECT doc_id, CAST(MIN(s) AS BIGINT) AS start_pos,
         |       CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens
         |FROM grp GROUP BY doc_id, g ORDER BY doc_id, start_pos""".stripMargin
    },
    "q_pii_scrub" ->
      """WITH c1 AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        |    regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
        |      '<EMAIL>', 'g') AS t1
        |  FROM documents),
        |c2 AS (SELECT doc_id, n_email,
        |    CAST(len(regexp_extract_all(t1, '[0-9]{3}-[0-9]{4}')) AS BIGINT)
        |      AS n_phone,
        |    regexp_replace(t1, '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS t2
        |  FROM c1)
        |SELECT doc_id, n_email, n_phone,
        |  CAST(len(regexp_extract_all(t2, '\b(slow|fast)\b')) AS BIGINT)
        |    AS n_speed,
        |  regexp_replace(t2, '\b(slow|fast)\b', '<SPEED>', 'g') AS text_clean
        |FROM c2 ORDER BY doc_id""".stripMargin,
    "q_blocklist" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ph AS (SELECT phrase, len(string_split(phrase, ' ')) AS plen
        |       FROM (VALUES ('batch batch'), ('slow'), ('the fast key'),
        |                    ('window window')) p(phrase)),
        |g AS (SELECT doc_id, pl.plen, i - 1 AS pos,
        |             array_to_string(w[i:i+pl.plen-1], ' ') AS gram
        |      FROM toks, (SELECT DISTINCT plen FROM ph) pl,
        |           UNNEST(range(1, greatest(len(w) - pl.plen + 2, 1))) AS t(i))
        |SELECT doc_id, phrase, CAST(COUNT(*) AS BIGINT) AS n_hits,
        |       CAST(MIN(pos) AS BIGINT) AS first_pos
        |FROM g JOIN ph ON ph.plen = g.plen AND ph.phrase = g.gram
        |GROUP BY doc_id, phrase ORDER BY doc_id, phrase""".stripMargin,
    "q_token_budget" ->
      """WITH s AS (SELECT source AS grp, CAST(SUM(n_chars) AS BIGINT) AS sz
        |           FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(SUM(sz) AS BIGINT) AS tot FROM s),
        |q AS (SELECT grp, sz,
        |        CAST((1000000 * sz) // tot AS BIGINT) AS fl,
        |        CAST((1000000 * sz) % tot AS BIGINT) AS rem
        |      FROM s, t),
        |e AS (SELECT CAST(1000000 - SUM(fl) AS BIGINT) AS extra FROM q),
        |r AS (SELECT grp, sz, fl,
        |        row_number() OVER (ORDER BY rem DESC, grp) AS rn
        |      FROM q)
        |SELECT grp, sz,
        |       CAST(fl + CASE WHEN rn <= extra THEN 1 ELSE 0 END AS BIGINT)
        |         AS quota
        |FROM r, e ORDER BY grp""".stripMargin,
    "q_pack_pairs" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS len FROM documents),
        |rk AS (SELECT doc_id, len,
        |         CAST(ROW_NUMBER() OVER (ORDER BY len DESC, doc_id) AS BIGINT) AS r,
        |         CAST(COUNT(*) OVER () AS BIGINT) AS n FROM base),
        |l AS (SELECT * FROM rk WHERE r < n + 1 - r),
        |j AS (SELECT l.doc_id AS id_l, l.len AS len_l, l.r AS r_l,
        |             s.doc_id AS id_s, s.len AS len_s, s.r AS r_s
        |      FROM l JOIN rk s ON s.r = l.n + 1 - l.r),
        |m AS (
        |  SELECT id_l AS doc_id, len_l AS len, r_l AS rnk, id_l AS pack_id,
        |         CASE WHEN len_l + len_s <= 600 THEN 2 ELSE 1 END AS n_members,
        |         CASE WHEN len_l + len_s <= 600 THEN len_l + len_s ELSE len_l END AS pack_len
        |  FROM j
        |  UNION ALL
        |  SELECT id_s, len_s, r_s,
        |         CASE WHEN len_l + len_s <= 600 THEN id_l ELSE id_s END,
        |         CASE WHEN len_l + len_s <= 600 THEN 2 ELSE 1 END,
        |         CASE WHEN len_l + len_s <= 600 THEN len_l + len_s ELSE len_s END
        |  FROM j
        |  UNION ALL
        |  SELECT doc_id, len, r, doc_id, 1, len FROM rk WHERE r = n + 1 - r)
        |SELECT doc_id, len, rnk, pack_id,
        |       CAST(n_members AS BIGINT) AS n_members,
        |       CAST(pack_len AS BIGINT) AS pack_len,
        |       (CAST(pack_len AS BIGINT) * 1000000) // 600 AS fill_ppm
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_dsir" ->
      """WITH toks AS (SELECT doc_id,
        |                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
        |                unnest(string_split(text, ' ')) AS tok FROM documents),
        |b AS (SELECT doc_id, tgt,
        |        ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS bkt FROM toks),
        |stats AS (SELECT bkt, CAST(SUM(tgt) AS BIGINT) AS cnt_t,
        |                 COUNT(*) AS cnt_s FROM b GROUP BY bkt),
        |tot AS (SELECT CAST(SUM(cnt_t) AS BIGINT) AS tot_t,
        |               CAST(SUM(cnt_s) AS BIGINT) AS tot_s FROM stats),
        |w AS (SELECT bkt, (cnt_t * 1000000) // tot_t - (cnt_s * 1000000) // tot_s AS w
        |      FROM stats, tot)
        |SELECT doc_id, COUNT(*) AS n_toks, CAST(SUM(w) AS BIGINT) AS score_ppm
        |FROM b JOIN w USING (bkt) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_minhash_inc" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(w)-1, 2))) AS t(i)),
         |${graft.ops.Dedup.minHashPortableOracleCtes(numHashes = 64, bands = 16)},
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bnd a JOIN bnd b
         |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |         WHERE a.doc_id % 2 = 1 OR b.doc_id % 2 = 1),
         |est AS (SELECT c.id_a, c.id_b,
         |          CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT)
         |            AS est_matches
         |        FROM cand c
         |        JOIN mh ma ON ma.doc_id = c.id_a
         |        JOIN mh mb ON mb.doc_id = c.id_b AND mb.i = ma.i
         |        GROUP BY c.id_a, c.id_b)
         |SELECT id_a, id_b, est_matches,
         |       (est_matches * 1000) // 64 AS est_permille
         |FROM est WHERE (est_matches * 1000) // 64 >= 500
         |ORDER BY id_a, id_b""".stripMargin,
    "q_vocab_coverage" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        |v AS (SELECT tok FROM (SELECT tok,
        |         ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r FROM cnt)
        |      WHERE r <= 24)
        |SELECT t.doc_id, COUNT(*) AS n_toks,
        |       CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_in_vocab,
        |       (CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) * 1000000) // COUNT(*) AS coverage_ppm
        |FROM toks t LEFT JOIN v ON v.tok = t.tok
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q_shard_layout" ->
      """WITH a AS (SELECT ('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard,
        |                  CAST(n_chars AS BIGINT) AS w, source
        |           FROM documents),
        |per AS (SELECT shard, COUNT(*) AS n_rows, CAST(SUM(w) AS BIGINT) AS tot_w,
        |               COUNT(DISTINCT source) AS n_groups
        |        FROM a GROUP BY shard),
        |t AS (SELECT CAST(SUM(tot_w) AS BIGINT) AS tot FROM per)
        |SELECT shard, n_rows, tot_w, (tot_w * 1000000) // tot AS share_ppm,
        |       n_groups
        |FROM per, t ORDER BY shard""".stripMargin,
    "q_dedup_incremental" ->
      """WITH prev AS (SELECT sha256(text) AS text_sha, COUNT(*) AS pn,
        |                     MIN(doc_id) AS pk
        |              FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |inc AS (SELECT sha256(text) AS text_sha, COUNT(*) AS nn,
        |               MIN(doc_id) AS nk
        |        FROM documents WHERE doc_id % 2 = 1 GROUP BY 1)
        |SELECT COALESCE(p.text_sha, i.text_sha) AS text_sha,
        |       COALESCE(pn, 0) + COALESCE(nn, 0) AS n_copies,
        |       COALESCE(LEAST(pk, nk), pk, nk) AS keep_id,
        |       COALESCE(nn, 0) AS n_new
        |FROM prev p FULL OUTER JOIN inc i ON p.text_sha = i.text_sha
        |ORDER BY 1""".stripMargin)
}

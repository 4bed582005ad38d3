package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Bpe, CorpusStats, Sampling}

/** Corpus-statistics / retrieval / packing queries (round-5 batch of
  * the training-data pipeline surface): n-gram frequency, PII
  * redaction, vocabulary stats, repetition signals, across-document
  * chunk dedup, normalization, BM25 retrieval, sequence packing,
  * bloom-prefiltered decontamination, and a count-min-sketch
  * frequency check. All but the CMS query carry DuckDB oracles; the
  * PII and normalization queries deterministically AUGMENT the
  * synthetic text in-query (identically on both engines) so the
  * regexes have real matches to find.
  */
object Corpus {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.spread(s, dir, n)

  /** Deterministic PII augmentation — same expression the oracle
    * replays in SQL: periodic doc_ids gain an email / URL / IPv4.
    */
  private def augPii(text: Column, id: Column): Column =
    concat(text,
      when(id % 7 === 0,
        concat(lit(" contact user"), id.cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(id % 11 === 0,
        concat(lit(" visit https://site"), id.cast("string"), lit(".example.org/page")))
        .otherwise(lit("")),
      when(id % 13 === 0,
        concat(lit(" from 10.0."), (id % 256).cast("string"), lit(".1")))
        .otherwise(lit("")))

  /** Case/punctuation augmentation for the normalization query.
    * The tail substring works on the PARAMETER (substr with Column
    * args), not a hardcoded column name — a by-name expr("substring
    * (text, 9)") would silently mix columns for any other caller.
    */
  private def augCase(text: Column, id: Column): Column =
    concat(upper(substring(text, 1, 8)), text.substr(lit(9), length(text)),
      lit(" -- End#"), id.cast("string"), lit("!"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // corpus-wide exact top-k n-gram frequencies.
    "q81_topk_ngrams" -> ((s, dir) => {
      CorpusStats.topKNgrams(t(s, dir, "documents"), "text", 3, 20)
    }),

    // PII scan + redaction over deterministically-augmented text.
    "q82_pii_redact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val aug = augPii(col("text"), col("doc_id"))
      d.select(col("doc_id"),
        TextFunctions.countMatches(aug, TextFunctions.EmailPattern).as("n_emails"),
        TextFunctions.countMatches(aug, TextFunctions.UrlPattern).as("n_urls"),
        TextFunctions.countMatches(aug, TextFunctions.Ipv4Pattern).as("n_ips"),
        md5(TextFunctions.redactPii(aug)).as("redacted_fp"))
    }),

    // per-source vocabulary statistics.
    "q83_vocab_stats" -> ((s, dir) => {
      CorpusStats.vocabStats(t(s, dir, "documents"), "doc_id", "text", "source")
    }),

    // per-document repetition signal (Gopher quality input).
    "q84_repetition" -> ((s, dir) => {
      CorpusStats.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
    }),

    // across-document duplicate-chunk removal (C4 line-dedup shape).
    "q85_chunk_dedup" -> ((s, dir) => {
      CorpusStats.chunkDedup(t(s, dir, "documents"), "doc_id", "text", 10)
    }),

    // canonical normalization over case/punctuation-augmented text —
    // the NATIVE one-pass kernel (byte-identical to the regex
    // composition; spec-asserted), so the oracle regex replay also
    // gates the custom expression.
    "q86_normalize" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val norm = TextFunctions.normalizeTextNative(augCase(col("text"), col("doc_id")))
      d.select(col("doc_id"), md5(norm).as("norm_fp"),
        length(norm).cast("long").as("n_chars_norm"))
    }),

    // BM25 keyword retrieval, fixed term set, top-10.
    "q87_bm25" -> ((s, dir) => {
      CorpusStats.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join", "window"), 10)
    }),

    // greedy sequence packing into 512-token bins.
    "q88_pack_sequences" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      Sampling.packSequences(d, "doc_id", "n_tokens", 512L)
    }),

    // bloom-prefiltered decontamination — result IDENTICAL to the
    // exact path, so it shares the exact oracle (n=7, minShared=2
    // distinguish it from q73's configuration).
    "q89_bloom_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.filter(col("doc_id") % 50 === 0).select(col("text"))
      Sampling.decontaminateBloom(d, "doc_id", "text", bench, "text",
        n = 7, minShared = 2).select(col("doc_id"))
    }),

    // count-min-sketch frequency estimates for the exact top-20
    // 3-grams. The GATE runs the md5-hash CMS kernel (depth×width
    // counter table replayed bucket-for-bucket in SQL, estimate =
    // min over rows); Spark's `count_min_sketch` stays the production
    // default (q90s in the bench) and CorpusSpec asserts both obey
    // the one-sided CMS bound against exact counts.
    "q90_cms_topk" -> ((s, dir) => {
      CorpusStats.sketchedTopKNgramsMd5(t(s, dir, "documents"), "text", 3, 20)
    }),

    // distributed k-means over the embeddings table. The GATE runs
    // the quantized md5-init Lloyd kernel: inputs round to integers
    // (exact in doubles, so centroid sums are order-independent and
    // the whole iteration is bit-replayable), init = 8 smallest
    // md5(id), 3 unrolled iterations in the oracle. Production keeps
    // kmeans' float path + xxhash64 init; CorpusSpec asserts both
    // recover the same planted blobs.
    "q91_kmeans" -> ((s, dir) => {
      graft.operators.Clustering.kmeansMd5(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 3)
    }),

    // inverted index: per-term document frequency + sorted postings.
    // The operator emits postings as array<long>; the gate projects it
    // to a comma-joined string because the driver's pandas sort/hash
    // harness can't order array cells (round-5 q92 err). The oracle
    // mirrors the operator's default maxDf=10M gate (HAVING df<=1e7),
    // so the df-cap truncation is part of the verified contract, not a
    // silent divergence that only shows up past 10M-df terms.
    "q92_inverted_index" -> ((s, dir) => {
      CorpusStats.invertedIndex(t(s, dir, "documents"), "doc_id", "text")
        .select(col("term"), col("df"),
          concat_ws(",", col("postings").cast("array<string>")).as("postings"))
    }),

    // per-source document-length profile (exact quantiles).
    "q93_length_profile" -> ((s, dir) => {
      CorpusStats.lengthProfile(t(s, dir, "documents"), "text", "source")
    }),

    // BPE-style pre-tokenization over punctuated text (the augmented
    // form gives the contraction/punctuation branches real work).
    "q96_bpe_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val aug = concat(col("text"), lit(" it's #"), col("doc_id").cast("string"),
        lit(", done... (v2.5)"))
      d.select(col("doc_id"),
        TextFunctions.bpeTokenCount(aug).as("n_bpe"),
        md5(concat_ws("|", TextFunctions.bpeTokens(aug))).as("tok_fp"))
    }),

    // shingle-containment near-dup pairs (catches short-doc-inside-
    // long-doc embedding that symmetric Jaccard misses).
    "q99_containment" -> ((s, dir) => {
      graft.operators.Dedup.containmentPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.9)
    }),

    // RAG-style overlapping token-window chunking (width 32, overlap 8).
    "q100_rag_chunks" -> ((s, dir) => {
      CorpusStats.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        width = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id"),
          md5(col("chunk_text")).as("chunk_fp"), col("n_tokens"))
    }),

    // one-row corpus health report: the summary every pipeline run
    // emits before/after each stage — one aggregation pass, all
    // partial+final (exact counts; the pass rate is an avg over exact
    // int flags, rounded to 6 places to match the oracle).
    "q98_corpus_report" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text"))).as("total_tokens"),
        countDistinct(TextFunctions.fingerprint(col("text"))).as("distinct_docs"),
        round(avg(TextFunctions.passesQualityFilter(col("text"))
          .cast("int")), 6).as("quality_pass_rate"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("en_docs"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("other_docs"),
        countDistinct(col("source")).as("n_sources"))
    }),

    // bigram-LM quality score (perplexity-filter shape, self-trained).
    "q97_bigram_lm" -> ((s, dir) => {
      CorpusStats.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
    }),

    // cross-corpus Kneser–Ney (the CCNet deployment shape): LM tables
    // from the src0 slice, every document scored against them; seen
    // contexts interpolate, unseen contexts fall back to the
    // continuation model, unseen continuations take the 1/(T+1) floor.
    "q131_kn_score_ref" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      CorpusStats.bigramKnScoreAgainst(
        d.filter(col("source") === "src0"), d, "doc_id", "text")
    }),

    // interpolated Kneser–Ney bigram scoring (Chen & Goodman 1998),
    // self-trained: absolute discount + continuation-probability
    // interpolation, per-gram log-probs nano-quantized. The oracle
    // rebuilds context totals, fertilities, and continuation counts
    // from the same gram table.
    "q130_kn_bigram_lm" -> ((s, dir) => {
      CorpusStats.bigramKnScore(t(s, dir, "documents"), "doc_id", "text")
    }),

    // char-entropy quality signal, dual-form gate: explode → per-
    // (doc, char) counts → entropy = ln(n) − (Σ k·ln k)/n with the
    // k·ln k terms nano-quantized BEFORE summing, so the sum is an
    // exact long under any partitioning/engine order. The codegen'd
    // one-pass kernel (graft_char_entropy) is the production twin
    // (q128p below), spec-pinned to this algebra within 1e-9.
    "q128_char_entropy" -> ((s, dir) => {
      val cc = t(s, dir, "documents")
        .select(col("doc_id"), explode(filter(split(col("text"), ""),
          c => c =!= lit(""))).as("c"))
        .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("k"))
      val n = cc.groupBy(col("doc_id")).agg(sum(col("k")).as("n"))
      cc.join(n, Seq("doc_id"))
        .groupBy(col("doc_id"), col("n"))
        .agg(sum(round(col("k") * log(col("k")) * lit(1e9)).cast("long"))
          .as("__s9"))
        .select(col("doc_id"),
          round((log(col("n")) - col("__s9") / lit(1e9) / col("n")) * lit(1e9))
            .cast("long").as("ent9"))
    }),

    // hashing-trick TF-IDF featurizer, md5-bucket gate twin: the
    // oracle rebuilds every bucket, tf, smoothed idf, and the
    // nano-fixed-point weight fingerprint. Production twin q127p
    // (xxhash64 buckets, dense vectors) is rows-only below.
    "q127_hashing_tfidf" -> ((s, dir) => {
      CorpusStats.hashingTfIdfMd5(t(s, dir, "documents"), "doc_id", "text",
        dim = 256)
    }),

    // multinomial Naive Bayes classifier (the trainable CCNet-style
    // corpus classifier): trained on the lang labels, applied back to
    // every document. All log-probabilities are nano-fixed-point
    // longs, so the per-doc score sums are exact and the argmax
    // (score desc, label asc) is engine-stable — the oracle replays
    // count→ln→round(·1e9) verbatim.
    "q126_naive_bayes" -> ((s, dir) => {
      CorpusStats.naiveBayesClassify(
        t(s, dir, "documents"), "doc_id", "text", "lang")
    }),

    // distributed BPE tokenizer training (arXiv:1508.07909): one
    // word-count shuffle, then greedy pair merges folded over the
    // driver-bounded vocabulary table. Exact integer/string
    // determinism — the oracle unrolls every round as (pair agg →
    // argmax → one recursive greedy-fold CTE); no gate twin needed.
    "q109_bpe_train" -> ((s, dir) => {
      Bpe.train(t(s, dir, "documents"), "text", numMerges = BpeRounds)
    }),

    // the learned merges applied back to the corpus, map-side (nested
    // aggregate HOFs, pairs as literals): per-doc symbol count and an
    // md5 over the full symbol stream. Oracle re-derives the merged
    // word dictionary (same chain as q109) and joins tokens to it.
    "q110_bpe_encode" -> ((s, dir) => {
      Bpe.trainEncode(t(s, dir, "documents"), "doc_id", "text",
        numMerges = BpeRounds)
    }),

    // the ONE-PASS encode kernel (graft_bpe_word) + vocabulary-id
    // lookup (graft_syms_to_ids) under a full oracle: same trained
    // merges as q109/q110, ids = sorted corpus chars then merge
    // products in rank order (duplicates first-wins). This is the
    // PRODUCTION encode path — q110's HOF chain is the
    // oracle-replayable twin, spec-pinned equal; here the fast kernel
    // itself is hash-checked end to end.
    "q111_bpe_encode_ids" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merges = Bpe.trainMerges(d, "text", numMerges = BpeRounds)
      Bpe.encodeToIds(d, "doc_id", "text", merges,
        Bpe.vocabulary(d, "text", merges))
    }),

    // CCNet-shaped CROSS-corpus LM scoring: train the bigram LM on
    // the src0 slice only, score every document against it — n-grams
    // unseen in the reference keep their smoothed mass (LEFT joins)
    // so out-of-domain text scores low instead of dropping.
    "q108_lm_score_ref" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      CorpusStats.bigramLmScoreAgainst(
        d.filter(col("source") === "src0"), d, "doc_id", "text")
    }),

    // word-level blocklist screening (safety-wordlist stage): hit
    // counts + flag per doc, term list broadcast against the exploded
    // token stream.
    "q121_blocklist" -> ((s, dir) => {
      CorpusStats.blocklistHits(t(s, dir, "documents"), "doc_id", "text",
        Seq("slow", "big", "merge"))
    }),

    // THE PIPELINE'S FINAL ARTIFACT: documents tokenized to BPE ids
    // (one-pass kernel + vocab lookup) and greedily packed into
    // 512-token training sequences — per bin, the doc count, token
    // count, and a fingerprint of the concatenated id stream in
    // packing order. Every stage is itself oracled (q109/q111/q88);
    // this gate proves the tokenize→pack COMPOSITION end to end.
    "q120_pack_token_ids" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merges = Bpe.trainMerges(d, "text", numMerges = BpeRounds)
      val ids = Bpe.encodeIds(d, "doc_id", "text", merges,
          Bpe.vocabulary(d, "text", merges))
        .withColumn("n_tokens", size(col("ids")).cast("long"))
      Sampling.packSequences(ids, "doc_id", "n_tokens", 512L)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          md5(concat_ws("|", flatten(transform(
            array_sort(collect_list(struct(
              md5(col("doc_id").cast("string").cast("binary")).as("k"),
              col("doc_id").as("d"),
              transform(col("ids"), _.cast("string")).as("v")))),
            x => x.getField("v")))).cast("binary")).as("ids_fp"))
    }),

    // tokenizer fertility per source under the q109-trained merges —
    // the one-pass kernel again runs under a full oracle here (the
    // e-chain replays every word's merged form; sums are integers,
    // the two ratios one fixed-order division each).
    "q118_bpe_fertility" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Bpe.fertilityStats(d, "text", "source",
        Bpe.trainMerges(d, "text", numMerges = BpeRounds))
    }),

    // corpus version diff: classify added/removed/changed docs between
    // two corpus versions (the "what did my filter change" primitive).
    // The second version is synthesized deterministically from the
    // fixture: drop %17 docs, append a marker to %13 docs, add fresh
    // ids for %29 docs — exercising all three statuses.
    "q117_corpus_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val changed = d.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" changedmark")))
            .otherwise(col("text")))
      val added = d.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("brand new doc "), col("doc_id").cast("string")).as("text"))
      CorpusStats.corpusDiff(d, changed.unionByName(added), "doc_id", "text")
    }),

    // HyperLogLog distinct-token estimate per source (Flajolet 2007):
    // the mergeable cardinality companion to the q90 CMS frequency
    // sketch. GATE = md5 registers at b=8 with the harmonic sum in
    // exact fixed point, so the ESTIMATE itself hash-compares;
    // production keeps the xxhash64 b=12 kernel (q115p + spec).
    "q115_hll_distinct" -> ((s, dir) => {
      val tk = t(s, dir, "documents").select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      CorpusStats.hllDistinctMd5(tk, Seq("source"), "tok")
    }),

    // trigram stupid-backoff scoring vs the src0 reference (Brants
    // 2007): the backoff chain genuinely fires cross-corpus —
    // reference-unseen trigrams fall to bigrams, unseen bigrams to
    // the add-one unigram floor.
    "q124_stupid_backoff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      CorpusStats.stupidBackoffScoreAgainst(
        d.filter(col("source") === "src0"), d, "doc_id", "text")
    }),

    // CCNet's head/middle/tail perplexity partition: q108's scoring,
    // then an exact global rank bucket (no single-partition window —
    // per-score-group ranking is parallel, the distinct-score
    // cumulative frame is value-granularity-bounded).
    "q113_perplexity_buckets" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      CorpusStats.perplexityBuckets(
        d.filter(col("source") === "src0"), d, "doc_id", "text")
    }),

    // end-to-end corpus assembly: quality gate → per-source token
    // budgets (mixture weighting) → global sequence packing. Each
    // stage is itself oracled (q74/q72/q88); this gate proves the
    // COMPOSITION stays exact — the pipeline a real corpus build runs.
    "q95_corpus_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val gated = d
        .filter(TextFunctions.passesQualityFilter(col("text")))
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val sampled = Sampling.sampleToTokenBudgetBy(gated, "doc_id", "n_tokens",
        "source", Map("src0" -> 8000L, "src1" -> 5000L, "src2" -> 3000L))
      Sampling.packSequences(sampled.select(col("doc_id"), col("source"),
        col("n_tokens")), "doc_id", "n_tokens", 512L)
    }),

    // bucketByRank's HOT-SCORE regime under a driver oracle (round-14
    // verdict ask #8): ~70% of the kept orders share one score value,
    // and the cap is lowered to 1024 for this query's plan
    // construction so that value takes the sub-sliced (score,
    // hash-slice) rank path at gate scale — sf0.01's natural data
    // never exceeds the 2^20 default. The orderkey%3 slice exists
    // only to size the gate: the hot regime needs maxGroup > cap, not
    // the whole table (round-15 ask #7 — the unsliced form paid 8 s
    // of identical machinery for no extra coverage; the hot group is
    // still ~3× the cap at the verify gate's sf0.01 and ~34× at the
    // bench's sf0.1, while every cold score value stays two orders of
    // magnitude under it). Hot ties break by
    // (xxhash64, id), which DuckDB cannot replay row-for-row, so the
    // gate output is the ORDER-INDEPENDENT contract of the hot path:
    // per-bucket row counts, hot-row counts, and a cold-row key
    // checksum. Every cross-score offset, the exact equal-count
    // partition, and the cold rows' id-order ranks are fully pinned
    // (any mis-rank moves a row's bucket and breaks a count or the
    // checksum); only the internal shuffle of equal-score hot ties —
    // semantically arbitrary — is aggregated away.
    "q135_rank_hot_gate" -> ((s, dir) => {
      val prev = s.conf.getOption("spark.graft.rank.hotScoreRows")
      s.conf.set("spark.graft.rank.hotScoreRows", "1024")
      try {
        val o = t(s, dir, "orders")
          .filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 < 7, lit(0.5))
            .otherwise((col("o_orderkey") % 97).cast("double") / lit(97.0))
            .as("score"))
        CorpusStats.bucketByRank(o, "o_orderkey", "score", 5)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            sum((col("score") === 0.5).cast("long")).as("n_hot"),
            sum(when(col("score") =!= 0.5, col("o_orderkey"))).as("cold_key_sum"))
      } finally {
        prev.fold(s.conf.unset("spark.graft.rank.hotScoreRows"))(
          s.conf.set("spark.graft.rank.hotScoreRows", _))
      }
    }),

    // Gopher repetition signals (arXiv:2112.11446 table A1) — the
    // codegen'd graft_rep_signals kernel, oracled as INTEGERS (char
    // counts, not fractions) so the compare is hash-exact. Natural
    // ~60-token synthetic docs never repeat a 5-gram, so the
    // dup-{5..10} family would gate on all-zeros; like the PII query,
    // repetition is AUGMENTED deterministically (1 in 7 docs gains
    // its own 20-token prefix → partial coverage, 1 in 11 doubles →
    // near-full coverage) with the identical CASE replayed in SQL.
    "q136_gopher_repetition" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val aug = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" "), array_join(slice(toks, 1, 20), " ")))
        .when(col("doc_id") % 11 === 3,
          concat(col("text"), lit(" "), col("text")))
        .otherwise(col("text"))
      val names = Seq("total_chars", "top2_chars", "top3_chars",
        "top4_chars", "dup5_chars", "dup6_chars", "dup7_chars",
        "dup8_chars", "dup9_chars", "dup10_chars", "n_tokens")
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.repetitionSignals(aug).as("__s"))
        .select(col("doc_id") +: names.zipWithIndex.map { case (nm, i) =>
          element_at(col("__s"), i + 1).as(nm) }: _*)
    })
  )

  /** q109/q110 unroll depth — also the gate queries' numMerges. */
  val BpeRounds = 8

  /** One unrolled BPE round r: pair counts over w{r-1} → deterministic
    * argmax b$r (count desc, then (a, b) asc) → recursive CTE m$r
    * folding each word's symbol list left to right with the SAME
    * greedy rule as `Bpe.applyMerge` (replace the accumulator's last
    * element when (last, next) equals the picked pair; a merged `ab`
    * can never chain because ab ≠ a) → w$r, the merged vocabulary.
    * Recursion depth = max word length; rows = vocab size.
    *
    * Every non-recursive CTE is `AS MATERIALIZED`: DuckDB 1.0 inlines
    * plain CTEs at each reference, and this chain references each
    * round's output multiple times — inlined, evaluation re-expands
    * combinatorially (the unhinted q109 oracle burned >20 CPU-minutes
    * at sf0.01; materialized it returns in well under a second). The
    * hint changes no semantics. Belt-and-braces, the recursive arm
    * reads the picked pair via a cross join of the one-row b$r rather
    * than two scalar subqueries, so the pick is evaluated once per
    * round no matter how the optimizer treats subquery inlining.
    */
  private def bpeRoundCtes(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS MATERIALIZED (SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS c
           FROM $prev, UNNEST(generate_series(1, len(syms)-1)) AS t(i) GROUP BY 1, 2),
         b$r AS MATERIALIZED (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         m$r AS (SELECT word, cnt, syms, 2 AS i, [syms[1]] AS acc FROM $prev
           UNION ALL
           SELECT word, cnt, syms, i + 1,
             CASE WHEN acc[-1] = pk.a AND syms[i] = pk.b
                  THEN acc[1:len(acc)-1] || [acc[-1] || syms[i]]
                  ELSE acc || [syms[i]] END
           FROM m$r CROSS JOIN b$r AS pk WHERE i <= len(syms)),
         w$r AS MATERIALIZED (SELECT word, cnt, acc AS syms FROM m$r WHERE i = len(syms) + 1)"""
  }

  /** Shared q109/q110 chain: capped word counts → char symbols →
    * [[BpeRounds]] unrolled rounds. The 10000 cap mirrors
    * `Bpe.trainMerges`' default `maxVocab` (ties → smallest word). */
  private def bpeChainSql: String = {
    val w0 = """w0 AS MATERIALIZED (SELECT word, cnt, string_split(word, '') AS syms FROM (
           SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
           GROUP BY t ORDER BY cnt DESC, t LIMIT 10000))"""
    (Seq(w0) ++ (1 to BpeRounds).map(bpeRoundCtes)).mkString(",\n         ")
  }

  /** q110's ENCODE dictionary: the learned pairs (b1..bR from the
    * capped TRAINING chain) folded over the FULL distinct-word table
    * — `Bpe.encode` applies the merges to every token, including
    * words the maxVocab cap excluded from training, so an oracle that
    * joins tokens to the capped `w$R` would silently drop (or worse,
    * silently match only while the fixture vocabulary fits the cap)
    * any out-of-cap word. This chain makes the join total by
    * construction, independent of corpus-vs-cap size. */
  private def bpeEncodeCtes(r: Int): String = {
    val prev = s"e${r - 1}"
    s"""me$r AS (SELECT word, syms, 2 AS i, [syms[1]] AS acc FROM $prev
           UNION ALL
           SELECT word, syms, i + 1,
             CASE WHEN acc[-1] = pk.a AND syms[i] = pk.b
                  THEN acc[1:len(acc)-1] || [acc[-1] || syms[i]]
                  ELSE acc || [syms[i]] END
           FROM me$r CROSS JOIN b$r AS pk WHERE i <= len(syms)),
         e$r AS MATERIALIZED (SELECT word, acc AS syms FROM me$r WHERE i = len(syms) + 1)"""
  }

  private def bpeEncodeChainSql: String = {
    val e0 = """e0 AS MATERIALIZED (SELECT word, string_split(word, '') AS syms FROM (
           SELECT DISTINCT t AS word
           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)))"""
    (Seq(e0) ++ (1 to BpeRounds).map(bpeEncodeCtes)).mkString(",\n         ")
  }

  /** q108's cross-corpus LM scoring, shared verbatim by the q113
    * bucket oracle: LM tables from the src0 slice, LEFT joins
    * carrying add-one smoothing for reference-unseen n-grams
    * (coalesce(cb,0) → P = 1/(cu+V), coalesce(cu,0) → 1/V). */
  private val LmScoreRefSql =
    """WITH rt AS (SELECT string_split(text, ' ') AS w FROM documents
                   WHERE source = 'src0'),
         uni AS (SELECT t, count(*) AS cu
           FROM (SELECT unnest(w) AS t FROM rt) GROUP BY t),
         vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
         rbg AS (SELECT w[i] || ' ' || w[i+1] AS g
           FROM rt, UNNEST(generate_series(1, len(w)-1)) AS s(i)),
         bgc AS (SELECT g, count(*) AS cb FROM rbg GROUP BY g),
         tt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         bg AS (SELECT doc_id, i AS pos, w[i] AS w1, w[i] || ' ' || w[i+1] AS g
           FROM tt, UNNEST(generate_series(1, len(w)-1)) AS s(i)),
         scored AS (SELECT bg.doc_id, bg.pos,
             ln((coalesce(bgc.cb, 0) + 1.0) / (coalesce(uni.cu, 0) + vocab.v)) AS logp
           FROM bg LEFT JOIN bgc USING (g)
                   LEFT JOIN uni ON uni.t = bg.w1, vocab)
         SELECT doc_id, count(*) AS n_bigrams,
           round(sum(CAST(round(logp * 1e9) AS BIGINT)) / 1e9 / count(*), 6) AS avg_logp
         FROM scored GROUP BY doc_id"""

  /** Shared q111/q120 id-derivation CTEs: deterministic vocabulary
    * (sorted corpus chars then merge products, min(id) on duplicate
    * strings), every token joined to its merged form, one row per
    * (doc, token pos, symbol pos) with its id. Assumes
    * [[bpeChainSql]] + [[bpeEncodeChainSql]] precede it. */
  private def bpeIdsCtes: String =
    s"""chars AS MATERIALIZED (SELECT DISTINCT c FROM (
             SELECT unnest(string_split(replace(text, ' ', ''), '')) AS c
             FROM documents) WHERE c <> ''),
         nch AS MATERIALIZED (SELECT count(*) AS n FROM chars),
         vocab AS MATERIALIZED (SELECT tok, CAST(min(id) AS INTEGER) AS id FROM (
             SELECT c AS tok, row_number() OVER (ORDER BY c) - 1 AS id FROM chars
             UNION ALL
             SELECT mg.a || mg.b AS tok, nch.n + mg.r - 1 AS id FROM (
               ${(1 to BpeRounds).map(r =>
                 s"SELECT $r AS r, a, b FROM b$r").mkString("\n               UNION ALL ")}) mg, nch)
           GROUP BY tok),
         toks AS (SELECT doc_id, t.i AS pos, tl[i] AS word
                  FROM (SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
                       UNNEST(generate_series(1, len(tl))) AS t(i)),
         enc AS (SELECT doc_id, pos, d.syms
                 FROM toks JOIN e$BpeRounds d USING (word)),
         sym AS (SELECT doc_id, pos, g.i AS spos, syms[g.i] AS s
                 FROM enc, UNNEST(generate_series(1, len(syms))) AS g(i)),
         wid AS MATERIALIZED (SELECT doc_id, pos, spos, v.id
                 FROM sym JOIN vocab v ON v.tok = sym.s)"""

  val oracle: Map[String, String] = Map(
    "q109_bpe_train" ->
      s"""WITH RECURSIVE $bpeChainSql
         SELECT * FROM (
           ${(1 to BpeRounds).map(r =>
             s"SELECT $r AS round, a, b, c AS pair_count FROM b$r")
             .mkString("\n           UNION ALL ")})""",
    // same training chain for the pairs, then a second fold chain
    // (e0..e$BpeRounds) applies them to EVERY distinct corpus word —
    // matching Bpe.encode, which merges out-of-cap words too — so the
    // token join is total by construction; the per-doc rollup mirrors
    // the encode kernel's '|'-within-token / '||'-between-token
    // fingerprint exactly
    "q110_bpe_encode" ->
      s"""WITH RECURSIVE $bpeChainSql,
         $bpeEncodeChainSql,
         toks AS (SELECT doc_id, t.i AS pos, tl[i] AS word
                  FROM (SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
                       UNNEST(generate_series(1, len(tl))) AS t(i)),
         enc AS (SELECT doc_id, pos, d.syms
                 FROM toks JOIN e$BpeRounds d USING (word))
         SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_symbols,
           md5(string_agg(array_to_string(syms, '|'), '||' ORDER BY pos)) AS sym_fp
         FROM enc GROUP BY doc_id""",
    // q111: the q110 training+encode chains, then ids — base chars of
    // the corpus in lexicographic order (row_number − 1), merge
    // products at nChars + round − 1, duplicates resolved min(id) —
    // and the flat '|'-joined id stream fingerprint ordered by
    // (token pos, symbol pos). Mirrors Bpe.vocabulary/encodeToIds.
    "q111_bpe_encode_ids" ->
      s"""WITH RECURSIVE $bpeChainSql,
         $bpeEncodeChainSql,
         $bpeIdsCtes
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_symbols,
           md5(string_agg(CAST(id AS VARCHAR), '|' ORDER BY pos, spos)) AS ids_fp
         FROM wid GROUP BY doc_id""",
    // q120: the q111 id chain, rolled up per doc in symbol order,
    // then the q88 packing rule (cum over (md5(id), id) order,
    // bin = floor((cum − n)/512)) and a per-bin fingerprint of the
    // concatenated id streams in packing order
    "q120_pack_token_ids" ->
      s"""WITH RECURSIVE $bpeChainSql,
         $bpeEncodeChainSql,
         $bpeIdsCtes,
         dstr AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             string_agg(CAST(id AS VARCHAR), '|' ORDER BY pos, spos) AS ids
           FROM wid GROUP BY doc_id),
         packed AS (SELECT doc_id, n_tokens, ids,
             md5(CAST(doc_id AS VARCHAR)) AS k,
             sum(n_tokens) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
           FROM dstr),
         binned AS (SELECT *, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin
                    FROM packed)
         SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           md5(string_agg(ids, '|' ORDER BY k, doc_id)) AS ids_fp
         FROM binned GROUP BY bin""",
    // replays the quantized Lloyd gate exactly: integer-rounded
    // vectors, centroids = 8 smallest md5(vec_id), three unrolled
    // assign/update rounds (assign = row_number argmin with
    // ties-to-lowest-cell; update = per-(cell,pos) exact integer
    // sums / counts; empty cells keep their centroid), then the
    // final assignment + quantized-space distance. Sequential list
    // folds mirror Spark's aggregate() fold order, and every sum
    // that crosses a GROUP BY is an exact integer — the two
    // properties that make this hash-replayable at all.
    "q91_kmeans" -> TextVector.lloydAssignSql(k = 8, iters = 3),
    // replays the md5 CMS bucket-for-bucket: row j's bucket for a
    // gram is md5("j:gram")'s first 8 hex chars mod 2048, counters
    // sum exact gram counts per (row, bucket), estimate = min over
    // the 5 rows — constants mirror sketchedTopKNgramsMd5's defaults
    "q90_cms_topk" ->
      """WITH toks AS (SELECT string_split(text,' ') AS w FROM documents),
         g AS (SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS ngram
               FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)),
         cnt AS (SELECT ngram, count(*) AS n FROM g GROUP BY 1),
         buck AS (SELECT r.j AS row,
                    ('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':' || ngram), 1, 8))::BIGINT % 2048 AS bucket,
                    n
                  FROM cnt, UNNEST(generate_series(0, 4)) AS r(j)),
         counters AS (SELECT row, bucket, sum(n) AS c FROM buck GROUP BY 1, 2),
         topk AS (SELECT ngram, n FROM cnt ORDER BY n DESC, ngram ASC LIMIT 20),
         probes AS (SELECT t.ngram, t.n, r.j AS row,
                      ('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':' || t.ngram), 1, 8))::BIGINT % 2048 AS bucket
                    FROM topk t, UNNEST(generate_series(0, 4)) AS r(j))
         SELECT p.ngram, p.n AS n_occurrences, CAST(min(c.c) AS BIGINT) AS est_occurrences
         FROM probes p JOIN counters c ON c.row = p.row AND c.bucket = p.bucket
         GROUP BY p.ngram, p.n""",
    "q81_topk_ngrams" ->
      """WITH toks AS (SELECT string_split(text,' ') AS w FROM documents),
         g AS (SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS ngram
               FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i))
         SELECT ngram, count(*) AS n_occurrences FROM g GROUP BY 1
         ORDER BY n_occurrences DESC, ngram ASC LIMIT 20""",
    "q82_pii_redact" ->
      """WITH aug AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
           CASE WHEN doc_id % 11 = 0 THEN ' visit https://site' || CAST(doc_id AS VARCHAR) || '.example.org/page' ELSE '' END ||
           CASE WHEN doc_id % 13 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END AS t2
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t2, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t2, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(t2, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t2,
             'https?://[^ ]+', '<URL>', 'g'),
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')) AS redacted_fp
         FROM aug""",
    "q83_vocab_stats" ->
      """SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS total_tokens,
           CAST(count(DISTINCT t) AS BIGINT) AS distinct_tokens,
           round(CAST(count(DISTINCT t) AS DOUBLE) / count(*), 6) AS type_token_ratio
         FROM (SELECT source, doc_id, unnest(string_split(text,' ')) AS t FROM documents)
         GROUP BY source""",
    "q84_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
               FROM toks, UNNEST(generate_series(1, len(w)-1)) AS t(i)),
         cnt AS (SELECT doc_id, bg, count(*) AS c FROM g GROUP BY 1, 2),
         top AS (SELECT doc_id, bg, c,
                   row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg DESC) AS rn
                 FROM cnt)
         SELECT top.doc_id, top.bg AS top_bigram, top.c AS top_bigram_count,
           round(top.c * 2.0 / len(toks.w), 6) AS top_bigram_frac
         FROM top JOIN toks ON toks.doc_id = top.doc_id
         WHERE top.rn = 1""",
    "q85_chunk_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         chunks AS (SELECT doc_id, i AS pos,
             array_to_string(w[(i*10+1):(i*10+10)], ' ') AS chunk
           FROM toks, UNNEST(generate_series(0, CAST(ceil(len(w)/10.0) AS BIGINT)-1)) AS t(i)),
         firsts AS (SELECT doc_id, pos, chunk,
             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
           FROM chunks)
         SELECT doc_id, count(*) AS n_chunks_kept,
           md5(string_agg(chunk, ' ' ORDER BY pos)) AS dedup_fp
         FROM firsts WHERE rn = 1 GROUP BY doc_id""",
    "q86_normalize" ->
      """WITH aug AS (SELECT doc_id,
           upper(substring(text, 1, 8)) || substring(text, 9) ||
             ' -- End#' || CAST(doc_id AS VARCHAR) || '!' AS t2
           FROM documents),
         norm AS (SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(t2), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
           FROM aug)
         SELECT doc_id, md5(nt) AS norm_fp, CAST(length(nt) AS BIGINT) AS n_chars_norm
         FROM norm""",
    "q87_bm25" ->
      """WITH docs AS (SELECT doc_id,
             CAST(len(string_split(text,' ')) AS BIGINT) AS dl,
             string_split(text,' ') AS w
           FROM documents),
         stats AS (SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           FROM docs),
         tf AS (SELECT doc_id, dl, t, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(w) AS t FROM docs)
           WHERE t IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
         dft AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
         sc AS (SELECT tf.doc_id, tf.t,
             ln(1.0 + (CAST(stats.n AS DOUBLE) - dft.df + 0.5) / (dft.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)) AS s
           FROM tf, dft, stats WHERE tf.t = dft.t)
         SELECT doc_id, round(s0 + s1 + s2, 6) AS bm25 FROM (
           SELECT doc_id,
             sum(CASE WHEN t = 'spark' THEN s ELSE 0.0 END) AS s0,
             sum(CASE WHEN t = 'join' THEN s ELSE 0.0 END) AS s1,
             sum(CASE WHEN t = 'window' THEN s ELSE 0.0 END) AS s2
           FROM sc GROUP BY doc_id)
         ORDER BY bm25 DESC, doc_id ASC LIMIT 10""",
    "q88_pack_sequences" ->
      """SELECT doc_id, n_tokens,
           CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin
         FROM (SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
           FROM (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             FROM documents))""",
    "q92_inverted_index" ->
      """SELECT t AS term, count(*) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
         FROM (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS t
               FROM documents)
         GROUP BY t
         HAVING count(*) BETWEEN 1 AND 10000000""",
    "q93_length_profile" ->
      """SELECT source, count(*) AS n_docs,
           min(n) AS min_tokens,
           round(quantile_cont(n, 0.25), 6) AS p25_tokens,
           round(quantile_cont(n, 0.5), 6) AS median_tokens,
           round(quantile_cont(n, 0.75), 6) AS p75_tokens,
           round(quantile_cont(n, 0.95), 6) AS p95_tokens,
           max(n) AS max_tokens,
           round(avg(n), 6) AS mean_tokens
         FROM (SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
           FROM documents)
         GROUP BY source""",
    "q96_bpe_tokens" ->
      """WITH aug AS (SELECT doc_id,
           text || ' it''s #' || CAST(doc_id AS VARCHAR) || ', done... (v2.5)' AS t2
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t2,
             '''(s|t|re|ve|m|ll|d)|[\p{L}]+|[0-9]+|[^\p{L}0-9\s'']+')) AS BIGINT) AS n_bpe,
           md5(array_to_string(regexp_extract_all(t2,
             '''(s|t|re|ve|m|ll|d)|[\p{L}]+|[0-9]+|[^\p{L}0-9\s'']+'), '|')) AS tok_fp
         FROM aug""",
    "q99_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           round(ni * 1.0 / least(ca.n, cb.n), 6) AS containment
         FROM inter
         JOIN cnt ca ON ca.doc_id = doc_a
         JOIN cnt cb ON cb.doc_id = doc_b
         WHERE ni * 1.0 / least(ca.n, cb.n) >= 0.9""",
    "q100_rag_chunks" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         nc AS (SELECT doc_id, w,
             CASE WHEN len(w) <= 32 THEN 1
                  ELSE CAST(ceil((len(w) - 32) / 24.0) AS INT) + 1 END AS k
           FROM toks)
         SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
           md5(array_to_string(w[(i*24+1):(i*24+32)], ' ')) AS chunk_fp,
           CAST(len(w[(i*24+1):(i*24+32)]) AS BIGINT) AS n_tokens
         FROM nc, UNNEST(generate_series(0, k-1)) AS t(i)""",
    "q98_corpus_report" ->
      """SELECT count(*) AS n_docs,
           CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
             AS total_tokens,
           CAST(count(DISTINCT md5(trim(lower(text)))) AS BIGINT) AS distinct_docs,
           round(avg(CAST(
             (len(string_split(text, ' ')) >= 8 AND len(string_split(text, ' ')) <= 100000
              AND (CAST(length(text) AS DOUBLE)
                   - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
                  / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 2.0
              AND (CAST(length(text) AS DOUBLE)
                   - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
                  / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 12.0
              AND CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
                  / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.01
              AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.3) AS INT)), 6)
             AS quality_pass_rate,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_docs,
           CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS other_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         FROM documents""",
    "q97_bigram_lm" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         uni AS (SELECT t, count(*) AS cu
           FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t),
         vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
         bg AS (SELECT doc_id, i AS pos, w[i] AS w1, w[i] || ' ' || w[i+1] AS g
           FROM toks, UNNEST(generate_series(1, len(w)-1)) AS s(i)),
         bgc AS (SELECT g, count(*) AS cb FROM bg GROUP BY g),
         scored AS (SELECT bg.doc_id, bg.pos,
             ln((bgc.cb + 1.0) / (uni.cu + vocab.v)) AS logp
           FROM bg JOIN bgc USING (g) JOIN uni ON uni.t = bg.w1, vocab)
         SELECT doc_id, count(*) AS n_bigrams,
           round(sum(CAST(round(logp * 1e9) AS BIGINT)) / 1e9 / count(*), 6) AS avg_logp
         FROM scored GROUP BY doc_id""",
    // q97's scoring with the LM tables built from the src0 slice and
    // LEFT joins carrying add-one smoothing for reference-unseen
    // n-grams: coalesce(cb,0) -> P = 1/(cu+V), coalesce(cu,0) -> 1/V
    "q108_lm_score_ref" -> LmScoreRefSql,
    // cross-corpus KN: same tables from the src0 slice only, LEFT
    // joins carry the unseen fallbacks (no-context → pcont alone,
    // unseen w2 → 1/(T+1) floor)
    "q131_kn_score_ref" ->
      """WITH rt AS (SELECT string_split(text, ' ') AS w FROM documents
                     WHERE source = 'src0'),
         rbg AS MATERIALIZED (SELECT w[i] AS w1, w[i+1] AS w2,
             w[i] || ' ' || w[i+1] AS g, count(*) AS cb
           FROM rt, UNNEST(generate_series(1, len(w)-1)) AS s(i)
           GROUP BY g, w1, w2),
         t AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM rbg),
         ctx AS (SELECT w1, sum(cb) AS ctx, count(*) AS fert
           FROM rbg GROUP BY w1),
         cont AS (SELECT w2, count(*) AS cont FROM rbg GROUP BY w2),
         tl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         dgc AS MATERIALIZED (SELECT doc_id, w1, w2, g, count(*) AS n FROM
           (SELECT doc_id, w[i] AS w1, w[i+1] AS w2,
              w[i] || ' ' || w[i+1] AS g
            FROM tl, UNNEST(generate_series(1, len(w)-1)) AS s(i))
           GROUP BY doc_id, g, w1, w2),
         lp AS (SELECT dgc.doc_id, dgc.n,
             CAST(round(ln(CASE WHEN ctx.ctx IS NULL
               THEN coalesce(cont.cont / t.t, 1.0 / (t.t + 1.0))
               ELSE greatest(coalesce(rbg.cb, 0) - 0.75, 0.0) / ctx.ctx
                 + (0.75 * ctx.fert / ctx.ctx)
                   * coalesce(cont.cont / t.t, 1.0 / (t.t + 1.0))
               END) * 1e9) AS BIGINT) AS lp9
           FROM dgc
           LEFT JOIN rbg ON rbg.g = dgc.g
           LEFT JOIN ctx ON ctx.w1 = dgc.w1
           LEFT JOIN cont ON cont.w2 = dgc.w2, t)
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
           round(sum(n * lp9) / 1e9 / sum(n), 6) AS avg_logp
         FROM lp GROUP BY doc_id""",

    // Kneser–Ney: P = max(cb−0.75,0)/ctx + (0.75·fert/ctx)·(cont/T),
    // per-gram ln nano-quantized then count-weighted exact sums
    "q130_kn_bigram_lm" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2,
             w[i] || ' ' || w[i+1] AS g
           FROM toks, UNNEST(generate_series(1, len(w)-1)) AS s(i)),
         dgc AS MATERIALIZED (SELECT doc_id, g, count(*) AS n
           FROM bg GROUP BY doc_id, g),
         bgc AS MATERIALIZED (SELECT g, string_split(g, ' ')[1] AS w1,
             string_split(g, ' ')[2] AS w2, sum(n) AS cb
           FROM dgc GROUP BY g),
         t AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM bgc),
         ctx AS (SELECT w1, sum(cb) AS ctx, count(*) AS fert
           FROM bgc GROUP BY w1),
         cont AS (SELECT w2, count(*) AS cont FROM bgc GROUP BY w2),
         lp AS (SELECT bgc.g,
             CAST(round(ln(
               greatest(cb - 0.75, 0.0) / ctx.ctx
               + (0.75 * ctx.fert / ctx.ctx) * (cont.cont / t.t)) * 1e9)
               AS BIGINT) AS lp9
           FROM bgc JOIN ctx USING (w1) JOIN cont USING (w2), t)
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
           round(sum(n * lp9) / 1e9 / sum(n), 6) AS avg_logp
         FROM dgc JOIN lp USING (g) GROUP BY doc_id""",

    // char entropy: same dual form, k·ln k nano-quantized per term
    // then summed exactly; ent = ln(n) − S9/1e9/n
    "q128_char_entropy" ->
      """WITH chars AS (SELECT doc_id, unnest(string_split(text, '')) AS c
           FROM documents),
         cc AS (SELECT doc_id, c, count(*) AS k FROM chars
           WHERE c <> '' GROUP BY doc_id, c),
         n AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n FROM cc
           GROUP BY doc_id),
         s AS (SELECT cc.doc_id, n.n,
             sum(CAST(round(k * ln(k) * 1e9) AS BIGINT)) AS s9
           FROM cc JOIN n USING (doc_id) GROUP BY cc.doc_id, n.n)
         SELECT doc_id,
           CAST(round((ln(n) - s9 / 1e9 / n) * 1e9) AS BIGINT) AS ent9
         FROM s""",

    // hashing TF-IDF: md5-prefix buckets mod 256, tf·(ln((N+1)/(df+1))+1)
    // weights nano-quantized, fingerprint over "bucket:w9" strings in
    // their own lexicographic order (mirrors Spark's sort_array)
    "q127_hashing_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
           FROM documents),
         tb AS MATERIALIZED (SELECT doc_id,
             ('0x' || substr(md5(t), 1, 8))::BIGINT % 256 AS b,
             count(*) AS tf
           FROM toks GROUP BY doc_id, b),
         nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         idf AS (SELECT b, ln((nd.n + 1.0) / (count(*) + 1.0)) + 1.0 AS idf
           FROM tb, nd GROUP BY b, nd.n),
         w AS (SELECT tb.doc_id,
             CAST(tb.b AS VARCHAR) || ':' ||
               CAST(CAST(round(tb.tf * idf.idf * 1e9) AS BIGINT) AS VARCHAR)
               AS entry
           FROM tb JOIN idf USING (b))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS nnz,
           md5(string_agg(entry, '|' ORDER BY entry)) AS v_fp
         FROM w GROUP BY doc_id""",

    // Naive Bayes: α=1 Laplace token model per lang, nano-fixed-point
    // log-probs, per-doc score = prior + Σ seen n·lp9 + unseen mass,
    // argmax by (score desc, lang asc) — the exact train+apply chain
    "q126_naive_bayes" ->
      """WITH toks AS MATERIALIZED (SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS t FROM documents),
         tc AS MATERIALIZED (SELECT lang, t, count(*) AS c
           FROM toks GROUP BY lang, t),
         lt AS (SELECT lang, sum(c) AS tot FROM tc GROUP BY lang),
         v AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v FROM tc),
         model AS MATERIALIZED (SELECT tc.lang, tc.t,
             CAST(round(ln((c + 1.0) / (tot + v.v)) * 1e9) AS BIGINT) AS lp9
           FROM tc JOIN lt USING (lang), v),
         ndocs AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
         pri AS (SELECT d.lang,
             CAST(round(ln(count(*) / ndocs.nd) * 1e9) AS BIGINT) AS prior9,
             CAST(round(ln(1.0 / (lt.tot + v.v)) * 1e9) AS BIGINT) AS unseen9
           FROM documents d JOIN lt ON lt.lang = d.lang, v, ndocs
           GROUP BY d.lang, lt.tot, v.v, ndocs.nd),
         dt AS MATERIALIZED (SELECT doc_id, t, count(*) AS n
           FROM toks GROUP BY doc_id, t),
         dn AS (SELECT doc_id, sum(n) AS ndoc FROM dt GROUP BY doc_id),
         seen AS (SELECT dt.doc_id, model.lang, sum(n * lp9) AS s9,
             sum(n) AS sn
           FROM dt JOIN model ON model.t = dt.t GROUP BY dt.doc_id, model.lang),
         scores AS (SELECT dn.doc_id, pri.lang,
             pri.prior9 + coalesce(seen.s9, 0)
               + (dn.ndoc - coalesce(seen.sn, 0)) * pri.unseen9 AS score9
           FROM dn CROSS JOIN pri
           LEFT JOIN seen ON seen.doc_id = dn.doc_id AND seen.lang = pri.lang),
         r AS (SELECT doc_id, lang, score9,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score9 DESC, lang) AS rn FROM scores)
         SELECT doc_id, lang AS pred_label,
           CAST(score9 AS BIGINT) AS score9 FROM r WHERE rn = 1""",
    // q124: reference n-gram tables from src0, per-occurrence CASE
    // chain mirroring the Spark kernel's operation order exactly —
    // c3/cctx, else (0.4·ctail)/cw2, else ((0.4·0.4)·(cw3+1))/(N+V) —
    // then the family's per-occurrence nano-fixed-point mean
    "q124_stupid_backoff" ->
      """WITH rt AS (SELECT string_split(text, ' ') AS w FROM documents
                     WHERE source = 'src0'),
         u AS MATERIALIZED (SELECT t, count(*) AS cu
           FROM (SELECT unnest(w) AS t FROM rt) GROUP BY t),
         nv AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS v,
             CAST(sum(cu) AS DOUBLE) AS n FROM u),
         rb AS MATERIALIZED (SELECT g, count(*) AS c2 FROM (
             SELECT w[i] || ' ' || w[i+1] AS g
             FROM rt, UNNEST(generate_series(1, len(w)-1)) AS s(i)) GROUP BY g),
         rtg AS MATERIALIZED (SELECT g, count(*) AS c3 FROM (
             SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
             FROM rt, UNNEST(generate_series(1, len(w)-2)) AS s(i)) GROUP BY g),
         tt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         tg AS (SELECT doc_id, i AS pos,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g3,
             w[i] || ' ' || w[i+1] AS ctx, w[i+1] || ' ' || w[i+2] AS tail,
             w[i+1] AS w2, w[i+2] AS w3
           FROM tt, UNNEST(generate_series(1, len(w)-2)) AS s(i)),
         scored AS (SELECT tg.doc_id, tg.pos,
             ln(CASE
                  WHEN coalesce(rtg.c3, 0) > 0
                    THEN CAST(rtg.c3 AS DOUBLE) / cb1.c2
                  WHEN coalesce(cb2.c2, 0) > 0
                    THEN (0.4 * CAST(cb2.c2 AS DOUBLE)) / u2.cu
                  ELSE ((0.4 * 0.4) * (CAST(coalesce(u3.cu, 0) AS DOUBLE) + 1.0))
                       / (nv.n + nv.v)
                END) AS logs
           FROM tg
           LEFT JOIN rtg ON rtg.g = tg.g3
           LEFT JOIN rb cb1 ON cb1.g = tg.ctx
           LEFT JOIN rb cb2 ON cb2.g = tg.tail
           LEFT JOIN u u2 ON u2.t = tg.w2
           LEFT JOIN u u3 ON u3.t = tg.w3, nv)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           round(sum(CAST(round(logs * 1e9) AS BIGINT)) / 1e9 / count(*), 6)
             AS avg_logs
         FROM scored GROUP BY doc_id""",
    "q121_blocklist" ->
      """WITH terms(t) AS (VALUES ('slow'), ('big'), ('merge')),
         h AS (SELECT doc_id, count(*) AS n
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                     FROM documents)
               JOIN terms ON w = t GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_hits,
           coalesce(n, 0) > 0 AS flagged
         FROM documents d LEFT JOIN h USING (doc_id)""",
    // q118: the q109/q110 chains, every token joined to its merged
    // form, integer sums per source + two fixed-order divisions
    "q118_bpe_fertility" ->
      s"""WITH RECURSIVE $bpeChainSql,
         $bpeEncodeChainSql,
         tk AS (SELECT source, tl[t.i] AS word
                FROM (SELECT source, string_split(text, ' ') AS tl FROM documents),
                     UNNEST(generate_series(1, len(tl))) AS t(i)),
         enc AS (SELECT source, word, e.syms FROM tk JOIN e$BpeRounds e USING (word))
         SELECT source, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(syms)) AS BIGINT) AS n_symbols,
           CAST(sum(len(word)) AS BIGINT) AS n_chars,
           round(CAST(sum(len(syms)) AS DOUBLE) / count(*), 6) AS fertility,
           round(CAST(sum(len(word)) AS DOUBLE) / sum(len(syms)), 6) AS chars_per_symbol
         FROM enc GROUP BY source""",
    // q117: same synthesized second version, same fingerprint
    // (md5(trim(lower(text))) — the q23 idiom), full-outer classify
    "q117_corpus_diff" ->
      """WITH oldv AS (SELECT doc_id, text FROM documents),
         newv AS (SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN text || ' changedmark' ELSE text END AS text
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT doc_id + 1000000, 'brand new doc ' || CAST(doc_id AS VARCHAR)
           FROM documents WHERE doc_id % 29 = 0),
         o AS (SELECT doc_id, md5(trim(lower(text))) AS fp_old FROM oldv),
         n AS (SELECT doc_id, md5(trim(lower(text))) AS fp_new FROM newv),
         j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, fp_old, fp_new
               FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         SELECT doc_id,
           CASE WHEN fp_old IS NULL THEN 'added'
                WHEN fp_new IS NULL THEN 'removed'
                WHEN fp_old <> fp_new THEN 'changed' END AS status,
           fp_old, fp_new
         FROM j
         WHERE fp_old IS NULL OR fp_new IS NULL OR fp_old <> fp_new""",
    // q115: HLL registers from md5 (bucket = first 2 hex chars, rho =
    // 25 − len(bin(next 24 bits)) — integer-exact, no float log2),
    // harmonic sum as Σ 2^(25−M) in BIGINT, then the standard
    // α·m²/Z estimate with linear-counting correction; formula
    // arithmetic ordered exactly as the Spark kernel's
    "q115_hll_distinct" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
         h AS (SELECT source, t, md5(t) AS hx FROM tk),
         b AS (SELECT source, ('0x' || substr(hx, 1, 2))::INT AS bucket,
                 ('0x' || substr(hx, 3, 6))::BIGINT AS w FROM h),
         r AS (SELECT source, bucket,
                 CAST(CASE WHEN w = 0 THEN 25 ELSE 25 - len(bin(w)) END AS INT) AS rho
               FROM b),
         regs AS (SELECT source, bucket, max(rho) AS M FROM r GROUP BY 1, 2),
         agg AS (SELECT source, count(*) AS used,
                   sum(CAST(pow(2.0, 25 - M) AS BIGINT)) AS S
                 FROM regs GROUP BY source),
         est AS (SELECT source, 256 - used AS V, S FROM agg),
         raw AS (SELECT source, V,
                   0.7213 / (1 + 1.079 / 256.0) * 65536.0 * 33554432.0
                     / CAST(V * 33554432 + S AS DOUBLE) AS raw
                 FROM est),
         ex AS (SELECT source, count(DISTINCT t) AS n_distinct FROM tk GROUP BY source)
         SELECT raw.source,
           round(CASE WHEN raw <= 640.0 AND V > 0
                      THEN 256.0 * ln(256.0 / V) ELSE raw END, 3) AS est_distinct,
           n_distinct
         FROM raw JOIN ex ON ex.source = raw.source""",
    // q113: the q108 scoring verbatim, then CCNet's partition — exact
    // global rank (score desc, ties by doc_id) and the same integer
    // bucket arithmetic as CorpusStats.bucketByRank
    "q113_perplexity_buckets" ->
      s"""WITH s AS MATERIALIZED ($LmScoreRefSql),
         r AS (SELECT s.*, row_number() OVER (ORDER BY avg_logp DESC, doc_id) AS rn,
                 count(*) OVER () AS n FROM s)
         SELECT doc_id, n_bigrams, avg_logp,
           CAST(((rn - 1) * 3) // n AS INT) AS bucket FROM r""",
    "q95_corpus_pipeline" ->
      """WITH gated AS (
           SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE len(string_split(text, ' ')) >= 8
             AND len(string_split(text, ' ')) <= 100000
             AND (CAST(length(text) AS DOUBLE)
                  - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 2.0
             AND (CAST(length(text) AS DOUBLE)
                  - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 12.0
             AND CAST(len(list_filter(string_split(text, ' '),
                   t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.01
             AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.3),
         sampled AS (
           SELECT doc_id, source, n_tokens FROM (
             SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum,
               CASE source WHEN 'src0' THEN 8000 WHEN 'src1' THEN 5000
                 WHEN 'src2' THEN 3000 END AS budget
             FROM gated WHERE source IN ('src0', 'src1', 'src2'))
           WHERE cum - n_tokens < budget),
         packed AS (
           SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
           FROM sampled)
         SELECT doc_id, source, n_tokens,
           CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin
         FROM packed""",
    "q89_bloom_decontaminate" ->
      """WITH grams AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, len(string_split(text, ' ')) - 5),
             i -> array_to_string(string_split(text, ' ')[i:i+6], ' ')))) AS g
           FROM documents),
         bench AS (
           SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
         dirty AS (
           SELECT grams.doc_id FROM grams JOIN bench USING (g)
           GROUP BY grams.doc_id HAVING count(*) >= 2)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM dirty)""",
    // q135: the exact global rank replayed in pure id-order — the hot
    // group occupies a contiguous rank range whatever its internal
    // tie order, so cold rows' ranks (and every per-bucket aggregate
    // below) are identical between the engines. Integer bucket
    // arithmetic matches CorpusStats.bucketByRank's DIV form.
    "q135_rank_hot_gate" ->
      """WITH scored AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 < 7 THEN 0.5
                  ELSE CAST(o_orderkey % 97 AS DOUBLE) / 97.0 END AS score
           FROM orders WHERE o_orderkey % 3 = 0),
         ranked AS (
           SELECT o_orderkey, score,
             row_number() OVER (ORDER BY score DESC, o_orderkey) AS rn,
             count(*) OVER () AS n
           FROM scored)
         SELECT CAST(((rn - 1) * 5) // n AS INT) AS bucket,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN score = 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
           CAST(sum(CASE WHEN score <> 0.5 THEN o_orderkey END) AS BIGINT)
             AS cold_key_sum
         FROM ranked GROUP BY 1""",
    // q136: full list-ops replay of the repetition kernel. top-n =
    // occurrences × gram chars of the count-max gram (ties to the
    // binary-smallest gram — the kernel compares code points, which
    // IS DuckDB's binary collation); dup-n = chars of token positions
    // covered by any ≥2-count gram occurrence (DISTINCT position
    // union, no double counting). Gram char count = length(joined) -
    // (n-1) separator spaces, exact because tokens cannot contain ' '.
    "q136_gopher_repetition" -> q136Oracle
  )

  private def q136TopCte(n: Int): String = s"""
g$n AS (
  SELECT doc_id, array_to_string(t[i:i+${n - 1}], ' ') AS g
  FROM toks, UNNEST(generate_series(1, L - ${n - 1})) AS u(i)),
top$n AS MATERIALIZED (
  SELECT doc_id, CAST(cnt * (length(g) - ${n - 1}) AS BIGINT) AS top${n}_chars
  FROM (SELECT doc_id, g, count(*) AS cnt,
          row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g) AS rn
        FROM g$n GROUP BY doc_id, g)
  WHERE rn = 1)"""

  private def q136DupCte(n: Int): String = s"""
s$n AS MATERIALIZED (
  SELECT doc_id, i, array_to_string(t[i:i+${n - 1}], ' ') AS g
  FROM toks, UNNEST(generate_series(1, L - ${n - 1})) AS u(i)),
dups$n AS (
  SELECT doc_id, g FROM s$n GROUP BY doc_id, g HAVING count(*) >= 2),
cov$n AS (
  SELECT DISTINCT s.doc_id, u.p
  FROM s$n s JOIN dups$n d USING (doc_id, g),
       UNNEST(generate_series(s.i, s.i + ${n - 1})) AS u(p)),
d$n AS MATERIALIZED (
  SELECT b.doc_id,
    CAST(coalesce(sum(length(b.t[c.p])), 0) AS BIGINT) AS dup${n}_chars
  FROM base b LEFT JOIN cov$n c ON b.doc_id = c.doc_id
  GROUP BY b.doc_id)"""

  private def q136Oracle: String = {
    val ctes = (2 to 4).map(q136TopCte) ++ (5 to 10).map(q136DupCte)
    s"""WITH docs AS MATERIALIZED (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || ' ' ||
           array_to_string((string_split(text, ' '))[1:20], ' ')
         WHEN doc_id % 11 = 3 THEN text || ' ' || text
         ELSE text END AS text
  FROM documents),
toks AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS L
  FROM docs),
base AS MATERIALIZED (
  SELECT doc_id, t, L,
    CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS total_chars,
    CAST(L AS BIGINT) AS n_tokens
  FROM toks),${ctes.mkString(",")}
SELECT b.doc_id, b.total_chars,
  ${(2 to 4).map(n => s"CAST(coalesce(top$n.top${n}_chars, 0) AS BIGINT) AS top${n}_chars").mkString(",\n  ")},
  ${(5 to 10).map(n => s"d$n.dup${n}_chars").mkString(", ")},
  b.n_tokens
FROM base b
${(2 to 4).map(n => s"LEFT JOIN top$n USING (doc_id)").mkString("\n")}
${(5 to 10).map(n => s"JOIN d$n USING (doc_id)").mkString("\n")}"""
  }
}

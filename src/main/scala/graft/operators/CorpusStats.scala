package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DiskSnapshot
import graft.functions.TextFunctions
import graft.plans.GraftExtensions

/** Corpus-level statistics and retrieval operators for training-data
  * pipelines: n-gram frequency (exact + sketched), vocabulary stats,
  * repetition signals (Gopher-style quality inputs), across-document
  * chunk dedup (the C4 line-dedup shape), and BM25 keyword retrieval.
  *
  * Scale notes (the design constraint for every operator here):
  * - every aggregation is partial+final (map-side combine carries
  *   (key, count) pairs, never rows);
  * - top-k lowers to TakeOrderedAndProject (per-partition heaps + one
  *   k-row collect), never a global sort;
  * - per-document statistics use the explode → two hash-agg "dual
  *   form" (linear in total tokens) rather than per-row array
  *   higher-order functions (quadratic in document length);
  * - the one driver-side value (BM25's corpus stats) is a single
  *   2-column aggregate row, not data.
  */
object CorpusStats {

  /** Default cap (rows) under which the LM family's vocabulary-keyed
    * build sides take a `broadcast()` hint. A FORCED hint bypasses
    * Catalyst's size check, and unigram vocabularies are corpus-
    * dependent: 10⁴ types at test SF but 10⁸–10⁹ on web-scale
    * corpora, where a forced broadcast is a guaranteed driver/executor
    * OOM. 2M rows ≈ low-hundreds of MB as a broadcast hash relation
    * (token string + long count) — safely inside executor memory on
    * any realistic cluster, far above every natural-language
    * vocabulary that SHOULD broadcast. Override with
    * `spark.graft.lm.broadcastMaxTypes`.
    */
  val LmBroadcastMaxTypes: Long = 2000000L

  /** Default cap on naive-Bayes label cardinality. Class-label sets
    * are tens-to-thousands; 1M tiny rows still collects safely on any
    * driver, while anything beyond it means an id-like column was
    * passed as the label. Override with `spark.graft.nb.maxLabels`.
    */
  val NaiveBayesMaxLabels: Int = 1000000

  /** Broadcast hint gated on a row count the caller has ALREADY
    * computed (the LM builders count their vocab tables anyway for
    * smoothing constants — the gate is free). Above the cap the join
    * is left to Catalyst: both sides are keyed on the token column,
    * so the fallback is an ordinary shuffle hash join, not a scan
    * blow-up.
    */
  private def hintIfSmall(df: DataFrame, knownRows: Long): DataFrame = {
    val cap = df.sparkSession.conf.getOption("spark.graft.lm.broadcastMaxTypes")
      .map(_.toLong).getOrElse(LmBroadcastMaxTypes)
    if (knownRows <= cap) broadcast(df) else df
  }

  /** Exact corpus-wide top-k n-grams by occurrence count.
    * Deterministic tie-break: count desc, then gram asc (binary
    * collation — matches the oracle's ORDER BY). Plan:
    * explode → hash-agg (partial+final) → TakeOrderedAndProject.
    *
    * Deliberately keyed on the gram STRING, not a 64-bit hash: at
    * 100 TB the distinct-trigram space reaches ~10¹¹, where birthday
    * collisions on 64 bits have ~25% probability across the corpus —
    * a collision merges two grams' counts and can promote a phantom
    * into the top-k. Map-side partial aggregation already shrinks the
    * shuffle to (distinct gram, count), so the string key costs
    * little; when even the distinct space is too big, [[ngramSketch]]
    * is the constant-memory estimate path.
    */
  def topKNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(explode(TextFunctions.ngrams(col(textCol), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ngram").asc)
      .limit(k)

  /** Per-group vocabulary statistics: document count, total tokens,
    * distinct tokens, type-token ratio. One explode + one aggregation;
    * the two distinct aggregates expand map-side (Spark's Expand) —
    * still a single shuffle keyed on the group.
    */
  def vocabStats(df: DataFrame, idCol: String, textCol: String,
                 groupCol: String): DataFrame =
    df.select(col(groupCol), col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(col(groupCol))
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("total_tokens"),
        countDistinct(col("__t")).as("distinct_tokens"))
      .withColumn("type_token_ratio",
        round(col("distinct_tokens").cast("double")
          / col("total_tokens").cast("double"), 6))

  /** Per-document repetition signal (the Gopher quality-filter input):
    * the most frequent word bigram, its count, and the fraction of
    * tokens it covers. Linear "dual form": explode bigrams →
    * (doc, gram) counts → per-doc argmax via max(struct) — two hash
    * aggs, never an O(len²) per-row array scan. Ties break to the
    * lexicographically greatest bigram (struct max = count, then gram,
    * binary collation — the oracle's ORDER BY cnt DESC, gram DESC).
    * Documents with < 2 tokens have no bigram and are dropped.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // FULLY map-side now: the per-row gram counts come from one kernel
    // call and the argmax is array_max over (count, gram) structs —
    // the same max(struct(__c, __g)) ordering the two hash aggs
    // computed (count, then gram, binary collation), so ties break
    // identically; the join against the token count is a same-row
    // projection. Two Exchanges and one join removed (guide §2.4);
    // docs with < 2 tokens yield an empty gram array → null max →
    // filtered, exactly the rows the explode form dropped.
    df.select(col(idCol), TextFunctions.tokenCount(col(textCol)).as("__n"),
        array_max(transform(
          GraftExtensions.call("graft_gram_counts",
            TextFunctions.tokens(col(textCol)), lit(2)),
          gc => struct(gc.getField("c").as("__c"), gc.getField("g").as("__g"))))
          .as("__m"))
      .filter(col("__m").isNotNull)
      .select(col(idCol), col("__m.__g").as("top_bigram"),
        col("__m.__c").as("top_bigram_count"),
        round(col("__m.__c") * lit(2.0) / col("__n"), 6)
          .as("top_bigram_frac"))
  }

  /** Across-document duplicate-chunk removal (the C4 "line dedup"
    * shape on single-line corpora): split every document into
    * fixed-width token chunks, keep only the globally FIRST occurrence
    * of each distinct chunk (min (doc, position)), and reassemble each
    * document from its surviving chunks in original order. Documents
    * whose every chunk is a duplicate disappear.
    *
    * Plan: posexplode → one hash-agg keyed on the chunk (min(struct)
    * carries 12 bytes per distinct chunk, not rows) → one reassembly
    * agg keyed on the doc. collect_list order is nondeterministic —
    * array_sort on (pos, chunk) restores it before the join-free
    * concat. Returns (idCol, n_chunks_kept, dedup_fp) where dedup_fp
    * is the md5 of the reassembled text.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 width: Int = 10): DataFrame = {
    require(Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
      .contains(df.schema(idCol).dataType),
      s"chunkDedup packs ($idCol, pos) into a decimal — integral id required")
    val chunks = df
      .select(col(idCol), posexplode(TextFunctions.tokenChunks(col(textCol), width)))
      .withColumnRenamed("col", "__chunk")
      .withColumnRenamed("pos", "__pos")
    // lexicographic min over (doc, pos) packed into ONE decimal:
    // min(struct) has a struct aggregation buffer, which Spark can
    // only SortAggregate — sorting by the chunk string key per
    // partition. A decimal(38,0) buffer keeps the whole aggregation
    // hash-based; decimal never overflows (19-digit id × 2³¹ fits in
    // 29 digits) and pos < 2³¹ is structural (pos counts chunks, an
    // int ordinal from posexplode).
    val PosBound = 1L << 31
    val packed = col(idCol).cast("decimal(38,0)") * lit(PosBound) + col("__pos")
    val firsts = chunks
      .groupBy(col("__chunk"))
      .agg(min(packed).as("__p"))
      .select(
        ((col("__p") - pmod(col("__p"), lit(PosBound))) / lit(PosBound))
          .cast(df.schema(idCol).dataType).as(idCol),
        pmod(col("__p"), lit(PosBound)).cast("int").as("__pos"),
        col("__chunk"))
    firsts
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("__pos"), col("__chunk")))),
            s => s.getField("__chunk"))).as("__text"))
      .select(col(idCol), col("n_chunks_kept"), md5(col("__text")).as("dedup_fp"))
  }

  /** BM25 keyword retrieval: score every document against a fixed
    * term set, return the top-k. Okapi BM25 with the +1 idf floor
    * (Lucene's formulation — always positive):
    *   idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    *   s(d,t)  = idf · tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))
    *
    * Plan: corpus stats (N, avgdl) are ONE aggregate row collected to
    * the driver (scalar substitution, same pattern as the scalar-in-
    * predicate operator); term frequencies come from one explode
    * filtered to the query terms BEFORE the shuffle (the corpus text
    * never shuffles — only (doc, term, tf) triples for matching
    * terms); document frequencies are a |terms|-row broadcast. The
    * per-term partial scores are summed in FIXED term order (not a
    * float sum-agg) so the result is bit-deterministic and the oracle
    * replays it exactly.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms0: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // dedupe the query — BM25 is defined over a term SET; a repeated
    // term would double its contribution (flaggedCounts dedupes for
    // the same reason)
    val terms = terms0.distinct
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val docs = df.select(col(idCol),
      TextFunctions.tokenCount(col(textCol)).as("__len"), col(textCol))
    // exact integer sum, ONE double division — a float avg would
    // accumulate in partition order and drift from the oracle by ulps
    val statsRow = docs.agg(count(lit(1)), sum(col("__len"))).head()
    val nDocs = statsRow.getLong(0)
    // an EMPTY corpus has a null sum: top-k of nothing is nothing (no
    // NPE mid-plan-build, same guard stupidBackoffScoreAgainst
    // carries); the empty frame keeps the caller's id type
    if (nDocs == 0L)
      return docs.select(col(idCol), lit(0.0).as("bm25")).limit(0)
    val avgdl = statsRow.getLong(1).toDouble / nDocs.toDouble
    val tf = docs
      .select(col(idCol), col("__len"),
        explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .filter(col("__t").isin(terms: _*))
      .groupBy(col(idCol), col("__len"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    // (doc, term) keys are unique post-agg → df(t) = plain count
    val dft = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val scored = tf.join(broadcast(dft), Seq("__t"))
      .withColumn("__idf",
        log(lit(1.0) + (lit(nDocs.toDouble) - col("__df") + lit(0.5))
          / (col("__df") + lit(0.5))))
      .withColumn("__s",
        col("__idf") * col("__tf") * lit(k1 + 1.0)
          / (col("__tf") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("__len") / lit(avgdl))))
    // fixed-order per-term sum → bit-deterministic score
    val termSums = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("__t") === lit(t), col("__s")).otherwise(lit(0.0))).as(s"__s$i")
    }
    val score = terms.indices.map(i => col(s"__s$i")).reduce(_ + _)
    scored.groupBy(col(idCol)).agg(termSums.head, termSums.tail: _*)
      .select(col(idCol), round(score, 6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)
  }

  /** Overlapping token-window chunking — the retrieval/RAG document
    * splitter: windows of `width` tokens at stride `width − overlap`,
    * each carrying its ordinal and token count. Pure map-side column
    * fan-out (one generator per document, no shuffle); the window
    * count is the minimum covering every token at least once (the
    * final window may be short or overlap more than `overlap`).
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     width: Int, overlap: Int = 0): DataFrame = {
    require(overlap >= 0 && overlap < width, s"need 0 <= overlap < width")
    val stride = width - overlap
    val toks = TextFunctions.tokens(col(textCol))
    val n = size(toks)
    // number of windows covering n tokens at this stride
    val nChunks = when(n <= width, lit(1))
      .otherwise(ceil((n - lit(width)).cast("double") / stride).cast("int") + 1)
    // null text yields no chunks (size(null) = -1 would otherwise
    // satisfy n <= width and fabricate one empty phantom chunk)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), n.as("__n"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => concat_ws(" ", slice(toks, i * stride + 1, lit(width))))))
      .withColumnRenamed("pos", "chunk_id")
      .withColumnRenamed("col", "chunk_text")
      // arithmetic, not a re-split of the string we just built
      .withColumn("n_tokens",
        least(lit(width), col("__n") - col("chunk_id") * stride).cast("long"))
      .drop("__n")
  }

  /** Inverted index over whitespace tokens: per term, its document
    * frequency and the sorted posting list — the retrieval artifact
    * BM25-style scoring consumes.
    *
    * Scale contract: the posting list is the ONLY per-term state that
    * grows with corpus size, so document frequency is counted FIRST
    * (plain hash agg, constant per-term state) and terms outside
    * `[minDf, maxDf]` are dropped by a join BEFORE any `collect_list`
    * runs — a stop-word's billions of doc ids never enter an
    * aggregation buffer. The df-gate join and the posting-list agg
    * share the term hash partitioning, so the gate costs one extra
    * corpus-sized shuffle of (id, term) pairs and no more. `maxDf`
    * defaults finite: in retrieval, ubiquitous terms carry no signal,
    * and an unbounded default is an executor-OOM footgun at 100 TB.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 1L,
                    maxDf: Long = 10000000L): DataFrame = {
    val terms = df.select(col(idCol),
      explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("term"))
    val kept = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    // HashPartitioning(term) from the join satisfies the (term, df)
    // grouping, so the collect_list agg adds no further shuffle.
    terms.join(kept, "term")
      .groupBy(col("term"), col("df"))
      .agg(sort_array(collect_list(col(idCol))).as("postings"))
      .select(col("term"), col("df"), col("postings"))
  }

  /** Per-group document-length profile: min / exact quantiles / max /
    * mean token counts — the corpus-analytics pass run before choosing
    * packing lengths and length-based quality cuts. Exact
    * `percentile` matches the oracle's `quantile_cont` (numpy-style
    * linear interpolation); the mean is exact (integer token counts
    * sum without rounding below 2^53).
    */
  def lengthProfile(df: DataFrame, textCol: String, groupCol: String): DataFrame =
    df.select(col(groupCol), TextFunctions.tokenCount(col(textCol)).as("__n"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("__n")).as("min_tokens"),
        round(expr("percentile(__n, 0.25)"), 6).as("p25_tokens"),
        round(expr("percentile(__n, 0.5)"), 6).as("median_tokens"),
        round(expr("percentile(__n, 0.75)"), 6).as("p75_tokens"),
        round(expr("percentile(__n, 0.95)"), 6).as("p95_tokens"),
        max(col("__n")).as("max_tokens"),
        round(avg(col("__n")), 6).as("mean_tokens"))

  /** Statistical bigram-LM quality score — the perplexity-filter
    * shape (KenLM-style) with no external model: the corpus itself
    * estimates P(w₂|w₁) with add-one smoothing, and each document
    * scores its mean bigram log-probability (higher = more like the
    * corpus; gibberish and boilerplate fall to the tails). Plan:
    * bigram and unigram count tables (hash aggs), one shuffle join of
    * document bigrams to the bigram table (the table is corpus-sized
    * — it must NOT broadcast), unigram/vocab broadcast via the
    * size-gated hint; the
    * per-document score sums nano-fixed-point longs (exact,
    * order-independent) so the result is bit-deterministic under any
    * partitioning with no per-document array materialization.
    *
    * Why TWO tokenization passes (measured, round 7): deriving the
    * unigram table as the first-token marginal of sentinel-completed
    * bigrams (one corpus scan) preserves the exact counts but
    * measured SLOWER both ways it can be wired — persist the
    * (doc, gram) table and the cache build serializes the critical
    * path (8.1 s vs 6.0 s isolated at sf0.1); skip the persist and
    * the uni broadcast gates the probability join behind the full
    * three-agg chain (7.3 s). The unigram pass is a cheap token-level
    * agg that pipelines beside the gram pass, so the two-scan form
    * wins until text scan cost dominates the agg chain — revisit only
    * with profile evidence from a corpus where tokenization is the
    * bottleneck.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__w"))
    // vocab-sized and consumed twice — once for the vocab count, once
    // as the probability join's build side; snapshotting it saves a
    // full corpus re-tokenization per consumer. DiskSnapshot (round
    // 15, vs a session-lifetime heap persist): web-scale vocabularies
    // are GBs, lineage survives executor loss, and the blocks drop
    // with the result instead of pinning the CacheManager forever.
    val uni = DiskSnapshot.diskCached(toks.select(explode(col("__w")).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__cu")))
    val nUni = uni.count()
    val vocab = nUni.toDouble
    // Everything downstream works on per-(doc, gram) COUNTS, never on
    // raw occurrences: the first hash agg (map-side partial combine)
    // truncates the tokenize/explode lineage to one pass, and every
    // later stage is a partial+final agg or an AQE-skew-splittable
    // join — a hot Zipf gram ("of the" at billions of occurrences)
    // arrives everywhere pre-combined, never funneled into a single
    // task the way a window-over-gram formulation would buffer it.
    // per-(doc, gram) counts come from ONE map-side kernel per row
    // (graft_gram_counts — a gram multiset derives only from the row's
    // own tokens), replacing the explode → groupBy(doc, gram) Exchange
    // outright (guide §2.4); within-doc repeats arrive pre-combined
    // exactly as the aggregate combined them. Md5KernelsSpec pins
    // kernel == aggregate form.
    val dgc = toks
      .select(col(idCol), explode(GraftExtensions.call("graft_gram_counts",
        col("__w"), lit(2))).as("__gc"))
      .select(col(idCol), col("__gc.g").as("__g"), col("__gc.c").as("__n"))
    val bgc = dgc.groupBy(col("__g")).agg(sum(col("__n")).as("__cb"))
    val scored = dgc
      .join(bgc, Seq("__g"))
      .withColumn("__w1", split(col("__g"), " ").getItem(0))
      .join(hintIfSmall(uni.withColumnRenamed("__t", "__w1"), nUni), Seq("__w1"))
      .withColumn("__logp",
        log((col("__cb") + lit(1.0)) / (col("__cu") + lit(vocab))))
    // Deterministic float aggregation WITHOUT per-document arrays:
    // per-gram log-probs quantize to nano-fixed-point longs (the
    // oracle quantizes per occurrence — count × round(logp·1e9) is
    // identical by distributivity), whose sums are exact and
    // order-independent under any partitioning. Quantization error
    // ≤ 0.5e-9 per bigram occurrence.
    scored.groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_bigrams"),
        sum(col("__n") * round(col("__logp") * lit(1e9)).cast("long")).as("__s9"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s9") / lit(1e9) / col("n_bigrams"), 6).as("avg_logp"))
  }

  /** Cross-corpus bigram-LM scoring — the CCNet-shaped quality filter
    * (Wenzek et al.: score crawl text against a CLEAN reference LM,
    * keep the head of the distribution): the LM (unigram/bigram
    * counts + vocab, add-one smoothing) is estimated from `ref`, and
    * every `target` document scores its mean bigram log-probability
    * under THAT model. Differs from [[bigramLmScore]] (which scores a
    * corpus against itself) in exactly the way the filter needs:
    * n-grams unseen in the reference keep their smoothed mass instead
    * of dropping — bigram LEFT-join (count 0 → P = 1/(cu+V)), unigram
    * LEFT-join (unknown first word → P = 1/V) — so out-of-domain text
    * scores LOW rather than vanishing from the result.
    *
    * Scale shape matches [[bigramLmScore]]: per-(doc, gram) counts
    * truncate the explode lineage before any join; the bigram table is
    * reference-corpus-sized and must NOT broadcast (shuffle join,
    * AQE-skew-splittable on hot Zipf grams); the unigram/vocab side is
    * vocab-sized and broadcasts; the per-document mean sums
    * nano-fixed-point longs (exact, order-independent — count ×
    * round(logp·1e9) equals the oracle's per-occurrence rounding by
    * distributivity). Kept separate from the self-scoring kernel: the
    * self form derives its bigram table from the already-built
    * (doc, gram) counts — one corpus scan fewer than this two-corpus
    * form needs.
    */
  def bigramLmScoreAgainst(ref: DataFrame, target: DataFrame,
                           idCol: String, textCol: String): DataFrame = {
    val refToks = ref.select(TextFunctions.tokens(col(textCol)).as("__w"))
    // The unigram table is consumed twice (vocab count + probability
    // join). It must stay DISTRIBUTED: an earlier revision collected
    // it to the driver to feed the broadcast, which hard-commits the
    // whole vocabulary to driver memory — fatal on a 10⁸-type
    // reference corpus. Persist + count instead; the count both
    // supplies the smoothing constant and size-gates the broadcast
    // hint (past the cap the probability join falls back to a
    // token-keyed shuffle join). A DiskSnapshot (disk-only,
    // lineage-preserving) holds it for the duration: the blocks are
    // ContextCleaner-reaped once the caller releases the result, like
    // the sibling call sites — the reference corpus still tokenizes
    // only once.
    val uni = DiskSnapshot.diskCached(
      refToks.select(explode(col("__w")).as("__t"))
        .groupBy(col("__t")).agg(count(lit(1)).as("__cu")))
    val nUni = uni.count()
    val vocab = nUni.toDouble
    val uniDf = uni.select(col("__t").as("__w1"), col("__cu"))
    val bgc = refToks
      .select(explode(TextFunctions.ngrams(concat_ws(" ", col("__w")), 2)).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__cb"))
    // map-side (doc, gram) counts — same kernel rationale as
    // [[bigramLmScore]]
    val dgc = target
      .select(col(idCol), explode(GraftExtensions.call("graft_gram_counts",
        TextFunctions.tokens(col(textCol)), lit(2))).as("__gc"))
      .select(col(idCol), col("__gc.g").as("__g"), col("__gc.c").as("__n"))
    val scored = dgc
      .join(bgc, Seq("__g"), "left")
      .withColumn("__cb", coalesce(col("__cb"), lit(0L)))
      .withColumn("__w1", split(col("__g"), " ").getItem(0))
      .join(hintIfSmall(uniDf, nUni), Seq("__w1"), "left")
      .withColumn("__cu", coalesce(col("__cu"), lit(0L)))
      // vocab clamped to >=1: an EMPTY reference corpus has cu=0 and
      // vocab=0 for every target bigram. The division is double-typed
      // so 1/0.0 is IEEE +Infinity even under ANSI — the hazard is
      // log(+Inf) = +Inf poisoning the per-doc sum through the
      // round(·1e9).cast(long) below. The clamp makes the
      // empty-reference degenerate score log(1) = 0 per position.
      .withColumn("__logp",
        log((col("__cb") + lit(1.0)) /
          (col("__cu") + lit(math.max(vocab, 1.0)))))
    scored.groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_bigrams"),
        sum(col("__n") * round(col("__logp") * lit(1e9)).cast("long")).as("__s9"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s9") / lit(1e9) / col("n_bigrams"), 6).as("avg_logp"))
  }

  /** CCNet's perplexity partition (arXiv:1911.00359 §4: score every
    * document against a reference-domain LM, rank, and cut the corpus
    * into head/middle/tail): bucket 0 is the best-scoring (lowest
    * perplexity ≡ highest avg log-prob) `1/nBuckets` of documents,
    * the last bucket the worst. Scoring is [[bigramLmScoreAgainst]];
    * the partition is an EXACT global rank via [[bucketByRank]] —
    * no global single-partition window. Returns
    * (idCol, n_bigrams, avg_logp, bucket).
    */
  def perplexityBuckets(ref: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, nBuckets: Int = 3): DataFrame =
    bucketByRank(bigramLmScoreAgainst(ref, target, idCol, textCol),
      idCol, "avg_logp", nBuckets)

  /** Exact equal-count rank buckets over `scoreCol` (descending, ties
    * by `idCol`) WITHOUT a global window anywhere: per-document
    * ranking runs in a window PARTITIONED by score value (fully
    * parallel), and the cross-score offsets come from a TWO-PHASE
    * prefix sum over the distinct-score frame — equal-width
    * order-preserving range slices of [min, max], per-slice totals
    * (≤ `RankSlices` rows) prefix-summed on the driver, then a
    * per-slice window adds the within-slice remainder. The round-12
    * form ran the offsets through `Window.orderBy(score)` with no
    * partition key: the frame is score-granularity-bounded, but at
    * 6-decimal rounding over a web corpus that is still ~10⁷ rows
    * through ONE task — this removes the last single-partition
    * window in the engine. `bucket = (rank-1)·nB DIV n` — integer
    * arithmetic, so the same formula replays exactly in the oracle's
    * `row_number()` form (the oracle is unchanged: offsets are exact
    * integer counts however they are summed).
    *
    * Within-score ranking is bounded too: a score VALUE whose row
    * count exceeds `spark.graft.rank.hotScoreRows` (default
    * [[HotScoreRows]] = 2^20 — a degenerate corpus where one value
    * dominates, e.g. all-identical docs scored before dedup) would
    * funnel through one task under `Window.partitionBy(score)`. Such
    * hot values sub-slice on an order-preserving range of
    * xxhash64(id) — per-(score, hash-slice) totals prefix-summed in a
    * ≤[[RankSlices]]-row window per score, then a per-(score, slice)
    * window ranks ~count/1024 rows per task. Hot values tie-break by
    * (hash, id) instead of id — an arbitrary deterministic order is
    * all equal-score ties carry semantically; sub-cap values keep the
    * exact id order the oracle replays, and the detection is free (the
    * max group size rides the slice-totals aggregate already taken).
    */
  val RankSlices: Int = 1024

  /** Default within-score window bound; override per session via
    * `spark.graft.rank.hotScoreRows` (tests set it low to force the
    * sub-sliced path on small data). */
  val HotScoreRows: Long = 1L << 20

  /** Driver bound for collecting the hot regime's per-score offsets
    * table as a LocalRelation (≤ 64k (score, before, count) rows —
    * ~2 MB); past it the offsets stay a DiskSnapshot. */
  private[graft] val MaxLocalOffsetRows: Long = 1L << 16

  def bucketByRank(df: DataFrame, idCol: String, scoreCol: String,
                   nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets=$nBuckets must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    // the scored input is consumed three times (total count, offsets
    // agg, final join) — snapshot it so an expensive upstream
    // (perplexityBuckets' LM scoring) prices once, not three times.
    // DiskSnapshot, not localCheckpoint: lineage survives executor
    // loss, blocks are ContextCleaner-reaped when the caller releases
    // the result, and nothing is materialized eagerly (the stats
    // action below is what first fills the blocks)
    val cached = DiskSnapshot.diskCached(df)
    val sc = col(scoreCol).cast("double")
    // one pass over the checkpoint serves total AND the FINITE slice
    // range: NaN would poison max() (NaN compares above +Inf in
    // Spark), and a null min/max just means no finite scores exist —
    // both non-finite classes get their own rank slices below
    val stats = cached.agg(count(lit(1)),
      min(when(!isnan(sc), sc)), max(when(!isnan(sc), sc))).head()
    val total = stats.getLong(0)
    if (total == 0) {
      return cached.withColumn("bucket", lit(0).cast("int"))
        .select(col(idCol) +: df.columns.filterNot(_ == idCol).map(col)
          :+ col("bucket"): _*)
    }
    // phase 1: order-preserving range slices of the distinct scores.
    // The distinct frame stays LAZY: both consumers below are plain
    // hash-aggs over the checkpointed input, cheaper than forcing an
    // extra materialization of the distinct frame itself
    val groups = cached.groupBy(col(scoreCol)).agg(count(lit(1)).as("__c"))
    val lo = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
    val hi = if (stats.isNullAt(2)) 0.0 else stats.getDouble(2)
    val width = (hi - lo) / RankSlices
    // Rank classes mirror the pre-slice Window.orderBy(desc)
    // semantics exactly: NaN sorts above every finite value (its own
    // top slice), SQL nulls sort last (slice -1, matching desc's
    // default NULLS LAST), finite values range-slice in between.
    // Confining the non-finite classes to dedicated slices keeps the
    // within-slice desc windows order-exact, and a non-castable or
    // all-null score column degrades to one null slice instead of an
    // NPE on the missing min/max.
    val finiteSlice =
      if (width == 0.0) lit(0)
      else least(lit(RankSlices - 1), greatest(lit(0),
        floor((sc - lit(lo)) / lit(width)).cast("int")))
    val sliceOf = when(sc.isNull, lit(-1))
      .when(isnan(sc), lit(RankSlices))
      .otherwise(finiteSlice)
    val gb = groups.withColumn("__slc", sliceOf)
    // max group size rides the same collect — it decides (for free)
    // whether any score value needs the sub-sliced within-score rank
    val sliceRows = gb.groupBy(col("__slc"))
      .agg(sum(col("__c")).as("__t"), max(col("__c")).as("__m"),
        count(lit(1)).as("__g")).collect()
    val maxGroup = if (sliceRows.isEmpty) 0L else sliceRows.map(_.getLong(2)).max
    // distinct-score count, riding the same collect: decides whether
    // the hot regime's offsets table is driver-small enough to collect
    val nScoreGroups = sliceRows.map(_.getLong(3)).sum
    val sliceTotals = sliceRows.map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._1)
    // descending driver prefix: rows in strictly HIGHER slices (higher
    // slice id = higher score = earlier rank)
    val sliceOff = sliceTotals
      .zip(sliceTotals.scanLeft(0L)(_ + _._2))
      .map { case ((slc, _), off) => (slc, off) }
    import spark.implicits._
    val offs = sliceOff.toSeq.toDF("__slc", "__soff")
    // phase 2: within-slice cumulative over the distinct scores, fully
    // parallel across slices
    val wSlice = Window.partitionBy(col("__slc")).orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = gb.join(broadcast(offs), Seq("__slc"))
      .withColumn("__before",
        coalesce(sum(col("__c")).over(wSlice), lit(0L)) + col("__soff"))
      .select(col(scoreCol).as("__sc_j"), col("__before"), col("__c").as("__gc"))
    val hotCap = spark.conf
      .get("spark.graft.rank.hotScoreRows", HotScoreRows.toString).toLong
    val ranked =
      if (maxGroup <= hotCap) {
        // every score value fits one window task: exact id-order ties,
        // the plan the oracle replays — and the ONLY plan small/normal
        // inputs ever take (no hot machinery is planned at all). The
        // null-safe join keeps null-score rows (grouping already put
        // them in one group); per-key join-side rows are bounded by
        // the cap, so the equi-join has no straggler either.
        val wG = Window.partitionBy(col(scoreCol)).orderBy(col(idCol))
        cached.join(offsets, col(scoreCol) <=> col("__sc_j")).drop("__sc_j")
          .withColumn("__rn", row_number().over(wG).cast("long"))
      } else {
        // A HOT value can carry ~the whole corpus on ONE key, so even
        // the offsets equi-join would funnel it through a single
        // shuffle partition (the 10^7-row probe measured n+1 rows in
        // one join task before this split). Hot offsets are FEW
        // (≤ total/cap rows) and broadcast, so hot rows never shuffle
        // on the score; cold rows pre-filter map-side via a broadcast
        // anti-join and take the bounded equi-join. The offsets frame
        // is consumed three times in this regime (hot join, anti-join,
        // cold join) — snapshot it so the distinct-score window prices
        // once, and use the SAME broadcast frame for both hot-side
        // joins so the exchange is reused rather than built twice.
        // When the distinct-score table is driver-small (r20, the
        // r19-queued item): collect it ONCE into a LocalRelation — the
        // three consumers then read local rows instead of re-opening
        // snapshot blocks, the snapshot materialization job and the
        // broadcast-build jobs drop out, and the values are the exact
        // same offsets rows (one window job computes them either way).
        val off =
          if (nScoreGroups <= MaxLocalOffsetRows) {
            val rows = offsets.collect()
            spark.createDataFrame(
              java.util.Arrays.asList(rows: _*), offsets.schema)
          } else DiskSnapshot.diskCached(offsets)
        val hotOff = broadcast(off.filter(col("__gc") > hotCap))
        val coldOff = off.filter(col("__gc") <= hotCap)
        val wCold = Window.partitionBy(col(scoreCol)).orderBy(col(idCol))
        val coldR = cached
          .join(hotOff, col(scoreCol) <=> col("__sc_j"), "left_anti")
          .join(coldOff, col(scoreCol) <=> col("__sc_j")).drop("__sc_j")
          .withColumn("__rn", row_number().over(wCold).cast("long"))
        // sub-slice HOT values on an order-preserving range of
        // xxhash64(id): signed >> 54 keeps hash order, so slice-major
        // (hash, id) order is a deterministic total order per score
        val hkey = xxhash64(col(idCol).cast("string"))
        val hot = cached
          .join(hotOff, col(scoreCol) <=> col("__sc_j"))
          .drop("__sc_j")
          .withColumn("__hk", hkey)
          .withColumn("__hslc", (shiftright(col("__hk"), 54) + lit(512L)).cast("int"))
        // per-(score, slice) totals; the cross-slice prefix runs in a
        // window of ≤ RankSlices rows PER SCORE — never a hot task
        val wHot = Window.partitionBy(col(scoreCol)).orderBy(col("__hslc"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val hoff = hot.groupBy(col(scoreCol), col("__hslc"))
          .agg(count(lit(1)).as("__hc"))
          .withColumn("__hoff", coalesce(sum(col("__hc")).over(wHot), lit(0L)))
          .select(col(scoreCol).as("__hs_j"), col("__hslc").as("__hslc_j"),
            col("__hoff"))
        // the (score, slice) join key co-partitions with the ranking
        // window below — one shuffle serves both
        val wIn = Window.partitionBy(col(scoreCol), col("__hslc"))
          .orderBy(col("__hk"), col(idCol))
        val hotR = hot.join(hoff,
            col(scoreCol) <=> col("__hs_j") && col("__hslc") === col("__hslc_j"))
          .drop("__hs_j", "__hslc_j")
          .withColumn("__rn", col("__hoff") + row_number().over(wIn))
          .drop("__hoff", "__hk", "__hslc")
        coldR.unionByName(hotR)
      }
    // returned LAZY: no output materialization here. The scored
    // snapshot prices the upstream once; the bucket assignment itself
    // is one join + one bounded window on top of it, cheap enough to
    // replay — callers that consume the result repeatedly persist it
    // themselves. (The round-14 form eagerly localCheckpoint'ed both
    // the input AND this output: two full corpus-shaped copies, both
    // lineage-truncated.)
    ranked
      .withColumn("__rk0", col("__before") + col("__rn") - 1)
      .withColumn("bucket",
        expr(s"CAST((__rk0 * $nBuckets) DIV ${math.max(total, 1L)} AS INT)"))
      .drop("__before", "__gc", "__rn", "__rk0")
      .select(col(idCol) +: df.columns.filterNot(_ == idCol).map(col)
        :+ col("bucket"): _*)
  }

  /** Word-level blocklist screening (the safety-wordlist stage every
    * web-corpus pipeline runs): per document, how many token
    * occurrences match the term list, and a flag. The term list
    * BROADCASTS (wordlists are small next to the corpus) and joins
    * the exploded token stream — at 100k+ terms this beats an O(n)
    * per-token literal scan, and the corpus text never shuffles (the
    * hit counts aggregate on ids and left-join back).
    * Returns (idCol, n_hits, flagged).
    */
  def blocklistHits(df: DataFrame, idCol: String, textCol: String,
                    terms: Seq[String]): DataFrame = {
    df.select(col(idCol))
      .join(flaggedCounts(df, idCol, textCol, terms), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__n"), lit(0L)).as("n_hits"),
        (coalesce(col("__n"), lit(0L)) > 0L).as("flagged"))
  }

  /** (id, occurrence count) for documents with >= 1 hit. Terms
    * dedupe first — wordlists assembled from several files repeat
    * entries, and a duplicate row would multiply every count. */
  private def flaggedCounts(df: DataFrame, idCol: String, textCol: String,
                            terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "blocklist must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val termDf = terms.distinct.toDF("__term")
    df.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .join(broadcast(termDf), col("__t") === col("__term"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
  }

  /** Drop documents with any blocklist hit — the filtering form
    * (one anti-join against the matched-id frame; no join-back). */
  def dropBlocklisted(df: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String]): DataFrame =
    df.join(flaggedCounts(df, idCol, textCol, terms).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Corpus version DIFF — the iteration primitive behind every
    * pipeline change review ("what did the new filter actually do?"):
    * full-outer join two corpus versions by id and classify each
    * changed document as `added` / `removed` / `changed`
    * (fingerprint-inequal text under the same id; unchanged docs are
    * omitted — at 100 TB the diff is small, the corpus is not).
    * Returns (idCol, status, fp_old, fp_new). Text never shuffles:
    * both sides reduce map-side to (id, md5 fingerprint) before the
    * one join, which co-partitions on id.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    def fp(df: DataFrame, name: String) = df.select(col(idCol),
      TextFunctions.fingerprint(col(textCol)).as(name))
    fp(oldDf, "fp_old").join(fp(newDf, "fp_new"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") =!= col("fp_new"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"), col("fp_old"), col("fp_new"))
  }

  /** TRIGRAM stupid-backoff scoring against a reference corpus
    * (Brants et al. 2007, "Large Language Models in Machine
    * Translation" — the web-scale LM that skips normalized backoff
    * weights): per target trigram occurrence,
    *   S = c₃/c₂(ctx)           when the trigram is in the reference,
    *     = α · c₂/c₁(w₂)        else when the (w₂ w₃) bigram is,
    *     = α² · (c₁(w₃)+1)/(N+V) else (add-one floor — an unseen word
    *       scores finitely instead of log 0, the same smoothing
    *       convention as [[bigramLmScoreAgainst]]).
    * Returns (idCol, n_trigrams, avg_logs) — the mean log score in
    * the family's nano-fixed-point deterministic form. Docs with
    * fewer than 3 tokens have no scorable position and drop.
    *
    * Scale shape mirrors q108: per-(doc, trigram) counts truncate the
    * explode lineage; the reference trigram/bigram tables are
    * reference-corpus-sized and join by shuffle (AQE-skew-splittable
    * on hot Zipf grams); the unigram/vocab side takes the
    * size-gated broadcast hint.
    */
  def stupidBackoffScoreAgainst(ref: DataFrame, target: DataFrame,
                                idCol: String, textCol: String,
                                alpha: Double = 0.4): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha in (0,1), got $alpha")
    val refToks = ref.select(TextFunctions.tokens(col(textCol)).as("__w"))
    // Distributed unigram table (see [[bigramLmScoreAgainst]]: the
    // earlier driver collect is fatal on web-scale vocabularies); one
    // 2-column aggregate row supplies the vocab/total smoothing
    // constants AND the row count that size-gates the two broadcast
    // hints below.
    val uni = DiskSnapshot.diskCached(
      refToks.select(explode(col("__w")).as("__t"))
        .groupBy(col("__t")).agg(count(lit(1)).as("__cu")))
    val uniStats = uni.agg(count(lit(1)), sum(col("__cu"))).head()
    val nUni = uniStats.getLong(0)
    val vocab = nUni.toDouble
    // sum() over zero rows is SQL NULL: an empty / all-empty-text
    // reference corpus must degrade to the pure-smoothing fallback,
    // not NPE here
    val total = if (uniStats.isNullAt(1)) 0.0 else uniStats.getLong(1).toDouble
    val uniDf = uni.select(col("__t").as("__u"), col("__cu"))
    def refGrams(n: Int, gCol: String, cCol: String) = refToks
      .select(explode(TextFunctions.ngrams(concat_ws(" ", col("__w")), n)).as(gCol))
      .groupBy(col(gCol)).agg(count(lit(1)).as(cCol))
    val bgc = refGrams(2, "__g2", "__c2")
    val tgc = refGrams(3, "__g3", "__c3")
    val dgc = target
      .select(col(idCol),
        explode(TextFunctions.ngrams(
          concat_ws(" ", TextFunctions.tokens(col(textCol))), 3)).as("__g3"))
      .groupBy(col(idCol), col("__g3")).agg(count(lit(1)).as("__n"))
    val parts = split(col("__g3"), " ")
    val scored = dgc
      .join(tgc, Seq("__g3"), "left")
      .withColumn("__ctx", concat_ws(" ", parts.getItem(0), parts.getItem(1)))
      .withColumn("__tail", concat_ws(" ", parts.getItem(1), parts.getItem(2)))
      .join(bgc.select(col("__g2").as("__ctx"), col("__c2").as("__cctx")),
        Seq("__ctx"), "left")
      .join(bgc.select(col("__g2").as("__tail"), col("__c2").as("__ctail")),
        Seq("__tail"), "left")
      .join(hintIfSmall(uniDf.select(col("__u").as("__w2"),
          col("__cu").as("__cw2")), nUni),
        parts.getItem(1) === col("__w2"), "left")
      .join(hintIfSmall(uniDf.select(col("__u").as("__w3"),
          col("__cu").as("__cw3")), nUni),
        parts.getItem(2) === col("__w3"), "left")
      .withColumn("__logs", log(
        when(coalesce(col("__c3"), lit(0L)) > 0L,
          col("__c3").cast("double") / col("__cctx"))
        .when(coalesce(col("__ctail"), lit(0L)) > 0L,
          lit(alpha) * col("__ctail").cast("double") / col("__cw2"))
        .otherwise(lit(alpha * alpha) *
          // denominator clamped to >=1: an empty reference corpus has
          // total=0 and vocab=0. The division is double-typed, so /0.0
          // yields IEEE +Infinity even under ANSI — the hazard is
          // log(+Inf) poisoning the per-doc sum through the later
          // round(·1e9).cast(long); the clamp makes the degenerate
          // score log(alpha^2) instead.
          (coalesce(col("__cw3"), lit(0L)).cast("double") + 1.0)
          / lit(math.max(total + vocab, 1.0)))))
    scored.groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_trigrams"),
        sum(col("__n") * round(col("__logs") * lit(1e9)).cast("long")).as("__s9"))
      .select(col(idCol), col("n_trigrams"),
        round(col("__s9") / lit(1e9) / col("n_trigrams"), 6).as("avg_logs"))
  }

  /** HyperLogLog register table (Flajolet et al. 2007) for grouped
    * DISTINCT-count estimation — the mergeable constant-memory
    * companion to the count-min FREQUENCY sketch below: registers
    * max-merge across partitions, shards, or days, so incremental
    * corpus builds store (group, bucket, M) and re-estimate after
    * every union. One slim hash-agg shuffle (≤ 2^b rows per group),
    * values never shuffle. bucket = low `b` bits of xxhash64(value),
    * rho = leading-zero rank of the remaining 64-b bits.
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   b: Int = 12): DataFrame = {
    require(b >= 4 && b <= 16, s"b=$b out of range")
    val h = xxhash64(col(valueCol))
    val w = shiftrightunsigned(h, b)
    val maxRho = 64 - b + 1
    val bkt = pmod(h, lit(1L << b)).cast("int")
    // rho via bin()'s string length — exact integer leading-zero
    // rank; a float log2 would mis-floor at exact powers of two
    val rho = when(w === 0L, lit(maxRho))
      .otherwise(lit(64 - b + 1) - length(bin(w))).cast("int")
    df.select(groupCols.map(col) :+ bkt.as("bucket") :+ rho.as("rho"): _*)
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(max(col("rho")).as("M"))
  }

  /** Distinct-count estimate per group from [[hllRegisters]]'s
    * output (callable on freshly built or max-merged registers):
    * E = α_m·m²/Z with the standard linear-counting small-range
    * correction. Returns (groupCols…, est_distinct).
    */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String], b: Int = 12): DataFrame = {
    val m = 1 << b
    val alpha =
      if (m >= 128) 0.7213 / (1.0 + 1.079 / m)
      else if (m == 64) 0.709 else if (m == 32) 0.697 else 0.673
    val agg = regs.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__used"),
        sum(pow(lit(2.0), -col("M"))).as("__zUsed"),
        max(col("bucket")).as("__maxb"))
      // registers built at a DIFFERENT b would silently estimate with
      // the wrong m (an 8-bit register table under the default b=12
      // reads as 94% empty and misses by an order of magnitude) —
      // the bucket ids themselves betray the mismatch, so refuse
      .withColumn("__used", when(col("__maxb") < lit(m.toLong), col("__used"))
        .otherwise(raise_error(concat(lit(s"hllEstimate(b=$b): register "),
          lit("bucket "), col("__maxb").cast("string"),
          lit(s" >= 2^$b — registers were built at a larger b"))).cast("long")))
      .withColumn("__V", lit(m.toLong) - col("__used"))
      .withColumn("__raw",
        lit(alpha * m * m) / (col("__V").cast("double") + col("__zUsed")))
    agg.select(groupCols.map(col) :+
      round(when(col("__raw") <= 2.5 * m && col("__V") > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / col("__V")))
        .otherwise(col("__raw")), 3).as("est_distinct"): _*)
  }

  /** [[hllRegisters]]+[[hllEstimate]] in one call, plus the exact
    * count for monitoring. PRODUCTION kernel (xxhash64). */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  b: Int = 12): DataFrame =
    hllEstimate(hllRegisters(df, groupCols, valueCol, b), groupCols, b)

  /** DuckDB-replayable GATE twin of [[hllDistinct]] at b = 8: bucket
    * = first 2 md5 hex chars, the rho field the next 6 (24 bits), and
    * — the property that makes the ESTIMATE itself hash-comparable —
    * the harmonic sum is computed in EXACT fixed point
    * (Σ 2^(25-M) as a long; ≤ 256·2^24 — no float summation whose
    * reassociation could flip the rounded third decimal across
    * engines), with division order pinned to the oracle's formula.
    * Includes the exact distinct count alongside. CorpusSpec pins the
    * standard-error contract on both kernels.
    */
  def hllDistinctMd5(df: DataFrame, groupCols: Seq[String],
                     valueCol: String): DataFrame = {
    val m = 256
    val hx = md5(col(valueCol).cast("string").cast("binary"))
    val bkt = conv(substring(hx, 1, 2), 16, 10).cast("int")
    val w = conv(substring(hx, 3, 6), 16, 10).cast("long")
    // exact integer rho (bin-length), replayed as len(bin(w)) — see
    // hllRegisters' note on the float-log2 power-of-two hazard
    val rho = when(w === 0L, lit(25)).otherwise(lit(25) - length(bin(w)))
      .cast("int")
    val regs = df
      .select(groupCols.map(col) :+ bkt.as("bucket") :+ rho.as("rho"): _*)
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(max(col("rho")).as("M"))
    val est = regs.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__used"),
        sum(expr("CAST(pow(2.0D, 25 - M) AS BIGINT)")).as("__S"))
      .withColumn("__V", lit(m.toLong) - col("__used"))
      .withColumn("__raw",
        lit(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 33554432.0)
          / (col("__V") * lit(33554432L) + col("__S")).cast("double"))
      .select(groupCols.map(col) :+
        round(when(col("__raw") <= 640.0 && col("__V") > 0,
          lit(256.0) * log(lit(256.0) / col("__V")))
          .otherwise(col("__raw")), 3).as("est_distinct"): _*)
    val exact = df.groupBy(groupCols.map(col): _*)
      .agg(countDistinct(col(valueCol)).as("n_distinct"))
    est.join(exact, groupCols)
  }

  /** Count-min sketch over corpus n-grams — the constant-memory
    * frequency structure for when the distinct-gram space doesn't fit
    * a hash aggregation (mergeable across partitions/days; ε·total
    * additive overestimate with the usual guarantee). Built with
    * Spark's own `count_min_sketch` aggregate (map-side partial
    * merges, one sketch per partition shuffled — never the grams).
    */
  def ngramSketch(df: DataFrame, textCol: String, n: Int,
                  eps: Double = 0.0001, confidence: Double = 0.99,
                  seed: Int = 42): org.apache.spark.util.sketch.CountMinSketch = {
    // spread: the explode+sketch-update is the whole map stage and a
    // gate-scale corpus is ONE split (the CMS is additive, so the
    // merged counters are partitioning-independent); a real corpus
    // never takes the shuffle (Tables.spreadDf condition)
    val bytes = graft.Tables.spreadDf(df)
      .select(explode(TextFunctions.ngrams(col(textCol), n)).as("g"))
      .agg(expr(s"count_min_sketch(g, ${eps}d, ${confidence}d, $seed)"))
      .head().getAs[Array[Byte]](0)
    org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
  }

  /** Sketched frequency estimates for the exact top-k n-grams:
    * the exact list (small) comes from [[topKNgrams]], the estimates
    * from one [[ngramSketch]] pass. Returns (ngram, n_occurrences,
    * est_occurrences) — the spec asserts the CMS guarantee
    * (est ≥ exact, est ≤ exact + ε·total) row by row.
    */
  def sketchedTopKNgrams(df: DataFrame, textCol: String, n: Int, k: Int,
                         eps: Double = 0.0001): DataFrame = {
    val spark = df.sparkSession
    val sketch = ngramSketch(df, textCol, n, eps)
    val exact = topKNgrams(df, textCol, n, k).collect()
    val rows = exact.map { r =>
      val g = r.getString(0)
      (g, r.getLong(1), sketch.estimateCount(g))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1))
      .toDF("ngram", "n_occurrences", "est_occurrences")
  }

  /** DuckDB-replayable count-min gate twin of [[sketchedTopKNgrams]]:
    * same CMS structure (depth rows × width buckets, estimate = min
    * over rows of the bucket counter), but row j's hash is the first
    * 8 hex chars of md5("j:gram") mod width — exactly replayable in
    * any SQL engine, unlike Spark's internal Murmur3-based
    * `count_min_sketch`. The counter table is built FROM the
    * per-gram exact counts (adding a gram's total to its bucket once
    * is arithmetically identical to streaming its occurrences, and
    * the groupBy is the mergeable-partial form of sketch merging),
    * so the whole thing is two hash aggregations plus a broadcast
    * join of the k×depth probe rows — the gram strings shuffle once,
    * pre-combined. Production callers keep [[sketchedTopKNgrams]];
    * CorpusSpec asserts this kernel obeys the same one-sided CMS
    * bound (est ≥ exact, est ≤ exact + width-ε·total).
    */
  def sketchedTopKNgramsMd5(df: DataFrame, textCol: String, n: Int, k: Int,
                            width: Int = 2048, depth: Int = 5): DataFrame = {
    require(width > 0 && depth > 0)
    def bucket(row: Column, gram: Column): Column =
      conv(substring(md5(concat(row.cast("string"), lit(":"), gram)), 1, 8),
        16, 10).cast("long") % width
    // the distinct-gram table is corpus-gram-sized (10^10+ at web
    // scale) — disk snapshot, not a heap persist
    val cnt = DiskSnapshot.diskCached(
      df.select(explode(TextFunctions.ngrams(col(textCol), n)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("n_occurrences")))
    val counters = cnt
      .select(explode(sequence(lit(0), lit(depth - 1))).as("row"),
        col("ngram"), col("n_occurrences"))
      .select(col("row"), bucket(col("row"), col("ngram")).as("bucket"),
        col("n_occurrences"))
      .groupBy("row", "bucket").agg(sum(col("n_occurrences")).as("c"))
    val topk = cnt.orderBy(col("n_occurrences").desc, col("ngram").asc).limit(k)
    val probes = topk
      .select(col("ngram"), col("n_occurrences"),
        explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .select(col("ngram"), col("n_occurrences"), col("row"),
        bucket(col("row"), col("ngram")).as("bucket"))
    // k-sized eager snapshot; cnt's upstream snapshot blocks are
    // ContextCleaner-reaped once this result frame drops them
    val out = DiskSnapshot.diskCachedEager(
      counters.join(broadcast(probes), Seq("row", "bucket"))
        .groupBy(col("ngram"), col("n_occurrences"))
        .agg(min(col("c")).as("est_occurrences")))
    out
  }

  /** Interpolated Kneser–Ney bigram LM scoring, self-trained (Chen &
    * Goodman 1998; the smoothing KenLM-style CCNet filters actually
    * use, alongside this file's add-one [[bigramLmScore]] and
    * stupid-backoff families):
    *
    *   P(w2|w1) = max(c(w1w2)−d, 0)/c(w1·) + (d·fert(w1)/c(w1·))·Pcont(w2)
    *   Pcont(w2) = |{w1 : c(w1w2)>0}| / |bigram types|
    *
    * with c(w1·) the CONTEXT total (Σ_w2 c(w1w2)), fert(w1) the
    * distinct continuations of w1. Self-trained, every scored gram is
    * seen, so both terms are positive and no backoff floor is needed.
    * Per-gram log-probs nano-quantize before the per-doc sum (the
    * family's exact-long determinism contract). Returns
    * (idCol, n_bigrams, avg_logp).
    *
    * Scale shape: everything derives from the ONE (gram, count)
    * table — context totals, fertilities, continuation counts are
    * unigram-vocab-sized aggs of it (size-gated broadcast, like the
    * add-one family's uni table); the corpus is tokenized once and scoring
    * joins stay on hash-aggregated (doc, gram) counts.
    */
  def bigramKnScore(df: DataFrame, idCol: String, textCol: String,
                    discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1), got $discount")
    val toks = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__w"))
    // dgc feeds BOTH the table build and the final scoring join —
    // snapshotted so the corpus tokenizes once, not twice (measured
    // 7.9 s → the tokenize+agg is the dominant term at sf0.1).
    // DiskSnapshot (not persist/localCheckpoint): these are
    // corpus-shaped frames that the LAZY result below keeps alive —
    // lineage-preserving disk blocks that drop automatically when the
    // caller releases the result
    // map-side (doc, gram) counts (graft_gram_counts — guide §2.4, see
    // [[bigramLmScore]]); the snapshot stays: dgc is consumed twice
    val dgc = DiskSnapshot.diskCached(toks
      .select(col(idCol), explode(GraftExtensions.call("graft_gram_counts",
        col("__w"), lit(2))).as("__gc"))
      .select(col(idCol), col("__gc.g").as("__g"), col("__gc.c").as("__n")))
    val bgc = DiskSnapshot.diskCached(
      dgc.groupBy(col("__g")).agg(sum(col("__n")).as("__cb"))
        .withColumn("__w1", split(col("__g"), " ").getItem(0))
        .withColumn("__w2", split(col("__g"), " ").getItem(1)))
    val nTypes = bgc.count().toDouble // |bigram types| (also caches dgc)
    // ctx/cont are unigram-vocab-sized aggs of the persisted bgc,
    // each consumed exactly once — left lazy (one hash-agg over the
    // cache apiece) and size-gated on nTypes, an upper bound on both
    // row counts that is already known: no extra count jobs, and
    // web-scale vocabularies still fall back to the token-keyed
    // shuffle join
    val ctx = bgc.groupBy(col("__w1"))
      .agg(sum(col("__cb")).as("__ctx"), count(lit(1)).as("__fert"))
    val cont = bgc.groupBy(col("__w2")).agg(count(lit(1)).as("__cont"))
    val gramLp = bgc
      .join(hintIfSmall(ctx, nTypes.toLong), Seq("__w1"))
      .join(hintIfSmall(cont, nTypes.toLong), Seq("__w2"))
      .select(col("__g"),
        round(log(
          (greatest(col("__cb") - lit(discount), lit(0.0)) / col("__ctx")) +
            (lit(discount) * col("__fert") / col("__ctx")) *
              (col("__cont") / lit(nTypes))) * lit(1e9)).cast("long")
          .as("__lp9"))
    // lazy result — the #docs-sized scored frame is NOT materialized
    // here (the round-14 eager checkpoint paid a full extra copy and
    // truncated lineage); it reads the dgc/bgc snapshots on demand
    dgc.join(gramLp, Seq("__g"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_bigrams"),
        sum(col("__n") * col("__lp9")).as("__s9"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s9") / lit(1e9) / col("n_bigrams"), 6).as("avg_logp"))
  }

  /** Cross-corpus Kneser–Ney: LM tables from `ref`, every `target`
    * document scored against them — the CCNet deployment shape
    * (arXiv:1911.00359: reference-domain LM ranks the crawl). Unseen
    * mass is where cross-corpus differs from the self-trained gate:
    * a SEEN context w1 scores an unseen bigram as its interpolation
    * tail (d·fert(w1)/ctx(w1))·Pcont(w2); an UNSEEN context has no
    * table row at all and falls back to Pcont(w2) alone (λ=1: all
    * mass from the continuation model); an unseen w2 takes the floor
    * Pcont = 1/(T+1) so out-of-domain text scores low instead of
    * −∞. Same exact-long determinism as the rest of the family.
    */
  def bigramKnScoreAgainst(ref: DataFrame, target: DataFrame,
                           idCol: String, textCol: String,
                           discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1), got $discount")
    val refToks = ref.select(TextFunctions.tokens(col(textCol)).as("__w"))
    val bgc = DiskSnapshot.diskCached(refToks
      .select(explode(TextFunctions.ngrams(concat_ws(" ", col("__w")), 2)).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__cb"))
      .withColumn("__w1", split(col("__g"), " ").getItem(0))
      .withColumn("__w2", split(col("__g"), " ").getItem(1)))
    val nTypes = bgc.count().toDouble
    val contFloor = 1.0 / (nTypes + 1.0)
    // same gated-hint shape as [[bigramKnScore]]: lazy single-use
    // aggs of the persisted bgc, gated on the known nTypes bound
    val ctx = bgc.groupBy(col("__w1"))
      .agg(sum(col("__cb")).as("__ctx"), count(lit(1)).as("__fert"))
    val cont = bgc.groupBy(col("__w2")).agg(count(lit(1)).as("__cont"))
    val dgc = target
      .select(col(idCol), explode(GraftExtensions.call("graft_gram_counts",
        TextFunctions.tokens(col(textCol)), lit(2))).as("__gc"))
      .select(col(idCol), col("__gc.g").as("__g"), col("__gc.c").as("__n"))
      .withColumn("__w1", split(col("__g"), " ").getItem(0))
      .withColumn("__w2", split(col("__g"), " ").getItem(1))
    val scored = dgc
      .join(bgc.select(col("__g"), col("__cb")), Seq("__g"), "left")
      .join(hintIfSmall(ctx, nTypes.toLong), Seq("__w1"), "left")
      .join(hintIfSmall(cont, nTypes.toLong), Seq("__w2"), "left")
      .withColumn("__pcont",
        coalesce(col("__cont") / lit(nTypes), lit(contFloor)))
      .withColumn("__p", when(col("__ctx").isNull, col("__pcont"))
        .otherwise(
          greatest(coalesce(col("__cb"), lit(0L)) - lit(discount), lit(0.0))
            / col("__ctx") +
          (lit(discount) * col("__fert") / col("__ctx")) * col("__pcont")))
      .withColumn("__lp9", round(log(col("__p")) * lit(1e9)).cast("long"))
    // lazy, same rationale as [[bigramKnScore]]: the bgc snapshot is
    // the one materialized copy, the scored output replays from it
    scored.groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_bigrams"),
        sum(col("__n") * col("__lp9")).as("__s9"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s9") / lit(1e9) / col("n_bigrams"), 6).as("avg_logp"))
  }

  // ---- Naive Bayes corpus classifier ------------------------------

  /** Multinomial Naive Bayes trainer (the trainable upgrade to the
    * heuristic quality/langid scorers — the classifier a CCNet-style
    * pipeline trains on a labeled slice and applies to the whole
    * corpus). Laplace-α smoothing. Returns
    * (model, priors):
    * - model: (token, label, lp9) — nano-fixed-point
    *   round(ln((c+α)/(tot_l+α·V))·1e9) per seen (token, label);
    * - priors: (label, prior9, unseen9) — log class prior and the
    *   smoothing floor an UNSEEN token contributes under that label.
    * All log-probabilities live as exact longs so downstream sums are
    * order-independent under any partitioning (the bigram-LM
    * fixed-point contract).
    *
    * Scale shape: one (label, token) hash-agg over exploded tokens
    * (map-side combined), label totals and vocab size are
    * label-count-sized aggregates; nothing corpus-sized leaves the
    * first agg.
    */
  def trainNaiveBayes(df: DataFrame, textCol: String, labelCol: String,
                      alpha: Double = 1.0): (DataFrame, DataFrame) = {
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    val spark = df.sparkSession
    val labelType = df.schema(labelCol).dataType
    // the label stats round-trip through a driver-side map keyed by
    // the collected values; array/binary labels would compare by
    // REFERENCE there (silently emptying the priors where the old
    // join compared by value) — refuse them up front
    require(!labelType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
        !labelType.isInstanceOf[org.apache.spark.sql.types.MapType] &&
        labelType != org.apache.spark.sql.types.BinaryType,
      s"trainNaiveBayes: label column '$labelCol' has type " +
        s"${labelType.simpleString}; use an atomic (string/numeric/date) label")
    val toks = df.select(col(labelCol).as("label"),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    // ONE corpus-tokenizing pass, snapshotted (disk-only, lineage-
    // preserving, released below once the model materializes) — every
    // statistic reads these blocks. LAZY (r20): the first consumer is
    // the rollup collect just below, a full pass over every partition,
    // so the blocks are written inside that job and the dedicated
    // materialization barrier drops out.
    val tc = DiskSnapshot.diskCached(
      toks.groupBy(col("label"), col("token")).agg(count(lit(1)).as("__c")))
    // vocabulary size AND per-label token totals in ONE rollup pass
    // over the cached counts (the total row carries the global
    // distinct-token count; previously a separate distinct().count()
    // shuffle plus a twice-consumed lt aggregate). Label cardinality
    // is structurally small for a classifier (it broadcasts
    // downstream), so collecting it is a labels+1-row pull, not data
    // on the driver — but "structurally small" must be a GUARD, not
    // an assumption: a caller who passes a near-unique column
    // (doc_id, url) as the label would otherwise pull the corpus
    // onto the driver. The limit bounds what the collect can
    // materialize BEFORE the check fires, so the failure is a clear
    // error, never an OOM.
    val maxLabels = math.min(Int.MaxValue - 3,
      spark.conf.getOption("spark.graft.nb.maxLabels")
        .map(_.toInt).getOrElse(NaiveBayesMaxLabels))
    // the limit leaves room for the grouping-total row AND a
    // null-label group (null is not a distinct VALUE — null-label
    // docs are legal and drop from the priors downstream), so a
    // corpus with exactly maxLabels real labels plus null-label rows
    // trains, while maxLabels+1 real labels still materializes inside
    // the limit and refuses
    val roll = tc.rollup(col("label"))
      .agg(sum(col("__c")).as("__tot"),
        count_distinct(col("token")).as("__v"),
        grouping(col("label")).as("__g"))
      .limit(maxLabels + 3)
      .collect()
    require(roll.count(r =>
        r.getAs[Number]("__g").intValue == 0 && !r.isNullAt(0)) <= maxLabels,
      s"trainNaiveBayes: label column '$labelCol' has more than " +
        s"$maxLabels distinct values — that is an id-like column, not " +
        "a class label; pick a categorical column or raise " +
        "spark.graft.nb.maxLabels")
    val vocab = roll.find(_.getAs[Number]("__g").intValue == 1)
      .get.getAs[Long]("__v").toDouble
    val totByLabel: Map[Any, Long] = roll
      .filter(r => r.getAs[Number]("__g").intValue == 0 && !r.isNullAt(0))
      .map(r => r.get(0) -> r.getAs[Long]("__tot")).toMap
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val lt = spark.createDataFrame(
      totByLabel.toSeq.map { case (l, t) =>
        org.apache.spark.sql.Row(l, t) }.asJava,
      StructType(Seq(StructField("label", labelType),
        StructField("__tot", LongType))))
    val model = tc.join(broadcast(lt), Seq("label"))
      .select(col("token"), col("label"),
        round(log((col("__c") + lit(alpha)) /
          (col("__tot") + lit(alpha * vocab))) * lit(1e9)).cast("long")
          .as("lp9"))
    // per-label doc counts in one label-only (column-pruned) scan;
    // nDocs is their sum — ALL docs, including any whose label never
    // tokenized (matches the previous df.count()); labels with no
    // tokens drop from the priors like the previous inner join did.
    // Same driver-safety limit as the rollup (same cardinality).
    val ndRows = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("__nd")).limit(maxLabels + 2).collect()
    // the rollup guard above only sees labels that produced >=1 token;
    // a corpus with many labels whose text tokenizes to nothing could
    // pass it while this limit silently truncates — guard here too so
    // nDocs (and every prior) can never be silently undercounted.
    // No grouping-total row in THIS collect, so the bound is a plain
    // <= maxLabels — exactly the cardinality the message promises
    // (the rollup guard's collect includes its total row, hence +1).
    // A null-label GROUP is not a distinct value: null-label docs
    // count toward nDocs (as always) but must not push a
    // maxLabels-label corpus over the refusal bound.
    require(ndRows.count(r => !r.isNullAt(0)) <= maxLabels,
      s"trainNaiveBayes: label column '$labelCol' has more than " +
        s"$maxLabels distinct values — that is an id-like column, not " +
        "a class label; pick a categorical column or raise " +
        "spark.graft.nb.maxLabels")
    val nDocs = ndRows.map(_.getAs[Long]("__nd")).sum.toDouble
    val pin = spark.createDataFrame(
      ndRows.toSeq.filter(r => totByLabel.contains(r.get(0)))
        .map(r => org.apache.spark.sql.Row(
          r.get(0), r.getAs[Long]("__nd"), totByLabel(r.get(0)))).asJava,
      StructType(Seq(StructField("label", labelType),
        StructField("__nd", LongType), StructField("__tot", LongType))))
    // priors depend only on the collected label stats (a LocalRelation
    // plan — nothing corpus-sized to snapshot), but the ARITHMETIC
    // stays in Spark expressions so the rounding convention cannot
    // drift from the model's (Spark round = HALF_UP via BigDecimal;
    // driver-side math.round floors negatives differently)
    val priors = pin.select(col("label"),
      round(log(col("__nd") / lit(nDocs)) * lit(1e9)).cast("long")
        .as("prior9"),
      round(log(lit(alpha) / (col("__tot") + lit(alpha * vocab))) * lit(1e9))
        .cast("long").as("unseen9"))
    // snapshot the model (it IS the product — vocab×labels sized) so
    // the training blocks don't outlive the call; eager DiskSnapshot
    // (not localCheckpoint) so it keeps lineage and is reaped when the
    // caller releases it. The token-count blocks free NOW — the model
    // is materialized and recomputes through lineage on executor loss.
    val modelOut = DiskSnapshot.diskCachedEager(model)
    DiskSnapshot.release(tc)
    (modelOut, priors)
  }

  /** Score + classify every document against a trained model: for
    * each (doc, label), score9 = prior9 + Σ_seen n·lp9 +
    * (N_d − seen_n)·unseen9, winner by score desc then label asc
    * (deterministic). Output: (idCol, pred_label, score9).
    *
    * Scale shape: per-doc token counts hash-agg once; the model join
    * shuffles on token (model is vocab×labels, AQE-splittable on hot
    * Zipf tokens since counts arrive pre-combined); the per-
    * (doc, label) frame is |docs|·|labels| rows; priors broadcast.
    * The winner pick is a |labels|-row window per doc — bounded fan-
    * out, not a global sort.
    */
  def naiveBayesApply(docs: DataFrame, idCol: String, textCol: String,
                      model: DataFrame, priors: DataFrame): DataFrame = {
    // map-side per-doc token counts (graft_gram_counts at n = 1) —
    // the (doc, token) Exchange is gone; __nd is the plain token count
    // of the row (= the former sum over its token counts). Null-text
    // docs drop via the isNotNull filter exactly as the explode form
    // dropped them.
    val dt = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(GraftExtensions.call("graft_gram_counts",
        TextFunctions.tokens(col(textCol)), lit(1))).as("__gc"))
      .select(col(idCol), col("__gc.g").as("token"), col("__gc.c").as("__n"))
    val dn = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), TextFunctions.tokenCount(col(textCol)).as("__nd"))
    val seen = dt.join(model, Seq("token"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("__n") * col("lp9")).as("__s9"),
        sum(col("__n")).as("__sn"))
    // |labels|-row broadcast fan-out (every doc scores every label) —
    // the one legitimate cross join shape: tiny broadcast side
    val scores = dn.crossJoin(broadcast(priors))
      .join(seen, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (col("prior9") + coalesce(col("__s9"), lit(0L)) +
          (col("__nd") - coalesce(col("__sn"), lit(0L))) * col("unseen9"))
          .as("score9"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score9").desc, col("label").asc)
    scores.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col(idCol), col("label").as("pred_label"), col("score9"))
  }

  /** Train-on-self + classify composition (the gate shape; production
    * trains on a labeled slice and applies to the rest via the two
    * pieces directly). */
  def naiveBayesClassify(df: DataFrame, idCol: String, textCol: String,
                         labelCol: String, alpha: Double = 1.0): DataFrame = {
    val (model, priors) = trainNaiveBayes(df, textCol, labelCol, alpha)
    naiveBayesApply(df, idCol, textCol, model, priors)
  }

  // ---- Hashing TF-IDF featurizer ----------------------------------

  /** Hashing-trick TF-IDF featurizer — the text → vector bridge that
    * feeds the clustering/ANN/SemDeDup stack from raw text without a
    * vocabulary table: token → bucket = hash mod `dim`, component =
    * tf · idf with idf = ln((N+1)/(df_b+1)) + 1 (smoothed; df_b
    * counts DOCS containing the bucket). Returns (idCol, `vecCol`:
    * array<double> of length dim).
    *
    * Scale shape: explode → (doc, bucket) hash-agg (map-side
    * combined; bucket df is a second dim-bounded agg) → idf joins
    * back as a dim-row BROADCAST → per-doc dense assembly via a
    * collect_list bounded by dim. No corpus-sized shuffle beyond the
    * one (doc, bucket) agg; the vocabulary never materializes
    * anywhere (the point of the hashing trick at 100 TB).
    */
  def hashingTfIdf(df: DataFrame, idCol: String, textCol: String,
                   dim: Int, vecCol: String = "tfidf"): DataFrame =
    hashingTfIdfBy(df, idCol, textCol, dim, vecCol, "graft_xx_bucket_entries")

  /** [[hashingTfIdf]]'s DuckDB-replayable gate twin: buckets from the
    * md5 prefix (('0x' || substr(md5(t),1,8)) mod dim) instead of
    * xxhash64, fingerprint output — (idCol, nnz, v_fp) with v_fp an
    * md5 over "bucket:nano-fixed-weight" pairs in bucket order.
    * Identical algebra; CorpusSpec pins the two kernels' shared
    * geometry on a planted corpus.
    */
  def hashingTfIdfMd5(df: DataFrame, idCol: String, textCol: String,
                      dim: Int): DataFrame = {
    val sparse = hashingTfIdfSparseBy(df, idCol, textCol, dim,
      "graft_md5_bucket_entries")
    sparse.groupBy(col(idCol))
      .agg(count(lit(1)).as("nnz"),
        md5(concat_ws("|", sort_array(collect_list(
          concat(col("__b").cast("string"), lit(":"),
            round(col("__w") * lit(1e9)).cast("long").cast("string")))))
          .cast("binary")).as("v_fp"))
  }

  private def hashingTfIdfBy(df: DataFrame, idCol: String, textCol: String,
                             dim: Int, vecCol: String,
                             countsKernel: String): DataFrame = {
    val sparse = hashingTfIdfSparseBy(df, idCol, textCol, dim, countsKernel)
    // dense assembly: dim-bounded entry list → map → positional array
    sparse.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__b").cast("int"),
        col("__w")))).as("__m"))
      .select(col(idCol), transform(sequence(lit(0), lit(dim - 1)),
        b => coalesce(col("__m")(b), lit(0.0))).as(vecCol))
  }

  private def hashingTfIdfSparseBy(df: DataFrame, idCol: String,
                                   textCol: String, dim: Int,
                                   countsKernel: String): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val nDocs = df.count().toDouble
    // the (doc, bucket, tf) table is now MAP-SIDE: one SPARSE
    // bucket-entries kernel per row (non-zero cells only — the dense
    // form fanned dim rows per doc through posexplode, 4× the kept
    // rows at dim=256 over ~60-token docs) — the former explode →
    // groupBy(doc, bucket) Exchange is gone outright (guide §2.4: a
    // per-doc term-frequency table never needed a shuffle).
    // tb still feeds BOTH the idf aggregate and the weight join —
    // snapshotted so the corpus tokenizes+hashes once (the
    // bigramKnScore lesson); lineage-preserving + self-cleaning
    val tb = DiskSnapshot.diskCached(graft.Tables.spreadDf(df)
      .select(col(idCol),
        explode(GraftExtensions.call(countsKernel,
          TextFunctions.tokens(col(textCol)), lit(dim))).as("__e"))
      .select(col(idCol), col("__e.b").cast("long").as("__b"),
        col("__e.c").as("__tf")))
    val idf = tb.groupBy(col("__b"))
      .agg(count(lit(1)).as("__df"))
      .select(col("__b"),
        (log((lit(nDocs) + 1.0) / (col("__df") + 1.0)) + 1.0).as("__idf"))
    // lazy: one join over the tb snapshot per consumer — the weight
    // table (token-bucket-sized, bigger than #docs) is never eagerly
    // duplicated
    tb.join(broadcast(idf), Seq("__b"))
      .select(col(idCol), col("__b"), (col("__tf") * col("__idf")).as("__w"))
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions

/** Text-analysis column builders for the training-data pipeline ops
  * (builder prompt: language-ID, quality scoring, token counting,
  * fingerprinting, shingling). Everything here is pure
  * `org.apache.spark.sql.functions` composition — codegen'd, no UDFs —
  * so the expressions stay inside whole-stage codegen at 100 TB.
  */
object TextFunctions {

  /** Whitespace tokenization. */
  // CONTRACT: tokenization splits on the literal single space — the
  // corpus convention the synthetic tables follow AND the exact form
  // every DuckDB oracle replays (string_split(text, ' ')). A
  // general-whitespace split (\s+) would be more forgiving on real
  // corpora but must change HERE and in EVERY oracle in lockstep, or
  // the driver hash-compare breaks; normalize whitespace upstream
  // instead when ingesting multi-line documents.
  def tokens(text: Column): Column = split(text, " ")

  /** Token count (long, matches DuckDB len()). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-style pre-tokenization (the GPT-2 pretokenizer shape,
    * simplified to the RE2 ∩ Java-regex subset — no lookahead):
    * contractions, letter runs, digit runs, punctuation runs. This is
    * the unit a byte-pair encoder would merge within; counting these
    * tracks real tokenizer budgets far better than whitespace words
    * on punctuated text.
    */
  val BpeTokenPattern: String =
    "'(s|t|re|ve|m|ll|d)|[\\p{L}]+|[0-9]+|[^\\p{L}0-9\\s']+"

  /** All BPE-style pre-tokens in order. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeTokenPattern), lit(0))

  /** BPE-style pre-token count. */
  def bpeTokenCount(text: Column): Column =
    size(bpeTokens(text)).cast("long")

  /** Average word length assuming single-space separation. */
  def avgWordLen(text: Column): Column = {
    val n = size(tokens(text)).cast("double")
    (length(text).cast("double") - (n - lit(1.0))) / n
  }

  /** Default stopword list for quality scoring (vocabulary-neutral). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stop: Seq[String] = Stopwords): Column = {
    val toks = tokens(text)
    val nStop = size(filter(toks, t => t.isin(stop: _*)))
    nStop.cast("double") / size(toks).cast("double")
  }

  /** Composite quality score in [0,1]: penalize extreme doc lengths and
    * stopword-free (unnatural) text. Deterministic, codegen-friendly.
    */
  def qualityScore(text: Column): Column = {
    val n = size(tokens(text)).cast("double")
    val lenScore = least(n / lit(32.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * lit(8.0), lit(1.0))
    round(lenScore * lit(0.5) + stopScore * lit(0.5), 6)
  }

  /** Distinct-token fraction — the repetition signal quality filters
    * cut on (boilerplate and degenerate generations repeat tokens;
    * natural prose doesn't). 1.0 = no repetition.
    */
  def distinctTokenRatio(text: Column): Column = {
    val toks = tokens(text)
    size(array_distinct(toks)).cast("double") / size(toks).cast("double")
  }

  /** Quality gate: the C4/Gopher-style rule stack as one boolean
    * column — token-count bounds, mean-word-length bounds, stopword
    * floor, repetition ceiling. Every term is a codegen'd builtin;
    * thresholds are the published common defaults.
    */
  def passesQualityFilter(text: Column,
                          minTokens: Int = 8, maxTokens: Int = 100000,
                          minAvgWordLen: Double = 2.0, maxAvgWordLen: Double = 12.0,
                          minStopwordRatio: Double = 0.01,
                          minDistinctRatio: Double = 0.3): Column = {
    val n = tokenCount(text)
    n >= minTokens && n <= maxTokens &&
      avgWordLen(text) >= minAvgWordLen && avgWordLen(text) <= maxAvgWordLen &&
      stopwordRatio(text) >= minStopwordRatio &&
      distinctTokenRatio(text) >= minDistinctRatio
  }

  /** Feature-hashing text embedding (the "hashing trick" — public
    * method, Weinberger et al. 2009): token hash picks a bucket, a
    * second hash bit picks the sign, counts L2-normalize. Entirely
    * builtin column ops (no UDF, no model): the deterministic text →
    * vector bridge that lets the ANN/dedup vector operators run on
    * text corpora without an external embedding model.
    *
    * NOTE this scalar-expression form does O(dim·tokens) array work
    * PER EVALUATION — fine for a handful of rows, and recomputed
    * wherever the plan references it. For corpora use
    * [[hashEmbeddings]], the linear aggregation form.
    */
  def hashEmbedding(text: Column, dim: Int = 64): Column = {
    val toks = tokens(text)
    val buckets = transform(toks, t => pmod(xxhash64(t), lit(dim.toLong)))
    val signs = transform(toks, t =>
      when(pmod(xxhash64(t, lit(1)), lit(2L)) === 0L, lit(1.0f)).otherwise(lit(-1.0f)))
    // raw(i) = Σ_j sign(j)·[bucket(j) = i]
    val raw = transform(sequence(lit(0), lit(dim - 1)), i =>
      aggregate(zip_with(buckets, signs,
        (b, sg) => when(b === i.cast("long"), sg).otherwise(lit(0.0f))),
        lit(0.0f), (acc, v) => acc + v))
    // sqrt promotes to double — cast back so the output is
    // array<float>, matching the embeddings-table convention
    val norm = sqrt(aggregate(raw, lit(0.0f), (acc, v) => acc + v * v)).cast("float")
    when(norm > 0, transform(raw, v => v / norm))
      .otherwise(raw)
      .cast("array<float>") // float division promotes; pin the output type
  }

  /** Corpus-scale feature-hash embeddings: same math as
    * [[hashEmbedding]], computed by explode → per-(doc, bucket) sign
    * sums → one dense array per doc — two hash-agg shuffles, work
    * LINEAR in total tokens (the scalar form pays O(dim·tokens) array
    * churn per row and recomputes wherever referenced). Output:
    * (idCol, embedding array<float>, unit-norm).
    */
  def hashEmbeddings(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, dim: Int = 64): org.apache.spark.sql.DataFrame = {
    // ONE map-side codegen kernel per row (plans/Md5Kernels.scala):
    // the xxhash64 signed bucket sums, bit-identical to the former
    // explode → two-hash-agg chain (Md5KernelsSpec pins the equality;
    // the ±1 sums and their squares are exact integers in doubles, so
    // the norm and the float divisions reproduce bit-for-bit) — both
    // per-document Exchanges removed outright (guide §2.4). The norm
    // is an O(dim) fold over the kernel's OWN sums attribute (bound
    // once per row via the single-element-transform idiom, so the
    // divide lambda reads an attribute, not a re-inlined reduction).
    val sums = graft.Tables.spreadDf(df).select(col(idCol),
        GraftExtensions.call("graft_xx_sign_sums",
          tokens(col(textCol)), lit(dim)).as("__sums"))
      .filter(col("__sums").isNotNull)
      .select(col(idCol), col("__sums"),
        sqrt(aggregate(col("__sums"), lit(0.0), (a, v) => a + v * v))
          .cast("float").as("__n"))
    val raw = transform(col("__sums"), v => v.cast("float"))
    sums.select(col(idCol),
      when(col("__n") > 0, transform(raw, v => v / col("__n"))).otherwise(raw)
        .cast("array<float>").as("embedding"))
  }

  /** DuckDB-replayable gate twin of [[hashEmbeddings]]: bucket =
    * md5(token)'s first 8 hex chars mod dim, sign = parity of hex
    * char 9 — and the output is deliberately UNNORMALIZED: cosine is
    * scale-invariant, so skipping the float32 norm keeps every
    * element an exact small integer (sign-sums, magnitude ≤ tokens
    * per doc « 2²⁴ — float-exact), which makes the downstream
    * dot/norm/cosine arithmetic bit-identical between Spark's
    * sequential double fold and a SQL engine's list fold. Same
    * two-hash-agg linear plan as production; production callers keep
    * [[hashEmbeddings]]' xxhash64 buckets + unit-norm convention.
    */
  def hashEmbeddingsMd5(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, dim: Int = 64): org.apache.spark.sql.DataFrame = {
    // ONE map-side codegen kernel per row (plans/Md5Kernels.scala):
    // the signed bucket sums over each token's md5 base/parity,
    // bit-identical to the former explode → two-hash-agg chain
    // (Md5KernelsSpec pins the equality) — both per-document
    // Exchanges removed outright (guide §2.4: the sum only ever
    // needed the row's own tokens). Null text → null sums → filtered
    // (the exploded form emitted no row there).
    graft.Tables.spreadDf(df).select(col(idCol),
        GraftExtensions.call("graft_md5_sign_sums",
          tokens(col(textCol)), lit(dim)).as("__sums"))
      .filter(col("__sums").isNotNull)
      .select(col(idCol), col("__sums").cast("array<float>").as("embedding"))
  }

  /** Document fingerprint: md5 of the case/whitespace-normalized text.
    * (Reference has no text ops; this is the pipeline-op analog of its
    * UUID column binding — a stable content identity.)
    */
  def fingerprint(text: Column): Column =
    md5(trim(lower(text)).cast("binary"))

  /** Distinct word n-gram shingles, e.g. n=3: "a b c" "b c d" ….
    * Returns array<string>; empty when the doc has < n tokens.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    // NB sequence(0, -1) yields a DESCENDING [0,-1], not empty — guard
    // the <n-token case explicitly.
    val grams = array_distinct(transform(sequence(lit(0), size(toks) - lit(n)),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    when(size(toks) >= n, grams).otherwise(array().cast("array<string>"))
  }

  /** ALL word n-grams in document order (non-distinct — the
    * frequency-carrying form [[shingles]] deliberately isn't: dedup
    * needs set semantics, corpus statistics need multiplicity).
    */
  def ngrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Consecutive fixed-width token chunks — the "line" analog for
    * single-line corpora (C4's across-document line dedup needs a
    * sub-document unit; a fixed token window is the deterministic
    * choice when documents carry no newlines). Last chunk may be
    * short. Empty/short docs yield one chunk.
    */
  def tokenChunks(text: Column, width: Int): Column = {
    val toks = tokens(text)
    val nChunks = ceil(size(toks).cast("double") / lit(width.toDouble)).cast("int")
    // sequence(0, -1) is DESCENDING, not empty — guard the degenerate case
    when(nChunks >= lit(1),
      transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * width + 1, lit(width)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Canonical text normalization (the pre-dedup/pre-hash cleanup
    * stage): lowercase, non-alphanumerics → space, whitespace
    * collapsed, trimmed. Patterns are shared RE2/Java-regex subset so
    * the DuckDB oracle replays them verbatim.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** One-pass native form of [[normalizeText]] (codegen'd byte loop —
    * one scan and one buffer instead of three regex passes and two
    * intermediates; CorpusSpec asserts byte equality on random input).
    */
  def normalizeTextNative(text: Column): Column =
    GraftExtensions.call("graft_normalize", text)

  /** PII patterns (shared RE2/Java-regex subset — no lookaround, no
    * backrefs — so Spark and the DuckDB oracle match identically).
    * Order of redaction matters: URLs first (emails never contain
    * "://" but URLs may embed '@'), then emails, then bare IPv4s.
    */
  val UrlPattern = "https?://[^ ]+"
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Pattern = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Count of regex matches in the text (0 when none). */
  def countMatches(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** PII-redacted text: URLs → <URL>, emails → <EMAIL>, IPv4 → <IP>. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      Ipv4Pattern, "<IP>")

  /** Long hash per shingle (hash each string exactly ONCE). */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, s => xxhash64(s))

  /** k MinHash signature values from pre-hashed shingles: permutation i
    * re-mixes the 64-bit shingle hash with `xxhash64(i, h)` — native
    * long→long hashing, so the whole signature is k·|shingles| integer
    * hash rounds with no per-permutation STRING hashing (strings are
    * hashed once by [[shingleHashes]]). Map-side only, ANSI-safe (no
    * overflowing arithmetic). Map-side only.
    */
  def minhashFromHashes(hashArr: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(hashArr, h => xxhash64(lit(i), h)))
    }: _*)

  /** k MinHash signature values over a shingle set (convenience). */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    minhashFromHashes(shingleHashes(shingleArr), k)

  /** LSH band hashes from a minhash signature: bands of `rowsPerBand`
    * values hashed together. A pair agreeing on any band is a candidate.
    */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",",
        concat(lit("b"), b.cast("string")),
        concat_ws(",", slice(signature, b * rowsPerBand + 1, lit(rowsPerBand))))))

  /** 64-bit SimHash over whitespace tokens: per bit, sign of the sum of
    * (token-hash bit ? +1 : -1) across tokens. Returned as long.
    */
  def simhash64(text: Column): Column = {
    val hashes = transform(tokens(text), t => xxhash64(t))
    val bits = (0 until 64).map { b =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce((a, x) => a.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Marker stopwords per language for the n-gram/stopword language-ID
    * heuristic (public-knowledge marker lists).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "is"),
    "es" -> Seq("el", "la", "de", "que", "los", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une"),
    "it" -> Seq("il", "di", "che", "la", "per", "una"))

  /** Heuristic language ID: argmax of marker-word hit counts; "und"
    * (undetermined) when no marker appears. Deterministic.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = LangMarkers.map { case (lang, markers) =>
      struct(size(filter(toks, t => t.isin(markers: _*))).as("hits"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Shannon entropy (nats) of the text's code-point distribution —
    * the gibberish/templating detector (near 0 for repeated filler).
    * Codegen'd one-pass kernel.
    */
  def charEntropy(text: Column): Column =
    GraftExtensions.call("graft_char_entropy", text)

  /** DEFLATE compression ratio compressed/raw of the UTF-8 text
    * (raw deflate at `level`): low ratio ⇒ repetitive/boilerplate,
    * near-1 (or above, short inputs) ⇒ high-entropy text. Map-side
    * codegen'd kernel; empty text → null ratio (0/0).
    */
  def compressionRatio(text: Column, level: Int = 6): Column = {
    require(level >= 0 && level <= 9, s"deflate level must be 0..9, got $level")
    val raw = octet_length(text).cast("double")
    val packed = GraftExtensions.call("graft_deflate_len", text, lit(level)).cast("double")
    when(raw > 0, packed / raw)
  }

  /** Gopher repetition signals (arXiv:2112.11446 table A1) as an
    * array<long>[11] — [1]=total token chars, [2..4]=top-{2,3,4}-gram
    * chars (occurrences × gram chars of the most frequent n-gram),
    * [5..10]=dup-{5..10}-gram covered chars (position-union, no
    * double counting), [11]=token count (1-based `element_at`
    * indices). One codegen'd pass per row; integer outputs so the
    * signals hash-compare across engines — the filter fractions are
    * signal/total.
    */
  def repetitionSignals(text: Column): Column =
    GraftExtensions.call("graft_rep_signals", text)

  /** The Gopher repetition FILTER (arXiv:2112.11446 table A1 row set
    * "repetition"): keep a document iff every within-doc n-gram
    * repetition fraction sits under its published threshold —
    * top-{2,3,4}-gram char fraction ≤ {0.20, 0.18, 0.16} and
    * dup-{5..10}-gram char fraction ≤ {0.15, 0.14, 0.13, 0.12, 0.11,
    * 0.10}. (The paper's duplicate line/paragraph rows need document
    * structure this corpus model does not carry — text is a single
    * line — so they are out of scope here.) Zero-char documents pass
    * vacuously (no repetition evidence).
    */
  def passesGopherRepetitionFilter(text: Column): Column = {
    val s = repetitionSignals(text)
    val total = element_at(s, 1).cast("double")
    val topThr = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
    val dupThr = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
      9 -> 0.11, 10 -> 0.10)
    val checks = (topThr ++ dupThr).map { case (n, thr) =>
      element_at(s, n).cast("double") <= lit(thr) * total
    }
    checks.reduce(_ && _) || total === 0.0
  }
}

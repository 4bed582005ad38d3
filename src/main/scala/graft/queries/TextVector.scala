package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DiskSnapshot
import graft.Tables
import graft.io.FsUtil
import graft.functions.TextFunctions
import graft.functions.VectorFunctions
import graft.operators.{Clustering, CompressedAnn, Dedup, HashFamily, Multimodal, Pq, Similarity}
import graft.plans.GraftExtensions

/** Training-data pipeline operators (builder prompt §beyond-reference):
  * text analysis, dedup, similarity search, multimodal plumbing — each
  * over the driver's `documents` / `embeddings` tables. Queries whose
  * hash functions DuckDB can't replicate (xxhash64-based MinHash /
  * SimHash / LSH) ship without oracle SQL → rows-only check + ScalaTest
  * cross-validation against the exact-Jaccard operator.
  */
object TextVector {

  // plain load, NOT Tables.spread: this pack's kernels either spread
  // internally where the map stage dominates (compressed ANN) or are
  // shuffle/broadcast-bound (semantic dedup, simhash banding), where
  // an input repartition measurably LOSES (q101 family +0.3-1.5 s,
  // q27 +0.8 s at sf0.1) — the Corpus pack's tokenize-heavy LM
  // builders are where the spread wins
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** q151/q154 shared image-dedup corpus: each non-null-text doc's
    * grayscale PNG (the q148 pixel rule) plus a 'z'-swapped near-dup
    * twin at doc_id + 1000000, hashed with the 8×8 exact aHash —
    * one builder so the two gates cannot drift onto different
    * corpora. Returns the slim (doc_id, phash) frame.
    */
  private def phashSigs(s: SparkSession, dir: String): DataFrame = {
    val n = length(col("text").cast("binary"))
    val base = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("hex"),
        (lit(4) + n % 13).cast("int").as("w"),
        (lit(4) + floor(n / lit(13)) % 11).cast("int").as("h"))
    val twin = base
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .withColumn("hex", concat(lit("z"), substring(col("hex"), 2, 31)))
    val media = graft.operators.Multimodal.synthesizeGrayPng(
      base.unionByName(twin), "hex", "w", "h")
    graft.operators.Multimodal.perceptualHash(media, "payload",
      gridW = 8, gridH = 8)
      .select(col("doc_id"), col("phash"))
  }

  /** IVF index for a data dir — the offline-build / online-probe split
    * (an ANN index is a persistent artifact, not a per-query
    * computation). The build is written to DISK (cells
    * `partitionBy(cell)` + centroid sidecar) and reopened COLD: probes
    * measured against it pay the real recurring cost — a
    * partition-pruned parquet scan — not reads from an in-memory cache.
    * Built once per session ([[graft.Session.Cache]]); index
    * directories are registered for JVM-exit cleanup, so repeated
    * sessions don't accrete /tmp artifacts.
    */
  private val ivfCache = new graft.Session.Cache[Similarity.IvfIndex]
  def ivfIndexFor(s: SparkSession, dir: String): Similarity.IvfIndex =
    ivfCache(s, dir) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-")
      FsUtil.deleteOnExit(tmp)
      val built = Similarity.buildIvfIndex(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.writeIvfIndex(built, tmp.toString)
      built.unpersist() // drop the build-time cache; probes read from disk
      Similarity.openIvfIndex(s, tmp.toString)
    }

  /** Compressed-ANN index per (session, dir) — same offline-build /
    * online-probe split as [[ivfIndexFor]]: the q119p gate prices the
    * recurring cost (cold partition-pruned probe of the int8 cells),
    * with the projection+fit+encode build running once per session.
    */
  private val cannCache = new graft.Session.Cache[CompressedAnn.Index]
  def compressedAnnIndexFor(s: SparkSession, dir: String): CompressedAnn.Index =
    cannCache(s, dir) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-cann-")
      FsUtil.deleteOnExit(tmp)
      val built = CompressedAnn.build(
        t(s, dir, "embeddings"), "vec_id", "embedding", nlist = 32, outDim = 16)
      CompressedAnn.write(built, tmp.toString)
      built.unpersist()
      CompressedAnn.open(s, tmp.toString)
    }

  /** PQ codebook + encoded corpus per (session, dir) — same offline-
    * build / online-probe split as the IVF index: training and
    * encoding are one-time artifact builds, the recurring cost is the
    * ADC scan. Cached like [[ivfCache]].
    */
  private val pqCache = new graft.Session.Cache[(Pq.PqCodebook, DataFrame)]
  def pqIndexFor(s: SparkSession, dir: String): (Pq.PqCodebook, DataFrame) =
    pqCache(s, dir) {
      val e = t(s, dir, "embeddings")
      val cb = Pq.train(e, "vec_id", "embedding", m = 8, ksub = 16, iters = 4)
      (cb, DiskSnapshot.diskCachedEager(Pq.encode(e, "embedding", cb)))
    }

  /** Persisted dedup-snapshot signatures per (session, dir, family) —
    * the incremental daily-delta artifact ([[graft.operators.Dedup
    * .minhashSignatures]] in the given hash family, written to parquet and
    * reopened COLD, like the ANN indexes above): q146 dedups a delta
    * slice against yesterday's corpus represented ONLY by this (doc,
    * sig) table — the snapshot's text is never re-read, which is the
    * entire point of the pattern at 100 TB. Snapshot slice =
    * doc_id % 2 = 0; the q146 delta (doc_id % 3 = 0) overlaps it at
    * doc_id % 6 = 0 (exact dups, est 1.0 → dropped), shares the
    * corpus's natural near-dups across the slices, and carries fresh
    * rows that must survive. Cached like [[ivfCache]].
    */
  private val snapCache = new graft.Session.Cache[DataFrame]
  def dedupSnapshotFor(s: SparkSession, dir: String, family: HashFamily): DataFrame =
    snapCache(s, s"$dir#$family") {
      val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-snap-")
      FsUtil.deleteOnExit(tmp)
      val snapDocs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val sigs = Dedup.minhashSignatures(snapDocs, "doc_id", "text",
        shingleN = 3, k = 32, family = family)
      val out = tmp.resolve("sigs.parquet").toString
      sigs.write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  /** q147's staged streaming input files, one copy per (session, dir)
    * — see the gate's comment. */
  private val stagedIngestInputs = new graft.Session.Cache[String]

  // Gate/production twins. Each builder below is written once and
  // registered twice in `queries`: the gate name with HashFamily.Md5
  // (SQL-replayable, oracled) and the `*p_*_prod` name with
  // HashFamily.Xx (the production kernel, rows-only), so a production
  // twin runs exactly its gate's slices, parameters and projection.
  // TwinSpec pins each pair's relation.
  private type Build = (SparkSession, String) => DataFrame

  // MinHash+LSH candidate pairs. The md5 kernel is hash-exact in
  // DuckDB (per-shingle md5 salted by component index, lexicographic
  // min, banded bucket join); DedupSpec asserts both families recover
  // the same pair set.
  private def minhashPairs(family: HashFamily): Build = (s, dir) =>
    Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, k = 32, bands = 8, minEstimate = 0.5, family = family)

  // LSH-bucketed ANN. The gate runs the md5-plane kernel with 6 static
  // planes — small enough that the Hamming-2 probe ring is complete,
  // so the probe set is exactly "all buckets within Hamming distance
  // 2" and the oracle states it directly as bit_count(xor(sig_q,
  // sig_c)) <= 2 over replayed signatures, then re-ranks by exact
  // cosine. Production passes nPlanes = 0: autoPlanes + budgeted ring.
  private def lshAnn(family: HashFamily, nPlanes: Int): Build = (s, dir) => {
    val e = t(s, dir, "embeddings")
    Similarity.lshTopK(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5, nPlanes = nPlanes, family = family)
  }

  // LSH-bucketed cosine near-dup (the linear-shuffle scale path). The
  // gate's oracle rebuilds every bucket bit from md5-derived hyperplane
  // weights at a static plane count, replays the bucket self-join, then
  // applies the exact cosine filter; production passes nPlanes = 0
  // (autoPlanes), cross-checked against the exact pairs in TwinSpec.
  private def lshNearDup(family: HashFamily, nPlanes: Int): Build = (s, dir) =>
    Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id",
      "embedding", threshold = 0.3, nPlanes = nPlanes, family = family)

  // SUBSTRING-level exact dedup (arXiv:2107.06499 shape): every
  // 8-token window occurring >= 2 times in the corpus marks its
  // position; marked windows merge per doc into maximal
  // [span_start, span_end) spans. md5 window hashes let the oracle
  // replay the marked set verbatim.
  private def spanDedup(family: HashFamily): Build = (s, dir) =>
    Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
      windowTokens = 8, family = family)

  // The output filters of the three rewrites below reference the
  // rewrite's OUTPUT, so a count() cannot let Catalyst eliminate the
  // unique-key left join and price the query as a bare scan (verify
  // writes the frame anyway; this pins the same honest cost under count).

  // LINE-level dedup (C4/CCNet boilerplate removal): the fixture
  // corpus is single-line, so linedDocs synthesizes multi-line docs
  // deterministically (8-token lines + a shared boilerplate banner on
  // every third doc — the op's actual target shape) and every
  // non-canonical repeated line is stripped.
  private def lineDedup(family: HashFamily): Build = (s, dir) =>
    Dedup.removeDuplicatedLines(linedDocs(t(s, dir, "documents")),
        "doc_id", "text", family = family)
      .filter(length(col("clean_text")) >= 0)

  // span REMOVAL: rewrite docs with duplicated windows cut, keeping the
  // first global occurrence (canonical = min (doc,pos) per hash);
  // token-granular with a canonical-cover carve-out so self-overlapping
  // runs keep one full copy.
  private def spanRemoval(family: HashFamily): Build = (s, dir) =>
    Dedup.removeDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 8, family = family)
      .filter(length(col("clean_text")) >= 0)

  // span-level benchmark decontamination: every 8-token window of the
  // "benchmark" (docs with doc_id % 50 = 0 — stands in for a held-out
  // eval set, and plants real leaked content since those docs are in
  // the corpus) cuts covered tokens from every doc.
  private def spanDecontam(family: HashFamily): Build = (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.removeContaminatedSpans(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 50 === 0), "text", windowTokens = 8,
        family = family)
      .filter(length(col("clean_text")) >= 0)
  }

  // end-to-end near-dup removal: LSH candidates -> connected components
  // -> keep min id per cluster. The oracle replays the q26 pair CTE,
  // then resolves components with a recursive transitive-closure CTE —
  // a doc is dropped iff it reaches a smaller id. bands = 8 is also
  // lshParams(32, 0.5)'s pick.
  private def dedupPipeline(family: HashFamily): Build = (s, dir) =>
    Dedup.dropNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
      bands = 8, minEstimate = 0.5, family = family)
      .select(col("doc_id"), col("n_chars"))

  // incremental daily-delta dedup: the delta slice (doc_id % 3 = 0)
  // dedups against the PERSISTED snapshot-signature artifact of the
  // corpus slice doc_id % 2 = 0 in the same family (built once per
  // session, written to parquet, reopened cold — dedupSnapshotFor).
  // Exact overlaps (doc_id % 6 = 0) and cross-slice near-dups drop;
  // fresh rows survive. The oracle replays the signature CTEs for BOTH
  // slices, bands both, verifies, anti-joins.
  private def incrementalDedup(family: HashFamily): Build = (s, dir) =>
    Dedup.dropSeenBefore(
      t(s, dir, "documents").filter(col("doc_id") % 3 === 0),
      "doc_id", "text", dedupSnapshotFor(s, dir, family),
      shingleN = 3, k = 32, bands = 8, minEstimate = 0.5, family = family)
      .select(col("doc_id"), col("n_chars"))

  // quality-aware dedup: q35's candidate/component pipeline, but each
  // duplicate cluster keeps its argmax-n_chars member (ties -> smallest
  // id) — the keep-best survivor policy (RefinedWeb/FineWeb). The
  // oracle extends q35's recursive closure with a component-label CTE
  // and replays the two-stage winner (max score per label, min id
  // among ties).
  private def dedupKeepBest(family: HashFamily): Build = (s, dir) =>
    Dedup.dropNearDuplicatesBest(t(s, dir, "documents"), "doc_id",
      "text", col("n_chars"), bands = 8, minEstimate = 0.5, family = family)
      .select(col("doc_id"), col("n_chars"))

  // deterministic seeded train/val/test split: hash bucket vs integer
  // thresholds (round(cum * 2^32)), replayed verbatim by the oracle's
  // CASE chain.
  private def hashSplit(family: HashFamily): Build = (s, dir) =>
    graft.operators.Sampling.hashSplit(t(s, dir, "documents"),
      "doc_id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
      family = family)
      .select(col("doc_id"), col("split"))

  // weighted sampling without replacement (Efraimidis–Spirakis A-ES):
  // rank by nano-quantized ln(u)/w with u from hash(id#seed),
  // w = n_chars — the quality-weighted corpus subsampler. Top-100 keys,
  // ties by weight desc then id.
  private def weightedSample(family: HashFamily): Build = (s, dir) =>
    graft.operators.Sampling.weightedSample(t(s, dir, "documents"),
        "doc_id", "n_chars", k = 100, family = family)
      .select(col("doc_id"), col("key9"))

  // deterministic 5-doc-per-source uniform sample (eval panels): keep
  // the 5 smallest hash(id#seed) per group via the two-phase salted
  // window (SamplingSpec pins salt-invariance + determinism).
  private def samplePerGroup(family: HashFamily): Build = (s, dir) =>
    graft.operators.Sampling.sampleNPerGroup(t(s, dir, "documents"),
        "doc_id", Seq("source"), 5, family = family)
      .select(col("doc_id"), col("source"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // token counting (whitespace tokenizer, codegen'd).
    "q20_token_count" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
    }),

    // quality scoring: length/stopword ratios.
    "q21_text_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_words"),
        round(TextFunctions.avgWordLen(col("text")), 6).as("avg_word_len"),
        round(TextFunctions.stopwordRatio(col("text")), 6).as("stopword_ratio"))
    }),

    // language-ID heuristic (marker stopword argmax; tie → greatest
    // language string, mirrored by the oracle CASE order).
    "q22_lang_id" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("pred_lang"))
    }),

    // document fingerprint (normalized md5).
    "q23_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
    }),

    // exact dedup on a canonical key (first 10 tokens): hash-groupBy.
    "q24_dedup_exact" -> ((s, dir) => {
      val key = concat_ws(" ", slice(split(col("text"), " "), 1, 10))
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", key)
        .select(col("keep_id"), col("n_copies"))
    }),

    // n-gram Jaccard near-dup pairs (exact), threshold 0.8.
    "q25_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.8)
    }),

    "q26_minhash_pairs" -> minhashPairs(HashFamily.Md5),
    "q26p_minhash_prod" -> minhashPairs(HashFamily.Xx),

    // SimHash near-dup pairs. GATE = md5-bit signature with
    // maxHamming+1 disjoint bands — exact by pigeonhole, so the
    // oracle is a brute-force O(n²) self-join over the replayed
    // signatures.
    "q27_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairsMd5(t(s, dir, "documents"), "doc_id", "text", maxHamming = 6)
    }),

    // embedding L2 norm — native fused kernel (graft_l2norm), same
    // sequential accumulation as the HOF form (oracle-identical).
    "q28_embed_norm" -> ((s, dir) => {
      t(s, dir, "embeddings").select(col("vec_id"),
        round(GraftExtensions.call("graft_l2norm", col("embedding")), 6).as("l2_norm"))
    }),

    // symmetric per-vector int8 quantization (FAISS-SQ8 shape): the
    // 4x storage cut for 100 TB embedding corpora. Pure double
    // arithmetic end to end (explicit half-up floor(x/scale + 0.5),
    // never a library round) — ONE kernel serves production and the
    // oracle, no md5 gate twin. The code array itself is digested to
    // an md5 scalar (like q110/q120) so the gate output stays
    // harness-sortable; q107p below keeps the raw array.
    "q107_embed_int8" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .withColumn("scale", VectorFunctions.int8Scale(col("embedding")))
        .withColumn("qvec",
          VectorFunctions.int8Quantize(col("embedding"), col("scale")))
        .select(col("vec_id"), col("scale"),
          md5(concat_ws("|", transform(col("qvec"), _.cast("string")))
            .cast("binary")).as("qvec_fp"),
          round(VectorFunctions.int8ReconMse(
            col("embedding"), col("qvec"), col("scale")), 6).as("recon_mse"))
    }),

    // production int8 codec path: same kernel chain a dataloader
    // consumes (int8Scale + int8Quantize), but the emitted code array
    // is digested to an md5 scalar at the query surface — a rows-only
    // gate still has to be pandas-sortable (raw arrays crash the
    // harness comparator; round-10/12 lesson). The math is oracled
    // via q107's digest; SimilaritySpec pins digest(prod) == q107's.
    "q107p_embed_int8_prod" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .withColumn("scale", VectorFunctions.int8Scale(col("embedding")))
        .withColumn("qvec",
          VectorFunctions.int8Quantize(col("embedding"), col("scale")))
        .select(col("vec_id"), col("scale"),
          md5(concat_ws("|", transform(col("qvec"), _.cast("string")))
            .cast("binary")).as("qvec_fp"))
    }),

    // JL random projection 64 → 8 dims. GATE = the exact-integer md5
    // twin (array<long> components — no float anywhere), digested to
    // an md5 scalar for harness sortability; production keeps
    // VectorFunctions.randomProject (spec pins cosine preservation
    // and the two kernels' shared geometry).
    "q114_random_projection" -> ((s, dir) => {
      t(s, dir, "embeddings").select(col("vec_id"),
        md5(concat_ws("|",
          transform(VectorFunctions.randomProjectMd5Q(col("embedding"), 8, 64),
            _.cast("string"))).cast("binary")).as("proj_fp"))
    }),

    // production JL projection (the float kernel the compressed-ANN
    // path consumes), with the component array rounded and digested to
    // an md5 scalar so the rows-only gate stays pandas-sortable (raw
    // arrays crash the harness comparator). Geometry is oracled via
    // q114's exact-integer digest twin.
    "q114p_random_projection_prod" -> ((s, dir) => {
      t(s, dir, "embeddings").select(col("vec_id"),
        md5(concat_ws("|",
          transform(VectorFunctions.randomProject(col("embedding"), 8, 64),
            x => round(x, 6).cast("string"))).cast("binary")).as("proj_fp"))
    }),

    // brute-force cosine top-5 for query vectors vec_id < 10.
    "q29_ann_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),

    "q30_ann_lsh" -> lshAnn(HashFamily.Md5, nPlanes = 6),
    "q30p_ann_lsh_prod" -> lshAnn(HashFamily.Xx, nPlanes = 0),

    // IVF-Flat ANN. The GATE builds the coarse quantizer with the
    // quantized md5-init Lloyd loop (bit-replayable centroids), probes
    // the 4 nearest cells in quantized space and re-ranks by exact
    // cosine over the original floats — the oracle unrolls the whole
    // build+probe in SQL. Production keeps the float/xxhash64
    // buildIvfIndex + ivfProbe path with its persisted-index artifact
    // (benched as q33's offline build; recall spec unchanged).
    "q33_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Clustering.ivfTopKMd5(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
    }),

    // the composed compressed-ANN recipe's ORACLED gate twin:
    // md5-int JL projection (q114's family) → int8 of the projected
    // components (q107's codec) → two-level md5-Lloyd over the code
    // space → super/child probe → code-cosine candidate ranking →
    // exact rerank on the original floats. The oracle unrolls the
    // whole chain in SQL; production (q119p) keeps CompressedAnn,
    // and SimilaritySpec pins both kernels' recall vs brute force.
    "q119_compressed_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Clustering.compressedAnnTopKMd5(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),

    // exact embedding-cosine near-dup pairs (oracle baseline).
    "q36_cosine_neardup" -> ((s, dir) => {
      Similarity.cosineNearDupPairsExact(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4)
    }),

    "q37_cosine_neardup_lsh" -> lshNearDup(HashFamily.Md5, nPlanes = 6),
    "q37p_neardup_lsh_prod" -> lshNearDup(HashFamily.Xx, nPlanes = 0),

    // SemDeDup-shaped semantic dedup: quantized md5-Lloyd cluster
    // assignment + within-cluster keep-lowest-id cosine pruning.
    // GATE kernel (SQL-replayable end to end); production keeps
    // Similarity.semanticDedup (float kmeans), cross-checked in
    // SimilaritySpec.
    "q101_semantic_dedup" -> ((s, dir) => {
      Clustering.semanticDedupMd5(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3, k = 8, iters = 3)
    }),

    // the TWO-LEVEL quantizer's oracled gate: same SemDeDup semantics
    // as q101 but cluster assignment comes from the hierarchical
    // (super → child) md5-Lloyd — kSuper=6·kChild=6 cells at k=32, so
    // the hierarchy genuinely routes (not a degenerate 1-super case).
    // Production keeps Similarity.semanticDedupLarge (q101Lp gates it
    // rows-only; TwoLevelSpec pins twin == production survivors).
    "q101L_semantic_dedup_large" -> ((s, dir) => {
      Clustering.semanticDedupLargeMd5(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3, k = 32)
    }),

    "q102_span_dedup" -> spanDedup(HashFamily.Md5),
    "q102p_span_dedup_prod" -> spanDedup(HashFamily.Xx),
    "q112_line_dedup" -> lineDedup(HashFamily.Md5),
    "q112p_line_dedup_prod" -> lineDedup(HashFamily.Xx),
    "q103_span_removal" -> spanRemoval(HashFamily.Md5),
    "q103p_span_removal_prod" -> spanRemoval(HashFamily.Xx),
    "q104_span_decontam" -> spanDecontam(HashFamily.Md5),
    "q104p_span_decontam_prod" -> spanDecontam(HashFamily.Xx),

    // per-label embedding centroids (vector aggregation).
    "q31_label_centroids" -> ((s, dir) => {
      Similarity.labelCentroids(t(s, dir, "embeddings"), "label", "embedding")
    }),

    // multimodal plumbing: opaque binary payload + typed metadata
    // (decode itself is stubbed per prompt — see operators/Multimodal).
    "q32_multimodal_meta" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        ceil(length(col("text").cast("binary")) / lit(64.0)).cast("long").as("n_chunks"))
    }),

    "q35_dedup_pipeline" -> dedupPipeline(HashFamily.Md5),
    "q35p_dedup_pipeline_prod" -> dedupPipeline(HashFamily.Xx),
    "q146_incremental_dedup" -> incrementalDedup(HashFamily.Md5),
    "q146p_incremental_dedup_prod" -> incrementalDedup(HashFamily.Xx),
    "q105_dedup_keepbest" -> dedupKeepBest(HashFamily.Md5),
    "q105p_dedup_keepbest_prod" -> dedupKeepBest(HashFamily.Xx),
    "q106_hash_split" -> hashSplit(HashFamily.Md5),
    "q106p_hash_split_prod" -> hashSplit(HashFamily.Xx),
    "q132_weighted_sample" -> weightedSample(HashFamily.Md5),
    "q132p_weighted_sample_prod" -> weightedSample(HashFamily.Xx),
    "q116_sample_per_group" -> samplePerGroup(HashFamily.Md5),
    "q116p_sample_per_group_prod" -> samplePerGroup(HashFamily.Xx),

    // multimodal decode pipeline with a REAL codec: synthesize a
    // deterministic grayscale PNG per doc (pixels = md5-hex ASCII
    // codes cycled), then decode it back with javax.imageio — true
    // width/height/channels/frame-count/pixel-mean from the raster.
    // The oracle replays the pixel rule in SQL; PNG encode->decode is
    // lossless, so the decoded stats must match exactly.
    "q34_multimodal_decode" -> ((s, dir) => {
      val n = length(col("text").cast("binary"))
      // NULL text is excluded on BOTH sides: the oracle's UNNEST join
      // would drop such rows while the decode path would emit them
      // with null features — filter explicitly so the contract is the
      // same whatever the corpus contains
      val base = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("hex"),
          (lit(4) + n % 13).cast("int").as("w"),
          (lit(4) + floor(n / lit(13)) % 11).cast("int").as("h"))
      val media = Multimodal.synthesizeGrayPng(base, "hex", "w", "h")
      Multimodal.decodeFeatures(media, "payload")
        .select(col("doc_id"), col("width"), col("height"),
          col("channels"), col("n_frames"), col("px_mean"))
    }),

    // image RESIZE with a REAL codec: q34's deterministic grayscale
    // PNGs, decoded and downscaled to a fixed 3x3 feature grid by the
    // pixel-area-partition rule (source pixel (r,c) -> output cell
    // (r*3//h, c*3//w), cell = mean of its members — integer-exact
    // sums, so the oracle replays every cell bit-for-bit; Graphics2D
    // interpolation is deliberately NOT used, its output is
    // JDK-variant). Cells ship as nano-fixed-point longs (the q124
    // convention) — one row per (doc, cell).
    "q148_image_resize" -> ((s, dir) => {
      val n = length(col("text").cast("binary"))
      val base = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("hex"),
          (lit(4) + n % 13).cast("int").as("w"),
          (lit(4) + floor(n / lit(13)) % 11).cast("int").as("h"))
      val media = Multimodal.synthesizeGrayPng(base, "hex", "w", "h")
      Multimodal.resizeFeatures(media, "payload", outW = 3, outH = 3)
        .select(col("doc_id"), posexplode(col("thumb")).as(Seq("p", "v")))
        .select(col("doc_id"),
          (col("p") / 3).cast("int").as("ti"),
          (col("p") % 3).cast("int").as("tj"),
          round(col("v") * lit(1e9)).cast("long").as("v9"))
    }),

    // multi-band image RESIZE with a REAL codec: deterministic RGB
    // PNGs (band b at flat pixel i = ascii(hex[(3i+b) % 32])),
    // decoded and downscaled per band by the same pixel-area-
    // partition rule as q148 — thumb interleaves the three color
    // components per cell, so the gate unpacks (cell, band) from the
    // flat index. Integer-exact cell sums per band; the oracle
    // replays every (cell, band) mean bit-for-bit.
    "q150_image_resize_rgb" -> ((s, dir) => {
      val n = length(col("text").cast("binary"))
      val base = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("hex"),
          (lit(4) + n % 13).cast("int").as("w"),
          (lit(4) + floor(n / lit(13)) % 11).cast("int").as("h"))
      val media = Multimodal.synthesizeRgbPng(base, "hex", "w", "h")
      Multimodal.resizeFeatures(media, "payload", outW = 3, outH = 3)
        .select(col("doc_id"), posexplode(col("thumb")).as(Seq("p", "v")))
        .select(col("doc_id"),
          (col("p") / 9).cast("int").as("ti"),
          ((col("p") / 3) % 3).cast("int").as("tj"),
          (col("p") % 3).cast("int").as("band"),
          round(col("v") * lit(1e9)).cast("long").as("v9"))
    }),

    // perceptual-hash image NEAR-DUP dedup with a REAL codec: the
    // corpus is each doc's q148 grayscale PNG plus a perturbed twin
    // (same pixel rule over a hex whose first char is swapped to 'z',
    // ascii 122 > every hex char — pixels 0, 32, 64, … shift by
    // +20..+74, a deterministic near-duplicate). 8x8 integer-exact
    // aHash per image (cellSum·totCnt > totSum·cellCnt, no float),
    // then the pigeonhole-exact banded Hamming join (maxHamming+1
    // disjoint bands) — exact, so the oracle brute-forces the
    // replayed hashes with an O(n²) self-join like q27's.
    "q151_image_phash_dedup" -> ((s, dir) =>
      Dedup.hammingBandPairs(phashSigs(s, dir), "doc_id", "phash",
        maxHamming = 6)),

    // image dedup RESOLVED to survivors: the q151 pair graph closed
    // into connected components (scale-adaptive union-find /
    // large-small-star — the q35 machinery), keeping each component's
    // minimum id — the end state an image-dedup pipeline actually
    // ships. Oracle: the q151 signature replay + a recursive
    // transitive-closure CTE (a doc is dropped iff it reaches a
    // smaller id), like q35's.
    "q154_image_dedup_resolve" -> ((s, dir) => {
      val sigs = org.apache.spark.sql.graftshim.DiskSnapshot.diskCached(
        phashSigs(s, dir))
      val pairs = Dedup.hammingBandPairs(sigs, "doc_id", "phash",
        maxHamming = 6)
      val doomed = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .filter(col("node") =!= col("label"))
        .select(col("node").as("doc_id"))
      sigs.join(doomed, Seq("doc_id"), "left_anti")
    }),

    // TRAINED quality classifier (hashed-BoW logistic regression,
    // full-batch GD): 3 iterations over md5-bucket features predicting
    // lang='en'. Training is run-order-INVARIANT by construction —
    // rational sigmoid (pure IEEE arithmetic, no libm exp) + exact
    // nano-fixed-point long sums for the score and gradient
    // reductions — so the DuckDB oracle unrolls the same 3 iterations
    // and must land on bit-identical weights. Output: (feat, w9),
    // feat -1 = bias.
    "q152_lr_quality_train" -> ((s, dir) => {
      val m = graft.operators.Classifier.trainLogistic(
        t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", dim = 32, iters = 3, rate = 1.0)
      graft.operators.Classifier.modelToDF(s, m)
        .select(col("feat"),
          round(col("weight") * lit(1e9)).cast("long").as("w9"))
    }),

    // the END-TO-END quality-filter pipeline: train the q152 model,
    // score the WHOLE corpus (null-lang docs score too — the label is
    // only a training input), keep docs scoring ABOVE THE CORPUS MEAN
    // — the relative cut a deployed filter uses (an absolute 0.5 is
    // degenerate after 3 from-zero GD steps: every score lands on one
    // side). The mean compare runs in exact integers
    // (score9·n > Σscore9, broadcast stats — no driver collect), so
    // the kept id set replays bit-for-bit like q152.
    "q153_lr_quality_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // trainAndScore builds the expensive feature frame ONCE for
      // both the training loop and the whole-corpus scoring pass;
      // snapshot the scored projection too — it feeds BOTH the stats
      // agg and the filter side of the crossJoin (the q105 pattern)
      val sc = org.apache.spark.sql.graftshim.DiskSnapshot.diskCached(
        graft.operators.Classifier.trainAndScore(
          docs, "doc_id", "text", col("lang") === "en",
          dim = 32, iters = 3, rate = 1.0)
          .select(col("doc_id"),
            round(col("score") * lit(1e9)).cast("long").as("score9")))
      val stats = sc.agg(sum(col("score9")).as("tot"), count(lit(1)).as("nn"))
      sc.crossJoin(broadcast(stats))
        .filter(col("score9") * col("nn") > col("tot"))
        .select(col("doc_id"), col("score9"))
    }),

    // audio perceptual-fingerprint NEAR-DUP dedup with a REAL codec —
    // the q151 pipeline's audio sibling (dedup now spans text, image
    // AND audio): each doc's q149 hex-sample WAV plus the 'z'-swapped
    // twin at doc_id + 1000000, 32-bin exact integer energy
    // fingerprint, pigeonhole-exact banded Hamming join over the low
    // 32 bits — the oracle brute-forces the replayed fingerprints.
    "q155_audio_fingerprint_dedup" -> ((s, dir) => {
      val n = length(col("text").cast("binary"))
      val base = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("hex"),
          (lit(50) + n % 97).cast("int").as("len"))
      val twin = base
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
        .withColumn("hex", concat(lit("z"), substring(col("hex"), 2, 31)))
      val media = Multimodal.synthesizeHexWav(base.unionByName(twin), "hex", "len")
      val fp = Multimodal.audioFingerprint(media, "payload", bins = 32)
      Dedup.hammingBandPairs(fp.select(col("doc_id"), col("afp")),
        "doc_id", "afp", maxHamming = 4, bits = 32)
    }),

    // audio decode pipeline with a REAL codec: synthesize a
    // deterministic mono 16-bit WAV per doc (samples = md5-hex ASCII
    // codes cycled — exact small integers, unlike the sine corpus
    // synth whose libm sin() is not cross-engine-exact), decode it
    // back with javax.sound, and ship the 4-bin temporal RMS envelope
    // plus the mean amplitude as nano-fixed-point longs. Every sum is
    // an exact multiple of 2^-30 (squares) / 2^-15 (amplitudes), so
    // the SQL replay is bit-exact through the float RMS cast.
    "q149_audio_envelope" -> ((s, dir) => {
      val n = length(col("text").cast("binary"))
      val base = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("hex"),
          (lit(50) + n % 97).cast("int").as("len"))
      val media = Multimodal.synthesizeHexWav(base, "hex", "len")
      Multimodal.decodeFeatures(media, "payload",
          new Multimodal.AudioDecoder(featDim = 4))
        .select(col("doc_id"), col("n_frames"),
          round(col("px_mean") * lit(1e9)).cast("long").as("amp9"),
          posexplode(col("feature")).as(Seq("bin", "rms")))
        .select(col("doc_id"), col("n_frames"), col("amp9"), col("bin"),
          round(col("rms").cast("double") * lit(1e9)).cast("long").as("rms9"))
    }),

    // video decode pipeline with a REAL container parser: synthesize
    // a deterministic multi-frame AVI per doc (uncompressed BI_RGB
    // DIB frames — lossless — whose gray pixels cycle the md5-hex
    // ASCII codes across frames), then decode it back with the pure
    // JDK RIFF walk. The oracle replays the pixel rule in SQL over
    // frames × pixels; exact, like q34.
    "q38_video_decode" -> ((s, dir) => {
      val n = length(col("text").cast("binary"))
      val base = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("hex"),
          (lit(4) + n % 9).cast("int").as("w"),
          (lit(4) + floor(n / lit(9)) % 7).cast("int").as("h"),
          (lit(2) + n % 3).cast("int").as("nf"))
      val media = Multimodal.synthesizeGrayAvi(base, "hex", "w", "h", "nf")
      Multimodal.decodeFeatures(media, "payload", new Multimodal.VideoDecoder())
        .select(col("doc_id"), col("width"), col("height"),
          col("channels"), col("n_frames"), col("px_mean"))
    }),

    // token-budget sampling: deterministic (md5-ordered) prefix whose
    // running token sum stays under budget — two-phase distributed
    // prefix sum, no single-partition window. Oracle replays the
    // identical order + cumsum as one SQL window.
    "q71_token_budget_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Sampling.sampleToTokenBudget(d, "doc_id", "n_tokens", 20000L)
    }),

    // stratified (per-language) token budgets — corpus mixture
    // weighting in one shuffle.
    "q72_stratified_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Sampling.sampleToTokenBudgetBy(d, "doc_id", "n_tokens",
        "lang", Map("en" -> 10000L, "de" -> 4000L))
    }),

    // temperature-weighted mixture sampling (the multilingual
    // balancing rule, budget_i ∝ tokens_i^α): budgets DERIVED from the
    // data at α = 1/2 via the exact fixed-point gate twin
    // (w9 = floor(sqrt(tokens)·1e9), HUGEINT-normalized — every budget
    // the same integer on both engines), then the same one-shuffle
    // per-stratum prefix sample as q72. Production keeps
    // temperatureBudgets (any α, double weights).
    "q138_temperature_mixture" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val budgets = graft.operators.Sampling.temperatureSqrtBudgets(
        d, "lang", "n_tokens", 15000L)
      graft.operators.Sampling.sampleToTokenBudgetBy(d, "doc_id", "n_tokens",
        "lang", budgets)
    }),

    // PQ-compressed ANN. The GATE trains per-subspace codebooks with
    // the quantized md5-init Lloyd loop (8 subspaces x 16 codewords,
    // every codeword bit-replayable), encodes by quantized argmin,
    // scores by ADC in subspace order and re-ranks the top-50 pool by
    // exact cosine over the original floats — the oracle unrolls the
    // whole train+encode+score in SQL. Production keeps Pq.train's
    // bounded-sample float codebooks + broadcast encode (benched as
    // q75's offline build; recall spec unchanged).
    "q75_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Clustering.pqTopKMd5(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),

    // text -> vector bridge: feature-hash embeddings (hashing trick,
    // pure builtins) feeding the ANN stack — near-dup text clusters
    // land near each other without any external model. Rows-only
    // (xxhash64-based; spec proves determinism/unit-norm/similarity).
    // feature-hash embedding + brute-force ANN. The GATE runs the md5
    // embedding kernel, unnormalized so every element is a float-exact
    // integer sign-sum and the cosine re-rank is bit-replayable in
    // SQL (cosine is scale-invariant, so the ranking and values equal
    // the normalized form's); the xxhash64 unit-norm kernel stays the
    // production default, cross-checked in TextFunctionsSpec.
    "q78_text_ann" -> ((s, dir) => {
      // aggregation-form embeddings (linear in tokens), MATERIALIZED
      // before the ANN join — an unmaterialized embedding expression
      // would recompute per candidate pair
      val emb = DiskSnapshot.diskCachedEager(TextFunctions.hashEmbeddingsMd5(
        t(s, dir, "documents"), "doc_id", "text", 64))
      Similarity.bruteForceTopK(emb, emb.filter(col("doc_id") < 10),
        "doc_id", "embedding", 5)
    }),

    // quality gating: repetition signal + the full C4/Gopher-style
    // rule stack as one boolean — the corpus-filtering step upstream
    // of every dedup/sampling stage.
    "q74_quality_filter" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        round(TextFunctions.distinctTokenRatio(col("text")), 6).as("distinct_ratio"),
        TextFunctions.passesQualityFilter(col("text")).as("passes"))
    }),

    // train/eval decontamination: drop training docs sharing any
    // distinct 5-gram with the benchmark slice (broadcast semi-join on
    // gram hashes). Oracle rebuilds the same n-gram sets as strings.
    "q73_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.filter(col("doc_id") % 50 === 0).select(col("text"))
      graft.operators.Sampling.decontaminate(d, "doc_id", "text", bench, "text",
        n = 5).select(col("doc_id"))
    }),

    // the corpus-ingest pipeline's BATCH twin end to end (quality gate
    // → (fingerprint, window) content dedup → per-window doc/token
    // counts): every stage is individually oracled (q74's predicate,
    // q23's fingerprint, q40's window alignment) and the composition
    // is representative-invariant (fingerprint equates the variants,
    // so counts don't depend on WHICH duplicate survives) — making
    // the whole ingest shape hash-oracleable. Event time is a
    // deterministic function of doc_id (epoch seconds, ~18 h spread
    // at sf0.01 and wrapping at sf0.1 → dozens of hourly windows) so both engines derive identical instants
    // with no timestamp-type round trips. StreamingSpec pins
    // stream == batch for the same kernel, so this gate transitively
    // covers the watermarked streaming path.
    "q139_corpus_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + (col("doc_id") % 7200L) * 131L)
          .as("ts"),
        col("text"))
      graft.streaming.StreamingPipelines.corpusIngest(docs)
    }),

    // the REAL streaming deployment of q139: the same documents land
    // as parquet files, readStream → quality gate → (fp, window)
    // dedup → windowed counts → parquet sink drains under
    // Trigger.AvailableNow (including the no-data finalization
    // batches that flush the last data batch's watermark). A
    // far-future quality-passing "closer" row (written as a SECOND
    // file) pushes the watermark past every real window so the sink
    // holds exactly the batch twin's rows — its own window never
    // closes, so it adds nothing. Same oracle SQL as q139: the
    // streaming run must hash-match the batch replay end to end.
    "q147_corpus_ingest_stream" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
      import scala.jdk.CollectionConverters._
      // the staged INPUT is harness setup (same files every run — the
      // q49 stagedDir convention): cached per (session, dir).
      // Checkpoint + sink stay strictly per-run.
      val in = stagedIngestInputs(s, dir) {
        val d = java.nio.file.Files.createTempDirectory("graft-ingest-in-")
        FsUtil.deleteOnExit(d)
        val docs = t(s, dir, "documents").select(col("doc_id"),
          timestamp_seconds(lit(1700000000L) + (col("doc_id") % 7200L) * 131L)
            .as("ts"),
          col("text"))
        docs.write.mode("overwrite").parquet(d.toString)
        val closer = s.createDataFrame(
          Seq(Row(999999999L, 1800000000L,
            "the quick brown fox jumps over the lazy dog again and again today"))
            .asJava,
          StructType(Seq(StructField("doc_id", LongType),
            StructField("sec", LongType), StructField("text", StringType))))
          .select(col("doc_id"), timestamp_seconds(col("sec")).as("ts"),
            col("text"))
        closer.write.mode("append").parquet(d.toString)
        d.toString
      }
      val base = java.nio.file.Files.createTempDirectory("graft-ingest-")
      try {
        val schema = StructType(Seq(StructField("doc_id", LongType),
          StructField("ts", TimestampType), StructField("text", StringType)))
        val q = graft.streaming.StreamingPipelines.corpusIngestToParquet(
          s, in, schema, base.resolve("out").toString,
          base.resolve("ckpt").toString, availableNow = true,
          // a few hundred windows of state: 4 store partitions, not the
          // cluster batch default (see corpusIngestToParquet)
          statePartitions = Some(4))
        q.awaitTermination()
        // materialize before the finally deletes the sink it reads
        DiskSnapshot.diskCachedEager(s.read.parquet(base.resolve("out").toString))
      } finally FsUtil.deleteRecursively(base)
    })
  )

  /** Unrolled quantized md5-init Lloyd CTE chain over the embeddings
    * table (the q91-oracle shape, parameterized): k cells, `iters`
    * assign/update rounds, final centroids in CTE c`iters`. Every
    * centroid value is bit-replayable because the quantized inputs
    * are exact integers in doubles (order-independent sums) and the
    * distance folds run sequentially on both engines.
    */
  private def lloydSql(k: Int, iters: Int): String =
    lloydChainSql("", k, iters, dim = 64, off = 0)

  /** Complete q91-shape oracle: the [[lloydSql]] chain plus the final
    * assignment select (argmin cell, ties to the lowest, quantized
    * distance rounded to 6 places). Shared with [[Corpus]]'s
    * q91_kmeans oracle so a Lloyd-kernel change edited here can never
    * silently leave q91 replaying a different kernel than q33/q75
    * (the same reason [[minhashPairsCtes]] is shared by q26/q35).
    */
  private[queries] def lloydAssignSql(k: Int, iters: Int): String = {
    val d = "list_sum(list_transform(range(1, 65), i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))"
    s"""WITH ${lloydSql(k, iters)}
         SELECT vec_id, CAST(cell AS INTEGER) AS cluster, round(d, 6) AS dist2 FROM (
             SELECT q.vec_id, c.cell, $d AS d,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY $d, c.cell) AS rn
             FROM q, c$iters c) WHERE rn = 1"""
  }

  /** q101 oracle: the [[lloydSql]] chain assigns clusters, then the
    * SemDeDup dominance rule replays — a row is dropped iff a
    * lower-id row in its cluster has exact float cosine ≥ threshold
    * (q29/q33's hash-matched formula). Survivors keep (vec_id,
    * cluster).
    */
  private[queries] def semanticDedupSql(k: Int, iters: Int,
                                        threshold: Double): String = {
    val d = "list_sum(list_transform(range(1, 65), i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))"
    s"""WITH ${lloydSql(k, iters)},
         asg AS (SELECT vec_id, cell FROM (
             SELECT q.vec_id, c.cell,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY $d, c.cell) AS rn
             FROM q, c$iters c) WHERE rn = 1),
         vecs AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         dropped AS (SELECT DISTINCT a.vec_id FROM asg a
             JOIN asg b ON a.cell = b.cell AND a.vec_id > b.vec_id
             JOIN vecs va ON va.vec_id = a.vec_id
             JOIN vecs vb ON vb.vec_id = b.vec_id
             WHERE list_dot_product(va.v, vb.v)
                   / (sqrt(list_sum(list_transform(va.v, x -> x * x)))
                    * sqrt(list_sum(list_transform(vb.v, x -> x * x))))
                   >= $threshold)
         SELECT vec_id, CAST(cell AS INTEGER) AS cluster FROM asg
         WHERE vec_id NOT IN (SELECT vec_id FROM dropped)"""
  }

  /** The line-dedup gate's deterministic multi-line synthesis: each
    * doc's tokens chunk into 8-token lines joined by '\n', and every
    * third doc gains a shared boilerplate banner line. Mirrored
    * verbatim by the q112 oracle's `lined` CTE.
    */
  private[graft] def linedDocs(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"),
        concat_ws("\n", transform(
          sequence(lit(1), ceil(size(col("__toks")) / lit(8.0)).cast("int")),
          g => concat_ws(" ", slice(col("__toks"), (g - 1) * 8 + 1, lit(8)))))
          .as("base"))
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("base"), lit("\ngraft boilerplate banner line")))
          .otherwise(col("base")).as("text"))

  /** q101L oracle — replays `Clustering.semanticDedupLargeMd5`'s
    * two-level quantizer end to end: the [[lloydSql]] chain trains the
    * kSuper super centroids, `sasg` assigns every vector its super
    * (argmin, ties to the lowest cell), `ci0` seeds each super's
    * kChild children from its md5-smallest rows, `iters` unrolled
    * child-Lloyd rounds (assign within the super's children → exact
    * integer (super, child, pos) sums → s/n centroids, empty children
    * keep theirs), final assignment `fa` with
    * `cluster = super·kChild + child`, then the SemDeDup dominance
    * rule over exact float cosines — identical to [[semanticDedupSql]]
    * 's tail. Multiply-referenced CTEs are `AS MATERIALIZED` (the
    * q109 lesson: DuckDB 1.0 re-inlines plain CTEs at every
    * reference).
    */
  private[queries] def semanticDedupLargeSql(k: Int, superIters: Int,
                                             iters: Int,
                                             threshold: Double): String = {
    val kSuper = math.ceil(math.sqrt(k.toDouble)).toInt
    val kChild = math.ceil(k.toDouble / kSuper).toInt
    def dd(s: String, c: String): String =
      s"list_sum(list_transform(range(1, 65), i -> ($s.qv[i] - $c.cv[i]) * ($s.qv[i] - $c.cv[i])))"
    val childIters = (1 to iters).map { it =>
      s""",
         ka$it AS MATERIALIZED (SELECT vec_id, super, qv, child FROM (
             SELECT s.vec_id, s.super, s.qv, c.child,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY ${dd("s", "c")}, c.child) AS rn
             FROM sasg s JOIN ci${it - 1} c ON s.super = c.super) WHERE rn = 1),
         kp$it AS (SELECT a.super, a.child, g.i AS pos, sum(a.qv[g.i]) AS s, count(*) AS n
             FROM ka$it a, UNNEST(generate_series(1, 64)) AS g(i) GROUP BY 1, 2, 3),
         ci$it AS MATERIALIZED (SELECT super, child, list(s / n ORDER BY pos) AS cv
             FROM kp$it GROUP BY super, child
             UNION ALL
             SELECT c.super, c.child, c.cv FROM ci${it - 1} c
             WHERE NOT EXISTS (SELECT 1 FROM ka$it a
                               WHERE a.super = c.super AND a.child = c.child))"""
    }.mkString
    s"""WITH ${lloydSql(kSuper, superIters)},
         sasg AS MATERIALIZED (SELECT vec_id, qv, super FROM (
             SELECT q.vec_id, q.qv, c.cell AS super,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY ${dd("q", "c")}, c.cell) AS rn
             FROM q, c$superIters c) WHERE rn = 1),
         ci0 AS MATERIALIZED (SELECT super, CAST(rn - 1 AS INTEGER) AS child, qv AS cv FROM (
             SELECT super, qv,
               row_number() OVER (PARTITION BY super ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
             FROM sasg) WHERE rn <= $kChild)$childIters,
         fa AS MATERIALIZED (SELECT vec_id, super * $kChild + child AS cluster FROM (
             SELECT s.vec_id, s.super, c.child,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY ${dd("s", "c")}, c.child) AS rn
             FROM sasg s JOIN ci$iters c ON s.super = c.super) WHERE rn = 1),
         vecs AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         dropped AS (SELECT DISTINCT a.vec_id FROM fa a
             JOIN fa b ON a.cluster = b.cluster AND a.vec_id > b.vec_id
             JOIN vecs va ON va.vec_id = a.vec_id
             JOIN vecs vb ON vb.vec_id = b.vec_id
             WHERE list_dot_product(va.v, vb.v)
                   / (sqrt(list_sum(list_transform(va.v, x -> x * x)))
                    * sqrt(list_sum(list_transform(vb.v, x -> x * x))))
                   >= $threshold)
         SELECT vec_id, CAST(cluster AS INTEGER) AS cluster FROM fa
         WHERE vec_id NOT IN (SELECT vec_id FROM dropped)"""
  }

  /** q119 oracle — replays [[graft.operators.Clustering.
    * compressedAnnTopKMd5]] end to end: `pj` rebuilds the md5-int JL
    * projection (q114's weight family, 64 → 8 exact-integer
    * components), `s8`/`i8` replay the int8 codec on the projected
    * integers (q107's construction), `sc0…sc2` train the kSuper=4
    * super centroids with the md5-init Lloyd over the CODE space
    * (8-dim ints — every sum exact), `sasg`/`ci0…ci2` the per-super
    * kChild=4 child Lloyd (semanticDedupLargeSql's structure),
    * `fa` the final (super, child) assignment, then the probe:
    * `spb` top-`nprobeSuper` supers per query, `cpb` top-`nprobeCells`
    * (super, child) cells among them, `ac` code-space cosine
    * (exact-integer dot/norms, zero-norm → −2), `topc` the
    * `topCandidates`-wide candidate pool, and the exact
    * float rerank with q29's hash-matched cosine. Multiply-referenced
    * CTEs are MATERIALIZED (the q109 DuckDB re-inlining lesson).
    */
  private[queries] def compressedAnnSql(k: Int): String = {
    val outDim = 16; val kSuper = 4; val kChild = 4
    val superIters = 2; val iters = 2
    val nprobeSuper = 3; val nprobeCells = 8; val topCandidates = 64
    def dd(q: String, qf: String, c: String, cf: String) =
      s"list_sum(list_transform(range(1, ${outDim + 1}), i -> ($q.$qf[i] - $c.$cf[i]) * ($q.$qf[i] - $c.$cf[i])))"
    val superSteps = (1 to superIters).map { it =>
      s""",
         sa$it AS MATERIALIZED (SELECT vec_id, qv, cell FROM (
             SELECT q.vec_id, q.qv, c.cell,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY ${dd("q", "qv", "c", "cv")}, c.cell) AS rn
             FROM i8 q, sc${it - 1} c) WHERE rn = 1),
         ss$it AS (SELECT cell, g.i AS pos, sum(qv[g.i]) AS s, count(*) AS n
             FROM sa$it, UNNEST(generate_series(1, $outDim)) AS g(i) GROUP BY 1, 2),
         sc$it AS MATERIALIZED (SELECT cell, list(s / n ORDER BY pos) AS cv
             FROM ss$it GROUP BY cell
             UNION ALL
             SELECT c.cell, c.cv FROM sc${it - 1} c
             WHERE NOT EXISTS (SELECT 1 FROM sa$it a WHERE a.cell = c.cell))"""
    }.mkString
    val childSteps = (1 to iters).map { it =>
      s""",
         ka$it AS MATERIALIZED (SELECT vec_id, super, qv, child FROM (
             SELECT s.vec_id, s.super, s.qv, c.child,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY ${dd("s", "qv", "c", "cv")}, c.child) AS rn
             FROM sasg s JOIN ci${it - 1} c ON s.super = c.super) WHERE rn = 1),
         kp$it AS (SELECT super, child, g.i AS pos, sum(qv[g.i]) AS s, count(*) AS n
             FROM ka$it, UNNEST(generate_series(1, $outDim)) AS g(i) GROUP BY 1, 2, 3),
         ci$it AS MATERIALIZED (SELECT super, child, list(s / n ORDER BY pos) AS cv
             FROM kp$it GROUP BY super, child
             UNION ALL
             SELECT c.super, c.child, c.cv FROM ci${it - 1} c
             WHERE NOT EXISTS (SELECT 1 FROM ka$it a
                               WHERE a.super = c.super AND a.child = c.child))"""
    }.mkString
    s"""WITH pj AS MATERIALIZED (SELECT vec_id, embedding,
           list_transform(range(0, $outDim), p ->
             list_sum(list_transform(range(1, 65), j ->
               CAST(floor(CAST(embedding[j] AS DOUBLE) * 65536.0) AS BIGINT)
               * (('0x' || substr(md5('plane' || CAST(p AS VARCHAR) || '|'
                     || CAST(j - 1 AS VARCHAR)), 1, 8))::BIGINT - 2147483648)))) AS pjv
         FROM embeddings),
       s8 AS (SELECT vec_id, embedding, pjv,
           list_max(list_transform(pjv, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
         FROM pj),
       i8 AS MATERIALIZED (SELECT vec_id, embedding,
           list_transform(pjv, x -> CASE WHEN scale = 0 THEN 0.0
             ELSE greatest(-127.0, least(127.0,
               floor(CAST(x AS DOUBLE) / scale + 0.5))) END) AS qv
         FROM s8),
       sc0 AS (SELECT CAST(rn - 1 AS INTEGER) AS cell, qv AS cv FROM (
           SELECT qv, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
           FROM i8) WHERE rn <= $kSuper)$superSteps,
       sasg AS MATERIALIZED (SELECT vec_id, qv, super FROM (
           SELECT q.vec_id, q.qv, c.cell AS super,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY ${dd("q", "qv", "c", "cv")}, c.cell) AS rn
           FROM i8 q, sc$superIters c) WHERE rn = 1),
       ci0 AS MATERIALIZED (SELECT super, CAST(rn - 1 AS INTEGER) AS child, qv AS cv FROM (
           SELECT super, qv,
             row_number() OVER (PARTITION BY super ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
           FROM sasg) WHERE rn <= $kChild)$childSteps,
       fa AS MATERIALIZED (SELECT vec_id, super, child FROM (
           SELECT s.vec_id, s.super, c.child,
             row_number() OVER (PARTITION BY s.vec_id ORDER BY ${dd("s", "qv", "c", "cv")}, c.child) AS rn
           FROM sasg s JOIN ci$iters c ON s.super = c.super) WHERE rn = 1),
       qs AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qvec, qv AS qqv
         FROM i8 WHERE vec_id < 10),
       spb AS MATERIALIZED (SELECT query_id, super FROM (
           SELECT q.query_id, c.cell AS super,
             row_number() OVER (PARTITION BY q.query_id ORDER BY ${dd("q", "qqv", "c", "cv")}, c.cell) AS rn
           FROM qs q, sc$superIters c) WHERE rn <= $nprobeSuper),
       cpb AS MATERIALIZED (SELECT query_id, super, child FROM (
           SELECT s.query_id, c.super, c.child,
             row_number() OVER (PARTITION BY s.query_id ORDER BY ${dd("q", "qqv", "c", "cv")}, c.super, c.child) AS rn
           FROM spb s JOIN ci$iters c ON c.super = s.super
           JOIN qs q ON q.query_id = s.query_id) WHERE rn <= $nprobeCells),
       ac AS MATERIALIZED (SELECT query_id, neighbor_id,
           CASE WHEN qn = 0 OR nn = 0 THEN -2.0
                ELSE dq / (sqrt(qn) * sqrt(nn)) END AS acos
         FROM (SELECT p.query_id, f.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, ${outDim + 1}), i -> q.qqv[i] * n.qv[i])) AS dq,
             list_sum(list_transform(range(1, ${outDim + 1}), i -> q.qqv[i] * q.qqv[i])) AS qn,
             list_sum(list_transform(range(1, ${outDim + 1}), i -> n.qv[i] * n.qv[i])) AS nn
           FROM cpb p JOIN fa f ON f.super = p.super AND f.child = p.child
           JOIN qs q ON q.query_id = p.query_id
           JOIN i8 n ON n.vec_id = f.vec_id
           WHERE f.vec_id <> p.query_id)),
       topc AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, neighbor_id) AS rn
           FROM ac) WHERE rn <= $topCandidates),
       rr AS (SELECT t.query_id, t.neighbor_id,
           list_dot_product(list_transform(q.qvec, x -> CAST(x AS DOUBLE)),
                            list_transform(n.embedding, x -> CAST(x AS DOUBLE)))
           / (sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(n.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
         FROM topc t JOIN qs q ON q.query_id = t.query_id
         JOIN embeddings n ON n.vec_id = t.neighbor_id)
       SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
         SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         FROM rr) WHERE rank <= $k"""
  }

  /** [[lloydSql]] generalized to a subspace: CTE names carry the
    * `tag` suffix, the quantized vector is embedding positions
    * off+1 … off+dim, and every distance/update fold runs over `dim`
    * positions. tag="" with dim=64/off=0 reproduces the q91/q33
    * whole-vector chain; [[Corpus]]'s q91 oracle calls
    * [[lloydAssignSql]], which builds on this same chain.
    */
  private def lloydChainSql(tag: String, k: Int, iters: Int,
                            dim: Int, off: Int): String = {
    def d(qa: String, ca: String): String =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> ($qa.qv[i] - $ca.cv[i]) * ($qa.qv[i] - $ca.cv[i])))"
    val vecExpr =
      if (off == 0 && dim == 64)
        "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1024))"
      else
        s"list_transform(range(${off + 1}, ${off + dim + 1}), i -> round(CAST(embedding[i] AS DOUBLE) * 1024))"
    // every multiply-referenced CTE is AS MATERIALIZED (the q109/q105
    // DuckDB 1.0 re-inlining lesson): q feeds c0, every assignment
    // step, and — in the q75 PQ composition — the encode and ADC
    // joins; each c-step is read by the next assignment AND its own
    // empty-cell fallback; each a-step by the partial sums AND the
    // NOT IN. Un-hinted, the 8-subspace q75 chain re-inlined
    // combinatorially (16.5 s at sf0.1 on a slow-VM round — over the
    // pre-round SLOW bar; 1.4 s materialized, identical rows)
    val init =
      s"""q$tag AS MATERIALIZED (SELECT vec_id, $vecExpr AS qv
           FROM embeddings),
         c0$tag AS MATERIALIZED (SELECT CAST(rn - 1 AS INTEGER) AS cell, qv AS cv FROM (
             SELECT qv, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
             FROM q$tag) WHERE rn <= $k)"""
    val steps = (1 to iters).map { it =>
      s""",
         a$it$tag AS MATERIALIZED (SELECT vec_id, qv, cell FROM (
             SELECT q.vec_id, q.qv, c.cell,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY ${d("q", "c")}, c.cell) AS rn
             FROM q$tag q, c${it - 1}$tag c) WHERE rn = 1),
         p$it$tag AS (SELECT a.cell, g.i AS pos, sum(a.qv[g.i]) AS s, count(*) AS n
                FROM a$it$tag a, UNNEST(generate_series(1, $dim)) AS g(i) GROUP BY 1, 2),
         c$it$tag AS MATERIALIZED (SELECT cell, list(s / n ORDER BY pos) AS cv FROM p$it$tag GROUP BY cell
                UNION ALL
                SELECT c.cell, c.cv FROM c${it - 1}$tag c
                WHERE c.cell NOT IN (SELECT DISTINCT cell FROM a$it$tag))"""
    }.mkString
    init + steps
  }

  /** CTE chain replaying `Dedup.minhashCandidates(family = Md5)` up to the
    * banded candidate pairs: distinct 3-gram shingles, one md5 per
    * shingle -> 32-bit base (first 8 hex chars), 32 affine
    * universal-hash mins (a_i*x+b_i mod the largest prime < 2^32;
    * a_i < 2^31 keeps checked BIGINT products under 2^63), 8
    * four-component bands, bucket join — constants mirror
    * `DedupHashes.minhashA/minhashB` exactly. Shared verbatim by the q26
    * and q35 oracles so a kernel change edited in one can never
    * silently leave the other replaying a different kernel.
    */
  // AS MATERIALIZED throughout: DuckDB 1.0 re-inlines CTEs per
  // reference, so the 32-hash signature build re-ran once per `sigs`
  // mention — 31.6 s -> 0.8 s for q105 at sf0.1, identical rows (the
  // round-9 slow-oracle lesson; the driver budget is 30 s)
  /** The signature chain alone (toks→sigs), parameterized by a CTE
    * name suffix and a WHERE clause so the q146 incremental-dedup
    * oracle can replay the SAME kernel over two document slices
    * without duplicating the SQL. `sfx = ""` reproduces the shared
    * q26/q35 names verbatim. */
  private def minhashSigCtes(sfx: String, where: String) =
    s"""toks$sfx AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents$where),
         sh$sfx AS MATERIALIZED (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                FROM toks$sfx, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
         hb$sfx AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x FROM sh$sfx),
         sg$sfx AS MATERIALIZED (SELECT doc_id, k.i AS ki,
                  min(((1 + ((CAST(k.i + 1 AS BIGINT) * 2654435761) % 2147483629)) * x
                       + ((CAST(k.i + 1 AS BIGINT) * 40503) % 4294967291)) % 4294967291) AS h
                FROM hb$sfx, UNNEST(generate_series(0, 31)) AS k(i)
                GROUP BY doc_id, k.i),
         sigs$sfx AS MATERIALIZED (SELECT doc_id, list(h ORDER BY ki) AS sig FROM sg$sfx GROUP BY doc_id)"""

  /** md5 band-key CTE over a sigs table (8 four-component bands) —
    * mirrors `HashFamily.Md5.bandKeys`. */
  private def minhashBandCtes(name: String, sigsName: String) =
    s"""$name AS (SELECT doc_id, b.j AS band,
                     md5(array_to_string(sig[CAST(b.j*4+1 AS INTEGER):CAST(b.j*4+4 AS INTEGER)], ',')) AS key
                   FROM $sigsName, UNNEST(generate_series(0, 7)) AS b(j))"""

  private val minhashPairsCtes =
    s"""${minhashSigCtes("", "")},
         ${minhashBandCtes("bands", "sigs")},
         pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM bands a JOIN bands b
                   ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""

  /** Replays the q139 ingest composition (quality gate → (fp, window)
    * content dedup → per-window doc/token counts). Shared verbatim by
    * the q139 batch gate and the q147 streaming-deployment gate. */
  private val corpusIngestOracleSql =
    """WITH gated AS MATERIALIZED (
           SELECT doc_id, text,
             CAST(1700000000 AS BIGINT) + (doc_id % 7200) * 131 AS sec
           FROM documents
           WHERE (len(string_split(text, ' ')) >= 8 AND len(string_split(text, ' ')) <= 100000
            AND (CAST(length(text) AS DOUBLE) - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
                / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 2.0
            AND (CAST(length(text) AS DOUBLE) - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
                / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 12.0
            AND CAST(len(list_filter(string_split(text, ' '),
                  t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
                / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.01
            AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.3)),
         keyed AS (SELECT md5(trim(lower(text))) AS fp,
                     (sec // 3600) * 3600 AS wk,
                     CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS nt
                   FROM gated),
         rep AS (SELECT wk, fp, min(nt) AS nt FROM keyed GROUP BY 1, 2)
         SELECT wk AS w_start, count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens
         FROM rep GROUP BY 1"""

  // q151/q154 shared signature replay: the twinned PNG corpus
  // (phashSigs), the 8×8 area-partition cells, and the exact integer
  // aHash comparison — bit 63 via the min-long literal (1<<63
  // overflows DuckDB's checked shift), like q27's oracle.
  private val phashSigCtes =
    """base AS (
           SELECT doc_id, md5(text) AS hex,
             CAST(4 + octet_length(CAST(text AS BLOB)) % 13 AS INTEGER) AS w,
             CAST(4 + (octet_length(CAST(text AS BLOB)) // 13) % 11 AS INTEGER) AS h
           FROM documents WHERE text IS NOT NULL),
         var AS (SELECT doc_id + v.v * 1000000 AS id,
             CASE WHEN v.v = 1 THEN 'z' || substr(hex, 2) ELSE hex END AS hex, w, h
           FROM base, UNNEST(generate_series(0, 1)) AS v(v)),
         px AS (SELECT id,
             CAST(((t.i // w) * 8) // h AS INTEGER) * 8
               + CAST(((t.i % w) * 8) // w AS INTEGER) AS k,
             CAST(ascii(substr(hex, CAST(t.i % 32 AS INTEGER) + 1, 1)) AS BIGINT) AS v
           FROM var, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(i)),
         cell AS (SELECT id, k, sum(v) AS cs, count(*) AS cc FROM px GROUP BY 1, 2),
         tot AS (SELECT id, sum(cs) AS ts, sum(cc) AS tc FROM cell GROUP BY 1),
         sig AS MATERIALIZED (SELECT cell.id, CAST(sum(CASE WHEN cs * tc > ts * cc THEN
                   CASE WHEN k = 63 THEN -9223372036854775808
                        ELSE (1::BIGINT << CAST(k AS INTEGER)) END
                 ELSE 0 END) AS BIGINT) AS sg
                 FROM cell JOIN tot ON tot.id = cell.id GROUP BY cell.id)"""

  // q152/q153 shared training replay: the 3 GD iterations unrolled in
  // SQL — md5-bucket features, rational sigmoid, exact nano-fixed-point
  // long sums — so w3/b3 land on weights bit-identical to the Spark
  // trainer's, and the two gates cannot drift onto different loops.
  private val lrTrainCtes =
    """d AS MATERIALIZED (
           SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             len(string_split(text, ' ')) AS n, text
           FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
         tok AS (SELECT doc_id, n, unnest(string_split(text, ' ')) AS t FROM d),
         x AS MATERIALIZED (
           SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT % 32 AS j,
             count(*)::DOUBLE / n AS x
           FROM tok GROUP BY doc_id, n, j),
         nn AS (SELECT count(*) AS n FROM d),
         w0 AS (SELECT CAST(g.j AS INTEGER) AS j, 0.0 AS w
                FROM UNNEST(generate_series(0, 31)) AS g(j)),
         b0 AS (SELECT 0.0 AS b),
         s1 AS (SELECT x.doc_id, sum(CAST(floor(w0.w * x.x * 1e9 + 0.5) AS BIGINT)) AS s9
                FROM x JOIN w0 ON w0.j = x.j GROUP BY 1),
         e1 AS (SELECT d.doc_id, 0.5 + s/(2.0*(1.0+abs(s))) - d.y AS err
                FROM (SELECT doc_id, s9/1e9 + (SELECT b FROM b0) AS s FROM s1) q
                JOIN d USING (doc_id)),
         g1 AS (SELECT x.j, sum(CAST(floor(e.err * x.x * 1e9 + 0.5) AS BIGINT)) AS g9
                FROM x JOIN e1 e USING (doc_id) GROUP BY 1),
         w1 AS (SELECT w0.j, w0.w - COALESCE(g1.g9, 0) / (1e9 * (SELECT n FROM nn)) AS w
                FROM w0 LEFT JOIN g1 ON g1.j = w0.j),
         b1 AS (SELECT (SELECT b FROM b0)
                  - sum(CAST(floor(err * 1e9 + 0.5) AS BIGINT)) / (1e9 * (SELECT n FROM nn)) AS b
                FROM e1),
         s2 AS (SELECT x.doc_id, sum(CAST(floor(w1.w * x.x * 1e9 + 0.5) AS BIGINT)) AS s9
                FROM x JOIN w1 ON w1.j = x.j GROUP BY 1),
         e2 AS (SELECT d.doc_id, 0.5 + s/(2.0*(1.0+abs(s))) - d.y AS err
                FROM (SELECT doc_id, s9/1e9 + (SELECT b FROM b1) AS s FROM s2) q
                JOIN d USING (doc_id)),
         g2 AS (SELECT x.j, sum(CAST(floor(e.err * x.x * 1e9 + 0.5) AS BIGINT)) AS g9
                FROM x JOIN e2 e USING (doc_id) GROUP BY 1),
         w2 AS (SELECT w1.j, w1.w - COALESCE(g2.g9, 0) / (1e9 * (SELECT n FROM nn)) AS w
                FROM w1 LEFT JOIN g2 ON g2.j = w1.j),
         b2 AS (SELECT (SELECT b FROM b1)
                  - sum(CAST(floor(err * 1e9 + 0.5) AS BIGINT)) / (1e9 * (SELECT n FROM nn)) AS b
                FROM e2),
         s3 AS (SELECT x.doc_id, sum(CAST(floor(w2.w * x.x * 1e9 + 0.5) AS BIGINT)) AS s9
                FROM x JOIN w2 ON w2.j = x.j GROUP BY 1),
         e3 AS (SELECT d.doc_id, 0.5 + s/(2.0*(1.0+abs(s))) - d.y AS err
                FROM (SELECT doc_id, s9/1e9 + (SELECT b FROM b2) AS s FROM s3) q
                JOIN d USING (doc_id)),
         g3 AS (SELECT x.j, sum(CAST(floor(e.err * x.x * 1e9 + 0.5) AS BIGINT)) AS g9
                FROM x JOIN e3 e USING (doc_id) GROUP BY 1),
         w3 AS (SELECT w2.j, w2.w - COALESCE(g3.g9, 0) / (1e9 * (SELECT n FROM nn)) AS w
                FROM w2 LEFT JOIN g3 ON g3.j = w2.j),
         b3 AS (SELECT (SELECT b FROM b2)
                  - sum(CAST(floor(err * 1e9 + 0.5) AS BIGINT)) / (1e9 * (SELECT n FROM nn)) AS b
                FROM e3)"""

  val oracle: Map[String, String] = Map(
    // replays the gate PQ end to end: 8 per-subspace lloydChainSql
    // quantized codebook builds (16 codewords, 2 rounds each over the
    // 8-wide slice), per-subspace argmin encode (ties to the lowest
    // code), ADC = the 8 query-slice->codeword distances summed left
    // to right, top-50 ADC pool (ties to the lowest neighbor), then
    // the exact-cosine re-rank over the ORIGINAL floats (q29's
    // formula)
    "q75_ann_pq" -> {
      val m = 8; val dsub = 8; val ksub = 16; val iters = 2; val rerank = 50
      val chains = (0 until m).map(sub =>
        lloydChainSql(s"_s$sub", ksub, iters, dsub, sub * dsub)).mkString(",\n         ")
      val enc = (0 until m).map(sub =>
        s"""e$sub AS (SELECT vec_id, cell AS code FROM (
             SELECT q.vec_id, c.cell,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(range(1, ${dsub + 1}), i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), c.cell) AS rn
             FROM q_s$sub q, c${iters}_s$sub c) WHERE rn = 1)""").mkString(",\n         ")
      val joins = (0 until m).map(sub =>
        s"""JOIN q_s$sub qa$sub ON qa$sub.vec_id = q.vec_id
           JOIN e$sub en$sub ON en$sub.vec_id = n.vec_id
           JOIN c${iters}_s$sub cb$sub ON cb$sub.cell = en$sub.code""").mkString("\n           ")
      val adc = (0 until m).map(sub =>
        s"list_sum(list_transform(range(1, ${dsub + 1}), i -> (qa$sub.qv[i] - cb$sub.cv[i]) * (qa$sub.qv[i] - cb$sub.cv[i])))")
        .mkString(" + ")
      s"""WITH $chains,
         $enc,
         scored AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             ($adc) AS adc
           FROM embeddings q
           JOIN embeddings n ON n.vec_id <> q.vec_id
           $joins
           WHERE q.vec_id < 10),
         cand AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
             FROM scored) WHERE rn <= $rerank),
         rer AS (SELECT cand.query_id, cand.neighbor_id,
                   list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                    list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
                 FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
                           JOIN embeddings b ON b.vec_id = cand.neighbor_id)
         SELECT query_id, neighbor_id, rank FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM rer)
         WHERE rank <= 5"""
    },
    // replays the composed compressed-ANN gate end to end (see
    // compressedAnnSql's scaladoc for the stage map)
    "q119_compressed_ann" -> compressedAnnSql(5),

    // replays the gate IVF end to end: the lloydSql quantized build
    // (16 cells, 2 rounds), corpus cell assignment and the 4-nearest-
    // cell probe in quantized space (ties to the lowest cell), then
    // the exact-cosine re-rank over the ORIGINAL floats (q29's
    // formula)
    "q33_ann_ivf" -> {
      val d = "list_sum(list_transform(range(1, 65), i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))"
      s"""WITH ${lloydSql(16, 2)},
         cells AS (SELECT vec_id, cell FROM (
             SELECT q.vec_id, c.cell,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY $d, c.cell) AS rn
             FROM q, c2 c) WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, cell FROM (
             SELECT q.vec_id, c.cell,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY $d, c.cell) AS rn
             FROM q, c2 c WHERE q.vec_id < 10) WHERE rn <= 4),
         cand AS (SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
                  FROM probes p JOIN cells s ON s.cell = p.cell
                  WHERE s.vec_id <> p.query_id),
         scored AS (SELECT cand.query_id, cand.neighbor_id,
                      list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                       list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
                      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
                    FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
                              JOIN embeddings b ON b.vec_id = cand.neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         WHERE rank <= 5"""
    },
    "q20_token_count" ->
      "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents",
    "q71_token_budget_sample" ->
      """SELECT doc_id, n_tokens FROM (
           SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
           FROM (SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents))
         WHERE cum - n_tokens < 20000""",
    "q72_stratified_sample" ->
      """SELECT doc_id, lang, n_tokens FROM (
           SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum,
             CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 4000 END AS budget
           FROM (SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents WHERE lang IN ('en', 'de')))
         WHERE cum - n_tokens < budget""",
    // the ingest composition: q74's quality predicate gates, q23's
    // fingerprint keys the dedup, windows are pure integer epoch math
    // (floor to the hour — Spark's window() epoch-aligns hourly
    // buckets), and counts are per-(fp, window) representative values
    // (min = the value: fp-equal texts have equal trimmed token counts)
    "q139_corpus_ingest" -> corpusIngestOracleSql,
    // the streaming deployment (q147) must reproduce the batch twin
    // bit-for-bit — ONE oracle serves both, so the two gates can
    // never drift onto different kernels
    "q147_corpus_ingest_stream" -> corpusIngestOracleSql,
    "q138_temperature_mixture" ->
      """WITH toks AS MATERIALIZED (
           SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         tot AS (SELECT lang, sum(n_tokens) AS t FROM toks GROUP BY 1),
         w AS MATERIALIZED (
           SELECT lang, t,
             CAST(floor(sqrt(CAST(t AS DOUBLE)) * 1e9) AS BIGINT) AS w9
           FROM tot),
         b AS (SELECT lang,
             CAST(least(
               CAST(15000 AS HUGEINT) * CAST(w9 AS HUGEINT)
                 // (SELECT CAST(sum(CAST(w9 AS HUGEINT)) AS HUGEINT) FROM w),
               CAST(t AS HUGEINT)) AS BIGINT) AS budget
           FROM w)
         SELECT doc_id, lang, n_tokens FROM (
           SELECT doc_id, lang, n_tokens, budget,
             sum(n_tokens) OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
           FROM toks JOIN b USING (lang))
         WHERE cum - n_tokens < budget""",
    "q74_quality_filter" ->
      """SELECT doc_id,
         round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS distinct_ratio,
         (len(string_split(text, ' ')) >= 8 AND len(string_split(text, ' ')) <= 100000
          AND (CAST(length(text) AS DOUBLE) - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
              / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 2.0
          AND (CAST(length(text) AS DOUBLE) - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
              / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 12.0
          AND CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.01
          AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.3) AS passes
         FROM documents""",
    "q73_decontaminate" ->
      """WITH grams AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, len(string_split(text, ' ')) - 3),
             i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))) AS g
           FROM documents),
         bench AS (
           SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
         dirty AS (
           SELECT DISTINCT grams.doc_id FROM grams JOIN bench USING (g))
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM dirty)""",
    "q21_text_quality" ->
      """SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         round((CAST(length(text) AS DOUBLE) - (CAST(len(string_split(text,' ')) AS DOUBLE) - 1.0))
               / CAST(len(string_split(text,' ')) AS DOUBLE), 6) AS avg_word_len,
         round(CAST(len(list_filter(string_split(text,' '),
                 x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
               / CAST(len(string_split(text,' ')) AS DOUBLE), 6) AS stopword_ratio
         FROM documents""",
    "q22_lang_id" ->
      // replays langId's argmax exactly: array_max over (hits, lang)
      // structs takes max hits with ties to the lexicographically
      // GREATEST language, so the CASE tests languages in string-DESC
      // order (it > fr > es > en > de)
      """WITH h AS (SELECT doc_id,
           len(list_filter(string_split(text,' '),
             t -> t IN ('the','and','of','to','a','is'))) AS en,
           len(list_filter(string_split(text,' '),
             t -> t IN ('el','la','de','que','los','una'))) AS es,
           len(list_filter(string_split(text,' '),
             t -> t IN ('der','die','und','das','ist','ein'))) AS de,
           len(list_filter(string_split(text,' '),
             t -> t IN ('le','la','et','les','des','une'))) AS fr,
           len(list_filter(string_split(text,' '),
             t -> t IN ('il','di','che','la','per','una'))) AS it
           FROM documents)
         SELECT doc_id,
           CASE WHEN greatest(en,es,de,fr,it) = 0 THEN 'und'
                WHEN it = greatest(en,es,de,fr,it) THEN 'it'
                WHEN fr = greatest(en,es,de,fr,it) THEN 'fr'
                WHEN es = greatest(en,es,de,fr,it) THEN 'es'
                WHEN en = greatest(en,es,de,fr,it) THEN 'en'
                ELSE 'de' END AS pred_lang
         FROM h""",
    "q23_fingerprint" ->
      "SELECT doc_id, md5(trim(lower(text))) AS fp FROM documents",
    // replays minhashCandidates(family = Md5) end to end: shared CTE chain
    // (minhashPairsCtes) up to banded candidate pairs, then the
    // signature-agreement estimate
    "q26_minhash_pairs" ->
      s"""WITH $minhashPairsCtes,
         est AS (SELECT doc_a, doc_b,
                   len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) / 32.0 AS e
                 FROM pairs JOIN sigs sa ON sa.doc_id = doc_a
                            JOIN sigs sb ON sb.doc_id = doc_b)
         SELECT doc_a, doc_b, round(e, 6) AS est_jaccard FROM est WHERE e >= 0.5""",
    // replays simhashPairsMd5's signature (vote sign per bit, token
    // bits = first 16 hex chars of md5, high bit of each nibble
    // first), then brute-forces ALL pairs — the banded Spark plan is
    // exact by pigeonhole, so the sets must match. 1<<63 overflows
    // DuckDB's checked shift: bit 63 is the min-long literal, and the
    // disjoint-bit sum (HUGEINT) casts back losslessly.
    "q27_simhash_pairs" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         hx AS (SELECT doc_id, substr(md5(t), 1, 16) AS h FROM tok),
         votes AS (SELECT doc_id, b.i AS b,
             sum(CASE WHEN (strpos('0123456789abcdef', substr(h, CAST(b.i // 4 AS INTEGER) + 1, 1)) - 1)
                      & (1 << (3 - CAST(b.i % 4 AS INTEGER))) != 0 THEN 1 ELSE -1 END) AS v
           FROM hx, UNNEST(generate_series(0, 63)) AS b(i) GROUP BY doc_id, b.i),
         sig AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN
                   CASE WHEN b = 63 THEN -9223372036854775808 ELSE (1::BIGINT << CAST(b AS INTEGER)) END
                 ELSE 0 END) AS BIGINT) AS sg
                 FROM votes GROUP BY doc_id)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sg, b.sg)) AS INTEGER) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sg, b.sg)) <= 6""",
    // replays q26's md5 MinHash candidate pairs (same shared CTE
    // chain — the two gates cannot drift onto different kernels),
    // then resolves the connected components with a recursive
    // transitive-closure CTE over the symmetric edge list: a doc is
    // dropped iff it reaches any smaller id (= it is not its
    // component's minimum)
    "q35_dedup_pipeline" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         cand AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs
                  JOIN sigs sa ON sa.doc_id = doc_a
                  JOIN sigs sb ON sb.doc_id = doc_b
                  WHERE len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) / 32.0 >= 0.5),
         edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach AS (SELECT a, b FROM edges
                   UNION
                   SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b),
         doomed AS (SELECT DISTINCT a FROM reach WHERE b < a)
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT a FROM doomed)""",
    // replays dropSeenBefore(family = Md5): the SAME signature kernel
    // (minhashSigCtes — shared with q26/q35 so the kernels cannot
    // drift) over the snapshot slice (doc_id % 2 = 0, standing in for
    // the persisted parquet artifact) and the delta slice
    // (doc_id % 3 = 0); both band; band-equality candidates verify on
    // full-signature agreement ≥ 0.5; surviving delta rows are those
    // that hit nothing.
    "q146_incremental_dedup" ->
      s"""WITH ${minhashSigCtes("_s", " WHERE doc_id % 2 = 0")},
         ${minhashSigCtes("_n", " WHERE doc_id % 3 = 0")},
         ${minhashBandCtes("bs", "sigs_s")},
         ${minhashBandCtes("bn", "sigs_n")},
         cand AS MATERIALIZED (SELECT DISTINCT n.doc_id AS nd, s.doc_id AS sd
                   FROM bn n JOIN bs s ON n.band = s.band AND n.key = s.key),
         hits AS (SELECT DISTINCT nd FROM cand
                   JOIN sigs_n sn ON sn.doc_id = nd
                   JOIN sigs_s ss ON ss.doc_id = sd
                   WHERE len(list_filter(range(1, 33), i -> sn.sig[i] = ss.sig[i])) / 32.0 >= 0.5)
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT nd FROM hits)""",
    // q35's closure, then keep argmax-n_chars (ties -> min id) per
    // component label instead of the unconditional minimum. Every
    // component member appears as `a` in reach (edges is symmetric),
    // so least(a, min(b)) is the component's canonical label.
    "q105_dedup_keepbest" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         cand AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs
                  JOIN sigs sa ON sa.doc_id = doc_a
                  JOIN sigs sb ON sb.doc_id = doc_b
                  WHERE len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) / 32.0 >= 0.5),
         edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach AS (SELECT a, b FROM edges
                   UNION
                   SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b),
         comp AS (SELECT a AS node, least(a, min(b)) AS label FROM reach GROUP BY a),
         mem AS MATERIALIZED (SELECT c.node, c.label, d.n_chars AS q
                 FROM comp c JOIN documents d ON d.doc_id = c.node),
         bq AS (SELECT label, max(q) AS mq FROM mem GROUP BY label),
         win AS (SELECT m.label, min(m.node) AS keep
                 FROM mem m JOIN bq ON bq.label = m.label AND m.q = bq.mq
                 GROUP BY m.label),
         doomed AS (SELECT m.node FROM mem m JOIN win w ON w.label = m.label
                    WHERE m.node <> w.keep)
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT node FROM doomed)""",
    // thresholds are round(0.8 * 2^32) and round(0.9 * 2^32) — the
    // same integers hashSplit(family = Md5) computes; the bucket decode is the
    // minhashPairsCtes '0x'-cast idiom
    "q106_hash_split" ->
      """SELECT doc_id,
           CASE WHEN b < 3435973837 THEN 'train'
                WHEN b < 3865470566 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 8))::BIGINT AS b
               FROM documents)""",
    // A-ES: u = (md5-prefix + 1)/2^32+1, key = round(ln(u)/w · 1e9),
    // top-100 by (key desc, weight desc, id). The engine clamps the
    // key at Long.MinValue for sub-1e-9 weights; n_chars >= 1 here so
    // the clamp never fires and the oracle replays the key exactly.
    "q132_weighted_sample" ->
      """SELECT doc_id, key9 FROM (
           SELECT doc_id, n_chars,
             CAST(round(ln(
               ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 8))::BIGINT
                 + 1.0) / 4294967297.0)) / n_chars * 1e9) AS BIGINT) AS key9
           FROM documents WHERE n_chars > 0)
         ORDER BY key9 DESC, n_chars DESC, doc_id LIMIT 100""",

    // the salted two-phase windows are an execution detail — the
    // semantics is simply "5 smallest md5(id#seed) per source"
    "q116_sample_per_group" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '#42'), doc_id) AS rn
           FROM documents) WHERE rn <= 5""",
    "q24_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents
         GROUP BY md5(array_to_string(string_split(text,' ')[1:10], ' '))""",
    "q25_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           round(ni * 1.0 / (ca.n + cb.n - ni), 6) AS jaccard
         FROM inter
         JOIN cnt ca ON ca.doc_id = doc_a
         JOIN cnt cb ON cb.doc_id = doc_b
         WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.8""",
    "q28_embed_norm" ->
      """SELECT vec_id,
         round(sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
         FROM embeddings""",
    // replays the int8 codec verbatim: same scale = max|x|/127, same
    // explicit half-up floor(x/scale + 0.5) with the +-127 clamp, the
    // same d*d MSE summed left to right — every step is the identical
    // double expression, so scale comes back bit-exact unrounded.
    // The CASE mirrors the kernel's when(scale === 0) zero guard: an
    // all-zero embedding quantizes to zeros on both sides instead of
    // the oracle dividing by zero
    "q107_embed_int8" ->
      """WITH s AS (SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
           FROM embeddings),
         q AS (SELECT vec_id, embedding, scale,
             list_transform(embedding, x -> CAST(CASE WHEN scale = 0 THEN 0.0
               ELSE greatest(-127.0, least(127.0,
                 floor(CAST(x AS DOUBLE) / scale + 0.5))) END AS INTEGER)) AS qvec
           FROM s)
         SELECT vec_id, scale,
           md5(array_to_string(list_transform(qvec, x -> CAST(x AS VARCHAR)), '|')) AS qvec_fp,
           round(list_sum(list_transform(range(1, len(embedding) + 1),
             i -> (CAST(embedding[i] AS DOUBLE) - CAST(qvec[i] AS DOUBLE) * scale)
                * (CAST(embedding[i] AS DOUBLE) - CAST(qvec[i] AS DOUBLE) * scale)))
             / len(embedding), 6) AS recon_mse
         FROM q""",
    // replays the md5-int weight family (same construction as the
    // q30/q37 plane signatures): weight(p, j) = first 8 md5 hex chars
    // of 'plane p|j' as unsigned 32-bit minus 2^31; component p =
    // Σ_j floor(x_j·2^16) · weight(p, j-1) — pure integer arithmetic
    "q114_random_projection" ->
      """SELECT vec_id,
           md5(array_to_string(list_transform(
             list_transform(range(0, 8), p ->
               list_sum(list_transform(range(1, 65), j ->
                 CAST(floor(CAST(embedding[j] AS DOUBLE) * 65536.0) AS BIGINT)
                 * (('0x' || substr(md5('plane' || CAST(p AS VARCHAR) || '|'
                       || CAST(j - 1 AS VARCHAR)), 1, 8))::BIGINT - 2147483648)))),
             c -> CAST(CAST(c AS BIGINT) AS VARCHAR)), '|')) AS proj_fp
         FROM embeddings""",
    "q29_ann_brute" ->
      """WITH scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                              list_transform(c.embedding, x -> CAST(x AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 10)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         WHERE rank <= 5""",
    "q36_cosine_neardup" ->
      """SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         round(
           list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                            list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.4""",
    "q31_label_centroids" ->
      """SELECT label, CAST(t.i - 1 AS INTEGER) AS pos,
         round(avg(CAST(embedding[t.i] AS DOUBLE)), 6) AS centroid_val
         FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
         GROUP BY 1, 2""",
    "q32_multimodal_meta" ->
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
         CAST(ceil(octet_length(CAST(text AS BLOB)) / 64.0) AS BIGINT) AS n_chunks
         FROM documents""",
    "q34_multimodal_decode" ->
      """WITH base AS (
           SELECT doc_id, md5(text) AS hex,
             CAST(4 + octet_length(CAST(text AS BLOB)) % 13 AS INTEGER) AS width,
             CAST(4 + (octet_length(CAST(text AS BLOB)) // 13) % 11 AS INTEGER) AS height
           FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, width, height,
           CAST(1 AS INTEGER) AS channels, CAST(1 AS INTEGER) AS n_frames,
           avg(ascii(substr(hex, CAST(t.i % 32 AS INTEGER) + 1, 1))) AS px_mean
         FROM base, UNNEST(generate_series(0, CAST(width AS BIGINT) * height - 1)) AS t(i)
         GROUP BY doc_id, width, height""",
    // replays q34's pixel rule, partitions each source pixel into its
    // output cell ((r*3)//h, (c*3)//w), and averages per cell — the
    // exact resize the Spark decoder computes from the real raster
    "q148_image_resize" ->
      """WITH base AS (
           SELECT doc_id, md5(text) AS hex,
             CAST(4 + octet_length(CAST(text AS BLOB)) % 13 AS INTEGER) AS w,
             CAST(4 + (octet_length(CAST(text AS BLOB)) // 13) % 11 AS INTEGER) AS h
           FROM documents WHERE text IS NOT NULL),
         px AS (SELECT doc_id,
             CAST(((t.i // w) * 3) // h AS INTEGER) AS ti,
             CAST(((t.i % w) * 3) // w AS INTEGER) AS tj,
             ascii(substr(hex, CAST(t.i % 32 AS INTEGER) + 1, 1)) AS v
           FROM base, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(i))
         SELECT doc_id, ti, tj, CAST(round(avg(v) * 1e9) AS BIGINT) AS v9
         FROM px GROUP BY 1, 2, 3""",
    // replays q150's per-band pixel rule (band b at flat pixel i =
    // ascii(hex[(3i+b) % 32])) through the same area-partition cells
    // as q148, grouped by (cell, band) — the exact per-band means the
    // Spark decoder computes from the real RGB raster
    "q150_image_resize_rgb" ->
      """WITH base AS (
           SELECT doc_id, md5(text) AS hex,
             CAST(4 + octet_length(CAST(text AS BLOB)) % 13 AS INTEGER) AS w,
             CAST(4 + (octet_length(CAST(text AS BLOB)) // 13) % 11 AS INTEGER) AS h
           FROM documents WHERE text IS NOT NULL),
         px AS (SELECT doc_id,
             CAST(((t.i // w) * 3) // h AS INTEGER) AS ti,
             CAST(((t.i % w) * 3) // w AS INTEGER) AS tj,
             CAST(b.b AS INTEGER) AS band,
             ascii(substr(hex, CAST((3 * t.i + b.b) % 32 AS INTEGER) + 1, 1)) AS v
           FROM base,
             UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(i),
             UNNEST(generate_series(0, 2)) AS b(b))
         SELECT doc_id, ti, tj, band,
           CAST(round(avg(v) * 1e9) AS BIGINT) AS v9
         FROM px GROUP BY 1, 2, 3, 4""",
    // replays q151's corpus (each doc's pixel rule + the 'z'-swapped
    // twin at id+1000000), the 8x8 area-partition cells, the exact
    // integer aHash comparison (cellSum·totCnt > totSum·cellCnt), and
    // brute-forces ALL pairs — the banded Spark plan is exact by
    // pigeonhole, so the sets must match. Bit 63 via the min-long
    // literal (1<<63 overflows DuckDB's checked shift), like q27's.
    "q151_image_phash_dedup" ->
      s"""WITH $phashSigCtes
         SELECT a.id AS doc_a, b.id AS doc_b,
           CAST(bit_count(xor(a.sg, b.sg)) AS INTEGER) AS hamming
         FROM sig a JOIN sig b ON a.id < b.id
         WHERE bit_count(xor(a.sg, b.sg)) <= 6""",
    // q154: the q151 signature replay (shared CTEs), pairs closed
    // with a recursive transitive-closure CTE — a doc is dropped iff
    // it reaches any smaller id through the Hamming-pair graph (the
    // q35 oracle pattern applied to images)
    "q154_image_dedup_resolve" ->
      s"""WITH RECURSIVE $phashSigCtes,
         pairs AS MATERIALIZED (SELECT a.id AS doc_a, b.id AS doc_b
                  FROM sig a JOIN sig b ON a.id < b.id
                  WHERE bit_count(xor(a.sg, b.sg)) <= 6),
         edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (SELECT a, b FROM edges
                   UNION
                   SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b),
         doomed AS (SELECT DISTINCT a FROM reach WHERE b < a)
         SELECT id AS doc_id, sg AS phash FROM sig
         WHERE id NOT IN (SELECT a FROM doomed)""",
    // replays q152's training loop EXACTLY, 3 iterations unrolled:
    // md5-bucket features x = count/n, rational sigmoid
    // 0.5 + s/(2(1+|s|)) (pure IEEE arithmetic — identical bits on
    // both engines, unlike libm exp), and EXACT nano-fixed-point long
    // sums for the score and gradient reductions — run-order-invariant
    // by exactness, so the final weights must agree bit-for-bit.
    // Missing (doc, bucket) pairs contribute floor(0·w·1e9+0.5) = 0 on
    // both sides, so the sparse joins here equal the dense zip there.
    "q152_lr_quality_train" ->
      s"""WITH $lrTrainCtes
         SELECT j AS feat, CAST(round(w * 1e9) AS BIGINT) AS w9 FROM w3
         UNION ALL
         SELECT -1 AS feat, CAST(round(b * 1e9) AS BIGINT) AS w9 FROM b3""",
    // q153: the q152 training chain verbatim (shared CTEs — the two
    // gates cannot drift onto different loops), then scores the WHOLE
    // non-null-text corpus (no label filter: null-lang docs score
    // too) with the final weights and keeps score > 0.5 — the
    // deployed train->score->filter pipeline, bit-exact end to end.
    "q153_lr_quality_filter" ->
      s"""WITH $lrTrainCtes,
         d2 AS (SELECT doc_id, len(string_split(text, ' ')) AS n, text
                FROM documents WHERE text IS NOT NULL),
         tok2 AS (SELECT doc_id, n, unnest(string_split(text, ' ')) AS t FROM d2),
         x2 AS MATERIALIZED (
           SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT % 32 AS j,
             count(*)::DOUBLE / n AS x
           FROM tok2 GROUP BY doc_id, n, j),
         sc AS (SELECT x2.doc_id, sum(CAST(floor(w3.w * x2.x * 1e9 + 0.5) AS BIGINT)) AS s9
                FROM x2 JOIN w3 ON w3.j = x2.j GROUP BY 1),
         p AS (SELECT doc_id, 0.5 + s/(2.0*(1.0+abs(s))) AS score
               FROM (SELECT doc_id, s9/1e9 + (SELECT b FROM b3) AS s FROM sc) q),
         sc9 AS (SELECT doc_id, CAST(round(score * 1e9) AS BIGINT) AS score9 FROM p),
         st AS (SELECT sum(score9) AS tot, count(*) AS nn FROM sc9)
         SELECT doc_id, score9 FROM sc9, st WHERE score9 * nn > tot""",
    // replays q155's corpus (the q149 sample rule + the 'z'-swapped
    // twin at id+1000000), the 32-bin integer energy sums, the exact
    // aHash-style comparison (binEnergy·totCnt > totEnergy·binCnt),
    // and brute-forces ALL pairs — the banded Spark plan over the low
    // 32 bits is exact by pigeonhole, so the sets must match. No
    // bit-63 case: k ≤ 31.
    "q155_audio_fingerprint_dedup" ->
      """WITH base AS (
           SELECT doc_id, md5(text) AS hex,
             CAST(50 + octet_length(CAST(text AS BLOB)) % 97 AS INTEGER) AS len
           FROM documents WHERE text IS NOT NULL),
         var AS (SELECT doc_id + v.v * 1000000 AS id,
             CASE WHEN v.v = 1 THEN 'z' || substr(hex, 2) ELSE hex END AS hex, len
           FROM base, UNNEST(generate_series(0, 1)) AS v(v)),
         smp AS (SELECT id, CAST((t.i * 32) // len AS INTEGER) AS k,
             CAST(ascii(substr(hex, CAST(t.i % 32 AS INTEGER) + 1, 1)) AS BIGINT) AS a
           FROM var, UNNEST(generate_series(0, CAST(len AS BIGINT) - 1)) AS t(i)),
         bin AS (SELECT id, k, sum(a * a) AS es, count(*) AS ec FROM smp GROUP BY 1, 2),
         tot AS (SELECT id, sum(es) AS ts, sum(ec) AS tc FROM bin GROUP BY 1),
         sig AS MATERIALIZED (SELECT bin.id,
                 CAST(sum(CASE WHEN es * tc > ts * ec
                   THEN (1::BIGINT << CAST(k AS INTEGER)) ELSE 0 END) AS BIGINT) AS sg
                 FROM bin JOIN tot ON tot.id = bin.id GROUP BY bin.id)
         SELECT a.id AS doc_a, b.id AS doc_b,
           CAST(bit_count(xor(a.sg, b.sg)) AS INTEGER) AS hamming
         FROM sig a JOIN sig b ON a.id < b.id
         WHERE bit_count(xor(a.sg, b.sg)) <= 4""",
    // replays the hex-sample rule: per temporal bin (i*4 // len), the
    // RMS over s = a/32768 computed EXACTLY as the decoder does —
    // (sum(a^2) / 2^30) / count, sqrt (correctly rounded IEEE on both
    // engines), cast through REAL (the decoder's float), then
    // nano-fixed-point; the mean amplitude likewise
    "q149_audio_envelope" ->
      """WITH base AS (
           SELECT doc_id, md5(text) AS hex,
             CAST(50 + octet_length(CAST(text AS BLOB)) % 97 AS INTEGER) AS len
           FROM documents WHERE text IS NOT NULL),
         s AS (SELECT doc_id, len,
             CAST((t.i * 4) // len AS INTEGER) AS bin,
             CAST(ascii(substr(hex, CAST(t.i % 32 AS INTEGER) + 1, 1)) AS BIGINT) AS a
           FROM base, UNNEST(generate_series(0, CAST(len AS BIGINT) - 1)) AS t(i)),
         pb AS (SELECT doc_id, len, bin,
             sqrt((sum(a * a) / 1073741824.0) / count(*)) AS rms
           FROM s GROUP BY 1, 2, 3),
         amp AS (SELECT doc_id,
             CAST(round((sum(a) / 32768.0) / len * 1e9) AS BIGINT) AS amp9
           FROM s GROUP BY doc_id, len)
         SELECT pb.doc_id, CAST(pb.len AS INTEGER) AS n_frames, amp.amp9,
           pb.bin,
           CAST(round(CAST(CAST(pb.rms AS REAL) AS DOUBLE) * 1e9) AS BIGINT) AS rms9
         FROM pb JOIN amp ON amp.doc_id = pb.doc_id""",
    // replays the 6 md5-plane signatures (shared construction with
    // q37's oracle): the bucket bit is the sign of an exact INTEGER
    // dot product — component quantized to floor(x*2^16), weight the
    // raw md5 u32 minus 2^31 — so the GROUP BY sum is
    // order-independent (no float reassociation can flip a near-zero
    // sign). States the complete multi-probe set directly as Hamming
    // distance <= 2 between signatures, then re-ranks candidates by
    // exact cosine — q29's formula and window
    "q30_ann_lsh" ->
      """WITH comp AS (SELECT vec_id, i.i AS j,
                         CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 65536.0) AS BIGINT) AS qx
                       FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS i(i)),
         planes AS (SELECT p.j AS p, c.i AS j,
                      ('0x' || substr(md5('plane' || CAST(p.j AS VARCHAR) || '|' || CAST(c.i AS VARCHAR)), 1, 8))::BIGINT
                        - 2147483648 AS w
                    FROM UNNEST(generate_series(0, 5)) AS p(j),
                         UNNEST(generate_series(0, 63)) AS c(i)),
         bits AS (SELECT comp.vec_id, pl.p,
                    CASE WHEN sum(comp.qx * pl.w) >= 0
                         THEN (1::BIGINT << CAST(pl.p AS INTEGER)) ELSE 0 END AS bit
                  FROM comp JOIN planes pl ON pl.j = comp.j - 1
                  GROUP BY comp.vec_id, pl.p),
         sig AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket FROM bits GROUP BY vec_id),
         cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
                  FROM sig q JOIN sig c
                    ON bit_count(xor(q.bucket, c.bucket)) <= 2
                   AND q.vec_id <> c.vec_id
                  WHERE q.vec_id < 10),
         scored AS (SELECT cand.query_id, cand.neighbor_id,
                      list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                       list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
                      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
                    FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
                              JOIN embeddings b ON b.vec_id = cand.neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         WHERE rank <= 5""",
    // replays the md5 feature-hash embedding (bucket = first 8 md5
    // hex chars mod 64, sign = parity of hex char 9, UNNORMALIZED
    // integer sign-sums — float-exact, so the cosine re-rank is
    // bit-identical), then brute-forces the q29-style top-5
    "q78_text_ann" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         sums AS (SELECT doc_id,
                    ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS b,
                    sum(CASE WHEN ('0x' || substr(md5(t), 9, 1))::BIGINT % 2 = 0
                             THEN 1 ELSE -1 END) AS v
                  FROM tok GROUP BY 1, 2),
         emb AS (SELECT d.doc_id,
                   list(CAST(coalesce(s.v, 0) AS DOUBLE) ORDER BY g.j) AS e
                 -- domain comes from tok, not documents: a NULL-text
                 -- doc yields no token rows on either engine (explode
                 -- of a null array drops the row), so it must not
                 -- reappear here as a zero vector
                 FROM (SELECT DISTINCT doc_id FROM tok) d
                 CROSS JOIN UNNEST(generate_series(0, 63)) AS g(j)
                 LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.b = g.j
                 GROUP BY d.doc_id),
         scored AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
                      list_dot_product(q.e, c.e)
                      / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
                       * sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS cos
                    FROM emb q JOIN emb c ON q.doc_id <> c.doc_id
                    WHERE q.doc_id < 10)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         WHERE rank <= 5""",
    // rebuilds the 6 md5-family hyperplanes in exact integer form
    // (component j of plane p = md5("plane p|j")'s first 8 hex chars
    // as u32 minus 2^31; vector component quantized to floor(x*2^16)
    // — the sign of the integer dot equals the bucket bit and no sum
    // order can change it), takes dot-product signs per vector for
    // the bucket id, replays the bucket self-join, then applies the
    // exact cosine filter — the same q36 formula that already
    // hash-matches
    "q37_cosine_neardup_lsh" ->
      """WITH comp AS (SELECT vec_id, i.i AS j,
                         CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 65536.0) AS BIGINT) AS qx
                       FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS i(i)),
         planes AS (SELECT p.j AS p, c.i AS j,
                      ('0x' || substr(md5('plane' || CAST(p.j AS VARCHAR) || '|' || CAST(c.i AS VARCHAR)), 1, 8))::BIGINT
                        - 2147483648 AS w
                    FROM UNNEST(generate_series(0, 5)) AS p(j),
                         UNNEST(generate_series(0, 63)) AS c(i)),
         bits AS (SELECT comp.vec_id, pl.p,
                    CASE WHEN sum(comp.qx * pl.w) >= 0
                         THEN (1::BIGINT << CAST(pl.p AS INTEGER)) ELSE 0 END AS bit
                  FROM comp JOIN planes pl ON pl.j = comp.j - 1
                  GROUP BY comp.vec_id, pl.p),
         sig AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket FROM bits GROUP BY vec_id),
         cand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         SELECT c.doc_a, c.doc_b,
           round(
             list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                              list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
         FROM cand c JOIN embeddings a ON a.vec_id = c.doc_a
                     JOIN embeddings b ON b.vec_id = c.doc_b
         WHERE list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.3""",
    // SemDeDup gate: md5-Lloyd assignment chain + within-cluster
    // keep-lowest-id dominance over the exact float cosine
    "q101_semantic_dedup" -> semanticDedupSql(k = 8, iters = 3, threshold = 0.3),
    "q101L_semantic_dedup_large" ->
      semanticDedupLargeSql(k = 32, superIters = 2, iters = 2, threshold = 0.3),
    // substring-dedup gate: rebuild every 8-token window's md5, keep
    // hashes occurring >= 2 times, then the same gaps-and-islands
    // merge (a window starts a new span iff it begins past the
    // running max end of earlier marked windows in its doc)
    "q102_span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         wins AS (SELECT doc_id, i - 1 AS pos,
                    md5(array_to_string(w[i:i+7], ' ')) AS h
                  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)),
         dups AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
         mk AS (SELECT doc_id, pos FROM wins WHERE h IN (SELECT h FROM dups)),
         fl AS (SELECT doc_id, pos,
                  CASE WHEN max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                       OR pos > max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS f
                FROM mk),
         isl AS (SELECT doc_id, pos,
                   sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                 FROM fl)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
         FROM isl GROUP BY doc_id, g""",
    // span-removal gate: canonical occurrence per duplicated hash =
    // row_number 1 under (doc,pos) order (== Spark's min-struct);
    // token positions covered by any NON-canonical window and no
    // canonical one are dropped; the doc is rebuilt by ordered
    // string_agg over surviving token positions
    // line dedup: rebuild the gate's synthesized multi-line corpus
    // (8-token lines + banner on every third doc), then canonical
    // first occurrence per repeated md5 line key (row_number over
    // (doc, pos)), all later occurrences cut, docs rebuilt from
    // surviving lines in order (empty string when every line went)
    "q112_line_dedup" ->
      """WITH tl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         base AS (SELECT doc_id,
             string_agg(array_to_string(w[(g.i-1)*8+1:(g.i-1)*8+8], ' '),
                        chr(10) ORDER BY g.i) AS base
           FROM tl, UNNEST(generate_series(1, CAST(ceil(len(w)/8.0) AS BIGINT))) AS g(i)
           GROUP BY doc_id),
         lined AS MATERIALIZED (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN base || chr(10) || 'graft boilerplate banner line'
                  ELSE base END AS text FROM base),
         lines AS MATERIALIZED (SELECT doc_id, g.i - 1 AS pos, ls[g.i] AS line
           FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
                UNNEST(generate_series(1, len(ls))) AS g(i)),
         h AS MATERIALIZED (SELECT doc_id, pos, md5(line) AS lh
           FROM lines WHERE line <> ''),
         dup AS (SELECT lh FROM h GROUP BY lh HAVING count(*) >= 2),
         occ AS (SELECT h.doc_id, h.pos,
             row_number() OVER (PARTITION BY lh ORDER BY doc_id, pos) AS rn
           FROM h JOIN dup USING (lh)),
         rm AS (SELECT doc_id, pos FROM occ WHERE rn > 1)
         SELECT l.doc_id,
           coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
                      FILTER (WHERE r.pos IS NULL), '') AS clean_text,
           CAST(count(r.pos) AS BIGINT) AS n_removed
         FROM lines l LEFT JOIN rm r ON r.doc_id = l.doc_id AND r.pos = l.pos
         GROUP BY l.doc_id""",
    "q103_span_removal" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         wins AS (SELECT doc_id, i - 1 AS pos,
                    md5(array_to_string(w[i:i+7], ' ')) AS h
                  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)),
         occ AS (SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
                   count(*) OVER (PARTITION BY h) AS c
                 FROM wins),
         cover AS (SELECT doc_id, pos + s.j AS tpos, rn = 1 AS canon
                   FROM occ, UNNEST(generate_series(0, 7)) AS s(j)
                   WHERE c >= 2),
         removed AS (SELECT doc_id, tpos FROM cover
                     GROUP BY doc_id, tpos
                     HAVING bool_or(NOT canon) AND NOT bool_or(canon)),
         pos_toks AS (SELECT doc_id, t.i - 1 AS tpos, w[t.i] AS tok
                      FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)),
         kept AS (SELECT p.doc_id, p.tpos, p.tok FROM pos_toks p
                  WHERE NOT EXISTS (SELECT 1 FROM removed r
                                    WHERE r.doc_id = p.doc_id AND r.tpos = p.tpos)),
         rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text
                     FROM kept GROUP BY doc_id),
         nrm AS (SELECT doc_id, count(*) AS n_removed FROM removed GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           coalesce(n.n_removed, 0) AS n_removed
         FROM documents d
         LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
         LEFT JOIN nrm n ON n.doc_id = d.doc_id""",
    // span-decontam gate: benchmark window md5s, then the q103
    // cover/rebuild with NO canonical carve-out
    "q104_span_decontam" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         bwins AS (SELECT DISTINCT md5(array_to_string(w[i:i+7], ' ')) AS h
                   FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
                   WHERE doc_id % 50 = 0),
         wins AS (SELECT doc_id, i - 1 AS pos,
                    md5(array_to_string(w[i:i+7], ' ')) AS h
                  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)),
         removed AS (SELECT DISTINCT doc_id, pos + s.j AS tpos
                     FROM wins, UNNEST(generate_series(0, 7)) AS s(j)
                     WHERE h IN (SELECT h FROM bwins)),
         pos_toks AS (SELECT doc_id, t.i - 1 AS tpos, w[t.i] AS tok
                      FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)),
         kept AS (SELECT p.doc_id, p.tpos, p.tok FROM pos_toks p
                  WHERE NOT EXISTS (SELECT 1 FROM removed r
                                    WHERE r.doc_id = p.doc_id AND r.tpos = p.tpos)),
         rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text
                     FROM kept GROUP BY doc_id),
         nrm AS (SELECT doc_id, count(*) AS n_removed FROM removed GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           coalesce(n.n_removed, 0) AS n_removed
         FROM documents d
         LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
         LEFT JOIN nrm n ON n.doc_id = d.doc_id""",
    // frames are consecutive in the synthesized AVI, so the global
    // sample index j = f*w*h + i cycles hex[j % 32] — one
    // generate_series over frames × pixels replays every gray value;
    // DIB replicates gray to B=G=R, so the 3-band mean equals the
    // gray mean exactly (3S/3N = S/N)
    "q38_video_decode" ->
      """WITH base AS (
           SELECT doc_id, md5(text) AS hex,
             CAST(4 + octet_length(CAST(text AS BLOB)) % 9 AS INTEGER) AS width,
             CAST(4 + (octet_length(CAST(text AS BLOB)) // 9) % 7 AS INTEGER) AS height,
             CAST(2 + octet_length(CAST(text AS BLOB)) % 3 AS INTEGER) AS nf
           FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, width, height,
           CAST(3 AS INTEGER) AS channels, nf AS n_frames,
           avg(ascii(substr(hex, CAST(t.i % 32 AS INTEGER) + 1, 1))) AS px_mean
         FROM base, UNNEST(generate_series(0, CAST(width AS BIGINT) * height * nf - 1)) AS t(i)
         GROUP BY doc_id, width, height, nf"""
  )
}

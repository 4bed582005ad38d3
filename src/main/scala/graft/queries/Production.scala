package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, explode, lit, md5, round, transform}
import org.apache.spark.sql.graftshim.DiskSnapshot

/** Production-twin driver gates (rows-only by design — no oracle).
  *
  * The qNN gate kernels that CORRECTNESS hash-checks are the
  * md5/quantized DuckDB-replayable twins; the xxhash64/float kernels
  * below are what actually runs at scale. Specs already assert
  * gate == production results, but until this module the production
  * kernels were bench-only: one could silently break while its gate
  * stayed green. Each entry here runs the production kernel under the
  * driver per round as a rows-only sanity gate (their hash outputs
  * are NOT SQL-replayable — that is the entire reason the gate twins
  * exist — so `oracle` is deliberately empty).
  */
object Production {

  // plain load (see TextVector): the xxhash64 production twins are
  // cheap per row — they pay a spread's shuffle without its map win
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // mergeable-CMS build alone — the only q90 component that runs at
    // 100 TB (the exact top-k baseline next to it in q90 is the
    // oracle's scaffolding). Returned as the sketch's vital signs so
    // the build cost stays inside the timed/gated query.
    "q90s_cms_sketch_build" -> ((s, dir) => {
      import s.implicits._
      val sk = graft.operators.CorpusStats.ngramSketch(
        t(s, dir, "documents"), "text", 3)
      Seq((sk.depth(), sk.width(), sk.totalCount()))
        .toDF("depth", "width", "total_count")
    }),
    // production ANN probes against the offline-built indexes (built
    // once per (session, dir) and reopened from disk — the recurring
    // probe cost is what is measured and gated).
    "q33p_ivf_probe_prod" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.ivfProbe(
        TextVector.ivfIndexFor(s, dir),
        e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),
    "q75p_pq_topk_prod" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cb, enc) = TextVector.pqIndexFor(s, dir)
      graft.operators.Pq.topK(enc, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", cb, k = 5, rerank = 50,
        rawCorpus = Some(e))
    }),
    // production xxhash64/float kernels, same parameters as their qNN
    // gate twins.
    "q26p_minhash_prod" -> ((s, dir) =>
      graft.operators.Dedup.minhashCandidates(t(s, dir, "documents"),
        "doc_id", "text", shingleN = 3, k = 32, bands = 8,
        minEstimate = 0.5)),
    "q27p_simhash_prod" -> ((s, dir) =>
      graft.operators.Dedup.simhashPairs(t(s, dir, "documents"),
        "doc_id", "text", maxHamming = 6)),
    "q30p_ann_lsh_prod" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.lshTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
    }),
    // incremental daily-delta dedup, xxhash64 kernel: same slices as
    // the q146 gate, against its own persisted (parquet, reopened
    // cold) snapshot-signature artifact. DedupSpec asserts this and
    // the md5 gate keep the same survivor set.
    "q146p_incremental_dedup_prod" -> ((s, dir) =>
      graft.operators.Dedup.dropSeenBefore(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0),
        "doc_id", "text",
        TextVector.dedupSnapshotFor(s, dir, graft.operators.HashFamily.Xx),
        shingleN = 3, k = 32, bands = 8, minEstimate = 0.5)
        .select(col("doc_id"), col("n_chars"))),
    "q35p_dedup_pipeline_prod" -> ((s, dir) =>
      graft.operators.Dedup.dropNearDuplicates(t(s, dir, "documents"),
        "doc_id", "text", minEstimate = 0.5)),
    "q37p_neardup_lsh_prod" -> ((s, dir) =>
      graft.operators.Similarity.cosineNearDupPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3)),
    "q78p_text_ann_prod" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = DiskSnapshot.diskCachedEager(
        graft.functions.TextFunctions.hashEmbeddings(
          docs, "doc_id", "text", 64))
      graft.operators.Similarity.bruteForceTopK(emb,
        emb.filter(col("doc_id") < 10), "doc_id", "embedding", 5)
    }),
    "q91p_kmeans_prod" -> ((s, dir) => {
      val model = graft.operators.Clustering.kmeans(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 3)
      val out = DiskSnapshot.diskCachedEager(model.assignments)
      model.unpersist()
      out
    }),
    "q101p_semantic_dedup_prod" -> ((s, dir) =>
      graft.operators.Similarity.semanticDedup(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3)),
    "q102p_span_dedup_prod" -> ((s, dir) =>
      graft.operators.Dedup.duplicatedSpans(t(s, dir, "documents"),
        "doc_id", "text", windowTokens = 8)),
    // the output filters pin evaluation under the bench's count():
    // without them Catalyst eliminates the unique-key left join and
    // prices the rewrite as a bare scan (same trap ScaleProbe hit)
    "q103p_span_removal_prod" -> ((s, dir) =>
      graft.operators.Dedup.removeDuplicatedSpans(t(s, dir, "documents"),
          "doc_id", "text", windowTokens = 8)
        .filter(org.apache.spark.sql.functions.length(col("clean_text")) >= 0)),
    "q104p_span_decontam_prod" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.removeContaminatedSpans(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 50 === 0), "text", windowTokens = 8)
        .filter(org.apache.spark.sql.functions.length(col("clean_text")) >= 0)
    }),
    "q105p_dedup_keepbest_prod" -> ((s, dir) =>
      graft.operators.Dedup.dropNearDuplicatesBest(t(s, dir, "documents"),
        "doc_id", "text", col("n_chars"), minEstimate = 0.5)),
    "q106p_hash_split_prod" -> ((s, dir) =>
      graft.operators.Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))),
    // xxhash64 A-ES weighted sample (the q132 gate oracles the md5
    // twin's identical key algebra)
    "q132p_weighted_sample_prod" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(t(s, dir, "documents"),
          "doc_id", "n_chars", k = 100)
        .select(col("doc_id"), col("key9"))),
    // THE FULL HANDOFF: tokenize (one-pass BPE kernel) → pack into
    // 512-token bins → export the packed bins as Arrow IPC shard
    // files → re-read the SHARDS distributedly → per-bin digest of
    // what a dataloader would actually receive. Every stage is
    // individually oracled (q111 ids, q88/q120 packing, q125 arrow);
    // this twin proves the composition delivers identical bytes.
    "q129p_pack_arrow_handoff_prod" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merges = graft.operators.Bpe.trainMerges(d, "text",
        numMerges = Corpus.BpeRounds)
      val ids = graft.operators.Bpe.encodeIds(d, "doc_id", "text", merges,
          graft.operators.Bpe.vocabulary(d, "text", merges))
        .withColumn("n_tokens",
          org.apache.spark.sql.functions.size(col("ids")).cast("long"))
      val packed = graft.operators.Sampling
        .packSequences(ids, "doc_id", "n_tokens", 512L)
        .select(col("bin"), col("doc_id"), col("n_tokens"), col("ids"))
      val out = java.nio.file.Files.createTempDirectory("graft-handoff-")
      try {
        graft.io.ArrowExport.writeArrowIpc(packed, out.toString)
        // eager: materialize before the finally deletes the IPC files
        DiskSnapshot.diskCachedEager(graft.io.ArrowExport
          .readArrowIpcDF(s, out.toString, packed.schema)
          .groupBy(col("bin"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_docs"),
            org.apache.spark.sql.functions.sum(col("n_tokens")).as("n_tokens"),
            md5(concat_ws("|",
              org.apache.spark.sql.functions.flatten(transform(
                org.apache.spark.sql.functions.array_sort(
                  org.apache.spark.sql.functions.collect_list(
                    org.apache.spark.sql.functions.struct(
                      col("doc_id").as("d"),
                      transform(col("ids"), _.cast("string")).as("v")))),
                x => x.getField("v")))).cast("binary")).as("ids_fp")))
      } finally graft.io.FsUtil.deleteRecursively(out)
    }),
    // the codegen'd one-pass entropy kernel + deflate compression
    // ratio (not SQL-replayable: JDK Deflater); the q128 gate oracles
    // the entropy algebra via the dual form, spec pins kernel==dual
    "q128p_quality_signals_prod" -> ((s, dir) => {
      graft.plans.GraftExtensions.registerAll(s)
      t(s, dir, "documents").select(col("doc_id"),
        round(graft.functions.TextFunctions.charEntropy(col("text")), 6)
          .as("char_entropy"),
        round(graft.functions.TextFunctions.compressionRatio(col("text")), 6)
          .as("deflate_ratio"))
    }),
    // xxhash64-bucket dense TF-IDF vectors (the q127 gate oracles the
    // identical algebra through md5 buckets + fingerprints); digest
    // the dense array to stay harness-sortable
    "q127p_hashing_tfidf_prod" -> ((s, dir) =>
      graft.operators.CorpusStats.hashingTfIdf(
          t(s, dir, "documents"), "doc_id", "text", dim = 256)
        .select(col("doc_id"),
          md5(concat_ws("|", transform(col("tfidf"),
            w => round(w * lit(1e9)).cast("long").cast("string")))
            .cast("binary")).as("vec_fp"))),
    // xxhash64 line keys over the same synthesized multi-line corpus
    // the q112 gate dedups with md5 keys
    "q112p_line_dedup_prod" -> ((s, dir) =>
      graft.operators.Dedup.removeDuplicatedLines(
        graft.queries.TextVector.linedDocs(t(s, dir, "documents")),
        "doc_id", "text")),
    // the composed compressed-ANN recipe (JL projection → int8 →
    // two-level IVF → exact rerank) end to end under the driver; each
    // stage is individually oracled (q114/q107/q101L/q33Lp), the
    // composition is spec-pinned for recall and rerank exactness
    "q119p_compressed_ann_prod" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.CompressedAnn.probe(
        graft.queries.TextVector.compressedAnnIndexFor(s, dir), e,
        e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    }),
    // the xxhash64 per-group sampler behind the q116 md5 gate
    "q116p_sample_per_group_prod" -> ((s, dir) =>
      graft.operators.Sampling.sampleNPerGroup(t(s, dir, "documents"),
        "doc_id", Seq("source"), 5)),
    // the xxhash64 b=12 HLL production kernel behind the q115 md5 gate
    "q115p_hll_distinct_prod" -> ((s, dir) =>
      graft.operators.CorpusStats.hllDistinct(
        t(s, dir, "documents").select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok")),
        Seq("source"), "tok")),
    // the TWO-LEVEL quantizer under the driver, end to end through the
    // REAL production path (TwoLevel.fit → assign → dominance): k is
    // forced past nothing here — at gate scale auto-k stays flat, so
    // semanticDedupLarge is invoked explicitly, exactly as a caller
    // holding a prebuilt corpus count would route it.
    // the sharded cross-batch SemDeDup recipe under the driver:
    // per-shard fit + union survivors + one merge pass (spec pins
    // shard-merge == whole-corpus on planted cliques)
    "q101Sp_semantic_dedup_sharded_prod" -> ((s, dir) =>
      graft.operators.Similarity.semanticDedupSharded(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, shards = 2, k = 8)),
    "q101Lp_semantic_dedup_large_prod" -> ((s, dir) =>
      graft.operators.Similarity.semanticDedupLarge(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3, k = 32, iters = 2)),
    // two-level IVF: fit + assign build the hierarchical index, then
    // the two-stage probe (super ranking → child ranking → exact
    // re-rank) answers 10 queries — TwoLevel's whole ANN surface in
    // one driver-gated run.
    "q33Lp_ivf_twolevel_probe_prod" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = graft.operators.TwoLevel.buildIvfIndexLarge(
        e, "vec_id", "embedding", nlist = 32)
      val out = DiskSnapshot.diskCachedEager(
        graft.operators.TwoLevel.ivfProbeTwoLevel(idx,
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5))
      idx.unpersist()
      out
    })
  )

  /** empty on purpose: these kernels' hashes are not SQL-replayable —
    * the driver records the weaker rows-only check, which is exactly
    * the insurance wanted here (specs pin gate == production values).
    */
  val oracle: Map[String, String] = Map.empty
}

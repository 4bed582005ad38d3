package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, explode, lit, md5, round, transform}
import org.apache.spark.sql.graftshim.DiskSnapshot

/** Production twins whose production side is a different operator
  * from its gate's (rows-only by design — no oracle).
  *
  * Each oracled qNN gate runs a DuckDB-replayable kernel (md5 hashes,
  * quantized Lloyd, exact integer math); the entries here run the
  * operator that serves at scale instead: the float/xxhash64 ANN and
  * k-means probes (q33p, q33Lp, q75p, q78p, q91p, q119p), SemDeDup
  * (q101p, q101Sp, q101Lp), the banded SimHash (q27p), the HLL and
  * TF-IDF kernels (q115p, q127p), the entropy/deflate signals (q128p),
  * the tokenize → pack → Arrow handoff (q129p) and the CMS sketch
  * build (q90s). Their outputs are not SQL-replayable, so `oracle` is
  * deliberately empty and the driver records a rows-only check;
  * COVERAGE.md's No-oracle map lists the specs that pin them against
  * their gate or an exact baseline. Twins that differ from their
  * gate only in the [[graft.operators.HashFamily]] are not here: they
  * share their gate's builder in [[TextVector]].
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
    // xxhash64 SimHash over four fixed 16-bit bands (the q27 gate is
    // simhashPairsMd5: md5-bit signature, maxHamming+1 pigeonhole bands)
    "q27p_simhash_prod" -> ((s, dir) =>
      graft.operators.Dedup.simhashPairs(t(s, dir, "documents"),
        "doc_id", "text", maxHamming = 6)),
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
    // the xxhash64 b=12 HLL production kernel behind the q115 md5 gate
    "q115p_hll_distinct_prod" -> ((s, dir) =>
      graft.operators.CorpusStats.hllDistinct(
        t(s, dir, "documents").select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok")),
        Seq("source"), "tok")),
    // the sharded cross-batch SemDeDup recipe under the driver:
    // per-shard fit + union survivors + one merge pass (spec pins
    // shard-merge == whole-corpus on planted cliques)
    "q101Sp_semantic_dedup_sharded_prod" -> ((s, dir) =>
      graft.operators.Similarity.semanticDedupSharded(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, shards = 2, k = 8)),
    // the TWO-LEVEL quantizer under the driver, end to end through the
    // REAL production path (TwoLevel.fit → assign → dominance): k is
    // forced past nothing here — at gate scale auto-k stays flat, so
    // semanticDedupLarge is invoked explicitly, exactly as a caller
    // holding a prebuilt corpus count would route it.
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

  /** empty on purpose: these outputs are not SQL-replayable, so the
    * driver records the weaker rows-only check (see the object doc).
    */
  val oracle: Map[String, String] = Map.empty
}

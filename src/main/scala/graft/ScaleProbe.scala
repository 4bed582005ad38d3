package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev scaling probe: synthesizes a corpus N× the sf-dir documents
  * table (same vocabulary/length distribution; content rotated
  * per-copy so dedup/grouping keys stay realistic) OUTSIDE the
  * testdata tree, then times the heavy corpus operators at 1× and N×
  * to measure their empirical scaling exponent — the evidence behind
  * SCALE.md's linearity claims. Measures BOTH LSH regimes (fixed
  * bucket count vs the log₂-scaled tuning contract). Usage:
  * `ScaleProbe [factor] [outDir]`; data dir from SPARK_GRAFT_SF_DIR.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val tlMode = args.contains("twolevel")
    val bpeMode = args.contains("bpe")
    val cannMode = args.contains("cann")
    val streamMode = args.contains("streaming")
    val shardedMode = args.contains("sharded")
    val lmVocabMode = args.contains("lmvocab")
    val rankHotMode = args.contains("rankhot")
    val arrowIoMode = args.contains("arrowio")
    val arrowNestMode = args.contains("arrownest")
    val pqEncodeMode = args.contains("pqencode")
    val posArgs = args.filterNot(a =>
      a == "twolevel" || a == "bpe" || a == "cann" || a == "streaming" ||
      a == "sharded" || a == "lmvocab" || a == "rankhot" || a == "arrowio" ||
      a == "arrownest" || a == "pqencode")
    val special = tlMode || bpeMode || cannMode || streamMode ||
      shardedMode || lmVocabMode || rankHotMode || arrowIoMode ||
      arrowNestMode || pqEncodeMode
    // twolevel/bpe/cann modes take no factor: the only positional arg is outDir
    val factor =
      if (special) 1 else posArgs.headOption.map(_.toInt).getOrElse(10)
    val outDir =
      if (special) posArgs.headOption.getOrElse("/tmp/graft_scale_probe")
      else if (posArgs.length > 1) posArgs(1) else "/tmp/graft_scale_probe"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_CPUS lets memory-constrained probe runs (lmvocab's
    // small-heap no-driver-spike demonstration) scale down the
    // executor-thread working set; default matches the bench rig
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    if (tlMode) { twoLevelProbe(spark, outDir); return }
    if (bpeMode) { bpeProbe(spark, outDir); return }
    if (cannMode) { cannProbe(spark, outDir); return }
    if (streamMode) { streamingProbe(spark, outDir); return }
    if (shardedMode) { shardedProbe(spark, outDir); return }
    if (lmVocabMode) { lmVocabProbe(spark, outDir); return }
    if (rankHotMode) { rankHotProbe(spark, outDir); return }
    if (arrowIoMode) { arrowIoProbe(spark, outDir); return }
    if (arrowNestMode) { arrowNestProbe(spark, outDir); return }
    if (pqEncodeMode) { pqEncodeProbe(spark, outDir); return }

    // rotate an array column by c positions MODULO its per-row length
    // — a plain `slice(arr, c+1, …)` is a silent NO-OP whenever c ≥
    // the row's length (short docs would replicate byte-identical and
    // feed the dedup timings exact duplicates)
    def rotated(arr: Column, c: Int): Column = {
      val r = pmod(lit(c), size(arr))
      concat(slice(arr, r + 1, lit(Int.MaxValue)), slice(arr, lit(1), r))
    }

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val big = (0 until factor).map { c =>
      base.select(
        (col("doc_id") + lit(c.toLong * 1000000L)).as("doc_id"),
        (if (c == 0) col("text")
         else concat_ws(" ", rotated(split(col("text"), " "), c))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    big.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val scaled = spark.read.parquet(s"$outDir/documents.parquet")
    println(s"corpus: ${base.count()} -> ${scaled.count()} docs")

    // SPARK_GRAFT_PROBE_ONLY=substr[,substr…] runs just the matching
    // probes — filling one family's missing N× cell doesn't pay for
    // the whole suite (the 30× corpus synthesis still runs once)
    val probeOnly: Seq[String] = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    def probeSelected(name: String): Boolean =
      probeOnly.isEmpty || probeOnly.exists(name.contains)

    /** Warm 1× vs N× timing + empirical exponent (shared harness).
      * One family's failure (an operator guard tripping on an
      * unexpected corpus size, say) must not abort the whole suite —
      * it prints FAILED and the remaining probes still run.
      */
    def time(name: String, small: DataFrame, bigD: DataFrame)
            (f: DataFrame => Long): Unit = if (probeSelected(name)) try {
      def once(d: DataFrame): Double = {
        val t0 = System.nanoTime(); val rows = f(d)
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.err.println(s"  [$name] rows=$rows ${"%.2f".format(dt)}s"); dt
      }
      once(small); val t1 = once(small)
      once(bigD); val tN = once(bigD)
      val exponent = math.log(tN / t1) / math.log(factor.toDouble)
      println(f"$name%-26s 1x=${t1}%.2fs ${factor}x=${tN}%.2fs scaling-exponent=${exponent}%.2f")
    } catch { case e: Throwable =>
      println(f"$name%-26s FAILED: ${e.getMessage}")
    }

    import graft.operators.{CorpusStats, Dedup, HashFamily, Sampling, Similarity}
    time("topk_ngrams", base, scaled)(d => CorpusStats.topKNgrams(d, "text", 3, 20).count())
    time("repetition", base, scaled)(d => CorpusStats.repetitionStats(d, "doc_id", "text").count())
    // the q136 one-pass Gopher kernel: per-row O(len·n), no shuffle,
    // no state — the exponent must sit at ~1.0 (pure map scaling)
    time("rep_signals_kernel", base, scaled) { d =>
      d.agg(sum(element_at(
        graft.functions.TextFunctions.repetitionSignals(col("text")), 5)))
        .collect().head.getLong(0)
    }
    time("chunk_dedup", base, scaled)(d => CorpusStats.chunkDedup(d, "doc_id", "text", 10).count())
    time("bigram_lm", base, scaled)(d => CorpusStats.bigramLmScore(d, "doc_id", "text").count())
    time("bm25", base, scaled)(d => CorpusStats.bm25TopK(d, "doc_id", "text",
      Seq("spark", "join", "window"), 10).count())
    time("pack_sequences", base, scaled)(d => Sampling.packSequences(
      d.select(col("doc_id"), graft.functions.TextFunctions.tokenCount(col("text")).as("n")),
      "doc_id", "n", 512L).count())
    time("minhash_dedup", base, scaled)(d => Dedup.dropNearDuplicates(d, "doc_id", "text",
      minEstimate = 0.5).count())
    // keep-best survivor policy: identical candidate/component
    // machinery plus two label-keyed hash-aggs over the pairs-sized
    // frame — must track minhash_dedup's exponent
    time("keepbest_dedup", base, scaled)(d => Dedup.dropNearDuplicatesBest(d,
      "doc_id", "text", col("n_chars"), minEstimate = 0.5).count())
    // map-side CASE chain; grouped on the OUTPUT so the split column
    // actually evaluates (a bare count() would prune it)
    time("hash_split", base, scaled)(d => Sampling.hashSplit(d, "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .groupBy("split").count().collect().map(_.getLong(1)).sum)
    // fixed clean reference (the base corpus's src0 slice) against a
    // growing target — the realistic CCNet filter shape
    time("lm_score_ref", base, scaled)(d => CorpusStats.bigramLmScoreAgainst(
      base.filter(col("source") === "src0"), d, "doc_id", "text").count())
    // substring-level span dedup (production xxhash64 kernel): the
    // rotated N× corpus plants real cross-copy window duplicates, so
    // both the hash-count agg and the island merge see growing load
    time("span_dedup", base, scaled)(d =>
      Dedup.duplicatedSpans(d, "doc_id", "text", windowTokens = 8).count())
    // NOT .count(): the rebuilt frame is a left join on unique keys,
    // which Catalyst prunes wholesale under count() — aggregate the
    // OUTPUT columns so the rewrite actually evaluates
    time("span_removal", base, scaled)(d =>
      Dedup.removeDuplicatedSpans(d, "doc_id", "text", windowTokens = 8)
        .agg(sum(length(col("clean_text"))), sum(col("n_removed")))
        .collect()(0).getLong(1))
    // fixed benchmark (the base corpus's % 50 slice) against a
    // growing corpus — the realistic decontam shape
    time("span_decontam", base, scaled)(d =>
      Dedup.removeContaminatedSpans(d, "doc_id", "text",
          base.filter(col("doc_id") % 50 === 0), "text", windowTokens = 8)
        .agg(sum(length(col("clean_text"))), sum(col("n_removed")))
        .collect()(0).getLong(1))
    // round-10 corpus operators. Line dedup runs over the q112-style
    // synthesized multi-line corpus (the rotated copies plant real
    // repeated lines); agg on OUTPUT columns for the same
    // count()-pruning reason as span_removal
    time("line_dedup", base, scaled)(d =>
      Dedup.removeDuplicatedLines(
          graft.queries.TextVector.linedDocs(d), "doc_id", "text")
        .agg(sum(length(col("clean_text"))), sum(col("n_removed")))
        .collect()(0).getLong(1))
    // fixed reference LM, growing target + the exact rank partition
    time("perplexity_buckets", base, scaled)(d =>
      CorpusStats.perplexityBuckets(
        base.filter(col("source") === "src0"), d, "doc_id", "text").count())
    time("hll_distinct", base, scaled)(d =>
      CorpusStats.hllDistinct(
        d.select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("t")),
        Seq("source"), "t").count())
    time("sample_per_group", base, scaled)(d =>
      Sampling.sampleNPerGroup(d, "doc_id", Seq("source"), 10).count())
    // old = base-sized slice of the scaled corpus, new = scaled — the
    // asymmetric version-diff shape (big new snapshot vs prior)
    time("corpus_diff", base, scaled)(d =>
      CorpusStats.corpusDiff(d.filter(col("doc_id") % 3 =!= 0), d,
        "doc_id", "text").count())
    // round-18 operators. Temperature mixture: one |strata|-row
    // driver aggregate for the budgets (strata-cap guarded) + the
    // shared one-shuffle prefix sampler — the multilingual balancing
    // shape end to end.
    time("temperature_sample", base, scaled) { d =>
      val toks = d.select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
      val budgets = Sampling.temperatureBudgets(toks, "source", "n",
        totalBudget = 100000L, alpha = 0.5)
      Sampling.sampleToTokenBudgetBy(toks, "doc_id", "n", "source", budgets)
        .count()
    }
    // q139 ingest batch twin: quality gate (map) -> (fp, window)
    // dedup (one hash-agg-shaped window) -> per-window counts (one
    // hash agg) — slim keyed rows shuffle, text never does
    time("corpus_ingest_batch", base, scaled) { d =>
      val docs = d.select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + (col("doc_id") % 7200L) * 131L)
          .as("ts"),
        col("text"))
      graft.streaming.StreamingPipelines.corpusIngest(docs).count()
    }
    // q146 incremental daily-delta dedup: snapshot signatures FIXED at
    // the base corpus's even slice (yesterday's artifact), the delta
    // grows — signature map + banded join + anti-join, the realistic
    // daily shape
    time("incremental_dedup", base, scaled) { d =>
      val snap = Dedup.minhashSignatures(
        base.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      Dedup.dropSeenBefore(d, "doc_id", "text", snap, minEstimate = 0.5)
        .count()
    }
    // round-12 operators: classifier (train+apply on the scaled
    // corpus — label cardinality fixed, token model grows), hashing
    // featurizer (map-side + dim-bounded assembly), self-trained KN
    // (gram tables grow with corpus), and the two map-only quality
    // kernels (aggregated so the kernels actually evaluate)
    time("naive_bayes", base, scaled)(d =>
      CorpusStats.naiveBayesClassify(d, "doc_id", "text", "lang").count())
    time("hashing_tfidf", base, scaled) { d =>
      CorpusStats.hashingTfIdf(d, "doc_id", "text", 256)
        .agg(sum(element_at(col("tfidf"), 1))).collect(); 0L
    }
    time("kn_bigram_lm", base, scaled)(d =>
      CorpusStats.bigramKnScore(d, "doc_id", "text").count())
    time("quality_kernels", base, scaled) { d =>
      d.agg(sum(graft.functions.TextFunctions.charEntropy(col("text"))),
          sum(graft.functions.TextFunctions.compressionRatio(col("text"))))
        .collect()(0); 0L
    }
    // round-8 DuckDB-replayable gate kernels: the MinHash gate must
    // track the production kernel's regime (one base hash + affine
    // family); the SimHash gate is exact-by-construction, which pins
    // its bands at maxHamming+1 wide ones whose occupancy grows with
    // the corpus — measured at 10x to document the quadratic trend,
    // skipped past it (the production 16-bit-band kernel is the scale
    // path; the gate exists to be hash-replayable and brute-force-
    // equal at gate scale)
    time("minhash_md5_gate", base, scaled)(d =>
      Dedup.minhashCandidates(d, "doc_id", "text", bands = 8, minEstimate = 0.5,
        family = HashFamily.Md5).count())
    if (factor <= 10)
      time("simhash_md5_gate", base, scaled)(d =>
        Dedup.simhashPairsMd5(d, "doc_id", "text", maxHamming = 6).count())
    else println("simhash_md5_gate           skipped past 10x (exact gate kernel, " +
      "documented quadratic band occupancy; production kernel is the scale path)")
    // real-codec audio path: same map-only no-shuffle shape as image
    // decode, WAV encode + javax.sound decode per partition
    time("audio_decode", base, scaled) { d =>
      import graft.operators.Multimodal
      val m = Multimodal.synthesizeSineWav(
        d.select(col("doc_id"), col("n_chars").cast("long").as("n")), "n")
      Multimodal.decodeFeatures(m, "payload", new Multimodal.AudioDecoder()).count()
    }
    // real-container video path (q38 shape): AVI assembly + RIFF-walk
    // decode, per-partition map work like image/audio
    time("video_decode", base, scaled) { d =>
      import graft.operators.Multimodal
      val m = Multimodal.synthesizeGrayAvi(
        d.select(col("doc_id"), md5(col("text").cast("binary")).as("hex"),
          (lit(4) + length(col("text")) % 9).cast("int").as("w"),
          (lit(4) + floor(length(col("text")) / lit(9)) % 7).cast("int").as("h"),
          (lit(2) + length(col("text")) % 3).cast("int").as("nf")),
        "hex", "w", "h", "nf")
      Multimodal.decodeFeatures(m, "payload", new Multimodal.VideoDecoder()).count()
    }
    // real-codec multimodal path (q34 shape): PNG encode + ImageIO
    // decode are per-partition map work — the exponent reads pure
    // embarrassing parallelism (flat until cores saturate, then 1.0)
    time("multimodal_decode", base, scaled) { d =>
      import graft.operators.Multimodal
      val n = length(col("text").cast("binary"))
      val m = Multimodal.synthesizeGrayPng(
        d.select(col("doc_id"), md5(col("text").cast("binary")).as("hex"),
          (lit(4) + n % 13).cast("int").as("w"),
          (lit(4) + floor(n / lit(13)) % 11).cast("int").as("h")),
        "hex", "w", "h")
      Multimodal.decodeFeatures(m, "payload").count()
    }
    // q148/q150 image resize: decode + per-band area-partition means
    // are per-partition map work over each row's own raster — the
    // exponent must read flat per-row like decode (the thumb sum
    // forces every cell to evaluate; count() would prune the resize)
    time("image_resize", base, scaled) { d =>
      import graft.operators.Multimodal
      val n = length(col("text").cast("binary"))
      val m = Multimodal.synthesizeRgbPng(
        d.select(col("doc_id"), md5(col("text").cast("binary")).as("hex"),
          (lit(4) + n % 13).cast("int").as("w"),
          (lit(4) + floor(n / lit(13)) % 11).cast("int").as("h")),
        "hex", "w", "h")
      Multimodal.resizeFeatures(m, "payload", outW = 3, outH = 3)
        .agg(sum(aggregate(col("thumb"), lit(0.0), (a, x) => a + x)))
        .collect()(0); 0L
    }
    // q151 perceptual-hash image dedup, PRODUCTION banding (four
    // fixed 16-bit bands — the exact gate shape is quadratic by
    // design and gate-bounded): decode + aHash are map-only per row;
    // the only shuffled frame is the slim (doc, phash) snapshot and
    // its band buckets stay ~n/65536 deep, so the exponent must read
    // near-linear like decode
    time("image_phash_dedup", base, scaled) { d =>
      import graft.operators.{Dedup, Multimodal}
      val n = length(col("text").cast("binary"))
      val m = Multimodal.synthesizeGrayPng(
        d.select(col("doc_id"), md5(col("text").cast("binary")).as("hex"),
          (lit(4) + n % 13).cast("int").as("w"),
          (lit(4) + floor(n / lit(13)) % 11).cast("int").as("h")),
        "hex", "w", "h")
      val hashed = Multimodal.perceptualHash(m, "payload")
      Dedup.hammingBandPairs(hashed.select(col("doc_id"), col("phash")),
        "doc_id", "phash", maxHamming = 6, exact = false).count()
    }
    // q155 audio fingerprint dedup, PRODUCTION banding over the live
    // 32 bits: WAV decode + integer energy bits are map-only per row;
    // only the slim (doc, afp) frame shuffles — same shape as the
    // image phash probe, must read near-linear
    time("audio_fingerprint_dedup", base, scaled) { d =>
      import graft.operators.{Dedup, Multimodal}
      val n = length(col("text").cast("binary"))
      val m = Multimodal.synthesizeHexWav(
        d.select(col("doc_id"), md5(col("text").cast("binary")).as("hex"),
          (lit(50) + n % 97).cast("int").as("len")),
        "hex", "len")
      val fp = Multimodal.audioFingerprint(m, "payload", bins = 32)
      Dedup.hammingBandPairs(fp.select(col("doc_id"), col("afp")),
        "doc_id", "afp", maxHamming = 4, exact = false, bits = 32).count()
    }
    // q152 trained LR quality classifier: the dense hashed-feature
    // frame is built with one shuffle and snapshotted; each of the 3
    // GD iterations is then a single map pass + a (dim+2)-long global
    // reduce — no per-iteration shuffle or join, so the exponent must
    // track the feature build (near-linear, kmeans-shaped)
    time("lr_classifier_train", base, scaled) { d =>
      import graft.operators.Classifier
      Classifier.trainLogistic(d, "doc_id", "text",
        col("lang") === "en", dim = 32, iters = 3, rate = 1.0)
      0L
    }
    // q149 audio envelope: WAV encode + javax.sound decode + 4-bin
    // temporal RMS, all inside one decoder pass per row — map-only,
    // no shuffle (the feature sum forces the envelope to evaluate)
    time("audio_envelope", base, scaled) { d =>
      import graft.operators.Multimodal
      val m = Multimodal.synthesizeHexWav(
        d.select(col("doc_id"), md5(col("text").cast("binary")).as("hex"),
          (lit(50) + length(col("text").cast("binary")) % 97).cast("int")
            .as("len")),
        "hex", "len")
      Multimodal.decodeFeatures(m, "payload",
          new Multimodal.AudioDecoder(featDim = 4))
        .agg(sum(aggregate(col("feature"),
          lit(0.0), (a, x) => a + x.cast("double"))))
        .collect()(0); 0L
    }

    // vector side: exact (the O(n²) oracle baseline) vs LSH in BOTH
    // regimes — fixed bucket count (the mis-tuned state) and the
    // documented tuning contract (nPlanes grows ~log₂ n so bucket
    // occupancy, and with it bucket-local pair expansion, stays flat).
    val ebase = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ebig = (0 until factor).map { c =>
      ebase.select(
        (col("vec_id") + lit(c.toLong * 1000000L)).as("vec_id"),
        (if (c == 0) col("embedding")
         else rotated(col("embedding"), c).cast("array<float>")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    ebig.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    val escaled = spark.read.parquet(s"$outDir/embeddings.parquet")
    println(s"embeddings: ${ebase.count()} -> ${escaled.count()} vectors")
    val extraPlanes = math.ceil(math.log(factor.toDouble) / math.log(2.0)).toInt
    time("cosine_lsh_fixed_planes", ebase, escaled)(d =>
      Similarity.cosineNearDupPairs(d, "vec_id", "embedding",
        threshold = 0.3, nPlanes = 8).count())
    time("cosine_lsh_scaled_planes", ebase, escaled)(d => {
      val planes = if (d eq ebase) 8 else 8 + extraPlanes
      Similarity.cosineNearDupPairs(d, "vec_id", "embedding",
        threshold = 0.3, nPlanes = planes).count()
    })
    // default-arg regime: nPlanes unset → the operator itself derives
    // the plane count from a corpus count (autoPlanes). This is the
    // gate that the tuning contract is wired into the DEFAULT, not
    // just available: its exponent must track the scaled regime, not
    // the fixed one.
    time("cosine_lsh_auto_planes", ebase, escaled)(d =>
      Similarity.cosineNearDupPairs(d, "vec_id", "embedding",
        threshold = 0.3).count())
    time("cosine_exact", ebase, escaled)(d =>
      Similarity.cosineNearDupPairsExact(d, "vec_id", "embedding", threshold = 0.4).count())
    // int8 codec: map-only, expected flat per-row; the fold over qvec
    // forces every component to evaluate (a first-element projection
    // would let Catalyst skip most of the quantize work)
    time("int8_codec", ebase, escaled)(d => d
      .withColumn("scale", graft.functions.VectorFunctions.int8Scale(col("embedding")))
      .withColumn("qvec", graft.functions.VectorFunctions.int8Quantize(
        col("embedding"), col("scale")))
      .agg(sum(aggregate(col("qvec"), lit(0L), (a, x) => a + x)))
      .collect()(0).getLong(0))

    // round-8 quantized md5-Lloyd gate kernels (q91/q33/q75): Lloyd is
    // one shuffle per iteration for any kernel, so the gates must
    // scale like the float production path — measured side by side.
    // The ANN gates keep a FIXED query set (only copy 0 has
    // vec_id < 10) so the exponent reads corpus growth alone.
    import graft.operators.Clustering
    time("kmeans_prod", ebase, escaled) { d =>
      val m = Clustering.kmeans(d, "vec_id", "embedding", k = 8, iters = 3)
      val n = m.assignments.count(); m.unpersist(); n
    }
    time("kmeans_md5_gate", ebase, escaled)(d =>
      Clustering.kmeansMd5(d, "vec_id", "embedding", k = 8, iters = 3).count())
    time("ivf_md5_gate", ebase, escaled)(d =>
      Clustering.ivfTopKMd5(d, d.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5).count())
    time("pq_md5_gate", ebase, escaled)(d =>
      Clustering.pqTopKMd5(d, d.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5).count())
    // SemDeDup semantic dedup, both k regimes: FIXED k lets cluster
    // occupancy grow with n (within-cluster pair expansion trends
    // quadratic), the auto-k default scales the cluster count so
    // occupancy — and cost per row — stays flat
    time("semantic_dedup_fixed_k", ebase, escaled)(d =>
      Similarity.semanticDedup(d, "vec_id", "embedding",
        threshold = 0.3, k = 8).count())
    time("semantic_dedup_auto_k", ebase, escaled)(d =>
      Similarity.semanticDedup(d, "vec_id", "embedding",
        threshold = 0.3).count())

    // spatial side: the sky cross-match's pixel key is the same kind of
    // LSH bucket — occupancy grows with catalog density unless nside
    // grows with it (nside ~ √n keeps points-per-pixel flat). Measure
    // both regimes, like the vector side; positions derive
    // deterministically from ids (the q76 gate's synthesis), the right
    // catalog decorrelated so matches are nontrivial.
    import graft.operators.CrossMatch
    def skyLeft(d: DataFrame) = d.select(col("doc_id").as("id"),
      (col("doc_id") % 360).cast("double").as("ra"),
      ((col("doc_id") % 179) - 89).cast("double").as("decl"))
    def skyRight(d: DataFrame) = d.select(col("doc_id").as("id"),
      ((col("doc_id") * 7 + 3) % 360).cast("double").as("ra"),
      (((col("doc_id") * 11 + 5) % 179) - 89).cast("double").as("decl"))
    val scaledNside = {
      // hold occupancy flat: nside ∝ √factor, rounded up to a power of 2
      val target = 8.0 * math.sqrt(factor.toDouble)
      var ns = 8; while (ns < target) ns *= 2; ns
    }
    time("crossmatch_sky_fixed_nside", base, scaled)(d =>
      CrossMatch.nearestWithin(skyLeft(d), skyRight(d), "id", "id",
        ("ra", "decl"), radiusDeg = 2.0, nside = 8).count())
    time("crossmatch_sky_scaled_nside", base, scaled)(d => {
      val ns = if (d eq base) 8 else scaledNside
      CrossMatch.nearestWithin(skyLeft(d), skyRight(d), "id", "id",
        ("ra", "decl"), radiusDeg = 2.0, nside = ns).count()
    })
    // 3-D match: cell width is pinned to the (semantic) radius, so
    // per-cell occupancy — and the true match count — grows with
    // density; the exponent reads the inherent output growth, not a
    // mis-tuning.
    def xyz(d: DataFrame, mul: Int, add: Int) = d.select(col("doc_id").as("id"),
      ((col("doc_id") * mul + add) % 97).cast("double").as("x"),
      ((col("doc_id") * mul + add) % 89).cast("double").as("y"),
      ((col("doc_id") * mul + add) % 83).cast("double").as("z"))
    time("crossmatch_3d", base, scaled)(d =>
      CrossMatch.nearest3dWithin(xyz(d, 1, 0), xyz(d, 7, 3), "id", "id",
        ("x", "y", "z"), radius = 5.0).count())

    // structure-collection side (q12/q55/q56 shapes — reference
    // structure.py:860-927, evaluate.py:52-150): parent orders + child
    // lineitem, keys shifted per copy so every copy keeps the same
    // 1→many fan-out; growth multiplies STRUCTURES, not per-structure
    // size — exactly how a bigger simulation grows.
    def time2(name: String, small: (DataFrame, DataFrame),
              bigD: (DataFrame, DataFrame))
             (f: (DataFrame, DataFrame) => Long): Unit = if (probeSelected(name)) try {
      def once(d: (DataFrame, DataFrame)): Double = {
        val t0 = System.nanoTime(); val rows = f(d._1, d._2)
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.err.println(s"  [$name] rows=$rows ${"%.2f".format(dt)}s"); dt
      }
      once(small); val t1 = once(small)
      once(bigD); val tN = once(bigD)
      val exponent = math.log(tN / t1) / math.log(factor.toDouble)
      println(f"$name%-26s 1x=${t1}%.2fs ${factor}x=${tN}%.2fs scaling-exponent=${exponent}%.2f")
    } catch { case e: Throwable =>
      println(f"$name%-26s FAILED: ${e.getMessage}")
    }
    val obase = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    val lbase = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    // derived from the DATA, not a constant: a fixed 1e8 shift would
    // silently alias keys across copies once max(o_orderkey) exceeds
    // it (TPC-H SF ≳ 17), merging children across synthetic structures
    val keyShift = obase.agg(max(col("o_orderkey"))).head().getLong(0) + 1L
    val obig = (0 until factor).map(c => obase.withColumn("o_orderkey",
      col("o_orderkey") + lit(c.toLong * keyShift))).reduce(_ unionByName _)
    val lbig = (0 until factor).map(c => lbase.withColumn("l_orderkey",
      col("l_orderkey") + lit(c.toLong * keyShift))).reduce(_ unionByName _)
    obig.write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    lbig.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    val oscaled = spark.read.parquet(s"$outDir/orders.parquet")
    val lscaled = spark.read.parquet(s"$outDir/lineitem.parquet")
    println(s"structures: ${obase.count()} -> ${oscaled.count()} parents, " +
      s"${lbase.count()} -> ${lscaled.count()} children")

    import graft.collections.StructureCollection
    import graft.core.OCDataset
    def coll(o: DataFrame, l: DataFrame) = StructureCollection(
      OCDataset(o), Map("items" ->
        l.withColumnRenamed("l_orderkey", "o_orderkey")), "o_orderkey")
    // q12: child pre-agg (map-side partial) + key join with the parent
    time2("struct_link_join_agg", (obase, lbase), (oscaled, lscaled)) { (o, l) =>
      o.join(l.groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty")),
        col("o_orderkey") === col("l_orderkey")).count()
    }
    // q55: semi-join filter of parents by a child predicate
    time2("struct_semijoin", (obase, lbase), (oscaled, lscaled)) { (o, l) =>
      coll(o, l).filterByChild("items", col("l_quantity") >= 49.5)
        .properties.df.count()
    }
    // q56: per-structure evaluate (cogroup-style custom function)
    time2("struct_evaluate", (obase, lbase), (oscaled, lscaled)) { (o, l) =>
      coll(o, l).evaluate("items",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("max_price",
            org.apache.spark.sql.types.DoubleType))),
        (parent, kids) => org.apache.spark.sql.Row(
          parent.getAs[Long]("o_orderkey"),
          if (kids.isEmpty) 0.0
          else kids.map(_.getAs[Double]("l_extendedprice")).max)).count()
    }
    spark.stop()
  }

  /** `ScaleProbe twolevel`: cost-per-row of auto-k semantic dedup
    * THROUGH and BEYOND the flat quantizer's 16384-cell ceiling
    * (~1.05M vectors at 64 rows/cell). All sizes run the two-level
    * path so the series isolates its scaling: pair expansion is held
    * at ~occupancy/2 evals/row by auto-k, and assignment grows only
    * as √k per row (the flat path's per-row assignment cost grows as
    * k itself — linear in n under auto-k, i.e. quadratic total — and
    * its centroid literal cannot exist past the cap at all).
    */
  /** BPE at realistic vocabulary scale (the testdata corpus has only
    * 31 distinct words — the cap never binds there, so this probe
    * synthesizes a Zipf(1) corpus with a ~100k-word vocabulary):
    * where does the driver-bounded merge fold stop being free, and
    * what does the one-pass encode kernel cost per merge-table size?
    * Token ranks are log-uniform (count(rank) ∝ 1/rank), words are
    * base-26 renderings of the rank — shared prefixes give the merge
    * rounds realistic pair structure. The escalation path if the fold
    * ever mattered: the pair-count aggregation is one more
    * (pair → sum cnt) shuffle per round over the vocab TABLE (not the
    * corpus), i.e. distributed learn-BPE; at the measured costs the
    * incremental driver fold makes that unnecessary up to ≥32k merges
    * × 100k vocab.
    */
  private def bpeProbe(spark: SparkSession, outDir: String): Unit = {
    import graft.operators.Bpe
    val nDocs = 200000L
    val toksPerDoc = 100
    val vMax = 100000
    val path = s"$outDir/bpe_corpus.parquet"
    spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(toksPerDoc - 1)), i => {
          val u = pmod(xxhash64(col("id") * toksPerDoc + i), lit(1000000L))
            .cast("double") / 1000000.0
          val rank = floor(pow(lit(vMax.toDouble), u)).cast("long")
          concat(lit("w"), lower(conv(rank.cast("string"), 10, 26)))
        })).as("text"))
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val nTok = df.select(sum(size(split(col("text"), " ")))).head.getLong(0)
    println(s"bpe probe corpus: ${df.count()} docs, $nTok tokens")

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label%-46s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
      r
    }
    // corpus phase: the one word-count shuffle, per cap
    Seq(10000, 100000).foreach { cap =>
      val n = t(s"wordCounts collect (maxVocab=$cap)") {
        Bpe.wordCounts(df, "text", cap).collect().length
      }
      println(s"  -> $n vocab rows")
    }
    // driver fold: merges learned per (cap, rounds)
    var merges8k: Seq[Bpe.Merge] = Nil
    Seq((10000, 1000), (100000, 1000), (100000, 8000), (100000, 32000))
      .foreach { case (cap, rounds) =>
        val ms = t(s"trainMerges (maxVocab=$cap, numMerges=$rounds)") {
          Bpe.trainMerges(df, "text", rounds, cap)
        }
        println(s"  -> ${ms.length} merges learned")
        if (cap == 100000 && rounds == 8000) merges8k = ms
      }
    // encode: HOF chain vs one-pass kernel, growing merge table. The
    // HOF chain has a hard ANALYZER ceiling (each merge nests another
    // aggregate HOF; the Resolution fixed point caps at 100
    // iterations — 64 merges already exceed it), so its failures are
    // themselves the measurement.
    def consume(enc: org.apache.spark.sql.DataFrame): Long =
      enc.select(sum(col("n_symbols"))).head.getLong(0)
    Seq(32, 64).foreach { n =>
      try t(s"encode HOF chain ($n merges)") {
        consume(Bpe.encode(df, "doc_id", "text", merges8k.take(n)))
      } catch {
        case e: Throwable =>
          println(s"encode HOF chain ($n merges)  FAILED: ${String.valueOf(e.getMessage).take(100)}")
      }
    }
    Seq(32, 64, 1000, 8000, 32000).foreach { n =>
      val ms = if (n <= merges8k.length) merges8k.take(n)
               else Bpe.trainMerges(df, "text", n, 100000)
      t(s"encodeFast one-pass ($n merges)") {
        consume(Bpe.encodeFast(df, "doc_id", "text", ms))
      }
    }
    spark.stop()
  }

  /** Compressed-ANN pipeline vs the raw float two-level probe at the
    * same corpus sizes as the twolevel probe: the point is the INDEX
    * BYTES SCANNED per probe (int8 projections ≈ outDim+8 bytes/vec
    * vs dim·4 float) and that the extra decode/rerank work does not
    * erase the win. Disk-persisted indexes, cold-probe timings.
    */
  private def cannProbe(spark: SparkSession, outDir: String): Unit = {
    import graft.operators.{CompressedAnn, TwoLevel}
    val dim = 64
    val sizes = Seq(500000L, 2000000L)
    println(s"compressed-ANN vs raw two-level IVF, dim=$dim, outDim=16, 100 queries")
    sizes.foreach { n =>
      val path = s"$outDir/cann_vec_$n.parquet"
      spark.range(n).select(col("id"),
          transform(sequence(lit(0), lit(dim - 1)), p =>
            (pmod(xxhash64(col("id") * dim + p), lit(1000L)).cast("double") / 1000.0)
              .cast("float")).as("vec"))
        .write.mode("overwrite").parquet(path)
      val df = spark.read.parquet(path)
      val queries = df.filter(col("id") < 100)
      val nlist = math.max(64, (n / 4096).toInt)
      def timed[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"  n=$n%8d $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
        r
      }
      val cIdx = timed("cann build (fit+assign+int8+write)") {
        val b = CompressedAnn.build(df, "id", "vec", nlist, outDim = 16, dim = dim)
        CompressedAnn.write(b, s"$outDir/cann_idx_$n")
        b.unpersist()
        CompressedAnn.open(spark, s"$outDir/cann_idx_$n")
      }
      timed("cann probe top-5 (cold, int8 cells)") {
        CompressedAnn.probe(cIdx, df, queries, "id", "vec", 5).count()
      }
      timed("cann probe top-5 (warm)") {
        CompressedAnn.probe(cIdx, df, queries, "id", "vec", 5).count()
      }
      val tIdx = timed("raw two-level build (float cells)") {
        TwoLevel.buildIvfIndexLarge(df, "id", "vec", nlist)
      }
      timed("raw two-level probe top-5") {
        TwoLevel.ivfProbeTwoLevel(tIdx, queries, "id", "vec", 5).count()
      }
      tIdx.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** Streaming state-path probe: drains the three stateful streaming
    * operators (two-sided interval join, mapGroupsWithState totals,
    * watermarked dedup) over 1×/3×/10× the sf events table and
    * reports drain seconds, total state rows, and the empirical
    * exponent — the evidence behind SCALE.md's streaming rows. Copies
    * rotate event ids, user ids, AND timestamps (+c hours) so state
    * cardinality genuinely grows with the factor instead of
    * collapsing onto the same keys. Drains run at 8 shuffle
    * partitions (state stores per operator = partitions; the gates'
    * sizing rule) through a noop sink so sink materialization never
    * pollutes the state-path timing.
    */
  private def streamingProbe(spark: SparkSession, outDir: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val nBase = base.count()
    println(s"streaming state probe over $nBase base events ($sfDir)")
    def scaledEvents(factor: Int): DataFrame =
      (0 until factor).map { c =>
        base.select(
          (col("event_id") + lit(c.toLong * 100000000L)).as("event_id"),
          (col("ts") + expr(s"INTERVAL $c HOURS")).as("ts"),
          (col("user_id") + lit(c.toLong * 1000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)

    def rm(p: java.nio.file.Path): Unit = graft.io.FsUtil.deleteRecursively(p)

    // returns (drainSec, stateRows); `mk` receives the scaled batch
    // frame plus a stager that turns any derived batch frame into its
    // own file-source stream (two-sided joins stage each side
    // separately, exactly as the q49 gate does)
    def drain(name: String, factor: Int)
             (mk: (DataFrame, DataFrame => DataFrame) => DataFrame): (Double, Long) = {
      val df = scaledEvents(factor)
      val staged = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      val ckpt = java.nio.file.Files.createTempDirectory(s"probe-$name-ck-")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      def streamOf(b: DataFrame): DataFrame = {
        val d = java.nio.file.Files.createTempDirectory(s"probe-$name-in-")
        staged += d
        b.coalesce(8).write.mode("append").parquet(d.toString)
        spark.readStream.schema(b.schema).parquet(d.toString)
      }
      try {
        val out = mk(df, streamOf)
        spark.conf.set("spark.sql.shuffle.partitions", 8)
        val t0 = System.nanoTime()
        val q = out.writeStream.format("noop")
          .option("checkpointLocation", ckpt.toString)
          .outputMode(if (name == "stateful_totals") "update" else "append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val dt = (System.nanoTime() - t0) / 1e9
        val stateRows = Option(q.lastProgress)
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
        (dt, stateRows)
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        staged.foreach(rm); rm(ckpt)
      }
    }

    def probe(name: String)
             (mk: (DataFrame, DataFrame => DataFrame) => DataFrame): Unit = {
      drain(name, 1)(mk) // warm: classload + codegen outside timings
      val cells = Seq(1, 3, 10).map { f =>
        val (dt, st) = drain(name, f)(mk)
        println(f"  [$name] factor=$f%2d drain=$dt%6.2fs stateRows=$st%9d")
        (f, dt)
      }
      val (f1, t1) = cells.head; val (fN, tN) = cells.last
      val exp = math.log(tN / t1) / math.log(fN.toDouble / f1)
      println(f"  [$name] exponent=$exp%.2f (1.0 = linear; <1 = " +
        "fixed per-batch machinery still amortizing)")
    }

    probe("interval_join") { (batch, streamOf) =>
      val windows = batch.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
        .distinct()
      graft.streaming.EventOps.streamIntervalJoin(
        streamOf(batch), streamOf(windows), "3650 days", "2 hours")
    }
    probe("stateful_totals") { (batch, streamOf) =>
      graft.streaming.EventOps.statefulUserTotals(streamOf(batch)).toDF()
    }
    probe("stream_dedup") { (batch, streamOf) =>
      graft.streaming.EventOps.streamDedup(streamOf(batch), "3650 days")
        .select(col("event_id"), col("user_id"), col("event_type"))
    }
    spark.stop()
  }

  /** Sharded-SemDeDup arrival-batch probe (the q101Sp gate runs the
    * minimal 2-shard split; this drives ≥3 batches): one fixed
    * synthetic corpus processed at 1/2/4/8 shards. What must hold for
    * the shard-then-merge recipe to be the 100 TB path: per-shard fit
    * cost drops ~linearly with shard count (that is the point — the
    * corpus never needs to fit at once), the union-survivors +
    * dominance merge stays a SMALL constant tail (survivors only,
    * not corpus), and the survivor count stays stable across shard
    * counts (the clique-exactness contract, here on a corpus whose
    * near-dup structure is grid cliques).
    */
  private def shardedProbe(spark: SparkSession, outDir: String): Unit = {
    import graft.operators.Similarity
    val dim = 16
    // 400k keeps the whole 4-cell sweep under ~10 min on local[32];
    // the contract being probed (per-shard fit shrinks, merge tail
    // stays survivor-sized, survivor set stable) is scale-free
    val n = 400000L
    val path = s"$outDir/sharded_vec_$n.parquet"
    spark.range(n).select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)), p =>
          (pmod(xxhash64(col("id") * dim + p), lit(1000L)).cast("double") / 1000.0)
            .cast("float")).as("vec"))
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    // k = 0: each shard fit auto-sizes its cluster count to ITS corpus
    // (n/shards rows) — the recipe's intended usage; a fixed global k
    // overclusters every shard and inflates the per-shard fits
    println(s"sharded SemDeDup, n=$n dim=$dim auto-k")
    Seq(1, 2, 4, 8).foreach { shards =>
      val t0 = System.nanoTime()
      val survivors = Similarity.semanticDedupSharded(
        df, "id", "vec", threshold = 0.95, shards = shards,
        k = 0, iters = 2).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"shards=$shards%2d survivors=$survivors%8d t=$dt%7.2fs " +
        f"per-shard-fit-rows=${n / shards}%8d")
    }
    spark.stop()
  }

  /** `ScaleProbe lmvocab`: the LM-scoring family against a
    * synthetically exploded vocabulary (~1.3×10⁷ unigram types —
    * far past the 2M `LmBroadcastMaxTypes` cap), the regime where the
    * family's old FORCED vocab broadcasts (and, in the cross-corpus
    * variants, a driver-side vocab collect) would OOM. Run this probe
    * with a deliberately small heap and thread count
    * (-Xmx4g SPARK_GRAFT_CPUS=8): the old path's ~13M-tuple driver
    * collect plus its broadcast build needs several GB on top of the
    * executor working set, so mere completion under 4g is the
    * no-driver-spike evidence (local mode shares one heap — the
    * thread cap keeps executor sort buffers from masking the test). For each operator it prints wall time
    * plus the number of BroadcastHashJoins in the executed plan —
    * the exploded-vocab runs must show the uni join demoted to a
    * shuffle join (0 broadcasts in the LM plans), while the
    * small-vocab control keeps its broadcast hint.
    */
  private def lmVocabProbe(spark: SparkSession, outDir: String): Unit = {
    import graft.operators.CorpusStats
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val control = spark.read.parquet(s"$sfDir/documents.parquet")
    // ~500k docs × 40 tokens drawn from a 2×10⁷ hash space →
    // ~1.26×10⁷ distinct types (2e7·(1−e⁻¹)); bigrams are near-unique
    val nDocs = 500000L
    val toksPerDoc = 40
    val path = s"$outDir/lmvocab_corpus.parquet"
    spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(toksPerDoc - 1)), i =>
          concat(lit("w"), pmod(xxhash64(col("id") * toksPerDoc + i),
            lit(20000000L))))).as("text"))
      .write.mode("overwrite").parquet(path)
    val big = spark.read.parquet(path)
    println(s"lmvocab probe: ${big.count()} docs x $toksPerDoc tokens, " +
      "hash space 2e7 (expect ~1.26e7 types)")

    def run(name: String, df: => DataFrame): Unit = try {
      val t0 = System.nanoTime()
      val out = df
      val n = out.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val nBhj = "BroadcastHashJoin".r
        .findAllIn(out.queryExecution.executedPlan.toString).length
      spark.catalog.clearCache()
      println(f"$name%-34s rows=$n%8d t=$dt%7.2fs broadcast_joins=$nBhj")
    } catch { case e: Throwable =>
      println(f"$name%-34s FAILED: ${String.valueOf(e.getMessage).take(120)}")
    }

    run("bigram_lm SMALL-VOCAB control",
      CorpusStats.bigramLmScore(control, "doc_id", "text"))
    run("bigram_lm exploded-vocab",
      CorpusStats.bigramLmScore(big, "doc_id", "text"))
    run("kn_bigram_lm exploded-vocab",
      CorpusStats.bigramKnScore(big, "doc_id", "text"))
    // cross-corpus variants: ref = a 1/4 slice (still ≫ cap in types)
    val ref = big.filter(col("doc_id") % 4 === 0)
    run("lm_score_ref exploded-vocab",
      CorpusStats.bigramLmScoreAgainst(ref, big, "doc_id", "text"))
    run("stupid_backoff_ref exploded-vocab",
      CorpusStats.stupidBackoffScoreAgainst(ref, big, "doc_id", "text"))
    run("kn_score_ref exploded-vocab",
      CorpusStats.bigramKnScoreAgainst(ref, big, "doc_id", "text"))
    spark.stop()
  }

  /** bucketByRank's degenerate-corpus bound: 10⁷ rows where ONE score
    * value carries ~99.9% of them. Above the hot cap the within-score
    * rank must run through per-(score, hash-slice) windows (~10⁴ rows
    * per task) instead of a single 10⁷-row window task; the probe
    * times both regimes on identical data and checks the bucket
    * histogram stays exactly equal-count either way.
    */
  private def rankHotProbe(spark: SparkSession, outDir: String): Unit = {
    import graft.operators.CorpusStats
    val n = 10000000L
    val nBuckets = 10
    val path = s"$outDir/rankhot.parquet"
    spark.range(n).select(col("id"),
        // 99.9% of rows share one value; the rest sprinkle distinct
        // scores so BOTH branches (cold + hot) are exercised. The
        // +0.5 offset keeps every sprinkled score strictly between
        // grid points, so none can collide with the hot 0.5 (id =
        // n/2 used to merge into the hot value and shave the cold
        // branch's coverage by one)
        when(col("id") % 1000 === 0,
          (col("id").cast("double") + lit(0.5)) / lit(n.toDouble))
          .otherwise(lit(0.5)).as("score"))
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    println(s"rankhot probe: ${df.count()} rows, one score value on ~99.9%")
    def run(name: String, cap: Long): Unit = {
      spark.conf.set("spark.graft.rank.hotScoreRows", cap.toString)
      // the straggler is the MEASUREMENT, not the wall clock: local
      // mode's shared heap and idle cores mask a single giant window
      // task, so report the max shuffle rows any one task consumed —
      // the number that decides whether a 1000-executor stage finishes
      // with its slowest task or with its average one
      val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
      val maxShufRows = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          maxTaskMs.getAndUpdate(m => math.max(m, te.taskInfo.duration))
          val tm = te.taskMetrics
          if (tm != null)
            maxShufRows.getAndUpdate(m =>
              math.max(m, tm.shuffleReadMetrics.recordsRead))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val t0 = System.nanoTime()
        val hist = CorpusStats.bucketByRank(df, "id", "score", nBuckets)
          .groupBy(col("bucket")).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val dt = (System.nanoTime() - t0) / 1e9
        val equal = hist.size == nBuckets && hist.values.forall(_ == n / nBuckets)
        // listener events deliver asynchronously — and the straggler
        // task, the very thing measured, finishes LAST, so its
        // onTaskEnd is the likeliest event still on the bus when the
        // job returns. Give the bus time to drain before reading.
        Thread.sleep(2000)
        // the materialization contract: ONE DISK_ONLY copy (the scored
        // input snapshot; +1 tiny offsets snapshot in the hot regime),
        // nothing in executor memory. The round-14 shape eagerly held
        // TWO lineage-truncated MEMORY_AND_DISK copies (input+output).
        val storage = spark.sparkContext.getRDDStorageInfo
        println(f"$name%-30s t=$dt%7.2fs buckets=${hist.size}%2d " +
          f"exact_equal=$equal max_task=${maxTaskMs.get / 1000.0}%6.2fs " +
          f"max_shuffle_rows_per_task=${maxShufRows.get}%,d " +
          f"cached_copies=${storage.length} " +
          f"cached_disk_mb=${storage.map(_.diskSize).sum / 1e6}%.1f " +
          f"cached_mem_mb=${storage.map(_.memSize).sum / 1e6}%.1f")
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        spark.conf.unset("spark.graft.rank.hotScoreRows")
        // bucketByRank disk-snapshots its scored input; the blocks are
        // ContextCleaner-tracked and drop when the result frame is
        // GC'd — force the cleaner so run 2 doesn't pay run 1's disk
        // pressure
        spark.catalog.clearCache()
        System.gc(); Thread.sleep(500)
      }
    }
    run("sub-sliced (default cap 2^20)", CorpusStats.HotScoreRows)
    run("single-window (cap 2^24)", 1L << 24)
    spark.stop()
  }

  /** Write+read scaling of the round-16 Arrow shapes — nested arrays
    * (`array<array<int>>`, the packed-batch handoff) and string-keyed
    * maps (event-properties) — at 4M and 12M rows. Both shapes move
    * through the complex-writer path (UnionListWriter/UnionMapWriter,
    * per-value calls rather than vector setSafe), so the probe pins
    * that per-row cost stays FLAT as the corpus grows (the work is
    * map-side, no shuffle or state), and the full-decode checksums
    * pin the round-trip exact at both sizes.
    */
  private def arrowNestProbe(spark: SparkSession, outDir: String): Unit = {
    import graft.io.ArrowExport
    def frame(n: Long) = spark.range(n).select(col("id"),
        transform(sequence(lit(0), pmod(col("id"), lit(3L)).cast("int")), d =>
          transform(sequence(lit(0), d + lit(2)), t =>
            pmod(col("id") + t * 7 + d, lit(1000L)).cast("int"))).as("packed"),
        map(lit("lang"), concat(lit("l"), pmod(col("id"), lit(20L))),
            lit("src"), concat(lit("s"), pmod(col("id"), lit(100L))))
          .as("props"))
      .repartition(32)
    // full-decode checksum: every nested element and both map values
    // cross into Spark; bit_xor is order-independent
    def fingerprint(d: DataFrame): Seq[Any] =
      d.agg(count(lit(1)), bit_xor(xxhash64(col("id"))),
        bit_xor(xxhash64(concat_ws(",",
          transform(flatten(col("packed")), _.cast("string"))))),
        bit_xor(xxhash64(concat(col("props")("lang"), col("props")("src")))))
        .collect().head.toSeq
    // discarded warmup: JIT + codegen + shard-committer classloading
    // otherwise dominate the first timed point and fake a sublinear
    // ratio
    locally {
      val wdir = s"$outDir/arrownest_warmup"
      val wdf = frame(200000L)
      ArrowExport.writeArrowIpc(wdf, wdir)
      fingerprint(ArrowExport.readArrowIpcDF(spark, wdir, wdf.schema))
      graft.io.FsUtil.deleteRecursively(java.nio.file.Paths.get(wdir))
    }
    // best-of-3 per point: single shots at seconds-scale jitter more
    // than the marginal cost being measured
    val perRow: Seq[(Long, Double)] = Seq(4000000L, 12000000L).map { n =>
      val dir = s"$outDir/arrownest_$n"
      val df = frame(n)
      val want = fingerprint(df)
      val (tw, tr) = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        ArrowExport.writeArrowIpc(df, dir)
        val w = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val got = fingerprint(ArrowExport.readArrowIpcDF(spark, dir, df.schema))
        val r = (System.nanoTime() - t1) / 1e9
        require(got == want, s"arrownest round-trip mismatch at $n: $got vs $want")
        graft.io.FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
        (w, r)
      }.reduce((a, b) => (math.min(a._1, b._1), math.min(a._2, b._2)))
      println(f"arrownest n=$n%8d write t=$tw%6.2fs ${n / tw / 1e6}%5.2f Mrows/s" +
        f"  read t=$tr%6.2fs ${n / tr / 1e6}%5.2f Mrows/s (best of 3)")
      (n, tw + tr)
    }
    // the informative figure is the MARGINAL per-row cost between the
    // two points (fixed job costs — task setup, one allocator+stream
    // per shard — dominate totals at these sizes, which is itself the
    // scale story: the complex-writer path's per-row work is tiny)
    val ((n1, t1), (n2, t2)) = (perRow(0), perRow(1))
    val marginalNs = (t2 - t1) / (n2 - n1) * 1e9
    println(f"arrownest marginal cost ${marginalNs}%6.1f ns/row " +
      f"(write+read, ${n1 / 1000000}M -> ${n2 / 1000000}M rows)")
    spark.stop()
  }

  /** Arrow IPC import throughput at the 2M-row dataloader fixture
    * (id + 16-dim float embedding + token array — the export shapes a
    * training pipeline round-trips). Times the batch-wise import
    * (ColumnarBatch view + one codegen'd UnsafeProjection) against an
    * inline replica of the round-14 row-wise path (getObject per
    * value, type dispatch per value, Row.fromSeq per record, encoder
    * pass in createDataFrame) over the SAME shard files, with the
    * same full-decode aggregate forcing every column.
    */
  private def arrowIoProbe(spark: SparkSession, outDir: String): Unit = {
    import graft.io.ArrowExport
    import org.apache.spark.sql.types._
    val n = 2000000L
    val dim = 16
    val df = spark.range(n).select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)), p =>
          (pmod(xxhash64(col("id") * dim + p), lit(1000L)).cast("double") / 1000.0)
            .cast("float")).as("embedding"),
        transform(sequence(lit(0), pmod(col("id"), lit(4L)).cast("int")), t =>
          concat(lit("t"), pmod(col("id") + t, lit(1000L)))).as("toks"))
      .repartition(32)
    val dir = s"$outDir/arrowio_2m"
    val t0 = System.nanoTime()
    val files = ArrowExport.writeArrowIpc(df, dir)
    val tWrite = (System.nanoTime() - t0) / 1e9
    println(f"arrowio write: $n rows, ${files.length} shards, " +
      f"t=$tWrite%6.2fs ${n / tWrite / 1e6}%5.2f Mrows/s")
    val schema = df.schema
    // full-decode aggregate: every column's every value crosses into
    // Spark (checksums so nothing prunes or short-circuits); bit_xor
    // is order-independent and overflow-free, so both paths must
    // produce IDENTICAL values regardless of row order
    def force(d: DataFrame): Seq[Any] =
      d.agg(count(lit(1)), bit_xor(xxhash64(col("id"))),
        bit_xor(xxhash64(concat_ws(",", col("embedding")))),
        bit_xor(xxhash64(concat_ws(",", col("toks"))))).collect().head.toSeq
    def time(tag: String, mk: => DataFrame): Seq[Any] = {
      val s0 = System.nanoTime()
      val r = force(mk)
      val dt = (System.nanoTime() - s0) / 1e9
      println(f"arrowio read $tag%-10s t=$dt%6.2fs ${n / dt / 1e6}%5.2f Mrows/s")
      r
    }
    val a = time("batch-wise", ArrowExport.readArrowIpcDF(spark, dir, schema))
    // the round-14 shape, inlined as the comparison point: row-at-a-
    // time getObject with per-value dispatch + the encoder pass
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val bc = spark.sparkContext.broadcast(hconf)
    val paths = files
    def rowWise: DataFrame = {
      val rdd = spark.sparkContext.parallelize(paths, paths.length).flatMap { p =>
        import scala.jdk.CollectionConverters._
        val alloc = new org.apache.arrow.memory.RootAllocator()
        val hp = new org.apache.hadoop.fs.Path(p)
        val in = hp.getFileSystem(bc.value.value).open(hp)
        val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(in, alloc)
        val root = reader.getVectorSchemaRoot
        def conv(v: Any): Any = v match {
          case t: org.apache.arrow.vector.util.Text => t.toString
          case l: java.util.List[_] => l.asScala.map(conv).toSeq
          case x => x
        }
        val out = Seq.newBuilder[org.apache.spark.sql.Row]
        while (reader.loadNextBatch()) {
          val vecs = root.getFieldVectors.asScala.toSeq
          var i = 0
          while (i < root.getRowCount) {
            out += org.apache.spark.sql.Row.fromSeq(vecs.map(v => conv(v.getObject(i))))
            i += 1
          }
        }
        reader.close(); in.close(); alloc.close()
        out.result()
      }
      spark.createDataFrame(rdd, schema)
    }
    val b = time("row-wise", rowWise)
    require(a == b, s"decode mismatch: $a vs $b")
    println("arrowio checksums identical across paths")
    spark.stop()
  }

  /** PQ encode throughput at the 2M×64-dim build fixture: the
    * codegen'd `graft_pq_encode` expression vs an inline replica of
    * the round-14 UDF (boxed Seq[Float] + per-subspace copyOfRange).
    * Encode is the corpus-sized stage of every PQ/IVF-PQ build, so its
    * per-row cost is what a 100 TB pass pays.
    */
  private def pqEncodeProbe(spark: SparkSession, outDir: String): Unit = {
    import graft.operators.Pq
    val n = 2000000L
    val dim = 64
    val path = s"$outDir/pqenc_vec.parquet"
    spark.range(n).select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)), p =>
          (pmod(xxhash64(col("id") * dim + p), lit(1000L)).cast("double") / 1000.0)
            .cast("float")).as("embedding"))
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val cb = Pq.train(df, "id", "embedding", m = 8, ksub = 64)
    def checksum(enc: org.apache.spark.sql.DataFrame): Long =
      enc.agg(bit_xor(xxhash64(concat_ws(",", col("pq_code")))))
        .head().getLong(0)
    def time(tag: String)(mk: => org.apache.spark.sql.DataFrame): Long = {
      checksum(mk) // warm: JIT + page cache, so order doesn't bias
      val t0 = System.nanoTime()
      val cs = checksum(mk)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"pqencode $tag%-12s t=$dt%6.2fs ${n / dt / 1e6}%5.2f Mrows/s")
      cs
    }
    val a = time("expression")(Pq.encode(df, "embedding", cb))
    // the round-14 shape, inlined as the comparison point
    val b = time("udf-replica") {
      val bcast = spark.sparkContext.broadcast(cb)
      val enc = udf { (v: scala.collection.Seq[Float]) =>
        val c = bcast.value
        val arr = v.toArray
        Array.tabulate(c.m) { sub =>
          val p = java.util.Arrays.copyOfRange(arr, sub * c.dsub, (sub + 1) * c.dsub)
          var best = 0; var bd = Double.MaxValue
          var k = 0
          while (k < c.centers(sub).length) {
            var s = 0.0; var i = 0
            while (i < p.length) {
              val t = c.centers(sub)(k)(i) - p(i); s += t * t; i += 1
            }
            if (s < bd) { bd = s; best = k }
            k += 1
          }
          best
        }
      }
      df.withColumn("pq_code", enc(col("embedding")))
    }
    require(a == b, s"encode mismatch: $a vs $b")
    println("pqencode checksums identical across paths")
    spark.stop()
  }

  private def twoLevelProbe(spark: SparkSession, outDir: String): Unit = {
    import graft.operators.Similarity
    val dim = 16
    val sizes = Seq(500000L, 1000000L, 2000000L) // below / at / beyond
    println(s"two-level semantic dedup, dim=$dim (flat ceiling ~1.05M rows)")
    sizes.foreach { n =>
      val path = s"$outDir/tl_vec_$n.parquet"
      spark.range(n).select(col("id"),
          transform(sequence(lit(0), lit(dim - 1)), p =>
            (pmod(xxhash64(col("id") * dim + p), lit(1000L)).cast("double") / 1000.0)
              .cast("float")).as("vec"))
        .write.mode("overwrite").parquet(path)
      val df = spark.read.parquet(path)
      val k = (n / Similarity.SemanticTargetCluster).toInt
      val t0 = System.nanoTime()
      val survivors = Similarity.semanticDedupLarge(
        df, "id", "vec", threshold = 0.95, k = k, iters = 2).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"n=$n%8d k=$k%6d survivors=$survivors%8d " +
        f"t=$dt%7.2fs sec-per-Mrow=${dt * 1e6 / n}%6.2f")
    }
    // comparison point: the FLAT path at the smallest size (its
    // per-row assignment cost is k·dim flops — already ~60 GFLOP here
    // and quadratic-in-n under auto-k; at 1M it is 4× that, and past
    // the cap the centroid literal cannot exist at all)
    locally {
      val n = sizes.head
      val df = spark.read.parquet(s"$outDir/tl_vec_$n.parquet")
      val k = (n / Similarity.SemanticTargetCluster).toInt
      val t0 = System.nanoTime()
      val survivors = Similarity.semanticDedup(
        df, "id", "vec", threshold = 0.95, k = k, iters = 2).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"FLAT n=$n%8d k=$k%6d survivors=$survivors%8d " +
        f"t=$dt%7.2fs sec-per-Mrow=${dt * 1e6 / n}%6.2f")
    }
    spark.stop()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.DiskSnapshot

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the corpus, rank per query. Scan is O(|corpus|·|queries|)
  * but embarrassingly parallel: queries broadcast, corpus never
  * shuffled, and the per-query top-k runs through
  * `TakeOrderedAndProject`-style window pruning.
  *
  * Scale path: sign-LSH bucketing — corpus and queries keyed by a
  * deterministic random-hyperplane bucket; candidates are bucket-local
  * (single co-partitioned join), multi-probe over neighboring buckets
  * recovers recall.
  */
object Similarity {

  /** Tuned hyperplane count for a corpus of `n` vectors: 2^nPlanes
    * buckets targeting ~`targetBucket` vectors per bucket, so bucket
    * occupancy — and the bucket-local pair expansion — stays O(1) as
    * the corpus grows. This is the measured scale contract (SCALE.md
    * §Empirical): a FIXED plane count lets occupancy grow with n and
    * the LSH path trends quadratic by 30×, while log₂-scaled planes
    * hold cost-per-vector flat. Clamped to [1, 24] (2^24 buckets is
    * already beyond any single join's useful key cardinality).
    */
  def autoPlanes(n: Long, targetBucket: Long = 64L): Int = {
    val buckets = math.max(1L, n / math.max(1L, targetBucket))
    // ceil, not round: the target is an UPPER bound on expected
    // occupancy — rounding down lets occupancy (and with it the
    // bucket-local pair expansion) drift ~2x above target exactly
    // where the expansion dominates cost
    math.min(24, math.max(1,
      math.ceil(math.log(buckets.toDouble) / math.log(2.0)).toInt))
  }

  /** Above this plane count, [[lshTopK]] stops growing the Hamming-2
    * probe ring: (planes choose 2) probes per query is a quadratic
    * fan-out (12 → 66 extra probes, 24 → 276) that overtakes the
    * candidate scan it is meant to save. Instead of dropping the ring
    * outright (a recall CLIFF between 12 and 13 planes — probes would
    * fall 79 → 14), the ring is BUDGETED: the first
    * [[Hamming2Budget]] plane pairs (lexicographic order — sign-LSH
    * plane indices are statistically exchangeable, so any fixed
    * subset has the same expected recall) are always probed, keeping
    * per-query probe work flat past the knee while recall degrades
    * smoothly with dimension instead of stepping.
    */
  val MaxHamming2Planes: Int = 12

  /** Hamming-2 probe budget past [[MaxHamming2Planes]] planes: the
    * full ring size AT the knee, so probes(13) == probes(12) + 1.
    */
  val Hamming2Budget: Int = MaxHamming2Planes * (MaxHamming2Planes - 1) / 2

  /** Exact top-k cosine neighbors for each query row.
    * Output: (query_id, neighbor_id, rank, cosine).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.plans.GraftExtensions.registerAll(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    topKByCosine(c.crossJoin(broadcast(q)).filter(col("query_id") =!= col("neighbor_id")),
      col("qv"), col("cv"), k)
  }

  /** The exact-cosine re-rank tail of every ANN operator: `scored`
    * holds candidate (query_id, neighbor_id) pairs with the query and
    * neighbor vectors `qVec`, `nVec`; each query keeps its `k` best by
    * `graft_cosine`, ties to the lower neighbor_id. Output:
    * (query_id, neighbor_id, rank, cosine rounded to 6 places).
    */
  private[operators] def topKByCosine(scored: DataFrame, qVec: Column, nVec: Column,
                                      k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("cos", call_function("graft_cosine", qVec, nVec))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Each query's first `n` rows by `order`, numbered from 1 in
    * `rankCol`: the candidate-pool and probe cuts of the ANN operators
    * (`df.transform(topPerQuery(...))`). */
  private[operators] def topPerQuery(n: Int, rankCol: String, order: Column*)
                                    (df: DataFrame): DataFrame =
    df.withColumn(rankCol,
        row_number().over(Window.partitionBy(col("query_id")).orderBy(order: _*)))
      .filter(col(rankCol) <= n)

  /** The `nprobe` nearest of `n` cells as exploded struct(d, `field`)
    * rows: `dists` (one distance per cell) sorted with ties to the
    * lower cell — the probe ranking of every IVF-style operator.
    */
  private[operators] def nearestCells(dists: Column, n: Int, nprobe: Int,
                                      field: String = "cell"): Column =
    explode(slice(array_sort(
      // the index sequence must match the ACTUAL centroid count — a
      // corpus smaller than nlist yields fewer centroids, and zipping
      // against nlist pads null distances whose structs sort FIRST,
      // displacing every real probe (0 results, no error)
      zip_with(dists, sequence(lit(0), lit(n - 1)),
        (d, i) => struct(d.as("d"), i.as(field)))), 1, nprobe))

  /** LSH-bucketed ANN: candidates share a sign-LSH bucket (with
    * multi-probe: query also probes buckets at Hamming distance ≤ 2),
    * then exact cosine re-rank within candidates. One shuffle on the
    * bucket key; corpus bucketing is a map-side column.
    *
    * Sizing: 2^nPlanes buckets should be ≈ corpus/64 so each probe set
    * covers a meaningful candidate pool; `nPlanes = 0` (the default)
    * derives that from one cheap `corpus.count()` via [[autoPlanes]] —
    * the tuned regime ScaleProbe measured. NOTE: the default therefore
    * runs an EAGER count job over the full upstream plan at call time
    * (cache the corpus first, or pass an explicit `nPlanes`, to skip
    * it) — same contract as `cosineNearDupPairs`. For weakly-clustered
    * (random) embeddings prefer `ivfTopK`.
    *
    * Probe fan-out is capped independently of the bucket count: the
    * Hamming-2 ring grows quadratically in planes (24 planes → 276
    * extra probes per query), so above [[MaxHamming2Planes]] planes
    * the ring is truncated to its size at the knee
    * ([[Hamming2Budget]] probes) — per-query work past the knee grows
    * only linearly (Hamming-1), with no recall cliff at the boundary
    * (SimilaritySpec asserts recall just above it).
    *
    * `family = HashFamily.Md5` is the DuckDB-replayable gate (q30): it
    * needs a static plane count ≤ [[MaxHamming2Planes]], so the ring is
    * complete and the probe set is exactly "all buckets within Hamming
    * distance 2" — a SQL oracle states it as
    * `bit_count(xor(sig_q, sig_c)) <= 2` over replayed signatures.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int = 0, dim: Int = 64,
              family: HashFamily = HashFamily.Xx): DataFrame = {
    if (family == HashFamily.Md5) require(nPlanes > 0 && nPlanes <= MaxHamming2Planes,
      s"gate kernel needs 1..$MaxHamming2Planes static planes (full Hamming-2 ring)")
    graft.plans.GraftExtensions.registerAll(corpus.sparkSession)
    val planes = if (nPlanes > 0) nPlanes else autoPlanes(corpus.count())
    val cB = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      family.lshBucket(col(vecCol), planes, dim).as("bucket"))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      family.lshBucket(col(vecCol), planes, dim).as("b0"))
    // multi-probe: own bucket + all buckets at Hamming distance 1, and
    // a BUDGETED Hamming-2 ring — full below the knee, the first
    // Hamming2Budget pairs above it (graded, no recall cliff)
    val h1 = (0 until planes).map(p => col("b0").bitwiseXOR(lit(1L << p)))
    val h2 = (for (p <- 0 until planes; q <- (p + 1) until planes)
        yield (p, q))
      .take(Hamming2Budget)
      .map { case (p, q) => col("b0").bitwiseXOR(lit((1L << p) | (1L << q))) }
    val probes = qBase.select(col("query_id"), col("qv"),
      explode(array(col("b0") +: (h1 ++ h2): _*)).as("bucket"))
    val cands = probes.join(cB, "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .distinct()
    topKByCosine(cands, col("qv"), col("cv"), k)
  }

  /** A built IVF-Flat index: the corpus with its cell assignment
    * (a lazy [[DiskSnapshot]] — build once, probe many) plus the
    * coarse-quantizer centroids, which live on the DRIVER and enter
    * probe plans as an array literal. Centroid argmin is therefore a
    * pure MAP-SIDE expression — no crossJoin, no shuffle of the
    * corpus, ever. `unpersist` releases the snapshot now; a dropped
    * index is reaped by the ContextCleaner.
    */
  final case class IvfIndex(cells: DataFrame, centroids: Array[Array[Double]]) {
    def nlist: Int = centroids.length
    def unpersist(): Unit = DiskSnapshot.release(cells)
  }

  /** Build the IVF coarse quantizer (k-means, `iters` Lloyd steps) and
    * assign every corpus row to its cell. Each Lloyd step costs exactly
    * one hash-agg shuffle of (cell, pos, partial-sums); the result's
    * `cells` frame is disk-snapshotted so repeated probes never re-run
    * the build — the index is a separable, reusable artifact (write it
    * `partitionBy("cell")` via [[writeIvfIndex]] and probes prune
    * partitions at the source).
    *
    * `nlist` stays driver-sized (centroids are an O(nlist×dim) plan
    * literal): thousands of cells are fine, 65k×1024 is not — shard the
    * corpus first at that scale.
    */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 16, iters: Int = 2): IvfIndex = {
    graft.plans.GraftExtensions.registerAll(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // deterministic init: the nlist vectors with smallest xxhash64(id)
    val cents = Lloyd.flat(c, col("cv"), xxhash64(col("neighbor_id")), nlist, iters)
    val assigned = DiskSnapshot.diskCached(
      c.withColumn("cell", Lloyd.nearestCell(col("cv"), cents)))
    IvfIndex(assigned, cents)
  }

  /** Probe a built IVF index: each query ranks the `nprobe` nearest
    * cells (map-side, from the centroid literal), then exact cosine
    * re-ranks inside those cells only. The probe list is broadcast, so
    * the corpus-side scan is shuffle-free.
    */
  def ivfProbe(index: IvfIndex, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    graft.plans.GraftExtensions.registerAll(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = q.withColumn("__d", Lloyd.cellDists(col("qv"), index.centroids))
      .withColumn("probe", nearestCells(col("__d"), index.nlist, nprobe))
      .select(col("query_id"), col("qv"), col("probe.cell").as("cell"))
    topKByCosine(index.cells.join(broadcast(probes), "cell")
      .filter(col("query_id") =!= col("neighbor_id")), col("qv"), col("cv"), k)
  }

  /** Persist an IVF index: cells `partitionBy("cell")` (probe-time
    * partition pruning at the storage layer) + centroids sidecar.
    */
  def writeIvfIndex(index: IvfIndex, path: String): Unit = {
    // repartition on cell BEFORE partitionBy: without it every input
    // task opens a file in every cell directory — nlist x tasks tiny
    // files (CompressedAnn.write measured 189 s of that at 2M/488
    // cells); with it each cell's rows land in one task = one file
    index.cells.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell")
      .parquet(s"$path/cells.parquet")
    val json = index.centroids.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_centroids.json"), json)
  }

  def openIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(path, "_centroids.json")))
    val cents = (0 until node.size()).map { i =>
      val row = node.get(i)
      (0 until row.size()).map(j => row.get(j).asDouble()).toArray
    }.toArray
    IvfIndex(graft.io.OCIO.parquet(spark, Seq(s"$path/cells.parquet")), cents)
  }

  /** One-shot convenience: build + probe. Query-time use should build
    * once ([[buildIvfIndex]]) and probe many times. The probe result
    * is materialized to a disk snapshot before the index's corpus
    * snapshot is released.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
              iters: Int = 2): DataFrame = {
    val idx = buildIvfIndex(corpus, idCol, vecCol, nlist, iters)
    val out = DiskSnapshot.diskCachedEager(
      ivfProbe(idx, queries, idCol, vecCol, k, nprobe))
    idx.unpersist()
    out
  }

  /** Per-label centroids: explode to (label, pos, value), average per
    * dimension — a single hash-agg shuffle, linear in rows×dim.
    * Output: (label, pos, centroid_val).
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("centroid_val"))

  /** EXACT embedding-cosine near-duplicate pairs (all pairs ≥
    * threshold): id-ordered self-join with the native cosine kernel.
    * O(n²) — the verification/oracle baseline; use
    * [[cosineNearDupPairs]] (LSH-bucketed, linear shuffle) at scale.
    */
  def cosineNearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
                              threshold: Double): DataFrame = {
    graft.plans.GraftExtensions.registerAll(df.sparkSession)
    // spread the STREAMED side: the broadcast-NL self-join runs its
    // n²/2 cosine kernel over the streamed partitions, and a gate-
    // scale corpus arrives as ONE parquet split — without the spread
    // the whole quadratic pass runs on a single core (measured: q36's
    // 4M-pair loop on 1 of 32 cores). Tables.spreadDf repartitions
    // only when partitions < cores, so a real corpus (thousands of
    // splits) never takes the shuffle; the pair set is partitioning-
    // independent.
    val v = graft.Tables.spreadDf(df).select(col(idCol).as("doc"), col(vecCol).as("v"))
    val a = v.select(col("doc").as("doc_a"), col("v").as("va"))
    val b = v.select(col("doc").as("doc_b"), col("v").as("vb"))
    a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .withColumn("cos", call_function("graft_cosine", col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 6).as("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * LSH-bucketed (same single-shuffle shape as Dedup.minhashCandidates).
    * `nPlanes = 0` (default) tunes the bucket count to the corpus size
    * via [[autoPlanes]] — one cheap `count()` — so bucket-local pair
    * expansion stays linear as the corpus grows (the ScaleProbe-measured
    * contract; a fixed plane count trends quadratic by 30×). The
    * occupancy target is TIGHTER than the top-k path's: pair expansion
    * does ~occupancy/2 cosine evals per vector (no multi-probe recall
    * to buy back), so ~16/bucket ≈ 8 evals/vector matches the probe's
    * tuned regime — at 64/bucket the "linear" path loses to the exact
    * join until n is large.
    *
    * `family = HashFamily.Md5` is the DuckDB-replayable gate (q37): a SQL
    * oracle rebuilds every bucket bit from the md5 plane weights and
    * replays the bucket self-join and exact cosine filter, so its
    * `nPlanes` must be explicit (the oracle knows it statically).
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nPlanes: Int = 0, dim: Int = 64,
                         family: HashFamily = HashFamily.Xx): DataFrame = {
    if (family == HashFamily.Md5)
      require(nPlanes > 0, "gate kernel needs an explicit plane count")
    val planes = if (nPlanes > 0) nPlanes
      else autoPlanes(df.count(), targetBucket = 16L)
    // snapshot: the per-row plane fold feeds BOTH sides of the
    // bucket self-join — pay it once (the simhash/minhash pattern)
    val b = DiskSnapshot.diskCached(
      df.select(col(idCol).as("doc"), col(vecCol).as("v"),
        family.lshBucket(col(vecCol), planes, dim).as("bucket")))
    val a = b.as("a"); val c = b.as("b")
    // codegen'd kernel cosine (identical values to the HOF form —
    // both sum left to right; SimilaritySpec pins them equal): the
    // bucket expansion is the HOT pair loop, and the interpreted HOF
    // would make the scale path slower per pair than the exact
    // baseline it exists to beat
    graft.plans.GraftExtensions.registerAll(df.sparkSession)
    a.join(c, col("a.bucket") === col("b.bucket") && col("a.doc") < col("b.doc"))
      .withColumn("cos", org.apache.spark.sql.functions.call_function(
        "graft_cosine", col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        round(col("cos"), 6).as("cosine"))
  }

  /** [[semanticDedup]]'s auto-k occupancy target: ~64 rows per
    * cluster keeps the within-cluster pair expansion at ~32
    * comparisons per row regardless of corpus size.
    */
  val SemanticTargetCluster: Long = 64L

  /** FLAT-quantizer auto-k ceiling: the centroid matrix rides in the
    * plan as one Literal (k×dim×8 B — 8 MB at this cap for 64-dim
    * vectors), so a flat k must stay driver-sized. Past it,
    * [[semanticDedup]] routes to the TWO-LEVEL quantizer
    * ([[TwoLevel.fit]] — assign to a √k-sized super-cell literal, then
    * argmin within its children from a small join table), which keeps
    * auto-k occupancy flat to [[TwoLevel.MaxClusters]] cells with no
    * O(k·dim) literal or driver collect anywhere.
    */
  val MaxAutoClusters: Int = 16384

  /** SemDeDup-shaped SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540 — public paper): k-means partition the embedding
    * space, then inside each cluster drop every row that has a
    * LOWER-id row with cosine ≥ `threshold`; survivors are returned as
    * (id, cluster). Confining the all-pairs comparison to clusters is
    * the paper's scaling trick: pair expansion is Σᵢ cᵢ² ≈ n²/k, and
    * the self-join shuffles on the cluster key only. `k = 0` (the
    * default) derives the cluster count from the corpus size (one
    * cheap `count()`, targeting ~[[SemanticTargetCluster]] rows per
    * cluster) — the same tuning contract as [[autoPlanes]]: a FIXED k
    * lets cluster occupancy grow with n and the pair expansion trend
    * quadratic, while n-scaled k holds cost-per-row flat (measured in
    * ScaleProbe / SCALE.md). The keep-lowest-id rule makes the
    * survivor set deterministic with no connected-components pass: a
    * row survives iff no lower-id row in its cluster is near it.
    *
    * Eager contract like the gate kernels: the survivor frame is
    * checkpointed and the k-means model released before returning.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, k: Int = 0,
                    iters: Int = 3): DataFrame = {
    graft.plans.GraftExtensions.registerAll(df.sparkSession)
    // desired stays Long until compared (a wrapped count past ~137B
    // rows must not silently recreate the quadratic blowup auto-k
    // prevents); past the flat literal ceiling the TWO-LEVEL quantizer
    // takes over — auto-k keeps tracking n instead of clamping, so
    // occupancy stays flat through and beyond ~1M vectors per batch
    val desired: Long = if (k > 0) k.toLong
      else math.max(2L, df.count() / SemanticTargetCluster)
    if (desired > MaxAutoClusters)
      semanticDedupLarge(df, idCol, vecCol, threshold,
        math.min(desired, TwoLevel.MaxClusters).toInt, iters)
    else {
      val nClusters = desired.toInt
      // the index frame already snapshots (id, vector, cell): build it
      // directly rather than via KMeansModel and a corpus re-join to
      // recover the vectors — one full-corpus shuffle saved
      val idx = buildIvfIndex(df, idCol, vecCol, nClusters, iters)
      val asg = idx.cells.select(col("neighbor_id").as("__id"),
        col("cv").as("__vec"), col("cell").as("cluster"))
      // eager disk snapshot (NOT localCheckpoint): the #docs-sized
      // survivor frame must materialize before the bigger index snapshot
      // is released, but it keeps lineage (executor loss recomputes
      // instead of failing) and lives on disk, not heap
      val out = keptRows(asg, threshold, idCol)
      idx.unpersist()
      out
    }
  }

  /** [[semanticDedup]]'s scale path past the flat centroid-literal
    * ceiling: identical SemDeDup semantics (cluster-confined pair
    * expansion, keep-lowest-id dominance — the SAME
    * [[dominanceSurvivors]] helper), with cluster assignment from the
    * two-level quantizer instead of a flat argmin. Called
    * automatically by [[semanticDedup]] when (auto-)k exceeds
    * [[MaxAutoClusters]]; public so a caller holding a prebuilt
    * corpus-count can route explicitly.
    */
  def semanticDedupLarge(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, k: Int,
                         iters: Int = 2): DataFrame = {
    graft.plans.GraftExtensions.registerAll(df.sparkSession)
    val tl = TwoLevel.fit(df, idCol, vecCol, k, iters)
    val asg = tl.assign(
        df.select(col(idCol).as("__id"), col(vecCol).as("__vec")),
        "__vec", "cluster")
      .select(col("__id"), col("__vec"), col("cluster"))
    // same eager-snapshot lifecycle as the flat path above
    val out = keptRows(asg, threshold, idCol)
    tl.unpersist()
    out
  }

  /** Cross-batch SemDeDup (the executable form of the sharded-batch
    * recipe the auto-k docs reference): dedup each shard
    * INDEPENDENTLY — shards are arrival batches in production (daily
    * crawl deltas); here a deterministic id-hash split so the recipe
    * runs on one frame — then merge by unioning the per-shard
    * survivors and running ONE more dominance pass over that union
    * (a superset of the boundary pairs, and much smaller than the
    * corpus: survivors only). Each phase is an ordinary
    * [[semanticDedup]] call, so every phase inherits the flat/two-
    * level routing and the flat-occupancy auto-k contract; peak
    * per-fit corpus is |corpus|/shards, which is the point — batches
    * too big to fit at once never need to.
    *
    * Exactness contract (spec-pinned): on near-dup groups that are
    * CLIQUES (exact or near-exact duplicates — the SemDeDup target),
    * shard-then-merge keeps exactly the whole-corpus survivor set:
    * each shard keeps its clique minimum, the merge pass co-clusters
    * the identical survivors and keeps the global minimum. For
    * borderline pairs straddling the threshold, cluster boundaries
    * may differ from a whole-corpus run — the same approximation the
    * paper's clustering already accepts.
    */
  def semanticDedupSharded(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, shards: Int,
                           k: Int = 0, iters: Int = 3): DataFrame = {
    require(shards > 0, "shards must be positive")
    val withShard = df.withColumn("__shard",
      pmod(xxhash64(col(idCol)), lit(shards.toLong)))
    // The per-shard dedups are INDEPENDENT (that is the recipe's whole
    // premise), yet ran strictly sequentially: each shard's k-means is
    // a chain of small driver-blocking jobs, so the cluster idled
    // through every fit's tail. Submit shards from a bounded thread
    // pool instead (optimization guide §2.6 "overlap independent
    // jobs": a few in flight is enough to back-fill stragglers without
    // fighting for executors) — per-shard results are unchanged (each
    // Future builds its own lineage; the union is set-semantics), the
    // MERGE pass still runs after all shards. Spark schedules
    // concurrent driver-thread jobs FIFO, which is exactly the
    // back-fill behavior wanted here.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(shards, 4))
    // every shard's jobs carry one cancellable job group (r19 ADVICE):
    // if any shard fails, the in-flight sibling shards' k-means jobs
    // are cancelled instead of running on abandoned — pool.shutdown()
    // alone never reached jobs already submitted to the scheduler
    val sc = df.sparkSession.sparkContext
    val groupId = s"graft-sharded-dedup-${java.util.UUID.randomUUID()}"
    val unionSurvivors = try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = (0 until shards).map { s =>
        scala.concurrent.Future {
          // thread-local: label + group every job this shard submits
          sc.setJobGroup(groupId, s"semanticDedupSharded shard $s",
            interruptOnCancel = true)
          try semanticDedup(withShard.filter(col("__shard") === s).drop("__shard"),
            idCol, vecCol, threshold, k, iters).select(col(idCol))
          finally sc.clearJobGroup()
        }
      }
      try scala.concurrent.Await
        .result(scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
        .reduce(_ unionByName _)
      catch { case e: Throwable =>
        try sc.cancelJobGroup(groupId) catch { case _: Throwable => () }
        throw e
      }
    } finally pool.shutdown()
    val merged = df.join(unionSurvivors, Seq(idCol), "left_semi")
    semanticDedup(merged, idCol, vecCol, threshold, k, iters)
  }

  /** The SemDeDup dominance filter over an assigned frame (`__id`,
    * `__vec`, `cluster`): drop every row with a lower-id same-cluster
    * neighbor at cosine ≥ threshold. ONE helper shared by the
    * production kernel and [[Clustering.semanticDedupMd5]] so the
    * rule can never drift between the twins (the q91/q33 oracle-
    * sharing rationale applied to the Spark side).
    */
  private[graft] def dominanceSurvivors(asg: DataFrame,
                                            threshold: Double): DataFrame = {
    val a = asg.as("a"); val b = asg.as("b")
    val dropped = a
      .join(b, col("a.cluster") === col("b.cluster") && col("a.__id") > col("b.__id"))
      .filter(call_function("graft_cosine",
        col("a.__vec"), col("b.__vec")) >= threshold)
      .select(col("a.__id").as("__drop")).distinct()
    asg.join(dropped, col("__id") === col("__drop"), "left_anti")
  }

  /** Every SemDeDup operator's result: the [[dominanceSurvivors]] of
    * `asg` as (`idCol`, cluster), materialized as an eager disk
    * snapshot so the caller can release its clustering caches. */
  private[operators] def keptRows(asg: DataFrame, threshold: Double,
                                  idCol: String): DataFrame =
    DiskSnapshot.diskCachedEager(
      dominanceSurvivors(asg, threshold).select(col("__id").as(idCol), col("cluster")))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DiskSnapshot
import graft.plans.GraftExtensions

/** First-class distributed k-means (the corpus-organization step of a
  * training pipeline: topic bucketing, mixture analysis, ANN coarse
  * quantizers). The Lloyd machinery is the IVF index build
  * ([[Similarity.buildIvfIndex]] — deterministic hash-seeded init, one
  * hash-agg shuffle per iteration, centroids as driver-side plan
  * literals); this surface re-exposes it with clustering semantics:
  * named assignments, per-row squared distance, and the WCSS
  * convergence metric.
  */
object Clustering {

  /** Fitted model: k centroids, per-row (id, cluster, dist2), and the
    * within-cluster sum of squares (the Lloyd objective). The
    * assignments are backed by the index's disk snapshot:
    * [[KMeansModel.unpersist]] frees its blocks now, and a model
    * dropped without it is reaped by the ContextCleaner.
    */
  final case class KMeansModel(centroids: Array[Array[Double]],
                               assignments: DataFrame,
                               wcss: Double,
                               private val index: Similarity.IvfIndex) {
    def k: Int = centroids.length
    def unpersist(): Unit = index.unpersist()
  }

  /** Fit k-means with `iters` Lloyd steps. Deterministic for a given
    * (data, k, iters) — initialization is the k rows with smallest
    * xxhash64(id), no RNG. Each step is one shuffle of (cell, pos,
    * partial sums); assignment and distance are map-side expressions
    * against the centroid literals.
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String,
             k: Int = 8, iters: Int = 4): KMeansModel = {
    val idx = Similarity.buildIvfIndex(df, idCol, vecCol, nlist = k, iters = iters)
    val withD = idx.cells.withColumn("__d2",
      element_at(Lloyd.cellDists(col("cv"), idx.centroids), col("cell") + 1))
    val wcssRow = withD.agg(sum(col("__d2"))).head()
    // sum() over zero rows is SQL NULL — name the real problem
    // instead of an opaque NPE from getDouble
    require(!wcssRow.isNullAt(0), "kmeans: empty input frame")
    val wcss = wcssRow.getDouble(0)
    val assignments = withD.select(
      col("neighbor_id").as(idCol),
      col("cell").as("cluster"),
      round(col("__d2"), 6).as("dist2"))
    KMeansModel(idx.centroids, assignments, wcss, idx)
  }

  /** DuckDB-replayable gate twin of [[kmeans]]: identical Lloyd
    * machinery (centroid literals, map-side argmin, one shuffle per
    * step, empty cells keep their centroid, ties break to the lowest
    * cell) made bit-replayable by construction:
    *  - inputs QUANTIZE to integers (round(x·scale)) — float-exact in
    *    doubles, so every per-(cell, pos) sum is exact under ANY
    *    aggregation order, which makes the centroid averages s/n — and
    *    with them every later distance — identical between engines
    *    regardless of shuffle/group order;
    *  - init is the k rows with smallest md5(id) (SQL-sortable), not
    *    xxhash64;
    *  - distances accumulate sequentially over positions on both
    *    sides (Spark fold / SQL list fold), so even their non-exact
    *    double sums agree bit-for-bit.
    * Distances (and the returned dist2) live in the quantized space —
    * the cluster STRUCTURE is the contract, verified in CorpusSpec
    * against the production kernel's blob recovery. Production
    * callers keep [[kmeans]].
    */
  def kmeansMd5(df: DataFrame, idCol: String, vecCol: String,
                k: Int = 8, iters: Int = 3, scale: Int = 1024): DataFrame = {
    val (q, cents) = lloydMd5(df, idCol, vecCol, k, iters, scale)
    val out = DiskSnapshot.diskCachedEager(q
      .withColumn("cluster", Lloyd.nearestCell(col("__qv"), cents))
      .withColumn("__d2",
        element_at(Lloyd.cellDists(col("__qv"), cents), col("cluster") + 1))
      .select(col("__id").as(idCol), col("cluster"),
        round(col("__d2"), 6).as("dist2")))
    DiskSnapshot.release(q)
    out
  }

  /** DuckDB-replayable gate twin of [[Similarity.semanticDedup]]:
    * cluster assignment comes from the quantized md5-init Lloyd loop
    * ([[lloydMd5]] — every centroid bit-replayable), while the
    * within-cluster dominance filter keeps the exact float cosine over
    * the ORIGINAL embeddings (q29/q33's already-hash-matched formula:
    * sequential folds agree bit-for-bit between engines). Same
    * cluster-confined pair expansion and keep-lowest-id rule as
    * production; SimilaritySpec asserts both paths prune the same
    * planted near-duplicates.
    */
  def semanticDedupMd5(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, k: Int = 8, iters: Int = 3,
                       scale: Int = 1024): DataFrame = {
    val (q, cents) = lloydMd5(df, idCol, vecCol, k, iters, scale)
    val asg = q.select(col("__id"), col("__vec"),
      Lloyd.nearestCell(col("__qv"), cents).as("cluster"))
    // shared dominance rule (fused graft_cosine — IEEE-identical to
    // the HOF folds the SQL oracle replays)
    val out = Similarity.keptRows(asg, threshold, idCol)
    DiskSnapshot.release(q)
    out
  }

  /** DuckDB-replayable gate twin of [[Similarity.ivfTopK]]: the
    * coarse quantizer is the quantized md5-init Lloyd loop
    * ([[lloydMd5]] — every centroid bit-replayable), cell assignment
    * and the nprobe-nearest-cell probe run in the quantized space
    * (argmin/sort ties break to the lowest cell on both engines),
    * and the final re-rank is exact cosine over the ORIGINAL float
    * embeddings — q29's already-hash-matched formula. Production
    * callers keep the float/xxhash64 [[Similarity.buildIvfIndex]] +
    * [[Similarity.ivfProbe]] path with its persisted-index artifact.
    */
  def ivfTopKMd5(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, nlist: Int = 16, iters: Int = 2,
                 nprobe: Int = 4, scale: Int = 1024): DataFrame = {
    val (q, cents) = lloydMd5(corpus, idCol, vecCol, nlist, iters, scale)
    val cells = q.select(col("__id").as("neighbor_id"), col("__vec").as("cv"),
      Lloyd.nearestCell(col("__qv"), cents).as("cell"))
    val qq = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Lloyd.quantize(col(vecCol), scale).as("__qqv"))
    val probes = qq.withColumn("__d", Lloyd.cellDists(col("__qqv"), cents))
      .withColumn("probe", Similarity.nearestCells(col("__d"), cents.length, nprobe))
      .select(col("query_id"), col("qv"), col("probe.cell").as("cell"))
    val out = DiskSnapshot.diskCachedEager(Similarity.topKByCosine(
      cells.join(broadcast(probes), "cell").filter(col("query_id") =!= col("neighbor_id")),
      col("qv"), col("cv"), k))
    DiskSnapshot.release(q)
    out
  }

  /** DuckDB-replayable gate twin of [[Similarity.semanticDedupLarge]]
    * — the TWO-LEVEL quantizer's oracled driver gate. Mirrors
    * [[TwoLevel.fit]]'s structure exactly (kSuper ≈ √k super
    * centroids from a flat Lloyd, per-super child init, `iters`
    * distributed (super, child, pos) partial-sum Lloyd steps with
    * empty children keeping their centroid, assignment =
    * super·kChild + child) with the same replayability substitutions
    * as every other gate twin: quantized integer inputs, md5(id)
    * ordering for both the super init and the per-super child init,
    * HOF-fold argmin with ties to the lowest cell. The dominance
    * filter is the exact float cosine over the ORIGINAL embeddings
    * (q29/q33's hash-matched formula). Production callers keep
    * [[Similarity.semanticDedupLarge]]; TwoLevelSpec asserts both
    * keep the same survivors on planted near-dup cliques.
    */
  def semanticDedupLargeMd5(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, k: Int, superIters: Int = 2,
                            iters: Int = 2, scale: Int = 1024): DataFrame = {
    val kSuper = math.ceil(math.sqrt(k.toDouble)).toInt
    val kChild = math.ceil(k.toDouble / kSuper).toInt
    val (q, superCents) = lloydMd5(df, idCol, vecCol, kSuper, superIters, scale)
    // super assignment is computed ONCE and reused by child init,
    // every Lloyd step, and the final assignment — so every super
    // present anywhere below has at least one row, hence at least one
    // child (the same single-assignment-frame property TwoLevel.fit
    // gets from reusing sup.cells). LAZY snapshot: the first consumer
    // (the child seeds' full window pass) writes the blocks inside its
    // own job — one fewer materialization barrier (r19 ask #3 shape).
    val withSuper = DiskSnapshot.diskCached(q
      .withColumn("__super", Lloyd.nearestCell(col("__qv"), superCents)))
    val children = childLloydMd5(withSuper, superCents.length, kChild, iters)
    // the assignment is consumed THREE times by the dominance filter
    // (both sides of the cluster self-join plus the survivor
    // anti-join), and each consumption re-runs the interpreted
    // kChild-argmin fold over the whole corpus — snapshot it once so
    // the argmin is paid once. (Round 16's release-correctness fixes
    // removed leaked blocks that used to hide exactly this recompute,
    // which is why the gate slowed.)
    val asg = DiskSnapshot.diskCachedEager(withSuper
      .withColumn("__child", childOf(children))
      .select(col("__id"), col("__vec"),
        (col("__super") * kChild + col("__child")).as("cluster")))
    val out = Similarity.keptRows(asg, threshold, idCol)
    // `out` is materialized and the gate chain (asg → withSuper → q,
    // one lineage) is corpus-sized: free ALL of it NOW rather than
    // waiting for a GC + ContextCleaner cycle. `out` keeps lineage, so
    // an executor loss recomputes through the released chain; both
    // consumers of withSuper (the child Lloyd and asg) are already
    // materialized. The child centroids are plan literals.
    DiskSnapshot.release(asg)
    out
  }

  /** The per-super child Lloyd shared by [[semanticDedupLargeMd5]]
    * and [[compressedAnnTopKMd5]]: children seed from each super's
    * kChild md5-smallest rows, then `iters` [[Lloyd]] steps over the
    * global cells super·kChild + child, empty children keeping their
    * centroid. The centroids are DRIVER-SIDE (k-sized — same posture
    * as the super loop): one collect job per step,
    * and downstream assignment consumes them as plan LITERALS. All
    * sums are over exact small integers in doubles, so the grouping
    * cannot change a bit. Returns `mats(super)(child) = centroid`
    * (ragged — a super with fewer than kChild rows seeds fewer
    * children).
    */
  private[operators] def childLloydMd5(withSuper: DataFrame, kSuper: Int,
                                       kChild: Int,
                                       iters: Int): Array[Array[Array[Double]]] = {
    // the GATE twins keep child centroids as plan literals (one
    // driver-sized matrix, zero join jobs) — a deliberate gate-scale
    // trade. Past the flat-literal cluster ceiling that is exactly
    // the blowup the PRODUCTION two-level path (TwoLevel.fit's
    // join-table children) exists to avoid: refuse loudly instead of
    // silently building a multi-hundred-MB literal.
    require(kSuper.toLong * kChild <= Similarity.MaxAutoClusters,
      s"md5 gate twin: $kSuper x $kChild child cells exceed the " +
        s"flat-literal ceiling (${Similarity.MaxAutoClusters}); use the " +
        "production two-level path (Similarity.semanticDedupLarge / " +
        "CompressedAnn) for cluster counts at this scale")
    val seeds = Lloyd.seedPerGroup(withSuper, col("__super"), kSuper, col("__qv"),
      md5Key, kChild)
    // the cell ceiling alone does not bound DRIVER cost — literal
    // nodes and collected sums both scale with cells x dim, so a
    // 64-dim code at the 16384-cell ceiling is ~1M doubles of plan
    // literal per child assignment. Fold dim into the budget and
    // refuse past it, same posture as the cell ceiling above.
    val dim = seeds.flatten.headOption.fold(0)(_.length)
    require(kSuper.toLong * kChild * dim <= MaxChildLiteralDoubles,
      s"md5 gate twin: $kSuper x $kChild cells at dim $dim exceed the " +
        s"child-centroid literal budget ($MaxChildLiteralDoubles " +
        "doubles); use the production two-level path " +
        "(Similarity.semanticDedupLarge / CompressedAnn) at this scale")
    // Lloyd cell ids are super·kChild + child; a super with fewer than
    // kChild rows leaves its missing children's ids null
    def perSuper(cents: Array[Array[Double]]): Array[Array[Array[Double]]] =
      cents.grouped(kChild).map(_.takeWhile(_ != null)).toArray
    val init = seeds.flatMap(s => s.padTo(kChild, null))
    perSuper(Lloyd.run(withSuper, col("__qv"), init, iters)(cents =>
      Seq(col("__super") * kChild + childOf(perSuper(cents)))))
  }

  /** Driver budget for the md5 gate twins' child-centroid literals:
    * cells x dim doubles per [[childOf]] plan and per-iteration
    * collect. ~16 MB of literal at the cap. */
  private[graft] val MaxChildLiteralDoubles: Long = 1L << 21

  /** A row's child cell: argmin (fused `graft_nearest_cell`, ties to
    * the lowest child) against its super's matrix, picked per row out
    * of ONE nested plan literal of all per-super matrices (indexed by
    * `__super`; a row-less super keeps a never-consulted dummy so the
    * literal stays rectangular at the top level). No join: the
    * matrices ride in the plan, one Literal node instead of
    * kSuper×kChild×dim of them.
    */
  private def childOf(mats: Array[Array[Array[Double]]]): Column = {
    val lit3 = typedlit[Seq[Seq[Seq[Double]]]](mats.map { m =>
      if (m.isEmpty) Seq(Seq(0.0)) else m.map(_.toSeq).toSeq
    }.toSeq)
    GraftExtensions.call("graft_nearest_cell", col("__qv"), element_at(lit3, col("__super") + 1))
  }

  /** DuckDB-replayable gate twin of the composed [[CompressedAnn]]
    * recipe (q119): md5-int JL projection (q114's exact-integer
    * family, dim → outDim longs) → symmetric int8 of the projected
    * components (q107's codec — the projection is integral, so scale
    * and codes are exact rational doubles) → two-level md5-Lloyd over
    * the CODE space (outDim-dim ints in [-127,127]: every distance
    * and dot product is a small exact integer in doubles) →
    * super/child probe → approximate cosine over the codes → exact
    * rerank over the ORIGINAL floats (q29's hash-matched formula).
    * Every stage mirrors an already-oracled gate kernel and the q119
    * oracle unrolls the whole chain in SQL. Production keeps
    * [[CompressedAnn]] (priced rows-only as q119p); SimilaritySpec
    * pins BOTH kernels' recall against brute force on the fixture.
    */
  def compressedAnnTopKMd5(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      outDim: Int = 16, dim: Int = 64, kSuper: Int = 4, kChild: Int = 4,
      superIters: Int = 2, iters: Int = 2, nprobeSuper: Int = 3,
      nprobeCells: Int = 8, topCandidates: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions
    require(topCandidates >= k, s"topCandidates=$topCandidates < k=$k")
    def codes(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      // fused codegen projection — bit-equal
      // to randomProjectMd5Q, one JVM loop per row instead of
      // outDim·dim interpreted lambda dispatches
      val pj = VectorFunctions.randomProjectMd5QKernel(vec, outDim, dim)
      val scale = VectorFunctions.int8Scale(pj)
      transform(VectorFunctions.int8Quantize(pj, scale), c => c.cast("double"))
    }
    // The code chain is expensive PER ROW (2×16 interpreted aggregate
    // folds over 64-literal hyperplanes), and a gate-scale corpus
    // arrives as ONE parquet split — without a spread the whole
    // projection runs on one core (measured 8-10 s of the gate's cost
    // at sf0.1). Tables.spreadDf repartitions ONLY when the scan has
    // fewer partitions than the cluster (at real scale partitions ≫
    // cores, so the corpus never takes this shuffle). Safe under any
    // partitioning: every aggregation downstream sums exact-integer
    // doubles, so order cannot perturb a bit. DiskSnapshot then keeps
    // the literal-heavy chain out of the ~10 Catalyst plans below
    // (its frame is a LogicalRDD leaf) while the RDD lineage stays
    // recomputable after an executor loss.
    // LAZY snapshots (r19 verdict ask #3 "fuse super init into the
    // q-snapshot job"): a diskCached frame writes its blocks inside
    // the FIRST consumer's job, and both first consumers here read
    // every partition (the super-Lloyd init is a global sort-limit;
    // the child seeds are a full window pass) — so the two dedicated
    // foreachPartition materialization jobs disappear from the chain
    // while every later consumer still reads the persisted blocks.
    val spread = graft.Tables.spreadDf(corpus)
    val q = DiskSnapshot.diskCached(spread
      .select(col(idCol).as("__id"), col(vecCol).as("__vec"),
        codes(col(vecCol)).as("__qv")))
    val superCents = Lloyd.flat(q, col("__qv"), md5Key, kSuper, superIters)
    val withSuper = DiskSnapshot.diskCached(q
      .withColumn("__super", Lloyd.nearestCell(col("__qv"), superCents)))
    val children = childLloydMd5(withSuper, superCents.length, kChild, iters)
    val cells = withSuper.withColumn("__child", childOf(children))
      .select(col("__id").as("neighbor_id"), col("__vec").as("nvec"),
        col("__qv").as("nqv"), col("__super").as("super"),
        col("__child").as("child"))
    // the k-sized (super, child, ctr) table as a LocalRelation for the
    // probe join below (no job to build, broadcast by construction)
    val childrenDf = {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
      val rows = for {
        (m, s) <- children.zipWithIndex.toSeq
        (ctr, c) <- m.zipWithIndex
      } yield org.apache.spark.sql.Row(s, c, ctr.toSeq)
      corpus.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
        StructField("super", IntegerType, nullable = false),
        StructField("child", IntegerType, nullable = false),
        StructField("ctr", ArrayType(DoubleType, containsNull = false),
          nullable = false))))
    }
    // queries run the same projection+code chain (a query drawn from
    // the corpus reproduces its corpus codes bit-for-bit)
    val qq = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      codes(col(vecCol)).as("qqv"))
    // super probe: nprobeSuper nearest super centroids (ties → lowest)
    val sp = qq.withColumn("__d", Lloyd.cellDists(col("qqv"), superCents))
      .withColumn("probe",
        Similarity.nearestCells(col("__d"), superCents.length, nprobeSuper, "super"))
      .select(col("query_id"), col("qvec"), col("qqv"),
        col("probe.super").as("super"))
    // child probe: nprobeCells nearest (super, child) cells among the
    // selected supers — global rank per query, ties → lowest
    // (super, child)
    val dChild = aggregate(zip_with(col("qqv"), col("ctr"), (x, y) => {
      val d = x - y
      d * d
    }), lit(0.0), (acc, x) => acc + x)
    val cp = sp.join(broadcast(childrenDf), Seq("super"))
      .withColumn("__dc", dChild)
      .transform(Similarity.topPerQuery(nprobeCells, "__rc",
        col("__dc"), col("super"), col("child")))
      .select(col("query_id"), col("qvec"), col("qqv"),
        col("super"), col("child"))
    // candidates in the probed cells, approximate cosine over the
    // codes (exact-integer dot/norms; zero-norm codes pin to −2 so
    // they rank last deterministically). graft_dot_q is the fused
    // form of the zip_with+aggregate fold (same left-to-right sum —
    // exact integers here regardless); the fold ran in the per-pair
    // candidate scorer, the gate's hottest remaining expression.
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      GraftExtensions.call("graft_dot_q", a, b)
    // norms price ONCE per query / per corpus row — computing them in
    // the candidate-pair loop re-ran the interpreted fold per PAIR
    val cpN = cp.withColumn("__qn", dot(col("qqv"), col("qqv")))
    val cellsN = cells.withColumn("__nn", dot(col("nqv"), col("nqv")))
    val cands = cellsN.join(broadcast(cpN), Seq("super", "child"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__ac",
        when(col("__qn") === 0.0 || col("__nn") === 0.0, lit(-2.0))
          .otherwise(dot(col("qqv"), col("nqv"))
            / (sqrt(col("__qn")) * sqrt(col("__nn")))))
      .transform(Similarity.topPerQuery(topCandidates, "__ra",
        col("__ac").desc, col("neighbor_id")))
    // exact rerank on the original floats
    val out = DiskSnapshot.diskCachedEager(
      Similarity.topKByCosine(cands, col("qvec"), col("nvec"), k))
    // q/withSuper are DiskSnapshots — reaped with this frame; the
    // child centroids are plan literals
    out
  }

  /** Shared quantized md5-init Lloyd loop behind [[kmeansMd5]] and
    * [[ivfTopKMd5]]: returns the disk-snapshotted quantized frame
    * (`__id`, `__vec` original, `__qv` = round(x·scale) — caller
    * releases) and the final centroids. Every cross-engine
    * replayability property lives here; see [[kmeansMd5]].
    */
  private[operators] def lloydMd5(df: DataFrame, idCol: String, vecCol: String,
                                  k: Int, iters: Int,
                                  scale: Int): (DataFrame, Array[Array[Double]]) = {
    val q = DiskSnapshot.diskCached(df.select(col(idCol).as("__id"),
      col(vecCol).as("__vec"), Lloyd.quantize(col(vecCol), scale).as("__qv")))
    (q, Lloyd.flat(q, col("__qv"), md5Key, k, iters))
  }

  /** The gate twins' Lloyd seed order: md5 of the id's string form,
    * which SQL can sort by too. */
  private def md5Key = md5(col("__id").cast("string"))

  /** DuckDB-replayable gate twin of [[Pq.topK]] (PQ-compressed ANN):
    * per-subspace codebooks come from the quantized md5-init Lloyd
    * loop (one [[Lloyd]] run with one segment per subspace slice of
    * one persisted quantized corpus — every codeword bit-replayable),
    * encode is the per-subspace argmin in quantized space (ties to
    * the lowest code), ADC sums the query-slice→codeword distances in
    * subspace order (left-assoc on both engines), and the top-`rerank`
    * ADC pool re-ranks by exact cosine over the ORIGINAL floats —
    * q29's hash-matched formula. The gate trains on the full corpus so
    * SQL can replay every row; production [[Pq.train]] keeps its
    * bounded xxhash64 sample + broadcast-codebook encode, and the
    * 100 TB posture (corpus never shuffles, codes stay 32× small) is
    * unchanged.
    */
  def pqTopKMd5(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
                iters: Int = 2, rerank: Int = 50, scale: Int = 1024): DataFrame = {
    val q0 = DiskSnapshot.diskCached(corpus.select(col(idCol).as("__id"),
      col(vecCol).as("__vec"), Lloyd.quantize(col(vecCol), scale).as("__qv")))
    val cents = pqCodebooks(q0, m, ksub, iters)
    val enc = q0.select(col("__id").as("neighbor_id"),
      array(perSubspace(col("__qv"), cents)(Lloyd.nearestCell): _*).as("__codes"))
    // ADC table computed once per QUERY (m x ksub subspace distances)
    // before the broadcast — the per-pair work is then m lookups + a
    // left-assoc sum, exactly the values the oracle derives per pair
    // via its per-subspace codebook joins
    val qq = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        Lloyd.quantize(col(vecCol), scale).as("__qqv"))
      .withColumn("__tab", array(perSubspace(col("__qqv"), cents)(Lloyd.cellDists): _*))
      .select(col("query_id"), col("qv"), col("__tab"))
    val adc = (0 until m).map { sub =>
      element_at(element_at(col("__tab"), sub + 1),
        element_at(col("__codes"), sub + 1) + 1)
    }.reduce(_ + _)
    val cand = enc.crossJoin(broadcast(qq))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc)
      .transform(Similarity.topPerQuery(rerank, "__prank", col("adc").asc, col("neighbor_id")))
    val raw = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val out = DiskSnapshot.diskCachedEager(Similarity.topKByCosine(
        cand.select(col("query_id"), col("neighbor_id"), col("qv")).join(raw, "neighbor_id"),
        col("qv"), col("cv"), k)
      .select(col("query_id"), col("neighbor_id"), col("rank")))
    DiskSnapshot.release(q0)
    out
  }

  /** The PQ gate's codebooks over `q` (`__id`, quantized `__qv`):
    * `books(sub)(code)` is a width-dim/m codeword. The m per-subspace
    * Lloyd loops are ONE [[Lloyd]] run with m segments and one job per
    * step:
    *  - the init rows (k smallest md5(id)) are the same rows for every
    *    subspace, so one sorted collect seeds all m codebooks;
    *  - subspace sub's code c is Lloyd cell sub·n + c, so all m
    *    codebooks update from one (cell, pos) groupBy per iteration.
    * Per-(cell,pos) sums and averages are identical to the
    * independent-loop form — the SQL oracle replays each subspace's
    * chain separately and still hash-matches.
    */
  private[operators] def pqCodebooks(q: DataFrame, m: Int, ksub: Int,
                                     iters: Int): Array[Array[Array[Double]]] = {
    val initRows = Lloyd.seed(q, col("__qv"), md5Key, ksub)
    require(initRows.nonEmpty, "empty corpus")
    val dim = initRows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val n = initRows.length
    val init = for (sub <- 0 until m; v <- initRows)
      yield java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub)
    Lloyd.run(q, col("__qv"), init.toArray, iters)(cs =>
      perSubspace(col("__qv"), cs.grouped(n).toArray)(Lloyd.nearestCell).zipWithIndex.map {
        case (code, sub) => code + sub * n })
      .grouped(n).toArray
  }

  /** `f` of each subspace slice of `v` against that subspace's codebook
    * (`Lloyd.nearestCell` gives the codes, `Lloyd.cellDists` the ADC table). */
  private def perSubspace(v: Column, books: Array[Array[Array[Double]]])
                         (f: (Column, Array[Array[Double]]) => Column): Seq[Column] = {
    val dsub = books.head.head.length
    books.indices.map(sub => f(slice(v, sub * dsub + 1, dsub), books(sub)))
  }
}
